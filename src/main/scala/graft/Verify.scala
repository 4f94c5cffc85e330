package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_MASTER=local-cluster[2,8,4096] (with SPARK_GRAFT_JARS
    // naming the packaged jar) runs the whole dump across REAL executor
    // JVM boundaries — the deployment proof that dict decode arrays,
    // star-tree routing, sorted footer sweeps, and broadcast paths
    // serialize correctly off-driver (see LocalSession)
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // normalized (no trailing slash) — keeps "${outAbs}_aux" a SIBLING
    // of outDir even if the caller passed "out/"
    val outAbs = new java.io.File(outDir).getAbsolutePath
    // The golden-corpus oracle runs the reference's own hsqls in
    // DuckDB over the exact synthesized table the PQL side queried —
    // dump it where the {OUT} placeholder will point. It lives in a
    // SIBLING directory (outDir + "_aux"): the driver treats every
    // entry under outDir as a query result, so a side dump inside
    // would surface as a bogus no-oracle row.
    try graft.pql.CorpusHarness.fixture(spark).flat
      .coalesce(1).write.mode("overwrite").parquet(s"${outAbs}_aux/corpus_flat_parquet")
    catch { case e: Throwable =>
      System.err.println(s"[verify] corpus flat dump failed: ${e.getMessage}")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {OUT} in an oracle statement → this run's absolute output dir
    // (lets corpus oracles read the parquet dumped above from DuckDB)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{OUT}", outAbs))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
