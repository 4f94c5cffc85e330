package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** DataSchemaSegmentPruner semantics over schema-evolved segments:
  * segments written before a column existed are pruned from queries
  * touching that column — never null-padded — and the decision reads
  * footers only. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_evolution_spec/$name"

  // v1 segments: (id, v); v2 adds a column (id, v, tag)
  private lazy val segs: Seq[String] = {
    val s1 = tmp("seg_v1")
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
      .write.mode("overwrite").parquet(s1)
    val s2 = tmp("seg_v2")
    Seq((3L, 30.0, "a"), (4L, 40.0, "b")).toDF("id", "v", "tag")
      .write.mode("overwrite").parquet(s2)
    Seq(s1, s2)
  }

  test("segmentColumns reads the footer schema") {
    assert(Tables.segmentColumns(spark, segs.head) === Set("id", "v"))
    assert(Tables.segmentColumns(spark, segs(1)) === Set("id", "v", "tag"))
    assert(Tables.segmentColumns(spark, tmp("missing")) === Set.empty)
  }

  test("segments named by file: URIs are listed and pruned like paths") {
    val uris = segs.map(d => new java.io.File(d).toURI.toString)
    assert(uris.forall(_.startsWith("file:")))
    assert(Tables.segmentColumns(spark, uris.head) === Set("id", "v"))
    assert(Tables.segmentColumns(spark, uris(1)) === Set("id", "v", "tag"))
    val (df, pruned) = Tables.loadEvolved(spark, uris, Seq("id", "tag"))
    assert(pruned === Seq(uris.head))
    assert(df.get.orderBy($"id").as[(Long, String)].collect().toSeq === Seq((3L, "a"), (4L, "b")))
  }

  test("query on common columns scans every segment") {
    val (df, pruned) = Tables.loadEvolved(spark, segs, Seq("id", "v"))
    assert(pruned === Nil)
    assert(df.get.orderBy($"id").as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("query on an evolved column prunes pre-evolution segments, no null padding") {
    val (df, pruned) = Tables.loadEvolved(spark, segs, Seq("id", "tag"))
    assert(pruned === Seq(segs.head))
    val rows = df.get.orderBy($"id").as[(Long, String)].collect().toSeq
    assert(rows === Seq((3L, "a"), (4L, "b")))
    assert(rows.forall(_._2 != null), "pruned segments must not null-pad")
  }

  test("no covering segment → no scan at all") {
    val (df, pruned) = Tables.loadEvolved(spark, segs, Seq("nope"))
    assert(df.isEmpty)
    assert(pruned === segs)
  }
}
