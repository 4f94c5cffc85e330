package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** The one session builder of every main (Bench, BenchScale, Verify,
  * Show, Explain, HarnessSweep, BrokerMain), with one
  * environment contract:
  *
  *  - `SPARK_GRAFT_CPUS`: cores of `local[n]` and the shuffle partition
  *    count (default: the machine's available processors);
  *  - `SPARK_GRAFT_MASTER`: another master, e.g.
  *    `local-cluster[2,8,4096]`, which runs across real executor JVM
  *    boundaries and so catches serialization bugs `local[n]` cannot;
  *  - `SPARK_GRAFT_JARS`: `spark.jars`, the packaged library jar such a
  *    master needs on its executor classpath.
  *
  * The heap (`SPARK_DRIVER_MEM`) is a JVM option, set by
  * build.sbt and `tools/run-main.sh`. Sessions run in UTC with the UI
  * off and read parquet TIMESTAMP(NANOS) as epoch-nanos longs (some
  * test-data generations store `events.ts` that way;
  * `graft.sources.Tables.load` converts it back). */
object LocalSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session, with `extra` confs set last (callers pass them only
    * for a measured reason). */
  def apply(extra: (String, String)*): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    sys.env.get("SPARK_GRAFT_JARS").foreach(builder.config("spark.jars", _))
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The timing action of every main: xor-fold a row hash over all
    * output columns, so every column is computed (`count()` would let
    * Catalyst prune unused projections) and nothing overflows under
    * ANSI mode (xor, unlike sum). 0 for an empty frame. */
  def checksum(df: DataFrame): Long = {
    val r = df.agg(bit_xor(xxhash64(struct(df.columns.map(col): _*)))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
