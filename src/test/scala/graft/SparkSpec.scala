package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy),
  * logging at WARN like every main's session ([[LocalSession]]): at
  * INFO the harness specs' thousands of micro-queries write tens of
  * megabytes of scheduler and cache lines. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sfDir = "/root/testdata/sf0.001"

  /** Cancel the test unless `path` is a regular file — for tests that
    * replay the reference's corpus or read its `.schema`, which are
    * not shipped; they run wherever the file exists. */
  def assumeFile(path: String): Unit =
    assume(graft.pql.OnTimeCorpus.present(path), s"needs $path")
}
