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

  /** Spark jobs `f` launches on this thread. */
  def jobsOf[T](f: => T): (T, Int) = {
    val (out, jobs, _) = jobsAndTasksOf(f)
    (out, jobs)
  }

  /** Spark jobs `f` launches on this thread, and their tasks. */
  def jobsAndTasksOf[T](f: => T): (T, Int, Int) = {
    val counted = JobCount(spark)(f)
    (counted.value, counted.own.size, counted.own.map(_.tasks).sum)
  }

  /** The parquet physical type of `column` in each parquet file directly
    * under `dir`. */
  def physicalTypes(dir: String, column: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), new org.apache.hadoop.conf.Configuration()))
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          schema.getType(schema.getFieldIndex(column)).asPrimitiveType.getPrimitiveTypeName.name
        } finally reader.close()
      }.toSet
  }

  /** Cancel the test unless `path` is a regular file — for tests that
    * replay the reference's corpus or read its `.schema`, which are
    * not shipped; they run wherever the file exists. */
  def assumeFile(path: String): Unit =
    assume(graft.pql.OnTimeCorpus.present(path), s"needs $path")
}
