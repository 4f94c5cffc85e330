package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.pql.{BrokerServer, Pql}
import graft.sources.{SortedLayout, Tables}
import graft.streaming.RealtimeIngest

/** `Tables.load`'s snapshot-keyed relation cache: a load of unchanged
  * files reuses the resolved relation (no Spark job), and every change
  * of the file set, the sink log, the inference confs or the session
  * shows in the next load. A changed file set reuses what is known per
  * file: the schema while the inference file stands, footer counts
  * and sorted-layout stats of files already seen. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def relationOf(df: org.apache.spark.sql.DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(fail("not a file-source scan"))

  private def brokerCount(port: Int, table: String): String = {
    val conn = new URI(s"http://127.0.0.1:$port/query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/json")
    val os = conn.getOutputStream
    try os.write(s"""{"pql": "SELECT COUNT(*) FROM $table"}""".getBytes(StandardCharsets.UTF_8))
    finally os.close()
    val in = conn.getInputStream
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  private val CountValue = """"value": "(\d+)"""".r

  private def countOf(body: String): Long =
    CountValue.findFirstMatchIn(body).map(_.group(1).toLong)
      .getOrElse(fail(s"no COUNT(*) value in ${body.take(300)}"))

  test("a second load of an unchanged table launches no Spark job") {
    val dir = tempDir("graft_tables_hit")
    spark.range(0, 1000).toDF("id").repartition(3)
      .write.parquet(s"$dir/t.parquet")
    val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(firstJobs > 0, "a cold load infers the schema in a job")
    val (second, secondJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(secondJobs == 0)
    assert(second.count() == 1000L && first.count() == 1000L)
    // each load carries fresh attribute ids, so two loads still join
    val joined = first.as("a").join(second.as("b"), $"a.id" === $"b.id")
    assert(joined.count() == 1000L)
  }

  test("appended part files and in-place overwrites show in the next broker answer") {
    val dir = tempDir("graft_tables_fresh")
    val path = s"$dir/grow.parquet"
    spark.range(0, 100).toDF("id").coalesce(1).write.parquet(path)
    val broker = new BrokerServer(spark, dir)
    val port = broker.start()
    try {
      assert(countOf(brokerCount(port, "grow")) == 100L)
      assert(countOf(brokerCount(port, "grow")) == 100L)
      spark.range(100, 130).toDF("id").coalesce(1).write.mode("append").parquet(path)
      assert(countOf(brokerCount(port, "grow")) == 130L)
      spark.range(0, 7).toDF("id").coalesce(1).write.mode("overwrite").parquet(path)
      assert(countOf(brokerCount(port, "grow")) == 7L)
      assert(Tables.load(spark, dir, "grow").as[Long].collect().sorted.toSeq == (0L until 7L))
    } finally broker.stop()
  }

  test("a file added inside an existing nested partition shows in the next load") {
    val dir = tempDir("graft_tables_part")
    val path = s"$dir/parts.parquet"
    spark.range(0, 60).toDF("id").selectExpr("id", "id % 2 AS p", "id % 3 AS q")
      .write.partitionBy("p", "q").parquet(path)
    assert(Tables.load(spark, dir, "parts").count() == 60L)
    // a second file in p=0/q=0/: neither the root nor p=0/ changes
    val leaf = new java.io.File(s"$path/p=0/q=0")
    val part = leaf.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new java.io.File(leaf, "part-added.parquet").toPath)
    val added = spark.read.parquet(part.getAbsolutePath).count()
    assert(Tables.load(spark, dir, "parts").count() == 60L + added)
  }

  test("a file-sink table answers its committed rows after every batch, .tmp logs aside") {
    val dir = tempDir("graft_tables_sink")
    val source = MemoryStream[(Long, Long)](spark)
    val q = RealtimeIngest.start(source.toDF.toDF("id", "v"), s"$dir/live.parquet",
      s"$dir/ckp", Trigger.ProcessingTime(0L))
    try {
      val log = new java.io.File(s"$dir/live.parquet/_spark_metadata")
      var committed = 0L
      (1 to 4).foreach { batch =>
        val before = committed
        source.addData((committed until committed + 50L * batch).map(i => (i, i % 7)))
        q.processAllAvailable()
        committed += 50L * batch
        if (batch > 1) {
          // the commit race: the batch's part files are written but its
          // log entry is still the sink's hidden `.N.<uuid>.tmp`. A load
          // then sees the previous commit; once the log entry is renamed
          // into place, the next load sees the new one although no data
          // file changed in between. The log directory's own mtime is
          // pinned, as on a store without directory mtimes, so only the
          // log's listing can show the commit.
          val entry = new java.io.File(log, (batch - 1).toString)
          val inFlight = new java.io.File(log, s".${batch - 1}.${java.util.UUID.randomUUID}.tmp")
          val logMtime = log.lastModified()
          assert(entry.renameTo(inFlight) && log.setLastModified(logMtime))
          assert(Tables.load(spark, dir, "live").count() == before, s"batch $batch in flight")
          assert(inFlight.renameTo(entry) && log.setLastModified(logMtime))
        }
        val df = Tables.load(spark, dir, "live")
        assert(df.count() == committed, s"after batch $batch")
        assert(df.agg(org.apache.spark.sql.functions.max("id")).as[Long].head() == committed - 1)
        // a leftover `.tmp` log write and a data file that no log entry
        // names: neither becomes visible
        Files.write(new java.io.File(log, s".${batch + 100}.${java.util.UUID.randomUUID}.tmp")
          .toPath, "v1\n".getBytes(StandardCharsets.UTF_8))
        val part = new java.io.File(s"$dir/live.parquet").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, new java.io.File(part.getParentFile,
          s"part-stray-$batch.parquet").toPath)
        assert(Tables.load(spark, dir, "live").count() == committed, s"after batch $batch, strays")
      }
    } finally q.stop()
  }

  test("a missing table answers code 200 every time and is served once it exists") {
    val dir = tempDir("graft_tables_missing")
    val broker = new BrokerServer(spark, dir)
    val port = broker.start()
    try {
      (1 to 2).foreach { _ =>
        val body = brokerCount(port, "later")
        assert(body.contains("\"errorCode\": 200"), body.take(300))
      }
      spark.range(0, 11).toDF("id").write.parquet(s"$dir/later.parquet")
      assert(countOf(brokerCount(port, "later")) == 11L)
    } finally broker.stop()
  }

  test("sessions and inference confs never share a relation") {
    val dir = tempDir("graft_tables_session")
    spark.range(0, 5).toDF("id").write.parquet(s"$dir/s.parquet")
    val other = spark.newSession()
    val mine = relationOf(Tables.load(spark, dir, "s"))
    val theirs = relationOf(Tables.load(other, dir, "s"))
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    assert(theirs ne mine)
    // alternating sessions on one path rebuild, never cross over
    assert(relationOf(Tables.load(spark, dir, "s")).sparkSession eq spark)
    assert(relationOf(Tables.load(other, dir, "s")).sparkSession eq other)
    // within one session, a schema-inference conf is part of the key
    val before = relationOf(Tables.load(other, dir, "s"))
    assert(relationOf(Tables.load(other, dir, "s")) eq before)
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(relationOf(Tables.load(other, dir, "s")) ne before)
  }

  /** Writes `df` as one parquet file named `name` inside `table`,
    * through a scratch directory, so the table never lists a partial
    * file; returns its row count. */
  private def addFile(table: String, name: String, df: org.apache.spark.sql.DataFrame): Long = {
    val scratch = tempDir("graft_tables_add")
    df.coalesce(1).write.mode("overwrite").parquet(s"$scratch/f")
    val part = new java.io.File(s"$scratch/f").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new java.io.File(table, name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // a replaced file's checksum would no longer match
    new java.io.File(table, s".$name.crc").delete()
    df.count()
  }

  /** A table sorted on `id` into 3 range-disjoint files, 0 until 300. */
  private def sortedTable(dir: String, name: String): String = {
    val path = s"$dir/$name.parquet"
    spark.range(0, 300).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(3, $"id").sortWithinPartitions("id").write.parquet(path)
    path
  }

  test("an appended file: schema reused with no job, footer and layout jobs of 1 task") {
    val dir = tempDir("graft_tables_append")
    val path = sortedTable(dir, "grow")
    val first = Tables.load(spark, dir, "grow")
    assert(Tables.metadataRowCount(first).contains(300L))
    assert(SortedLayout.layoutFor(first, "id").map(_.size).contains(3))
    // Spark names part files `part-00000-<uuid>...`: this one sorts last
    addFile(path, "part-99999-added.parquet", spark.range(300, 400).selectExpr("id", "id * 2 AS v"))
    val (grown, loadJobs) = jobsOf(Tables.load(spark, dir, "grow"))
    assert(loadJobs == 0, "the inference file is unchanged: the schema is reused")
    assert(grown.schema == spark.read.parquet(path).schema)
    val (count, countJobs, countTasks) = jobsAndTasksOf(Tables.metadataRowCount(grown))
    assert(count.contains(grown.count()) && count.contains(400L))
    assert((countJobs, countTasks) == ((1, 1)), "only the new footer is opened")
    val (layout, layoutJobs, layoutTasks) = jobsAndTasksOf(SortedLayout.layoutFor(grown, "id"))
    assert(layout.map(_.size).contains(4))
    assert((layoutJobs, layoutTasks) == ((1, 1)))
    // nothing new: no job at all
    assert(jobsOf(Tables.metadataRowCount(Tables.load(spark, dir, "grow")))._2 == 0)
    assert(jobsOf(SortedLayout.layoutFor(Tables.load(spark, dir, "grow"), "id"))._2 == 0)
    // the routed page equals the unrouted scan's
    val page = Pql.run(spark, dir, "SELECT id, v FROM grow ORDER BY id DESC LIMIT 5")
    val scan = spark.read.parquet(path).orderBy($"id".desc).limit(5)
    assert(page.as[(Long, Long)].collect().toSeq == scan.as[(Long, Long)].collect().toSeq)
    assert(page.as[(Long, Long)].collect().head == ((399L, 798L)))
  }

  test("a new first file with another schema, or an overwritten first file, rebuilds") {
    val dir = tempDir("graft_tables_first")
    val path = s"$dir/t.parquet"
    spark.range(0, 50).toDF("id").coalesce(1).write.parquet(path)
    Tables.load(spark, dir, "t")
    // sorts before every `part-00000-...` file: Spark now infers from it
    addFile(path, "part-0000-first.parquet", spark.range(50, 60).selectExpr("id", "'x' AS extra"))
    val (df, jobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs > 0)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.columns.toSeq == Seq("id", "extra"))
    assert(df.where($"extra" === "x").count() == 10L)
    // an in-place overwrite of that same first file with the first
    // schema: new stamp, so inference runs again
    val first = new java.io.File(path, "part-0000-first.parquet")
    addFile(path, first.getName, spark.range(50, 55).toDF("id"))
    assert(first.setLastModified(first.lastModified() + 10000L))
    val (back, backJobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(backJobs > 0)
    assert(back.columns.toSeq == Seq("id") && back.count() == 55L)
  }

  test("partitioned tables and mergeSchema=true always rebuild") {
    val dir = tempDir("graft_tables_rebuild")
    val parts = s"$dir/parts.parquet"
    spark.range(0, 40).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(parts)
    Tables.load(spark, dir, "parts")
    addFile(s"$parts/p=1", "part-99999-added.parquet", spark.range(40, 45).toDF("id"))
    val (partsDf, partsJobs) = jobsOf(Tables.load(spark, dir, "parts"))
    assert(partsJobs > 0)
    assert(partsDf.count() == 45L && partsDf.where($"p" === 1).count() == 25L)

    val merging = spark.newSession()
    merging.conf.set("spark.sql.parquet.mergeSchema", "true")
    val flat = s"$dir/flat.parquet"
    spark.range(0, 30).toDF("id").coalesce(1).write.parquet(flat)
    Tables.load(merging, dir, "flat")
    addFile(flat, "part-99999-added.parquet", spark.range(30, 35).selectExpr("id", "id AS more"))
    val (merged, mergedJobs) = jobsOf(Tables.load(merging, dir, "flat"))
    assert(mergedJobs > 0)
    assert(merged.columns.toSeq == Seq("id", "more") && merged.count() == 35L)
  }

  test("footer counts: an overwrite in place is recounted, a deleted file drops out") {
    val dir = tempDir("graft_tables_counts")
    val path = sortedTable(dir, "c")
    assert(Tables.metadataRowCount(Tables.load(spark, dir, "c")).contains(300L))
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val last = files.last
    val mtime = last.lastModified()
    addFile(path, last.getName, spark.range(1000, 1007).selectExpr("id", "id * 2 AS v"))
    assert(last.setLastModified(mtime + 10000L))
    val reloaded = Tables.load(spark, dir, "c")
    val (count, jobs, tasks) = jobsAndTasksOf(Tables.metadataRowCount(reloaded))
    assert(count.contains(reloaded.count()))
    assert((jobs, tasks) == ((1, 1)))
    val kept = count.get
    val gone = spark.read.parquet(files.head.getAbsolutePath).count()
    assert(files.head.delete())
    val shrunk = Tables.load(spark, dir, "c")
    val (after, afterJobs) = jobsOf(Tables.metadataRowCount(shrunk))
    assert(after.contains(kept - gone) && afterJobs == 0)
    assert(Tables.load(spark, dir, "c").count() == kept - gone)
  }

  test("an appended file overlapping a range turns the sorted layout off") {
    val dir = tempDir("graft_tables_overlap")
    val path = sortedTable(dir, "o")
    assert(SortedLayout.layoutFor(Tables.load(spark, dir, "o"), "id").isDefined)
    addFile(path, "part-99999-overlap.parquet", spark.range(150, 160).selectExpr("id", "id * 2 AS v"))
    val (layout, jobs, tasks) = jobsAndTasksOf(SortedLayout.layoutFor(Tables.load(spark, dir, "o"), "id"))
    assert(layout.isEmpty)
    assert((jobs, tasks) == ((1, 1)))
    val page = Pql.run(spark, dir, "SELECT id FROM o ORDER BY id LIMIT 3, 2")
    assert(page.as[Long].collect().toSeq == Seq(3L, 4L))
  }

  test("a file-sink table counts committed rows only, opening only new footers") {
    val dir = tempDir("graft_tables_sink_count")
    val source = MemoryStream[(Long, Long)](spark)
    val q = RealtimeIngest.start(source.toDF.toDF("id", "v"), s"$dir/live.parquet",
      s"$dir/ckp", Trigger.ProcessingTime(0L))
    try {
      var committed = 0L
      var seen = Set.empty[String]
      (1 to 3).foreach { batch =>
        source.addData((committed until committed + 40L * batch).map(i => (i, i % 5)))
        q.processAllAvailable()
        committed += 40L * batch
        // a part file that no log entry names
        val part = new java.io.File(s"$dir/live.parquet").listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, new java.io.File(part.getParentFile,
          s"part-stray-$batch.parquet").toPath)
        val df = Tables.load(spark, dir, "live")
        val files = df.inputFiles.toSet
        assert(!files.exists(_.contains("part-stray")))
        val (count, _, tasks) = jobsAndTasksOf(Tables.metadataRowCount(df))
        assert(count.contains(committed), s"after batch $batch")
        assert(tasks <= (files -- seen).size, s"after batch $batch")
        seen = files
      }
    } finally q.stop()
  }
}
