package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardWatchEventKinds, WatchEvent}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, FileSystem, Path,
  RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{LocalCheckpointFileManager, RealtimeIngest}

/** The local file system under a scheme of its own, so a test can see
  * which manager a non-`file:` checkpoint gets without a remote store. */
class SchemedLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${SchemedLocalFs.Scheme}:///")
  override def getScheme: String = SchemedLocalFs.Scheme
}

object SchemedLocalFs { val Scheme = "graftlocal" }

/** `SchemedLocalFs` for `FileContext`. */
class SchemedLocalAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new SchemedLocalFs, conf, SchemedLocalFs.Scheme, false)

/** [[LocalCheckpointFileManager]]'s contract over a temp `file:`
  * directory: atomic publish without replace, cancel, overwrite past a
  * Hadoop checksum sidecar, which scheme takes which path, and its
  * installation by [[RealtimeIngest]]. */
class LocalCheckpointFileManagerSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.sql.streaming.checkpointFileManagerClass"

  private def tempDir(): java.nio.file.Path = Files.createTempDirectory("graft-cfm")

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, bytes: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(bytes.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a write without overwrite onto an existing file fails and keeps the old bytes") {
    val dir = tempDir()
    val m = manager(dir)
    val p = new Path(dir.resolve("0").toUri)
    write(m, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("0")), UTF_8) === "first")
    assert(names(dir) === Set("0"), "the failed write left its temp file")
  }

  test("cancel publishes nothing") {
    val dir = tempDir()
    val m = manager(dir)
    write(m, new Path(dir.resolve("0").toUri), "kept", overwrite = false)
    val before = m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet
    val out = m.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("dropped".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(m.list(new Path(dir.toUri)).map(_.getPath.getName).toSet === before)
    assert(names(dir) === Set("0"))
  }

  test("an overwrite drops the stale checksum sidecar before the new bytes land") {
    val dir = tempDir()
    val local = FileSystem.getLocal(new Configuration())
    val p = new Path(dir.resolve("1.delta").toUri)
    val old = local.create(p, true)
    old.write(("old bytes " * 100).getBytes(UTF_8))
    old.close()
    assert(Files.exists(dir.resolve(".1.delta.crc")))

    val watcher = dir.getFileSystem.newWatchService()
    try {
      dir.register(watcher, StandardWatchEventKinds.ENTRY_CREATE, StandardWatchEventKinds.ENTRY_DELETE)
      write(manager(dir), p, "new bytes", overwrite = true)

      val in = local.open(p)
      try assert(new String(in.readAllBytes(), UTF_8) === "new bytes")
      finally in.close()

      // the order in which the directory saw the changes: the sidecar
      // must be gone before the target's name points at the new bytes
      val seen = Iterator.continually(Option(watcher.poll(10, TimeUnit.SECONDS)))
        .takeWhile(_.isDefined).flatMap { k =>
          val events = k.get.pollEvents().asScala.toSeq
          k.get.reset()
          events.map(e => e.kind.name -> e.asInstanceOf[WatchEvent[java.nio.file.Path]].context.toString)
        }
        .scanLeft(Seq.empty[(String, String)])(_ :+ _)
        .find(_.contains("ENTRY_CREATE" -> "1.delta")).getOrElse(Seq.empty)
      assert(seen.nonEmpty, "the overwrite was never seen")
      assert(seen.contains("ENTRY_DELETE" -> ".1.delta.crc"),
        s"the new bytes landed while the stale sidecar stood: $seen")
    } finally watcher.close()
    assert(names(dir) === Set("1.delta"))
  }

  test("a path with no scheme on the local default file system takes the file: path") {
    val dir = tempDir()
    val m = new LocalCheckpointFileManager(new Path(dir.toString), new Configuration())
    assert(m.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val out = m.createAtomic(new Path(dir.resolve("0").toString), overwriteIfPossible = false)
    assert(!out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    out.write("x".getBytes(UTF_8))
    out.close()
    // Hadoop's local file system would have written a checksum sidecar
    assert(names(dir) === Set("0"))
  }

  test("another scheme gets the manager Spark picks without the conf") {
    val dir = tempDir()
    val conf = new Configuration()
    conf.set(s"fs.${SchemedLocalFs.Scheme}.impl", classOf[SchemedLocalFs].getName)
    conf.setBoolean(s"fs.${SchemedLocalFs.Scheme}.impl.disable.cache", true)
    val root = new Path(s"${SchemedLocalFs.Scheme}://${dir.toUri.getPath}")
    // no FileContext binding for the scheme: Spark falls back to the FileSystem manager
    val fallback = new LocalCheckpointFileManager(root, conf)
    assert(fallback.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val out = fallback.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
    try assert(out.isInstanceOf[CheckpointFileManager.RenameBasedFSDataOutputStream])
    finally out.cancel()

    conf.set(s"fs.AbstractFileSystem.${SchemedLocalFs.Scheme}.impl", classOf[SchemedLocalAfs].getName)
    val m = new LocalCheckpointFileManager(root, conf)
    assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    write(m, new Path(root, "1"), "via FileContext", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("1")), UTF_8) === "via FileContext")
  }

  test("RealtimeIngest installs the manager on a session without one, and only there") {
    def run(session: org.apache.spark.sql.SparkSession): Unit = {
      val source = MemoryStream[Long](session)
      source.addData(1L, 2L)
      RealtimeIngest.start(source.toDF.toDF("id"),
        tempDir().toString, tempDir().toString).awaitTermination()
    }
    val bare = spark.newSession()
    assert(bare.conf.getOption(Key).isEmpty)
    run(bare)
    assert(bare.conf.getOption(Key) === Some(classOf[LocalCheckpointFileManager].getName))

    val chosen = spark.newSession()
    chosen.conf.set(Key, classOf[FileSystemBasedCheckpointFileManager].getName)
    run(chosen)
    assert(chosen.conf.getOption(Key) === Some(classOf[FileSystemBasedCheckpointFileManager].getName))
  }
}
