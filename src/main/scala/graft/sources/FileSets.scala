package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** What the caches in `graft.sources` key on: the file set of a table,
  * as `(path, length, mtime)` per file. Footers and schemas are
  * immutable once written, so a value derived from a file set stays
  * valid while its fingerprint does; an in-place overwrite that reuses
  * part-file names still changes length or mtime.
  *
  * Every such cache is an [[Lru]] of at most [[MaxEntries]] entries: a
  * long-lived session over ever-changing table versions must not
  * accumulate driver memory.
  */
object FileSets {

  final case class Stamp(path: String, length: Long, mtime: Long)

  /** Sorted stamps of `statuses`. */
  def fingerprint(statuses: Seq[FileStatus]): Seq[Stamp] =
    statuses.map(s => Stamp(s.getPath.toString, s.getLen, s.getModificationTime))
      .sortBy(_.path)

  /** Stamps of every entry under a table root, by plain `listStatus`
    * calls: names starting with `.` are dropped (as Spark's file index
    * drops them, and as the file sink names its in-flight
    * `_spark_metadata/.N.<uuid>.tmp` logs). It descends into partition
    * directories and into the file sink's `_spark_metadata` log, not
    * into other `_`-prefixed directories such as `_temporary`, whose
    * own stamps still show. For a flat table this is one non-recursive
    * listing of the root plus, for a file-sink table, one of its log.
    *
    * Not `FileSystem.listFiles(root, recursive = true)`: on the local
    * file system that builds a `LocatedFileStatus` per file, whose
    * permission read forks an `ls` per file unless Hadoop's native IO
    * is loaded. Throws
    * `FileNotFoundException` when `root` does not exist. */
  def listTable(fs: FileSystem, root: Path): Seq[Stamp] = {
    val (dirs, files) = fs.listStatus(root).toSeq
      .filterNot(_.getPath.getName.startsWith(".")).partition(_.isDirectory)
    val nested = dirs.filter { d =>
      val n = d.getPath.getName
      !n.startsWith("_") || n == "_spark_metadata"
    }
    fingerprint(files ++ dirs) ++ nested.flatMap(d => listTable(fs, d.getPath))
  }

  /** Entry cap of every file-set keyed cache. */
  val MaxEntries = 256

  /** Thread-safe map that evicts its least recently used entry past
    * [[MaxEntries]]. A value is computed outside the lock, so
    * concurrent misses on one key may each compute it; the last one
    * stays. */
  final class Lru[K, V] {
    private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size > MaxEntries
    }
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = synchronized { map.put(k, v); () }
    def getOrElseUpdate(k: K)(v: => V): V = get(k).getOrElse {
      val computed = v
      put(k, computed)
      computed
    }
  }
}
