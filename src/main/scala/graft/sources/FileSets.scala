package graft.sources

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.HadoopFsRelation

/** What the caches in `graft.sources` key on: the file set of a table,
  * as `(path, length, mtime)` per file. Footers and schemas are
  * immutable once written, so a value derived from a file set stays
  * valid while its fingerprint does; an in-place overwrite that reuses
  * part-file names still changes length or mtime.
  *
  * Values derived per file carry over from one file set of a table to
  * the next through a [[Carry]]. Every such cache is an [[Lru]] of at
  * most [[MaxEntries]] entries: a long-lived session over ever-changing
  * table versions must not accumulate driver memory.
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

  /** The parquet files of a segment (a directory of part files, or one
    * bare `.parquet` file), sorted by name, from one plain `listStatus`
    * (see [[listTable]]) through the Hadoop `FileSystem` of `conf`, so a
    * `file:` URI or any Hadoop path works. Empty when it does not
    * exist. */
  def segmentFiles(conf: Configuration, segment: String): Seq[FileStatus] = {
    val root = new Path(segment)
    val listed =
      try root.getFileSystem(conf).listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
  }

  /** Sorted stamps of the files a relation's scan reads, from its file
    * index's cached listing (for a file-sink table, the committed
    * files only). */
  def scanFiles(rel: HadoopFsRelation): Seq[Stamp] =
    fingerprint(rel.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus))

  /** Table key of a relation for a [[Carry]]: its sorted root paths. */
  def rootKey(rel: HadoopFsRelation): Seq[String] =
    rel.location.rootPaths.map(_.toString).sorted

  /** `f(path, conf)` for each of `files` (non-empty), in order, as one
    * Spark job of one task per file, at most 32 tasks. `conf` is the
    * session's Hadoop conf, not a blank `Configuration`: object-store
    * credentials and file systems live there. Its broadcast serves this
    * one job and is destroyed after it, so a long-lived session's
    * misses do not accumulate driver or executor memory. */
  def perFile[V: ClassTag](spark: SparkSession, files: Seq[Stamp])(
      f: (String, Configuration) => V): Seq[V] = {
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sessionState.newHadoopConf()))
    try spark.sparkContext.parallelize(files.map(_.path), math.min(files.size, 32))
      .map(p => f(p, confBc.value.value)).collect().toSeq
    finally confBc.destroy()
  }

  /** Entry cap of every file-set keyed cache. */
  val MaxEntries = 256

  /** Thread-safe map that evicts its least recently used entry past
    * [[MaxEntries]]. Values are computed outside the lock, so
    * concurrent misses on one key may each compute one; the last put
    * stays. */
  final class Lru[K, V] {
    private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        this.size > MaxEntries
    }
    def get(k: K): Option[V] = synchronized(Option(map.get(k)))
    def put(k: K, v: V): Unit = synchronized { map.put(k, v); () }
  }

  /** Per-file values derived from immutable files (footer counts,
    * footer stats), carried over from the last file set seen under one
    * key, typically a table root: a table that grows by one file pays
    * for that one file. [[values]] calls `compute` only with the
    * stamps the key's previous set lacks (an overwrite in place has a
    * new stamp, so it is recomputed) and then keeps the values of the
    * current set alone, so deleted files drop out. At most
    * [[MaxEntries]] keys are kept. */
  final class Carry[K, V] {
    private val last = new Lru[K, Map[Stamp, V]]

    /** One value per entry of `files`, in order. `compute` receives a
      * non-empty sequence and returns one value per stamp, in order. */
    def values(key: K, files: Seq[Stamp])(compute: Seq[Stamp] => Seq[V]): Seq[V] = {
      val known = last.get(key).getOrElse(Map.empty[Stamp, V])
      val fresh = files.filterNot(known.contains)
      val computed = if (fresh.isEmpty) Map.empty[Stamp, V] else {
        val vs = compute(fresh)
        require(vs.size == fresh.size, s"${vs.size} values for ${fresh.size} files")
        fresh.zip(vs).toMap
      }
      val current = files.map(s => s -> known.getOrElse(s, computed(s))).toMap
      last.put(key, current)
      files.map(current)
    }
  }
}
