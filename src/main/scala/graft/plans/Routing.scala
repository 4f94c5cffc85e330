package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan root → index artifact, the path matcher [[StarTreeRegistry]]
  * and [[DictRegistry]] share. Keys are normalized once, at
  * registration ([[PathRegistry.normalize]]), so a `file:` URI, a
  * plain path and a path with a trailing slash name the same entry. */
final class PathRegistry[V] {
  private val entries = new TrieMap[String, V]

  /** Set the value at `path` from the current one (None when absent). */
  def update(path: String)(f: Option[V] => V): Unit = {
    entries.updateWith(PathRegistry.normalize(path))(v => Some(f(v))); ()
  }
  def remove(path: String): Unit = { entries.remove(PathRegistry.normalize(path)); () }
  def clear(): Unit = entries.clear()
  def isEmpty: Boolean = entries.isEmpty

  /** The entry registered for exactly `root`. */
  def exact(root: String): Option[V] = entries.get(PathRegistry.normalize(root))

  /** The entry of the longest registered prefix of `root` that ends at
    * a path-segment boundary: `/data/lineitem10.parquet` never matches
    * an entry for `/data/lineitem1` (a substring match here silently
    * answers from the wrong artifact), and an entry for the table wins
    * over one for its parent directory. */
  def longestPrefix(root: String): Option[V] = {
    if (entries.isEmpty) return None
    val norm = PathRegistry.normalize(root)
    Iterator.iterate(norm)(p => p.substring(0, math.max(p.lastIndexOf('/'), 0)))
      .takeWhile(_.nonEmpty).map(entries.get).collectFirst { case Some(v) => v }
  }
}

object PathRegistry {
  /** Strip the URI scheme and authority (scan roots come back as
    * `file:/...`) and any trailing slashes, so registered paths and
    * scan roots compare in the same form. A root that is no valid URI
    * (Hadoop prints paths unescaped, so `file:/a b`) loses its scheme
    * textually. */
  def normalize(p: String): String = {
    val noScheme =
      try {
        val u = new java.net.URI(p)
        if (u.getScheme != null && u.getPath != null) u.getPath else p
      } catch {
        case _: java.net.URISyntaxException =>
          p.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?(?=/)", "")
      }
    val trimmed = noScheme.replaceAll("/+$", "")
    if (trimmed.isEmpty) "/" else trimmed
  }
}

/** The plan shape the routing rules answer over: attribute-only
  * Projects and at most ONE Filter above a file scan. Yields the
  * filter (the predicate the index re-applies) and the scan's root
  * paths. */
object IndexedScan {
  def unapply(plan: LogicalPlan): Option[(Option[Expression], Seq[String])] =
    peel(plan, None)

  private def peel(plan: LogicalPlan, cond: Option[Expression])
      : Option[(Option[Expression], Seq[String])] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      Some((cond, fs.location.rootPaths.map(_.toString)))
    case Project(projs, child) if projs.forall(_.isInstanceOf[AttributeReference]) =>
      peel(child, cond)
    case Filter(c, child) if cond.isEmpty => peel(child, Some(c))
    case _ => None
  }
}
