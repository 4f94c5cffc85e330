package graft

import graft.plans.{DictLayout, DictRegistry, StarTree, StarTreeRegistry}

/** The path contract both index registries share (their one matcher,
  * [[graft.plans.PathRegistry]]), run against each registry through
  * [[Graft.withIndexes]]. */
class IndexRegistrySpec extends SparkSpec {

  private abstract class Registry[I](val name: String) {
    def index(tag: String): I
    def scoped(entries: (String, I)*)(body: => Unit): Unit
    def lookup(root: String): Option[I]
  }

  private val trees = new Registry[StarTree.Index]("star-tree") {
    def index(tag: String) = StarTree.Index(Seq(tag), Nil, spark.emptyDataFrame)
    def scoped(entries: (String, StarTree.Index)*)(body: => Unit) =
      Graft.withIndexes(spark, trees = entries)(body)
    def lookup(root: String) = StarTreeRegistry.lookup(root).map(_.index)
  }

  private val dicts = new Registry[DictLayout.Index]("dictionary") {
    def index(tag: String) = DictLayout.Index(tag, spark.emptyDataFrame, Map.empty)
    def scoped(entries: (String, DictLayout.Index)*)(body: => Unit) =
      Graft.withIndexes(spark, dicts = entries)(body)
    def lookup(root: String) = DictRegistry.lookup(root)
  }

  private def contract[I](r: Registry[I]): Unit = {
    test(s"${r.name} registry: prefixes match only at a path-segment boundary") {
      val a = r.index("a")
      r.scoped("/data/lineitem1" -> a) {
        assert(r.lookup("/data/lineitem10.parquet").isEmpty)
        assert(r.lookup("/data/lineitem1").contains(a))
        assert(r.lookup("file:/data/lineitem1/part-00000.parquet").contains(a))
      }
      assert(r.lookup("/data/lineitem1").isEmpty, "the scope must unregister")
    }

    test(s"${r.name} registry: the longest matching prefix wins") {
      val (parent, table) = (r.index("parent"), r.index("table"))
      r.scoped("/data" -> parent, "/data/lineitem.parquet" -> table) {
        assert(r.lookup("/data/lineitem.parquet").contains(table))
        assert(r.lookup("file:/data/lineitem.parquet/part-1.parquet").contains(table))
        assert(r.lookup("/data/orders.parquet").contains(parent))
        assert(r.lookup("/other/lineitem.parquet").isEmpty)
      }
    }

    test(s"${r.name} registry: file: URI, plain path and trailing slash are one entry") {
      val forms = Seq("file:/data/t", "file:///data/t", "/data/t", "/data/t/")
      for (registered <- forms) {
        val a = r.index(registered)
        r.scoped(registered -> a) {
          forms.foreach(root => assert(r.lookup(root).contains(a), s"$registered vs $root"))
        }
        assert(r.lookup("/data/t").isEmpty, s"$registered stayed registered")
      }
    }
  }

  contract(trees)
  contract(dicts)

  test("dictionary selection lookup is exact-only") {
    val a = dicts.index("a")
    dicts.scoped("/data/t" -> a) {
      assert(DictRegistry.lookupExact("file:/data/t/").contains(a))
      assert(DictRegistry.lookupExact("/data/t/part-00000.parquet").isEmpty)
      assert(DictRegistry.lookupExact("/data").isEmpty)
      assert(DictRegistry.lookup("/data/t/part-00000.parquet").contains(a))
    }
  }
}
