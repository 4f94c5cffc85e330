package graft

/** Print a query's rows: `runMain graft.Show <query> <sfDir> [n]` —
  * the quickest way to eyeball a SparkEntry result during development
  * (Explain shows plans/latency; this shows values). */
object Show {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val n = if (args.length > 2) args(2).toInt else 50
    val spark = LocalSession()
    SparkEntry.queries(name)(spark, sfDir).show(n, truncate = false)
    spark.stop()
  }
}
