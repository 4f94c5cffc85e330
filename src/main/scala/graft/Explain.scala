package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan and latency probe for `SparkEntry` rows, all in one JVM:
  *
  *   runMain graft.Explain <sfDir> <reps> [plans:<outDir>] q1 [q2 ...]
  *
  * For each query: one warmup execution (codegen, class loading and
  * session-cached fixture builds land here), then its final adaptive
  * plan (`isFinalPlan=true`, reused exchanges and AQE shuffle reads
  * visible) to stdout, or to `<outDir>/<q>.txt` with `plans:`. Then
  * `reps` timed executions of the [[LocalSession.checksum]] action per
  * query, each after a `System.gc()` settle, run round-robin across
  * the named queries, so two rows compare as interleaved paired reps.
  * Prints min / p50 / max and Spark jobs per execution per query: the
  * eager operators (rankSelect passes, connected components) run jobs
  * their output frame's plan never shows, so the job count is the
  * evidence of their pass structure. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Explain <sfDir> <reps> [plans:<outDir>] q1 [q2 ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    require(reps > 0, s"reps must be positive, got $reps")
    val (planDir, names) = args.drop(2).toSeq.partition(_.startsWith("plans:"))
    val spark = LocalSession()

    def exec(n: String): Unit = {
      LocalSession.checksum(SparkEntry.queries(n)(spark, sfDir)); ()
    }
    def failed(n: String, e: Throwable): Unit = {
      println(s"[explain] $n FAILED: ${e.getMessage}")
      e.printStackTrace()
    }

    val live = names.filter { n =>
      try {
        exec(n)
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.queryExecution.toRdd.foreachPartition((_: Iterator[_]) => ())
        val plan = df.queryExecution.explainString(FormattedMode)
        planDir.headOption match {
          case Some(p) =>
            val out = new java.io.File(p.stripPrefix("plans:"))
            out.mkdirs()
            java.nio.file.Files.writeString(new java.io.File(out, s"$n.txt").toPath, plan)
          case None => println(s"[explain] $n final plan:\n$plan")
        }
        true
      } catch { case e: Throwable => failed(n, e); false }
    }

    val times = live.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val jobs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var dropped = Set.empty[String]
    (1 to reps).foreach { _ =>
      live.filterNot(dropped).foreach { n =>
        try {
          System.gc()
          val counted = JobCount(spark) {
            val t0 = System.nanoTime()
            exec(n)
            times(n) += (System.nanoTime() - t0) / 1e9
          }
          jobs(n) += counted.jobs.size
        } catch { case e: Throwable => failed(n, e); dropped += n }
      }
    }
    live.filterNot(dropped).foreach { n =>
      val ts = times(n).toSeq
      val sorted = ts.sorted
      println(f"[explain] $n%-32s min=${sorted.head}%.3f p50=${sorted(ts.size / 2)}%.3f " +
        f"max=${sorted.last}%.3f jobs=${jobs(n).toDouble / ts.size}%.1f " +
        f"reps=${ts.map(x => f"$x%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
