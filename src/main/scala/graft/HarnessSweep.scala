package graft

import graft.pql.{CorpusHarness, OnTimeCorpus, QueryGen, QueryGenB}
import graft.pql.CorpusHarness.Layout

/** Resumable sweep of one line source through the corpus harness, wider
  * than the gate rows:
  *
  * {{{
  * graft.HarnessSweep <corpus|a|b> <lo-hi> <layout,…> <outFile>
  * }}}
  *
  *  - `corpus`: the reference corpus lines with ids in [lo, hi), in
  *    chunks of 500 (needs the corpus file);
  *  - `a` / `b`: 500 lines of the mode-A ([[QueryGen]]) / mode-B
  *    ([[QueryGenB]]) grammar for each seed in [lo, hi);
  *  - layouts: any of `plain`, `hybrid`, `startree`, `dict`,
  *    comma-separated. Each line's hsql twin is collected once and
  *    checked against every listed layout.
  *
  * Appends one `layout<TAB>seed<TAB>id<TAB>matched<TAB>mode<TAB>reason`
  * line per outcome to `outFile` (seed `-` for corpus lines), so a long
  * sweep composes from bounded invocations. Prints every mismatch with
  * its PQL and first hsql, and for each routed layout how many lines
  * its plans answered from the routed copy — read from the same pass
  * that compared them — and, for the star-tree layout, how many lines
  * have a shape its rule can rewrite. Exits 1 if any outcome is
  * unmatched. */
object HarnessSweep {
  private val ChunkLines = 500

  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println("usage: graft.HarnessSweep <corpus|a|b> <lo-hi> <layout,...> <outFile>")
      sys.exit(2)
    }
    val Array(source, range, layoutList, outFile) = args
    val Array(lo, hi) = range.split("-", 2).map(_.toInt)
    val layouts = layoutList.split(",").toSeq.map(Layout.named).distinct
    // (seed tag, lines) batches, generated lazily
    val batches: Iterator[(String, Seq[OnTimeCorpus.Line])] = source match {
      case "corpus" => OnTimeCorpus.corpus.slice(lo, hi).grouped(ChunkLines).map("-" -> _)
      case "a" => Iterator.range(lo, hi).map(s => s.toString -> QueryGen.lines(ChunkLines, s))
      case "b" => Iterator.range(lo, hi).map(s => s.toString -> QueryGenB.lines(ChunkLines, s))
      case other => throw new IllegalArgumentException(s"unknown source '$other' (corpus, a or b)")
    }
    val spark = LocalSession()
    val out = new java.io.PrintWriter(new java.io.FileWriter(outFile, true))
    val t0 = System.nanoTime()
    val total = scala.collection.mutable.Map.empty[Layout, Int].withDefaultValue(0)
    val matched = scala.collection.mutable.Map.empty[Layout, Int].withDefaultValue(0)
    val routed = scala.collection.mutable.Map.empty[Layout, Int].withDefaultValue(0)
    var eligible = 0
    try batches.foreach { case (seed, lines) =>
      val byId = lines.map(l => l.id -> l).toMap
      val outcomes = CorpusHarness.compare(spark, lines, layouts)
      layouts.foreach { layout =>
        val os = outcomes(layout)
        os.foreach { o =>
          out.println(Seq(layout.name, seed, o.id, o.matched, o.mode,
            o.reason.replace('\t', ' ').replace('\n', ' ')).mkString("\t"))
          if (!o.matched) {
            println(s"[sweep] MISMATCH ${layout.name} seed=$seed id=${o.id} ${o.mode}: ${o.reason}")
            println(s"[sweep]   pql: ${byId(o.id).pql}")
            println(s"[sweep]   sql: ${byId(o.id).hsqls.head}")
          }
        }
        total(layout) += os.size
        matched(layout) += os.count(_.matched)
        routed(layout) += os.count(_.route.routed)
      }
      eligible += CorpusHarness.starTreeEligibleIds(CorpusHarness.fixture(spark), lines).size
      out.flush()
      println(f"[sweep] $source seed=$seed lines ${lines.head.id}..${lines.last.id}: " +
        layouts.map(l => s"${l.name} ${outcomes(l).count(_.matched)}/${lines.size}").mkString(", ") +
        f" (${(System.nanoTime() - t0) / 1e9}%.0f s elapsed)")
    } finally {
      out.close()
      spark.stop()
    }
    layouts.foreach { l =>
      println(s"[sweep] TOTAL ${l.name}: ${matched(l)}/${total(l)} matched" +
        (if (l.routes) s", ${routed(l)} answered from the routed copy" else "") +
        (if (l == Layout.StarTree) s" ($eligible star-tree-eligible)" else ""))
    }
    if (layouts.exists(l => matched(l) < total(l))) sys.exit(1)
  }
}
