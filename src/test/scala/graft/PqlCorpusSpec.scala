package graft

import scala.io.Source
import scala.util.{Failure, Success, Try}

import graft.pql.{OnTimeCorpus, PinotSchema, Pql}

/** The reference's 10,000-query golden corpus (BASELINE.md B1:
  * `On_Time_..._test_queries_10K`, the PQL side of each line) through
  * the front-end: every query must PARSE, and a sampled subset must
  * ANALYZE against the published OnTime schema (the dataset itself is
  * not shipped in the reference repo, so result hash-matching is out
  * of reach — parse + plan coverage is the attainable gate). */
class PqlCorpusSpec extends SparkSpec {

  private val corpusPath = OnTimeCorpus.CorpusPath
  private val schemaPath = OnTimeCorpus.SchemaPath

  private def pqlOf(line: String): String = {
    // each line is {"hsqls": [...], "pql": "..."}; extract the pql
    // value without a JSON dependency (it is always the last field)
    val key = "\"pql\":"
    val i = line.indexOf(key)
    val raw = line.substring(i + key.length).trim.stripSuffix("}").trim
    // unquote + unescape the JSON string
    val body = raw.stripPrefix("\"").stripSuffix("\"")
    body.replace("\\\"", "\"").replace("\\\\", "\\")
  }

  private lazy val corpus: Seq[String] =
    Source.fromFile(corpusPath, "UTF-8").getLines().map(pqlOf).toVector

  test("all 10,000 corpus queries parse") {
    assumeFile(corpusPath)
    val failures = corpus.zipWithIndex.flatMap { case (q, i) =>
      Try(Pql.parse(q)) match {
        case Success(_) => None
        case Failure(e) => Some((i, q.take(120), e.getMessage))
      }
    }
    assert(failures.isEmpty,
      s"${failures.length} parse failures; first 5: ${failures.take(5).mkString("\n")}")
  }

  test("sampled corpus queries analyze against the OnTime schema") {
    assumeFile(corpusPath)
    assumeFile(schemaPath)
    val schema = PinotSchema.load(spark, schemaPath)
    assert(schema.fields.length >= 79, s"schema came back short: ${schema.length}")
    val empty = PinotSchema.emptyTable(spark, schema)
    val sample = corpus.grouped(5).map(_.head).toVector // every 5th → 2000
    val failures = sample.flatMap { q =>
      Try {
        val df = Pql.toDataFrame(Pql.parse(q), _ => empty)
        df.queryExecution.analyzed // force analysis, no execution
      } match {
        case Success(_) => None
        case Failure(e) => Some((q.take(120), String.valueOf(e.getMessage).take(160)))
      }
    }
    assert(failures.isEmpty,
      s"${failures.length}/${sample.length} analysis failures; first 5:\n${failures.take(5).mkString("\n")}")
  }
}
