package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The query layer tokenizes CORPUS TEXT through the script-aware
  * `tokenize_text` grammar everywhere (the r8 verdict's split-debt
  * retirement): raw `split(text, ' ')` tokenization silently loses CJK
  * handling for anyone reusing a query spelling on multilingual data.
  * This spec scans the query-layer sources and fails on any NEW raw
  * split-tokenization of a text column outside the documented
  * exceptions (construction-replay splits of strings the query itself
  * assembled with single spaces — not corpus tokenization).
  *
  * It also locks the degeneracy the reroute leaned on: on single-space-
  * separated non-CJK text, `tokenize_text(text)` IS `split(text, ' ')`
  * element for element — which is why every carried DuckDB oracle kept
  * its `string_split` twin bit-identically.
  */
class TokenizationDisciplineSpec extends AnyFunSuite with SparkSuite {

  private val queryDir = new java.io.File("src/main/scala/graft/queries")

  /** Documented exceptions: file -> substrings of the allowed sites.
    * `tg` is a query-assembled "w0 w1 w2" trigram string (field access,
    * not tokenization); q281's `scrubbed` is the query's own
    * space-joined kept-sentence stream (rejoined by construction). */
  private val allowed: Seq[String] = Seq(
    "split(tg, ' ')",          // q-trigram field split (CoreQueries)
    "split(col(\"scrubbed\"), \" \")") // q281 sentence-stream tokens

  test("no raw split-tokenization of corpus text remains in the query layer") {
    assert(queryDir.isDirectory, s"query sources not found at $queryDir")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    queryDir.listFiles().filter(_.getName.endsWith(".scala")).foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        src.getLines().zipWithIndex.foreach { case (line, i) =>
          // a Spark-side split: `split(<col>, ' ')` or `split(col("x"), " ")`
          // — NOT DuckDB's string_split (oracle twins keep that spelling)
          val spark = raw"""(?<!string_)split\((col\("\w+"\)|\w+(\.\w+)?), (' '|" ")\)""".r
          spark.findAllIn(line).foreach { m =>
            if (!allowed.exists(line.contains)) {
              offenders += s"${f.getName}:${i + 1}: $m"
            }
          }
        }
      } finally src.close()
    }
    assert(offenders.isEmpty,
      "raw split-tokenization outside the documented exceptions:\n" +
        offenders.mkString("\n") +
        "\nroute corpus-text tokenization through tokenize_text (or add a " +
        "documented exception here if the split replays a constructed string)")
  }

  test("tokenize_text degenerates to split-on-space on clean spaced text") {
    import spark.implicits._
    // real corpus rows: the degeneracy must hold on actual fixture text
    val rows = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(200)
      .selectExpr("tokenize_text(text) as a", "split(text, ' ') as b")
      .collect()
    assert(rows.length === 200)
    rows.foreach { r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1),
        "tokenize_text must equal split-on-space on single-spaced ASCII text")
    }
  }
}
