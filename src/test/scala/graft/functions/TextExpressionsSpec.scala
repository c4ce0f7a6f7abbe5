package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Semantics lock for the native word_ngrams expression: it must match the
  * HOF spelling it replaced byte-for-byte (the DuckDB oracles depend on it).
  */
class TextExpressionsSpec extends AnyFunSuite with SparkSuite {

  /** `body(mode)` under each codegen factory mode, the mode restored after
    * each run even when an assertion fails. */
  private def inBothCodegenModes(body: String => Unit): Unit =
    for (codegen <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withConf("spark.sql.codegen.factoryMode" -> codegen)(body(codegen))

  private val hof3 =
    "transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"

  test("word_ngrams(_, 3) equals the interpreted HOF spelling on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') as toks")
      .filter("size(toks) >= 3")
    val diff = docs
      .selectExpr("doc_id", s"word_ngrams(toks, 3) as a", s"$hof3 as b")
      .filter("a != b")
    assert(diff.count() === 0)
  }

  test("word_ngram_hash48 equals the transform+md5 HOF spelling on real text") {
    val md5hof = graft.functions.HashConventions.md5long48("s")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') as toks")
    for (n <- Seq(1, 3, 5)) {
      val diff = docs.filter(s"size(toks) >= $n")
        .selectExpr("doc_id",
          s"word_ngram_hash48(toks, $n) as a",
          s"transform(word_ngrams(toks, $n), s -> $md5hof) as b")
        .filter("a != b")
      assert(diff.count() === 0, s"fused hash diverged from the HOF spelling at n=$n")
    }
  }

  private def simhashHof(nBits: Int) =
    s"""aggregate(
      transform(sequence(0, ${nBits - 1}), j -> cast(
        case when 2 * size(filter(hs, h -> (shiftright(h, j) & 1) = 1)) >= size(hs)
             then shiftleft(cast(1 as bigint), j) else cast(0 as bigint) end as bigint)),
      cast(0 as bigint), (acc, x) -> acc + x)"""

  test("simhash_bits equals the filter-passes HOF spelling on real text at 16 and 48 bits") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') as toks")
      .filter("size(toks) >= 1")
      .selectExpr("doc_id", "word_ngram_hash48(toks, 1) as hs")
    for (bits <- Seq(16, 48)) {
      val diff = docs
        .selectExpr("doc_id", s"simhash_bits(hs, $bits) as a", s"${simhashHof(bits)} as b")
        .filter("a != b")
      assert(diff.count() === 0, s"simhash_bits diverged from the HOF at $bits bits")
    }
  }

  test("simhash_bits edge cases: empty array (all bits set), null elements, null array") {
    val r = spark.sql(
      """select
           simhash_bits(cast(array() as array<bigint>), 4) as empty,
           simhash_bits(array(cast(null as bigint), 15, 15), 4) as withnull,
           simhash_bits(array(cast(null as bigint), 15), 4) as nulltie,
           simhash_bits(cast(null as array<bigint>), 16) as nullarr
      """).head()
    // 2*0 >= 0 holds for every bit, exactly as the HOF computes it
    assert(r.getLong(0) === 15L)
    // null counts toward the threshold but sets no bits: 2*2 >= 3 -> set
    assert(r.getLong(1) === 15L)
    // 2*1 >= 2 -> still set (majority is >=, not >)
    assert(r.getLong(2) === 15L)
    assert(r.isNullAt(3))
  }

  test("simhash_bits interpreted eval equals codegen") {
    val df = spark.range(0, 200).toDF("id")
      .selectExpr("id", "array(id * 2654435761, id * 40503 + 7, -id * 97) as hs")
    val gen = df.selectExpr("simhash_bits(hs, 48) as s").collect().map(_.getLong(0))
    val interp = df.collect().map { r =>
      val hs = r.getSeq[Long](1)
      SimHashBits.build(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray), 48)
    }
    assert(gen.toSeq === interp.toSeq)
  }

  test("word_ngram_hash48 edge cases: short, empty, null tokens") {
    val r = spark.sql(
      """select
           word_ngram_hash48(array('a','b'), 3) as short,
           word_ngram_hash48(cast(array() as array<string>), 1) as empty,
           word_ngram_hash48(array('a', cast(null as string), 'c', 'd'), 3) as withnull,
           word_ngram_hash48(cast(null as array<string>), 3) as nullarr
      """).head()
    assert(r.getSeq[Long](0) === Seq.empty)
    assert(r.getSeq[Long](1) === Seq.empty)
    // windows touching the null token hash to null, like md5(null)
    val withNull = r.getSeq[Any](2)
    assert(withNull.length === 2 && withNull(0) == null && withNull(1) == null)
    assert(r.isNullAt(3))
  }

  test("edge cases: short inputs, empty, null tokens, n=1") {
    val rows = spark.sql(
      """select
           word_ngrams(array('a','b'), 3) as short,
           word_ngrams(cast(array() as array<string>), 3) as empty,
           word_ngrams(array('a','b','c','d'), 3) as ok,
           word_ngrams(array('a', cast(null as string), 'c', 'd'), 3) as withnull,
           word_ngrams(array('x','y'), 1) as unigrams,
           word_ngrams(cast(null as array<string>), 3) as nullarr
      """).head()
    assert(rows.getSeq[String](0) === Seq.empty)
    assert(rows.getSeq[String](1) === Seq.empty)
    assert(rows.getSeq[String](2) === Seq("a b c", "b c d"))
    // windows: (a,null,c) -> null, (null,c,d) -> null
    assert(rows.getSeq[String](3) === Seq(null, null))
    assert(rows.getSeq[String](4) === Seq("x", "y"))
    assert(rows.isNullAt(5))
  }

  test("null-token windows null their shingles, others survive") {
    val r = spark.sql(
      "select word_ngrams(array('a', cast(null as string), 'c', 'd', 'e'), 3) as s").head()
    // windows: (a,_,c)=null, (_,c,d)=null, (c,d,e)='c d e'
    assert(r.getSeq[String](0) === Seq(null, null, "c d e"))
  }

  test("property: word_ngrams(_, 3) equals the HOF on arbitrary token arrays") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import scala.jdk.CollectionConverters._
    // tokens including unicode, empties, and space-inside-token edge cases
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const(""),
      Gen.oneOf("héllo", "日本語", "a b", "💡", "x"))
    // >= 3 tokens: the HOF spelling is UNDEFINED below that (sequence(1, n-2)
    // turns descending for n < 3 and element_at throws) — which is why every
    // call site filters size >= 3; word_ngrams' own short-input behavior
    // (empty array) is covered by the edge-case test above.
    val toksGen = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, token))
    val cases = (0 until 80).map { i =>
      toksGen.apply(Gen.Parameters.default, Seed(4242L + i)).get
    }
    val df = spark.createDataFrame(
      cases.map(ts => org.apache.spark.sql.Row(ts)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("toks",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    val rows = df.selectExpr("word_ngrams(toks, 3) as a", s"$hof3 as b").collect()
    rows.zip(cases).foreach { case (r, input) =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), s"input=$input")
    }
  }

  test("max_token_run equals the window+rollup relational spelling on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') as toks")
    docs.createOrReplaceTempView("mtr_docs")
    val native = docs
      .selectExpr("doc_id", "max_token_run(toks) as r")
      .selectExpr("doc_id", "r.run_tok as run_tok", "cast(r.max_run as bigint) as max_run")
    val relational = spark.sql("""
      WITH pt AS (
        SELECT doc_id, pos + 1 AS pos, tok
        FROM mtr_docs LATERAL VIEW posexplode(toks) AS pos, tok),
      fl AS (
        SELECT doc_id, pos, tok,
               CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                      OR lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) <> tok
                    THEN 1 ELSE 0 END AS flag
        FROM pt),
      gr AS (
        SELECT doc_id, tok,
               SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM fl),
      runs AS (SELECT doc_id, grp, tok, COUNT(1) AS runlen FROM gr GROUP BY doc_id, grp, tok),
      el AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY runlen DESC, tok ASC, grp ASC) AS rn
        FROM runs)
      SELECT doc_id, tok AS run_tok, runlen AS max_run FROM el WHERE rn = 1""")
    assert(native.exceptAll(relational).count() === 0)
    assert(relational.exceptAll(native).count() === 0)
  }

  test("max_token_run edge cases: ties, runs, empties, nulls, interpreted == codegen") {
    import scala.jdk.CollectionConverters._
    val cases: Seq[(Seq[String], Any)] = Seq(
      (Seq("a"), ("a", 1)),
      (Seq("b", "a"), ("a", 1)),                    // length tie -> smallest token
      (Seq("a", "b", "b"), ("b", 2)),               // later longer run wins
      (Seq("b", "b", "a", "a"), ("a", 2)),          // equal runs -> smallest token
      (Seq("x", "x", "x", "y", "y"), ("x", 3)),
      (Seq(""), ("", 1)),                           // split("") yields one empty token
      (Seq.empty[String], null),                    // empty array -> null struct
      (Seq(null, null), null),                      // all-null -> null struct
      (Seq("a", null, "a"), ("a", 1)),              // null breaks the run
      (Seq("a", "a", null, "b", "b", "b"), ("b", 3))
    )
    val df = spark.createDataFrame(
      cases.map(c => org.apache.spark.sql.Row(c._1)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("toks",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    inBothCodegenModes { codegen =>
      val got = df.selectExpr("max_token_run(toks) as r").collect()
      got.zip(cases).foreach { case (r, (input, want)) =>
        val actual =
          if (r.isNullAt(0)) null
          else (r.getStruct(0).getString(0), r.getStruct(0).getInt(1))
        assert(actual === want, s"mode=$codegen input=$input")
      }
    }
  }

  test("token_entropy equals the explode+group relational spelling on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') as toks")
    docs.createOrReplaceTempView("te_docs")
    val native = docs
      .selectExpr("doc_id", "round(token_entropy(toks), 9) as h")
    // relational twin: per-doc token frequencies -> -sum(p log2 p), summed
    // in token-sorted order exactly like the expression's TreeMap walk
    val relational = spark.sql("""
      WITH tk AS (
        SELECT doc_id, tok FROM te_docs LATERAL VIEW explode(toks) AS tok),
      cnt AS (SELECT doc_id, tok, COUNT(1) AS c FROM tk GROUP BY doc_id, tok),
      tot AS (SELECT doc_id, SUM(c) AS n FROM cnt GROUP BY doc_id),
      p AS (
        SELECT c.doc_id, c.tok, CAST(c.c AS DOUBLE) / t.n AS p
        FROM cnt c JOIN tot t ON c.doc_id = t.doc_id)
      SELECT doc_id,
             round(aggregate(
               transform(array_sort(collect_list(struct(tok, p))),
                         s -> -(s.p * log2(s.p))),
               cast(0 as double), (a, v) -> a + v), 9) AS h
      FROM p GROUP BY doc_id""")
    assert(native.exceptAll(relational).count() === 0)
    assert(relational.exceptAll(native).count() === 0)
  }

  test("token_entropy edge cases and interpreted == codegen") {
    import scala.jdk.CollectionConverters._
    val cases: Seq[(Seq[String], Any)] = Seq(
      (Seq("a"), 0.0),                       // single token: no uncertainty
      (Seq("a", "a", "a"), 0.0),
      (Seq("a", "b"), 1.0),                  // uniform over 2 -> exactly 1 bit
      (Seq("a", "b", "c", "d"), 2.0),        // uniform over 4 -> exactly 2 bits
      (Seq("a", "a", "b", "b"), 1.0),
      (Seq(""), 0.0),                        // split("") yields one empty token
      (Seq.empty[String], null),             // empty array -> null
      (Seq(null, null), null),               // all-null -> null
      (Seq("a", null, "b"), 1.0)             // nulls ignored, n = 2
    )
    val df = spark.createDataFrame(
      cases.map(c => org.apache.spark.sql.Row(c._1)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("toks",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType)))))
    inBothCodegenModes { codegen =>
      val got = df.selectExpr("token_entropy(toks) as h").collect()
      got.zip(cases).foreach { case (r, (input, want)) =>
        val actual = if (r.isNullAt(0)) null else r.getDouble(0)
        want match {
          case null => assert(actual === null, s"mode=$codegen input=$input")
          case w: Double =>
            assert(math.abs(actual.asInstanceOf[Double] - w) < 1e-12,
              s"mode=$codegen input=$input")
        }
      }
    }
  }

  test("cdc_cuts rolling pass equals the per-position window recompute on real text") {
    // the O(n*w) recompute is the definitional spelling (and the shape the
    // DuckDB oracle uses); the native rolling update must match it exactly
    val perPosition =
      """filter(transform(sequence(8, length(text)), i ->
           case when aggregate(sequence(0, 7), cast(0 as bigint), (a, j) ->
                  a + ascii(substring(text, i - j, 1))
                      * element_at(array(1L, 31L, 961L, 29791L, 923521L,
                                         28629151L, 887503681L, 27512614111L), j + 1))
                  % 64 = 0
                then i else -1 end),
         p -> p >= 0)"""
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter("length(text) >= 8")
    val diff = docs
      .selectExpr("doc_id",
        "cdc_cuts(text, 8, 64) as a",
        s"cast($perPosition as array<int>) as b")
      .filter("a != b")
    assert(diff.count() === 0)
  }

  test("cdc_cuts edge cases, locality, and interpreted == codegen") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq("", "short", "exactly8", "x" * 200).map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    inBothCodegenModes { codegen =>
      val got = df.selectExpr("cdc_cuts(text, 8, 64) as c").collect()
      // shorter than the window -> no cut can exist
      assert(got(0).getSeq[Int](0) === Seq.empty, s"mode=$codegen empty")
      assert(got(1).getSeq[Int](0) === Seq.empty, s"mode=$codegen short")
      // a window-sized input has exactly one candidate position (8)
      assert(got(2).getSeq[Int](0).forall(_ == 8), s"mode=$codegen exactly8")
      // constant text: every window hash is identical, so cuts are either
      // every position >= 8 or none (here: 'x'*sum(31^j) % 64 decides once)
      val xs = got(3).getSeq[Int](0)
      assert(xs.isEmpty || xs === (8 to 200).toSeq, s"mode=$codegen constant")
    }

    // LOCALITY (the content-defined property): editing a prefix shifts or
    // changes cuts only until the window re-synchronizes — cuts strictly
    // after the edit position + window relocate by exactly the length delta
    val base = "the quick brown fox jumps over the lazy dog and then some more text here"
    val edited = "X" + base // 1-char prefix insertion
    val rows = spark.createDataFrame(
      Seq(base, edited).map(org.apache.spark.sql.Row(_)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .selectExpr("cdc_cuts(text, 8, 64) as c").collect()
    val cutsBase = rows(0).getSeq[Int](0).toSet
    val cutsEdited = rows(1).getSeq[Int](0).toSet
    // every base cut beyond the resync horizon survives, shifted by +1
    val resynced = cutsBase.filter(_ > 9).map(_ + 1)
    assert(resynced.subsetOf(cutsEdited),
      s"content-defined cuts did not re-synchronize: base=$cutsBase edited=$cutsEdited")
  }

  test("window_mins equals the transform/slice/array_min HOF spelling on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "word_ngram_hash48(split(text, ' '), 2) as hs")
    for (w <- Seq(1, 4, 7)) {
      val diff = docs.filter(s"size(hs) >= $w")
        .selectExpr("doc_id",
          s"window_mins(hs, $w) as a",
          s"transform(sequence(0, size(hs) - $w), i -> array_min(slice(hs, i + 1, $w))) as b")
        .filter("a != b")
      assert(diff.count() === 0, s"window_mins diverged from the HOF at w=$w")
    }
  }

  test("window_mins edge cases: shorter-than-window, nulls, and interpreted == codegen") {
    inBothCodegenModes { codegen =>
      val got = spark.sql(
        """SELECT
             window_mins(array(cast(5 as bigint), 3, 9, 1, 7), 3) as basic,
             window_mins(array(cast(5 as bigint), 3), 3) as short,
             window_mins(cast(array() as array<bigint>), 2) as empty,
             window_mins(array(cast(null as bigint), 4, 2, cast(null as bigint)), 2) as withnull,
             window_mins(array(cast(null as bigint), cast(null as bigint)), 2) as allnull,
             window_mins(cast(null as array<bigint>), 2) as nullarr""").collect()(0)
      assert(got.getSeq[Any](0) === Seq(3L, 1L, 1L), s"mode=$codegen basic")
      assert(got.getSeq[Any](1) === Seq.empty, s"mode=$codegen short")
      assert(got.getSeq[Any](2) === Seq.empty, s"mode=$codegen empty")
      // array_min semantics: nulls ignored, all-null window -> null element
      assert(got.getSeq[Any](3) === Seq(4L, 2L, 2L), s"mode=$codegen withnull")
      assert(got.getSeq[Any](4) === Seq(null), s"mode=$codegen allnull")
      assert(got.isNullAt(5), s"mode=$codegen nullarr")
    }
  }

  // ---------------------------------------------------------- r11 additions


  test("char3_bucket_rates equals the transform+md5+filter HOF spelling on real text") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val hof = {
      val h32 = graft.functions.HashConventions.md5long48("g")
      (0 until 32).map(j =>
        s"coalesce(cast(size(filter(hs, h -> h = $j)) as double) " +
          s"/ cast(nullif(size(hs), 0) as double), 0.0d)").mkString("array(", ", ", ")")
    }
    val h32 = graft.functions.HashConventions.md5long48("g")
    val diff = docs
      .selectExpr("doc_id", "text",
        "coalesce(char3_bucket_rates(text, 32), array_repeat(0.0d, 32)) as a",
        "transform(transform(case when length(text) >= 3 " +
          "then sequence(1, length(text) - 2) else array() end, " +
          s"i -> substring(text, i, 3)), g -> $h32 % 32) as hs")
      .selectExpr("doc_id", "a", s"$hof as b")
      .filter("a != b")
    assert(diff.count() === 0)
  }

  test("char3_bucket_rates edge cases: short, empty, null, CJK, emoji; interpreted == codegen") {
    import spark.implicits._
    val rows = Seq("", "a", "ab", "abc", "abcd", null,
      "\u6f22\u5b57\u3067\u3059\u3002\u6b21", "a\ud83d\ude00b\ud83d\ude00c", "aaa aaa aaa")
    val df = rows.toDF("text")
    val h32 = graft.functions.HashConventions.md5long48("g")
    val hof = (0 until 32).map(j =>
      s"coalesce(cast(size(filter(hs, h -> h = $j)) as double) " +
        s"/ cast(nullif(size(hs), 0) as double), 0.0d)").mkString("array(", ", ", ")")
    inBothCodegenModes { codegen =>
      val got = df
        .selectExpr("text",
          "coalesce(char3_bucket_rates(text, 32), array_repeat(0.0d, 32)) as a",
          "transform(transform(case when length(text) >= 3 " +
            "then sequence(1, length(text) - 2) else array() end, " +
            s"i -> substring(text, i, 3)), g -> $h32 % 32) as hs")
        .selectExpr("a", s"$hof as b")
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Double](0) == r.getSeq[Double](1), s"mode=$codegen row=$r")
      }
    }
  }
}
