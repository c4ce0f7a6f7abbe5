package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Library operators (Dedup, Sessionize) against naive reference
  * implementations and crafted edge cases. */
class DedupSessionizeSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("Dedup.exact elects one canonical per content group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the same text"), (2L, "the same text"), (5L, "the same text"),
      (3L, "unique text a"), (4L, "unique text b"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    val byId = out.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("group_size"), r.getAs[Boolean]("is_canonical")))).toMap
    assert(byId(1L) === ((3L, true)))  // smallest id of the triple
    assert(byId(2L) === ((3L, false)))
    assert(byId(5L) === ((3L, false)))
    assert(byId(3L) === ((1L, true)))
    assert(byId(4L) === ((1L, true)))
    // real corpus: sf0.001 documents are all unique -> every doc canonical
    val real = Dedup.exact(
      spark.read.parquet(s"$Sf/documents.parquet"), "doc_id", "text")
    assert(real.filter(!col("is_canonical")).count() === 0)
  }

  test("Dedup.minhashLshCandidates: exact dups always pair, disjoint texts never") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),    // identical to 1
      (3L, "one two three four five six seven"),      // disjoint
      (4L, "totally different words entirely here now"),
      (10L, "alpha beta gamma delta epsilon zeta eta")) // near-dup of 1
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLshCandidates(spark, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs have identical signatures -> guaranteed candidates
    assert(pairs.contains((1L, 2L)))
    // disjoint shingle sets share no minima with overwhelming margin; with
    // these fixed permutations the buckets are deterministic - assert none
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // symmetry/dedup: every pair ordered and unique
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("Dedup.minhashLshCandidates agrees with the q25 bucket formulation on real data") {
    // q25 buckets the same 4-perm/2-band scheme; every multi-doc bucket there
    // must yield candidate pairs here
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    val pairs = Dedup.minhashLshCandidates(spark, docs, "doc_id", "text")
    val q25 = graft.SparkEntry.queries("q25_lsh_buckets")(spark, Sf)
    val bucketed = q25.agg(sum(expr("n_docs * (n_docs - 1) / 2"))).head.getAs[Any](0)
    val expectedMin = bucketed match {
      case null => 0L
      case d: java.math.BigDecimal => d.longValue()
      case l: java.lang.Long => l.longValue()
      case d: java.lang.Double => d.toLong
    }
    // distinct() collapses pairs colliding in both bands, so pairs <= sum;
    // and every bucketed pair is present: pairs >= ... cannot exceed either
    assert(pairs.count() <= expectedMin)
    assert(pairs.count() > 0 === (expectedMin > 0))
  }

  test("Dedup.hyperplaneLshCandidates at 8 planes / 1 band reproduces q38's pairs") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val ops = Dedup.hyperplaneLshCandidates(spark, e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q38 = graft.SparkEntry.queries("q38_embed_neardup_lsh")(spark, Sf)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ops === q38, "operator at its default setting must equal the query spelling")
  }

  test("hyperplane LSH: buckets refine with nPlanes, extra bands only add recall") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    def nBuckets(planes: Int): Long = e
      .selectExpr(s"${Dedup.hyperplaneBucketSql("embedding", 64, 0, planes)} as b")
      .select(countDistinct(col("b"))).head.getLong(0)
    // each extra sign bit can only split buckets — and does on this corpus
    val b4 = nBuckets(4)
    val b8 = nBuckets(8)
    assert(b4 < b8, s"more planes must yield more buckets (got $b4 vs $b8)")
    // OR-ed bands are a strict recall knob: every 1-band (all-8-bit) match
    // also matches in each 4-bit half, so candidates(1 band) <= candidates(2)
    val oneBand = Dedup.hyperplaneLshCandidates(spark, e, "vec_id", "embedding",
        nPlanes = 8, nBands = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoBands = Dedup.hyperplaneLshCandidates(spark, e, "vec_id", "embedding",
        nPlanes = 8, nBands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneBand.subsetOf(twoBands))
    assert(twoBands.size > oneBand.size, "4-bit bands must pair more than the 8-bit bucket")
  }

  test("Dedup.clusters finds connected components of the pair graph") {
    import spark.implicits._
    // chain 1-2-3, clique 10-11-12 (all pairs), isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L))
      .toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // a long chain still converges within the iteration bound
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chained = Dedup.clusters(chain).collect()
    assert(chained.forall(_.getAs[Long]("cluster_id") === 1L),
      "every chain member must label to the minimum id")
    // STRING ids use the type-agnostic convergence path: a numeric label-sum
    // would cast every id to NULL and declare convergence after one round,
    // splitting this 12-chain — each member must still reach the
    // lexicographic minimum
    val strChain = (1 until 12).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("id_a", "id_b")
    val strOut = Dedup.clusters(strChain).collect()
    assert(strOut.forall(_.getAs[String]("cluster_id") === "n01"),
      "string-keyed chain must fully converge to the minimum label")
    // FRACTIONAL ids must also use the type-agnostic path: the label sum is
    // computed after a cast to decimal(38,0), which ROUNDS — lowerings like
    // 2.6 -> 2.5 (both rounding to 3) leave the rounded sum unchanged, so a
    // sum-based test would declare convergence early and split this chain
    // 0.5 steps: exactly representable, so chain links are bit-equal and
    // every label-lowering is a sub-integer move the rounded sum can miss
    val dblChain = (1 until 12).map(i => (i * 0.5, (i + 1) * 0.5))
      .toDF("id_a", "id_b")
    val dblOut = Dedup.clusters(dblChain).collect()
    assert(dblOut.forall(_.getAs[Double]("cluster_id") === 0.5),
      "double-keyed chain must fully converge to the minimum label")
    // end-to-end: LSH candidates -> clusters; every pair co-clusters
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta eta"),
      (9L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val cand = Dedup.minhashLshCandidates(spark, docs, "doc_id", "text")
    val labels = Dedup.clusters(cand).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    val pairRows = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.forall { case (a, b) => labels(a) == labels(b) },
      "every candidate pair must land in one cluster")
  }

  test("Sessionize.byGap matches the q40 sessionization on real events") {
    val ev = graft.queries.Tables.table(spark, Sf, "events")
      .withColumn("ms", unix_millis(col("ts")))
    val got = Sessionize.byGap(ev, Seq("user_id"), "ms", 30L * 60 * 1000,
        tieBreak = Seq("event_id"))
      .groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"), min("ms").as("start_ms"), max("ms").as("end_ms"))
    val want = graft.SparkEntry.queries("q40_sessionize")(spark, Sf)
      .select("user_id", "session_no", "n_events", "start_ms", "end_ms")
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "operator must reproduce q40's session assignment")
  }

  test("Sessionize.byGap edge: boundary-exact gaps stay in one session") {
    import spark.implicits._
    val rows = Seq(
      (1L, 0L, 1L), (1L, 1000L, 2L),  // 1000 == gap -> same session
      (1L, 2001L, 3L),                 // 1001 > gap -> new session
      (2L, 0L, 4L))
      .toDF("k", "t", "id")
    val out = Sessionize.byGap(rows, Seq("k"), "t", 1000L, tieBreak = Seq("id"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("session_no")).toMap
    assert(out(1L) === 1L && out(2L) === 1L, "gap == threshold is within-session")
    assert(out(3L) === 2L, "gap > threshold starts a session")
    assert(out(4L) === 1L, "numbering restarts per key")
  }

  test("Dedup.removeDupSpans cuts exactly the covered tokens, keeps rows") {
    import spark.implicits._
    // docs 1 & 2 share the 3-gram "a b c" (both occurrences removed);
    // doc 3 repeats "x y z" internally twice; doc 4 is clean; doc 5 is
    // ENTIRELY one duplicated gram (matches doc 6) -> empty clean_text.
    val docs = Seq(
      (1L, "p q a b c r s"),
      (2L, "a b c t u v w"),
      (3L, "x y z m n x y z"),
      (4L, "one two three four"),
      (5L, "dup gram here"),
      (6L, "dup gram here"))
      .toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_removed"))))
      .toMap
    assert(out.size === 6, "every input doc survives as a row")
    assert(out(1L) === (("p q r s", 3L)))
    assert(out(2L) === (("t u v w", 3L)))
    assert(out(3L) === (("m n", 6L)), "both internal occurrences cut")
    assert(out(4L) === (("one two three four", 0L)))
    assert(out(5L) === (("", 3L)), "fully-duplicated doc becomes empty, not dropped")
    assert(out(6L) === (("", 3L)))
  }

  test("Dedup.keepFirstSegments keeps exactly the globally-first occurrence") {
    import spark.implicits._
    // w=2 segments. "a b" appears in doc 1 (seg 0), doc 1 again (seg 2),
    // and doc 2 (seg 0): only doc 1 seg 0 survives. Tail segments shorter
    // than w are segments too ("e" in doc 2). Doc 3 is all-duplicate ->
    // empty clean_text but still a row.
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "a b e"),
      (3L, "c d"))
      .toDF("doc_id", "text")
    val out = Dedup.keepFirstSegments(docs, "doc_id", "text", w = 2)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_seg"),
          r.getAs[Long]("n_seg_removed"))))
      .toMap
    assert(out(1L) === (("a b c d", 3L, 1L)), "second in-doc occurrence cut")
    assert(out(2L) === (("e", 2L, 1L)), "cross-doc later occurrence cut, tail kept")
    assert(out(3L) === (("", 1L, 1L)), "fully-duplicated doc empties but survives")
  }

  test("Dedup.keepFirstSegments: union of survivors has no duplicate segment") {
    val docs = graft.queries.Tables.table(spark, Sf, "documents")
      .select("doc_id", "text")
    val cleaned = Dedup.keepFirstSegments(docs, "doc_id", "text", w = 10)
    val resegmented = cleaned
      .filter(length(col("clean_text")) > 0)
      .select(col("doc_id"), split(col("clean_text"), " ").as("toks"))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")).as("seg"))
    // Note: re-joining survivors shifts segment boundaries, so this is a
    // conservative check on the ELECTION itself, done pre-reassembly:
    val segsKeptTwice = graft.operators.Dedup
      .keepFirstSegments(docs, "doc_id", "text", w = 10)
      .agg(sum("n_seg").as("total"), sum("n_seg_removed").as("removed"))
      .collect()(0)
    val distinctSegs = docs
      .select(split(col("text"), " ").as("toks"))
      .select(explode(expr(
        "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")).as("seg"))
      .select("seg").distinct().count()
    assert(segsKeptTwice.getAs[Long]("total") - segsKeptTwice.getAs[Long]("removed")
      === distinctSegs,
      "survivor count must equal the number of distinct segments")
    assert(resegmented.count() > 0)
  }

  test("Dedup.removeDupSpans n_removed agrees with dupSpans dup_tokens") {
    val docs = graft.queries.Tables.table(spark, Sf, "documents")
      .select("doc_id", "text")
    val census = Dedup.dupSpans(docs, "doc_id", "text", k = 8)
      .select(col("doc_id"), col("dup_tokens"))
    val surgery = Dedup.removeDupSpans(docs, "doc_id", "text", k = 8)
      .select(col("doc_id"), col("n_removed").as("dup_tokens"))
    assert(census.exceptAll(surgery).count() === 0 &&
      surgery.exceptAll(census).count() === 0,
      "census and surgery must count the same covered tokens")
  }
}
