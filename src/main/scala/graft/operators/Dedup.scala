package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for document corpora — the library forms of
 * queries q23 (exact) and q24/q25 (MinHash+LSH). Both are shapes that
 * survive 100 TB: exact dedup is one hash shuffle; LSH candidate generation
 * buckets the corpus so the pair join is per-bucket, never all-pairs.
 */
object Dedup {

  import graft.functions.HashConventions.{md5long48, MinhashP => P, MinhashPerms => DefaultPerms}

  /**
   * Exact deduplication by content: rows with identical `contentCol` values
   * form one group; the row with the smallest `idCol` is elected canonical.
   * Appends `content_hash`, `group_size`, and `is_canonical`. One
   * map-side-combinable shuffle on the hash — the 100 TB shape.
   *
   * The group key is the FULL 128-bit md5 (as q23 uses), not the library's
   * 48-bit value hash: grouping by a truncated hash would falsely merge
   * distinct documents by the birthday bound from ~2^24 docs — well inside
   * this operator's advertised scale.
   */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val hashed = df.withColumn("content_hash", md5(col(contentCol).cast("binary")))
    val w = Window.partitionBy("content_hash")
    hashed
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col(idCol) === min(col(idCol)).over(w))
  }

  /**
   * MinHash + banded LSH near-duplicate CANDIDATE pairs: shingle each text
   * into word n-grams, hash once, take `perms.size` permutation minima,
   * band them `rowsPerBand` at a time, and emit each pair of distinct docs
   * sharing at least one band bucket exactly once.
   *
   * Cost is per-bucket (Σ bucket²), not corpus² — the candidate set an
   * exact verifier (e.g. n-gram Jaccard) then scores. Docs with fewer than
   * `shingleN` tokens produce no shingles and never pair.
   */
  def minhashLshCandidates(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      rowsPerBand: Int = 2,
      perms: Seq[(Long, Long)] = DefaultPerms): DataFrame = {
    require(perms.nonEmpty && perms.size % rowsPerBand == 0,
      s"perms (${perms.size}) must split evenly into bands of $rowsPerBand")
    graft.functions.NativeFunctions.register(spark)
    val minhashes = perms.zipWithIndex.map { case ((a, b), i) =>
      s"array_min(transform(hs, h -> ($a * (h % $P) + $b) % $P)) as minh$i"
    }
    val nBands = perms.size / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"minh${b * rowsPerBand + r}"))
      concat_ws("_", lit(b.toString) +: cols: _*).as(s"band$b")
    }
    // hash each shingle ONCE into hs; each permutation is then cheap
    // arithmetic (Catalyst does not share subexpressions across lambdas)
    // script-aware tokens (whitespace runs / CJK char bigrams): unspaced
    // CJK text shingles over bigram units instead of arriving as one
    // un-shingleable "word"; degenerates to split-on-space on clean
    // spaced text, so spaced-corpus signatures are unchanged
    val sigs = df
      .withColumn("toks", expr(s"tokenize_text(`$textCol`)"))
      .filter(size(col("toks")) >= shingleN)
      .withColumn("hs", expr(s"word_ngram_hash48(toks, $shingleN)"))
      .selectExpr(idCol +: minhashes: _*)
      .select(col(idCol) +: bands: _*)
    val posts = sigs.select(
      col(idCol),
      explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("bucket"))
    val a = posts.select(col(idCol).as("id_a"), col("bucket"))
    val b = posts.select(col(idCol).as("id_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct() // a pair may collide in several bands; emit once
  }

  /**
   * SQL fragment: random-hyperplane sign-bit bucket over planes
   * [planeLo, planeHi) for a float-array column of `dim` dimensions.
   * Plane value for (plane i, dim j) is a deterministic LCG step mapped to
   * [-0.5, 0.5) — pure integer arithmetic below 2^63, so DuckDB computes
   * the identical bucket and the q38-style oracle can re-derive it. Stays a
   * single codegen'd expression (no UDF, no shuffle).
   */
  def hyperplaneBucketSql(vecCol: String, dim: Int, planeLo: Int, planeHi: Int): String = {
    require(planeHi - planeLo <= 63, s"a band of ${planeHi - planeLo} sign bits overflows bigint")
    val planeDot =
      s"""aggregate(sequence(1, $dim), cast(0 as double), (acc, j) ->
           acc + cast(element_at($vecCol, j) as double) *
             (cast((1103515245 * cast(i * $dim + (j - 1) as bigint) + 12345) % 2147483648 as double)
              / 2147483648.0 - 0.5))"""
    s"""aggregate(transform(sequence($planeLo, ${planeHi - 1}), i ->
          cast(case when $planeDot >= 0 then shiftleft(cast(1 as bigint), i - $planeLo) else 0 end as bigint)),
        cast(0 as bigint), (acc, x) -> acc + x)"""
  }

  /**
   * Random-hyperplane LSH near-duplicate CANDIDATE pairs over an embedding
   * column — the vector-space sibling of [[minhashLshCandidates]], with the
   * same knobs: `nPlanes` total sign bits split into `nBands` OR-ed bands
   * (`nPlanes / nBands` bits each). More planes per band → smaller buckets
   * (each bit halves the expected bucket) → fewer, more precise candidates;
   * more bands → higher recall at the same per-band precision. Corpus growth
   * is answered by RAISING `nPlanes` so per-bucket pair counts stay bounded —
   * the knob q38's fixed 8-plane spelling lacked.
   *
   * Cost is per-bucket (Σ bucket²), never all-pairs; candidate generation is
   * map-only up to the one bucket-key shuffle.
   */
  def hyperplaneLshCandidates(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int = 64,
      nPlanes: Int = 8,
      nBands: Int = 1): DataFrame = {
    require(nPlanes >= 1 && nBands >= 1 && nPlanes % nBands == 0,
      s"nPlanes ($nPlanes) must split evenly into $nBands bands")
    val perBand = nPlanes / nBands
    val bands = (0 until nBands).map { b =>
      expr(hyperplaneBucketSql(vecCol, dim, b * perBand, (b + 1) * perBand)).as(s"band$b")
    }
    val sigs = df.select(col(idCol) +: bands: _*)
    val posts = sigs.select(
      col(idCol),
      explode(array((0 until nBands).map(b =>
        concat_ws("_", lit(b.toString), col(s"band$b"))): _*)).as("bucket"))
    val a = posts.select(col(idCol).as("id_a"), col("bucket"))
    val b = posts.select(col(idCol).as("id_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /**
   * Duplicate CLUSTERS from candidate pairs — the step that turns pairwise
   * near-dup evidence into "keep one document per group": connected
   * components of the (id_a, id_b) graph via iterative min-label
   * propagation. Every member gets `cluster_id` = the smallest doc id
   * reachable from it (so the canonical-elect rule matches [[exact]]:
   * cluster_id == member id marks the keeper).
   *
   * Each round does neighbor propagation (adopt the minimum label in the
   * 1-hop neighborhood) followed by pointer doubling (adopt the label OF
   * the label), so label reach doubles per round and convergence is
   * O(log diameter) — 4 rounds cover a 16-hop chain, and near-dup graphs
   * are overwhelmingly tiny cliques anyway. `maxIters` bounds the
   * pathological case; the loop stops early on a fixpoint (checked with one
   * count per round, a deliberate driver-side CONTROL decision, not data
   * movement).
   *
   * @param pairs candidate pairs (two id columns, e.g. from
   *              [[minhashLshCandidates]])
   * @return (member id, cluster_id) — one row per distinct id in `pairs`
   */
  def clusters(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 10): DataFrame =
    clustersWith(pairs, idA, idB, maxIters, LocalMaxEdges)

  /** Edge lists up to this size run [[clusters]] on the driver. */
  private val LocalMaxEdges = 4L * 1024 * 1024

  /** [[clusters]] with the local-path threshold as an argument, so a spec
    * can force either path (0 = distributed, huge = local). */
  private[operators] def clustersWith(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIters: Int,
      localMaxEdges: Long): DataFrame = {
    // undirected edge list, both directions; every member stays present
    // because each round unions the current labels into the propagation
    // (a node with no smaller-labeled neighbor keeps its own row).
    // Materialized ONCE: every round joins against it, and without the
    // checkpoint each round would re-execute the whole candidate pipeline
    // (for LSH candidates that is a corpus-wide hashing pass per round).
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Size-adaptive dispatch (optimization round r12, guide §1.2 step 1 —
    // same discipline as the r11 BPE local fit): the near-dup pair GRAPH is
    // model-class data (pairwise evidence, not corpus rows). When the
    // de-duplicated directed edge list fits the driver, the whole label
    // propagation runs locally over one collect — the per-round Spark-job
    // loop (one localCheckpoint + one convergence aggregate per round, 2-10
    // rounds) collapses into one job plus a driver-side replica of the
    // IDENTICAL iteration (same propagate/double updates, same
    // sum-unchanged stopping rule, same maxIters bound — locked by
    // CcLocalSpec). Graphs above `localMaxEdges` edges (4 Mi from
    // [[clusters]]) take the distributed loop unchanged. Integral ids
    // only: the local min() must reproduce Spark's ordering bit-for-bit,
    // which is trivially true for longs and not worth proving for
    // strings/decimals.
    val longIds = {
      import org.apache.spark.sql.types._
      edges.schema("src").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    if (longIds && localMaxEdges > 0) {
      // limit(max+1): on an over-threshold graph this short-circuits after
      // max+1 rows instead of paying a full count of a huge edge list
      val head = edges
        .select(col("src").cast("long"), col("dst").cast("long"))
        .limit(math.min(localMaxEdges, (Int.MaxValue - 2).toLong).toInt + 1)
        .collect()
      if (head.length <= localMaxEdges) {
        val srcType = edges.schema("src").dataType
        return localClusters(
          pairs.sparkSession,
          head.map(r => (r.getLong(0), r.getLong(1))), maxIters, srcType)
      }
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    // Convergence test, cheapest available for the id type:
    //  - INTEGRAL ids (and scale-0 decimals): min-propagation only ever
    //    LOWERS a label, so the label SUM strictly decreases iff any node
    //    changed — one tiny scalar aggregate per round. decimal(38,0) so
    //    10^9 nodes x 10^9 ids cannot overflow the running sum. Fractional
    //    types are EXCLUDED: the sum is computed after a cast to
    //    decimal(38,0), which ROUNDS, so a real lowering (2.6 -> 2.5, both
    //    rounding to 3) could leave the rounded sum unchanged and declare
    //    convergence early; a huge double overflowing decimal(38,0) nulls
    //    the sum with the same silent-split effect.
    //  - any other id type (string/binary/float/double/scaled decimal):
    //    fall back to the join + changed-count check, which is
    //    type-agnostic and exact.
    import org.apache.spark.sql.types._
    val numericIds = labels.schema("cluster_id").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).first()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = if (numericIds) labelSum(labels) else null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // every node adopts min(own label, neighbors' labels)
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("cluster_id"))
      val propagated = labels.select(col("id"), col("cluster_id"))
        .union(neighborLabels)
        .groupBy("id")
        .agg(min("cluster_id").as("cluster_id"))
        // checkpoint BEFORE the self-join below: cuts the growing lineage
        // (each round otherwise re-plans every previous round) and gives the
        // join's two sides distinct attribute ids
        .localCheckpoint(true)
      // pointer doubling: follow the label one more step (label of label),
      // doubling how far a small label travels per round
      val next = propagated
        .join(
          propagated.select(col("id").as("lid"), col("cluster_id").as("lcl")),
          col("cluster_id") === col("lid"), "left")
        .select(
          col("id"),
          least(col("cluster_id"), coalesce(col("lcl"), col("cluster_id"))).as("cluster_id"))
      if (numericIds) {
        val newSum = labelSum(next)
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
      } else {
        converged = next.alias("n")
          .join(labels.alias("o"), Seq("id"))
          .filter(col("n.cluster_id") =!= col("o.cluster_id"))
          .isEmpty
      }
      labels = next
      i += 1
    }
    labels
  }

  /** Driver-local replica of [[clusters]]'s distributed iteration — the
    * IDENTICAL update rule (per round: every node adopts the minimum label
    * in its 1-hop neighborhood, then follows the label one more step), the
    * IDENTICAL stopping rule (stop when no label changed — the distributed
    * loop's label-sum test, which is equivalent because min-propagation
    * only ever lowers labels — or after `maxIters` rounds), so the returned
    * (id, cluster_id) rows are exactly the distributed loop's, including
    * the partially-converged labels of a pathological > 2^maxIters-hop
    * chain. Locked by CcLocalSpec (local == distributed on real LSH pair
    * graphs + edge cases). */
  private[operators] def localClusters(
      spark: SparkSession,
      edges: Array[(Long, Long)],
      maxIters: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types._
    val index = new java.util.HashMap[Long, Int]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    edges.foreach { case (s, _) =>
      if (!index.containsKey(s)) { index.put(s, ids.length); ids += s }
    }
    val n = ids.length
    var label = Array.tabulate(n)(i => ids(i))
    var converged = n == 0
    var it = 0
    while (!converged && it < maxIters) {
      // propagate: min over self + 1-hop neighbor labels
      val prop = label.clone()
      edges.foreach { case (s, d) =>
        val si = index.get(s)
        val dl = label(index.get(d))
        if (dl < prop(si)) prop(si) = dl
      }
      // pointer doubling: adopt the label OF the label where it is a node
      val next = new Array[Long](n)
      var i = 0
      while (i < n) {
        val p = prop(i)
        val j = index.getOrDefault(p, -1)
        next(i) = if (j >= 0 && prop(j) < p) prop(j) else p
        i += 1
      }
      converged = java.util.Arrays.equals(next, label)
      label = next
      it += 1
    }
    def boxed(v: Long): Any = idType match {
      case ByteType => v.toByte
      case ShortType => v.toShort
      case IntegerType => v.toInt
      case _ => v
    }
    val rows = (0 until n).map(i =>
      org.apache.spark.sql.Row(boxed(ids(i)), boxed(label(i))))
    val schema = StructType(Seq(
      StructField("id", idType), StructField("cluster_id", idType)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  /**
   * Exact duplicated-SPAN detection — the substring-level counterpart of
   * document-level dedup (the operation behind "remove any 50-token span
   * that repeats anywhere in the corpus" from the published train-data
   * dedup recipes). Every k-token gram that occurs more than once ANYWHERE
   * (cross-doc or within-doc) marks its start position; per document,
   * overlapping/adjacent duplicated grams merge (gaps-and-islands on start
   * positions: a gap > k starts a new island) into MAXIMAL duplicated
   * spans. Returns one row per input doc:
   * (idCol, n_tok, n_dup_spans, dup_tokens, max_span, dup_ratio) where
   * dup_tokens is the exact token count covered by the span union.
   *
   * Scale shape: one gram-keyed aggregation (map-side combinable counts,
   * never position lists) + one gram-keyed semi-join fanning each
   * occurrence once, a doc-keyed window bounded by per-doc gram counts,
   * and a doc-keyed final aggregate. No all-pairs anywhere; a hot gram
   * costs its occurrence count, not its count squared.
   */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
    val spans = dupIslands(toks, idCol, k)
    val perDoc = spans.groupBy(idCol).agg(
      count(lit(1)).as("n_dup_spans"),
      sum(col("span_len").cast("long")).as("dup_tokens"),
      max("span_len").as("max_span"))
    toks.select(col(idCol), col("n_tok"))
      .join(perDoc, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_spans", "dup_tokens", "max_span"))
      .withColumn("dup_ratio",
        col("dup_tokens").cast("double") / col("n_tok").cast("double"))
  }

  /**
   * Substring-dedup SURGERY — [[dupSpans]] actually applied: every token
   * covered by a duplicated k-gram span is REMOVED from the text (the
   * aggressive all-occurrences variant of the published "delete repeated
   * 50-token spans" recipe; deleting every occurrence rather than keeping
   * one canonical copy is the deterministic choice that needs no global
   * occurrence election). Returns one row per input doc:
   * (idCol, clean_text, n_tok, n_removed) where clean_text re-joins the
   * surviving tokens with single spaces and n_removed is the exact covered
   * token count (a doc that was entirely duplicated spans becomes the
   * empty string, not a dropped row — row-count preservation is what lets
   * this stage compose into pipelines).
   *
   * Scale shape: [[dupIslands]]'s gram-agg + semi-join + doc-keyed window,
   * then the per-doc span set (bounded by n_tok/k entries) collects into
   * ONE array column and a single codegen'd `filter` HOF drops covered
   * tokens in O(n_tok x spans) per doc — never an exploded token-level
   * join, so clean-up costs one doc-keyed aggregation regardless of how
   * duplicated the corpus is.
   */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = tokenized(docs, idCol, textCol)
    val spanSets = dupIslands(toks, idCol, k)
      .groupBy(idCol)
      .agg(collect_list(struct(col("first_p").as("f"), col("last_p").as("l")))
        .as("spans"),
        sum(col("span_len").cast("long")).as("n_removed"))
    toks
      .join(spanSets, Seq(idCol), "left")
      .select(
        col(idCol),
        expr(s"concat_ws(' ', filter(toks, (t, j) -> spans IS NULL OR " +
          s"NOT exists(spans, sp -> j >= sp.f AND j <= sp.l + ${k - 1})))")
          .as("clean_text"),
        col("n_tok"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /**
   * C4-style global segment dedup — KEEP-FIRST variant. The text splits
   * into consecutive non-overlapping w-token segments (the "lines" of a
   * corpus that carries no newlines; C4 deduplicated three-sentence spans
   * the same way); each distinct segment keeps exactly ONE occurrence
   * corpus-wide — the globally first by (idCol, seg_no) — and every later
   * occurrence is deleted. Returns one row per input doc:
   * (idCol, clean_text, n_seg, n_seg_removed) with rows preserved even
   * when every segment of a doc loses its election.
   *
   * Contrast with [[removeDupSpans]]: that removes ALL occurrences of
   * duplicated material (decontamination-style surgery); this retains one
   * canonical copy (training-mixture-preserving dedup), which requires a
   * global election instead of a local predicate.
   *
   * Scale shape: one segment-keyed aggregation electing min(struct(id,
   * seg_no)) — map-side combinable, no position lists — then one
   * segment-keyed join fanning each occurrence once, and one doc-keyed
   * aggregate re-assembling surviving segments via
   * array_sort(collect_list(struct)) bounded by n_tok/w entries per doc.
   * A segment duplicated a million times costs its occurrence count once
   * through the join, never count squared.
   */
  def keepFirstSegments(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    val segs = segments(docs, idCol, textCol, w)
    val firsts = segs
      .groupBy("seg")
      .agg(min(struct(col(idCol).as("id"), col("seg_no").as("sn"))).as("first_occ"))
    segs
      .join(firsts, Seq("seg"))
      .withColumn("kept",
        col(idCol) === col("first_occ.id") && col("seg_no") === col("first_occ.sn"))
      .groupBy(idCol)
      .agg(
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN " +
            "struct(seg_no, seg) END)), x -> x.seg)")).as("clean_text"),
        count(lit(1)).as("n_seg"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_seg_removed"))
  }

  /** (idCol, seg_no, seg): the consecutive non-overlapping w-token
    * segmentation shared by [[keepFirstSegments]] and the streaming
    * keep-first screen ([[graft.streaming.DedupStreams]]) — a pure
    * projection (map-only), so the identical spelling runs on batch and
    * streaming frames. The tail shorter than w is a segment too. */
  def segments(docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w >= 1, s"segment width w ($w) must be positive")
    tokenized(docs, idCol, textCol)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, cast(ceil(n_tok / ${w}.0) as int) - 1), " +
          s"i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))")))
      .withColumnRenamed("pos", "seg_no")
      .withColumnRenamed("col", "seg")
  }

  /** (idCol, toks, n_tok): whitespace tokenization shared by the span
    * family; `split`/`concat_ws(' ')` round-trip exactly (consecutive
    * delimiters become empty-string tokens and re-join identically). */
  private def tokenized(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), split(col(textCol), " ").as("toks"))
      .withColumn("n_tok", size(col("toks")))

  /**
   * Maximal duplicated-span extents per doc: (idCol, island, first_p,
   * last_p, span_len) — every k-gram occurring more than once anywhere
   * marks its start; per-doc gaps-and-islands (a gap > k between
   * consecutive starts opens a new island) merges overlapping/adjacent
   * marks. `span_len` counts tokens first_p .. last_p + k - 1. Shared by
   * [[dupSpans]] (census) and [[removeDupSpans]] (surgery).
   */
  private def dupIslands(toks: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"gram size k ($k) must be positive")
    val grams = toks
      .filter(col("n_tok") >= k)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, n_tok - $k), i -> concat_ws(' ', slice(toks, i + 1, $k)))")))
      .withColumnRenamed("pos", "p")
      .withColumnRenamed("col", "gram")
    val dupGrams = grams
      .groupBy("gram").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
      .select("gram")
    val dupOcc = grams.join(dupGrams, Seq("gram"), "left_semi").select(col(idCol), col("p"))
    val w = Window.partitionBy(idCol).orderBy("p")
    dupOcc
      .withColumn("new_island",
        coalesce((col("p") - lag("p", 1).over(w) > k).cast("int"), lit(1)))
      .withColumn("island", sum(col("new_island"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("island"))
      .agg(min("p").as("first_p"), max("p").as("last_p"))
      .withColumn("span_len", col("last_p") - col("first_p") + k)
  }
}
