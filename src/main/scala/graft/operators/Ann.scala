package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search operators — the reusable library form
 * of queries q34 (IVF assignment) and q54 (IVF-routed search), so any vector
 * source (the `embeddings` table, [[Multimodal.extractFeatures]] output, …)
 * gets the sub-linear search path.
 *
 * Scale shape (the one that survives 100 TB): the centroid table broadcasts
 * (tiny), assignment is one map-side pass over the corpus, and the search is
 * a hash-partitionable equi-join on `cluster_id` — no corpus-sized
 * broadcast, no all-pairs product. Cluster skew is AQE-splittable because
 * the join-key cardinality grows with the centroid count.
 *
 * Cosine arithmetic uses the native codegen'd `vec_dot` expression
 * ([[graft.functions.FloatVecDot]]), so similarity stays inside whole-stage
 * codegen.
 */
object Ann {

  /**
   * Assign every row's vector to its maximum-dot-product centroid (ties to
   * the lowest centroid id). `centroids` must have (`centroid_id`, `ce`)
   * columns and be small enough to broadcast — it is the IVF coarse
   * codebook. Appends `cluster_id` and `n2` (the vector's squared norm,
   * reused by [[ivfSearch]]) to `df`'s columns.
   */
  def ivfAssign(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    require(centroids.columns.toSet == Set("centroid_id", "ce"),
      s"centroids needs exactly (centroid_id, ce); got ${centroids.columns.mkString(", ")}")
    // fail fast: internal/appended names must not collide with df's columns
    // (withColumn would silently clobber; the final select would duplicate)
    val reserved = Set("centroid_id", "ce", "cluster_id", "n2", "__cdot", "__rn")
    val clash = df.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    df.crossJoin(broadcast(centroids))
      .withColumn("__cdot", expr(s"vec_dot($vecCol, ce)"))
      .withColumn("__rn",
        expr(s"row_number() over (partition by $idCol order by __cdot desc, centroid_id asc)"))
      .filter(col("__rn") === 1)
      .select(df.columns.map(col) :+
        col("centroid_id").as("cluster_id") :+
        expr(s"vec_dot($vecCol, $vecCol)").as("n2"): _*)
  }

  /**
   * Multi-probe coarse assignment: every vector maps to its `nProbe`
   * nearest centroids, one output row per (vector, probed cluster) with
   * `probe_rank` 1..nProbe (rank 1 is the home cluster [[ivfAssign]]
   * elects). The generalization [[semanticDedup]] uses to catch pairs
   * split across a cluster boundary — the documented recall gap of
   * single-probe cell-local comparison: a pair meets if ANY probed
   * cluster is shared, so boundary recall rises with nProbe at linearly
   * more pair work and an unchanged equi-join shape (q228 measures it).
   * Same broadcast-codebook map pass as [[ivfAssign]]; output size is
   * nProbe x corpus.
   */
  def ivfMultiAssign(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      nProbe: Int): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    require(nProbe >= 1, s"nProbe ($nProbe) must be positive")
    val reserved = Set("centroid_id", "ce", "cluster_id", "probe_rank", "n2", "__cdot")
    val clash = df.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    df.crossJoin(broadcast(centroids))
      .withColumn("__cdot", expr(s"vec_dot($vecCol, ce)"))
      .withColumn("probe_rank",
        expr(s"row_number() over (partition by $idCol order by __cdot desc, centroid_id asc)"))
      .filter(col("probe_rank") <= nProbe)
      .select(df.columns.map(col) :+
        col("centroid_id").as("cluster_id") :+
        col("probe_rank") :+
        expr(s"vec_dot($vecCol, $vecCol)").as("n2"): _*)
  }

  /**
   * IVF-routed cosine top-k: every probe searches its `nProbe` nearest
   * coarse clusters (1 = fastest, recall limited to the home cluster;
   * raising it trades linearly more candidate work for recall, and
   * `nProbe` = centroid count degrades gracefully to exact brute force).
   * `probeIds` is a one-column frame of `idCol` values (kept bounded by
   * the caller — the broadcast side must not grow with the corpus).
   * Returns (pid, rank, cluster_id, cid, sim) with rank 1..k by
   * (sim desc, cid asc) — deterministic given a unique id column;
   * `cluster_id` is the CANDIDATE's home cluster.
   */
  def ivfSearch(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      probeIds: DataFrame,
      k: Int,
      nProbe: Int = 1): DataFrame = {
    require(k >= 1, s"k ($k) must be positive")
    require(nProbe >= 1, s"nProbe ($nProbe) must be positive")
    require(probeIds.columns.length == 1,
      s"probeIds must be a single-column frame of $idCol values")
    val searchReserved = Set("pid", "cid", "sim", "rank", "__pe", "__ce2", "__pn2", "__cn2")
    val searchClash = df.columns.toSet.intersect(searchReserved)
    require(searchClash.isEmpty,
      s"input columns collide with reserved names: $searchClash")
    val assigned = ivfAssign(spark, df, idCol, vecCol, centroids)
    // probes rank ALL centroids and keep their nProbe nearest — the same
    // broadcast codebook pass as assignment, restricted to the (bounded)
    // probe set; a candidate lives in exactly one cluster, so a pair can
    // never meet through two different probed clusters
    val probes = df
      .join(broadcast(probeIds.toDF(idCol)), Seq(idCol), "left_semi")
      .crossJoin(broadcast(centroids))
      .withColumn("__cdot", expr(s"vec_dot($vecCol, ce)"))
      .withColumn("__rn",
        expr(s"row_number() over (partition by $idCol order by __cdot desc, centroid_id asc)"))
      .filter(col("__rn") <= nProbe)
      .select(col(idCol).as("pid"), col(vecCol).as("__pe"),
        col("centroid_id").as("cluster_id"),
        expr(s"vec_dot($vecCol, $vecCol)").as("__pn2"))
    val cands = assigned
      .select(col(idCol).as("cid"), col(vecCol).as("__ce2"),
        col("cluster_id"), col("n2").as("__cn2"))
    cands.join(probes, Seq("cluster_id"))
      .filter(col("cid") =!= col("pid"))
      .withColumn("sim", expr("vec_dot(__pe, __ce2)") / (sqrt(col("__pn2")) * sqrt(col("__cn2"))))
      .withColumn("rank",
        expr("row_number() over (partition by pid order by sim desc, cid asc)"))
      .filter(col("rank") <= k)
      .select("pid", "rank", "cluster_id", "cid", "sim")
  }

  /**
   * SemDeDup-style semantic near-duplicate detection over an embedding
   * column: assign every vector to its coarse centroid ([[ivfAssign]]),
   * compare pairs ONLY within a cluster by exact cosine, and mark every
   * vector that has a LOWER-id cluster-mate at or above `simThreshold` as
   * dropped (keep-lowest canonical election — no connected components
   * needed: vectors inside an epsilon-ball are transitively close by
   * construction, so the lowest id is a stable keeper). Returns
   * `(idCol, cluster_id, kept)` for every input row.
   *
   * The 100 TB contract: pair work is Σ cluster² — bounded by sizing the
   * centroid count with the corpus (k ~ n / target_cluster_size, the same
   * knob [[ivfSearch]] turns); the pair join is a hash-partitionable
   * equi-join on cluster_id (no cartesian — plan-locked at the q108
   * use-site), AQE-splittable under cluster skew. This catches paraphrase
   * and re-encoding duplicates that exact/MinHash TEXT dedup cannot see;
   * its known approximation is pairs split across cluster boundaries —
   * `nProbe > 1` compares each vector inside its nProbe nearest clusters
   * ([[ivfMultiAssign]]), recovering boundary pairs at linearly more pair
   * work (q228 measures recall rising strictly with nProbe). The
   * reported `cluster_id` stays the home (rank-1) cluster at any nProbe,
   * and nProbe = 1 is bit-identical to the original single-probe shape.
   */
  def semanticDedup(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      simThreshold: Double,
      nProbe: Int = 1): DataFrame = {
    require(simThreshold > 0.0 && simThreshold <= 1.0,
      s"simThreshold ($simThreshold) must be in (0, 1]")
    require(nProbe >= 1, s"nProbe ($nProbe) must be positive")
    val reserved =
      Set("__id_a", "__ea", "__n2a", "__id_b", "__eb", "__n2b", "__sim", "is_dropped", "kept")
    val clash = df.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    val multi = ivfMultiAssign(
      spark, df.select(idCol, vecCol), idCol, vecCol, centroids, nProbe)
    // home (rank-1) assignment carries the output cluster; ALL probed
    // clusters participate in pairing (a pair meeting through two shared
    // clusters just yields duplicate pair rows — the distinct() below and
    // the row-wise sim filter make that harmless)
    val sized = multi.filter(col("probe_rank") === 1)
    val a = multi.select(col(idCol).as("__id_a"), col(vecCol).as("__ea"),
      col("cluster_id"), col("n2").as("__n2a"))
    val b = multi.select(col(idCol).as("__id_b"), col(vecCol).as("__eb"),
      col("cluster_id"), col("n2").as("__n2b"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("__id_a") < col("__id_b"))
      .withColumn("__sim",
        expr("vec_dot(__ea, __eb)") / (sqrt(col("__n2a")) * sqrt(col("__n2b"))))
      .filter(col("__sim") >= simThreshold)
      .select(col("__id_b").as(idCol))
      .distinct()
      .withColumn("is_dropped", lit(true))
    sized.select(idCol, "cluster_id")
      .join(dropped, Seq(idCol), "left")
      .withColumn("kept", coalesce(col("is_dropped"), lit(false)) === false)
      .select(idCol, "cluster_id", "kept")
  }

  /**
   * Per-cell MEDOID election: for every IVF cell, the member maximizing the
   * sum of cosines to its cell-mates — the dataset-summarization /
   * diversity-selection primitive (one REAL corpus representative per
   * region of embedding space; a centroid is a synthetic average, a medoid
   * is an actual row you can ship). Returns one row per non-singleton cell:
   * `(cluster_id, medoid_id, n_members, sum_cos)`.
   *
   * Scale: assignment is the broadcast-centroid map ([[ivfAssign]]); the
   * pairwise work is CELL-BOUNDED — one equi-join keyed on cluster_id,
   * O((N/k)^2 * k) total, never the corpus square; the election window
   * partitions by cell. Contract: cells with a single member have no pairs
   * and are absent from the result (a singleton's "representative" is
   * itself — callers that need it can left-join the assignment).
   *
   * Determinism: cosines are bit-identical across engines/partitionings
   * (codegen left-fold dot, IEEE sqrt/divide); per-member sums are
   * round(9)-then-DECIMAL — exact and order-independent — so the election
   * (max sum, ties to the lowest id) never flips with partition count.
   * `sum_cos` is emitted as a double rounded at 9 dp.
   */
  def cellMedoids(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame): DataFrame = {
    val reserved = Set("__ida", "__ea", "__n2a", "__idb", "__eb", "__n2b",
      "__cos", "__scos", "__rn", "medoid_id", "n_members", "sum_cos")
    val clash = df.columns.toSet.intersect(reserved)
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    val a = ivfAssign(spark, df.select(idCol, vecCol), idCol, vecCol, centroids)
    val l = a.select(col("cluster_id"), col(idCol).as("__ida"),
      col(vecCol).as("__ea"), col("n2").as("__n2a"))
    val r = a.select(col("cluster_id"), col(idCol).as("__idb"),
      col(vecCol).as("__eb"), col("n2").as("__n2b"))
    val sums = l.join(r, Seq("cluster_id"))
      .filter(col("__ida") =!= col("__idb"))
      .withColumn("__cos",
        expr("vec_dot(__ea, __eb)") / (sqrt(col("__n2a")) * sqrt(col("__n2b"))))
      .groupBy("cluster_id", "__ida")
      .agg(count(lit(1)).as("__nothers"),
        sum(expr("cast(round(__cos, 9) as decimal(28,9))")).as("__scos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(desc("__scos"), asc("__ida"))
    sums.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .selectExpr("cluster_id", s"__ida as medoid_id",
        "cast(__nothers + 1 as bigint) as n_members",
        "round(cast(__scos as double), 9) as sum_cos")
  }

  /**
   * Train the IVF coarse codebook itself: `iters` rounds of Lloyd's k-means
   * over `df`'s float-array `vecCol`, maximum-dot-product assignment (the
   * same metric [[ivfAssign]]/[[ivfSearch]] route by, so the trained
   * centroids drop straight into them). Returns the `(centroid_id, ce)`
   * codebook frame the other Ann entry points take.
   *
   * Deterministic and engine-reproducible by construction:
   *  - init is a FARTHEST-FIRST sweep (k-center greedy) over a salted-hash
   *    bottom-`max(8k, 64)` sample: the smallest-id sample vector seeds
   *    first, then each next seed is the sample point LEAST similar (by
   *    max dot) to the chosen set, ties to the lowest id. No RNG — the
   *    sample is the q70 bottom-k hash order (partitioning- and
   *    growth-stable), dots are the bit-identical `vec_dot` folds, so the
   *    seeds are reproducible across engines. Unlike first-k-ids init,
   *    degenerate id order cannot start Lloyd's with co-located seeds;
   *  - assignment ties break to the lowest centroid id;
   *  - the mean update sums each dimension in exact DECIMAL (order-independent
   *    across partitions), divides as IEEE doubles, and narrows to float —
   *    so every iteration's centroids are bit-identical however the corpus
   *    is partitioned (and in any engine following the same spelling);
   *  - a cluster that loses all members keeps its previous centroid.
   *
   * Vector contract (enforced, loud): every `vecCol` must be a non-null
   * array of exactly `dims` non-null elements — ragged or null-holed
   * vectors would otherwise silently deflate per-dimension means
   * (posexplode emits only present dims; count counts null rows that sum
   * skips).
   *
   * Seeding cost: ONE corpus pass (per-partition bottom-S + driver merge,
   * no shuffle) plus k-1 scans of the S-row sample — the sample never
   * exceeds broadcast size, so seeding stays O(corpus) total at any k.
   *
   * Scale shape (MLlib's own Lloyd's layout, spelled relationally): per
   * iteration the corpus is scanned ONCE against the broadcast codebook
   * (map-side argmax, no shuffle), and the only shuffle is the mean update —
   * a (cluster, dim)-keyed aggregate with k x dims groups, collapsed almost
   * entirely by map-side partial aggregation. The k-row codebook is
   * `localCheckpoint`ed each round, truncating the otherwise
   * O(iters x corpus-scan) lineage. Callers iterating many rounds at 100 TB
   * should `persist` the (id, vec) projection they pass in — the corpus is
   * read `iters` times.
   *
   * EXECUTION SEMANTICS: training runs EAGERLY — each seeding step and
   * Lloyd's round fires Spark jobs during this call (the checkpoints that
   * bound lineage force execution), and the checkpointed frames are
   * executor-local with truncated lineage: an executor loss mid- or
   * post-training fails downstream actions unrecoverably; re-invoke to
   * retrain. See [[GlobalRank]] for why checkpoint beats persist here.
   */
  def kmeansFit(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      dims: Int): DataFrame =
    kmeansFitWith(spark, df, idCol, vecCol, k, iters, dims, localControl = true)

  /** [[kmeansFit]] with the control-plane choice as an argument, so a spec
    * can run the distributed control plane (`localControl = false`). */
  private[operators] def kmeansFitWith(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      dims: Int,
      localControl: Boolean): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    require(k >= 1, s"k ($k) must be positive")
    require(iters >= 0, s"iters ($iters) must be non-negative")
    require(dims >= 1, s"dims ($dims) must be positive")
    val reserved = Set("centroid_id", "ce", "cluster_id", "n2",
      "__dim", "__x", "__s", "__n", "__newce", "__hk", "__d", "__md")
    val clash = df.columns.toSet.intersect(reserved - "centroid_id" - "ce")
    require(clash.isEmpty, s"input columns collide with reserved names: $clash")
    // loud vector contract: the check rides INSIDE the projected column so
    // no pruning can drop it (the GlobalRank/Packer raise_error pattern)
    val corpus = df.select(col(idCol), expr(
      s"""case when $vecCol is null or size($vecCol) != $dims
               or exists($vecCol, x -> x is null)
          then cast(raise_error(concat(
            'Ann.kmeansFit: $vecCol must be a non-null array of exactly $dims ',
            'non-null elements; got size ',
            coalesce(cast(size($vecCol) as string), 'null'))) as array<float>)
          else $vecCol end""").as(vecCol))
    // ---- farthest-first seeding over the deterministic hash-order sample
    val sampleSize = math.max(8 * k, 64)
    val sampleQ = corpus
      .select(col(idCol), col(vecCol),
        expr(graft.functions.HashConventions
          .md5long48(s"concat('kmpp|', cast($idCol as string))")).as("__hk"))
      .orderBy(col("__hk"), col(idCol))
      .limit(sampleSize)
      .select(col(idCol), col(vecCol))
    // r12 (guide §1.2 step 1): the seeding sample (<= max(8k, 64) rows) and
    // the per-round mean sums (k x dims rows) are MODEL-class data BY
    // CONSTRUCTION at any corpus size — the whole training control plane
    // runs driver-side over one collect per step: the k-1 per-seed Spark
    // jobs (each a sample scan + broadcast build + checkpoint) collapse to
    // one sample collect, and each Lloyd's round is ONE job (assignment +
    // k x dims aggregate, collected) instead of a job plus a checkpointed
    // codebook join. The arithmetic is replayed EXACTLY (same left-fold
    // double dot, same max/tie ordering, same DECIMAL sums, double divide,
    // float narrowing) — locked bit-identical by KmeansLocalControlSpec.
    // Integral ids take it; any other id type (and `localControl = false`)
    // keeps the distributed control plane (the per-round corpus work is
    // identical in both).
    val integralId = {
      import org.apache.spark.sql.types._
      corpus.schema(idCol).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    if (localControl && integralId) return kmeansFitLocalControl(
      spark, corpus, idCol, vecCol, k, iters, dims, sampleQ)
    val sample = sampleQ
      .localCheckpoint(true) // scanned k-1 times below; S rows, never the corpus
    var cents = sample
      .orderBy(col(idCol))
      .limit(1)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("ce"))
      .localCheckpoint(true)
    for (_ <- 2 to k) {
      val far = sample
        .join(cents.select(col("centroid_id").as(idCol)), Seq(idCol), "left_anti")
        .crossJoin(broadcast(cents))
        .withColumn("__d", expr(s"vec_dot($vecCol, ce)"))
        .groupBy(col(idCol))
        .agg(max(col("__d")).as("__md"))
        .orderBy(col("__md").asc, col(idCol).asc)
        .limit(1)
        .join(sample, Seq(idCol))
        .select(col(idCol).as("centroid_id"), col(vecCol).as("ce"))
      cents = cents.unionByName(far).localCheckpoint(true)
    }
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(spark, corpus, idCol, vecCol, cents)
        .select(col("cluster_id"), col(vecCol))
      // exact per-dimension mean: DECIMAL sum (partition-order independent),
      // IEEE double division, float narrowing — the cross-engine spelling
      val sums = assigned
        .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("__dim", "__x")))
        .groupBy(col("cluster_id"), col("__dim"))
        .agg(
          sum(col("__x").cast("double").cast("decimal(28,12)")).as("__s"),
          count(lit(1)).as("__n"))
      val newCents = sums
        .groupBy(col("cluster_id").as("centroid_id"))
        .agg(expr(
          """transform(
               array_sort(collect_list(struct(__dim, cast(cast(__s as double) / __n as float) as v))),
               p -> p.v)""").as("__newce"))
      cents = cents
        .join(newCents, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("__newce"), col("ce")).as("ce"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Driver-local control plane for [[kmeansFit]] — IDENTICAL elections and
    * arithmetic, see the dispatch comment there. Corpus-sized work (the
    * per-round assignment + k x dims aggregate) stays distributed. */
  private def kmeansFitLocalControl(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      dims: Int,
      sampleQ: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = corpus.schema(idCol).dataType
    def idLong(r: org.apache.spark.sql.Row, i: Int): Long = idType match {
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType => r.getInt(i).toLong
      case _ => r.getLong(i)
    }
    val sample: Array[(Long, Array[Float])] = sampleQ.collect()
      .map(r => (idLong(r, 0), r.getSeq[Float](1).toArray))
    // the exact vec_dot fold: double accumulation, left to right
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    // seed 1: smallest sample id; seeds 2..k: the remaining sample point
    // with the LEAST max-dot to the chosen set, ties to the lowest id —
    // the same (md asc, id asc) election the distributed loop runs
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
    if (sample.nonEmpty) chosen += sample.minBy(_._1)
    val chosenIds = scala.collection.mutable.Set.empty[Long]
    chosen.foreach(c => chosenIds += c._1)
    for (_ <- 2 to k if chosen.nonEmpty) {
      var best: (Double, Long, Array[Float]) = null
      sample.foreach { case (id, v) =>
        if (!chosenIds.contains(id)) {
          var md = java.lang.Double.NEGATIVE_INFINITY
          chosen.foreach { case (_, ce) =>
            val d = dot(v, ce)
            if (java.lang.Double.compare(d, md) > 0) md = d
          }
          if (best == null || java.lang.Double.compare(md, best._1) < 0 ||
              (java.lang.Double.compare(md, best._1) == 0 && id < best._2))
            best = (md, id, v)
        }
      }
      if (best != null) { chosen += ((best._2, best._3)); chosenIds += best._2 }
    }
    var cents: Array[(Long, Array[Float])] = chosen.toArray
    def centsDf(cs: Array[(Long, Array[Float])]): DataFrame = {
      def boxId(v: Long): Any = idType match {
        case ByteType => v.toByte
        case ShortType => v.toShort
        case IntegerType => v.toInt
        case _ => v
      }
      val rows = cs.map { case (cid, ce) =>
        org.apache.spark.sql.Row(boxId(cid), ce.toSeq)
      }
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(Seq(
          StructField("centroid_id", idType),
          StructField("ce", ArrayType(FloatType)))))
    }
    for (_ <- 1 to iters if cents.nonEmpty) {
      val assigned = ivfAssign(spark, corpus, idCol, vecCol, centsDf(cents))
        .select(col("cluster_id"), col(vecCol))
      // exact per-dimension mean: DECIMAL sum (partition-order independent),
      // IEEE double division, float narrowing — the cross-engine spelling,
      // with the k x dims sums collected and the divide/narrow replayed
      // driver-side
      val sums = assigned
        .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("__dim", "__x")))
        .groupBy(col("cluster_id"), col("__dim"))
        .agg(
          sum(col("__x").cast("double").cast("decimal(28,12)")).as("__s"),
          count(lit(1)).as("__n"))
        .collect()
      val byCluster = sums.groupBy(r => idLong(r, 0))
      val newce = byCluster.map { case (cid, rows) =>
        val arr = new Array[Float](dims)
        rows.foreach { r =>
          arr(r.getInt(1)) = (r.getDecimal(2).doubleValue() / r.getLong(3)).toFloat
        }
        cid -> arr
      }
      cents = cents.map { case (cid, ce) => (cid, newce.getOrElse(cid, ce)) }
    }
    centsDf(cents)
  }
}
