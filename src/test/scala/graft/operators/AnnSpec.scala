package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The reusable IVF operators against the q54 query spelling, and the full
  * multimodal chain: binary payload -> features -> routed ANN top-k. */
class AnnSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("Ann.ivfSearch equals an independent driver-side reimplementation") {
    // NOT compared against q54: q54 now routes through this very operator,
    // so that comparison would be circular. The oracle here is plain Scala
    // collections on the driver — assignment, routing, similarity, and
    // ranking re-derived from scratch. Doubles compare EXACTLY: vec_dot's
    // contract is a strict left-to-right double accumulation from +0.0,
    // mirrored below, and the remaining arithmetic is plain IEEE ops.
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val centroids = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val probeIds = e.filter(col("vec_id") < 20).select("vec_id")
    val got = Ann.ivfSearch(spark, e.select("vec_id", "embedding"),
        "vec_id", "embedding", centroids, probeIds, k = 3)
      .select("pid", "rank", "cluster_id", "cid", "sim")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet

    val all = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val cents = all.filter(_._1 < 8) // sorted by id: first strict max = lowest-id tie winner
    val assigned = all.map { case (id, v) =>
      val best = cents.foldLeft((Long.MinValue, Double.NegativeInfinity)) {
        case ((bi, bd), (ci, cv)) =>
          val d = dot(v, cv); if (d > bd) (ci, d) else (bi, bd)
      }._1
      (id, v, best)
    }
    val want = (for {
      (pid, pv, pc) <- assigned if pid < 20
      ((cid, sim), idx) <- assigned
        .filter { case (cid, _, cc) => cc == pc && cid != pid }
        .map { case (cid, cv, _) =>
          (cid, dot(pv, cv) / (math.sqrt(dot(pv, pv)) * math.sqrt(dot(cv, cv))))
        }
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(3).zipWithIndex
    } yield (pid, idx + 1, pc, cid, sim)).toSet
    assert(got === want, "operator must equal the driver-side reimplementation")
  }

  test("nProbe sweeps recall up to exact brute force at nProbe = centroid count") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet").select("vec_id", "embedding")
    val centroids = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    val probeIds = e.filter(col("vec_id") < 20).select("vec_id")
    def searched(nProbe: Int): Set[(Long, Int, Long)] =
      Ann.ivfSearch(spark, e, "vec_id", "embedding", centroids, probeIds,
          k = 3, nProbe = nProbe)
        .select("pid", "rank", "cid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // exact oracle: brute-force cosine top-3 (same sim formula, no routing)
    graft.functions.NativeFunctions.register(spark)
    val p = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val brute = e.select(col("vec_id").as("cid"), col("embedding").as("ce2"))
      .crossJoin(p).filter(col("cid") =!= col("pid"))
      .withColumn("sim", expr("vec_dot(pe, ce2)") /
        (sqrt(expr("vec_dot(pe, pe)")) * sqrt(expr("vec_dot(ce2, ce2)"))))
      .withColumn("rank",
        expr("row_number() over (partition by pid order by sim desc, cid asc)"))
      .filter(col("rank") <= 3)
      .select("pid", "rank", "cid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def recall(s: Set[(Long, Int, Long)]): Double =
      s.map(t => (t._1, t._3)).intersect(brute.map(t => (t._1, t._3))).size.toDouble / brute.size
    val r1 = recall(searched(1))
    val r4 = recall(searched(4))
    assert(r1 <= r4 + 1e-9, s"recall must not drop as nProbe grows: $r1 vs $r4")
    // at nProbe = centroid count every candidate is reachable: EXACT equality
    assert(searched(8) === brute, "full-probe IVF must equal brute force")
    assert(r1 < 1.0, "the sf0.001 corpus must actually exercise routing loss " +
      "(otherwise the recall sweep asserts nothing)")
  }

  test("multimodal end-to-end: payload -> features -> IVF-routed top-k") {
    // Deterministic corpus: document texts as opaque binary payloads, plus a
    // byte-exact duplicate of doc 0's payload under a fresh id. The chain
    // a multimodal pipeline runs: decode features per partition (payload
    // dropped), broadcast a coarse codebook, route probes to their own
    // cluster only.
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id", "cast(text as binary) as payload")
    val dup = docs.filter(col("doc_id") === 0)
      .select((col("doc_id") + 10000L).as("doc_id"), col("payload"))
    val corpus = docs.union(dup)
    val feats = Multimodal.extractFeatures(
      corpus, "doc_id", "payload", new Multimodal.FakeMediaDecoder(16))
    val centroids = feats.filter(col("doc_id") < 4)
      .select(col("doc_id").as("centroid_id"), col("features").as("ce"))
    val probeIds = feats.filter(col("doc_id") < 10).select("doc_id")
    val top = Ann.ivfSearch(spark, feats.select("doc_id", "features"),
      "doc_id", "features", centroids, probeIds, k = 3)

    val rows = top.collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getAs[Long]("pid"))
    assert(byProbe.keySet.subsetOf((0L until 10L).toSet))
    byProbe.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
      assert(rs.forall(r => r.getAs[Double]("sim") <= 1.0000001))
    }
    // the planted byte-duplicate decodes to the identical feature vector, so
    // it must be probe 0's nearest neighbor at cosine ~1
    val p0 = byProbe(0L).minBy(_.getAs[Int]("rank"))
    assert(p0.getAs[Long]("cid") === 10000L, s"dup not top-1: $p0")
    assert(p0.getAs[Double]("sim") > 0.999)
    // deterministic: a second run returns the identical result set
    val again = Ann.ivfSearch(spark, feats.select("doc_id", "features"),
      "doc_id", "features", centroids, probeIds, k = 3).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  // All kmeansFit fixtures use dyadic values (0.25, 0.5, 0.75, 1.0): exact
  // in float, double, AND decimal(28,12), so the operator's mean arithmetic
  // is reproducible by plain in-test doubles with no rounding-mode mirror.
  private def vecFrame(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("vid", "v")
  }

  test("Ann.kmeansFit converges on two separated groups and assigns them") {
    val df = vecFrame(
      1L -> Seq(1.0f, 0.0f), 3L -> Seq(0.75f, 0.25f), 5L -> Seq(0.5f, 0.0f),
      2L -> Seq(0.0f, 1.0f), 4L -> Seq(0.25f, 0.75f), 6L -> Seq(0.0f, 0.5f))
    val cents = Ann.kmeansFit(spark, df, "vid", "v", k = 2, iters = 2, dims = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // round 1 memberships are {1,3,5} / {2,4,6}; the means keep them stable,
    // so round 2 reproduces the same centroids (= converged)
    val m1 = ((1.0 + 0.75 + 0.5) / 3).toFloat
    val m2 = ((0.0 + 0.25 + 0.0) / 3).toFloat
    assert(cents(1L) === Seq(m1, m2))
    assert(cents(2L) === Seq(m2, m1))
    val assigned = Ann.ivfAssign(spark, df, "vid", "v",
        vecFrame(cents.toSeq.map { case (i, v) => i -> v.toSeq }: _*)
          .select(col("vid").as("centroid_id"), col("v").as("ce")))
      .select("vid", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assigned === Map(1L -> 1L, 3L -> 1L, 5L -> 1L, 2L -> 2L, 4L -> 2L, 6L -> 2L))
  }

  test("Ann.kmeansFit: a cluster that loses all members keeps its centroid") {
    // farthest-first seeds are {1 (first), 2 (min max-dot 0), 5 (min max-dot
    // 0.5, tie 5<6)}; seed 5's own vector assigns to centroid 1 by dot
    // (0.5 > 0.25), so cluster 5 empties in round 1 — its centroid must
    // survive unchanged, not null out
    val df = vecFrame(
      1L -> Seq(1.0f, 0.0f), 3L -> Seq(0.75f, 0.25f), 5L -> Seq(0.5f, 0.0f),
      2L -> Seq(0.0f, 1.0f), 4L -> Seq(0.25f, 0.75f), 6L -> Seq(0.0f, 0.5f))
    val cents = Ann.kmeansFit(spark, df, "vid", "v", k = 3, iters = 1, dims = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents.keySet === Set(1L, 2L, 5L))
    assert(cents(5L) === Seq(0.5f, 0.0f))
    assert(cents(1L) === Seq(((1.0 + 0.75 + 0.5) / 3).toFloat, ((0.25 + 0.0 + 0.0) / 3).toFloat))
  }

  test("farthest-first seeding splits skewed id-order clusters in one iteration") {
    // the two LOWEST ids are co-located: first-k-ids seeding would start
    // both centroids inside group A — and because every group-B vector has
    // dot 0 to both seeds, ties break to the lowest centroid id and B would
    // NEVER split out. Farthest-first picks a B point as the second seed
    // (max-dot 0 < any A point's), so one Lloyd's round separates the
    // groups and the codebook is already converged.
    val df = vecFrame(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.75f, 0.0f), 3L -> Seq(0.5f, 0.0f),
      10L -> Seq(0.0f, 1.0f), 11L -> Seq(0.0f, 0.75f), 12L -> Seq(0.0f, 0.5f))
    val c1 = Ann.kmeansFit(spark, df, "vid", "v", k = 2, iters = 1, dims = 2)
    val got = Ann.ivfAssign(spark, df, "vid", "v", c1)
      .select("vid", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // converged after ONE iteration: a second round reproduces the codebook
    val c2 = Ann.kmeansFit(spark, df, "vid", "v", k = 2, iters = 2, dims = 2)
    assert(c1.collect().map(_.toString).sorted
      .sameElements(c2.collect().map(_.toString).sorted))
  }

  test("Ann.kmeansFit rejects ragged vectors loudly") {
    val ragged = vecFrame(1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.5f))
    val ex = intercept[Exception] {
      Ann.kmeansFit(spark, ragged, "vid", "v", k = 1, iters = 1, dims = 2).collect()
    }
    assert(ex.getMessage.contains("exactly 2"))
  }

  test("multimodal features -> kmeansFit codebook -> IVF search, end to end") {
    // the full self-supervised chain: binary payloads decode to feature
    // vectors, k-means trains the coarse codebook ON those features, and
    // the routed search runs against the trained centroids — no hand-picked
    // codebook anywhere. Deterministic: FakeMediaDecoder is seeded by
    // payload bytes, kmeansFit by the farthest-first hash-sample sweep.
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        expr("cast(concat('media:', text) as binary)").as("payload"))
      .filter(col("doc_id") < 200)
    val feats = Multimodal.extractFeatures(
      docs, "doc_id", "payload", new Multimodal.FakeMediaDecoder(16))
      .select("doc_id", "features")
    val cents = Ann.kmeansFit(spark, feats, "doc_id", "features",
      k = 4, iters = 2, dims = 16)
    assert(cents.count() === 4)
    val probeIds = feats.filter(col("doc_id") < 5).select("doc_id")
    val top = Ann.ivfSearch(spark, feats, "doc_id", "features",
      cents, probeIds, k = 3).collect()
    assert(top.nonEmpty)
    // every probe's neighbors share the probe's cluster (IVF routing), and
    // ranks are 1..n by construction
    top.groupBy(_.getAs[Long]("pid")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
    }
    // determinism across reruns: training + search reproduce exactly
    val again = Ann.ivfSearch(spark, feats, "doc_id", "features",
      Ann.kmeansFit(spark, feats, "doc_id", "features", k = 4, iters = 2, dims = 16),
      probeIds, k = 3).collect()
    assert(top.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("Ann.semanticDedup drops toward the lowest id within a cluster only") {
    // two clusters on the axes. Cluster 0: ids 2 and 6 duplicate id 1
    // (same direction, different magnitude — cosine exactly 1.0) and drop
    // toward it; id 9 is a cluster-mate but not a duplicate (cos ~0.74).
    // Cluster 1: id 5 duplicates id 4 and drops; id 4 keeps as the
    // cluster's lowest id.
    val df = vecFrame(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(2.0f, 0.0f), 6L -> Seq(0.5f, 0.0f),
      9L -> Seq(1.0f, 0.9f),
      4L -> Seq(0.0f, 1.0f), 5L -> Seq(0.0f, 2.0f))
    val cents = vecFrame(0L -> Seq(1.0f, 0.1f), 1L -> Seq(0.0f, 1.0f))
      .select(col("vid").as("centroid_id"), col("v").as("ce"))
    val out = Ann.semanticDedup(spark, df, "vid", "v", cents, 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out === Map(1L -> true, 2L -> false, 6L -> false, 9L -> true,
      4L -> true, 5L -> false))
    // every input row appears exactly once (exhaustive verdicts)
    assert(out.size === 6)
    // threshold contract is loud
    intercept[IllegalArgumentException] {
      Ann.semanticDedup(spark, df, "vid", "v", cents, 1.5)
    }
  }

  test("Ann.semanticDedup multi-probe recovers boundary pairs; nProbe=1 is unchanged") {
    // ids 1 and 3 are near-duplicates (cosine ~0.9997) that straddle the
    // two centroids: 1 homes to centroid 0, 3 to centroid 1 — invisible
    // at nProbe = 1, caught at nProbe = 2 where both probe both cells.
    val df = vecFrame(
      1L -> Seq(1.0f, 0.99f), 3L -> Seq(0.99f, 1.0f),
      7L -> Seq(5.0f, 0.0f), 8L -> Seq(0.0f, 5.0f))
    val cents = vecFrame(0L -> Seq(1.0f, 0.9f), 1L -> Seq(0.9f, 1.0f))
      .select(col("vid").as("centroid_id"), col("v").as("ce"))
    def drops(np: Int) = Ann.semanticDedup(spark, df, "vid", "v", cents, 0.99, np)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val single = drops(1)
    val multi = drops(2)
    assert(single(1L) && single(3L), "boundary pair invisible cell-locally")
    assert(multi(1L) && !multi(3L), "nProbe=2 must drop the higher boundary id")
    // nProbe=1 equals the historical single-probe operator bit for bit
    val legacy = Ann.semanticDedup(spark, df, "vid", "v", cents, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val explicit1 = Ann.semanticDedup(spark, df, "vid", "v", cents, 0.99, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(legacy === explicit1)
    // home cluster reported at any nProbe: verdict rows stay one-per-id
    assert(multi.size === 4)
  }

  test("Ann.kmeansFit with iters=0 returns the farthest-first seeds") {
    // seed 1: lowest id (1). seed 2: min max-dot to (1,0) — id4's 0.0 beats
    // id7's 0.25 and id9's 0.5
    val df = vecFrame(
      9L -> Seq(0.5f, 0.5f), 1L -> Seq(1.0f, 0.0f),
      4L -> Seq(0.0f, 1.0f), 7L -> Seq(0.25f, 0.25f))
    val cents = Ann.kmeansFit(spark, df, "vid", "v", k = 2, iters = 0, dims = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(cents === Map(1L -> Seq(1.0f, 0.0f), 4L -> Seq(0.0f, 1.0f)))
  }

  test("Ann.cellMedoids elects the central member; singleton cells are absent") {
    import spark.implicits._
    // cell of 1,3,5 clusters around the x axis: 3 (the middle direction)
    // maximizes summed cosine; 7 sits alone near the y axis -> singleton,
    // absent from the result by contract
    val df = vecFrame(
      1L -> Seq(1.0f, 0.0f), 3L -> Seq(0.9f, 0.1f), 5L -> Seq(0.8f, 0.2f),
      7L -> Seq(0.0f, 1.0f))
    val cents = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("centroid_id", "ce")
    val med = Ann.cellMedoids(spark, df, "vid", "v", cents)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(med === Map(0L -> ((3L, 3L))))
  }

  test("Ann.cellMedoids equals an independent driver-side election on real vectors") {
    val e = spark.read.parquet(s"$Sf/embeddings.parquet")
    val cents = e.filter("vec_id < 8")
      .selectExpr("vec_id as centroid_id", "embedding as ce")
    val got = Ann.cellMedoids(spark, e.select("vec_id", "embedding"),
        "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side re-derivation with plain Scala collections
    val vecs = e.selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cvs = vecs.filter(_._1 < 8)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val assign = vecs.map { case (id, v) =>
      id -> cvs.toSeq.map { case (cid, cv) => (dot(v, cv), cid) }
        .sortBy { case (d, cid) => (-d, cid) }.head._2
    }
    val want = assign.groupBy(_._2).collect { case (cell, members) if members.size > 1 =>
      val ids = members.keys.toSeq
      val best = ids.map { a =>
        val s = ids.filter(_ != a).map { b =>
          BigDecimal(dot(vecs(a), vecs(b)) / (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b)))))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum
        (a, s)
      }.sortBy { case (id, s) => (-s, id) }.head._1
      cell -> best
    }
    assert(got === want)
  }
}
