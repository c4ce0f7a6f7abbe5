package graft.queries

import org.apache.spark.sql.functions._

/**
 * Similarity-search operators over the `embeddings` table (64-dim float
 * vectors).
 *
 * Numeric convention: dot products and squared norms are computed by
 * exploding the vectors and summing DECIMAL-cast per-dimension products —
 * exact in both engines, so cosine values are bit-identical doubles and the
 * top-k ranking order is deterministic (ties broken by vector id).
 *
 * Scale design: the brute-force probe scan is the correctness baseline
 * (probe-set x corpus is embarrassingly parallel, no shuffle until the
 * per-probe top-k); the IVF variant shows the 100 TB path — a tiny broadcast
 * centroid table assigns every vector to a cluster, and probes then search
 * only their cluster's members instead of the full corpus.
 */
/** The library's shared exact-dot-product SQL fragments — the cross-engine
  * float discipline documented on [[VectorQueries]], reusable by any query
  * file (q99's fusion reuses the cosine ranking). */
object VectorSql {
  /** Spark fragment: native codegen left-fold dot (see duckDot for why the
    * fold order makes the doubles bit-identical cross-engine). */
  def dot(a: String, b: String): String = s"vec_dot($a, $b)"

  /** DuckDB twin: strict left-fold from 0 (0 + x == x exactly in IEEE). */
  def duckDot(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (acc, v) -> acc + v)"""
}

object VectorQueries {

  import Tables.table

  /**
   * Spark SQL fragment: dot product of two float arrays via the native
   * codegen expression [[graft.functions.FloatVecDot]] — per-row, no
   * explode/shuffle, compiled into the surrounding codegen stage (the HOF
   * `aggregate(zip_with(...))` spelling is interpreted and ~100x slower).
   *
   * Cross-engine exactness: each term is an EXACT double (24-bit x 24-bit
   * float product fits a 53-bit significand), and both engines fold the term
   * list strictly left-to-right, so the double sums are bit-identical.
   * (A DECIMAL cast is NOT safe here: float products can terminate exactly
   * at an odd decimal digit, creating round-half ties that Spark [HALF_UP]
   * and DuckDB [HALF_EVEN] resolve differently.)
   */
  private def sparkDot(a: String, b: String): String = VectorSql.dot(a, b)

  /** DuckDB fragment of the same left-fold dot product (list_reduce folds
    * left-to-right; seeding differs from Spark's 0-init but 0 + x == x
    * exactly in IEEE, so results are bit-identical). */
  private def duckDot(a: String, b: String): String = VectorSql.duckDot(a, b)

  /** IVF coarse quantization, shared by q34 (the assignment layer) and q54
    * (the search that routes through it) — both route through the reusable
    * [[graft.operators.Ann]] operator: broadcast the 8 centroid vectors,
    * assign every vector to its max-dot centroid (ties to the lowest id).
    * One map-side pass over the corpus — the partition-pruning layer that
    * makes ANN sub-linear. Returns (vec_id, embedding, cluster_id, n2). */
  private def assignedClusters(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = table(s, dir, "embeddings")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
    graft.operators.Ann.ivfAssign(s, e.select("vec_id", "embedding"),
      "vec_id", "embedding", cents)
  }

  /** The synthetic near-duplicate corpus for the semantic-dedup queries
    * (q108/q115): every 25th vector gains a twin at id+1000000 scaled by
    * 1.5 — same direction, cosine ~1.0 (float rounding costs < 1e-7), the
    * deterministic-mutation pattern q95/q72 use. The raw embeddings table
    * has NO natural near-dup pairs (max pairwise cosine ~0.51), so without
    * augmentation a dedup use-site would drop nothing and prove nothing.
    * Float scaling is cross-engine exact: both engines round the exact
    * double product x*1.5 to float once. */
  private def augmented(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val e = table(s, dir, "embeddings").select("vec_id", "embedding")
    e.unionByName(
      e.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          expr("transform(embedding, x -> cast(x * cast(1.5 as float) as float))")
            .as("embedding")))
  }

  /** DuckDB twin of [[augmented]]: a CTE named `aug(vec_id, embedding)`. */
  private def duckAugmented: String =
    """aug AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS vec_id,
                list_transform(embedding, x -> CAST(x * 1.5 AS REAL)) AS embedding
         FROM embeddings WHERE vec_id % 25 = 0)"""

  /** The DuckDB CTE chain mirroring [[assignedClusters]]; yields a relation
    * named `assigned(vec_id, embedding, cluster_id)`. */
  private def duckAssigned: String =
    s"""cents AS (
          SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        dots AS (
          SELECT e.vec_id, e.embedding, c.centroid_id, ${duckDot("e.embedding", "c.ce")} AS cdot
          FROM embeddings e CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1)"""

  /** Corpus as double vectors: (vec_id, v array<double>). */
  private def doubleVecs(s: org.apache.spark.sql.SparkSession, dir: String) =
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")

  /** One distributed power-iteration round: broadcast the 1-row 64-double
    * `warr`, dot every vector against it (fixed-order fold), sum per-dim
    * contributions exactly (round-then-DECIMAL), rebuild the ordered array. */
  private def powerStep(v: org.apache.spark.sql.DataFrame)(
      warr: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v.crossJoin(broadcast(warr))
      .withColumn("dot", expr(
        "aggregate(zip_with(v, warr, (a, b) -> a * b), cast(0 as double), (acc, x) -> acc + x)"))
      .select(posexplode(col("v")).as(Seq("j0", "vj")), col("dot"))
      .groupBy("j0")
      .agg(sum(expr("cast(round(vj * dot, 9) as decimal(38,9))")).as("sj"))
      .agg(expr("""transform(array_sort(collect_list(struct(j0, sj))),
                     p -> cast(p.sj as double)) as warr"""))

  /** w after rounds 2 and 3 of power iteration from the all-ones start —
    * the shared front of q157 (direction + gain) and q163 (PC scores). */
  private def powerIterW2W3(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val v = doubleVecs(s, dir)
    val w0 = s.sql("select transform(sequence(1, 64), j -> cast(1 as double)) as warr")
    val w2 = powerStep(v)(powerStep(v)(w0))
    (w2, powerStep(v)(w2))
  }

  /** DuckDB twin of [[powerIterW2W3]]: CTEs v, w0..w3 (+ per-round d/s). */
  private val duckPowerCtes: String = {
    val rounds = (1 to 3).map { t =>
      s"""d$t AS (
          SELECT vec_id, v,
                 list_reduce(list_transform(range(1, 65), j -> v[j] * warr[j]),
                   (acc, x) -> acc + x) AS dot
          FROM v, w${t - 1}),
        s$t AS (
          SELECT j, SUM(CAST(round(v[j] * dot, 9) AS DECIMAL(38,9))) AS sj
          FROM d$t, dims GROUP BY j),
        w$t AS (SELECT list(CAST(sj AS DOUBLE) ORDER BY j) AS warr FROM s$t)"""
    }.mkString(",\n        ")
    s"""dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS j),
        v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        w0 AS (SELECT list_transform(range(1, 65), j -> CAST(1 AS DOUBLE)) AS warr),
        $rounds"""
  }

  /** Product-quantization coarse codebook: 8 subspaces x 8 dims, 4
    * sub-centroids per subspace taken from vec_id < 4 (the q34 fixed-
    * codebook convention). Returns the 32-row broadcastable frame
    * (m, cid, sc: array<double> of 8). */
  private def pqCentroids(s: org.apache.spark.sql.SparkSession, dir: String) =
    doubleVecs(s, dir).filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("v"))
      .select(col("cid"), explode(expr(
        "transform(sequence(0, 7), m -> struct(m as m, slice(v, m * 8 + 1, 8) as sc))"))
        .as("p"))
      .select(col("p.m").as("m"), col("cid"), col("p.sc").as("sc"))

  /** Per-(vector, subspace) PQ assignment: min squared-L2 sub-centroid,
    * ties to the lowest cid via the min(struct) trick — one 32-row
    * broadcast against the corpus scan, one (vec_id, m) aggregate; never
    * a window over corpus-sized frames. Returns (vec_id, m, cid, err). */
  private def pqAssigned(s: org.apache.spark.sql.SparkSession, dir: String) =
    doubleVecs(s, dir)
      .crossJoin(broadcast(pqCentroids(s, dir)))
      .selectExpr("vec_id", "m", "cid",
        """aggregate(zip_with(slice(v, m * 8 + 1, 8), sc,
             (x, c) -> (x - c) * (x - c)), cast(0 as double), (acc, x) -> acc + x) as d2""")
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d2"), col("cid"))).as("best"))
      .selectExpr("vec_id", "m", "best.cid as cid", "best.d2 as err")

  /** DuckDB twin of [[pqCentroids]] + [[pqAssigned]]: CTEs `pqc(m, cid,
    * sc)` and `pqa(vec_id, m, cid, err)` (requires the `v` CTE from
    * [[duckPowerCtes]]-style double vectors). */
  private val duckPqCtes: String = """
        pqc AS (
          SELECT m, vec_id AS cid,
                 list_transform(range(1, 9), j -> v[CAST(m * 8 + j AS INTEGER)]) AS sc
          FROM v, (SELECT unnest(range(0, 8)) AS m)
          WHERE vec_id < 4),
        pqd AS (
          SELECT e.vec_id, c.m, c.cid,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 9), j ->
                     (e.v[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)])
                       * (e.v[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)]))),
                   (acc, x) -> acc + x) AS d2
          FROM v e CROSS JOIN pqc c),
        pqa AS (
          SELECT vec_id, m, cid, d2 AS err FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, cid) AS rn FROM pqd)
          WHERE rn = 1)"""

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------- q33
    Q(
      "q33_ann_topk",
      (s, dir) => {
        val e = table(s, dir, "embeddings")
        // Per-vector squared norm computed inline (native codegen dot, no
        // shuffle); the probe x corpus join is broadcast (probe side tiny).
        val withNorm = e.selectExpr(
          "vec_id", "embedding",
          s"${sparkDot("embedding", "embedding")} as n2")
        // CONSTANT probe set (50 ids), not a corpus fraction: the broadcast
        // side must stay bounded as the corpus grows, or the probe x corpus
        // product reverts to O(n^2). The sub-linear scale path is q54 (IVF-
        // routed search); this query is the exact-recall baseline.
        val probes = withNorm.filter(col("vec_id") < 50)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("n2").as("pn2"))
        val cands = withNorm
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("n2").as("cn2"))
        cands.join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid", s"${sparkDot("pe", "ce")} as dot", "pn2", "cn2")
          .withColumn("sim", col("dot") / (sqrt(col("pn2")) * sqrt(col("cn2"))))
          .withColumn(
            "rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 5)
          .select("pid", "rank", "cid", "dot", "sim")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH withnorm AS (
          SELECT vec_id, embedding, ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        sims AS (
          SELECT p.vec_id AS pid, c.vec_id AS cid,
                 ${duckDot("p.embedding", "c.embedding")} AS dot,
                 ${duckDot("p.embedding", "c.embedding")} / (SQRT(p.n2) * SQRT(c.n2)) AS sim
          FROM withnorm p JOIN withnorm c ON p.vec_id < 50 AND c.vec_id <> p.vec_id),
        ranked AS (
          SELECT pid, cid, dot, sim,
                 row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid ASC) AS rank
          FROM sims)
        SELECT pid, rank, cid, dot, sim FROM ranked WHERE rank <= 5
        ORDER BY pid, rank"""),
      "Brute-force cosine top-5 for a CONSTANT probe set (vec_id < 50): the exact " +
        "baseline an ANN index must match; probe count does not grow with the corpus."),

    // ---------------------------------------------------------------- q34
    Q(
      "q34_ivf_assign",
      (s, dir) =>
        assignedClusters(s, dir)
          .groupBy(col("cluster_id").as("centroid_id"))
          .agg(
            count(lit(1)).as("n_members"),
            min("vec_id").as("min_member"),
            max("vec_id").as("max_member"))
          .orderBy("centroid_id"),
      Some(s"""
        WITH $duckAssigned
        SELECT cluster_id AS centroid_id, COUNT(1) AS n_members,
               MIN(vec_id) AS min_member, MAX(vec_id) AS max_member
        FROM assigned
        GROUP BY cluster_id ORDER BY centroid_id"""),
      "IVF-style coarse quantization: broadcast 8 centroids, assign every vector to its max-dot " +
        "cluster — the partition-pruning layer that makes ANN sub-linear at 100 TB."),

    // ---------------------------------------------------------------- q38
    Q(
      "q38_embed_neardup_lsh",
      (s, dir) => {
        // Use-site of the parameterized hyperplane-LSH operator at its
        // 8-plane single-band setting: deterministic LCG planes mapped to
        // [-0.5, 0.5), same integer arithmetic in both engines -> identical
        // buckets. Larger corpora raise nPlanes/nBands on the operator
        // (graft.operators.Dedup.hyperplaneLshCandidates) to keep per-bucket
        // pair counts bounded.
        val bucketExpr = graft.operators.Dedup.hyperplaneBucketSql("embedding", 64, 0, 8)
        val e = table(s, dir, "embeddings")
          .selectExpr("vec_id", "embedding", s"$bucketExpr as bucket",
            "vec_dot(embedding, embedding) as n2")
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("bucket").as("bucket"), col("n2").as("n2a"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("bucket").as("bucket"), col("n2").as("n2b"))
        a.join(b, Seq("bucket"))
          .filter(col("id_a") < col("id_b"))
          .selectExpr("bucket", "id_a", "id_b",
            "vec_dot(ea, eb) / (sqrt(n2a) * sqrt(n2b)) as sim")
          .withColumn("near_dup", col("sim") >= 0.95)
          .transform(d => SortOut.sortedOut(d, "id_a", "id_b"))
      },
      Some {
        val planeDot =
          """list_reduce(list_transform(range(1, 65), j ->
               CAST(embedding[j] AS DOUBLE) *
                 (CAST((1103515245 * CAST(i * 64 + (j - 1) AS BIGINT) + 12345) % 2147483648 AS DOUBLE)
                  / 2147483648.0 - 0.5)), (a, b) -> a + b)"""
        s"""
        WITH e AS (
          SELECT vec_id, embedding,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   CASE WHEN $planeDot >= 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS bucket,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings)
        SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
               ${duckDot("a.embedding", "b.embedding")} / (SQRT(a.n2) * SQRT(b.n2)) AS sim,
               ${duckDot("a.embedding", "b.embedding")} / (SQRT(a.n2) * SQRT(b.n2)) >= 0.95 AS near_dup
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        ORDER BY id_a, id_b"""
      },
      "Embedding near-dup via random-hyperplane LSH: 8 sign-bits bucket the corpus, exact cosine " +
        "runs only within buckets — candidate pairs shrink ~256x vs all-pairs, the scale path for " +
        "dedup over billions of vectors."),

    // ---------------------------------------------------------------- q54
    Q(
      "q54_ivf_search",
      (s, dir) => {
        // The sub-linear ANN shape for 100 TB: every vector is assigned to
        // its nearest coarse centroid (the shared q34 assignment layer), and
        // each probe then searches ONLY its own cluster via an equi-join on
        // cluster_id. Work is O(n * k_centroids) assignment + O(probes *
        // cluster_size) search, the candidate join is a hash-partitionable
        // equi-join (no corpus-sized broadcast, no all-pairs product), and
        // cluster skew is AQE-splittable because the join key cardinality
        // grows with the centroid count in production.
        val e = table(s, dir, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        graft.operators.Ann.ivfSearch(s, e.select("vec_id", "embedding"),
            "vec_id", "embedding", cents,
            probeIds = e.filter(col("vec_id") < 20).select("vec_id"), k = 3)
          .select("pid", "rank", "cluster_id", "cid", "sim")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH $duckAssigned,
        sized AS (
          SELECT vec_id, embedding, cluster_id, ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        sims AS (
          SELECT p.vec_id AS pid, p.cluster_id, c.vec_id AS cid,
                 ${duckDot("p.embedding", "c.embedding")} / (SQRT(p.n2) * SQRT(c.n2)) AS sim
          FROM sized p JOIN sized c
            ON p.cluster_id = c.cluster_id AND p.vec_id < 20 AND c.vec_id <> p.vec_id),
        ranked AS (
          SELECT pid, cluster_id, cid, sim,
                 row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid ASC) AS rank
          FROM sims)
        SELECT pid, rank, cluster_id, cid, sim FROM ranked WHERE rank <= 3
        ORDER BY pid, rank"""),
      "IVF-routed ANN search: probes look only inside their own coarse cluster — " +
        "assignment is one broadcast pass, search is a hash-partitionable equi-join, " +
        "total work sub-linear in the corpus. The 100 TB path q33 baselines against."),

    // ---------------------------------------------------------------- q77
    Q(
      "q77_sq8_quant",
      (s, dir) => {
        // SQ8 scalar quantization through the Quantize operator: global
        // per-dimension bounds (one tiny dim-keyed aggregate) broadcast to
        // a map-only coding pass — the 4x memory compression that lets a
        // billion-vector ANN corpus live in executor memory. Codes are
        // integers (exact cross-engine); the reconstruction-error contract
        // (each dim within half a quantization step, small tolerance for
        // the bound arithmetic itself) is the q36-style accuracy boolean.
        val md5long = graft.functions.HashConventions.md5long48 _
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        graft.operators.Quantize.sq8(e, "embedding", 64)
          .selectExpr(
            "vec_id",
            "aggregate(sq8_codes, cast(0 as bigint), (a, c) -> a + c) as code_sum",
            "array_min(sq8_codes) as code_min",
            "array_max(sq8_codes) as code_max",
            md5long("array_join(transform(sq8_codes, c -> cast(c as string)), ',')")
              + " as codes_hash",
            """size(filter(sequence(1, 64), j ->
                 abs(element_at(lo_a, j)
                     + cast(element_at(sq8_codes, j) as double) / 255.0d
                       * (element_at(hi_a, j) - element_at(lo_a, j))
                     - cast(element_at(embedding, j) as double)) * 510.0d
                 > (element_at(hi_a, j) - element_at(lo_a, j)) * 1.0000001d)) = 0
               as err_ok""")
          .orderBy("vec_id")
      },
      Some(s"""
        WITH dims AS (SELECT unnest(range(1, 65)) AS j),
        b AS (
          SELECT j, min(CAST(embedding[j] AS DOUBLE)) AS lo,
                 max(CAST(embedding[j] AS DOUBLE)) AS hi
          FROM embeddings, dims GROUP BY j),
        ba AS (SELECT list(lo ORDER BY j) AS lo_a, list(hi ORDER BY j) AS hi_a FROM b),
        q AS (
          SELECT vec_id, embedding, lo_a, hi_a,
                 list_transform(range(1, 65), j ->
                   CASE WHEN hi_a[j] = lo_a[j] THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((CAST(embedding[j] AS DOUBLE) - lo_a[j])
                                  / (hi_a[j] - lo_a[j]) * 255.0 + 0.5) AS BIGINT)
                   END) AS codes
          FROM embeddings, ba)
        SELECT vec_id,
               CAST(list_sum(codes) AS BIGINT) AS code_sum,
               CAST(list_min(codes) AS BIGINT) AS code_min,
               CAST(list_max(codes) AS BIGINT) AS code_max,
               ${graft.functions.HashConventions.duckMd5long48(
                 "array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',')")}
                 AS codes_hash,
               len(list_filter(range(1, 65), j ->
                 abs(lo_a[j] + CAST(codes[j] AS DOUBLE) / 255.0 * (hi_a[j] - lo_a[j])
                     - CAST(embedding[j] AS DOUBLE)) * 510.0
                 > (hi_a[j] - lo_a[j]) * 1.0000001)) = 0 AS err_ok
        FROM q
        ORDER BY vec_id"""),
      "Int8 scalar quantization via the Quantize operator: broadcast per-dim bounds, " +
        "map-only coding, integer-exact codes + a half-step reconstruction-error " +
        "contract — the compression layer under a billion-vector ANN index."),

    // ---------------------------------------------------------------- q78
    Q(
      "q78_sq8_search",
      (s, dir) => {
        // ANN search over the QUANTIZED corpus: the q33 probe-scan shape,
        // but scoring int8 code dot products instead of float dots — the
        // memory-bound regime where SQ8 pays off (the scored corpus is 4x
        // smaller, and the arithmetic is pure integers, so ranks are exact
        // cross-engine with no float-tie risk at all). Same scale posture
        // as q33: constant probe set broadcasts, corpus never shuffles,
        // per-probe top-k via partitioned window.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val qz = graft.operators.Quantize.sq8(e, "embedding", 64)
          .select(col("vec_id"), col("sq8_codes"))
        val probes = qz.filter(col("vec_id") < 50)
          .select(col("vec_id").as("pid"), col("sq8_codes").as("pq"))
        val cands = qz.select(col("vec_id").as("cid"), col("sq8_codes").as("cq"))
        cands.join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid",
            """aggregate(sequence(1, 64), cast(0 as bigint),
               (a, j) -> a + element_at(pq, j) * element_at(cq, j)) as qdot""")
          .withColumn("rank",
            expr("row_number() over (partition by pid order by qdot desc, cid asc)"))
          .filter(col("rank") <= 5)
          .select("pid", "rank", "cid", "qdot")
          .orderBy("pid", "rank")
      },
      Some("""
        WITH dims AS (SELECT unnest(range(1, 65)) AS j),
        b AS (
          SELECT j, min(CAST(embedding[j] AS DOUBLE)) AS lo,
                 max(CAST(embedding[j] AS DOUBLE)) AS hi
          FROM embeddings, dims GROUP BY j),
        ba AS (SELECT list(lo ORDER BY j) AS lo_a, list(hi ORDER BY j) AS hi_a FROM b),
        q AS (
          SELECT vec_id,
                 list_transform(range(1, 65), j ->
                   CASE WHEN hi_a[j] = lo_a[j] THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((CAST(embedding[j] AS DOUBLE) - lo_a[j])
                                  / (hi_a[j] - lo_a[j]) * 255.0 + 0.5) AS BIGINT)
                   END) AS codes
          FROM embeddings, ba),
        sims AS (
          SELECT p.vec_id AS pid, c.vec_id AS cid,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> p.codes[j] * c.codes[j])) AS BIGINT) AS qdot
          FROM q p JOIN q c ON p.vec_id < 50 AND c.vec_id <> p.vec_id),
        ranked AS (
          SELECT pid, cid, qdot,
                 row_number() OVER (PARTITION BY pid ORDER BY qdot DESC, cid ASC) AS rank
          FROM sims)
        SELECT pid, rank, cid, qdot FROM ranked WHERE rank <= 5
        ORDER BY pid, rank"""),
      "Top-5 neighbor search over SQ8 codes: integer dot products on the 4x-compressed " +
        "corpus — exact cross-engine ranks (no float ties), broadcast probes, " +
        "no corpus shuffle. The memory-scaled sibling of the q33 exact baseline."),

    // ---------------------------------------------------------------- q85
    Q(
      "q85_ivf_sq8_search",
      (s, dir) => {
        // The production ANN stack, both scale layers composed: IVF coarse
        // routing (sub-linear candidate sets — probes search only their
        // own cluster, hash-partitionable equi-join) OVER the SQ8-coded
        // corpus (4x memory — the full-precision vectors never enter the
        // search join, only 64-byte code arrays move). Integer code dots
        // make every rank exact cross-engine; work is
        // O(n·k_centroids) assignment + O(probes·cluster/4B) scan.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val assigned = graft.operators.Ann
          .ivfAssign(s, e, "vec_id", "embedding", cents)
          .select("vec_id", "cluster_id")
        val corpus = graft.operators.Quantize.sq8(e, "embedding", 64)
          .select(col("vec_id"), col("sq8_codes"))
          .join(assigned, Seq("vec_id"))
        val probes = corpus.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("cluster_id"),
            col("sq8_codes").as("pq"))
        corpus
          .select(col("vec_id").as("cid"), col("cluster_id"),
            col("sq8_codes").as("cq"))
          .join(probes, Seq("cluster_id"))
          .filter(col("cid") =!= col("pid"))
          .selectExpr("pid", "cluster_id", "cid",
            """aggregate(sequence(1, 64), cast(0 as bigint),
               (a, j) -> a + element_at(pq, j) * element_at(cq, j)) as qdot""")
          .withColumn("rank",
            expr("row_number() over (partition by pid order by qdot desc, cid asc)"))
          .filter(col("rank") <= 3)
          .select("pid", "rank", "cluster_id", "cid", "qdot")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH $duckAssigned,
        dims AS (SELECT unnest(range(1, 65)) AS j),
        b AS (
          SELECT j, min(CAST(embedding[j] AS DOUBLE)) AS lo,
                 max(CAST(embedding[j] AS DOUBLE)) AS hi
          FROM embeddings, dims GROUP BY j),
        ba AS (SELECT list(lo ORDER BY j) AS lo_a, list(hi ORDER BY j) AS hi_a FROM b),
        qz AS (
          SELECT vec_id,
                 list_transform(range(1, 65), j ->
                   CASE WHEN hi_a[j] = lo_a[j] THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((CAST(embedding[j] AS DOUBLE) - lo_a[j])
                                  / (hi_a[j] - lo_a[j]) * 255.0 + 0.5) AS BIGINT)
                   END) AS codes
          FROM embeddings, ba),
        corpus AS (
          SELECT a.vec_id, a.cluster_id, qz.codes
          FROM assigned a JOIN qz ON a.vec_id = qz.vec_id),
        sims AS (
          SELECT p.vec_id AS pid, p.cluster_id, c.vec_id AS cid,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> p.codes[j] * c.codes[j])) AS BIGINT) AS qdot
          FROM corpus p JOIN corpus c
            ON p.cluster_id = c.cluster_id AND p.vec_id < 20 AND c.vec_id <> p.vec_id),
        ranked AS (
          SELECT pid, cluster_id, cid, qdot,
                 row_number() OVER (PARTITION BY pid ORDER BY qdot DESC, cid ASC) AS rank
          FROM sims)
        SELECT pid, rank, cluster_id, cid, qdot FROM ranked WHERE rank <= 3
        ORDER BY pid, rank"""),
      "The composed production ANN stack: IVF cluster routing over the SQ8-coded " +
        "corpus — sub-linear candidates AND 4x memory, full-precision vectors never " +
        "enter the search join; integer ranks, exact cross-engine."),

    // ---------------------------------------------------------------- q90
    Q(
      "q90_kmeans_train",
      (s, dir) => {
        // Training the IVF codebook itself: 2 Lloyd's rounds of max-dot
        // k-means through Ann.kmeansFit (broadcast codebook, one corpus
        // scan per round, the only shuffle a k x dims mean aggregate),
        // then the final assignment under the TRAINED centroids — the
        // upstream step q34/q54/q85 took as given. Deterministic end to
        // end: farthest-first seeding over the salted-hash bottom-64
        // sample, lowest-id tie-breaks, exact-decimal mean sums, IEEE
        // division, float narrowing.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = graft.operators.Ann.kmeansFit(
          s, e, "vec_id", "embedding", k = 8, iters = 2, dims = 64)
        graft.operators.Ann.ivfAssign(s, e, "vec_id", "embedding", cents)
          .select("vec_id", "cluster_id")
          .orderBy("vec_id")
      },
      Some(kmeansDuckOracle(k = 8, iters = 2, dims = 64)),
      "Distributed Lloyd's k-means training of the IVF coarse codebook (2 rounds, " +
        "max-dot metric): broadcast centroids, map-side argmax, k x dims mean " +
        "shuffle — the train step above q34's assign and q54's search."),

    // ---------------------------------------------------------------- q102
    Q(
      "q102_ivf_recall",
      (s, dir) => {
        // The recall contract for IVF routing — q97's confusion-summary
        // pattern applied to ANN: Ann.ivfSearch graded against the exact
        // brute-force top-3 (q33's machinery, same probe set) across the
        // FULL multi-probe curve nProbe = 1, 2, 3, 4 — the standard
        // production lever: probing more nearby centroids raises recall
        // with zero retraining and an unchanged equi-join shape (recall
        // rises strictly in nProbe at every test SF: 0.62/0.73/0.78/0.82
        // at sf0.001). Recall@3 is an exact IEEE division of exact
        // counts, so the row hashes cross-engine. Scale: the truth side is
        // probe x corpus — bounded because the probe set is CONSTANT (the
        // q33 posture); the candidate sides are the production equi-join
        // path, whose work scales linearly in nProbe. This is the audit a
        // deployment runs before trusting nProbe-tuned search.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val withNorm = e.selectExpr(
          "vec_id", "embedding", s"${sparkDot("embedding", "embedding")} as n2")
        val probes = withNorm.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("n2").as("pn2"))
        val truth = withNorm
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("n2").as("cn2"))
          .join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as sim")
          .withColumn("rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 3)
          .select("pid", "cid")
        def summary(np: Int) = {
          val cand = graft.operators.Ann.ivfSearch(
            s, e, "vec_id", "embedding", cents,
            probeIds = e.filter(col("vec_id") < 20).select("vec_id"),
            k = 3, nProbe = np)
            .select("pid", "cid")
          val hit = truth.join(cand, Seq("pid", "cid"))
          truth.agg(count(lit(1)).as("n_truth"))
            .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
            .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
            .select(
              lit(np).as("n_probe"),
              col("n_truth"), col("n_cand"), col("n_hit"),
              (col("n_hit").cast("double") / col("n_truth")).as("recall"))
        }
        summary(1).unionAll(summary(2)).unionAll(summary(3))
          .unionAll(summary(4)).orderBy("n_probe")
      },
      Some {
        def candAt(np: Int) = s"""
          cand$np AS (
            SELECT pid, cid FROM (
              SELECT pr.vec_id AS pid, c.vec_id AS cid,
                     row_number() OVER (PARTITION BY pr.vec_id
                       ORDER BY ${duckDot("pr.embedding", "c.embedding")}
                                  / (SQRT(pr.n2) * SQRT(c.n2)) DESC, c.vec_id ASC) AS rank
              FROM sized pr
              JOIN pc ON pc.vec_id = pr.vec_id AND pc.rn <= $np
              JOIN sized c ON c.cluster_id = pc.centroid_id AND c.vec_id <> pr.vec_id
              WHERE pr.vec_id < 20)
            WHERE rank <= 3)"""
        def row(np: Int) = s"""
          SELECT CAST($np AS INTEGER) AS n_probe,
                 (SELECT COUNT(1) FROM exact) AS n_truth,
                 (SELECT COUNT(1) FROM cand$np) AS n_cand,
                 (SELECT COUNT(1) FROM exact JOIN cand$np USING (pid, cid)) AS n_hit,
                 CAST((SELECT COUNT(1) FROM exact JOIN cand$np USING (pid, cid)) AS DOUBLE)
                   / (SELECT COUNT(1) FROM exact) AS recall"""
        s"""
        WITH $duckAssigned,
        sized AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        exact AS (
          SELECT pid, cid FROM (
            SELECT p.vec_id AS pid, c.vec_id AS cid,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY ${duckDot("p.embedding", "c.embedding")}
                                / (SQRT(p.n2) * SQRT(c.n2)) DESC, c.vec_id ASC) AS rank
            FROM sized p JOIN sized c ON p.vec_id < 20 AND c.vec_id <> p.vec_id)
          WHERE rank <= 3),
        pc AS (
          SELECT vec_id, centroid_id, rn FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${duckDot("e.embedding", "c.ce")} DESC, c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cents c
            WHERE e.vec_id < 20)),
        ${(1 to 4).map(candAt).mkString(",")}
        ${(1 to 4).map(row).mkString("\n        UNION ALL")}
        ORDER BY n_probe"""
      },
      "IVF multi-probe recall contract: ivfSearch graded against the exact " +
        "brute-force top-3 across nProbe 1/2/3/4 — recall rises strictly with " +
        "probes at unchanged join shape (the production tuning lever); exact-" +
        "count confusion summary with IEEE recall divisions, the audit row " +
        "that justifies trusting routed search over exact scan."),

    // ---------------------------------------------------------------- q103
    Q(
      "q103_ivf_rerank",
      (s, dir) => {
        // Production two-stage retrieval: IVF+SQ8 routing proposes top-10
        // candidates per probe by integer code dots (q85's stack), then a
        // FULL-PRECISION re-rank rescores only those candidates with exact
        // float cosine and keeps the top 3. The expensive float vectors
        // enter exactly one join — corpus scanned once against the
        // BROADCAST (probes x 10)-row candidate list, never shuffled, no
        // cartesian — so re-ranking costs O(probes x 10) dots regardless
        // of corpus size: the recall of float scoring at the memory cost
        // of int8 storage.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val assigned = graft.operators.Ann
          .ivfAssign(s, e, "vec_id", "embedding", cents)
          .select("vec_id", "cluster_id")
        val corpus = graft.operators.Quantize.sq8(e, "embedding", 64)
          .select(col("vec_id"), col("sq8_codes"))
          .join(assigned, Seq("vec_id"))
        val probes = corpus.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("cluster_id"), col("sq8_codes").as("pq"))
        val cand10 = corpus
          .select(col("vec_id").as("cid"), col("cluster_id"), col("sq8_codes").as("cq"))
          .join(probes, Seq("cluster_id"))
          .filter(col("cid") =!= col("pid"))
          .selectExpr("pid", "cid",
            """aggregate(sequence(1, 64), cast(0 as bigint),
               (a, j) -> a + element_at(pq, j) * element_at(cq, j)) as qdot""")
          .withColumn("crank",
            expr("row_number() over (partition by pid order by qdot desc, cid asc)"))
          .filter(col("crank") <= 10)
          .select("pid", "cid", "qdot")
        val withNorm = e.selectExpr(
          "vec_id", "embedding", s"${sparkDot("embedding", "embedding")} as n2")
        withNorm
          .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("n2").as("cn2"))
          .join(broadcast(cand10), Seq("cid"))
          .join(broadcast(withNorm.filter(col("vec_id") < 20)
            .select(col("vec_id").as("pid"), col("embedding").as("pemb"), col("n2").as("pn2"))),
            Seq("pid"))
          .selectExpr("pid", "cid", "qdot",
            s"${sparkDot("pemb", "cemb")} / (sqrt(pn2) * sqrt(cn2)) as sim")
          .withColumn("rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 3)
          .select("pid", "rank", "cid", "qdot", "sim")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH $duckAssigned,
        dims AS (SELECT unnest(range(1, 65)) AS j),
        b AS (
          SELECT j, min(CAST(embedding[j] AS DOUBLE)) AS lo,
                 max(CAST(embedding[j] AS DOUBLE)) AS hi
          FROM embeddings, dims GROUP BY j),
        ba AS (SELECT list(lo ORDER BY j) AS lo_a, list(hi ORDER BY j) AS hi_a FROM b),
        qz AS (
          SELECT vec_id,
                 list_transform(range(1, 65), j ->
                   CASE WHEN hi_a[j] = lo_a[j] THEN CAST(0 AS BIGINT)
                        ELSE CAST(floor((CAST(embedding[j] AS DOUBLE) - lo_a[j])
                                  / (hi_a[j] - lo_a[j]) * 255.0 + 0.5) AS BIGINT)
                   END) AS codes
          FROM embeddings, ba),
        corpus AS (
          SELECT a.vec_id, a.cluster_id, qz.codes
          FROM assigned a JOIN qz ON a.vec_id = qz.vec_id),
        sims AS (
          SELECT p.vec_id AS pid, c.vec_id AS cid,
                 CAST(list_sum(list_transform(range(1, 65),
                   j -> p.codes[j] * c.codes[j])) AS BIGINT) AS qdot
          FROM corpus p JOIN corpus c
            ON p.cluster_id = c.cluster_id AND p.vec_id < 20 AND c.vec_id <> p.vec_id),
        cand10 AS (
          SELECT pid, cid, qdot FROM (
            SELECT pid, cid, qdot,
                   row_number() OVER (PARTITION BY pid ORDER BY qdot DESC, cid ASC) AS crank
            FROM sims)
          WHERE crank <= 10),
        withn AS (
          SELECT vec_id, embedding, ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        rer AS (
          SELECT t.pid, t.cid, t.qdot,
                 ${duckDot("p.embedding", "c.embedding")}
                   / (SQRT(p.n2) * SQRT(c.n2)) AS sim
          FROM cand10 t
          JOIN withn c ON c.vec_id = t.cid
          JOIN withn p ON p.vec_id = t.pid)
        SELECT pid, rank, cid, qdot, sim FROM (
          SELECT pid, cid, qdot, sim,
                 row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid ASC) AS rank
          FROM rer)
        WHERE rank <= 3
        ORDER BY pid, rank"""),
      "Two-stage retrieval: IVF+SQ8 integer routing proposes top-10, full-precision " +
        "cosine re-ranks to top-3 — float vectors enter exactly one broadcast join " +
        "(corpus never shuffles, candidates bounded at probes x 10), the standard " +
        "production recall/memory trade."),

    // ---------------------------------------------------------------- q108
    Q(
      "q108_semdedup",
      (s, dir) => {
        // SemDeDup-style SEMANTIC dedup: cluster the embedding space with
        // the shared coarse-quantization layer (q34's assignment), then
        // compare pairs only WITHIN a cluster — exact cosine on a
        // cluster-bounded pair set, never the corpus x corpus product.
        // A vector is dropped when a LOWER-id cluster-mate sits above the
        // similarity threshold (the deterministic keep-lowest rule, no
        // connected components needed: near-identical embeddings are
        // transitively close by construction). At 100 TB the centroid
        // count scales with the corpus (k ~ n/target_cluster_size), so
        // per-cluster pair counts stay bounded — the same knob IVF search
        // already turns; the pair join is a hash-partitionable equi-join
        // on cluster_id (plan-locked: no cartesian), AQE-splittable under
        // cluster skew. This is the dedup that catches paraphrases and
        // re-encodings exact/MinHash text dedup (q23/q57) cannot see.
        // Input is the AUGMENTED corpus (scaled twins every 25th vector —
        // the raw table has no natural near-dups), so the verdicts
        // actually exercise the drop path: every twin drops toward its
        // lower-id original.
        val e = table(s, dir, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        graft.operators.Ann.semanticDedup(
            s, augmented(s, dir), "vec_id", "embedding",
            cents, simThreshold = 0.95)
          .orderBy("vec_id")
      },
      Some(s"""
        WITH $duckAugmented,
        cents AS (
          SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        dots AS (
          SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${duckDot("e.embedding", "c.ce")} AS cdot
          FROM aug e CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1),
        sized AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM sized a JOIN sized b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${duckDot("a.embedding", "b.embedding")}
                  / (SQRT(a.n2) * SQRT(b.n2)) >= 0.95)
        SELECT s.vec_id, s.cluster_id, d.vec_id IS NULL AS kept
        FROM sized s LEFT JOIN dropped d ON s.vec_id = d.vec_id
        ORDER BY s.vec_id"""),
      "SemDeDup-style semantic dedup: coarse-cluster the embedding space, exact " +
        "cosine only within clusters, drop toward the lowest id — catches " +
        "paraphrase/re-encoding duplicates text dedup cannot see; pair work " +
        "bounded by cluster size, equi-join on cluster_id, no cartesian."),

    // ---------------------------------------------------------------- q115
    Q(
      "q115_semdedup_recall",
      (s, dir) => {
        // The recall contract for semantic dedup — the third audit of the
        // trilogy (q97 grades MinHash-LSH, q102 grades IVF routing, this
        // grades q108's cluster bound): within-cluster candidate pairs vs
        // EXACT all-pairs cosine truth. Every candidate is true by
        // construction (both sides use exact cosine; the cluster bound
        // only LOSES pairs), so the row is pure recall: what fraction of
        // true near-dup pairs share a coarse cluster. Scale discipline:
        // both sides restrict to the deterministic salted-hash bottom-300
        // sample (q70's machinery, the q97 knob), so the quadratic truth
        // join is bounded at ANY corpus size while the candidate side
        // stays the production equi-join shape.
        val hk = graft.functions.HashConventions
          .md5long48("concat('sdr|', cast(vec_id as string))")
        // PAIR-AWARE sampling: sample BASE ids, then include every sampled
        // id's synthetic twin — a plain row sample would keep each truth
        // pair only when both ends survive independently, leaving the
        // audit vacuously pair-free at small sample rates
        val samp = table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), expr(hk).as("hkey"))
          .orderBy("hkey", "vec_id").limit(300)
          .select("vec_id", "embedding")
        val sampAug = samp.unionByName(
          samp.filter(col("vec_id") % 25 === 0)
            .select((col("vec_id") + 1000000L).as("vec_id"),
              expr("transform(embedding, x -> cast(x * cast(1.5 as float) as float))")
                .as("embedding")))
        val cents = table(s, dir, "embeddings").filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val sized = graft.operators.Ann
          .ivfAssign(s, sampAug, "vec_id", "embedding", cents)
        val a = sized.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("cluster_id").as("cl_a"), col("n2").as("n2a"))
        val b = sized.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("cluster_id").as("cl_b"), col("n2").as("n2b"))
        // truth: ALL sample pairs above tau (broadcast is safe: the sample
        // is bounded by construction, not a corpus fraction)
        val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
          .selectExpr("cl_a", "cl_b",
            s"${sparkDot("ea", "eb")} / (sqrt(n2a) * sqrt(n2b)) as sim")
          .filter(col("sim") >= 0.95)
        pairs.agg(
            count(lit(1)).as("n_truth"),
            // coalesce: sum over a pair-free sample is null, the count is 0
            coalesce(sum((col("cl_a") === col("cl_b")).cast("long")), lit(0L))
              .as("n_cand"))
          .select(
            col("n_truth"), col("n_cand"),
            (col("n_truth") - col("n_cand")).as("n_missed_cross_cluster"),
            when(col("n_truth") === 0, lit(1.0d))
              .otherwise(col("n_cand").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      },
      Some {
        val hk = graft.functions.HashConventions
          .duckMd5long48("'sdr|' || cast(vec_id as varchar)")
        s"""
        WITH samp AS (
          SELECT vec_id, embedding FROM embeddings
          ORDER BY $hk, vec_id LIMIT 300),
        saug AS (
          SELECT vec_id, embedding FROM samp
          UNION ALL
          SELECT vec_id + 1000000 AS vec_id,
                 list_transform(embedding, x -> CAST(x * 1.5 AS REAL)) AS embedding
          FROM samp WHERE vec_id % 25 = 0),
        cents AS (
          SELECT vec_id AS centroid_id, embedding AS ce FROM embeddings WHERE vec_id < 8),
        dots AS (
          SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${duckDot("e.embedding", "c.ce")} AS cdot
          FROM saug e CROSS JOIN cents c),
        assigned AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1),
        sized AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        pairs AS (
          SELECT a.cluster_id AS cl_a, b.cluster_id AS cl_b,
                 ${duckDot("a.embedding", "b.embedding")}
                   / (SQRT(a.n2) * SQRT(b.n2)) AS sim
          FROM sized a JOIN sized b ON a.vec_id < b.vec_id)
        SELECT COUNT(1) AS n_truth,
               CAST(COALESCE(SUM(CASE WHEN cl_a = cl_b THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cand,
               COUNT(1) - CAST(COALESCE(SUM(CASE WHEN cl_a = cl_b THEN 1 ELSE 0 END), 0) AS BIGINT)
                 AS n_missed_cross_cluster,
               CASE WHEN COUNT(1) = 0 THEN 1.0
                    ELSE CAST(SUM(CASE WHEN cl_a = cl_b THEN 1 ELSE 0 END) AS DOUBLE)
                           / CAST(COUNT(1) AS DOUBLE) END AS recall
        FROM pairs WHERE sim >= 0.95"""
      },
      "Semantic-dedup recall contract: within-cluster candidate pairs graded " +
        "against exact all-pairs cosine truth on the deterministic hash sample — " +
        "candidates are true by construction, so the row is pure recall of the " +
        "cluster bound; the audit trilogy's third leg after q97 and q102.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q120
    Q(
      "q120_semdedup_trained",
      (s, dir) => {
        // q108's semantic dedup with the codebook it would actually use in
        // production: the TRAINED k-means centroids (q90's kmeansFit —
        // farthest-first seeding, 2 Lloyd's rounds) instead of q108's
        // fixed first-8 vectors. Trained centroids track the data's real
        // density, so clusters are balanced where arbitrary seeds are
        // not — the same pair-bound knob, now load-aware. The full chain
        // (train -> assign augmented corpus -> within-cluster exact
        // cosine -> keep-lowest) is deterministic end to end and the
        // oracle replays BOTH stages: the composable kmeans CTE prefix
        // feeds the trained cents CTE straight into the dedup CTEs.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = graft.operators.Ann.kmeansFit(
          s, e, "vec_id", "embedding", k = 8, iters = 2, dims = 64)
        graft.operators.Ann.semanticDedup(
            s, augmented(s, dir), "vec_id", "embedding",
            cents, simThreshold = 0.95)
          .orderBy("vec_id")
      },
      Some(s"""
        WITH ${kmeansDuckCtes(k = 8, iters = 2, dims = 64)},
        $duckAugmented,
        dots AS (
          SELECT e.vec_id, e.embedding, c.centroid_id,
                 ${duckDot("e.embedding", "c.ce")} AS cdot
          FROM aug e CROSS JOIN cents2 c),
        assigned AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1),
        sized AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        dropped AS (
          SELECT DISTINCT b.vec_id
          FROM sized a JOIN sized b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${duckDot("a.embedding", "b.embedding")}
                  / (SQRT(a.n2) * SQRT(b.n2)) >= 0.95)
        SELECT s.vec_id, s.cluster_id, d.vec_id IS NULL AS kept
        FROM sized s LEFT JOIN dropped d ON s.vec_id = d.vec_id
        ORDER BY s.vec_id"""),
      "Semantic dedup under the TRAINED IVF codebook: kmeansFit's centroids " +
        "feed semanticDedup directly — density-tracking clusters bound the " +
        "pair work load-aware; the oracle replays train and dedup in one " +
        "composable CTE chain.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q129
    Q(
      "q129_cell_medoid",
      (s, dir) => {
        // Per-cell MEDOID election: within each IVF cell, the member that
        // maximizes the sum of cosines to its cell-mates — the dataset-
        // summarization / diversity-selection primitive (one representative
        // per region of embedding space; the medoid beats the centroid
        // because it is a REAL corpus member). Routed through the reusable
        // Ann.cellMedoids operator: pairwise work is cell-bounded (one
        // equi-join keyed on cluster_id, O((N/k)^2 * k), never corpus^2),
        // the election window partitions by cell, and per-member sums are
        // round-then-DECIMAL (exact, order-independent — the q122
        // discipline) so the election never flips with partition count.
        // Cells with a single member drop identically in both engines.
        val e = table(s, dir, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        graft.operators.Ann
          .cellMedoids(s, e.select("vec_id", "embedding"), "vec_id", "embedding", cents)
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH $duckAssigned,
        an AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM assigned),
        pr AS (
          SELECT a.cluster_id, a.vec_id AS ida, COUNT(1) AS n_others,
                 SUM(CAST(ROUND(${duckDot("a.embedding", "b.embedding")}
                       / (SQRT(a.n2) * SQRT(b.n2)), 9) AS DECIMAL(28,9))) AS scos
          FROM an a JOIN an b
            ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id
          GROUP BY 1, 2),
        el AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
                      ORDER BY scos DESC, ida ASC) AS rn
          FROM pr)
        SELECT cluster_id, ida AS medoid_id,
               CAST(n_others + 1 AS BIGINT) AS n_members,
               round(CAST(scos AS DOUBLE), 9) AS sum_cos
        FROM el WHERE rn = 1 ORDER BY cluster_id"""),
      "Per-IVF-cell medoid: the real corpus member maximizing summed cosine " +
        "to its cell-mates — cell-bounded pairwise join (never corpus^2), " +
        "round-then-decimal sums, cell-partitioned election window."),

    // ---------------------------------------------------------------- q130
    Q(
      "q130_knn_classify",
      (s, dir) => {
        // kNN label prediction — the eval loop a labeled-embedding pipeline
        // runs to sanity-check its representation: for a CONSTANT probe set
        // (every 20th vector), find the exact cosine top-5 neighbors
        // (excluding self) and predict by majority label, ties to the
        // smallest label. Scale: the probe side is bounded (constant ids,
        // the q33 argument), so the probe x corpus product is a broadcast
        // nested-loop over a tiny build side; per-probe ranking and the
        // vote both partition by pid. Cross-engine: sims bit-identical
        // (left-fold dot), ranking tie-broken by cid, vote tie-broken by
        // label — every ordering total.
        import org.apache.spark.sql.expressions.Window
        val e = table(s, dir, "embeddings").selectExpr(
          "vec_id", "embedding", "label",
          s"${sparkDot("embedding", "embedding")} as n2")
        val probes = e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"),
            col("label").as("plabel"), col("n2").as("pn2"))
        val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("label").as("clabel"), col("n2").as("cn2"))
        val top5 = cands.join(broadcast(probes), col("cid") =!= col("pid"))
          .withColumn("sim",
            expr(s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2))"))
          .withColumn("rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 5)
        val votes = top5.groupBy("pid", "plabel", "clabel")
          .agg(count(lit(1)).as("nvotes"))
        val wv = Window.partitionBy("pid").orderBy(desc("nvotes"), asc("clabel"))
        votes.withColumn("vr", row_number().over(wv))
          .filter(col("vr") === 1)
          .selectExpr("pid", "plabel as actual", "clabel as predicted",
            "nvotes", "plabel = clabel as correct")
          .orderBy("pid")
      },
      Some(s"""
        WITH withnorm AS (
          SELECT vec_id, embedding, label,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        sims AS (
          SELECT p.vec_id AS pid, p.label AS plabel,
                 c.vec_id AS cid, c.label AS clabel,
                 ${duckDot("p.embedding", "c.embedding")}
                   / (SQRT(p.n2) * SQRT(c.n2)) AS sim
          FROM withnorm p JOIN withnorm c
            ON p.vec_id % 20 = 0 AND c.vec_id <> p.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY pid
                      ORDER BY sim DESC, cid ASC) AS rank
          FROM sims),
        votes AS (
          SELECT pid, plabel, clabel, COUNT(1) AS nvotes
          FROM ranked WHERE rank <= 5 GROUP BY pid, plabel, clabel),
        el AS (
          SELECT *, row_number() OVER (PARTITION BY pid
                      ORDER BY nvotes DESC, clabel ASC) AS vr
          FROM votes)
        SELECT pid, plabel AS actual, clabel AS predicted, nvotes,
               plabel = clabel AS correct
        FROM el WHERE vr = 1 ORDER BY pid"""),
      "kNN label prediction for a constant probe set: exact cosine top-5 " +
        "(self excluded), majority vote with label tie-break — broadcast " +
        "probe side, pid-partitioned ranking and vote windows.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q133
    Q(
      "q133_split_leakage",
      (s, dir) => {
        // Split-hygiene audit: near-duplicate pairs that STRADDLE a
        // train/val/test boundary are leakage — the eval score is
        // memorization, not generalization. Composes three library
        // operators: the deterministic twin augmentation (the corpus has
        // no natural near-dups), IVF cell assignment (bounds the pair
        // search — a twin provably lands in its source's cell since
        // scaling preserves the argmax centroid), and salted-hash split
        // assignment. Scale: pair work is cell-bounded (never corpus^2);
        // split assignment is map-only; output is the leakage worklist.
        // Cross-engine: cosines bit-identical (left-fold dot), splits
        // pure integer hash arithmetic.
        val aug = augmented(s, dir)
        val cents = table(s, dir, "embeddings").filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val asg = graft.operators.Ann.ivfAssign(s, aug, "vec_id", "embedding", cents)
        val sp = graft.operators.Mixture.assignSplits(asg, "vec_id", "leak1",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        val l = sp.select(col("cluster_id"), col("vec_id").as("ida"),
          col("embedding").as("ea"), col("n2").as("n2a"), col("split").as("split_a"))
        val r = sp.select(col("cluster_id"), col("vec_id").as("idb"),
          col("embedding").as("eb"), col("n2").as("n2b"), col("split").as("split_b"))
        l.join(r, Seq("cluster_id"))
          .filter(col("ida") < col("idb"))
          .withColumn("cos",
            expr(s"${sparkDot("ea", "eb")} / (sqrt(n2a) * sqrt(n2b))"))
          .filter(col("cos") >= 0.95 && col("split_a") =!= col("split_b"))
          .selectExpr("ida", "idb", "split_a", "split_b",
            "round(cos, 9) as cos")
          .orderBy("ida", "idb")
      },
      Some(s"""
        WITH $duckAugmented,
        cents AS (
          SELECT vec_id AS centroid_id, embedding AS ce
          FROM embeddings WHERE vec_id < 8),
        dots AS (
          SELECT a.vec_id, a.embedding, c.centroid_id,
                 ${duckDot("a.embedding", "c.ce")} AS cdot
          FROM aug a CROSS JOIN cents c),
        asg AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1),
        an AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2,
                 CASE WHEN h < 90 THEN 'train'
                      WHEN h < 95 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT *,
                  ${graft.functions.HashConventions.duckMd5long48(
                    "'leak1|' || cast(vec_id as varchar)")} % 100 AS h
                FROM asg)),
        pairs AS (
          SELECT a.vec_id AS ida, b.vec_id AS idb,
                 a.split AS split_a, b.split AS split_b,
                 ${duckDot("a.embedding", "b.embedding")}
                   / (SQRT(a.n2) * SQRT(b.n2)) AS cos
          FROM an a JOIN an b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
        SELECT ida, idb, split_a, split_b, round(cos, 9) AS cos
        FROM pairs WHERE cos >= 0.95 AND split_a <> split_b
        ORDER BY ida, idb"""),
      "Train/val/test leakage audit: cell-bounded near-dup pairs (cos >= " +
        "0.95) whose members hash into DIFFERENT splits — composes twin " +
        "augmentation, IVF assignment and salted split assignment; the " +
        "worklist an eval pipeline must drain before scores mean anything.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q143
    Q(
      "q143_split_repair",
      (s, dir) => {
        // The REMEDY to q133's leakage audit: canonical split propagation
        // — every near-dup CLUSTER gets exactly one split, the split of
        // its canonical member (min id, the connected-component label),
        // so no eval example shares content with train after repair.
        // Composes the q133 front (twin augmentation -> IVF cells ->
        // salted splits -> cell-bounded cos >= 0.95 pairs) with
        // Dedup.clusters (pointer-doubled components over the tiny pair
        // graph); the final propagation is two vec_id-keyed equi-joins.
        // Singletons keep their hash split untouched.
        val aug = augmented(s, dir)
        val cents = table(s, dir, "embeddings").filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val asg = graft.operators.Ann.ivfAssign(s, aug, "vec_id", "embedding", cents)
        val sp = graft.operators.Mixture.assignSplits(asg, "vec_id", "leak1",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        val l = sp.select(col("cluster_id"), col("vec_id").as("ida"),
          col("embedding").as("ea"), col("n2").as("n2a"))
        val r = sp.select(col("cluster_id"), col("vec_id").as("idb"),
          col("embedding").as("eb"), col("n2").as("n2b"))
        val pairs = l.join(r, Seq("cluster_id"))
          .filter(col("ida") < col("idb"))
          .withColumn("cos",
            expr(s"${sparkDot("ea", "eb")} / (sqrt(n2a) * sqrt(n2b))"))
          .filter(col("cos") >= 0.95)
          .select(col("ida").as("id_a"), col("idb").as("id_b"))
        val cc = graft.operators.Dedup.clusters(pairs)
          .withColumnRenamed("id", "vec_id")
          .withColumnRenamed("cluster_id", "rep_id")
        val repSplit = sp.select(col("vec_id").as("rep_id"),
          col("split").as("rep_split"))
        sp.select("vec_id", "split")
          .join(cc, Seq("vec_id"), "left")
          .withColumn("rep_id", coalesce(col("rep_id"), col("vec_id")))
          .join(repSplit, Seq("rep_id"))
          .selectExpr("vec_id", "rep_id", "split as split_orig",
            "rep_split as split_final", "split <> rep_split as moved")
          .orderBy("vec_id")
      },
      Some(s"""
        WITH RECURSIVE $duckAugmented,
        cents AS (
          SELECT vec_id AS centroid_id, embedding AS ce
          FROM embeddings WHERE vec_id < 8),
        dots AS (
          SELECT a.vec_id, a.embedding, c.centroid_id,
                 ${duckDot("a.embedding", "c.ce")} AS cdot
          FROM aug a CROSS JOIN cents c),
        asg AS (
          SELECT vec_id, embedding, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn = 1),
        an AS (
          SELECT vec_id, embedding, cluster_id,
                 ${duckDot("embedding", "embedding")} AS n2,
                 CASE WHEN h < 90 THEN 'train'
                      WHEN h < 95 THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT *,
                  ${graft.functions.HashConventions.duckMd5long48(
                    "'leak1|' || cast(vec_id as varchar)")} % 100 AS h
                FROM asg)),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM an a JOIN an b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE ${duckDot("a.embedding", "b.embedding")}
                  / (SQRT(a.n2) * SQRT(b.n2)) >= 0.95),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, r) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        cc AS (SELECT id, MIN(r) AS rep_id FROM reach GROUP BY id)
        SELECT an.vec_id,
               COALESCE(cc.rep_id, an.vec_id) AS rep_id,
               an.split AS split_orig,
               rs.split AS split_final,
               an.split <> rs.split AS moved
        FROM an
        LEFT JOIN cc ON an.vec_id = cc.id
        JOIN an rs ON rs.vec_id = COALESCE(cc.rep_id, an.vec_id)
        ORDER BY an.vec_id"""),
      "Leakage REPAIR: near-dup clusters collapse to their canonical " +
        "member's split (connected components over the cell-bounded pair " +
        "graph, then two keyed joins) — after repair no eval example " +
        "shares content with train; singletons keep their hash split.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q148
    Q(
      "q148_label_outliers",
      (s, dir) => {
        // LABEL-NOISE AUDIT: per-label centroid, then each vector's cosine
        // to its OWN label's centroid — vectors far from their centroid are
        // mislabel/outlier candidates (the embedding-space QA pass a
        // labeled-training-set ingest runs). Centroids via the exact
        // DECIMAL per-dimension sum (bit-reproducible, order-independent),
        // broadcast back (labels x dims rows, never corpus-sized); the
        // scoring pass is map-only.
        val e = table(s, dir, "embeddings")
        val cent = e
          .select(col("label"), posexplode(col("embedding")).as(Seq("p0", "x")))
          .select(col("label"), (col("p0") + 1).as("j"), col("x").cast("double").as("x"))
          .groupBy("label", "j")
          .agg(
            sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
            count(lit(1)).as("cn"))
          .withColumn("m", col("sx") / col("cn"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(j, m))), s -> s.m)").as("cent"))
        e.join(broadcast(cent), Seq("label"))
          .withColumn("dot", expr(
            """aggregate(sequence(1, 64), cast(0 as double),
               (a, j) -> a + cast(element_at(embedding, j) as double) * element_at(cent, j))"""))
          .withColumn("n2v", expr(sparkDot("embedding", "embedding")))
          .withColumn("n2c", expr(
            """aggregate(sequence(1, 64), cast(0 as double),
               (a, j) -> a + element_at(cent, j) * element_at(cent, j))"""))
          .withColumn("cos", col("dot") / (sqrt(col("n2v")) * sqrt(col("n2c"))))
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            sum(col("cos").cast("decimal(28,12)")).cast("double").as("sum_cos"),
            min("cos").as("min_cos"),
            sum(when(col("cos") < 0.5, 1L).otherwise(0L)).as("n_outliers"))
          .selectExpr(
            "label", "n",
            "round(sum_cos / cast(n as double), 6) as mean_cos",
            "round(min_cos, 6) as min_cos",
            "n_outliers")
          .orderBy("label")
      },
      Some(s"""
        WITH dims AS (SELECT unnest(range(1, 65)) AS j),
        ex AS (
          SELECT label, j, CAST(embedding[j] AS DOUBLE) AS x
          FROM embeddings, dims),
        cd AS (
          SELECT label, j,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(1) AS m
          FROM ex GROUP BY label, j),
        ca AS (SELECT label, list(m ORDER BY j) AS cent FROM cd GROUP BY label),
        sc AS (
          SELECT e.label, e.vec_id,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65),
                     j -> CAST(e.embedding[j] AS DOUBLE) * c.cent[j])),
                   (a, v) -> a + v) AS dot,
                 ${duckDot("e.embedding", "e.embedding")} AS n2v,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65), j -> c.cent[j] * c.cent[j])),
                   (a, v) -> a + v) AS n2c
          FROM embeddings e JOIN ca c USING (label)),
        cz AS (SELECT label, vec_id, dot / (sqrt(n2v) * sqrt(n2c)) AS cos FROM sc)
        SELECT label, COUNT(1) AS n,
               round(CAST(SUM(CAST(cos AS DECIMAL(28,12))) AS DOUBLE)
                     / CAST(COUNT(1) AS DOUBLE), 6) AS mean_cos,
               round(MIN(cos), 6) AS min_cos,
               CAST(SUM(CASE WHEN cos < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM cz GROUP BY label ORDER BY label"""),
      "Label-noise audit: per-label centroid (exact DECIMAL dimension sums, " +
        "broadcast back) and each vector's cosine to its own centroid — " +
        "mean/min cosine and below-0.5 outlier counts per label; one tiny " +
        "dim-keyed shuffle + a map-only scoring pass.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q153
    Q(
      "q153_hard_negatives",
      (s, dir) => {
        // Contrastive HARD-NEGATIVE mining: for each probe, the top-3 most
        // cosine-similar vectors with a DIFFERENT label — the negatives
        // that sit closest to the decision boundary, which is exactly what
        // contrastive/embedding training wants in its batches (random
        // negatives are too easy to teach anything). Same bounded-probe
        // broadcast shape as q33: a CONSTANT 30-probe set against the
        // corpus scan, label inequality filtered BEFORE the per-probe
        // top-k so the rank is over true negatives only.
        val e = table(s, dir, "embeddings")
        val withNorm = e.selectExpr(
          "vec_id", "label", "embedding",
          s"${sparkDot("embedding", "embedding")} as n2")
        val probes = withNorm.filter(col("vec_id") < 30)
          .select(col("vec_id").as("pid"), col("label").as("p_label"),
            col("embedding").as("pe"), col("n2").as("pn2"))
        withNorm
          .select(col("vec_id").as("cid"), col("label").as("c_label"),
            col("embedding").as("ce"), col("n2").as("cn2"))
          .join(broadcast(probes),
            col("cid") =!= col("pid") && col("c_label") =!= col("p_label"))
          .selectExpr("pid", "p_label", "cid", "c_label",
            s"${sparkDot("pe", "ce")} as dot", "pn2", "cn2")
          .withColumn("sim", col("dot") / (sqrt(col("pn2")) * sqrt(col("cn2"))))
          .withColumn("rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 3)
          .select("pid", "p_label", "rank", "cid", "c_label", "sim")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH withnorm AS (
          SELECT vec_id, label, embedding,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        sims AS (
          SELECT p.vec_id AS pid, p.label AS p_label,
                 c.vec_id AS cid, c.label AS c_label,
                 ${duckDot("p.embedding", "c.embedding")}
                   / (SQRT(p.n2) * SQRT(c.n2)) AS sim
          FROM withnorm p JOIN withnorm c
            ON p.vec_id < 30 AND c.vec_id <> p.vec_id AND c.label <> p.label),
        ranked AS (
          SELECT pid, p_label, cid, c_label, sim,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY sim DESC, cid ASC) AS rank
          FROM sims)
        SELECT pid, p_label, rank, cid, c_label, sim
        FROM ranked WHERE rank <= 3
        ORDER BY pid, rank"""),
      "Contrastive hard-negative mining: per-probe top-3 cosine neighbors " +
        "with a different label (the boundary-hugging negatives embedding " +
        "training batches want) — constant broadcast probe set, label " +
        "filter before the per-probe top-k, exact q33 dot discipline."),

    // ---------------------------------------------------------------- q154
    Q(
      "q154_cluster_purity",
      (s, dir) => {
        // External cluster-quality audit of the IVF assignment against the
        // ground-truth labels: purity (majority-label mass), Rand index
        // (pair-agreement), and adjusted Rand (chance-corrected) — the
        // panel that decides whether a codebook is good enough to route
        // semantic dedup (q120) or kNN labeling (q130). Everything reduces
        // over the TINY (clusters x labels) contingency table: pair counts
        // C(n,2) are exact integers, the final index divisions share one
        // IEEE expression tree cross-engine. One vec_id equi-join + one
        // (cluster, label) shuffle; four 1-row aggregates broadcast back.
        val asg = assignedClusters(s, dir).select("vec_id", "cluster_id")
        val lab = table(s, dir, "embeddings").select("vec_id", "label")
        val ct = asg.join(lab, Seq("vec_id"))
          .groupBy("cluster_id", "label").agg(count(lit(1)).as("n"))
        val tot = ct.agg(
          sum("n").as("n_total"),
          sum(expr("n * (n - 1) div 2")).as("tp"))
        val cs = ct.groupBy("cluster_id")
          .agg(sum("n").as("nc"), max("n").as("mx"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(expr("nc * (nc - 1) div 2")).as("sc"),
            sum("mx").as("pure"))
        val ls = ct.groupBy("label").agg(sum("n").as("nl"))
          .agg(sum(expr("nl * (nl - 1) div 2")).as("sl"))
        tot.crossJoin(broadcast(cs)).crossJoin(broadcast(ls))
          .withColumn("pairs", expr("n_total * (n_total - 1) div 2"))
          .withColumn("exp_d", expr(
            "cast(sc as double) * cast(sl as double) / cast(pairs as double)"))
          .selectExpr(
            "n_total", "n_clusters",
            "round(cast(pure as double) / cast(n_total as double), 6) as purity",
            """round(cast(2 * tp + pairs - sc - sl as double)
                     / cast(pairs as double), 6) as rand_index""",
            """case when (cast(sc as double) + cast(sl as double)) / 2.0d - exp_d = 0.0d
                    then 0.0d
                    else round((cast(tp as double) - exp_d)
                      / ((cast(sc as double) + cast(sl as double)) / 2.0d - exp_d), 6)
               end as ari""")
      },
      Some(s"""
        WITH $duckAssigned,
        ct AS (
          SELECT a.cluster_id, e.label, COUNT(1) AS n
          FROM assigned a JOIN embeddings e USING (vec_id)
          GROUP BY a.cluster_id, e.label),
        tot AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS tp
          FROM ct),
        cs AS (
          SELECT COUNT(1) AS n_clusters,
                 CAST(SUM((nc * (nc - 1)) // 2) AS BIGINT) AS sc,
                 CAST(SUM(mx) AS BIGINT) AS pure
          FROM (SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS nc,
                       CAST(MAX(n) AS BIGINT) AS mx
                FROM ct GROUP BY cluster_id)),
        ls AS (
          SELECT CAST(SUM((nl * (nl - 1)) // 2) AS BIGINT) AS sl
          FROM (SELECT label, CAST(SUM(n) AS BIGINT) AS nl
                FROM ct GROUP BY label)),
        j AS (
          SELECT *, (n_total * (n_total - 1)) // 2 AS pairs,
                 CAST(sc AS DOUBLE) * CAST(sl AS DOUBLE)
                   / CAST((n_total * (n_total - 1)) // 2 AS DOUBLE) AS exp_d
          FROM tot, cs, ls)
        SELECT n_total, n_clusters,
               round(CAST(pure AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS purity,
               round(CAST(2 * tp + pairs - sc - sl AS DOUBLE)
                     / CAST(pairs AS DOUBLE), 6) AS rand_index,
               CASE WHEN (CAST(sc AS DOUBLE) + CAST(sl AS DOUBLE)) / 2.0 - exp_d = 0.0
                    THEN 0.0
                    ELSE round((CAST(tp AS DOUBLE) - exp_d)
                      / ((CAST(sc AS DOUBLE) + CAST(sl AS DOUBLE)) / 2.0 - exp_d), 6)
               END AS ari
        FROM j"""),
      "External cluster-quality panel for the IVF assignment vs labels: " +
        "purity, Rand index, adjusted Rand — exact integer pair counts over " +
        "the tiny contingency table, one equi-join + one (cluster,label) " +
        "shuffle, chance-correction shares one IEEE tree cross-engine.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q157
    Q(
      "q157_pca_power",
      (s, dir) => {
        // Top PRINCIPAL DIRECTION of the embedding corpus by 3 unrolled
        // distributed power-iteration rounds: w <- Σ_v v (v·w), starting
        // from the all-ones vector. The scale shape that makes streaming
        // PCA viable at 100 TB: each round is ONE map pass (dot against
        // the broadcast 64-double w) + ONE dims-keyed aggregate (64
        // groups), never a materialized Gram matrix and never a gathered
        // corpus. Cross-engine determinism: the per-row dot folds dims in
        // fixed order (IEEE-identical), contributions sum exactly via
        // round-then-DECIMAL (the q122 discipline — order-free), and the
        // final normalization folds the 64-entry result in index order.
        // Output: per-dimension unit direction + the Rayleigh-style gain
        // ||w3||/||w2|| (top-eigenvalue estimate of Σ vvᵀ).
        val (w2, w3) = powerIterW2W3(s, dir)
        val n2 = w2.selectExpr(
          "aggregate(transform(warr, x -> x * x), cast(0 as double), (acc, x) -> acc + x) as norm2")
        val n3 = w3.selectExpr(
          "warr",
          "aggregate(transform(warr, x -> x * x), cast(0 as double), (acc, x) -> acc + x) as norm3")
        n3.crossJoin(broadcast(n2))
          .select(posexplode(col("warr")).as(Seq("j0", "wj")),
            col("norm3"), col("norm2"))
          .selectExpr(
            "cast(j0 + 1 as int) as j",
            "round(wj / sqrt(norm3), 6) as u",
            "round(sqrt(norm3) / sqrt(norm2), 6) as gain")
          .orderBy("j")
      },
      Some(s"""
        WITH $duckPowerCtes,
        n2 AS (
          SELECT list_reduce(list_transform(range(1, 65), j -> warr[j] * warr[j]),
                   (acc, x) -> acc + x) AS norm2
          FROM w2),
        n3 AS (
          SELECT warr,
                 list_reduce(list_transform(range(1, 65), j -> warr[j] * warr[j]),
                   (acc, x) -> acc + x) AS norm3
          FROM w3)
        SELECT j, round(warr[j] / sqrt(norm3), 6) AS u,
               round(sqrt(norm3) / sqrt(norm2), 6) AS gain
        FROM n3, n2, dims
        ORDER BY j"""),
      "Distributed PCA power iteration (3 unrolled rounds from all-ones): " +
        "per round one broadcast-dot map pass + one 64-group exact decimal " +
        "aggregate — no Gram matrix, no gathered corpus; emits the unit top " +
        "direction and the Rayleigh gain ||w3||/||w2||.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q158
    Q(
      "q158_silhouette",
      (s, dir) => {
        // INTERNAL cluster-quality metric to pair with q154's external
        // panel: the simplified (centroid-based) silhouette — a = distance
        // to the OWN centroid, b = min distance to any OTHER centroid,
        // s = (b-a)/max(a,b). The simplification is the scale move: the
        // classic silhouette's per-point mean distance to every co-member
        // is Σ cluster² pairwise work, the centroid form is one broadcast
        // of k centroids against the corpus scan — the only version that
        // survives 100 TB, and the one that needs no second pass.
        // Per-cluster means use round-then-DECIMAL sums (order-free).
        val asg = assignedClusters(s, dir)
        val e = table(s, dir, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .selectExpr("vec_id as centroid_id", "embedding as ce",
            s"${sparkDot("embedding", "embedding")} as n2c")
        val d = asg.crossJoin(broadcast(cents))
          .selectExpr("vec_id", "cluster_id", "centroid_id",
            s"sqrt(greatest(n2 - 2.0d * ${sparkDot("embedding", "ce")} + n2c, cast(0 as double))) as d")
        d.groupBy("vec_id", "cluster_id")
          .agg(
            max(expr("case when centroid_id = cluster_id then d end")).as("a"),
            min(expr("case when centroid_id <> cluster_id then d end")).as("b"))
          .selectExpr("vec_id", "cluster_id",
            """case when greatest(a, b) = 0.0d then 0.0d
                    else (b - a) / greatest(a, b) end as sil""")
          .groupBy("cluster_id")
          .agg(
            count(lit(1)).as("n"),
            sum(expr("cast(round(sil, 9) as decimal(28,12))")).as("ssum"),
            min("sil").as("mn"),
            sum(expr("case when sil < 0.0d then 1 else 0 end")).as("nneg"))
          .selectExpr("cluster_id", "n",
            "round(cast(ssum as double) / cast(n as double), 6) as mean_sil",
            "round(mn, 6) as min_sil",
            "round(cast(nneg as double) / cast(n as double), 6) as frac_neg")
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH $duckAssigned,
        cents2 AS (
          SELECT vec_id AS centroid_id, embedding AS ce,
                 ${duckDot("embedding", "embedding")} AS n2c
          FROM embeddings WHERE vec_id < 8),
        n2v AS (
          SELECT a.vec_id, a.cluster_id, a.embedding,
                 ${duckDot("a.embedding", "a.embedding")} AS n2
          FROM assigned a),
        d AS (
          SELECT v.vec_id, v.cluster_id, c.centroid_id,
                 sqrt(greatest(v.n2 - 2.0 * ${duckDot("v.embedding", "c.ce")} + c.n2c,
                               CAST(0 AS DOUBLE))) AS d
          FROM n2v v CROSS JOIN cents2 c),
        ab AS (
          SELECT vec_id, cluster_id,
                 MAX(CASE WHEN centroid_id = cluster_id THEN d END) AS a,
                 MIN(CASE WHEN centroid_id <> cluster_id THEN d END) AS b
          FROM d GROUP BY vec_id, cluster_id),
        sil AS (
          SELECT vec_id, cluster_id,
                 CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                      ELSE (b - a) / greatest(a, b) END AS sil
          FROM ab)
        SELECT cluster_id, COUNT(1) AS n,
               round(CAST(SUM(CAST(round(sil, 9) AS DECIMAL(28,12))) AS DOUBLE)
                     / CAST(COUNT(1) AS DOUBLE), 6) AS mean_sil,
               round(MIN(sil), 6) AS min_sil,
               round(CAST(SUM(CASE WHEN sil < 0.0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(1) AS DOUBLE), 6) AS frac_neg
        FROM sil GROUP BY cluster_id
        ORDER BY cluster_id"""),
      "Simplified (centroid-based) silhouette per cluster — the internal " +
        "quality metric that survives 100 TB: one k-centroid broadcast " +
        "against the corpus scan instead of Σ cluster² pairwise work; " +
        "round-then-decimal means, exact negative-silhouette census."),

    // ---------------------------------------------------------------- q159
    Q(
      "q159_jl_distortion",
      (s, dir) => {
        // Johnson-Lindenstrauss projection audit: project 64-dim vectors
        // to 8 dims through a DETERMINISTIC Rademacher matrix (sign bits
        // from the library's hyperplane LCG — pure integer arithmetic,
        // engine-identical) and measure pairwise squared-distance
        // distortion over a bounded probe set. ratio = ||p(u)-p(v)||²/8
        // over ||u-v||² — unbiased at 1 in expectation; the audit that
        // says whether 8 planes are enough before routing ANN through a
        // projected index. Map-only projection; the 20-probe pair join
        // broadcasts (190 pairs, never corpus-sized).
        val sign =
          """(case when (1103515245 * cast(k * 64 + (j - 1) as bigint) + 12345)
                     % 2147483648 >= 1073741824 then 1.0d else -1.0d end)"""
        val probes = table(s, dir, "embeddings")
          .filter(col("vec_id") < 20)
          .selectExpr(
            "vec_id",
            "transform(embedding, x -> cast(x as double)) as v",
            s"""transform(sequence(0, 7), k ->
                  aggregate(sequence(1, 64), cast(0 as double), (acc, j) ->
                    acc + cast(element_at(embedding, j) as double) * $sign)) as p""")
        val a = probes.select(col("vec_id").as("id_a"),
          col("v").as("va"), col("p").as("pa"))
        val b = probes.select(col("vec_id").as("id_b"),
          col("v").as("vb"), col("p").as("pb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .selectExpr("id_a", "id_b",
            """aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),
                 cast(0 as double), (acc, x) -> acc + x) as od""",
            """aggregate(zip_with(pa, pb, (x, y) -> (x - y) * (x - y)),
                 cast(0 as double), (acc, x) -> acc + x) as pd""")
          .filter(col("od") > 0)
          .selectExpr("id_a", "id_b",
            "round(od, 6) as od2",
            "round(pd / 8.0d, 6) as pd2",
            "round(pd / 8.0d / od, 6) as ratio")
          .orderBy("id_a", "id_b")
      },
      Some("""
        WITH probes AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 list_transform(range(0, 8), k ->
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 65), j ->
                       CAST(embedding[j] AS DOUBLE) *
                         (CASE WHEN (1103515245 * (k * 64 + (j - 1)) + 12345)
                                 % 2147483648 >= 1073741824
                               THEN 1.0 ELSE -1.0 END))),
                     (acc, x) -> acc + x)) AS p
          FROM embeddings WHERE vec_id < 20),
        pr AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 65),
                     j -> (a.v[j] - b.v[j]) * (a.v[j] - b.v[j]))),
                   (acc, x) -> acc + x) AS od,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 9),
                     k -> (a.p[k] - b.p[k]) * (a.p[k] - b.p[k]))),
                   (acc, x) -> acc + x) AS pd
          FROM probes a JOIN probes b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b,
               round(od, 6) AS od2,
               round(pd / 8.0, 6) AS pd2,
               round(pd / 8.0 / od, 6) AS ratio
        FROM pr WHERE od > 0
        ORDER BY id_a, id_b"""),
      "JL projection distortion audit: deterministic Rademacher signs from " +
        "the hyperplane LCG (integer-exact cross-engine), 64->8 dims, " +
        "pairwise squared-distance ratios over a bounded broadcast probe " +
        "set — the check that sizes a projected ANN index before building it.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q163
    Q(
      "q163_pca_scores",
      (s, dir) => {
        // USE the trained principal direction (q157's power-iteration
        // front): project every vector onto the unit top component and
        // surface the 5 most extreme corpus members at each end — the
        // embedding-drift / outlier triage view a data pipeline reads
        // after PCA (what IS this axis? look at its extremes). One
        // broadcast of the 1-row direction against the corpus scan, two
        // TakeOrderedAndProject top-ks — no sort, no gather.
        val (_, w3) = powerIterW2W3(s, dir)
        val n3 = w3.selectExpr("warr",
          "aggregate(transform(warr, x -> x * x), cast(0 as double), (acc, x) -> acc + x) as norm3")
        val scored = doubleVecs(s, dir).crossJoin(broadcast(n3))
          .selectExpr("vec_id",
            """aggregate(zip_with(v, warr, (a, b) -> a * b),
                 cast(0 as double), (acc, x) -> acc + x) / sqrt(norm3) as score""")
        val top = scored.orderBy(col("score").desc, col("vec_id"))
          .limit(5).selectExpr("'top' as grp", "vec_id", "round(score, 6) as score")
        val bottom = scored.orderBy(col("score").asc, col("vec_id"))
          .limit(5).selectExpr("'bottom' as grp", "vec_id", "round(score, 6) as score")
        top.unionAll(bottom)
          .orderBy(col("grp"), col("score").desc, col("vec_id"))
      },
      Some(s"""
        WITH $duckPowerCtes,
        n3 AS (
          SELECT warr,
                 list_reduce(list_transform(range(1, 65), j -> warr[j] * warr[j]),
                   (acc, x) -> acc + x) AS norm3
          FROM w3),
        scored AS (
          SELECT vec_id,
                 list_reduce(list_transform(range(1, 65), j -> v.v[j] * warr[j]),
                   (acc, x) -> acc + x) / sqrt(norm3) AS score
          FROM v, n3),
        top AS (
          SELECT 'top' AS grp, vec_id, round(score, 6) AS score
          FROM scored ORDER BY score DESC, vec_id LIMIT 5),
        bottom AS (
          SELECT 'bottom' AS grp, vec_id, round(score, 6) AS score
          FROM scored ORDER BY score ASC, vec_id LIMIT 5)
        SELECT grp, vec_id, score FROM (
          SELECT * FROM top UNION ALL SELECT * FROM bottom)
        ORDER BY grp, score DESC, vec_id"""),
      "PC1 scores from the trained power-iteration direction: corpus " +
        "projected onto the unit top component, 5 extremes per end via " +
        "TakeOrderedAndProject — the axis-triage view after PCA; 1-row " +
        "direction broadcast, no global sort.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q164
    Q(
      "q164_pq_quantize",
      (s, dir) => {
        // PRODUCT QUANTIZATION — the memory-side ANN technique SQ8 (q77)
        // doesn't cover: split 64 dims into 8 subspaces, quantize each
        // sub-vector to its nearest of 4 sub-centroids, store 8 tiny codes
        // (2 bits each) instead of 64 floats. This query audits the
        // codebook: per-subspace mean squared reconstruction error
        // (round-then-DECIMAL sums, order-free) and how many cells each
        // subspace actually uses — a subspace collapsing onto one cell
        // means its codebook wastes bits. Scale: one 32-row codebook
        // broadcast against the corpus scan, one (vec_id, m) min-struct
        // aggregate, one m-keyed rollup; no windows over corpus frames.
        pqAssigned(s, dir)
          .groupBy("m")
          .agg(
            count(lit(1)).as("n"),
            sum(expr("cast(round(err, 9) as decimal(28,12))")).as("sse"),
            countDistinct("cid").as("cells_used"))
          .selectExpr("cast(m as int) as m", "n", "cells_used",
            "round(cast(sse as double) / cast(n as double), 6) as mse")
          .orderBy("m")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        $duckPqCtes
        SELECT CAST(m AS INTEGER) AS m, COUNT(1) AS n,
               CAST(COUNT(DISTINCT cid) AS BIGINT) AS cells_used,
               round(CAST(SUM(CAST(round(err, 9) AS DECIMAL(28,12))) AS DOUBLE)
                     / CAST(COUNT(1) AS DOUBLE), 6) AS mse
        FROM pqa GROUP BY m
        ORDER BY m"""),
      "Product-quantization codebook audit: 8x8-dim subspaces, 4 cells " +
        "each, per-subspace reconstruction MSE and cell usage — 32-row " +
        "codebook broadcast + min-struct assignment, the 32x-compression " +
        "storage path SQ8 doesn't reach."),

    // ---------------------------------------------------------------- q165
    Q(
      "q165_pq_adc_recall",
      (s, dir) => {
        // The PQ SEARCH audit (the q102 recall-contract pattern for the
        // PQ index): asymmetric distance computation — each probe builds
        // a 32-entry lookup table (its true sub-vector vs every sub-
        // centroid), a candidate's approximate distance is the sum of 8
        // table hits keyed by its stored code, and PQ top-5 is judged
        // against the exact Euclidean top-5. Scale: the LUT is probes x
        // 32 (bounded, broadcast); candidates join it (m, cid)-keyed —
        // codes move, floats don't; per-(probe, cand) sums are 8-term
        // round-then-DECIMAL (order-free); both top-5s are per-probe
        // bounded windows over probe-keyed partitions.
        val probes = doubleVecs(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("v").as("pv"))
        val lut = probes.crossJoin(broadcast(pqCentroids(s, dir)))
          .selectExpr("pid", "m", "cid",
            """aggregate(zip_with(slice(pv, m * 8 + 1, 8), sc,
                 (x, c) -> (x - c) * (x - c)), cast(0 as double), (acc, x) -> acc + x) as d2m""")
        val approx = pqAssigned(s, dir).select("vec_id", "m", "cid")
          .join(broadcast(lut), Seq("m", "cid"))
          .filter(col("vec_id") =!= col("pid"))
          .groupBy("pid", "vec_id")
          .agg(sum(expr("cast(round(d2m, 9) as decimal(28,12))")).as("ad2"))
          .withColumn("rn", expr(
            "row_number() over (partition by pid order by ad2 asc, vec_id asc)"))
          .filter(col("rn") <= 5)
          .select("pid", "vec_id")
        val exact = doubleVecs(s, dir)
          .crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("pid"))
          .selectExpr("pid", "vec_id",
            """aggregate(zip_with(v, pv, (x, p) -> (x - p) * (x - p)),
                 cast(0 as double), (acc, x) -> acc + x) as ed2""")
          .withColumn("rn", expr(
            "row_number() over (partition by pid order by ed2 asc, vec_id asc)"))
          .filter(col("rn") <= 5)
          .select("pid", "vec_id")
        val hits = approx.join(exact, Seq("pid", "vec_id"))
          .groupBy("pid").agg(count(lit(1)).as("n_hit"))
        probes.select(col("pid"))
          .join(hits, Seq("pid"), "left")
          .selectExpr("pid", "coalesce(n_hit, 0L) as n_hit",
            "round(cast(coalesce(n_hit, 0L) as double) / 5.0d, 6) as recall_at_5")
          .orderBy("pid")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        $duckPqCtes,
        probes AS (SELECT vec_id AS pid, v AS pv FROM v WHERE vec_id < 20),
        lut AS (
          SELECT p.pid, c.m, c.cid,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 9), j ->
                     (p.pv[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)])
                       * (p.pv[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)]))),
                   (acc, x) -> acc + x) AS d2m
          FROM probes p CROSS JOIN pqc c),
        approx AS (
          SELECT pid, vec_id FROM (
            SELECT a.pid, a.vec_id,
                   row_number() OVER (PARTITION BY a.pid
                                      ORDER BY a.ad2 ASC, a.vec_id ASC) AS rn
            FROM (
              SELECT l.pid, q.vec_id,
                     SUM(CAST(round(l.d2m, 9) AS DECIMAL(28,12))) AS ad2
              FROM pqa q JOIN lut l ON l.m = q.m AND l.cid = q.cid
              WHERE q.vec_id <> l.pid
              GROUP BY l.pid, q.vec_id) a)
          WHERE rn <= 5),
        exact AS (
          SELECT pid, vec_id FROM (
            SELECT p.pid, e.vec_id,
                   row_number() OVER (PARTITION BY p.pid ORDER BY
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(range(1, 65), j ->
                         (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)])
                           * (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)]))),
                       (acc, x) -> acc + x) ASC, e.vec_id ASC) AS rn
            FROM v e CROSS JOIN probes p
            WHERE e.vec_id <> p.pid)
          WHERE rn <= 5),
        hits AS (
          SELECT pid, COUNT(1) AS n_hit
          FROM approx JOIN exact USING (pid, vec_id) GROUP BY pid)
        SELECT p.pid, COALESCE(h.n_hit, 0) AS n_hit,
               round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 5.0, 6) AS recall_at_5
        FROM probes p LEFT JOIN hits h USING (pid)
        ORDER BY p.pid"""),
      "PQ asymmetric-distance search audit: per-probe 32-entry LUT " +
        "(broadcast), candidates join it code-keyed — floats never move — " +
        "8-term exact decimal sums, PQ top-5 vs exact Euclidean top-5 " +
        "recall; the q102 recall-contract pattern for the PQ index.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q166
    Q(
      "q166_pq_refine",
      (s, dir) => {
        // One Lloyd refinement round for the PQ codebook — the training
        // move that closes q165's fixed-seed recall gap: each sub-
        // centroid re-estimated as the EXACT mean of its assigned sub-
        // vectors (decimal dimension sums, the kmeansFit convention),
        // corpus re-assigned under the refined codebook, per-subspace
        // MSE before/after reported. Empty cells inherit their seed
        // (coalesce — the kmeansFit dead-centroid rule). Scale: the
        // update is one (m, cid, j)-keyed aggregate (256 groups); both
        // assignments are 32-row codebook broadcasts; nothing corpus-
        // sized shuffles except the two keyed aggregates.
        val v = doubleVecs(s, dir)
        val mse0 = pqAssigned(s, dir).groupBy("m")
          .agg(sum(expr("cast(round(err, 9) as decimal(28,12))")).as("sse0"),
            count(lit(1)).as("n"))
        val newc = pqAssigned(s, dir).select("vec_id", "m", "cid")
          .join(v, Seq("vec_id"))
          .select(col("m"), col("cid"),
            posexplode(expr("slice(v, m * 8 + 1, 8)")).as(Seq("j0", "x")))
          .groupBy("m", "cid", "j0")
          .agg(sum(expr("cast(x as decimal(28,12))")).as("sx"),
            count(lit(1)).as("nx"))
          .withColumn("mean", expr("cast(sx as double) / cast(nx as double)"))
          .groupBy("m", "cid")
          .agg(expr("""transform(array_sort(collect_list(struct(j0, mean))),
                         p -> p.mean) as sc2"""))
        val cents2 = pqCentroids(s, dir)
          .join(newc, Seq("m", "cid"), "left")
          .selectExpr("m", "cid", "coalesce(sc2, sc) as sc")
        val err2 = v.crossJoin(broadcast(cents2))
          .selectExpr("vec_id", "m", "cid",
            """aggregate(zip_with(slice(v, m * 8 + 1, 8), sc,
                 (x, c) -> (x - c) * (x - c)), cast(0 as double), (acc, x) -> acc + x) as d2""")
          .groupBy("vec_id", "m")
          .agg(min(struct(col("d2"), col("cid"))).as("best"))
          .selectExpr("m", "best.d2 as err")
          .groupBy("m")
          .agg(sum(expr("cast(round(err, 9) as decimal(28,12))")).as("sse1"))
        mse0.join(err2, Seq("m"))
          .selectExpr("cast(m as int) as m",
            "round(cast(sse0 as double) / cast(n as double), 6) as mse0",
            "round(cast(sse1 as double) / cast(n as double), 6) as mse1",
            "round(cast(sse1 as double) / cast(sse0 as double), 6) as ratio")
          .orderBy("m")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        $duckPqCtes,
        mse0 AS (
          SELECT m, SUM(CAST(round(err, 9) AS DECIMAL(28,12))) AS sse0,
                 COUNT(1) AS n
          FROM pqa GROUP BY m),
        px AS (
          SELECT a.m, a.cid, j.j0,
                 e.v[CAST(a.m * 8 + j.j0 + 1 AS INTEGER)] AS x
          FROM pqa a JOIN v e USING (vec_id),
               (SELECT unnest(range(0, 8)) AS j0) j),
        sums AS (
          SELECT m, cid, j0,
                 CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
                   / CAST(COUNT(1) AS DOUBLE) AS mean
          FROM px GROUP BY m, cid, j0),
        newc AS (
          SELECT m, cid, list(mean ORDER BY j0) AS sc2
          FROM sums GROUP BY m, cid),
        cents2 AS (
          SELECT c.m, c.cid, COALESCE(n.sc2, c.sc) AS sc
          FROM pqc c LEFT JOIN newc n ON n.m = c.m AND n.cid = c.cid),
        d2b AS (
          SELECT e.vec_id, c.m, c.cid,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 9), j ->
                     (e.v[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)])
                       * (e.v[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)]))),
                   (acc, x) -> acc + x) AS d2
          FROM v e CROSS JOIN cents2 c),
        a2 AS (
          SELECT vec_id, m, d2 AS err FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, cid) AS rn FROM d2b)
          WHERE rn = 1),
        sse1 AS (
          SELECT m, SUM(CAST(round(err, 9) AS DECIMAL(28,12))) AS sse1
          FROM a2 GROUP BY m)
        SELECT CAST(m AS INTEGER) AS m,
               round(CAST(sse0 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mse0,
               round(CAST(sse1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mse1,
               round(CAST(sse1 AS DOUBLE) / CAST(sse0 AS DOUBLE), 6) AS ratio
        FROM mse0 JOIN sse1 USING (m)
        ORDER BY m"""),
      "PQ codebook Lloyd refinement: exact-decimal sub-centroid means, " +
        "re-assignment under the refined 32-row broadcast codebook, " +
        "per-subspace MSE before/after — the training round that closes " +
        "the fixed-seed recall gap q165 exposes; 256-group update, " +
        "nothing corpus-sized beyond two keyed aggregates.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q175
    Q(
      "q175_mmr_rerank",
      (s, dir) => {
        // DIVERSIFIED retrieval: maximal marginal relevance re-ranking of
        // the cosine top-8 — greedy selection of 3 results maximizing
        // lambda*rel - (1-lambda)*max_sim_to_already_selected (lambda
        // 0.7). Pure relevance ranking (q33) returns redundant
        // near-duplicates of the same hit; MMR is the standard fix for
        // retrieval-augmented pipelines that pay per-token for context.
        // The greedy argmax is inherently sequential in k, so it unrolls
        // as k=3 FIXED selection rounds — identical unrolled arithmetic
        // in both engines. Scale: candidate generation is the constant-
        // probe q33 posture (one corpus scan against broadcast probes);
        // every MMR round then operates on the (probes x 8) candidate
        // frame and its (probes x 8 x 8) pairwise-sim frame — bounded by
        // the probe set, never corpus-sized; selection argmax is a
        // partitioned (per-pid) window.
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val wn = e.selectExpr("vec_id", "embedding",
          s"${sparkDot("embedding", "embedding")} as n2")
        val probes = wn.filter(col("vec_id") < 10)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("n2").as("pn2"))
        val cand = wn
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("n2").as("cn2"))
          .join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid", "ce", "cn2",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as rel")
          .withColumn("rk",
            expr("row_number() over (partition by pid order by rel desc, cid asc)"))
          .filter(col("rk") <= 8)
          .select("pid", "cid", "ce", "cn2", "rel")
        val sims = cand.select(col("pid"), col("cid"), col("ce"), col("cn2"))
          .join(
            cand.select(col("pid"), col("cid").as("ocid"),
              col("ce").as("oce"), col("cn2").as("ocn2")),
            Seq("pid"))
          .filter(col("cid") =!= col("ocid"))
          .selectExpr("pid", "cid", "ocid",
            s"${sparkDot("ce", "oce")} / (sqrt(cn2) * sqrt(ocn2)) as sim")
        val s1 = cand
          .withColumn("rk",
            expr("row_number() over (partition by pid order by rel desc, cid asc)"))
          .filter(col("rk") === 1)
          .select(col("pid"), col("cid").as("s1"), col("rel").as("rel1"))
        val sc2 = cand.join(s1, Seq("pid")).filter(col("cid") =!= col("s1"))
          .join(sims.select(col("pid"), col("cid"),
            col("ocid").as("s1"), col("sim").as("sim1")), Seq("pid", "cid", "s1"))
          .withColumn("score",
            expr("cast(0.7 as double) * rel - cast(0.3 as double) * sim1"))
        val s2 = sc2
          .withColumn("rk",
            expr("row_number() over (partition by pid order by score desc, cid asc)"))
          .filter(col("rk") === 1)
          .select(col("pid"), col("cid").as("s2"), col("score").as("score2"))
        val sc3 = sc2.select("pid", "cid", "rel", "sim1")
          .join(s2.select("pid", "s2"), Seq("pid")).filter(col("cid") =!= col("s2"))
          .join(sims.select(col("pid"), col("cid"),
            col("ocid").as("s2"), col("sim").as("sim2")), Seq("pid", "cid", "s2"))
          .withColumn("score",
            expr("cast(0.7 as double) * rel - cast(0.3 as double) * greatest(sim1, sim2)"))
        val s3 = sc3
          .withColumn("rk",
            expr("row_number() over (partition by pid order by score desc, cid asc)"))
          .filter(col("rk") === 1)
          .select(col("pid"), col("cid").as("s3"), col("score").as("score3"))
        s1.selectExpr("pid", "cast(1 as int) as sel_rank", "s1 as cid",
            "round(cast(0.7 as double) * rel1, 6) as mmr_score")
          .union(s2.selectExpr("pid", "cast(2 as int) as sel_rank", "s2 as cid",
            "round(score2, 6) as mmr_score"))
          .union(s3.selectExpr("pid", "cast(3 as int) as sel_rank", "s3 as cid",
            "round(score3, 6) as mmr_score"))
          .orderBy("pid", "sel_rank")
      },
      Some(s"""
        WITH wn AS (
          SELECT vec_id, embedding, ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        pr AS (SELECT vec_id AS pid, embedding AS pe, n2 AS pn2 FROM wn WHERE vec_id < 10),
        cd AS (
          SELECT pid, cid, ce, cn2, rel FROM (
            SELECT p.pid, c.vec_id AS cid, c.embedding AS ce, c.n2 AS cn2,
                   ${duckDot("p.pe", "c.embedding")} / (SQRT(p.pn2) * SQRT(c.n2)) AS rel,
                   row_number() OVER (PARTITION BY p.pid
                     ORDER BY ${duckDot("p.pe", "c.embedding")}
                                / (SQRT(p.pn2) * SQRT(c.n2)) DESC, c.vec_id ASC) AS rk
            FROM pr p JOIN wn c ON c.vec_id <> p.pid)
          WHERE rk <= 8),
        sims AS (
          SELECT a.pid, a.cid, b.cid AS ocid,
                 ${duckDot("a.ce", "b.ce")} / (SQRT(a.cn2) * SQRT(b.cn2)) AS sim
          FROM cd a JOIN cd b ON a.pid = b.pid AND a.cid <> b.cid),
        s1 AS (
          SELECT pid, cid AS s1, rel AS rel1 FROM (
            SELECT pid, cid, rel,
                   row_number() OVER (PARTITION BY pid ORDER BY rel DESC, cid ASC) AS rk
            FROM cd) WHERE rk = 1),
        sc2 AS (
          SELECT c.pid, c.cid, c.rel, sm.sim AS sim1,
                 CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * sm.sim AS score
          FROM cd c
          JOIN s1 ON c.pid = s1.pid AND c.cid <> s1.s1
          JOIN sims sm ON sm.pid = c.pid AND sm.cid = c.cid AND sm.ocid = s1.s1),
        s2 AS (
          SELECT pid, cid AS s2, score AS score2 FROM (
            SELECT pid, cid, score,
                   row_number() OVER (PARTITION BY pid ORDER BY score DESC, cid ASC) AS rk
            FROM sc2) WHERE rk = 1),
        sc3 AS (
          SELECT c.pid, c.cid,
                 CAST(0.7 AS DOUBLE) * c.rel
                   - CAST(0.3 AS DOUBLE) * greatest(c.sim1, sm.sim) AS score
          FROM sc2 c
          JOIN s2 ON c.pid = s2.pid AND c.cid <> s2.s2
          JOIN sims sm ON sm.pid = c.pid AND sm.cid = c.cid AND sm.ocid = s2.s2),
        s3 AS (
          SELECT pid, cid AS s3, score AS score3 FROM (
            SELECT pid, cid, score,
                   row_number() OVER (PARTITION BY pid ORDER BY score DESC, cid ASC) AS rk
            FROM sc3) WHERE rk = 1)
        SELECT pid, CAST(1 AS INTEGER) AS sel_rank, s1 AS cid,
               round(CAST(0.7 AS DOUBLE) * rel1, 6) AS mmr_score FROM s1
        UNION ALL SELECT pid, 2, s2, round(score2, 6) FROM s2
        UNION ALL SELECT pid, 3, s3, round(score3, 6) FROM s3
        ORDER BY pid, sel_rank"""),
      "Diversified retrieval: MMR greedy top-3 over the cosine top-8 " +
        "(lambda 0.7), unrolled as 3 fixed selection rounds — constant-probe " +
        "candidate generation (one corpus scan vs broadcast probes), then " +
        "probe-bounded candidate/pair frames and per-pid argmax windows; " +
        "the redundancy fix for RAG context assembly.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q228
    Q(
      "q228_semdedup_multiprobe",
      (s, dir) => {
        // The q102 multi-probe lever applied to SEMANTIC DEDUP — closing
        // the documented recall gap of cell-local pair comparison (pairs
        // split across a cluster boundary are invisible at nProbe = 1):
        // Ann.ivfMultiAssign maps every vector to its nProbe nearest
        // cells, a pair is compared if ANY probed cell is shared, and the
        // audit grades pair recovery against the exact probe-bounded
        // truth (pairs at cosine >= 0.35 with id_a < 20 — the q102
        // bounded-truth posture) at nProbe 1, 2, 4. Recovery rises
        // strictly at every test SF (7/12/16 of 16 truth pairs at
        // sf0.001). Scale: truth is probes x corpus with the probe side
        // broadcast; candidates are cluster-keyed equi-joins whose work
        // grows linearly in nProbe — never all-pairs.
        val tau = 0.35
        val e = table(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val withN2 = e.selectExpr(
          "vec_id", "embedding", s"${sparkDot("embedding", "embedding")} as n2")
        val probes = withN2.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"), col("n2").as("pn2"))
        val truth = withN2
          .select(col("vec_id").as("cid"), col("embedding").as("ce2"), col("n2").as("cn2"))
          .join(broadcast(probes), col("cid") > col("pid"))
          .selectExpr("pid as a", "cid as b",
            s"${sparkDot("pe", "ce2")} / (sqrt(pn2) * sqrt(cn2)) as sim")
          .filter(col("sim") >= tau)
          .select("a", "b")
        def summary(np: Int) = {
          val ma = graft.operators.Ann
            .ivfMultiAssign(s, e, "vec_id", "embedding", cents, np)
          val left = ma
            .join(broadcast(probes.select(col("pid").as("vec_id"))), Seq("vec_id"), "left_semi")
            .select(col("vec_id").as("a"), col("cluster_id"))
          val right = ma.select(col("vec_id").as("b"), col("cluster_id"))
          val cand = left.join(right, Seq("cluster_id"))
            .filter(col("b") > col("a"))
            .select("a", "b").distinct()
          val hit = truth.join(cand, Seq("a", "b"))
          truth.agg(count(lit(1)).as("n_truth"))
            .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_found"))))
            .select(
              lit(np).as("n_probe"),
              col("n_truth"), col("n_found"),
              (col("n_found").cast("double") / col("n_truth")).as("recall"))
        }
        summary(1).unionAll(summary(2)).unionAll(summary(4)).orderBy("n_probe")
      },
      Some {
        def row(np: Int) = s"""
          SELECT CAST($np AS INTEGER) AS n_probe,
                 (SELECT COUNT(1) FROM truth) AS n_truth,
                 (SELECT COUNT(1) FROM truth t
                    JOIN (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                          FROM ma x JOIN ma y ON y.cid = x.cid AND y.vec_id > x.vec_id
                          WHERE x.vec_id < 20 AND x.rn <= $np AND y.rn <= $np)
                      c ON c.a = t.a AND c.b = t.b) AS n_found,
                 CAST((SELECT COUNT(1) FROM truth t
                    JOIN (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                          FROM ma x JOIN ma y ON y.cid = x.cid AND y.vec_id > x.vec_id
                          WHERE x.vec_id < 20 AND x.rn <= $np AND y.rn <= $np)
                      c ON c.a = t.a AND c.b = t.b) AS DOUBLE)
                   / (SELECT COUNT(1) FROM truth) AS recall"""
        s"""
        WITH sized AS MATERIALIZED (
          SELECT vec_id, embedding,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        cents AS (SELECT vec_id AS cid0, embedding AS ce FROM embeddings WHERE vec_id < 8),
        ma AS MATERIALIZED (
          SELECT vec_id, cid, rn FROM (
            SELECT e.vec_id, c.cid0 AS cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY ${duckDot("e.embedding", "c.ce")} DESC, c.cid0 ASC) AS rn
            FROM embeddings e CROSS JOIN cents c)
          WHERE rn <= 4),
        truth AS MATERIALIZED (
          SELECT p.vec_id AS a, c.vec_id AS b
          FROM sized p JOIN sized c ON p.vec_id < 20 AND c.vec_id > p.vec_id
          WHERE ${duckDot("p.embedding", "c.embedding")} / (SQRT(p.n2) * SQRT(c.n2)) >= 0.35)
        ${row(1)}
        UNION ALL ${row(2)}
        UNION ALL ${row(4)}
        ORDER BY n_probe"""
      },
      "Multi-probe semantic dedup recall: pairs split across cluster " +
        "boundaries (invisible cell-locally) recovered by comparing inside " +
        "each vector's nProbe nearest cells — pair recovery vs exact " +
        "probe-bounded truth rises strictly at nProbe 1/2/4; cluster-keyed " +
        "equi-joins, work linear in nProbe, never all-pairs.")
    ,

    // ---------------------------------------------------------------- q235
    Q(
      "q235_ivfpq_search",
      (s, dir) => {
        // The COMPOSED production ANN index (Faiss IVFPQ shape, no-residual
        // variant): coarse IVF routing restricts candidates to each probe's
        // nProbe=2 nearest cells, PQ asymmetric distance (q165's LUT) ranks
        // them WITHOUT touching candidate floats, the ADC top-10 shortlist
        // alone is re-ranked in full precision, and each final hit carries
        // an in_exact3 flag against the global brute-force top-3 — the
        // recall audit built into the result. Scale: index = codes + cell
        // ids only (floats never shuffle in the candidate path), LUT is
        // probes x 32 broadcast, candidate work is O(probed-cell sizes),
        // re-rank fetches full vectors for probes x 10 rows only.
        val e = table(s, dir, "embeddings")
        val cents = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("centroid_id"), col("embedding").as("ce"))
        val cellOf = graft.operators.Ann
          .ivfAssign(s, e.select("vec_id", "embedding"), "vec_id", "embedding", cents)
          .select("vec_id", "cluster_id")
        val probeCells = e.filter(col("vec_id") < 20)
          .crossJoin(broadcast(cents))
          .withColumn("cdot", expr("vec_dot(embedding, ce)"))
          .withColumn("rn", expr(
            "row_number() over (partition by vec_id order by cdot desc, centroid_id asc)"))
          .filter(col("rn") <= 2)
          .select(col("vec_id").as("pid"), col("centroid_id").as("cluster_id"))
        val probesV = doubleVecs(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("v").as("pv"))
        val lut = probesV.crossJoin(broadcast(pqCentroids(s, dir)))
          .selectExpr("pid", "m", "cid",
            """aggregate(zip_with(slice(pv, m * 8 + 1, 8), sc,
                 (x, c) -> (x - c) * (x - c)), cast(0 as double), (acc, x) -> acc + x) as d2m""")
        val shortlist = pqAssigned(s, dir).select("vec_id", "m", "cid")
          .join(cellOf, Seq("vec_id"))
          .join(probeCells, Seq("cluster_id"))
          .filter(col("vec_id") =!= col("pid"))
          .join(broadcast(lut), Seq("pid", "m", "cid"))
          .groupBy("pid", "vec_id")
          .agg(sum(expr("cast(round(d2m, 9) as decimal(28,12))")).as("ad2"))
          .withColumn("arn", expr(
            "row_number() over (partition by pid order by ad2 asc, vec_id asc)"))
          .filter(col("arn") <= 10)
        val reranked = shortlist
          .join(doubleVecs(s, dir), Seq("vec_id"))
          .join(broadcast(probesV), Seq("pid"))
          .withColumn("ed2", expr(
            """aggregate(zip_with(v, pv, (x, p) -> (x - p) * (x - p)),
                 cast(0 as double), (acc, x) -> acc + x)"""))
          .withColumn("rank", expr(
            "row_number() over (partition by pid order by ed2 asc, vec_id asc)"))
          .filter(col("rank") <= 3)
        val exact3 = doubleVecs(s, dir)
          .crossJoin(broadcast(probesV))
          .filter(col("vec_id") =!= col("pid"))
          .withColumn("ed2", expr(
            """aggregate(zip_with(v, pv, (x, p) -> (x - p) * (x - p)),
                 cast(0 as double), (acc, x) -> acc + x)"""))
          .withColumn("rn", expr(
            "row_number() over (partition by pid order by ed2 asc, vec_id asc)"))
          .filter(col("rn") <= 3)
          .select(col("pid"), col("vec_id"), lit(true).as("in_exact3"))
        reranked
          .join(exact3, Seq("pid", "vec_id"), "left")
          .selectExpr("pid", "rank", "vec_id",
            "round(cast(ad2 as double), 6) as ad2_r",
            "round(ed2, 6) as ed2_r",
            "coalesce(in_exact3, false) as in_exact3")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        $duckAssigned,
        $duckPqCtes,
        probes AS (SELECT vec_id AS pid, v AS pv FROM v WHERE vec_id < 20),
        pcell AS (
          SELECT vec_id AS pid, centroid_id AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cdot DESC, centroid_id ASC) AS rn FROM dots)
          WHERE rn <= 2 AND vec_id < 20),
        lut AS (
          SELECT p.pid, c.m, c.cid,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list_transform(range(1, 9), j ->
                     (p.pv[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)])
                       * (p.pv[CAST(c.m * 8 + j AS INTEGER)] - c.sc[CAST(j AS INTEGER)]))),
                   (acc, x) -> acc + x) AS d2m
          FROM probes p CROSS JOIN pqc c),
        shortlist AS (
          SELECT pid, vec_id, ad2 FROM (
            SELECT pid, vec_id, ad2,
                   row_number() OVER (PARTITION BY pid
                                      ORDER BY ad2 ASC, vec_id ASC) AS arn
            FROM (
              SELECT pc.pid, q.vec_id,
                     SUM(CAST(round(l.d2m, 9) AS DECIMAL(28,12))) AS ad2
              FROM pqa q
              JOIN assigned a ON a.vec_id = q.vec_id
              JOIN pcell pc ON pc.cluster_id = a.cluster_id
              JOIN lut l ON l.pid = pc.pid AND l.m = q.m AND l.cid = q.cid
              WHERE q.vec_id <> pc.pid
              GROUP BY pc.pid, q.vec_id))
          WHERE arn <= 10),
        rr AS (
          SELECT pid, vec_id, ad2, ed2,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY ed2 ASC, vec_id ASC) AS rank
          FROM (
            SELECT s.pid, s.vec_id, s.ad2,
                   list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(range(1, 65), j ->
                       (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)])
                         * (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)]))),
                     (acc, x) -> acc + x) AS ed2
            FROM shortlist s
            JOIN v e ON e.vec_id = s.vec_id
            JOIN probes p ON p.pid = s.pid)),
        exact3 AS (
          SELECT pid, vec_id FROM (
            SELECT p.pid, e.vec_id,
                   row_number() OVER (PARTITION BY p.pid ORDER BY
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(range(1, 65), j ->
                         (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)])
                           * (e.v[CAST(j AS INTEGER)] - p.pv[CAST(j AS INTEGER)]))),
                       (acc, x) -> acc + x) ASC, e.vec_id ASC) AS rn
            FROM v e CROSS JOIN probes p
            WHERE e.vec_id <> p.pid)
          WHERE rn <= 3)
        SELECT r.pid, r.rank, r.vec_id,
               round(CAST(r.ad2 AS DOUBLE), 6) AS ad2_r,
               round(r.ed2, 6) AS ed2_r,
               (e3.vec_id IS NOT NULL) AS in_exact3
        FROM rr r LEFT JOIN exact3 e3 ON e3.pid = r.pid AND e3.vec_id = r.vec_id
        WHERE r.rank <= 3
        ORDER BY r.pid, r.rank"""),
      "Composed IVF-PQ index search (the Faiss IVFPQ shape): coarse cells " +
        "bound the candidate set, PQ asymmetric-distance LUTs rank it with " +
        "codes only, the ADC top-10 is re-ranked full-precision, and every " +
        "hit carries an in_exact3 recall flag vs brute-force truth — " +
        "floats never enter the candidate join.")
  ) ++ Seq(

    // ---------------------------------------------------------------- q261
    Q(
      "q261_matryoshka_prefilter",
      (s, dir) => {
        // Matryoshka-style adaptive retrieval (Kusupati et al. 2022's
        // deployment pattern): candidate generation scores only the FIRST
        // 8 of 64 dimensions — an 8x cheaper scan whose dot products ride
        // the same codegen'd vec_dot — keeps the per-probe top-32, then
        // re-ranks the shortlist with full-precision cosine; each final
        // hit carries an in_exact5 recall flag vs brute-force truth (the
        // q102/q235 audit discipline: recall is MEASURED, not asserted).
        // Scale: the prefix scan is the only corpus-sized pass and it
        // reads an 8-float slice; the full vectors surface only for the
        // 32-row-per-probe shortlist. Probes constant (vec_id < 20).
        val e = table(s, dir, "embeddings")
          .selectExpr("vec_id", "embedding",
            "slice(embedding, 1, 8) as pre",
            s"${sparkDot("embedding", "embedding")} as n2")
        val probes = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("pid"), col("embedding").as("pe"),
            col("pre").as("ppre"), col("n2").as("pn2"))
        val cands = e.select(col("vec_id").as("cid"), col("embedding").as("ce"),
          col("pre").as("cpre"), col("n2").as("cn2"))
        val shortlist = cands.join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid", "pe", "ce", "pn2", "cn2",
            s"${sparkDot("ppre", "cpre")} as pre_dot")
          .withColumn("prn", expr(
            "row_number() over (partition by pid order by pre_dot desc, cid asc)"))
          .filter(col("prn") <= 32)
        val reranked = shortlist
          .selectExpr("pid", "cid",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as sim")
          .withColumn("rank", expr(
            "row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 5)
        val exact5 = cands.join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as esim")
          .withColumn("ern", expr(
            "row_number() over (partition by pid order by esim desc, cid asc)"))
          .filter(col("ern") <= 5)
          .select(col("pid").as("epid"), col("cid").as("ecid"))
        reranked
          .join(exact5,
            col("pid") === col("epid") && col("cid") === col("ecid"), "left")
          .selectExpr("pid", "rank", "cid", "round(sim, 6) as sim_r",
            "ecid is not null as in_exact5")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, embedding, embedding[1:8] AS pre,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        probes AS (
          SELECT vec_id AS pid, embedding AS pe, pre AS ppre, n2 AS pn2
          FROM e WHERE vec_id < 20),
        shortlist AS (
          SELECT pid, cid, pe, ce, pn2, cn2 FROM (
            SELECT p.pid, c.vec_id AS cid, p.pe, c.embedding AS ce,
                   p.pn2, c.n2 AS cn2,
                   row_number() OVER (PARTITION BY p.pid ORDER BY
                     ${duckDot("p.ppre", "c.pre")} DESC, c.vec_id ASC) AS prn
            FROM e c CROSS JOIN probes p WHERE c.vec_id <> p.pid)
          WHERE prn <= 32),
        rr AS (
          SELECT pid, cid, sim,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY sim DESC, cid ASC) AS rank
          FROM (
            SELECT pid, cid,
                   ${duckDot("pe", "ce")} / (SQRT(pn2) * SQRT(cn2)) AS sim
            FROM shortlist)),
        exact5 AS (
          SELECT pid, cid FROM (
            SELECT p.pid, c.vec_id AS cid,
                   row_number() OVER (PARTITION BY p.pid ORDER BY
                     ${duckDot("p.pe", "c.embedding")} / (SQRT(p.pn2) * SQRT(c.n2)) DESC,
                     c.vec_id ASC) AS ern
            FROM e c CROSS JOIN probes p WHERE c.vec_id <> p.pid)
          WHERE ern <= 5)
        SELECT r.pid, r.rank, r.cid, round(r.sim, 6) AS sim_r,
               (x.cid IS NOT NULL) AS in_exact5
        FROM rr r LEFT JOIN exact5 x ON x.pid = r.pid AND x.cid = r.cid
        WHERE r.rank <= 5
        ORDER BY r.pid, r.rank"""),
      "Matryoshka prefix-dimension retrieval: candidates scored on the " +
        "first 8 of 64 dims (8x cheaper corpus pass), per-probe top-32 " +
        "re-ranked full-precision, every hit carrying a measured " +
        "in_exact5 flag vs brute-force truth — the adaptive-retrieval " +
        "pattern beside IVF (q54) and IVF-PQ (q235)."),

    // ---------------------------------------------------------------- q274
    Q(
      "q274_binary_quant_search",
      (s, dir) => {
        // BINARY (1-bit) QUANTIZATION retrieval — the coarsest point on
        // the compression ladder beside SQ8 (q77) and PQ (q164): each
        // 64-dim float vector packs to TWO bigints (sign bit per dim,
        // 32 dims per word — never 64, bit 63 through a signed-sum
        // oracle would overflow), a 32x memory cut that turns candidate
        // generation into two XOR+POPCNT per pair. Hamming pre-screen
        // keeps the per-probe top-20 (ties by cid), exact cosine
        // re-ranks the shortlist to top-5, and every hit carries a
        // MEASURED in_exact5 flag vs brute-force truth (the q102/q235/
        // q261 audit discipline). Scale: packing is map-only; the
        // probe side is a bounded broadcast; the corpus-sized pass
        // reads 16 bytes per vector instead of 256.
        def pack(w: Int) =
          s"aggregate(sequence(0, 31), 0L, (acc, k) -> " +
            s"acc + if(element_at(embedding, ${w * 32} + k + 1) > 0, shiftleft(1L, k), 0L))"
        val bq = table(s, dir, "embeddings").selectExpr(
          "vec_id", "embedding",
          s"${pack(0)} as b0", s"${pack(1)} as b1",
          s"${sparkDot("embedding", "embedding")} as n2")
        val probes = bq.filter(col("vec_id") < 32).select(
          col("vec_id").as("pid"), col("embedding").as("pe"),
          col("b0").as("p0"), col("b1").as("p1"), col("n2").as("pn2"))
        val screened = bq
          .select(col("vec_id").as("cid"), col("embedding").as("ce"),
            col("b0"), col("b1"), col("n2").as("cn2"))
          .join(broadcast(probes), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid", "pe", "ce", "pn2", "cn2",
            "cast(bit_count(b0 ^ p0) + bit_count(b1 ^ p1) as int) as hamming")
          .withColumn("hrk",
            expr("row_number() over (partition by pid order by hamming asc, cid asc)"))
          .filter(col("hrk") <= 20)
        val reranked = screened
          .selectExpr("pid", "cid", "hamming",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as sim")
          .withColumn("rank",
            expr("row_number() over (partition by pid order by sim desc, cid asc)"))
          .filter(col("rank") <= 5)
        // brute-force truth for the measured-recall flag (bounded: the
        // same broadcast probe x corpus product q33 prices)
        val exact = bq
          .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("n2").as("cn2"))
          .join(broadcast(probes.select("pid", "pe", "pn2")), col("cid") =!= col("pid"))
          .selectExpr("pid", "cid",
            s"${sparkDot("pe", "ce")} / (sqrt(pn2) * sqrt(cn2)) as esim")
          .withColumn("erk",
            expr("row_number() over (partition by pid order by esim desc, cid asc)"))
          .filter(col("erk") <= 5)
          .select(col("pid").as("xpid"), col("cid").as("xcid"))
        // rank on raw sim; EMIT round(,6) — the cross-engine float
        // discipline every sibling rerank query follows (the hash match
        // must not rest on bit-identical division trees across engines)
        reranked.join(broadcast(exact),
            col("pid") === col("xpid") && col("cid") === col("xcid"), "left")
          .selectExpr("pid", "rank", "cid", "hamming", "round(sim, 6) as sim",
            "(xpid is not null) as in_exact5")
          .orderBy("pid", "rank")
      },
      Some(s"""
        WITH bq AS (
          SELECT vec_id, embedding,
                 list_reduce(list_transform(range(0, 32), k -> CASE
                   WHEN embedding[0 + k + 1] > 0 THEN (CAST(1 AS BIGINT) << k)
                   ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS b0,
                 list_reduce(list_transform(range(0, 32), k -> CASE
                   WHEN embedding[32 + k + 1] > 0 THEN (CAST(1 AS BIGINT) << k)
                   ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS b1,
                 ${duckDot("embedding", "embedding")} AS n2
          FROM embeddings),
        h AS (
          SELECT p.vec_id AS pid, c.vec_id AS cid,
                 CAST(bit_count(xor(p.b0, c.b0)) + bit_count(xor(p.b1, c.b1)) AS INTEGER) AS hamming,
                 p.embedding AS pe, c.embedding AS ce, p.n2 AS pn2, c.n2 AS cn2
          FROM bq p JOIN bq c ON p.vec_id < 32 AND c.vec_id <> p.vec_id),
        r1 AS (
          SELECT *, row_number() OVER (PARTITION BY pid ORDER BY hamming ASC, cid ASC) AS hrk
          FROM h),
        rr AS (
          SELECT pid, cid, hamming,
                 ${duckDot("pe", "ce")} / (SQRT(pn2) * SQRT(cn2)) AS sim
          FROM r1 WHERE hrk <= 20),
        r2 AS (
          SELECT pid, cid, hamming, sim,
                 row_number() OVER (PARTITION BY pid ORDER BY sim DESC, cid ASC) AS rank
          FROM rr),
        exacts AS (
          SELECT pid, cid FROM (
            SELECT p.vec_id AS pid, c.vec_id AS cid,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY
                     ${duckDot("p.embedding", "c.embedding")} / (SQRT(p.n2) * SQRT(c.n2)) DESC,
                     c.vec_id ASC) AS erk
            FROM bq p JOIN bq c ON p.vec_id < 32 AND c.vec_id <> p.vec_id)
          WHERE erk <= 5)
        SELECT r.pid, r.rank, r.cid, r.hamming, round(r.sim, 6) AS sim,
               (x.pid IS NOT NULL) AS in_exact5
        FROM r2 r LEFT JOIN exacts x ON x.pid = r.pid AND x.cid = r.cid
        WHERE r.rank <= 5
        ORDER BY r.pid, r.rank"""),
      "Binary 1-bit quantization retrieval: sign-bit packing to two " +
        "bigints (32x memory cut), XOR+POPCNT Hamming pre-screen to " +
        "top-20, exact cosine re-rank to top-5, measured in_exact5 " +
        "recall vs brute-force truth — the coarsest compression rung " +
        "beside SQ8/PQ/Matryoshka.")
  )

  /** The DuckDB twin of [[graft.operators.Ann.kmeansFit]] + final assign —
    * the farthest-first seed sweep over the salted-hash bottom-S sample
    * (one CTE step per seed), then one CTE block per Lloyd's round,
    * generated by the same loop shape the operator executes, ending in the
    * (vec_id, cluster_id) assignment under the trained codebook. */
  private def kmeansDuckOracle(k: Int, iters: Int, dims: Int): String =
    s"""
      WITH ${kmeansDuckCtes(k, iters, dims)},
      ${kmeansDuckAssign(iters + 1, "embeddings", s"cents$iters")}
      SELECT vec_id, cluster_id FROM assign${iters + 1} ORDER BY vec_id"""

  /** One max-dot assignment CTE (`assign$i`) of `src` rows under `cents`. */
  private def kmeansDuckAssign(i: Int, src: String, cents: String): String =
    s"""assign$i AS (
        SELECT vec_id, embedding, centroid_id AS cluster_id FROM (
          SELECT e.vec_id, e.embedding, c.centroid_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${duckDot("e.embedding", "c.ce")} DESC, c.centroid_id ASC) AS rn
          FROM $src e CROSS JOIN $cents c)
        WHERE rn = 1)"""

  /** The WITH-body prefix of [[kmeansDuckOracle]]: seed sweep + Lloyd's
    * rounds, ending with the trained codebook in CTE `cents$iters` —
    * composable, so use-site queries (q120) can chain the TRAINED
    * centroids into downstream CTEs. */
  private def kmeansDuckCtes(k: Int, iters: Int, dims: Int): String = {
    val sampleSize = math.max(8 * k, 64)
    val hk = graft.functions.HashConventions
      .duckMd5long48("'kmpp|' || cast(vec_id as varchar)")
    // every ch CTE is referenced twice by the next step; MATERIALIZED stops
    // DuckDB's CTE inlining from expanding the chain exponentially (the
    // Spark twin pins the same shape with per-step localCheckpoints)
    val seeds = (1 until k).map { i =>
      s"""md$i AS MATERIALIZED (
          SELECT s.vec_id, max(${duckDot("s.embedding", "c.embedding")}) AS md
          FROM smp s CROSS JOIN ch${i - 1} c
          WHERE s.vec_id NOT IN (SELECT vec_id FROM ch${i - 1})
          GROUP BY s.vec_id),
        sel$i AS (SELECT vec_id FROM md$i ORDER BY md ASC, vec_id ASC LIMIT 1),
        ch$i AS MATERIALIZED (
          SELECT * FROM ch${i - 1}
          UNION ALL
          SELECT s.vec_id, s.embedding FROM smp s JOIN sel$i USING (vec_id))"""
    }.mkString(",\n")
    val rounds = (1 to iters).map { i =>
      s"""${kmeansDuckAssign(i, "embeddings", s"cents${i - 1}")},
        sums$i AS (
          SELECT cluster_id, j,
                 CAST(SUM(CAST(CAST(embedding[j] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE) AS s,
                 COUNT(*) AS n
          FROM assign$i, dims GROUP BY cluster_id, j),
        newc$i AS (
          SELECT cluster_id AS centroid_id, list(CAST(s / n AS FLOAT) ORDER BY j) AS ce
          FROM sums$i GROUP BY cluster_id),
        cents$i AS MATERIALIZED (
          SELECT p.centroid_id, coalesce(nc.ce, p.ce) AS ce
          FROM cents${i - 1} p LEFT JOIN newc$i nc ON p.centroid_id = nc.centroid_id)"""
    }.mkString(",\n")
    s"""dims AS (SELECT unnest(range(1, ${dims + 1})) AS j),
      smp AS MATERIALIZED (
        SELECT vec_id, embedding FROM (
          SELECT vec_id, embedding, $hk AS hk
          FROM embeddings ORDER BY hk, vec_id LIMIT $sampleSize)),
      ch0 AS MATERIALIZED (SELECT vec_id, embedding FROM smp ORDER BY vec_id LIMIT 1),
      $seeds,
      cents0 AS MATERIALIZED (SELECT vec_id AS centroid_id, embedding AS ce FROM ch${k - 1}),
      $rounds"""
  }
}
