package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/**
 * Distributed batch-gradient-descent classifier trainer — the logistic-
 * regression-shaped quality-classifier stage of a curation pipeline
 * (reference scope: the bi5 connector has no model training; this is
 * beyond-reference pipeline tooling, cited like the rest of the query
 * library at spark-2.4/src/main/scala/.../BI5DataSource.scala:1 only for
 * the data-source surface it composes with).
 *
 * Link function: the ELLIOTT fast sigmoid p = 0.5 * (1 + z / (1 + |z|))
 * instead of the exp-based logistic. Chosen deliberately for
 * ENGINE-REPRODUCIBILITY: +, *, /, abs are all exactly-rounded IEEE-754
 * ops producing bit-identical doubles in any engine, while exp() is
 * libm-dependent (Java Math.exp vs C libm may differ in the last ulp,
 * which iteration would amplify). The Elliott link is a published
 * sigmoid approximation with the same shape, range (0,1) and midpoint
 * p(0)=0.5, so decision behavior at threshold 0.5 is logistic-like.
 *
 * Gradient of the squared-error-free "logistic-style" update used here:
 * g_j = sum((p - y) * x_j) / n, w_j <- w_j - lr * g_j (per-feature;
 * the intercept rides x_0 = 1). Sums go through the library's exact
 * DECIMAL spelling — round(e, 9) then sum(DECIMAL(28,12)) — so the sum
 * is ORDER-INDEPENDENT across partitions and engines; every weight in
 * every iteration is therefore bit-identical however the corpus is
 * partitioned, and a DuckDB oracle replaying the same spelling lands on
 * the same doubles.
 *
 * Scale shape: each iteration is ONE corpus scan collapsing map-side to
 * (features + 2) decimal partial sums — no shuffle beyond the final
 * single-row aggregate, no per-row state, weights broadcast as plan
 * literals. The per-iteration `.head()` collects one row of scalars
 * (documented driver control-plane, the kmeansFit pattern). Callers
 * should persist/checkpoint the feature frame they pass in — it is
 * scanned `iters` times.
 *
 * EXECUTION SEMANTICS: training runs EAGERLY — each round fires a Spark
 * job during this call. Returns the weight vector (intercept first,
 * then one weight per xCols element, in order).
 */
object Logit {
  def fit(
      feats: DataFrame,
      xCols: Seq[String],
      yCol: String,
      iters: Int,
      lr: Double): Array[Double] =
    fitWith(feats, xCols, yCol, iters, lr, LocalFitMaxCells)

  /** Feature frames up to this many cells run [[fit]] on the driver. */
  private val LocalFitMaxCells = 8L * 1024 * 1024

  /** [[fit]] with the local-path threshold as an argument, so a spec can
    * force either path (0 = distributed, huge = local). */
  private[operators] def fitWith(
      feats: DataFrame,
      xCols: Seq[String],
      yCol: String,
      iters: Int,
      lr: Double,
      maxCells: Long): Array[Double] = {
    require(xCols.nonEmpty, "need at least one feature column")
    require(iters >= 0, s"iters ($iters) must be non-negative")
    // Size-adaptive dispatch (optimization round r12, guide §1.2 step 1 —
    // the r11 BPE-local-fit discipline): the feature frame is MODEL-class
    // data (a handful of scaled signals per document). When it fits the
    // driver, all `iters` gradient rounds run locally over ONE collect —
    // instead of one full Spark job per round — replaying the IDENTICAL
    // arithmetic: the same left-to-right Elliott z accumulation, the same
    // round(,9)-then-DECIMAL(28,12) exact gradient sums (order-independent,
    // so driver summation order cannot diverge), the same w update
    // expression. Weights are bit-identical (locked by LogitLocalFitSpec).
    // A frame above `maxCells` cells (8 Mi from [[fit]]) takes the
    // unchanged per-round distributed path.
    if (maxCells > 0 && iters > 0) {
      val nx = xCols.length
      val maxRows = math.min(maxCells / (nx + 1), (Int.MaxValue - 2).toLong)
      // limit(max+1): an over-threshold frame short-circuits instead of
      // paying a full scan to discover it is too big
      val head = feats
        .select((yCol +: xCols).map(c => col(c).cast("double")): _*)
        .limit(maxRows.toInt + 1).collect()
      // null cells take the distributed path (sum-skips-null semantics
      // are the aggregate's business, not worth replicating locally)
      if (head.length <= maxRows &&
          head.forall(r => (0 to nx).forall(j => !r.isNullAt(j)))) {
        return fitLocal(head, nx, iters, lr)
      }
    }
    val w = Array.fill(xCols.length + 1)(0.0)
    var it = 0
    while (it < iters) {
      val p = prob(w, xCols)
      val gradCols =
        exactSum(p - col(yCol)).as("__g0") +:
          xCols.zipWithIndex.map { case (c, j) =>
            exactSum((p - col(yCol)) * col(c)).as(s"__g${j + 1}")
          }
      val sums = feats.agg(count(lit(1)).as("__n"), gradCols: _*).head()
      val n = sums.getAs[Long]("__n").toDouble
      var j = 0
      while (j < w.length) {
        w(j) = w(j) - lr * (sums.getAs[java.math.BigDecimal](s"__g$j")
          .doubleValue() / n)
        j += 1
      }
      it += 1
    }
    w
  }

  /** Driver-local replica of the distributed gradient loop — IDENTICAL
    * arithmetic, see [[fit]]. `rows` carry (y, x1..xnx) as doubles. */
  private def fitLocal(
      rows: Array[org.apache.spark.sql.Row],
      nx: Int,
      iters: Int,
      lr: Double): Array[Double] = {
    import java.math.{BigDecimal => JBD, RoundingMode}
    // Spark's round(e, 9) on DOUBLE = BigDecimal.valueOf(d).setScale(9,
    // HALF_UP); the cast to DECIMAL(28,12) is exact for 9-dp values and
    // NULLs NaN/Inf/overflow, which sum() then skips — replicated here.
    val maxAbs = new JBD(java.math.BigInteger.TEN.pow(16)) // decimal(28,12) bound
    def addRounded(acc: JBD, d: Double): JBD =
      if (d.isNaN || d.isInfinite) acc
      else {
        val r = JBD.valueOf(d).setScale(9, RoundingMode.HALF_UP)
        if (r.abs.compareTo(maxAbs) >= 0) acc else acc.add(r)
      }
    val w = Array.fill(nx + 1)(0.0)
    val n = rows.length.toDouble
    var it = 0
    while (it < iters) {
      val gs = Array.fill(nx + 1)(JBD.ZERO)
      var i = 0
      while (i < rows.length) {
        val r = rows(i)
        val y = r.getDouble(0)
        // z accumulated left-to-right — the exact prob() spelling
        var z = w(0)
        var j = 0
        while (j < nx) { z = z + w(j + 1) * r.getDouble(j + 1); j += 1 }
        val p = 0.5 * (1.0 + z / (1.0 + math.abs(z)))
        val d = p - y
        gs(0) = addRounded(gs(0), d)
        j = 0
        while (j < nx) { gs(j + 1) = addRounded(gs(j + 1), d * r.getDouble(j + 1)); j += 1 }
        i += 1
      }
      var j = 0
      while (j < w.length) {
        w(j) = w(j) - lr * (gs(j).doubleValue() / n)
        j += 1
      }
      it += 1
    }
    w
  }

  /** Elliott-link probability column for weights `w` over `xCols`:
    * p = 0.5 * (1 + z / (1 + |z|)), z = w0 + sum(w_j * x_j) accumulated
    * left-to-right (the spelling an oracle must replay verbatim). */
  def prob(w: Array[Double], xCols: Seq[String]): org.apache.spark.sql.Column = {
    val z = xCols.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (c, j)) =>
      acc + lit(w(j + 1)) * col(c)
    }
    lit(0.5) * (lit(1.0) + z / (lit(1.0) + F.abs(z)))
  }

  /** Order-independent exact sum: round to 9 digits, sum in DECIMAL. */
  private def exactSum(e: org.apache.spark.sql.Column) =
    sum(F.round(e, 9).cast("decimal(28,12)"))
}
