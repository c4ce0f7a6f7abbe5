package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** PageRank: hand-checked ranks on a tiny graph, rank-mass conservation,
  * partitioning independence, defensive edge handling, loud contracts. */
class PageRankSpec extends AnyFunSuite with SparkSuite {

  test("hand-checked ranks on a path graph favor the middle node") {
    import spark.implicits._
    // path 1-2-3: node 2 bridges, so it must outrank the endpoints
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = PageRank.ranks(pairs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2)))).toMap
    assert(r.keySet === Set(1L, 2L, 3L))
    assert(r(1L)._1 === 1L && r(2L)._1 === 2L && r(3L)._1 === 1L)
    assert(r(2L)._2 > r(1L)._2, s"middle node must outrank endpoint: $r")
    assert(r(1L)._2 === r(3L)._2, s"symmetric endpoints must tie: $r")
    // exact bit-level chain is locked by the q122 oracle row; here lock the
    // hand-computed round-1..3 recurrence to 1e-9 (the output rounding)
    def step(mid: Double, end: Double): (Double, Double) = (
      0.15 / 3 + 0.85 * (math.rint(end * 1e12) / 1e12 * 2),
      0.15 / 3 + 0.85 * (math.rint(mid / 2 * 1e12) / 1e12))
    var (mid, end) = (1.0 / 3, 1.0 / 3)
    for (_ <- 1 to 3) { val n = step(mid, end); mid = n._1; end = n._2 }
    assert(math.abs(r(2L)._2 - mid) < 1e-9, s"mid: ${r(2L)._2} vs $mid")
    assert(math.abs(r(1L)._2 - end) < 1e-9, s"end: ${r(1L)._2} vs $end")
  }

  test("rank mass is conserved (no dangling loss on an undirected graph)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 6L))
      .toDF("id_a", "id_b")
    val total = PageRank.ranks(pairs, iters = 4)
      .agg(sum("pagerank")).first().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-6, s"rank mass drifted: $total")
  }

  test("ranks are identical at any input partitioning") {
    import spark.implicits._
    val pairs = (0L until 400L).map(i => (i, (i * 7 + 3) % 400))
      .filter { case (a, b) => a != b }
      .toSeq.toDF("id_a", "id_b")
    def run(df: org.apache.spark.sql.DataFrame) =
      PageRank.ranks(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(run(pairs) === run(pairs.repartition(17)))
  }

  test("repeated pairs and self-loops do not corrupt degrees") {
    import spark.implicits._
    val messy = Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (2L, 3L))
      .toDF("id_a", "id_b")
    val clean = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val a = PageRank.ranks(messy).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = PageRank.ranks(clean).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a === b, "dedup/self-loop handling changed the result")
  }

  test("contracts are loud") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] { PageRank.ranks(pairs, damping = 1.0) }
    intercept[IllegalArgumentException] { PageRank.ranks(pairs, iters = 0) }
  }
}
