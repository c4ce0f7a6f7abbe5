package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Locks the r12 size-adaptive connected-components dispatch: the
 * driver-local label propagation in [[Dedup.localClusters]] must produce
 * EXACTLY the (id, cluster_id) rows of the distributed per-round loop —
 * same labels, including the partially-converged labels of a chain longer
 * than the loop can finish inside `maxIters` rounds. Each path is forced
 * through [[Dedup.clustersWith]]'s edge threshold (0 = always
 * distributed, huge = always local).
 */
class CcLocalSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.selectExpr("cast(id as long)", "cast(cluster_id as long)")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted

  private def both(pairs: org.apache.spark.sql.DataFrame,
      maxIters: Int = 10): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    def at(maxEdges: Long) =
      labelsOf(Dedup.clustersWith(pairs, "id_a", "id_b", maxIters, maxEdges))
    (at(0L), at(Long.MaxValue))
  }

  test("local == distributed on the real LSH candidate pair graph") {
    val docs = graft.queries.Tables.table(spark, Sf, "documents")
    val cand = Dedup.minhashLshCandidates(spark, docs, "doc_id", "text")
      .localCheckpoint(true)
    val (dist, local) = both(cand)
    assert(local.nonEmpty)
    assert(local == dist)
  }

  test("local == distributed on a long chain that exceeds maxIters reach") {
    // a 40-hop path: pointer doubling reaches 2^k hops after k rounds, so
    // maxIters = 2 leaves far labels UNCONVERGED — the local replica must
    // reproduce those partial labels, not the true component minimum
    import spark.implicits._
    val chain = (0 until 40).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val (dist2, local2) = both(chain, maxIters = 2)
    assert(local2 == dist2)
    // and with enough rounds both converge to the component minimum
    val (dist10, local10) = both(chain, maxIters = 10)
    assert(local10 == dist10)
    assert(local10.forall(_._2 == 0L))
  }

  test("local == distributed on int-typed ids and on an empty pair set") {
    import spark.implicits._
    val ints = Seq((1, 2), (2, 3), (7, 9), (12, 12)).toDF("id_a", "id_b")
    val (dist, local) = both(ints)
    assert(local == dist)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (de, le) = both(empty)
    assert(de.isEmpty && le.isEmpty)
  }
}
