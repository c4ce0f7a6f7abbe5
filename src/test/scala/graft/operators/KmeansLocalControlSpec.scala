package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * Locks the r12 driver-local kmeansFit control plane: the locally-elected
 * seeds and locally-replayed mean updates must produce BIT-IDENTICAL
 * centroids to the legacy distributed control plane (same farthest-first
 * (md asc, id asc) elections, same DECIMAL sums / double divide / float
 * narrowing). [[Ann.kmeansFitWith]] with `localControl = false` forces
 * the legacy path.
 */
class KmeansLocalControlSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def centsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
    df.orderBy("centroid_id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  private def both(k: Int, iters: Int): (Seq[(Long, Seq[Float])], Seq[(Long, Seq[Float])]) = {
    val e = graft.queries.Tables.table(spark, Sf, "embeddings")
      .select("vec_id", "embedding")
    def fit(localControl: Boolean) = centsOf(
      Ann.kmeansFitWith(spark, e, "vec_id", "embedding", k, iters, 64, localControl))
    (fit(false), fit(true))
  }

  test("local control plane == distributed on real embeddings (k=8, iters=2, bit-identical)") {
    val (dist, local) = both(8, 2)
    assert(local.size == 8)
    assert(local == dist)
  }

  test("local == distributed at other shapes (seeding-only and deeper runs)") {
    for ((k, it) <- Seq((4, 0), (3, 4))) {
      val (dist, local) = both(k, it)
      assert(local == dist, s"k=$k iters=$it")
    }
  }
}
