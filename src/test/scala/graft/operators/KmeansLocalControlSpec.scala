package graft.operators

import graft.TestConf.withConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Locks the r12 driver-local kmeansFit control plane: the locally-elected
 * seeds and locally-replayed mean updates must produce BIT-IDENTICAL
 * centroids to the legacy distributed control plane (same farthest-first
 * (md asc, id asc) elections, same DECIMAL sums / double divide / float
 * narrowing). `spark.graft.kmeans.localControl=false` forces the legacy
 * path.
 */
class KmeansLocalControlSpec extends AnyFunSuite {

  private val Sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("KmeansLocalControlSpec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def centsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Float])] =
    df.orderBy("centroid_id").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  private def both(k: Int, iters: Int): (Seq[(Long, Seq[Float])], Seq[(Long, Seq[Float])]) = {
    val e = graft.queries.Tables.table(spark, Sf, "embeddings")
      .select("vec_id", "embedding")
    def fit = centsOf(Ann.kmeansFit(spark, e, "vec_id", "embedding", k, iters, 64))
    val dist = withConf(spark, "spark.graft.kmeans.localControl", "false")(fit)
    val local = withConf(spark, "spark.graft.kmeans.localControl", "true")(fit)
    (dist, local)
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
