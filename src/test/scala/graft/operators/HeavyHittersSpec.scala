package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Misra-Gries bounds against exact counts, on adversarial and real data. */
class HeavyHittersSpec extends AnyFunSuite with SparkSuite {

  private def contract(items: Seq[String], k: Int): Unit = {
    import spark.implicits._
    val n = items.size
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = spark.createDataset(items).repartition(7) // force partial merges
      .groupByKey(_ => 0).mapValues(identity)
      .agg(new HeavyHitters(k).toColumn.name("sketch"))
      .collect().head._2.toMap
    assert(got.size <= k, s"sketch must keep at most $k counters, had ${got.size}")
    got.foreach { case (item, est) =>
      val f = exact(item)
      assert(est <= f, s"$item overcounted: est $est > true $f")
      assert((f - est) * (k + 1) <= n, s"$item undercounted past n/(k+1): est $est, true $f, n $n")
    }
    exact.foreach { case (item, f) =>
      if (f * (k + 1) > n)
        assert(got.contains(item), s"heavy hitter $item (freq $f, n $n) missing from sketch")
    }
  }

  test("bounds hold on a zipf-ish stream with many rare items") {
    val items = (1 to 12).flatMap(i => Seq.fill(1 << (13 - i))(s"hot$i")) ++
      (1 to 3000).map(i => s"rare$i")
    contract(scala.util.Random.javaRandomToRandom(new java.util.Random(7)).shuffle(items), k = 10)
  }

  test("bounds hold on real document tokens at several k") {
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("explode(split(text, ' ')) as tok")
      .collect().map(_.getString(0)).toSeq
    contract(toks, k = 5)
    contract(toks, k = 50)
  }

  test("k bounds the buffer even when distinct items vastly exceed it") {
    import spark.implicits._
    val items = (1 to 5000).map(i => s"unique$i")
    val got = spark.createDataset(items)
      .groupByKey(_ => 0).mapValues(identity)
      .agg(new HeavyHitters(3).toColumn.name("sketch"))
      .collect().head._2
    assert(got.size <= 3)
  }
}
