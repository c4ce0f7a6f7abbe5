package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Count-min sketch: JVM contract (never undercounts, bounded overshoot),
  * merge = addition determinism, and the codegen'd estimate expression
  * locked against the interpreted reference. */
class CmsSketchSpec extends AnyFunSuite with SparkSuite {

  /** Zipf-ish multiset: key i appears ~1000/i times — heavy heads, long
    * tail, the shape CMS exists for. */
  private def zipfKeys: Seq[Long] =
    (1 to 200).flatMap(i => Seq.fill(1000 / i)(BloomSketch.splitmix64(i.toLong)))

  private def jvmCms(keys: Seq[Long], width: Int = 1024, depth: Int = 5): Array[Byte] = {
    val agg = new CmsAgg(width, depth)
    agg.finish(keys.foldLeft(agg.zero)(agg.reduce))
  }

  test("never undercounts and overshoot stays within 8N/width, JVM roundtrip") {
    val keys = zipfKeys
    val n = keys.size
    val width = 1024
    val cms = jvmCms(keys, width = width)
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (k, f) =>
      val est = CmsSketch.estimate(cms, k)
      assert(est >= f, s"undercount on $k: est $est < exact $f")
      assert((est - f) * width <= 8L * n,
        s"overshoot on $k: est $est vs exact $f at n=$n width=$width")
    }
  }

  test("merge is addition: split-build equals whole-build byte-for-byte") {
    val agg = new CmsAgg(512, 4)
    val keys = zipfKeys
    val whole = keys.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = keys.splitAt(keys.size / 3)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(whole).sameElements(agg.finish(merged)),
      "partial merge must reproduce the single-pass counters exactly")
  }

  test("codegen'd cms_estimate equals the interpreted reference") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val keys = zipfKeys
    val cms = jvmCms(keys)
    // members and non-members through the SQL surface; the repartition
    // forces a real exchange so the probe runs in GENERATED code (see
    // BloomSketchSpec for the interpreted-fallback trap this avoids)
    val probes = keys.distinct ++ (1L to 100L).map(i => BloomSketch.splitmix64(-i))
    val got = probes.toDF("key").repartition(2)
      .withColumn("cms", lit(cms))
      .selectExpr("key", "cms_estimate(cms, key) as est")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    probes.foreach { p =>
      assert(got(p) === CmsSketch.estimate(cms, p),
        s"codegen/interpreted divergence on key $p")
    }
  }

  test("distributed aggregation is partitioning-independent and equals JVM") {
    import spark.implicits._
    val keys = zipfKeys
    val expected = jvmCms(keys, width = 512, depth = 4)
    def build(parts: Int): Array[Byte] = keys.toDF("key").repartition(parts)
      .as[Long]
      .select(new CmsAgg(512, 4).toColumn.name("cms"))
      .head()
    // counters ADD, so any partitioning reproduces the identical grid —
    // the determinism Misra-Gries cannot offer
    assert(build(1).sameElements(expected))
    assert(build(7).sameElements(expected))
  }
}
