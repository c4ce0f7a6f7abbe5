package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Bloom sketch: JVM roundtrip guarantees, merge = OR determinism, and the
  * codegen'd expression locked against the interpreted reference. */
class BloomSketchSpec extends AnyFunSuite with SparkSuite {

  private def jvmBloom(keys: Seq[Long], bits: Int = 4096, k: Int = 7): Array[Byte] = {
    val agg = new BloomAgg(bits, k)
    val buf = keys.foldLeft(agg.zero)(agg.reduce)
    agg.finish(buf)
  }

  test("no false negatives, pure JVM roundtrip") {
    val keys = (0L until 1000L).map(i => i * 0x9E3779B97F4A7C15L + 17)
    val bloom = jvmBloom(keys)
    assert(keys.forall(BloomSketch.mightContain(bloom, _)),
      "every inserted key must probe positive")
  }

  test("false-positive rate is bounded at the sized load") {
    val keys = (0L until 1000L).map(i => BloomSketch.splitmix64(i))
    val bloom = jvmBloom(keys, bits = 16384, k = 10)
    val probes = (1L to 10000L).map(i => BloomSketch.splitmix64(-i))
    val fp = probes.count(BloomSketch.mightContain(bloom, _))
    // sized at m/n = 16.4, k=10 the analytic fp is ~2e-4; 50/10000 = 0.5%
    // leaves two orders of margin against unlucky hashing
    assert(fp <= 50, s"false-positive count $fp out of bound")
  }

  test("merge is OR: split-build equals whole-build bit-for-bit") {
    val agg = new BloomAgg(4096, 7)
    val keys = (0L until 500L).map(BloomSketch.splitmix64)
    val whole = keys.foldLeft(agg.zero)(agg.reduce)
    val (l, r) = keys.splitAt(137)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(agg.finish(whole).sameElements(agg.finish(merged)),
      "partial merge must reproduce the single-pass bits exactly")
  }

  test("codegen'd bloom_might_contain equals the interpreted reference") {
    import spark.implicits._
    graft.functions.NativeFunctions.register(spark)
    val keys = (0L until 300L).map(BloomSketch.splitmix64)
    val bloom = jvmBloom(keys)
    // half members, half non-members, through the SQL surface. The
    // repartition forces a real exchange so the probe runs in GENERATED
    // code — without it ConvertToLocalRelation evaluates the projection
    // interpreted on the driver and doGenCode is never exercised (this
    // masked a Java operator-precedence bug in the generated hash)
    val probes = keys.take(150) ++ (1L to 150L).map(i => BloomSketch.splitmix64(-i))
    val got = probes.toDF("key").repartition(2)
      .withColumn("bloom", lit(bloom))
      .selectExpr("key", "bloom_might_contain(bloom, key) as hit")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    probes.foreach { p =>
      assert(got(p) === BloomSketch.mightContain(bloom, p),
        s"codegen/interpreted divergence on key $p")
    }
    assert(keys.take(150).forall(got(_)), "members must all hit")
  }

  test("distributed aggregation equals the JVM build bit-for-bit") {
    import spark.implicits._
    val keys = (0L until 2000L).map(BloomSketch.splitmix64)
    val expected = jvmBloom(keys, bits = 8192, k = 9)
    val got = keys.toDS().repartition(8)
      .select(new BloomAgg(8192, 9).toColumn.name("bloom"))
      .as[Array[Byte]].head()
    assert(got.sameElements(expected),
      "merge-order independence: distributed bits must equal sequential bits")
  }
}
