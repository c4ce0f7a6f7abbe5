package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Skew.saltedJoin must equal the plain inner join and actually spread a
  * hot key across salt partitions. */
class SkewSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("equals the plain inner join on real lineitem/orders data") {
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val o = spark.read.parquet(s"$Sf/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val got = Skew.saltedJoin(li, o, Seq("l_orderkey"),
      nSalts = 8, saltBy = Some(col("l_linenumber")))
    val want = li.join(o, Seq("l_orderkey"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 && want.exceptAll(got).count() === 0,
      "salted join must equal the plain join")
  }

  test("default salt also reproduces the plain join (id-based, key-independent)") {
    import spark.implicits._
    // one pathologically hot key: 1000 fact rows, 1 dim row
    val fact = (1 to 1000).map(i => (42L, i)).toDF("k", "payload")
    val dim = Seq((42L, "hot"), (7L, "cold")).toDF("k", "name")
    val got = Skew.saltedJoin(fact, dim, Seq("k"), nSalts = 8)
    assert(got.count() === 1000)
    assert(got.select("name").distinct().as[String].collect().toSeq === Seq("hot"))
    // the hot key really spreads: with 1000 rows over 8 salts, every salt
    // value must be hit (probability of a miss is ~0 for a hashed id mod)
    val salts = fact.withColumn("__salt",
      pmod(hash(monotonically_increasing_id()).cast("long"), lit(8L)))
      .select(countDistinct("__salt")).head.getLong(0)
    assert(salts === 8L, "the default salt must spread a hot key across all salt values")
  }

  test("NULL and string saltBy values never drop rows") {
    import spark.implicits._
    val fact = Seq(
      (1L, Some("ev-a")), (1L, Some("ev-b")), (1L, None), (2L, None)
    ).toDF("k", "ev")
    val dim = Seq((1L, "one"), (2L, "two")).toDF("k", "name")
    // string salt column WITH nulls: a cast-based salt would null out and
    // silently drop the null-salted rows from the inner join
    val got = Skew.saltedJoin(fact, dim, Seq("k"), nSalts = 4, saltBy = Some(col("ev")))
    assert(got.count() === 4, "every fact row must survive regardless of its salt value")
    assert(got.exceptAll(fact.join(dim, Seq("k"))).count() === 0)
  }

  test("AQE skew-join splitting engages on a hot key (the runtime complement of salting)") {
    import spark.implicits._
    // Manual salting (Skew.saltedJoin / q46) is the PLANNED answer to skew;
    // AQE's OptimizeSkewedJoin is the RUNTIME one — it splits oversized
    // shuffle partitions after seeing real sizes. Lock that the library's
    // declarative join shape keeps that door open: thresholds floored so
    // the tiny fixture's hot key trips it, plan shows skew=true after
    // execution. A future edit that wraps join keys in non-equi
    // expressions would silently lose this and fail here.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = (1 to 50000).map(i => (if (i % 10 == 0) 7L else 42L, i.toLong))
        .toDF("k", "payload")
      val dim = (1 to 200).flatMap(i => Seq((42L, s"hot$i"), (7L, s"cold$i")))
        .toDF("k", "name")
      // the action must run through THIS DataFrame's QueryExecution —
      // a write builds its own and leaves this plan isFinalPlan=false
      val j = fact.join(dim, Seq("k")).agg(count(lit(1)))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE skew-join did not engage — the equi-join shape may have degraded:\n$p")
    }
  }

  test("invalid arguments are rejected loudly") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("k", "v")
    intercept[IllegalArgumentException] { Skew.saltedJoin(df, df, Nil) }
    intercept[IllegalArgumentException] { Skew.saltedJoin(df, df, Seq("k"), nSalts = 1) }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(df.withColumnRenamed("v", "__salt"), df, Seq("k"))
    }
  }
}
