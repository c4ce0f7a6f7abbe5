package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Mixture (deterministic hash-threshold mixture sampling): rate fidelity,
  * partitioning/growth stability, and the broadcast map-only plan shape. */
class MixtureSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$Sf/documents.parquet")

  test("rate-0 sources vanish, rate-1 sources survive whole, rates track targets") {
    import spark.implicits._
    val ids = spark.range(0, 20000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 4).cast("string")))
    val out = Mixture.sampleByRates(ids, "src", "id",
      rates = Map("s0" -> 0.0, "s1" -> 1.0, "s2" -> 0.5), defaultRate = 0.25,
      salt = "t")
    val counts = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("s0"), "rate 0 must drop the source entirely")
    assert(counts("s1") === 5000L, "rate 1 must keep every row")
    assert(math.abs(counts("s2") - 2500L) < 200, s"rate 0.5 off target: ${counts("s2")}")
    assert(math.abs(counts("s3") - 1250L) < 150, s"default 0.25 off target: ${counts("s3")}")
  }

  test("decisions are stable under repartitioning and corpus growth") {
    import spark.implicits._
    val rates = Map("src1" -> 0.8, "src2" -> 0.5)
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Mixture.sampleByRates(df, "source", "doc_id", rates, 0.6, "mix1")
        .select("doc_id").as[Long].collect().toSet
    val base = kept(docs)
    assert(kept(docs.repartition(17, col("lang"))) === base,
      "keep set must not depend on partitioning")
    // growth: sampling half the corpus keeps exactly the intersection —
    // no doc's decision depends on any other doc's presence
    val half = docs.filter(col("doc_id") % 2 === 0)
    assert(kept(half) === base.filter(_ % 2 == 0),
      "keep decisions must be per-row, independent of the rest of the corpus")
  }

  test("plan is broadcast + map-only: no shuffle of the corpus") {
    val out = Mixture.sampleByRates(docs, "source", "doc_id",
      Map("src1" -> 0.8), 0.6, "mix1")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rate table must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the corpus must not shuffle:\n$plan")
  }

  test("oversampling rates replicate: full copies always, fractional by hash") {
    import spark.implicits._
    val ids = spark.range(0, 10000).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
    val out = Mixture.sampleByRatesWithRepeats(ids, "src", "id",
      rates = Map("s0" -> 2.5, "s1" -> 0.0), defaultRate = 1.0, salt = "t")
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(!bySrc.contains("s1"), "rate 0 drops the source even with repeats")
    assert(math.abs(bySrc("s0") - 12500L) < 300, s"rate 2.5 off target: ${bySrc("s0")}")
    // copies 0 and 1 are unconditional; only copy 2 is hash-gated
    val copies = out.filter(col("src") === "s0").groupBy("mix_copy").count()
      .as[(Int, Long)].collect().toMap
    assert(copies(0) === 5000L && copies(1) === 5000L)
    assert(math.abs(copies(2) - 2500L) < 200, s"fractional copy off: ${copies(2)}")
  }

  test("oversampled output is deterministic and replica-addressable") {
    val rates = Map("src1" -> 2.5, "src3" -> 0.4)
    def run() = Mixture.sampleByRatesWithRepeats(docs, "source", "doc_id",
      rates, 1.5, "mixup").select("doc_id", "mix_copy")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a = run()
    assert(a === run(), "same inputs must give the identical replica set")
    assert(a.exists(_._2 == 1), "rates above 1 must actually replicate")
  }

  test("a null row key fails loudly instead of silently dropping the row") {
    import spark.implicits._
    val df = Seq(("s1", Some(1L)), ("s1", None), ("s2", Some(3L)))
      .toDF("src", "id")
    val ex = intercept[Exception] {
      Mixture.sampleByRates(df, "src", "id", Map("s1" -> 1.0), 1.0, "t").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Mixture.sampleByRates: id is null")),
      s"expected the loud null-contract error, got: $ex")
  }

  test("sqrt-temperature sampling flattens sources toward the smallest") {
    import spark.implicits._
    // sources with 1k / 4k / 16k rows: rates 1, 1/2, 1/4 — kept counts
    // ~1k / ~2k / ~4k (a 16x spread flattens to ~4x)
    val ids = spark.range(0, 21000).toDF("id")
      .withColumn("src",
        when(col("id") < 1000, "small")
          .when(col("id") < 5000, "mid")
          .otherwise("big"))
    val out = Mixture.sampleBySqrtTemperature(ids, "src", "id", "t")
    val counts = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(counts("small") === 1000L, "the smallest source must keep every row")
    assert(math.abs(counts("mid") - 2000L) < 150, s"sqrt(1/4) rate off: ${counts("mid")}")
    assert(math.abs(counts("big") - 4000L) < 250, s"sqrt(1/16) rate off: ${counts("big")}")
  }

  test("temperature sampling is deterministic and partitioning-independent") {
    import spark.implicits._
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      Mixture.sampleBySqrtTemperature(df, "source", "doc_id", "tmp1")
        .select("doc_id").as[Long].collect().toSet
    val base = kept(docs)
    assert(base.nonEmpty)
    assert(kept(docs.repartition(17, col("lang"))) === base,
      "keep set must not depend on partitioning")
  }

  test("temperature sampling: corpus rides a broadcast join, nulls fail loudly") {
    import spark.implicits._
    val plan = Mixture.sampleBySqrtTemperature(docs, "source", "doc_id", "t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"the corpus must not sort-merge:\n$plan")
    val nullSrc = Seq((Option.empty[String], 1L), (Some("s"), 2L)).toDF("src", "id")
    val ex = intercept[Exception] {
      Mixture.sampleBySqrtTemperature(nullSrc, "src", "id", "t").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("src is null")),
      s"expected the loud null-source error, got: $ex")
  }

  test("assignSplits is exhaustive, disjoint, and growth-stable") {
    import spark.implicits._
    val cuts = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    val out = Mixture.assignSplits(docs, "doc_id", "split1", cuts)
    // exhaustive + disjoint: every row gets exactly one split
    assert(out.count() === docs.count())
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") && bySplit("train") > bySplit("test"))
    // growth-stable: on a half corpus every surviving doc keeps its split
    def splits(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Mixture.assignSplits(df, "doc_id", "split1", cuts)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val full = splits(docs)
    val half = splits(docs.filter(col("doc_id") % 2 === 0))
    assert(half.forall { case (id, sp) => full(id) == sp },
      "a doc must never migrate between splits when the corpus shrinks/grows")
    // stable under repartitioning too
    assert(splits(docs.repartition(17, col("lang"))) === full)
  }

  test("assignSplits contracts fail loudly") {
    intercept[IllegalArgumentException] {
      Mixture.assignSplits(docs, "doc_id", "s", Seq("a" -> 90, "b" -> 5))
    }
    intercept[IllegalArgumentException] {
      Mixture.assignSplits(docs, "doc_id", "s", Seq("a" -> 95, "a" -> 5))
    }
    intercept[IllegalArgumentException] {
      // single-split assignment is degenerate (and would prune the guard)
      Mixture.assignSplits(docs, "doc_id", "s", Seq("a" -> 100))
    }
    intercept[IllegalArgumentException] {
      Mixture.assignSplits(docs.withColumn("split", lit("x")),
        "doc_id", "s", Seq("a" -> 50, "b" -> 50))
    }
    import spark.implicits._
    val nullKey = Seq((Option.empty[Long], "x"), (Some(1L), "y")).toDF("id", "v")
    val ex = intercept[Exception] {
      Mixture.assignSplits(nullKey, "id", "s", Seq("a" -> 50, "b" -> 50)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("id is null")))
  }

  test("weightedSample is weight-proportional, deterministic, top-k-planned") {
    import spark.implicits._
    // two weight classes, 10:1 — the heavy class must dominate the sample
    val ids = spark.range(0, 10000).toDF("id")
      .withColumn("w", when(col("id") % 2 === 0, 10L).otherwise(1L))
    val out = Mixture.weightedSample(ids, "id", "w", k = 1000, salt = "t")
    val picked = out.collect().map(_.getLong(0))
    assert(picked.length === 1000)
    val heavy = picked.count(_ % 2 == 0)
    // expectation ~ 10/11 of 1000 = 909; allow slack
    assert(heavy > 800, s"heavy class underrepresented: $heavy/1000")
    // deterministic: same inputs, same sample, any partitioning
    val again = Mixture.weightedSample(ids.repartition(17), "id", "w", 1000, "t")
      .collect().map(_.getLong(0))
    assert(picked.sorted.sameElements(again.sorted))
    // plans as TakeOrderedAndProject, not a global sort
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"degraded to global sort:\n$plan")
  }

  test("weightedSample contracts are loud: bad k, reserved name, zero/null weight") {
    import spark.implicits._
    val ids = spark.range(0, 10).toDF("id").withColumn("w", lit(1L))
    intercept[IllegalArgumentException] {
      Mixture.weightedSample(ids, "id", "w", 0, "t")
    }
    intercept[IllegalArgumentException] {
      Mixture.weightedSample(ids.withColumn("wkey", lit(1)), "id", "w", 1, "t")
    }
    val zeroW = spark.range(0, 10).toDF("id").withColumn("w", lit(0L))
    val ex = intercept[Exception] {
      Mixture.weightedSample(zeroW, "id", "w", 5, "t").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("must be positive")))
  }

  test("weightedSamplePerGroup: exact quotas, window-spelling parity, determinism") {
    import spark.implicits._
    // three strata of very different sizes; weight = id % 7 + 1
    val rows = spark.range(0, 6000).toDF("id")
      .withColumn("g", when(col("id") < 4000, "big")
        .when(col("id") < 5900, "mid").otherwise("small"))
      .withColumn("w", col("id") % 7 + 1)
    val out = Mixture.weightedSamplePerGroup(rows, "g", "id", "w", k = 25, salt = "t")
    out.cache()
    // exact per-group quotas: k winners per stratum, ranks 1..k dense
    val quotas = out.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quotas === Map("big" -> 25L, "mid" -> 25L, "small" -> 25L))
    assert(out.groupBy("g").agg(max("rank")).collect().forall(_.getInt(1) === 25))
    // the k-bounded aggregator must select EXACTLY what the ranking-window
    // spelling selects (same race key, same tie-break)
    val windowed = rows
      .withColumn("wkey", expr(
        "round(-ln((cast(" +
          graft.functions.HashConventions
            .md5long48("concat('t|', cast(id as string))") +
          " % 1000000 as double) + 1.0d) / 1000000.0d) / cast(w as double), 9)"))
      .withColumn("rank", expr(
        "row_number() over (partition by g order by wkey, id)"))
      .filter(col("rank") <= 25)
      .select("g", "rank", "id", "wkey")
    val a = out.select("g", "rank", "id", "wkey").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val b = windowed.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a === b, "aggregator selection differs from the window spelling")
    // partitioning-independent
    val again = Mixture.weightedSamplePerGroup(
      rows.repartition(17), "g", "id", "w", 25, "t")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(again === a.map(t => (t._1, t._2, t._3)))
    out.unpersist()
  }

  test("weightedSamplePerGroup contracts are loud: null group, reserved names") {
    import spark.implicits._
    val rows = Seq((Some("a"), 1L, 2L), (None, 2L, 2L)).toDF("g", "id", "w")
    val ex = intercept[Exception] {
      Mixture.weightedSamplePerGroup(rows, "g", "id", "w", 3, "t").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("null stratum")))
    intercept[IllegalArgumentException] {
      Mixture.weightedSamplePerGroup(
        rows.withColumn("rank", lit(1)), "g", "id", "w", 3, "t")
    }
  }

  test("invalid rates and reserved column names fail loudly") {
    intercept[IllegalArgumentException] {
      Mixture.sampleByRates(docs, "source", "doc_id", Map("a" -> 1.5), 0.5, "t")
    }
    intercept[IllegalArgumentException] {
      Mixture.sampleByRates(docs.withColumn("mix_thresh", lit(1)),
        "source", "doc_id", Map("a" -> 0.5), 0.5, "t")
    }
  }

  test("waterfillAllocations: hand-computed saturation, budget conservation") {
    import spark.implicits._
    // weights 1:1:2, caps 10/100/100, budget 90. Level starts at 90/4 =
    // 22.5 -> 'a' (cap 10 < 22.5) saturates; remaining 80 over weights
    // 1:2 -> b = 26.666667, c = 53.333333 (both under cap).
    val per = Seq(("a", 1L, 10L), ("b", 1L, 100L), ("c", 2L, 100L))
      .toDF("source", "w", "cap")
    val out = Mixture.waterfillAllocations(per, "source", "w", "cap", 90L)
      .collect().map(r => r.getString(0) ->
        ((r.getBoolean(3), r.getDouble(4)))).toMap
    assert(out("a") === ((true, 10.0)))
    assert(out("b") === ((false, 26.666667)))
    assert(out("c") === ((false, 53.333333)))
    assert(math.abs(out.values.map(_._2).sum - 90.0) < 1e-5,
      "allocations must conserve the budget")
  }

  test("waterfillAllocations: budget over availability caps everything; edges loud") {
    import spark.implicits._
    val per = Seq(("a", 5L, 10L), ("b", 1L, 20L)).toDF("source", "w", "cap")
    val all = Mixture.waterfillAllocations(per, "source", "w", "cap", 1000L)
      .collect().map(r => (r.getBoolean(3), r.getDouble(4))).toSeq
    assert(all === Seq((true, 10.0), (true, 20.0)), "over-budget saturates all")
    val zero = Mixture.waterfillAllocations(per, "source", "w", "cap", 0L)
      .agg(sum("allocation")).head().getDouble(0)
    assert(zero === 0.0, "zero budget allocates nothing")
    intercept[IllegalArgumentException] {
      Mixture.waterfillAllocations(per, "source", "w", "cap", -1L)
    }
    val err = intercept[Exception] {
      Mixture.waterfillAllocations(
        Seq(("a", 0L, 10L)).toDF("source", "w", "cap"),
        "source", "w", "cap", 5L).collect()
    }
    assert(err.getMessage != null)
  }

  test("waterfillAllocations: cascading saturation fills in cap/weight order") {
    import spark.implicits._
    // equal weights, caps 1/2/1000, budget 12: level 4 -> a AND b saturate
    // (cascade: after a caps at 1, level (12-1)/2 = 5.5 still > 2), c gets 9
    val per = Seq(("a", 1L, 1L), ("b", 1L, 2L), ("c", 1L, 1000L))
      .toDF("source", "w", "cap")
    val out = Mixture.waterfillAllocations(per, "source", "w", "cap", 12L)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(out === Map("a" -> 1.0, "b" -> 2.0, "c" -> 9.0))
  }

  test("hashBucketNegatives: cross-group only, deterministic, bucket-bounded") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"grp${i % 5}")).toDF("id", "grp")
    val neg = Mixture.hashBucketNegatives(docs, "id", "grp", k = 3, buckets = 8, salt = "s1")
    val rows = neg.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    // never a same-group (or self) negative
    rows.foreach { case (a, _, n, ng) =>
      assert(a != n, s"anchor $a sampled itself")
      assert(s"grp${a % 5}" != ng, s"anchor $a got a same-group negative $n")
    }
    // at most k per anchor, ranks contiguous from 1
    rows.groupBy(_._1).foreach { case (a, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_._2).sorted.toSeq === (1 to rs.length), s"anchor $a ranks")
    }
    // negatives come from the anchor's OWN hash bucket (the scale bound)
    def bkt(i: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s1:bkt:$i".getBytes("UTF-8"))
        .take(6).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md5, 16) % 8
    }
    rows.foreach { case (a, _, n, _) => assert(bkt(a) === bkt(n)) }
    // deterministic across runs and partitionings
    val again = Mixture.hashBucketNegatives(
      docs.repartition(7), "id", "grp", k = 3, buckets = 8, salt = "s1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(again === rows.map(t => (t._1, t._2, t._3)).toSet)
    // a different salt draws a different sample
    val other = Mixture.hashBucketNegatives(docs, "id", "grp", k = 3, buckets = 8, salt = "s2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(other !== rows.map(t => (t._1, t._2, t._3)).toSet)
    // null group fails loudly
    val dirty = Seq((1L, "a"), (2L, null)).toDF("id", "grp")
    val e = intercept[Exception] {
      Mixture.hashBucketNegatives(dirty, "id", "grp", 1, 4, "s").collect()
    }
    assert(e.getMessage.contains("null group") ||
      Option(e.getCause).exists(_.getMessage.contains("null group")))
  }

  test("hashBucketNegatives: quoted salt and backtick-needing column names are safe") {
    import spark.implicits._
    // a salt containing a single quote must be ESCAPED into the SQL
    // fragments, not break (or silently alter) the expressions
    val docs = (0L until 60L).map(i => (i, s"grp${i % 3}")).toDF("id", "grp")
    val q1 = Mixture.hashBucketNegatives(docs, "id", "grp", 2, 4, salt = "o'hara's")
      .collect()
    assert(q1.nonEmpty)
    q1.foreach(r => assert(r.getLong(0) != r.getLong(2)))
    // the escaped quote participates in the hash: a quote-bearing salt
    // draws a DIFFERENT deterministic sample than its quote-stripped twin
    val q2 = Mixture.hashBucketNegatives(docs, "id", "grp", 2, 4, salt = "oharas")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(q1.map(r => (r.getLong(0), r.getLong(2))).toSet !== q2)
    // column names that need backtick quoting (spaces, reserved words)
    val spaced = (0L until 60L).map(i => (i, s"grp${i % 3}"))
      .toDF("doc id", "select")
    val q3 = Mixture.hashBucketNegatives(spaced, "doc id", "select", 2, 4, "s")
    assert(q3.columns.toSeq === Seq("doc id", "rank", "neg_doc id", "neg_group"))
    assert(q3.count() > 0L)
  }
}
