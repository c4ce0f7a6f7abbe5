package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/**
 * Sanity layer over the query library: every declared query runs at sf0.001
 * and returns a well-formed result; oracle VALUE parity is checked by the
 * driver's DuckDB gate (replicated locally by tools/check_oracle.py).
 */
class QueriesSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle") {
    // Even the HLL query (q36) is oracle-checked now, via its exact column
    // plus the sketch's accuracy-contract boolean.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle SQL: $noOracle")
  }

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name runs and returns a schema'd result") {
      val df = SparkEntry.queries(name)(spark, Sf)
      assert(df.schema.fields.nonEmpty)
      // THE SCALAR-ONLY OUTPUT LAW: the driver's oracle comparator sorts
      // result frames with pandas, which cannot hash array/map/struct
      // cells (q285/q286/q291 shipped raw id heads in r10 and all three
      // read `err` at the gate despite exact values). Serialize nested
      // values to strings (array_join / spans_str convention) instead.
      val nested = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
          f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
          s"${f.name}: ${f.dataType.simpleString}"
      }
      assert(nested.isEmpty,
        s"query outputs must be scalar-only (driver comparator contract); " +
          s"nested columns: ${nested.mkString(", ")}")
      assert(df.count() >= 0)
    }
  }

  test("selected golden spot checks") {
    // exact dedup: all sf0.001 docs are unique -> every doc canonical
    val dedup = SparkEntry.queries("q23_dedup_exact")(spark, Sf)
    assert(dedup.filter(col("is_canonical") === false).count() === 0)
    // ann: constant 50-probe set x top-5, self excluded, sim within [-1, 1]
    val ann = SparkEntry.queries("q33_ann_topk")(spark, Sf)
    assert(ann.count() === 250)
    assert(ann.filter(col("pid") === col("cid")).count() === 0)
    assert(ann.filter(abs(col("sim")) > 1.0000001).count() === 0)
    // ivf: every one of the 500 vectors lands in exactly one of 8 clusters
    val ivf = SparkEntry.queries("q34_ivf_assign")(spark, Sf)
    assert(ivf.agg(sum("n_members")).head.getLong(0) === 500)
  }

  test("salted join result is identical to the plain join (q46)") {
    val salted = SparkEntry.queries("q46_salted_join")(spark, Sf)
    val li = spark.read.parquet(s"$Sf/lineitem.parquet")
    val o = spark.read.parquet(s"$Sf/orders.parquet")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
    assert(salted.except(plain).count() === 0 && plain.except(salted).count() === 0)
  }

  test("new relational/dedup operators hold their invariants (q42-q48)") {
    // pivot: one row per priority, all three status columns present
    val piv = SparkEntry.queries("q42_pivot_status")(spark, Sf)
    assert(piv.columns.toSet === Set("o_orderpriority", "F", "O", "P"))
    assert(piv.count() === 5)
    // distribution windows: pr/cd bounded, quartile in 1..4
    val rd = SparkEntry.queries("q43_rank_distribution")(spark, Sf)
    assert(rd.filter(col("pr") < 0 || col("pr") > 1 || col("cd") <= 0 || col("cd") > 1
      || col("quartile") < 1 || col("quartile") > 4).count() === 0)
    // moments-based correlation is a true correlation
    val cs = SparkEntry.queries("q44_corr_stats")(spark, Sf)
    assert(cs.filter(abs(col("corr_xy")) > 1.0000001).count() === 0)
    assert(cs.filter(col("stddev_x") < 0 || col("stddev_y") < 0).count() === 0)
    // range join: follow-window strictly after the anchor
    val rj = SparkEntry.queries("q45_range_join_events")(spark, Sf)
    assert(rj.filter(col("n_follow") <= 0).count() === 0)
    // candidate pairs: ordered, jaccard in (0, 1], overlap >= threshold
    val sp = SparkEntry.queries("q48_shingle_pairs")(spark, Sf)
    assert(sp.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(sp.filter(col("n_common") < 2).count() === 0)
    assert(sp.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() === 0)
  }

  test("q48 stop-shingle cutoff drops boilerplate-only pairs, keeps true near-dups") {
    // 22 docs share only a boilerplate prefix (its shingles hit df=22 > 20,
    // the stop cutoff) plus per-doc unique tails; without the cutoff every
    // one of the 231 pairs would share >= 2 shingles. Docs 100/101 are true
    // near-dups via RARE shingles (df=2) and must survive.
    val dir = java.nio.file.Files.createTempDirectory("q48cutoff").toString
    val boiler = (0 until 22).map { i =>
      (i.toLong, s"alpha beta gamma delta epsilon uq${i}a uq${i}b uq${i}c", "en", "synth", 40L)
    }
    val dups = Seq(
      (100L, "red green blue yellow purple orange", "en", "synth", 35L),
      (101L, "red green blue yellow purple orange extra", "en", "synth", 41L))
    spark.createDataFrame(boiler ++ dups)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q48_shingle_pairs")(spark, dir).collect()
    assert(out.length === 1, s"expected only the rare-shingle pair, got ${out.toSeq}")
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 100L && r.getAs[Long]("doc_b") === 101L)
    // doc 100: 4 shingles, doc 101: 5, all rare; 4 common -> jaccard 4/5
    assert(r.getAs[Long]("n_common") === 4L)
    assert(r.getAs[Double]("jaccard") === 0.8)
  }

  test("multimodal feature extraction is deterministic and streams") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id", "cast(text as binary) as payload")
    val dec = new Multimodal.FakeMediaDecoder(8)
    val f1 = Multimodal.extractFeatures(docs, "doc_id", "payload", dec)
    assert(f1.schema.fieldNames.toSeq === Seq("doc_id", "n_bytes", "features"))
    val rows = f1.orderBy("doc_id").limit(3).collect()
    assert(rows.forall(_.getSeq[Float](2).length === 8))
    val f2 = Multimodal.extractFeatures(docs, "doc_id", "payload", dec)
      .orderBy("doc_id").limit(3).collect()
    assert(rows.map(_.toString).sameElements(f2.map(_.toString)))
    // real decoder rejects unknown magic loudly rather than decoding garbage
    val ex = intercept[IllegalArgumentException] {
      new Multimodal.RealMediaDecoder(8).decode(Array[Byte](1, 2))
    }
    assert(ex.getMessage.toLowerCase.contains("magic") ||
      ex.getMessage.toLowerCase.contains("unknown"))
  }

  test("multimodal frame sampling and feature resize") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id", "cast(text as binary) as payload")
    // frame-sample: every 3rd 16-byte frame
    val fs = Multimodal.sampleFrames(docs, "doc_id", "payload", 16, 3)
    assert(fs.schema.fieldNames.toSeq === Seq("doc_id", "n_frames", "frames"))
    val row = fs.orderBy("doc_id").first()
    val nFrames = row.getInt(1)
    val kept = row.getSeq[Array[Byte]](2)
    assert(kept.length === (nFrames + 2) / 3)
    assert(kept.forall(_.length === 16))
    // resize: 8-dim fake features -> 4 bucket means, bit-exact check
    val dec = new Multimodal.FakeMediaDecoder(8)
    val feats = Multimodal.extractFeatures(docs, "doc_id", "payload", dec)
    val resized = feats.select(col("doc_id"), col("features"),
      Multimodal.resizeFeatures(col("features"), 4).as("small"))
    val r = resized.orderBy("doc_id").first()
    val f = r.getSeq[Float](1)
    val sm = r.getSeq[Double](2)
    assert(sm.length === 4)
    assert(sm(0) === (f(0).toDouble + f(1).toDouble) / 2.0)
    assert(sm(3) === (f(6).toDouble + f(7).toDouble) / 2.0)
    // non-divisible resize (8 -> 3): buckets [0,2) [2,5) [5,8) — floored
    // boundaries with the TRUE bucket length as divisor
    val r3 = feats.select(col("doc_id"), col("features"),
      Multimodal.resizeFeatures(col("features"), 3).as("s3"))
      .orderBy("doc_id").first()
    val f3 = r3.getSeq[Float](1)
    val s3 = r3.getSeq[Double](2)
    assert(s3.length === 3)
    assert(s3(0) === (f3(0).toDouble + f3(1).toDouble) / 2.0)
    assert(s3(1) === (f3(2).toDouble + f3(3).toDouble + f3(4).toDouble) / 3.0)
    assert(s3(2) === (f3(5).toDouble + f3(6).toDouble + f3(7).toDouble) / 3.0)
  }
}
