package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Sinks: partition-pruned layout, zero-exchange bucketed reads, and
  * size-targeted compaction — asserted on the read-back PLANS, which is
  * where layout decisions pay off. */
class SinksSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("partitioned layout turns source filters into directory pruning") {
    val out = Files.createTempDirectory("sinks_part").toString + "/docs"
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    Sinks.writePartitioned(docs, out, partitionCols = Seq("lang"), sortCols = Seq("doc_id"))
    // layout: one dir per lang value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("lang=")) && dirs.length === 5, dirs.mkString(","))
    val rd = spark.read.parquet(out).filter(col("lang") === "en")
    val p = rd.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter must prune partitions, not scan rows:\n$p")
    assert(rd.count() === docs.filter(col("lang") === "en").count())
  }

  test("bucketed table joins with zero exchanges on the bucket key") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    // self-clean: when this suite reuses another suite's session, the temp
    // warehouse config above is inert (static conf) and the managed table
    // lands in the session's real warehouse — where a stale directory from
    // any earlier aborted run fails CREATE TABLE with LOCATION_ALREADY_EXISTS
    // even though the catalog itself is fresh
    spark.sql("DROP TABLE IF EXISTS docs_bkt")
    val whDir = new java.io.File(
      java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath, "docs_bkt")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (whDir.exists()) rm(whDir)
    Sinks.writeBucketedTable(docs, "docs_bkt", nBuckets = 4,
      bucketCols = Seq("doc_id"), sortCols = Seq("doc_id"))
    // disable broadcast so the join must rely on the bucket layout — the
    // plan that matters at 100 TB, where neither side broadcasts
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val t = spark.table("docs_bkt")
      val joined = t.as("a").join(t.as("b"), "doc_id")
        .select(col("a.doc_id"), col("b.lang"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed self-join must read pre-shuffled, no Exchange:\n$p")
      assert(joined.count() === docs.count())
    }
  }

  test("compact rewrites a fragmented directory into the targeted file count") {
    val frag = Files.createTempDirectory("sinks_frag").toString + "/f"
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
    docs.repartition(37).write.parquet(frag) // simulate small-files damage
    val before = new java.io.File(frag).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 37)
    val fragBytes = new java.io.File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val out = Files.createTempDirectory("sinks_comp").toString + "/c"
    val planned = Sinks.compact(spark, frag, out, targetBytes = fragBytes / 3)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(planned >= 3 && planned <= 4, s"planned=$planned")
    assert(after === planned, s"expected $planned files, found $after")
    // content survives byte-for-byte (order-independent compare)
    val a = spark.read.parquet(out)
    assert(a.exceptAll(docs).count() === 0 && docs.exceptAll(a).count() === 0)
  }

  test("writeZOrdered bounds BOTH dims per file; single-column sort cannot") {
    import org.apache.spark.sql.functions.{input_file_name, unix_millis}
    // events has nanos ts: read via the library loader (nanosAsLong rebuild)
    val events = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("ms"))
    // per-file bounding-box spans, normalized by the global span
    def spans(path: String): (Double, Double) = {
      val df = spark.read.parquet(path)
        .withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("user_id") - min("user_id")).as("su"),
          (max("ms") - min("ms")).as("sm"))
        .agg(avg("su"), avg("sm"))
        .head()
      val g = events.agg(
        (max("user_id") - min("user_id")).cast("double"),
        (max("ms") - min("ms")).cast("double")).head()
      (df.getDouble(0) / g.getDouble(0), df.getDouble(1) / g.getDouble(1))
    }
    val zDir = Files.createTempDirectory("sinks_z").toString + "/z"
    Sinks.writeZOrdered(events, zDir, Seq("user_id", "ms"), nFiles = 16)
    val (zu, zm) = spans(zDir)
    // the contrast layout: sort by time alone — each file then spans the
    // FULL user range (the layout that cannot prune user filters)
    val tDir = Files.createTempDirectory("sinks_t").toString + "/t"
    events.repartitionByRange(16, col("ms")).sortWithinPartitions("ms")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tDir)
    val (tu, _) = spans(tDir)
    // z-order: every file covers a small rectangle — both dims bounded
    assert(zu < 0.5 && zm < 0.5, s"z-order file spans not rectangular: u=$zu ms=$zm")
    // time-sorted: user span per file is essentially the full range
    assert(tu > 0.9, s"contrast layout should span full user range, got $tu")
    assert(zu < tu / 2, s"z-order must beat single-column sort on the other dim: $zu vs $tu")
    // and the data round-trips
    val back = spark.read.parquet(zDir)
    assert(back.exceptAll(events).count() === 0 && events.exceptAll(back).count() === 0)
  }

  test("writePackedManifest: verified delivery, per-shard files, tamper detection") {
    graft.functions.NativeFunctions.register(spark)
    val docs = graft.queries.Tables.table(spark, Sf, "documents")
      .selectExpr("doc_id", "cast(size(tokenize_text(text)) as long) as n_tok")
    val packed = graft.operators.Packer
      .withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 256)
    val out = Files.createTempDirectory("packed_manifest").toString
    val manifest = Sinks
      .writePackedManifest(packed, "doc_id", "n_tok", out, 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(manifest.keySet === Set(0, 1, 2, 3))
    assert(manifest.values.forall(_._4), "every shard must verify on read-back")
    assert(manifest.values.map(_._1).sum === docs.count(), "manifest covers every row")
    // layout: one hive dir per shard, each with exactly one data file,
    // plus the JSON manifest sidecar
    (0 until 4).foreach { k =>
      val d = new java.io.File(out, s"shard=$k")
      assert(d.isDirectory, s"missing shard dir $d")
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"shard $k must land in one file")
    }
    assert(new java.io.File(out, "_manifest").isDirectory, "JSON manifest sidecar")
    val stored = spark.read.json(s"$out/_manifest")
    assert(stored.count() === 4)
    // determinism: a second delivery of the same frame produces the
    // identical manifest (hashes included)
    val out2 = Files.createTempDirectory("packed_manifest2").toString
    val again = Sinks.writePackedManifest(packed, "doc_id", "n_tok", out2, 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(again === manifest, "delivery must be deterministic in the data")
    // tamper: drop shard 2's data file; re-deriving the disk manifest
    // with the same hash must now disagree with the stored sidecar
    new java.io.File(out, "shard=2").listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    val h = graft.functions.HashConventions.md5long48(
      "concat(cast(doc_id as string), ':', cast(n_tok as string), ':', " +
        "cast(first_seq as string), ':', cast(last_seq as string))")
    val disk = spark.read.parquet(out)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        expr(s"cast(sum(cast($h as decimal(38,0))) % 1000000007 as bigint)")
          .as("content_hash"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!disk.contains(2), "tampered shard has no surviving rows")
    assert((0 to 3).filter(_ != 2).forall(k =>
      disk(k)._1 == manifest(k)._1 && disk(k)._2 == manifest(k)._3),
      "untampered shards still match the stored manifest")
  }

  test("writeTokenContexts: verified tensor delivery; one flipped id fails its shard") {
    val eos = 7777
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id",
        "transform(split(text, ' '), w -> cast(length(w) as int)) as ids")
    val ctxs = graft.operators.Packer
      .packTokenIds(docs, "doc_id", "ids", ctxLen = 64, eosId = eos)
    val out = Files.createTempDirectory("tokctx_manifest").toString
    val man = Sinks.writeTokenContexts(ctxs, out, 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(man.keySet === Set(0, 1, 2, 3))
    assert(man.values.forall(_._4), "every shard must verify on read-back")
    assert(man.values.map(_._1).sum === ctxs.count(), "manifest covers every window")
    // the id count is the FULL stream: every doc's ids plus one eos each
    val streamLen = docs.selectExpr("sum(size(ids) + 1)").head().getLong(0)
    assert(man.values.map(_._2).sum === streamLen)
    assert(new java.io.File(out, "_manifest").isDirectory, "JSON manifest sidecar")
    // ID-LEVEL sensitivity — the property writePackedManifest (accounting
    // tuples only) cannot offer: flip ONE id in ONE window and the
    // affected shard's content hash must change, all others must not
    val h = graft.functions.HashConventions.md5long48(
      "concat(cast(seq as string), ':', " +
        "array_join(transform(ids, i -> cast(i as string)), ','))")
    def hashes(df: org.apache.spark.sql.DataFrame): Map[Int, Long] = df
      .withColumn("shard", expr("cast(seq % 4 as int)"))
      .groupBy("shard")
      .agg(expr(s"cast(sum(cast($h as decimal(38,0))) % 1000000007 as bigint)").as("ch"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val back = spark.read.parquet(out).select("seq", "n_ids", "ids")
    val flipped = back.withColumn("ids", expr(
      "case when seq = 5 then concat(array(element_at(ids, 1) + 1), " +
        "slice(ids, 2, size(ids) - 1)) else ids end"))
    val ok = hashes(back)
    val bad = hashes(flipped)
    assert(ok(1) !== bad(1), "shard 1 (seq 5) must fail on a single flipped id")
    assert((0 to 3).filter(_ != 1).forall(k => ok(k) == bad(k)),
      "other shards are untouched")
    assert(ok === man.view.mapValues(_._3).toMap, "disk hashes match the manifest")
  }

  test("writeTokenTensors: one flipped label fails ONLY labels_hash on its shard") {
    val eos = 7777
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .selectExpr("doc_id",
        "transform(split(text, ' '), w -> cast(length(w) as int)) as ids")
    val tensors = graft.operators.Packer
      .packTokenIdsWithSpans(docs, "doc_id", "ids", ctxLen = 64, eosId = eos)
      .withColumn("labels", expr(
        """transform(sequence(0, n_ids - 1), p -> case
             when p = n_ids - 1 then -100
             when array_contains(transform(spans, x -> x.a), p + 1) then -100
             else element_at(ids, p + 2) end)"""))
    val out = Files.createTempDirectory("toktensors").toString
    val man = Sinks.writeTokenTensors(tensors, out, 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).toMap
    assert(man.keySet === Set(0, 1, 2, 3))
    assert(man.values.forall(_._6), "every shard must verify on read-back")
    assert(man.values.map(_._1).sum === tensors.count(), "manifest covers every window")
    // all three families land in the shard files and round-trip
    val back = spark.read.parquet(out)
    assert(back.columns.toSet === Set("seq", "n_ids", "ids", "spans", "labels", "shard"))
    // FAMILY-LEVEL localization: flip ONE label in ONE window; re-derive
    // the three family hashes from disk — labels_hash must change on that
    // window's shard ALONE, ids/spans hashes everywhere and labels
    // hashes elsewhere must not
    def h(e: String) = graft.functions.HashConventions.md5long48(e)
    val ih = h("concat(cast(seq as string), ':', " +
      "array_join(transform(ids, i -> cast(i as string)), ','))")
    val sh = h("concat(cast(seq as string), ':', " +
      "array_join(transform(spans, x -> concat(cast(x.doc as string), ':', " +
      "cast(x.a as string), ':', cast(x.b as string))), ';'))")
    val lh = h("concat(cast(seq as string), ':', " +
      "array_join(transform(labels, i -> cast(i as string)), ','))")
    def fams(df: org.apache.spark.sql.DataFrame): Map[Int, (Long, Long, Long)] = df
      .withColumn("shard", expr("cast(seq % 4 as int)"))
      .groupBy("shard")
      .agg(
        expr(s"cast(sum(cast($ih as decimal(38,0))) % 1000000007 as bigint)").as("i"),
        expr(s"cast(sum(cast($sh as decimal(38,0))) % 1000000007 as bigint)").as("s"),
        expr(s"cast(sum(cast($lh as decimal(38,0))) % 1000000007 as bigint)").as("l"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val clean = fams(back)
    assert(clean.view.mapValues(v => (v._1, v._2, v._3)).toMap ===
      man.view.mapValues(v => (v._3, v._4, v._5)).toMap,
      "disk family hashes match the manifest")
    val tampered = back.withColumn("labels", expr(
      "case when seq = 6 then concat(array(element_at(labels, 1) + 1), " +
        "slice(labels, 2, size(labels) - 1)) else labels end"))
    val dirty = fams(tampered)
    assert(clean(2)._3 !== dirty(2)._3,
      "shard 2 (seq 6) labels_hash must fail on a single flipped label")
    assert(clean(2)._1 === dirty(2)._1 && clean(2)._2 === dirty(2)._2,
      "ids/spans hashes on the tampered shard stay clean — corruption localizes")
    assert((0 to 3).filter(_ != 2).forall(k => clean(k) == dirty(k)),
      "other shards are untouched entirely")
  }
}
