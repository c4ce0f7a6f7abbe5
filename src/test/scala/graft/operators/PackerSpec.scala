package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Packer (two-phase global running token sum) against the naive
  * single-task Window.orderBy spelling it replaces at scale. */
class PackerSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("withSequenceOffsets equals the naive global window sum on real data") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val naive = docs
      .withColumn("tok_offset", coalesce(sum("n_tok").over(w), lit(0L)))
      .select("doc_id", "tok_offset")
    val got = Packer.withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 64)
      .select("doc_id", "tok_offset")
    assert(got.exceptAll(naive).count() === 0 && naive.exceptAll(got).count() === 0,
      "two-phase running sum must reproduce the global window sum exactly")
  }

  test("context-window spans cover the token stream exactly, in order") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val rows = Packer.withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 64)
      .orderBy("doc_id")
      .select("doc_id", "n_tok", "tok_offset", "first_seq", "last_seq", "n_seqs")
      .collect()
    // offsets are the exclusive prefix sums: each doc starts where the
    // previous one ended, the first starts at zero
    var expectOff = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("tok_offset") === expectOff,
        s"doc ${r.getAs[Long]("doc_id")} offset breaks the prefix-sum chain")
      expectOff += r.getAs[Long]("n_tok")
      val first = r.getAs[Long]("first_seq")
      val last = r.getAs[Long]("last_seq")
      assert(first === r.getAs[Long]("tok_offset") / 64)
      assert(last >= first && r.getAs[Long]("n_seqs") === last - first + 1)
    }
  }

  test("empty rows consume no tokens but still get a window assignment") {
    import spark.implicits._
    val df = Seq((1L, 10L), (2L, 0L), (3L, 5L)).toDF("id", "n")
    val out = Packer.withSequenceOffsets(df, "id", "n", ctxLen = 8, nBuckets = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("tok_offset"), r.getAs[Long]("first_seq"), r.getAs[Long]("n_seqs"))))
      .toMap
    assert(out(1L) === ((0L, 0L, 2L)), "10 tokens at offset 0 span windows 0-1")
    assert(out(2L) === ((10L, 1L, 1L)), "an empty row sits in one window, consumes none")
    assert(out(3L) === ((10L, 1L, 1L)), "the next row starts where the empty one did")
  }

  test("a null token count fails loudly instead of corrupting downstream offsets") {
    import spark.implicits._
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L))).toDF("id", "n")
    val ex = intercept[Exception] {
      Packer.withSequenceOffsets(df, "id", "n", ctxLen = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("Packer.withSequenceOffsets: n is null")),
      s"expected the loud null-contract error, got: $ex")
  }

  test("no single-partition global window appears in the plan") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val plan = Packer.withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 64)
      .queryExecution.executedPlan.toString
    // Window prints as `Window [exprs], [partSpec], [orderSpec]` — a GLOBAL
    // window (the naive single-task spelling) drops the partition-spec group
    // and prints only two bracket groups. The data-sized running sum must be
    // partitioned by bucket; the only global window allowed is the one over
    // the tiny nBuckets-row aggregate frame (it sums b_tot, not raw counts).
    val winLines = plan.linesIterator.filter(_.contains("Window [")).toSeq
    assert(winLines.exists(l => "\\], \\[bucket#\\d+\\], \\[".r.findFirstIn(l).isDefined),
      s"expected a bucket-partitioned data window in:\n$plan")
    val globals = winLines.filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty)
    assert(globals.forall(_.contains("b_tot#")),
      s"global windows may only touch the tiny aggregate frame, got:\n${globals.mkString("\n")}")
  }

  test("recoverable (lineage-kept persist) mode packs identically to the checkpoint default") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
    val base = Packer.withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 64)
      .select("doc_id", "tok_offset", "first_seq", "last_seq", "n_seqs")
    val rec = Packer
      .withSequenceOffsets(docs, "doc_id", "n_tok", ctxLen = 64, recoverable = true)
      .select("doc_id", "tok_offset", "first_seq", "last_seq", "n_seqs")
    assert(rec.exceptAll(base).count() === 0 && base.exceptAll(rec).count() === 0,
      "recoverable mode must produce bit-identical offsets")
    spark.catalog.clearCache() // the documented unpersist point for recoverable pins
  }

  test("packTokenIds: windows reassemble the exact eos-separated id stream") {
    val eos = 9999
    // real per-doc id arrays (word lengths — deterministic, multi-window)
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        expr("transform(split(text, ' '), w -> cast(length(w) as int))").as("ids"))
    val got = Packer.packTokenIds(docs, "doc_id", "ids", ctxLen = 32, eosId = eos)
    val win = got.orderBy("seq").collect()
    // THE STREAM LAW: windows concatenated in seq order == every doc's
    // ids + one eos, concatenated in doc order — boundaries, separators,
    // and fragment reassembly all verified at id granularity
    val stream = win.flatMap(_.getSeq[Int](2)).toSeq
    val expect = docs.orderBy("doc_id").collect()
      .flatMap(r => r.getSeq[Int](1) :+ eos).toSeq
    assert(stream === expect)
    // shape: seq dense from 0; every window full except the kept tail
    assert(win.map(_.getLong(0)).toSeq === win.indices.map(_.toLong))
    assert(win.dropRight(1).forall(_.getInt(1) === 32))
    assert(win.last.getInt(1) === (expect.length - 1) % 32 + 1)
    // at least one document must SPAN windows for this test to bite
    assert(docs.selectExpr("max(size(ids))").head().getInt(0) > 32)
    // partition-count independence: the offsets and reassembly are
    // deterministic in the data, not the physical layout
    val re = Packer.packTokenIds(docs.repartition(7), "doc_id", "ids", 32, eos)
    assert(re.exceptAll(got).count() === 0 && got.exceptAll(re).count() === 0)
    // scale shape: no data-sized global window (same audit as offsets)
    val plan = got.queryExecution.executedPlan.toString
    val globals = plan.linesIterator.filter(_.contains("Window ["))
      .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
    assert(globals.forall(_.contains("b_tot#")),
      s"global windows may only touch the tiny aggregate frame, got:\n${globals.mkString("\n")}")
  }

  test("packTokenIdsWithSpans: spans tile every window and attribute ids to docs") {
    val eos = 9999
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select(col("doc_id"),
        expr("transform(split(text, ' '), w -> cast(length(w) as int))").as("ids"))
    val plain = Packer.packTokenIds(docs, "doc_id", "ids", ctxLen = 32, eosId = eos)
    val got = Packer.packTokenIdsWithSpans(docs, "doc_id", "ids", ctxLen = 32, eosId = eos)
    // ids agree EXACTLY with packTokenIds (shared core, different agg)
    assert(got.select("seq", "n_ids", "ids").exceptAll(
      plain.select("seq", "n_ids", "ids")).count() === 0)
    assert(plain.count() === got.count())
    val rows = got.orderBy("seq").collect()
    val expectDocs = docs.orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1) :+ eos)).toSeq
    // global attribution law: reading every window's spans in order and
    // slicing its ids reconstructs each doc's ids + eos, in doc order
    val byDoc = scala.collection.mutable.LinkedHashMap.empty[Long, Vector[Int]]
    rows.foreach { r =>
      val ids = r.getSeq[Int](2)
      val spans = r.getSeq[org.apache.spark.sql.Row](3)
      // tiling: a_0 = 0, contiguous, b_last = n_ids
      assert(spans.head.getInt(1) === 0)
      assert(spans.last.getInt(2) === r.getInt(1))
      spans.sliding(2).foreach {
        case Seq(x, y) => assert(x.getInt(2) === y.getInt(1), "gap/overlap")
        case _ =>
      }
      spans.foreach { sp =>
        val d = sp.getLong(0)
        byDoc(d) = byDoc.getOrElse(d, Vector.empty) ++
          ids.slice(sp.getInt(1), sp.getInt(2))
      }
    }
    assert(byDoc.toSeq === expectDocs.map { case (d, v) => d -> v.toVector })
  }

  test("packTokenIds: null id arrays fail loudly") {
    import spark.implicits._
    val bad = Seq((1L, Seq(1, 2)), (2L, null.asInstanceOf[Seq[Int]]))
      .toDF("doc_id", "ids")
    val e = intercept[Exception] {
      Packer.packTokenIds(bad, "doc_id", "ids", 8, 99).collect()
    }
    assert(e.getMessage != null)
  }
}
