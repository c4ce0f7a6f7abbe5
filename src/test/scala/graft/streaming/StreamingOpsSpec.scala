package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/**
 * The stateless curation operators are streaming-ready AS-IS: Mixture's
 * broadcast-threshold filter and the Chunker generator are pure per-row
 * transforms, so the exact batch code path runs under Structured Streaming
 * with no rewrite — the property that lets one curation definition serve
 * both the daily batch backfill and the live ingest tail. These specs pin
 * it: streaming output == batch output on identical data.
 */
class StreamingOpsSpec extends AnyFunSuite with SparkSuite {

  private def docs: DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select("doc_id", "source", "text")

  private def streamOf(df: DataFrame)(f: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val rows = df.select("doc_id", "source", "text").as[(Long, String, String)].collect()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    mem.addData(rows.toIndexedSeq)
    val name = s"stream_ops_${System.nanoTime()}"
    val q = f(mem.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("media decode operators run unchanged on a binary-payload stream") {
    import spark.implicits._
    // real-format payloads synthesized from the doc text (the q101/q150
    // shapes), fed as a binary column stream: the fused map-only decode
    // ops are stateless, so the identical operator code must produce the
    // identical rows under Structured Streaming — the live-ingest half of
    // the multimodal feature-extraction story.
    val payloads = docs.limit(50).collect().map { r =>
      val bytes = r.getString(2).getBytes("UTF-8")
      val samples = bytes.map(b => (((b & 0xff) - 64) * 256).toShort)
      val wav = graft.operators.MediaCodecs.encodeWavPcm16(8000, 1, samples)
      val h = math.max(1, (bytes.length + 4) / 5)
      val rgb = new Array[Byte](15 * h)
      bytes.indices.foreach { i =>
        rgb(3 * i) = bytes(i); rgb(3 * i + 1) = bytes(i); rgb(3 * i + 2) = bytes(i)
      }
      val bmp = graft.operators.MediaCodecs.encodeBmp24(5, h, rgb)
      (r.getLong(0), wav, bmp)
    }
    implicit val sqlCtx = spark.sqlContext
    def run(f: DataFrame => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val mem = MemoryStream[(Long, Array[Byte], Array[Byte])]
      mem.addData(payloads.toIndexedSeq)
      val name = s"stream_media_${System.nanoTime()}"
      val q = f(mem.toDF().toDF("doc_id", "wav", "bmp"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val batchDf = f(spark.createDataset(payloads.toIndexedSeq)
        .toDF("doc_id", "wav", "bmp"))
      (spark.table(name).collect().map(_.toSeq).toSet,
        batchDf.collect().map(_.toSeq).toSet)
    }
    val (sVad, bVad) = run(df =>
      graft.operators.Multimodal.wavVadStats(df, "doc_id", "wav", 32, 10500))
    assert(sVad === bVad && bVad.size === 50,
      "streaming VAD rows must equal batch")
    val (sHash, bHash) = run(df =>
      graft.operators.Multimodal.imageAhash(df, "doc_id", "bmp", 48))
    assert(sHash === bHash && bHash.size === 50,
      "streaming aHash rows must equal batch")
  }

  test("PNG and GIF decode operators run unchanged on a binary stream") {
    import spark.implicits._
    // this round's codecs under the same live-ingest contract: the
    // zlib-inflate PNG walk and the variable-width-LZW GIF walk are
    // per-row mapPartitions decodes with no state, so streaming rows must
    // equal batch rows byte-for-byte.
    val payloads = docs.limit(50).collect().map { r =>
      val bytes = r.getString(2).getBytes("UTF-8")
      val h = math.max(1, (bytes.length + 4) / 5)
      val rgb = new Array[Byte](15 * h)
      bytes.indices.foreach { i =>
        rgb(3 * i) = bytes(i); rgb(3 * i + 1) = bytes(i); rgb(3 * i + 2) = bytes(i)
      }
      val png = graft.operators.MediaCodecs.encodePng(5, h, 3, rgb)
      val idx = bytes.map(b => (b & 0x7f).toByte)
      val palette = Array.tabulate(128 * 3)(i => ((i / 3 * 2) & 0xff).toByte)
      val gif = graft.operators.MediaCodecs.encodeGif(
        idx.length, 1, idx, palette)
      (r.getLong(0), png, gif)
    }
    implicit val sqlCtx = spark.sqlContext
    def run(f: DataFrame => DataFrame): (Set[Seq[Any]], Set[Seq[Any]]) = {
      val mem = MemoryStream[(Long, Array[Byte], Array[Byte])]
      mem.addData(payloads.toIndexedSeq)
      val name = s"stream_media2_${System.nanoTime()}"
      val q = f(mem.toDF().toDF("doc_id", "png", "gif"))
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val batchDf = f(spark.createDataset(payloads.toIndexedSeq)
        .toDF("doc_id", "png", "gif"))
      (spark.table(name).collect().map(_.toSeq).toSet,
        batchDf.collect().map(_.toSeq).toSet)
    }
    val (sPng, bPng) = run(df =>
      graft.operators.Multimodal.pngStats(df, "doc_id", "png"))
    assert(sPng === bPng && bPng.size === 50,
      "streaming PNG stats rows must equal batch")
    val (sGif, bGif) = run(df =>
      graft.operators.Multimodal.gifStats(df, "doc_id", "gif"))
    assert(sGif === bGif && bGif.size === 50,
      "streaming GIF stats rows must equal batch")
  }

  test("Mixture.sampleByRates runs unchanged on a stream; output equals batch") {
    val rates = Map("src1" -> 0.8, "src2" -> 0.5, "src4" -> 0.0)
    def mix(df: DataFrame): DataFrame =
      graft.operators.Mixture.sampleByRates(df, "source", "doc_id", rates, 0.6, "mix1")
        .select("doc_id", "source")
    val streamed = streamOf(docs)(mix).collect().map(_.toSeq).toSet
    val batch = mix(docs).collect().map(_.toSeq).toSet
    assert(streamed === batch, "streaming keep set must equal the batch keep set")
    assert(batch.nonEmpty && batch.size < 500, "the filter must actually drop rows")
  }

  test("Chunker.slidingTokenWindows runs unchanged on a stream; output equals batch") {
    def chunk(df: DataFrame): DataFrame =
      graft.operators.Chunker.slidingTokenWindows(df, "text", 32, 16)
        .select("doc_id", "chunk_no", "start_tok", "n_tok")
    val streamed = streamOf(docs)(chunk).collect().map(_.toSeq).toSet
    val batch = chunk(docs).collect().map(_.toSeq).toSet
    assert(streamed === batch, "streaming chunks must equal batch chunks")
  }

  test("Mixture.assignSplits runs unchanged on a stream; splits equal batch") {
    val cuts = Seq("train" -> 90, "val" -> 5, "test" -> 5)
    def split(df: DataFrame): DataFrame =
      graft.operators.Mixture.assignSplits(df, "doc_id", "split1", cuts)
        .select("doc_id", "split")
    val streamed = streamOf(docs)(split).collect().map(_.toSeq).toSet
    val batch = split(docs).collect().map(_.toSeq).toSet
    assert(streamed === batch, "streaming split assignment must equal batch")
    assert(batch.size === 500, "assignment must be exhaustive")
  }

  test("CmsAgg aggregates a stream to the exact batch grid (complete mode)") {
    // sketches whose merge COMMUTES are streaming-ready as aggregates: the
    // state store keeps one grid per group and micro-batch arrival order
    // cannot change the counters. The streamed grid must be byte-identical
    // to the batch build — the live-ingest frequency monitor for free.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val keys = docs.select(col("doc_id")).as[Long].collect()
      .map(graft.operators.BloomSketch.splitmix64)
    val mem = MemoryStream[Long]
    // two separate micro-batches: the state-store merge path must engage
    mem.addData(keys.take(keys.length / 2).toIndexedSeq)
    val agg = new graft.operators.CmsAgg(256, 4)
    val name = s"cms_stream_${System.nanoTime()}"
    val q = mem.toDS().groupByKey(_ => 1).agg(agg.toColumn.name("cms"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      q.processAllAvailable()
      mem.addData(keys.drop(keys.length / 2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).select("cms").head().getAs[Array[Byte]](0)
    val batch = agg.finish(keys.foldLeft(agg.zero)(agg.reduce))
    assert(streamed.sameElements(batch),
      "streamed CMS grid must equal the batch grid byte-for-byte")
  }
}
