package perfbench

import java.io.{BufferedInputStream, FileInputStream}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Filter => PlanFilter}
import org.apache.spark.sql.connector.read.SupportsPushDownFilters
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, PushDownUtils}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.storage.StorageLevel
import org.tukaani.xz.LZMAInputStream

import graft.sources.bi5._

/**
 * Layer probes: each one times calls into a single layer's public
 * functions, from outside, on a fixed-size input made from the seed. The
 * traced run of every workload runs all of them, so each layer number can
 * be compared across workloads and commits.
 */
object Layers {

  /** One ticker-day of large hour files: 24 files, 120k ticks. */
  val ProbeSpec: TreeSpec = TreeSpec(Seq("EURUSD"), Workloads.FirstDay, days = 1, ticksPerFile = 5000)

  private final val Reps = 3

  /** Median seconds of `Reps` calls of `body`, with the last call's value. */
  private def timed[T](body: => T): (Double, T) = {
    var last: T = null.asInstanceOf[T]
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      last = body
      (System.nanoTime() - t0) / 1e9
    }
    (Stats.median(ts), last)
  }

  private def open(f: Path) =
    new LZMAInputStream(new BufferedInputStream(new FileInputStream(f.toFile), 1 << 16))

  /** bi5 decode layers over the probe tree. */
  def bi5(root: Path, expectRows: Long): Map[String, Double] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".bi5")).toVector.sortBy(_.toString)
    val (floorS, bytes) = timed {
      val buf = new Array[Byte](1 << 16)
      files.map { f =>
        val in = open(f)
        try {
          var n = 0L
          var r = 0
          while ({ r = in.read(buf); r > 0 }) n += r
          n
        } finally in.close()
      }.sum
    }
    val (codecS, codecRows) = timed {
      files.map { f =>
        val in = open(f)
        try {
          var n = 0L
          Bi5Codec.ticks(in).foreach(_ => n += 1)
          n
        } finally in.close()
      }.sum
    }
    val opts = Bi5Options.from(Map("path" -> root.toString, "digits" -> "5").get)
    val store = Bi5Store.forPath(root.toString)
    val partitions = store.children(root.toString).map(c => Bi5Partition(Array(c.path), walk = true))
    val (colS, colRows) = timed {
      partitions.map { p =>
        val r = new Bi5ColumnarReader(p, opts, Bi5Schema.schema, Array.empty, store)
        try {
          var n = 0L
          while (r.next()) n += r.get().numRows()
          n
        } finally r.close()
      }.sum
    }
    val (rowS, rowRows) = timed {
      partitions.map { p =>
        val r = new Bi5PartitionReader(p, opts, Bi5Schema.schema, Array.empty, store)
        try {
          var n = 0L
          while (r.next()) { r.get(); n += 1 }
          n
        } finally r.close()
      }.sum
    }
    Seq(codecRows, colRows, rowRows).foreach { n =>
      require(n == expectRows, s"probe decoded $n rows, expected $expectRows")
    }
    Map(
      "bi5.lzma_floor_mb_s" -> bytes / 1e6 / floorS,
      "bi5.codec_mrows_per_s" -> codecRows / 1e6 / codecS,
      "bi5.codec_over_floor" -> codecS / floorS,
      "bi5.columnar_mrows_per_s" -> colRows / 1e6 / colS,
      "bi5.row_mrows_per_s" -> rowRows / 1e6 / rowS)
  }

  /** `Bi5Store.listBi5Files` over a tree: median seconds and files found. */
  def listing(root: Path): (Double, Int) = {
    val store = Bi5Store.forPath(root.toString)
    val (s, files) = timed(store.listBi5Files(root.toString).size)
    (s, files)
  }

  /** Files the pruner admits under each filter set, over all files listed
    * for those sets. */
  def pruneKeep(root: Path, filterSets: Seq[Array[Filter]]): Double = {
    val files = Bi5Store.forPath(root.toString).listBi5Files(root.toString).map(_._1)
    val kept = filterSets.map(fs => files.count(f => Bi5FilePruner.mayMatch(f, 0, fs))).sum
    kept.toDouble / math.max(1, files.size * filterSets.size)
  }

  /** The filters the library accepts for each bi5 scan of an analyzed
    * plan: the conditions Spark filters the relation with, translated and
    * offered the way Spark's optimizer offers them
    * (`PushDownUtils.pushFilters`) to a fresh scan builder from the table
    * itself, and read back with `pushedFilters`. A scan with no filter
    * above it yields an empty set. */
  def pushedBi5Filters(plan: LogicalPlan): Seq[Array[Filter]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val conditions = plan.collect { case PlanFilter(c, r: DataSourceV2Relation) => (r, c) }
    plan.collect {
      case r: DataSourceV2Relation if r.table.isInstanceOf[Bi5Table] =>
        val builder = r.table.asInstanceOf[Bi5Table].newScanBuilder(r.options)
        PushDownUtils.pushFilters(builder, conditions.collect { case (s, c) if s eq r => conjuncts(c) }.flatten)
        builder match {
          case b: SupportsPushDownFilters => b.pushedFilters()
          case _ => Array.empty[Filter]
        }
    }
  }

  /**
   * Native SQL functions against their interpreted spellings, over cached
   * copies of the bundled `embeddings` and `documents` tables. Each figure
   * is the median time of the function's query minus that of the same
   * query with a trivial expression, per row.
   */
  def functions(spark: SparkSession, sfDir: String): Map[String, Double] = {
    graft.functions.VectorExpressions.register(spark)
    graft.functions.TextExpressions.register(spark)
    graft.functions.BpeIntExpressions.register(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .selectExpr("embedding AS a", "reverse(embedding) AS b")
      // 200k rows: enough that the native vec_dot, at a few hundred ns a
      // row, stands well clear of the per-query overhead it is net of
      .crossJoin(spark.range(400)).select("a", "b").persist(StorageLevel.MEMORY_ONLY)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("text", "split(text, ' ') AS toks")
      .selectExpr("text", "toks", "word_ngram_hash48(toks, 1) AS hs")
      .crossJoin(spark.range(10)).select("text", "toks", "hs").persist(StorageLevel.MEMORY_ONLY)
    try {
      /** ns per row of `expr` over `df`, net of the query with `base`. */
      def perRow(df: org.apache.spark.sql.DataFrame, base: String): String => Double = {
        val rows = df.count()
        def run(e: String) = timed(df.selectExpr(s"sum($e)").collect()(0).get(0))._1
        val baseS = run(base)
        expr => math.max(0.0, (run(expr) - baseS) / rows * 1e9)
      }
      val onEmb = perRow(emb, "size(a)")
      val onDocs = perRow(docs, "size(toks)")
      val spec = bpeSpec(docs.limit(500).collect().map(_.getString(0)).toSeq)
      Map(
        "fn.vec_dot_ns_per_row" -> onEmb("vec_dot(a, b)"),
        "fn.vec_dot_interp_ns_per_row" ->
          onEmb("aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"),
        "fn.word_ngrams_ns_per_row" -> onDocs("size(word_ngrams(toks, 3))"),
        "fn.word_ngrams_interp_ns_per_row" -> onDocs(
          "size(if(size(toks) >= 3, transform(sequence(1, size(toks) - 2), " +
            "i -> concat_ws(' ', slice(toks, i, 3))), array()))"),
        "fn.simhash_bits_ns_per_row" -> onDocs("simhash_bits(hs, 64) & 1"),
        "fn.bpe_encode_ns_per_row" -> onDocs(s"size(bpe_encode(text, '$spec'))"))
    } finally {
      emb.unpersist()
      docs.unpersist()
    }
  }

  /** A 64-merge `bpe_encode` spec: the most frequent adjacent code-point
    * pairs of the corpus, in frequency order. */
  def bpeSpec(texts: Seq[String]): String = {
    val counts = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    texts.filter(_ != null).foreach { t =>
      val cps = t.codePoints().toArray
      cps.indices.drop(1).foreach(i => counts((cps(i - 1), cps(i))) = counts.getOrElse((cps(i - 1), cps(i)), 0) + 1)
    }
    counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(64)
      .map { case ((a, b), _) => s"$a:$b" }.mkString(";")
  }
}
