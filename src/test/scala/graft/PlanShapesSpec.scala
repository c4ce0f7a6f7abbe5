package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FilterExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.bi5.Bi5TreeFixture

/**
 * Locks the SCALE-critical physical-plan shapes: these assertions fail if a
 * future edit silently turns a broadcast join into a shuffle join, drops a
 * pushed filter, or degrades top-k into a global sort. The plan text is the
 * same evidence `.explain("formatted")` shows a user.
 */
class PlanShapesSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("star join broadcasts the dimension sides (q03)") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(25).mkString("\n"))
  }

  test("filter and projection reach the parquet scan (q02)") {
    val p = plan("q02_filter_project")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") && p.contains("PushedFilters:"),
      "filter not pushed to parquet:\n" + p)
    // pruned read schema: only the referenced columns are scanned
    assert(!p.contains("l_comment") && !p.contains("l_tax"))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort (q17)") {
    val p = plan("q17_global_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("aggregations are partial+final (map-side combine) (q01)") {
    val p = plan("q01_pricing_summary")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate pair:\n$p")
  }

  test("whole-stage codegen covers the scan->filter->project pipeline (q02)") {
    // AQE hides codegen spans until the plan is final — execute first
    val df = SparkEntry.queries("q02_filter_project")(spark, Sf)
    df.collect()
    // formatted mode stars codegen'd operators: "* Filter", "* Project"
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("* Filter") && p.contains("* Project"), p)
  }

  test("as-of join is one window pass, not a join+rank blowup (q08)") {
    val p = plan("q08_asof_last_order")
    assert(p.contains("Window"), p)
    // the scalable spelling has NO join between orders and events (only the
    // tiny broadcast of the max-user scalar) and no row_number ranking
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("row_number"), p)
  }

  test("salted join spreads the key space (q46): join key includes the salt") {
    val p = plan("q46_salted_join")
    assert(p.contains("salt"), p)
  }

  test("IVF search routes probes through an equi-join, no corpus broadcast (q54)") {
    val p = plan("q54_ivf_search")
    // centroid assignment: the 8-row centroid table broadcasts
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // probe-candidate search: an equi-join keyed on cluster_id, never a
    // cartesian product over the corpus
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hard-negative mining broadcasts the bounded probe set (q153)") {
    val p = plan("q153_hard_negatives")
    // the constant 30-probe side must broadcast against the corpus scan;
    // a shuffle or cartesian here reverts the mine to O(n^2) movement
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q85 composed IVF+SQ8 search stays equi-joined with no cartesian blowup") {
    val p = plan("q85_ivf_sq8_search")
    // same routing contract as q54, now over the quantized corpus: the
    // probe-candidate pairing must key on cluster_id, never a product
    assert(!p.contains("CartesianProduct"), p)
    // the full-precision embedding column must not reach the search join:
    // only code arrays move past quantization (4x the memory headroom)
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty && !joinLines.exists(_.contains("embedding#")),
      s"full-precision vectors leaked into the search join:\n${joinLines.mkString("\n")}")
  }

  test("q48 stop-shingle cutoff is a broadcast anti-join, not a second shuffle") {
    val p = plan("q48_shingle_pairs")
    // the hot-shingle removal must ride a broadcast (tiny hot set), keeping
    // the posting lists from shuffling twice
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // df computation is an aggregation (map-side combinable), not a window
    // over shingle partitions (which would single-task the hottest shingle)
    val aggCount = p.linesIterator.count(_.contains("HashAggregate"))
    assert(aggCount >= 2, p)
  }

  test("q56 decontamination screens via a broadcast join, no corpus shuffle join") {
    val p = plan("q56_decontam")
    // the eval shingle set must ride a broadcast; a shuffled join here would
    // move the whole exploded corpus for a set that fits in one executor
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q55 repetition is map-only up to its final sort (no shuffle aggregation)") {
    val p = plan("q55_repetition")
    // per-doc metrics derive from the row's own array: no HashAggregate, no
    // join — just scan -> project -> sort for the deterministic output order
    assert(!p.linesIterator.exists(l => l.contains("HashAggregate") || l.contains("Join")), p)
  }

  test("q43 ranks in bounded (segment, bucket) sorts, not one task per segment") {
    val p = plan("q43_rank_distribution")
    // the data-sized ranking window must be keyed by (segment, bucket) so no
    // task sorts more than ~rows/nBuckets rows; a spec of c_mktsegment alone
    // would single-task each of the 5 segments at scale
    val rankingWindows = p.linesIterator
      .filter(l => l.contains("row_number") && l.contains("windowspecdefinition")).toList
    assert(rankingWindows.nonEmpty && rankingWindows.forall(_.contains("bucket")),
      s"ranking window not bucket-bounded:\n$p")
    // the boundary sketch is localCheckpointed (it runs once, in its own
    // job, so approx_percentile no longer appears in THIS plan — the
    // checkpointed frame scans as an ExistingRDD); the offset/boundary
    // frames ride broadcasts, never a shuffle join
    assert(p.contains("ExistingRDD") || p.contains("LocalTableScan"), p)
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"), p)
  }

  test("q58 headline aggregate carries a bounded-memory sketch and broadcasts brackets") {
    val p = plan("q58_approx_percentiles")
    // the scale path: approx_percentile's fixed-size sketch buffer must be in
    // the plan (ObjectHashAggregate is the sketch-aggregate operator) ...
    assert(p.contains("approx_percentile"), p)
    // ... and the exact-bracket validator joins in as a 3-row broadcast, not
    // a shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q64 EXISTS/NOT EXISTS rewrite to semi and anti hash joins") {
    val p = plan("q64_exists_subqueries")
    // Catalyst must turn the correlated subqueries into set-membership
    // joins — a per-outer-row subquery execution would be quadratic
    assert(p.contains("LeftSemi"), s"EXISTS did not become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not become an anti join:\n$p")
  }

  test("q66 pushes the row filter beneath the generator into the scan") {
    val p = plan("q66_lateral_words")
    // posexplode must not inflate unfiltered rows: doc_id < 40 reaches the
    // parquet scan, and only (doc_id, text) are read
    assert(p.contains("LessThan(doc_id,40)"), s"filter not pushed:\n$p")
    assert(p.contains("Generate"), p)
    assert(!p.contains("n_chars") && !p.contains("lang"), "unused columns scanned:\n" + p)
  }

  test("q70 bottom-k sample plans as TakeOrderedAndProject, never a global sort") {
    val p = plan("q70_bottomk_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q69 bloom screen broadcasts sketch + eval set, corpus never shuffle-joins") {
    val p = plan("q69_bloom_decontam")
    // the bloom (1 row) and the exact-anchor eval set ride broadcasts; the
    // only shuffle the corpus pays is its own doc_id aggregation
    assert(p.contains("bloommightcontain") || p.contains("BloomMightContain"),
      s"bloom probe missing from plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffle-join crept in:\n$p")
  }

  test("q76 grid fill: one data shuffle, key-partitioned windows only") {
    val p = SparkEntry.queries("q76_grid_ffill")(spark, Sf)
      .queryExecution.executedPlan.toString
    // executedPlan prints `Window [exprs], [partSpec], [orderSpec]`; a
    // global window drops the partition-spec group (two bracket groups
    // only) and would funnel the whole grid through one task
    val globals = p.linesIterator.filter(_.contains("Window ["))
      .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
    assert(globals.isEmpty, s"global window crept in:\n${globals.mkString("\n")}")
    // gaps-and-islands fill: election agg, lead window, and generate all
    // reuse the single up-front key repartition — no join, no re-exchange
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.size == 1,
      s"expected the single key repartition, got ${shuffles.size}:\n${shuffles.mkString("\n")}")
    assert(!p.contains("Join"), s"the fill must not join:\n$p")
  }

  test("q82 fingerprint pays exactly one data shuffle (the source aggregation)") {
    val p = SparkEntry.queries("q82_dataset_fingerprint")(spark, Sf)
      .queryExecution.executedPlan.toString
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.size == 1,
      s"expected the single groupBy(source) exchange, got ${shuffles.size}:\n$p")
  }

  test("q83 budget selection never runs a global window over document rows") {
    val p = SparkEntry.queries("q83_token_budget")(spark, Sf)
      .queryExecution.executedPlan.toString
    val globals = p.linesIterator.filter(_.contains("Window ["))
      .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
    // the only global window allowed is Packer's tiny nBuckets-row
    // aggregate frame (it sums the aggregated b_tot, not document tokens)
    assert(globals.forall(_.contains("b_tot#")),
      s"a data-sized global window crept in:\n${globals.mkString("\n")}")
  }

  test("q99 fusion rankers run two-phase: no data-sized global window") {
    // both rankings route through GlobalRank (constant segment); a bare
    // row_number() over (order by ...) here would single-task each
    // corpus-sized ranker
    val p = SparkEntry.queries("q99_hybrid_rrf")(spark, Sf)
      .queryExecution.executedPlan.toString
    val globals = p.linesIterator.filter(_.contains("Window ["))
      .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
    // the constant segment folds away, so GlobalRank's offsets window over
    // the tiny (nBuckets-row) COUNTS aggregate prints as global — that one
    // is the allowed q83-style aggregate frame; anything ranking document
    // rows (row_number over doc-sized input) must not appear
    assert(globals.forall(_.contains("sum(cnt#")),
      s"a data-sized global window crept back in:\n${globals.mkString("\n")}")
  }

  test("q103 re-rank joins full-precision vectors by broadcast, never cartesian") {
    val p = SparkEntry.queries("q103_ivf_rerank")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the candidate list (probes x 10) broadcasts into the corpus-side
    // hash join; the corpus itself must never be the broadcast side of
    // a nested-loop product
    assert(p.contains("BroadcastHashJoin"), s"re-rank join degraded:\n$p")
  }

  test("q105/q106 token-model packers keep Packer's bucket discipline") {
    Seq("q105_pack_bytes", "q106_bpeish_budget").foreach { name =>
      val p = SparkEntry.queries(name)(spark, Sf)
        .queryExecution.executedPlan.toString
      val globals = p.linesIterator.filter(_.contains("Window ["))
        .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
      assert(globals.forall(_.contains("b_tot#")),
        s"$name: a data-sized global window crept in:\n${globals.mkString("\n")}")
    }
  }

  test("q108 semantic-dedup pairs equi-join on cluster_id, never cartesian") {
    val p = SparkEntry.queries("q108_semdedup")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the pair join must be keyed (hash-partitionable at any corpus size);
    // only the tiny centroid attach may nested-loop via broadcast
    assert(p.contains("cluster_id"), s"pair join lost its cluster key:\n$p")
  }

  test("q110 epoch shuffle ranks two-phase: no data-sized global window") {
    val p = SparkEntry.queries("q110_epoch_shuffle")(spark, Sf)
      .queryExecution.executedPlan.toString
    val globals = p.linesIterator.filter(_.contains("Window ["))
      .filter(l => "\\], \\[[^\\]]*\\], \\[".r.findFirstIn(l).isEmpty).toSeq
    // GlobalRank's offsets window over the tiny counts aggregate is the
    // only allowed global frame (the q99 rule)
    assert(globals.forall(_.contains("sum(cnt#")),
      s"a data-sized global window crept in:\n${globals.mkString("\n")}")
  }

  test("q111 temperature mixture broadcasts thresholds, never cartesian") {
    val p = SparkEntry.queries("q111_temperature_mixture")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"threshold join degraded:\n$p")
  }

  test("q112 BPE pair counts: pair explosion runs over the distinct-word aggregate") {
    val df = SparkEntry.queries("q112_bpe_pair_counts")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the pair explode must consume the word-count AGGREGATE, not the
    // corpus-sized token stream: in the top-down plan print, a
    // HashAggregate must appear BELOW the substring-Generate (its input)
    val lines = p.linesIterator.toSeq
    val genIdx = lines.indexWhere(l => l.contains("Generate") && l.contains("substring"))
    assert(genIdx >= 0, s"pair explode missing:\n$p")
    val aggBelow = lines.indexWhere(_.contains("HashAggregate"), genIdx)
    assert(aggBelow > genIdx,
      s"pair explode must consume the word-count aggregate, not raw tokens:\n$p")
  }

  test("q116 weighted sample plans as TakeOrderedAndProject, not a global sort") {
    val p = SparkEntry.queries("q116_weighted_sample")(spark, Sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted bottom-k degraded to a global sort:\n$p")
  }

  test("no query plans an unpartitioned window over non-aggregate data (all queries)") {
    // The library-wide version of the q83/q99/q110 locks: an unpartitioned
    // window funnels its whole input through ONE task, which is fatal at
    // corpus scale. A window is global when windowspecdefinition lists no
    // partition column — either nothing before the frame (unordered) or
    // only ASC/DESC-marked order columns. The ONLY allowed global frames
    // are the tiny aggregate inputs: GlobalRank/Packer offset sums over
    // their nBuckets-row counts (sum(cnt#/b_tot#), the n_seg total, and
    // Mixture.waterfillAllocations' prefix/total sums over its
    // sources-sized per-source frame (reserved aliases cumw/cumcap/totw/
    // satcap/unsatw — the corpus never enters that operator).
    // This audit caught q69's corpus-sized Window.partitionBy() in round 5.
    // cusum_t/cusum_ps: q257's rank + prefix sum over the pooled MONTHLY
    // aggregate (~80 rows at any corpus size — the frame is bounded by the
    // calendar, not the data)
    // cum_tr/cum_nn: q283's prefix sums over the per-MILLION-quantized
    // distinct-score AGGREGATE (<= 10^6 rows by quantization — bounded by
    // the score codomain, not the corpus; replaced the r9-flagged
    // O(frame^2) theta self-joins)
    val allowed = Seq("sum(cnt#", "sum(b_tot#",
      "AS cumw#", "AS cumcap#", "AS totw#", "AS satcap#", "AS unsatw#",
      "AS cusum_t#", "AS cusum_ps#", "AS cum_tr#", "AS cum_nn#")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, Sf).queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("windowspecdefinition(")).flatMap { line =>
        val spec = line.substring(line.indexOf("windowspecdefinition(") + "windowspecdefinition(".length)
        val frameIdx = spec.indexOf("specifiedwindowframe")
        val beforeFrame = (if (frameIdx >= 0) spec.substring(0, frameIdx) else spec)
          .split(",").map(_.trim).filter(_.nonEmpty)
        val partitionCols = beforeFrame.filterNot(c => c.contains(" ASC") || c.contains(" DESC"))
        val isGlobal = partitionCols.isEmpty
        if (isGlobal && !allowed.exists(line.contains))
          Some(s"$name: ${line.trim.take(140)}")
        else None
      }.toSeq.distinct
    }
    assert(offenders.isEmpty,
      s"data-sized global windows (single-task at scale):\n${offenders.mkString("\n")}")
  }

  test("no query plans a CartesianProduct (all queries)") {
    // BroadcastNestedLoopJoin over a broadcast 1-row/tiny aggregate is the
    // library's scalar broadcast-back idiom and is allowed; a true
    // CartesianProduct (both sides partitioned, full pairwise shuffle) is
    // never acceptable at corpus scale
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, Sf).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning a CartesianProduct: ${offenders.mkString(", ")}")
  }

  test("q170 2-core peeling rounds plan as semi-joins, not inner re-joins") {
    // each peel round must restrict edges via LeftSemi against the alive
    // set: an inner join would duplicate edges per matching alive row
    val p = plan("q170_dup_kcore")
    assert(p.contains("LeftSemi"), s"no semi-join in the peeling rounds:\n$p")
  }

  test("q178 Q21-shape correlation plans as semi+anti self-joins, supplier broadcast") {
    // the EXISTS and NOT-EXISTS correlated predicates must become one
    // LeftSemi and one LeftAnti join of the fact with itself on the order
    // key (no per-row subquery execution); the supplier dim must broadcast
    val p = plan("q178_waiting_suppliers")
    assert(p.contains("LeftSemi"), s"EXISTS did not plan as a semi-join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS did not plan as an anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"supplier dim not broadcast:\n$p")
  }

  test("q179 Q2-shape decorrelation: per-part min joined back, dims broadcast, no cartesian") {
    val p = plan("q179_min_cost_supplier")
    // the correlated scalar subquery must NOT appear as a subquery node —
    // it is decorrelated by construction into an aggregate + equi-join
    assert(!p.contains("Subquery"), s"unexpected subquery execution:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in min-cost join:\n$p")
  }

  test("q172 image near-dup cuts hot buckets via broadcast anti-join") {
    // the stop-bucket cutoff must ride a broadcast anti-join (hot set is
    // tiny by construction); the candidate self-join stays an equi-join
    // on (band_no, band_val) — never a forced broadcast of the corpus side
    val p = plan("q172_image_neardup")
    assert(p.contains("LeftAnti"), s"no anti-join hot-bucket cutoff:\n$p")
    val antiIsBroadcast = p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(antiIsBroadcast, s"hot-bucket anti-join is not broadcast:\n$p")
  }

  test("q167 sketch pair matrix runs over aggregated frames, corpus never pairwise") {
    // the inequality pair join must be a BroadcastNestedLoopJoin over the
    // per-source sketch AGGREGATE (sources-sized), with the corpus touched
    // only below aggregates; partial+final hll_sketch_agg proves map-side
    // sketch combining
    val p = plan("q167_hll_overlap")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pair matrix should be a tiny-frame BNLJ:\n$p")
    assert(p.contains("hll_sketch_agg"), s"no HLL partial aggregate:\n$p")
  }

  test("bi5 scan prunes columns and pushes ticker/ts filters") {
    val fixtures = "/root/reference/spark-2.4/src/test/resources"
    val df = spark.read.format("bi5").option("digits", 5).load(s"$fixtures/EURUSD")
      .filter("ticker = 'EURUSD'")
      .select("ts", "ask")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BatchScan bi5"), p)
    assert(p.contains("pushed=[EqualTo(ticker,EURUSD)]"), p)
    // pruned output: volumes not materialized by the scan
    assert(!p.contains("ask_volume"), p)
  }

  test("bi5 scan on a generated tree: pruned columns, pushed filters, no Filter for ticker/ts") {
    val root = java.nio.file.Files.createTempDirectory("bi5plans")
    try {
      for (t <- Seq("EURUSD", "GBPUSD"); d <- 1 to 2; h <- 0 to 3)
        Bi5TreeFixture.putHour(root, s"$t/2020/0/$d/${h}h_ticks.bi5", d * 10 + h)
      def load = spark.read.format("bi5").option("digits", 5).load(root.toString)
      def formatted(df: DataFrame) = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      def filteredScans(df: DataFrame) = df.queryExecution.sparkPlan.collect {
        case f: FilterExec if f.exists(_.isInstanceOf[BatchScanExec]) => f
      }
      // the reference-fixture test's assertions, on the generated tree
      val p = formatted(load.filter("ticker = 'EURUSD'").select("ts", "ask"))
      assert(p.contains("BatchScan bi5"), p)
      assert(p.contains("pushed=[EqualTo(ticker,EURUSD)]"), p)
      assert(!p.contains("ask_volume"), p)
      // a ticker/ts read: every filter is pushed and none is left to Spark
      def lookup(minute: Int) = load.where("ticker = 'EURUSD' AND " +
        f"ts >= timestamp'2020-01-01 00:$minute%02d:00' AND ts < timestamp'2020-01-01 02:$minute%02d:00'")
      val lp = formatted(lookup(10))
      assert(lp.contains("pushed=[EqualTo(ticker,EURUSD), GreaterThanOrEqual(ts,") &&
        lp.contains("LessThan(ts,"), lp)
      assert(filteredScans(lookup(10)).isEmpty, lp)
      val either = load.where("ticker IN ('EURUSD', 'GBPUSD') OR ts = timestamp'2020-01-01 00:30:00'")
      assert(filteredScans(either).isEmpty, formatted(either))
      // what the source cannot evaluate stays with Spark
      for (residual <- Seq("ask > 1", "ticker LIKE 'EUR%'", "ticker = 'X' OR ask > 1")) {
        val df = load.where(residual)
        assert(formatted(df).contains("pushed=[]"), formatted(df))
        assert(filteredScans(df).nonEmpty, s"$residual:\n${formatted(df)}")
      }
      // a new window is no new generated code: the plan carries no literal
      assert(lookup(0).collect().length === 6)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (minute <- 1 to 20) assert(lookup(minute).collect().length === 6)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
    } finally Bi5TreeFixture.deleteTree(root)
  }

  test("q92 flagged-shingle join is never FORCED to broadcast") {
    // the flagged set grows with the corpus, so it must not carry a
    // broadcast HINT: Catalyst may still broadcast it at tiny SFs from
    // size stats (correct — and at 100 TB the same stats flip it to a
    // shuffle join). Lock the degradation: with the threshold disabled
    // the plan must fall back to a hash-partitioned join, which a forced
    // broadcast() would not.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan("q92_dup_spans")
      assert(!p.contains("BroadcastHashJoin"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("q94 BM25 broadcasts the query-term side, corpus joins stay hash-local") {
    val p = plan("q94_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    // ranking is top-k, not a global sort of all scored docs
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q95 snapshot diff shuffles narrow fingerprints, no payload broadcast") {
    val p = plan("q95_snapshot_diff")
    // both sides are corpus-sized: the full-outer join must be a shuffle
    // join over the (key, fingerprint) projection
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("FullOuter") || p.contains("full_outer") || p.contains("FULL OUTER"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("runtime bloom-filter injection engages on a selective dim-filtered join") {
    // the 100 TB shuffle saver Spark gives for free WHEN the plan is
    // declarative: a selective filter on one join side materializes a
    // bloom of its join keys, and the OTHER side's scan drops non-matching
    // rows BEFORE the shuffle. Locked here (thresholds floored — the test
    // tables are far below the 10 GB production default) so a future
    // query-library edit that breaks the equi-join shape Catalyst needs
    // (e.g. wrapping the key in a non-pushable expression) fails loudly.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$Sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$Sf/orders.parquet")
        .filter("o_orderstatus = 'F' and o_totalprice > 200000")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n$p")
    }
  }

  test("spatial pairs joins on exact grid cells, never a cartesian (q202)") {
    val p = plan("q202_spatial_pairs")
    // the 3x3 neighborhood explode turns the distance predicate into an
    // equi-join on (jcx, jcy); a CartesianProduct/BNLJ here would be the
    // all-pairs disaster the grid exists to prevent
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("AUC cumulative term stays on the tiny broadcast self-join (q190)") {
    val p = plan("q190_dup_auc")
    // the <= 1001-row score frame's theta self-join must be the broadcast
    // nested loop (bounded by construction), NOT a single-task window
    assert(!p.contains("row_number"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("RFM quintiles rank via GlobalRank buckets, no global window (q196)") {
    val p = plan("q196_rfm_segments")
    // every row_number in the plan must be partitioned (GlobalRank's
    // bucket-local ranks); an unpartitioned window would funnel the
    // users frame through one task
    val windows = p.linesIterator.filter(_.contains("row_number")).toSeq
    assert(windows.nonEmpty, p)
    // GlobalRank's local windows sort within (seg, bucket): the
    // partition spec appears in the same Arguments line
    assert(p.contains("bucket"), p)
  }

  test("phrase search touches only term postings via broadcast terms (q207)") {
    val p = plan("q207_phrase_search")
    // each posting leg is filtered by a BROADCAST of the 1-row phrase
    // before the (doc, pos) chain joins — the corpus-sized side never
    // shuffles against an unfiltered corpus-sized side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("market-basket pair join is order-keyed, support joins equi (q201)") {
    val p = plan("q201_market_basket")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row order-total broadcast-back
    // (scalar Cross BuildRight); the pair/support joins are all equi.
    // Filter to TREE lines ("- " prefix): the formatted details section
    // repeats bare operator names without the join type.
    val bnlj = p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") && l.contains("- ")).toSeq
    assert(bnlj.forall(_.contains("Cross BuildRight")), p)
    assert(bnlj.size <= 1, p)
    // top-20 by lift must not globally sort the pair frame
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  // ------------------------------------------------------------ SortOut (r11)

  test("sortedOut returns exactly orderBy's rows in orderBy's order") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000)
      .select((col("id") * 37 % 101).as("k"), col("id").as("v"))
    val plain = df.orderBy("k", "v").collect().toSeq
    val once = graft.queries.SortOut.sortedOut(df, "k", "v").collect().toSeq
    assert(once == plain)
    val desc = df.orderBy(col("k").desc, col("v")).collect().toSeq
    val onceDesc = graft.queries.SortOut
      .sortedOut(df, Seq(col("k"), col("v")), Seq(col("k").desc, col("v")))
      .collect().toSeq
    assert(onceDesc == desc)
  }

  test("map-only decode computes once: hash exchange below the final sort (q282)") {
    // A bare orderBy over an unshuffled child plans Sort <- Exchange(range)
    // whose range sampling re-executes the whole decode chain; the
    // interposed hash exchange makes the sampler re-read shuffle files
    // instead (measured 9.8 s -> 5.4 s at sf0.1). Lock the shape.
    val p = plan("q282_jpeg_stats")
    assert(p.contains("hashpartitioning"), p)
    assert(p.contains("rangepartitioning"), p)
  }
}
