package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's entry point. One run: start a `local[4]` session, build the
 * workload's fixture several times (set-up time reports the median), warm
 * up, then issue operations in a closed loop for `--seconds`, checking
 * every output. With `--trace 1` it also records spans and Spark listener
 * counters and runs the layer probes. The last line of standard output is
 * the result object; the full record of the run goes to
 * `.bench_build/runs/<workload>-seed<n>-trace<t>.json`.
 *
 * {{{
 * perfbench.Main --workload bi5-scan|bi5-lookup|query-suite --seed N
 *   --seconds S --trace 0|1 [--queries stride|all|q1,q2] [--corrupt-expected 1]
 * perfbench.Main --dump-oracle FILE
 * }}}
 */
object Main {

  final val Cores = 4
  final val SetupReps = 3
  /** Stop starting new passes this long after JVM start, and abandon a
    * pass this much later, whatever the requested duration, so that a run
    * always ends well inside three minutes. */
  final val HardStopS = 110.0
  final val AbandonS = 140.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    (opts.get("dump-oracle"), opts.get("write-tree")) match {
      case (Some(out), _) =>
        Files.writeString(Paths.get(out), Json(graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)))
      case (_, Some(dir)) =>
        // the layer-probe tree and its tally, for checking with another decoder
        val t = Gen.writeTree(Paths.get(dir), opts.getOrElse("seed", "1").toLong, Layers.ProbeSpec, Cores)._1
        println(Json(Seq("rows" -> t.rows, "ts_mod" -> t.tsMod, "ask" -> t.ask, "bid" -> t.bid,
          "ask_vol16" -> t.askVol16, "bid_vol16" -> t.bidVol16, "ticker_crc" -> t.tickerCrc)))
      case _ =>
        // exit explicitly: a thread Spark leaves behind must not keep a
        // failed run alive
        val code =
          try run(opts)
          catch { case e: Throwable => e.printStackTrace(); 1 }
        System.exit(code)
    }
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toVector
      all.reverse.foreach(Files.deleteIfExists)
    }

  def run(opts: Map[String, String]): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val buildDir = Paths.get(".bench_build").toAbsolutePath
    val work = buildDir.resolve(s"work/$workload-${ProcessHandle.current().pid()}")
    deleteTree(work)
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val wl = Workloads(workload, opts)
      val fixtureS = (1 to SetupReps).map { i =>
        val dir = work.resolve(s"fixture$i")
        val t0 = System.nanoTime()
        wl.build(dir, seed)
        (System.nanoTime() - t0) / 1e9
      }
      (1 until SetupReps).foreach(i => deleteTree(work.resolve(s"fixture$i")))
      val tw = System.nanoTime()
      wl.warmUp(spark)
      val warmS = (System.nanoTime() - tw) / 1e9
      val setupS = sessionS + Stats.median(fixtureS) + warmS

      val tracer = new Tracer(traced)
      val listener = new Listener(tracer)
      if (traced) spark.sparkContext.addSparkListener(listener)
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

      // the closed loop: one operation at a time, stopping between passes
      val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
      val ops = wl.ops(seed)
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
      def more: Boolean =
        if (results.size % wl.passSize != 0) sinceStart < AbandonS
        else sinceStart < HardStopS &&
          (elapsed < seconds || results.size < wl.minPasses * wl.passSize)
      while (more) results += Runner.run(spark, tracer, results.size + 1L, ops.next())
      val loopS = elapsed
      if (traced) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1e6

      val checks = wl.finalChecks.zipWithIndex.map { case (op, i) =>
        Runner.run(spark, new Tracer(false), -1L - i, op)
      }
      val failures = (results ++ checks).filter(_.error.nonEmpty)
      failures.foreach(f => println(s"FAILED ${f.label}: ${f.error.get}"))

      // a failed operation counts as taking the whole measuring window
      val lat = results.map(r => if (r.error.isEmpty) r.wallS else math.max(seconds, r.wallS)).toSeq
      val e2e = Seq(
        "setup_s" -> ("s", setupS),
        "op_p50_s" -> ("s", Stats.median(lat)),
        "op_p90_s" -> ("s", Stats.percentile(lat, 90)),
        "op_mean_s" -> ("s", Stats.mean(lat)))

      val layer: Seq[(String, (String, Double))] =
        if (!traced) Nil
        else {
          LayerReport(spark, wl, seed, work, results.toSeq, listener, tracer, heapPeakMb,
            buildDir.resolve("runs"))
        }

      val record = Seq(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "cores" -> Cores,
        "setup" -> Seq("session_s" -> sessionS, "fixture_s" -> fixtureS, "warmup_s" -> warmS),
        "loop_s" -> loopS,
        "ops" -> results.size,
        "samples_beyond_p90" -> Stats.beyond(lat.size, 90),
        "failures" -> failures.map(f => Seq("op" -> f.label, "error" -> f.error.get)),
        "metrics" -> metricsJson(e2e ++ layer),
        "per_label" -> perLabel(results.toSeq, seed, wl.passSize),
        "op_log" -> results.map(r => Seq("id" -> r.id, "op" -> r.label, "wall_s" -> r.wallS,
          "plan_s" -> r.planS, "exec_s" -> r.execS, "rows" -> r.rows,
          "partitions" -> r.partitions, "error" -> r.error,
          "spark" -> (if (traced) counters(listener.forOp(r.id)) else Nil))),
        // every span of the traced run, times in ms from the first one
        "spans" -> {
          val spans = tracer.spans
          val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
          spans.sortBy(_.startNs).map(sp => Seq("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op,
            "name" -> sp.name, "start_ms" -> (sp.startNs - t0) / 1e6, "dur_ms" -> sp.durNs / 1e6))
        })
      val runs = Files.createDirectories(buildDir.resolve("runs"))
      Files.writeString(runs.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
        Json(record))

      println(Json(Seq(
        "correct" -> failures.isEmpty,
        "attempted" -> (results.size + checks.size),
        "failed" -> failures.size,
        "metrics" -> metricsJson(if (traced) layer else e2e))))
      0
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  /** Per operation label (per query on the suite): every sample with its
    * pass index, and the min, median and max, for the noise record. */
  private def perLabel(results: Seq[OpResult], seed: Long, passSize: Int): Seq[(String, Any)] =
    results.zipWithIndex.groupBy(_._1.label).toSeq.sortBy(_._1).map { case (label, rs) =>
      val ok = rs.filter(_._1.error.isEmpty)
      val walls = ok.map(_._1.wallS)
      label -> (Seq("n" -> rs.size, "failed" -> (rs.size - ok.size), "seed" -> seed) ++
        (if (walls.isEmpty) Nil
         else Seq("min_s" -> walls.min, "median_s" -> Stats.median(walls), "max_s" -> walls.max,
           "samples" -> ok.map { case (r, i) => Seq("pass" -> i / passSize, "wall_s" -> r.wallS) })))
    }

  private def metricsJson(ms: Seq[(String, (String, Double))]): Seq[(String, Any)] =
    ms.map { case (k, (unit, v)) => k -> Seq("value" -> v, "unit" -> unit) }

  def counters(c: OpCounters): Seq[(String, Any)] = Seq(
    "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
    "shuffle_read_bytes" -> c.shuffleReadBytes, "shuffle_write_bytes" -> c.shuffleWriteBytes,
    "spill_bytes" -> c.spillBytes)
}
