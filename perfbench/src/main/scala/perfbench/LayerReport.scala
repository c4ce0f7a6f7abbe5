package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The per-layer metrics of a traced run, each with its unit. */
object LayerReport {

  def apply(
      spark: SparkSession, wl: Workload, seed: Long, work: Path, results: Seq[OpResult],
      listener: Listener, tracer: Tracer, heapPeakMb: Double,
      runs: Path): Seq[(String, (String, Double))] = {
    val n = math.max(1, results.size).toDouble
    val ok = results.filter(_.error.isEmpty)

    // operations, and what the listener saw them do
    val c = new OpCounters
    results.foreach(r => c += listener.forOp(r.id))
    val rowsPerS =
      if (wl.bi5Rows && ok.nonEmpty) ok.map(_.rows).sum / ok.map(_.wallS).sum else 0.0

    // layer probes
    val probeRoot = work.resolve("probe")
    val probeRows = Gen.writeTree(probeRoot, seed, Layers.ProbeSpec, Main.Cores)._1.rows
    val bi5 = Layers.bi5(probeRoot, probeRows)
    val listRoot = wl.tree.map(_._1).getOrElse(probeRoot)
    val (listS, listed) = Layers.listing(listRoot)
    // the pruner's verdicts under the filters the library accepted for up
    // to 20 of the run's operations
    val keep = wl.tree.map { case (root, _) =>
      Layers.pruneKeep(root, results.flatMap(_.bi5Pushed).take(20))
    }.getOrElse(0.0)
    val fn = Layers.functions(spark, SuiteWorkload.DataDir.toString)

    // spans: self time per layer, per operation
    val spans = tracer.spans
    val self = Tracer.selfByName(spans).withDefaultValue(0L)
    val opWall = spans.filter(_.name == "op").map(_.durNs).sum.toDouble
    def selfS(name: String) = self(name) / 1e9 / n

    // tracing overhead: this run's mean operation time against the latest
    // untraced run of the same workload in this checkout
    val untraced = untracedMean(runs.resolve(s"${wl.name}-seed$seed-trace0.json"))
      .orElse(latestUntraced(runs, wl.name))
    val tracedMean = Stats.mean(results.map(_.wallS))

    Seq(
      "bi5.lzma_floor_mb_s" -> ("MB/s", bi5("bi5.lzma_floor_mb_s")),
      "bi5.codec_mrows_per_s" -> ("Mrows/s", bi5("bi5.codec_mrows_per_s")),
      "bi5.codec_over_floor" -> ("ratio", bi5("bi5.codec_over_floor")),
      "bi5.columnar_mrows_per_s" -> ("Mrows/s", bi5("bi5.columnar_mrows_per_s")),
      "bi5.row_mrows_per_s" -> ("Mrows/s", bi5("bi5.row_mrows_per_s")),
      "bi5.scan_rows_per_s" -> ("rows/s", rowsPerS),
      "bi5.scan_floor_eff" -> ("ratio", rowsPerS / (Main.Cores * bi5("bi5.codec_mrows_per_s") * 1e6)),
      "bi5.list_s" -> ("s", listS),
      "bi5.files_listed" -> ("count", listed.toDouble),
      "bi5.prune_keep_frac" -> ("ratio", keep),
      "op.plan_s" -> ("s", Stats.mean(results.map(_.planS))),
      "op.exec_s" -> ("s", Stats.mean(results.map(_.execS))),
      "op.partitions" -> ("count", Stats.mean(results.map(_.partitions.toDouble))),
      "spark.jobs" -> ("count", c.jobs / n),
      "spark.stages" -> ("count", c.stages / n),
      "spark.tasks" -> ("count", c.tasks / n),
      "spark.shuffle_read_mb" -> ("MB", c.shuffleReadBytes / 1e6 / n),
      "spark.shuffle_write_mb" -> ("MB", c.shuffleWriteBytes / 1e6 / n),
      "spark.spill_mb" -> ("MB", c.spillBytes / 1e6 / n),
      "spark.executor_cpu_s" -> ("s", c.cpuNs / 1e9 / n),
      "spark.executor_run_s" -> ("s", c.runMs / 1e3 / n),
      "spark.gc_s" -> ("s", c.gcMs / 1e3 / n),
      "spark.scheduler_delay_s" -> ("s", c.schedulerDelayMs / 1e3 / n),
      "jvm.heap_peak_mb" -> ("MB", heapPeakMb),
      "trace.build_self_s" -> ("s", selfS("build")),
      "trace.plan_self_s" -> ("s", selfS("plan")),
      "trace.execute_self_s" -> ("s", selfS("execute")),
      "trace.job_self_s" -> ("s", selfS("job")),
      "trace.stage_self_s" -> ("s", selfS("stage")),
      "trace.unattributed_s" -> ("s", selfS("op")),
      "trace.unattributed_frac" -> ("ratio", if (opWall > 0) self("op") / opWall else 0.0),
      "trace.overhead_frac" -> ("ratio", untraced.map(u => tracedMean / u - 1).getOrElse(0.0)),
    ) ++ fn.toSeq.sortBy(_._1).map { case (k, v) => k -> ("ns/row", v) }
  }

  private val MeanPattern = "\"op_mean_s\":\\{\"value\":([-0-9.eE]+)".r

  private def untracedMean(f: Path): Option[Double] =
    if (!Files.exists(f)) None
    else MeanPattern.findFirstMatchIn(Files.readString(f)).map(_.group(1).toDouble)

  private def latestUntraced(runs: Path, workload: String): Option[Double] =
    if (!Files.isDirectory(runs)) None
    else {
      import scala.jdk.CollectionConverters._
      Files.list(runs).iterator().asScala
        .filter { p =>
          val f = p.getFileName.toString
          f.startsWith(s"$workload-seed") && f.endsWith("-trace0.json")
        }
        .toSeq.sortBy(p => -Files.getLastModifiedTime(p).toMillis)
        .headOption.flatMap(untracedMean)
    }
}
