package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-side counters of one operation. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var cpuNs, runMs, gcMs, schedulerDelayMs = 0L

  def +=(o: OpCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; schedulerDelayMs += o.schedulerDelayMs
  }
}

/**
 * The benchmark's SparkListener. Jobs are tied to the operation and the
 * span that submitted them through two local properties the benchmark sets
 * on the thread that runs the operation; stages and tasks are tied to their
 * job. It records
 * the job and stage intervals of operations as spans and sums task metrics
 * per operation; jobs outside any operation are ignored.
 */
final class Listener(tracer: Tracer) extends SparkListener {
  import Listener._

  private val byOp = mutable.HashMap.empty[Long, OpCounters]
  private val jobOf = mutable.HashMap.empty[Int, (Long, Long, Long, Long)] // job -> (span, parent, op, startMs)
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  private def counters(op: Long): OpCounters = byOp.getOrElseUpdate(op, new OpCounters)

  private def opOfStage(stageId: Int): Long =
    stageJob.get(stageId).flatMap(jobOf.get).map(_._3).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
    val op = prop(OpKey)
    jobOf(e.jobId) = (tracer.newId(), prop(SpanKey), op, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    counters(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.get(e.jobId).filter(_._3 > 0).foreach { case (id, parent, op, startMs) =>
      tracer.record(Span(id, parent, op, "job", tracer.wallToNs(startMs), tracer.wallToNs(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val op = opOfStage(info.stageId)
    counters(op).stages += 1
    for (job <- stageJob.get(info.stageId); (jobSpan, _, _, _) <- jobOf.get(job) if op > 0;
         s <- info.submissionTime; c <- info.completionTime) {
      tracer.record(Span(tracer.newId(), jobSpan, op, "stage", tracer.wallToNs(s), tracer.wallToNs(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(opOfStage(e.stageId))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
    }
    // time the task waited between its stage's submission and its launch
    stageSubmitMs.get(e.stageId).foreach { s =>
      c.schedulerDelayMs += math.max(0L, e.taskInfo.launchTime - s)
    }
  }

  /** The counters of one operation (empty if it launched no job). */
  def forOp(op: Long): OpCounters = synchronized { byOp.getOrElse(op, new OpCounters) }
}

object Listener {
  final val OpKey = "perfbench.op"
  final val SpanKey = "perfbench.span"
}
