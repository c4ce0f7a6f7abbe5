package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The outcome of one operation. `planS` covers building the DataFrame and
  * its executed plan; `execS` the rest of the wall time. `partitions` and
  * `bi5Pushed` (the filters the library accepts for each bi5 scan of the
  * plan) are found only when tracing. */
final case class OpResult(
    id: Long, label: String, wallS: Double, planS: Double, execS: Double,
    rows: Long, partitions: Int, error: Option[String],
    bi5Pushed: Seq[Array[Filter]] = Nil)

object Runner {

  /** Runs one operation. Each phase is a span under the operation's span
    * when tracing is on, and the Spark jobs it launches carry the ids of
    * the operation and the phase that launched them. */
  def run(spark: SparkSession, tracer: Tracer, id: Long, op: Op): OpResult = {
    val sc = spark.sparkContext
    var qe: QueryExecution = null
    var planEnd = 0L
    val t0 = System.nanoTime()
    val outcome =
      try {
        Right(tracer.span("op", 0L, id) { opSpan =>
          def phase[T](name: String)(body: => T): T = tracer.span(name, opSpan, id) { s =>
            if (tracer.on) {
              sc.setLocalProperty(Listener.OpKey, id.toString)
              sc.setLocalProperty(Listener.SpanKey, s.toString)
            }
            body
          }
          val df = phase("build")(op.build(spark))
          qe = df.queryExecution
          phase("plan") { qe.assertAnalyzed(); qe.executedPlan }
          planEnd = System.nanoTime()
          phase("execute") {
            if (op.collect) Collected(df.collect()) else Counted(countRows(qe))
          }
        })
      } catch { case NonFatal(e) => Left(e) }
      finally {
        sc.setLocalProperty(Listener.OpKey, null)
        sc.setLocalProperty(Listener.SpanKey, null)
      }
    val t1 = System.nanoTime()
    val wall = (t1 - t0) / 1e9
    val plan = if (planEnd > 0) (planEnd - t0) / 1e9 else wall
    outcome match {
      case Right(out) =>
        val rows = out match { case Counted(n) => n; case Collected(rs) => rs.length.toLong }
        val error = try op.check(out) catch { case NonFatal(e) => Some(describe(e)) }
        val parts = if (tracer.on) inputPartitions(qe.executedPlan) else 0
        val pushed = if (tracer.on) Layers.pushedBi5Filters(qe.analyzed) else Nil
        OpResult(id, op.label, wall, plan, wall - plan, rows, parts, error, pushed)
      case Left(e) =>
        OpResult(id, op.label, wall, plan, wall - plan, 0, 0, Some(describe(e)))
    }
  }

  /** Runs an operation outside any measurement, to warm up: it must not
    * throw, but its output is not checked. */
  def quiet(spark: SparkSession, op: Op): Unit = {
    val r = run(spark, new Tracer(false), 0L, op.copy(check = _ => None))
    r.error.foreach(e => throw new IllegalStateException(s"warm-up ${op.label}: $e"))
  }

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** Executes the planned query and counts its rows as they stream past,
    * which is all the `noop` sink does with them, so the plan is exactly the
    * one a `noop` write would run. */
  private def countRows(qe: QueryExecution): Long =
    SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        Iterator.single(n)
      }.collect().sum
    }

  private object Walk extends AdaptiveSparkPlanHelper

  /** Input partitions of every file or DSv2 scan in the executed plan. */
  def inputPartitions(plan: SparkPlan): Int = Walk.collect(plan) {
    case b: BatchScanExec => b.inputRDD.getNumPartitions
    case f: FileSourceScanExec => f.inputRDD.getNumPartitions
  }.sum
}
