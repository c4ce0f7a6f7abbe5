package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the optimization rounds' plan-evidence artifacts (plans/rNN/).
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> [q1,q2,...]
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries when no
  * filter is given). Plan-only: nothing is executed.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only = args.lift(3).map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // optional 5th arg: comma-separated k=v session confs (dev-only, lets a
    // plan dump pin a size-adaptive dispatch to its distributed path)
    args.lift(4).filter(_.contains('=')).foreach(_.split(',').foreach { kv =>
      val Array(k, v) = kv.split('=');
      spark.conf.set(k, v)
    })
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          println(s"[plans] wrote $name")
        } catch { case NonFatal(e) =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
