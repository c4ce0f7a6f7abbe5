package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Partition-count independence audit: every library query must produce the
 * IDENTICAL result multiset whether it runs at 5 or 32 shuffle partitions.
 * This is the guarantee the library's numeric disciplines exist for —
 * decimal-cast sums, fixed-order folds, contract booleans over
 * engine-specific sketches — and the one thing the DuckDB oracle cannot
 * check (it always compares against ONE Spark partitioning). A query that
 * passes the oracle but drifts across partition counts would give a 1000-
 * executor cluster different answers than the laptop that validated it.
 */
class DeterminismSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("every query returns the identical multiset at 5 vs 32 shuffle partitions") {
    val failures = scala.collection.mutable.ListBuffer[String]()
    // errors are collected SEPARATELY and fail the test: a query that throws
    // at both partition counts must not pass the audit by matching its own
    // error sentinel (the '100 identical' claim must mean 100 that RAN)
    val errors = scala.collection.mutable.ListBuffer[String]()
    def runAll(parts: Int): Map[String, Seq[String]] =
      withConf("spark.sql.shuffle.partitions" -> parts.toString) {
        SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
          val rows =
            try fn(spark, Sf).collect().map(_.toString).sorted.toSeq
            catch {
              case e: Throwable =>
                errors += s"$name@$parts: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
                Seq(s"<error: ${e.getClass.getSimpleName}>")
            }
          name -> rows
        }.toMap
      }
    val at5 = runAll(5)
    val at32 = runAll(32)
    at5.keys.toSeq.sorted.foreach { name =>
      if (at5(name) != at32(name)) {
        val diff = (at5(name).diff(at32(name)) ++ at32(name).diff(at5(name))).take(3)
        failures += s"$name: ${at5(name).size} vs ${at32(name).size} rows; sample diff: ${diff.mkString(" | ")}"
      }
    }
    assert(errors.isEmpty, s"queries that crashed during the audit:\n${errors.mkString("\n")}")
    assert(failures.isEmpty,
      s"partition-count-dependent queries:\n${failures.mkString("\n")}")
  }
}
