package graft

import org.apache.spark.sql.SparkSession

/** Test helper for A/B dispatch hooks: suites in one JVM share one
  * session, so a conf a test sets must come off again even when the test
  * fails — otherwise a forced path (say `localFitMaxChars=0`) leaks into
  * every later suite. */
object TestConf {

  /** Run `body` with `key` set to `value`, then restore the key's previous
    * value (or unset it) whether `body` returns or throws. */
  def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
