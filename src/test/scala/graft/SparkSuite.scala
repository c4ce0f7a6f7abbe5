package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

import graft.functions.NativeFunctions

/** The test session every spec shares. Suites run one after another in one
  * forked JVM, so they all see one SparkContext; this trait builds it once,
  * with the settings every spec assumes. A spec that needs a different
  * SQL conf takes it through `withConf`, which puts the old value back. */
trait SparkSuite { this: Suite =>

  lazy val spark: SparkSession = SparkSuite.session

  /** Run `body` with each `key -> value` set, then restore each key's
    * previous value (or unset it) whether `body` returns or throws. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    // saveAsTable specs write here, not into the working directory
    val wh = java.nio.file.Files.createTempDirectory("graft-test-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    NativeFunctions.register(s)
    s
  }
}
