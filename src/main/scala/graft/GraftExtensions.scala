package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.NativeFunctions

/**
 * Session-extensions entry point: makes the library's native expressions
 * available to every session (including pure-SQL users) via standard Spark
 * configuration, with no imperative register() call:
 *
 * {{{
 *   spark.sql.extensions=graft.GraftExtensions
 * }}}
 *
 * Injected functions: every entry of [[graft.functions.NativeFunctions.all]],
 * with the same builders that `NativeFunctions.register` uses.
 *
 * Injected optimizer rules:
 *  - [[graft.plans.LevenshteinPrefilter]] — guards `levenshtein(a,b) <= k`
 *    filters with the free `abs(length(a)-length(b)) <= k` bound so the
 *    quadratic distance skips rows with a hopeless length gap.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), NativeFunctions.info(name), builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPrefilter)
  }
}
