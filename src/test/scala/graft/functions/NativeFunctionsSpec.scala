package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** NativeFunctions.register adds only what a session lacks: calling it
  * again, or over a name that is already taken, replaces no builder. */
class NativeFunctionsSpec extends AnyFunSuite with SparkSuite {

  test("every name is declared once") {
    val names = NativeFunctions.all.map(_._1)
    assert(names.distinct.size === names.size)
  }

  test("registering twice leaves every registered builder unchanged") {
    // a session of its own, so the registry changes stay out of the shared one
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    def builders = NativeFunctions.all.map { case (name, _) =>
      reg.lookupFunctionBuilder(FunctionIdentifier(name)).orNull
    }
    // a name that is already taken keeps its builder
    val own: FunctionBuilder = _ => Literal("own")
    reg.dropFunction(FunctionIdentifier("url_host"))
    reg.registerFunction(FunctionIdentifier("url_host"), NativeFunctions.info("url_host"), own)

    NativeFunctions.register(s)
    val first = builders
    NativeFunctions.register(s)
    assert(builders.zip(first).forall { case (a, b) => a eq b })
    val expected = NativeFunctions.all.map { case (name, b) => if (name == "url_host") own else b }
    assert(first.zip(expected).forall { case (a, b) => a eq b })
  }
}
