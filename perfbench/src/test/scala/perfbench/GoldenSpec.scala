package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GoldenSpec extends AnyFunSuite {

  // tests run in the benchmark's own directory
  private val goldenFile = java.nio.file.Paths.get("golden/sf0.001.json")
  private val golden = Golden.load(goldenFile)

  test("every library query has a golden row count") {
    val missing = graft.SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty, s"no golden count for ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("the golden-count check accepts the oracle's count and nothing else") {
    val (name, n) = golden.head
    assert(Golden.check(golden, name)(Counted(n)).isEmpty)
    assert(Golden.check(golden, name)(Counted(n + 1)).exists(_.contains(s"gives $n")))
    assert(Golden.check(golden, "no_such_query")(Counted(n)).nonEmpty)
    assert(Golden.check(golden, name)(Collected(Array.empty)).nonEmpty)
  }

  test("the default suite is every eighteenth query by name, and only a seed reorders it") {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val wl = new SuiteWorkload(Map.empty)(java.nio.file.Paths.get("data/sf0.001"), goldenFile)
    val pass = wl.ops(3).take(wl.passSize).map(_.label).toVector
    assert(pass.sorted == names.indices.filter(_ % SuiteWorkload.Stride == 0).map(names))
    assert(wl.ops(3).take(wl.passSize).map(_.label).toVector == pass)
    assert(wl.ops(4).take(wl.passSize).map(_.label).toVector != pass)
  }
}
