package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** DupGraph.kcore: hand-checked cores on tiny graphs, pendant peeling,
  * fixed-round vs converged behavior, input hygiene, loud contracts. */
class DupGraphSpec extends AnyFunSuite with SparkSuite {

  private def core(pairs: Seq[(Long, Long)], minDeg: Int = 2, rounds: Int = 3) = {
    import spark.implicits._
    DupGraph.kcore(pairs.toDF("id_a", "id_b"), minDeg = minDeg, rounds = rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle with a pendant: the triangle is the 2-core, the pendant peels") {
    val r = core(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(r === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"2-core must be exactly the triangle at degree 2 each: $r")
  }

  test("a pure path has an empty 2-core") {
    assert(core(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
  }

  test("fixed rounds are a documented cutoff: a long chain needs more rounds") {
    // path of 8 nodes: each round peels one node from each end, so
    // rounds=1 leaves a 6-node path with interior degrees intact while
    // rounds=3 (and above) keep peeling toward empty
    val chain = (1L to 7L).map(i => (i, i + 1))
    val r1 = core(chain, rounds = 1)
    val r3 = core(chain, rounds = 3)
    val r4 = core(chain, rounds = 4)
    assert(r1.keySet === (2L to 7L).toSet, s"round 1 peels only the endpoints: $r1")
    assert(r3.keySet === Set(4L, 5L), s"round 3 leaves the innermost edge: $r3")
    assert(r4 === Map.empty, s"the chain fully peels once rounds cover its radius: $r4")
  }

  test("duplicate and self-loop input pairs do not inflate degrees") {
    // (1,2) repeated + a self-loop on 1 must not fake a 2-core
    val r = core(Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (1L, 3L)))
    assert(r === Map(1L -> 2L, 2L -> 2L, 3L -> 2L),
      s"triangle degrees must count neighbors, not raw pairs: $r")
  }

  test("minDeg 1 keeps every non-isolated node with its true degree") {
    val r = core(Seq((1L, 2L), (2L, 3L)), minDeg = 1)
    assert(r === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("contracts are loud") {
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException](DupGraph.kcore(df, minDeg = 0))
    intercept[IllegalArgumentException](DupGraph.kcore(df, rounds = 0))
  }
}
