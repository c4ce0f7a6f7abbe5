package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Hierarchy.closure: hand-checked forest resolution, chain depth at the
  * doubling boundary, loud contracts (missing parent, depth overflow,
  * cycle, nulls), partitioning independence. */
class HierarchySpec extends AnyFunSuite with SparkSuite {

  /** All messages down the cause chain: Spark wraps task-side raises. */
  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def closureMap(rows: Seq[(Long, java.lang.Long, Long)], rounds: Int = 6) = {
    import spark.implicits._
    Hierarchy.closure(rows.toDF("id", "parent", "w"), "id", "parent", "w", rounds)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("hand-checked two-tree forest: root, depth, inclusive path sums") {
    // tree A: 1 -> 2 -> 4;  1 -> 3   tree B: 10 -> 11
    val rows = Seq[(Long, java.lang.Long, Long)](
      (1L, null, 100L), (2L, 1L, 10L), (3L, 1L, 20L), (4L, 2L, 1L),
      (10L, null, 7L), (11L, 10L, 3L))
    val m = closureMap(rows)
    assert(m(1L) === ((1L, 0L, 100L)))
    assert(m(2L) === ((1L, 1L, 110L)))
    assert(m(3L) === ((1L, 1L, 120L)))
    assert(m(4L) === ((1L, 2L, 111L)))
    assert(m(10L) === ((10L, 0L, 7L)))
    assert(m(11L) === ((10L, 1L, 10L)))
  }

  test("chain of depth exactly 2^rounds resolves; depth 2^rounds+1 raises") {
    // chain 0 <- 1 <- 2 ... <- n: node n has depth n; rounds=3 covers 8
    def chain(n: Int) = (0 to n).map(i =>
      (i.toLong, if (i == 0) null else java.lang.Long.valueOf(i - 1L), 1L))
    val ok = closureMap(chain(8), rounds = 3)
    assert(ok(8L) === ((0L, 8L, 9L)))
    val e = intercept[Exception] { closureMap(chain(9), rounds = 3) }
    assert(messages(e).exists(_.contains("unresolved after 3 doublings")),
      s"got: ${messages(e)}")
  }

  test("a cycle surfaces as the unresolved raise, never an infinite loop") {
    val rows = Seq[(Long, java.lang.Long, Long)](
      (1L, 2L, 1L), (2L, 1L, 1L), (3L, null, 5L))
    val e = intercept[Exception] { closureMap(rows, rounds = 4) }
    assert(messages(e).exists(_.contains("unresolved")), s"got: ${messages(e)}")
  }

  test("a parent id absent from the node set raises instead of dropping the subtree") {
    val rows = Seq[(Long, java.lang.Long, Long)]((1L, 99L, 1L), (2L, null, 1L))
    val e = intercept[Exception] { closureMap(rows) }
    assert(messages(e).exists(_.contains("parent id absent")), s"got: ${messages(e)}")
  }

  test("null weight raises loudly") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[Long], Option.empty[Long]))
      .toDF("id", "parent", "w")
    val e = intercept[Exception] {
      Hierarchy.closure(df, "id", "parent", "w").collect()
    }
    assert(messages(e).exists(_.contains("null weight")), s"got: ${messages(e)}")
  }

  test("identical result at 1 vs 7 shuffle partitions") {
    val rows = (0L until 200L).map(i =>
      (i, if (i < 2) null else java.lang.Long.valueOf(i / 2 - 1), i % 13 + 1))
    val a = withConf("spark.sql.shuffle.partitions" -> "1")(closureMap(rows))
    val b = withConf("spark.sql.shuffle.partitions" -> "7")(closureMap(rows))
    assert(a === b)
    assert(a(199L)._2 === 6L) // 199->98->48->23->10->4->1 depth spot-check
  }
}
