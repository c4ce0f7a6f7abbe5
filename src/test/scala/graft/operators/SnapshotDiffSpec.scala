package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** SnapshotDiff: all four statuses, NULL-value semantics through the JSON
  * fingerprint, and the loud duplicate-key contract. */
class SnapshotDiffSpec extends AnyFunSuite with SparkSuite {

  import scala.jdk.CollectionConverters._
  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, a STRING, b BIGINT")
  private def frame(rows: (Long, String, Any)*) =
    spark.createDataFrame(
      rows.map { case (i, a, b) =>
        org.apache.spark.sql.Row(i, a, b match { case null => null; case x: Int => x.toLong; case x: Long => x })
      }.asJava, schema)

  test("labels added/removed/changed/unchanged") {
    val old = frame((1L, "x", 10), (2L, "y", 20), (3L, "z", 30))
    val nw = frame((2L, "y", 20), (3L, "z", 31), (4L, "w", 40))
    val got = SnapshotDiff.diff(old, nw, Seq("id"), Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("NULL handling: null vs value is changed, null vs null is unchanged") {
    val old = frame((1L, null, 10), (2L, null, 20), (3L, "a", null))
    val nw = frame((1L, "x", 10), (2L, null, 20), (3L, "a", null))
    val got = SnapshotDiff.diff(old, nw, Seq("id"), Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "changed", 2L -> "unchanged", 3L -> "unchanged"))
  }

  test("JSON framing: a value shifting between columns is a change") {
    // concat_ws-style fingerprints alias ("xy","") with ("x","y"); the JSON
    // fingerprint must not
    val old = frame((1L, "xy", 1))
    val nw0 = frame((1L, "x", 1))
    val got = SnapshotDiff.diff(old, nw0, Seq("id"), Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "changed")
  }

  test("checkUniqueKeys=true fails loudly on a duplicate key") {
    val old = frame((1L, "x", 10), (1L, "x2", 11))
    val nw = frame((1L, "x", 10))
    val e = intercept[Exception] {
      SnapshotDiff.diff(old, nw, Seq("id"), Seq("a", "b"), checkUniqueKeys = true)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate key")), s"wrong failure: $e")
    // and the default path succeeds (documented caller contract)
    val n = SnapshotDiff.diff(old, nw, Seq("id"), Seq("a", "b")).count()
    assert(n >= 2)
  }

  test("fingerprints are pinned against the jsonGenerator session conf") {
    import spark.implicits._
    // a null field must participate in the fingerprint regardless of the
    // session's ignoreNullFields default — flip the conf both ways and the
    // labels must not move
    val old = Seq((1L, Option.empty[String], "x"), (2L, Option("v"), "y"))
      .toDF("id", "a", "b")
    val nw = Seq((1L, Option.empty[String], "x"), (2L, Option("v"), "z"))
      .toDF("id", "a", "b")
    def statuses(): Map[Long, String] =
      SnapshotDiff.diff(old, nw, Seq("id"), Seq("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val atTrue = withConf("spark.sql.jsonGenerator.ignoreNullFields" -> "true")(statuses())
    val atFalse = withConf("spark.sql.jsonGenerator.ignoreNullFields" -> "false")(statuses())
    assert(atTrue === Map(1L -> "unchanged", 2L -> "changed"))
    assert(atTrue === atFalse, "a conf flip must not change diff labels")
  }

  test("map-typed compare columns are rejected loudly") {
    import spark.implicits._
    val withMap = Seq((1L, Map("k" -> 1))).toDF("id", "m")
    val ex = intercept[IllegalArgumentException] {
      SnapshotDiff.diff(withMap, withMap, Seq("id"), Seq("m"))
    }
    assert(ex.getMessage.contains("map-typed"))
    // the documented workaround passes: sorted entries are canonical
    val canon = withMap.selectExpr("id", "array_sort(map_entries(m)) as m_entries")
    val ok = SnapshotDiff.diff(canon, canon, Seq("id"), Seq("m_entries"))
      .collect().map(r => r.getString(1))
    assert(ok.toSeq === Seq("unchanged"))
  }
}
