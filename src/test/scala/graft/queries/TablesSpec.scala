package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** `Tables.table(…, "events")` sets `spark.sql.legacy.parquet.nanosAsLong`
  * on the whole session (Spark 4 refuses the file's TIMESTAMP(NANOS)
  * column otherwise). This spec pins what that costs the other tables:
  * nothing — each reads with the same schema and row count as in a
  * session that never loaded `events`. */
class TablesSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("loading events leaves every other sf0.001 table reading as in a fresh session") {
    // both sides get a session of their own: suites share the default one
    val withEvents = spark.newSession()
    val fresh = spark.newSession()
    assert(Tables.table(withEvents, Sf, "events").count() > 0L)
    val others = new java.io.File(Sf).list().toSeq.sorted
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).filter(_ != "events")
    assert(others.nonEmpty)
    others.foreach { name =>
      val got = Tables.table(withEvents, Sf, name)
      val want = Tables.table(fresh, Sf, name)
      assert(got.schema == want.schema, s"$name: schema changed after loading events")
      assert(got.count() == want.count(), s"$name: row count changed after loading events")
    }
  }
}
