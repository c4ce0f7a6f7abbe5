package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class VectorExpressionsSpec extends AnyFunSuite with SparkSuite {

  test("vec_dot is bit-identical to the interpreted HOF left fold") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df.createOrReplaceTempView("e")
    val diff = spark.sql(
      """select count(*) from (
           select vec_id,
             vec_dot(embedding, embedding) as native,
             aggregate(zip_with(embedding, embedding,
               (x, y) -> cast(x as double) * cast(y as double)),
               cast(0 as double), (acc, v) -> acc + v) as hof
           from e) where native != hof""").head.getLong(0)
    assert(diff === 0L)
  }

  test("vec_dot basics: hand value, codegen and interpreted paths agree") {
    val row = spark.sql(
      "select vec_dot(array(cast(1.5 as float), cast(2.0 as float)), " +
        "array(cast(4.0 as float), cast(0.25 as float))) as d").head
    assert(row.getDouble(0) === 1.5 * 4.0 + 2.0 * 0.25)
    // null propagation
    val n = spark.sql(
      "select vec_dot(cast(null as array<float>), array(cast(1.0 as float)))").head
    assert(n.isNullAt(0))
    // length mismatch -> NULL (matches zip_with's null padding semantics:
    // a ragged embedding must surface as detectable null, not a partial dot)
    val m = spark.sql(
      "select vec_dot(array(cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(9.0 as float)))").head
    assert(m.isNullAt(0))
    // null element -> NULL
    val ne = spark.sql(
      "select vec_dot(array(cast(1.0 as float), cast(null as float)), " +
        "array(cast(1.0 as float), cast(1.0 as float)))").head
    assert(ne.isNullAt(0))
  }

  test("vec_dot rejects wrong argument types") {
    val e = intercept[Exception] {
      spark.sql("select vec_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(e.getMessage.toLowerCase.contains("array<float>") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch") ||
      e.getMessage.toLowerCase.contains("cannot resolve"))
  }
}
