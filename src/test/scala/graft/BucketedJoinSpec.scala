package graft

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/**
 * Co-located (bucketed) joins — the shuffle-elimination lever for repeated
 * big-to-big joins at 100 TB: both sides pre-hashed into the same bucket
 * layout on the join key join WITHOUT any Exchange in the plan. Locked here
 * as a plan-shape property so the capability (and the config that enables
 * it) stays demonstrably working.
 */
class BucketedJoinSpec extends AnyFunSuite with SparkSuite {

  private val Sf = "/root/testdata/sf0.001"

  test("bucketed tables join with zero Exchange operators") {
    // broadcast off: the test must prove bucketing, not broadcast, removed
    // the shuffle
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = spark.read.parquet(s"$Sf/documents.parquet")
      val embs = spark.read.parquet(s"$Sf/embeddings.parquet")
        .selectExpr("vec_id as doc_id", "embedding")

      docs.write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("bucketspec_docs_b")
      embs.write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("bucketspec_embs_b")

      val joined = spark.table("bucketspec_docs_b")
        .join(spark.table("bucketspec_embs_b"), "doc_id")
        .selectExpr("doc_id", "lang", "size(embedding) as dim")
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))

      assert(!plan.contains("Exchange"),
        "bucketed-by-join-key tables must join shuffle-free:\n" + plan)
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() === 500) // all docs have an embedding row

      // the same join over the raw (unbucketed) parquet DOES shuffle — the
      // contrast that proves the bucket layout, not something else, did it
      val unbucketed = docs.join(embs, "doc_id")
      val rawPlan = unbucketed.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(rawPlan.contains("Exchange"), rawPlan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketspec_docs_b")
      spark.sql("DROP TABLE IF EXISTS bucketspec_embs_b")
    }
  }
}
