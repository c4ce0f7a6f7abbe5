package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Pinned: eager materialization in both modes, and the withPinned scope
  * releasing every recoverable cache entry on exit — success or failure. */
class PinnedSpec extends AnyFunSuite with SparkSuite {

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("withPinned releases every recoverable pin at scope exit") {
    spark.catalog.clearCache()
    assert(cacheEmpty)
    val result = Pinned.withPinned() { pin =>
      val a = pin(spark.range(100).toDF("id"))
      val b = pin(spark.range(50).selectExpr("id * 2 as id"))
      assert(!cacheEmpty, "pins must be live inside the scope")
      // two downstream branches reading each pinned frame
      (a.count() + b.count(), a.selectExpr("sum(id)").head().getLong(0))
    }
    assert(result._1 === 150L)
    assert(cacheEmpty, "scope exit must leave zero cache entries")
  }

  test("withPinned releases pins when the body throws") {
    spark.catalog.clearCache()
    val boom = intercept[RuntimeException] {
      Pinned.withPinned() { pin =>
        pin(spark.range(10).toDF("id"))
        assert(!cacheEmpty)
        throw new RuntimeException("phase failed")
      }
    }
    assert(boom.getMessage === "phase failed")
    assert(cacheEmpty, "failure exit must also release the pins")
  }

  test("non-recoverable scope adds no cache entries (localCheckpoint path)") {
    spark.catalog.clearCache()
    val n = Pinned.withPinned(recoverable = false) { pin =>
      val a = pin(spark.range(30).toDF("id"))
      assert(cacheEmpty, "localCheckpoint pins never enter the CacheManager")
      a.count()
    }
    assert(n === 30L)
    assert(cacheEmpty)
  }

  test("nested scopes release independently (inner exit keeps outer pins)") {
    spark.catalog.clearCache()
    Pinned.withPinned() { outerPin =>
      val o = outerPin(spark.range(20).toDF("id"))
      Pinned.withPinned() { innerPin =>
        innerPin(spark.range(5).toDF("id")).count()
      }
      assert(!cacheEmpty, "outer pin must survive the inner scope's release")
      assert(o.count() === 20L)
    }
    assert(cacheEmpty)
  }
}
