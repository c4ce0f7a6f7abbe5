package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.NativeFunctions

/** The extensions entry point must expose the native functions to a session
  * built with it alone — the zero-code-integration path for SQL-only users. */
class GraftExtensionsSpec extends AnyFunSuite {

  // create() always builds a new session with a function registry of its
  // own, so what resolves here came from the extension. getOrCreate() would
  // hand back any session an earlier suite made, where the query library
  // has registered the functions imperatively. The shared session comes
  // first, so this suite runs on the one SparkContext every spec uses.
  lazy val spark: SparkSession = {
    SparkSuite.session
    SparkSession.builder().withExtensions(new GraftExtensions).create()
  }

  test("the extension's session has its own function registry") {
    val ext = spark.sessionState.functionRegistry
    // a second session on the same context, built without the extension
    val plain = SparkSession.builder().create().sessionState.functionRegistry
    val url = FunctionIdentifier("url_host")
    assert(plain ne ext)
    assert(!plain.functionExists(url))
    assert(ext.functionExists(url))
  }

  test("every entry of NativeFunctions.all is injected with its table builder") {
    val reg = spark.sessionState.functionRegistry
    val wrong = NativeFunctions.all.collect {
      case (name, builder)
          if !reg.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder) => name
    }
    assert(wrong.isEmpty, s"not injected with the table's builder: $wrong")
    assert(spark.sql("select url_host('http://Example.org/a')").head().getString(0) ===
      "example.org")
  }

  test("a wrong-arity call fails with the builder's arity message") {
    val e = intercept[Exception](spark.sql("select url_host()").collect())
    assert(e.getMessage.contains("url_host takes 1 argument, got 0"), e.getMessage)
  }

  test("vec_dot and word_ngrams are usable from pure SQL") {
    val r = spark.sql(
      """select
           vec_dot(array(cast(1.5 as float), cast(2.0 as float)),
                   array(cast(2.0 as float), cast(0.5 as float))) as dot,
           word_ngrams(array('a', 'b', 'c', 'd'), 2) as bigrams
      """).head()
    assert(r.getDouble(0) === 4.0)
    assert(r.getSeq[String](1) === Seq("a b", "b c", "c d"))
  }

  test("sketch probes (bloom_might_contain, cms_estimate) are usable from pure SQL") {
    val bloomAgg = new graft.operators.BloomAgg(4096, 7)
    val keys = (1L to 100L).map(graft.operators.BloomSketch.splitmix64)
    val bloom = bloomAgg.finish(keys.foldLeft(bloomAgg.zero)(bloomAgg.reduce))
    val cmsAgg = new graft.operators.CmsAgg(256, 4)
    val cms = cmsAgg.finish((keys ++ keys.take(5)).foldLeft(cmsAgg.zero)(cmsAgg.reduce))
    import org.apache.spark.sql.functions.lit
    val r = spark.range(1)
      .select(lit(bloom).as("bl"), lit(cms).as("cm"))
      .selectExpr(
        s"bloom_might_contain(bl, ${keys.head}L) as hit",
        s"cms_estimate(cm, ${keys.head}L) as est")
      .head()
    assert(r.getBoolean(0))
    assert(r.getLong(1) >= 2L)
  }

  test("levenshtein threshold filters gain the length-gap guard, results unchanged") {
    import spark.implicits._
    // parquet round-trip: a foldable local source would be constant-folded
    // into a LocalRelation before the Filter (and the rule) ever appears
    val tmp = java.nio.file.Files.createTempDirectory("lev_rule").toString + "/t"
    Seq(
      ("kitten", "sitting"),   // lev 3, gap 1 -> kept by both
      ("ab", "abcdefghij"),    // gap 8 -> guard rejects without the O(n^2) loop
      ("abc", "abd"))          // lev 1 -> kept
      .toDF("a", "b").write.parquet(tmp)
    val df = spark.read.parquet(tmp)
    val filtered = df.filter("levenshtein(a, b) <= 3")
    val opt = filtered.queryExecution.optimizedPlan.toString
    // the rewritten predicate carries the derived guard...
    assert(opt.contains("abs((length(a") || opt.contains("abs((length(a#"),
      s"expected the length-gap guard in the optimized plan:\n$opt")
    assert(opt.contains("levenshtein"), opt)
    // ...and never changes the answer
    assert(filtered.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("kitten", "sitting"), ("abc", "abd")))
    // negated predicates are left alone (a guard under NOT would be unsound)
    val neg = df.filter("not (levenshtein(a, b) <= 3)")
    assert(neg.collect().map(_.getString(0)).toSeq === Seq("ab"))
  }
}
