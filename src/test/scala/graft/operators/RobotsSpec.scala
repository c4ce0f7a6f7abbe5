package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RobotsKit
import graft.SparkSuite

/** Robots: RFC 9309 parsing (groups, comments, allow-all idiom), the
  * `*`/`$` pattern matcher, group selection (specific beats `*`), and
  * longest-match/allow-tie verdict election. */
class RobotsSpec extends AnyFunSuite with SparkSuite {

  test("robots_match: prefix, star, end anchor, literals") {
    assert(RobotsKit.matchesJava("/private/", "/private/x"))
    assert(!RobotsKit.matchesJava("/private/", "/priv"))
    assert(RobotsKit.matchesJava("/", "/anything"))
    assert(RobotsKit.matchesJava("", "/anything"), "empty pattern matches everything")
    assert(RobotsKit.matchesJava("/*.zip$", "/files/a.zip"))
    assert(!RobotsKit.matchesJava("/*.zip$", "/files/a.zipx"), "anchor holds")
    assert(RobotsKit.matchesJava("/*.zip", "/files/a.zipx"), "unanchored prefix")
    assert(RobotsKit.matchesJava("/a*b*c", "/aXXbYYc-and-more"))
    assert(!RobotsKit.matchesJava("/a*b*c", "/aXXbYY"))
    assert(RobotsKit.matchesJava("/fish*$", "/fishheads"), "star before anchor")
    assert(RobotsKit.matchesJava("/p$", "/p"))
    assert(!RobotsKit.matchesJava("/p$", "/pq"))
    // '*' backtracking across '/' (RFC: star crosses segments)
    assert(RobotsKit.matchesJava("/a/*/c", "/a/b1/b2/c-tail"))
    // SQL registration + codegen path
    graft.functions.NativeFunctions.register(spark)
    val r = spark.sql("select robots_match('/*.zip$', '/x/y.zip'), robots_match('/q', '/x')").head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
  }

  private val robotsTxt =
    """# site robots
      |User-agent: *
      |Disallow: /private/
      |Allow: /private/pub/
      |
      |User-agent: GraftBot
      |User-agent: fetchbot
      |Crawl-delay: 4
      |Disallow: /tmp/
      |Allow: /tmp/ok
      |Disallow: /*.zip$
      |Disallow:
      |Sitemap: https://ex.com/map.xml
      |""".stripMargin

  test("rules: groups, multi-agent emission, comments, allow-all idiom, case") {
    import spark.implicits._
    val parsed = Robots.rules(
      Seq(("h1", robotsTxt)).toDF("host", "txt"), "host", "txt")
      .orderBy("agent", "rule", "value")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3), r.getInt(4)))
    val expected = Seq(
      ("*", "allow", "/private/pub/", 13),
      ("*", "disallow", "/private/", 9),
      ("fetchbot", "allow", "/tmp/ok", 7),
      ("fetchbot", "crawl-delay", "4", 0),
      ("fetchbot", "disallow", "/*.zip$", 7),
      ("fetchbot", "disallow", "/tmp/", 5),
      ("fetchbot", "sitemap", "https://ex.com/map.xml", 0),
      ("graftbot", "allow", "/tmp/ok", 7),
      ("graftbot", "crawl-delay", "4", 0),
      ("graftbot", "disallow", "/*.zip$", 7),
      ("graftbot", "disallow", "/tmp/", 5),
      ("graftbot", "sitemap", "https://ex.com/map.xml", 0))
    assert(parsed.toSeq === expected,
      "agents lowercased, empty disallow dropped, comment line ignored")
  }

  test("verdicts: specific group beats *, longest match, allow tie, default allow") {
    import spark.implicits._
    val rules = Robots.rules(Seq(("h1", robotsTxt)).toDF("host", "txt"), "host", "txt")
    val paths = Seq("/private/x", "/private/pub/y", "/tmp/f", "/tmp/ok-1",
      "/files/a.zip", "/open").map(("h1", _)).toDF("host", "path")
    val got = Robots.verdicts(spark, rules, "host", paths, "path", "GraftBot")
      .collect().map(r => r.getString(1) -> ((r.getBoolean(2), Option(r.getString(3))))).toMap
    // graftbot has a specific group: the * group's /private/ rules DO NOT apply
    assert(got("/private/x") === ((true, None)), "specific group exists: * ignored")
    assert(got("/private/pub/y") === ((true, None)))
    assert(got("/tmp/f") === ((false, Some("/tmp/"))))
    assert(got("/tmp/ok-1") === ((true, Some("/tmp/ok"))), "longer allow wins")
    assert(got("/files/a.zip") === ((false, Some("/*.zip$"))), "wildcard+anchor rule")
    assert(got("/open") === ((true, None)), "no match: default allow")
    // an agent with NO specific group falls back to *
    val other = Robots.verdicts(spark, rules, "host", paths, "path", "strangerbot")
      .collect().map(r => r.getString(1) -> ((r.getBoolean(2), Option(r.getString(3))))).toMap
    assert(other("/private/x") === ((false, Some("/private/"))))
    assert(other("/private/pub/y") === ((true, Some("/private/pub/"))), "allow more specific")
    assert(other("/tmp/f") === ((true, None)), "* group has no /tmp rule")
    // a host with no robots rows at all: default allow
    val bare = Robots.verdicts(spark, rules, "host",
      Seq(("h2", "/any")).toDF("host", "path"), "path", "GraftBot")
      .collect().head
    assert(bare.getBoolean(2) && bare.isNullAt(3))
  }
}
