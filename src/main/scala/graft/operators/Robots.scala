package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * robots.txt — the crawl-politeness half of the web-ingest stack (WARC is
 * the container, robots is the contract). RFC 9309 semantics, scoped and
 * documented:
 *
 *  - [[rules]] parses robots.txt TEXT into rule rows. Lines are split on
 *    `\n` (lone `\r` trimmed), `#` comments stripped, keys matched
 *    case-insensitively (`user-agent`, `allow`, `disallow`, `crawl-delay`,
 *    `sitemap`). A GROUP is one or more consecutive `user-agent` lines
 *    plus the rules that follow; every rule row is emitted once per agent
 *    of its group (the RFC's group-combination model). An empty
 *    `disallow:` value is the RFC's "allow all" idiom and produces no
 *    rule row. `sitemap`/`crawl-delay` are group-independent metadata but
 *    keep their group's agents for per-bot delay policies.
 *  - [[verdicts]] evaluates paths for ONE agent: the agent obeys its
 *    most specific group set — rows whose agent token equals the bot
 *    (case-insensitive), or the `*` rows only when no bot-specific group
 *    exists anywhere in that file (RFC 9309 §2.2.1). Among matching
 *    allow/disallow patterns ([[graft.functions.RobotsKit]] `*`/`$`
 *    matching), the MOST SPECIFIC wins — longest pattern, allow on ties
 *    (the Googlebot convention the RFC blesses). No matching rule, no
 *    applicable group, or no rules at all → allowed.
 *
 * Scale shape: robots files are tiny (the RFC caps parsing at 500 KiB)
 * and per-host — every window/self-join here partitions BY FILE, so no
 * task ever holds more than one robots file's lines; the paths×rules
 * join is host-keyed (equi), rules-side small by construction.
 */
object Robots {

  /** Parse robots.txt text into rule rows:
    * `(idCol, agent, rule, value, pattern_len)` — `rule` in
    * allow/disallow/crawl-delay/sitemap, `agent` lowercased, `value`
    * verbatim (trimmed), `pattern_len` = length(value) (the specificity
    * key; 0 for non-path rules). */
  def rules(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "line_no")
      // strip comments (first '#' onward) and surrounding whitespace/CR
      .withColumn("clean", trim(expr("substring_index(col, '#', 1)")))
      .filter(length(col("clean")) > 0 && col("clean").contains(":"))
      .withColumn("key", lower(trim(expr("substring_index(clean, ':', 1)"))))
      .withColumn("value", trim(expr(
        "substring(clean, locate(':', clean) + 1)")))
      .filter(col("key").isin("user-agent", "allow", "disallow", "crawl-delay", "sitemap"))
    // group boundaries: a user-agent line NOT preceded by a user-agent
    // line starts a new group (consecutive UA lines share one group)
    val w = Window.partitionBy(idCol).orderBy("line_no")
    val grouped = lines
      .withColumn("prev_key", lag("key", 1).over(w))
      .withColumn("boundary",
        (col("key") === "user-agent") &&
          (col("prev_key").isNull || col("prev_key") =!= "user-agent"))
      .withColumn("group_id", sum(when(col("boundary"), 1L).otherwise(0L)).over(w))
    val agents = grouped.filter(col("key") === "user-agent")
      .select(col(idCol), col("group_id"), lower(col("value")).as("agent"))
      .distinct()
    val ruleRows = grouped.filter(col("key") =!= "user-agent")
      // empty disallow = "allow all": the RFC idiom carries no rule
      .filter(!(col("key") === "disallow" && length(col("value")) === 0))
      .select(col(idCol), col("group_id"), col("key").as("rule"), col("value"))
    ruleRows.join(agents, Seq(idCol, "group_id"))
      .select(col(idCol), col("agent"), col("rule"), col("value"),
        when(col("rule").isin("allow", "disallow"), length(col("value")))
          .otherwise(lit(0)).cast("int").as("pattern_len"))
  }

  /** Allow/deny verdicts for `agent` over `(idCol, pathCol)` rows, joined
    * host-keyed against `rules` (the [[rules]] output). Returns the input
    * keys plus `allowed` and the electing `matched_pattern` (null when
    * the default-allow applied). */
  def verdicts(
      spark: SparkSession,
      rulesDf: DataFrame,
      idCol: String,
      pathsDf: DataFrame,
      pathCol: String,
      agent: String): DataFrame = {
    graft.functions.NativeFunctions.register(spark)
    val bot = agent.toLowerCase
    val pathRules = rulesDf.filter(col("rule").isin("allow", "disallow"))
    // RFC 9309 §2.2.1: obey the bot-specific group set when one exists in
    // the file; the '*' group only otherwise
    val specificIds = pathRules.filter(col("agent") === bot)
      .select(idCol).distinct()
    val applicable = pathRules
      .join(specificIds.withColumnRenamed(idCol, "__sid"),
        col(idCol) === col("__sid"), "left")
      .filter(
        (col("agent") === bot && col("__sid").isNotNull) ||
          (col("agent") === "*" && col("__sid").isNull))
      .select(col(idCol), col("rule"), col("value"), col("pattern_len"))
    val matched = pathsDf
      .join(applicable, Seq(idCol), "left")
      .withColumn("is_match",
        col("value").isNotNull &&
          expr(s"robots_match(value, $pathCol)"))
    // most specific match: longest pattern, allow beats disallow on ties;
    // deterministic final tiebreak on the pattern text itself
    matched
      .groupBy(col(idCol), col(pathCol))
      .agg(max(when(col("is_match"), struct(
        col("pattern_len"),
        when(col("rule") === "allow", 1).otherwise(0).as("is_allow"),
        col("value")))).as("winner"))
      .select(col(idCol), col(pathCol),
        coalesce(col("winner.is_allow") === 1, lit(true)).as("allowed"),
        col("winner.value").as("matched_pattern"))
  }
}
