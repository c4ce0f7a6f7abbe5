package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * One library query: a Spark-first build function over the driver's parquet
 * test tables plus (when expressible) an equivalent ANSI-ish SQL text for the
 * DuckDB oracle.
 *
 * Oracle-parity conventions used across every query (these make the driver's
 * value-hash compare deterministic between Spark and DuckDB):
 *  - Sums of doubles go through an exact DECIMAL cast and come back as DOUBLE:
 *    `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)` — double summation order
 *    differs between engines, decimal summation is exact in both.
 *  - Elementwise doubles (a-b, sqrt(x), x/y) are emitted RAW: IEEE semantics
 *    make them bit-identical given identical inputs; rounding them would only
 *    add a cross-engine rounding-mode risk.
 *  - `events.ts` is nanosecond-precision parquet: Spark truncates to micros
 *    on read, DuckDB keeps nanos. All comparisons/outputs on it use epoch
 *    milliseconds (`unix_millis` / `epoch_ms`), identical in both.
 *  - Every result has a deterministic total order (ORDER BY includes a unique
 *    key) and every computed column is aliased identically on both sides.
 */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/**
 * Final global sort whose child computes ONCE (optimization round r11).
 *
 * A bare `df.orderBy(...)` plans as `Sort <- Exchange(rangepartitioning)`,
 * and building the range partitioner runs a SAMPLING JOB over the sort's
 * child plan. When no other exchange sits between the child's work and the
 * sort, that sample job re-executes the ENTIRE child (scan, decode,
 * per-row codecs, ...) and the main job then executes it a second time —
 * a measured ~2x on map-only queries (q282: 9.8 s -> 5.7 s at sf0.1 with a
 * hash exchange interposed; guide §2.4 "remove shuffles outright" dual:
 * here we ADD a cheap exchange of the narrow result rows so the heavy
 * subtree is computed once and the sampler re-reads shuffle files).
 *
 * `sortedOut(df, cols...)` = hash-repartition on the sort keys (an
 * exchange of the final, already-narrow result rows; partition count from
 * spark.sql.shuffle.partitions, AQE-coalesced) followed by the same global
 * sort — row set, values and final total order are IDENTICAL to
 * `df.orderBy(cols...)`; only the physical plan differs.
 *
 * Use it ONLY where the final sort's child is not already behind a
 * shuffle: aggregate/join-rooted queries pay the extra exchange without
 * the recompute saving.
 */
object SortOut {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.col

  /** Ascending-keys form — covers the common `orderBy("a", "b")` tail. */
  def sortedOut(df: DataFrame, cols: String*): DataFrame =
    df.repartition(cols.map(col): _*).orderBy(cols.map(col): _*)

  /** General form: `keys` are the plain repartition expressions, `sort`
    * the (possibly desc/asc-qualified) sort order — same total order as
    * `df.orderBy(sort: _*)`. */
  def sortedOut(df: DataFrame, keys: Seq[Column], sort: Seq[Column]): DataFrame =
    df.repartition(keys: _*).orderBy(sort: _*)
}

object Tables {
  /** r11: spread a SMALL single-split scan across the cores. Parquet scan
    * tasks split at row-group boundaries, and a table below
    * `spark.sql.files.maxPartitionBytes` (or written as one row group —
    * the driver fixtures) plans a ONE-TASK scan, serializing the query's
    * map side onto one core. When the file is that small, a round-robin
    * exchange of its rows costs microseconds and un-serializes everything
    * above it; at production scale the condition is false (the scan
    * already has many splits) and the spread is a no-op. The threshold is
    * Spark's own `spark.sql.files.maxPartitionBytes`.
    *
    * Applied PER QUERY, only above heavy per-row compute (the JPEG codec
    * map stages, IVF assignment): a library-wide spread in [[table]] was
    * measured and REJECTED — queries whose first real operator is an
    * aggregation or window lost more to the extra raw-row exchange than
    * the parallel map side returned (36-query sample: codec queries -9 s
    * each, but q189 +9.4 s, q196 +5.2 s, q99 +4.8 s; net +28.6 s). */
  def spreadSmall(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame = {
    val maxB = spark.sessionState.conf.filesMaxPartitionBytes
    // r12 (ADVICE): size via the Hadoop FileSystem, not java.io.File — a
    // directory-shaped parquet dataset sums its data files (File.length on
    // a directory returns the ~4 KB inode size, misclassifying any large
    // table as "small"), and hdfs:// / s3:// paths resolve instead of
    // silently returning 0. The threshold now means the same thing on
    // every filesystem and layout.
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      }
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    if (bytes > 0 && bytes <= maxB)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /**
   * Load one driver test table. `events.ts` is TIMESTAMP(NANOS) parquet,
   * which Spark 4 refuses outright (PARQUET_TYPE_ILLEGAL); read it as a raw
   * nanosecond long (legacy nanosAsLong) and rebuild the micros-precision
   * TimestampType column — the same truncation DuckDB's `ts::TIMESTAMP`
   * performs, so oracle comparisons agree.
   */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the query layer's one registration: every query loads a table before
    // it names a native function in selectExpr / expr
    graft.functions.NativeFunctions.register(spark)
    val loaded = if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        // TIMESTAMP(NANOS) file: raw nanos long -> truncate to micros
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
        // TIMESTAMP(MICROS) file (driver generators vary round to round):
        // already micros precision; NTZ -> TimestampType is exact under the
        // repo's pinned-UTC session, matching DuckDB's naive-as-UTC epoch_ms
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
    loaded
  }
}
