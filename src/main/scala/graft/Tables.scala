package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loaders for the driver's testdata tables.
  *
  * Mirrors the reference's table registration surface
  * (reference: tests/setup_tables.rs:26, docs/2_cli_create_tables.md) but
  * Spark-first: `spark.read.parquet` + temp views; sort-order /
  * partitioning hints are the planner's job (AQE + pushdown), not
  * manual registration flags.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Load one table. Single place to normalize schema quirks: the
    * `events.ts` column has shipped in two encodings across driver
    * generations — nanosecond-precision INT64 (which Spark rejects:
    * [PARQUET_TYPE_ILLEGAL]; read as long via the nanosAsLong legacy
    * conf and floor-converted with `ts div 1000`, long arithmetic so no
    * double-routed ulp drift) and plain timestamp[us] (arrives as
    * TIMESTAMP_NTZ; cast to session-TZ TIMESTAMP — a numeric no-op
    * under the UTC session). Both paths yield the identical
    * microsecond TIMESTAMP column, so queries are encoding-agnostic.
    * Queries that output raw timestamps truncate to whole seconds so
    * the DuckDB oracle agrees at any precision (SURVEY.md §5).
    */
  def df(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path(sfDir, name))
      val ts = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast("timestamp")
      }
      raw.withColumn("ts", ts)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    } else spark.read.parquet(path(sfDir, name))

  /** Register every table as a temp view named after the file. Idempotent. */
  def ensure(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => df(spark, sfDir, n).createOrReplaceTempView(n) }

  /** Fan a freshly-scanned frame out to the session's parallelism when
    * the file layout gives the scan fewer tasks than cores. The driver
    * testdata ships each table as ONE single-row-group parquet file, so
    * every scan is ONE task and per-row-heavy operators (decimal
    * rounding anchors, tokenization, per-row hashes) serialize on one
    * core — guide §2.5's input-skew case ("one huge unsplittable
    * file... repartition immediately after the read"). The gate is the
    * RUNTIME scan layout, not a constant: at production scale the scan
    * already has ≥ cores splits and this is the identity, and at the
    * driver's lower-core bench runs `defaultParallelism` follows the
    * master. Callers apply it only where measurement showed the
    * single-task scan dominating; results are unaffected (every
    * consumer is order-independent by the oracle discipline — exact
    * integer/decimal anchors, not fold-order-sensitive double sums).
    * Hash-distributes on a deterministic key when one is given (cheap,
    * retry-safe); keyless round-robin otherwise (pays the
    * sort-before-repartition tax, still deterministic). Returns `df`
    * itself when the scan is already wide enough. */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df
    else if (key.nonEmpty) df.repartition(want, key: _*)
    else df.repartition(want)
  }
}
