package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish corpus (one parquet per table;
  * see /root/repo/TESTDATA.md and FIXTURES.md §3).
  *
  * Every accessor is a plain parquet scan: filters and column pruning applied
  * by callers reach the scan via Catalyst pushdown (verified in
  * RelationalSpec's explain checks). At 100 TB these tables would be
  * partitioned (orders/lineitem by date, events by ts-day) and the same
  * accessors would pick up partition pruning for free — no operator below
  * hard-codes a layout assumption.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  /** events.ts arrives in different parquet vintages depending on the
    * writer: TIMESTAMP(NANOS) (which vanilla Spark rejects —
    * PARQUET_TYPE_ILLEGAL — so we read it as a raw nanos long via the
    * legacy conf), or naive timestamp[us] (which Spark 4 reads as
    * TIMESTAMP_NTZ). Normalize every shape to a µs TimestampType column:
    * the corpus only carries µs precision and the session timezone is
    * pinned to UTC, so both conversions are value-preserving and match
    * what DuckDB compares at. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, dir, "events"))
  }

  /** Normalize a raw events frame's `ts` to TimestampType (shared with the
    * streaming file source, which must read the raw schema). */
  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
    case _                => raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Unlock parallelism for CPU-heavy NARROW stages only when the scan
    * arrives under-split: a small local fixture is one parquet file (one
    * input split), so a scan-bound operator — per-window md5, regex
    * tokenization — runs its whole map stage on one core no matter how
    * many sit idle (measured: tx_cdc_chunks read a FLAT ~13 s wall at
    * sf0.1 AND 10× — the decade's extra work hid entirely inside idle
    * cores the base run never used). A 100 TB corpus arrives with
    * thousands of natural splits, where this repartition would be a full
    * shuffle of the raw text bought for nothing — so it is skipped
    * whenever the scan already has ≥ defaultParallelism splits (PlanSpec
    * pins the no-Exchange plan for a pre-split input). The probe is
    * metadata-only (the scan's partition count; no job runs).
    *
    * The partition count is EXPLICIT: a keyed `repartition(col)` without
    * one takes the session shuffle number and AQE's small-partition
    * coalescing then folds a KB-sized text shuffle straight back to one
    * partition (advisory size 64 MB ≫ any local fixture) — measured: the
    * un-counted form left tx_cdc_chunks' 13 s single-core wall exactly
    * where it was. An explicit count is exempt from AQE coalescing, and
    * the data volumes here are by definition tiny (the branch only runs
    * on under-split scans). */
  def spread(spark: SparkSession, df: DataFrame, key: String = "doc_id"): DataFrame =
    if (df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) df
    else df.repartition(spark.sparkContext.defaultParallelism, col(key))
}
