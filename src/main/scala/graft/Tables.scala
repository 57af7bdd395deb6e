package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Column-pruned parquet readers for the driver testdata layout
  * (`TESTDATA.md`): one parquet file per table under the sf dir.
  *
  * All readers return lazy DataFrames; Catalyst prunes columns and
  * pushes filters into the scan, so callers should select/filter
  * directly on these.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** The `events` changelog table, with `ts` normalized to a
    * nanosecond-epoch long regardless of how the driver generated the
    * parquet. Two generations exist: TIMESTAMP(NANOS) physical (read
    * as a raw ns long via `spark.sql.legacy.parquet.nanosAsLong`) and
    * TIMESTAMP(MICROS) physical (read as a timestamp, converted here
    * with integer `unix_micros * 1000` under the session's UTC zone —
    * no float math, so no low-order corruption). Either way the
    * DuckDB oracle's `epoch_us(ts)` agrees with `ts div 1000` exactly.
    *
    * Schema: event_id long, ts long (ns), user_id long,
    * event_type string, value double, props string.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ =>
        raw.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }

  /** `ts` as a µs TimestampType column (for streaming / window-by-time).
    * NOTE: integer `div`, not `/` — ns epochs (~1.7e18) overflow double
    * precision, so float division would corrupt low-order digits.
    */
  def eventsWithTimestamp(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).withColumn("ts_us", timestamp_micros(expr("ts div 1000")))

  /** Raise a frame's partition count to the session's default
    * parallelism ahead of a COMPUTE-HEAVY stage (r13 optimization
    * round, guide §2/§6): parquet scan parallelism is bounded by
    * row-group count, not `maxPartitionBytes`, so a small single-row-
    * group input runs everything up to the first exchange in ONE task
    * — measured: the n² cosine kernel of the exact k-NN graph build
    * spent 5.6 s in one task at sf0.1 while 31 cores idled. The
    * round-robin exchange is linear in the frame and is only added
    * when the frame's parallelism is BELOW the cluster's (at 100 TB
    * the scan already fans out and this is the identity — no shuffle
    * is ever added at scale). Results are partition-invariant; callers
    * must not use it under partition-id-dependent logic
    * (`spark_partition_id`, `input_file_name`).
    */
  def fanOut(df: DataFrame): DataFrame = {
    // r14 guard: `Dataset.rdd` under AQE materializes the physical
    // plan, EXECUTING every upstream shuffle stage — on a frame with
    // joins/aggregates upstream the probe ran the subtree twice per
    // query (r13 verdict, Dedup candidate pipeline; a scale hazard at
    // 100 TB). The probe is only free on narrow, scan-rooted plans
    // (scans/projects/filters/unions/generates/checkpoints), where
    // constructing the RDD runs no job — so restrict it to those and
    // return wide frames unchanged (their width is AQE's to size).
    import org.apache.spark.sql.catalyst.plans.logical._
    val narrow = df.queryExecution.logical.collect {
      case n @ (_: Join | _: Aggregate | _: Distinct | _: Deduplicate | _: Window | _: Sort |
          _: RepartitionOperation | _: GlobalLimit) => n
    }.isEmpty
    if (!narrow) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
    }
  }
}
