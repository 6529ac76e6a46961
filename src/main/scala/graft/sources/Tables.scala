package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the driver-generated parquet tables.
  *
  * All loaders are plain `spark.read.parquet` scans so Catalyst can push
  * filters/projections into the parquet reader. The only normalization
  * done here is the `events.ts` nanosecond timestamp: Spark's parquet
  * reader rejects INT64 TIMESTAMP(NANOS) unless
  * `spark.sql.legacy.parquet.nanosAsLong=true`, so we read it as a long
  * and expose BOTH the raw nanos (`ts_ns`, exact — for gap/session
  * arithmetic) and a truncated-to-micros TimestampType `ts` (matches
  * DuckDB's `CAST(ts AS TIMESTAMP)`).
  *
  * The nanosAsLong conf itself is set once at session build (see
  * [[Sessions.tune]], used by Verify / Bench / the test session) — a
  * loader must not mutate session-wide state as a side effect.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** events with `ts_ns: Long` (exact nanos) and `ts: Timestamp` (micros).
    *
    * Schema-adaptive: the driver's earlier testdata wrote `ts` as INT64
    * TIMESTAMP(NANOS) (read as a raw long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`, see [[Sessions.tune]]);
    * the current testdata writes plain `timestamp[us]` (no timezone →
    * TIMESTAMP_NTZ in Spark). Both normalize to the same two columns —
    * the NTZ wall-clock is interpreted in the session's UTC zone, so
    * `ts_us = unix_micros(ts)` equals DuckDB's `epoch_us(ts)` on the
    * same file, which is what every oracle compares against. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // legacy INT64 nanos
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // timestamp[us] (NTZ); exact micros → nanos
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
}

/** Session-level configuration shared by the entry points and tests. */
object Sessions {
  /** Confs every graft session needs; applied at build time so no query
    * or loader ever mutates a live session. */
  val required: Map[String, String] = Map(
    // custom functions + the scalar-cross-join rewrite rule, applied
    // at build time (the extension cannot attach to a live session)
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // events.parquet carries INT64 TIMESTAMP(NANOS); read as raw long
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone"           -> "UTC",
    // AQE re-plans at runtime: coalesces tiny shuffle partitions locally,
    // splits skewed ones on a real cluster
    "spark.sql.adaptive.enabled"           -> "true",
    // Streaming checkpoints here are EPHEMERAL replay scratch (temp
    // dirs, deleted on exit): the Spark 4 checksum layer — which
    // exists to catch silent corruption on long-lived remote
    // checkpoint storage — doubles the file count and fsyncs of every
    // state commit, and profiled as ~2.3× of streaming wall time at
    // sf0.1 (per-batch StreamingQueryProgress: range join 24.3 s →
    // 10.7 s from this conf alone). A durable production checkpoint
    // on object storage should keep it enabled.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // managed-table location for the bucketed-join path ([[Bucketed]]);
    // set at build time because the catalog pins it at first use
    "spark.sql.warehouse.dir"              -> "/tmp/graft_warehouse",
    // Spark keys its generated-class cache by the task thread's context
    // class loader, and artifact isolation gives every session (so every
    // streaming query's cloned session) its own ExecutorClassLoader: each
    // landing pass of stream_pipeline_e2e recompiled its task-side
    // classes, warm calls included. With one default loader for every
    // session (and the cache size below), a stream call after
    // pipeline_e2e_v2 at sf0.01 compiled 231-237 classes instead of 696, and
    // the mean compile fell from 14 ms to 9 ms (no ExecutorClassLoader
    // lookups). graft adds no session artifacts (ParScanSpec pins that),
    // so nothing leaks between sessions.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // the default 100-entry cache cannot hold one manifest deploy's
    // 41-42 classes plus those of the queries between deploys (158-177
    // for 12 metric queries at sf0.01), so every deploy recompiled all
    // of them. The largest measured working set is one corpus round:
    // 588 (loader, class) entries for pipeline_e2e_v2 then
    // stream_pipeline_e2e at sf0.01. 1,000 holds it with headroom:
    // deploys after the first compile 0 classes, a warm stream call
    // 13-19 (694 before).
    "spark.sql.codegen.cache.maxEntries"   -> "1000",
  )

  def tune(b: SparkSession.Builder): SparkSession.Builder =
    required.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The entry points' session: local mode on `SPARK_GRAFT_CPUS` cores
    * (default 4), shuffle width equal to the cores, no UI. */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    tune(SparkSession.builder().appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }
}
