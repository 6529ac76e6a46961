package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming over the `events` table.
  *
  * The batch loader ([[graft.sources.Tables.events]]) and this stream
  * share the same normalization (nanos → micros timestamp), so a
  * tumbling-window aggregation over the stream is batch-equivalent —
  * which is exactly what the `stream_windowed_agg` oracle checks.
  *
  * Scale design: file-source streaming reads incrementally
  * (maxFilesPerTrigger governs batch size on a real bucket), the
  * windowed aggregation is stateful with watermark-bounded state, and
  * `Trigger.AvailableNow` drains the backlog then stops — the pattern
  * for periodic large-scale backfill jobs.
  */
object EventStreams {

  /** Per-sfDir footer probe: file streams need an explicit schema, so
    * the adaptivity the batch loader gets for free from inference is
    * re-created by ONE batch footer read per directory (r9 ADVICE —
    * the previous hard-pinned NTZ schema silently failed on the
    * legacy-nanos testdata generation that Tables.events handles). */
  private val legacyCache = scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** True when `sfDir`'s events.parquet carries the legacy INT64
    * TIMESTAMP(NANOS) `ts` (surfaced as a raw long under the session's
    * nanosAsLong conf) rather than plain `timestamp[us]` (NTZ). */
  private def legacyNanos(spark: SparkSession, sfDir: String): Boolean =
    legacyCache.getOrElseUpdate(sfDir,
      spark.read.option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .schema("ts").dataType == LongType)

  /** Schema of the raw events parquet for THIS sfDir — `ts` is either
    * NTZ micros (current testdata) or a raw nanos long (legacy). Every
    * reader below normalizes it with [[tsUtc]], matching the batch
    * loader [[graft.sources.Tables.events]] on both generations. */
  def eventsSchema(spark: SparkSession, sfDir: String): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts",
      if (legacyNanos(spark, sfDir)) LongType else TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
  ))

  /** The raw `ts` normalized to session-UTC TimestampType at micro
    * precision: NTZ wall-clock cast, or legacy nanos truncated. */
  private def tsUtc(spark: SparkSession, sfDir: String): org.apache.spark.sql.Column =
    if (legacyNanos(spark, sfDir)) timestamp_micros(expr("ts div 1000"))
    else col("ts").cast("timestamp")

  /** Per-day tumbling-window counts/sums per event_type, computed by a
    * real streaming query (AvailableNow → memory sink), returned as a
    * batch DataFrame. Watermark bounds state so a continuous run would
    * not accumulate unbounded windows. */
  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of STATE partitions for the streaming family's stateful
    * operators. State partitioning is pinned at a query's first batch
    * from `spark.sql.shuffle.partitions`, and every batch commits one
    * delta file PER state store PER partition (a stream-stream join
    * keeps four stores per partition) — so the right width follows
    * STATE VOLUME, not batch shuffle width. The events state here is
    * tens of thousands of rows; 32-wide state quadruples the commit
    * fan-out for nothing (per-batch StreamingQueryProgress at sf0.1:
    * range join 10.7 s → 4.2 s from this sizing). A 100 TB deployment
    * with billions of state rows raises it, independently of the batch
    * width. */
  val StateParts = 8

  /** ADDITIVE counter stores at landing cadence, written as a per-batch
    * LEDGER instead of a read-modify-write fold. The old fold read the
    * whole store, re-aggregated history + batch, and did two parquet
    * round trips (`.next` then overwrite) EVERY batch; it was also not
    * crash-atomic under foreachBatch's at-least-once contract — a
    * retried batch re-folded its partials and double-counted. The
    * ledger writes the batch's keyed partial sums to `$path/b<batchId>`
    * with mode=overwrite: a retried batch overwrites ITS OWN entry
    * (idempotent, exactly-once effect), history is never re-read at
    * landing, and the fold happens ONCE at emission. Ledger entries are
    * one tiny keyed row-set per batch; [[ledgerCompact]] folds old
    * entries into a snapshot partition once the raw count passes its
    * threshold — the emission read stays (snapshot + recent)·|keys|,
    * never |batches|-sized. Only for stores NO later batch reads back;
    * mid-stream-consumed state (the append-only posting/signature
    * stores) keeps its existing shape.
    *
    * `compact` is the store's merge law (keyed sums / keyed minima /
    * bottom-k re-limit — anything with fold(fold(A) ∪ B) = fold(A ∪ B));
    * passing it bounds the store's directory count for the stream's
    * lifetime. */
  private[graft] def ledgerAppend(local: DataFrame, path: String, batchId: Long,
                           compact: Option[DataFrame => DataFrame] = None): Unit = {
    // materialize the keyed partial ONCE (it is a bounded aggregate —
    // |keys| rows) so the write job doesn't re-execute the whole
    // per-batch plan a second time; release it after the write (ADVICE
    // r16 — checkpointed blocks otherwise accumulate per batch for the
    // stream's lifetime)
    val part = local.localCheckpoint()
    try part.coalesce(1).write.mode("overwrite").parquet(s"$path/b$batchId")
    finally graft.ops.PlanBarrier.release(part)
    compact.foreach(f => ledgerCompact(local.sparkSession, path, f))
  }

  /** Raw ledger entries kept OUT of the snapshot: foreachBatch is
    * at-least-once, and a retried batch stays idempotent only while its
    * own `b<id>` dir still exists to overwrite — folding it into the
    * snapshot and then replaying it would double-count. Retries replay
    * the newest uncommitted batch (never one `keepRecent` commits
    * back), so keeping the tail raw preserves the exactly-once
    * effect. */
  private[graft] val LedgerKeepRecent = 4

  /** Compact a [[ledgerAppend]] store: fold every raw batch entry
    * except the `keepRecent` newest — plus any existing snapshot —
    * into ONE snapshot partition (`$path/snap`), then drop the folded
    * batch dirs. No-ops until the raw count passes 4·keepRecent, so
    * landing cadence pays a fold every ~3·keepRecent batches, not every
    * batch (the emission read stays bounded by snap + 4·keepRecent tiny
    * dirs either way; the wider trigger just amortizes the fold jobs —
    * r17: the 2·keepRecent trigger cost the short-run streaming keys
    * 2-4 extra fold jobs each for no bound improvement). The snapshot
    * holds pre-folded rows in the entry schema, so every consumer's
    * recursive read + merge law is unchanged.
    *
    * The swap stages into an underscore-prefixed temp dir (hidden from Spark's
    * file lister, so a crashed compaction can never double-read) and
    * finishes with local renames; a distributed deployment would run
    * the same fold through its table format's transactional commit. */
  private[graft] def ledgerCompact(ss: SparkSession, path: String,
                            fold: DataFrame => DataFrame,
                            keepRecent: Int = LedgerKeepRecent): Unit = {
    val root = new java.io.File(path)
    val tmp = new java.io.File(root, "_snap_tmp")
    if (tmp.exists()) deleteRec(tmp) // crashed-compaction leftover
    val batches = Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("b\\d+"))
      .sortBy(f => f.getName.drop(1).toLong)
    if (batches.length > 4 * keepRecent) {
      val toFold = batches.dropRight(keepRecent)
      val snapDir = new java.io.File(root, "snap")
      val srcs = toFold.map(_.getPath).toIndexedSeq ++
        Option.when(snapDir.exists())(snapDir.getPath)
      fold(ss.read.parquet(srcs: _*))
        .coalesce(1).write.parquet(tmp.getPath)
      toFold.foreach(deleteRec)
      if (snapDir.exists()) deleteRec(snapDir)
      require(tmp.renameTo(snapDir), s"ledger compaction swap failed at $path")
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** The keyed-sum merge law most counter ledgers share — both the
    * emission fold ([[ledgerSums]]) and the compaction fold. */
  private[graft] def sumFold(keys: Seq[String], sums: Seq[String])
                     (df: DataFrame): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(sums.head).as(sums.head),
        sums.tail.map(c => sum(c).as(c)): _*)

  /** Fold a [[ledgerAppend]] store: sum every `sums` column per `keys`.
    * Emission-time only. */
  private[graft] def ledgerSums(ss: SparkSession, path: String, keys: Seq[String],
                         sums: Seq[String]): DataFrame =
    sumFold(keys, sums)(
      ss.read.option("recursiveFileLookup", "true").parquet(path))

  /** The landing-generation split point: docs below the threshold land
    * in generation 1, the rest in generation 2 (3/4 : 1/4). Reads ONE
    * pruned column off the source scan. */
  private def genThreshold(docs0: DataFrame, key: String = "doc_id"): Long =
    docs0.agg(expr(s"3*(max($key)+1) div 4").as("t")).head().getLong(0)

  /** The midpoint split of `key`'s range, `lo/2 + hi/2` (each half
    * taken first, so the sum cannot overflow). */
  private def midThreshold(df: DataFrame, key: String): Long = {
    val b = df.agg(min(key), max(key)).head()
    b.getLong(0) / 2 + b.getLong(1) / 2
  }

  /** One-scan two-generation staging: writes both landing generations
    * in a SINGLE corpus scan partitioned by generation; [[promoteGen]]
    * then renames each generation into the watched stage dir just
    * before its pass — the arrival simulation. Replaces the
    * localCheckpoint-the-whole-corpus + two-filtered-writes shape,
    * which pinned the full corpus text in executor memory (a
    * non-starter at 100 TB) and paid the cache scan twice. */
  private def stageGens(docs0: DataFrame, thr: Long, stage: String,
                        key: String, recordsPerFile: Long): Unit = {
    // several landing files, not one giant one: the micro-batch's map
    // parallelism is bounded by file/row-group splits, and real landing
    // zones arrive as many objects anyway. Size by ROW WEIGHT — the
    // default suits text-heavy documents; narrow row-heavy tables
    // (events, orders) pass a larger figure so the file count stays
    // O(10), not O(100) (file-source listing is per-file work).
    docs0.withColumn("__gen", when(col(key) < thr, 1).otherwise(2))
      .write.option("maxRecordsPerFile", recordsPerFile)
      .partitionBy("__gen").parquet(s"$stage.parts")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
  }

  /** Make generation `gen` visible to the file-source stream (local
    * rename; a distributed deployment promotes via its committer).
    * `partitionBy("__gen")` writes NO directory for an empty
    * generation (a degenerate threshold or tiny corpus), so a missing
    * source dir promotes as an empty pass, not a failure (ADVICE
    * r16). */
  private def promoteGen(stage: String, gen: Int): Unit = {
    val src = new java.io.File(s"$stage.parts/__gen=$gen")
    val dst = new java.io.File(s"$stage/gen$gen")
    if (src.exists()) require(src.renameTo(dst),
      s"failed to promote generation $gen into $stage")
    else { java.nio.file.Files.createDirectories(dst.toPath); () }
  }

  /** The landing loop of every two-generation streaming operator:
    * stages `raw` split at `thr` on `key` ([[stageGens]]), then for
    * generation 1 and 2 promotes it ([[promoteGen]]) and runs the
    * per-generation pass on the stage dir's file stream, whose schema is
    * `raw`'s own. Both passes use the caller's one checkpoint, so each
    * reads only the files its generation added.
    *
    * `perGen` is evaluated ONCE, alongside the staging write (a
    * [[graft.exec.Par]] branch): an operator with a model frozen at
    * generation 1 builds it in front of the pass function it returns,
    * and the build overlaps staging. */
  private def landGens(spark: SparkSession, raw: DataFrame, thr: Long,
                       stage: String, key: String = "doc_id",
                       recordsPerFile: Long = 2048L)
                      (perGen: => DataFrame => Unit): Unit = {
    val (_, pass) = graft.exec.Par.both(
      stageGens(raw, thr, stage, key, recordsPerFile), perGen)
    val src = spark.readStream.schema(raw.schema)
      .option("recursiveFileLookup", "true").parquet(stage)
    for (gen <- 1 to 2) { promoteGen(stage, gen); pass(src) }
  }

  /** Runs `body` with shuffle partitions scoped to [[StateParts]] and
    * restores the session's batch width after. The conf is session-wide,
    * so the invariant is that no job of this caller's runs past either
    * switch: the body drains its streaming queries before returning, and
    * every overlapped job it starts lives in a [[graft.exec.Par]] scope
    * that closes inside the body. */
  private def withStateParts[T](spark: SparkSession)(body: => T): T = {
    val key  = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StateParts)
    try body finally spark.conf.set(key, prev)
  }

  /** Drains a stream: starts `writer` with an AvailableNow trigger under
    * [[withStateParts]] and blocks until it terminates. Every streaming
    * query here runs through it. `writer` is evaluated inside the scoped
    * width, so whatever it plans on the way (a history snapshot) plans
    * at the state width too. */
  private def drain(spark: SparkSession)(writer: => DataStreamWriter[_]): Unit =
    withStateParts(spark) {
      writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
    }

  /** Drains `src` through `foreachBatch` with checkpoint `ckpt`. `f` is
    * evaluated once per drain, at its start (see [[drain]]). */
  private def eachBatch(spark: SparkSession, src: DataFrame, ckpt: String,
                        mode: String = "append")
                       (f: => (DataFrame, Long) => Unit): Unit =
    drain(spark)(src.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt).foreachBatch(f))

  /** Drains an append-mode stream into a parquet file sink under `out`
    * (executor-side writes, never driver memory) and reads it back. */
  private def runToFileSink(spark: SparkSession, stream: Dataset[_],
                            out: java.nio.file.Path): DataFrame = {
    drain(spark)(stream.writeStream.format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .outputMode("append"))
    spark.read.parquet(s"$out/data")
  }

  /** Shared stream head: the events file source (glob-filtered to the
    * one parquet), micros timestamp, 1-day watermark. */
  private def watermarkedEvents(spark: SparkSession, sfDir: String): DataFrame =
    spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", tsUtc(spark, sfDir))
      .withWatermark("ts", "1 day")

  /** Per-(day-window, type) grouping over the shared head. Callers
    * pick the aggregates. */
  private def dailyTypeGroups(spark: SparkSession, sfDir: String) =
    watermarkedEvents(spark, sfDir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))

  /** Runs an aggregate-only stream to a complete-mode memory sink and
    * returns the sink table — the sink never holds more than the
    * aggregate itself. */
  private def runToMemorySink(spark: SparkSession, agg: DataFrame,
                              tag: String): DataFrame = {
    val sink = s"graft_stream_${tag}_${runId.incrementAndGet()}"
    drain(spark)(agg.writeStream.format("memory").queryName(sink)
      .outputMode("complete"))
    spark.table(sink)
  }

  def windowedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = dailyTypeGroups(spark, sfDir)
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
    runToMemorySink(spark, stream, "windowed")
      .select(col("w.start").as("period"), col("event_type"),
        col("n_events"), round(col("sum_value"), 2).as("sum_value"))
      .orderBy("period", "event_type")
  }

  /** Streaming per-window top-k: the STREAM maintains the per-day
    * per-type counts (watermark-bounded state, complete-mode memory
    * sink — the sink only ever holds the days×types aggregate, never
    * event rows), and the rank-and-keep-k runs batch-side on that tiny
    * table. This is the continuous-dashboard pattern: the expensive
    * distributed count is incremental in the stream; the top-k is a
    * presentation step over the aggregate. */
  /** Streaming approximate-distinct users per day: the stream maintains
    * the mergeable HLL STATE — (day window, bucket) → max(rho), a
    * BOUNDED aggregate of ≤ days × 4096 rows — in the complete-mode
    * memory sink; the batch side only finishes the float estimate over
    * that m-sized state. This is the streaming shape exact
    * count_distinct cannot take (its state would be the full per-day
    * user SET); max-rho is associative/commutative, so every new
    * micro-batch folds in without replay. Same sketch, same estimator
    * and same portable hash as the batch m_sketch_distinct, so the
    * DuckDB oracle replays the estimate exactly. */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame = {
    val (b, r) = graft.ops.HllSketch.bucketRho(spark, col("user_id"))
    val state = watermarkedEvents(spark, sfDir)
      .select(col("ts"), b, r)
      .groupBy(window(col("ts"), "1 day").as("w"), col("bucket"))
      .agg(max("rho").as("rho"))
    val sink = runToMemorySink(spark, state, "hll")
    graft.ops.HllSketch.estimate(
        sink.select(col("w.start").as("period"), col("bucket"), col("rho")),
        Seq("period"))
      .withColumnRenamed("est", "est_users")
      .orderBy("period")
  }

  /** One AvailableNow refresh pass of the per-day HLL state stream
    * over `stageDir`: an UPDATE-mode windowed max-rho aggregation whose
    * changed rows land (via foreachBatch) as parquet DELTAS in
    * `deltaDir`. The checkpoint's file-source log guarantees a later
    * pass reads ONLY files that arrived since the last one — history
    * is never re-read — and the state store carries the per-(day,
    * bucket) maxima across passes. Because max-rho state is mergeable,
    * even a window evicted by the watermark and re-opened by late data
    * only appends another delta that the max-merge absorbs; no delta
    * ordering or dedup is ever needed. */
  def hllRefreshPass(spark: SparkSession, stageDir: String,
                     ckptDir: String, deltaDir: String): Unit = {
    val (b, r) = graft.ops.HllSketch.bucketRho(spark, col("user_id"))
    // narrow schema: the sketch only needs (ts, user_id); staged files
    // written by distinctUsersIncremental carry exactly these, with ts
    // pre-normalized to epoch MICROS longs at staging time
    // the staged column is NAMED for its unit (ts_us) so a stage dir
    // written under a different unit convention fails the schema read
    // loudly instead of being silently misread 1000× off (r9 ADVICE)
    val stageSchema = StructType(Seq(
      StructField("ts_us", LongType), StructField("user_id", LongType)))
    val agg = spark.readStream
      .schema(stageSchema)
      .option("recursiveFileLookup", "true")
      .parquet(stageDir)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 day")
      .select(col("ts"), b, r)
      .groupBy(window(col("ts"), "1 day").as("w"), col("bucket"))
      .agg(max("rho").as("rho"))
    eachBatch(spark, agg, ckptDir, "update") { (batch, _) =>
      batch.select(col("w.start").as("period"), col("bucket"), col("rho"))
        .write.mode("append").parquet(deltaDir)
    }
  }

  /** Streaming per-source distinct-content refresh: the corpus lands
    * in TWO generations (split at the doc_id midpoint, exactly like
    * the batch hll_source_snapshots) staged as narrow
    * (source, md5(text)) files; both AvailableNow passes share one
    * checkpoint, so pass 2 reads ONLY generation 2's files. Each pass
    * is the per-SOURCE sibling of [[hllRefreshPass]]: state is the
    * (source, bucket) → max(rho) grid — bounded at sources × 4096
    * whatever the corpus size — maintained by an update-mode
    * aggregation (no window: the group key is a dimension, not time)
    * whose changed rows append as parquet deltas.
    * Mergeability of max-rho state makes the two-pass result equal the
    * one-shot estimate over the full corpus — which is its oracle. */
  def sourceDistinctIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_hll_src_refresh")
    val (stage, ckpt, delta) = (s"$base/stage", s"$base/ckpt", s"$base/delta")
    val raw = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5(col("text").cast("binary")).as("k"))
    // one text scan stages both generations; the pass's projection
    // prunes the staged doc_id column at read time
    landGens(spark, raw, midThreshold(raw, "doc_id"), stage) { src =>
      val (b, r) = graft.ops.HllSketch.bucketRho(spark, col("k"))
      val agg = src.select(col("source"), b, r)
        .groupBy("source", "bucket")
        .agg(max("rho").as("rho"))
      eachBatch(spark, agg, ckpt, "update") { (batch, _) =>
        batch.write.mode("append").parquet(delta)
      }
    }
    graft.ops.HllSketch.estimate(
        spark.read.parquet(delta).groupBy("source", "bucket")
          .agg(max("rho").as("rho")),
        Seq("source"))
      .withColumnRenamed("est", "est_distinct_texts")
      .orderBy("source")
  }

  /** Streaming vector-landing ingest for a frozen IVF index: the
    * cadence [[graft.ops.Similarity.frozenCellExpr]] exists for. The
    * 8-cell coarse quantizer trains ONCE on generation 1 (first three
    * quarters by vec_id — the ann_ivf_append convention); vectors then
    * land in two AvailableNow generations sharing one checkpoint, each
    * arriving row cell-assigned MAP-SIDE against the literal centroid
    * matrix (stateless, shuffle-free — raw vectors never join), and
    * the only streaming state is the per-cell occupancy counter pair
    * (n_vecs, n_landed) — bounded at `cells` rows whatever the corpus
    * size. Counters are monotone, so the max-merge over the appended
    * update-mode deltas provably equals the one-shot batch assignment
    * occupancy over the full corpus — which is its oracle. This is the
    * table emb_cell_drift's chi² reads at audit cadence; at 100 TB the
    * stream maintains it for free while shards land. */
  def ivfIngestOccupancy(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_ivf_ingest")
    val (stage, ckpt, delta) = (s"$base/stage", s"$base/ckpt", s"$base/delta")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4").as("t")).head().getLong(0)
    val raw = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.ops.Dedup.dot(col("v"), col("v"))))
    landGens(spark, raw, thr, stage, key = "vec_id") {
      // train once, reuse the literal-centroid column in both passes;
      // the quantizer build reads only gen-1 vectors — independent of
      // staging, so it overlaps the stage writes as a concurrent driver
      // job (guide §2.6; results identical, the train is deterministic)
      val cellCol = graft.ops.Similarity.frozenCellExpr(emb, cells = 8,
        buildFilter = col("vec_id") < thr)(col("v"), col("nrm"))
      src => {
        val agg = src.withColumn("cell", cellCol)
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("vec_id") >= thr, 1L).otherwise(0L)).as("n_landed"))
        eachBatch(spark, agg, ckpt, "update") { (batch, _) =>
          batch.write.mode("append").parquet(delta)
        }
      }
    }
    spark.read.parquet(delta).groupBy("cell")
      .agg(max("n_vecs").as("n_vecs"), max("n_landed").as("n_landed"))
      .orderBy("cell")
  }

  /** SEMANTIC dedup at landing cadence — dedup_semantic's incremental
    * member (the signature-store pattern with the VECTOR STORE as the
    * store): the coarse quantizer freezes at generation 1 (the
    * ann_ivf_append convention) with the cell count DERIVED from the
    * build-set size (Similarity.semCells, cells = max(4, ⌊√n_gen1⌋) —
    * the r15 scale dial; corpus growth past the frozen dial is exactly
    * what emb_cell_drift / stream_ivf_drift trigger a re-train for),
    * each landing vector is cell-assigned
    * MAP-SIDE against the literal centroid matrix (no join, no
    * shuffle of raw vectors for assignment), and one in-cell equi-join
    * against the store SNAPSHOT taken at pass start flags landed
    * vectors with a history neighbor at cosine ≥ threshold — snapshot
    * semantics make the result independent of micro-batch splits
    * (history = strictly prior generations; gen1 lands against the
    * empty store, so the flags are exactly gen2-vs-gen1). Only the
    * additive per-cell counters (n_vecs, n_hist_dup_vecs) fold; the
    * store grows by an O(Δ) append of the batch's vectors. */
  def semanticIngest(spark: SparkSession, sfDir: String,
                     threshold: Double = 0.35): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_sem_ingest")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (store, ctr) = (s"$base/store", s"$base/ctr")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4").as("t")).head().getLong(0)
    val raw = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.ops.Dedup.dot(col("v"), col("v"))))
    landGens(spark, raw, thr, stage, key = "vec_id") {
      // quantizer build overlaps staging (the ivfIngestOccupancy move)
      val cellCol = graft.ops.Similarity.frozenCellExpr(emb,
        cells = graft.ops.Similarity.semCells(emb, col("vec_id") < thr),
        buildFilter = col("vec_id") < thr)(col("v"), col("nrm"))
      src => eachBatch(spark, src.withColumn("cell", cellCol), ckpt) {
        // history = everything staged BEFORE this pass, frozen once
        val snapshot =
          if (new java.io.File(store).exists)
            spark.read.parquet(store)
              .select(col("cell"), col("v").as("hv"), col("nrm").as("hn"))
              .localCheckpoint(false)
          else spark.range(0).select(col("id").cast("int").as("cell"),
            lit(null).cast("array<double>").as("hv"),
            lit(null).cast("double").as("hn"))
        (batch0, bid) => {
          val batch = batch0.localCheckpoint(false) // counters AND store
          val hits = batch.join(snapshot, Seq("cell"))
            .filter(graft.ops.Dedup.dot(col("v"), col("hv"))
              / (col("nrm") * col("hn")) >= threshold)
            .select("cell", "vec_id").distinct()
            .groupBy("cell").agg(count(lit(1)).as("n_hist_dup_vecs"))
          val local = batch.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
            .join(hits, Seq("cell"), "left")
            .select(col("cell"), col("n_vecs"),
              coalesce(col("n_hist_dup_vecs"), lit(0L)).as("n_hist_dup_vecs"))
          ledgerAppend(local, ctr, bid, compact =
            Some(sumFold(Seq("cell"), Seq("n_vecs", "n_hist_dup_vecs"))))
          // O(delta) store growth: the batch's vectors with their cells
          batch.select("vec_id", "cell", "v", "nrm")
            .write.mode("append").parquet(store)
        }
      }
    }
    ledgerSums(spark, ctr, Seq("cell"), Seq("n_vecs", "n_hist_dup_vecs"))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("n_hist_dup_vecs"))
      .orderBy("cell")
  }

  /** Perceptual-hash dedup at LANDING cadence — mm_phash_incremental's
    * streaming member (completing the multimodal family's batch →
    * incremental → streaming column): each landing batch decodes and
    * aHashes ONLY its own images map-side (the typed mapPartitions
    * codec — 32 bytes of signature per image leave the scan), flags
    * batch images with a radius-3 history near-dup via the 4-chunk
    * pigeonhole equi-join against the signature-store SNAPSHOT taken
    * at pass start, and folds additive per-source (n_imgs,
    * n_hist_dup_imgs) counters. The store grows by an O(Δ) signature
    * append; history raw media is never re-read, and snapshot
    * semantics make the flags exactly gen2-vs-gen1 regardless of
    * micro-batch splits. */
  def phashIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_phash_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (store, ctr) = (s"$base/store", s"$base/ctr")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    def chunks(df: DataFrame): DataFrame = df.select(
      col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
        .as(Seq("ci", "cv")))
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) {
        // history = everything staged BEFORE this pass, frozen once
        val snapshot =
          if (new java.io.File(store).exists)
            chunks(spark.read.parquet(store))
              .select(col("ci"), col("cv"), col("c0").as("h0"),
                col("c1").as("h1"), col("c2").as("h2"), col("c3").as("h3"))
              .localCheckpoint(false)
          else spark.range(0).select(col("id").cast("int").as("ci"),
            lit(0L).as("cv"), lit(0L).as("h0"), lit(0L).as("h1"),
            lit(0L).as("h2"), lit(0L).as("h3"))
        (batch0, bid) => {
          val sigs = graft.ops.Multimodal.phashBatch(batch0).toDF()
            .select("doc_id", "c0", "c1", "c2", "c3")
            .join(batch0.select("doc_id", "source"), "doc_id")
            .localCheckpoint(false) // counters AND the store append
          val ham = (0 to 3).map(j =>
            bit_count(col(s"c$j").bitwiseXOR(col(s"h$j"))).cast("int"))
            .reduce(_ + _)
          val hits = chunks(sigs).join(snapshot, Seq("ci", "cv"))
            .filter(ham <= 3)
            .select("doc_id").distinct()
            .join(sigs.select("doc_id", "source"), "doc_id")
            .groupBy("source").agg(count(lit(1)).as("n_hist_dup_imgs"))
          val local = sigs.groupBy("source").agg(count(lit(1)).as("n_imgs"))
            .join(hits, Seq("source"), "left")
            .select(col("source"), col("n_imgs"),
              coalesce(col("n_hist_dup_imgs"), lit(0L)).as("n_hist_dup_imgs"))
          ledgerAppend(local, ctr, bid, compact =
            Some(sumFold(Seq("source"), Seq("n_imgs", "n_hist_dup_imgs"))))
          // O(delta) store growth: the batch's 32-byte signatures
          sigs.select("doc_id", "c0", "c1", "c2", "c3")
            .write.mode("append").parquet(store)
        }
      }
    }
    ledgerSums(spark, ctr, Seq("source"), Seq("n_imgs", "n_hist_dup_imgs"))
      .orderBy("source")
  }

  /** Streaming application of the LEARNED quality gate while shards
    * land ([[graft.ops.QualityClf]] frozen at generation 1 — the
    * frozen-model convention of [[ivfIngestOccupancy]] / ann_ivf_append
    * applied to the classifier instead of the quantizer): the
    * perceptron trains ONCE on the first three quarters of docs by
    * doc_id; each landing batch is then scored against the broadcast
    * ≤ buckets+1-row weight table INSIDE foreachBatch — per-doc margins
    * are batch-local work (group the batch's feature pairs; per-doc
    * aggregation state never enters the streaming state store), and
    * only the ADDITIVE agreement counters (rule_keep × clf_keep cells,
    * + the landed-generation count) fold into the persisted store.
    * State is bounded at 4 rows however many shards land; each doc is
    * staged exactly once, so the counter fold provably equals the
    * one-shot batch scoring of the full corpus — which is its oracle. */
  def qualityScoreIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_qclf_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val thr = genThreshold(docs)
    landGens(spark, docs, thr, stage) {
      // the frozen gen-1 train (8 serial corpus reductions) reads only
      // gen-1 docs — independent of staging, so it overlaps the stage
      // writes as a concurrent driver job (§2.6); the trainer is
      // integer-deterministic, results unchanged
      val w = graft.ops.QualityClf.train(docs.filter(col("doc_id") < thr))._2
        .localCheckpoint(false) // frozen gen1 model, reused by every batch
      src => eachBatch(spark, src, ckpt) { (batch, bid) =>
        val marg = graft.ops.QualityClf.margins(
          graft.ops.QualityClf.features(batch), w)
        val local = graft.ops.QualityClf.labels(batch)
          .join(marg, "doc_id")
          .select(
            when(col("y") === 1, 1L).otherwise(0L).as("rule_keep"),
            when(col("marg") > 0, 1L).otherwise(0L).as("clf_keep"),
            when(col("doc_id") >= thr, 1L).otherwise(0L).as("landed"))
          .groupBy("rule_keep", "clf_keep")
          .agg(count(lit(1)).as("n_docs"), sum("landed").as("n_landed"))
        ledgerAppend(local, store, bid, compact =
          Some(sumFold(Seq("rule_keep", "clf_keep"),
            Seq("n_docs", "n_landed"))))
      }
    }
    ledgerSums(spark, store, Seq("rule_keep", "clf_keep"),
        Seq("n_docs", "n_landed"))
      .orderBy("rule_keep", "clf_keep")
  }

  /** DSIR scoring while shards land — [[graft.ops.Select.dsir]]'s
    * frozen-model streaming member (the [[qualityScoreIngest]]
    * convention applied to the importance-resampling ratio table): the
    * 64-bucket log-likelihood-ratio table is built ONCE from
    * generation 1 (target = gen 1's labeled-English slice, raw = all
    * of gen 1) and broadcast to every landing batch; per-doc scores
    * are batch-local work (explode → bucket → one batch-keyed agg),
    * quantized to the exact integer u4 = round(logw·10⁴) so the
    * per-source fold is integer-ADDITIVE — no float ever enters the
    * persisted store. A bucket absent from the frozen table
    * contributes 0 (the frozen-model convention; gen 1 covers all 64
    * here). The streaming stand-in for the batch key's global-rank
    * budget is the FIXED threshold logw ≥ 0 (more target-like than
    * raw): a rank needs the whole corpus, a threshold doesn't — the
    * trade a landing cadence accepts. Each doc is staged exactly once,
    * so the fold provably equals one-shot scoring of the full corpus
    * under the gen-1 table — which is the oracle. */
  def dsirIngest(spark: SparkSession, sfDir: String,
                 buckets: Int = 64, seed: Long = 37L): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_dsir_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"), col("text"))
    val thr = genThreshold(docs)
    val gen1 = docs.filter(col("doc_id") < thr)
    landGens(spark, docs.drop("lang"), thr, stage) {
      // frozen gen-1 ratio table, reused by every batch — built
      // concurrently with staging (the qualityScoreIngest move)
      val lr = graft.ops.Select.ratioFromCounts(
          graft.ops.Select.docBucketCounts(gen1, buckets, seed),
          gen1.filter(expr("lang = 'en'")).select("doc_id"), buckets)
        .localCheckpoint(false)
      src => eachBatch(spark, src, ckpt) { (batch0, bid) =>
        val batch = batch0.localCheckpoint(false) // scored + joined back
        val u4 = graft.ops.Select.docBucketCounts(batch, buckets, seed)
          .join(broadcast(lr), "b")
          .groupBy("doc_id")
          .agg(round(sum(col("c") * col("lr")) * 10000).cast("bigint").as("u4"))
        // ADVICE r14: LEFT join back so a doc whose every bucket is
        // absent from the frozen gen-1 table (or that has no tokens)
        // still lands in n_docs with score 0 — the documented
        // absent-bucket-contributes-0 convention made total
        val local = batch.select("doc_id", "source")
          .join(u4, Seq("doc_id"), "left")
          .withColumn("u4", coalesce(col("u4"), lit(0L)))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") >= thr, 1L).otherwise(0L)).as("n_landed"),
            sum(when(col("u4") >= 0, 1L).otherwise(0L)).as("n_sel"),
            sum("u4").as("sum_u4"))
        ledgerAppend(local, store, bid, compact =
          Some(sumFold(Seq("source"),
            Seq("n_docs", "n_landed", "n_sel", "sum_u4"))))
      }
    }
    ledgerSums(spark, store, Seq("source"),
        Seq("n_docs", "n_landed", "n_sel", "sum_u4"))
      .withColumn("avg_logw",
        round(col("sum_u4") / (col("n_docs") * 10000.0), 4))
      .select("source", "n_docs", "n_landed", "n_sel", "sum_u4", "avg_logw")
      .orderBy("source")
  }

  /** PII scrub counters at LANDING cadence — text_pii_scrub's
    * streaming member: every emitted column of the batch key is an
    * additive integer except the derived clean_rate, so each landing
    * batch computes its per-source counters MAP-SIDE
    * ([[graft.ops.TextAnalysis.piiCounters]] — regex detect + redact +
    * residual re-scan, all per-row) and folds them into the persisted
    * store by plain sums; clean_rate is re-derived at emission. Each
    * doc staged exactly once ⇒ the fold equals the one-shot key row
    * for row (shared oracle + StreamingSpec pin). The PII injection
    * rides doc_id, so landing order cannot change any counter. */
  def piiIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_pii_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val sums = Seq("n_docs", "n_docs_pii", "n_email", "n_ip", "n_phone",
      "n_card", "n_card_reject", "chars_cut", "n_residual")
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        // per-batch partials land as an idempotent ledger entry —
        // a retried batch overwrites its own, never double-counts
        ledgerAppend(graft.ops.TextAnalysis.piiCounters(batch), store, bid,
          compact = Some(sumFold(Seq("source"), sums)))
      }
    }
    ledgerSums(spark, store, Seq("source"), sums)
      .withColumn("clean_rate",
        round(lit(1.0) - col("n_docs_pii") / col("n_docs"), 4))
      .select((Seq("source") ++ sums ++ Seq("clean_rate")).map(col): _*)
      .orderBy("source")
  }

  /** Token-budget selection at LANDING cadence — corpus_select_budget's
    * streaming member (VERDICT r16 item 7): the greedy per-source
    * quality-prefix cut re-derived from FOLDED stores instead of a
    * per-generation corpus recompute.
    *
    * The insight that makes the cut foldable: quality_score is
    * round(·, 4), so scores live on the BOUNDED integer dial
    * u4 ∈ [0, 10000] (round is injective and order-preserving onto
    * it). Each landing batch therefore scores only its own docs
    * (map-side) and folds TWO stores:
    *   - the (source, qs_u4) → (n_docs, sum_chars) histogram — an
    *     additive ledger (+compaction), ≤ |sources|·10001 rows of
    *     state no matter the corpus;
    *   - a compact per-doc quality-metadata table (doc_id, source,
    *     qs_u4, n_chars — ~24 bytes/doc, never the text), O(Δ)
    *     appends — the store a scoring pipeline persists anyway.
    *
    * Emission re-derives the cut WITHOUT rescanning the corpus: the
    * per-source exclusive bucket prefix is a window over the bounded
    * histogram; buckets with prefix+sum ≤ budget are fully selected by
    * algebra; the single crossing bucket per source (prefix < budget <
    * prefix+sum) is resolved EXACTLY by pulling just its docs from the
    * metadata store (broadcast semi-join on ≤ |sources| bucket keys,
    * then a TopK.perGroup prune to the ≤ budget docs that can still
    * have prior < budget — each selected doc costs ≥ 1 char — so the
    * within-bucket cumsum window runs over ≤ budget rows per source,
    * a dial, not the corpus). Identical by construction to the batch
    * key's (qs DESC, doc_id) running sum; the shared oracle and the
    * StreamingSpec pin hold it to that row for row. */
  def budgetSelectIngest(spark: SparkSession, sfDir: String,
                         budget: Long = 25000L): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_budget_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (histDir, metaDir) = (s"$base/hist", s"$base/meta")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        val scored = graft.ops.TextAnalysis.quality(batch)
          .join(batch.select("doc_id", "source"), "doc_id")
          .select(col("doc_id"), col("source"),
            round(col("quality_score") * 10000).cast("long").as("qs_u4"),
            col("n_chars").cast("long").as("n_chars"))
          .localCheckpoint(false) // histogram fold AND metadata append
        ledgerAppend(scored.groupBy("source", "qs_u4")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_chars").as("sum_chars")),
          histDir, bid,
          compact = Some(sumFold(Seq("source", "qs_u4"),
            Seq("n_docs", "sum_chars"))))
        scored.coalesce(4).write.mode("append").parquet(metaDir)
      }
    }
    val W = org.apache.spark.sql.expressions.Window
    val hist = ledgerSums(spark, histDir, Seq("source", "qs_u4"),
        Seq("n_docs", "sum_chars"))
      .localCheckpoint(false) // prefix window, boundary pick, rollup
    // per-source exclusive prefix over the BOUNDED histogram (≤
    // |sources|·10001 rows — the dial-bounded-window doctrine)
    val pref = hist.withColumn("p", coalesce(
        sum("sum_chars").over(W.partitionBy("source")
          .orderBy(col("qs_u4").desc)
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint(false) // full-bucket rollup AND boundary key
    // prefix+sum ≤ budget ⇒ even the bucket's LAST doc has prior <
    // budget ⇒ fully selected, by algebra alone
    val fullAgg = pref.filter(col("p") + col("sum_chars") <= budget)
      .groupBy("source").agg(sum("n_docs").as("fn"),
        sum("sum_chars").as("fchars"))
    // the one crossing bucket per source: prefix < budget < prefix+sum
    val boundary = pref
      .filter(col("p") < budget && col("p") + col("sum_chars") > budget)
      .select("source", "qs_u4", "p")
    val bDocs = spark.read.parquet(metaDir)
      .join(broadcast(boundary), Seq("source", "qs_u4"))
    // prune before the cumsum: a selected doc costs ≥ 1 char, so only
    // the budget smallest doc_ids can still land under the line
    val bSel = graft.ops.TopK.perGroup(bDocs, Seq(col("source")),
        Seq(col("doc_id").asc), k = budget.toInt)
      .withColumn("prior", col("p") + coalesce(
        sum("n_chars").over(W.partitionBy("source").orderBy("doc_id")
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .filter(col("prior") < budget)
      .groupBy("source")
      .agg(count(lit(1)).as("bn"), sum("n_chars").as("bchars"))
    hist.groupBy("source").agg(sum("n_docs").as("n_candidates"))
      .join(fullAgg, Seq("source"), "left")
      .join(bSel, Seq("source"), "left")
      .select(col("source"), col("n_candidates"),
        (coalesce(col("fn"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("n_selected"),
        (coalesce(col("fchars"), lit(0L)) + coalesce(col("bchars"), lit(0L)))
          .as("chars_selected"))
      .orderBy("source")
  }

  /** The landing both curriculum members share: each batch scores its
    * own docs and folds the qu4 → (n_docs, sum_tokens) histogram ledger
    * plus the compact per-doc (doc_id, n_tokens, qu4) metadata append. */
  private def landQualityHistogram(spark: SparkSession, docs: DataFrame,
                                   stage: String, ckpt: String,
                                   histDir: String, metaDir: String): Unit =
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        val scored = graft.ops.TextAnalysis.quality(batch)
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            round(col("quality_score") * 10000).cast("long").as("qu4"))
          .localCheckpoint(false) // histogram fold AND metadata append
        ledgerAppend(scored.groupBy("qu4")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_tokens").as("sum_tokens")),
          histDir, bid,
          compact = Some(sumFold(Seq("qu4"),
            Seq("n_docs", "sum_tokens"))))
        scored.coalesce(4).write.mode("append").parquet(metaDir)
      }
    }

  /** Curriculum shard plan at LANDING cadence — corpus_curriculum's
    * streaming member (completing the selection layer's streaming
    * column alongside [[budgetSelectIngest]]): the (quality DESC,
    * doc_id) global rank cut into `nShards` equal-count shards,
    * re-derived from FOLDED stores instead of a per-generation corpus
    * recompute.
    *
    * Same bounded-dial insight as the budget member: quality_score is
    * round(·, 4), so scores live on qu4 ∈ [0, 10000] and each landing
    * batch folds a qu4 → (n_docs, sum_tokens) histogram ledger
    * (+compaction; ≤ 10001 rows of state) plus a compact per-doc
    * (doc_id, qu4, n_tokens) metadata append (~24 B/doc, never text).
    *
    * Emission re-derives the shard plan WITHOUT rescanning the corpus:
    * a qu4 bucket occupies the contiguous 0-based rank span
    * [p, p + n_docs) where p is the bucket's exclusive doc-count
    * prefix (one window over the bounded histogram). A bucket whose
    * span lands inside one shard contributes (n_docs, sum_tokens,
    * qu4) to that shard by pure algebra; only the ≤ nShards−1 buckets
    * STRADDLING a shard boundary need per-doc resolution — their docs
    * come from the metadata store (broadcast semi-join on the bucket
    * keys) and get within-bucket ranks from the two-level
    * [[graft.ops.Rank.perGroupRunningSum]] (count rank over doc_id —
    * no single-task sort even in the degenerate all-one-quality
    * corpus, where one bucket IS the corpus). Identical by
    * construction to the batch key's rank-then-bucket plan; the shared
    * oracle and a StreamingSpec pin hold it row for row. */
  def curriculumIngest(spark: SparkSession, sfDir: String,
                       nShards: Int = 8): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_curr_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (histDir, metaDir) = (s"$base/hist", s"$base/meta")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    landQualityHistogram(spark, docs, stage, ckpt, histDir, metaDir)
    val W = org.apache.spark.sql.expressions.Window
    val hist = ledgerSums(spark, histDir, Seq("qu4"),
        Seq("n_docs", "sum_tokens"))
      .localCheckpoint(false) // prefix window AND the total
    val tot = hist.agg(sum("n_docs").cast("long").as("n_total"))
    // exclusive doc-count prefix over the BOUNDED dial (≤ 10001 rows —
    // the dial-bounded-window doctrine)
    val pref = graft.ops.Scalars.withScalar(
        hist.withColumn("p", coalesce(
          sum("n_docs").over(W.orderBy(col("qu4").desc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L))),
        col("qu4"), tot, col("n_total"))
      .withColumn("s_first", expr(s"(p * $nShards) div n_total"))
      .withColumn("s_last",
        expr(s"((p + n_docs - 1) * $nShards) div n_total"))
      .localCheckpoint(false) // whole-bucket algebra AND crossing keys
    val whole = pref.filter(col("s_first") === col("s_last"))
      .groupBy(col("s_first").as("shard"))
      .agg(sum("n_docs").as("n_docs"), sum("sum_tokens").as("sum_tokens"),
        min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
    val crossKeys = pref.filter(col("s_first") =!= col("s_last"))
      .select("qu4", "p") // ≤ nShards − 1 rows
    val cDocs = spark.read.parquet(metaDir)
      .join(broadcast(crossKeys), "qu4")
    // within-bucket 0-based count rank by doc_id, decomposed (the
    // degenerate single-bucket corpus must not single-task sort)
    val ranked = graft.ops.Rank.perGroupRunningSum(
      cDocs.withColumn("one", lit(1L)), "qu4", "one",
      Seq(col("doc_id").asc), priorName = "rk0")
    val crossAgg = graft.ops.Scalars.withScalar(
        ranked, col("doc_id"), tot, col("n_total"))
      .withColumn("shard", expr(s"((p + rk0) * $nShards) div n_total"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
    whole.unionByName(crossAgg)
      .groupBy("shard")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("sum_tokens").cast("long").as("sum_tokens"),
        min("min_qu4").as("min_qu4"), max("max_qu4").as("max_qu4"))
      .orderBy("shard")
  }

  /** TOKEN-MASS curriculum at LANDING cadence —
    * corpus_curriculum_tokens' streaming member, completing the
    * selection layer's streaming column (budget / equal-count
    * curriculum / equal-token curriculum). Same two folded stores as
    * [[curriculumIngest]]; only the emission cut moves: a qu4 bucket
    * occupies the contiguous TOKEN span [tp, tp + sum_tokens) where tp
    * is its exclusive token prefix, a doc's shard is
    * (cum_before · nShards) div total_tokens, and a bucket whose whole
    * span (endpoint INCLUSIVE — a trailing zero-token doc's cum_before
    * can equal tp + sum_tokens, so the conservative test keeps it on
    * the per-doc path) lands in one shard contributes by algebra.
    * Boundary-straddling buckets resolve per doc with the two-level
    * [[graft.ops.Rank.perGroupRunningSum]] on n_tokens (the prior IS
    * the within-bucket token prefix), so cum_before = tp + prior
    * reproduces the batch key's global cumsum exactly — no single-task
    * sort even in the one-bucket corpus. Shared oracle + StreamingSpec
    * pin hold it to corpus_curriculum_tokens row for row. */
  def curriculumTokensIngest(spark: SparkSession, sfDir: String,
                             nShards: Int = 8): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_currtok_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (histDir, metaDir) = (s"$base/hist", s"$base/meta")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    landQualityHistogram(spark, docs, stage, ckpt, histDir, metaDir)
    val W = org.apache.spark.sql.expressions.Window
    val hist = ledgerSums(spark, histDir, Seq("qu4"),
        Seq("n_docs", "sum_tokens"))
      .localCheckpoint(false) // prefix window AND the total
    val tot = hist.agg(sum("sum_tokens").cast("long").as("tot_tokens"))
    // exclusive TOKEN prefix over the BOUNDED dial (≤ 10001 rows)
    val pref = graft.ops.Scalars.withScalar(
        hist.withColumn("tp", coalesce(
          sum("sum_tokens").over(W.orderBy(col("qu4").desc)
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L))),
        col("qu4"), tot, col("tot_tokens"))
      .withColumn("s_first", expr(s"(tp * $nShards) div tot_tokens"))
      .withColumn("s_last",
        expr(s"((tp + sum_tokens) * $nShards) div tot_tokens"))
      .localCheckpoint(false) // whole-bucket algebra AND crossing keys
    val whole = pref.filter(col("s_first") === col("s_last"))
      .groupBy(col("s_first").as("shard"))
      .agg(sum("n_docs").as("n_docs"), sum("sum_tokens").as("sum_tokens"),
        min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
    val crossKeys = pref.filter(col("s_first") =!= col("s_last"))
      .select("qu4", "tp") // ≤ nShards + a few boundary-tangent rows
    val cDocs = spark.read.parquet(metaDir)
      .join(broadcast(crossKeys), "qu4")
    // within-bucket exclusive token prefix by doc_id, decomposed
    val ranked = graft.ops.Rank.perGroupRunningSum(
      cDocs, "qu4", "n_tokens", Seq(col("doc_id").asc),
      priorName = "tprior")
    val crossAgg = graft.ops.Scalars.withScalar(
        ranked, col("doc_id"), tot, col("tot_tokens"))
      .withColumn("shard",
        expr(s"((tp + tprior) * $nShards) div tot_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
    whole.unionByName(crossAgg)
      .groupBy("shard")
      .agg(sum("n_docs").cast("long").as("n_docs"),
        sum("sum_tokens").cast("long").as("sum_tokens"),
        min("min_qu4").as("min_qu4"), max("max_qu4").as("max_qu4"))
      .orderBy("shard")
  }

  /** DoReMi at LANDING cadence — the mixture-reweighting twin of
    * [[dsirIngest]], and the purest instance of the store-fold
    * doctrine: DoReMi's ONLY corpus-scale reduction is the integer
    * (source, bucket) token-count grid plus per-source doc counts,
    * both ADDITIVE, so each landing batch folds its map-side counts
    * into the persisted store and the grid algebra
    * ([[graft.ops.Select.doremiFromCounts]] — mixture → KL →
    * multiplicative weights) re-runs from the folded store after the
    * last generation. Integer folds are exact, so the result IS
    * corpus_doremi row for row — the stream==batch convergence
    * contract (oracle = corpus_doremi's SQL verbatim; StreamingSpec
    * pins the equality engine-side too). */
  def doremiIngest(spark: SparkSession, sfDir: String, buckets: Int = 64,
                   seed: Long = 41L, rounds: Int = 3,
                   deltaDen: Long = 50L): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_doremi_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (cntStore, domStore) = (s"$base/cnt", s"$base/dom")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch0, bid) =>
        val batch = batch0.localCheckpoint(false) // counts + doc fold
        ledgerAppend(
          graft.ops.Select.domainBucketCounts(batch, buckets, seed),
          cntStore, bid,
          compact = Some(sumFold(Seq("source", "b"), Seq("c"))))
        ledgerAppend(
          batch.groupBy("source").agg(count(lit(1)).as("n_docs")),
          domStore, bid,
          compact = Some(sumFold(Seq("source"), Seq("n_docs"))))
      }
    }
    graft.ops.Select.doremiFromCounts(
        ledgerSums(spark, cntStore, Seq("source", "b"), Seq("c")),
        ledgerSums(spark, domStore, Seq("source"), Seq("n_docs"))
          .localCheckpoint(false),
        buckets, rounds, deltaDen)
      .orderBy("source")
  }

  /** SOFT-dedup weights at LANDING cadence — dedup_soft_weights'
    * streaming member, and with [[doremiIngest]] the purest instance
    * of the store-fold doctrine: SoftDeDup's ONLY corpus-scale state
    * is the per-doc distinct-8-gram POSTING table, which is
    * append-only by construction (a landing batch's postings never
    * rewrite history's — unlike the funnel, there is no survivor set
    * to re-derive), so each batch appends its (doc_id, gram-hash)
    * rows O(Δ) plus a doc-id row, and the whole weight algebra
    * (gram DF → per-doc mean commonness → 1/commonness weight)
    * re-runs from the folded store after the last generation. Per-doc
    * weights DO change retroactively as new landings raise gram DFs —
    * exactly why the weights must re-derive from the store rather
    * than fold per doc, and exactly what this key demonstrates. Gram
    * identity is the 64-bit portable hash (the signature-store
    * contract: the shared oracle replays STRING grams, so a collision
    * mismatches, never absorbs). Result == dedup_soft_weights row for
    * row (oracle shared verbatim + the StreamingSpec engine-side
    * pin). */
  def softWeightsIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_softw_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (postStore, docStore) = (s"$base/post", s"$base/docs")
    graft.functions.GraftHash64.register(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch0, _) =>
        val batch = batch0.localCheckpoint(false) // postings + doc list
        graft.ops.Dedup.shingleSets(batch, 8)
          .select(col("doc_id"), explode(col("sh")).as("g"))
          .select(col("doc_id"),
            call_function("graft_hash64", col("g"), lit(31L)).as("gh"))
          .coalesce(4).write.mode("append").parquet(postStore)
        batch.select("doc_id").coalesce(1)
          .write.mode("append").parquet(docStore)
      }
    }
    val post = spark.read.parquet(postStore).localCheckpoint(false)
    val dft = post.groupBy("gh").agg(count(lit(1)).as("df"))
    val per = post.join(dft, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("df").as("sum_df"))
    spark.read.parquet(docStore).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_df"), lit(0L)).as("sum_df"),
        when(col("n_grams") > 0,
          expr("(2*10000*sum_df + n_grams) div (2*n_grams)")).as("comm_u4"),
        when(col("n_grams") > 0,
          expr("(2*10000*n_grams + sum_df) div (2*sum_df)")).as("weight_u4"))
      .orderBy("doc_id")
  }

  /** Streaming substring-dedup ingest — the gram-hash store of
    * [[graft.ops.Suffix.substringIncremental]] maintained at landing
    * cadence (completing the signature-store triple the minhash and
    * phash families set: batch → incremental → streaming): each
    * landing batch computes its L-gram portable hashes MAP-SIDE
    * (per-doc lead window + one hash call), flags spans already in the
    * store SNAPSHOT taken at pass start (snapshot semantics make the
    * result independent of how the file source splits a generation
    * into micro-batches — history is strictly PRIOR generations), and
    * folds per-SOURCE (n_grams, n_hist_dup_starts) counters — bounded
    * at the source cardinality. The store grows by an O(Δ) anti-join
    * append of the batch's never-seen gram hashes; raw history is
    * never re-read. Generation 1 lands against an empty store (zero
    * history dups by construction), so the final counters equal the
    * one-shot gen1-frozen replay — which is the oracle. */
  def substringIngest(spark: SparkSession, sfDir: String,
                      spanLen: Int = 16): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_substr_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (grams, ctr) = (s"$base/grams", s"$base/ctr")
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) {
        // history = everything staged BEFORE this pass, frozen once
        val snapshot =
          if (new java.io.File(grams).exists)
            spark.read.parquet(grams).distinct().localCheckpoint(false)
          else spark.emptyDataFrame.withColumn("h", lit(0L)).select("h").limit(0)
        (batch, bid) => {
          val g = graft.ops.Suffix.gramHashes(batch, spanLen)
            .filter(col("full"))
            .join(batch.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", "h")
            .localCheckpoint(false) // counters AND the store append
          val hist = g.join(snapshot, Seq("h"), "left_semi")
            .groupBy("source").agg(count(lit(1)).as("n_hist_dup_starts"))
          val local = g.groupBy("source").agg(count(lit(1)).as("n_grams"))
            .join(hist, Seq("source"), "left")
            .select(col("source"), col("n_grams"),
              coalesce(col("n_hist_dup_starts"), lit(0L)).as("n_hist_dup_starts"))
          ledgerAppend(local, ctr, bid, compact =
            Some(sumFold(Seq("source"), Seq("n_grams", "n_hist_dup_starts"))))
          // O(delta) store growth: only the batch's never-seen hashes
          g.select("h").distinct()
            .join(snapshot, Seq("h"), "left_anti")
            .write.mode("append").parquet(grams)
        }
      }
    }
    ledgerSums(spark, ctr, Seq("source"), Seq("n_grams", "n_hist_dup_starts"))
      .orderBy("source")
  }

  /** The CAPSTONE FUNNEL at landing cadence — pipeline_e2e_v2's twin
    * (VERDICT r13 item 5): two staged generations land through an
    * AvailableNow file source; each landing batch is parsed ONCE into
    * the four append-only stores ([[graft.ops.FunnelStore.extract]] —
    * per-doc meta, shingle hashes, gram hashes with positions,
    * classifier features; O(Δ) appends of fixed-width rows, raw text
    * never re-read), and after each generation the full funnel
    * accounting is re-derived from the stores alone
    * ([[graft.ops.FunnelStore.dedup]], then
    * [[graft.ops.FunnelStore.funnel]]).
    *
    * Why re-derive instead of folding counters: the funnel's decisions
    * are GLOBAL — a landing shard can bridge two near-dup families and
    * evict a former root, raise a history doc's duplicated-span
    * coverage over the drop line, or displace a budget selection — so
    * no bounded per-key state can reproduce the one-shot result. Even
    * the stages that could fold per batch (raw counters, the exact-
    * dedup winners) are one aggregate over the meta store, so nothing
    * but the four stores is persisted: each generation re-derives
    * winners, substring coverage, near-dup pairs and connected
    * components in full. This operator's generations are ¾ and ¼ of
    * the corpus ([[genThreshold]]), where re-deriving only what a shard
    * touched measured slower than the full paths (pairs 2.2 vs 1.6 s,
    * CC 3.4 vs 1.9 s at sf0.1 — OPTIMIZATION_r18.md). The stores make
    * the re-derivation compact-integer work (the lakehouse shape global
    * pipeline stages actually run on); the final fold provably equals
    * the one-shot pipeline_e2e_v2 (StreamingSpec pins row-set
    * equality; the oracle is the batch funnel's replay verbatim). */
  def pipelineIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_pipe_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val dirs = Seq("meta", "shingles", "grams", "feat").map(n => s"$base/$n")
    val acctDir = s"$base/acct"
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    // landing-cadence accounting: the funnel re-derived from the stores
    // after every generation (a production run would publish this as
    // the corpus snapshot's audit table). The fold works compact
    // integer/hash stores, not raw text — the same state-volume-sized
    // width the passes use (32-wide exchanges across the funnel's ~30
    // small aggregate stages are pure task overhead at this store size)
    def fold(): Unit = withStateParts(spark)(graft.exec.Par.scope { par =>
      val Seq(meta, sh, gr, fx) = dirs.map(spark.read.parquet(_))
      // the frozen classifier trains from the feature store + labels
      // ONLY — independent of the dedup/pair/CC chain, so it overlaps
      // it as a concurrent driver job; the trainer is integer-
      // deterministic, so the injected weights are byte-identical to
      // an inline train inside the funnel
      val train = par.fork(graft.ops.QualityClf.trainOnFeatures(fx,
        meta.select("doc_id", "y"))._2)
      val dd = graft.ops.FunnelStore.dedup(meta, gr)
      // the family collapse over the substring survivors runs as ONE
      // concurrent driver job: it reads only the checkpointed dedup
      // table and the shingle store, so the funnel's emission head
      // materializes under this chain's tail instead of after it; the
      // funnel forces the thunk at its near-dup stage, the first
      // consumer
      val clusters = par.fork {
        val s2 = dd.filter(col("keep")).select("doc_id")
        val pairs = graft.ops.Dedup.jaccardPairsFromPostings(
          sh.join(s2, "doc_id")).select("id1", "id2")
        graft.ops.Cluster.dedupClusters(s2, pairs)
          .localCheckpoint(false) // family-root filter AND the split join
      }
      graft.ops.FunnelStore
        .funnel(graft.ops.FunnelStore.Stores(meta, sh, gr, fx), dd,
          () => clusters.join(), () => train.join())
        .write.mode("overwrite").parquet(acctDir)
    })
    landGens(spark, docs, genThreshold(docs), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch0, _) =>
        // one cached copy of the landing text feeds all four extracts
        val batch = batch0.localCheckpoint(false)
        val st = graft.ops.FunnelStore.extract(batch)
        // compact appends: a landing shard writes a few well-sized
        // files per store, not one file per shuffle partition — the
        // small-files discipline layout_compaction_plan audits.
        // The four store writes are mutually independent, so they run
        // as concurrent driver-submitted jobs (later jobs back-fill the
        // tail of earlier ones)
        graft.exec.Par.scope { par =>
          Seq(st.meta, st.shingles, st.grams, st.feat).zip(dirs).foreach {
            case (df, dir) =>
              par.fork(df.coalesce(4).write.mode("append").parquet(dir))
          }
        }
      }
      fold()
    }
    spark.read.parquet(acctDir).orderBy("stage_idx")
  }

  /** Streaming maintenance of the hash-min bottom-k sample: the
    * sample_bottomk reservoir kept fresh across landing generations
    * WITHOUT rescanning history. Each AvailableNow pass reads only
    * newly staged files (checkpoint file log); foreachBatch reduces
    * the batch to its distributed LOCAL bottom-k (an orderBy+limit —
    * TakeOrderedAndProject partials, no full sort) and folds it into
    * the persisted k-row store by union + re-limit. Hash-min is
    * mergeable, so the store provably equals the one-shot bottom-k
    * over everything ever staged — which is its oracle — and each
    * fold rewrites O(k) rows, never the corpus. */
  def bottomKIncremental(spark: SparkSession, sfDir: String,
                         k: Int = 100): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_bk_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    graft.functions.GraftHash64.register(spark)
    val raw = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        call_function("graft_hash64", col("doc_id").cast("string"), lit(13L))
          .as("h"))
    landGens(spark, raw, midThreshold(raw, "doc_id"), stage) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        // hash-min bottom-k is mergeable: each batch ledgers its own
        // local k rows; the emission re-limit over |batches|·k rows
        // equals the one-shot bottom-k (idempotent under retry)
        // merge law: hash-min bottom-k is mergeable, so compaction's
        // re-limit over (snapshot ∪ folded entries) keeps exactly
        // the store's k candidate rows
        ledgerAppend(batch.orderBy(col("h").asc, col("doc_id")).limit(k),
          store, bid,
          compact = Some(_.orderBy(col("h").asc, col("doc_id")).limit(k)))
      }
    }
    spark.read.option("recursiveFileLookup", "true").parquet(store)
      .orderBy(col("h").asc, col("doc_id")).limit(k)
  }

  /** Streaming maintenance of the AMS F2 sketch — the linear-sketch
    * fold on the landing cadence: each staged generation's foreachBatch
    * reduces its rows to the 8-counter tug-of-war state (one scalar
    * aggregate, map-side partial sums) and folds into the persisted
    * 8-row store by PLAIN ADDITION — linearity is the whole merge
    * contract, so the store equals the one-shot sketch no matter how
    * history was sharded (StreamingSpec pins store == batch query).
    * O(8) state per fold; history never re-read. The exact-F2 audit
    * column is deliberately absent here: exact Σcount² cannot stream
    * in bounded state — that asymmetry is what the sketch is FOR. */
  def amsF2Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_ams_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    graft.functions.GraftHash64.register(spark)
    val raw = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id").cast("string").as("k"))
    landGens(spark, raw, midThreshold(raw, "event_id"), stage,
        key = "event_id", recordsPerFile = 65536L) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        val ss = batch.sparkSession
        graft.functions.GraftHash64.register(ss)
        def sign(j: Int) = lit(1L) - lit(2L) *
          pmod(call_function("graft_hash64", col("k"), lit((301 + j).toLong)), lit(2L))
        val xs = (0 until 8).map(j =>
          coalesce(sum(sign(j)), lit(0L)).as(s"x$j"))
        val local = batch.agg(xs.head, xs.tail: _*)
          .withColumn("n", lit(batch.count()))
          .select(col("n"),
            posexplode(array((0 until 8).map(j => col(s"x$j")): _*))
              .as(Seq("est_id", "x")))
          .select(col("est_id").cast("long").as("est_id"), col("x"), col("n"))
        // the sketch is LINEAR: per-batch states ledger and add at
        // emission (idempotent under retry)
        ledgerAppend(local, store, bid, compact =
          Some(sumFold(Seq("est_id"), Seq("x", "n"))))
      }
    }
    ledgerSums(spark, store, Seq("est_id"), Seq("x", "n"))
      .withColumn("x_sq", expr("x*x"))
      .withColumn("est_f2", expr("(2*sum(x_sq) OVER () + 8) div 16"))
      .select(col("est_id"), col("x"), col("x_sq"), col("est_f2"),
        col("n").as("n_rows"))
      .orderBy("est_id")
  }

  /** Streaming maintenance of the CUSUM monitor's state — the
    * changepoint detector on the landing cadence: the SEQUENTIAL
    * statistic itself cannot fold shard-by-shard (S_t depends on every
    * prior day in order, and a landing may backfill early days), but
    * its SUFFICIENT STATE — per-(event_type, day) counts — is plainly
    * additive, so each staged generation folds daily counts into the
    * persisted bounded store (types × days rows) by union + sum, and
    * the detector ([[graft.ops.Cusum.fromDaily]], the SAME fold the
    * batch query uses) derives the statistic from the store at read
    * time. The store provably equals the one-shot daily aggregation
    * over everything staged, so stream == batch row for row — which is
    * the oracle. History is never re-read; each fold rewrites the
    * day-table, never the corpus. */
  def cusumIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_cusum_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    val raw = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("dt"))
    landGens(spark, raw, midThreshold(raw, "event_id"), stage,
        key = "event_id", recordsPerFile = 65536L) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        // daily counts are additive state: ledger per batch, sum at
        // read time (idempotent under retry)
        ledgerAppend(batch.groupBy("event_type", "dt")
          .agg(count(lit(1)).as("y")), store, bid,
          compact = Some(sumFold(Seq("event_type", "dt"), Seq("y"))))
      }
    }
    graft.ops.Cusum.fromDaily(
      ledgerSums(spark, store, Seq("event_type", "dt"), Seq("y")))
  }

  /** Streaming data-quality gate — dq_expectations' ADDITIVE rules on
    * the landing cadence: each staged generation folds its violation
    * counters (null key, non-positive price, out-of-window date,
    * dangling customer FK) into the persisted one-row store by plain
    * addition; per-rule counts over the full history emerge without
    * re-reading it. The UNIQUENESS rule is deliberately absent: the
    * count−distinct gap is NOT additive across shards (a key
    * duplicated across two landings is invisible to per-shard
    * counters) — cross-shard uniqueness needs a keyed state store,
    * which is exactly dedup_incremental_store's contract, not a
    * counter fold. StreamingSpec pins the four streamed rules against
    * the batch dq_expectations rows. */
  def dqIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_dq_stream")
    val (stage, ckpt, store) = (s"$base/stage", s"$base/ckpt", s"$base/store")
    val custkeys = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey")).localCheckpoint(false)
    val raw = graft.sources.Tables.orders(spark, sfDir).select(
      col("o_orderkey"), col("o_custkey"),
      when(col("o_orderkey").isNull, 1L).otherwise(0L).as("v_null"),
      when(col("o_totalprice") <= 0, 1L).otherwise(0L).as("v_price"),
      when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2003-01-01").cast("timestamp"), 1L)
        .otherwise(0L).as("v_date"))
    landGens(spark, raw, midThreshold(raw, "o_orderkey"), stage,
        key = "o_orderkey", recordsPerFile = 65536L) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        val fk = batch.join(custkeys,
          batch("o_custkey") === custkeys("c_custkey"),
          "left_anti").agg(count(lit(1)).as("v_fk"))
        val counters = batch.agg(count(lit(1)).as("n"),
          sum("v_null").as("v_null"), sum("v_price").as("v_price"),
          sum("v_date").as("v_date"))
        val local = graft.ops.Scalars.withScalar(
          counters, col("n"), fk, col("v_fk"))
        ledgerAppend(local, store, bid, compact =
          Some(sumFold(Seq(),
            Seq("n", "v_null", "v_price", "v_date", "v_fk"))))
      }
    }
    ledgerSums(spark, store, Seq(),
        Seq("n", "v_null", "v_price", "v_date", "v_fk"))
      .select(posexplode(array(
        struct(lit("orderkey_not_null").as("rule"), col("v_null").as("v")),
        struct(lit("totalprice_positive").as("rule"), col("v_price").as("v")),
        struct(lit("orderdate_in_range").as("rule"), col("v_date").as("v")),
        struct(lit("custkey_references_customer").as("rule"), col("v_fk").as("v"))))
        .as(Seq("i", "r")), col("n"))
      .select(col("r.rule").as("rule"), col("n").as("n_checked"),
        col("r.v").as("n_violations"),
        (col("r.v") === 0L).cast("long").as("pass"))
      .orderBy("rule")
  }

  /** Streaming UNIQUENESS gate — the rule [[dqIncremental]] deliberately
    * omits, implemented the only way it can stream: a keyed PRESENCE
    * STORE, not a counter fold (the count−distinct gap is not additive
    * across shards). Per landing generation the foreachBatch folds
    * three ADDITIVE counters (rows, intra-batch duplicates, first-seen
    * keys) into the 1-row counter store, and APPENDS the batch's
    * never-seen-before distinct keys to the persisted key store — an
    * O(Δ) append decided by one anti-join against the store; history
    * is never re-read or rewritten. n_checked − n_unique then equals
    * the full-history count(*) − count(DISTINCT) under ANY sharding,
    * and n_cross_shard = violations − Σ intra-shard duplicates is
    * exactly the quantity per-shard counters are blind to — emitted so
    * the audit quantifies why the presence store must exist at all.
    * State: |distinct keys| rows (the irreducible uniqueness state,
    * same contract as dedup_incremental_store's signature store) plus
    * one counter row. At 100 TB the anti-join is a shuffle on the
    * fixed-width key — batch-sized left, store-sized right, both
    * hash-partitioned; the store append stays proportional to the
    * NEW keys in the landing, not the corpus. */
  def dqUniqueIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_dqu_stream")
    val (stage, ckpt) = (s"$base/stage", s"$base/ckpt")
    val (keys, ctr) = (s"$base/keys", s"$base/ctr")
    val raw = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"))
    landGens(spark, raw, midThreshold(raw, "event_id"), stage,
        key = "event_id", recordsPerFile = 65536L) { src =>
      eachBatch(spark, src, ckpt) { (batch, bid) =>
        val ss = batch.sparkSession
        val bk = batch.select(col("user_id")).distinct()
        // first-seen keys, exactly-once: the presence store is ALSO
        // batch-keyed (the ledger convention) — the anti-join reads
        // only STRICTLY-PRIOR batches' entries (a retried batch's own
        // failed-attempt entry is excluded, so it re-decides against
        // the same history and overwrites its own entry), and the
        // decision set is MATERIALIZED before the write
        val priorDirs = Option(new java.io.File(keys).listFiles())
          .map(_.collect {
            case f if f.isDirectory && f.getName != s"b$bid" => f.getPath
          }).getOrElse(Array.empty[String])
        val newKeys = (if (priorDirs.nonEmpty)
            bk.join(ss.read.parquet(priorDirs.toIndexedSeq: _*),
              Seq("user_id"), "left_anti")
          else bk).localCheckpoint(false)
        newKeys.coalesce(1).write.mode("overwrite").parquet(s"$keys/b$bid")
        val local = graft.ops.Scalars.withScalar(
            batch.agg(count(lit(1)).as("n"),
              count_distinct(col("user_id")).as("d")),
            col("n"),
            newKeys.agg(count(lit(1)).as("nu")), col("nu"))
          .select(col("n"), (col("n") - col("d")).as("intra"), col("nu"))
        ledgerAppend(local, ctr, bid, compact =
          Some(sumFold(Seq(), Seq("n", "intra", "nu"))))
      }
    }
    ledgerSums(spark, ctr, Seq(), Seq("n", "intra", "nu"))
      .select(lit("user_id_unique").as("rule"),
        col("n").as("n_checked"), col("nu").as("n_unique"),
        (col("n") - col("nu")).as("n_violations"),
        col("intra").as("n_intra_shard"),
        (col("n") - col("nu") - col("intra")).as("n_cross_shard"))
      .orderBy("rule")
  }

  /** Merge all appended state deltas and finish the HLL estimate —
    * the batch tail shared by every refresh cadence. */
  def hllRefreshEstimate(spark: SparkSession, deltaDir: String): DataFrame =
    graft.ops.HllSketch.estimate(
        spark.read.parquet(deltaDir).groupBy("period", "bucket")
          .agg(max("rho").as("rho")),
        Seq("period"))
      .withColumnRenamed("est", "est_users")
      .orderBy("period")

  /** Incremental streaming distinct-users refresh — the streaming
    * analog of m_incremental: the event history arrives in TWO
    * AvailableNow passes (days before the calendar midpoint, then the
    * rest, simulating a new day's files landing), sharing one
    * checkpoint. Pass 2 reads only the new files; the merged estimate
    * is provably identical to the one-pass [[distinctUsers]] because
    * the (day, bucket) → max(rho) state is mergeable by construction
    * (StreamingSpec pins the two-pass == one-pass property). */
  def distinctUsersIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val base = graft.sources.Scratch.dir("graft_hll_refresh")
    val (stage, ckpt, delta) =
      (s"$base/stage", s"$base/ckpt", s"$base/delta")
    val raw = spark.read.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events.parquet")
      // all the sketch needs — stage stays narrow; ts staged as micros
      .select(unix_micros(tsUtc(spark, sfDir)).as("ts_us"), col("user_id"))
      .localCheckpoint(false)  // one source scan feeds bounds + both stages
    val mid = midThreshold(raw, "ts_us")
    raw.filter(col("ts_us") < mid).write.parquet(s"$stage/day1")
    hllRefreshPass(spark, stage, ckpt, delta)
    raw.filter(col("ts_us") >= mid).write.parquet(s"$stage/day2")
    hllRefreshPass(spark, stage, ckpt, delta)
    hllRefreshEstimate(spark, delta)
  }

  /** Streaming CDC apply: an SCD2 dimension maintained by a STREAM of
    * update batches. Each micro-batch folds into the dimension with
    * [[graft.ops.Scd2.merge]] inside foreachBatch, writing a NEW
    * versioned snapshot (`v<batchId+1>`) — the batchId-named version
    * makes re-delivered batches idempotent (the snapshot already
    * exists → skip), which is exactly the Delta/Hudi commit pattern
    * expressed on plain parquet. Update files are staged in change
    * order and `maxFilesPerTrigger=1` makes each file one batch, so
    * per-key update order is preserved across batches.
    *
    * The final dimension must equal the batch `scd2_chain` result —
    * StreamingSpec and the SQL oracle both pin that equivalence. */
  def cdcApply(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.Tables
    val base = graft.sources.Scratch.dir("graft_cdc_apply")
    val (stage, ckpt, dims) = (s"$base/stage", s"$base/ckpt", s"$base/dim")
    val o = Tables.orders(spark, sfDir)
    val current = o.select(col("o_orderkey"),
      round(col("o_totalprice"), 2).as("price"),
      col("o_orderdate").cast("date").as("valid_from"),
      lit(null).cast("date").as("valid_to"))
    current.write.parquet(s"$dims/v0")
    // stage the two update waves IN ORDER (file mod-times drive the
    // file source's processing order)
    o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") + 100.0, 2).as("price"),
        date_add(col("o_orderdate"), 30).as("valid_from"))
      .coalesce(1).write.parquet(s"$stage/u1")
    o.filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), round(col("o_totalprice") + 200.0, 2).as("price"),
        date_add(col("o_orderdate"), 60).as("valid_from"))
      .coalesce(1).write.parquet(s"$stage/u2")
    // the file source orders same-batch files by mtime; two writes can
    // land in the same clock tick, making u1-before-u2 unspecified. Pin
    // the intended order with explicit, distinct, recent mtimes (recent
    // so FileStreamSource's maxFileAge can never age u1 out).
    val now = System.currentTimeMillis()
    for ((wave, t) <- Seq("u1" -> (now - 60000L), "u2" -> now);
         f <- new java.io.File(s"$stage/$wave").listFiles())
      f.setLastModified(t)
    val updSchema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("price", DoubleType),
      StructField("valid_from", DateType)))
    val stream = spark.readStream
      .schema(updSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(stage)
    eachBatch(spark, stream, ckpt) { (batch, id) =>
      val next = new java.io.File(s"$dims/v${id + 1}")
      if (!next.exists()) { // idempotent re-delivery
        graft.ops.Scd2.merge(
            spark.read.parquet(s"$dims/v$id"), batch, key = "o_orderkey")
          .write.parquet(next.toString)
      }
    }
    val latest = new java.io.File(dims).list().map(_.stripPrefix("v").toInt).max
    spark.read.parquet(s"$dims/v$latest")
      .withColumn("valid_to",
        coalesce(col("valid_to"), lit("9999-12-31").cast("date")))
      .orderBy("o_orderkey", "valid_from")
  }

  def windowTopK(spark: SparkSession, sfDir: String, k: Int = 3): DataFrame = {
    val stream = dailyTypeGroups(spark, sfDir)
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("period").orderBy(col("n_events").desc, col("event_type"))
    runToMemorySink(spark, stream, "topk")
      .select(col("w.start").as("period"), col("event_type"), col("n_events"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .orderBy("period", "rnk")
  }

  /** Streaming deduplication: the events stream is doubled (unioned
    * with itself — real duplicate records), then collapsed with
    * `dropDuplicatesWithinWatermark` on event_id; state for a key is
    * dropped once the watermark passes it, so dedup state is bounded
    * by the watermark horizon instead of growing forever — the
    * exactly-once-ingest pattern for at-least-once sources.
    *
    * The deduped EVENT-LEVEL stream goes to a distributed FILE sink
    * (executor-side parquet writes — never driver memory; an in-stream
    * append-mode aggregation after dedup would hold back the final
    * windows under AvailableNow because the watermark never passes
    * them). The per-type counts are then a normal distributed batch
    * job over the sink files and must equal the UNduplicated input
    * (SQL oracle) — count_distinct(event_id) independently re-checks
    * that no duplicate survived. */
  def dedupedCounts(spark: SparkSession, sfDir: String): DataFrame = {
    def src = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", tsUtc(spark, sfDir))
    val doubled = src.union(src)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")

    runToFileSink(spark, doubled, graft.sources.Scratch.dir("graft_stream_dedup_"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), count_distinct(col("event_id")).as("n_distinct"))
      .orderBy("event_type")
  }

  /** Stream-static join: the events STREAM enriches against a static
    * per-user dimension (lifetime order count/value from orders) — the
    * standard streaming-enrichment pattern; the static side re-plans
    * per micro-batch, so at scale it's a broadcast (small dim) or
    * shuffle (large dim) join chosen by the planner per batch, and the
    * result is batch-equivalent under AvailableNow (the SQL oracle).
    * The aggregation runs INSIDE the streaming query (complete mode),
    * so the memory sink only ever holds the event_type × has_orders
    * aggregate (≤ 2·|event types| rows) — never event-level rows.
    * Output: per event_type × has_orders flag, event count + value sum. */
  def enriched(spark: SparkSession, sfDir: String): DataFrame = {
    val users = graft.sources.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("lifetime_value"))
    val stream = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .join(users, Seq("user_id"), "left")
      .groupBy(col("event_type"), col("n_orders").isNotNull.cast("bigint").as("has_orders"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

    runToMemorySink(spark, stream, "enrich")
      .select(col("event_type"), col("has_orders"), col("n_events"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("event_type", "has_orders")
  }

  /** Streaming decontamination: the CORPUS arrives as a stream (the
    * ingest-time shape — shards land continuously and must be checked
    * before they reach training data), the benchmark/eval set is
    * static, eval-set-sized, shingled once in batch and BROADCAST into
    * every micro-batch — the stream-static join discipline of
    * [[enriched]] applied to [[graft.ops.Contamination]]. The in-stream
    * aggregate is the (doc, bench) shared-shingle count (bounded by
    * hit-pair volume, never raw postings); the worst-bench reduction is
    * a batch job over the sink. Converges exactly to the batch
    * contamination check (its oracle). */
  def contaminationStream(spark: SparkSession, sfDir: String,
                          n: Int = 3, threshold: Double = 0.5): DataFrame = {
    import graft.ops.Dedup
    val path   = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    val bench = Dedup.shingleSets(
        spark.read.parquet(path).filter(col("doc_id") < 25), n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("s"))
    val corpus = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .filter(col("doc_id") >= 25)
    val cp = Dedup.shingleSets(corpus, n)
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    val agg = cp.join(broadcast(bench), "s")
      .groupBy("doc_id", "bench_id")
      .agg(first("n_sh").as("n_sh"), count(lit(1)).as("shared"))

    runToMemorySink(spark, agg, "contam")
      .withColumn("cont", col("shared").cast("double") / col("n_sh"))
      .groupBy("doc_id")
      .agg(max(struct(col("cont"), (-col("bench_id")).as("nb"))).as("w"))
      .select(col("doc_id"),
        (-col("w.nb")).as("bench_id"),
        round(col("w.cont"), 4).as("containment"),
        (col("w.cont") >= threshold).cast("bigint").as("contaminated"))
      .orderBy("doc_id")
  }

  /** Stream-STREAM interval join: the error stream joins the signup
    * stream within [signup_ts, signup_ts + 1h) per user. Both sides
    * are unbounded, so Spark buffers each in watermarked join state;
    * the time-range condition lets the engine evict a buffered signup
    * once the watermark passes signup_ts + 1h — bounded state on an
    * unbounded stream, the canonical stream-stream join discipline.
    * Matched EVENT-LEVEL rows land in a distributed FILE sink (same
    * rationale as [[dedupedCounts]]: executor-side parquet, never
    * driver memory); the per-signup error counts are a batch job over
    * the sink files and must equal the BATCH bucketed range join
    * (`events_range_join`'s oracle — proven equal at any scale factor
    * because AvailableNow drains everything before the final batch).
    *
    * Deployment note: this operator is for CONTINUOUS pipelines, where
    * watermark eviction keeps join state at one horizon's worth of
    * events regardless of stream age. A single-batch historical replay
    * (like this test harness) buffers the whole history in the state
    * store first — for backfills over data at rest, the batch
    * `events_range_join` computes the same result at a fraction of the
    * cost. Same answer, different state regime; pick by workload. */
  def streamRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def src = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .withColumn("ts", tsUtc(spark, sfDir))
    val signups = src.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("sts"))
      .withWatermark("sts", "1 hour")
    val errors = src.filter(col("event_type") === "error")
      .select(col("user_id").as("euser"), col("ts").as("ets"))
      .withWatermark("ets", "1 hour")
    val joined = signups.join(errors,
      expr("user_id = euser AND ets >= sts AND ets < sts + interval 1 hour"))

    runToFileSink(spark, joined, graft.sources.Scratch.dir("graft_stream_rjoin_"))
      .groupBy("signup_id")
      .agg(count(lit(1)).as("n_errors"))
      .orderBy("signup_id")
  }

  /** Open sessions carried across micro-batches, keyed by user. */
  final case class LifeState(lastDn: Int)
  final case class LifeOut(user_id: Long, dn: Int, cls: String, prev: Int)

  /** Streaming growth accounting — the stateful-stream counterpart of
    * the batch `events_lifecycle`: `flatMapGroupsWithState` over
    * user_id keeps each user's LAST ACTIVE DAY as state, so every
    * (user, day) arrival classifies immediately as new (no state),
    * retained (state = day−1) or resurrected (gap), across micro-batch
    * boundaries. The history arrives in TWO AvailableNow batches split
    * at the calendar midpoint (mtime-pinned order), so the
    * classification provably survives a state handoff — a user active
    * in both halves is classified in batch 2 against state built in
    * batch 1. Day-level records go to a distributed file sink; churn
    * (the day AFTER a gap opens, capped at the corpus max day) is then
    * a batch job over the emitted records — identical semantics to the
    * batch query, which is also this query's oracle. */
  def lifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Scalars

    val fn = (user: Long, rows: Iterator[(Long, Int)], state: GroupState[LifeState]) => {
      val days = rows.map(_._2).toArray.distinct.sorted
      var last = state.getOption.map(_.lastDn).getOrElse(Int.MinValue)
      val out = Vector.newBuilder[LifeOut]
      days.foreach { d =>
        if (d > last) { // same-day re-delivery at a batch boundary is a no-op
          val cls =
            if (last == Int.MinValue) "new"
            else if (d == last + 1) "retained"
            else "resurrected"
          out += LifeOut(user, d, cls, if (last == Int.MinValue) -1 else last)
          last = d
        }
      }
      if (last != Int.MinValue) state.update(LifeState(last))
      out.result().iterator
    }

    // stage the event history in two time halves so AvailableNow runs
    // a real multi-batch state handoff (the distinctUsersIncremental
    // staging pattern, mtime-pinned like cdcApply)
    val base = graft.sources.Scratch.dir("graft_stream_life_")
    val raw = spark.read.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events.parquet")
      .select(col("user_id"),
        datediff(to_date(tsUtc(spark, sfDir)),
          lit("1970-01-01").cast("date")).as("dn"))
      .localCheckpoint(false)
    val bounds = raw.agg(min("dn").as("lo"), max("dn").as("hi")).head()
    val mid = (bounds.getInt(0) + bounds.getInt(1)) / 2
    // one file per half → one micro-batch per half: a half split across
    // files would deliver a user's days out of order across batches,
    // which the monotone-state classifier would silently drop
    raw.filter(col("dn") < mid).coalesce(1).write.parquet(s"$base/stage/h1")
    raw.filter(col("dn") >= mid).coalesce(1).write.parquet(s"$base/stage/h2")
    val now = System.currentTimeMillis()
    for ((wave, t) <- Seq("h1" -> (now - 60000L), "h2" -> now);
         f <- new java.io.File(s"$base/stage/$wave").listFiles())
      f.setLastModified(t)

    val stream = spark.readStream
      .schema(StructType(Seq(StructField("user_id", LongType),
        StructField("dn", IntegerType))))
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/stage")
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)

    // batch tail over the emitted day records: activity counts per
    // day, churn from observed gaps + each user's open last day
    val rec = runToFileSink(spark, stream, base).localCheckpoint(false)
    val act = rec.groupBy("dn").agg(
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    val gapChurn = rec.filter(col("prev") >= 0 && col("dn") > col("prev") + 1)
      .select((col("prev") + 1).as("cdn"))
    val lastPer = rec.groupBy("user_id").agg(max("dn").as("ldn"))
    val openChurn = Scalars
      .withScalar(lastPer, col("user_id"), rec.agg(max("dn").as("max_dn")), col("max_dn"))
      .filter(col("ldn") < col("max_dn"))
      .select((col("ldn") + 1).as("cdn"))
    val churn = gapChurn.unionByName(openChurn)
      .groupBy(col("cdn").as("dn")).agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("dn"), "full_outer")
      .select(
        date_add(lit("1970-01-01").cast("date"), col("dn")).as("d"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("d")
  }

  /** Per-shard Misra-Gries summary carried across micro-batches:
    * rows-seen counter, error register, and the ≤ c (tag, est) pairs
    * as parallel arrays (encoder-friendly). */
  final case class MgState(nSeen: Long, err: Long,
                           tags: Array[Long], ests: Array[Long])
  final case class MgEmit(shard: Int, n_seen: Long, err: Long,
                          tag: Long, est: Long)

  /** Streaming Misra-Gries heavy hitters — the fixed-state sketch
    * family's streaming column (SURVEY §7 r11 candidate): each of
    * `shards` state keys (user_id mod shards) maintains a c-counter MG
    * summary of ITS substream inside `flatMapGroupsWithState`, across
    * a two-batch staged handoff (the [[lifecycle]] staging pattern).
    * Every batch the shard emits its CURRENT summary tagged with its
    * monotone rows-seen counter to a distributed file sink; the batch
    * tail keeps each shard's latest summary and merges the `shards`
    * summaries with the mergeable-summaries reduction (pairwise
    * counter sum, then one (c+1)-th-largest subtraction — the same
    * merge [[graft.functions.MgTopKAgg]] implements), over ≤ shards·c
    * rows of BOUNDED sketch state (the documented driver-state
    * contract of the ANN codebook collects).
    *
    * Raw MG counter values are merge-shape-dependent, so the QUERY
    * emits only the partition-invariant facts (the batch
    * sketch_topk_mg discipline): the exact top-10 tags with, per tag,
    * the THEOREM columns that must be 1 for any correct execution —
    * `present_ok` (a tag with true > n/(c+1) is in the summary),
    * `bound_ok` (est ≤ true ≤ est + err), `err_bound_ok`
    * (err·(c+1) ≤ n). A lost state handoff deflates est+err below a
    * heavy tag's true count; a re-delivered batch inflates est past
    * it — both flip a flag and fail the exact-match gate. */
  def mgHeavyHitters(spark: SparkSession, sfDir: String,
                     c: Int = 8, shards: Int = 8): DataFrame = {
    import spark.implicits._

    val fn = (shard: Int, rows: Iterator[(Int, Long)], state: GroupState[MgState]) => {
      val m = scala.collection.mutable.LongMap.empty[Long]
      var (seen, err) = state.getOption match {
        case Some(s) =>
          var i = 0
          while (i < s.tags.length) { m(s.tags(i)) = s.ests(i); i += 1 }
          (s.nSeen, s.err)
        case None => (0L, 0L)
      }
      rows.foreach { case (_, tag) =>
        seen += 1L
        // the SINGLE update definition shared with the batch aggregate
        err += graft.functions.MgTopKAgg.updateOne(m, tag, c)
      }
      val ts = m.keys.toArray
      val ests = ts.map(m)
      state.update(MgState(seen, err, ts, ests))
      // a HEADER row (sentinel tag, never a real user_id — ids are
      // non-negative) always accompanies the summary: a decrement
      // cascade can legitimately empty the map, and a batch that
      // emitted nothing would leave the tail reading the PREVIOUS
      // batch's n_seen/err for this shard (stale n, stale err)
      Iterator.single(MgEmit(shard, seen, err, Long.MinValue, 0L)) ++
        ts.iterator.zip(ests.iterator).map { case (t, e) =>
          MgEmit(shard, seen, err, t, e)
        }
    }

    // stage the event history in two time halves (multi-batch state
    // handoff; mtime-pinned order, one file per half = one batch each)
    val base = graft.sources.Scratch.dir("graft_stream_mg_")
    val raw = spark.read.schema(eventsSchema(spark, sfDir))
      .parquet(s"$sfDir/events.parquet")
      .select(pmod(col("user_id"), lit(shards)).cast("int").as("shard"),
        col("user_id"),
        unix_micros(tsUtc(spark, sfDir)).as("ts_us"))
      .localCheckpoint(false)
    val mid = midThreshold(raw, "ts_us")
    raw.filter(col("ts_us") < mid).select("shard", "user_id")
      .coalesce(1).write.parquet(s"$base/stage/h1")
    raw.filter(col("ts_us") >= mid).select("shard", "user_id")
      .coalesce(1).write.parquet(s"$base/stage/h2")
    val now = System.currentTimeMillis()
    for ((wave, t) <- Seq("h1" -> (now - 60000L), "h2" -> now);
         f <- new java.io.File(s"$base/stage/$wave").listFiles())
      f.setLastModified(t)

    val stream = spark.readStream
      .schema(StructType(Seq(StructField("shard", IntegerType),
        StructField("user_id", LongType))))
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/stage")
      .as[(Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)

    val emitted = runToFileSink(spark, stream, base)
    // batch tail: each shard's LATEST summary (max n_seen is monotone
    // per shard; the header row guarantees every batch is represented
    // even when the summary itself is empty), then the bounded
    // driver-side mergeable-summaries fold via the shared reduction
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
    val fin = emitted
      .withColumn("mx", max("n_seen").over(w))
      .filter(col("n_seen") === col("mx"))
      .select("shard", "n_seen", "err", "tag", "est")
      .collect() // ≤ shards·(c+1) summary rows — bounded sketch state
    val n = fin.groupBy(_.getInt(0)).map { case (_, rs) => rs.head.getLong(1) }.sum
    var errFinal = fin.groupBy(_.getInt(0)).map { case (_, rs) => rs.head.getLong(2) }.sum
    val merged = scala.collection.mutable.LongMap.empty[Long]
    fin.filter(_.getLong(3) != Long.MinValue) // drop header rows
      .foreach(r => merged(r.getLong(3)) = merged.getOrElse(r.getLong(3), 0L) + r.getLong(4))
    errFinal += graft.functions.MgTopKAgg.subtractToCapacity(merged, c)
    val summary =
      if (merged.isEmpty) spark.emptyDataset[(Long, Long)].toDF("tag", "mg_est")
      else merged.toSeq.toDF("tag", "mg_est")

    graft.sources.Tables.events(spark, sfDir)
      .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      .join(broadcast(summary), col("user_id") === col("tag"), "left")
      .withColumn("est", coalesce(col("mg_est"), lit(0L)))
      .select(
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("exact_n").desc, col("user_id")))).cast("bigint").as("rank"),
        col("user_id"), col("exact_n"),
        (col("exact_n") * (c + 1) > n).cast("bigint").as("guaranteed"),
        (col("exact_n") * (c + 1) <= n || col("est") > 0).cast("bigint").as("present_ok"),
        (col("est") <= col("exact_n") &&
          col("exact_n") <= col("est") + errFinal).cast("bigint").as("bound_ok"),
        lit(if (errFinal * (c + 1) <= n) 1L else 0L).as("err_bound_ok"))
      .orderBy("rank")
  }

  final case class SessionState(startUs: Long, lastUs: Long, nEvents: Long)
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                              start_us: Long, dur_us: Long)

  /** Arbitrary-stateful streaming sessionization:
    * `flatMapGroupsWithState` over user_id with a 30-min inactivity
    * gap. Each micro-batch's events are gap-split in event-time order;
    * the OPEN (most recent) session persists in `GroupState` so it can
    * merge with the next batch's events instead of being cut at the
    * batch boundary — the custom-state pattern Spark's built-in
    * windowed aggs can't express. Only gap-CLOSED sessions are emitted:
    * a session is not final until its inactivity gap has passed (a
    * continuous deployment would flush stragglers via a state timeout).
    * StreamingSpec asserts the emitted sessions equal the batch
    * sessionization minus each user's still-open last session.
    */
  def sessionize(spark: SparkSession, sfDir: String, gapUs: Long = 30L * 60 * 1000000L): DataFrame = {
    import spark.implicits._

    def split(state: Option[SessionState], sorted: Seq[Long]):
        (Seq[(Long, Long, Long)], Option[SessionState]) = {
      // fold events into (start, last, n) runs separated by > gap
      var runs    = Vector.empty[(Long, Long, Long)]
      var current = state.map(s => (s.startUs, s.lastUs, s.nEvents))
      sorted.foreach { t =>
        current match {
          case Some((s0, l0, n0)) if t - l0 <= gapUs => current = Some((s0, t, n0 + 1))
          case Some(run) => runs :+= run; current = Some((t, t, 1L))
          case None      => current = Some((t, t, 1L))
        }
      }
      (runs, current.map { case (s0, l0, n0) => SessionState(s0, l0, n0) })
    }

    val fn = (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) => {
      val ts = rows.map(_._2).toArray.sorted.toSeq
      val (closed, open) = split(state.getOption, ts)
      open.foreach(state.update)
      closed.iterator.map { case (s0, l0, n0) => SessionOut(user, -1L, n0, s0, l0 - s0) }
    }

    val stream = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("user_id"), unix_micros(tsUtc(spark, sfDir)).as("ts_us"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)

    // session-level output is O(users·sessions) — bounded, but still
    // unbounded in users, so it goes to a distributed FILE sink
    // (executor-side parquet writes), never driver memory; the
    // session_id assignment is then a normal batch window over the
    // sink files.
    // session_id is assigned per user by start time after the fact (the
    // stateful operator emits sessions unordered across batches)
    runToFileSink(spark, stream, graft.sources.Scratch.dir("graft_stream_sessions_"))
      .withColumn("session_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("start_us")).cast("long"))
      .select("user_id", "session_id", "n_events", "start_us", "dur_us")
      .orderBy("user_id", "session_id")
  }

  final case class CollapseState(lastType: String)
  final case class CollapseOut(event_type: String, kept: Long)

  /** Streaming twin of the batch events_collapse_repeats: run-head
    * dedup of back-to-back same-type events per user, where the
    * PREVIOUS TYPE must survive the micro-batch boundary — the one
    * piece of state windowed aggs can't carry. `flatMapGroupsWithState`
    * over user_id holds each user's last seen event_type; each batch's
    * events are walked in (event-time, event_id) order, emitting a
    * kept flag per event; the per-type rollup happens as a normal
    * batch aggregation over the file sink (never driver memory).
    * Exactness contract: equals the batch collapse whenever batches
    * arrive in per-user event-time order (trivially true for the
    * single AvailableNow batch here; a multi-batch stage dir must be
    * day-ordered — the same arrival contract stream_sessionize
    * documents). */
  def collapseRepeats(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._

    val fn = (user: Long,
              rows: Iterator[(Long, Long, Long, String)],
              state: GroupState[CollapseState]) => {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var prev = state.getOption.map(_.lastType).orNull
      val out = sorted.iterator.map { case (_, _, _, t) =>
        val kept = if (prev == null || prev != t) 1L else 0L
        prev = t
        CollapseOut(t, kept)
      }.toVector
      if (prev != null) state.update(CollapseState(prev))
      out.iterator
    }

    val stream = spark.readStream
      .schema(eventsSchema(spark, sfDir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      .select(col("user_id"), unix_micros(tsUtc(spark, sfDir)).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)

    runToFileSink(spark, stream, graft.sources.Scratch.dir("graft_stream_collapse_"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("kept").as("n_kept"))
      .select(col("event_type"), col("n_events"), col("n_kept"),
        expr("(n_events - n_kept) * 10000 div n_events").as("collapse_u4"))
      .orderBy("event_type")
  }
}
