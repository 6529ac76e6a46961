package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The Spark jobs one call starts: `f` runs under a local property,
  * and every job it starts — on this thread, the streaming queries'
  * threads, AQE's broadcast threads or a Par branch — must carry it.
  * Returns (jobs with the property, jobs without it). */
object CallJobs {
  def count(spark: org.apache.spark.sql.SparkSession)(f: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.phase"
    val (tagged, untagged) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case "call" => tagged.incrementAndGet()
          case "marker" => drained.countDown()
          case _ => untagged.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "call")
      f
      // the bus delivers events in order: once the marker job's start
      // arrives, every job of the call has been counted
      sc.setLocalProperty(tag, "marker")
      spark.range(1).collect()
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start never arrived")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    (tagged.get, untagged.get)
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("streaming windowed agg is batch-equivalent") {
    val streamed = graft.streaming.EventStreams.windowedAgg(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).as("period"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("period", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("stateful collapse-repeats equals the batch run-head walk") {
    val streamed = graft.streaming.EventStreams.collapseRepeats(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val batch = SparkEntry.queries("events_collapse_repeats")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(streamed.length == batch.length && streamed.sameElements(batch))
  }

  test("stateful sessionize emits exactly the gap-closed batch sessions") {
    val streamed = graft.streaming.EventStreams.sessionize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch oracle: all sessions minus each user's last (still open) one
    val all = SparkEntry.queries("events_sessionize")(spark, sf)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("start_us")))
    val closed = all.groupBy(_._1).values.flatMap(ss => ss.sortBy(_._2).dropRight(1)).toSet
    assert(streamed.toSet == closed, s"${streamed.length} streamed vs ${closed.size} closed")
  }

  test("streaming dedup collapses the doubled stream to original counts") {
    val deduped = graft.streaming.EventStreams.dedupedCounts(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val batch = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count_distinct(col("event_id")).as("d"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(deduped.sameElements(batch))
  }

  test("stream-static enrichment is batch-equivalent") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.enriched(spark, sf)
      .collect().map(_.toString)
    val users = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    val batch = graft.sources.Tables.events(spark, sf)
      .join(users, Seq("user_id"), "left")
      .groupBy(col("event_type"), col("n_orders").isNotNull.cast("bigint").as("has_orders"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type", "has_orders")
      .collect().map(_.toString)
    assert(streamed.sameElements(batch))
  }

  test("streaming CDC apply converges to the batch SCD2 chain") {
    val streamed = graft.streaming.EventStreams.cdcApply(spark, sf).collect()
    val batch = SparkEntry.queries("scd2_chain")(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch),
      s"CDC apply diverged from the batch chain (${streamed.length} vs ${batch.length} rows)")
  }

  test("streaming lifecycle converges to the batch growth accounting across the state handoff") {
    val streamed = graft.streaming.EventStreams.lifecycle(spark, sf).collect()
    val batch = SparkEntry.queries("events_lifecycle")(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch),
      s"lifecycle diverged from batch (${streamed.length} vs ${batch.length} rows)")
  }

  test("streaming contamination converges to the batch check") {
    val streamed = graft.streaming.EventStreams.contaminationStream(spark, sf).collect()
    val batch = SparkEntry.queries("contamination")(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.sameElements(batch),
      s"streaming contamination diverged (${streamed.length} vs ${batch.length} rows)")
  }

  test("incremental HLL refresh: two checkpointed passes == one pass, history unread") {
    import graft.streaming.EventStreams
    val es = EventStreams
    // two-pass (the operator under test)
    val twoPass = es.distinctUsersIncremental(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    // one-pass reference over the same data through the same stream head
    val onePass = es.distinctUsers(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    assert(twoPass.sameElements(onePass),
      s"incremental refresh drifted: ${twoPass.toSeq} vs ${onePass.toSeq}")

    // pass isolation: drive the passes by hand and check the second
    // one's deltas cover ONLY post-split days (the checkpoint's file
    // log skipped pass-1 files; a full recompute would re-emit them
    // all — update mode only emits state rows a batch actually touched)
    val base = java.nio.file.Files.createTempDirectory("graft_hll_spec")
    val (stage, ckpt, delta) = (s"$base/stage", s"$base/ckpt", s"$base/delta")
    // stage contract: (ts_us: epoch-micros long, user_id) — see hllRefreshPass
    val raw = spark.read.schema(es.eventsSchema(spark, sf)).parquet(s"$sf/events.parquet")
      .select(unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("user_id"))
    val bounds = raw.agg(min("ts_us").as("lo"), max("ts_us").as("hi")).head()
    val mid = bounds.getLong(0) / 2 + bounds.getLong(1) / 2
    raw.filter(col("ts_us") < mid).write.parquet(s"$stage/day1")
    es.hllRefreshPass(spark, stage, ckpt, delta)
    // the delta dir is a graft.streaming.Store: one entry per batch
    val pass1Files = graft.streaming.Store.read(spark, delta).inputFiles.toSet
    raw.filter(col("ts_us") >= mid).write.parquet(s"$stage/day2")
    es.hllRefreshPass(spark, stage, ckpt, delta)
    val pass2 = graft.streaming.Store.read(spark, delta)
      .withColumn("__f", input_file_name())
      .filter(!col("__f").isin(pass1Files.toSeq: _*))
    val midDay = timestamp_micros(lit(mid)).cast("date")
    assert(pass2.count() > 0, "second pass emitted no deltas")
    assert(pass2.filter(col("period").cast("date") < date_sub(midDay, 1)).count() == 0,
      "second pass re-emitted pre-split history — incremental contract broken")
  }

  test("per-source HLL refresh: two streamed generations == one batch fold") {
    // the streamed two-generation fold (operator under test)
    val streamed = graft.streaming.EventStreams
      .sourceDistinctIncremental(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the one-shot batch estimate over the full corpus with the same
    // sketch parameters and the same md5(text) key
    val docs = Tables.documents(spark, sf)
      .select(col("source"), md5(col("text").cast("binary")).as("k"))
    val (b, r) = graft.ops.HllSketch.bucketRho(spark, col("k"))
    val batch = graft.ops.HllSketch.estimate(
        docs.select(col("source"), b, r)
          .groupBy("source", "bucket").agg(max("rho").as("rho")),
        Seq("source"))
      .orderBy("source")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(streamed.sameElements(batch),
      s"streamed per-source fold drifted: ${streamed.toSeq} vs ${batch.toSeq}")
  }

  test("streaming bottom-k fold equals the one-shot batch bottom-k") {
    val streamed = graft.streaming.EventStreams.bottomKIncremental(spark, sf)
      .select("doc_id", "h").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = SparkEntry.queries("sample_bottomk")(spark, sf)
      .select("doc_id", "h").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == batch,
      s"streamed store drifted from the one-shot bottom-k (${streamed.size} rows)")
  }

  test("streaming Misra-Gries holds the MG guarantee across the state handoff") {
    val got = graft.streaming.EventStreams.mgHeavyHitters(spark, sf).collect()
    assert(got.length == 10, s"expected the exact top-10, got ${got.length}")
    // every theorem flag must render 1 — present_ok catches a lost
    // batch-2 state (est+err deflates below a heavy tag's true count
    // flips bound_ok; a re-delivered batch inflates est past exact_n)
    got.foreach { r =>
      assert(r.getAs[Long]("present_ok") == 1L, s"present_ok violated: $r")
      assert(r.getAs[Long]("bound_ok") == 1L, s"bound_ok violated: $r")
      assert(r.getAs[Long]("err_bound_ok") == 1L, s"err_bound_ok violated: $r")
    }
    // the exact columns equal the batch top-10
    val batch = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (u, n) => (-n, u) }.take(10)
    val gotPairs = got.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("exact_n")))
    assert(gotPairs.sameElements(batch), "exact top-10 diverged from batch")
  }

  test("watermarked stream-stream interval join equals the batch range join") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.streamRangeJoin(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("events_range_join")(spark, sf)
      .select(col("signup_id"), col("n_errors"))
      .orderBy("signup_id")
      .collect().map(_.toString)
    assert(streamed.sameElements(batch))
  }

  test("streaming DQ fold equals the batch gate on every additive rule") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.dqIncremental(spark, sf)
      .collect().map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Long]("pass"))).toMap
    val batch = SparkEntry.queries("dq_expectations")(spark, sf)
      .collect().map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_checked"), r.getAs[Long]("n_violations"),
          r.getAs[Long]("pass"))).toMap
    // the four additive rules agree; uniqueness is batch-only by design
    assert(streamed.keySet == batch.keySet - "orderkey_unique")
    streamed.foreach { case (rule, v) =>
      assert(batch(rule) == v, s"rule $rule diverged: batch ${batch(rule)} vs $v")
    }
  }

  test("streaming uniqueness presence store equals the batch count-distinct gap") {
    import org.apache.spark.sql.functions._
    val r = graft.streaming.EventStreams.dqUniqueIncremental(spark, sf).head()
    val b = graft.sources.Tables.events(spark, sf)
      .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("nu")).head()
    assert(r.getAs[Long]("n_checked") == b.getAs[Long]("n"))
    assert(r.getAs[Long]("n_unique") == b.getAs[Long]("nu"),
      "presence store diverged from batch distinct — a fold error")
    assert(r.getAs[Long]("n_violations") ==
      r.getAs[Long]("n_intra_shard") + r.getAs[Long]("n_cross_shard"))
    // the blind spot is REAL on this data: every user spans both
    // generations, so a counter-only fold would undercount violations
    assert(r.getAs[Long]("n_cross_shard") > 0,
      "expected cross-shard duplicates — the presence store's raison d'être")
  }

  test("streaming CUSUM state fold equals the batch detector row for row") {
    // the sequential statistic can't fold shard-by-shard, but its
    // sufficient state (daily counts) is additive — after two staged
    // generations the derived detector output must equal the batch
    // query exactly, alarms included
    val streamed = SparkEntry.queries("stream_cusum")(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("events_cusum")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "incremental daily-count fold diverged from the batch CUSUM")
  }

  test("streaming AMS fold equals the one-shot sketch (linearity across generations)") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.amsF2Incremental(spark, sf)
      .select("est_id", "x", "x_sq", "est_f2").collect().map(_.toString)
    val batch = SparkEntry.queries("sketch_ams_f2")(spark, sf)
      .select("est_id", "x", "x_sq", "est_f2").collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "two-generation AMS fold diverged from the one-shot sketch")
  }

  test("streaming IVF ingest occupancy equals the one-shot batch assignment") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.ivfIngestOccupancy(spark, sf)
      .collect().map(r => (r.getAs[Int]("cell").toLong,
        r.getAs[Long]("n_vecs"), r.getAs[Long]("n_landed")))
    val emb = Tables.embeddings(spark, sf)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4")).head().getLong(0)
    val batch = graft.ops.Similarity.ivfAssign(emb, cells = 8,
        buildFilter = col("vec_id") < thr)
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("vec_id") >= thr, 1L).otherwise(0L)).as("n_landed"))
      .orderBy("cell")
      .collect().map(r => (r.getAs[Int]("cell").toLong,
        r.getAs[Long]("n_vecs"), r.getAs[Long]("n_landed")))
    assert(streamed.sameElements(batch),
      "two-generation ingest fold diverged from the one-shot assignment")
    // the landing shard actually flowed through the stream
    assert(streamed.map(_._3).sum > 0, "no landed vectors counted")
  }

  test("streaming substring ingest equals the incremental store's per-source rollup") {
    import org.apache.spark.sql.functions._
    val streamed = graft.streaming.EventStreams.substringIngest(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // history-dup starts: the batch incremental key's per-doc counts,
    // rolled up by source, must equal the streamed counters exactly
    val docs = Tables.documents(spark, sf)
    val incr = SparkEntry.queries("dedup_substring_incremental")(spark, sf)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(sum("n_hist_dup_starts").as("nh"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    incr.foreach { case (src, nh) =>
      assert(streamed(src)._2 == nh,
        s"$src: streamed hist-dups ${streamed(src)._2} != batch $nh")
    }
    // gram totals: every qualifying L-gram of every doc, by source
    val grams = graft.ops.Suffix.gramHashes(docs, 16).filter(col("full"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.view.mapValues(_._1).toMap == grams,
      "per-source gram totals diverged from the one-shot computation")
  }

  test("streaming phash ingest equals the one-shot gen2-vs-gen1 batch flags") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val thr = docs.agg(expr("3*(max(doc_id)+1) div 4")).head().getLong(0)
    val sigs = graft.ops.Multimodal.phashBatch(docs).toDF()
      .select("doc_id", "c0", "c1", "c2", "c3").localCheckpoint(false)
    def chunks(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
        .as(Seq("ci", "cv")))
    val hist = chunks(sigs.filter(col("doc_id") < thr))
      .select(col("ci"), col("cv"), col("c0").as("h0"), col("c1").as("h1"),
        col("c2").as("h2"), col("c3").as("h3"))
    val ham = (0 to 3).map(j =>
      bit_count(col(s"c$j").bitwiseXOR(col(s"h$j"))).cast("int")).reduce(_ + _)
    val flagged = chunks(sigs.filter(col("doc_id") >= thr))
      .join(hist, Seq("ci", "cv")).filter(ham <= 3)
      .select("doc_id").distinct()
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(count(lit(1)).as("nh"))
    val batch = docs.groupBy("source").agg(count(lit(1)).as("n_imgs"))
      .join(flagged, Seq("source"), "left")
      .select(col("source"), col("n_imgs"), coalesce(col("nh"), lit(0L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = SparkEntry.queries("stream_phash_ingest")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"phash ingest diverged: streamOnly=${streamed.diff(batch).take(3)} " +
        s"batchOnly=${batch.diff(streamed).take(3)}")
    assert(batch.exists(_._3 > 0), "no history phash dups in fixture — dead test")
  }

  test("streaming semantic ingest equals the one-shot gen1-frozen batch flags") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4")).head().getLong(0)
    val assigned = graft.ops.Similarity.ivfAssign(emb,
        cells = graft.ops.Similarity.semCells(emb, col("vec_id") < thr),
        buildFilter = col("vec_id") < thr)
      .select("vec_id", "v", "nrm", "cell").localCheckpoint(false)
    val gen1 = assigned.filter(col("vec_id") < thr)
      .select(col("cell"), col("v").as("hv"), col("nrm").as("hn"))
    val hits = assigned.filter(col("vec_id") >= thr)
      .join(gen1, Seq("cell"))
      .filter(graft.ops.Dedup.dot(col("v"), col("hv"))
        / (col("nrm") * col("hn")) >= 0.35)
      .select("cell", "vec_id").distinct()
      .groupBy("cell").agg(count(lit(1)).as("nh"))
    val batch = assigned.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(hits, Seq("cell"), "left")
      .select(col("cell").cast("long"), col("n_vecs"),
        coalesce(col("nh"), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = SparkEntry.queries("stream_semantic_ingest")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch,
      s"semantic ingest diverged: streamOnly=${streamed.diff(batch).take(3)} " +
        s"batchOnly=${batch.diff(streamed).take(3)}")
    assert(batch.exists(_._3 > 0), "no history near-dups in fixture — dead test")
  }

  test("streaming funnel's final fold equals the one-shot pipeline_e2e_v2 exactly") {
    // the funnel-scope store-equality doctrine: after both generations
    // land, the store-derived accounting must be ROW-IDENTICAL to the
    // batch capstone — same survivors at every stage, same agreement
    // cells (global retro-effects like family bridging and coverage
    // growth included; bounded counters could not reproduce these)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = rows(SparkEntry.queries("stream_pipeline_e2e")(spark, sf))
    val oneShot  = rows(SparkEntry.queries("pipeline_e2e_v2")(spark, sf))
    assert(streamed == oneShot,
      s"funnel diverged: streamOnly=${streamed.diff(oneShot).take(4)} " +
        s"batchOnly=${oneShot.diff(streamed).take(4)}")
  }

  test("one stream_pipeline_e2e call stays under its Spark job bound") {
    val (tagged, untagged) = CallJobs.count(spark) {
      val rows = SparkEntry.queries("stream_pipeline_e2e")(spark, sf).collect()
      assert(rows.length == 12)
    }
    assert(untagged == 0,
      s"$untagged of the call's jobs lost the caller's local properties")
    // measured at this fixture: 278-279 jobs per call over 5 calls in
    // one JVM (AQE's runtime broadcast jobs and the micro-batch count
    // vary with timing); 333-335 while the fold kept the coverage
    // increment, its three snapshot stores and the two per-batch
    // ledgers, 359-360 while it also wrote pair/cluster snapshots. The
    // bound leaves that timing spread 5 jobs of headroom.
    assert(tagged <= 284, s"stream_pipeline_e2e started $tagged jobs")
  }

  test("streaming quality scoring equals the one-shot gen1-frozen batch scoring") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val thr = docs.agg(expr("3*(max(doc_id)+1) div 4")).head().getLong(0)
    val w = graft.ops.QualityClf.train(docs.filter(col("doc_id") < thr))._2
    val marg = graft.ops.QualityClf.features(docs)
      .join(broadcast(w), Seq("b"), "left")
      .groupBy("doc_id").agg(sum(coalesce(col("w"), lit(0L))).as("marg"))
    val batch = graft.ops.QualityClf.labels(docs).join(marg, "doc_id")
      .select(when(col("y") === 1, 1L).otherwise(0L).as("rule_keep"),
        when(col("marg") > 0, 1L).otherwise(0L).as("clf_keep"),
        when(col("doc_id") >= thr, 1L).otherwise(0L).as("landed"))
      .groupBy("rule_keep", "clf_keep")
      .agg(count(lit(1)).as("n_docs"), sum("landed").as("n_landed"))
      .orderBy("rule_keep", "clf_keep")
      .collect().map(_.toString)
    val streamed = graft.streaming.EventStreams.qualityScoreIngest(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "two-generation scoring fold diverged from the one-shot batch score")
  }

  test("streaming DSIR scoring equals the one-shot gen1-frozen batch scoring") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "lang", "text")
    val thr = docs.agg(expr("3*(max(doc_id)+1) div 4")).head().getLong(0)
    val gen1 = docs.filter(col("doc_id") < thr)
    // one-shot: the same gen-1-frozen ratio table scoring the full corpus
    val lr = graft.ops.Select.ratioFromCounts(
      graft.ops.Select.docBucketCounts(gen1, 64, 37L),
      gen1.filter(expr("lang = 'en'")).select("doc_id"), 64)
    val u4 = graft.ops.Select.docBucketCounts(docs, 64, 37L)
      .join(broadcast(lr), "b")
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr")) * 10000).cast("bigint").as("u4"))
    val batch = docs.select("doc_id", "source").join(u4, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") >= thr, 1L).otherwise(0L)).as("n_landed"),
        sum(when(col("u4") >= 0, 1L).otherwise(0L)).as("n_sel"),
        sum("u4").as("sum_u4"))
      .withColumn("avg_logw",
        round(col("sum_u4") / (col("n_docs") * 10000.0), 4))
      .orderBy("source").collect().map(_.toString)
    val streamed = graft.streaming.EventStreams.dsirIngest(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "two-generation DSIR fold diverged from the one-shot batch score")
  }

  test("streaming PII counter fold lands exactly on text_pii_scrub") {
    val streamed = graft.streaming.EventStreams.piiIngest(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("text_pii_scrub")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "additive PII fold diverged from the one-shot scrub audit")
  }

  test("streaming soft-weight posting fold lands exactly on dedup_soft_weights") {
    // the posting store is append-only; weights re-derive from the
    // folded store, so they must equal the one-shot key row for row —
    // including the retroactive DF raises gen2 applies to gen1 docs
    val streamed = graft.streaming.EventStreams.softWeightsIngest(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("dedup_soft_weights")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "posting-store fold diverged from the one-shot soft weights")
  }

  test("streaming DoReMi count fold lands exactly on corpus_doremi") {
    // the store is integer-additive (token-bucket counts + doc counts),
    // so the re-run grid algebra must equal the one-shot key row for row
    val streamed = graft.streaming.EventStreams.doremiIngest(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("corpus_doremi")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "folded-store DoReMi diverged from the one-shot mixture")
  }

  test("streaming drift trigger equals the audit-cadence emb_cell_drift") {
    // store-equality doctrine: stream_ivf_drift derives its generations
    // from the streamed counters (n_gen1 = n_vecs - n_landed), so its
    // per-cell chi2 must equal emb_cell_drift's one-shot corpus rescan,
    // and the retrain flag must be exactly the 243200-u4 threshold test
    // on the shared total.
    val streamed = SparkEntry.queries("stream_ivf_drift")(spark, sf)
      .collect().map(r => (r.getAs[Number]("cell").longValue,
        r.getAs[Long]("n_gen1"), r.getAs[Long]("n_gen2"),
        r.getAs[Long]("chi2_cell_u4"), r.getAs[Long]("chi2_total_u4"),
        r.getAs[Long]("retrain")))
    val audit = SparkEntry.queries("emb_cell_drift")(spark, sf)
      .collect().map(r => (r.getAs[Number]("cell").longValue,
        r.getAs[Long]("n_gen1"), r.getAs[Long]("n_gen2"),
        r.getAs[Long]("chi2_cell_u4"), r.getAs[Long]("chi2_total_u4")))
    assert(streamed.map(t => (t._1, t._2, t._3, t._4, t._5))
        .sameElements(audit),
      "landing-cadence drift diverged from the audit-cadence rescan")
    assert(streamed.forall(t => t._6 == (if (t._5 > 243200L) 1L else 0L)),
      "retrain flag is not the chi2 threshold test")
  }

  test("streaming budget selection equals the batch greedy cut row for row") {
    // stream==batch doctrine for the selection layer (VERDICT r16 item
    // 7): the folded (source, qs_u4) histogram + boundary-bucket
    // resolution must reproduce corpus_select_budget's per-source
    // (qs DESC, doc_id) running-sum cut exactly
    val streamed = SparkEntry.queries("stream_select_budget")(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("corpus_select_budget")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "folded-store budget cut diverged from the one-shot greedy prefix")
  }

  test("streaming curriculum equals the batch shard plan row for row") {
    // stream==batch doctrine for the selection layer's second member:
    // the folded qu4 histogram (whole buckets by rank-span algebra,
    // boundary-straddling buckets resolved per doc through the
    // two-level count rank) must reproduce corpus_curriculum's
    // rank-then-bucket shard table exactly — n_docs, token mass, AND
    // the monotone quality envelope
    val streamed = SparkEntry.queries("stream_curriculum_ingest")(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("corpus_curriculum")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "folded-store shard plan diverged from the one-shot global rank")
  }

  test("streaming token-mass curriculum equals the batch cut row for row") {
    // the selection layer's third streaming member: the same folded
    // histogram, the cut moved to bucket TOKEN spans — whole buckets
    // by span algebra (endpoint inclusive, so a trailing zero-token
    // doc can never straddle silently), boundary buckets per doc via
    // the two-level token prefix
    val streamed = SparkEntry.queries("stream_curriculum_tokens")(spark, sf)
      .collect().map(_.toString)
    val batch = SparkEntry.queries("corpus_curriculum_tokens")(spark, sf)
      .collect().map(_.toString)
    assert(streamed.sameElements(batch),
      "folded-store token cut diverged from the one-shot global cumsum")
  }

  test("Store.put leaves no checkpoint blocks behind") {
    import spark.implicits._
    val sc = spark.sparkContext
    val path = graft.sources.Scratch.dir("graft_store_release").toString
    val entry = Seq(("web", 3L), ("code", 5L)).toDF("source", "n_docs")
    // compare id sets, not sizes: the context cleaner may drop an
    // unrelated RDD meanwhile
    val before = sc.getPersistentRDDs.keySet
    graft.streaming.Store.put(entry, path, 0L)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(spark.read.parquet(s"$path/b0").count() == 2)
  }

  test("store compaction: compacted == uncompacted == one-shot, dirs bounded") {
    // at landing cadence (thousands of micro-batches) an uncompacted
    // store's emission fold is a small-files listing problem growing
    // with HISTORY; compaction must fold the entries into one snapshot
    // without changing any fold result, and a replayed batch — still
    // an entry, or already folded — must not double-count
    import spark.implicits._
    import graft.streaming.{EventStreams, Store}
    val base = graft.sources.Scratch.dir("graft_store_compaction")
    val (cPath, uPath) = (s"$base/compacted", s"$base/plain")
    val nBatches = Store.CompactAbove + 4 // enough entries to compact once
    def entry(bid: Long) = Seq(
      ("web", 10L + bid), ("books", 2L * bid), ("code", 7L))
      .toDF("source", "n_docs")
    def land(path: String, bid: Long, df: org.apache.spark.sql.DataFrame) = {
      Store.put(df, path, bid)
      Store.compact(spark, path, EventStreams.sumFold("source"))
    }
    for (bid <- 0L until nBatches) {
      land(cPath, bid, entry(bid))
      Store.put(entry(bid), uPath, bid)
    }
    def sums(path: String) =
      EventStreams.storeSums(spark, path, "source")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val oneShot = (0L until nBatches).map(entry).reduce(_ unionByName _)
      .groupBy("source").agg(sum("n_docs").as("n_docs"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sums(cPath) == oneShot, "compacted fold diverged from one-shot")
    assert(sums(uPath) == oneShot, "uncompacted fold diverged from one-shot")
    // directory bound: raw entries never exceed the compaction
    // threshold, and a snapshot exists once the threshold was crossed
    val names = new java.io.File(cPath).listFiles().map(_.getName)
    val raw = names.count(_.matches("b\\d+"))
    assert(raw <= Store.CompactAbove, s"raw store entries unbounded: $raw")
    assert(names.exists(_.matches("snap-\\d+")),
      "no snapshot after crossing the threshold")
    assert(new java.io.File(uPath).listFiles()
      .count(_.getName.matches("b\\d+")) == nBatches)
    // retry idempotency: a recent (still-raw) batch replayed with the
    // same content overwrites its own entry — fold unchanged
    val lastBid = nBatches - 1L
    land(cPath, lastBid, entry(lastBid))
    assert(sums(cPath) == oneShot, "retried batch double-counted")
    // a batch replayed after the snapshot folded it sits at or below
    // the snapshot id: the read ignores it — fold unchanged
    land(cPath, 0L, entry(0L))
    assert(sums(cPath) == oneShot, "replay of a folded batch double-counted")
    // a non-sum merge law compacts too: keyed minima (the exact-dedup
    // presence store's law) — snapshot ∪ fresh equals one-shot min
    val mPath = s"$base/minstore"
    def mEntry(bid: Long) = Seq(("h1", 100L - bid), ("h2", bid + 50L))
      .toDF("norm_h", "doc_id")
    val minFold = (df: org.apache.spark.sql.DataFrame) =>
      df.groupBy("norm_h").agg(min("doc_id").as("doc_id"))
    for (bid <- 0L until nBatches) {
      Store.put(mEntry(bid), mPath, bid)
      Store.compact(spark, mPath, minFold)
    }
    val gotMin = minFold(Store.read(spark, mPath))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotMin == Map("h1" -> (100L - (nBatches - 1)), "h2" -> 50L))
  }
}
