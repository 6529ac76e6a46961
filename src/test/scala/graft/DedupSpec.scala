package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, PlanBarrier, Similarity}
import graft.sources.Tables

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("the bucket-pair joins return a materialized table and release their buckets") {
    // a lazy bucket checkpoint read by the pair and size stages at once
    // was computed by both ("Block rdd_N_0 already exists"); the eager
    // one is computed before either stage starts, then released
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf)
    for ((name, pairs) <- Seq[(String, () => DataFrame)](
        "ngramJaccard" -> (() => Dedup.ngramJaccard(docs)),
        "ngramContainment" -> (() => Dedup.ngramContainment(docs)))) {
      val before = sc.getPersistentRDDs.keySet
      val out = pairs()
      val leaf = out.queryExecution.logical match {
        case r: LogicalRDD => r.rdd
        case p => fail(s"$name returned an unmaterialized plan:\n$p")
      }
      assert(sc.getPersistentRDDs.keySet -- before == Set(leaf.id),
        s"$name left checkpoints other than its result's")
      val cached = sc.getRDDStorageInfo.find(_.id == leaf.id)
      assert(cached.exists(i => i.numCachedPartitions == i.numPartitions),
        s"$name's result is not materialized: $cached")
      PlanBarrier.release(out)
    }
  }

  test("the funnel's budget and decontam stages return materialized tables") {
    // each is read from two stages of one job (decontam reads the budget
    // twice; the decontam and split rows read decontam's output), and a
    // lazy checkpoint was computed by both; the eager one is computed
    // once, before any reader starts
    import graft.ops.FunnelStore
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "source")
    val q = FunnelStore.textQuality(docs)
    var budget: DataFrame = null
    val twice = StageReads.overlapping(spark) {
      budget = FunnelStore.budget(q, "quality_score")
      val s6 = FunnelStore.decontam(budget, docs)
      for ((name, out) <- Seq("budget" -> budget, "decontam" -> s6)) {
        val leaf = out.queryExecution.logical match {
          case r: LogicalRDD => r.rdd
          case p => fail(s"$name returned an unmaterialized plan:\n$p")
        }
        val cached = sc.getRDDStorageInfo.find(_.id == leaf.id)
        assert(cached.exists(i => i.numCachedPartitions == i.numPartitions),
          s"$name's result is not materialized: $cached")
      }
      assert(s6.count() < budget.count(), "decontam removed nothing")
    }
    assert(twice.isEmpty, s"computed by two stages at once: $twice")
  }

  test("substring coverage computes no checkpoint from two stages at once") {
    // the rank frequency of the L-gram starts is a window over their one
    // pass; a checkpoint of the starts was read by a count and a
    // semi-join at once. The shared-ranks path is the capstones'
    import graft.ops.Suffix
    val dir = java.nio.file.Files.createTempDirectory("graft_span_spec")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"),
      dir.resolve("documents.parquet"))
    val docs = Tables.documents(spark, dir.toString).select("doc_id", "text")
    val twice = StageReads.overlapping(spark) {
      // a corpus key no memo has seen, so the rank chain is built here
      val pre = Suffix.corpusRanks(docs, dir.toString)
      val stats = Suffix.dupSpanStats(docs, spanLen = 16,
        pre = Some((pre._1, Map(16 -> pre._2(16)))))
      assert(stats.filter(col("dup_tokens") > 0).count() > 0,
        "no duplicated span in the fixture")
    }
    assert(twice.isEmpty, s"computed by two stages at once: $twice")
  }

  test("containment join equals the quadratic capped-space reference") {
    val docs = Tables.documents(spark, sf)
    val posts = Dedup.shingleSets(docs, 3)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val dfOk = posts.groupBy("s").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
    val sets = posts.join(dfOk, "s").select("doc_id", "s")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    val ref = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      sh = (sets(a) & sets(b)).size
      if sh > 0 && sh * 10 >= math.min(sets(a).size, sets(b).size) * 9
    } yield (a, b, sh.toLong, sets(a).size.toLong, sets(b).size.toLong)).toSet
    val got = Dedup.ngramContainment(docs)
      .select("id1", "id2", "shared", "n1", "n2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == ref,
      s"containment diverged: missing=${ref.diff(got).take(3)} extra=${got.diff(ref).take(3)}")
  }

  test("suffix-rank substring dedup equals the direct n-gram reference") {
    // independent Scala replay of dedup_substring: materialize every
    // 16-token gram as a string (what the prefix-doubling ranks encode
    // without ever materializing), count corpus-wide, mark starts,
    // sweep coverage — then compare the full per-doc stat rows
    val L = 16
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val toks = texts.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq }
    val gramCount = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; i <- 0 to ts.length - L)
      gramCount.updateWith(ts.slice(i, i + L))(c => Some(c.getOrElse(0) + 1))
    val ref = toks.map { case (id, ts) =>
      val starts = (0 to ts.length - L)
        .filter(i => gramCount(ts.slice(i, i + L)) >= 2)
      val covered = starts.flatMap(i => i until i + L).toSet.size
      (id, ts.length.toLong, starts.size.toLong, covered.toLong)
    }.toSet
    val got = SparkEntry.queries("dedup_substring")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == ref,
      s"substring dedup diverged: missing=${ref.diff(got).take(3)} " +
        s"extra=${got.diff(ref).take(3)}")
    // the fixture genuinely exercises the operator
    assert(ref.exists(_._3 > 0), "no duplicated spans in the fixture")
  }

  test("corpusRanks memoizes per corpus and matches a private construction") {
    // the r14 perf claim, pinned structurally: a second call must return
    // the SAME materialized tables (no rebuild); the r18 on-demand
    // levels must EXTEND the live snapshot instead of rebuilding it;
    // and every level — the memo seeds at 8 and extends 16 → 32 —
    // must be byte-identical to a private seedLen=4 full-chain build
    // (the seed-width/extension invariance claims, pinned together)
    val docs = Tables.documents(spark, sf)
    val a = graft.ops.Suffix.corpusRanks(docs, sf) // default: L=16 only
    val b = graft.ops.Suffix.corpusRanks(docs, sf,
      graft.ops.Suffix.standardLevels) // extends 32, seeds 8 on demand
    assert(a._1 eq b._1, "positions rebuilt — memo missed")
    assert(a._2(16) eq b._2(16), "level 16 rebuilt — extension missed")
    val c = graft.ops.Suffix.corpusRanks(docs, sf,
      graft.ops.Suffix.standardLevels)
    graft.ops.Suffix.standardLevels.foreach(l =>
      assert(b._2(l) eq c._2(l), s"level $l rebuilt — memo missed"))
    val freshAll = graft.ops.Suffix.suffixRankLevels(
      graft.ops.Suffix.positions(docs), graft.ops.Suffix.standardLevels,
      seedLen = 4)
    graft.ops.Suffix.standardLevels.foreach { l =>
      val memoed = b._2(l).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val fresh = freshAll(l).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(memoed == fresh,
        s"memoized L=$l ranks diverge from a fresh seedLen=4 chain")
    }
  }

  test("semantic dedup equals an independent in-cell union-find replay") {
    // collect the engine's own cell assignment (pinned elsewhere via
    // the ann_ivf oracle), then replay pairs + keep-one-per-family
    // with a driver-side quadratic union-find per cell
    val embT = Tables.embeddings(spark, sf)
    val assigned = Similarity.ivfAssign(embT,
        cells = Similarity.semCells(embT), lloydIters = 1)
      .select("vec_id", "v", "nrm", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2),
        r.getInt(3)))
    val byCell = assigned.groupBy(_._4)
    val parent = scala.collection.mutable.Map(
      assigned.map(a => a._1 -> a._1).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    var nPairs = Map.empty[Int, Long].withDefaultValue(0L)
    for ((cell, vs) <- byCell; i <- vs.indices; j <- i + 1 until vs.length) {
      val (a, b) = (vs(i), vs(j))
      val cos = a._2.zip(b._2).map { case (x, y) => x * y }.sum / (a._3 * b._3)
      if (cos >= 0.35) {
        nPairs += cell -> (nPairs(cell) + 1L)
        val (ra, rb) = (find(a._1), find(b._1))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
    }
    val ref = byCell.map { case (cell, vs) =>
      (cell.toLong, vs.length.toLong, nPairs(cell),
        vs.count(v => find(v._1) != v._1).toLong)
    }.toSet
    val got = SparkEntry.queries("dedup_semantic")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == ref,
      s"semantic dedup diverged: missing=${ref.diff(got).take(3)} " +
        s"extra=${got.diff(ref).take(3)}")
    assert(ref.exists(_._4 > 0), "fixture prunes nothing — dead test")
  }

  test("substring apply: the rewritten text equals a driver-side reconstruction") {
    // independent Scala replay of the whole removal: tokenize, count
    // every 16-gram corpus-wide, mark covered positions, rejoin the
    // survivors — md5 must match the engine's distributed rewrite
    val L = 16
    val toks = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
      .toMap
    val gramCount = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; i <- 0 to ts.length - L)
      gramCount.updateWith(ts.slice(i, i + L))(c => Some(c.getOrElse(0) + 1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ref = toks.map { case (id, ts) =>
      val covered = (0 to ts.length - L)
        .filter(i => gramCount(ts.slice(i, i + L)) >= 2)
        .flatMap(i => i until i + L).toSet
      val kept = ts.indices.filterNot(covered).map(ts)
      (id, ts.length.toLong, kept.size.toLong, md5hex(kept.mkString(" ")))
    }.toSet
    val got = SparkEntry.queries("dedup_substring_apply")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == ref,
      s"apply diverged: missing=${ref.diff(got).take(2)} extra=${got.diff(ref).take(2)}")
    // the rewrite must actually cut something on this fixture
    assert(ref.exists(t => t._3 < t._2), "apply removed nothing — dead test")
  }

  test("semantic sweep: monotone in threshold and consistent with the 0.35 key") {
    val rows = SparkEntry.queries("dedup_semantic_sweep")(spark, sf)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(30L, 35L, 40L))
    // a tighter threshold can only keep fewer pairs and prune fewer
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3, s"sweep not monotone: $a then $b")
    }
    // the 0.35 row must equal the per-cell key's corpus totals exactly
    val per = SparkEntry.queries("dedup_semantic")(spark, sf)
      .agg(org.apache.spark.sql.functions.expr("sum(n_pairs)"),
        org.apache.spark.sql.functions.expr("sum(n_pruned)")).head()
    val t35 = rows.find(_._1 == 35L).get
    assert((t35._2, t35._3) == (per.getLong(0), per.getLong(1)),
      s"sweep 0.35 ${(t35._2, t35._3)} != dedup_semantic totals " +
        s"${(per.getLong(0), per.getLong(1))}")
  }

  test("substring spans: cut + kept reconciles with dedup_substring exactly") {
    // the extraction key must be the removal EXECUTION of the counting
    // key: per doc, the islands' total length equals dup_tokens and
    // kept_tokens is n_tokens minus it; spans are in-bounds, ordered,
    // non-touching (a gap <= L would have merged), and >= L long
    val stats = SparkEntry.queries("dedup_substring")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val spans = SparkEntry.queries("dedup_substring_spans")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(spans.nonEmpty, "no duplicated spans in the fixture")
    val byDoc = spans.groupBy(_._1)
    for ((doc, rows) <- byDoc) {
      val (nTok, dupTok) = stats(doc)
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to rows.length).toSeq,
        s"doc $doc span_idx not 1..n")
      sorted.foreach { case (_, _, s, e, len, n, kept) =>
        assert(s >= 0 && e <= nTok && len == e - s && len >= 16,
          s"doc $doc span [$s,$e) out of bounds or short")
        assert(n == nTok && kept == nTok - dupTok,
          s"doc $doc n/kept mismatch")
      }
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 > a._4,
          s"doc $doc spans touch/overlap: $a then $b (would have merged)")
        case _ => ()
      }
      assert(sorted.map(_._5).sum == dupTok,
        s"doc $doc span lengths ${sorted.map(_._5).sum} != dup_tokens $dupTok")
    }
    // every doc with dup coverage has spans; clean docs have none
    val dupDocs = stats.collect { case (d, (_, dt)) if dt > 0 => d }.toSet
    assert(byDoc.keySet == dupDocs,
      s"span docs != dup docs: missing=${dupDocs.diff(byDoc.keySet).take(3)} " +
        s"extra=${byDoc.keySet.diff(dupDocs).take(3)}")
  }

  test("substring sweep: monotone in span length and consistent with the L=16 key") {
    val rows = SparkEntry.queries("dedup_substring_sweep")(spark, sf)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(8L, 16L, 32L))
    // longer spans can only be LESS duplicated (a dup 32-gram start is
    // a dup 16-gram start is a dup 8-gram start), and gram counts
    // shrink with span length by definition
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3 && b._4 <= a._4,
        s"sweep not monotone: $a then $b")
    }
    // the L=16 row must equal the per-doc key's corpus totals exactly
    val per = SparkEntry.queries("dedup_substring")(spark, sf)
      .agg(org.apache.spark.sql.functions.expr(
        "sum(n_dup_starts)"), org.apache.spark.sql.functions.expr(
        "sum(dup_tokens)")).head()
    val l16 = rows.find(_._1 == 16L).get
    assert((l16._3, l16._4) == (per.getLong(0), per.getLong(1)),
      s"sweep L=16 ${(l16._3, l16._4)} != dedup_substring totals " +
        s"${(per.getLong(0), per.getLong(1))}")
  }

  test("incremental substring dedup equals the direct reference and bounds the batch stats") {
    val L = 16
    val meta = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val thr = 3 * (meta.map(_._1).max + 1) / 4
    val toks = meta.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq }.toMap
    val hist = (for ((id, ts) <- toks.iterator if id < thr;
                     i <- 0 to ts.length - L) yield ts.slice(i, i + L)).toSet
    val ref = toks.collect { case (id, ts) if id >= thr =>
      val starts = (0 to ts.length - L)
        .filter(i => hist(ts.slice(i, i + L)))
      (id, ts.length.toLong, starts.size.toLong,
        starts.flatMap(i => i until i + L).toSet.size.toLong)
    }.toSet
    val got = SparkEntry.queries("dedup_substring_incremental")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == ref,
      s"incremental diverged: missing=${ref.diff(got.toSet).take(3)} " +
        s"extra=${got.toSet.diff(ref).take(3)}")
    // vs-history duplication can never exceed vs-corpus duplication
    val batch = SparkEntry.queries("dedup_substring")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    got.foreach { case (id, n, _, histDup) =>
      assert(batch(id)._1 == n, s"token count mismatch for doc $id")
      assert(histDup <= batch(id)._2,
        s"doc $id: history-dup coverage $histDup exceeds corpus-dup ${batch(id)._2}")
    }
  }

  test("substring source attribution equals the direct n-gram reference") {
    // same direct materialization as the substring-dedup reference,
    // rolled up to per-(gram, source) counts and the bounded pair join
    val L = 16
    val meta = Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val bySrc = scala.collection.mutable.Map.empty[(Seq[String], String), Int]
    for ((_, t, src) <- meta) {
      val ts = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      for (i <- 0 to ts.length - L)
        bySrc.updateWith((ts.slice(i, i + L), src))(c => Some(c.getOrElse(0) + 1))
    }
    val grams = bySrc.keys.groupBy(_._1)
    val ref = scala.collection.mutable.Map.empty[(String, String), Long]
    for ((g, ks) <- grams) {
      val srcs = ks.map(_._2).toSeq.sorted
      for (i <- srcs.indices; j <- i until srcs.length
           if srcs(i) < srcs(j) || bySrc((g, srcs(i))) >= 2)
        ref.updateWith((srcs(i), srcs(j)))(c => Some(c.getOrElse(0L) + 1L))
    }
    val got = SparkEntry.queries("dedup_substring_sources")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == ref.toMap,
      s"source attribution diverged: missing=${ref.toMap.toSet.diff(got.toSet).take(3)} " +
        s"extra=${got.toSet.diff(ref.toMap.toSet).take(3)}")
    assert(ref.nonEmpty, "fixture has no shared spans across sources")
  }

  test("funnel coverage from the gram store equals dupSpanStats' nonzero rows") {
    // the streaming funnel's substring stage re-derives coverage from
    // 64-bit gram hashes with an island sweep; the batch funnel counts
    // suffix-rank duplicates with a window max — both over every doc
    // and over the exact-dedup winners the funnel actually feeds it
    import graft.ops.{FunnelStore, Suffix}
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
    val st = FunnelStore.extract(docs)
    val winners = st.meta.groupBy("norm_h").agg(min("doc_id").as("doc_id"))
    for ((name, in) <- Seq("every doc" -> docs,
                           "exact-dedup winners" ->
                             docs.join(winners, Seq("doc_id"), "left_semi"))) {
      def cov(df: DataFrame) = df.select("doc_id", "dup_tokens").as[(Long, Long)]
        .collect().toMap
      val got = cov(FunnelStore.coverage(st.grams, in))
      val ref = cov(Suffix.dupSpanStats(in).filter(col("dup_tokens") > 0))
      assert(got == ref, s"$name: coverage diverged: " +
        s"missing=${ref.toSet.diff(got.toSet).take(3)} " +
        s"extra=${got.toSet.diff(ref.toSet).take(3)}")
      assert(ref.nonEmpty, s"$name: no doc has a duplicated span — dead test")
    }
  }

  test("tf-idf cosine join equals the quadratic capped-space reference") {
    // independent Scala replay: same u3 idf quantization (BigDecimal
    // HALF_UP, Spark's round), integer weights, BigInt cross-multiplied
    // squared threshold — then set-compare the full integer pair rows
    val docs = Tables.documents(spark, sf)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = rows.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    }.toMap
    val nDocs = rows.length
    val df = tf.values.flatMap(_.keys).groupBy(identity)
      .map { case (k, v) => k -> v.size }.filter(_._2 * 10 <= nDocs)
    def idfU3(d: Int): Long =
      BigDecimal(math.log(nDocs.toDouble / d) * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val w = tf.map { case (id, m) =>
      id -> m.collect { case (t, c) if df.contains(t) => t -> c * idfU3(df(t)) }
    }
    val nsq = w.map { case (id, m) => id -> m.values.map(x => x * x).sum }
    val ids = w.keys.toSeq.sorted
    val ref = (for {
      i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator
      a = ids(i); b = ids(j)
      dot = (w(a).keySet & w(b).keySet).iterator.map(t => w(a)(t) * w(b)(t)).sum
      if dot > 0 &&
        BigInt(dot) * BigInt(dot) * 100 >= BigInt(nsq(a)) * BigInt(nsq(b)) * 81
    } yield (a, b, dot, nsq(a), nsq(b))).toSet
    val got = Dedup.tfidfCosine(docs)
      .select("id1", "id2", "dot", "n1", "n2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == ref,
      s"tfidf cosine diverged: missing=${ref.diff(got).take(3)} extra=${got.diff(ref).take(3)}")
  }

  test("tf-idf cosine ranks rare-vocabulary overlap above stopword overlap") {
    // two pairs with the SAME raw token overlap count: one shares the
    // corpus-common filler, one shares the rare trigram vocabulary —
    // only the rare-sharing pair crosses the 0.9 cosine bar
    val filler = "the of and to in" // df = 4 (every doc)
    val docs = Seq(
      (1L, s"$filler zephyr quartz glyph"),
      (2L, s"$filler zephyr quartz glyph"),
      (3L, s"$filler apple river stone"),
      (4L, s"$filler mango cloud brick")).toDF("doc_id", "text")
    // cap df <= N/2: keeps the df=2 rare terms, drops the df=4 filler
    val got = Dedup.tfidfCosine(docs, tNum = 9, tDen = 10, maxDfDen = 2)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"identical rare-vocab pair missing: $got")
    assert(!got.contains((3L, 4L)),
      s"filler-only pair must stay below the bar: $got")
  }

  test("exact dedup collapses whitespace/case variants to one keeper") {
    val docs = Seq(
      (1L, "Hello   World"),
      (2L, "hello world"),
      (3L, "HELLO  \t WORLD "),
      (4L, "something else entirely")).toDF("doc_id", "text")
    val out = Dedup.exact(docs).orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("keep_id") == 1L && out.head.getAs[Long]("n_copies") == 3L)
    assert(out(1).getAs[Long]("keep_id") == 4L && out(1).getAs[Long]("n_copies") == 1L)
  }

  test("shingles are distinct in-order word 3-grams") {
    val sh = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh")).head()
      .getAs[scala.collection.Seq[String]]("sh")
    assert(sh.toSeq == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("native Shingles expression equals the declarative HOF form on real docs") {
    // element-by-element parity (values AND order) over the whole
    // sf0.001 corpus plus adversarial edge rows
    val edge = Seq((9001L, ""), (9002L, "   "), (9003L, "one two"),
      (9004L, "ÜPPER Ünïcode mixed 123abc--456"), (9005L, "a a a a a"))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").unionByName(edge)
    Seq(1, 3, 5).foreach { n =>
      val rows = docs.select(col("doc_id"),
        Dedup.shingles(col("text"), n).as("native"),
        Dedup.shinglesHof(col("text"), n).as("hof")).collect()
      rows.foreach { r =>
        assert(r.getAs[scala.collection.Seq[String]]("native") ==
          r.getAs[scala.collection.Seq[String]]("hof"), s"n=$n doc=${r.getLong(0)}")
      }
    }
  }

  test("native DotProduct expression is bit-identical to the declarative fold") {
    val rows = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
      .select(Dedup.dot(col("v"), col("v")).as("native"),
        Dedup.dotHof(col("v"), col("v")).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("simhash chunk blocking is pigeonhole-complete vs brute force") {
    // ADVICE r2: a FIXED 4×16-bit split is only complete for distance
    // ≤ 3; the chunk count is now derived (maxHamming+1). Prove
    // completeness at radius 6 against a driver-side all-pairs brute
    // force over the sf0.001 signatures.
    val sigs = Dedup.simhashSignatures(Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val radius = 6
    val brute = (for {
      (i1, s1) <- sigs; (i2, s2) <- sigs
      if i1 < i2 && java.lang.Long.bitCount(s1 ^ s2) <= radius
    } yield (i1, i2)).toSet
    val blocked = Dedup.simhashPairs(Tables.documents(spark, sf), maxHamming = radius)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocked=${blocked.size} brute=${brute.size}")
  }

  test("ngram jaccard finds the known near-dup pairs at sf0.001") {
    val pairs = Dedup.ngramJaccard(Tables.documents(spark, sf)).collect()
    assert(pairs.nonEmpty, "expected near-dup pairs in testdata")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.8))
  }

  test("minhash_agg aggregate equals per-permutation min columns") {
    val k = 16
    val docs = Tables.documents(spark, sf).limit(50)
    val viaAgg = Dedup.minhashSignatures(docs, n = 3, k = k)
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("sig").toSeq).toMap
    // reference: the same double-hash permutations as k separate min aggs
    graft.functions.GraftHash64.register(spark)
    val ex = docs
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"),
        pmod(call_function("graft_hash64", col("s"), lit(0L)), lit(1L << 31)).as("ha"),
        pmod(call_function("graft_hash64", col("s"), lit(graft.functions.GraftHash64.Golden)),
          lit(1L << 31)).as("hb"))
    val mins = (0 until k).map(i => min(col("ha") + lit(i.toLong) * col("hb")).as(s"h$i"))
    val viaCols = ex.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong(_))).toMap
    assert(viaAgg.keySet == viaCols.keySet)
    viaAgg.keys.foreach(id => assert(viaAgg(id) == viaCols(id), s"doc $id"))
  }

  test("incremental dedup equals the full-corpus pairs touching the new shard") {
    val docs = Tables.documents(spark, sf)
    val full = Dedup.minhashLsh(docs, 3, 128, 16, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // reorient full pairs the way the incremental contract does: the
    // NEW id leads; id1 < id2 in `full` already keeps both-new pairs
    // in (min, max) order
    val expected = full.filter { case (a, b) => a >= 400 || b >= 400 }
      .map { case (a, b) => if (a >= 400) (a, b) else (b, a) }
    val inc = Dedup.minhashLshIncremental(docs, _ >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == expected, s"incremental diverged: ${inc.diff(expected)} / ${expected.diff(inc)}")
    // cross flag: match_id < 400 exactly when the match is old corpus
    val flags = Dedup.minhashLshIncremental(docs, _ >= 400)
      .collect().map(r => (r.getLong(1), r.getAs[Long]("is_cross")))
    assert(flags.forall { case (m, f) => (m < 400) == (f == 1L) })
  }

  test("PPJoin prefix filter has EXACT recall: equals the quadratic oracle on random corpora") {
    import org.scalacheck.{Gen, rng}
    import spark.implicits._
    // random token-set corpora from a small vocabulary (forces heavy
    // shingle overlap), deterministic ScalaCheck sampling so failures
    // reproduce; the exact-recall claim is load-bearing — PPJoin is
    // the "no DF cap acceptable" path, so a single missed pair at ANY
    // threshold is a bug, not noise
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = Gen.choose(4, 16).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(30, docGen)
    for (seed <- 1L to 3L; (tNum, tDen) <- Seq((1, 2), (4, 5), (9, 10))) {
      val texts = corpusGen.pureApply(Gen.Parameters.default, rng.Seed(seed))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sets = graft.ops.Dedup.shingleSets(docs, 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        shared = (sets(a) & sets(b)).size
        union  = (sets(a) | sets(b)).size
        if union > 0 && shared * tDen >= union * tNum
      } yield (a, b)).toSet
      val got = graft.ops.Dedup.prefixFilterJaccard(docs, 3, tNum, tDen)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=$seed t=$tNum/$tDen missed=${expected.diff(got)} extra=${got.diff(expected)}")
    }
  }

  /** The r17 shape of [[Dedup.prefixFilterJaccard]] — the parity
    * oracle for the test below (same contract, separately derived plan). */
  private def prefixFilterJaccardRef(docs: DataFrame, n: Int = 3,
                          tNum: Int = 4, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = Dedup.shingleSets(docs, n)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .localCheckpoint(true) // feeds df, sizes, prefixes, and the verify
    val df    = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
    val pre = ex.join(df, "s").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "s")
      .localCheckpoint(true) // both sides of the candidate self-join
    val cands = pre.select(col("doc_id").as("id1"), col("s"))
      .join(pre.select(col("doc_id").as("id2"), col("s")), Seq("s"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
    val inter = cands
      .join(ex.select(col("doc_id").as("id1"), col("s")), Seq("id1"))
      .join(ex.select(col("doc_id").as("id2"), col("s")), Seq("id2", "s"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
    inter
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .filter(col("shared") * tDen >=
        (col("n1") + col("n2") - col("shared")) * tNum)
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared") / (col("n1") + col("n2") - col("shared")))
          .as("jaccard"))
  }

  test("prefix filter r18 plan is row-identical to the r17 reference shape") {
    // the r18 rewrite (df from bucket size, map-side candidate pairs,
    // array_intersect verify on attached shingle arrays) must emit the
    // SAME rows with the SAME shared/jaccard values as the old
    // join-heavy derivation — full-row equality on the sf fixture at
    // two thresholds
    val docs = Tables.documents(spark, sf)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) ->
        (r.getAs[Long]("shared"), r.getAs[Double]("jaccard")))
      .toMap
    for ((tNum, tDen) <- Seq((4, 5), (1, 2))) {
      val got = asMap(Dedup.prefixFilterJaccard(docs, 3, tNum, tDen))
      val ref = asMap(prefixFilterJaccardRef(docs, 3, tNum, tDen))
      assert(got == ref, s"t=$tNum/$tDen " +
        s"missing=${ref.keySet.diff(got.keySet)} extra=${got.keySet.diff(ref.keySet)} " +
        s"diff=${ref.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }}")
    }
  }

  test("containment join equals the quadratic oracle on random corpora at multiple thresholds") {
    import org.scalacheck.{Gen, rng}
    import spark.implicits._
    // 30-doc corpora from an 8-word vocabulary: every shingle's df stays
    // under the 50 cap, so the capped candidate space is complete and the
    // quadratic reference must match EXACTLY at every threshold
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = Gen.choose(4, 16).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(30, docGen)
    for (seed <- 1L to 3L; (tNum, tDen) <- Seq((1, 2), (4, 5), (9, 10))) {
      val texts = corpusGen.pureApply(Gen.Parameters.default, rng.Seed(seed))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sets = graft.ops.Dedup.shingleSets(docs, 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys if a < b
        shared = (sets(a) & sets(b)).size
        mn = math.min(sets(a).size, sets(b).size)
        if shared > 0 && shared * tDen >= mn * tNum
      } yield (a, b)).toSet
      val got = graft.ops.Dedup.ngramContainment(docs, 3, tNum, tDen, maxDF = 50)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=$seed t=$tNum/$tDen missed=${expected.diff(got)} extra=${got.diff(expected)}")
    }
  }

  test("signature-store incremental equals the from-scratch signature run") {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sf)
    // from-scratch: every signature recomputed from raw text
    val scratch = Dedup.signatureCandidates(
        Dedup.minhashSignatures(docs, 3, 128), _ >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSet
    // store-fed: old signatures persisted, shard appended, text unread
    val stored = Dedup.minhashStoreIncremental(docs, _ >= 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSet
    assert(stored == scratch,
      s"store diverged: ${stored.diff(scratch)} / ${scratch.diff(stored)}")
    assert(stored.nonEmpty, "the shard should match known near-dups")
    // every pair touches the shard and cross pairs point at old docs
    stored.foreach { case (n, m, nm, cross) =>
      assert(n >= 400, s"new_id $n not in shard")
      assert((m < 400) == (cross == 1L), s"is_cross wrong for ($n, $m)")
      assert(nm * 10 >= 1024, s"under-threshold pair ($n, $m) emitted")
    }
  }

  test("minhash LSH returns a verified subset with high recall of exact pairs") {
    val exact = Dedup.ngramJaccard(Tables.documents(spark, sf))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(Tables.documents(spark, sf))
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH output must be verified against true Jaccard")
    assert(lsh.size >= (exact.size * 0.8).toInt,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("simhash: identical docs collide at hamming 0; disjoint docs don't pair") {
    val docs = Seq(
      (1L, "spark shuffles partition the keyspace across executors for joins"),
      (2L, "spark shuffles partition the keyspace across executors for joins"),
      (3L, "entirely different words about nothing in particular here today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getAs[Int]("hamming") == 0)
  }

  test("embedding near-dups stay within label blocks and above threshold") {
    val out = Dedup.embeddingNearDup(Tables.embeddings(spark, sf)).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Double]("cos") >= 0.35))
  }

  test("brute-force ANN: k neighbors per probe, ranked by cosine desc") {
    val out = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), col("vec_id") < 3, k = 5)
      .collect()
    assert(out.length == 15)
    val byProbe = out.groupBy(_.getAs[Long]("probe_id"))
    byProbe.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cos"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
      assert(sorted.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("probe_id")))
    }
  }

  test("effective tokens: per-source savings replay via an independent union-find") {
    val rows = SparkEntry.queries("dedup_effective_tokens")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pairs = Dedup.ngramJaccard(Tables.documents(spark, sf),
        n = 3, threshold = 0.8, maxDF = 50)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-by-min: attaching the larger root under the smaller keeps
    // every tree's root at its component's min id — the CC keeper rule
    val parent = scala.collection.mutable.Map[Long, Long](
      docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val tok = docs.map(d => d._1 ->
      d._3.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty).toLong).toMap
    val exp = docs.groupBy(_._2).view.mapValues { ds =>
      val keptDocs = ds.filter(d => find(d._1) == d._1)
      val raw = ds.map(d => tok(d._1)).sum
      val keptT = keptDocs.map(d => tok(d._1)).sum
      (ds.length.toLong, keptDocs.length.toLong, raw, keptT,
        (raw - keptT) * 10000L / raw)
    }.toMap
    assert(rows.map(_.getAs[String]("source")).toSet == exp.keySet)
    rows.foreach { r =>
      val e = exp(r.getAs[String]("source"))
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("tokens_raw"), r.getAs[Long]("tokens_kept"),
        r.getAs[Long]("savings_u4")) == e, s"source ${r.getString(0)}")
    }
  }

  test("LSH ANN neighbors share the probe's bucket and rank correctly") {
    val out = Similarity.lshTopK(Tables.embeddings(spark, sf), col("vec_id") < 3, k = 5)
      .collect()
    assert(out.nonEmpty)
    // every returned neighbor must be a true same-bucket vector: recompute buckets
    val planes = Similarity.hyperplanes(8, 64)
    val buckets = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.bucketOf(
        col("embedding").cast("array<double>"), planes).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(buckets(r.getAs[Long]("neighbor_id")) == r.getAs[Int]("bucket"))
      assert(buckets(r.getAs[Long]("probe_id")) == r.getAs[Int]("bucket"))
    }
  }

  test("prefix filter has exact recall: finds every ngramJaccard pair, identical scores") {
    val docs = Tables.documents(spark, SparkTestSession.sf)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")) -> r.getAs[Double]("jaccard"))
      .toMap
    val capped = asMap(Dedup.ngramJaccard(docs, n = 3, threshold = 0.8, maxDF = 50))
    val exact  = asMap(Dedup.prefixFilterJaccard(docs, n = 3))
    // the DF-capped approximation can only lose pairs, never invent them
    // (on this fixture the capped jaccard equals the true jaccard for
    // every surviving pair — no shingle of a dup pair exceeds the cap)
    capped.foreach { case (pair, j) =>
      assert(exact.contains(pair), s"prefix filter missed $pair")
      assert(math.abs(exact(pair) - j) < 1e-9, s"$pair: ${exact(pair)} vs $j")
    }
    assert(exact.size >= capped.size)
    // and the threshold really is exact integer arithmetic: no pair
    // below 0.8 sneaks in
    assert(exact.values.forall(_ >= 0.7999), s"below-threshold pair in ${exact.values.min}")
  }

  test("edit-distance verify: flag is a pure function of the rounded ratio; catches reorders Jaccard misses") {
    val out = SparkEntry.queries("dedup_edit_verify")(spark, SparkTestSession.sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (d, m) = (r.getAs[Long]("edit_dist"), r.getAs[Long]("max_len"))
      val (rel, dup) = (r.getAs[Double]("rel_dist"), r.getAs[Long]("is_dup"))
      assert(d >= 0 && d <= m)
      assert(rel >= 0.0 && rel <= 1.0)
      assert((dup == 1L) == (rel <= 0.2), s"flag/ratio mismatch: $rel -> $dup")
    }
    // the property Jaccard can't see: a word-level reorder preserves the
    // shingle SET far better than the character stream
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "again and again the lazy dog jumps over the quick brown fox"
    val d = Seq((a, b)).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).head().getInt(0)
    assert(d > a.length / 3, s"reorder edit distance $d should be large")
  }

  test("soft dedup weights: neutral for all-unique docs, exact inverse of commonness") {
    val rows = SparkEntry.queries("dedup_soft_weights")(spark, SparkTestSession.sf)
      .collect()
    // gram accounting must agree with text_span_dedup's (same extraction)
    val spans = SparkEntry.queries("text_span_dedup")(spark, SparkTestSession.sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_spans")).toMap
    assert(rows.nonEmpty)
    var sawDup = false
    rows.foreach { r =>
      val (n, s) = (r.getAs[Long]("n_grams"), r.getAs[Long]("sum_df"))
      assert(n == spans(r.getAs[Long]("doc_id")))
      if (n > 0) {
        val comm = r.getAs[Long]("comm_u4")
        val w = r.getAs[Long]("weight_u4")
        assert(comm >= 10000L, "mean df below 1 is impossible")
        assert(w <= 10000L, "weight above neutral is impossible")
        // a doc whose grams appear nowhere else is EXACTLY neutral
        if (s == n) { assert(comm == 10000L && w == 10000L) }
        else { sawDup = true; assert(comm > 10000L && w < 10000L) }
        // weight is the inverse of commonness up to half-up slack
        assert(math.abs(comm * w - 100000000L) <= comm + w,
          s"comm_u4=$comm weight_u4=$w not inverse")
      }
    }
    assert(sawDup, "corpus should contain at least one duplicated gram")
  }
}
