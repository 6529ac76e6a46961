package graft

import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{SharedArtifacts, Suffix}
import graft.ops.PlanBarrier.Barrier
import graft.queries.CapstonePrelude
import graft.sources.Tables

/** The batch capstones' shared machinery: the one memo body every
  * cross-query artifact goes through (and its per-key locks), the
  * prelude stage functions the memos and v3's non-empty-quarantine
  * branch share, and the Spark job budget of one cold
  * `pipeline_e2e_v2` call. */
class CapstoneSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A copy of `src` in a fresh directory — a corpus no memo has seen. */
  private def freshCopy(src: String): java.nio.file.Path = {
    val dst = java.nio.file.Files.createTempDirectory("graft_capstone_spec")
    val from = java.nio.file.Paths.get(src)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val to = dst.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    } finally walk.close()
    dst
  }

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
  }

  /** A one-file directory — a memo key no other test has seen. */
  private def tinyCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec")
    java.nio.file.Files.write(dir.resolve("part"), "corpus".getBytes("UTF-8"))
    dir.toString
  }

  private def async[T](f: => T): CompletableFuture[T] =
    CompletableFuture.supplyAsync(() => f)

  test("a memo builds each shared frame once, serves hits, and rebuilds a swept entry") {
    val dir = tinyCorpus()
    val sc = spark.sparkContext
    var builds = 0
    def call() = SharedArtifacts.memo(spark, dir, "memo_spec") { share =>
      builds += 1
      val a = share(spark.range(10).toDF("id").shared("memo_spec.a"))
      (a, share(a.filter("id % 2 = 0").shared("memo_spec.even")))
    }
    def moved[T](f: => T): (T, (Long, Long), (Long, Long)) = {
      val (g0, f0) = (SharedArtifacts.counters,
        SharedArtifacts.familyCounters.getOrElse("memo_spec", (0L, 0L)))
      val v = f
      val (g1, f1) = (SharedArtifacts.counters,
        SharedArtifacts.familyCounters("memo_spec"))
      (v, (g1._1 - g0._1, g1._2 - g0._2), (f1._1 - f0._1, f1._2 - f0._2))
    }
    val before = sc.getPersistentRDDs.keySet
    val (first, g1, f1) = moved(call())
    assert(g1 == (2L, 0L) && f1 == (2L, 0L), s"first call moved $g1 / $f1")
    val shared = sc.getPersistentRDDs.keySet.diff(before)
    assert(shared.size == 2 && shared.forall(SharedArtifacts.isProtected))
    val (second, g2, f2) = moved(call())
    assert(g2 == (0L, 1L) && f2 == (0L, 1L), s"second call moved $g2 / $f2")
    assert(builds == 1 && (second._1 eq first._1) && (second._2 eq first._2))
    sc.getPersistentRDDs(shared.max).unpersist(blocking = true)
    val (third, g3, f3) = moved(call())
    assert(g3 == (2L, 0L) && f3 == (2L, 0L), s"call after the sweep moved $g3 / $f3")
    assert(builds == 2 && !(third._1 eq first._1))
    assert(third._1.count() == 10 && third._2.count() == 5)
  }

  test("a build blocked on one memo key does not hold up another key's build") {
    val dir = tinyCorpus()
    val (entered, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val a = async(SharedArtifacts.memo(spark, dir, "memo_spec_a") { share =>
      entered.countDown()
      release.await()
      share(spark.range(3).toDF("id").shared("memo_spec_a.ids"))
    })
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "family A's build never started")
      // under one lock for every key, B would wait for A's release
      val b = async(SharedArtifacts.memo(spark, dir, "memo_spec_b")(
        _(spark.range(4).toDF("id").shared("memo_spec_b.ids"))))
      assert(b.get(60, TimeUnit.SECONDS).count() == 4)
      assert(!a.isDone, "family A finished before its latch opened")
    } finally release.countDown()
    assert(a.get(60, TimeUnit.SECONDS).count() == 3)
  }

  test("two callers of one memo key get one build and one hit, and the counters stay exact") {
    val dir = tinyCorpus()
    val builds = new AtomicInteger
    val (entered, go) = (new CountDownLatch(1), new CountDownLatch(1))
    def call() = SharedArtifacts.memo(spark, dir, "memo_spec_same") { share =>
      builds.incrementAndGet()
      entered.countDown()
      go.await()
      share(spark.range(5).toDF("id").shared("memo_spec_same.ids"))
    }
    val (g0, f0) = (SharedArtifacts.counters,
      SharedArtifacts.familyCounters.getOrElse("memo_spec_same", (0L, 0L)))
    val first = async(call())
    assert(entered.await(60, TimeUnit.SECONDS), "the first build never started")
    var second: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => second = call())
    t.start()
    // the second caller waits on the key's lock while the first builds
    val deadline = System.nanoTime + 60L * 1000000000L
    while (t.getState != Thread.State.BLOCKED && System.nanoTime < deadline)
      Thread.sleep(10)
    assert(t.getState == Thread.State.BLOCKED, s"second caller is ${t.getState}")
    go.countDown()
    val v = first.get(60, TimeUnit.SECONDS)
    t.join(60000)
    assert(builds.get == 1 && (second eq v))
    val (g1, f1) = (SharedArtifacts.counters,
      SharedArtifacts.familyCounters("memo_spec_same"))
    assert((g1._1 - g0._1, g1._2 - g0._2) == (1L, 1L), s"global counters $g0 -> $g1")
    assert((f1._1 - f0._1, f1._2 - f0._2) == (1L, 1L), s"family counters $f0 -> $f1")
    // the per-family counters are one atomic update each under contention
    val (h0, fh0) = (SharedArtifacts.counters._2,
      SharedArtifacts.familyCounters.get("memo_spec_hits").fold(0L)(_._2))
    val threads = (1 to 8).map(_ => async((1 to 2000).foreach(_ =>
      SharedArtifacts.noteHit("memo_spec_hits"))))
    threads.foreach(_.get(60, TimeUnit.SECONDS))
    assert(SharedArtifacts.counters._2 - h0 == 16000L)
    assert(SharedArtifacts.familyCounters("memo_spec_hits")._2 - fh0 == 16000L)
  }

  test("a cold pipeline_e2e_v2 call finishes while another thread holds the suffix ranks' lock") {
    // the overlapped prelude's substring build waits for the ranks under
    // its own key's lock; holding Suffix's lock for a while stands for a
    // long ranks build in the prelude's branch, whatever thread gets
    // there first. Lock order (keys, then Suffix) admits no cycle
    val dir = freshCopy(sf)
    val (held, release) = (new CountDownLatch(1), new CountDownLatch(1))
    val holder = new Thread(() => Suffix.synchronized {
      held.countDown()
      release.await(3, TimeUnit.SECONDS)
    })
    try {
      holder.start()
      assert(held.await(60, TimeUnit.SECONDS))
      val rows = async(SparkEntry.queries("pipeline_e2e_v2")(spark, dir.toString)
        .collect())
      assert(rows.get(300, TimeUnit.SECONDS).length == 12)
    } finally {
      release.countDown()
      holder.join(60000)
      deleteTree(dir)
    }
  }

  test("memo liveness checks live only in SharedArtifacts.memo and Suffix.corpusRanks") {
    val sites = for {
      (f, lines) <- MainSources.lines
      l <- lines if l.contains("getPersistentRDDs.contains")
    } yield f.getName
    assert(sites.sorted == Seq("SharedArtifacts.scala", "Suffix.scala"),
      s"memo bodies outside SharedArtifacts.memo: $sites")
  }

  test("the prelude stage functions equal the memoized prelude row for row") {
    // v3's non-empty-quarantine branch runs exactDedup →
    // substringSurvivors → families over its survivors; its
    // empty-quarantine fast path reads the memos instead. Over the full
    // corpus the two must agree row for row, and each stage must bite
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).toSet
    val docs = Tables.documents(spark, sf).select("doc_id", "text", "source")
    val s1 = CapstonePrelude.exactDedup(docs)
    val s2 = CapstonePrelude.substringSurvivors(spark, sf, s1)
    val fam = CapstonePrelude.families(s2)
    val (_, m1, m2) = CapstonePrelude.withSubstring(spark, sf)
    val (r1, r2, rf) = (rows(s1), rows(s2), rows(fam))
    assert(r1 == rows(m1), "exact dedup diverged from the memo")
    assert(r2 == rows(m2), "substring survivors diverged from the memo")
    assert(rf == rows(CapstonePrelude.clusters(spark, sf)),
      "families diverged from the memo")
    assert(r2.size < r1.size, "substring dedup removed nothing")
    assert(fam.filter("doc_id <> cluster_id").count() > 0,
      "no near-dup family in the fixture")
  }

  test("graft's SQL functions register once per session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    def builders = Seq("graft_hash64", "word_shingles", "word_shingles_seq",
      "array_pairs", "graft_bloom_agg", "might_contain")
      .map(n => registry.lookupFunctionBuilder(FunctionIdentifier(n)))
    def register(): Unit = {
      graft.functions.GraftHash64.register(spark)
      graft.functions.Shingles.register(spark)
      graft.functions.ArrayPairs.register(spark)
      graft.ops.Bloom.register(spark)
    }
    register()
    val first = builders
    assert(first.forall(_.isDefined))
    register()
    assert(builders.zip(first).forall { case (a, b) => a.get eq b.get },
      "a second register replaced a builder")
  }

  test("one cold pipeline_e2e_v2 call stays under its Spark job bound") {
    // a fresh copy of the fixture, so every prelude memo misses
    val dir = freshCopy(sf)
    var warnings = Seq.empty[String]
    val (tagged, untagged) =
      try CallJobs.count(spark) {
        warnings = LogLines.warnings {
          val rows = SparkEntry.queries("pipeline_e2e_v2")(spark, dir.toString)
            .collect()
          assert(rows.length == 12)
        }
      } finally deleteTree(dir)
    val replaced = warnings.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, s"the call re-registered functions: $replaced")
    assert(untagged == 0,
      s"$untagged of the call's jobs lost the caller's local properties")
    // measured at this fixture: 162 jobs in each of 5 cold calls in one
    // JVM before the funnel stages became shared functions, 162-163
    // after; AQE's runtime broadcast jobs can vary with timing, so the
    // bound leaves 5 jobs of headroom, as the stream funnel's does
    assert(tagged <= 167, s"a cold pipeline_e2e_v2 started $tagged jobs")
  }
}
