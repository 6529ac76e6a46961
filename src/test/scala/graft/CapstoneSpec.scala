package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SharedArtifacts
import graft.queries.CapstonePrelude
import graft.sources.Tables

/** The batch capstones' shared machinery: the one memo body every
  * cross-query artifact goes through, the prelude stage functions the
  * memos and v3's non-empty-quarantine branch share, and the Spark job
  * budget of one cold `pipeline_e2e_v2` call. */
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

  test("a memo builds each shared frame once, serves hits, and rebuilds a swept entry") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec")
    java.nio.file.Files.write(dir.resolve("part"), "corpus".getBytes("UTF-8"))
    val sc = spark.sparkContext
    var builds = 0
    def call() = SharedArtifacts.memo(spark, dir.toString, "memo_spec") { share =>
      builds += 1
      val a = share(spark.range(10).toDF("id"))
      (a, share(a.filter("id % 2 = 0")))
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

  test("one cold pipeline_e2e_v2 call stays under its Spark job bound") {
    // a fresh copy of the fixture, so every prelude memo misses
    val dir = freshCopy(sf)
    val (tagged, untagged) =
      try CallJobs.count(spark) {
        val rows = SparkEntry.queries("pipeline_e2e_v2")(spark, dir.toString)
          .collect()
        assert(rows.length == 12)
      } finally {
        val walk = java.nio.file.Files.walk(dir)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.delete(p))
        finally walk.close()
      }
    assert(untagged == 0,
      s"$untagged of the call's jobs lost the caller's local properties")
    // measured at this fixture: 162 jobs in each of 5 cold calls in one
    // JVM before the funnel stages became shared functions, 162-163
    // after; AQE's runtime broadcast jobs can vary with timing, so the
    // bound leaves 5 jobs of headroom, as the stream funnel's does
    assert(tagged <= 167, s"a cold pipeline_e2e_v2 started $tagged jobs")
  }
}
