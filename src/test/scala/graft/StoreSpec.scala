package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{EventStreams, Store}

/** The store protocol at every point where it can stop. Each test lays
  * a crash state out on disk by hand — a temp snapshot a compaction
  * died writing, a committed snapshot whose garbage is still there, a
  * replayed batch, a version write that died — and checks that the
  * store reads as the uncrashed run does, both before and after the
  * next compaction (or, for a versioned store, the replayed write). */
class StoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def entry(bid: Long): DataFrame = {
    import spark.implicits._
    Seq(("web", 10L + bid), ("books", 2L * bid), ("code", 7L)).toDF("source", "n_docs")
  }
  private val law = (df: DataFrame) => EventStreams.sumFold("source")(df)
  private def fresh(): String = graft.sources.Scratch.dir("graft_store_spec").toString
  private def sums(dir: String): Map[String, Long] =
    EventStreams.storeSums(spark, dir, "source")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  private def names(dir: String): Set[String] = new java.io.File(dir).list().toSet
  /** What a write that died after job setup leaves: data, no `_SUCCESS`. */
  private def uncommit(dir: String): Unit = {
    require(new java.io.File(dir, "_SUCCESS").delete(), s"$dir was not committed")
  }

  /** The uncrashed run: batches 0 until `n`, each put and compacted. */
  private def landed(dir: String, n: Long): String = {
    for (b <- 0L until n) { Store.put(entry(b), dir, b); Store.compact(spark, dir, law) }
    dir
  }
  private lazy val uncrashed: Map[String, Long] = sums(landed(fresh(), n))

  private def recovers(dir: String, want: Map[String, Long], state: String): Unit = {
    assert(sums(dir) == want, s"$state: the read diverged before the next compaction")
    Store.compact(spark, dir, law)
    assert(sums(dir) == want, s"$state: the read diverged after the next compaction")
  }

  private val n = Store.CompactAbove + 4L

  test("a compaction that dies before its commit loses nothing") {
    val dir = fresh()
    for (b <- 0L until n) Store.put(entry(b), dir, b)
    // the fold was half written into the temp snapshot when it died;
    // every entry it was folding is still in place
    law(Store.read(spark, dir, before = 4)).write.parquet(s"$dir/_snap-${n - 1}.tmp")
    uncommit(s"$dir/_snap-${n - 1}.tmp")
    recovers(dir, uncrashed, "partial temp snapshot")
    assert(names(dir) == Set(s"snap-${n - 1}"))
  }

  test("a committed snapshot whose garbage is not yet deleted reads once") {
    val dir = fresh()
    for (b <- 0L until n) Store.put(entry(b), dir, b)
    // two compactions committed and died before deleting what they
    // folded: the old snapshot and every folded entry are still there
    Store.snapshot(dir, 8)(law(Store.read(spark, dir, before = 9)).coalesce(1))
    Store.snapshot(dir, 16)(law(Store.read(spark, dir, before = 17)).coalesce(1))
    assert(names(dir).count(_.startsWith("b")) == n)
    recovers(dir, uncrashed, "committed snapshot before its garbage collection")
    assert(names(dir) == Set("snap-16") ++ (17L until n).map(b => s"b$b"))
  }

  test("a replay of a batch the snapshot already folded is ignored") {
    val dir = landed(fresh(), n)
    assert(names(dir).contains("snap-16") && !names(dir).contains("b3"))
    Store.put(entry(3L), dir, 3L)
    recovers(dir, uncrashed, "replay at or below the snapshot id")
    assert(!names(dir).contains("b3"), "the stale replay was not collected")
  }

  test("a batch put twice counts once") {
    val dir = landed(fresh(), n)
    Store.put(entry(n - 1), dir, n - 1)
    recovers(dir, uncrashed, "the newest batch replayed")
    // a store without a merge law (the funnel's, the posting stores)
    // is read raw: a replayed batch still holds its rows once
    val raw = fresh()
    for (b <- Seq(0L, 1L, 1L)) Store.put(entry(b), raw, b)
    assert(Store.read(spark, raw).count() == 6, "a replayed put added its rows twice")
  }

  test("a versioned write that dies leaves no version behind") {
    import spark.implicits._
    val v0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "price")
    val upd = Seq((2L, 25.0), (3L, 30.0)).toDF("k", "price")
    // the CDC shape: version 1 is version 0 with the batch upserted
    def next(dims: String): Unit = Store.snapshot(dims, 1)(
      Store.read(spark, dims).join(upd, Seq("k"), "left_anti").unionByName(upd))
    def rows(dims: String) =
      Store.read(spark, dims).orderBy("k").collect().map(_.toString).toSeq
    val clean = fresh()
    Store.snapshot(clean, 0)(v0)
    next(clean)
    val dims = fresh()
    Store.snapshot(dims, 0)(v0)
    // version 1's write died after job setup: its directory exists and
    // holds part of the data, with no _SUCCESS
    upd.filter($"k" === 3L).write.parquet(s"$dims/snap-1")
    uncommit(s"$dims/snap-1")
    assert(rows(dims) == v0.orderBy("k").collect().map(_.toString).toSeq,
      "the read took the uncommitted version")
    next(dims) // the batch is re-delivered
    assert(rows(dims) == rows(clean), "the re-delivered batch skipped its version")
    assert(rows(dims).length == 3)
  }
}
