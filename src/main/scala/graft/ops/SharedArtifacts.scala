package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Registry of long-lived shared materializations: the cross-query
  * memos ([[memo]], the one memo body every corpus artifact uses, and
  * [[Suffix.corpusRanks]], which extends its levels in place).
  *
  * Bench drops every persistent RDD between timed queries so each key
  * is measured against a clean block store — correct for PRIVATE
  * checkpoints, but a shared artifact is steady-state infrastructure
  * (the whole point of the memo is that later family members reuse it),
  * and sweeping it both breaks live readers and re-times the build per
  * key. Checkpoints created here register their RDD id; the sweep
  * exempts registered ids. Consumers still liveness-check their blocks
  * (a swept or dead-context artifact rebuilds rather than throws).
  */
object SharedArtifacts {

  private val ids = scala.collection.concurrent.TrieMap.empty[Int, Unit]

  // Bench-honesty instrumentation (VERDICT r16 item 5): per-key bench
  // times depend on execution order once artifacts are shared — the
  // FIRST consumer pays the build, later ones read the memo. The
  // memos report hits, checkpoint() counts builds, and Bench diffs the
  // counters around each timed query to label it cold (paid a shared
  // build) or shared (read one) in bench_out.json, so regressions can
  // be adjudicated without cross-referencing memo internals.
  private val builds = new java.util.concurrent.atomic.AtomicLong(0)
  private val hits = new java.util.concurrent.atomic.AtomicLong(0)
  // per-FAMILY build/hit counters (r18, VERDICT r17 item 5): once
  // artifacts are shared, a single key's time is unreadable without
  // knowing which artifact family it built or read — Bench diffs these
  // maps around each timed query and emits per-family key lists +
  // family TOTALS in bench_out.json, so round-over-round regressions
  // on memoized families are adjudicable at a glance.
  private val famBuilds = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val famHits = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def bump(m: scala.collection.concurrent.TrieMap[String, Long],
                   k: String): Unit = {
    m.updateWith(k) { v => Some(v.getOrElse(0L) + 1L) }; ()
  }

  /** Called by a memo when it serves an already-built artifact. */
  def noteHit(family: String = "shared"): Unit =
    { hits.incrementAndGet(); bump(famHits, family) }

  /** (builds, hits) so far — diff around a query to classify it. */
  def counters: (Long, Long) = (builds.get, hits.get)

  /** Immutable snapshot of the per-family (builds, hits) counters. */
  def familyCounters: Map[String, (Long, Long)] =
    (famBuilds.keySet ++ famHits.keySet).map(k =>
      k -> (famBuilds.getOrElse(k, 0L), famHits.getOrElse(k, 0L))).toMap

  /** Registers `cp`, a [[PlanBarrier]] `shared` checkpoint, as a
    * sweep-exempt artifact of `family`, and returns its RDD id (read
    * off the frame's `LogicalRDD` leaf) for liveness checks. */
  def register(cp: DataFrame, family: String = "shared"): Int = {
    val id = cp.queryExecution.logical match {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
      case p => throw new IllegalArgumentException(
        s"not a materialized shared checkpoint: ${p.nodeName}")
    }
    ids.put(id, ())
    builds.incrementAndGet()
    bump(famBuilds, family)
    id
  }

  // every memo's entries, keyed (application, family, dir@fingerprint):
  // one slot per key, holding the artifact and the RDD ids of the
  // frames it shared. A slot's own monitor is that key's lock, which
  // [[memo]] holds for the key's whole build, so builds of distinct
  // keys run at once. Lock order: a build takes the locks of the
  // artifacts it reads (always in dependency order, e.g. clusters →
  // substring → base), then `Suffix`'s lock; no build reads its own
  // dependents, and `Suffix.corpusRanks` never enters a memo.
  private final class Slot { var entry: Option[(Any, Seq[Int])] = None }
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), Slot]

  /** The one memo body of the cross-query artifacts: the artifact of
    * `family` for the corpus at `dir` is built at most once per
    * (application, corpus content) and served to every later call. On
    * a miss `build` runs with a `share` function that [[register]]s
    * one `shared` checkpoint and records its RDD id (the checkpoint is
    * eager: build them in dependency order). A served call counts
    * one hit; an entry with any shared RDD swept or unpersisted is
    * rebuilt instead of read. Callers of one key serialize on that
    * key's lock (the second waits for the first's build and counts a
    * hit); callers of distinct keys do not wait for each other. */
  def memo[T](s: SparkSession, dir: String, family: String)
             (build: (DataFrame => DataFrame) => T): T = {
    val sc = s.sparkContext
    val slot = entries.getOrElseUpdate(
      (sc.applicationId, family, dir + "@" + corpusFingerprint(dir)), new Slot)
    slot.synchronized {
      slot.entry match {
        case Some((v, rdds)) if rdds.forall(sc.getPersistentRDDs.contains) =>
          noteHit(family); v.asInstanceOf[T]
        case _ =>
          val rdds = Seq.newBuilder[Int]
          val v = build { cp => rdds += register(cp, family); cp }
          slot.entry = Some((v, rdds.result()))
          v
      }
    }
  }

  /** True if `rddId` belongs to a registered shared artifact. */
  def isProtected(rddId: Int): Boolean = ids.contains(rddId)

  /** Cheap content fingerprint of a corpus dir — the (path, size,
    * mtime) digest of every data file under it. Memo keys fold this in
    * (ADVICE r16) so regenerating the parquet corpus IN-PLACE within
    * one application invalidates the memo instead of silently serving
    * the previous corpus's artifacts. Listing-only (no data read); a
    * distributed deployment keys on its table format's snapshot id
    * instead. */
  def corpusFingerprint(dir: String): String = {
    def walk(f: java.io.File): Iterator[java.io.File] =
      Iterator(f) ++ Option(f.listFiles()).iterator.flatMap(_.iterator.flatMap(walk))
    val digest = walk(new java.io.File(dir))
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .map(f => s"${f.getPath}:${f.length}:${f.lastModified}")
      .toSeq.sorted.mkString("|")
    java.lang.Long.toHexString(
      digest.foldLeft(1125899906842597L)((h, c) => 31 * h + c))
  }
}
