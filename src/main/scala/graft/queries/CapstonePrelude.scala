package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Par
import graft.ops.{Cluster, Dedup, FunnelStore, QualityClf, SharedArtifacts, Suffix}
import graft.sources.Tables
import graft.ops.PlanBarrier.Barrier

/** The batch capstones' shared prelude (VERDICT r15 item 4): raw docs →
  * exact dedup (min doc_id per normalized text) → substring-survivor
  * filter (≤20% duplicated-span coverage) → near-dup families, plus the
  * frozen classifier and the per-doc tables the funnel tails read
  * before their family collapse. Each stage is one function
  * ([[exactDedup]], [[substringSurvivors]], [[families]], [[perDoc]]);
  * the memos below run the corpus-wide ones once per (session, corpus)
  * through [[SharedArtifacts.memo]], because Bench/Verify run the
  * capstones as independent queries inside one session. Consumers:
  * `pipeline_e2e` reads [[base]]; `_v2`, `_v4` and `_v3`'s
  * empty-quarantine fast path read [[overlapped]]; v1's collapse over
  * the exact-dedup survivors and v3's non-empty quarantine branch (a
  * different corpus) call the stage functions directly. Memoized
  * results are byte-identical to a private rebuild (exact dedup's
  * winner is the deterministic min id; coverage is a pure function of
  * the survivor corpus; CC labels are min ids). */
private[graft] object CapstonePrelude {

  /** Exact dedup: the min-doc_id row of `docs` (doc_id, text, source)
    * per normalized text, as (doc_id, text, source). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(Dedup.normText(col("text")).as("norm"))
      .agg(min("doc_id").as("doc_id"))
      .join(docs, "doc_id").select("doc_id", "text", "source")

  /** Substring dedup: the rows of `s1` whose duplicated 16-gram span
    * coverage among `s1`'s docs is at most 20% of their tokens. `s1`
    * must be a row subset of the corpus at `dir`: the FULL-corpus
    * suffix ranks (the corpusRanks memo the dedup_substring family
    * builds) are restricted to `s1`'s ids instead of constructing a
    * private doubling chain — rank equality is textual identity,
    * independent of which corpus built the ranks, so the duplicate
    * counts equal an `s1`-private construction's (r17). */
  def substringSurvivors(s: SparkSession, dir: String,
                         s1: DataFrame): DataFrame = {
    val (pos, lv) = Suffix.corpusRanks(Tables.documents(s, dir), dir)
    val ids = s1.select("doc_id")
    val sub = Suffix.dupSpanStats(s1.select("doc_id", "text"),
      spanLen = 16,
      pre = Some((pos.join(ids, "doc_id"), Map(16 -> lv(16).join(ids, "doc_id")))))
    s1.join(sub.filter(col("dup_tokens") * 5 <= col("n_tokens"))
      .select("doc_id"), "doc_id")
  }

  /** Near-dup families (doc_id, cluster_id) over `d`: CC over the
    * posting-based 3-shingle Jaccard pairs (≥ 0.8, DF cap 50). */
  def families(d: DataFrame): DataFrame =
    Cluster.dedupClusters(d,
      Dedup.ngramJaccard(d, n = 3, threshold = 0.8, maxDF = 50))

  /** (raw docs, exact-dedup survivors), each (doc_id, text, source)
    * and shared-checkpointed. The substring stage is NOT built here —
    * `pipeline_e2e` never consumes it, so its suffix construction
    * stays lazy in [[withSubstring]]. */
  def base(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedArtifacts.memo(s, dir, "capstone_base") { share =>
      val docs = share(Tables.documents(s, dir).select("doc_id", "text", "source")
        .shared("capstone.docs"))
      (docs, share(exactDedup(docs).shared("capstone.exact")))
    }

  /** [[base]] plus the substring survivors (built at most once per
    * corpus, on first demand). [[base]] is composed outside this
    * entry, so a rebuilt base is never served with stale frames. */
  def withSubstring(s: SparkSession,
                    dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (docs, s1) = base(s, dir)
    (docs, s1, SharedArtifacts.memo(s, dir, "capstone_substring")(
      _(substringSurvivors(s, dir, s1).shared("capstone.substring"))))
  }

  /** [[families]] over [[withSubstring]]'s survivors. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts.memo(s, dir, "capstone_clusters")(
      _(families(withSubstring(s, dir)._3).shared("capstone.families")))

  /** The frozen FULL-CORPUS quality classifier (train audit, weight
    * table) — quality_clf_train, quality_clf_score, pipeline_e2e_v2
    * and _v3 all make the identical `QualityClf.train(documents)`
    * call, which costs ~8 corpus reductions. Results are bounded by
    * construction (8 audit rows, ≤ buckets+1 weights), so the memo
    * shares two tiny checkpoints; determinism is the trainer's own
    * contract (fixed rounds, integer updates, halving schedule). */
  def clfFull(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedArtifacts.memo(s, dir, "quality_clf") { share =>
      val (audit, w) = QualityClf.train(
        Tables.documents(s, dir).select("doc_id", "text"))
      (share(audit.shared("quality_clf.audit")),
        share(w.shared("quality_clf.weights")))
    }

  /** The funnel tail's per-doc stages over the substring survivors
    * `s2`, as one table checkpointed in one job: the rule gate's input
    * ([[FunnelStore.textQuality]]: doc_id, n_chars, ..., quality_score,
    * source) with the margin `marg` of the frozen classifier `weights`
    * ([[QualityClf.margins]]; every doc has one, from its bias row).
    * Neither stage depends on the family collapse, and each row is a
    * function of its doc alone, so restricting the table to the family
    * roots s3 ⊆ s2 gives the rows a funnel computes over s3. */
  def perDoc(s2: DataFrame, weights: DataFrame): DataFrame =
    FunnelStore.textQuality(s2)
      .join(QualityClf.margins(
        QualityClf.features(s2.select("doc_id", "text")), weights), "doc_id")
      .shared("capstone.per_doc")

  /** What `pipeline_e2e_v2`, `_v4` and `_v3`'s empty-quarantine path
    * read before their tails: raw docs, the exact-dedup and substring
    * survivors, the near-dup families over s2, and [[perDoc]] over s2
    * under the [[clfFull]] weights. */
  final case class Prelude(docs: DataFrame, s1: DataFrame, s2: DataFrame,
                           clusters: DataFrame, perDoc: DataFrame)

  /** [[Prelude]] of the corpus at `dir`, its independent builds
    * overlapped in one [[Par.scope]]:
    *   - forked first: [[clfFull]] and `Suffix.corpusRanks`, which read
    *     only the raw corpus;
    *   - in the caller's thread meanwhile: [[base]] → [[withSubstring]]
    *     → [[clusters]]. The substring build reads the ranks: it waits
    *     on `Suffix`'s lock while the branch builds them and then reads
    *     the built entry (lock order in [[SharedArtifacts]]);
    *   - forked once s2 exists, beside the family chain: [[perDoc]],
    *     which also waits for the classifier.
    * The result is the serial one exactly: every memo key still builds
    * once, under its own lock, from the same deterministic inputs, and
    * the branches only change when each artifact is built. The memo
    * counters move as in a serial call, plus one `suffix_ranks` hit (the
    * ranks are requested twice). */
  def overlapped(s: SparkSession, dir: String): Prelude = Par.scope { p =>
    val weights = p.fork(clfFull(s, dir)._2)
    p.fork(Suffix.corpusRanks(Tables.documents(s, dir), dir))
    val (docs, s1, s2) = withSubstring(s, dir)
    val per = p.fork(perDoc(s2, weights.join()))
    Prelude(docs, s1, s2, clusters(s, dir), per.join())
  }
}
