package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Cluster, Dedup, SharedArtifacts}
import graft.sources.Tables

/** The batch capstones' shared prelude (VERDICT r15 item 4): raw docs →
  * exact dedup (min doc_id per normalized text) → substring-survivor
  * filter (≤20% duplicated-span coverage) → near-dup families. Each
  * stage is one function ([[exactDedup]], [[substringSurvivors]],
  * [[families]]); the memos below run them once per (session, corpus)
  * through [[SharedArtifacts.memo]], because Bench/Verify run the
  * capstones as independent queries inside one session. Consumers:
  * `pipeline_e2e` reads [[base]]; `_v2`, `_v4` and `_v3`'s
  * empty-quarantine fast path read [[withSubstring]] and [[clusters]];
  * v1's collapse over the exact-dedup survivors and v3's non-empty
  * quarantine branch (a different corpus) call the stage functions
  * directly. Memoized results are byte-identical to a private rebuild
  * (exact dedup's winner is the deterministic min id; coverage is a
  * pure function of the survivor corpus; CC labels are min ids). */
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
    val (pos, lv) = graft.ops.Suffix.corpusRanks(Tables.documents(s, dir), dir)
    val ids = s1.select("doc_id")
    val sub = graft.ops.Suffix.dupSpanStats(s1.select("doc_id", "text"),
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
      val docs = share(Tables.documents(s, dir).select("doc_id", "text", "source"))
      (docs, share(exactDedup(docs)))
    }

  /** [[base]] plus the substring survivors (built at most once per
    * corpus, on first demand). [[base]] is composed outside this
    * entry, so a rebuilt base is never served with stale frames. */
  def withSubstring(s: SparkSession,
                    dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (docs, s1) = base(s, dir)
    (docs, s1, SharedArtifacts.memo(s, dir, "capstone_substring")(
      _(substringSurvivors(s, dir, s1))))
  }

  /** [[families]] over [[withSubstring]]'s survivors. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    SharedArtifacts.memo(s, dir, "capstone_clusters")(
      _(families(withSubstring(s, dir)._3)))

  /** The frozen FULL-CORPUS quality classifier (train audit, weight
    * table) — quality_clf_train, quality_clf_score, pipeline_e2e_v2
    * and _v3 all make the identical `QualityClf.train(documents)`
    * call, which costs ~8 corpus reductions. Results are bounded by
    * construction (8 audit rows, ≤ buckets+1 weights), so the memo
    * shares two tiny checkpoints; determinism is the trainer's own
    * contract (fixed rounds, integer updates, halving schedule). */
  def clfFull(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SharedArtifacts.memo(s, dir, "quality_clf") { share =>
      val (audit, w) = graft.ops.QualityClf.train(
        Tables.documents(s, dir).select("doc_id", "text"))
      (share(audit), share(w))
    }
}
