package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ingest funnel re-based on COMPACT PER-DOC STORES — the engine of
  * the landing-cadence capstone (`stream_pipeline_e2e`).
  *
  * A continuously-built corpus cannot re-read raw text every time a
  * shard lands, but the funnel's decisions are GLOBAL: a landing
  * generation can retro-affect history (a new doc bridges two near-dup
  * families and evicts a former root; a new doc's grams push a history
  * doc's duplicated-span coverage over the drop line; a new
  * high-quality doc displaces a budget selection). Bounded per-source
  * counters therefore cannot reproduce the one-shot funnel — what CAN
  * is the standard lakehouse shape: raw text is parsed EXACTLY ONCE at
  * landing into four append-only integer/hash stores
  * ([[extract]] — doc meta, shingle hashes, gram hashes, classifier
  * features; each O(tokens) rows of fixed-width columns, appended
  * O(Δ) per shard), and every landing generation re-derives the whole
  * funnel accounting from those four stores alone ([[dedup]], then
  * [[funnel]]) — compact-store compute, never raw-text re-reads, and
  * no other persisted state: the raw counters, the exact-dedup
  * winners and the substring coverage are each one aggregate over a
  * store, cheaper to re-derive than to keep a ledger or snapshot of.
  * This is how FineWeb-style pipelines actually schedule global stages
  * across snapshots.
  *
  * Identity contract: norm text and shingles live in the stores as
  * 64-bit portable hashes (the signature-store convention of
  * dedup_substring_incremental / the minhash store); the oracle is the
  * one-shot funnel's EXACT-string replay, so a hash collision would
  * surface as a driver-gate mismatch, never be silently absorbed.
  *
  * [[funnel]] over the complete stores provably equals
  * `pipeline_e2e_v2` (StreamingSpec pins row-set equality): every
  * stage consumes the same per-doc facts the batch funnel derives from
  * text, and every decision rule is shared code — the funnel stages
  * defined here ([[acct]], [[agreement]], [[familyRoots]], [[budget]],
  * [[splitTrain]]), which the batch capstones `pipeline_e2e` v1–v4
  * call too (with [[textQuality]] and [[decontam]], their raw-text
  * stages), and the operators [[Dedup.jaccardPairsFromPostings]],
  * [[Cluster.dedupClusters]], [[QualityClf.trainOnFeatures]] and
  * [[QualityClf.margins]]. Where a funnel differs on purpose (v1's INT
  * stage_idx, v2/v3's anchored quality gate), the difference sits at
  * its call site.
  */
object FunnelStore {

  final case class Stores(meta: DataFrame, shingles: DataFrame,
                          grams: DataFrame, feat: DataFrame)

  /** Map-side per-landing-batch extraction: everything the funnel will
    * ever need from this shard's raw text.
    *   - meta: (doc_id, source, n_chars, n_tokens, quality_score, y,
    *     norm_h) — per-doc scalars (quality/label formulas are per-doc,
    *     so landing-time values equal batch values);
    *   - shingles: (doc_id, s) distinct 3-gram shingle hashes — serves
    *     BOTH the near-dup pair space and decontamination;
    *   - grams: (doc_id, pos, h) full 16-gram hashes — the substring
    *     store with positions, so coverage can be re-derived as new
    *     corpus grams raise history docs' duplication;
    *   - feat: (doc_id, b) hashed bag-of-words buckets (+ bias row). */
  def extract(batch: DataFrame, spanLen: Int = 16): Stores = {
    graft.functions.GraftHash64.register(batch.sparkSession)
    val q = TextAnalysis.quality(batch.select("doc_id", "text"))
    val meta = batch
      .select(col("doc_id"), col("source"),
        call_function("graft_hash64", Dedup.normText(col("text")), lit(11L))
          .as("norm_h"))
      .join(q.select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality_score")),
        "doc_id")
      .join(QualityClf.labels(batch.select("doc_id", "text")), "doc_id")
    val shingles = Dedup.shingleSets(batch.select("doc_id", "text"), 3)
      .select(col("doc_id"), explode(col("sh")).as("sh"))
      .select(col("doc_id"),
        call_function("graft_hash64", col("sh"), lit(13L)).as("s"))
    val grams = Suffix.gramHashes(batch.select("doc_id", "text"), spanLen)
      .filter(col("full")).select("doc_id", "pos", "h")
    val feat = QualityClf.features(batch.select("doc_id", "text"))
    Stores(meta, shingles, grams, feat)
  }

  /** Per-doc duplicated-span token coverage of the docs in `docs`
    * (any frame with `doc_id`), from the gram store: their grams, the
    * grams occurring at ≥ 2 of their positions, and one island sweep
    * per doc over the duplicated starts — overlapping or abutting
    * spans merge, so an island starting at p and ending at q covers
    * q - p + spanLen tokens. One row (doc_id, dup_tokens) per doc with
    * any duplicated span; every other doc's coverage is 0. Equals
    * [[Suffix.dupSpanStats]]' nonzero `dup_tokens` over the same docs
    * up to 64-bit gram-hash identity (DedupSpec pins it). */
  def coverage(grams: DataFrame, docs: DataFrame,
               spanLen: Int = 16): DataFrame = {
    val g = grams.join(docs.select("doc_id"), "doc_id")
    val dup = g.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    g.join(dup, Seq("h"), "left_semi").select("doc_id", "pos")
      .withColumn("prev", lag("pos", 1).over(wd))
      .withColumn("nw",
        when(col("prev").isNull || col("pos") - col("prev") > spanLen, 1L)
          .otherwise(0L))
      .withColumn("island", sum("nw").over(wd))
      .groupBy("doc_id", "island")
      .agg((max("pos") - min("pos") + spanLen).cast("long").as("len"))
      .groupBy("doc_id").agg(sum("len").as("dup_tokens"))
  }

  /** The funnel's two dedup stages, derived once from the meta and gram
    * stores: the exact-dedup survivors (the min doc_id per norm hash)
    * as their meta rows, each flagged `keep` when its duplicated-span
    * coverage among those survivors is at most 20% of its tokens — the
    * substring-dedup survivors are the `keep` rows. Checkpointed: it
    * feeds the caller's pair+CC chain and [[funnel]]. */
  def dedup(meta: DataFrame, grams: DataFrame,
            spanLen: Int = 16): DataFrame = {
    val s1 = meta.join(meta.groupBy("norm_h").agg(min("doc_id").as("doc_id"))
      .select("doc_id"), Seq("doc_id"), "left_semi")
    s1.join(coverage(grams, s1, spanLen), Seq("doc_id"), "left")
      .withColumn("keep",
        coalesce(col("dup_tokens"), lit(0L)) * 5 <= col("n_tokens"))
      .drop("dup_tokens")
      .localCheckpoint(false)
  }

  /** One stage-accounting row (stage_idx BIGINT, stage, n_docs,
    * sum_chars): `d`'s row count and the sum of `chars` over it (0 when
    * `d` is empty). */
  def acct(idx: Long, name: String, d: DataFrame, chars: Column): DataFrame =
    d.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(chars).cast("bigint"), lit(0L)).as("sum_chars"))
      .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
        col("n_docs"), col("sum_chars"))

  /** The rule quality gate's input: per-doc [[TextAnalysis.quality]] of
    * `d`'s (doc_id, text) with its source joined back. */
  def textQuality(d: DataFrame): DataFrame =
    TextAnalysis.quality(d.select("doc_id", "text"))
      .join(d.select("doc_id", "source"), "doc_id")

  /** The four rule×classifier agreement cells over the gate's input
    * `gated` (doc_id, quality_score, n_chars) and the frozen
    * classifier's margins `marg` ([[QualityClf.margins]]) as accounting
    * rows `first` .. `first + 3` (gate_rule<r>_clf<c>); every cell is
    * present, empty ones as zeros. */
  def agreement(gated: DataFrame, marg: DataFrame, first: Long): DataFrame = {
    val spark = gated.sparkSession
    import spark.implicits._
    val agree = gated.join(marg, "doc_id")
      .select(when(col("quality_score") >= 0.5, 1L).otherwise(0L).as("rk"),
        when(col("marg") > 0, 1L).otherwise(0L).as("ck"), col("n_chars"))
      .groupBy("rk", "ck")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("sum_chars"))
    Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))
      .toDF("rk", "ck")
      .join(agree, Seq("rk", "ck"), "left")
      .select((lit(first) + col("rk") * 2 + col("ck")).as("stage_idx"),
        concat(lit("gate_rule"), col("rk"), lit("_clf"), col("ck"))
          .as("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("sum_chars"), lit(0L)).as("sum_chars"))
  }

  /** The near-dup family collapse: the rows of `d` that are their
    * family's root in `families` (doc_id, cluster_id), checkpointed. */
  def familyRoots(d: DataFrame, families: DataFrame): DataFrame =
    d.join(families.filter(col("doc_id") === col("cluster_id"))
        .select("doc_id"), "doc_id")
      .localCheckpoint(false)

  /** The per-source budget window: `d`'s docs ranked per source by
    * `by` descending, then doc_id, kept while the source's exclusive
    * running char sum is under 25,000 (the doc that crosses the line
    * is kept) — (doc_id, source, n_chars, prior), checkpointed. The
    * prior is [[Rank.perGroupRunningSum]]'s (source, blk) two-level
    * cumsum — a plain partitionBy("source") window is one task per
    * source at scale. */
  def budget(d: DataFrame, by: String): DataFrame =
    Rank.perGroupRunningSum(d.select("doc_id", "source", "n_chars", by),
        "source", "n_chars", Seq(col(by).desc, col("doc_id")))
      .select("doc_id", "source", "n_chars", "prior")
      .filter(col("prior") < 25000L)
      .localCheckpoint(false)

  /** Eval decontamination over raw text: the rows of `sel` whose text
    * in `docs` (doc_id, text, ...) has 3-shingle containment below 0.5
    * against every eval stand-in (doc_id < 25, the `contamination`
    * operator's convention), checkpointed. Shingling runs only on
    * `sel`'s docs; [[Contamination.check]] broadcasts the bench side. */
  def decontam(sel: DataFrame, docs: DataFrame): DataFrame = {
    val flagged = Contamination.check(
        sel.select("doc_id").join(docs, "doc_id").select("doc_id", "text"),
        docs.filter(col("doc_id") < 25).select("doc_id", "text"),
        n = 3, threshold = 0.5)
      .filter(col("contaminated") === 1).select("doc_id")
    sel.join(flagged, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
  }

  /** The leakage-safe train split: the rows of `d` whose FAMILY ROOT
    * (cluster_id in `families`) hashes into the train share (the top
    * 12 hash bits < 3277 of 4096, the split_leakage 'family' scheme),
    * so surviving near-dup relatives ride together. */
  def splitTrain(d: DataFrame, families: DataFrame): DataFrame = {
    graft.functions.GraftHash64.register(d.sparkSession)
    val bucket = shiftrightunsigned(call_function("graft_hash64",
      col("cluster_id").cast("string"), lit(7L)), 52)
    d.join(families.select("doc_id", "cluster_id"), "doc_id")
      .filter(bucket < 3277)
  }

  /** The full funnel accounting (pipeline_e2e_v2's 12 rows) derived
    * from the stores and the [[dedup]] table. Stage semantics are the
    * batch capstone's: exact dedup (min-id per norm hash) → substring
    * dedup (drop docs with >20% duplicated-span coverage) → near-dup
    * family collapse (the caller's hashed-posting jaccard pairs + CC
    * roots) → rule quality gate with the frozen store-trained
    * classifier's agreement cells → per-source budget →
    * decontamination (store shingles vs the bench docs' store
    * shingles) → leakage-safe family split. Every stage reads the
    * complete stores, so the result equals the one-shot funnel over
    * everything landed so far; StreamingSpec pins it.
    *
    * `clusters` is the family table
    * `dedupClusters(s2, jaccardPairsFromPostings(shingles ⋈ s2))` over
    * the substring survivors `s2` of `dd`, and `trained` the frozen
    * classifier's weight table ([[QualityClf.trainOnFeatures]] over the
    * feature store). Both are THUNKS, first forced after the emission
    * head has materialized: the caller runs each in a
    * [[graft.exec.Par]] branch and passes the branch's `join`, so the
    * head's jobs run under the branches' tails instead of after them.
    * Forcing a thunk rethrows its branch's own failure; the caller's
    * scope, which encloses the funnel call, cancels and waits for the
    * branches if the funnel fails first. `clusters` must return an
    * already-materialized (checkpointed) table — the funnel reads it
    * twice (family-root filter + split join) and does NOT re-anchor
    * it. */
  def funnel(st: Stores, dd: DataFrame, clusters: () => DataFrame,
             trained: () => DataFrame): DataFrame = {
    val s2 = dd.filter(col("keep")).drop("keep")
    // frozen classifier margins, materialized BEFORE the near-dup
    // stage forces the caller's pair+CC thunk (r18, guide §2.6): the
    // per-doc weight sum is independent of the family collapse, so it
    // runs under the CC chain's tail instead of inside the final
    // emission job. Computed over s2 ⊇ s3 — per-doc sums are identical
    // per doc, and the s3 inner join below drops the collapsed docs.
    // The trainer is integer-deterministic, so the caller's
    // concurrently trained weights are byte-identical to an inline
    // train.
    val marg = QualityClf.margins(
        st.feat.join(s2.select("doc_id"), "doc_id"), trained())
      .localCheckpoint(false)
    // near-dup collapse over the substring survivors — forced HERE,
    // after the emission head has materialized under the caller's
    // pair+CC jobs; arrives checkpointed
    val families = clusters()
    val s3 = familyRoots(s2, families)
    // no anchor: a one-predicate filter over the checkpointed s3 —
    // the budget rank REPARTITIONS it immediately and the quality acct
    // row re-filters s3 in one cheap stage (r18 barrier trim)
    val s4 = s3.filter(col("quality_score") >= 0.5)
    val s5 = budget(s4, "quality_score")
    // decontamination from the shingle store: containment of each
    // selected doc against the bench docs (doc_id < 25), any >= 0.5
    val bench = st.shingles
      .join(st.meta.filter(col("doc_id") < 25).select("doc_id"), "doc_id")
      .select(col("doc_id").as("bench_id"), col("s"))
    val cs = st.shingles.join(s5.select("doc_id"), "doc_id")
      .localCheckpoint(false) // sizes AND the shared-shingle join
    val nsh = cs.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val flagged = cs.join(broadcast(bench), "s")
      .groupBy("doc_id", "bench_id").agg(count(lit(1)).as("shared"))
      .join(nsh, "doc_id")
      .filter(col("shared").cast("double") / col("n_sh") >= 0.5)
      .select("doc_id").distinct()
    val s6 = s5.join(flagged, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val s7 = splitTrain(s6, families)
    val chars = col("n_chars")
    acct(0, "raw", st.meta, chars)
      .unionByName(acct(1, "exact_dedup", dd, chars))
      .unionByName(acct(2, "substring_dedup", s2, chars))
      .unionByName(acct(3, "near_dedup", s3, chars))
      .unionByName(acct(4, "quality", s4, chars))
      .unionByName(acct(5, "budget", s5, chars))
      .unionByName(acct(6, "decontam", s6, chars))
      .unionByName(acct(7, "split_train", s7, chars))
      .unionByName(agreement(s3, marg, 8))
      .orderBy("stage_idx")
  }
}
