package graft.ops

import org.apache.spark.sql.DataFrame
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
  * O(Δ) per shard), and every landing generation re-derives the funnel
  * accounting from the stores ([[funnel]]) — compact-store compute,
  * never raw-text re-reads. This is how FineWeb-style pipelines
  * actually schedule global stages across snapshots.
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
  * text, and every decision rule is shared code
  * ([[Dedup.jaccardPairsFromPostings]], [[Cluster.dedupClusters]],
  * [[QualityClf.trainOnFeatures]]) or the same column expressions.
  */
object FunnelStore {

  final case class Stores(meta: DataFrame, shingles: DataFrame,
                          grams: DataFrame, feat: DataFrame)

  /** The per-batch-FOLDED inputs of [[funnel]] (VERDICT r14 item 2):
    * the funnel stages whose state is additive or keyed-mergeable do
    * not need the per-landing re-derivation at all —
    *   - `raw`: (source, n_docs, sum_chars) landing totals, folded by
    *     plain sums (the stream_pii_ingest pattern);
    *   - `winners`: the exact-dedup presence store (norm_h, doc_id) —
    *     min-id per norm hash, folded per batch by union + keyed min
    *     (min is mergeable, so the store equals the one-shot
    *     `GROUP BY norm_h` over everything ever landed regardless of
    *     how history was sharded);
    *   - `coverage` (r16, VERDICT r15 item 5): the per-doc
    *     duplicated-span token coverage, maintained per GENERATION by
    *     [[coverageIncrement]] instead of re-reduced from the full
    *     gram store.
    * [[funnel]] takes stage 0, the exact-dedup survivor set and the
    * substring-survivor filter from these, so each landing generation
    * re-derives only the remaining GLOBAL stages (the frozen-classifier
    * gate, budget, decontamination, split) — on 100 TB the per-landing
    * bill for the foldable stages drops from O(store) to O(Δ).
    *
    * `clusters` is the family table
    * `dedupClusters(s2, jaccardPairsFromPostings(shingles ⋈ s2))` over
    * the substring survivors. It is a THUNK, first forced at the
    * funnel's near-dup stage (r18, guide §2.6): the caller forks the
    * pair+CC chain as a [[graft.exec.Par]] branch and passes the
    * branch's `join`, so the funnel's emission head (meta/exact-dedup/
    * substring checkpoints — which read only winners+coverage)
    * materializes under the chain's tail instead of after it. Forcing
    * the thunk rethrows the branch's own failure; the caller's scope,
    * which encloses the funnel call, cancels and waits for the branch
    * if the funnel fails first. The thunk must return an already-
    * materialized (checkpointed) table — the funnel reads it twice
    * (family-root filter + split join) and does NOT re-anchor it. */
  final case class Folded(raw: DataFrame, winners: DataFrame,
                          coverage: DataFrame,
                          clusters: () => DataFrame)

  /** One generation's increment of the substring-coverage state — the
    * dedup_substring_incremental shape (history reduces ONCE) applied
    * to the funnel's coverage stage. The exact-dedup winner set is
    * APPEND-ONLY (a winner is the min doc_id per norm hash and landing
    * ids only grow, so history winners never lose), which makes gram
    * dup status MONOTONE (0→dup, never back) and a doc's coverage
    * recomputable from the dup set alone:
    *
    *   1. delta counts: gram occurrences of the NEW winners' grams
    *      only — a Δ-sized groupBy, never the corpus;
    *   2. old counts are recomputed for the DELTA'S grams only (one
    *      semi-join-restricted pass over prior winners' grams — at a
    *      small daily Δ the delta-gram set broadcasts, so the store
    *      scan is map-side; 16-gram occurrences are near-unique, so
    *      the matched groupBy is tiny);
    *   3. `dupAdd`: grams whose count crossed 2 this generation
    *      (h ∉ prior dup set ∧ old+Δ ≥ 2) — the ONLY persisted gram
    *      state is the dup SET itself, an append-only ledger of the
    *      duplicated minority (singleton grams, the overwhelming bulk
    *      of a 16-gram table, are never written anywhere);
    *   4. the island sweep reruns ONLY on affected docs (prior winners
    *      holding a newly-dup gram ∪ the new winners); every other
    *      doc's dup flags are unchanged, so its stored coverage is
    *      still exact.
    *
    * Returns (dupAdd, newCov). The caller appends dupAdd to its
    * dup-set ledger and replaces its coverage table with newCov (one
    * row per doc with any duplicated span — sparse). */
  def coverageIncrement(grams: DataFrame, winners: DataFrame,
                        prevWinners: Option[DataFrame],
                        prevCov: Option[DataFrame],
                        prevDup: Option[DataFrame],
                        spanLen: Int = 16): (DataFrame, DataFrame) = {
    // the whole increment algebra rests on the winner set being
    // APPEND-ONLY; a caller landing smaller ids would evict a prior
    // winner whose grams then silently stay in the counts (ADVICE r16
    // — fail loudly on the violated precondition instead). One
    // presence-store-sized anti-join per GENERATION fold, `isEmpty`
    // short-circuits at the first violation row. The check reads only
    // the two winner sets — independent of every increment stage — so
    // it runs as a concurrent driver job (guide §2.6) whose scope
    // closes before the increment is returned: same fail-before-use
    // semantics, no serial corpus action on the fold's critical path.
    graft.exec.Par.scope { par =>
      prevWinners.foreach { pw =>
        par.fork(require(pw.select("doc_id")
            .join(winners.select("doc_id"), Seq("doc_id"), "left_anti")
            .isEmpty,
          "coverageIncrement precondition violated: a prior winner was " +
            "evicted (winner set must be append-only)"))
      }
      val deltaW = prevWinners match {
        case Some(pw) =>
          winners.select("doc_id")
            .join(pw.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => winners.select("doc_id")
      }
      val deltaG = grams.join(deltaW, "doc_id")
        .localCheckpoint(false) // delta counts AND the affected-doc sweep
      val dc = deltaG.groupBy("h").agg(count(lit(1)).as("dc"))
        .localCheckpoint(false) // old-count restriction AND the crossing test
      val dupAdd = ((prevWinners, prevDup) match {
        case (Some(pw), Some(pd)) =>
          // for h ∉ prior dup set the old count is 0 or 1 (≥2 would BE in
          // the set), so the crossing test needs no old-count aggregation:
          // dc ≥ 2 crosses outright; dc == 1 crosses iff the gram occurs
          // at all among prior winners — pure membership, one semi-join
          val fresh = dc.join(pd.select("h"), Seq("h"), "left_anti")
          fresh.filter(col("dc") >= 2).select("h")
            .unionByName(fresh.filter(col("dc") === 1).select("h")
              .join(grams.join(pw.select("doc_id"), "doc_id").select("h"),
                Seq("h"), "left_semi"))
        case _ => dc.filter(col("dc") >= 2).select("h")
      }).localCheckpoint(false) // ledger entry, affected docs, dup flags
      val affected = (prevWinners match {
        case Some(pw) =>
          grams.join(dupAdd, Seq("h"), "left_semi").select("doc_id")
            .distinct()
            .join(pw.select("doc_id"), Seq("doc_id"), "left_semi")
            .unionByName(deltaW)
        case None => deltaW
      }).distinct().localCheckpoint(false) // sweep input AND the cov merge
      val dupSet = prevDup match {
        case Some(pd) => pd.select("h").unionByName(dupAdd)
        case None => dupAdd
      }
      // first generation: affected == the delta exactly, whose grams are
      // already checkpointed — no second pass over the raw store
      val affectedGrams =
        if (prevWinners.isEmpty) deltaG else grams.join(affected, "doc_id")
      val dupPos = affectedGrams
        .join(dupSet, Seq("h"), "left_semi")
        .select("doc_id", "pos")
      val wd = Window.partitionBy("doc_id").orderBy("pos")
      val recomputed = dupPos
        .withColumn("prev", lag("pos", 1).over(wd))
        .withColumn("nw",
          when(col("prev").isNull || col("pos") - col("prev") > spanLen, 1L)
            .otherwise(0L))
        .withColumn("island", sum("nw").over(wd))
        .groupBy("doc_id", "island")
        .agg((max("pos") - min("pos") + spanLen).cast("long").as("len"))
        .groupBy("doc_id").agg(sum("len").as("dup_tokens"))
      val newCov = prevCov match {
        case Some(pc) =>
          pc.join(affected, Seq("doc_id"), "left_anti").unionByName(recomputed)
        case None => recomputed
      }
      (dupAdd, newCov)
    }
  }

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

  /** The full funnel accounting (pipeline_e2e_v2's 12 rows) derived
    * from the stores and the [[Folded]] inputs. Stage semantics are the
    * batch capstone's: exact dedup (min-id per norm hash, from the
    * folded winner store) → substring dedup (drop docs with >20%
    * duplicated-span coverage, from the folded coverage table) →
    * near-dup family collapse (the caller's hashed-posting jaccard
    * pairs + CC roots) → rule quality gate with the frozen
    * store-trained classifier's agreement cells → per-source budget →
    * decontamination (store shingles vs the bench docs' store
    * shingles) → leakage-safe family split. Results equal the one-shot
    * funnel by the fold-merge argument on [[Folded]]; StreamingSpec
    * pins it.
    *
    * `trained` returns the frozen classifier's weight table
    * ([[QualityClf.trainOnFeatures]] over the feature store) — a thunk
    * for the same reason, and under the same contract, as
    * `Folded.clusters`: the caller trains in a [[graft.exec.Par]]
    * branch and the weights are first needed after the emission head
    * has materialized. */
  def funnel(st: Stores, folded: Folded,
             trained: () => DataFrame): DataFrame = {
    val spark = st.meta.sparkSession
    import spark.implicits._
    graft.functions.GraftHash64.register(spark)
    val meta = st.meta.localCheckpoint(false)
    def acct(idx: Int, name: String, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_chars").cast("bigint"), lit(0L)).as("sum_chars"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("sum_chars"))
    val rawRow = folded.raw
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("sum_chars").cast("bigint"), lit(0L)).as("sum_chars"))
      .select(lit(0L).as("stage_idx"), lit("raw").as("stage"),
        col("n_docs"), col("sum_chars"))
    // s1 is one broadcast semi-join of two checkpointed tables — cheaper
    // to recompute for its second consumer (the exact-dedup acct row)
    // than to pay another synchronous barrier (r18)
    val s1 = meta.join(folded.winners.select("doc_id"), Seq("doc_id"), "left_semi")
    val s2 = s1.join(folded.coverage, Seq("doc_id"), "left")
      .filter(coalesce(col("dup_tokens"), lit(0L)) * 5 <= col("n_tokens"))
      .drop("dup_tokens")
      .localCheckpoint(false)
    // frozen classifier margins, materialized BEFORE the near-dup
    // stage forces the caller's pair+CC thunk (r18, guide §2.6): the
    // per-doc weight sum is independent of the family collapse, so it
    // runs under the CC chain's tail instead of inside the final
    // emission job. Computed over s2 ⊇ s3 — per-doc sums are identical
    // per doc, and the s3 inner join below drops the collapsed docs.
    // The trainer is integer-deterministic, so the caller's
    // concurrently trained weights are byte-identical to an inline
    // train.
    val marg = st.feat.join(s2.select("doc_id"), "doc_id")
      .join(broadcast(trained()), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("w"), lit(0L))).as("marg"))
      .localCheckpoint(false)
    // near-dup collapse over the substring survivors — forced HERE,
    // after the emission head has materialized under the caller's
    // pair+CC jobs; arrives checkpointed (see [[Folded]])
    val clusters = folded.clusters()
    val s3 = s2.join(clusters.filter(col("doc_id") === col("cluster_id"))
        .select("doc_id"), "doc_id")
      .localCheckpoint(false)
    val agree = s3.join(marg, "doc_id")
      .select(when(col("quality_score") >= 0.5, 1L).otherwise(0L).as("rk"),
        when(col("marg") > 0, 1L).otherwise(0L).as("ck"), col("n_chars"))
      .groupBy("rk", "ck")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("bigint").as("sum_chars"))
    val agreeRows = Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L))
      .toDF("rk", "ck")
      .join(agree, Seq("rk", "ck"), "left")
      .select((lit(8L) + col("rk") * 2 + col("ck")).as("stage_idx"),
        concat(lit("gate_rule"), col("rk"), lit("_clf"), col("ck"))
          .as("stage"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("sum_chars"), lit(0L)).as("sum_chars"))
    // no anchor: a one-predicate filter over the checkpointed s3 —
    // the budget rank REPARTITIONS it immediately and the quality acct
    // row re-filters s3 in one cheap stage (r18 barrier trim)
    val s4 = s3.filter(col("quality_score") >= 0.5)
    // budget prior via the (source, blk) two-level cumsum — a plain
    // partitionBy("source") window is one task per source at scale
    val s5 = Rank.perGroupRunningSum(
        s4.select("doc_id", "source", "n_chars", "quality_score"),
        "source", "n_chars",
        Seq(col("quality_score").desc, col("doc_id")))
      .select("doc_id", "source", "n_chars", "prior")
      .filter(col("prior") < 25000L)
      .localCheckpoint(false)
    // decontamination from the shingle store: containment of each
    // selected doc against the bench docs (doc_id < 25), any >= 0.5
    val bench = st.shingles
      .join(meta.filter(col("doc_id") < 25).select("doc_id"), "doc_id")
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
    val bucket = shiftrightunsigned(call_function("graft_hash64",
      col("cluster_id").cast("string"), lit(7L)), 52)
    val s7 = s6.join(clusters.select("doc_id", "cluster_id"), "doc_id")
      .filter(bucket < 3277)
    rawRow
      .unionByName(acct(1, "exact_dedup", s1))
      .unionByName(acct(2, "substring_dedup", s2))
      .unionByName(acct(3, "near_dedup", s3))
      .unionByName(acct(4, "quality", s4))
      .unionByName(acct(5, "budget", s5))
      .unionByName(acct(6, "decontam", s6))
      .unionByName(acct(7, "split_train", s7))
      .unionByName(agreeRows)
      .orderBy("stage_idx")
  }
}
