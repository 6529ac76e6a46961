package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Corpus-level DATA SELECTION operators — the step after cleaning and
  * dedup where a 100 TB raw crawl is weighted / subsampled toward a
  * target distribution before tokenization:
  *
  *  - [[dsir]] — importance resampling toward a trusted target domain
  *    via hashed-unigram likelihood ratios (Xie et al., "Data Selection
  *    for Language Models via Importance Resampling", NeurIPS 2023).
  *  - [[doremi]] — domain mixture reweighting by multiplicative
  *    weights on per-domain excess loss against the current mixture
  *    (Xie et al., "DoReMi", 2023 — here with a fixed hashed-unigram
  *    proxy model instead of a trained reference LM).
  *
  * Scale shape: both reduce the corpus ONCE to hashed-bucket count
  * tables (one token-explode shuffle, integer counts), after which all
  * model math lives on tables bounded by buckets×domains — never by
  * corpus size. The per-doc scoring join in [[dsir]] broadcasts the
  * buckets-row ratio table, so scoring is map-side; the only
  * corpus-keyed shuffles are the per-doc count groupBy and the final
  * sampled-boundary global rank ([[Rank.globalRankByRange]] — no
  * single-task sort).
  */
object Select {

  /** Per-doc hashed n-GRAM bucket counts: (doc_id, b, c) with
    * b = portable-hash(gram, seed) mod buckets, c = occurrence count
    * (DSIR uses counts, not presence — repetition shifts the ratio).
    * `ngram` = 1 is the unigram feature space; `ngram` = 2 is the
    * paper's actual choice (Xie et al. hash n-grams, not words) —
    * consecutive-token grams are built PER ROW by an array transform
    * (space-joined, the shingle convention) so the feature change
    * costs zero extra shuffles: the same single token-explode
    * reduction, just over a different gram stream. A document shorter
    * than `ngram` tokens contributes no counts (and both engines drop
    * it from the scored set identically — the inner-join convention). */
  private[graft] def docBucketCounts(docs: DataFrame, buckets: Int,
                                     seed: Long, ngram: Int = 1): DataFrame = {
    require(ngram >= 1 && ngram <= 4, s"ngram out of range: $ngram")
    GraftHash64OrRegister(docs)
    val gramStream =
      if (ngram == 1) explode(Dedup.tokens(col("text")))
      else {
        val joined = (1 until ngram)
          .foldLeft("t")((acc, j) => s"concat($acc, ' ', tks[i + $j])")
        explode(expr(
          s"transform(slice(tks, 1, greatest(size(tks) - ${ngram - 1}, 0)), " +
            s"(t, i) -> $joined)"))
      }
    docs
      .withColumn("tks", Dedup.tokens(col("text")))
      .select(col("doc_id"), gramStream.as("tok"))
      .select(col("doc_id"),
        pmod(call_function("graft_hash64", col("tok"), lit(seed)),
          lit(buckets.toLong)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
  }

  private def GraftHash64OrRegister(df: DataFrame): Unit =
    graft.functions.GraftHash64.register(df.sparkSession)

  /** The DSIR log-likelihood-ratio table from per-doc bucket counts
    * plus the target doc set: (b, lr) with
    * lr = ln((ct+1)/(Nt+B)) − ln((cr+1)/(Nr+B)). ≤ `buckets` rows —
    * Laplace (+1 / +buckets) keeps every bucket finite even when the
    * target slice never hits it. Buckets with ZERO raw occurrences are
    * absent (nothing can ever look them up in-distribution; a consumer
    * joining new data treats an absent bucket as contribution 0 — the
    * documented frozen-model convention in stream_dsir_ingest). */
  private[graft] def ratioFromCounts(dc: DataFrame, tgtIds: DataFrame,
                                     buckets: Int): DataFrame = {
    val raw = dc.groupBy("b").agg(sum("c").as("cr"))
    val tgt = dc.join(tgtIds, "doc_id").groupBy("b").agg(sum("c").as("ct"))
    val lr = raw.join(tgt, Seq("b"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
      .once("ratioFromCounts.lr") // tiny; pins the totals for the two scalars
    val totals = lr.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    Scalars.withScalar(lr, col("b"), totals, col("nt"))
      .withColumn("lr",
        log((col("ct") + 1).cast("double") / (col("nt") + buckets)) -
          log((col("cr") + 1).cast("double") / (col("nr") + buckets)))
      .select("b", "lr")
  }

  /** DSIR: score every document by the log likelihood ratio of a
    * target-domain hashed-unigram model over the raw-corpus model
    * (Laplace-smoothed), select the top `selNum/selDen` fraction by
    * (rounded score, doc_id), and report the per-source selection
    * audit — the table that shows WHICH sources the target
    * distribution favors.
    *
    * `targetFilter` is a SQL boolean over the documents columns that
    * defines the trusted target slice (default: the labeled-English
    * slice — the stand-in for "quality domain" on this corpus).
    *
    * Output: source, n_docs, n_sel, sel_rate, avg_logw, avg_logw_sel
    * — ordered by source. Selection ranks on the ROUNDED score with a
    * doc_id tiebreak so mathematically-tied docs agree across engines
    * (the emb_label_confusion doctrine). */
  def dsir(docs: DataFrame, buckets: Int = 64, seed: Long = 37L,
           targetFilter: String = "lang = 'en'",
           selNum: Int = 1, selDen: Int = 5, ngram: Int = 1): DataFrame = {
    val d = docs.select(col("doc_id"), col("source"), col("lang"), col("text"))
    val ranked = dsirRanked(d, buckets, seed, targetFilter, ngram = ngram)
    val tot = d.agg(count(lit(1)).as("n_total"))
    val sel = Scalars.withScalar(ranked, col("doc_id"), tot, col("n_total"))
      .withColumn("selected",
        (col("rnk") <= expr(s"($selNum * n_total) div $selDen")).cast("int"))
    // the emitted averages derive from EXACT integer u4 sums (u4 =
    // m4·10⁴ — m4 carries ≤4 decimals, so the per-row scaling is
    // exact), never from a float avg() whose accumulation order can
    // flip a round-4 boundary between runs (caught live at sf0.1 —
    // the ADVICE r14 float-sum class). One integer-exact division at
    // emission; negative sums round identically in both engines
    // (half away from zero).
    d.select("doc_id", "source").join(sel, "doc_id")
      .withColumn("u4", expr("CAST(round(m4 * 10000) AS BIGINT)"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("selected").cast("bigint").as("n_sel"),
        sum("u4").as("su"),
        sum(when(col("selected") === 1, col("u4"))).as("sus"))
      .withColumn("sel_rate", round(col("n_sel") / col("n_docs"), 4))
      .withColumn("avg_logw", round(col("su") / (col("n_docs") * 10000.0), 4))
      .withColumn("avg_logw_sel",
        round(col("sus") / (col("n_sel") * 10000.0), 4))
      .select("source", "n_docs", "n_sel", "sel_rate", "avg_logw",
        "avg_logw_sel")
  }

  /** The shared DSIR scoring + rank: (doc_id, m4, rnk) with m4 the
    * round-4 log likelihood ratio and rnk the global (m4 DESC, doc_id)
    * rank via the sampled-boundary [[Rank.globalRankByRange]] — ONE
    * scoring pass serves every budget a sweep asks for. */
  private[graft] def dsirRanked(docs: DataFrame, buckets: Int = 64,
                                seed: Long = 37L,
                                targetFilter: String = "lang = 'en'",
                                ngram: Int = 1): DataFrame = {
    // feeds raw totals, target totals and scoring, from stages that run
    // at once: eager (see PlanBarrier)
    val dc = docBucketCounts(docs, buckets, seed, ngram).shared("dsirRanked.dc")
    val tgtIds = docs.filter(expr(targetFilter)).select("doc_id")
    val lrw = ratioFromCounts(dc, tgtIds, buckets)
    // map-side scoring: the ratio table broadcasts, one doc-keyed re-agg
    val scored = dc.join(broadcast(lrw), "b")
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr")), 4).as("m4"))
    Rank.globalRankByRange(scored, "m4", "doc_id", numBlocks = 8)
  }

  /** DoReMi-style domain reweighting: `rounds` multiplicative-weight
    * updates where each domain's loss proxy is its excess loss against
    * the CURRENT mixture — KL(p_d ‖ q_t) with q_t = Σ_d w_t[d]·p_d
    * over Laplace-smoothed hashed-unigram domain distributions. The
    * mixture couples the rounds (upweighting one domain lowers every
    * similar domain's excess loss next round), which is what makes the
    * iteration non-degenerate without a trained reference model.
    *
    * Update: w ∝ w·exp(η·KL), then (1−δ) renormalized + δ·uniform
    * smoothing (the paper's step, η = 1, δ = 0.02).
    *
    * The corpus reduces once to (source, b) integer counts, densified
    * to the full domains×buckets grid so every KL sums over exactly
    * `buckets` terms; all iteration state is grid-sized and crosses
    * [[PlanBarrier.cut]] each round (the loop-stats doctrine).
    *
    * Output: source, n_docs, n_toks, excess_loss (final round, round-4)
    * and weight (final, round-6) — ordered by source. */
  def doremi(docs: DataFrame, buckets: Int = 64, seed: Long = 41L,
             rounds: Int = 3, deltaDen: Long = 50L): DataFrame = {
    val counts = domainBucketCounts(docs, buckets, seed)
    val perDom = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .once("doremi.perDom") // the domain list anchors the dense grid
    doremiFromCounts(counts, perDom, buckets, rounds, deltaDen)
  }

  /** Per-domain hashed-unigram bucket counts (source, b, c) — the ONLY
    * corpus-scale reduction DoReMi needs; integer and additive, so a
    * landing-cadence ingest can fold it across batches and re-run the
    * grid algebra from the folded store ([[doremiFromCounts]]). */
  private[graft] def domainBucketCounts(docs: DataFrame, buckets: Int,
                                        seed: Long): DataFrame = {
    GraftHash64OrRegister(docs)
    docs
      .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("source"),
        pmod(call_function("graft_hash64", col("tok"), lit(seed)),
          lit(buckets.toLong)).as("b"))
      .groupBy("source", "b").agg(count(lit(1)).as("c"))
  }

  /** The grid-sized DoReMi iteration given the folded integer counts:
    * see [[doremi]] for semantics. `counts` = (source, b, c),
    * `perDom` = (source, n_docs). */
  private[graft] def doremiFromCounts(counts: DataFrame, perDom: DataFrame,
                                      buckets: Int, rounds: Int,
                                      deltaDen: Long): DataFrame = {
    // densify via a per-row generator, not a cross join (PlanSpec bans
    // nested-loop shapes globally): 20 rows × `buckets` explode
    val grid = perDom.select(col("source"),
      explode(expr(s"sequence(0L, ${buckets - 1}L)")).as("b"))
    val nd = counts.groupBy("source").agg(sum("c").as("n_toks"))
    // dense Laplace-smoothed per-domain distribution: Σ_b p = 1 exactly
    val p = grid.join(counts, Seq("source", "b"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .join(nd, "source")
      .withColumn("p", (col("c") + 1).cast("double") / (col("n_toks") + buckets))
      .select("source", "b", "p", "n_toks")
      .shared("doremiFromCounts.p") // grid-sized; referenced every round
    val nDom = perDom.count() // bounded driver pull: |domains| is tiny
    var w = perDom.select(col("source"),
      (lit(1.0) / nDom.toDouble).as("w"), lit(0.0).as("eps"))
    // ADVICE r14: every float SUM in the loop quantizes its terms to
    // fixed-point integers first (q/z at 1e12, KL terms at 1e9 — far
    // below the round-4/round-6 emission precision), so the summed
    // value is an exact integer independent of Spark's accumulation
    // order and DuckDB's — the per-row u4/u6 doctrine applied to the
    // multiplicative-weight iterate. The remaining cross-engine float
    // surface is per-row ln/exp ulp, the same class every
    // float-emitting key already carries.
    for (_ <- 1 to rounds) {
      val q = p.join(w.select("source", "w"), "source")
        .groupBy("b")
        .agg((sum(expr("CAST(round(w * p * 1e12) AS BIGINT)")) / lit(1e12))
          .as("q"))
      val eps = p.join(q, "b")
        .groupBy("source")
        .agg((sum(expr("CAST(round(p * ln(p / q) * 1e9) AS BIGINT)"))
          / lit(1e9)).as("eps"))
      val u = w.select("source", "w").join(eps, "source")
        .withColumn("u", col("w") * exp(col("eps")))
      val z = u.agg((sum(expr("CAST(round(u * 1e12) AS BIGINT)")) / lit(1e12))
        .as("z"))
      w = (
        Scalars.withScalar(u, col("source"), z, col("z"))
          .withColumn("w",
            (col("u") / col("z")) * (1.0 - 1.0 / deltaDen.toDouble) +
              lit(1.0 / (deltaDen.toDouble * nDom.toDouble)))
          .select("source", "w", "eps")).shared("doremiFromCounts.w")
    }
    perDom.join(nd, "source").join(w, "source")
      .select(col("source"), col("n_docs"), col("n_toks"),
        round(col("eps"), 4).as("excess_loss"),
        round(col("w"), 6).as("weight"))
  }
}
