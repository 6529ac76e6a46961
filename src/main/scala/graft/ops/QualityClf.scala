package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** LEARNED quality classifier — the model-based corpus filter stage of
  * a modern LM data pipeline (the DCLM / CCNet-fastText pattern): a
  * linear classifier over hashed bag-of-words features, trained by
  * DISTILLATION from the rule-based filter chain
  * ([[TextAnalysis.filterChain]]'s keep bit — the weak labels every
  * model-based quality gate bootstraps from), then applied corpus-wide
  * and audited against its teacher.
  *
  * Training is a FULL-BATCH perceptron for a FIXED number of rounds
  * with a HALVING integer step schedule: margin_d = Σ_b w[b]·x_db (x
  * is binary bucket presence plus an always-on bias bucket −1), a doc
  * is misclassified when y_d·margin_d ≤ 0, and round r's update is
  * w[b] += 2^(R−r) · Σ_misclassified y_d·x_db — the integer annealing
  * that stops the unit-step full-batch perceptron's two-state
  * oscillation on non-separable weak labels (measured: unit steps
  * cycle between all-keep and all-reject forever; the halving schedule
  * lands at a balanced separator). Everything is INTEGER and every
  * update is one commutative sum per bucket, so the result is
  * deterministic regardless of partitioning or accumulation order —
  * the Lloyd/BPE bounded-iteration doctrine applied to learning — and
  * the DuckDB oracle replays the whole optimization exactly, round by
  * round.
  *
  * Scale shape: the corpus-sized tables are the (doc_id, bucket)
  * feature pairs and the (doc_id, y) labels — compact longs, shuffled
  * a fixed `rounds`× few times. The model is ≤ buckets+1 integer rows
  * by construction, so it rides the bounded-pull doctrine (the IVF
  * centroid-matrix class): each round is ONE distributed reduction
  * whose bounded result is pulled to the driver, and the carried
  * weights re-enter the next round's plan as a literal map — no
  * weight state ever shuffles with the corpus, and nothing
  * corpus-sized is ever collected.
  */
object QualityClf {

  /** Hashed binary bag-of-words features: (doc_id, b) with one row per
    * distinct (doc, bucket) pair — bucket = portable-hash(token, seed)
    * mod buckets — plus the always-on bias bucket −1 for every doc. */
  def features(docs: DataFrame, buckets: Int = 256,
               seed: Long = 29L): DataFrame = {
    graft.functions.GraftHash64.register(docs.sparkSession)
    docs.select(col("doc_id"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        pmod(call_function("graft_hash64", col("tok"), lit(seed)),
          lit(buckets.toLong)).as("b"))
      .distinct()
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("b")))
  }

  /** Per-doc margin (doc_id, marg) of the weight table `w` (b, w)
    * over the feature rows `fx` (doc_id, b); buckets without a weight
    * add 0. */
  def margins(fx: DataFrame, w: DataFrame): DataFrame =
    fx.join(broadcast(w), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("w"), lit(0L))).as("marg"))

  /** Weak labels distilled from the rule-based gate: y ∈ {−1, +1}. */
  def labels(docs: DataFrame): DataFrame =
    TextAnalysis.filterChain(docs)
      .select(col("doc_id"), (col("keep") * 2 - 1).cast("long").as("y"))

  /** Fixed-round full-batch perceptron with the halving step schedule.
    * Returns (audit, weights): audit has one row per round — (rnd,
    * n_misclassified BEFORE the round's update, w_l1 and bias AFTER
    * it); weights is the final (b, w) table the score query applies. */
  def train(docs: DataFrame, rounds: Int = 8,
            buckets: Int = 256): (DataFrame, DataFrame) =
    // features() unions exactly one bias row per doc BY CONSTRUCTION,
    // so the store-integrity check is provably satisfied — skip its
    // corpus-wide action here (r17; the check guards STORE-fed callers,
    // where the feature table's provenance is outside this file)
    trainOnFeatures(features(docs, buckets), labels(docs), rounds,
      validate = false)

  /** [[train]] over ALREADY-EXTRACTED feature/label tables — the
    * store-fed entry point (the streaming funnel trains from its
    * per-doc (doc_id, b) feature store and (doc_id, y) labels without
    * re-reading text). `fx`/`lb` are materialized here; pass them raw.
    *
    * Execution shape (r15): the model is ≤ buckets+1 integer rows by
    * construction, so it rides the IVF-centroid bounded-pull doctrine
    * — each round runs ONE distributed reduction (margin → mis-doc
    * filter → per-bucket update sums, all fused into a single job by
    * laziness) whose ≤ buckets+1-row result is pulled to the driver,
    * and the carried weights re-enter the next round's plan as a
    * LITERAL map (`try_element_at` — codegen'd, no join, no broadcast
    * exchange, no per-round barrier job). The corpus-sized
    * (doc_id, b) / (doc_id, y) tables stay distributed and are scanned
    * from one cached checkpoint; n_misclassified falls out of the same
    * reduction as the count of the always-on bias bucket's rows (every
    * doc carries exactly one b = −1 row), so the audit costs no extra
    * pass. Versus the earlier weight-table full_outer-join chain this
    * cuts ~3 jobs + 1 barrier per round to 1 job, with identical
    * integer results (the update is the same commutative sum). */
  def trainOnFeatures(fx0: DataFrame, lb0: DataFrame,
                      rounds: Int = 8,
                      validate: Boolean = true): (DataFrame, DataFrame) = {
    val spark = fx0.sparkSession
    import spark.implicits._
    val fx = fx0.shared("trainOnFeatures.fx") // read by concurrent stages
    val lb = lb0.once("trainOnFeatures.lb")
    // CONTRACT (ADVICE r15, tightened per ADVICE r16): n_misclassified
    // is derived from the b = −1 bias rows inside the per-round delta
    // reduction, so a LABELED doc missing its bias row (or carrying
    // duplicates) would silently corrupt the audit. The audit only
    // touches labeled docs, so validate exactly that slice with ONE
    // action — labeled ids joined to per-doc bias-row counts; anything
    // but nb == 1 fails loudly. (The old two-action count comparison
    // also missed labeled-without-bias masked by unlabeled-with-bias.)
    // `validate = false` is reserved for callers that BUILT the feature
    // table with [[features]] in the same expression (bias rows hold by
    // construction) — store-fed callers keep the check.
    if (validate) require(lb.select("doc_id")
        .join(fx.filter(col("b") === -1L).groupBy("doc_id")
          .agg(count(lit(1)).as("nb")), Seq("doc_id"), "left")
        .filter(col("nb").isNull || col("nb") =!= 1L)
        .isEmpty,
      "trainOnFeatures: a labeled doc lacks exactly one b=-1 bias row")
    var w = Map.empty[Long, Long]
    var audit = Vector.empty[(Long, Long, Long, Long)]
    for (rnd <- 1 to rounds) {
      // margins under the PREVIOUS round's weights (round 1: all zero)
      val wmap: Column =
        if (w.isEmpty) lit(null).cast("map<bigint,bigint>")
        else map(w.toSeq.sortBy(_._1)
          .flatMap { case (b, v) => Seq(lit(b), lit(v)) }: _*)
      val marg = fx
        .withColumn("wv", coalesce(try_element_at(wmap, col("b")), lit(0L)))
        .groupBy("doc_id").agg(sum("wv").as("marg"))
      val mis = lb.join(marg, "doc_id")
        .filter(col("y") * col("marg") <= 0)
        .select("doc_id", "y")
      // the round's single action: per-bucket update sums + row counts
      // (≤ buckets+1 rows — bounded by construction, never corpus-sized)
      val delta = fx.join(mis, "doc_id")
        .groupBy("b")
        .agg(sum("y").as("d"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val nMis = delta.collectFirst { case (-1L, _, n) => n }.getOrElse(0L)
      val step = 1L << (rounds - rnd)
      w = delta.foldLeft(w) { case (acc, (b, d, _)) =>
        acc + (b -> (acc.getOrElse(b, 0L) + d * step))
      }
      val wl1 = w.iterator.collect { case (b, v) if b >= 0 => math.abs(v) }.sum
      audit :+= ((rnd.toLong, nMis, wl1, w.getOrElse(-1L, 0L)))
    }
    (audit.toDF("rnd", "n_misclassified", "w_l1", "bias").orderBy("rnd"),
      w.toSeq.sortBy(_._1).toDF("b", "w"))
  }

  /** Agreement matrix of the trained classifier against its rule-based
    * teacher: (rule_keep, clf_keep, n_docs) — the readout that says
    * whether the learned gate reproduces, tightens, or loosens the
    * rules before anyone swaps it into the filter funnel. */
  def scoreAgreement(docs: DataFrame, rounds: Int = 8,
                     buckets: Int = 256): DataFrame =
    scoreAgreementWith(docs, train(docs, rounds, buckets)._2, buckets)

  /** [[scoreAgreement]] against an ALREADY-TRAINED weight table — the
    * entry point for callers sharing one frozen model across keys. */
  def scoreAgreementWith(docs: DataFrame, w: DataFrame,
                         buckets: Int = 256): DataFrame = {
    labels(docs).join(margins(features(docs, buckets), w), "doc_id")
      .select(
        when(col("y") === 1, 1L).otherwise(0L).as("rule_keep"),
        when(col("marg") > 0, 1L).otherwise(0L).as("clf_keep"))
      .groupBy("rule_keep", "clf_keep")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("rule_keep", "clf_keep")
  }
}
