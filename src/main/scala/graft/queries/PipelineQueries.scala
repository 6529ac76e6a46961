package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Cluster, Dedup, FunnelStore, Multimodal, Rank, Scalars, Similarity, TextAnalysis, TopK}
import graft.sources.Tables
import graft.ops.PlanBarrier.Barrier

/** §2 items 22-34: the LLM-training-data-pipeline operator families
  * (dedup, similarity search, text analysis, multimodal plumbing) over
  * the `documents` / `embeddings` tables.
  *
  * SQL-oracled where the semantics are expressible in the Spark∩DuckDB
  * subset; the sketch-based operators (minhash/simhash/LSH/fingerprint)
  * are rows-only here and exactness-tested in ScalaTest instead.
  */
object PipelineQueries {

  /** text_bm25_ndcg position discounts, computed ONCE here and pasted
    * into engine and oracle as the same BIGINT literals: the nDCG
    * weight 1/log2(rank+1) for ranks 1..10, ×10⁶ half-up. */
  private[queries] val NdcgW: Seq[Long] =
    (1 to 10).map(i => Math.round(1e6 / (math.log(i + 1) / math.log(2))))

  /** Prefix sums of [[NdcgW]] with a leading 0, so element (n+1) is the
    * ideal DCG of n relevant results (n clamped to 10). */
  private[queries] val NdcgWPrefix: Seq[Long] = NdcgW.scanLeft(0L)(_ + _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("keep_id")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      CorpusArtifacts.nearDupPairs(s, dir).orderBy("id1", "id2")),

    // asymmetric variant: shared/min(|A|,|B|) ≥ 0.9 — the short doc
    // quoted inside a big boilerplate wrapper that Jaccard dilutes
    "dedup_containment" -> ((s, dir) =>
      Dedup.ngramContainment(Tables.documents(s, dir), n = 3, tNum = 9, tDen = 10,
          maxDF = 50)
        .orderBy("id1", "id2")),

    // tf-idf-weighted cosine: the rare-vocabulary-weighted lexical
    // similarity — a pair sharing RARE terms outranks one sharing
    // stopwords, separating true near-dups from topical siblings
    "dedup_tfidf_cosine" -> ((s, dir) =>
      Dedup.tfidfCosine(Tables.documents(s, dir), tNum = 9, tDen = 10,
          maxDfDen = 10)
        .orderBy("id1", "id2")),

    // the exact-recall counterpart: prefix filtering misses NO pair
    // with Jaccard >= 0.8 (DedupSpec pins superset-of-ngramJaccard)
    "dedup_prefix_filter" -> ((s, dir) =>
      Dedup.prefixFilterJaccard(Tables.documents(s, dir), n = 3)
        .orderBy("id1", "id2")),

    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), n = 3, k = 128, bands = 16,
        threshold = 0.8).orderBy("id1", "id2")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxHamming = 3).orderBy("id1", "id2")),

    // Sketch calibration (measure-don't-guess for MinHash): for every
    // LSH candidate pair, the signature ESTIMATE (matching minima /
    // k) next to the exact Jaccard — the drift check run before
    // trusting banding parameters on a new corpus. No threshold: the
    // whole candidate set is the calibration sample.
    // THRESHOLD SWEEP: dedup aggressiveness curve — pair count, docs
    // dropped (min-id keeper rule), and corpus dup rate at 0.70 / 0.80
    // / 0.90, all from ONE signature-estimate pass over the shared LSH
    // candidate set (checkpointed, then exploded per threshold). The
    // membership test is integer arithmetic (m·100 ≥ thr·128), so no
    // float boundary can flip a pair between engines.
    "dedup_threshold_sweep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sig = Dedup.minhashSignatures(docs, n = 3, k = 128)
        .once("dedup_threshold_sweep.sig")
      val cands = Dedup.lshCandidates(docs, n = 3, k = 128, bands = 16,
        rawBandKey = true)
      val matches = expr(
        "aggregate(zip_with(sig1, sig2, (a, b) -> if(a = b, 1, 0)), 0, (acc, x) -> acc + x)")
      val scored = cands
        .join(sig.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sig.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
        .select(col("id1"), col("id2"), matches.as("m"))
      val nDocs = docs.agg(countDistinct("doc_id").as("n_docs"))
      val swept = scored
        .select(col("id1"), col("id2"), col("m"),
          explode(array(lit(70L), lit(80L), lit(90L))).as("thr_pct"))
        .filter(col("m") * 100 >= col("thr_pct") * 128)
        .groupBy("thr_pct")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id2")).as("n_dropped"))
      graft.ops.Scalars.withScalar(swept, col("thr_pct"), nDocs, col("n_docs"))
        .select(col("thr_pct"), col("n_pairs"), col("n_dropped"),
          round(col("n_dropped") / col("n_docs"), 4).as("dup_rate"))
        .orderBy("thr_pct")
    }),

    // SimHash BIT-BALANCE audit — the hash-trust measurement for the
    // fingerprint family (ann_bucket_balance audits LSH buckets,
    // emb_ivf_balance audits IVF cells, THIS audits the 64 signature
    // bits): simhash blocking assumes each bit splits the corpus
    // ~50/50 — a stuck bit (bias → 10000) halves the effective
    // signature width and silently inflates every hamming-bucket. Per
    // bit: ones count and half-up u4 deviation from balance, plus the
    // corpus-wide max. One signature pass, one 64-group aggregate.
    // What it FINDS on this fixture (pinned in ScaleOpsSpec): the
    // ~100-word synthetic vocabulary makes every doc's tf-weighted
    // majority track the same shared tokens, so dozens of bits are
    // heavily biased and a few are fully stuck — the corpus's
    // effective signature width is far below 64, exactly the warning
    // a dedup pipeline needs BEFORE trusting hamming-radius blocking
    // on a narrow-domain corpus.
    "text_simhash_bit_balance" -> ((s, dir) => {
      val sig = Dedup.simhashSignatures(Tables.documents(s, dir))
      val n = sig.agg(count(lit(1)).as("n_docs"))
      val bits = sig
        .select(col("simhash"), explode(sequence(lit(0), lit(63))).as("bit"))
        .withColumn("one",
          expr("shiftrightunsigned(simhash, CAST(bit AS INT)) & 1"))
        .groupBy("bit").agg(sum("one").as("n_ones"))
      graft.ops.Scalars.withScalar(bits, col("bit"), n, col("n_docs"))
        .withColumn("bias_u4",
          expr("(2*abs(2*n_ones - n_docs)*10000 + n_docs) div (2*n_docs)"))
        .withColumn("max_bias_u4", max("bias_u4").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("bit").cast("long").as("bit"), col("n_ones"),
          col("bias_u4"), col("max_bias_u4"))
        .orderBy("bit")
    }),

    // LSH banding S-curve — the measurement behind the (bands, rows)
    // choice (bloom_fpr_audit's empirical-curve pattern applied to
    // MinHash banding): at fixed k=128, each config's collision
    // probability vs signature similarity is the classic
    // 1−(1−s^r)^b sigmoid; THIS measures it empirically per estimated-
    // Jaccard decile at (32,4)/(16,8)/(8,16). Pair universe = the
    // WIDEST config's candidates, which provably CONTAINS every
    // narrower config's fires: band boundaries nest (4 | 8 | 16 and all
    // bands align at slot multiples), so 16 equal consecutive slots
    // imply 4 aligned equal 4-slot bands — a (8,16) fire is always a
    // (32,4) fire. The (32,4) row is therefore a structural canary
    // (fire_u4 = 10000 in every decile). One signature pass, one
    // candidate join; the per-pair band scan is a bounded 128-slot
    // fold over candidates only. Rates as §5 half-up u4; the lone
    // caveat (documented, shared with every banded query): a
    // wide-config bucket past the 1000-doc cap drops its pairs from
    // the measured universe.
    "dedup_lsh_scurve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sig = Dedup.minhashSignatures(docs, n = 3, k = 128)
        .once("dedup_lsh_scurve.sig")
      val cands = Dedup.lshCandidates(docs, n = 3, k = 128, bands = 32,
        rawBandKey = true)
      def fired(b: Int): Column = { val r = 128 / b
        expr(s"exists(sequence(0, ${b - 1}), i -> " +
          s"aggregate(slice(eq, i*$r+1, $r), 0, (acc, x) -> acc + x) = $r)")
      }
      cands
        .join(sig.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sig.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
        .withColumn("eq", expr("zip_with(sig1, sig2, (a, b) -> if(a = b, 1, 0))"))
        .withColumn("m", expr("aggregate(eq, 0, (acc, x) -> acc + x)"))
        .withColumn("decile", expr("least((m*10) div 128, 9)"))
        .select(col("decile"), explode(array(
          struct(lit(32L).as("bands"), fired(32).as("fired")),
          struct(lit(16L).as("bands"), fired(16).as("fired")),
          struct(lit(8L).as("bands"), fired(8).as("fired")))).as("c"))
        .groupBy(col("c.bands").as("bands"), col("decile"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c.fired").cast("long")).as("n_fired"))
        .withColumn("fire_u4", expr("(2*n_fired*10000 + n_pairs) div (2*n_pairs)"))
        .select(col("bands"), col("decile").cast("long").as("decile"),
          col("n_pairs"), col("n_fired"), col("fire_u4"))
        .orderBy("bands", "decile")
    }),

    "dedup_minhash_calib" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sig = Dedup.minhashSignatures(docs, n = 3, k = 128).once("dedup_minhash_calib.sig")
      // rawBandKey: the calibration output IS the candidate set, so
      // bucket on raw band strings (matching the oracle) — a band-hash
      // collision would surface as a row mismatch here, with no
      // downstream jaccard filter to absorb it
      val cands = Dedup.lshCandidates(docs, n = 3, k = 128, bands = 16, rawBandKey = true)
      val sets = Dedup.shingleSets(docs, 3)
      val est = expr(
        "aggregate(zip_with(sig1, sig2, (a, b) -> if(a = b, 1, 0)), 0, (acc, x) -> acc + x)")
        .cast("double") / lit(128.0)
      val exact = size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
        size(array_union(col("sh1"), col("sh2")))
      cands
        .join(sig.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
        .join(sig.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
        .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
        .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
        // est = m/128 is a pure integer ratio: emitted UNROUNDED because
        // the division is bit-identical in both engines, while 4dp
        // rounding would sit exactly on a .00005 boundary whenever
        // m ≡ 4 (mod 8) — the dedup_source_report failure class
        .select(col("id1"), col("id2"), est.as("est_jaccard"),
          exact.as("jaccard"))
        .orderBy("id1", "id2")
    }),

    // incremental shard-vs-corpus dedup: docs >= 400 play the newly
    // landed shard; only pairs with a new side are ever candidates
    "dedup_incremental" -> ((s, dir) =>
      Dedup.minhashLshIncremental(Tables.documents(s, dir), _ >= 400)
        .orderBy("new_id", "match_id")),

    // the store-maintained variant: old-corpus signatures come from a
    // persisted parquet store, the shard's signatures append, the raw
    // corpus text is never re-read; verify is the signature-agreement
    // estimate (n_match/128 — binary-exact)
    "dedup_incremental_store" -> ((s, dir) =>
      Dedup.minhashStoreIncremental(Tables.documents(s, dir), _ >= 400)
        .orderBy("new_id", "match_id")),

    // character-level verify over the SAME bounded LSH candidate set:
    // exact edit distance (the verify metric set-based Jaccard can't
    // replace — it is order-sensitive and catches in-place edits that
    // preserve the shingle multiset). Levenshtein is O(len²) per pair,
    // so it only ever runs on candidates — the sketch prunes, the DP
    // verifies; both sides compare the ROUNDED relative distance so
    // the flag can't flip between engines on a boundary.
    "dedup_edit_verify" -> ((s, dir) => {
      val docs  = Tables.documents(s, dir)
      val cands = Dedup.lshCandidates(docs, n = 3, k = 128, bands = 16,
        rawBandKey = true)
      val t = docs.select(col("doc_id"), col("text"), length(col("text")).as("len"))
      cands
        .join(t.select(col("doc_id").as("id1"), col("text").as("t1"),
          col("len").as("l1")), "id1")
        .join(t.select(col("doc_id").as("id2"), col("text").as("t2"),
          col("len").as("l2")), "id2")
        .select(col("id1"), col("id2"),
          levenshtein(col("t1"), col("t2")).cast("bigint").as("edit_dist"),
          greatest(col("l1"), col("l2")).cast("bigint").as("max_len"))
        .withColumn("rel_dist", round(col("edit_dist") / col("max_len"), 4))
        .withColumn("is_dup", (col("rel_dist") <= 0.2).cast("bigint"))
        .orderBy("id1", "id2")
    }),

    // per-source duplication attribution: the verified near-dup pairs
    // rolled up by (source, source) — which crawls/feeds contribute
    // duplication, and whether it is within-source boilerplate or
    // cross-source syndication. The pair set is the ALREADY-bounded
    // ngramJaccard output (DF-capped posting buckets); the doc→source
    // map is a projection of the corpus, so each side of the pair
    // joins on its id — at open scale both joins shuffle only
    // (doc_id, source), never text.
    "dedup_source_report" -> ((s, dir) => {
      val docs  = Tables.documents(s, dir)
      val pairs = CorpusArtifacts.nearDupPairs(s, dir)
      val src   = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id1"), col("source").as("s1")), "id1")
        .join(src.select(col("doc_id").as("id2"), col("source").as("s2")), "id2")
        .select(least(col("s1"), col("s2")).as("src_a"),
          greatest(col("s1"), col("s2")).as("src_b"), col("jaccard"))
        .groupBy("src_a", "src_b")
        // the jaccards are 4dp-QUANTIZED, so an even pair count parks
        // avg exactly on a .00005 rounding boundary where the two
        // engines' round() disagree (r8 sf0.1: 0.9492 vs 0.9493) —
        // average in integer ten-thousandths with explicit half-up
        // instead; identical integers → identical final double
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("jaccard") * 10000, 0).cast("long")).as("sj"))
        .withColumn("avg_jaccard",
          expr("(2*sj + n_pairs) div (2*n_pairs)") / lit(10000.0))
        .withColumn("cross_source", (col("src_a") =!= col("src_b")).cast("bigint"))
        .select("src_a", "src_b", "n_pairs", "avg_jaccard", "cross_source")
        .orderBy("src_a", "src_b")
    }),

    // near-dup pairs are not transitive — collapse pair families to one
    // canonical keeper via iterative connected components
    "dedup_cluster" -> ((s, dir) =>
      CorpusArtifacts.nearDupClusters(s, dir).orderBy("doc_id")),

    // EFFECTIVE TOKEN COUNT after family collapse, per source — the
    // number an LM data planner actually budgets with: raw token mass
    // vs the mass surviving one-keeper-per-family dedup (keeper = the
    // family's min doc_id, i.e. the converged CC label itself). A
    // source whose savings_u4 is high is template-dominated — its raw
    // size overstates its training value. One token-size map + the
    // converged labels + one source-keyed aggregation.
    "dedup_effective_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lab = CorpusArtifacts.nearDupClusters(s, dir)
      docs.select(col("doc_id"), col("source"),
          size(Dedup.tokens(col("text"))).cast("long").as("n_tok"))
        .join(lab, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("doc_id") === col("cluster_id"), 1L).otherwise(0L))
            .as("n_kept"),
          sum("n_tok").as("tokens_raw"),
          sum(when(col("doc_id") === col("cluster_id"), col("n_tok"))
            .otherwise(0L)).as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("tokens_raw"), col("tokens_kept"),
          expr("(tokens_raw - tokens_kept) * 10000 div nullif(tokens_raw, 0)")
            .as("savings_u4"))
        .orderBy("source")
    }),

    // FAMILY-SIZE HISTOGRAM over the dup clusters: how much of the
    // corpus sits in 2-doc families vs large boilerplate families —
    // the number that decides whether dedup is worth a rewrite pass.
    // Two tiny aggregations over the converged labels.
    "dedup_family_sizes" -> ((s, dir) => {
      CorpusArtifacts.nearDupClusters(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("family_size"))
        .groupBy("family_size")
        .agg(count(lit(1)).as("n_families"))
        .select(col("family_size"), col("n_families"),
          (col("family_size") * col("n_families")).as("n_docs"))
        .orderBy("family_size")
    }),

    // CLUSTERING-QUALITY EVAL of the dedup families against an
    // external label (source) — the measurement layer the dedup stack
    // needs before anyone trusts its families: purity (share of docs
    // in their family's plurality label) and the Rand index (pair
    // agreement between the family partition and the label partition).
    // Near-dup families that straddle sources are template explosions,
    // not true duplicates — exactly what these two numbers surface.
    // Everything derives from the bounded (family, label) contingency
    // table: three rollups + two 1-row scalar attaches; both metrics
    // are pure-integer ×10⁴ (pair counts are integers by construction).
    "dedup_cluster_purity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val cont = CorpusArtifacts.nearDupClusters(s, dir)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("cluster_id", "source").agg(count(lit(1)).as("n_fl"))
        .shared("dedup_cluster_purity.cont") // contingency feeds all three rollups
      val perF = cont.groupBy("cluster_id")
        .agg(sum("n_fl").as("n_f"), max("n_fl").as("max_fl"))
      val aggF = perF.agg(count(lit(1)).as("n_families"),
        sum("n_f").as("n_docs"),
        sum(expr("n_f * (n_f - 1) div 2")).as("same_f"),
        sum("max_fl").as("pure_sum"))
      val aggA = cont.agg(sum(expr("n_fl * (n_fl - 1) div 2")).as("a"))
      val aggL = cont.groupBy("source").agg(sum("n_fl").as("n_l"))
        .agg(count(lit(1)).as("n_labels"),
          sum(expr("n_l * (n_l - 1) div 2")).as("same_l"))
      Scalars.withScalar(
          Scalars.withScalar(aggF, col("n_families"), aggA, col("a")),
          col("n_families"), aggL, col("n_labels"))
        .withColumn("t", expr("n_docs * (n_docs - 1) div 2"))
        .select(col("n_docs"), col("n_families"), col("n_labels"),
          expr("pure_sum * 10000 div n_docs").as("purity_u4"),
          expr("(t - same_f - same_l + 2 * a) * 10000 div t").as("rand_u4"))
    }),

    // corpus heavy hitters: document frequency of every distinct
    // 3-gram shingle, deterministic top-20 (TakeOrderedAndProject —
    // per-partition top-k partials, never a full sort)
    "text_ngram_topk" -> ((s, dir) =>
      Dedup.shingleSets(Tables.documents(s, dir), 3)
        .select(explode(col("sh")).as("s"))
        .groupBy("s").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("s")).limit(20)),

    // PHRASE DETECTION + MERGE (Mikolov et al. 2013, word2vec's
    // phrase pass) — the APPLY step text_pmi's collocation ranking
    // stops short of: learn the top-20 phrases by the DISCOUNTED
    // score (c_xy − δ)·N/(c_x·c_y) (δ=5 kills the hapax ceiling raw
    // PMI rewards), then re-walk every document merging phrase
    // occurrences GREEDILY LEFT-TO-RIGHT, non-overlapping ("a b b"
    // with phrase "b b"?? the walk decides exactly once) — and report
    // per source how much of the token stream fuses. The learn side
    // is two explode→groupBy passes with the score a pure ×10⁶
    // integer ratio; the bounded 20-phrase table rides the 1-row
    // withScalar contract as an array; the merge walk is ONE
    // aggregate HOF per doc whose (lastMergedEnd, count) state packs
    // into a single BIGINT (i·10⁹ + cnt) so the identical fold runs
    // in DuckDB's list_reduce, which requires a uniform element type.
    "text_phrase_merge" -> ((s, dir) => {
      def tk = Tables.documents(s, dir).select(col("source"),
        Dedup.tokens(col("text")).as("t"))
      val uni = tk.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val big = tk.where(size(col("t")) >= 2)
        .select(explode(arrays_zip(
          slice(col("t"), lit(1), size(col("t")) - 1).as("x"),
          slice(col("t"), lit(2), size(col("t")) - 1).as("y"))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val n = big.agg(sum("c_xy").as("nb"))
      val phrases = Scalars.withScalar(big.where(col("c_xy") > 5),
          col("c_xy"), n, col("nb"))
        .join(uni.select(col("w").as("x"), col("c").as("c_x")), "x")
        .join(uni.select(col("w").as("y"), col("c").as("c_y")), "y")
        .select(concat(col("x"), lit(" "), col("y")).as("phrase"),
          expr("(c_xy - 5) * nb * 1000000 div (c_x * c_y)").as("score_u6"))
        .orderBy(col("score_u6").desc, col("phrase")).limit(20)
        .agg(sort_array(collect_list("phrase")).as("ph")) // bounded 20
      Scalars.withScalar(tk, col("source"), phrases, col("ph"))
        .withColumn("merges", expr(
          """CASE WHEN size(t) < 2 THEN 0L ELSE
            |aggregate(sequence(1L, CAST(size(t) - 1 AS BIGINT)), 0L,
            |  (acc, i) ->
            |  IF(i > acc div 1000000000
            |       AND array_contains(ph, concat(element_at(t, CAST(i AS INT)),
            |         ' ', element_at(t, CAST(i AS INT) + 1))),
            |     (i + 1) * 1000000000 + acc % 1000000000 + 1,
            |     acc)) % 1000000000 END""".stripMargin))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("t")).cast("long")).as("tokens_before"),
          sum("merges").as("phrase_merges"))
        .select(col("source"), col("n_docs"), col("tokens_before"),
          col("phrase_merges"),
          (col("tokens_before") - col("phrase_merges")).as("tokens_after"),
          expr("phrase_merges * 1000000 div nullif(tokens_before, 0)")
            .as("merge_rate_u6"))
        .orderBy("source")
    }),

    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDup(Tables.embeddings(s, dir), threshold = 0.35)
        .orderBy("id1", "id2")),

    // the open-scale variant: LSH sign-bit buckets replace the label
    // block, so no label column is needed and the bucket count dials
    // the per-block pair space as the corpus grows
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupLsh(Tables.embeddings(s, dir), threshold = 0.35)
        .orderBy("id1", "id2")),

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023 — VERDICT r13 item
    // 3): embedding-level near-dup PRUNING blocked by the IVF coarse
    // quantizer — the modern cross-lexical dedup modality. Vectors are
    // cell-assigned by the SAME frozen quantizer ann_ivf searches
    // (Similarity.ivfAssign, cells = Similarity.semCells — the ⌊√n⌋
    // dial derived from corpus size, one Lloyd round); within each
    // cell, pairs with cosine >= threshold form the semantic-duplicate
    // graph; keep-one-per-family is the shared CC collapse
    // (Cluster.dedupClusters — min-id root survives, the deterministic
    // SemDeDup keep rule). In-cell blocking bounds the pair space at
    // Σ_cell |cell|² (never corpus²) and is the documented
    // approximation: a cross-cell near-dup pair is unseen by design
    // (the quantizer IS the blocking). Output per cell: n_vecs,
    // n_pairs (graph edges), n_pruned (non-root members a SemDeDup
    // pass drops).
    // the SemDeDup deploy knob: the pruning curve over the cosine
    // threshold — ONE assignment and ONE in-cell pair-cosine pass at
    // the loosest threshold, then each threshold filters the shared
    // pair table and runs its own keep-one-per-family collapse;
    // (thr_u2, n_pairs, n_pruned) per row, provably monotone
    // non-increasing as the threshold tightens (DedupSpec pin)
    "dedup_semantic_sweep" -> ((s, dir) => {
      val thresholds = Seq(30L, 35L, 40L)
      // shared family artifacts (r17): one quantizer train + assignment
      // + in-cell pair pass at the loosest threshold serves this key,
      // dedup_semantic and emb_d4_prune; the 0.35 rung's CC roots are
      // the family's canonical collapse, also shared
      val pairs = CorpusArtifacts.semPairs30(s, dir)
      val ids = CorpusArtifacts.semAssigned(s, dir).select("vec_id")
      thresholds.map { t =>
        val p = pairs.filter(col("cos") >= t.toDouble / 100.0)
          .select("id1", "id2")
        val roots =
          if (t == 35L) CorpusArtifacts.semRoots35(s, dir)
          else graft.ops.Cluster.dedupClusters(
            ids.select(col("vec_id").as("doc_id")), p)
        graft.ops.Scalars.withScalar(
            p.agg(count(lit(1)).as("n_pairs")), col("n_pairs"),
            roots.agg(sum(when(col("doc_id") === col("cluster_id"), 0L)
              .otherwise(1L)).as("n_pruned")), col("n_pruned"))
          .select(lit(t).as("thr_u2"), col("n_pairs"), col("n_pruned"))
      }.reduce(_ unionByName _).orderBy("thr_u2")
    }),

    "dedup_semantic" -> ((s, dir) => {
      val assigned = CorpusArtifacts.semAssigned(s, dir)
      val pairs = CorpusArtifacts.semPairs30(s, dir)
        .filter(col("cos") >= 0.35)
        .select("cell", "id1", "id2")
      val roots = CorpusArtifacts.semRoots35(s, dir)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val stats = assigned.join(roots, "vec_id")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("vec_id") === col("cluster_id"), 0L).otherwise(1L))
            .as("n_pruned"))
      stats.join(pairs.groupBy("cell").agg(count(lit(1)).as("n_pairs")),
          Seq("cell"), "left")
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("n_pruned"))
        .orderBy("cell")
    }),

    // symmetric k-NN graph over the whole embedding table — the input
    // to graph clustering / agglomerative dedup. Reuses the LSH path
    // with EVERY vector as a probe: coarser buckets (4 planes → 16
    // buckets) keep in-bucket neighborhoods populated, and the join
    // stays a bucket equi-join of the table with itself — in-bucket
    // pairs only, never all-pairs. Vectors whose bucket holds no
    // other member emit no edges (that is the approximation).
    "emb_knn_graph" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), lit(true), k = 3, numPlanes = 4)
        .select(col("probe_id").as("src"), col("rank"),
          col("neighbor_id").as("dst"), col("cos"), col("bucket"))
        .orderBy("src", "rank")),

    // EMBEDDING-DISTRIBUTION DRIFT across landing generations — the
    // vector-store monitor that says WHEN an incremental index (the
    // ann_ivf_append / ann_hnsw_append cadence) must re-train its
    // frozen quantizer: occupancy of the GEN1-trained cells is a
    // coarse histogram of the embedding distribution, so a gen2 whose
    // vectors land in different cells is drift the append path would
    // silently absorb as recall loss. 2×C contingency chi-square per
    // cell via the exact integer identity (o1·N2 − o2·N1)²/(N1·N2·
    // (o1+o2)), u4-quantized per cell THEN summed (order-invariant);
    // one assignment pass over all vectors against the frozen
    // centroids (Similarity.ivfAssign with buildFilter).
    "emb_cell_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = emb.agg(expr("3*(max(vec_id)+1) div 4").as("t")).head().getLong(0)
      val occ = Similarity.ivfAssign(emb, cells = 8,
          buildFilter = col("vec_id") < thr)
        .groupBy("cell")
        .agg(sum(when(col("vec_id") < thr, 1L).otherwise(0L)).as("n_gen1"),
          sum(when(col("vec_id") >= thr, 1L).otherwise(0L)).as("n_gen2"))
      val tot = occ.agg(sum("n_gen1").as("t1"), sum("n_gen2").as("t2"))
      graft.ops.Scalars.withScalar(occ, col("cell"), tot, col("t1"))
        .withColumn("num", expr(
          "CAST(n_gen1 AS DECIMAL(38,0))*t2 - CAST(n_gen2 AS DECIMAL(38,0))*t1"))
        .withColumn("chi2_cell_u4", expr(
          """CAST((2*num*num*10000
            |      + CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  div (2*CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  AS BIGINT)""".stripMargin))
        .withColumn("chi2_total_u4", sum("chi2_cell_u4").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("cell"), col("n_gen1"), col("n_gen2"),
          col("chi2_cell_u4"), col("chi2_total_u4"))
        .orderBy("cell")
    }),

    // kNN-DISTANCE outliers — the local-density method completing the
    // outlier story (emb_centroid_outlier is global: far from YOUR
    // label's center; THIS is local: far from your own nearest
    // neighbors, the LOF intuition at its cheapest): per node, the
    // mean cosine to its ≤3 graph neighbors (u4 half-up over the
    // actual degree), bottom-10 = the loneliest vectors. Pure rollup
    // over the already-bounded kNN edges — no new pair space. Nodes
    // whose LSH bucket is a singleton have no edges and are excluded
    // in both engines (documented: the bucket-isolation signal is
    // ann_bucket_balance's job, not a distance score).
    "emb_knn_outlier" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), lit(true), k = 3, numPlanes = 4)
        .withColumn("cos_u4", expr("CAST(round(cos*10000, 0) AS BIGINT)"))
        .groupBy(col("probe_id").as("vec_id"))
        .agg(count(lit(1)).as("degree"), sum("cos_u4").as("sc"))
        .withColumn("mean_cos_u4", expr("(2*sc + degree) div (2*degree)"))
        .orderBy(col("mean_cos_u4").asc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("degree"), col("mean_cos_u4"))),

    "ann_bruteforce" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    "ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    "ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    // RECALL@K SWEEP — the remaining user-facing knob of the sweep
    // family (cells → ann_ivf_cells_sweep, beam → ann_hnsw_beam_sweep,
    // THIS → how many results the caller asks for): IVF recall against
    // the exact brute force at k = 1/5/10, both paths fetched ONCE at
    // k=10 and the 3-k sweep derived by an explode of the joined rank
    // pairs — recall@k counts pairs ranked ≤ k on BOTH sides. Half-up
    // u4 over k·n_probes. A k with zero agreements drops its row in
    // both engines identically (GROUP BY after the filter).
    "emb_recall_vs_k" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val truth = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 10)
        .select(col("probe_id"), col("neighbor_id"), col("rank").as("rt"))
        .shared("emb_recall_vs_k.truth")
      val cand = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 10)
        .select(col("probe_id"), col("neighbor_id"), col("rank").as("rc"))
      val np = truth.agg(countDistinct("probe_id").as("n_probes"))
      val swept = truth.join(cand, Seq("probe_id", "neighbor_id"))
        .select(col("rt"), col("rc"),
          explode(array(lit(1L), lit(5L), lit(10L))).as("k"))
        .filter(col("rt") <= col("k") && col("rc") <= col("k"))
        .groupBy("k").agg(count(lit(1)).as("n_matched"))
      graft.ops.Scalars.withScalar(swept, col("k"), np, col("n_probes"))
        .withColumn("recall_u4",
          expr("(2*n_matched*10000 + k*n_probes) div (2*k*n_probes)"))
        .select(col("k"), col("n_matched"), col("n_probes"), col("recall_u4"))
        .orderBy("k")
    }),

    // RECIPROCAL RANK FUSION of two independent ANN paths — the
    // retrieval-stack composition step (Cormack et al. SIGIR'09): IVF
    // and LSH see different candidate sets (Voronoi cells vs hyperplane
    // buckets), and RRF merges them using RANKS only, so no cosine
    // recalibration between paths is needed. Score per candidate =
    // Σ_paths 1/(60+rank), each term quantized half-up to u6 BEFORE the
    // integer sum (§5: per-term quantization then integer addition is
    // order-invariant; 60 is the canonical RRF damping constant). Both
    // paths are k=5 probes<10 — the ann_ivf/ann_lsh results verbatim —
    // so the fusion adds one full-outer join on (probe, candidate) over
    // two tiny top-k tables; ties break on candidate id. in_ivf/in_lsh
    // flags make the consensus auditable (candidates in BOTH paths
    // dominate the fused order by construction).
    "emb_rrf_fusion" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val term = expr("(2*1000000 + (60 + rank)) div (2*(60 + rank))")
      val a = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"), term.as("t_ivf"))
      val b = Similarity.lshTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"), term.as("t_lsh"))
      val w = Window.partitionBy("probe_id")
        .orderBy(col("rrf_u6").desc, col("neighbor_id"))
      a.join(b, Seq("probe_id", "neighbor_id"), "full_outer")
        .withColumn("rrf_u6",
          coalesce(col("t_ivf"), lit(0L)) + coalesce(col("t_lsh"), lit(0L)))
        .withColumn("in_ivf", col("t_ivf").isNotNull.cast("long"))
        .withColumn("in_lsh", col("t_lsh").isNotNull.cast("long"))
        .withColumn("fused_rank", row_number().over(w))
        .filter(col("fused_rank") <= 5)
        .select(col("probe_id"), col("fused_rank").cast("long").as("fused_rank"),
          col("neighbor_id"), col("rrf_u6"), col("in_ivf"), col("in_lsh"))
        .orderBy("probe_id", "fused_rank")
    }),

    // CROSS-METHOD ANN AGREEMENT — the index-health audit the recall
    // family (vs brute force) cannot be at scale, where brute force is
    // unaffordable: two INDEPENDENT approximate indexes (IVF coarse
    // quantizer vs LSH sign buckets) retrieve top-5 for the same
    // probes, and per-probe set Jaccard says whether they agree.
    // Sustained low agreement on live traffic = at least one index is
    // degrading — the monitoring signal that triggers a re-audit
    // against checkpointed ground truth. One full-outer join on
    // (probe, neighbor), ×10⁴ integer Jaccard, no float.
    "emb_ann_agreement" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val a = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"), lit(1L).as("in_ivf"))
      val b = Similarity.lshTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"), lit(1L).as("in_lsh"))
      a.join(b, Seq("probe_id", "neighbor_id"), "full_outer")
        .groupBy("probe_id")
        .agg(sum(coalesce(col("in_ivf"), lit(0L))).as("n_ivf"),
          sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"),
          sum(when(col("in_ivf").isNotNull && col("in_lsh").isNotNull, 1L)
            .otherwise(0L)).as("n_common"))
        .select(col("probe_id"), col("n_ivf"), col("n_lsh"), col("n_common"),
          expr("n_common * 10000 div (n_ivf + n_lsh - n_common)")
            .as("jaccard_u4"))
        .orderBy("probe_id")
    }),

    // MMR DIVERSIFICATION (maximal marginal relevance, Carbonell &
    // Goldstein 1998) of the LSH top-5 — the redundancy filter a
    // retrieval-augmented pipeline runs between ANN and the consumer:
    // greedily pick 3 of 5 candidates maximizing λ·rel − (1−λ)·max
    // sim-to-picked (λ=0.7), so two near-identical top hits cannot
    // both survive. The greedy recursion is unrolled into THREE rank-1
    // window picks (the candidate set is k-bounded per probe, so every
    // join is a per-probe equi-join — nothing quadratic in the
    // corpus); relevance and pairwise sims quantize 4dp→×10⁴ BIGINT
    // BEFORE any comparison, and the MMR score 7·rel_u4 − 3·sim_u4
    // (×10⁵ units) never divides — no float enters a ranking key.
    // Pick 1's score is 7·rel (empty picked set ⇒ sim term 0).
    "emb_mmr_diversify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cand = Similarity.lshTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id").as("cid"),
          expr("CAST(round(cos * 10000, 0) AS BIGINT)").as("rel_u4"))
        .shared("emb_mmr_diversify.cand") // feeds three picks AND the pairwise sims
      val nv = emb
        .select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("v"))
        .join(cand.select("cid").distinct(), "cid")
        .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
      val sim = cand.select(col("probe_id"), col("cid").as("i"))
        .join(cand.select(col("probe_id"), col("cid").as("j")), "probe_id")
        .filter(col("i") =!= col("j"))
        .join(nv.select(col("cid").as("i"), col("v").as("vi"),
          col("nrm").as("ni")), "i")
        .join(nv.select(col("cid").as("j"), col("v").as("vj"),
          col("nrm").as("nj")), "j")
        .select(col("probe_id"), col("i"), col("j"),
          expr("CAST(round(dot_product(vi, vj) / (ni * nj) * 10000, 0)" +
            " AS BIGINT)").as("s_u4"))
      def top1(df: DataFrame, score: Column): DataFrame = df
        .withColumn("__rk", row_number().over(Window.partitionBy("probe_id")
          .orderBy(score.desc, col("cid"))))
        .filter(col("__rk") === 1).drop("__rk")
      val p1 = top1(cand, col("rel_u4"))
        .select(col("probe_id"), col("cid").as("p1"), col("rel_u4").as("rel1"))
      val p2 = top1(
          cand.join(p1, "probe_id").filter(col("cid") =!= col("p1"))
            .join(sim.select(col("probe_id"), col("i").as("cid"),
              col("j").as("p1"), col("s_u4").as("m1")),
              Seq("probe_id", "cid", "p1"))
            .withColumn("mmr_u5", expr("7 * rel_u4 - 3 * m1")),
          col("mmr_u5"))
        .select(col("probe_id"), col("p1"), col("cid").as("p2"),
          col("rel_u4").as("rel2"), col("mmr_u5").as("mmr2"))
      val p3 = top1(
          cand.join(p2, "probe_id")
            .filter(col("cid") =!= col("p1") && col("cid") =!= col("p2"))
            .join(sim.select(col("probe_id"), col("i").as("cid"),
              col("j").as("p1"), col("s_u4").as("m1")),
              Seq("probe_id", "cid", "p1"))
            .join(sim.select(col("probe_id"), col("i").as("cid"),
              col("j").as("p2"), col("s_u4").as("m2")),
              Seq("probe_id", "cid", "p2"))
            .withColumn("mmr_u5", expr("7 * rel_u4 - 3 * greatest(m1, m2)")),
          col("mmr_u5"))
        .select(col("probe_id"), col("cid").as("p3"),
          col("rel_u4").as("rel3"), col("mmr_u5").as("mmr3"))
      p1.select(col("probe_id"), lit(1L).as("pick"),
          col("p1").as("neighbor_id"), col("rel1").as("rel_u4"),
          (col("rel1") * 7).as("mmr_u5"))
        .unionByName(p2.select(col("probe_id"), lit(2L).as("pick"),
          col("p2").as("neighbor_id"), col("rel2").as("rel_u4"),
          col("mmr2").as("mmr_u5")))
        .unionByName(p3.select(col("probe_id"), lit(3L).as("pick"),
          col("p3").as("neighbor_id"), col("rel3").as("rel_u4"),
          col("mmr3").as("mmr_u5")))
        .orderBy("probe_id", "pick")
    }),

    // INCREMENTAL INDEX MAINTENANCE: the coarse quantizer trains on
    // the FIRST THREE QUARTERS of the corpus only (generation 1); the
    // last quarter lands later and is indexed by pure assignment
    // against the frozen centroids — no re-clustering of history, the
    // cadence a 100 TB vector store actually runs. Probes are drawn
    // from the APPENDED generation, so the query measures that new
    // vectors are immediately searchable through a stale quantizer
    // (compare with ann_ivf's fresh-build results; ann_ivf_cells_sweep
    // quantifies the recall side)
    "ann_ivf_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = emb.agg(expr("3*(max(vec_id)+1) div 4").as("t")).head().getLong(0)
      Similarity.ivfTopK(emb,
          col("vec_id") >= thr && col("vec_id") < thr + 10, k = 5,
          buildFilter = col("vec_id") < thr)
        .orderBy("probe_id", "rank")
    }),

    // VECTOR-STORE LIFECYCLE CAPSTONE — the ann_* family's pipeline_e2e:
    // the maintenance cycle a 100 TB vector store actually schedules,
    // as ONE plan with a per-stage audit row. (0) build: the 8-cell
    // coarse quantizer trains on generation 1 only (first three
    // quarters by vec_id — the ann_ivf_append convention); (1) append:
    // the landing shard (gen2) is indexed by pure assignment against
    // the FROZEN centroids, no re-clustering of history; (2) drift
    // check: gen1-vs-gen2 cell-occupancy chi² (emb_cell_drift's exact
    // integer identity), the number that says whether the stale
    // quantizer still reflects the distribution; (3) re-train
    // decision: chi²_u4 > 243200 (χ²₀.₉₉₉ at df = cells−1 = 7 ≈ 24.32
    // — fire only on p < 0.001 drift, since a re-train re-shuffles the
    // whole store); (4) recall re-audit: mean recall@5 of the frozen-
    // quantizer search, probed FROM the appended generation, against
    // the checkpointed brute force (the measure-before-trusting step).
    // The single full-corpus assignment feeds stages 0-2; each audit
    // value is one BIGINT so the 5-row log is schema-stable.
    "ann_lifecycle_e2e" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = emb.agg(expr("3*(max(vec_id)+1) div 4").as("t")).head().getLong(0)
      val assigned = Similarity.ivfAssign(emb, cells = 8,
          buildFilter = col("vec_id") < thr)
        .select("vec_id", "cell")
        .shared("ann_lifecycle_e2e.buildFilter") // feeds both gen counts AND the drift rollup
      def stage(idx: Int, name: String, value: DataFrame): DataFrame =
        value.select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("value").cast("bigint").as("value"))
      val s0 = stage(0, "build_index",
        assigned.filter(col("vec_id") < thr).agg(count(lit(1)).as("value")))
      val s1 = stage(1, "append_shard",
        assigned.filter(col("vec_id") >= thr).agg(count(lit(1)).as("value")))
      val occ = assigned.groupBy("cell").agg(
        sum(when(col("vec_id") < thr, 1L).otherwise(0L)).as("n_gen1"),
        sum(when(col("vec_id") >= thr, 1L).otherwise(0L)).as("n_gen2"))
      val tot = occ.agg(sum("n_gen1").as("t1"), sum("n_gen2").as("t2"))
      val chiTot = Scalars.withScalar(occ, col("cell"), tot, col("t1"))
        .withColumn("num", expr(
          "CAST(n_gen1 AS DECIMAL(38,0))*t2 - CAST(n_gen2 AS DECIMAL(38,0))*t1"))
        .withColumn("chi2_cell_u4", expr(
          """CAST((2*num*num*10000
            |      + CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  div (2*CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  AS BIGINT)""".stripMargin))
        .agg(sum("chi2_cell_u4").cast("bigint").as("value"))
        .shared("ann_lifecycle_e2e.chiTot") // feeds the drift row AND the decision row
      val s2 = stage(2, "drift_check", chiTot)
      val s3 = stage(3, "retrain_decision", chiTot.select(
        when(col("value") > 243200L, 1L).otherwise(0L).as("value")))
      val probeF = col("vec_id") >= thr && col("vec_id") < thr + 10
      val brute = Similarity.bruteForceTopK(emb, probeF, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val ivf = Similarity.ivfTopK(emb, probeF, k = 5, cells = 8,
          buildFilter = col("vec_id") < thr)
        .select(col("probe_id").as("ip"), col("neighbor_id").as("inb"))
      val s4 = stage(4, "recall_audit",
        brute.join(ivf,
            col("probe_id") === col("ip") && col("neighbor_id") === col("inb"),
            "left_outer")
          .agg(count(col("inb")).as("hits"), count(lit(1)).as("den"))
          .select(expr("(2*10000*hits + den) div (2*den)").as("value")))
      s0.unionByName(s1).unionByName(s2).unionByName(s3).unionByName(s4)
        .orderBy("stage_idx")
    }),

    // product-quantized ANN: codebook-trained 8-byte codes replace the
    // 512-byte vectors on the search side; LSH buckets gate candidates
    // (equi-join), asymmetric distance ranks them (Similarity.pqTopK)
    "ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    // the billion-scale composition: IVF coarse cells + PQ-encoded
    // RESIDUALS, probes open nprobe cells, full-ADC ranking
    "ann_ivfpq" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    // recall of the PQ path against the checkpointed exact brute force
    // — the same measure-before-trusting audit as ann_recall
    "ann_pq_recall" -> ((s, dir) => {
      val brute = Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val pq = Similarity.pqTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id").as("pp"), col("neighbor_id").as("pn"))
      brute.join(pq,
          col("probe_id") === col("pp") && col("neighbor_id") === col("pn"),
          "left_outer")
        .groupBy("probe_id")
        .agg(round(count(col("pn")) / 5.0, 4).as("recall"))
        .orderBy("probe_id")
    }),

    // MATRYOSHKA-STYLE TRUNCATION AUDIT: exact top-5 overlap when the
    // index uses only the first 32 / 16 of 64 dims — the measurement
    // that decides whether index memory can be cut by plain prefix
    // truncation (vs PQ). Integer hit counts over 10 probes × 5 slots;
    // recall is the unrounded integer-ratio division. Broadcast-probe
    // brute force per width (PlanSpec-exempt like ann_bruteforce).
    "emb_matryoshka_recall" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .shared("emb_matryoshka_recall.e")
      def topk(d: Int): DataFrame = {
        val vd = if (d == 64) col("v") else slice(col("v"), 1, d)
        val ed = e.select(col("vec_id"), vd.as("vd"))
          .withColumn("nrm", sqrt(Dedup.dot(col("vd"), col("vd"))))
        val probes = ed.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("vd").as("pv"),
            col("nrm").as("pn"))
        val cos = Dedup.dot(col("pv"), col("vd")) / (col("pn") * col("nrm"))
        val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
        ed.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), cos.as("cos"))
          .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
          .select(col("probe_id"), col("vec_id"))
      }
      val full = topk(64)
      Seq(64, 32, 16).map { d =>
        full.join(topk(d), Seq("probe_id", "vec_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(d).as("dims"), col("n_hits"),
            (col("n_hits").cast("double") / 50.0).as("recall"))
      }.reduce(_ unionByName _).orderBy(desc("dims"))
    }),

    // the same quantization-loss audit for the composed index — at
    // 100 TB this is the number that decides nprobe and codebook size
    "ann_ivfpq_recall" -> ((s, dir) => {
      val brute = Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val ip = Similarity.ivfPqTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id").as("pp"), col("neighbor_id").as("pn"))
      brute.join(ip,
          col("probe_id") === col("pp") && col("neighbor_id") === col("pn"),
          "left_outer")
        .groupBy("probe_id")
        .agg(round(count(col("pn")) / 5.0, 4).as("recall"))
        .orderBy("probe_id")
    }),

    // ANN observability: per-probe recall of the LSH path against the
    // exact brute-force top-k — the measure-don't-guess query a real
    // deployment runs on a sampled probe set before trusting an index.
    // Left join on (probe, neighbor): hits count non-null matches.
    "ann_recall" -> ((s, dir) => {
      val brute = Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val lsh = Similarity.lshTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id").as("lp"), col("neighbor_id").as("ln"))
      brute.join(lsh,
          col("probe_id") === col("lp") && col("neighbor_id") === col("ln"),
          "left_outer")
        .groupBy("probe_id")
        .agg(round(count(col("ln")) / 5.0, 4).as("recall"))
        .orderBy("probe_id")
    }),

    // Count-min sketch heavy-hitter estimation (the second mergeable
    // sketch family beside HLL): state = d×w counter grid, one pass,
    // fixed 1024-row footprint regardless of key cardinality; the
    // exact top-10 ride along so the output audits the estimator
    // itself (est ≥ exact always; overcount = collision noise). The
    // grid is (r, bucket)-keyed relational data, so it merges across
    // shards/days by simple count-sum — and the oracle replays it.
    // EXACT top-k heavy hitters with k-row state: per-user counts (one
    // shuffle — top-k BY COUNT of raw rows is not mergeable, so the
    // count pass is irreducible), then ONE topk_agg reduction whose
    // map-side partials each carry ≤k pairs — no global sort, no
    // TakeOrderedAndProject, no count-min collision noise. The exact
    // contrast query to sketch_countmin's grid + exact-join audit.
    "sketch_exact_topk" -> ((s, dir) => {
      graft.functions.TopKAgg.register(s)
      Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .agg(call_function("topk_agg", col("cnt"), col("user_id"), lit(10)).as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "e")))
        .select((col("pos") + 1).cast("bigint").as("rank"),
          col("e.tag").as("user_id"), col("e.v").as("exact_n"))
        .orderBy("rank")
    }),

    // MISRA-GRIES heavy hitters, order-invariant formulation (VERDICT
    // r9 item 4): the idealized MG summary of a multiset is its exact
    // counts minus the (k+1)-th largest count T, keeping positives —
    // a pure function of the count map, so it is deterministic under
    // ANY partitioning (raw MG counter values are merge-shape-
    // dependent; the fixed-state distributed aggregate with the
    // mergeable-summaries pairwise-sum + (c+1)-th-subtraction merge
    // lives in functions/MgTopKAgg.scala and is guarantee-gated by
    // ScaleOpsSpec). Here: one exact count shuffle, then ONE bounded
    // (k+1)-slot topk_agg reduction finds the top-k AND T — no global
    // sort. Emits est/err so the sketch-vs-exact contrast with
    // sketch_exact_topk and sketch_countmin is auditable row by row:
    // MG under-counts by exactly T, count-min over-counts, exact pays
    // k-row state only over pre-aggregated counts.
    "sketch_topk_mg" -> ((s, dir) => {
      graft.functions.TopKAgg.register(s)
      val k = 10
      Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .agg(call_function("topk_agg", col("cnt"), col("user_id"), lit(k + 1)).as("tk"))
        .withColumn("tt",
          when(size(col("tk")) === k + 1,
            element_at(col("tk"), k + 1).getField("v")).otherwise(lit(0L)))
        .select(col("tt"), posexplode(col("tk")).as(Seq("pos", "e")))
        .filter(col("pos") < k)
        .select((col("pos") + 1).cast("bigint").as("rank"),
          col("e.tag").as("user_id"), col("e.v").as("exact_n"),
          (col("e.v") - col("tt")).as("mg_est"),
          col("tt").as("err_bound"))
        .orderBy("rank")
    }),

    "sketch_countmin" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val w = 256
      def bkt(r: Int) =
        pmod(call_function("graft_hash64", col("k"), lit((101 + r).toLong)), lit(w))
      val buckets = array((0 until 4).map(bkt): _*)
      val e = Tables.events(s, dir).select(col("user_id").cast("string").as("k"))
      val state = e.select(posexplode(buckets).as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
      val top = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(10)
      top.withColumn("k", col("user_id").cast("string"))
        .select(col("user_id"), col("exact_n"),
          posexplode(buckets).as(Seq("r", "bucket")))
        .join(broadcast(state), Seq("r", "bucket"))
        .groupBy("user_id", "exact_n")
        .agg(min("cnt").as("est_n"))
        .withColumn("overcount", col("est_n") - col("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id"))
    }),

    // POISSON BOOTSTRAP — the distributed-uncertainty estimator (the
    // only bootstrap that works on a cluster: a classic resample needs
    // a global draw of n rows WITH replacement — a coordination
    // non-starter at 100 TB — while Poisson(1) per-row weights are
    // independent per row AND per replica, so the whole thing is ONE
    // scan with 8 weighted sums and no shuffle; Chamandy et al.,
    // "Estimating Uncertainty for Massive Data Streams"). Weights are
    // DETERMINISTIC: the portable hash's top 20 bits (power-of-two
    // shift — signed shiftrightunsigned == the oracle's unsigned
    // divide) invert the Poisson(1) CDF through integer thresholds
    // (⌊CDF·2²⁰⌋: 385749/771498/964374/1028663/1044738/1047952, cap 6).
    // Per replica: drawn-row mass, the resampled revenue total in
    // cents, and |deviation| from the original — the spread IS the
    // standard error a decision needs on the metric.
    "sample_poisson_bootstrap" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def w(b: Int): Column = {
        val u = shiftrightunsigned(call_function("graft_hash64",
          col("o_orderkey").cast("string"), lit((401 + b).toLong)), 44)
        when(u < 385749L, 0L).when(u < 771498L, 1L).when(u < 964374L, 2L)
          .when(u < 1028663L, 3L).when(u < 1044738L, 4L)
          .when(u < 1047952L, 5L).otherwise(6L)
      }
      val aggs = (0 until 8).flatMap(b => Seq(
        sum(w(b)).as(s"n$b"), sum(w(b) * col("cents")).as(s"s$b"))) :+
        sum(col("cents")).as("orig")
      val one = o.agg(aggs.head, aggs.tail: _*)
      one.select(col("orig"),
          posexplode(array((0 until 8).map(b =>
            struct(col(s"n$b").as("n"), col(s"s$b").as("s"))): _*))
            .as(Seq("replica", "r")))
        .select(col("replica").cast("long").as("replica"),
          col("r.n").as("n_drawn"), col("r.s").as("sum_c"),
          col("orig").as("orig_sum_c"),
          abs(col("r.s") - col("orig")).as("abs_dev_c"))
        .orderBy("replica")
    }),

    // AMS "tug-of-war" F2 sketch — the frequency-MOMENT column that
    // completes the sketch family (HLL = F0 distinct, MG / count-min =
    // heavy hitters, THIS = F2 = Σ count²): F2 is the self-join output
    // size of events ⋈ events on user_id and the skew proxy behind
    // salting decisions, so a planner wants it WITHOUT paying the key
    // shuffle. Each estimator X_j = Σ_rows sign_j(user_id), sign_j =
    // ±1 from the portable hash's low bit (seeds 301+j; power-of-two
    // modulus, so signed pmod == the oracle's unsigned low bit):
    // E[X_j²] = F2 exactly (Alon-Matias-Szegedy STOC'96). The sketch
    // side is ONE scalar aggregate — map-side partial sums, NO key
    // shuffle, and the sketch is LINEAR (mergeable across partitions /
    // landing shards / stream batches by plain addition); only the
    // exact audit side pays the groupBy. Emission is §5 integer units
    // end to end: per-estimator x / x², half-up mean estimate, half-up
    // u4 relative error (x² ≤ n² fits BIGINT at any bench scale; a
    // 100 TB deployment lifts the square into DECIMAL(38,0) at the
    // same boundary the q1 product sums do).
    "sketch_ams_f2" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val e = Tables.events(s, dir).select(col("user_id").cast("string").as("k"))
      def sign(j: Int) = lit(1L) - lit(2L) *
        pmod(call_function("graft_hash64", col("k"), lit((301 + j).toLong)), lit(2L))
      val xs = (0 until 8).map(j => sum(sign(j)).as(s"x$j"))
      val sk = e.agg(xs.head, xs.tail: _*)
        .withColumn("est_f2",
          expr("(2*(x0*x0+x1*x1+x2*x2+x3*x3+x4*x4+x5*x5+x6*x6+x7*x7) + 8) div 16"))
      val exact = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("c"))
        .agg(sum(expr("c*c")).as("exact_f2"))
      val rows = sk.select(col("est_f2"),
        posexplode(array((0 until 8).map(j => col(s"x$j")): _*)).as(Seq("est_id", "x")))
      graft.ops.Scalars.withScalar(rows, col("x"), exact, col("exact_f2"))
        .withColumn("x_sq", expr("x*x"))
        .withColumn("err_u4",
          expr("(2*abs(est_f2 - exact_f2)*10000 + exact_f2) div (2*exact_f2)"))
        .select(col("est_id").cast("bigint").as("est_id"), col("x"),
          col("x_sq"), col("est_f2"), col("exact_f2"), col("err_u4"))
        .orderBy("est_id")
    }),

    // OOV audit over the deterministic split: what fraction of val /
    // test token OCCURRENCES fall outside the train-split vocabulary —
    // the leakage-safe way to size a tokenizer (building the vocab on
    // everything and measuring on the same data understates OOV).
    // Train vocab is vocabulary-bounded → broadcast left join; one
    // split-keyed agg.
    "vocab_oov" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val h = call_function("graft_hash64", col("doc_id").cast("string"), lit(7L))
      val docs = Tables.documents(s, dir)
        .withColumn("split",
          when(shiftrightunsigned(h, 52) < 3277, "train")
            .when(shiftrightunsigned(h, 52) < 3686, "val")
            .otherwise("test"))
      val tk = docs.select(col("split"), explode(Dedup.tokens(col("text"))).as("t"))
      val trainVocab = tk.filter(col("split") === "train")
        .select("t").distinct().withColumn("in_vocab", lit(1))
      tk.filter(col("split") =!= "train")
        .join(broadcast(trainVocab), Seq("t"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate", round(col("n_oov") / col("n_toks"), 6))
        .orderBy("split")
    }),

    // corpus length deciles via the SAMPLED-boundary global rank
    // (Rank.globalRankByRange — robust to any length distribution,
    // incl. all-equal): the bucket profile an adaptive batching /
    // packing step keys on
    "text_len_deciles" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
      val ranked = graft.ops.Rank.globalRankByRange(d, "n_chars", "doc_id", numBlocks = 8)
      val tot = d.agg(count(lit(1)).as("n_total"))
      graft.ops.Scalars.withScalar(ranked, col("doc_id"), tot, col("n_total"))
        .withColumn("decile", expr("((rnk - 1) * 10) div n_total"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("decile")
    }),

    // unigram NLL quality score (perplexity proxy): mean −ln p(token)
    // under the corpus's own unigram distribution — the cheap quality
    // filter that flags both gibberish (rare tokens ⇒ high NLL) and
    // degenerate repetition (stop-token loops ⇒ abnormally low NLL).
    // Plan: one token explode; the vocab table is tiny (bounded by
    // vocabulary, not corpus) so the per-token logprob attaches
    // map-side via broadcast; ONE doc-keyed shuffle for the re-agg.
    "text_unigram_nll" -> ((s, dir) =>
      TextAnalysis.unigramNll(Tables.documents(s, dir)).orderBy("doc_id")),

    // sequential-context LM: train on the lower doc_id half, score all
    // — held-out docs exercise the stupid-backoff path for real, and
    // n_backoff is the model-coverage / domain-drift audit
    "text_bigram_nll" -> ((s, dir) =>
      TextAnalysis.bigramNll(Tables.documents(s, dir)).orderBy("doc_id")),

    // LABEL CONFUSION MATRIX: every vector assigned to its nearest
    // label centroid by cosine — off-diagonal cells are the mislabel /
    // cluster-overlap signal centroidOutliers ranks within one label.
    // The centroid matrix is bounded (labels×dim) and broadcasts; the
    // argmax runs on the ROUNDED cosine with a label tiebreak, so
    // mathematically-tied assignments agree across engines.
    "emb_label_confusion" -> ((s, dir) => {
      val ex = Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .withColumn("v", col("v").cast("double"))
        .once("emb_label_confusion.ex") // feeds the centroids and the scoring join
      val cent = ex.groupBy(col("label").as("clabel"), col("pos"))
        .agg(avg("v").as("c"))
      val scored = ex.join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("v") * col("c")).as("vc"),
          sum(col("v") * col("v")).as("vv"),
          sum(col("c") * col("c")).as("cc"))
        .select(col("vec_id"), col("label"), col("clabel"),
          round(col("vc") / (sqrt(col("vv")) * sqrt(col("cc"))), 4).as("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(desc("cos"), col("clabel").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .groupBy(col("label"), col("clabel").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred_label")
    }),

    // CONTAMINATION BY PROVENANCE: which sources carry the benchmark
    // leakage — the rollup that turns per-doc contamination hits into
    // a crawl-exclusion decision. The rate is an unrounded integer
    // ratio (bit-identical division both engines).
    "contam_rate_by_source" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val hits = graft.ops.Contamination.check(
          d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25),
          n = 3, threshold = 0.5)
        .filter(col("contaminated") === 1)
        .select(col("doc_id"), lit(1L).as("hit"))
      d.filter(col("doc_id") >= 25).select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left_outer")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("hit"), lit(0L)).as("n_contaminated"))
        .withColumn("contam_rate", col("n_contaminated") / col("n_docs"))
        .orderBy("source")
    }),

    // LSH BUCKET BALANCE: occupancy spread of the hyperplane buckets
    // at 4 and 8 planes — a skewed bucket breaks LSH's bounded-pair
    // promise before recall ever degrades, so this is the check run
    // FIRST. skew = max_occ·n_buckets/n_vecs is a pure integer ratio
    // (identical IEEE division both engines), emitted unrounded.
    "ann_bucket_balance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Seq(4, 8).map { p =>
        val planes = Similarity.hyperplanes(p, 64, 42L)
        emb.select(Similarity.bucketOf(
            col("embedding").cast("array<double>"), planes).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_buckets"), min("sz").as("min_occ"),
            max("sz").as("max_occ"), sum("sz").as("n_vecs"))
          .select(lit(p.toLong).as("planes"), col("n_buckets"),
            col("min_occ"), col("max_occ"),
            (col("max_occ") * col("n_buckets") / col("n_vecs")).as("skew"))
      }.reduce(_.unionByName(_)).orderBy("planes")
    }),

    // IVF CELL-BALANCE AUDIT: occupancy spread of the Voronoi cells
    // after the Lloyd step — ann_bucket_balance applied to the IVF
    // quantizer (a skewed cell list IS a skewed search join; this is
    // the audit run before trusting cells ≈ √n sizing). Skew is the
    // §5 half-up u4 integer max_occ/(n_vecs/n_cells).
    "emb_ivf_balance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Seq(8, 16).map { cells =>
        Similarity.ivfAssign(emb, cells = cells)
          .groupBy("cell").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_cells"), min("sz").as("min_occ"),
            max("sz").as("max_occ"), sum("sz").as("n_vecs"))
          .select(lit(cells.toLong).as("cells"), col("n_cells"),
            col("min_occ"), col("max_occ"),
            expr("(2*10000L*max_occ*n_cells + n_vecs) div (2*n_vecs)")
              .as("skew_u4"))
      }.reduce(_.unionByName(_)).orderBy("cells")
    }),

    // SIMPLIFIED SILHOUETTE of the IVF coarse quantizer — the geometry
    // question emb_ivf_balance's occupancy histogram cannot answer: do
    // the 16 cells carve real cluster structure (s → 1) or slice noise
    // (s → 0)? Per-row float work only (top-2 centroid sims), each row
    // quantized to §5 u4 BEFORE aggregation so the per-cell means are
    // pure integer sums — no float accumulation order anywhere. One
    // corpus scan against the broadcast cells×dim centroid matrix.
    "emb_silhouette" -> ((s, dir) =>
      Similarity.ivfSilhouette(Tables.embeddings(s, dir), cells = 16,
          lloydIters = 1)
        .groupBy("cell").agg(count(lit(1)).as("n_vecs"),
          sum("s_u4").as("ssum"),
          min("s_u4").as("min_s_u4"), max("s_u4").as("max_s_u4"))
        .select(col("cell"), col("n_vecs"),
          expr("(2 * ssum + n_vecs) div (2 * n_vecs)").as("mean_s_u4"),
          col("min_s_u4"), col("max_s_u4"))
        .orderBy("cell")),

    // LSH TUNING CURVE: average recall@5 of the hyperplane index at 4,
    // 6, and 8 planes against the shared brute-force ground truth —
    // the measurement that picks the bucket granularity (recall halves
    // as buckets shrink; this query shows exactly where). Every sweep
    // point joins the same ground-truth plan and is the same bounded
    // probe join as ann_lsh.
    "ann_plane_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      Seq(4, 6, 8).map { p =>
        val lsh = Similarity.lshTopK(emb, col("vec_id") < 10, k = 5,
            numPlanes = p)
          .select(col("probe_id").as("lp"), col("neighbor_id").as("ln"))
        brute.join(lsh,
            col("probe_id") === col("lp") && col("neighbor_id") === col("ln"),
            "left_outer")
          .groupBy("probe_id")
          .agg((count(col("ln")) / 5.0).as("recall"))
          .agg(round(avg("recall"), 4).as("avg_recall"),
            count(lit(1)).as("n_probes"))
          .select(lit(p.toLong).as("planes"), col("avg_recall"),
            col("n_probes"))
      }.reduce(_.unionByName(_)).orderBy("planes")
    }),

    // IVF SIZING SWEEP (VERDICT r9 item 5 — the ann_plane_sweep
    // pattern applied to the inverted file): recall of ivfTopK against
    // the shared brute-force ground truth as the cell count grows with
    // a proportional nprobe (cells/4, min 1). This is the measurement
    // behind the cells≈√n deployment heuristic documented on ivfTopK —
    // pick the knee of this curve, don't guess.
    "ann_ivf_cells_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
        .once("ann_ivf_cells_sweep.brute") // keeps the nested loop out of the sweep plan
      Seq(4, 8, 16).map { cells =>
        val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            cells = cells, nprobe = math.max(1, cells / 4))
          .select(col("probe_id").as("ip"), col("neighbor_id").as("inb"))
        brute.join(ivf,
            col("probe_id") === col("ip") && col("neighbor_id") === col("inb"),
            "left_outer")
          .groupBy("probe_id")
          .agg((count(col("inb")) / 5.0).as("recall"))
          .agg(round(avg("recall"), 4).as("avg_recall"),
            count(lit(1)).as("n_probes"))
          .select(lit(cells.toLong).as("cells"), col("avg_recall"),
            col("n_probes"))
      }.reduce(_.unionByName(_)).orderBy("cells")
    }),

    // LLOYD CONVERGENCE AUDIT for the IVF coarse quantizer — the
    // third leg of the index-sizing triad (cells: ann_ivf_cells_sweep,
    // occupancy: emb_ivf_balance, iterations: THIS): per Lloyd step,
    // the vectors that changed cell and the u6-integer cosine inertia
    // of the assignment. The knee of this curve is where extra
    // quantizer passes stop paying — at 100 TB each extra iteration
    // is a full corpus scan, so it is bought from a measurement, not
    // a guess (Similarity.lloydCurve).
    "ann_ivf_lloyd_curve" -> ((s, dir) =>
      Similarity.lloydCurve(Tables.embeddings(s, dir), cells = 16, iters = 2)),

    // HNSW-STYLE LAYERED GRAPH ANN (VERDICT r9 item 8, SURVEY §7
    // candidate): deterministic geometric layer ladder on the portable
    // id hash, bucket-bounded per-layer kNN digraphs, and a fixed
    // unrolled beam descent entry → L2 → L1 → L0 — the graph-ANN
    // completion of the taxonomy past IVF-PQ. See ops/Hnsw.scala for
    // why true insertion-order HNSW cannot be built deterministically
    // on a partitioned engine and what this keeps instead.
    "ann_hnsw" -> ((s, dir) =>
      graft.ops.Hnsw.search(CorpusArtifacts.hnswIndex(s, dir),
          col("vec_id") < 10, k = 5)
        .orderBy("probe_id", "rank")),

    // the index-trust measurement for the layered graph path
    "ann_hnsw_recall" -> ((s, dir) => {
      val brute = Similarity.bruteForceTopK(
          Tables.embeddings(s, dir), col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val hw = graft.ops.Hnsw.search(CorpusArtifacts.hnswIndex(s, dir),
          col("vec_id") < 10, k = 5)
        .select(col("probe_id").as("hp"), col("neighbor_id").as("hn"))
      brute.join(hw,
          col("probe_id") === col("hp") && col("neighbor_id") === col("hn"),
          "left_outer")
        .groupBy("probe_id")
        .agg(round(count(col("hn")) / 5.0, 4).as("recall"))
        .orderBy("probe_id")
    }),

    // BEAM-WIDTH SWEEP for the layered graph path: the latency knob of
    // graph ANN is the per-hop frontier width — this measures the
    // recall each width buys (the ann_ivf_cells_sweep pattern applied
    // to Hnsw). The index is BUILT ONCE (uppers materialized — the
    // persisted-index posture) and searched at each width; ground
    // truth is computed once and checkpoint-shared too.
    "ann_hnsw_beam_sweep" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ix = CorpusArtifacts.hnswIndex(s, dir)
      val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
        .once("ann_hnsw_beam_sweep.brute") // keeps the nested loop out of the sweep plan
      Seq(4, 8, 16).map { beam =>
        val hw = graft.ops.Hnsw.search(ix, col("vec_id") < 10, k = 5, beam = beam)
          .select(col("probe_id").as("hp"), col("neighbor_id").as("hn"))
        brute.join(hw,
            col("probe_id") === col("hp") && col("neighbor_id") === col("hn"),
            "left_outer")
          .groupBy("probe_id")
          .agg((count(col("hn")) / 5.0).as("recall"))
          .agg(round(avg("recall"), 4).as("avg_recall"),
            count(lit(1)).as("n_probes"))
          .select(lit(beam.toLong).as("beam"), col("avg_recall"),
            col("n_probes"))
      }.reduce(_.unionByName(_)).orderBy("beam")
    }),

    // FROZEN-GRAPH SHARD ATTACHMENT (Hnsw.append) — the landing
    // cadence for graph ANN, completing the incremental-index trilogy
    // (ann_ivf_append: frozen quantizer; mm_phash_incremental:
    // signature store; THIS: the graph). History's ladder/adjacencies/
    // entry are reused untouched; the last-quarter shard attaches at
    // the base layer via beam search on the frozen graph (top-6
    // out-edges + capped history in-edges), then shard probes search
    // the augmented graph — proving a landing is immediately
    // searchable with NO history rebuild.
    "ann_hnsw_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = emb.agg(expr("3*(max(vec_id)+1) div 4")).head().getLong(0)
      val ix = graft.ops.Hnsw.append(emb, col("vec_id") >= thr)
      graft.ops.Hnsw.search(ix,
          col("vec_id") >= thr && col("vec_id") < thr + 10, k = 5)
        .orderBy("probe_id", "rank")
    }),

    // PER-LANGUAGE CORPUS PROFILE: doc counts and mean token/quality
    // per language. Both means use the integer-space half-up trick —
    // token sums are exact integers and quality is 4dp-quantized, so
    // a plain round(avg) would park even-count groups on the .00005
    // boundary (the dedup_source_report failure class).
    "profile_lang_stats" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      q.join(d, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("st"),
          sum(round(col("quality_score") * 10000, 0).cast("long")).as("sq"))
        .select(col("lang"), col("n_docs"),
          expr("(2*st + n_docs) div (2*n_docs)").as("mean_tokens"),
          (expr("(2*sq + n_docs) div (2*n_docs)") / lit(10000.0))
            .as("mean_quality"))
        .orderBy("lang")
    }),

    // LENGTH↔QUALITY CORRELATION: Pearson r between token count and
    // the quality score from explicit sum-of-products (Σx/Σx² are
    // integer-exact in double, so only the quantized-y sums carry
    // order noise — absorbed by the 4dp round on a continuous value).
    // One aggregation; six scalars reach the final row.
    "profile_quality_corr" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("n_tokens").cast("double").as("x"),
          col("quality_score").as("y"))
      q.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                 (col("n") * col("syy") - col("sy") * col("sy"))), 4)
            .as("corr_len_quality"))
    }),

    // NORM HISTOGRAM: L2-norm distribution in 0.25-wide buckets
    // (capped 10+) — norm drift is the first symptom of an embedding
    // model change upstream. The squared-sum fold runs left-to-right
    // in both engines, so the norms are bit-identical before
    // bucketing; pure per-row map + one bounded-key shuffle.
    "emb_norm_hist" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(sqrt(expr(
          """aggregate(embedding, CAST(0.0 AS DOUBLE),
            |  (acc, x) -> acc + CAST(x AS DOUBLE)*CAST(x AS DOUBLE))""".stripMargin))
          .as("norm"))
        .select(least(floor(col("norm") * 4), lit(40L)).cast("bigint")
          .as("norm_bucket"))
        .groupBy("norm_bucket").agg(count(lit(1)).as("n_vecs"))
        .orderBy("norm_bucket")),

    // DEAD-DIMENSION AUDIT: per-dimension mean/variance over the whole
    // embedding column — collapsed (near-zero-variance) dimensions are
    // wasted index memory and a training-collapse symptom. One explode
    // + one 64-key shuffle; the dead flag compares the ROUNDED
    // variance so it cannot flip between engines.
    "emb_dim_stats" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("bigint").as("dim"),
          col("x").cast("double").as("x"))
        .groupBy("dim")
        // + 0.0 collapses −0.0 to +0.0 (IEEE): Spark's BigDecimal round
        // drops the zero sign but DuckDB's keeps it, so a dim whose
        // stat rounds to zero from below hash-diverges without this
        // (caught by the r9 exact gate at sf0.1)
        .agg((round(avg("x"), 4) + 0.0).as("mean_v"),
          round(var_pop("x"), 4).as("var_v"),
          (round(min("x"), 4) + 0.0).as("min_v"),
          (round(max("x"), 4) + 0.0).as("max_v"))
        .withColumn("is_dead", (col("var_v") < 0.0001).cast("bigint"))
        .orderBy("dim")),

    // matryoshka audit: does a 16-dim PREFIX of the 64-dim embedding
    // preserve the full-dim top-5 neighbors? per-probe recall — the
    // measurement before shrinking ANN index memory 4× by truncation
    "emb_prefix_recall" -> ((s, dir) => {
      val full = Tables.embeddings(s, dir)
      val pre  = full.withColumn("embedding", slice(col("embedding"), 1, 16))
      val brute = Similarity.bruteForceTopK(full, col("vec_id") < 10, k = 5)
        .select(col("probe_id"), col("neighbor_id"))
      val prefix = Similarity.bruteForceTopK(pre, col("vec_id") < 10, k = 5)
        .select(col("probe_id").as("pp"), col("neighbor_id").as("pn"))
      brute.join(prefix,
          col("probe_id") === col("pp") && col("neighbor_id") === col("pn"),
          "left_outer")
        .groupBy("probe_id")
        .agg(round(count(col("pn")) / 5.0, 4).as("recall"))
        .orderBy("probe_id")
    }),

    // deterministic leakage-free train/val/test split: membership is a
    // pure function of the portable doc-id hash (top-12-bit bucket,
    // ~80/10/10), so re-runs and late-arriving shards land each doc in
    // the SAME split with no coordination — plus the per-split profile
    "corpus_split" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val h = call_function("graft_hash64", col("doc_id").cast("string"), lit(7L))
      Tables.documents(s, dir)
        .withColumn("bucket", shiftrightunsigned(h, 52))
        .withColumn("split",
          when(col("bucket") < 3277, "train")
            .when(col("bucket") < 3686, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          count_distinct(col("source")).as("n_sources"))
        .orderBy("split")
    }),

    // SPLIT-LEAKAGE AUDIT: near-duplicate pairs must not straddle
    // train/val/test. Two assignment schemes over the SAME converged
    // dup families: 'naive' hashes each doc_id (the corpus_split rule —
    // a near-dup of a train doc can land in test), 'family' hashes the
    // family root, so every member of a duplicate family rides
    // together and its leaky-pair count is structurally zero. One
    // cluster pass (shared with dedup_cluster), then per-scheme
    // bounded aggregates; the leak check joins the verified pair list
    // (already bounded by the dedup blocking) against the tiny
    // (doc → split) map twice on doc ids — no new pair space.
    "split_leakage" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val pairs = CorpusArtifacts.nearDupPairs(s, dir).select("id1", "id2")
      val clusters = CorpusArtifacts.nearDupClusters(s, dir)
      def splitOf(c: Column): Column = {
        val b = shiftrightunsigned(
          call_function("graft_hash64", c.cast("string"), lit(7L)), 52)
        when(b < 3277, "train").when(b < 3686, "val").otherwise("test")
      }
      def audit(assign: DataFrame, scheme: String): DataFrame = {
        val counts = assign.agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
        val leaks = pairs
          .join(assign.select(col("doc_id").as("id1"), col("split").as("s1")), "id1")
          .join(assign.select(col("doc_id").as("id2"), col("split").as("s2")), "id2")
          .agg(coalesce(sum(when(col("s1") =!= col("s2"), 1L).otherwise(0L)), lit(0L))
            .as("leaky_pairs"))
        Scalars.withScalar(counts, col("n_train"), leaks, col("leaky_pairs"))
          .select(lit(scheme).as("scheme"), col("n_train"), col("n_val"),
            col("n_test"), col("leaky_pairs"))
      }
      audit(clusters.select(col("doc_id"), splitOf(col("doc_id")).as("split")), "naive")
        .unionByName(
          audit(clusters.select(col("doc_id"), splitOf(col("cluster_id")).as("split")),
            "family"))
        .orderBy("scheme")
    }),

    // TOKEN-BUDGET SELECTION: per source, take the highest-quality docs
    // until a char budget is exhausted (the doc that crosses the line
    // is kept — greedy prefix). The per-source exclusive running sum
    // goes through Rank.perGroupRunningSum — the (source, blk)
    // two-level cumsum — because a Window.partitionBy("source") is ONE
    // task per source over the whole candidate table at corpus scale.
    "corpus_select_budget" -> ((s, dir) => {
      val budget = 25000L
      val d = Tables.documents(s, dir)
      val q = TextAnalysis.quality(d)
        .join(d.select("doc_id", "source"), "doc_id")
      graft.ops.Rank.perGroupRunningSum(
          q.select("doc_id", "source", "n_chars", "quality_score"),
          "source", "n_chars",
          Seq(col("quality_score").desc, col("doc_id")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("prior") < budget, 1L).otherwise(0L)).as("n_selected"),
          sum(when(col("prior") < budget, col("n_chars")).otherwise(0L))
            .as("chars_selected"))
        .orderBy("source")
    }),

    // the budget selection at LANDING cadence: per-batch (source,
    // qs_u4) histogram folds + a compact per-doc metadata store;
    // emission re-derives the greedy cut from the bounded histogram
    // and resolves the one crossing bucket per source exactly —
    // converges to corpus_select_budget row for row (shared oracle)
    "stream_select_budget" -> ((s, dir) =>
      graft.streaming.EventStreams.budgetSelectIngest(s, dir)),

    // the curriculum shard plan at LANDING cadence: per-batch global
    // qu4 histogram folds + the per-doc metadata store; emission
    // re-derives the equal-count shard cut by bucket-span algebra and
    // resolves only the ≤ 7 boundary-straddling buckets per doc —
    // converges to corpus_curriculum row for row (shared oracle)
    "stream_curriculum_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.curriculumIngest(s, dir)),

    // the token-mass cut at LANDING cadence: same folded stores, the
    // emission cut moves to the bucket TOKEN spans; boundary buckets
    // resolve per doc through the two-level token prefix — converges
    // to corpus_curriculum_tokens row for row (shared oracle)
    "stream_curriculum_tokens" -> ((s, dir) =>
      graft.streaming.EventStreams.curriculumTokensIngest(s, dir)),

    // END-TO-END CAPSTONE: the whole ingest funnel in ONE plan —
    // raw → exact dedup → near-dup family collapse → quality gate →
    // per-source budget selection → eval decontamination →
    // leakage-safe train split — with one accounting row per stage.
    // Each stage consumes the PREVIOUS stage's survivors (the near-dup
    // DF cap, the budget window, the contamination check and the split
    // see the already-reduced corpus, as a real run would), and each
    // survivor set is checkpointed once so the seven accounting
    // aggregates never re-execute the upstream chain. This is the
    // operator a user actually schedules; the per-stage counts are the
    // run's audit log.
    "pipeline_e2e" -> ((s, dir) => {
      // raw + exact-dedup stages from the shared capstone prelude
      // (one build serves pipeline_e2e/v2/v4 — see CapstonePrelude)
      val (docs, s1) = CapstonePrelude.base(s, dir)
      // the family table is reused by BOTH stage 2 (root filter) and
      // stage 6 (family-root split hash) — checkpoint once
      val clusters = CapstonePrelude.families(s1).once("pipeline_e2e.clusters")
      val s2 = FunnelStore.familyRoots(s1, clusters)
      val s3 = FunnelStore.textQuality(s2)
        .filter(col("quality_score") >= 0.5)
        .once("pipeline_e2e.s3")
      val s4 = FunnelStore.budget(s3, "quality_score")
      // stage 5: eval decontamination — the selected docs are shingle-
      // checked against the eval stand-ins; containment ≥ 0.5 is cut
      val s5 = FunnelStore.decontam(s4, docs)
      // stage 6: leakage-safe split — hash the doc's FAMILY ROOT
      // (cluster_id from stage 2); the train share is what actually
      // ships to training
      val s6 = FunnelStore.splitTrain(s5, clusters)
      val text = length(col("text"))
      FunnelStore.acct(0, "raw", docs, text)
        .unionByName(FunnelStore.acct(1, "exact_dedup", s1, text))
        .unionByName(FunnelStore.acct(2, "near_dedup", s2, text))
        .unionByName(FunnelStore.acct(3, "quality", s3, col("n_chars")))
        .unionByName(FunnelStore.acct(4, "budget", s4, col("n_chars")))
        .unionByName(FunnelStore.acct(5, "decontam", s5, col("n_chars")))
        .unionByName(FunnelStore.acct(6, "split_train", s6, col("n_chars")))
        .withColumn("stage_idx", col("stage_idx").cast("int")) // v1's INT schema
        .orderBy("stage_idx")
    }),

    // THE CAPSTONE, r14 edition (VERDICT r13 item 1): the funnel now
    // consumes what r13 built. Two stages join the v1 chain — TRUE
    // substring dedup (stage 2: Suffix.dupSpanStats over the
    // exact-dedup survivors; a doc dominated by duplicated spans —
    // coverage > 20%, i.e. 5·dup_tokens > n_tokens — is dropped, the
    // Lee-et-al doc-level deploy rule; it runs BEFORE the family
    // collapse because that is where substring duplication lives —
    // measured: after near-dedup this corpus has ZERO duplicated
    // 16-grams left, and the FineWeb/RefinedWeb order is
    // substring-level first, fuzzy doc-level after) and the LEARNED
    // quality gate run ALONGSIDE the rule gate (stage 4 survivors
    // still follow the rule — the conservative deploy — while the
    // frozen full-corpus quality_clf perceptron scores the same
    // population and the 4 rule×clf agreement cells are emitted as
    // audit rows 8..11, always present even when empty). Stage
    // accounting schema is v1's (stage_idx, stage, n_docs, sum_chars),
    // stage_idx BIGINT.
    "pipeline_e2e_v2" -> ((s, dir) => {
      // raw → exact dedup → substring survivors → families, and the
      // per-doc gate input and classifier margins over s2, from the
      // shared capstone prelude (one build serves v2/v4/v3-fast-path)
      val pre = CapstonePrelude.overlapped(s, dir)
      val (docs, s1, s2) = (pre.docs, pre.s1, pre.s2)
      // stage 3: near-dup family collapse over the substring survivors,
      // as their per-doc rows (n_chars is the text length)
      val s3 = FunnelStore.familyRoots(pre.perDoc, pre.clusters)
      // stage 4: rule gate; the frozen learned gate scores the SAME
      // population for the agreement audit
      val s4 = s3.filter(col("quality_score") >= 0.5)
        .once("pipeline_e2e_v2.s4")
      // stages 5-7: v1's budget selection, decontamination, family split
      val s5 = FunnelStore.budget(s4, "quality_score")
      val s6 = FunnelStore.decontam(s5, docs)
      val s7 = FunnelStore.splitTrain(s6, pre.clusters)
      val text = length(col("text"))
      FunnelStore.acct(0, "raw", docs, text)
        .unionByName(FunnelStore.acct(1, "exact_dedup", s1, text))
        .unionByName(FunnelStore.acct(2, "substring_dedup", s2, text))
        .unionByName(FunnelStore.acct(3, "near_dedup", s3, col("n_chars")))
        .unionByName(FunnelStore.acct(4, "quality", s4, col("n_chars")))
        .unionByName(FunnelStore.acct(5, "budget", s5, col("n_chars")))
        .unionByName(FunnelStore.acct(6, "decontam", s6, col("n_chars")))
        .unionByName(FunnelStore.acct(7, "split_train", s7, col("n_chars")))
        .unionByName(FunnelStore.agreement(s3, 8))
        .orderBy("stage_idx")
    }),

    // the capstone funnel v3 (r14): v2 plus the selection layer the
    // round added — a PII QUARANTINE stage first (docs with any
    // email/IPv4/phone match are routed out of the training funnel —
    // the drop policy, not in-place redaction, so every downstream
    // stage still sees verbatim text; on this corpus the quarantine is
    // provably empty, which the stage row asserts through the gate),
    // and a DSIR SELECTION stage between the quality gate and the
    // per-source budget: the ratio table trains on the quality
    // survivors themselves (target = their labeled-English slice) and
    // keeps the top half by (round-4 score, doc_id) global rank — the
    // budget then competes over target-shifted docs. Stage indices:
    // 0 raw, 1 pii_scrub, 2 exact, 3 substring, 4 near, 5 quality,
    // 6 dsir_select, 7 budget, 8 decontam, 9 split_train,
    // 10-13 rule×clf gate agreement.
    "pipeline_e2e_v3" -> ((s, dir) => {
      import graft.ops.TextAnalysis.{PiiEmailRe, PiiIpRe, PiiPhoneRe}
      val docs = Tables.documents(s, dir)
        .select("doc_id", "text", "source", "lang")
        .once("pipeline_e2e_v3.docs")
      val pii = regexp_count(col("text"), lit(PiiEmailRe)) +
        regexp_count(col("text"), lit(PiiIpRe)) +
        regexp_count(col("text"), lit(PiiPhoneRe))
      val s0 = docs.filter(pii === 0)
      // quarantine emptiness is one short-circuiting job; when NOTHING
      // drops, the dedup chain downstream is BY CONSTRUCTION v2's over
      // the same corpus (ScaleOpsSpec pins v3 stages 2-5 == v2 stages
      // 1-4), so the shared overlapped prelude substitutes for a
      // private rebuild — adaptive reuse, exact by the emptiness check.
      // Otherwise the same stage functions run over the quarantine
      // survivors (a row subset of the corpus, as substringSurvivors
      // requires)
      val pre =
        if (docs.filter(pii > 0).isEmpty) CapstonePrelude.overlapped(s, dir)
        else {
          val p1 = CapstonePrelude.exactDedup(s0).once("pipeline_e2e_v3.p1")
          val p2 = CapstonePrelude.substringSurvivors(s, dir, p1)
            .once("pipeline_e2e_v3.p2")
          CapstonePrelude.Prelude(docs, p1, p2,
            CapstonePrelude.families(p2).once("pipeline_e2e_v3.p22"),
            CapstonePrelude.perDoc(p2, CapstonePrelude.clfFull(s, dir)._2))
        }
      val (s1, s2, clusters) = (pre.s1, pre.s2, pre.clusters)
      // the family roots' per-doc rows: the gate filter AND the
      // agreement rollup
      val s3 = FunnelStore.familyRoots(pre.perDoc, clusters)
      val s4 = s3.filter(col("quality_score") >= 0.5)
        .once("pipeline_e2e_v3.s4") // feeds the DSIR train AND the join back
      val ranked = graft.ops.Select.dsirRanked(
        s4.select("doc_id").join(docs, "doc_id")
          .select("doc_id", "lang", "text"))
      val nS4 = s4.agg(count(lit(1)).as("n_s4"))
      val s45 = Scalars.withScalar(ranked, col("doc_id"), nS4, col("n_s4"))
        .filter(col("rnk") <= expr("n_s4 div 2")).select("doc_id")
        .join(s4, "doc_id")
        .once("pipeline_e2e_v3.s45")
      val s5 = FunnelStore.budget(s45, "quality_score")
      val s6 = FunnelStore.decontam(s5, docs)
      val s7 = FunnelStore.splitTrain(s6, clusters)
      val text = length(col("text"))
      FunnelStore.acct(0, "raw", docs, text)
        .unionByName(FunnelStore.acct(1, "pii_scrub", s0, text))
        .unionByName(FunnelStore.acct(2, "exact_dedup", s1, text))
        .unionByName(FunnelStore.acct(3, "substring_dedup", s2, text))
        .unionByName(FunnelStore.acct(4, "near_dedup", s3, col("n_chars")))
        .unionByName(FunnelStore.acct(5, "quality", s4, col("n_chars")))
        .unionByName(FunnelStore.acct(6, "dsir_select", s45, col("n_chars")))
        .unionByName(FunnelStore.acct(7, "budget", s5, col("n_chars")))
        .unionByName(FunnelStore.acct(8, "decontam", s6, col("n_chars")))
        .unionByName(FunnelStore.acct(9, "split_train", s7, col("n_chars")))
        .unionByName(FunnelStore.agreement(s3, 10))
        .orderBy("stage_idx")
    }),

    // the capstone funnel v4 (r15, VERDICT r14 item 5): WEIGHT-AWARE
    // selection — SoftDeDup's down-weight-instead-of-remove philosophy
    // wired into the budget stage, run SIDE BY SIDE with v2's hard
    // family collapse so the audit table shows exactly what the policy
    // choice costs. Shared prefix: raw → exact dedup → substring dedup
    // (rows 0-2, v2 verbatim). HARD branch (rows 3-5): near-dup family
    // collapse → rule quality gate → char-budget window ordered by
    // quality. SOFT branch (rows 6-7): NO collapse — every substring
    // survivor keeps its dedup_soft_weights sampling weight (1/mean
    // gram DF over the SAME survivor population, half-up u4; gram-free
    // docs are neutral 10⁴), the rule gate runs on the uncollapsed
    // set, and the budget window orders by the INTEGER priority
    // qu4 × weight_u4 (quality × 1/commonness — exact in both
    // engines, no float boundary) with a doc_id tiebreak. Row 8:
    // the overlap of the two selected sets — the head-to-head readout.
    "pipeline_e2e_v4" -> ((s, dir) => {
      // shared prelude: raw → exact dedup → substring survivors (both
      // branches consume the survivors) and their families; its
      // per-doc quality over the substring survivors — the hard branch
      // filters it post-collapse, the soft branch directly (the
      // classifier margins in those rows go unread here)
      val pre = CapstonePrelude.overlapped(s, dir)
      val (docs, s1, s2, q) = (pre.docs, pre.s1, pre.s2, pre.perDoc)
      // HARD: v2's family collapse (the shared artifact) + rule gate +
      // quality-ordered budget
      val s3h = FunnelStore.familyRoots(q, pre.clusters)
      val s4h = s3h.filter(col("quality_score") >= 0.5)
        .once("pipeline_e2e_v4.s4h")
      val s5h = FunnelStore.budget(s4h, "quality_score")
      // SOFT: the dedup_soft_weights algebra over the same survivors
      // each gram's DF is a window over the one pass of the exploded
      // grams, so they need no checkpoint for two readers (PlanBarrier)
      val per = Dedup.shingleSets(s2.select("doc_id", "text"), 8)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("df").as("sum_df"))
      val swt = s2.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(coalesce(col("n_grams"), lit(0L)) > 0,
            expr("(2*10000*n_grams + sum_df) div (2*sum_df)"))
            .otherwise(lit(10000L)).as("weight_u4"))
      val s4s = q.filter(col("quality_score") >= 0.5)
        .withColumn("qu4",
          round(col("quality_score") * 10000).cast("bigint"))
        .join(swt, "doc_id")
        .withColumn("prio", col("qu4") * col("weight_u4"))
        .once("pipeline_e2e_v4.s4s")
      val s5s = FunnelStore.budget(s4s, "prio")
      val overlap = s5s.join(s5h.select("doc_id"), "doc_id")
      val text = length(col("text"))
      FunnelStore.acct(0, "raw", docs, text)
        .unionByName(FunnelStore.acct(1, "exact_dedup", s1, text))
        .unionByName(FunnelStore.acct(2, "substring_dedup", s2, text))
        .unionByName(FunnelStore.acct(3, "hard_near_dedup", s3h, col("n_chars")))
        .unionByName(FunnelStore.acct(4, "hard_quality", s4h, col("n_chars")))
        .unionByName(FunnelStore.acct(5, "hard_budget", s5h, col("n_chars")))
        .unionByName(FunnelStore.acct(6, "soft_quality", s4s, col("n_chars")))
        .unionByName(FunnelStore.acct(7, "soft_budget", s5s, col("n_chars")))
        .unionByName(FunnelStore.acct(8, "overlap_budget", overlap, col("n_chars")))
        .orderBy("stage_idx")
    }),

    // deterministic stratified sample: the k smallest doc_ids per
    // language, via the shared two-phase top-k (see graft.ops.TopK for
    // the hot-partition rationale and the superset invariant)
    // allocation PLANNING ahead of the quota realizers: Neyman-optimal
    // n_h ∝ N_h·S_h vs proportional n_h ∝ N_h, both by integer
    // largest-remainder so the budget lands exactly
    "sample_neyman" -> ((s, dir) =>
      graft.ops.Sampling.neymanAlloc(Tables.events(s, dir),
          col("event_type"), Exact.cents(col("value")), budget = 1000L)
        .orderBy("stratum")),

    "sample_stratified" -> ((s, dir) =>
      graft.ops.TopK.perGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          groupCols = Seq(col("lang")), orderCols = Seq(col("doc_id")), k = 20)
        .select("doc_id", "lang", "rn")
        .orderBy("lang", "rn")),

    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir))
        .withColumn("n_tokens", col("n_tokens").cast("bigint"))
        .withColumn("n_uniq", col("n_uniq").cast("bigint"))
        .orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir))
        .withColumn("n_chars", col("n_chars").cast("bigint"))
        .withColumn("n_tokens", col("n_tokens").cast("bigint"))
        .orderBy("doc_id")),

    // LEARNED quality filter, training audit (VERDICT r12 item 5; the
    // DCLM/fastText pattern): full-batch integer perceptron over
    // 256-bucket hashed bag-of-words (QualityClf.train's defaults),
    // distilled from the rule-based filter chain's keep bit, eight
    // deterministic rounds — one audit row per round (n_misclassified
    // before the update, weight l1 + bias after it). The oracle
    // replays the ENTIRE optimization round by round.
    "quality_clf_train" -> ((s, dir) =>
      CapstonePrelude.clfFull(s, dir)._1),

    // the trained gate applied corpus-wide, read out as the agreement
    // matrix against its rule-based teacher — the go/no-go table before
    // a learned filter replaces rules in the funnel
    "quality_clf_score" -> ((s, dir) =>
      graft.ops.QualityClf.scoreAgreementWith(Tables.documents(s, dir),
        CapstonePrelude.clfFull(s, dir)._2)),

    // the learned gate at LANDING cadence: model frozen at generation 1
    // (the ann_ivf_append convention applied to the classifier), each
    // arriving shard scored inside foreachBatch against the broadcast
    // weight table, only the 4-cell agreement counters as state
    "stream_quality_score" -> ((s, dir) =>
      graft.streaming.EventStreams.qualityScoreIngest(s, dir)),

    // FLESCH READABILITY HISTOGRAM — the curation signal text_quality's
    // length/punct ratios don't carry: sentence and syllable structure.
    // All three per-doc counts are single regexp_counts over one scan
    // (words = [a-z0-9]+ runs — exactly len of the shared token split;
    // sentences = [.!?]+ runs, floored at 1; syllables = [aeiouy]+
    // vowel-group runs, the standard heuristic — vowel-less tokens
    // contribute 0 by documented choice), and the Flesch score
    // 206.835 − 1.015·w/s − 84.6·syll/w runs entirely in ×10³ integer
    // half-up divisions — no float surface. Emission is the bounded
    // 7-band histogram (0: <30 … 6: ≥90) with per-band integer means.
    "text_readability" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        regexp_count(lower(col("text")), lit("[a-z0-9]+")).cast("long").as("w"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L)).as("sn"),
        regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long").as("sy"))
      val sc = d.select(expr(
        "206835 - (2 * 1015 * w + sn) div (2 * sn)" +
          " - (2 * 84600 * sy + greatest(w, 1)) div (2 * greatest(w, 1))")
        .as("score_m3"))
      sc.select(col("score_m3"), expr(
          "CASE WHEN score_m3 < 30000 THEN 0 WHEN score_m3 < 50000 THEN 1" +
            " WHEN score_m3 < 60000 THEN 2 WHEN score_m3 < 70000 THEN 3" +
            " WHEN score_m3 < 80000 THEN 4 WHEN score_m3 < 90000 THEN 5" +
            " ELSE 6 END").cast("long").as("band"))
        .groupBy("band").agg(count(lit(1)).as("n_docs"),
          sum("score_m3").as("ssum"),
          min("score_m3").as("min_score_m3"),
          max("score_m3").as("max_score_m3"))
        .select(col("band"), col("n_docs"),
          expr("ssum div n_docs").as("mean_score_m3"),
          col("min_score_m3"), col("max_score_m3"))
        .orderBy("band")
    }),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          col("en_hits").cast("bigint"), col("es_hits").cast("bigint"),
          col("fr_hits").cast("bigint"), col("de_hits").cast("bigint"),
          col("zh_hits").cast("bigint"), col("predicted"), col("is_match").cast("bigint").as("is_match"))
        .orderBy("doc_id")),

    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir)).orderBy("doc_id")),

    // LANGUAGE-ID CONFUSION MATRIX: the classifier-trust audit for the
    // n-gram heuristic — per (labeled, predicted) cell counts with the
    // row-normalized share in §5 half-up u4 units. One scoring pass
    // (per-row map), one tiny groupBy, broadcast row totals: the
    // diagonal is langid's per-language recall, off-diagonals say
    // WHICH languages leak into which.
    "text_langid_confusion" -> ((s, dir) => {
      val cell = TextAnalysis.langId(Tables.documents(s, dir))
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .once("text_langid_confusion.cell") // feeds the totals AND the cells
      val tot = cell.groupBy("lang").agg(sum("n").as("n_lang"))
      cell.join(broadcast(tot), "lang")
        .withColumn("share_u4", expr("(2*10000L*n + n_lang) div (2*n_lang)"))
        .select("lang", "predicted", "n", "n_lang", "share_u4")
        .orderBy("lang", "predicted")
    }),

    "text_filter_chain" -> ((s, dir) =>
      TextAnalysis.filterChain(Tables.documents(s, dir)).orderBy("doc_id")),

    // DICTIONARY-ENCODING SIZING AUDIT — the codec-choice companion to
    // index_varint_audit: per string column, would a dictionary page
    // (distinct values once + fixed-width indexes sized by the
    // cardinality) beat plain encoding? lang (5 values) and source
    // (20) should win big; text (unique long strings) must come out
    // NEGATIVE — a dictionary there stores everything twice, and an
    // audit that can't say so is useless. One scan via a stacked
    // (column, value) explode, two rollups; the signed ×10⁴ savings
    // negates a nonnegative truncating division so Spark div and
    // DuckDB // agree on negative results.
    "layout_dict_audit" -> ((s, dir) => {
      val cols = Seq("lang", "source", "text")
      val kv = Tables.documents(s, dir)
        .select(explode(array(cols.map(c =>
          struct(lit(c).as("col_name"), col(c).as("v"))): _*)).as("p"))
        .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
      kv.groupBy("col_name", "v").agg(count(lit(1)).as("n"))
        .withColumn("vlen", expr("octet_length(v)").cast("long"))
        .groupBy("col_name")
        .agg(sum("n").as("n_rows"), count(lit(1)).as("n_distinct"),
          sum(expr("n * vlen")).as("plain_bytes"),
          sum("vlen").as("dict_val_bytes"))
        .withColumn("idx_bytes", expr(
          "CASE WHEN n_distinct <= 256 THEN 1 WHEN n_distinct <= 65536 THEN 2" +
            " WHEN n_distinct <= 16777216 THEN 3 ELSE 4 END"))
        .withColumn("dict_bytes",
          expr("dict_val_bytes + n_rows * idx_bytes"))
        .select(col("col_name"), col("n_rows"), col("n_distinct"),
          col("plain_bytes"), col("dict_bytes"),
          expr("CASE WHEN plain_bytes >= dict_bytes" +
            " THEN (plain_bytes - dict_bytes) * 10000 div plain_bytes" +
            " ELSE -((dict_bytes - plain_bytes) * 10000 div plain_bytes)" +
            " END").as("savings_u4"))
        .orderBy("col_name")
    }),

    // TRUNCATION-LOSS REPORT — the cheap alternative seq_pack exists
    // to beat, measured: if docs are simply CUT at a context budget
    // (128/512/2048 tokens) instead of packed, how many docs lose
    // tail tokens and what share of the corpus token mass is thrown
    // away? ONE conditional aggregation over the per-doc token counts
    // answers all three budgets (the heaps-curve trick); ×10⁶ loss
    // share; pure BIGINT.
    "seq_truncate_loss" -> ((s, dir) => {
      val budgets = Seq(128L, 512L, 2048L)
      val nt = Tables.documents(s, dir)
        .select(size(Dedup.tokens(col("text"))).cast("long").as("nt"))
      val aggs = budgets.flatMap(b => Seq(
        sum(when(col("nt") > b, 1L).otherwise(0L)).as(s"d$b"),
        sum(when(col("nt") > b, col("nt") - b).otherwise(0L)).as(s"l$b")))
      val base = nt.agg(count(lit(1)).as("n_docs"),
        (aggs :+ sum("nt").as("tokens_total")): _*)
      base.select(explode(array(budgets.map(b => struct(
          lit(b).as("max_len"), col("n_docs"),
          col(s"d$b").as("n_docs_truncated"), col("tokens_total"),
          col(s"l$b").as("tokens_lost"))): _*)).as("r"))
        .select(col("r.max_len").as("max_len"), col("r.n_docs").as("n_docs"),
          col("r.n_docs_truncated").as("n_docs_truncated"),
          col("r.tokens_total").as("tokens_total"),
          col("r.tokens_lost").as("tokens_lost"))
        .withColumn("loss_u6",
          expr("tokens_lost * 1000000 div nullif(tokens_total, 0)"))
        .orderBy("max_len")
    }),

    // HEAPS'-LAW VOCABULARY GROWTH CURVE — vocabulary size at 7
    // doc_id-ordered corpus prefixes (1..100%), the sublinear-growth
    // evidence (V ∝ nᵝ, β<1) that sizes tokenizer vocab budgets and
    // says when a crawl stops paying for itself; the growth-axis
    // companion to text_zipf's frequency axis. The key trick: a term's
    // membership in EVERY prefix is decided by its FIRST doc_id alone,
    // so one groupBy(min) pass + ONE conditional aggregation answers
    // all 7 prefixes — no per-prefix rescan, no theta join, no global
    // window. Cutoffs derive from the max-id scalar under the 1-row
    // withScalar contract; pure BIGINT throughout.
    "text_heaps_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pcts = Seq(1L, 2L, 5L, 10L, 25L, 50L, 100L)
      val n = docs.agg((max("doc_id") + 1).as("n_ids"))
      val first = docs
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy("w").agg(min("doc_id").as("first_doc"))
      val docTok = docs.select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("long").as("nt"))
      def cutHit(idCol: String, p: Long) =
        expr(s"$idCol < (n_ids * $p) div 100")
      val vCols = pcts.map(p =>
        sum(when(cutHit("first_doc", p), 1L).otherwise(0L)).as(s"v$p"))
      val vagg = Scalars.withScalar(first, col("first_doc"), n, col("n_ids"))
        .agg(vCols.head, vCols.tail: _*)
      val dCols = pcts.flatMap(p => Seq(
        sum(when(cutHit("doc_id", p), 1L).otherwise(0L)).as(s"d$p"),
        sum(when(cutHit("doc_id", p), col("nt")).otherwise(0L)).as(s"t$p")))
      val dagg = Scalars.withScalar(docTok, col("doc_id"), n, col("n_ids"))
        .agg(dCols.head, dCols.tail: _*)
      Scalars.withScalar(dagg, col("d1"), vagg, col("v1"))
        .select(explode(array(pcts.map(p => struct(
          lit(p).as("pct"), col(s"d$p").as("n_docs"),
          col(s"t$p").as("n_tokens"), col(s"v$p").as("vocab"))): _*)).as("r"))
        .select(col("r.pct").as("pct"), col("r.n_docs").as("n_docs"),
          col("r.n_tokens").as("n_tokens"), col("r.vocab").as("vocab"))
        .orderBy("pct")
    }),

    // CHI-SQUARE TERM–LANGUAGE ASSOCIATION (the classic feature-
    // selection statistic, Yang & Pedersen 1997) — the top-3 most
    // language-discriminative terms per language, the evidence layer
    // under text_langid's heuristic: which words actually separate the
    // label classes. Per (term, lang) the 2×2 document contingency is
    // (A=df in lang, B=df elsewhere, C=lang docs without, D=rest), and
    // chi² = N(AD−BC)²/((A+B)(C+D)(A+C)(B+D)) is computed ENTIRELY in
    // DECIMAL(38,0) integer arithmetic, emitted ×10⁴ (no float — the
    // monotone integer transform doctrine). Postings are one
    // explode→distinct; df ≥ 5 min-support; per-lang totals broadcast;
    // N under the 1-row withScalar contract; top-3 via TopK.perGroup —
    // the lang key is low-cardinality, so each partition would hold
    // that language's WHOLE postings vocabulary; the rank-limit-
    // pushdown shape prunes every input partition to its local top-3
    // map-side before the exchange.
    "text_chi2_terms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val post = docs
        .select(explode(Dedup.tokens(col("text"))).as("term"),
          col("doc_id"), col("lang"))
        .distinct()
        .shared("text_chi2_terms.post") // feeds per-(term,lang) cells AND per-term dfs
      val cell = post.groupBy("term", "lang").agg(count(lit(1)).as("a"))
      val df = post.groupBy("term").agg(count(lit(1)).as("df"))
        .where(col("df") >= 5)
      val lc = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = Scalars.withScalar(
          cell.join(df, "term").join(broadcast(lc), "lang"),
          col("a"), n, col("n_docs"))
        // a term in EVERY doc (df=N) or a one-language corpus (n_lang=N)
        // zeroes the denominator — both mean "no discrimination", so the
        // nullif/coalesce pins chi² to 0 instead of dividing by zero
        .withColumn("chi2_u4", expr(
          """coalesce(CAST(n_docs AS DECIMAL(38,0))
            | * (CAST(a AS DECIMAL(38,0)) * (n_docs - n_lang - df + a)
            |    - CAST(df - a AS DECIMAL(38,0)) * (n_lang - a))
            | * (CAST(a AS DECIMAL(38,0)) * (n_docs - n_lang - df + a)
            |    - CAST(df - a AS DECIMAL(38,0)) * (n_lang - a))
            | * 10000
            | div nullif(CAST(df AS DECIMAL(38,0)) * (n_docs - df)
            |      * CAST(n_lang AS DECIMAL(38,0)) * (n_docs - n_lang), 0), 0)"""
            .stripMargin))
      TopK.perGroup(scored, Seq(col("lang")),
          Seq(col("chi2_u4").desc, col("term")), k = 3, rankName = "rk")
        .select(col("lang"), col("rk"), col("term"), col("a").as("df_in_lang"),
          col("df"), col("chi2_u4"))
        .orderBy("lang", "rk")
    }),

    // PACKING SWEEP: sequence-packing efficiency at 512/1024/2048
    // token budgets — bins, boundary-split docs, and fill rate — all
    // from ONE two-level prefix-sum pass (cum_before is independent of
    // the budget, so the sweep is a constant-fan-out explode over the
    // checkpointed cumsum, not three packing runs). All membership
    // arithmetic is integer division.
    "seq_pack_sweep" -> ((s, dir) => {
      val p = graft.ops.Pack.sequencePack(Tables.documents(s, dir))
        .select("doc_id", "n_tokens", "cum_before")
      p.select(col("n_tokens"), col("cum_before"),
          explode(array(lit(512L), lit(1024L), lit(2048L))).as("max_tokens"))
        .groupBy("max_tokens")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          sum(when(col("n_tokens") > 0 &&
              expr("cum_before div max_tokens") =!=
              expr("(cum_before + n_tokens - 1) div max_tokens"), 1L)
            .otherwise(0L)).as("n_docs_split"))
        .withColumn("n_bins",
          expr("(total_tokens + max_tokens - 1) div max_tokens"))
        .withColumn("split_rate", col("n_docs_split") / col("n_docs"))
        .withColumn("fill_rate",
          col("total_tokens") / (col("n_bins") * col("max_tokens")))
        .orderBy("max_tokens")
    }),

    // FILTER FUNNEL: stage-by-stage survival through the quality gate
    // chain — which rule actually costs the corpus its volume. Each
    // doc reduces to its FIRST failing stage (one per-row map), the
    // 4-stage explode is constant fan-out, and the report is one
    // 4-key aggregation. The drop accounting is exact: n_dropped at
    // stage k counts docs whose first failure is k, so stages sum to
    // the total drop.
    "corpus_filter_funnel" -> ((s, dir) => {
      val ff = TextAnalysis.quality(Tables.documents(s, dir)).select(
        when(col("n_tokens") < 20, 1)
          .when(col("dup_ratio") > 0.6, 2)
          .when(col("stopword_ratio") === 0.0, 3)
          .when(col("quality_score") < 0.75, 4)
          .otherwise(5).as("first_fail"))
      ff.select(col("first_fail"),
          explode(sequence(lit(1), lit(4))).as("stage"))
        .groupBy("stage")
        .agg(
          sum(when(col("first_fail") >= col("stage"), 1L).otherwise(0L)).as("n_in"),
          sum(when(col("first_fail") === col("stage"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("first_fail") > col("stage"), 1L).otherwise(0L)).as("n_out"))
        .select(col("stage").cast("bigint").as("stage"),
          when(col("stage") === 1, "too_short")
            .when(col("stage") === 2, "too_repetitive")
            .when(col("stage") === 3, "no_stopwords")
            .otherwise("low_score").as("rule"),
          col("n_in"), col("n_dropped"), col("n_out"),
          (col("n_dropped") / col("n_in")).as("drop_rate"))
        .orderBy("stage")
    }),

    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)).orderBy("doc_id")),

    // corpus-trained word-bigram LM score (the CCNet-style quality
    // signal): add-1-smoothed avg negative log-likelihood of each
    // doc under the corpus's own bigram counts. The LM itself is
    // BOUNDED state (vocab² at worst, vocab ~ corpus token types):
    // counts aggregate with map-side partials, the scalar vocab size
    // attaches via withScalar, and scoring is one broadcast join of
    // the doc-side bigram stream against the count table — raw text
    // never shuffles, and the plan holds as the corpus (not the
    // vocabulary) grows.
    "text_perplexity" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val bg = toks.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w)-1), i -> named_struct('w1', w[i-1], 'w2', w[i]))")).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .shared("text_perplexity.bg") // feeds the counts AND the scoring join
      val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
      val c1  = bg.groupBy("w1").agg(count(lit(1)).as("n1"))
      val v   = toks.select(explode(col("w")).as("u"))
        .agg(countDistinct("u").as("vocab"))
      val lm = graft.ops.Scalars.withScalar(
        c12.join(c1, "w1"), col("n12"), v, col("vocab"))
      bg.join(broadcast(lm), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log((col("n12") + lit(1.0)) / (col("n1") + col("vocab")))), 4)
            .as("avg_nll"))
        .orderBy("doc_id")
    }),

    // decontamination: docs >= 25 are the training corpus, docs < 25
    // stand in for the benchmark/eval set (the testdata's planted
    // near-dups cross that boundary, so real hits exist)
    "contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ops.Contamination.check(
        d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25),
        n = 3, threshold = 0.5)
        .orderBy("doc_id")
    }),

    // span-level escalation: the longest matched token run per
    // contaminated doc — the offsets a decontamination pass cuts
    "contamination_spans" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // lower review threshold than check(): span reporting is the
      // human-inspection pass, so partial matches are in scope too
      graft.ops.Contamination.spans(
        d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25),
        n = 3, threshold = 0.1)
        .orderBy("doc_id")
    }),

    // systematic PPS (probability-proportional-to-size) sample: a doc is
    // taken iff its [cum_before, cum_before + n_tokens) token interval
    // contains a multiple of the stride — inclusion probability ∝ token
    // count, fully deterministic, built on the same two-level prefix sum
    // as seq_pack (no random state to reconcile across engines)
    "sample_weighted" -> ((s, dir) => {
      val stride = 512L
      graft.ops.Pack.sequencePack(Tables.documents(s, dir))
        .filter(expr(s"(cum_before + n_tokens) div ${stride}L") >
                expr(s"cum_before div ${stride}L"))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // bin-level packing summary; the per-doc assignment is Pack.sequencePack
    "seq_pack" -> ((s, dir) =>
      graft.ops.Pack.sequencePack(Tables.documents(s, dir), maxTokens = 2048L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
        .orderBy("bin")),

    // BPE-ish subword-style tokenization (contraction suffixes, letter
    // runs, digit runs, punctuation runs) vs plain word tokens
    "text_bpe" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(lower(col("text")),
          lit("'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0)))
          .cast("bigint").as("n_bpe"),
        size(graft.ops.Dedup.tokens(col("text"))).cast("bigint").as("n_words"))
        .withColumn("bpe_per_word",
          round(col("n_bpe").cast("double") / nullif(col("n_words"), lit(0)), 4))
        .orderBy("doc_id")),

    "mm_binary_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(Tables.documents(s, dir))
        .withColumn("n_bytes", col("n_bytes").cast("bigint"))
        .orderBy("doc_id")),

    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir), frameSize = 64, stride = 4)
        .orderBy("doc_id", "frame_idx")),

    // features flattened to a csv of exact milli-values (each feature
    // is um/1000 by construction, so round(f*1000) recovers the integer
    // um losslessly) — integer CSV sidesteps engine float-to-string
    // rendering differences, and array-typed cells are unhashable in
    // the rows-only checker anyway
    "mm_decode_batch" -> ((s, dir) =>
      Multimodal.decodeBatch(Tables.documents(s, dir)).toDF()
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          array_join(transform(col("features"),
            f => round(f.cast("double") * 1000).cast("bigint").cast("string")), ",")
            .as("features_csv"))
        .orderBy("doc_id")),

    // the one HONEST codec: real RIFF/WAVE containers built per doc,
    // really chunk-walked and PCM16-decoded; the oracle recomputes the
    // decoded fields analytically from the fixture parameters
    "mm_wav_decode" -> ((s, dir) =>
      Multimodal.wavDecodeBatch(Tables.documents(s, dir)).toDF()
        .orderBy("doc_id")),

    // per-CHANNEL image statistics over the honest P6 decode: the RGB
    // stride audit (channel = byte mod 3) plus the white-balance /
    // dead-channel screening inputs — the image sibling of the audio
    // feature op below
    "mm_ppm_features" -> ((s, dir) =>
      Multimodal.ppmFeatureBatch(Tables.documents(s, dir)).toDF()
        .orderBy("doc_id")),

    // audio FEATURES over the same honest PCM16 decode: per-channel
    // zero crossings, L1/L2 energy, peak — the feature-extract stage
    // (what a speech-data pipeline filters on: ZCR ≈ noisiness, energy
    // ≈ silence trim), not just the container audit
    "mm_audio_features" -> ((s, dir) =>
      Multimodal.wavFeatureBatch(Tables.documents(s, dir)).toDF()
        .orderBy("doc_id")),

    // the image sibling: real P6 PPM containers, header-tokenized and
    // payload-folded byte by byte; oracle recomputes analytically
    "mm_ppm_decode" -> ((s, dir) =>
      Multimodal.ppmDecodeBatch(Tables.documents(s, dir)).toDF()
        .orderBy("doc_id")),

    // third honest codec — uncompressed BI_RGB BMP: little-endian
    // struct headers, BGR order, bottom-up rows, 4-byte row padding;
    // the analytic oracle diverges if the walk folds a padding byte
    // (channel phase shifts) or mis-orders the bottom-up rows
    // (top_row_sum)
    "mm_bmp_decode" -> ((s, dir) =>
      Multimodal.bmpDecodeBatch(Tables.documents(s, dir)).toDF()
        .orderBy("doc_id")),

    // perceptual average-hash over the honest P6 decode: 64 strided
    // payload samples thresholded at the image mean (integer
    // cross-multiplication, no float divide), shipped as four 16-bit
    // chunk columns for the pigeonhole pairing below
    "mm_phash" -> ((s, dir) =>
      CorpusArtifacts.phashSigs(s, dir).orderBy("doc_id")),

    // image near-dup pairs at hamming ≤ 3: chunk-blocked equi-join
    // (the simhashPairs shape in the image domain), hamming scored per
    // 16-bit chunk so both engines stay in non-negative integers
    "mm_phash_dedup" -> ((s, dir) =>
      CorpusArtifacts.phashNearDupPairs(s, dir)
        .orderBy("id1", "id2")),

    // image duplicate FAMILIES: connected components over the
    // hamming<=3 phash pairs (the dedup_cluster machinery applied to
    // the perceptual-hash graph), rolled up to the family-size
    // histogram — the multimodal sibling of dedup_family_sizes
    "mm_phash_families" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Cluster.dedupClusters(docs, CorpusArtifacts.phashNearDupPairs(s, dir))
        .groupBy("cluster_id").agg(count(lit(1)).as("family_size"))
        .groupBy("family_size").agg(count(lit(1)).as("n_families"))
        .select(col("family_size"), col("n_families"),
          (col("family_size") * col("n_families")).as("n_docs"))
        .orderBy("family_size")
    }),

    // the image-store landing cadence (dedup_incremental_store on the
    // perceptual hash): old signatures persist in a 32-byte/doc store,
    // the shard (top quarter by doc_id) hashes only itself and pairs
    // shard-vs-store — old-old pairs never become candidates
    "mm_phash_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val thr = 3 * (docs.agg(max("doc_id")).head().getLong(0) + 1) / 4
      Multimodal.phashIncrementalFromSigs(
          CorpusArtifacts.phashSigs(s, dir)
            .select("doc_id", "c0", "c1", "c2", "c3"),
          _ >= thr)
        .orderBy("id1", "id2")
    }),

    "stream_sessionize" -> ((s, dir) =>
      graft.streaming.EventStreams.sessionize(s, dir)),

    // streaming growth accounting: per-user last-active-day state in
    // flatMapGroupsWithState, two-batch state handoff; converges to
    // the batch events_lifecycle classification (its oracle)
    "stream_lifecycle" -> ((s, dir) =>
      graft.streaming.EventStreams.lifecycle(s, dir)),

    // ingest-time decontamination: the corpus streams, the benchmark
    // set broadcasts into every micro-batch; converges to the batch
    // contamination check (its oracle)
    "stream_contamination" -> ((s, dir) =>
      graft.streaming.EventStreams.contaminationStream(s, dir)),

    "stream_dedup" -> ((s, dir) =>
      graft.streaming.EventStreams.dedupedCounts(s, dir)),

    // streaming twin of events_collapse_repeats: the previous TYPE per
    // user survives the micro-batch boundary in GroupState — provably
    // equal to the batch walk under in-order arrival, so the BATCH
    // oracle applies verbatim (the stream_cusum doctrine)
    "stream_collapse_repeats" -> ((s, dir) =>
      graft.streaming.EventStreams.collapseRepeats(s, dir)),

    "stream_enrich" -> ((s, dir) =>
      graft.streaming.EventStreams.enriched(s, dir)),

    "stream_range_join" -> ((s, dir) =>
      graft.streaming.EventStreams.streamRangeJoin(s, dir)),

    "stream_topk" -> ((s, dir) =>
      graft.streaming.EventStreams.windowTopK(s, dir)),

    // STREAMING Misra-Gries heavy hitters: per-shard c-counter MG state
    // in flatMapGroupsWithState across a two-batch handoff, merged with
    // the mergeable-summaries reduction; emits only the partition-
    // invariant theorem facts (see EventStreams.mgHeavyHitters — raw MG
    // counters are merge-shape-dependent, the guarantee triple is not)
    "stream_topk_mg" -> ((s, dir) =>
      graft.streaming.EventStreams.mgHeavyHitters(s, dir)),

    // same per-day HLL estimate, but the history arrives in TWO
    // checkpoint-sharing AvailableNow passes (simulated new-day files);
    // correctness of the merge IS the operator's contract, so the
    // oracle is the same full-history replay as stream_distinct
    "stream_hll_refresh" -> ((s, dir) =>
      graft.streaming.EventStreams.distinctUsersIncremental(s, dir)),

    // the hll_source_snapshots fold run ON the streaming checkpoint
    // cadence (SURVEY §7 r11 candidate): two AvailableNow generations
    // share one checkpoint, state is the bounded (source, bucket)
    // max-rho grid, changed rows append as deltas — the full-history
    // replay oracle is identical because the state is mergeable
    "stream_hll_source_refresh" -> ((s, dir) =>
      graft.streaming.EventStreams.sourceDistinctIncremental(s, dir)),

    // streaming vector-landing ingest: arriving vectors cell-assigned
    // map-side against the gen1-frozen 8-cell quantizer (stateless —
    // raw vectors never shuffle), per-cell occupancy counters as the
    // bounded streaming state across two checkpoint-sharing passes;
    // monotone counters max-merge to the one-shot batch assignment
    // occupancy, which is the oracle (the table emb_cell_drift reads)
    "stream_ivf_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.ivfIngestOccupancy(s, dir)),

    // the drift trigger wired ONTO the streamed occupancy store
    // (VERDICT r12 item 7): stream_ivf_ingest maintains the per-cell
    // (n_vecs, n_landed) counters continuously while shards land; THIS
    // key closes the lifecycle loop at landing cadence by deriving the
    // generations from that store — n_gen1 = n_vecs − n_landed,
    // n_gen2 = n_landed — and computing emb_cell_drift's exact integer
    // chi² plus ann_lifecycle_e2e's retrain decision at χ²₀.₉₉₉(df=7)
    // (24.32 → 243200 u4) as arithmetic on the bounded 8-row state.
    // ingest → drift → retrain is now fully streaming: no audit-cadence
    // corpus rescan, just the counters the stream already keeps.
    "stream_ivf_drift" -> ((s, dir) => {
      val occ = graft.streaming.EventStreams.ivfIngestOccupancy(s, dir)
        .select(col("cell"),
          (col("n_vecs") - col("n_landed")).as("n_gen1"),
          col("n_landed").as("n_gen2"))
      val tot = occ.agg(sum("n_gen1").as("t1"), sum("n_gen2").as("t2"))
      // exactness bound: num ≤ N² and 2·num²·10⁴ must fit DECIMAL(38,0),
      // so the identity is exact for corpus counts N < ~2.6·10⁸ per
      // store snapshot (DuckDB promotes to HUGEINT; past the bound the
      // engines would diverge — re-scale the counters first, as Suffix
      // documents for gpos). A degenerate snapshot with an EMPTY
      // generation (t1·t2·(n1+n2) = 0) has no chi² to test: emit 0
      // rather than Spark-null/DuckDB-error.
      Scalars.withScalar(occ, col("cell"), tot, col("t1"))
        .withColumn("num", expr(
          "CAST(n_gen1 AS DECIMAL(38,0))*t2 - CAST(n_gen2 AS DECIMAL(38,0))*t1"))
        .withColumn("chi2_cell_u4", expr(
          """CASE WHEN t1*t2*(n_gen1 + n_gen2) = 0 THEN 0L ELSE
            |CAST((2*num*num*10000
            |      + CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  div (2*CAST(t1 AS DECIMAL(38,0))*t2*(n_gen1 + n_gen2))
            |  AS BIGINT) END""".stripMargin))
        .withColumn("chi2_total_u4", sum("chi2_cell_u4").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .withColumn("retrain",
          when(col("chi2_total_u4") > 243200L, 1L).otherwise(0L))
        .select(col("cell"), col("n_gen1"), col("n_gen2"),
          col("chi2_cell_u4"), col("chi2_total_u4"), col("retrain"))
        .orderBy("cell")
    }),

    // streaming bottom-k sample maintenance: each staged generation
    // folds its local bottom-k into the persisted k-row store (union +
    // re-limit — O(k) rewrite, history never re-read); hash-min
    // mergeability makes the store equal the one-shot bottom-k
    "stream_sample_bottomk" -> ((s, dir) =>
      graft.streaming.EventStreams.bottomKIncremental(s, dir)),

    // streaming DQ gate: additive violation counters folded per
    // landing; uniqueness deliberately absent (not counter-additive —
    // see EventStreams.dqIncremental)
    "stream_dq" -> ((s, dir) =>
      graft.streaming.EventStreams.dqIncremental(s, dir)),

    // the deliberately-absent uniqueness rule, done right: a keyed
    // presence store + O(Δ) appends; n_cross_shard quantifies the
    // duplicates per-shard counters can never see
    "stream_dq_unique" -> ((s, dir) =>
      graft.streaming.EventStreams.dqUniqueIncremental(s, dir)),

    // streaming AMS F2 maintenance: per-generation 8-counter partials
    // fold into the persisted store by plain addition (the linear
    // sketch's merge IS addition), so the staged cadence is invisible
    // to the oracle — same replay as sketch_ams_f2's sketch side
    // CUSUM monitor maintained on the landing cadence: additive daily-
    // count state folded per generation, the sequential statistic
    // derived from the bounded store at read time by the SAME
    // Cusum.fromDaily fold as the batch query — store == one-shot
    // daily agg, so the events_cusum oracle applies verbatim
    "stream_cusum" -> ((s, dir) =>
      graft.streaming.EventStreams.cusumIncremental(s, dir)),

    "stream_ams_f2" -> ((s, dir) =>
      graft.streaming.EventStreams.amsF2Incremental(s, dir)),

    "stream_distinct" -> ((s, dir) =>
      graft.streaming.EventStreams.distinctUsers(s, dir)),

    // Join-key skew report: the diagnostic run BEFORE deciding to salt
    // a join (Skew.saltedJoin) — top heavy keys with their skew factor
    // (share of rows × number of keys; uniform ⇒ 1.0). One groupBy of
    // the fact, both scalars ride a single withScalar aggregate over
    // the checkpointed key counts.
    "skew_report" -> ((s, dir) => {
      val kc = Tables.events(s, dir)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .once("skew_report.kc")
      val tot = kc.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
      graft.ops.Scalars.withScalar(kc, col("user_id"), tot, col("total"))
        .withColumn("skew_factor",
          round(col("cnt") * col("n_keys") / col("total"), 4))
        .select("user_id", "cnt", "skew_factor")
        .orderBy(col("cnt").desc, col("user_id")).limit(10)
    }),

    // Cross-modal agreement audit: for each embedding near-dup pair,
    // the surface-text 3-gram Jaccard of the SAME two documents
    // (vec_id ≡ doc_id in this corpus) — high cosine with near-zero
    // text overlap is the signature of a broken embedding pipeline.
    // The tiny pair table joins the shingle-set table co-keyed on each
    // id; the Jaccard is two array ops per pair, never a text rescan.
    "semantic_text_agree" -> ((s, dir) => {
      val pairs = Dedup.embeddingNearDup(Tables.embeddings(s, dir), threshold = 0.35)
        .select(col("id1"), col("id2"), col("cos"))
      val sh = Dedup.shingleSets(Tables.documents(s, dir), 3)
      val s1 = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
      val s2 = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
      pairs.join(s1, "id1").join(s2, "id2")
        .withColumn("jac",
          round(size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
            nullif(size(array_union(col("sh1"), col("sh2"))), lit(0)), 4))
        .select("id1", "id2", "cos", "jac")
        .orderBy("id1", "id2")
    }),

    // Byte-entropy quality signal via the native codegen'd CharEntropy
    // expression — pure per-row map, no shuffle (the corpus filter that
    // catches base64 blobs / padding / mono-character junk)
    "text_entropy" -> ((s, dir) => {
      graft.functions.CharEntropy.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          round(call_function("char_entropy", col("text")), 4).as("entropy_bits"))
        .orderBy("doc_id")
    }),

    // PageRank over the verified near-dup graph: which documents sit at
    // the CENTER of a duplication family (the canonical-keeper /
    // template-explosion ranking). 3 power iterations, d = 0.85; one
    // co-keyed join + one groupBy per round over the once-checkpointed
    // adjacency (Graph.scala scale notes).
    "graph_pagerank" -> ((s, dir) => {
      val pairs = CorpusArtifacts.nearDupPairs(s, dir).select("id1", "id2")
      graft.ops.Graph.pagerank(pairs, damping = 0.85, iters = 3)
        .select(col("id").as("doc_id"), round(col("r"), 6).as("pr_rank"))
        .orderBy("doc_id")
    }),

    // TRIANGLE COUNT + global clustering over the k-NN graph: the
    // density check run before trusting graph-based dedup clusters.
    // Degree-orienting every edge toward its (deg, id)-larger endpoint
    // gives each triangle exactly ONE wedge at its minimum vertex and
    // bounds out-degrees near sqrt(m) — the wedge self-join stays
    // near-linear instead of exploding on hubs; the closing-edge check
    // is a semi-join back to the (a<b)-canonical undirected edge set.
    "graph_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangleStats(
        Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
            k = 3, numPlanes = 4)
          .select(least(col("probe_id"), col("neighbor_id")).as("a"),
            greatest(col("probe_id"), col("neighbor_id")).as("b"))
          .distinct())),

    // LABEL PROPAGATION COMMUNITIES over the same kNN graph — the
    // density question triangleStats only summarizes and CC cannot ask
    // (CC: "reachable at all"; LPA: "densely knit" = embedding
    // clusters). Deterministic synchronous fixed-round variant with
    // (count desc, label asc) tie order — see Graph.labelProp for why
    // the classic async/random-tie algorithm is unreproducible on a
    // partitioned engine. Emits the community-size histogram: the
    // bounded summary a curation pipeline reads ("is this corpus one
    // blob or many small clusters?").
    "graph_label_prop" -> ((s, dir) => {
      val edges = Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
          k = 3, numPlanes = 4)
        .select(least(col("probe_id"), col("neighbor_id")).as("a"),
          greatest(col("probe_id"), col("neighbor_id")).as("b"))
        .distinct()
      graft.ops.Graph.labelProp(edges, iters = 4)
        .groupBy("lbl").agg(count(lit(1)).as("n_members"))
        .groupBy("n_members").agg(count(lit(1)).as("n_communities"))
        .orderBy("n_members")
    }),

    // 3-CORE PEEL CURVE over the same kNN similarity graph — the graph
    // family's cohesion member (triangles = closure, label_prop =
    // communities, k-core = depth): how much of the near-dup graph
    // survives repeated stripping of weakly-attached nodes. See
    // ops/Graph.kCorePeel for the fixed-horizon peel doctrine.
    "graph_kcore" -> ((s, dir) => {
      val edges = Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
          k = 3, numPlanes = 4)
        .select(least(col("probe_id"), col("neighbor_id")).as("a"),
          greatest(col("probe_id"), col("neighbor_id")).as("b"))
        .distinct()
      graft.ops.Graph.kCorePeel(edges, k = 3, rounds = 6).orderBy("round")
    }),

    // DEGREE ASSORTATIVITY over the same kNN graph — the MIXING member
    // of the graph family (closure/communities/depth/reach, now
    // mixing): disassortative r is the hub-and-spoke signature of a
    // template explosion, assortative r means dense duplicate cores.
    // Exact DECIMAL moments off the bounded degree table; the single
    // continuous step is the final quotient (m_gini emission rule).
    "graph_assortativity" -> ((s, dir) =>
      graft.ops.Graph.degreeAssortativity(
        Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
            k = 3, numPlanes = 4)
          .select(least(col("probe_id"), col("neighbor_id")).as("a"),
            greatest(col("probe_id"), col("neighbor_id")).as("b"))
          .distinct())),

    // BFS HOP LAYERS from a deterministic trusted seed set over the
    // same kNN graph — the graph family's DISTANCE member (triangles =
    // closure, label_prop = communities, k-core = depth, BFS = reach):
    // how many hops of the similarity graph a vouched-for subset can
    // reach, per hop. The frontier-expansion rounds join only the
    // CURRENT frontier against the shared adjacency (never the whole
    // visited set), so a round costs the frontier's degree sum — the
    // Pregel cost model — and the bounded output is the ≤(maxHops+1)-row
    // layer histogram with cumulative coverage in §5 u4 integer units.
    "graph_bfs_layers" -> ((s, dir) => {
      val edges = Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
          k = 3, numPlanes = 4)
        .select(least(col("probe_id"), col("neighbor_id")).as("a"),
          greatest(col("probe_id"), col("neighbor_id")).as("b"))
        .distinct()
      val seeds = Tables.embeddings(s, dir)
        .filter(col("vec_id") % 41 === 0).select(col("vec_id").as("v"))
      val hist = graft.ops.Graph.bfsLayers(edges, seeds, maxHops = 4)
        .groupBy("hop").agg(count(lit(1)).as("n_frontier"))
      val tot = edges.select(col("a").as("v"))
        .unionByName(edges.select(col("b").as("v")))
        .unionByName(seeds).distinct().agg(count(lit(1)).as("n_total"))
      // bounded ≤5-row histogram: the unpartitioned window is safe
      val w = org.apache.spark.sql.expressions.Window.orderBy("hop")
      Scalars.withScalar(hist, col("hop"), tot, col("n_total"))
        .withColumn("n_cum", sum("n_frontier").over(w))
        .select(col("hop"), col("n_frontier"), col("n_cum"),
          expr("n_cum * 10000 div n_total").as("coverage_u4"))
        .orderBy("hop")
    }),

    // ADAMIC-ADAR LINK PREDICTION over the same kNN graph — the
    // PREDICTION member of the family (closure / communities / depth /
    // reach / mixing, now missing-edge repair): the top-20 non-adjacent
    // distance-2 pairs by Σ 1/ln(deg) over common neighbors are the
    // near-dup edges the LSH sparsifier most likely missed. Weights
    // come from the spliced ×10⁶ literal table (Graph.aaWeightsU6), so
    // the score is a pure-integer sum in both engines.
    "graph_adamic_adar" -> ((s, dir) =>
      graft.ops.Graph.adamicAdar(
        Similarity.lshTopK(Tables.embeddings(s, dir), lit(true),
            k = 3, numPlanes = 4)
          .select(least(col("probe_id"), col("neighbor_id")).as("a"),
            greatest(col("probe_id"), col("neighbor_id")).as("b"))
          .distinct(), k = 20)),

    // DISTRIBUTION DRIFT (PSI) between two corpus slices: fixed-width
    // length bins (a pure per-row map — no quantile pass to coordinate
    // across engines), Laplace-smoothed shares so empty bins stay
    // finite, per-bin PSI contributions rounded before the bounded
    // (≤20-row) total window. The full-data pass is ONE scan + one
    // bin-keyed shuffle; everything after runs on the bin table.
    "profile_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        (col("doc_id") % 2 === 0).as("is_ref"),
        least(floor(col("n_chars") / 50), lit(19L)).as("bin"))
      val agg = d.groupBy("bin").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = agg.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"),
        count(lit(1)).as("nb"))
      // r10: BIGINT emission end to end. The smoothed shares become
      // half-up 1e-6-unit integers via pure integer division; psi is
      // then computed FROM those quantized integers — the only float
      // op left is one ln() over an exactly-representable int ratio
      // (identical double bits in both engines), rounded straight to
      // integer micro-units. psi ≥ 0 structurally ((p_cur−p_ref) and
      // ln(p_cur/p_ref) share sign), so half-up agrees cross-engine.
      graft.ops.Scalars.withScalar(agg, col("bin"), tot, col("nb"))
        .withColumn("p_ref_u6",
          expr("(2*(n_ref + 1)*1000000 + (t_ref + nb)) div (2*(t_ref + nb))"))
        .withColumn("p_cur_u6",
          expr("(2*(n_cur + 1)*1000000 + (t_cur + nb)) div (2*(t_cur + nb))"))
        .withColumn("psi_bin_u6",
          expr("""CAST(round((p_cur_u6 - p_ref_u6) *
                 ln(CAST(p_cur_u6 AS DOUBLE) / CAST(p_ref_u6 AS DOUBLE)), 0)
                 AS BIGINT)"""))
        .withColumn("total_psi_u6", sum(col("psi_bin_u6"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          col("p_ref_u6"), col("p_cur_u6"), col("psi_bin_u6"),
          col("total_psi_u6"))
        .orderBy("bin")
    }),

    // Kolmogorov–Smirnov drift — the distribution-shift companion to
    // profile_drift's PSI on the SAME ref/cur split and bin grid:
    // D = max_bin |CDF_ref − CDF_cur|. Where PSI needs one ln() (the
    // only float op its doctrine exemption covers), KS is pure order
    // statistics: the CDF gap compares as the cross-multiplied integer
    // |cum_ref·t_cur − cum_cur·t_ref| over the common denominator
    // t_ref·t_cur, so NOTHING here ever touches a float — §5-exact by
    // construction. Products are lifted into DECIMAL(38,0) (cum·total
    // is n² — a Long overflows near 3e9 rows, real at 100 TB; decimal
    // stays exact and DuckDB's HUGEINT replays it). The cumulative
    // window runs over the bounded 20-bin aggregate, never raw rows.
    "profile_ks_drift" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        (col("doc_id") % 2 === 0).as("is_ref"),
        least(floor(col("n_chars") / 50), lit(19L)).as("bin"))
      val agg = d.groupBy("bin").agg(
        sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cur"))
      val tot = agg.agg(
        sum("n_ref").cast("decimal(38,0)").as("t_ref"),
        sum("n_cur").cast("decimal(38,0)").as("t_cur"))
      val wCum = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy("bin")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      graft.ops.Scalars.withScalar(agg, col("bin"), tot, col("t_ref"))
        .withColumn("cum_ref", sum("n_ref").over(wCum))
        .withColumn("cum_cur", sum("n_cur").over(wCum))
        .withColumn("dnum",
          abs(col("cum_ref").cast("decimal(38,0)") * col("t_cur") -
              col("cum_cur").cast("decimal(38,0)") * col("t_ref")))
        .withColumn("d_u6",
          expr("CAST((2*dnum*1000000 + t_ref*t_cur) div (2*t_ref*t_cur) AS BIGINT)"))
        .withColumn("ks_u6", max("d_u6")
          .over(org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("bin"), col("n_ref"), col("n_cur"),
          col("cum_ref"), col("cum_cur"), col("d_u6"), col("ks_u6"))
        .orderBy("bin")
    }),

    // int8-style quantization audit: per vector, the mean absolute
    // reconstruction error of (min, max, 255-level) affine quantization
    // — the measurement before shrinking embedding storage 4×. Pure
    // per-row map (one array fold, left-to-right in BOTH engines); the
    // whole expression is identical IEEE arithmetic in identical order,
    // so no rounding slack is needed beyond the final 6 dp.
    "emb_quantize" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .withColumn("mn", array_min(col("embedding")).cast("double"))
        .withColumn("mx", array_max(col("embedding")).cast("double"))
        .select(col("vec_id"), expr(
          """round(aggregate(embedding, CAST(0.0 AS DOUBLE), (acc, x) ->
            |  acc + abs(CAST(x AS DOUBLE) - (mn +
            |    (floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)) + 0.5)
            |      * (mx - mn) / 255.0))) / size(embedding), 6)""".stripMargin)
          .as("mae"))
        .orderBy("vec_id")),

    // Top principal direction of the embedding set by covariance-free
    // power iteration (Pca.scala): two key-partitioned aggregations
    // per round, the candidate direction is a d-row TABLE — no d×d
    // covariance, nothing vector-shaped on the driver.
    "emb_pca_power" -> ((s, dir) =>
      graft.ops.Pca.topDirection(Tables.embeddings(s, dir), iters = 3)
        .select(col("pos").cast("bigint").as("pos"),
          round(col("v"), 4).as("component"))
        .orderBy("pos")),

    // TOP-2 PCA BY DEFLATION — the second axis emb_pca_power can't
    // see: subtract each vector's projection on the first direction
    // (exactly orthogonal row by row), power-iterate the residual.
    // Both directions in one output for the 2-D projection a corpus
    // visualization or whitening step consumes. Same covariance-free
    // two-aggregation shape, run twice; d-row output.
    "emb_pca_deflate" -> ((s, dir) =>
      graft.ops.Pca.topTwoDirections(Tables.embeddings(s, dir), iters = 3)
        .select(col("pos").cast("bigint").as("pos"),
          // + 0.0 collapses −0.0 to +0.0 (IEEE) — near-zero loadings
          // land on either side of zero per engine
          (round(col("c1"), 4) + 0.0).as("c1"),
          (round(col("c2"), 4) + 0.0).as("c2"))
        .orderBy("pos")),

    // Per-label embedding centroid outliers: the 3 most centroid-
    // distant vectors per label — the mislabeled/corrupted-vector
    // audit. Exploded relational centroid (bounded labels×dim result,
    // broadcast back), two key-partitioned passes (Embeddings.scala).
    "emb_centroid_outlier" -> ((s, dir) =>
      graft.ops.Embeddings.centroidOutliers(Tables.embeddings(s, dir), k = 3)
        .orderBy("label", "rnk")),

    // Vocabulary construction: corpus token frequencies ≥ minCount with
    // stable contiguous ids by (freq DESC, token ASC). At corpus scale
    // the freq≥5 vocabulary is still hundreds of millions of entries
    // (typos, numbers, URLs), so the contiguous ids come from the
    // sampled-boundary two-level rank (Rank.globalRankByRange — dense
    // and contiguous by construction), never an unpartitioned
    // row_number window; the frequency count is the usual one-shuffle
    // partial-agg groupBy.
    "vocab_build" -> ((s, dir) => {
      val tokens = Tables.documents(s, dir)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
      val freq = tokens.groupBy("token").agg(count(lit(1)).as("freq"))
        .filter(col("freq") >= 5)
      Rank.globalRankByRange(freq, "freq", "token")
        .withColumn("token_id", col("rnk"))
        .select("token_id", "token", "freq")
        .orderBy("token_id")
    }),

    // SHARD TOP-K UNION AUDIT — the distributed-top-k correctness
    // question every map-side-truncating pipeline must answer: if each
    // shard (source) keeps only its local top-20 terms, does the union
    // still contain the GLOBAL top-20? (A term can be globally heavy
    // while below the cut on every shard — the classic failure.) Emits
    // the union size and global-recall@20 so the k-per-shard knob is
    // sized by measurement, not faith. One tf pass feeds the per-shard
    // top-k (TopK.perGroup — rank-limit pushdown prunes each input
    // partition to its local top-k BEFORE the exchange, so a shard's
    // whole vocabulary never lands in one sorter), the global rollup,
    // and the audit.
    "vocab_shard_topk_audit" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
        .once("vocab_shard_topk_audit.tf") // feeds shard tops, global top, shard count
      val shardTop = TopK.perGroup(tf, Seq(col("source")),
          Seq(col("c").desc, col("w")), k = 20, rankName = "rk")
        .select("w").distinct()
        .shared("vocab_shard_topk_audit.shardTop") // feeds the union size AND the semi-join
      val globalTop = tf.groupBy("w").agg(sum("c").as("c"))
        .orderBy(col("c").desc, col("w")).limit(20)
      val nShards = tf.select("source").distinct()
        .agg(count(lit(1)).as("n_shards"))
      val uSize = shardTop.agg(count(lit(1)).as("union_size"))
      val hit = globalTop.join(shardTop, Seq("w"), "left_semi")
        .agg(count(lit(1)).as("global_in_union"))
      Scalars.withScalar(
          Scalars.withScalar(hit, col("global_in_union"), uSize,
            col("union_size")),
          col("global_in_union"), nShards, col("n_shards"))
        .select(lit(20L).as("k"), col("n_shards"), col("union_size"),
          col("global_in_union"),
          expr("global_in_union * 10000 div 20").as("recall_u4"))
    }),

    // VOCABULARY COVERAGE CURVE — the tokenizer-sizing measurement
    // (vocab_oov measures leakage-safe OOV at ONE vocab; THIS sweeps
    // the size): what fraction of token OCCURRENCES do the top-N
    // frequency-ranked types cover at N = 10/50/250? The classic
    // Zipf-area view a vocab budget is chosen from. Ranking runs over
    // the BOUNDED type table (the vocabulary, not the corpus — the
    // window is legitimate there, same contract as vocab_build); one
    // corpus scan for counts, the 3-N sweep is an explode of the
    // ranked types. Coverage as §5 half-up u4.
    "vocab_coverage_curve" -> ((s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("freq").desc, col("token").asc)).cast("bigint"))
        .shared("vocab_coverage_curve.counts")
      val tot = counts.agg(sum("freq").as("total_tokens"),
        count(lit(1)).as("n_types"))
      val swept = counts
        .select(col("rnk"), col("freq"),
          explode(array(lit(10L), lit(50L), lit(250L))).as("n"))
        .filter(col("rnk") <= col("n"))
        .groupBy("n")
        .agg(count(lit(1)).as("n_vocab"), sum("freq").as("covered_tokens"))
      graft.ops.Scalars.withScalar(swept, col("n"), tot, col("total_tokens"))
        .withColumn("coverage_u4",
          expr("(2*covered_tokens*10000 + total_tokens) div (2*total_tokens)"))
        .select(col("n"), col("n_vocab"), col("covered_tokens"),
          col("total_tokens"), col("n_types"), col("coverage_u4"))
        .orderBy("n")
    }),

    // DISTRIBUTED BPE MERGE LEARNING: the 5 highest-count symbol-pair
    // merges over the corpus vocabulary, learned iteratively. Each
    // round (a) counts adjacent symbol pairs weighted by token
    // frequency — one groupBy over the BOUNDED vocabulary, never the
    // corpus; (b) pulls the single argmax row (count desc, pair asc)
    // to the driver — the same bounded index-state contract as the
    // IVF centroid pulls, and the inherent sequential dependency of
    // BPE; (c) applies the merge to every word's space-delimited
    // symbol string with TWO leftmost-non-overlapping replaces (the
    // second pass catches the alternating occurrences the first
    // pass's consumed delimiter skips in an adjacent chain; on such
    // chains the grouping ORDER can deviate from strict left-to-right
    // greedy BPE — identically in both engines, since both replace()s
    // are leftmost-non-overlapping). Symbols are alnum and
    // space-delimited, so patterns are unambiguous by construction.
    "vocab_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      var words = bpeVocab(s, dir).select("cnt", "s").once("vocab_bpe_learn.words")
      val merges = (1 to 5).map { it =>
        val (bx, by, bpc) = bpeBestPair(words)
        words = words.withColumn("s", bpeMergeExpr(bx, by))
          .once("vocab_bpe_learn.words2") // cut lineage between rounds
        // the compression curve: weighted symbol count after this merge
        // (a 1-row agg over the already-checkpointed vocab)
        val symsAfter = words
          .select(sum(col("cnt") * size(split(trim(col("s")), " "))).as("n"))
          .head().getLong(0)
        (it.toLong, bx, by, bpc, symsAfter)
      }
      merges.toDF("iter", "sym_a", "sym_b", "pair_count", "syms_after")
        .withColumn("merged", concat(col("sym_a"), col("sym_b")))
        .orderBy("iter")
    }),

    // BPE APPLICATION — the measurement the learned merge table exists
    // for: re-tokenize the corpus through the 5 learned merges and
    // report per-source compression. The corpus is never re-segmented
    // per occurrence: merges apply once to the BOUNDED vocabulary (the
    // same 5-round learn as vocab_bpe_learn — identical argmax
    // sequence, the token column just rides along), then the
    // vocab-sized (token → symbol count) map broadcasts back onto ONE
    // corpus scan. n_chars is the pre-merge symbol count (1 char = 1
    // symbol at BPE init), so compression_u4 = syms/chars in §5
    // half-up integer units — the per-source fertility a tokenizer
    // budget planner actually consumes.
    "vocab_bpe_apply" -> ((s, dir) => {
      var words = bpeVocab(s, dir).once("vocab_bpe_apply.words")
      (1 to 5).foreach { _ =>
        val (bx, by, _) = bpeBestPair(words)
        words = words.withColumn("s", bpeMergeExpr(bx, by))
          .once("vocab_bpe_apply.words2")
      }
      val seg = words.select(col("tok"),
        size(split(trim(col("s")), " ")).cast("bigint").as("n_syms"))
      Tables.documents(s, dir)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
        .join(broadcast(seg), Seq("tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("tok"))).cast("bigint").as("n_chars"),
          sum(col("n_syms")).as("n_syms"))
        .withColumn("compression_u4",
          expr("(2*10000L*n_syms + n_chars) div (2*n_chars)"))
        .orderBy("source")
    }),

    // TOKENIZER-FAITHFUL packing (VERDICT r15 item 7): seq_pack's bin
    // assignment on the LEARNED segmentation's symbol counts instead
    // of whitespace tokens — the packing numbers a real trainer sees.
    // Same machinery end to end: the 5-round learned merge table
    // (vocab_bpe_apply's argmax sequence), the vocab-bounded
    // (token → n_syms) broadcast onto one corpus scan, a per-doc
    // symbol-mass fold, then Pack.packCounts' two-level prefix sum
    // (no single-task window). Docs whose every token fell out of the
    // vocab join keep mass 0 via the left join (none on this corpus —
    // the vocab is built FROM the corpus — but the shape is total).
    "seq_pack_bpe" -> ((s, dir) => {
      var words = bpeVocab(s, dir).once("seq_pack_bpe.words")
      (1 to 5).foreach { _ =>
        val (bx, by, _) = bpeBestPair(words)
        words = words.withColumn("s", bpeMergeExpr(bx, by))
          .once("seq_pack_bpe.words2")
      }
      val seg = words.select(col("tok"),
        size(split(trim(col("s")), " ")).cast("bigint").as("n_syms"))
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
        .join(broadcast(seg), Seq("tok"))
        .groupBy("doc_id").agg(sum("n_syms").as("n_bpe"))
      val counts = Tables.documents(s, dir).select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bpe"), lit(0L)).as("n_tokens"))
      graft.ops.Pack.packCounts(counts, maxTokens = 2048L)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_bpe_tokens"))
        .orderBy("bin")
    }),

    // Zipf audit: log-log slope of token frequency vs frequency rank
    // (natural corpora sit near −1; synthetic/templated ones don't) —
    // the distribution sanity check before trusting token statistics.
    // The rank DELIBERATELY covers the unfiltered vocabulary (the law
    // needs the tail), which at corpus scale is billions of distinct
    // tokens — so the rank is the sampled-boundary two-level
    // decomposition (Rank.globalRankByRange), never an unpartitioned
    // row_number window (a one-task sort of the whole vocabulary).
    "text_zipf" -> ((s, dir) => {
      val freq = Tables.documents(s, dir)
        .select(explode(Dedup.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val ranked = Rank.globalRankByRange(freq, "freq", "token")
      ranked.agg(
        round(expr("regr_slope(ln(freq), ln(rnk))"), 4).as("zipf_slope"),
        count(lit(1)).as("vocab_size"))
    }),

    // COLLOCATION MINING: top-20 adjacent-bigram collocations by PMI
    // with the count floor — see ops/TextAnalysis.pmi for the
    // vocabulary-bounded shape and the §5 double-composition contract.
    "text_pmi" -> ((s, dir) =>
      TextAnalysis.pmi(Tables.documents(s, dir), minCount = 5, k = 20)),

    // Inference/training batch planning: docs bucket by token-length
    // cap (next power-of-two band); per bucket the padding waste a
    // pad-to-cap batcher would pay. One scan, tiny groupBy — the
    // measurement that decides length-bucketed batching.
    "seq_length_buckets" -> ((s, dir) => {
      val t = Tables.documents(s, dir)
        .select(size(Dedup.tokens(col("text"))).cast("bigint").as("n_tokens"))
        .withColumn("cap",
          when(col("n_tokens") <= 16, 16L).when(col("n_tokens") <= 32, 32L)
            .when(col("n_tokens") <= 64, 64L).when(col("n_tokens") <= 128, 128L)
            .otherwise(256L))
      t.groupBy("cap")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          sum(col("cap") - col("n_tokens")).as("pad_waste"))
        .withColumn("waste_pct",
          round(col("pad_waste").cast("double") / (col("cap") * col("n_docs")), 4))
        .orderBy("cap")
    }),

    // Global total-order rank of every document by size — via the
    // two-level block-offset decomposition (Rank.scala), NEVER a
    // single-partition window over the corpus.
    "rank_global" -> ((s, dir) =>
      graft.ops.Rank.globalRank(
        Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
        valueCol = "n_chars", tieCol = "doc_id", blockWidth = 64L)
        .orderBy("rnk")),

    // Deterministic corpus shuffle: training order = global rank of the
    // engine-portable GraftHash64(doc_id, seed) — a reproducible
    // pseudo-random permutation with NO RNG state, identical on any
    // engine/cluster size/run (the property shuffle-before-epoch
    // pipelines need for resumability). The rank itself is the same
    // two-level block decomposition; hash blocks are uniform by
    // construction, so block skew is impossible. Shards interleave by
    // rank so every shard sees the same shuffled distribution.
    // LANG × SOURCE CONTINGENCY: observed vs independence-expected
    // counts per (lang, source) cell with the chi-square contribution
    // — which crawls skew which languages. Margins are tiny aggregates
    // (|langs| and |sources| rows) that re-attach by equi-join; the
    // corpus total rides the auditable 1-row withScalar path.
    "corpus_lang_source_mix" -> ((s, dir) => {
      val cell = Tables.documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .shared("corpus_lang_source_mix.cell") // feeds both margins and the result
      val byLang = cell.groupBy("lang").agg(sum("n").as("lang_tot"))
      val bySrc  = cell.groupBy("source").agg(sum("n").as("src_tot"))
      val total  = cell.agg(sum("n").as("n_total"))
      graft.ops.Scalars.withScalar(
          cell.join(byLang, "lang").join(bySrc, "source"),
          col("lang"), total, col("n_total"))
        .withColumn("expected",
          round(col("lang_tot") * col("src_tot") / col("n_total"), 4))
        .withColumn("ratio", round(col("n") / (col("lang_tot") * col("src_tot")
          / col("n_total")), 4))
        .withColumn("chi2", round(
          org.apache.spark.sql.functions.pow(
            col("n") - col("lang_tot") * col("src_tot") / col("n_total"), 2)
            / (col("lang_tot") * col("src_tot") / col("n_total")), 4))
        .select("lang", "source", "n", "expected", "ratio", "chi2")
        .orderBy("lang", "source")
    }),

    // PER-SOURCE QUOTA SAMPLING: cap every source at a fixed doc
    // budget, membership decided by deterministic hash order (smallest
    // graft_hash64 first — an unbiased, replayable coin) — the corpus
    // rebalancing step that stops one crawl from dominating the mix.
    // Per-source population is corpus-sized (only the OUTPUT is
    // bounded), so the kept set goes through TopK.perGroup — the
    // rank-limit-pushdown shape (WindowGroupLimit prunes map-side) —
    // not a raw per-source row_number over all documents; the totals
    // are a plain source-keyed aggregation with no window at all.
    "sample_source_quota" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          call_function("graft_hash64", col("doc_id").cast("string"),
            lit(11L)).as("h"))
      val tot = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val kept = graft.ops.TopK.perGroup(d, groupCols = Seq(col("source")),
          orderCols = Seq(col("h"), col("doc_id")), k = 40)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum("n_chars").cast("bigint").as("kept_chars"))
      // every non-empty source keeps >= 1 doc, so the join is total
      tot.join(kept, "source")
        .select("source", "n_docs", "n_kept", "kept_chars")
        .orderBy("source")
    }),

    "corpus_shuffle" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val h = Tables.documents(s, dir).select(col("doc_id"),
        call_function("graft_hash64", col("doc_id").cast("string"), lit(7L)).as("h"))
      graft.ops.Rank.globalRank(h, "h", "doc_id", blockWidth = 1.0e17)
        .select(col("doc_id"), col("rnk").as("shuffle_rank"),
          pmod(col("rnk") - 1, lit(8L)).as("shard"))
        .orderBy("shuffle_rank")
    }),

    // ORDER-INVARIANT CONTENT DIGEST per source — the dataset-version
    // primitive snapshot diffing runs on: two snapshots have equal
    // digests iff their content multisets match, regardless of row
    // order or partitioning. Two commutative folds over the per-doc
    // 64-bit content hash: bit_xor (cheap, but an exact-duplicate PAIR
    // cancels out — documented) and the mod-p residue sum (duplicate-
    // sensitive; residues keep the running sum in BIGINT at any corpus
    // size). Map-side combine all the way; only per-source rows emit.
    "corpus_content_digest" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      Tables.documents(s, dir)
        .select(col("source"),
          call_function("graft_hash64", col("text"), lit(13L)).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(h)").as("digest_xor"),
          expr("sum(h % 1000000007) % 1000000007").as("digest_sum"))
        .orderBy("source")
    }),

    // SHUFFLE-QUALITY AUDIT of a reading order — the measurement layer
    // corpus_shuffle needs before an LM trainer trusts it: serial
    // correlation of the source label along the sequence. Observed
    // adjacent-same-source rate (consecutive ranks r, r+1 — an
    // equi-join on the dense rank, never a global-window lag) against
    // the random-permutation expectation Σn_s(n_s−1)/(N(N−1)), for TWO
    // orderings: corpus_shuffle's hash order (should sit at ~1× the
    // expectation) and the pathological source-clumped order (rank by
    // hash(source): same audit, ~n_sources× the expectation — proof
    // the metric detects what it claims to). All rates are ×10⁶/×10⁴
    // integer fixed point off exact pair counts; the per-source count
    // table is bounded; each ordering is one globalRank (two-level,
    // no single-task sort) plus one shifted self-join.
    "corpus_shuffle_audit" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      def audit(name: String, h: Column): DataFrame = {
        val r = graft.ops.Rank.globalRank(
            docs.withColumn("h", h), "h", "doc_id", blockWidth = 1.0e17)
          .select(col("rnk"), col("source"))
        r.join(r.select((col("rnk") + 1).as("rnk"), col("source").as("prev")), "rnk")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("source") === col("prev"), 1L).otherwise(0L))
              .as("same_pairs"))
          .select(lit(name).as("ordering"), col("n_pairs"), col("same_pairs"))
      }
      val both = audit("shuffled",
          call_function("graft_hash64", col("doc_id").cast("string"), lit(7L)))
        .unionByName(audit("by_source",
          call_function("graft_hash64", col("source"), lit(7L))))
      val stats = docs.groupBy("source").agg(count(lit(1)).as("ns"))
        .agg(sum("ns").as("n_docs"), sum(expr("ns * (ns - 1)")).as("exp_num"))
      Scalars.withScalar(both, col("n_pairs"), stats, col("n_docs"))
        .select(col("ordering"), col("n_docs"), col("n_pairs"), col("same_pairs"),
          expr("same_pairs * 1000000 div n_pairs").as("obs_u6"),
          expr("exp_num * 1000000 div (n_docs * (n_docs - 1))").as("exp_u6"),
          expr("same_pairs * n_docs * 10000 div nullif(exp_num, 0)")
            .as("clump_x_u4"))
        .orderBy("ordering")
    }),

    // CSV sink → source round trip: the interchange-format path (audit
    // extracts, spreadsheet handoffs). The WRITE is the distributed
    // day-aggregate (small by construction — never raw events to CSV);
    // the READ supplies an explicit schema, so no inference scan, and
    // Spark's shortest-roundtrip double rendering makes the re-read
    // bit-exact — which the oracle (the aggregate itself) checks.
    // MALFORMED-INGESTION QUARANTINE — the part of a real CSV landing
    // the clean round trip can't exercise: a text feed where every
    // 97th record is corrupt (non-numeric key field) is read with the
    // PERMISSIVE schema-enforcement path and a corrupt-record column;
    // bad rows quarantine instead of killing the job OR silently
    // nulling into the aggregate. The oracle never touches the CSV
    // mechanics — it derives the expected good/bad split and the
    // good-row integrity checksum analytically from the source table,
    // so a parser that drops, double-counts, or mis-quarantines any
    // row diverges. Per-row work only; one aggregate.
    "source_csv_quarantine" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val lines = o.select(
        when(col("o_orderkey") % 97 === 0,
          concat(lit("X"), col("o_orderkey").cast("string"), lit(" corrupt")))
          .otherwise(concat_ws(",", col("o_orderkey"), col("o_custkey"),
            col("cents"))).as("value"))
      val out = graft.sources.Scratch.dir("graft_csv_q_")
      lines.write.mode("overwrite").text(out.toString)
      val parsed = s.read
        .schema("o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(out.toString)
      parsed.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(when(col("_bad").isNull, col("o_orderkey"))).as("good_key_sum"),
          sum(when(col("_bad").isNull, col("cents"))).as("good_cents_sum"))
        .withColumn("bad_share_u4",
          expr("(2*n_bad*10000 + n_rows) div (2*n_rows)"))
    }),

    "source_csv_roundtrip" -> ((s, dir) => {
      val agg = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      val out = graft.sources.Scratch.dir("graft_csv_rt_")
      agg.write.mode("overwrite").option("header", "true").csv(out.toString)
      s.read.option("header", "true")
        .schema("day DATE, event_type STRING, n BIGINT, sum_value DOUBLE")
        .csv(out.toString)
        .orderBy("day", "event_type")
    }),

    // JSON-lines sink → source round trip: the NDJSON interchange path
    // (what downstream export consumers actually read); like CSV the
    // schema re-supplies on read, and the trip proves doubles survive
    // the text encoding (Spark writes shortest-round-trip doubles)
    "source_json_roundtrip" -> ((s, dir) => {
      val agg = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(avg("c_acctbal"), 2).as("avg_bal"))
      val out = graft.sources.Scratch.dir("graft_json_rt_")
      agg.write.mode("overwrite").json(out.toString)
      s.read.schema("c_mktsegment STRING, n BIGINT, avg_bal DOUBLE")
        .json(out.toString)
        .orderBy("c_mktsegment")
    }),

    // ORC sink → source round trip: the columnar-interchange path
    // (ORC carries types natively, so unlike CSV no schema needs
    // re-supplying — the read-back schema IS the written one). Same
    // contract as the CSV trip: the oracle is the aggregate itself.
    "source_orc_roundtrip" -> ((s, dir) => {
      val agg = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("sum_price"))
      val out = graft.sources.Scratch.dir("graft_orc_rt_")
      agg.write.mode("overwrite").orc(out.toString)
      s.read.orc(out.toString).orderBy("o_orderpriority")
    }),

    // Ordered content novelty: the fraction of each doc's distinct
    // 3-gram shingles whose FIRST corpus occurrence (min doc_id) is
    // this doc — "how much new content does each document add", the
    // curve that decides when additional crawl data stops paying.
    // Same one-explode / min-attribution / co-keyed-join-back shape as
    // span dedup; complements text_boilerplate (df-common) and
    // text_span_dedup (df≥2) with an ORDER-attributed signal.
    "text_novelty" -> ((s, dir) => {
      val ex = Dedup.shingleSets(Tables.documents(s, dir), 3)
        .select(col("doc_id"), explode(col("sh")).as("sp"))
        .once("text_novelty.ex")
      val firsts = ex.groupBy("sp").agg(min("doc_id").as("first_doc"))
      ex.join(firsts, "sp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 4))
        .orderBy("doc_id")
    }),

    // Exact duplicated-SPAN analysis (substring-dedup lite): the
    // fraction of each doc's distinct 8-token spans that appear in ≥2
    // docs — the per-document signal substring-level dedup pipelines
    // threshold on. One exploded span table (checkpointed), span-keyed
    // document frequency, co-keyed join back, doc-keyed fold; raw text
    // never joins anything.
    "text_span_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ex = Dedup.shingleSets(docs, 8)
        .select(col("doc_id"), explode(col("sh")).as("sp"))
        .once("text_span_dedup.ex") // feeds both the df count and the join back
      val df = ex.groupBy("sp").agg(count(lit(1)).as("df"))
      val per = ex.join(df, "sp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .withColumn("dup_frac", round(col("n_dup_spans") / col("n_spans"), 4))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          col("dup_frac"))
        .orderBy("doc_id")
    }),

    // the substring gram-hash store maintained at STREAMING cadence
    // (completing the batch → incremental → streaming triple): map-side
    // gram hashes per landing batch, history = the store snapshot at
    // pass start, per-source counters as the only folded state, O(Δ)
    // anti-join store append
    "stream_substring_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.substringIngest(s, dir)),

    // perceptual-hash dedup at LANDING cadence (the multimodal
    // family's streaming column): landing batches decode + aHash
    // map-side, the radius-3 pigeonhole join flags batch images with a
    // history near-dup against the signature-store snapshot, additive
    // per-source counters fold, store grows by 32-byte/img appends
    "stream_phash_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.phashIngest(s, dir)),

    // semantic dedup at LANDING cadence (the signature-store triple's
    // streaming member with the VECTOR store as the store): gen1-frozen
    // 16-cell quantizer assigns landing vectors map-side, one in-cell
    // equi-join against the store snapshot flags history near-dups at
    // cosine >= 0.35, additive per-cell counters fold, store grows by
    // O(Δ) appends — snapshot semantics make the flags exactly
    // gen2-vs-gen1, which is the oracle
    "stream_semantic_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.semanticIngest(s, dir)),

    // the CAPSTONE at landing cadence (VERDICT r13 item 5): raw text
    // parsed once per landing generation into four append-only
    // integer/hash stores, the funnel accounting re-derived from the
    // stores after each generation (global decisions — family
    // bridging, retro substring coverage, budget displacement — cannot
    // fold into bounded counters); the final fold equals the one-shot
    // pipeline_e2e_v2 exactly (StreamingSpec pin + shared oracle)
    "stream_pipeline_e2e" -> ((s, dir) =>
      graft.streaming.EventStreams.pipelineIngest(s, dir)),

    // span-length sweep over the duplicated-substring totals: ONE
    // doubling chain to 32 yields exact identity at L = 8/16/32 (the
    // multi-L economy per-L n-gram re-hashing can't match) — the
    // "which L to deploy" knob audit of the *_sweep family
    // the family shares ONE memoized rank construction per corpus
    // (Suffix.corpusRanks — VERDICT r13 item 4: the three rank-based
    // keys were each paying the full doubling chain)
    "dedup_substring_sweep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // the only key needing levels 8 and 32 — requested explicitly so
      // the memo materializes them on demand (level 32 extends the
      // live 16 snapshot by one round; 16-only consumers never pay it)
      graft.ops.Suffix.dupSpanSweep(docs,
          pre = Some(graft.ops.Suffix.corpusRanks(docs, dir,
            graft.ops.Suffix.standardLevels)))
        .orderBy("span_len")
    }),

    // landing-cadence substring dedup: history reduced ONCE to a
    // persisted store of distinct L-gram portable hashes (8 B/gram,
    // raw history never re-read); the arriving shard hashes its grams
    // map-side and one equi-join marks spans that already exist in the
    // corpus — the incremental member of the substring family
    "dedup_substring_incremental" -> ((s, dir) =>
      graft.ops.Suffix.substringIncremental(Tables.documents(s, dir),
        spanLen = 16)),

    // cross-source duplicated-span attribution: the suffix-rank table
    // rolled up to (gram, source) occurrence counts, then the bounded
    // source-pair join (≤ s·(s+1)/2 rows per gram at s sources — pair
    // space bounded by SOURCE cardinality, never corpus size); diagonal
    // rows require within-source duplication (cs >= 2)
    "dedup_substring_sources" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Suffix.dupSpanSources(docs, spanLen = 16,
        pre = Some(graft.ops.Suffix.corpusRanks(docs, dir)))
    }),

    // TRUE exact substring dedup (VERDICT r12 item 4; Lee et al. 2022):
    // per-doc duplicated-span statistics at L=16 tokens computed from
    // DISTRIBUTED SUFFIX RANKS — Manber–Myers prefix doubling as
    // relational algebra (ops/Suffix.scala): 4 co-keyed self-joins give
    // each position an id that is equal iff the 16-token substrings are
    // equal (exact, not hashed), then rank frequency marks duplicated
    // starts and a per-doc window sweep counts covered positions. The
    // shingle heuristic text_span_dedup approximates this; THIS is the
    // operator a Lee-et-al span remover actually thresholds on.
    // the trailing orderBy is PRESENTATION only (the driver gate's
    // deterministic hash) — a production caller consumes dupSpanStats
    // unordered (the emission-rounding doctrine applied to sorts)
    "dedup_substring" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Suffix.dupSpanStats(docs, spanLen = 16,
          pre = Some(graft.ops.Suffix.corpusRanks(docs, dir)))
        .orderBy("doc_id")
    }),

    // the REMOVAL half of Lee et al. (VERDICT r13 item 2): per doc, the
    // maximal duplicated-run [start_tok, end_tok) offsets a span
    // remover executes — islands over dup L-gram starts (new island
    // when the gap exceeds L), span = [min, max+L); per-doc
    // Σ span_tokens reconciles with dedup_substring's dup_tokens
    // (DedupSpec pin) and kept_tokens is the post-cut doc length
    "dedup_substring_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Suffix.dupSpans(docs, spanLen = 16,
        pre = Some(graft.ops.Suffix.corpusRanks(docs, dir)))
    }),

    // ...and the removal EXECUTED: the post-cut text per doc, emitted
    // as its md5 fingerprint (hashing the rewrite byte-for-byte against
    // the oracle's independent DuckDB reconstruction) plus kept-token
    // counts — offsets say WHAT to cut, this proves the cut output
    "dedup_substring_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ops.Suffix.applySpanRemoval(docs, spanLen = 16,
        pre = Some(graft.ops.Suffix.corpusRanks(docs, dir)))
    }),

    // Hash-min (bottom-k) sampling: the k docs with the smallest
    // portable hash form a uniform RNG-free sample that is MERGEABLE
    // (bottom-k of a union = bottom-k of each side's bottom-k) and
    // plans as TakeOrderedAndProject — per-partition partial top-k,
    // never a global sort.
    "sample_bottomk" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          call_function("graft_hash64", col("doc_id").cast("string"), lit(13L)).as("h"))
        .orderBy(col("h").asc, col("doc_id")).limit(100)
    }),

    // Binary-payload exact dedup: group on the fixed-width sha-256
    // digest of the payload bytes — the multimodal analog of
    // dedup_exact (raw media never shuffles; only the 32-byte digest
    // is the shuffle key).
    "mm_dedup" -> ((s, dir) =>
      graft.ops.Multimodal.payload(Tables.documents(s, dir))
        .select(col("doc_id"), sha2(col("payload"), 256).as("digest"))
        .groupBy("digest")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // One-pass relational profiler: count / min / max / mean / stddev /
    // exact distinct for every profiled column, fused into a SINGLE
    // scan+aggregate (the multi-distinct plans as one grouped Expand,
    // still one pass over the data), then the 1-row result unpivots to
    // a row per column. The schema-drift / data-quality monitor every
    // ingest pipeline runs first. Exact distinct here because the
    // oracle replays it; at open scale swap count_distinct for
    // approx_count_distinct (HLL sketch, no Expand) per column.
    "profile_stats" -> ((s, dir) => {
      val cols = Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}_cnt"),
        round(min(col(c)), 4).as(s"${c}_min"),
        round(max(col(c)), 4).as(s"${c}_max"),
        round(avg(col(c)), 4).as(s"${c}_avg"),
        round(stddev_samp(col(c)), 4).as(s"${c}_sd"),
        count_distinct(col(c)).as(s"${c}_nd")))
      Tables.lineitem(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
            lit(c).as("column"),
            col(s"${c}_cnt").as("n"),
            col(s"${c}_min").as("min_v"),
            col(s"${c}_max").as("max_v"),
            col(s"${c}_avg").as("avg_v"),
            col(s"${c}_sd").as("sd_v"),
            col(s"${c}_nd").as("n_distinct"))): _*)).as("r"))
        .select("r.*")
        .orderBy("column")
    }),

    // Deterministic train/val/test split: assignment is a pure function
    // of the stable doc_id through the engine-portable GraftHash64 —
    // reproducible across runs, engines, partitionings and cluster
    // sizes (no RNG state, no sampling-order dependence, and adding
    // documents never reassigns existing ones). Zero-shuffle per-row
    // map + one tiny 3-row aggregate.
    "sample_hash_split" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val bucket = pmod(
        call_function("graft_hash64", col("doc_id").cast("string"), lit(0L)),
        lit(1000L))
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("split")
    }),

    // token-window chunking: docs → fixed-size overlapping training
    // sequences (32-token windows every 24) — zero-shuffle per-row map
    "doc_chunk" -> ((s, dir) =>
      graft.ops.Corpus.chunk(Tables.documents(s, dir), chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")),

    // INVERTED-INDEX COMPRESSION AUDIT — the storage-sizing layer under
    // text_bm25_topk's posting-list join: per term, sort the posting
    // doc_ids, delta-gap them (first posting stores doc_id+1 so every
    // gap is ≥1), and price each gap at its LEB128 varint width (the
    // shared literal CASE chain — no float log). Grouped by
    // power-of-two df bucket: rare terms compress worst (gaps are
    // wide), head terms best (dense lists → 1-byte gaps) — the curve
    // that says whether an index on THIS corpus is worth block
    // compression. Postings from one explode→distinct; gaps from a
    // PER-TERM window (partitioned, never global); everything after is
    // term-bounded. Savings are ×10⁴ integer vs 8-byte raw ids.
    "index_varint_audit" -> ((s, dir) => {
      val post = Tables.documents(s, dir)
        .select(explode(Dedup.tokens(col("text"))).as("term"), col("doc_id"))
        .distinct()
      val w = Window.partitionBy("term").orderBy("doc_id")
      val perTerm = post
        .withColumn("g",
          coalesce(col("doc_id") - lag("doc_id", 1).over(w), col("doc_id") + 1))
        .withColumn("vb", expr(varintBytesCase))
        .groupBy("term")
        .agg(count(lit(1)).as("df"), sum("vb").as("vbytes"))
      perTerm.withColumn("df_bucket", expr(s"CAST(($pow2FloorDf) AS BIGINT)"))
        .groupBy("df_bucket")
        .agg(count(lit(1)).as("n_terms"), sum("df").as("n_postings"),
          (sum("df") * 8).as("raw_bytes"), sum("vbytes").as("varint_bytes"))
        .select(col("df_bucket"), col("n_terms"), col("n_postings"),
          col("raw_bytes"), col("varint_bytes"),
          expr("(raw_bytes - varint_bytes) * 10000 div raw_bytes").as("savings_u4"))
        .orderBy("df_bucket")
    }),

    // per-doc top-3 terms by tf·ln(N/df); ranked on the ROUNDED score
    // so mathematically-tied pairs rank identically in both engines
    // asymmetric query->corpus ranking: the benchmark docs (< 25, the
    // contamination convention) retrieve their best corpus answers
    "text_bm25_topk" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.ops.Corpus.bm25TopK(
          d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25), k = 3)
        .orderBy("q_id", "rnk")
    }),

    // nDCG@10 RETRIEVAL EVAL — the measurement layer over text_bm25_topk
    // (a retrieval stack without its eval harness is untunable): BM25
    // ranks the corpus for each benchmark query, relevance is
    // same-LANGUAGE (a label independent of the ranking function;
    // token overlap should retrieve same-lang docs, so the score is
    // meaningfully above the random baseline and a tokenizer/scoring
    // regression shows up as an nDCG drop). The log2 position
    // discounts are quantized ONCE at plan time to ×10⁶ BIGINT
    // literals (the SPRT/DP-thresholds trick), so DCG, ideal DCG and
    // their ratio are pure integer arithmetic — no float surface.
    // Scale: the ranking is the posting-join bm25TopK; everything
    // after runs on k×|queries| rows plus a bounded language table.
    "text_bm25_ndcg" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val qlang = d.filter(col("doc_id") < 25)
        .select(col("doc_id").as("q_id"), col("lang").as("q_lang"))
      val clang = d.filter(col("doc_id") >= 25)
        .select(col("doc_id"), col("lang"))
      val top = graft.ops.Corpus.bm25TopK(
        d.filter(col("doc_id") >= 25), d.filter(col("doc_id") < 25), k = 10)
      val wArr = array(NdcgW.map(lit): _*)
      val pArr = array(NdcgWPrefix.map(lit): _*)
      val dcg = top.join(clang, "doc_id").join(broadcast(qlang), "q_id")
        .groupBy("q_id")
        .agg(sum(when(col("lang") === col("q_lang"),
          element_at(wArr, col("rnk").cast("int"))).otherwise(0L)).as("dcg_u6"))
      val nrel = qlang.join(
          broadcast(clang.groupBy("lang").agg(count(lit(1)).as("n_lang"))),
          col("q_lang") === col("lang"), "left")
        .select(col("q_id"), coalesce(col("n_lang"), lit(0L)).as("n_rel"))
      nrel.join(dcg, Seq("q_id"), "left")
        .na.fill(0L, Seq("dcg_u6"))
        .withColumn("idcg_u6",
          element_at(pArr, (least(col("n_rel"), lit(10L)) + 1).cast("int")))
        .withColumn("ndcg_u4",
          when(col("idcg_u6") > 0, expr("dcg_u6 * 10000 div idcg_u6"))
            .otherwise(0L))
        .select(col("q_id"), col("n_rel"), col("dcg_u6"), col("idcg_u6"),
          col("ndcg_u4"))
        .orderBy("q_id")
    }),

    "tfidf_topterms" -> ((s, dir) =>
      graft.ops.Corpus.tfidfTop(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id", "rnk")),

    // corpus-common n-gram fraction per doc (df ≥ 5 across the corpus)
    "text_boilerplate" -> ((s, dir) =>
      graft.ops.Corpus.boilerplate(Tables.documents(s, dir), n = 3, minDf = 5)
        .orderBy("doc_id")),

    // domain-mixture epoch oversampling: deterministic integer +
    // fractional per-source weights realized as doc copies
    "corpus_mix" -> ((s, dir) =>
      graft.ops.Corpus.epochMix(Tables.documents(s, dir))
        .orderBy("doc_id", "copy_id")),

    // PER-SOURCE INCREMENTAL HLL SNAPSHOTS (SURVEY §7 r11 candidate):
    // approx distinct document CONTENTS per source maintained across
    // landing generations WITHOUT rescanning history — generation 1
    // persists its (source, bucket) → max(rho) sketch state as a
    // parquet snapshot; generation 2 folds snapshot ∪ its own state
    // with one groupBy-max (mergeable by construction) into the next
    // snapshot; only the final m-sized state reaches the estimator.
    // The content key is md5(text) (identical in both engines), so the
    // portable-hash DuckDB oracle replays the estimate over the FULL
    // history — mergeability makes the incremental fold invisible in
    // the result, which is exactly the operator's contract (the batch
    // sibling of stream_hll_refresh, keyed by source not day).
    "hll_source_snapshots" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          md5(col("text").cast("binary")).as("k"))
        .once("hll_source_snapshots.docs") // one text scan feeds bounds + both gens
      val (b, r) = graft.ops.HllSketch.bucketRho(s, col("k"))
      def state(df: DataFrame) = df.select(col("source"), b, r)
        .groupBy("source", "bucket").agg(max("rho").as("rho"))
      val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi")).head()
      val mid = bounds.getLong(0) / 2 + bounds.getLong(1) / 2
      val base = graft.sources.Scratch.dir("graft_hll_snap_")
      state(docs.filter(col("doc_id") < mid)).write.parquet(s"$base/v1")
      s.read.parquet(s"$base/v1")
        .unionByName(state(docs.filter(col("doc_id") >= mid)))
        .groupBy("source", "bucket").agg(max("rho").as("rho"))
        .write.parquet(s"$base/v2")
      graft.ops.HllSketch.estimate(s.read.parquet(s"$base/v2"), Seq("source"))
        .withColumnRenamed("est", "est_distinct_texts")
        .orderBy("source")
    }),

    // TEMPERATURE SWEEP over the mixture exponent: the measurement
    // that picks α — quotas at α = 1 (proportional), 1/2 and 1/4 from
    // ONE corpus aggregation (the sweep is a constant 3-way explode of
    // the per-source table, not three corpus passes). Nested integer
    // sqrt keeps every α exact: floor(sqrt(floor(sqrt(n)))) ≡
    // floor(n^(1/4)) (integer-nested-radical identity), so no
    // engine-divergent pow() anywhere. Per-α totals are a 3-row dim —
    // a broadcast equi-join, not a scalar.
    "corpus_mix_alpha_sweep" -> ((s, dir) => {
      val budget = 1000000L
      val isqrt  = "CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)"
      val per = Tables.documents(s, dir)
        .groupBy("source").agg(sum("n_chars").as("n_chars"))
      val v = per.select(col("source"), explode(array(
          struct(lit(10000L).as("alpha_u4"), col("n_chars").as("w")),
          struct(lit(5000L).as("alpha_u4"), expr(isqrt).as("w")),
          struct(lit(2500L).as("alpha_u4"),
            expr(s"CAST(floor(sqrt(CAST($isqrt AS DOUBLE))) AS BIGINT)").as("w"))
        )).as("t"))
        .select(col("source"), col("t.alpha_u4"), col("t.w"))
        .once("corpus_mix_alpha_sweep.v") // feeds the per-α totals AND the quotas
      val tot = v.groupBy("alpha_u4").agg(sum("w").as("w_tot"))
      v.join(broadcast(tot), "alpha_u4")
        .withColumn("quota_chars",
          expr(s"(2*${budget}L*w + w_tot) div (2*w_tot)"))
        .withColumn("share_u4", expr("(2*10000L*w + w_tot) div (2*w_tot)"))
        .select("alpha_u4", "source", "w", "quota_chars", "share_u4")
        .orderBy("alpha_u4", "source")
    }),

    // TEMPERATURE-SCALED SOURCE MIXTURE (multilingual-LM sampling: a
    // source's sampling weight ∝ size^α flattens the head and lifts
    // the tail). α = 1/2 keeps the whole computation EXACT-integer:
    // w_s = floor(sqrt(chars_s)) is exact for chars < 2^50 (IEEE
    // correctly-rounded sqrt is > ulp away from the nearest integer
    // there), and the char-budget quota + u4 share are half-up integer
    // division in both engines (§5 doctrine). One groupBy over the
    // corpus; the scalar total attaches via withScalar.
    "corpus_temperature_mix" -> ((s, dir) => {
      val budget = 1000000L // chars per epoch
      val per = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .withColumn("w_sqrt",
          expr("CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)"))
        .once("corpus_temperature_mix.per") // feeds the scalar AND the quota rows
      val tot = per.agg(sum("w_sqrt").as("w_tot"))
      graft.ops.Scalars.withScalar(per, col("source"), tot, col("w_tot"))
        .withColumn("quota_chars",
          expr(s"(2*${budget}L*w_sqrt + w_tot) div (2*w_tot)"))
        .withColumn("share_u4", expr("(2*10000L*w_sqrt + w_tot) div (2*w_tot)"))
        .select("source", "n_docs", "n_chars", "w_sqrt", "quota_chars", "share_u4")
        .orderBy("source")
    }),

    // EPOCH / REPEAT PLANNING: the decision AFTER the temperature mix —
    // a TOTAL training budget spread over the sqrt-temperature shares
    // implies a repeat factor (epochs) per source; grants cap at 4
    // epochs (the data-constrained repetition rule of thumb) and the
    // unmet remainder is reported as deficit, so the capped mass is
    // auditable before anyone re-normalizes. Same plan shape as the
    // temperature mix: one corpus aggregation + one broadcast scalar;
    // §5 half-up integer units throughout.
    "corpus_epoch_plan" -> ((s, dir) => {
      val budget = 10000000L // total training chars across all epochs
      val per = Tables.documents(s, dir)
        .groupBy("source").agg(sum("n_chars").as("n_chars"))
        .withColumn("w_sqrt",
          expr("CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)"))
        .once("corpus_epoch_plan.per") // feeds the scalar AND the plan rows
      val tot = per.agg(sum("w_sqrt").as("w_tot"))
      graft.ops.Scalars.withScalar(per, col("source"), tot, col("w_tot"))
        .withColumn("quota_chars",
          expr(s"(2*${budget}L*w_sqrt + w_tot) div (2*w_tot)"))
        .withColumn("epochs_u4",
          expr("(2*10000L*quota_chars + n_chars) div (2*n_chars)"))
        .withColumn("granted_chars", expr("least(quota_chars, 4*n_chars)"))
        .withColumn("deficit_chars", col("quota_chars") - col("granted_chars"))
        .withColumn("capped",
          when(col("quota_chars") > col("n_chars") * 4, 1L).otherwise(0L))
        .select("source", "n_chars", "w_sqrt", "quota_chars", "epochs_u4",
          "granted_chars", "deficit_chars", "capped")
        .orderBy("source")
    }),

    // QUALITY-AWARE MIXTURE: the DCLM-style refinement of the source
    // mix — chars bucket by the 4dp quality score (hi ≥ .8 ×3,
    // mid ≥ .5 ×2, lo ×1) and quotas follow the up-weighted mass per
    // (source, bucket). The score is re-quantized to exact u4 integers
    // BEFORE bucketing, so thresholds compare integers and every
    // downstream number stays in the §5 doctrine. One scoring pass,
    // one aggregation, one broadcast scalar.
    "corpus_quality_mix" -> ((s, dir) => {
      val budget = 1000000L
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_chars"),
          round(col("quality_score") * 10000).cast("bigint").as("qu4"))
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val per = q.join(d, "doc_id")
        .withColumn("q_bucket", when(col("qu4") >= 8000, "hi")
          .when(col("qu4") >= 5000, "mid").otherwise("lo"))
        .withColumn("mult", when(col("qu4") >= 8000, 3L)
          .when(col("qu4") >= 5000, 2L).otherwise(1L))
        .groupBy("source", "q_bucket")
        .agg(first("mult").as("mult"), count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"))
        .withColumn("w", col("mult") * col("chars"))
        .once("corpus_quality_mix.per") // feeds the scalar AND the quota rows
      val tot = per.agg(sum("w").as("w_tot"))
      graft.ops.Scalars.withScalar(per, col("source"), tot, col("w_tot"))
        .withColumn("quota_chars",
          expr(s"(2*${budget}L*w + w_tot) div (2*w_tot)"))
        .withColumn("share_u4", expr("(2*10000L*w + w_tot) div (2*w_tot)"))
        .select("source", "q_bucket", "n_docs", "chars", "w",
          "quota_chars", "share_u4")
        .orderBy("source", "q_bucket")
    }),

    // PII SCRUB AUDIT — the redaction stage that runs before anything
    // else in a public-web ingest (emails / IPv4s / phone numbers →
    // placeholder tokens). Regexes from the Java∩RE2 subset, PII
    // injected deterministically from doc_id (the mm_* fake-payload
    // doctrine — the synthetic corpus has no digits), and n_residual
    // re-scans the redacted text INSIDE the gated result (must be 0).
    // Per-row codegen'd regex map + a |sources|-row rollup.
    "text_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir)).orderBy("source")),

    // PII scrub APPLIED (VERDICT r14 item 4): the redacted corpus is
    // the actual product — per doc, the class hit counts (cards
    // Luhn-gated: n_card redacted, n_card_reject candidates the
    // checksum cleared to stay), chars cut, the residual re-scan, and
    // red_md5 fingerprinting the redacted text so the oracle pins the
    // rewrite byte-for-byte (the dedup_substring_apply convention).
    // Spark gates candidates with the built-in codegen'd luhn_check;
    // the oracle replays the mod-10 sum digit by digit.
    "text_pii_apply" -> ((s, dir) =>
      TextAnalysis.piiPerDoc(Tables.documents(s, dir))
        .select(col("doc_id"), col("source"),
          col("e").as("n_email"), col("i").as("n_ip"), col("p").as("n_phone"),
          col("card").as("n_card"), col("card_rej").as("n_card_reject"),
          col("cut").as("chars_cut"), col("resid").as("n_residual"),
          md5(col("red")).as("red_md5"))
        .orderBy("doc_id")),

    // DSIR importance resampling (Xie et al. 2023): hashed-unigram
    // likelihood ratio toward the labeled-English target slice, top-20%
    // selection by (rounded score, doc_id) through the sampled-boundary
    // global rank — per-source selection audit. The corpus reduces once
    // to integer (doc, bucket) counts; the 64-row ratio table
    // broadcasts, so scoring is map-side.
    "corpus_dsir" -> ((s, dir) =>
      graft.ops.Select.dsir(Tables.documents(s, dir)).orderBy("source")),

    // DoReMi-style domain mixture reweighting: 3 multiplicative-weight
    // rounds on per-domain excess loss KL(p_d ‖ q_t) against the
    // CURRENT mixture q_t over Laplace-smoothed hashed-unigram domain
    // models — the corpus reduces once to a domains×buckets grid and
    // every round is grid-sized algebra across PlanBarrier.cut.
    "corpus_doremi" -> ((s, dir) =>
      graft.ops.Select.doremi(Tables.documents(s, dir)).orderBy("source")),

    // DSIR scoring at LANDING cadence (corpus_dsir's frozen-model
    // streaming member): gen-1-frozen 64-row ratio table broadcast to
    // every landing batch, per-doc scores quantized to exact integer
    // u4 = round(logw·10⁴) so only ADDITIVE per-source counters fold;
    // the selection stand-in is the fixed threshold logw >= 0 (a rank
    // needs the whole corpus, a threshold doesn't)
    "stream_dsir_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.dsirIngest(s, dir)),

    // DoReMi at LANDING cadence: the only corpus-scale state is the
    // ADDITIVE integer (source, bucket) count grid + per-source doc
    // counts, folded per batch; the mixture algebra re-runs from the
    // folded store after the last generation — integer folds are
    // exact, so this IS corpus_doremi (shared oracle + spec pin)
    "stream_doremi_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.doremiIngest(s, dir)),

    // SoftDeDup at LANDING cadence (r15 — completes the family's
    // streaming column): the per-doc distinct-8-gram POSTING table is
    // append-only, so each batch appends O(Δ) (doc_id, gram-hash)
    // rows and the DF → commonness → 1/commonness algebra re-runs
    // from the folded store after the last generation (weights change
    // RETROACTIVELY as landings raise gram DFs — the reason they
    // re-derive instead of folding per doc). Result IS
    // dedup_soft_weights row for row (shared oracle + spec pin)
    "stream_soft_weights" -> ((s, dir) =>
      graft.streaming.EventStreams.softWeightsIngest(s, dir)),

    // the DSIR deploy knob: budget sweep (10/20/40%) over ONE scoring
    // pass and ONE global rank — each budget row filters the shared
    // checkpointed rank table; target capture audits how much of the
    // labeled-English slice each budget recovers.
    // Domain assumption (ADVICE r14): the corpus must have >= 10 docs
    // so the smallest budget (10%) selects at least one — below that,
    // the Spark side would emit a null-shaped row where the oracle's
    // inner join emits none. Every fixture is >= 500 docs; a caller
    // sweeping a micro-corpus should drop the 10% point instead.
    "corpus_dsir_sweep" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select("doc_id", "source", "lang", "text")
      val ranked = graft.ops.Select.dsirRanked(d)
        .join(d.select("doc_id", "lang"), "doc_id")
        .once("corpus_dsir_sweep.ranked") // one scoring pass serves all budgets
      val tot = ranked.agg(count(lit(1)).as("n_total"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      val wt = Scalars.withScalar(ranked, col("doc_id"), tot, col("n_total"))
      Seq(10L, 20L, 40L).map { f =>
        wt.filter(col("rnk") <= expr(s"($f * n_total) div 100"))
          .agg(count(lit(1)).as("n_sel"),
            coalesce(sum(when(col("lang") === "en", 1L).otherwise(0L)),
              lit(0L)).as("n_sel_target"),
            max("n_en").as("n_en"),
            // integer-u4 sum, never a float avg (the dsir doctrine)
            round(sum(expr("CAST(round(m4 * 10000) AS BIGINT)"))
              / (count(lit(1)) * 10000.0), 4).as("avg_logw_sel"))
          .select(lit(f).as("frac_pct"), col("n_sel"), col("n_sel_target"),
            round(col("n_sel_target") / col("n_en"), 4).as("target_capture"),
            col("avg_logw_sel"))
      }.reduce(_ unionByName _).orderBy("frac_pct")
    }),

    // DSIR over hashed BIGRAM features (VERDICT r14 item 3 — the
    // paper's actual feature space: Xie et al. hash n-grams, not
    // words): same seed-37 buckets, same Laplace ratio, same top-20%
    // (rounded score, doc_id) selection through the SHARED dsirRanked
    // machinery — only the gram stream changes (per-row token-pair
    // concat, zero extra shuffles). A doc shorter than 2 tokens
    // contributes no counts and drops from the scored set in BOTH
    // engines (the inner-join convention, documented at
    // Select.docBucketCounts).
    "corpus_dsir_2gram" -> ((s, dir) =>
      graft.ops.Select.dsir(Tables.documents(s, dir), ngram = 2)
        .orderBy("source")),

    // CURRICULUM ORDER PLAN: rank every doc by (quality u4 DESC,
    // doc_id) through the sampled-boundary global rank (no single-task
    // sort) and cut into 8 equal-count shards — easy/clean data first,
    // the ordering a curriculum-training schedule consumes. Per shard:
    // docs, token mass, and the quality envelope, which is monotone by
    // construction (shard i's min qu4 >= shard i+1's max qu4 — spec
    // pin). Same rank-then-bucket shape as text_len_deciles.
    "corpus_curriculum" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          round(col("quality_score") * 10000).cast("bigint").as("qu4"))
      val ranked = graft.ops.Rank.globalRankByRange(q, "qu4", "doc_id",
        numBlocks = 8)
      val tot = q.agg(count(lit(1)).as("n_total"))
      graft.ops.Scalars.withScalar(ranked, col("doc_id"), tot, col("n_total"))
        .withColumn("shard", expr("((rnk - 1) * 8) div n_total"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
        .orderBy("shard")
    }),

    // TOKEN-MASS curriculum (r15, VERDICT r14 item 6): training
    // schedulers consume equal TOKEN budgets, not equal doc counts —
    // same (quality u4 DESC, doc_id) ordering as corpus_curriculum,
    // but the 8 shards cut on the PREFIX-SUMMED token column: shard =
    // (tokens_before · 8) div total_tokens, so each shard carries
    // ~equal token mass (within one document of exact). The prefix sum
    // in rank order is the seq_pack two-level cumsum keyed on rnk
    // (rnk is a unique dense positive integer — blocks from floor
    // division, only the per-block offset table crosses an
    // unpartitioned window). Envelope stays monotone by construction
    // (the ordering is unchanged; only the cut moves).
    "corpus_curriculum_tokens" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          round(col("quality_score") * 10000).cast("bigint").as("qu4"))
      val ranked = graft.ops.Rank.globalRankByRange(q, "qu4", "doc_id",
          numBlocks = 8)
        .withColumn("blk", expr("(rnk - 1) div 1024L"))
        .shared("corpus_curriculum_tokens.numBlocks") // within-block cumsum AND block offsets
      val wIn = Window.partitionBy("blk").orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranked.groupBy("blk").agg(sum("n_tokens").as("blk_sum"))
        .withColumn("blk_off", coalesce(sum("blk_sum").over(wBlk), lit(0L)))
        .select("blk", "blk_off")
      val cum = ranked.withColumn("cum_in", sum("n_tokens").over(wIn))
        .join(broadcast(offsets), "blk")
        .withColumn("cum_before",
          col("blk_off") + col("cum_in") - col("n_tokens"))
      val tot = cum.agg(sum("n_tokens").as("tot_tokens"))
      graft.ops.Scalars.withScalar(cum, col("doc_id"), tot, col("tot_tokens"))
        .withColumn("shard", expr("(cum_before * 8) div tot_tokens"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
        .orderBy("shard")
    }),

    // CURRICULUM → PACKING handoff e2e (VERDICT r15 item 6): the
    // composed path a training-data scheduler actually runs — rank by
    // (quality u4 DESC, doc_id), cut 8 equal-token-mass shards on the
    // prefix-summed token column (corpus_curriculum_tokens verbatim),
    // then WITHIN each shard pack the curriculum order into
    // 2048-token sequences: bins restart at each shard's first token
    // offset (an 8-row broadcast), so bin = (cum_before − shard_off)
    // div 2048. BOTH prefix sums are the two-level decomposition —
    // the global one blocks on rnk, the within-shard one is pure
    // arithmetic on the already-computed global cumsum (no second
    // window at all). Per shard: docs, token mass, sequence count,
    // and the half-up u4 fill factor (sum_tokens / (n_seqs·2048)) —
    // the padding-waste number a trainer budgets against.
    "corpus_pack_e2e" -> ((s, dir) => {
      val q = TextAnalysis.quality(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          round(col("quality_score") * 10000).cast("bigint").as("qu4"))
      val ranked = graft.ops.Rank.globalRankByRange(q, "qu4", "doc_id",
          numBlocks = 8)
        .withColumn("blk", expr("(rnk - 1) div 1024L"))
        .shared("corpus_pack_e2e.numBlocks") // within-block cumsum AND block offsets
      val wIn = Window.partitionBy("blk").orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = ranked.groupBy("blk").agg(sum("n_tokens").as("blk_sum"))
        .withColumn("blk_off", coalesce(sum("blk_sum").over(wBlk), lit(0L)))
        .select("blk", "blk_off")
      val cum = ranked.withColumn("cum_in", sum("n_tokens").over(wIn))
        .join(broadcast(offsets), "blk")
        .withColumn("cum_before",
          col("blk_off") + col("cum_in") - col("n_tokens"))
      val tot = cum.agg(sum("n_tokens").as("tot_tokens"))
      val sharded = graft.ops.Scalars
        .withScalar(cum, col("doc_id"), tot, col("tot_tokens"))
        .withColumn("shard", expr("(cum_before * 8) div tot_tokens"))
        .once("corpus_pack_e2e.sharded") // shard starts AND the bin assignment
      val starts = sharded.groupBy("shard")
        .agg(min("cum_before").as("shard_off"))
      sharded.join(broadcast(starts), "shard")
        .withColumn("bin", expr("(cum_before - shard_off) div 2048L"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          (max("bin") + 1).cast("bigint").as("n_seqs"),
          min("qu4").as("min_qu4"), max("qu4").as("max_qu4"))
        .withColumn("fill_u4",
          expr("(2*10000L*sum_tokens + n_seqs*2048L) div (2*n_seqs*2048L)"))
        .orderBy("shard")
    }),

    // PII counters at LANDING cadence: per-batch map-side regex
    // detect/redact/residual counters fold additively per source;
    // clean_rate re-derived at emission — the fold equals the one-shot
    // text_pii_scrub (shared oracle + StreamingSpec pin)
    "stream_pii_ingest" -> ((s, dir) =>
      graft.streaming.EventStreams.piiIngest(s, dir)),

    // SOFT dedup (SoftDeDup, Xue et al. 2024): instead of REMOVING
    // near-dups, down-weight documents by their duplicated-mass
    // "commonness" — the mean document frequency of the doc's distinct
    // 8-token grams — and emit sampling weight ∝ 1/commonness. All
    // integer math: comm_u4 and weight_u4 via the half-up
    // (2·10⁴·a + b) div (2b) pattern, so the key is EXACT (no float
    // anywhere). Same plan shape as text_span_dedup: one exploded gram
    // table (checkpointed), gram-keyed df, co-keyed join back, doc fold.
    "dedup_soft_weights" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ex = Dedup.shingleSets(docs, 8)
        .select(col("doc_id"), explode(col("sh")).as("g"))
        .once("dedup_soft_weights.ex") // feeds the df count and the join back
      val dft = ex.groupBy("g").agg(count(lit(1)).as("df"))
      val per = ex.join(dft, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"), sum("df").as("sum_df"))
      docs.select("doc_id").join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("sum_df"), lit(0L)).as("sum_df"),
          when(col("n_grams") > 0,
            expr("(2*10000*sum_df + n_grams) div (2*n_grams)")).as("comm_u4"),
          when(col("n_grams") > 0,
            expr("(2*10000*n_grams + sum_df) div (2*sum_df)")).as("weight_u4"))
        .orderBy("doc_id")
    }),

    // D4 pruning (Tirumala et al. 2023): SemDeDup first (in-cell
    // cosine >= 0.35 families, min-id root survives), then drop the
    // most PROTOTYPICAL tenth of each cell's survivors — the vectors
    // closest to their own centroid carry the least marginal
    // information. Prototypicality ranks on the half-up ×10⁴ cosine
    // (the ivfSilhouette quantization doctrine) with a vec_id tiebreak,
    // so the cut is integer-deterministic; the rank window is
    // cell-bounded, never global. Per cell: n_vecs, n_semdup_pruned,
    // n_surv, n_proto_pruned, n_kept.
    "emb_d4_prune" -> ((s, dir) => {
      // shared family artifacts (r17): assignment (with the cos_u4
      // prototypicality column this key ranks on) and the 0.35 CC
      // roots are the same tables dedup_semantic collapses on
      val assigned = CorpusArtifacts.semAssigned(s, dir)
      val roots = CorpusArtifacts.semRoots35(s, dir)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      val surv = assigned.join(roots, "vec_id")
        .withColumn("is_root",
          (col("vec_id") === col("cluster_id")).cast("int"))
        .shared("emb_d4_prune.surv") // feeds the rollup AND the survivor rank
      val ns = surv.filter(col("is_root") === 1)
        .groupBy("cell").agg(count(lit(1)).as("n_surv"))
      val w = Window.partitionBy("cell")
        .orderBy(col("cos_u4").desc, col("vec_id"))
      val proto = surv.filter(col("is_root") === 1)
        .withColumn("r", row_number().over(w))
        .join(broadcast(ns), "cell")
        .groupBy("cell")
        .agg(sum((col("r") <= expr("n_surv div 10")).cast("long"))
          .as("n_proto_pruned"))
      surv.groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("is_root") === 1, 0L).otherwise(1L))
            .as("n_semdup_pruned"))
        .join(broadcast(ns), Seq("cell"), "left")
        .join(broadcast(proto), Seq("cell"), "left")
        .select(col("cell").cast("long").as("cell"), col("n_vecs"),
          col("n_semdup_pruned"),
          coalesce(col("n_surv"), lit(0L)).as("n_surv"),
          coalesce(col("n_proto_pruned"), lit(0L)).as("n_proto_pruned"),
          (coalesce(col("n_surv"), lit(0L)) -
            coalesce(col("n_proto_pruned"), lit(0L))).as("n_kept"))
        .orderBy("cell")
    }),
  )

  /** BPE init state shared by vocab_bpe_learn/vocab_bpe_apply: the
    * token-frequency vocabulary with each token exploded to a
    * space-delimited character-symbol string (leading space = word
    * boundary marker for the merge patterns). */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .withColumn("s", concat(lit(" "),
        regexp_replace(col("tok"), "(.)", "$1 ")))

  /** One BPE round's argmax pair over the space-delimited vocab
    * (count desc, pair asc — the deterministic tie order both engines
    * share). The 1-row driver pull is BPE's inherent sequential
    * dependency — same bounded contract as the IVF centroid pulls. */
  private def bpeBestPair(words: DataFrame): (String, String, Long) = {
    val best = words
      .select(col("cnt"), split(trim(col("s")), " ").as("a"))
      .filter(size(col("a")) >= 2) // sequence(1,0) would descend
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(a)-1), " +
          "i -> struct(element_at(a, i) AS x, element_at(a, i+1) AS y))"))
        .as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(sum("cnt").as("pc"))
      .orderBy(col("pc").desc, col("x"), col("y")).limit(1)
      .head()
    (best.getString(0), best.getString(1), best.getLong(2))
  }

  /** The two-pass leftmost-non-overlapping merge application (pass 2
    * catches alternating occurrences whose delimiter pass 1 consumed).
    * Symbols are [a-z0-9]+ — safe to splice into the SQL literal. */
  private def bpeMergeExpr(bx: String, by: String): Column =
    expr(s"replace(replace(s, ' $bx $by ', ' $bx$by '), ' $bx $by ', ' $bx$by ')")

  // Shared DuckDB fragments (SURVEY §5: Spark∩DuckDB regex/token subset).
  private val toks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  /** LEB128 varint byte width of a positive gap column `g` — ONE
    * literal CASE chain spliced into BOTH engines (index_varint_audit);
    * 9 seven-bit groups cover every positive BIGINT, no float log. */
  private val varintBytesCase: String =
    (1 to 8).map(b => s"WHEN g < ${1L << (7 * b)} THEN $b")
      .mkString("CASE ", " ", " ELSE 9 END")

  /** Largest power of two ≤ the BIGINT `df` column (≥1) — the df
    * bucketing chain index_varint_audit splices into both engines. */
  private val pow2FloorDf: String =
    (30 to 1 by -1).map(k => s"WHEN df >= ${1L << k} THEN ${1L << k}")
      .mkString("CASE ", " ", " ELSE 1 END")

  import DuckHash.{sx, fnvHx, ghashSql, goldenU, pow2List}

  /** The kNN edge set CTE chain (`e`→`s`→`r`→`ed`) both graph oracles
    * share: Similarity.lshTopK(k=3, 4 planes, seed 42) replayed, edges
    * canonicalized a < b and deduped. */
  private lazy val knnEdgeCtes: String = {
    val bucketExpr = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map {
      case (p, i) =>
        val lit = "[" + p.mkString(",") + "]"
        s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n|    + ")
    s"""e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    $bucketExpr AS bucket
       |  FROM embeddings),
       |s AS (
       |  SELECT p.vec_id AS src, e.vec_id AS dst,
       |    list_sum(list_transform(range(1,65), i -> p.v[i]*e.v[i]))
       |      / (sqrt(list_sum(list_transform(p.v, x -> x*x)))
       |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
       |  FROM e JOIN e p ON e.bucket = p.bucket AND e.vec_id <> p.vec_id),
       |r AS (SELECT src, dst,
       |        row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
       |      FROM s),
       |ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |       FROM r WHERE rank <= 3)""".stripMargin
  }

  /** Full IVF replay, parameterized over the quantizer TRAINING set
    * (`buildWhere` filters seeds + Lloyd refinement — empty trains on
    * everything) and the probe predicate. Assignment and search always
    * cover the full corpus, mirroring Similarity.ivfTopK's buildFilter.
    * The `thr` CTE (3·(max+1)/4 — the generation boundary) is defined
    * unconditionally; it is simply unused by the full-build variant. */
  /** Full independent LSH top-5 replay (Similarity.lshTopK defaults):
    * the hyperplanes are seed-deterministic engine constants
    * (Similarity.hyperplanes(8, 64, seed=42)), baked into the SQL as
    * list literals; DuckDB re-derives the same sign-bit buckets and
    * in-bucket top-k fully independently. Shared by ann_lsh and the
    * rank-fusion oracle. */
  private lazy val lshTopSql: String = {
    val bucketExpr = Similarity.hyperplanes(8, 64, 42L).zipWithIndex.map {
      case (p, i) =>
        val lit = "[" + p.mkString(",") + "]"
        s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n|    + ")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    $bucketExpr AS bucket
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, v AS pv, bucket FROM e WHERE vec_id < 10),
       |s AS (
       |  SELECT probe_id, e.vec_id, e.bucket,
       |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
       |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
       |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
       |  FROM e JOIN p ON e.bucket = p.bucket AND e.vec_id <> probe_id),
       |r AS (SELECT probe_id, vec_id, bucket, cos,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |      FROM s)
       |SELECT probe_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos, bucket
       |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
  }

  private def ivfReplaySql(buildWhere: String, probeWhere: String,
                           kLimit: Int = 5): String =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
       |eb AS (SELECT * FROM e $buildWhere),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
       |  FROM eb QUALIFY cell < 16),
       |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
       |a0 AS (
       |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
       |               sd.cell DESC) AS rk
       |  FROM eb e CROSS JOIN sd QUALIFY rk = 1),
       |r0 AS (
       |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
       |  FROM a0, unnest(range(1, 65)) t(i)
       |  GROUP BY cell, i),
       |rc AS (
       |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
       |         list(m ORDER BY pos) AS c
       |  FROM r0 GROUP BY cell),
       |rcn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
       |corp AS (
       |  SELECT e.vec_id, e.v, e.nrm, rcn.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
       |               rcn.cell DESC) AS rk
       |  FROM e CROSS JOIN rcn QUALIFY rk = 1),
       |pr AS (
       |  SELECT e.vec_id AS probe_id, e.v AS pv, e.nrm AS pn, rcn.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
       |               rcn.cell DESC) AS rk
       |  FROM e CROSS JOIN rcn WHERE $probeWhere QUALIFY rk <= 4),
       |s AS (
       |  SELECT pr.probe_id, corp.vec_id, corp.cell,
       |    list_sum(list_transform(range(1,65), i -> pr.pv[i]*corp.v[i])) / (pr.pn*corp.nrm) AS cos
       |  FROM corp JOIN pr ON corp.cell = pr.cell AND corp.vec_id <> pr.probe_id),
       |r AS (SELECT probe_id, vec_id, cell, cos,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
       |      FROM s)
       |SELECT probe_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos, cell
       |FROM r WHERE rank <= $kLimit ORDER BY probe_id, rank""".stripMargin

  /** Unrolled 2-step Lloyd replay for ann_ivf_lloyd_curve: seeds →
    * assign → 6dp means → assign → 6dp means → assign, per-row
    * u6-quantized cosine inertia summed as integers. Mirrors
    * ivfReplaySql's conventions (same seed order, same compacting
    * cell renumbering after each refinement — matching the engine's
    * collect-into-array index semantics, same DESC tie order). */
  private lazy val ivfLloydCurveSql = {
    def assign(cs: String, out: String): String =
      s"""$out AS (
         |  SELECT e.vec_id, $cs.cell,
         |    list_sum(list_transform(range(1,65), i -> e.v[i]*$cs.c[i])) / (e.nrm*$cs.cn) AS cos,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*$cs.c[i])) / (e.nrm*$cs.cn) DESC,
         |               $cs.cell DESC) AS rk
         |  FROM e CROSS JOIN $cs QUALIFY rk = 1)""".stripMargin
    def refine(a: String, i: Int): String =
      s"""r$i AS (
         |  SELECT $a.cell AS acell, i AS pos, round(avg(e.v[i]), 6) AS m
         |  FROM $a JOIN e USING (vec_id), unnest(range(1, 65)) t(i)
         |  GROUP BY 1, 2),
         |rc$i AS (SELECT row_number() OVER (ORDER BY acell) - 1 AS cell,
         |           list(m ORDER BY pos) AS c
         |         FROM r$i GROUP BY acell),
         |c$i AS (SELECT cell, c,
         |          sqrt(list_sum(list_transform(c, x -> x*x))) AS cn
         |        FROM rc$i)""".stripMargin
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
       |  FROM e QUALIFY cell < 16),
       |c0 AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
       |${assign("c0", "a0")},
       |${refine("a0", 1)},
       |${assign("c1", "a1")},
       |${refine("a1", 2)},
       |${assign("c2", "a2")},
       |d AS (SELECT a0.vec_id,
       |        a0.cell AS cell_0, a1.cell AS cell_1, a2.cell AS cell_2,
       |        CAST(round((1-a0.cos)*1000000) AS BIGINT) AS d0,
       |        CAST(round((1-a1.cos)*1000000) AS BIGINT) AS d1,
       |        CAST(round((1-a2.cos)*1000000) AS BIGINT) AS d2
       |      FROM a0 JOIN a1 USING (vec_id) JOIN a2 USING (vec_id))
       |SELECT * FROM (
       |  SELECT CAST(0 AS BIGINT) AS iter, CAST(count(*) AS BIGINT) AS n_vecs,
       |    CAST(0 AS BIGINT) AS n_moved, CAST(sum(d0) AS BIGINT) AS inertia_u6
       |  FROM d
       |  UNION ALL
       |  SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
       |    CAST(sum(CASE WHEN cell_1 <> cell_0 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(d1) AS BIGINT)
       |  FROM d
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
       |    CAST(sum(CASE WHEN cell_2 <> cell_1 THEN 1 ELSE 0 END) AS BIGINT),
       |    CAST(sum(d2) AS BIGINT)
       |  FROM d)
       |ORDER BY iter""".stripMargin
  }

  // Full replay of the streaming HLL state + estimator at day grain
  // (same portable hash, bucket/rho split, max-rho merge and float
  // finish as the batch m_sketch_distinct oracle). stream_distinct and
  // stream_hll_refresh share it verbatim: the incremental two-pass
  // refresh must converge to exactly the one-pass estimate.
  private lazy val hllDayReplaySql =
    s"""WITH o AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period,
       |            CAST(user_id AS VARCHAR) AS s FROM events),
       |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
       |       FROM (SELECT DISTINCT s FROM o)),
       |h AS (SELECT s, ${ghashSql(fnvHx, "0")} AS hu FROM tb),
       |br AS (SELECT s, hu // 4503599627370496 AS bucket,
       |              (hu % 4503599627370496) * 4096 AS w FROM h),
       |rr AS (SELECT s, bucket, ${DuckHash.rhoChainSql} AS rho FROM br),
       |mb AS (SELECT o.period, rr.bucket, max(rr.rho) AS rho
       |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
       |ag AS (SELECT period, count(*) AS nz, sum(power(0.5, rho)) AS sp
       |       FROM mb GROUP BY 1),
       |fin AS (SELECT period,
       |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
       |          4096 - nz AS zeros
       |        FROM ag)
       |SELECT period,
       |  CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
       |             THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT) AS est_users
       |FROM fin ORDER BY period""".stripMargin

  // Per-source sibling of hllDayReplaySql, keyed on md5(text):
  // hll_source_snapshots (batch snapshot fold) and
  // stream_hll_source_refresh (checkpoint-cadence fold) share it
  // verbatim — max-rho mergeability makes both incremental paths
  // identical to this one-shot full-history replay.
  private lazy val hllSourceReplaySql =
    s"""WITH o AS (SELECT source, md5(text) AS s FROM documents),
       |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
       |       FROM (SELECT DISTINCT s FROM o)),
       |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
       |br AS (SELECT s, hu // 4503599627370496 AS bucket,
       |              (hu % 4503599627370496) * 4096 AS w FROM h),
       |rr AS (SELECT s, bucket, ${DuckHash.rhoChainSql} AS rho FROM br),
       |mb AS (SELECT o.source, rr.bucket, max(rr.rho) AS rho
       |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
       |ag AS (SELECT source, count(*) AS nz, sum(power(0.5, rho)) AS sp
       |       FROM mb GROUP BY 1),
       |fin AS (SELECT source,
       |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
       |          4096 - nz AS zeros
       |        FROM ag)
       |SELECT source,
       |  CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
       |             THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT)
       |    AS est_distinct_texts
       |FROM fin ORDER BY source""".stripMargin

  // One-shot hash-min bottom-k replay — sample_bottomk (batch) and
  // stream_sample_bottomk (incremental fold) share it: hash-min
  // mergeability makes the streamed store equal this full-corpus scan.
  private lazy val bottomKReplaySql =
    s"""WITH tb AS (
       |  SELECT doc_id, n_chars, hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
       |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
       |  FROM documents),
       |h AS (SELECT doc_id, n_chars, ${DuckHash.sx(DuckHash.ghashSql(DuckHash.fnvHx, "13"))} AS h FROM tb)
       |SELECT doc_id, n_chars, h FROM h
       |ORDER BY h ASC, doc_id LIMIT 100""".stripMargin

  // Shared minhash replay prelude (shingles → portable double hash →
  // 128 permutation minima → 16-band buckets → candidate pairs);
  // dedup_minhash and dedup_minhash_calib both build on it.
  private lazy val minhashPrelude =
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])) AS s
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
       |       FROM (SELECT DISTINCT s FROM sh)),
       |h31 AS (SELECT s,
       |  ((${sx(ghashSql(fnvHx, "0"))} % 2147483648) + 2147483648) % 2147483648 AS ha,
       |  ((${sx(ghashSql(fnvHx, goldenU))} % 2147483648) + 2147483648) % 2147483648 AS hb
       |  FROM tb),
       |pm AS (
       |  SELECT sh.doc_id, j, min(ha + j*hb) AS mh
       |  FROM sh JOIN h31 USING (s), unnest(range(0, 128)) r(j)
       |  GROUP BY sh.doc_id, j),
       |sig AS (SELECT doc_id, list(mh ORDER BY j) AS sg FROM pm GROUP BY doc_id),
       |bd AS (
       |  SELECT doc_id, b, array_to_string(sg[b*8+1 : b*8+8], ',') AS bs
       |  FROM sig, unnest(range(0, 16)) r(b)),
       |bk AS (SELECT b, bs, list_sort(list(doc_id)) AS ids
       |       FROM bd GROUP BY b, bs HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT ids[x] AS id1, ids[y] AS id2
       |  FROM bk, unnest(range(1, len(ids)+1)) a(x), unnest(range(1, len(ids)+1)) c(y)
       |  WHERE x < y)""".stripMargin

  /** Shared gen1-frozen 8-cell occupancy replay — the one-shot batch
    * equivalent of the streamed (cell, n_vecs, n_landed) store. Used
    * verbatim by stream_ivf_ingest and as stream_ivf_drift's CTE
    * input. No trailing ORDER BY: callers add their own sort. */
  private val ivfIngestOccSql =
    """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
      |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
      |eb AS (SELECT e.* FROM e, thr WHERE e.vec_id < thr.t),
      |seeds AS (
      |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
      |  FROM eb QUALIFY cell < 8),
      |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
      |a0 AS (
      |  SELECT eb.vec_id, eb.v, eb.nrm, sd.cell,
      |    row_number() OVER (PARTITION BY eb.vec_id
      |      ORDER BY list_sum(list_transform(range(1,65), i -> eb.v[i]*sd.c[i])) / (eb.nrm*sd.cn) DESC,
      |               sd.cell DESC) AS rk
      |  FROM eb CROSS JOIN sd QUALIFY rk = 1),
      |m0 AS (
      |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
      |  FROM a0, unnest(range(1, 65)) t(i)
      |  GROUP BY cell, i),
      |rc AS (
      |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
      |         list(m ORDER BY pos) AS c
      |  FROM m0 GROUP BY cell),
      |rn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
      |corp AS (
      |  SELECT e.vec_id, rn.cell,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
      |               rn.cell DESC) AS rk
      |  FROM e CROSS JOIN rn QUALIFY rk = 1)
      |SELECT corp.cell, CAST(count(*) AS BIGINT) AS n_vecs,
      |  CAST(sum(CASE WHEN corp.vec_id >= thr.t THEN 1 ELSE 0 END) AS BIGINT) AS n_landed
      |FROM corp, thr GROUP BY 1""".stripMargin

  /** Replay prelude for the quality_clf_* family: weak labels from the
    * filter-chain rules, distinct-token portable hashes bucketed
    * mod 256 (+ the bias bucket −1), then `rounds` UNROLLED full-batch
    * perceptron updates at the halving step 2^(rounds−r) — w1 is the
    * all-misclassified first round (margins under empty weights are 0),
    * and each later round r is margins under w(r−1) → mis(r) → delta →
    * w(r). `trainWhere` restricts the TRAINING rows (fxt/lblt) while
    * fx/lbl stay corpus-wide for scoring — the frozen-gen1 stream
    * replay uses it. Ends inside the WITH clause so callers append
    * their own final CTEs/SELECT. */
  private def qualityClfPrelude(rounds: Int, trainWhere: String = ""): String = {
    val head =
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r0 AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens, stopword_ratio, dup_ratio,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS quality_score
         |  FROM r0),
         |lbl AS MATERIALIZED (
         |  SELECT doc_id, CASE WHEN n_tokens < 20 OR dup_ratio > 0.6
         |      OR stopword_ratio = 0.0 OR quality_score < 0.75
         |    THEN -1 ELSE 1 END AS y
         |  FROM q),
         |tok AS (SELECT DISTINCT doc_id, s
         |        FROM (SELECT doc_id, unnest(toks) AS s FROM t)),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tok)),
         |th AS (SELECT s, ${sx(ghashSql(fnvHx, "29"))} AS h FROM tb),
         |fx AS MATERIALIZED (SELECT DISTINCT doc_id, ((h % 256) + 256) % 256 AS b
         |       FROM tok JOIN th USING (s)
         |       UNION ALL SELECT doc_id, -1 AS b FROM t),
         |trn AS (SELECT doc_id FROM t $trainWhere),
         |fxt AS MATERIALIZED (SELECT fx.* FROM fx JOIN trn USING (doc_id)),
         |lblt AS MATERIALIZED (SELECT lbl.* FROM lbl JOIN trn USING (doc_id)),
         |w1 AS MATERIALIZED (SELECT b, CAST(sum(y) * ${1L << (rounds - 1)} AS BIGINT) AS w
         |       FROM fxt JOIN lblt USING (doc_id) GROUP BY 1)""".stripMargin
    val later = (2 to rounds).map { r =>
      s"""m$r AS (SELECT l.doc_id, l.y, coalesce(sum(w.w), 0) AS marg
         |      FROM lblt l JOIN fxt USING (doc_id)
         |      LEFT JOIN w${r - 1} w ON fxt.b = w.b
         |      GROUP BY 1, 2),
         |mis$r AS MATERIALIZED (SELECT doc_id, y FROM m$r WHERE y * marg <= 0),
         |d$r AS (SELECT b, sum(y) * ${1L << (rounds - r)} AS d
         |        FROM fxt JOIN mis$r USING (doc_id)
         |        GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT coalesce(w${r - 1}.b, d$r.b) AS b,
         |          CAST(coalesce(w${r - 1}.w, 0) + coalesce(d$r.d, 0) AS BIGINT) AS w
         |        FROM w${r - 1} FULL OUTER JOIN d$r ON w${r - 1}.b = d$r.b)""".stripMargin
    }
    (head +: later).mkString(",\n")
  }

  /** The pipeline_e2e_v2 replay, shared VERBATIM with its
    * landing-cadence twin stream_pipeline_e2e (the funnel-scope
    * stream==batch convergence contract). */
  private lazy val pipelineV2Sql: String =
    s"""${qualityClfPrelude(8).replaceFirst("^WITH ", "WITH RECURSIVE\n")},
         |fs1 AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |             FROM documents)
         |       GROUP BY norm),
         |fd1 AS MATERIALIZED (SELECT d.doc_id, d.text, d.source
         |       FROM documents d JOIN fs1 USING (doc_id)),
         |fp2 AS (SELECT t.doc_id, t.toks, len(t.toks) AS n
         |        FROM t JOIN fd1 USING (doc_id)),
         |fg2 AS (SELECT doc_id, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM fp2, unnest(range(1, n - 14)) x(i)),
         |fdft AS (SELECT gram, count(*) AS c FROM fg2 GROUP BY 1),
         |fss AS (SELECT fg2.doc_id, fg2.pos,
         |         CASE WHEN fdft.c >= 2 THEN 1 ELSE 0 END AS dup
         |       FROM fg2 JOIN fdft USING (gram)),
         |fap AS (SELECT doc_id, i AS pos FROM fp2, unnest(range(1, n + 1)) x(i)),
         |fcov AS (SELECT fap.doc_id, coalesce(fss.dup, 0) AS dup,
         |          max(coalesce(fss.dup, 0)) OVER (PARTITION BY fap.doc_id
         |            ORDER BY fap.pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |            AS covered
         |        FROM fap LEFT JOIN fss
         |          ON fap.doc_id = fss.doc_id AND fap.pos = fss.pos),
         |fsub AS (SELECT doc_id, count(*) AS n_toks,
         |           sum(covered) AS dup_toks
         |         FROM fcov GROUP BY 1),
         |fd2 AS MATERIALIZED (SELECT fd1.* FROM fd1 LEFT JOIN fsub USING (doc_id)
         |        WHERE coalesce(5*fsub.dup_toks <= fsub.n_toks, TRUE)),
         |fsh AS (SELECT t.doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM t JOIN fd2 USING (doc_id)),
         |fex AS (SELECT doc_id, unnest(sh) AS s FROM fsh),
         |fkeep AS (SELECT s FROM fex GROUP BY s HAVING count(*) <= 50),
         |fcx AS (SELECT doc_id, fex.s FROM fex JOIN fkeep ON fex.s = fkeep.s),
         |fsizes AS (SELECT doc_id, count(*) AS n FROM fcx GROUP BY 1),
         |fpairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM fcx a JOIN fcx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |fgood AS (
         |  SELECT id1, id2 FROM fpairs
         |  JOIN fsizes z1 ON id1 = z1.doc_id
         |  JOIN fsizes z2 ON id2 = z2.doc_id
         |  WHERE shared*1.0/(z1.n + z2.n - shared) >= 0.8),
         |fedges AS (SELECT id1 AS src, id2 AS dst FROM fgood
         |          UNION ALL SELECT id2, id1 FROM fgood),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM fd2
         |  UNION
         |  SELECT e.src, reach.r FROM fedges e JOIN reach ON e.dst = reach.id),
         |flab AS MATERIALIZED (SELECT id AS doc_id, min(r) AS cluster_id
         |        FROM reach GROUP BY 1),
         |fd3 AS MATERIALIZED (SELECT fd2.* FROM fd2 JOIN flab USING (doc_id)
         |        WHERE doc_id = cluster_id),
         |fnc AS (SELECT doc_id, length(text) AS n_chars FROM documents),
         |fd4 AS MATERIALIZED (
         |  SELECT fd3.doc_id, fd3.source, fnc.n_chars, q.quality_score AS qs
         |  FROM fd3 JOIN q USING (doc_id) JOIN fnc USING (doc_id)
         |  WHERE q.quality_score >= 0.5),
         |fmg AS (SELECT fx.doc_id, coalesce(sum(w8.w), 0) AS marg
         |        FROM fx JOIN fd3 USING (doc_id) LEFT JOIN w8 ON fx.b = w8.b
         |        GROUP BY 1),
         |fagg AS (SELECT CASE WHEN q.quality_score >= 0.5 THEN 1 ELSE 0 END AS rk,
         |           CASE WHEN fmg.marg > 0 THEN 1 ELSE 0 END AS ck,
         |           count(*) AS n_docs,
         |           CAST(sum(fnc.n_chars) AS BIGINT) AS sum_chars
         |         FROM fd3 JOIN q USING (doc_id) JOIN fmg USING (doc_id)
         |         JOIN fnc USING (doc_id)
         |         GROUP BY 1, 2),
         |fcells AS (SELECT * FROM (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) c(rk, ck)),
         |fagr AS (SELECT CAST(8 + c.rk*2 + c.ck AS BIGINT) AS stage_idx,
         |           'gate_rule' || CAST(c.rk AS VARCHAR) || '_clf'
         |             || CAST(c.ck AS VARCHAR) AS stage,
         |           CAST(coalesce(a.n_docs, 0) AS BIGINT) AS n_docs,
         |           CAST(coalesce(a.sum_chars, 0) AS BIGINT) AS sum_chars
         |         FROM fcells c LEFT JOIN fagg a ON c.rk = a.rk AND c.ck = a.ck),
         |fw AS (
         |  SELECT doc_id, source, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY qs DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM fd4),
         |fsel AS MATERIALIZED (SELECT doc_id, source, n_chars FROM fw WHERE prior < 25000),
         |fcsh AS (SELECT t.doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM t JOIN fsel USING (doc_id)),
         |fbsh AS (SELECT doc_id AS bench_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM t WHERE doc_id < 25),
         |fcpx AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM fcsh),
         |fbpx AS (SELECT bench_id, unnest(sh) AS s FROM fbsh),
         |fcont AS (
         |  SELECT doc_id FROM (
         |    SELECT fcpx.doc_id, fbpx.bench_id, any_value(fcpx.n_sh) AS n_sh,
         |      count(*) AS shared
         |    FROM fcpx JOIN fbpx USING (s) GROUP BY 1, 2)
         |  WHERE shared*1.0/n_sh >= 0.5 GROUP BY 1),
         |fd5 AS (SELECT * FROM fsel WHERE doc_id NOT IN (SELECT doc_id FROM fcont)),
         |fsh6 AS (SELECT fd5.doc_id, fd5.n_chars, flab.cluster_id,
         |    hex(encode(CAST(flab.cluster_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(flab.cluster_id AS VARCHAR))) AS n
         |  FROM fd5 JOIN flab USING (doc_id)),
         |fd6 AS (SELECT doc_id, n_chars FROM (
         |    SELECT doc_id, n_chars, ${ghashSql(fnvHx, "7")} AS hu FROM fsh6)
         |  WHERE hu // 4503599627370496 < 3277),
         |fstg AS (
         |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
         |    count(*) AS n_docs,
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars
         |  FROM documents
         |  UNION ALL SELECT 1, 'exact_dedup', count(*),
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM fd1
         |  UNION ALL SELECT 2, 'substring_dedup', count(*),
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM fd2
         |  UNION ALL SELECT 3, 'near_dedup', count(*),
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM fd3
         |  UNION ALL SELECT 4, 'quality', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd4
         |  UNION ALL SELECT 5, 'budget', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fsel
         |  UNION ALL SELECT 6, 'decontam', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd5
         |  UNION ALL SELECT 7, 'split_train', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd6
         |  UNION ALL SELECT stage_idx, stage, n_docs, sum_chars FROM fagr)
         |SELECT stage_idx, stage, n_docs, sum_chars
         |FROM fstg ORDER BY stage_idx""".stripMargin

  /** One-occurrence guarded replace: the v3 funnel oracle is derived
    * from [[pipelineV2Sql]] by documented surgical inserts, and each
    * anchor must exist EXACTLY once or the derivation fails loudly
    * (a v2 edit that moves an anchor breaks the build, not the hash). */
  private def replacedOnce(s: String, from: String, to: String): String = {
    val first = s.indexOf(from)
    require(first >= 0 && s.indexOf(from, first + 1) < 0,
      s"pipelineV3Sql anchor not unique: <$from>")
    s.substring(0, first) + to + s.substring(first + from.length)
  }

  /** pipeline_e2e_v3's replay = [[pipelineV2Sql]] + (a) the PII
    * quarantine CTE p1 gating the exact-dedup base, (b) the DSIR
    * selection CTEs between the quality gate and the budget window
    * (ratio table trained on the quality survivors, target = their
    * labeled-English slice, keep the top half by (round-4 score,
    * doc_id)), and (c) the renumbered stage rows (0 raw, 1 pii_scrub,
    * 2-5 the dedup/quality chain, 6 dsir_select, 7-9 budget →
    * decontam → split, 10-13 gate agreement). */
  private lazy val pipelineV3Sql: String = {
    import graft.ops.TextAnalysis.{PiiEmailRe, PiiIpRe, PiiPhoneRe}
    val piiSum = Seq(PiiEmailRe, PiiIpRe, PiiPhoneRe)
      .map(re => s"len(regexp_extract_all(text, '$re'))").mkString("\n     + ")
    val dsirCtes =
      s"""dtk AS (SELECT t.doc_id, unnest(t.toks) AS s
         |        FROM t JOIN fd4 USING (doc_id)),
         |dtb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |        FROM (SELECT DISTINCT s FROM dtk)),
         |dth AS (SELECT s, ((${DuckHash.sx(DuckHash.ghashSql(DuckHash.fnvHx, "37"))} % 64) + 64) % 64 AS b
         |        FROM dtb),
         |ddc AS MATERIALIZED (
         |  SELECT dtk.doc_id, dth.b, count(*) AS c
         |  FROM dtk JOIN dth USING (s) GROUP BY 1, 2),
         |draw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM ddc GROUP BY 1),
         |dtgt AS (SELECT ddc.b, CAST(sum(c) AS BIGINT) AS ct
         |         FROM ddc JOIN documents d USING (doc_id)
         |         WHERE d.lang = 'en' GROUP BY 1),
         |dlr0 AS (SELECT draw.b, coalesce(dtgt.ct, 0) AS ct, draw.cr
         |         FROM draw LEFT JOIN dtgt ON draw.b = dtgt.b),
         |dtt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |               CAST(sum(cr) AS BIGINT) AS nr FROM dlr0),
         |dlr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 64))
         |                - ln((cr + 1) * 1.0 / (nr + 64)) AS lr
         |        FROM dlr0 CROSS JOIN dtt),
         |dsc AS (SELECT ddc.doc_id, round(sum(ddc.c * dlr.lr), 4) AS m4
         |        FROM ddc JOIN dlr USING (b) GROUP BY 1),
         |drk AS (SELECT doc_id,
         |          row_number() OVER (ORDER BY m4 DESC, doc_id) AS rnk
         |        FROM dsc),
         |dk AS (SELECT count(*) // 2 AS k FROM fd4),
         |fd45 AS MATERIALIZED (
         |  SELECT fd4.* FROM fd4 JOIN drk USING (doc_id) CROSS JOIN dk
         |  WHERE drk.rnk <= dk.k),
         |fw AS (""".stripMargin
    var sql = pipelineV2Sql
    sql = replacedOnce(sql, "fs1 AS (SELECT min(doc_id) AS doc_id",
      s"""p1 AS MATERIALIZED (SELECT doc_id FROM documents
         |  WHERE $piiSum = 0),
         |fs1 AS (SELECT min(doc_id) AS doc_id""".stripMargin)
    sql = replacedOnce(sql, "FROM documents)\n       GROUP BY norm)",
      "FROM documents JOIN p1 USING (doc_id))\n       GROUP BY norm)")
    // rebase the budget window BEFORE inserting the DSIR CTEs — the
    // inserted dk CTE also ends in "FROM fd4)" and would break the
    // one-occurrence guarantee the other way round
    sql = replacedOnce(sql, "FROM fd4),\n", "FROM fd45),\n")
    sql = replacedOnce(sql, "fw AS (", dsirCtes)
    sql = replacedOnce(sql, "CAST(8 + c.rk*2 + c.ck AS BIGINT)",
      "CAST(10 + c.rk*2 + c.ck AS BIGINT)")
    // stage-row renumbering, descending so indices never collide
    sql = replacedOnce(sql, "UNION ALL SELECT 7, 'split_train'",
      "UNION ALL SELECT 9, 'split_train'")
    sql = replacedOnce(sql, "UNION ALL SELECT 6, 'decontam'",
      "UNION ALL SELECT 8, 'decontam'")
    sql = replacedOnce(sql, "UNION ALL SELECT 5, 'budget'",
      "UNION ALL SELECT 7, 'budget'")
    sql = replacedOnce(sql,
      "UNION ALL SELECT 4, 'quality', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd4",
      "UNION ALL SELECT 5, 'quality', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd4\n  UNION ALL SELECT 6, 'dsir_select', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd45")
    sql = replacedOnce(sql, "UNION ALL SELECT 3, 'near_dedup'",
      "UNION ALL SELECT 4, 'near_dedup'")
    sql = replacedOnce(sql, "UNION ALL SELECT 2, 'substring_dedup'",
      "UNION ALL SELECT 3, 'substring_dedup'")
    sql = replacedOnce(sql, "UNION ALL SELECT 1, 'exact_dedup'",
      "UNION ALL SELECT 1, 'pii_scrub', count(*),\n    CAST(coalesce(sum(length(text)), 0) AS BIGINT)\n    FROM documents JOIN p1 USING (doc_id)\n  UNION ALL SELECT 2, 'exact_dedup'")
    sql
  }

  /** pipeline_e2e_v4's replay = [[pipelineV2Sql]] + the SOFT branch
    * CTEs (the dedup_soft_weights 8-gram DF algebra over the shared
    * substring survivors, the uncollapsed rule gate, and the
    * qu4 × weight_u4 integer-priority budget window), with the stage
    * tail rewritten to the side-by-side audit: rows 3-5 renamed to the
    * hard_* branch, rows 6-7 the soft branch, row 8 the overlap of the
    * two selected sets. Unreferenced v2 CTEs (decontam/split/agreement
    * chain) stay defined but unexecuted. Same one-occurrence anchor
    * guards as [[pipelineV3Sql]]. */
  private lazy val pipelineV4Sql: String = {
    val softCtes =
      s"""ssh AS (SELECT t.doc_id,
         |    list_distinct([array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]) AS sh
         |  FROM t JOIN fd2 USING (doc_id)),
         |sexx AS (SELECT doc_id, unnest(sh) AS s FROM ssh),
         |sdf AS (SELECT s, count(*) AS df FROM sexx GROUP BY 1),
         |sper AS (SELECT doc_id, count(*) AS n_grams,
         |           CAST(sum(df) AS BIGINT) AS sum_df
         |         FROM sexx JOIN sdf USING (s) GROUP BY 1),
         |swt AS (SELECT fd2.doc_id,
         |          CASE WHEN coalesce(sper.n_grams, 0) > 0
         |            THEN (2*10000*sper.n_grams + sper.sum_df) // (2*sper.sum_df)
         |            ELSE 10000 END AS weight_u4
         |        FROM fd2 LEFT JOIN sper USING (doc_id)),
         |sq4 AS MATERIALIZED (
         |  SELECT fd2.doc_id, fd2.source, fnc.n_chars,
         |    CAST(round(q.quality_score*10000) AS BIGINT) * swt.weight_u4 AS prio
         |  FROM fd2 JOIN q USING (doc_id) JOIN fnc USING (doc_id)
         |  JOIN swt USING (doc_id)
         |  WHERE q.quality_score >= 0.5),
         |ssw AS (SELECT doc_id, source, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY prio DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM sq4),
         |ssel AS MATERIALIZED (
         |  SELECT doc_id, source, n_chars FROM ssw WHERE prior < 25000),
         |sov AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |          CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sc
         |        FROM ssel WHERE doc_id IN (SELECT doc_id FROM fsel)),
         |fcsh AS (SELECT t.doc_id,""".stripMargin
    var sql = pipelineV2Sql
    sql = replacedOnce(sql, "fcsh AS (SELECT t.doc_id,", softCtes)
    sql = replacedOnce(sql, "UNION ALL SELECT 3, 'near_dedup'",
      "UNION ALL SELECT 3, 'hard_near_dedup'")
    sql = replacedOnce(sql, "UNION ALL SELECT 4, 'quality'",
      "UNION ALL SELECT 4, 'hard_quality'")
    sql = replacedOnce(sql, "UNION ALL SELECT 5, 'budget'",
      "UNION ALL SELECT 5, 'hard_budget'")
    sql = replacedOnce(sql,
      "UNION ALL SELECT 6, 'decontam', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd5\n  UNION ALL SELECT 7, 'split_train', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM fd6\n  UNION ALL SELECT stage_idx, stage, n_docs, sum_chars FROM fagr)",
      "UNION ALL SELECT 6, 'soft_quality', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM sq4\n  UNION ALL SELECT 7, 'soft_budget', count(*),\n    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM ssel\n  UNION ALL SELECT 8, 'overlap_budget', n, sc FROM sov)")
    sql
  }

  /** Independent replay of Dedup.tfidfCosine: same u3-quantized idf,
    * integer weights/dots/norms, and the cross-multiplied squared
    * threshold — in HUGEINT where Spark uses DECIMAL(38,0). */
  private val tfidfCosineSql =
    s"""WITH tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest($toks) AS term FROM documents)
       |  GROUP BY 1, 2),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |df AS (SELECT term, count(*) AS df FROM tf
       |       GROUP BY 1 HAVING count(*)*10 <= (SELECT n_docs FROM n)
       |                    AND count(*) <= 10000),
       |w AS (SELECT doc_id, term,
       |    tf * CAST(round(ln(n_docs*1.0/df)*1000, 0) AS BIGINT) AS w
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |norms AS (SELECT doc_id, CAST(sum(w*w) AS BIGINT) AS nsq
       |          FROM w GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(sum(a.w*b.w) AS BIGINT) AS dot
       |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, dot, s1.nsq AS n1, s2.nsq AS n2,
       |  round(dot / sqrt(s1.nsq*1.0*s2.nsq), 4) AS cosine
       |FROM pairs
       |JOIN norms s1 ON id1 = s1.doc_id
       |JOIN norms s2 ON id2 = s2.doc_id
       |WHERE CAST(dot AS HUGEINT)*dot*100 >= 81*CAST(s1.nsq AS HUGEINT)*s2.nsq
       |ORDER BY id1, id2""".stripMargin

  // Factored so graph_pagerank can re-derive the same edge set.
  private val jaccardSql =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
       |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
       |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
       |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
       |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id1, id2, shared,
       |  shared*1.0/(s1.n + s2.n - shared) AS jaccard
       |FROM pairs
       |JOIN sizes s1 ON id1 = s1.doc_id
       |JOIN sizes s2 ON id2 = s2.doc_id
       |WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8
       |ORDER BY id1, id2""".stripMargin

  /** Full independent replay of Similarity.pqTopK: normalize, 4-plane
    * sign buckets, multiplicative-hash seed sample, one Lloyd step per
    * subspace (6dp means, seed fallback for empty cells), refined-code
    * encoding, fixed-order 8-term asymmetric distance. The ADC sum is
    * written as an explicit left-associated `t0 + t1 + … + t7` chain so
    * DuckDB accumulates in exactly the engine's reduce order. */
  private lazy val pqTopSql: String = {
    val bucketExpr = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map {
      case (p, i) =>
        val pl = "[" + p.mkString(",") + "]"
        s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v0[i]*($pl)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n|    + ")
    val adc = (0 until 8).map { j =>
      val cj = s"cb[${j + 1}][codes[${j + 1}] + 1]"
      s"(list_sum(list_transform(range(1,9), i -> p.v[8*$j+i]*p.v[8*$j+i])) " +
        s"+ list_sum(list_transform($cj, x -> x*x)) " +
        s"- 2*list_sum(list_transform(range(1,9), i -> p.v[8*$j+i]*$cj[i])))"
    }.mkString("\n|    + ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       |e AS (SELECT vec_id,
       |    list_transform(v0, x -> x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v,
       |    $bucketExpr AS bucket
       |  FROM e0),
       |sd AS (SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS scode, v AS c
       |       FROM e QUALIFY scode < 16),
       |a0 AS (
       |  SELECT e.vec_id, j.j, sd.scode,
       |    row_number() OVER (PARTITION BY e.vec_id, j.j
       |      ORDER BY list_sum(list_transform(range(1,9), i -> e.v[8*j.j+i]*e.v[8*j.j+i]))
       |             + list_sum(list_transform(range(1,9), i -> sd.c[8*j.j+i]*sd.c[8*j.j+i]))
       |             - 2*list_sum(list_transform(range(1,9), i -> e.v[8*j.j+i]*sd.c[8*j.j+i])) ASC,
       |             sd.scode ASC) AS rk
       |  FROM e CROSS JOIN range(0,8) j(j) CROSS JOIN sd),
       |a1 AS (SELECT vec_id, j, scode FROM a0 WHERE rk = 1),
       |r0 AS (SELECT a1.j, a1.scode AS code, d.d, round(avg(e.v[8*a1.j + d.d]), 6) AS mv
       |       FROM a1 JOIN e USING (vec_id) CROSS JOIN range(1,9) d(d)
       |       GROUP BY 1, 2, 3),
       |u AS (SELECT j.j, c.code, d.d
       |      FROM range(0,8) j(j) CROSS JOIN range(0,16) c(code) CROSS JOIN range(1,9) d(d)),
       |rf AS (SELECT u.j, u.code, u.d,
       |         coalesce(r0.mv, (SELECT sd.c[8*u.j + u.d] FROM sd WHERE sd.scode = u.code)) AS mv
       |       FROM u LEFT JOIN r0 ON r0.j = u.j AND r0.code = u.code AND r0.d = u.d),
       |rc AS (SELECT j, code, list(mv ORDER BY d) AS c FROM rf GROUP BY 1, 2),
       |cbj AS (SELECT j, list(c ORDER BY code) AS cj FROM rc GROUP BY 1),
       |cball AS (SELECT list(cj ORDER BY j) AS cb FROM cbj),
       |en0 AS (
       |  SELECT e.vec_id, rc.j, rc.code,
       |    row_number() OVER (PARTITION BY e.vec_id, rc.j
       |      ORDER BY list_sum(list_transform(range(1,9), i -> e.v[8*rc.j+i]*e.v[8*rc.j+i]))
       |             + list_sum(list_transform(rc.c, x -> x*x))
       |             - 2*list_sum(list_transform(range(1,9), i -> e.v[8*rc.j+i]*rc.c[i])) ASC,
       |             rc.code ASC) AS rk
       |  FROM e CROSS JOIN rc),
       |enc AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM en0 WHERE rk = 1 GROUP BY 1),
       |s AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id, c.bucket,
       |    $adc AS adc
       |  FROM e p JOIN e c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
       |  JOIN enc ON enc.vec_id = c.vec_id
       |  CROSS JOIN cball
       |  WHERE p.vec_id < 10),
       |r AS (SELECT probe_id, vec_id, bucket, adc,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY adc ASC, vec_id) AS rank
       |      FROM s)
       |SELECT probe_id, rank, vec_id AS neighbor_id, round(adc, 6) AS adc, bucket
       |FROM r WHERE rank <= 5""".stripMargin
  }

  /** Independent IVF-PQ re-derivation: normalized vectors, coarse
    * seed sample + 6dp-Lloyd refined cells (seed fallback — no index
    * re-packing), argmin of the fixed-order cn² − 2·v·c with ties to
    * the lower index, residuals vs the refined centroid, residual PQ
    * seeds + 6dp-Lloyd codebooks, refined-codebook encoding, nprobe=2
    * probing with per-cell probe residuals, full-ADC ranking. Every
    * float expression replays the engine's fixed evaluation order. */
  private lazy val ivfPqTopSql: String = {
    val adc = (0 until 8).map { j =>
      val cj = s"cb[${j + 1}][codes[${j + 1}] + 1]"
      s"(list_sum(list_transform(range(1,9), i -> pr.rp[8*$j+i]*pr.rp[8*$j+i])) " +
        s"+ list_sum(list_transform($cj, x -> x*x)) " +
        s"- 2*list_sum(list_transform(range(1,9), i -> pr.rp[8*$j+i]*$cj[i])))"
    }.mkString("\n|    + ")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
       |e AS (SELECT vec_id,
       |    list_transform(v0, x -> x / sqrt(list_sum(list_transform(v0, y -> y*y)))) AS v
       |  FROM e0),
       |sd AS (SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
       |       FROM e QUALIFY cell < 8),
       |a0 AS (
       |  SELECT e.vec_id, sd.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(sd.c, x -> x*x))
       |             - 2*list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) ASC,
       |             sd.cell ASC) AS rk
       |  FROM e CROSS JOIN sd),
       |a1 AS (SELECT vec_id, cell FROM a0 WHERE rk = 1),
       |cm AS (SELECT a1.cell, d.d, round(avg(e.v[d.d]), 6) AS mv
       |       FROM a1 JOIN e USING (vec_id) CROSS JOIN range(1,65) d(d)
       |       GROUP BY 1, 2),
       |cu AS (SELECT c.cell, d.d FROM range(0,8) c(cell) CROSS JOIN range(1,65) d(d)),
       |cf AS (SELECT cu.cell, cu.d,
       |         coalesce(cm.mv, (SELECT sd.c[cu.d] FROM sd WHERE sd.cell = cu.cell)) AS mv
       |       FROM cu LEFT JOIN cm ON cm.cell = cu.cell AND cm.d = cu.d),
       |cc AS (SELECT cell, list(mv ORDER BY d) AS c FROM cf GROUP BY 1),
       |b0 AS (
       |  SELECT e.vec_id, cc.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(cc.c, x -> x*x))
       |             - 2*list_sum(list_transform(range(1,65), i -> e.v[i]*cc.c[i])) ASC,
       |             cc.cell ASC) AS rk
       |  FROM e CROSS JOIN cc),
       |asg AS (SELECT vec_id, cell FROM b0 WHERE rk = 1),
       |res AS (SELECT e.vec_id, asg.cell,
       |         list_transform(range(1,65), i -> e.v[i] - cc.c[i]) AS r
       |       FROM e JOIN asg USING (vec_id) JOIN cc ON cc.cell = asg.cell),
       |rsd AS (SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS scode, r AS c
       |        FROM res QUALIFY scode < 16),
       |p0 AS (
       |  SELECT res.vec_id, j.j, rsd.scode,
       |    row_number() OVER (PARTITION BY res.vec_id, j.j
       |      ORDER BY list_sum(list_transform(range(1,9), i -> rsd.c[8*j.j+i]*rsd.c[8*j.j+i]))
       |             - 2*list_sum(list_transform(range(1,9), i -> res.r[8*j.j+i]*rsd.c[8*j.j+i])) ASC,
       |             rsd.scode ASC) AS rk
       |  FROM res CROSS JOIN range(0,8) j(j) CROSS JOIN rsd),
       |p1 AS (SELECT vec_id, j, scode FROM p0 WHERE rk = 1),
       |r0 AS (SELECT p1.j, p1.scode AS code, d.d, round(avg(res.r[8*p1.j + d.d]), 6) AS mv
       |       FROM p1 JOIN res USING (vec_id) CROSS JOIN range(1,9) d(d)
       |       GROUP BY 1, 2, 3),
       |u AS (SELECT j.j, c.code, d.d
       |      FROM range(0,8) j(j) CROSS JOIN range(0,16) c(code) CROSS JOIN range(1,9) d(d)),
       |rf AS (SELECT u.j, u.code, u.d,
       |         coalesce(r0.mv, (SELECT rsd.c[8*u.j + u.d] FROM rsd WHERE rsd.scode = u.code)) AS mv
       |       FROM u LEFT JOIN r0 ON r0.j = u.j AND r0.code = u.code AND r0.d = u.d),
       |rc AS (SELECT j, code, list(mv ORDER BY d) AS c FROM rf GROUP BY 1, 2),
       |cbj AS (SELECT j, list(c ORDER BY code) AS cj FROM rc GROUP BY 1),
       |cball AS (SELECT list(cj ORDER BY j) AS cb FROM cbj),
       |en0 AS (
       |  SELECT res.vec_id, rc.j, rc.code,
       |    row_number() OVER (PARTITION BY res.vec_id, rc.j
       |      ORDER BY list_sum(list_transform(rc.c, x -> x*x))
       |             - 2*list_sum(list_transform(range(1,9), i -> res.r[8*rc.j+i]*rc.c[i])) ASC,
       |             rc.code ASC) AS rk
       |  FROM res CROSS JOIN rc),
       |enc AS (SELECT vec_id, list(code ORDER BY j) AS codes FROM en0 WHERE rk = 1 GROUP BY 1),
       |pr0 AS (
       |  SELECT e.vec_id AS probe_id, e.v AS pv, cc.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_sum(list_transform(cc.c, x -> x*x))
       |             - 2*list_sum(list_transform(range(1,65), i -> e.v[i]*cc.c[i])) ASC,
       |             cc.cell ASC) AS rk
       |  FROM e CROSS JOIN cc WHERE e.vec_id < 10),
       |pr AS (SELECT pr0.probe_id, pr0.cell,
       |         list_transform(range(1,65), i -> pr0.pv[i] - cc.c[i]) AS rp
       |       FROM pr0 JOIN cc ON cc.cell = pr0.cell WHERE pr0.rk <= 2),
       |s AS (
       |  SELECT pr.probe_id, x.vec_id, x.cell,
       |    $adc AS adc
       |  FROM pr JOIN asg x ON x.cell = pr.cell AND x.vec_id <> pr.probe_id
       |  JOIN enc ON enc.vec_id = x.vec_id
       |  CROSS JOIN cball),
       |r AS (SELECT probe_id, vec_id, cell, adc,
       |        row_number() OVER (PARTITION BY probe_id ORDER BY adc ASC, vec_id) AS rank
       |      FROM s)
       |SELECT probe_id, rank, vec_id AS neighbor_id, round(adc, 6) AS adc, cell
       |FROM r WHERE rank <= 5""".stripMargin
  }

  /** Shared by `contamination` (batch) and `stream_contamination`
    * (the streaming ingest-time check) — the streaming query must
    * converge to this exact result. */
  /** Full DuckDB replay of the Hnsw layered-graph search (shared by
    * ann_hnsw and ann_hnsw_recall): same id-hash layer ladder, same
    * 4-plane buckets, per-layer top-4 digraphs, and the identical
    * unrolled hop sequence (entry → keep-4 at L2 → keep-8 at L1 → two
    * keep-8 hops at L0 → top-5 excluding self). Ends in CTE `hnsw`
    * (probe_id, neighbor_id, cos, rank). */
  private def hnswBucketExpr(seed: Long) =
    graft.ops.Similarity.hyperplanes(3, 64, seed).zipWithIndex.map {
      case (pl, i) =>
        val lit = "[" + pl.mkString(",") + "]"
        s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n|    + ")

  private def hnswAdjCte(name: String, src: String) = {
    val cosAB = "list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))/(a.nrm*b.nrm)"
    s"""$name AS (SELECT src, dst FROM (
       |  SELECT c.src, c.dst,
       |    row_number() OVER (PARTITION BY c.src
       |      ORDER BY $cosAB DESC, c.dst) AS r
       |  FROM (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
       |        FROM $src x JOIN $src y
       |          ON (x.b0 = y.b0 OR x.b1 = y.b1 OR x.b2 = y.b2)
       |         AND x.vec_id <> y.vec_id) c
       |  JOIN $src a ON c.src = a.vec_id
       |  JOIN $src b ON c.dst = b.vec_id) WHERE r <= 6)"""
      .stripMargin
  }

  private def hnswHopCte(out: String, fr: String, adj: String, keep: Int,
                         p: String = "p") =
    s"""${out}x AS (SELECT probe_id, node FROM $fr
       |  UNION SELECT f.probe_id, a.dst AS node
       |        FROM $fr f JOIN $adj a ON f.node = a.src),
       |${out}s AS (SELECT f.probe_id, f.node,
       |    list_sum(list_transform(range(1,65), i -> $p.pv[i]*e.v[i]))/($p.pn*e.nrm) AS cos
       |  FROM ${out}x f JOIN e ON f.node = e.vec_id
       |  JOIN $p ON f.probe_id = $p.probe_id),
       |$out AS (SELECT probe_id, node, cos FROM (
       |  SELECT probe_id, node, cos,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, node) AS r
       |  FROM ${out}s) WHERE r <= $keep)""".stripMargin

  private def hnswCtes(beam: Int = 8): String = {
    def bucketExpr(seed: Long) = hnswBucketExpr(seed)
    def adjCte(name: String, src: String) = hnswAdjCte(name, src)
    def hopCte(out: String, fr: String, adj: String, keep: Int) =
      hnswHopCte(out, fr, adj, keep)
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |tb AS (SELECT vec_id, v, hex(encode(CAST(vec_id AS VARCHAR))) AS hx,
       |         octet_length(encode(CAST(vec_id AS VARCHAR))) AS n FROM e0),
       |hh AS (SELECT vec_id, v, ${ghashSql(fnvHx, "11")} AS hu FROM tb),
       |e AS (SELECT vec_id, v,
       |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
       |        ${bucketExpr(42L)} AS b0,
       |        ${bucketExpr(43L)} AS b1,
       |        ${bucketExpr(44L)} AS b2,
       |        CASE WHEN hu % 16 = 0 THEN 2
       |             WHEN hu % 4 = 0 THEN 1 ELSE 0 END AS level
       |      FROM hh),
       |n2 AS (SELECT * FROM e WHERE level >= 2),
       |n1 AS (SELECT * FROM e WHERE level >= 1),
       |${adjCte("adj2", "n2")},
       |${adjCte("adj1", "n1")},
       |${adjCte("adj0", "e")},
       |ent AS (SELECT coalesce(
       |    (SELECT min(vec_id) FROM e WHERE level >= 2),
       |    (SELECT min(vec_id) FROM e WHERE level >= 1),
       |    (SELECT min(vec_id) FROM e)) AS node),
       |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM e WHERE vec_id < 10),
       |seed AS (SELECT probe_id, ent.node FROM p, ent),
       |${hopCte("b2", "seed", "adj2", math.max(2, beam / 2))},
       |${hopCte("b1", "b2", "adj1", beam)},
       |${hopCte("c0", "b1", "adj0", beam)},
       |${hopCte("b0", "c0", "adj0", beam)},
       |hnsw AS (SELECT probe_id, node AS neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, node) AS BIGINT) AS rank
       |  FROM b0 WHERE node <> probe_id)""".stripMargin
  }

  /** Full replay of Hnsw.append + the augmented search: the graph
    * (ladder, adjacencies, entry) is built over the FIRST THREE
    * QUARTERS only; the shard beam-searches that frozen graph for its
    * top-6 attachment edges (unrounded cos — the same values the
    * engine ranks the in-edge cap on), each touched history node caps
    * shard in-edges at 6, and the final probes run the identical hop
    * pyramid over the augmented base layer. */
  private lazy val hnswAppendSql = {
    val thr = "(SELECT t FROM thr)"
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
       |tb AS (SELECT vec_id, v, hex(encode(CAST(vec_id AS VARCHAR))) AS hx,
       |         octet_length(encode(CAST(vec_id AS VARCHAR))) AS n FROM e0),
       |hh AS (SELECT vec_id, v, ${ghashSql(fnvHx, "11")} AS hu FROM tb),
       |e AS (SELECT vec_id, v,
       |        sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm,
       |        ${hnswBucketExpr(42L)} AS b0,
       |        ${hnswBucketExpr(43L)} AS b1,
       |        ${hnswBucketExpr(44L)} AS b2,
       |        CASE WHEN hu % 16 = 0 THEN 2
       |             WHEN hu % 4 = 0 THEN 1 ELSE 0 END AS level
       |      FROM hh),
       |g AS (SELECT * FROM e WHERE vec_id < $thr),
       |n2 AS (SELECT * FROM g WHERE level >= 2),
       |n1 AS (SELECT * FROM g WHERE level >= 1),
       |${hnswAdjCte("adj2", "n2")},
       |${hnswAdjCte("adj1", "n1")},
       |${hnswAdjCte("adj0h", "g")},
       |ent AS (SELECT coalesce(
       |    (SELECT min(vec_id) FROM g WHERE level >= 2),
       |    (SELECT min(vec_id) FROM g WHERE level >= 1),
       |    (SELECT min(vec_id) FROM g)) AS node),
       |pa AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn
       |       FROM e WHERE vec_id >= $thr),
       |seeda AS (SELECT probe_id, ent.node FROM pa, ent),
       |${hnswHopCte("a2", "seeda", "adj2", 4, p = "pa")},
       |${hnswHopCte("a1", "a2", "adj1", 8, p = "pa")},
       |${hnswHopCte("ac0", "a1", "adj0h", 8, p = "pa")},
       |${hnswHopCte("ab0", "ac0", "adj0h", 8, p = "pa")},
       |att AS (SELECT probe_id, node, cos FROM (
       |  SELECT probe_id, node, cos,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, node) AS rank
       |  FROM ab0 WHERE node <> probe_id) WHERE rank <= 6),
       |oute AS (SELECT probe_id AS src, node AS dst FROM att),
       |ine AS (SELECT src, dst FROM (
       |  SELECT node AS src, probe_id AS dst, cos,
       |    row_number() OVER (PARTITION BY node
       |      ORDER BY cos DESC, probe_id) AS r
       |  FROM att) WHERE r <= 6),
       |adj0 AS (SELECT src, dst FROM adj0h
       |  UNION ALL SELECT src, dst FROM oute
       |  UNION ALL SELECT src, dst FROM ine),
       |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn
       |      FROM e WHERE vec_id >= $thr AND vec_id < $thr + 10),
       |seed AS (SELECT probe_id, ent.node FROM p, ent),
       |${hnswHopCte("b2", "seed", "adj2", 4)},
       |${hnswHopCte("b1", "b2", "adj1", 8)},
       |${hnswHopCte("c0", "b1", "adj0", 8)},
       |${hnswHopCte("b0", "c0", "adj0", 8)},
       |hnsw AS (SELECT probe_id, node AS neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, node) AS BIGINT) AS rank
       |  FROM b0 WHERE node <> probe_id)
       |SELECT probe_id, rank, neighbor_id, round(cos, 4) AS cos
       |FROM hnsw WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin
  }

  /** BM25 ranking CTE chain ending in `bm` (q_id, rnk, doc_id,
    * n_terms, score; rnk ≤ `k`) — shared by text_bm25_topk and the
    * nDCG eval so the two oracles replay ONE scoring definition. */
  private def bm25Ctes(k: Int): String =
    s"""ct AS (SELECT doc_id, t, count(*) AS tf FROM
       |      (SELECT doc_id, unnest($toks) AS t FROM documents
       |       WHERE doc_id >= 25) GROUP BY 1, 2),
       |dft AS (SELECT t, count(*) AS df FROM ct GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM ct GROUP BY 1),
       |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS sdl, count(*) AS nd FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS q_id, t FROM
       |      (SELECT doc_id, unnest($toks) AS t FROM documents
       |       WHERE doc_id < 25)),
       |sc AS (SELECT qt.q_id, ct.doc_id,
       |         ln(1.0 + (tot.nd - dft.df + CAST(0.5 AS DOUBLE))
       |                  / (dft.df + CAST(0.5 AS DOUBLE)))
       |           * (ct.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
       |           / (ct.tf + CAST(1.2 AS DOUBLE)
       |              * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
       |                 * (dl.dl * tot.nd / tot.sdl))) AS contrib
       |       FROM qt JOIN ct USING (t) JOIN dft USING (t)
       |         JOIN dl ON ct.doc_id = dl.doc_id CROSS JOIN tot),
       |ag AS (SELECT q_id, doc_id, round(sum(contrib), 4) AS score,
       |         count(*) AS n_terms
       |       FROM sc GROUP BY 1, 2),
       |bm AS (SELECT q_id, CAST(row_number() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
       |  doc_id, n_terms, score
       |FROM ag QUALIFY rnk <= $k)""".stripMargin

  private lazy val contaminationSql =
    s"""WITH d AS (SELECT doc_id, list_distinct(
       |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |cp AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d WHERE doc_id >= 25),
       |bp AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM d WHERE doc_id < 25),
       |shared AS (
       |  SELECT cp.doc_id, bp.bench_id, any_value(cp.n_sh) AS n_sh, count(*) AS shared
       |  FROM cp JOIN bp USING (s) GROUP BY 1, 2),
       |ranked AS (
       |  SELECT doc_id, bench_id, shared*1.0/n_sh AS cont,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY shared*1.0/n_sh DESC, bench_id ASC) AS rk
       |  FROM shared)
       |SELECT doc_id, bench_id, round(cont, 4) AS containment,
       |  CAST(cont >= 0.5 AS BIGINT) AS contaminated
       |FROM ranked WHERE rk = 1 ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(

    "ann_pq" -> s"$pqTopSql\nORDER BY probe_id, rank",

    "ann_hnsw" ->
      s"""WITH ${hnswCtes()}
         |SELECT probe_id, rank, neighbor_id, round(cos, 4) AS cos
         |FROM hnsw WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    "ann_hnsw_append" -> hnswAppendSql,

    "ann_hnsw_recall" ->
      s"""WITH ${hnswCtes()},
         |sbr AS (
         |  SELECT probe_id, e.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))/(pn*e.nrm) AS cos
         |  FROM e, p WHERE e.vec_id <> probe_id),
         |brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM sbr) WHERE rank <= 5)
         |SELECT b.probe_id, round(count(h.neighbor_id) / 5.0, 4) AS recall
         |FROM brute b LEFT JOIN (SELECT probe_id, neighbor_id FROM hnsw
         |                        WHERE rank <= 5) h
         |  ON b.probe_id = h.probe_id AND b.neighbor_id = h.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // one replay per beam width, each in its own subquery scope
    "ann_hnsw_beam_sweep" ->
      (Seq(4, 8, 16).map { beam =>
        s"""SELECT CAST($beam AS BIGINT) AS beam,
           |  round(avg(recall), 4) AS avg_recall,
           |  CAST(count(*) AS BIGINT) AS n_probes
           |FROM (WITH ${hnswCtes(beam)},
           |  sbr AS (
           |    SELECT probe_id, e.vec_id,
           |      list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))/(pn*e.nrm) AS cos
           |    FROM e, p WHERE e.vec_id <> probe_id),
           |  brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
           |    SELECT probe_id, vec_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           |    FROM sbr) WHERE rank <= 5)
           |  SELECT b.probe_id, count(h.neighbor_id) / 5.0 AS recall
           |  FROM brute b LEFT JOIN (SELECT probe_id, neighbor_id FROM hnsw
           |                          WHERE rank <= 5) h
           |    ON b.probe_id = h.probe_id AND b.neighbor_id = h.neighbor_id
           |  GROUP BY 1)""".stripMargin
      }.mkString("\nUNION ALL\n") + "\nORDER BY beam"),

    "ann_ivfpq" -> s"$ivfPqTopSql\nORDER BY probe_id, rank",

    // per-width exact top-5 replay (same cos expression order as the
    // engine: dot / (pn · nrm)), hits counted by equi-join vs full width
    "emb_matryoshka_recall" -> {
      def ed(d: Int) =
        if (d == 64) s"ed64 AS (SELECT vec_id, v AS vd, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e)"
        else s"ed$d AS (SELECT vec_id, v[1:$d] AS vd, sqrt(list_sum(list_transform(v[1:$d], x -> x*x))) AS nrm FROM e)"
      def tk(d: Int) =
        s"""t$d AS (SELECT probe_id, vec_id FROM (
           |  SELECT p.probe_id, c.vec_id,
           |    row_number() OVER (PARTITION BY p.probe_id ORDER BY
           |      list_sum(list_transform(range(1,${d + 1}), i -> p.pv[i]*c.vd[i]))
           |        / (p.pn * c.nrm) DESC, c.vec_id) AS rank
           |  FROM ed$d c, pr$d p WHERE c.vec_id <> p.probe_id) WHERE rank <= 5)""".stripMargin
      def pr(d: Int) =
        s"pr$d AS (SELECT vec_id AS probe_id, vd AS pv, nrm AS pn FROM ed$d WHERE vec_id < 10)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${ed(64)}, ${ed(32)}, ${ed(16)},
         |${pr(64)}, ${pr(32)}, ${pr(16)},
         |${tk(64)},
         |${tk(32)},
         |${tk(16)},
         |h AS (
         |  SELECT 64 AS dims, count(*) AS n_hits FROM t64 a JOIN t64 b USING (probe_id, vec_id)
         |  UNION ALL SELECT 32, count(*) FROM t64 a JOIN t32 b USING (probe_id, vec_id)
         |  UNION ALL SELECT 16, count(*) FROM t64 a JOIN t16 b USING (probe_id, vec_id))
         |SELECT dims, CAST(n_hits AS BIGINT) AS n_hits, n_hits/50.0 AS recall
         |FROM h ORDER BY dims DESC""".stripMargin
    },

    // exact all-pairs top-5 (brute) vs the full PQ replay, per-probe
    // overlap — both sides re-derived independently
    "ann_pq_recall" ->
      s"""WITH brute AS (
        |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |  p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
        |  s AS (
        |    SELECT probe_id, e.vec_id,
        |      list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
        |        / (sqrt(list_sum(list_transform(pv, x -> x*x)))
        |           * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
        |    FROM e, p WHERE e.vec_id <> probe_id)
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM s QUALIFY rank <= 5),
        |pq AS ($pqTopSql)
        |SELECT b.probe_id,
        |  round(count(pq.neighbor_id) / 5.0, 4) AS recall
        |FROM brute b LEFT JOIN pq
        |  ON pq.probe_id = b.probe_id AND pq.neighbor_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical audit shape over the composed IVF-PQ replay
    "ann_ivfpq_recall" ->
      s"""WITH brute AS (
        |  WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |  p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
        |  s AS (
        |    SELECT probe_id, e.vec_id,
        |      list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
        |        / (sqrt(list_sum(list_transform(pv, x -> x*x)))
        |           * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
        |    FROM e, p WHERE e.vec_id <> probe_id)
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM s QUALIFY rank <= 5),
        |ip AS ($ivfPqTopSql)
        |SELECT b.probe_id,
        |  round(count(ip.neighbor_id) / 5.0, 4) AS recall
        |FROM brute b LEFT JOIN ip
        |  ON ip.probe_id = b.probe_id AND ip.neighbor_id = b.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_exact" ->
      s"""SELECT min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |      FROM documents)
         |GROUP BY norm ORDER BY keep_id""".stripMargin,

    "dedup_ngram_jaccard" -> jaccardSql,

    "dedup_tfidf_cosine" -> tfidfCosineSql,

    // same capped shingle space; the ratio divides by min size (integer
    // cross-multiplied threshold), keeping each side's size separate
    "dedup_containment" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.id1, p.id2, p.shared,
         |  s1.n AS n1, s2.n AS n2,
         |  p.shared*1.0 / least(s1.n, s2.n) AS containment
         |FROM pairs p
         |JOIN sizes s1 ON p.id1 = s1.doc_id
         |JOIN sizes s2 ON p.id2 = s2.doc_id
         |WHERE p.shared*10 >= least(s1.n, s2.n)*9
         |ORDER BY 1, 2""".stripMargin,

    // uncapped shingle space, identical df-ascending prefix order, and
    // the same integer threshold test — no float boundary anywhere
    "dedup_prefix_filter" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |df AS (SELECT s, count(*) AS df FROM ex GROUP BY 1),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
         |pre AS (
         |  SELECT doc_id, s FROM (
         |    SELECT ex.doc_id, ex.s, sizes.n,
         |      row_number() OVER (PARTITION BY ex.doc_id
         |                         ORDER BY df.df, ex.s) AS rn
         |    FROM ex JOIN df ON ex.s = df.s
         |            JOIN sizes ON ex.doc_id = sizes.doc_id)
         |  WHERE rn <= n - ((n * 4 + 4) // 5) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.id1, c.id2, count(*) AS shared
         |  FROM cand c JOIN ex a ON c.id1 = a.doc_id
         |              JOIN ex b ON c.id2 = b.doc_id AND a.s = b.s
         |  GROUP BY 1, 2)
         |SELECT i.id1, i.id2, shared,
         |  shared*1.0/(s1.n + s2.n - shared) AS jaccard
         |FROM inter i JOIN sizes s1 ON i.id1 = s1.doc_id
         |             JOIN sizes s2 ON i.id2 = s2.doc_id
         |WHERE shared * 5 >= (s1.n + s2.n - shared) * 4
         |ORDER BY id1, id2""".stripMargin,

    // the same verified pair set rolled up by unordered source pair
    "dedup_source_report" ->
      s"""WITH pr AS (SELECT id1, id2, jaccard FROM ($jaccardSql)),
         |ds AS (SELECT doc_id, source FROM documents),
         |lab AS (
         |  SELECT least(a.source, b.source) AS src_a,
         |         greatest(a.source, b.source) AS src_b, pr.jaccard
         |  FROM pr JOIN ds a ON pr.id1 = a.doc_id
         |          JOIN ds b ON pr.id2 = b.doc_id)
         |SELECT src_a, src_b, count(*) AS n_pairs,
         |  ((2*sum(CAST(round(jaccard*10000) AS BIGINT)) + count(*))
         |   // (2*count(*))) / 10000.0 AS avg_jaccard,
         |  CAST(src_a <> src_b AS BIGINT) AS cross_source
         |FROM lab GROUP BY src_a, src_b
         |ORDER BY src_a, src_b""".stripMargin,

    // independent power-iteration replay over the same verified pair
    // set (the jaccard SQL re-derives the edges; 3 rounds, d = 0.85)
    "graph_pagerank" ->
      s"""WITH pr AS (SELECT id1, id2 FROM ($jaccardSql)),
         |e AS (SELECT id1 AS src, id2 AS dst FROM pr
         |      UNION ALL SELECT id2, id1 FROM pr),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT src AS id, 1.0/(SELECT count(*) FROM deg) AS r FROM deg),
         |r1 AS (SELECT e.dst AS id,
         |         CAST(0.15 AS DOUBLE)/(SELECT count(*) FROM deg)
         |           + 0.85*sum(r0.r/deg.deg) AS r
         |       FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
         |       GROUP BY e.dst),
         |r2 AS (SELECT e.dst AS id,
         |         CAST(0.15 AS DOUBLE)/(SELECT count(*) FROM deg)
         |           + 0.85*sum(r1.r/deg.deg) AS r
         |       FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
         |       GROUP BY e.dst),
         |r3 AS (SELECT e.dst AS id,
         |         CAST(0.15 AS DOUBLE)/(SELECT count(*) FROM deg)
         |           + 0.85*sum(r2.r/deg.deg) AS r
         |       FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
         |       GROUP BY e.dst)
         |SELECT id AS doc_id, round(r, 6) AS pr_rank FROM r3
         |ORDER BY doc_id""".stripMargin,

    // same 4-plane knn replay as emb_knn_graph, then the identical
    // degree-orientation: one wedge per triangle at its min vertex,
    // closing edge checked against the (a<b)-canonical edge set
    "graph_triangles" ->
      s"""WITH $knnEdgeCtes,
         |dg AS (SELECT v, count(*) AS deg
         |       FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)
         |       GROUP BY 1),
         |o AS (SELECT
         |        CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |             THEN a ELSE b END AS u,
         |        CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
         |             THEN b ELSE a END AS w
         |      FROM ed JOIN dg da ON ed.a = da.v JOIN dg db ON ed.b = db.v),
         |wg AS (SELECT o1.w AS v1, o2.w AS v2
         |       FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w),
         |tri AS (SELECT count(*) AS n_triangles FROM wg
         |        WHERE EXISTS (SELECT 1 FROM ed
         |                      WHERE ed.a = wg.v1 AND ed.b = wg.v2)),
         |nn AS (SELECT count(*) AS n_nodes,
         |         CAST(sum(deg*(deg-1)/2) AS BIGINT) AS n_wedges FROM dg),
         |ne AS (SELECT count(*) AS n_edges FROM ed)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         |  CASE WHEN n_wedges > 0
         |       THEN round(3.0 * n_triangles / n_wedges, 4) ELSE 0.0 END
         |    AS clustering
         |FROM nn, ne, tri""".stripMargin,

    // same kNN edge set; 4 unrolled synchronous mode-of-neighbors
    // rounds with the identical (cnt desc, lbl) tie order
    // same kNN edge CTE, 6 unrolled peel rounds; stable = node count
    // unchanged vs the previous round (round 0 fixed at 0). Each round
    // references its predecessor ~5 times, so the per-round CTEs are
    // MATERIALIZED — DuckDB inlines CTEs by default and the expansion
    // would otherwise be exponential in the round count
    "graph_kcore" -> {
      def peel(prev: String, n: Int) =
        s"""k$n AS MATERIALIZED (SELECT v FROM (
           |  SELECT v, count(*) AS deg
           |  FROM (SELECT a AS v FROM $prev UNION ALL SELECT b FROM $prev)
           |  GROUP BY 1) WHERE deg >= 3),
           |p$n AS MATERIALIZED (SELECT a, b FROM $prev
           |  WHERE a IN (SELECT v FROM k$n) AND b IN (SELECT v FROM k$n))""".stripMargin
      def st(r: Int) =
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT count(DISTINCT v) FROM
           |    (SELECT a AS v FROM p$r UNION ALL SELECT b FROM p$r)) AS n_nodes,
           |  (SELECT count(*) FROM p$r) AS n_edges""".stripMargin
      s"""WITH $knnEdgeCtes,
         |p0 AS MATERIALIZED (SELECT a, b FROM ed),
         |${(1 to 6).map(n => peel(s"p${n - 1}", n)).mkString(",\n")},
         |stats AS (${(0 to 6).map(st).mkString("\nUNION ALL\n")})
         |SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(n_edges AS BIGINT) AS n_edges,
         |  CAST(coalesce(lag(n_nodes) OVER (ORDER BY round) = n_nodes, FALSE)
         |    AS BIGINT) AS stable
         |FROM stats ORDER BY round""".stripMargin
    },

    // same kNN edge CTE; symmetrized ends joined to the degree table,
    // HUGEINT moments, the identical one-float-quotient emission
    "graph_assortativity" ->
      s"""WITH $knnEdgeCtes,
         |dg AS (SELECT v, count(*) AS deg
         |       FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)
         |       GROUP BY 1),
         |sym AS (SELECT a AS s, b AS t FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |p AS (SELECT da.deg AS dx, db.deg AS dy
         |      FROM sym JOIN dg da ON sym.s = da.v
         |           JOIN dg db ON sym.t = db.v),
         |mm AS (SELECT count(*) AS m,
         |         sum(CAST(dx AS HUGEINT)) AS sx,
         |         sum(CAST(dx AS HUGEINT) * dy) AS sxy,
         |         sum(CAST(dx AS HUGEINT) * dx) AS sx2 FROM p),
         |nn AS (SELECT count(*) AS n_nodes FROM dg)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(m // 2 AS BIGINT) AS n_edges,
         |  CASE WHEN m * sx2 - sx * sx = 0 THEN 0.0
         |       ELSE round(CAST(m * sxy - sx * sx AS DOUBLE)
         |              / CAST(m * sx2 - sx * sx AS DOUBLE), 6) END AS assort_r
         |FROM mm, nn""".stripMargin,

    // same kNN edge CTE; 4 unrolled frontier-expansion rounds, each
    // joining only the previous frontier and anti-filtering the
    // accumulated visited set — MATERIALIZED for the same reason as
    // graph_kcore (each round references its predecessor repeatedly)
    "graph_bfs_layers" -> {
      def hop(n: Int) =
        s"""f$n AS MATERIALIZED (
           |  SELECT DISTINCT dst AS v FROM sym JOIN f${n - 1} ON sym.src = f${n - 1}.v
           |  WHERE dst NOT IN (SELECT v FROM v${n - 1})),
           |v$n AS MATERIALIZED (SELECT v, hop FROM v${n - 1}
           |  UNION ALL SELECT v, CAST($n AS BIGINT) FROM f$n)""".stripMargin
      s"""WITH $knnEdgeCtes,
         |sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |f0 AS MATERIALIZED (SELECT DISTINCT vec_id AS v FROM embeddings
         |        WHERE vec_id % 41 = 0),
         |v0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS hop FROM f0),
         |${(1 to 4).map(hop).mkString(",\n")},
         |tot AS (SELECT count(*) AS n_total FROM (
         |  SELECT DISTINCT v FROM (SELECT a AS v FROM ed
         |    UNION ALL SELECT b FROM ed UNION ALL SELECT v FROM f0))),
         |h AS (SELECT hop, count(*) AS n_frontier FROM v4 GROUP BY 1)
         |SELECT hop, n_frontier,
         |  CAST(sum(n_frontier) OVER (ORDER BY hop) AS BIGINT) AS n_cum,
         |  CAST((sum(n_frontier) OVER (ORDER BY hop)) * 10000
         |    // (SELECT n_total FROM tot) AS BIGINT) AS coverage_u4
         |FROM h ORDER BY hop""".stripMargin
    },

    // same kNN edge CTE; the ×10⁶ weight table is the SAME literal
    // list (Graph.aaWeightsU6), 1-indexed at clamped degree − 1, so
    // the score sum is pure integer in both engines
    "graph_adamic_adar" ->
      s"""WITH $knnEdgeCtes,
         |dg AS (SELECT v, count(*) AS deg
         |       FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)
         |       GROUP BY 1),
         |sym AS (SELECT a AS z, b AS n FROM ed UNION ALL SELECT b, a FROM ed),
         |adj AS (SELECT sym.z, sym.n,
         |          [${graft.ops.Graph.aaWeightsU6.mkString(", ")}]
         |            [CAST(least(deg, 64) AS INT) - 1] AS w6
         |        FROM sym JOIN dg ON sym.z = dg.v),
         |cd AS (SELECT a1.n AS u, a2.n AS v,
         |         CAST(count(*) AS BIGINT) AS n_common,
         |         CAST(sum(a1.w6) AS BIGINT) AS aa_u6
         |       FROM adj a1 JOIN adj a2 ON a1.z = a2.z AND a1.n < a2.n
         |       GROUP BY 1, 2)
         |SELECT u, v, n_common, aa_u6 FROM cd
         |WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.a = cd.u AND ed.b = cd.v)
         |ORDER BY aa_u6 DESC, u, v LIMIT 20""".stripMargin,

    "graph_label_prop" -> {
      def round(prev: String, out: String) =
        s"""$out AS (SELECT src AS v, lbl FROM (
           |  SELECT src, lbl,
           |    row_number() OVER (PARTITION BY src ORDER BY cnt DESC, lbl) AS rk
           |  FROM (SELECT sym.src, $prev.lbl, count(*) AS cnt
           |        FROM sym JOIN $prev ON sym.dst = $prev.v GROUP BY 1, 2))
           |  WHERE rk = 1)""".stripMargin
      s"""WITH $knnEdgeCtes,
         |sym AS (SELECT a AS src, b AS dst FROM ed
         |        UNION ALL SELECT b, a FROM ed),
         |l0 AS (SELECT DISTINCT v, v AS lbl
         |       FROM (SELECT a AS v FROM ed UNION ALL SELECT b FROM ed)),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")},
         |${round("l3", "l4")},
         |cm AS (SELECT lbl, count(*) AS n_members FROM l4 GROUP BY 1)
         |SELECT n_members, count(*) AS n_communities
         |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // fixed-width bins are a pure per-row map in both engines; shares
    // are Laplace-smoothed and every float is rounded before compare
    "profile_drift" ->
      """WITH d AS (SELECT doc_id % 2 = 0 AS is_ref,
        |            least(CAST(floor(n_chars / 50) AS BIGINT), 19) AS bin
        |           FROM documents),
        |a AS (SELECT bin,
        |        sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
        |        sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS n_cur
        |      FROM d GROUP BY 1),
        |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur,
        |        count(*) AS nb FROM a),
        |p AS (SELECT bin, n_ref, n_cur,
        |        (2*(n_ref + 1)*1000000 + (t_ref + nb)) // (2*(t_ref + nb)) AS p_ref_u6,
        |        (2*(n_cur + 1)*1000000 + (t_cur + nb)) // (2*(t_cur + nb)) AS p_cur_u6
        |      FROM a, t),
        |b AS (SELECT bin, n_ref, n_cur, p_ref_u6, p_cur_u6,
        |        CAST(round((p_cur_u6 - p_ref_u6) *
        |          ln(CAST(p_cur_u6 AS DOUBLE) / CAST(p_ref_u6 AS DOUBLE)))
        |          AS BIGINT) AS psi_bin_u6
        |      FROM p)
        |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(p_ref_u6 AS BIGINT) AS p_ref_u6,
        |  CAST(p_cur_u6 AS BIGINT) AS p_cur_u6, psi_bin_u6,
        |  CAST(sum(psi_bin_u6) OVER () AS BIGINT) AS total_psi_u6
        |FROM b ORDER BY bin""".stripMargin,

    // same split/grid as profile_drift; CDF gap cross-multiplied over
    // the common denominator, half-up u6, max over the bounded grid
    "profile_ks_drift" ->
      """WITH d AS (SELECT (doc_id % 2 = 0) AS is_ref,
        |             least(n_chars // 50, 19) AS bin FROM documents),
        |a AS (SELECT bin,
        |        sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
        |        sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
        |      FROM d GROUP BY 1),
        |t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM a),
        |c AS (SELECT bin, n_ref, n_cur,
        |        sum(n_ref) OVER (ORDER BY bin) AS cum_ref,
        |        sum(n_cur) OVER (ORDER BY bin) AS cum_cur FROM a),
        |k AS (SELECT c.bin, c.n_ref, c.n_cur, c.cum_ref, c.cum_cur,
        |        CAST((2*abs(c.cum_ref*t.t_cur - c.cum_cur*t.t_ref)*1000000
        |              + t.t_ref*t.t_cur) // (2*t.t_ref*t.t_cur) AS BIGINT) AS d_u6
        |      FROM c, t)
        |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(cum_ref AS BIGINT) AS cum_ref,
        |  CAST(cum_cur AS BIGINT) AS cum_cur, d_u6,
        |  CAST(max(d_u6) OVER () AS BIGINT) AS ks_u6
        |FROM k ORDER BY bin""".stripMargin,

    "emb_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_min(embedding) AS DOUBLE) AS mn,
        |    CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(list_sum([abs(CAST(x AS DOUBLE) - (mn +
        |    (floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn)) + 0.5)
        |      * (mx - mn) / 255.0)) for x in embedding])
        |    / len(embedding), 6) AS mae
        |FROM e ORDER BY vec_id""".stripMargin,

    // full replay of the 3-round power iteration (same uniform init —
    // 1/sqrt(64) is exactly representable, so the starting points are
    // bit-identical across engines)
    "emb_pca_power" ->
      """WITH ex AS (
        |  SELECT vec_id,
        |    unnest([{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding)+1)], recursive := true)
        |  FROM embeddings),
        |v0 AS (SELECT DISTINCT pos,
        |         1.0/sqrt((SELECT max(pos) + 1 FROM ex)) AS v FROM ex),
        |d1 AS (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v0 USING (pos) GROUP BY 1),
        |w1 AS (SELECT pos, sum(x*dot) AS w FROM ex JOIN d1 USING (vec_id) GROUP BY 1),
        |v1 AS (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w1) AS v FROM w1),
        |d2 AS (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v1 USING (pos) GROUP BY 1),
        |w2 AS (SELECT pos, sum(x*dot) AS w FROM ex JOIN d2 USING (vec_id) GROUP BY 1),
        |v2 AS (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w2) AS v FROM w2),
        |d3 AS (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v2 USING (pos) GROUP BY 1),
        |w3 AS (SELECT pos, sum(x*dot) AS w FROM ex JOIN d3 USING (vec_id) GROUP BY 1),
        |v3 AS (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w3) AS v FROM w3)
        |SELECT CAST(pos AS BIGINT) AS pos, round(v, 4) AS component
        |FROM v3 ORDER BY pos""".stripMargin,

    // same three-iteration chain for c1, then the row-exact deflation
    // x' = x − v·dot and an identical chain from the uniform init on
    // the residual for c2 (float composition mirrored step by step).
    // Every CTE is MATERIALIZED: the doubled chain is referenced
    // multiple times per level and default inlining re-executes it
    // exponentially in the iteration depth
    "emb_pca_deflate" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id,
        |    unnest([{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding)+1)], recursive := true)
        |  FROM embeddings),
        |v0 AS MATERIALIZED (SELECT DISTINCT pos,
        |         1.0/sqrt((SELECT max(pos) + 1 FROM ex)) AS v FROM ex),
        |d1 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v0 USING (pos) GROUP BY 1),
        |w1 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex JOIN d1 USING (vec_id) GROUP BY 1),
        |v1 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w1) AS v FROM w1),
        |d2 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v1 USING (pos) GROUP BY 1),
        |w2 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex JOIN d2 USING (vec_id) GROUP BY 1),
        |v2 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w2) AS v FROM w2),
        |d3 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v2 USING (pos) GROUP BY 1),
        |w3 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex JOIN d3 USING (vec_id) GROUP BY 1),
        |v3 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM w3) AS v FROM w3),
        |dp AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex JOIN v3 USING (pos) GROUP BY 1),
        |ex2 AS MATERIALIZED (SELECT ex.vec_id, ex.pos, ex.x - dp.dot * v3.v AS x
        |        FROM ex JOIN dp USING (vec_id) JOIN v3 USING (pos)),
        |e1 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex2 JOIN v0 USING (pos) GROUP BY 1),
        |f1 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex2 JOIN e1 USING (vec_id) GROUP BY 1),
        |u1 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM f1) AS v FROM f1),
        |e2 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex2 JOIN u1 USING (pos) GROUP BY 1),
        |f2 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex2 JOIN e2 USING (vec_id) GROUP BY 1),
        |u2 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM f2) AS v FROM f2),
        |e3 AS MATERIALIZED (SELECT vec_id, sum(x*v) AS dot FROM ex2 JOIN u2 USING (pos) GROUP BY 1),
        |f3 AS MATERIALIZED (SELECT pos, sum(x*dot) AS w FROM ex2 JOIN e3 USING (vec_id) GROUP BY 1),
        |u3 AS MATERIALIZED (SELECT pos, w/(SELECT sqrt(sum(w*w)) FROM f3) AS v FROM f3)
        |SELECT CAST(v3.pos AS BIGINT) AS pos, round(v3.v, 4) + 0.0 AS c1,
        |  round(u3.v, 4) + 0.0 AS c2
        |FROM v3 JOIN u3 ON v3.pos = u3.pos ORDER BY pos""".stripMargin,

    // same centroid derivation, scored against EVERY label's centroid,
    // argmax on the rounded cosine with the same label tiebreak
    "emb_label_confusion" ->
      """WITH ex AS (
        |  SELECT vec_id, label,
        |    unnest([{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding)+1)], recursive := true)
        |  FROM embeddings),
        |cent AS (SELECT label AS clabel, pos, avg(v) AS c FROM ex GROUP BY 1, 2),
        |sums AS (SELECT ex.vec_id, ex.label, cent.clabel,
        |           sum(ex.v*cent.c) AS vc, sum(ex.v*ex.v) AS vv,
        |           sum(cent.c*cent.c) AS cc
        |         FROM ex JOIN cent ON ex.pos = cent.pos
        |         GROUP BY 1, 2, 3),
        |sc AS (SELECT vec_id, label, clabel,
        |         round(vc/(sqrt(vv)*sqrt(cc)), 4) AS cos FROM sums),
        |r AS (SELECT vec_id, label, clabel,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY cos DESC, clabel) AS rk
        |      FROM sc)
        |SELECT label, clabel AS pred_label, count(*) AS n
        |FROM r WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // per-doc contamination hits (any containment >= 0.5) rolled up to
    // the source grain; unrounded integer-ratio rate
    "contam_rate_by_source" ->
      s"""WITH d AS (SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |cp AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d WHERE doc_id >= 25),
         |bp AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM d WHERE doc_id < 25),
         |shared AS (
         |  SELECT cp.doc_id, bp.bench_id, any_value(cp.n_sh) AS n_sh, count(*) AS shared
         |  FROM cp JOIN bp USING (s) GROUP BY 1, 2),
         |hits AS (SELECT DISTINCT doc_id FROM shared
         |         WHERE shared*1.0/n_sh >= 0.5),
         |base AS (SELECT doc_id, source FROM documents WHERE doc_id >= 25)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated,
         |  sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)*1.0
         |    / count(*) AS contam_rate
         |FROM base b LEFT JOIN hits h ON b.doc_id = h.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_centroid_outlier" ->
      """WITH ex AS (
        |  SELECT vec_id, label,
        |    unnest([{'pos': i, 'v': CAST(embedding[i] AS DOUBLE)}
        |            for i in range(1, len(embedding)+1)], recursive := true)
        |  FROM embeddings),
        |cent AS (SELECT label, pos, avg(v) AS c FROM ex GROUP BY 1, 2),
        |sums AS (SELECT ex.vec_id, ex.label,
        |           sum(ex.v*cent.c) AS vc, sum(ex.v*ex.v) AS vv,
        |           sum(cent.c*cent.c) AS cc
        |         FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
        |         GROUP BY 1, 2),
        |sc AS (SELECT label, vec_id,
        |         round(vc/(sqrt(vv)*sqrt(cc)), 4) AS cos FROM sums),
        |r AS (SELECT label, vec_id, cos,
        |        CAST(row_number() OVER (PARTITION BY label
        |          ORDER BY cos ASC NULLS LAST, vec_id) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT label, vec_id, cos, rnk FROM r WHERE rnk <= 3
        |ORDER BY label, rnk""".stripMargin,

    "vocab_build" ->
      s"""WITH tk AS (SELECT unnest($toks) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tk
         |      GROUP BY 1 HAVING count(*) >= 5)
         |SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT)
         |    AS token_id, token, freq
         |FROM f ORDER BY token_id""".stripMargin,

    // same per-shard tf, same (count desc, term) rank cut, same
    // global rollup and semi-join recall
    "vocab_shard_topk_audit" ->
      s"""WITH tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
         |      FROM (SELECT source, unnest($toks) AS w FROM documents)
         |      GROUP BY 1, 2),
         |st AS (SELECT DISTINCT w FROM (
         |        SELECT w, row_number() OVER (PARTITION BY source
         |          ORDER BY c DESC, w) AS rk FROM tf)
         |       WHERE rk <= 20),
         |gt AS (SELECT w FROM (SELECT w, sum(c) AS c FROM tf GROUP BY 1)
         |       ORDER BY c DESC, w LIMIT 20),
         |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_shards
         |       FROM tf),
         |us AS (SELECT CAST(count(*) AS BIGINT) AS union_size FROM st),
         |hit AS (SELECT CAST(count(*) AS BIGINT) AS global_in_union
         |        FROM gt WHERE w IN (SELECT w FROM st))
         |SELECT CAST(20 AS BIGINT) AS k, n_shards, union_size,
         |  global_in_union, global_in_union * 10000 // 20 AS recall_u4
         |FROM hit, ns, us""".stripMargin,

    // same frequency ranking as vocab_build (no df floor), same
    // 3-N explode and half-up coverage
    "vocab_coverage_curve" ->
      s"""WITH tk AS (SELECT unnest($toks) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tk GROUP BY 1),
         |r AS (SELECT token, freq,
         |        row_number() OVER (ORDER BY freq DESC, token) AS rnk
         |      FROM f),
         |t AS (SELECT sum(freq) AS total_tokens, count(*) AS n_types FROM f),
         |sw AS (SELECT nn.n, count(*) AS n_vocab, sum(freq) AS covered_tokens
         |       FROM r, unnest([10, 50, 250]) nn(n)
         |       WHERE r.rnk <= nn.n GROUP BY 1)
         |SELECT CAST(n AS BIGINT) AS n, n_vocab,
         |  CAST(covered_tokens AS BIGINT) AS covered_tokens,
         |  CAST(t.total_tokens AS BIGINT) AS total_tokens,
         |  CAST(t.n_types AS BIGINT) AS n_types,
         |  CAST((2*covered_tokens*10000 + t.total_tokens)
         |       // (2*t.total_tokens) AS BIGINT) AS coverage_u4
         |FROM sw, t ORDER BY n""".stripMargin,

    "text_zipf" ->
      s"""WITH tk AS (SELECT unnest($toks) AS token FROM documents),
         |f AS (SELECT token, count(*) AS freq FROM tk GROUP BY 1),
         |r AS (SELECT freq,
         |        row_number() OVER (ORDER BY freq DESC, token) AS rnk
         |      FROM f)
         |SELECT round(regr_slope(ln(freq), ln(rnk)), 4) AS zipf_slope,
         |  count(*) AS vocab_size
         |FROM r""".stripMargin,

    // PMI composed in DOUBLE with the same left-to-right product order
    // as the engine; counts stay count(*) BIGINT (never sum → no
    // HUGEINT widening), the two totals cast to DOUBLE at the source
    "text_pmi" ->
      s"""WITH tk AS (SELECT $toks AS t FROM documents),
         |sc AS (SELECT CAST(sum(len(t)) AS DOUBLE) AS n1,
         |         CAST(sum(greatest(len(t) - 1, 0)) AS DOUBLE) AS nb FROM tk),
         |uni AS (SELECT w, count(*) AS c FROM
         |          (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |bg AS (SELECT struct_extract(s, 'w1') AS w1,
         |         struct_extract(s, 'w2') AS w2 FROM
         |         (SELECT unnest([{'w1': t[i], 'w2': t[i+1]}
         |                         for i in range(1, len(t))]) AS s
         |          FROM tk WHERE len(t) >= 2)),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg
         |        GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT w1, w2, c12, a.c AS c1, b.c AS c2,
         |  round(ln((CAST(c12 AS DOUBLE) * n1 * n1) / (nb * a.c * b.c)), 4) AS pmi
         |FROM c12 JOIN uni a ON c12.w1 = a.w JOIN uni b ON c12.w2 = b.w, sc
         |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "seq_length_buckets" ->
      s"""WITH t AS (SELECT len($toks) AS n_tokens FROM documents),
         |b AS (SELECT n_tokens,
         |        CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
         |             WHEN n_tokens <= 64 THEN 64 WHEN n_tokens <= 128 THEN 128
         |             ELSE 256 END AS cap FROM t)
         |SELECT CAST(cap AS BIGINT) AS cap, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(cap - n_tokens) AS BIGINT) AS pad_waste,
         |  round(sum(cap - n_tokens)*1.0/(cap*count(*)), 4) AS waste_pct
         |FROM b GROUP BY cap ORDER BY cap""".stripMargin,

    "rank_global" ->
      """SELECT doc_id, n_chars,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        |FROM documents ORDER BY rnk""".stripMargin,

    // full replay of the streaming HLL state + estimator at day grain
    // (same portable hash, bucket/rho split, max-rho merge and float
    // finish as the batch m_sketch_distinct oracle); the incremental
    // two-pass refresh must converge to the same estimate, so it
    // shares the replay verbatim
    "stream_hll_refresh" -> hllDayReplaySql,

    "stream_distinct" -> hllDayReplaySql,

    // the incremental store provably equals the one-shot daily
    // aggregation, so the batch CUSUM oracle is the stream's oracle
    "stream_cusum" -> OlapQueries.oracle("events_cusum"),

    "skew_report" ->
      """WITH kc AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT user_id, cnt,
        |  round(cnt * (SELECT count(*) FROM kc) * 1.0
        |        / (SELECT sum(cnt) FROM kc), 4) AS skew_factor
        |FROM kc ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,

    "source_json_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(avg(c_acctbal), 2) AS avg_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "source_orc_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle is the aggregate itself — a roundtrip that loses or
    // mangles a value hash-mismatches
    "source_csv_roundtrip" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // analytic split: the corrupt rule (key % 97 = 0) and the good-row
    // checksums derive straight from orders — independent of the CSV
    "source_csv_quarantine" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |  CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
        |  CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END) AS BIGINT)
        |    AS good_key_sum,
        |  CAST(sum(CASE WHEN o_orderkey % 97 <> 0 THEN cents END) AS BIGINT)
        |    AS good_cents_sum,
        |  CAST((2*sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)*10000
        |        + count(*)) // (2*count(*)) AS BIGINT) AS bad_share_u4
        |FROM o""".stripMargin,

    "text_novelty" ->
      s"""WITH docs3 AS (
         |  SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS sp FROM docs3),
         |f AS (SELECT sp, min(doc_id) AS first_doc FROM ex GROUP BY 1)
         |SELECT ex.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_novel,
         |  round(sum(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)*1.0
         |        / count(*), 4) AS novelty
         |FROM ex JOIN f ON ex.sp = f.sp
         |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "text_span_dedup" ->
      s"""WITH docs8 AS (
         |  SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS sp FROM docs8),
         |dft AS (SELECT sp, count(*) AS df FROM ex GROUP BY 1),
         |per AS (SELECT ex.doc_id, count(*) AS n_spans,
         |          sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
         |        FROM ex JOIN dft ON ex.sp = dft.sp GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_spans,
         |  round(n_dup*1.0/n_spans, 4) AS dup_frac
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // one-shot replay of the streamed gram-store fold: same gram
    // strings, same portable hash, history = generation-1 grams,
    // per-source totals + history-dup counts over the full corpus
    "stream_substring_ingest" ->
      s"""WITH d AS (SELECT doc_id, source, $toks AS toks FROM documents),
         |thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
         |p AS (SELECT doc_id, source, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, source, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |tb AS (SELECT gram, hex(encode(gram)) AS hx,
         |         octet_length(encode(gram)) AS n
         |       FROM (SELECT DISTINCT gram FROM g)),
         |th AS MATERIALIZED (SELECT gram, ${sx(ghashSql(fnvHx, "41"))} AS h
         |      FROM tb),
         |gh AS MATERIALIZED (SELECT g.doc_id, g.source, th.h
         |      FROM g JOIN th USING (gram)),
         |hist AS (SELECT DISTINCT gh.h FROM gh, thr WHERE gh.doc_id < thr.t),
         |fl AS (SELECT gh.source, gh.doc_id,
         |         CASE WHEN hist.h IS NOT NULL THEN 1 ELSE 0 END AS inh
         |       FROM gh LEFT JOIN hist ON gh.h = hist.h)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN fl.doc_id >= (SELECT t FROM thr) AND inh = 1
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_hist_dup_starts
         |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-L direct gram replay of the sweep (same CTE pattern as the
    // dedup_substring oracle, one block per span length)
    "dedup_substring_sweep" -> {
      def block(l: Int) =
        s"""g$l AS (SELECT doc_id, i AS pos,
           |        array_to_string(toks[i:i+${l - 1}], chr(1)) AS gram
           |      FROM p, unnest(range(1, n - ${l - 2})) t(i)),
           |df$l AS (SELECT gram, count(*) AS c FROM g$l GROUP BY 1),
           |st$l AS (SELECT g$l.doc_id, g$l.pos,
           |         CASE WHEN df$l.c >= 2 THEN 1 ELSE 0 END AS dup
           |       FROM g$l JOIN df$l ON g$l.gram = df$l.gram),
           |cov$l AS (SELECT ap.doc_id, coalesce(s.dup, 0) AS dup,
           |          CASE WHEN s.pos IS NOT NULL THEN 1 ELSE 0 END AS is_start,
           |          max(coalesce(s.dup, 0)) OVER (PARTITION BY ap.doc_id
           |            ORDER BY ap.pos ROWS BETWEEN ${l - 1} PRECEDING AND CURRENT ROW)
           |            AS covered
           |        FROM ap LEFT JOIN st$l s
           |          ON ap.doc_id = s.doc_id AND ap.pos = s.pos),
           |a$l AS (SELECT CAST($l AS BIGINT) AS span_len,
           |          CAST(sum(is_start) AS BIGINT) AS n_grams,
           |          CAST(sum(dup) AS BIGINT) AS n_dup_starts,
           |          CAST(sum(covered) AS BIGINT) AS dup_tokens
           |        FROM cov$l)""".stripMargin
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |ap AS (SELECT doc_id, i AS pos FROM p, unnest(range(1, n + 1)) t(i)),
         |${Seq(8, 16, 32).map(block).mkString(",\n")}
         |SELECT * FROM a8 UNION ALL SELECT * FROM a16 UNION ALL
         |SELECT * FROM a32 ORDER BY span_len""".stripMargin
    },

    // full-history replay of the incremental store: same gram strings,
    // same portable hash bit-for-bit (a collision would mismatch, not
    // be absorbed), same history-membership flags and coverage sweep
    "dedup_substring_incremental" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |tb AS (SELECT gram, hex(encode(gram)) AS hx,
         |         octet_length(encode(gram)) AS n
         |       FROM (SELECT DISTINCT gram FROM g)),
         |th AS MATERIALIZED (SELECT gram, ${sx(ghashSql(fnvHx, "41"))} AS h
         |      FROM tb),
         |hist AS (SELECT DISTINCT th.h
         |         FROM g JOIN th USING (gram), thr WHERE g.doc_id < thr.t),
         |shg AS (SELECT g.doc_id, g.pos, th.h
         |        FROM g JOIN th USING (gram), thr WHERE g.doc_id >= thr.t),
         |st AS (SELECT shg.doc_id, shg.pos,
         |         CASE WHEN hist.h IS NOT NULL THEN 1 ELSE 0 END AS dup
         |       FROM shg LEFT JOIN hist ON shg.h = hist.h),
         |ap AS (SELECT doc_id, i AS pos
         |       FROM p, thr, unnest(range(1, n + 1)) t(i)
         |       WHERE doc_id >= thr.t),
         |cov AS (SELECT ap.doc_id, coalesce(st.dup, 0) AS dup,
         |          max(coalesce(st.dup, 0)) OVER (PARTITION BY ap.doc_id
         |            ORDER BY ap.pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |            AS covered
         |        FROM ap LEFT JOIN st ON ap.doc_id = st.doc_id AND ap.pos = st.pos),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(dup) AS BIGINT) AS n_hist_dup_starts,
         |          CAST(sum(covered) AS BIGINT) AS hist_dup_tokens
         |        FROM cov GROUP BY 1)
         |SELECT dd.doc_id,
         |  CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_hist_dup_starts, 0) AS BIGINT) AS n_hist_dup_starts,
         |  CAST(coalesce(agg.hist_dup_tokens, 0) AS BIGINT) AS hist_dup_tokens
         |FROM (SELECT doc_id FROM documents, thr WHERE doc_id >= thr.t) dd
         |LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // same direct-gram replay, rolled up per (gram, source) then the
    // bounded source-pair join with the within-source diagonal rule
    "dedup_substring_sources" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |gsrc AS (SELECT g.gram, d2.source, count(*) AS cs
         |         FROM g JOIN documents d2 USING (doc_id) GROUP BY 1, 2)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_shared_grams
         |FROM gsrc a JOIN gsrc b ON a.gram = b.gram
         |WHERE a.source < b.source OR (a.source = b.source AND a.cs >= 2)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // independent replay of the suffix-rank construction by direct
    // L-gram materialization: the engine's rank identity (prefix
    // doubling) ⟺ 16-token gram-string identity here; coverage is the
    // same 15-preceding per-doc window max. chr(1) cannot occur in a
    // token ([a-z0-9]+), so the join key is collision-free.
    "dedup_substring" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |dft AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
         |st AS (SELECT g.doc_id, g.pos,
         |         CASE WHEN dft.c >= 2 THEN 1 ELSE 0 END AS dup
         |       FROM g JOIN dft ON g.gram = dft.gram),
         |ap AS (SELECT doc_id, i AS pos FROM p, unnest(range(1, n + 1)) t(i)),
         |cov AS (SELECT ap.doc_id, coalesce(st.dup, 0) AS dup,
         |          max(coalesce(st.dup, 0)) OVER (PARTITION BY ap.doc_id
         |            ORDER BY ap.pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |            AS covered
         |        FROM ap LEFT JOIN st ON ap.doc_id = st.doc_id AND ap.pos = st.pos),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |          CAST(sum(dup) AS BIGINT) AS n_dup_starts,
         |          CAST(sum(covered) AS BIGINT) AS dup_tokens
         |        FROM cov GROUP BY 1)
         |SELECT dd.doc_id, CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_dup_starts, 0) AS BIGINT) AS n_dup_starts,
         |  CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens
         |FROM documents dd LEFT JOIN agg ON dd.doc_id = agg.doc_id
         |ORDER BY dd.doc_id""".stripMargin,

    // the removal EXECUTED, replayed independently: same dup-start set
    // and coverage window as the dedup_substring oracle, then the kept
    // tokens (covered = 0) re-joined in position order and md5'd —
    // DuckDB rebuilds the post-cut string from its own tokenization,
    // so the hash pins the engine's rewrite byte-for-byte
    "dedup_substring_apply" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, i AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |dft AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
         |st AS (SELECT g.doc_id, g.pos,
         |         CASE WHEN dft.c >= 2 THEN 1 ELSE 0 END AS dup
         |       FROM g JOIN dft ON g.gram = dft.gram),
         |ap AS (SELECT doc_id, i AS pos FROM p, unnest(range(1, n + 1)) t(i)),
         |cov AS (SELECT ap.doc_id, ap.pos,
         |          max(coalesce(st.dup, 0)) OVER (PARTITION BY ap.doc_id
         |            ORDER BY ap.pos ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |            AS covered
         |        FROM ap LEFT JOIN st ON ap.doc_id = st.doc_id AND ap.pos = st.pos),
         |keptpos AS (SELECT doc_id, pos FROM cov WHERE covered = 0),
         |ktext AS (SELECT k.doc_id, count(*) AS kept_tokens,
         |            md5(string_agg(p.toks[k.pos], ' ' ORDER BY k.pos))
         |              AS kept_md5
         |          FROM keptpos k JOIN p USING (doc_id) GROUP BY 1)
         |SELECT dd.doc_id,
         |  CAST(coalesce(pp.n, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(ktext.kept_tokens, 0) AS BIGINT) AS kept_tokens,
         |  coalesce(ktext.kept_md5, md5('')) AS kept_md5
         |FROM documents dd
         |LEFT JOIN p pp ON dd.doc_id = pp.doc_id
         |LEFT JOIN ktext ON dd.doc_id = ktext.doc_id
         |ORDER BY dd.doc_id""".stripMargin,

    // span extraction replayed by direct L-gram materialization: same
    // dup-start set as the dedup_substring oracle (0-based positions,
    // the contamination_spans convention), islands split when the
    // start gap exceeds 16, span = [min, max+16)
    "dedup_substring_spans" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (SELECT doc_id, toks, len(toks) AS n FROM d),
         |g AS (SELECT doc_id, i - 1 AS pos,
         |        array_to_string(toks[i:i+15], chr(1)) AS gram
         |      FROM p, unnest(range(1, n - 14)) t(i)),
         |dft AS (SELECT gram, count(*) AS c FROM g GROUP BY 1),
         |ds AS (SELECT g.doc_id, g.pos
         |       FROM g JOIN dft USING (gram) WHERE dft.c >= 2),
         |isl AS (SELECT doc_id, pos,
         |          CASE WHEN lag(pos) OVER w IS NULL
         |                 OR pos - lag(pos) OVER w > 16
         |          THEN 1 ELSE 0 END AS nw
         |        FROM ds WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos,
         |           sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         |         FROM isl),
         |sp AS (SELECT doc_id, island, min(pos) AS start_tok,
         |         max(pos) + 16 AS end_tok
         |       FROM isl2 GROUP BY 1, 2),
         |idx AS (SELECT doc_id, start_tok, end_tok,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
         |            AS span_idx,
         |          end_tok - start_tok AS span_tokens
         |        FROM sp),
         |cut AS (SELECT doc_id, sum(span_tokens) AS cut_toks
         |        FROM idx GROUP BY 1)
         |SELECT idx.doc_id, CAST(span_idx AS BIGINT) AS span_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(end_tok AS BIGINT) AS end_tok,
         |  CAST(span_tokens AS BIGINT) AS span_tokens,
         |  CAST(p.n AS BIGINT) AS n_tokens,
         |  CAST(p.n - cut.cut_toks AS BIGINT) AS kept_tokens
         |FROM idx JOIN p USING (doc_id) JOIN cut USING (doc_id)
         |ORDER BY doc_id, span_idx""".stripMargin,

    "sample_bottomk" -> bottomKReplaySql,

    // the streamed two-generation fold must equal the one-shot
    // bottom-k — hash-min mergeability is the operator's contract
    "stream_sample_bottomk" -> bottomKReplaySql,

    // full replay of the seeded portable hash, then the same rank
    // display expected is rounded; ratio/chi2 derive from the raw
    // expectation in both engines
    "corpus_lang_source_mix" ->
      """WITH cell AS (SELECT lang, source, count(*) AS n
        |              FROM documents GROUP BY 1, 2),
        |bl AS (SELECT lang, sum(n) AS lang_tot FROM cell GROUP BY 1),
        |bs AS (SELECT source, sum(n) AS src_tot FROM cell GROUP BY 1),
        |t AS (SELECT sum(n) AS n_total FROM cell)
        |SELECT cell.lang, cell.source, CAST(n AS BIGINT) AS n,
        |  round(lang_tot * src_tot * 1.0 / n_total, 4) AS expected,
        |  round(n / (lang_tot * src_tot * 1.0 / n_total), 4) AS ratio,
        |  round(pow(n - lang_tot * src_tot * 1.0 / n_total, 2)
        |        / (lang_tot * src_tot * 1.0 / n_total), 4) AS chi2
        |FROM cell JOIN bl USING (lang) JOIN bs USING (source), t
        |ORDER BY lang, source""".stripMargin,

    // same signed-hash ascending order, quota 40 per source
    "sample_source_quota" ->
      s"""WITH tb AS (
         |  SELECT doc_id, source, n_chars,
         |    hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
         |  FROM documents),
         |h AS (SELECT doc_id, source, n_chars,
         |        ${sx(ghashSql(fnvHx, "11"))} AS h FROM tb),
         |r AS (SELECT source, n_chars,
         |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
         |      FROM h)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rn <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN rn <= 40 THEN n_chars ELSE 0 END) AS BIGINT)
         |    AS kept_chars
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_shuffle" ->
      s"""WITH tb AS (
         |  SELECT doc_id, hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
         |  FROM documents),
         |h AS (SELECT doc_id, ${sx(ghashSql(fnvHx, "7"))} AS h FROM tb),
         |r AS (SELECT doc_id,
         |        CAST(row_number() OVER (ORDER BY h DESC, doc_id) AS BIGINT) AS shuffle_rank
         |      FROM h)
         |SELECT doc_id, shuffle_rank, (shuffle_rank - 1) % 8 AS shard
         |FROM r ORDER BY shuffle_rank""".stripMargin,

    // same portable hash over the text bytes; xor via DuckDB's bit_xor
    // aggregate, the residue sum BIGINT-cast at every step
    "corpus_content_digest" ->
      s"""WITH tb AS (SELECT source, hex(encode(text)) AS hx,
         |             octet_length(encode(text)) AS n FROM documents),
         |h AS (SELECT source, ${sx(ghashSql(fnvHx, "13"))} AS h FROM tb)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(bit_xor(h) AS BIGINT) AS digest_xor,
         |  CAST(CAST(sum(h % 1000000007) AS BIGINT) % 1000000007 AS BIGINT)
         |    AS digest_sum
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,

    // both orderings replayed with the same portable hash (doc_id
    // bytes for the shuffle, source bytes for the clumped baseline),
    // adjacency via a lag window (single-node license), every sum
    // BIGINT-cast before it widens to HUGEINT
    "corpus_shuffle_audit" -> {
      def ord(name: String, keyExpr: String): String =
        s"""SELECT '$name' AS ordering,
           |    CAST(count(*) - 1 AS BIGINT) AS n_pairs,
           |    CAST(sum(CASE WHEN prev IS NOT NULL AND source = prev
           |                  THEN 1 ELSE 0 END) AS BIGINT) AS same_pairs
           |  FROM (
           |    SELECT source, lag(source) OVER (ORDER BY h DESC, doc_id) AS prev
           |    FROM (SELECT doc_id, source, ${sx(ghashSql(fnvHx, "7"))} AS h
           |          FROM (SELECT doc_id, source, hex(encode($keyExpr)) AS hx,
           |                  octet_length(encode($keyExpr)) AS n
           |                FROM documents)))""".stripMargin
      s"""WITH a AS (
         |  ${ord("shuffled", "CAST(doc_id AS VARCHAR)")}
         |  UNION ALL
         |  ${ord("by_source", "source")}),
         |st AS (SELECT CAST(sum(ns) AS BIGINT) AS n_docs,
         |         CAST(sum(ns * (ns - 1)) AS BIGINT) AS exp_num
         |       FROM (SELECT count(*) AS ns FROM documents GROUP BY source))
         |SELECT ordering, n_docs, n_pairs, same_pairs,
         |  same_pairs * 1000000 // n_pairs AS obs_u6,
         |  exp_num * 1000000 // (n_docs * (n_docs - 1)) AS exp_u6,
         |  same_pairs * n_docs * 10000 // nullif(exp_num, 0) AS clump_x_u4
         |FROM a CROSS JOIN st
         |ORDER BY ordering""".stripMargin
    },

    // independent minhash-LSH re-derivation: same shingles, the
    // engine-portable double hash (GraftHash64 emulated above), 128
    // permutation minima, 16 bands of 8 — the oracle buckets by the
    // RAW band string where the engine compresses it with xxhash64
    // (identical grouping modulo hash collisions, which the exact
    // jaccard verification absorbs), then verifies candidates at 0.8
    "dedup_minhash_calib" ->
      s"""$minhashPrelude,
         |es AS (
         |  SELECT c.id1, c.id2,
         |    list_sum([CASE WHEN g1.sg[i] = g2.sg[i] THEN 1 ELSE 0 END
         |              for i in range(1, 129)])/128.0 AS est
         |  FROM cand c JOIN sig g1 ON g1.doc_id = c.id1
         |              JOIN sig g2 ON g2.doc_id = c.id2),
         |ssz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.id1, c.id2, count(*) AS shared
         |  FROM cand c JOIN sh a ON a.doc_id = c.id1
         |              JOIN sh b2 ON b2.doc_id = c.id2 AND b2.s = a.s
         |  GROUP BY 1, 2)
         |SELECT es.id1, es.id2, es.est AS est_jaccard,
         |  coalesce(i.shared, 0)*1.0
         |        /(s1.n + s2.n - coalesce(i.shared, 0)) AS jaccard
         |FROM es LEFT JOIN inter i ON es.id1 = i.id1 AND es.id2 = i.id2
         |JOIN ssz s1 ON es.id1 = s1.doc_id
         |JOIN ssz s2 ON es.id2 = s2.doc_id
         |ORDER BY es.id1, es.id2""".stripMargin,

    // same raw-band candidates and signatures; slot matches counted
    // per pair, thresholds as an unnest, integer membership test
    // same signature prelude; the widest (32-band) candidate set is
    // re-derived with stride 4, then each config's band scan replays
    // over the shared 128-slot equality list — inclusive-end slices
    // match the engine's slice(eq, i*r+1, r)
    "dedup_lsh_scurve" ->
      s"""$minhashPrelude,
         |bd4 AS (SELECT doc_id, b, array_to_string(sg[b*4+1 : b*4+4], ',') AS bs
         |        FROM sig, unnest(range(0, 32)) r(b)),
         |bk4 AS (SELECT b, bs, list_sort(list(doc_id)) AS ids
         |        FROM bd4 GROUP BY b, bs HAVING count(*) <= 1000),
         |cand4 AS (SELECT DISTINCT ids[x] AS id1, ids[y] AS id2
         |          FROM bk4, unnest(range(1, len(ids)+1)) a(x),
         |               unnest(range(1, len(ids)+1)) c(y)
         |          WHERE x < y),
         |pq AS (SELECT c.id1, c.id2, s1.sg AS g1, s2.sg AS g2
         |       FROM cand4 c JOIN sig s1 ON c.id1 = s1.doc_id
         |                    JOIN sig s2 ON c.id2 = s2.doc_id),
         |eqt AS (SELECT id1, id2, list_transform(range(1, 129),
         |          i -> CASE WHEN g1[i] = g2[i] THEN 1 ELSE 0 END) AS eq
         |        FROM pq),
         |fl AS (SELECT id1, id2,
         |         least((list_sum(eq)*10) // 128, 9) AS decile, cf.bands,
         |         CASE WHEN len(list_filter(range(0, cf.bands), i ->
         |                list_sum(eq[i*(128//cf.bands)+1 : i*(128//cf.bands)+(128//cf.bands)])
         |                  = 128//cf.bands)) > 0
         |              THEN 1 ELSE 0 END AS fired
         |       FROM eqt, unnest([32, 16, 8]) cf(bands)),
         |ag AS (SELECT bands, decile, count(*) AS n_pairs,
         |         sum(fired) AS n_fired FROM fl GROUP BY 1, 2)
         |SELECT CAST(bands AS BIGINT) AS bands, CAST(decile AS BIGINT) AS decile,
         |  n_pairs, CAST(n_fired AS BIGINT) AS n_fired,
         |  CAST((2*n_fired*10000 + n_pairs) // (2*n_pairs) AS BIGINT) AS fire_u4
         |FROM ag ORDER BY bands, decile""".stripMargin,

    "dedup_threshold_sweep" ->
      s"""$minhashPrelude,
         |ms AS (SELECT c.id1, c.id2,
         |         len(list_filter(range(1, 129), i -> s1.sg[i] = s2.sg[i])) AS m
         |       FROM cand c JOIN sig s1 ON c.id1 = s1.doc_id
         |                   JOIN sig s2 ON c.id2 = s2.doc_id),
         |sw AS (SELECT t.thr_pct, id1, id2, m
         |       FROM ms, unnest([70, 80, 90]) t(thr_pct)
         |       WHERE m * 100 >= thr_pct * 128),
         |ag AS (SELECT thr_pct, count(*) AS n_pairs,
         |         count(DISTINCT id2) AS n_dropped FROM sw GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT CAST(thr_pct AS BIGINT) AS thr_pct, n_pairs, n_dropped,
         |  round(n_dropped * 1.0 / n_docs, 4) AS dup_rate
         |FROM ag, nd ORDER BY thr_pct""".stripMargin,

    // same raw-band candidate set, then DuckDB's own levenshtein —
    // the DP is engine-independent, so distances match exactly
    "dedup_edit_verify" ->
      s"""$minhashPrelude
         |SELECT c.id1, c.id2,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |  CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len,
         |  round(levenshtein(a.text, b.text)*1.0
         |        / greatest(length(a.text), length(b.text)), 4) AS rel_dist,
         |  CAST(round(levenshtein(a.text, b.text)*1.0
         |        / greatest(length(a.text), length(b.text)), 4) <= 0.2 AS BIGINT)
         |    AS is_dup
         |FROM cand c JOIN documents a ON c.id1 = a.doc_id
         |            JOIN documents b ON c.id2 = b.doc_id
         |ORDER BY c.id1, c.id2""".stripMargin,

    // re-orients the shared candidate set to (new, match) pairs with a
    // >= 400 side, then verifies like dedup_minhash; band-hash
    // collisions are absorbed by the jaccard filter as there
    "dedup_incremental" ->
      s"""$minhashPrelude,
         |inc AS (
         |  -- one-new-side pairs orient (new, old); both-new pairs keep
         |  -- cand's id1 < id2, which is the engine's new_id < match_id
         |  SELECT CASE WHEN id1 >= 400 THEN id1 ELSE id2 END AS new_id,
         |         CASE WHEN id1 >= 400 THEN id2 ELSE id1 END AS match_id
         |  FROM cand WHERE id1 >= 400 OR id2 >= 400),
         |ssz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.new_id, c.match_id, count(*) AS shared
         |  FROM inc c JOIN sh a ON a.doc_id = c.new_id
         |              JOIN sh b2 ON b2.doc_id = c.match_id AND b2.s = a.s
         |  GROUP BY 1, 2)
         |SELECT i.new_id, i.match_id,
         |  i.shared*1.0/(s1.n + s2.n - i.shared) AS jaccard,
         |  CAST(i.match_id < 400 AS BIGINT) AS is_cross
         |FROM inter i
         |JOIN ssz s1 ON i.new_id = s1.doc_id
         |JOIN ssz s2 ON i.match_id = s2.doc_id
         |WHERE i.shared*1.0/(s1.n + s2.n - i.shared) >= 0.8
         |ORDER BY i.new_id, i.match_id""".stripMargin,

    // same new-touching pair space as dedup_incremental, but verified
    // by signature agreement (the store has no raw text): n_match of
    // 128 permutation minima, integer threshold n_match·10 ≥ 1024
    "dedup_incremental_store" ->
      s"""$minhashPrelude,
         |inc AS (
         |  SELECT CASE WHEN id1 >= 400 THEN id1 ELSE id2 END AS new_id,
         |         CASE WHEN id1 >= 400 THEN id2 ELSE id1 END AS match_id
         |  FROM cand WHERE id1 >= 400 OR id2 >= 400),
         |m AS (
         |  SELECT i.new_id, i.match_id,
         |    len(list_filter(range(1, 129), j -> a.sg[j] = b.sg[j])) AS n_match
         |  FROM inc i JOIN sig a ON a.doc_id = i.new_id
         |             JOIN sig b ON b.doc_id = i.match_id)
         |SELECT new_id, match_id, CAST(n_match AS BIGINT) AS n_match,
         |  n_match/128.0 AS est_jaccard,
         |  CAST(match_id < 400 AS BIGINT) AS is_cross
         |FROM m WHERE n_match*10 >= 1024
         |ORDER BY new_id, match_id""".stripMargin,

    "dedup_minhash" ->
      s"""$minhashPrelude,
         |ssz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.id1, c.id2, count(*) AS shared
         |  FROM cand c JOIN sh a ON a.doc_id = c.id1
         |              JOIN sh b2 ON b2.doc_id = c.id2 AND b2.s = a.s
         |  GROUP BY 1, 2)
         |SELECT i.id1, i.id2,
         |  i.shared*1.0/(s1.n + s2.n - i.shared) AS jaccard
         |FROM inter i JOIN ssz s1 ON i.id1 = s1.doc_id JOIN ssz s2 ON i.id2 = s2.doc_id
         |WHERE i.shared*1.0/(s1.n + s2.n - i.shared) >= 0.8
         |ORDER BY id1, id2""".stripMargin,

    // independent simhash re-derivation: per-token GraftHash64, the
    // tf-weighted per-bit sign sums, then ALL-PAIRS hamming over the
    // 64 per-bit signs (the engine's chunk blocking is pigeonhole-
    // complete — DedupSpec proves it equals brute force — so the
    // oracle skips the blocking and computes the exact pair set)
    // same tf-weighted per-bit majority as the simhash replay, rolled
    // up per bit position instead of per doc
    "text_simhash_bit_balance" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS s FROM documents),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tok)),
         |th AS (SELECT s, ${ghashSql(fnvHx, "0")} AS hu FROM tb),
         |bits AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN (hu // (CAST([$pow2List] AS HUGEINT[])[i+1])) % 2 = 1
         |        THEN 1 ELSE -1 END) AS b
         |  FROM tok JOIN th USING (s), unnest(range(0, 64)) r(i)
         |  GROUP BY doc_id, i),
         |ones AS (SELECT i AS bit, sum(CASE WHEN b > 0 THEN 1 ELSE 0 END) AS n_ones
         |         FROM bits GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
         |bb AS (SELECT bit, n_ones,
         |         CAST((2*abs(2*n_ones - n_docs)*10000 + n_docs)
         |              // (2*n_docs) AS BIGINT) AS bias_u4
         |       FROM ones, nd)
         |SELECT CAST(bit AS BIGINT) AS bit, CAST(n_ones AS BIGINT) AS n_ones,
         |  bias_u4, CAST(max(bias_u4) OVER () AS BIGINT) AS max_bias_u4
         |FROM bb ORDER BY bit""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS s FROM documents),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tok)),
         |th AS (SELECT s, ${ghashSql(fnvHx, "0")} AS hu FROM tb),
         |bits AS (
         |  SELECT doc_id, i,
         |    sum(CASE WHEN (hu // (CAST([$pow2List] AS HUGEINT[])[i+1])) % 2 = 1
         |        THEN 1 ELSE -1 END) AS b
         |  FROM tok JOIN th USING (s), unnest(range(0, 64)) r(i)
         |  GROUP BY doc_id, i),
         |pb AS (SELECT doc_id, i, (b > 0) AS bit FROM bits),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b2.doc_id AS id2,
         |         count(*) FILTER (WHERE a.bit <> b2.bit) AS hamming
         |  FROM pb a JOIN pb b2 ON a.i = b2.i AND a.doc_id < b2.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, hamming FROM pairs WHERE hamming <= 3 ORDER BY id1, id2""".stripMargin,

    // same pair derivation as dedup_ngram_jaccard, then components via
    // recursive CTE (transitive closure of the near-dup relation)
    "dedup_cluster" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1
         |ORDER BY 1""".stripMargin,

    // same recursive label derivation joined to the source label; the
    // contingency rollups and both ×10⁴ integer metrics replayed
    "dedup_cluster_purity" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |fl AS (SELECT cluster_id, source, count(*) AS n_fl
         |       FROM lab JOIN documents USING (doc_id) GROUP BY 1, 2),
         |pf AS (SELECT cluster_id, sum(n_fl) AS n_f, max(n_fl) AS max_fl
         |       FROM fl GROUP BY 1),
         |ag AS (SELECT
         |    (SELECT sum(n_fl*(n_fl-1)//2) FROM fl) AS a,
         |    (SELECT count(*) FROM pf) AS n_families,
         |    (SELECT sum(n_f) FROM pf) AS n_docs,
         |    (SELECT sum(n_f*(n_f-1)//2) FROM pf) AS same_f,
         |    (SELECT sum(max_fl) FROM pf) AS pure_sum,
         |    (SELECT count(DISTINCT source) FROM fl) AS n_labels,
         |    (SELECT sum(n_l*(n_l-1)//2) FROM
         |       (SELECT source, sum(n_fl) AS n_l FROM fl GROUP BY 1)) AS same_l)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs,
         |  CAST(n_families AS BIGINT) AS n_families,
         |  CAST(n_labels AS BIGINT) AS n_labels,
         |  CAST(pure_sum*10000 // n_docs AS BIGINT) AS purity_u4,
         |  CAST(((n_docs*(n_docs-1)//2) - same_f - same_l + 2*a)*10000
         |    // (n_docs*(n_docs-1)//2) AS BIGINT) AS rand_u4
         |FROM ag""".stripMargin,

    // same recursive label derivation; keeper = converged min label,
    // token sizes from the same tokenizer, BIGINT-cast sums
    "dedup_effective_tokens" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |tk AS (SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tok
         |       FROM documents),
         |j AS (SELECT tk.source, tk.n_tok,
         |        CASE WHEN tk.doc_id = lab.cluster_id THEN 1 ELSE 0 END AS kept
         |      FROM tk JOIN lab ON tk.doc_id = lab.id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(sum(n_tok) AS BIGINT) AS tokens_raw,
         |  CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS tokens_kept,
         |  (CAST(sum(n_tok) AS BIGINT)
         |     - CAST(sum(CASE WHEN kept = 1 THEN n_tok ELSE 0 END) AS BIGINT))
         |    * 10000 // nullif(CAST(sum(n_tok) AS BIGINT), 0) AS savings_u4
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // same recursive label derivation, rolled up twice
    "dedup_family_sizes" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |fam AS (SELECT cluster_id, count(*) AS family_size FROM lab GROUP BY 1)
         |SELECT family_size, count(*) AS n_families,
         |  CAST(family_size * count(*) AS BIGINT) AS n_docs
         |FROM fam GROUP BY 1 ORDER BY 1""".stripMargin,

    // same recursive cluster derivation; then BOTH split schemes are
    // replayed with the corpus_split hash (naive hashes doc_id, family
    // hashes the cluster root) and the verified pair list is checked
    // for cross-split members per scheme
    "split_leakage" ->
      s"""WITH RECURSIVE docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes s1 ON id1 = s1.doc_id
         |  JOIN sizes s2 ON id2 = s2.doc_id
         |  WHERE shared*1.0/(s1.n + s2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |dn AS (SELECT doc_id, hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |         octet_length(encode(CAST(doc_id AS VARCHAR))) AS n FROM lab),
         |dh AS (SELECT doc_id, ${ghashSql(fnvHx, "7")} AS hu FROM dn),
         |cn AS (SELECT doc_id, hex(encode(CAST(cluster_id AS VARCHAR))) AS hx,
         |         octet_length(encode(CAST(cluster_id AS VARCHAR))) AS n FROM lab),
         |ch AS (SELECT doc_id, ${ghashSql(fnvHx, "7")} AS hu FROM cn),
         |schemes AS (
         |  SELECT 'naive' AS scheme, doc_id,
         |    CASE WHEN hu // 4503599627370496 < 3277 THEN 'train'
         |         WHEN hu // 4503599627370496 < 3686 THEN 'val'
         |         ELSE 'test' END AS split FROM dh
         |  UNION ALL
         |  SELECT 'family', doc_id,
         |    CASE WHEN hu // 4503599627370496 < 3277 THEN 'train'
         |         WHEN hu // 4503599627370496 < 3686 THEN 'val'
         |         ELSE 'test' END AS split FROM ch),
         |counts AS (
         |  SELECT scheme,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |  FROM schemes GROUP BY 1),
         |leaks AS (
         |  SELECT a.scheme,
         |    CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END) AS BIGINT) AS leaky_pairs
         |  FROM good g
         |  JOIN schemes a ON g.id1 = a.doc_id
         |  JOIN schemes b ON g.id2 = b.doc_id AND a.scheme = b.scheme
         |  GROUP BY 1)
         |SELECT c.scheme, c.n_train, c.n_val, c.n_test,
         |  CAST(coalesce(l.leaky_pairs, 0) AS BIGINT) AS leaky_pairs
         |FROM counts c LEFT JOIN leaks l ON c.scheme = l.scheme
         |ORDER BY c.scheme""".stripMargin,

    "text_ngram_topk" ->
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs)
         |SELECT s, count(*) AS df FROM ex GROUP BY 1
         |ORDER BY df DESC, s LIMIT 20""".stripMargin,

    // same token stream and struct-comprehension bigrams. The greedy
    // walk does NOT replay as a DuckDB lambda — list_reduce evaluated
    // against joined columns mis-correlates rows in DuckDB 1.0.0
    // (found here twice: per-doc merge counts came back swapped
    // between docs) — so the oracle uses the walk's closed form
    // instead: over a doc's sorted hit positions, greedy left-to-right
    // non-overlapping merging keeps ⌈L/2⌉ hits per maximal run of
    // CONSECUTIVE positions (a merged hit at i blocks only i+1; a
    // skipped hit extends no coverage), so merges = Σ_runs (L+1)//2 —
    // plain lag/sum windows, zero lambdas, provably equal to the
    // engine's aggregate-HOF walk (spec replays the walk itself).
    "text_phrase_merge" ->
      s"""WITH tk AS (SELECT doc_id, source, $toks AS t FROM documents),
         |u AS (SELECT w, CAST(count(*) AS BIGINT) AS c
         |      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY 1),
         |b AS (SELECT p.x AS x, p.y AS y, CAST(count(*) AS BIGINT) AS c_xy
         |      FROM (SELECT unnest([{'x': t[i], 'y': t[i+1]}
         |                           for i in range(1, len(t))]) AS p FROM tk)
         |      GROUP BY 1, 2),
         |n AS (SELECT CAST(sum(c_xy) AS BIGINT) AS nb FROM b),
         |sc AS (SELECT x || ' ' || y AS phrase,
         |         (b.c_xy - 5) * n.nb * 1000000 // (ux.c * uy.c) AS score_u6
         |       FROM b CROSS JOIN n
         |       JOIN u ux ON b.x = ux.w JOIN u uy ON b.y = uy.w
         |       WHERE b.c_xy > 5),
         |top AS (SELECT phrase FROM sc ORDER BY score_u6 DESC, phrase LIMIT 20),
         |hits AS (SELECT x.doc_id, x.p.i AS i
         |         FROM (SELECT doc_id,
         |                 unnest([{'i': i, 's': t[i] || ' ' || t[i+1]}
         |                         for i in range(1, len(t))]) AS p
         |               FROM tk) x
         |         JOIN top ON x.p.s = top.phrase),
         |hr AS (SELECT doc_id, i,
         |         CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) = 1
         |              THEN 0 ELSE 1 END AS newrun
         |       FROM hits),
         |rn AS (SELECT doc_id,
         |         sum(newrun) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
         |       FROM hr),
         |rl AS (SELECT doc_id, run_id, count(*) AS l FROM rn GROUP BY 1, 2),
         |md AS (SELECT doc_id, CAST(sum((l + 1) // 2) AS BIGINT) AS merges
         |       FROM rl GROUP BY 1),
         |mg AS (SELECT tk.source, CAST(len(tk.t) AS BIGINT) AS nt,
         |         coalesce(md.merges, 0) AS merges
         |       FROM tk LEFT JOIN md ON tk.doc_id = md.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS tokens_before,
         |  CAST(sum(merges) AS BIGINT) AS phrase_merges,
         |  CAST(sum(nt) - sum(merges) AS BIGINT) AS tokens_after,
         |  CAST(sum(merges) AS BIGINT) * 1000000
         |    // nullif(CAST(sum(nt) AS BIGINT), 0) AS merge_rate_u6
         |FROM mg GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2, a.label,
        |  round(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
        |       * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
        |       * sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.35
        |ORDER BY id1, id2""".stripMargin,

    "dedup_embedding_lsh" -> {
      // the 6 hyperplanes are seed-deterministic engine constants
      // (Similarity.hyperplanes(6, 64, seed=42)); baked into the SQL as
      // list literals so DuckDB re-derives the same sign-bit buckets
      val bucketExpr = Similarity.hyperplanes(6, 64, 42L).zipWithIndex.map {
        case (p, i) =>
          val lit = "[" + p.mkString(",") + "]"
          s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n|    + ")
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (
         |  SELECT vec_id, v,
         |    $bucketExpr AS bucket
         |  FROM e0)
         |SELECT a.vec_id AS id1, b.vec_id AS id2, a.bucket,
         |  round(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
         |    / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
         |       * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS cos
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
         |    / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
         |       * sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.35
         |ORDER BY id1, id2""".stripMargin
    },

    // one-shot replay of the streamed vector-store fold: gen1-trained
    // quantizer at the DERIVED ⌊√n_gen1⌋ dial (ivf prelude with the
    // thr buildWhere + the nc CTE replaying Similarity.semCells), full
    // assignment, per-cell totals plus landed vectors with an in-cell
    // gen1 neighbor at cosine >= 0.35 (snapshot semantics = exactly
    // gen2-vs-gen1)
    "stream_semantic_ingest" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
        |eb AS (SELECT e.* FROM e, thr WHERE e.vec_id < thr.t),
        |nc AS (SELECT GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k FROM eb),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
        |  FROM eb, nc QUALIFY cell < nc.k),
        |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
        |a0 AS (
        |  SELECT eb.vec_id, eb.v, eb.nrm, sd.cell,
        |    row_number() OVER (PARTITION BY eb.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> eb.v[i]*sd.c[i])) / (eb.nrm*sd.cn) DESC,
        |               sd.cell DESC) AS rk
        |  FROM eb CROSS JOIN sd QUALIFY rk = 1),
        |r0 AS (
        |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        |  FROM a0, unnest(range(1, 65)) t(i)
        |  GROUP BY cell, i),
        |rc AS (
        |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
        |         list(m ORDER BY pos) AS c
        |  FROM r0 GROUP BY cell),
        |rcn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
        |corp AS MATERIALIZED (
        |  SELECT e.vec_id, e.v, e.nrm, rcn.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
        |               rcn.cell DESC) AS rk
        |  FROM e CROSS JOIN rcn QUALIFY rk = 1),
        |occ AS (SELECT cell, count(*) AS n_vecs FROM corp GROUP BY 1),
        |hits AS (
        |  SELECT b.cell, count(DISTINCT b.vec_id) AS nh
        |  FROM corp b JOIN corp a ON a.cell = b.cell, thr
        |  WHERE b.vec_id >= thr.t AND a.vec_id < thr.t
        |    AND list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |          / (a.nrm*b.nrm) >= 0.35
        |  GROUP BY 1)
        |SELECT CAST(occ.cell AS BIGINT) AS cell,
        |  CAST(occ.n_vecs AS BIGINT) AS n_vecs,
        |  CAST(coalesce(hits.nh, 0) AS BIGINT) AS n_hist_dup_vecs
        |FROM occ LEFT JOIN hits USING (cell)
        |ORDER BY cell""".stripMargin,

    // the pruning curve: same assignment prelude, pairs kept at the
    // loosest threshold with their cosines, one recursive CC per
    // threshold over the filtered edge set
    "dedup_semantic_sweep" -> {
      def reachBlock(t: Int) =
        s"""ed$t AS (SELECT id1 AS src, id2 AS dst FROM pairs WHERE cos >= 0.$t
           |        UNION ALL SELECT id2, id1 FROM pairs WHERE cos >= 0.$t),
           |reach$t(id, r) AS (
           |  SELECT vec_id, vec_id FROM corp
           |  UNION
           |  SELECT e.src, reach$t.r FROM ed$t e JOIN reach$t ON e.dst = reach$t.id),
           |agg$t AS (
           |  SELECT CAST($t AS BIGINT) AS thr_u2,
           |    (SELECT CAST(count(*) AS BIGINT) FROM pairs WHERE cos >= 0.$t)
           |      AS n_pairs,
           |    CAST(sum(CASE WHEN root = id THEN 0 ELSE 1 END) AS BIGINT)
           |      AS n_pruned
           |  FROM (SELECT id, min(r) AS root FROM reach$t GROUP BY 1))""".stripMargin
      s"""WITH RECURSIVE
        |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
        |nc AS (SELECT GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k FROM e),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
        |  FROM e, nc QUALIFY cell < nc.k),
        |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
        |a0 AS (
        |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
        |               sd.cell DESC) AS rk
        |  FROM e CROSS JOIN sd QUALIFY rk = 1),
        |r0 AS (
        |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        |  FROM a0, unnest(range(1, 65)) t(i)
        |  GROUP BY cell, i),
        |rc AS (
        |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
        |         list(m ORDER BY pos) AS c
        |  FROM r0 GROUP BY cell),
        |rcn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
        |corp AS MATERIALIZED (
        |  SELECT e.vec_id, e.v, e.nrm, rcn.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
        |               rcn.cell DESC) AS rk
        |  FROM e CROSS JOIN rcn QUALIFY rk = 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |      / (a.nrm*b.nrm) AS cos
        |  FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |          / (a.nrm*b.nrm) >= 0.30),
        |${Seq(30, 35, 40).map(reachBlock).mkString(",\n")}
        |SELECT * FROM agg30 UNION ALL SELECT * FROM agg35
        |UNION ALL SELECT * FROM agg40 ORDER BY thr_u2""".stripMargin
    },

    // independent SemDeDup replay: the ann_ivf assignment prelude
    // (same seed order, 6dp Lloyd means, dense re-rank, DESC-cell tie
    // rule), in-cell pairs at cosine >= 0.35, recursive-CTE connected
    // components with min-id roots, per-cell rollup
    "dedup_semantic" ->
      """WITH RECURSIVE
        |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
        |nc AS (SELECT GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k FROM e),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
        |  FROM e, nc QUALIFY cell < nc.k),
        |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
        |a0 AS (
        |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
        |               sd.cell DESC) AS rk
        |  FROM e CROSS JOIN sd QUALIFY rk = 1),
        |r0 AS (
        |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        |  FROM a0, unnest(range(1, 65)) t(i)
        |  GROUP BY cell, i),
        |rc AS (
        |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
        |         list(m ORDER BY pos) AS c
        |  FROM r0 GROUP BY cell),
        |rcn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
        |corp AS MATERIALIZED (
        |  SELECT e.vec_id, e.v, e.nrm, rcn.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
        |               rcn.cell DESC) AS rk
        |  FROM e CROSS JOIN rcn QUALIFY rk = 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.cell, a.vec_id AS id1, b.vec_id AS id2
        |  FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |          / (a.nrm*b.nrm) >= 0.35),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM corp
        |  UNION
        |  SELECT ed.src, reach.r FROM edges ed JOIN reach ON ed.dst = reach.id),
        |lab AS (SELECT id AS vec_id, min(r) AS root FROM reach GROUP BY 1),
        |stats AS (
        |  SELECT corp.cell, count(*) AS n_vecs,
        |    sum(CASE WHEN lab.root = corp.vec_id THEN 0 ELSE 1 END) AS n_pruned
        |  FROM corp JOIN lab USING (vec_id) GROUP BY 1),
        |pc AS (SELECT cell, count(*) AS n_pairs FROM pairs GROUP BY 1)
        |SELECT CAST(stats.cell AS BIGINT) AS cell,
        |  CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(coalesce(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
        |  CAST(n_pruned AS BIGINT) AS n_pruned
        |FROM stats LEFT JOIN pc USING (cell)
        |ORDER BY cell""".stripMargin,

    "ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT probe_id, e.vec_id,
        |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
        |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
        |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
        |  FROM e, p WHERE e.vec_id <> probe_id),
        |r AS (SELECT probe_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |      FROM s)
        |SELECT probe_id, rank, vec_id AS neighbor_id, round(cos, 4) AS cos
        |FROM r WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,

    // same replay as ann_lsh but with the coarser 4-plane bucketing
    // and every vector as a probe — the k-NN graph edge set
    "emb_knn_graph" -> {
      val bucketExpr = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map {
        case (p, i) =>
          val lit = "[" + p.mkString(",") + "]"
          s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n|    + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    $bucketExpr AS bucket
         |  FROM embeddings),
         |s AS (
         |  SELECT p.vec_id AS src, e.vec_id AS dst, e.bucket,
         |    list_sum(list_transform(range(1,65), i -> p.v[i]*e.v[i]))
         |      / (sqrt(list_sum(list_transform(p.v, x -> x*x)))
         |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
         |  FROM e JOIN e p ON e.bucket = p.bucket AND e.vec_id <> p.vec_id),
         |r AS (SELECT src, dst, bucket, cos,
         |        row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |      FROM s)
         |SELECT src, rank, dst, round(cos, 4) AS cos, bucket
         |FROM r WHERE rank <= 3 ORDER BY src, rank""".stripMargin
    },

    "ann_lsh" -> lshTopSql,

    // gen1-trained quantizer replay (assignment only), occupancy per
    // generation, same exact contingency identity
    "emb_cell_drift" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
         |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
         |eb AS (SELECT e.* FROM e, thr WHERE e.vec_id < thr.t),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
         |  FROM eb QUALIFY cell < 8),
         |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
         |a0 AS (
         |  SELECT eb.vec_id, eb.v, eb.nrm, sd.cell,
         |    row_number() OVER (PARTITION BY eb.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> eb.v[i]*sd.c[i])) / (eb.nrm*sd.cn) DESC,
         |               sd.cell DESC) AS rk
         |  FROM eb CROSS JOIN sd QUALIFY rk = 1),
         |m0 AS (
         |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
         |  FROM a0, unnest(range(1, 65)) t(i)
         |  GROUP BY cell, i),
         |rc AS (
         |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
         |         list(m ORDER BY pos) AS c
         |  FROM m0 GROUP BY cell),
         |rn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
         |corp AS (
         |  SELECT e.vec_id, rn.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
         |               rn.cell DESC) AS rk
         |  FROM e CROSS JOIN rn QUALIFY rk = 1),
         |occ AS (SELECT corp.cell,
         |          sum(CASE WHEN corp.vec_id < thr.t THEN 1 ELSE 0 END) AS n_gen1,
         |          sum(CASE WHEN corp.vec_id >= thr.t THEN 1 ELSE 0 END) AS n_gen2
         |        FROM corp, thr GROUP BY 1),
         |tt AS (SELECT sum(n_gen1) AS t1, sum(n_gen2) AS t2 FROM occ),
         |ch AS (SELECT occ.cell, occ.n_gen1, occ.n_gen2,
         |         CAST((2*(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)
         |                *(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)*10000
         |               + tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2))
         |              // (2*tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2)) AS BIGINT)
         |           AS chi2_cell_u4
         |       FROM occ, tt)
         |SELECT cell, CAST(n_gen1 AS BIGINT) AS n_gen1,
         |  CAST(n_gen2 AS BIGINT) AS n_gen2, chi2_cell_u4,
         |  CAST(sum(chi2_cell_u4) OVER () AS BIGINT) AS chi2_total_u4
         |FROM ch ORDER BY cell""".stripMargin,

    // same knn edges (4-plane buckets, k=3), rolled to per-node mean
    "emb_knn_outlier" -> {
      val bucketExpr = Similarity.hyperplanes(4, 64, 42L).zipWithIndex.map {
        case (p, i) =>
          val lit = "[" + p.mkString(",") + "]"
          s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n|    + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |    $bucketExpr AS bucket
         |  FROM embeddings),
         |s AS (
         |  SELECT p.vec_id AS src, e.vec_id AS dst,
         |    list_sum(list_transform(range(1,65), i -> p.v[i]*e.v[i]))
         |      / (sqrt(list_sum(list_transform(p.v, x -> x*x)))
         |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
         |  FROM e JOIN e p ON e.bucket = p.bucket AND e.vec_id <> p.vec_id),
         |r AS (SELECT src, dst, cos,
         |        row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
         |      FROM s),
         |ed AS (SELECT src, CAST(round(round(cos, 4)*10000, 0) AS BIGINT) AS cos_u4
         |       FROM r WHERE rank <= 3),
         |ag AS (SELECT src AS vec_id, count(*) AS degree, sum(cos_u4) AS sc
         |       FROM ed GROUP BY 1)
         |SELECT vec_id, degree,
         |  CAST((2*sc + degree) // (2*degree) AS BIGINT) AS mean_cos_u4
         |FROM ag ORDER BY mean_cos_u4, vec_id LIMIT 10""".stripMargin
    },

    // exact brute top-10 + the k-parameterized IVF replay, same
    // explode-filter sweep over the joined rank pairs
    "emb_recall_vs_k" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         |s AS (
         |  SELECT probe_id, e.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
         |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
         |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
         |  FROM e, p WHERE e.vec_id <> probe_id),
         |brute AS (SELECT probe_id, vec_id AS neighbor_id, rank AS rt FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM s) WHERE rank <= 10),
         |cand AS (SELECT probe_id, neighbor_id, rank AS rc
         |         FROM (${ivfReplaySql("", "e.vec_id < 10", kLimit = 10)})),
         |np AS (SELECT count(DISTINCT probe_id) AS n_probes FROM brute),
         |sw AS (SELECT t.k, count(*) AS n_matched
         |       FROM brute b JOIN cand c USING (probe_id, neighbor_id),
         |            unnest([1, 5, 10]) t(k)
         |       WHERE b.rt <= t.k AND c.rc <= t.k
         |       GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS k, n_matched,
         |  CAST(np.n_probes AS BIGINT) AS n_probes,
         |  CAST((2*n_matched*10000 + k*np.n_probes)
         |       // (2*k*np.n_probes) AS BIGINT) AS recall_u4
         |FROM sw, np ORDER BY k""".stripMargin,

    // both path replays (the ann_ivf and ann_lsh oracles verbatim, as
    // subqueries), then the same u6-quantized-term RRF sum
    "emb_rrf_fusion" ->
      s"""WITH ivf AS (SELECT probe_id, neighbor_id,
         |        (2*1000000 + (60 + rank)) // (2*(60 + rank)) AS t_ivf
         |      FROM (${ivfReplaySql(buildWhere = "", probeWhere = "e.vec_id < 10")})),
         |lsh AS (SELECT probe_id, neighbor_id,
         |        (2*1000000 + (60 + rank)) // (2*(60 + rank)) AS t_lsh
         |      FROM ($lshTopSql)),
         |f AS (SELECT coalesce(ivf.probe_id, lsh.probe_id) AS probe_id,
         |        coalesce(ivf.neighbor_id, lsh.neighbor_id) AS neighbor_id,
         |        coalesce(t_ivf, 0) + coalesce(t_lsh, 0) AS rrf_u6,
         |        CASE WHEN t_ivf IS NULL THEN 0 ELSE 1 END AS in_ivf,
         |        CASE WHEN t_lsh IS NULL THEN 0 ELSE 1 END AS in_lsh
         |      FROM ivf FULL OUTER JOIN lsh
         |        ON ivf.probe_id = lsh.probe_id
         |       AND ivf.neighbor_id = lsh.neighbor_id),
         |r AS (SELECT f.*, row_number() OVER (PARTITION BY probe_id
         |        ORDER BY rrf_u6 DESC, neighbor_id) AS fused_rank
         |      FROM f)
         |SELECT probe_id, CAST(fused_rank AS BIGINT) AS fused_rank,
         |  neighbor_id, CAST(rrf_u6 AS BIGINT) AS rrf_u6,
         |  CAST(in_ivf AS BIGINT) AS in_ivf, CAST(in_lsh AS BIGINT) AS in_lsh
         |FROM r WHERE fused_rank <= 5 ORDER BY probe_id, fused_rank""".stripMargin,

    // both index paths re-derived by their standing replay fragments
    // (the rrf-fusion pattern), full-outer joined per (probe, neighbor)
    "emb_ann_agreement" ->
      s"""WITH ivf AS (SELECT probe_id, neighbor_id
         |      FROM (${ivfReplaySql(buildWhere = "", probeWhere = "e.vec_id < 10")})),
         |lsh AS (SELECT probe_id, neighbor_id FROM ($lshTopSql)),
         |f AS (SELECT coalesce(ivf.probe_id, lsh.probe_id) AS probe_id,
         |        CASE WHEN ivf.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_ivf,
         |        CASE WHEN lsh.neighbor_id IS NULL THEN 0 ELSE 1 END AS in_lsh
         |      FROM ivf FULL OUTER JOIN lsh
         |        ON ivf.probe_id = lsh.probe_id
         |       AND ivf.neighbor_id = lsh.neighbor_id),
         |g AS (SELECT probe_id, CAST(sum(in_ivf) AS BIGINT) AS n_ivf,
         |        CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
         |        CAST(sum(in_ivf * in_lsh) AS BIGINT) AS n_common
         |      FROM f GROUP BY 1)
         |SELECT probe_id, n_ivf, n_lsh, n_common,
         |  n_common * 10000 // (n_ivf + n_lsh - n_common) AS jaccard_u4
         |FROM g ORDER BY probe_id""".stripMargin,

    // same LSH top-5 replay feeds the candidate set; relevance and
    // pairwise sims quantize 4dp→×10⁴ BEFORE comparison, and the
    // three greedy picks unroll as the identical rank-1 windows
    "emb_mmr_diversify" ->
      s"""WITH cand AS (
         |  SELECT probe_id, neighbor_id AS cid,
         |    CAST(round(cos * 10000, 0) AS BIGINT) AS rel_u4
         |  FROM ($lshTopSql)),
         |e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cv AS (SELECT vec_id AS cid, v,
         |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm
         |       FROM e2 WHERE vec_id IN (SELECT DISTINCT cid FROM cand)),
         |sm AS (SELECT c1.probe_id, c1.cid AS i, c2.cid AS j,
         |         CAST(round(list_sum(list_transform(range(1,65),
         |             t -> a.v[t]*b.v[t])) / (a.nrm*b.nrm) * 10000, 0)
         |           AS BIGINT) AS s_u4
         |       FROM cand c1 JOIN cand c2
         |         ON c1.probe_id = c2.probe_id AND c1.cid <> c2.cid
         |       JOIN cv a ON a.cid = c1.cid JOIN cv b ON b.cid = c2.cid),
         |p1 AS (SELECT probe_id, cid AS p1, rel_u4 AS rel1 FROM cand
         |       QUALIFY row_number() OVER (PARTITION BY probe_id
         |         ORDER BY rel_u4 DESC, cid) = 1),
         |r2 AS (SELECT c.probe_id, c.cid, c.rel_u4, p1.p1, s.s_u4 AS m1
         |       FROM cand c JOIN p1
         |         ON c.probe_id = p1.probe_id AND c.cid <> p1.p1
         |       JOIN sm s ON s.probe_id = c.probe_id AND s.i = c.cid
         |         AND s.j = p1.p1),
         |p2 AS (SELECT probe_id, p1, cid AS p2, rel_u4 AS rel2,
         |         7*rel_u4 - 3*m1 AS mmr2 FROM r2
         |       QUALIFY row_number() OVER (PARTITION BY probe_id
         |         ORDER BY 7*rel_u4 - 3*m1 DESC, cid) = 1),
         |r3 AS (SELECT c.probe_id, c.cid, c.rel_u4,
         |         7*c.rel_u4 - 3*greatest(s1.s_u4, s2.s_u4) AS mmr3
         |       FROM cand c JOIN p2
         |         ON c.probe_id = p2.probe_id AND c.cid <> p2.p1
         |        AND c.cid <> p2.p2
         |       JOIN sm s1 ON s1.probe_id = c.probe_id AND s1.i = c.cid
         |         AND s1.j = p2.p1
         |       JOIN sm s2 ON s2.probe_id = c.probe_id AND s2.i = c.cid
         |         AND s2.j = p2.p2),
         |p3 AS (SELECT probe_id, cid AS p3, rel_u4 AS rel3, mmr3 FROM r3
         |       QUALIFY row_number() OVER (PARTITION BY probe_id
         |         ORDER BY mmr3 DESC, cid) = 1)
         |SELECT probe_id, CAST(1 AS BIGINT) AS pick, p1 AS neighbor_id,
         |  rel1 AS rel_u4, 7*rel1 AS mmr_u5 FROM p1
         |UNION ALL SELECT probe_id, CAST(2 AS BIGINT), p2, rel2, mmr2 FROM p2
         |UNION ALL SELECT probe_id, CAST(3 AS BIGINT), p3, rel3, mmr3 FROM p3
         |ORDER BY probe_id, pick""".stripMargin,

    // both paths re-derived independently (exact all-pairs top-5 and
    // the baked-hyperplane LSH top-5), then per-probe overlap
    "ann_recall" -> {
      val bucketExpr = Similarity.hyperplanes(8, 64, 42L).zipWithIndex.map {
        case (p, i) =>
          val lit = "[" + p.mkString(",") + "]"
          s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("\n|    + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         |s AS (
         |  SELECT probe_id, e.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
         |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
         |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
         |  FROM e, p WHERE e.vec_id <> probe_id),
         |brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM s) WHERE rank <= 5),
         |eb AS (SELECT vec_id, v,
         |    $bucketExpr AS bucket
         |  FROM e),
         |pb AS (SELECT vec_id AS probe_id, pv, bucket FROM (
         |  SELECT vec_id, v AS pv, bucket FROM eb) WHERE vec_id < 10),
         |sb AS (
         |  SELECT pb.probe_id, eb.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*eb.v[i]))
         |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
         |         * sqrt(list_sum(list_transform(eb.v, x -> x*x)))) AS cos
         |  FROM eb JOIN pb ON eb.bucket = pb.bucket AND eb.vec_id <> pb.probe_id),
         |lsh AS (SELECT probe_id, vec_id AS neighbor_id FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM sb) WHERE rank <= 5)
         |SELECT b.probe_id, round(count(l.neighbor_id) / 5.0, 4) AS recall
         |FROM brute b LEFT JOIN lsh l
         |  ON b.probe_id = l.probe_id AND b.neighbor_id = l.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // same seeded-plane bucket derivation at 4 and 8 planes; skew is
    // the unrounded integer ratio
    "ann_bucket_balance" -> {
      def bucketExpr(np: Int) =
        Similarity.hyperplanes(np, 64, 42L).zipWithIndex.map {
          case (pl, i) =>
            val lit = "[" + pl.mkString(",") + "]"
            s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("\n|      + ")
      def branch(np: Int) =
        s"""SELECT $np AS planes, count(*) AS n_buckets,
           |  CAST(min(sz) AS BIGINT) AS min_occ,
           |  CAST(max(sz) AS BIGINT) AS max_occ,
           |  max(sz) * count(*) * 1.0 / sum(sz) AS skew
           |FROM (
           |  SELECT count(*) AS sz FROM (
           |    SELECT ${bucketExpr(np)} AS bucket
           |    FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings))
           |  GROUP BY bucket)""".stripMargin
      s"""SELECT CAST(planes AS BIGINT) AS planes, n_buckets, min_occ,
         |  max_occ, skew
         |FROM (${branch(4)}
         |UNION ALL
         |${branch(8)})
         |ORDER BY planes""".stripMargin
    },

    // same quality replay; means via the integer half-up division
    "profile_lang_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS qs
         |  FROM r),
         |g AS (SELECT d.lang, count(*) AS n_docs,
         |        sum(q.n_tokens) AS st,
         |        sum(CAST(round(q.qs*10000) AS BIGINT)) AS sq
         |      FROM q JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT lang, n_docs,
         |  CAST((2*st + n_docs) // (2*n_docs) AS BIGINT) AS mean_tokens,
         |  ((2*sq + n_docs) // (2*n_docs)) / 10000.0 AS mean_quality
         |FROM g ORDER BY lang""".stripMargin,

    // explicit sum-of-products replay of the same Pearson formula
    "profile_quality_corr" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT CAST(n_tokens AS DOUBLE) AS x,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS y
         |  FROM r),
         |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |        sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM q)
         |SELECT n, round((n*sxy - sx*sy)
         |  / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS corr_len_quality
         |FROM s""".stripMargin,

    // the ann_recall replay swept across three plane counts; each
    // sweep point re-derives its own buckets from the seeded planes
    "ann_plane_sweep" -> {
      def bucketExpr(np: Int) =
        Similarity.hyperplanes(np, 64, 42L).zipWithIndex.map {
          case (pl, i) =>
            val lit = "[" + pl.mkString(",") + "]"
            s"(CASE WHEN list_sum(list_transform(range(1,65), i -> v[i]*($lit)[i])) > 0 THEN ${1 << i} ELSE 0 END)"
        }.mkString("\n|    + ")
      val planeCtes = Seq(4, 6, 8).map { np =>
        s"""eb$np AS (SELECT vec_id, v,
           |    ${bucketExpr(np)} AS bucket
           |  FROM e),
           |sb$np AS (
           |  SELECT pb.probe_id, eb.vec_id,
           |    list_sum(list_transform(range(1,65), i -> pb.pv[i]*eb.v[i]))
           |      / (sqrt(list_sum(list_transform(pb.pv, x -> x*x)))
           |         * sqrt(list_sum(list_transform(eb.v, x -> x*x)))) AS cos
           |  FROM eb$np eb JOIN (SELECT vec_id AS probe_id, v AS pv, bucket
           |                      FROM eb$np WHERE vec_id < 10) pb
           |    ON eb.bucket = pb.bucket AND eb.vec_id <> pb.probe_id),
           |lsh$np AS (SELECT probe_id, vec_id AS neighbor_id FROM (
           |  SELECT probe_id, vec_id,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM sb$np) WHERE rank <= 5),
           |rc$np AS (SELECT $np AS planes, b.probe_id,
           |    count(l.neighbor_id) / 5.0 AS recall
           |  FROM brute b LEFT JOIN lsh$np l
           |    ON b.probe_id = l.probe_id AND b.neighbor_id = l.neighbor_id
           |  GROUP BY 1, 2)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
         |s AS (
         |  SELECT probe_id, e.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
         |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
         |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
         |  FROM e, p WHERE e.vec_id <> probe_id),
         |brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM s) WHERE rank <= 5),
         |$planeCtes
         |SELECT CAST(planes AS BIGINT) AS planes,
         |  round(avg(recall), 4) AS avg_recall, count(*) AS n_probes
         |FROM (SELECT * FROM rc4 UNION ALL SELECT * FROM rc6
         |      UNION ALL SELECT * FROM rc8)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // per-cells full IVF replay (the ann_ivf oracle templated over
    // cells/nprobe), recall against the shared brute-force CTE
    "ann_ivf_cells_sweep" -> {
      def ivfCtes(q: Int): String = {
        val np = math.max(1, q / 4)
        s"""seeds$q AS (
           |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
           |  FROM e QUALIFY cell < $q),
           |sd$q AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds$q),
           |a$q AS (
           |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
           |               sd.cell DESC) AS rk
           |  FROM e CROSS JOIN sd$q sd QUALIFY rk = 1),
           |m$q AS (
           |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
           |  FROM a$q, unnest(range(1, 65)) t(i)
           |  GROUP BY cell, i),
           |rc$q AS (
           |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
           |         list(m ORDER BY pos) AS c
           |  FROM m$q GROUP BY cell),
           |rn$q AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc$q),
           |corp$q AS (
           |  SELECT e.vec_id, e.v, e.nrm, rn.cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
           |               rn.cell DESC) AS rk
           |  FROM e CROSS JOIN rn$q rn QUALIFY rk = 1),
           |pr$q AS (
           |  SELECT e.vec_id AS probe_id, e.v AS pv, e.nrm AS pn, rn.cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
           |               rn.cell DESC) AS rk
           |  FROM e CROSS JOIN rn$q rn WHERE e.vec_id < 10 QUALIFY rk <= $np),
           |sc$q AS (
           |  SELECT pr.probe_id, corp.vec_id,
           |    list_sum(list_transform(range(1,65), i -> pr.pv[i]*corp.v[i])) / (pr.pn*corp.nrm) AS cos
           |  FROM corp$q corp JOIN pr$q pr
           |    ON corp.cell = pr.cell AND corp.vec_id <> pr.probe_id),
           |ivf$q AS (SELECT probe_id, vec_id AS neighbor_id FROM (
           |  SELECT probe_id, vec_id,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           |  FROM sc$q) WHERE rank <= 5),
           |rcl$q AS (SELECT $q AS cells, b.probe_id,
           |    count(l.neighbor_id) / 5.0 AS recall
           |  FROM brute b LEFT JOIN ivf$q l
           |    ON b.probe_id = l.probe_id AND b.neighbor_id = l.neighbor_id
           |  GROUP BY 1, 2)""".stripMargin
      }
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
         |p AS (SELECT vec_id AS probe_id, v AS pv, nrm AS pn FROM e WHERE vec_id < 10),
         |sb AS (
         |  SELECT probe_id, e.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i])) / (pn*e.nrm) AS cos
         |  FROM e, p WHERE e.vec_id <> probe_id),
         |brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM sb) WHERE rank <= 5),
         |${Seq(4, 8, 16).map(ivfCtes).mkString(",\n")}
         |SELECT CAST(cells AS BIGINT) AS cells,
         |  round(avg(recall), 4) AS avg_recall, count(*) AS n_probes
         |FROM (SELECT * FROM rcl4 UNION ALL SELECT * FROM rcl8
         |      UNION ALL SELECT * FROM rcl16)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // same quantizer replay as the cells sweep, stopped at the final
    // assignment and rolled up to cell occupancies
    "emb_ivf_balance" -> {
      def assignCtes(q: Int): String =
        s"""seeds$q AS (
           |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
           |  FROM e QUALIFY cell < $q),
           |sd$q AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds$q),
           |a$q AS (
           |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
           |               sd.cell DESC) AS rk
           |  FROM e CROSS JOIN sd$q sd QUALIFY rk = 1),
           |m$q AS (
           |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
           |  FROM a$q, unnest(range(1, 65)) t(i)
           |  GROUP BY cell, i),
           |rc$q AS (
           |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
           |         list(m ORDER BY pos) AS c
           |  FROM m$q GROUP BY cell),
           |rn$q AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc$q),
           |corp$q AS (
           |  SELECT e.vec_id, rn.cell,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
           |               rn.cell DESC) AS rk
           |  FROM e CROSS JOIN rn$q rn QUALIFY rk = 1),
           |bal$q AS (
           |  SELECT $q AS cells, count(*) AS n_cells, min(sz) AS min_occ,
           |         max(sz) AS max_occ, sum(sz) AS n_vecs
           |  FROM (SELECT cell, count(*) AS sz FROM corp$q GROUP BY 1))"""
          .stripMargin
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
         |${Seq(8, 16).map(assignCtes).mkString(",\n")}
         |SELECT CAST(cells AS BIGINT) AS cells,
         |  CAST(n_cells AS BIGINT) AS n_cells,
         |  CAST(min_occ AS BIGINT) AS min_occ,
         |  CAST(max_occ AS BIGINT) AS max_occ,
         |  CAST((2*10000*max_occ*n_cells + n_vecs) // (2*n_vecs) AS BIGINT)
         |    AS skew_u4
         |FROM (SELECT * FROM bal8 UNION ALL SELECT * FROM bal16)
         |ORDER BY cells""".stripMargin
    },

    // same 16-cell seed + 1-Lloyd replay as emb_ivf_balance, then per
    // vector the top-2 refined-centroid sims (identical sim-desc,
    // cell-desc tie order) fold into the u4 silhouette BEFORE the
    // per-cell integer aggregation
    "emb_silhouette" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
        |  FROM e QUALIFY cell < 16),
        |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
        |a AS (
        |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
        |               sd.cell DESC) AS rk
        |  FROM e CROSS JOIN sd QUALIFY rk = 1),
        |m AS (
        |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        |  FROM a, unnest(range(1, 65)) t(i)
        |  GROUP BY cell, i),
        |rc AS (
        |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
        |         list(m ORDER BY pos) AS c
        |  FROM m GROUP BY cell),
        |rn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
        |r AS (
        |  SELECT e.vec_id, rn.cell,
        |    list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) AS sim,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
        |               rn.cell DESC) AS rk
        |  FROM e CROSS JOIN rn),
        |pv AS (
        |  SELECT r1.vec_id, r1.cell, r1.sim AS s1, r2.sim AS s2
        |  FROM r r1 JOIN r r2 ON r1.vec_id = r2.vec_id AND r2.rk = 2
        |  WHERE r1.rk = 1),
        |su AS (
        |  SELECT cell, CASE WHEN s2 >= 1 THEN 0
        |    ELSE CAST(round((s1 - s2) / (1 - s2) * 10000) AS BIGINT) END AS s_u4
        |  FROM pv)
        |SELECT cell, count(*) AS n_vecs,
        |  CAST((2*sum(s_u4) + count(*)) // (2*count(*)) AS BIGINT) AS mean_s_u4,
        |  min(s_u4) AS min_s_u4, max(s_u4) AS max_s_u4
        |FROM su GROUP BY 1 ORDER BY cell""".stripMargin,

    // five unrolled merge stages: pair count → argmax → two-pass
    // replace, each stage reading the previous word table — the same
    // leftmost-non-overlapping replace semantics as the engine.
    // Version-stability (VERDICT r10 item 1): the char split is explicit
    // substring indexing (no regex backreference dialects), and EVERY
    // union branch casts its sums to BIGINT — sum(BIGINT) is HUGEINT in
    // DuckDB, and one uncast branch widens the whole union column to
    // HUGEINT, which the driver's pandas fetch renders as float64
    // ("232.0") and hash-rejects even though the values are identical
    // integers (the r10 red; vocab_bpe_apply casts everything and was
    // green on the same primitives).
    "vocab_bpe_learn" -> {
      def stage(i: Int): String = {
        val prev = s"w${i - 1}"
        s"""p$i AS (
           |  SELECT p.x AS x, p.y AS y, sum(cnt) AS pc
           |  FROM (SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |          j -> {'x': sy[j], 'y': sy[j+1]})) AS p
           |        FROM (SELECT cnt, string_split(trim(s), ' ') AS sy
           |              FROM $prev))
           |  GROUP BY 1, 2),
           |b$i AS (SELECT x, y, pc FROM p$i ORDER BY pc DESC, x, y LIMIT 1),
           |w$i AS (SELECT cnt,
           |    replace(replace(s, ' '||x||' '||y||' ', ' '||x||y||' '),
           |            ' '||x||' '||y||' ', ' '||x||y||' ') AS s
           |  FROM $prev CROSS JOIN b$i)""".stripMargin
      }
      def branch(i: Int): String =
        s"""SELECT CAST($i AS BIGINT) AS iter, x AS sym_a, y AS sym_b,
           |    CAST(pc AS BIGINT) AS pair_count,
           |    CAST((SELECT sum(cnt * len(string_split(trim(s), ' '))) FROM w$i)
           |      AS BIGINT) AS syms_after,
           |    x||y AS merged FROM b$i""".stripMargin
      s"""WITH w0 AS (
         |  SELECT cnt,
         |    ' ' || array_to_string(list_transform(range(1, len(tok) + 1),
         |             i -> substring(tok, CAST(i AS INTEGER), 1)), ' ') || ' ' AS s
         |  FROM (SELECT tok, count(*) AS cnt
         |        FROM (SELECT unnest($toks) AS tok FROM documents)
         |        GROUP BY tok)),
         |${(1 to 5).map(stage).mkString(",\n")}
         |SELECT * FROM (
         |  ${(1 to 5).map(branch).mkString("\n  UNION ALL ")})
         |ORDER BY iter""".stripMargin
    },

    // same 5 unrolled merge stages as vocab_bpe_learn (tok carried
    // through), then the final segmentation joins back to per-source
    // token occurrences — the same vocab-bounded map the engine
    // broadcasts
    "vocab_bpe_apply" -> {
      def stage(i: Int): String = {
        val prev = s"w${i - 1}"
        s"""p$i AS (
           |  SELECT p.x AS x, p.y AS y, sum(cnt) AS pc
           |  FROM (SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |          j -> {'x': sy[j], 'y': sy[j+1]})) AS p
           |        FROM (SELECT cnt, string_split(trim(s), ' ') AS sy
           |              FROM $prev))
           |  GROUP BY 1, 2),
           |b$i AS (SELECT x, y FROM p$i ORDER BY pc DESC, x, y LIMIT 1),
           |w$i AS (SELECT tok, cnt,
           |    replace(replace(s, ' '||x||' '||y||' ', ' '||x||y||' '),
           |            ' '||x||' '||y||' ', ' '||x||y||' ') AS s
           |  FROM $prev CROSS JOIN b$i)""".stripMargin
      }
      s"""WITH w0 AS (
         |  SELECT tok, cnt, ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS s
         |  FROM (SELECT tok, count(*) AS cnt
         |        FROM (SELECT unnest($toks) AS tok FROM documents)
         |        GROUP BY tok)),
         |${(1 to 5).map(stage).mkString(",\n")},
         |seg AS (SELECT tok, len(string_split(trim(s), ' ')) AS n_syms FROM w5),
         |tk AS (SELECT source, unnest($toks) AS tok FROM documents),
         |ag AS (SELECT source, count(*) AS n_tokens,
         |         sum(length(tk.tok)) AS n_chars, sum(seg.n_syms) AS n_syms
         |       FROM tk JOIN seg USING (tok) GROUP BY 1)
         |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(n_chars AS BIGINT) AS n_chars, CAST(n_syms AS BIGINT) AS n_syms,
         |  CAST((2*10000*n_syms + n_chars) // (2*n_chars) AS BIGINT)
         |    AS compression_u4
         |FROM ag ORDER BY source""".stripMargin
    },

    // vocab_bpe_apply's 5 unrolled merge stages + segmentation, then a
    // per-doc symbol-mass fold and seq_pack's single-window cumsum —
    // the tokenizer-faithful packing replay
    "seq_pack_bpe" -> {
      def stage(i: Int): String = {
        val prev = s"w${i - 1}"
        s"""p$i AS (
           |  SELECT p.x AS x, p.y AS y, sum(cnt) AS pc
           |  FROM (SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |          j -> {'x': sy[j], 'y': sy[j+1]})) AS p
           |        FROM (SELECT cnt, string_split(trim(s), ' ') AS sy
           |              FROM $prev))
           |  GROUP BY 1, 2),
           |b$i AS (SELECT x, y FROM p$i ORDER BY pc DESC, x, y LIMIT 1),
           |w$i AS (SELECT tok, cnt,
           |    replace(replace(s, ' '||x||' '||y||' ', ' '||x||y||' '),
           |            ' '||x||' '||y||' ', ' '||x||y||' ') AS s
           |  FROM $prev CROSS JOIN b$i)""".stripMargin
      }
      s"""WITH w0 AS (
         |  SELECT tok, cnt, ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS s
         |  FROM (SELECT tok, count(*) AS cnt
         |        FROM (SELECT unnest($toks) AS tok FROM documents)
         |        GROUP BY tok)),
         |${(1 to 5).map(stage).mkString(",\n")},
         |seg AS (SELECT tok, len(string_split(trim(s), ' ')) AS n_syms FROM w5),
         |tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         |pd AS (SELECT tk.doc_id, sum(seg.n_syms) AS n_bpe
         |       FROM tk JOIN seg USING (tok) GROUP BY 1),
         |cnts AS (SELECT d.doc_id, coalesce(pd.n_bpe, 0) AS n_tokens
         |         FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
         |c AS (SELECT doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM cnts)
         |SELECT CAST(cb // 2048 AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_bpe_tokens
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // grid replay: same four seeded hashes, % 256 bucketing (power-of-
    // two modulus, so signed pmod and unsigned % agree bit-for-bit)
    // deterministic tie-break: count desc, then user_id asc — exactly
    // the aggregate's better() order
    "sketch_exact_topk" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank,
        |  user_id, cnt AS exact_n
        |FROM c QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // idealized MG summary replay: T = (k+1)-th largest exact count
    "sketch_topk_mg" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT user_id, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rnk
        |      FROM c),
        |t AS (SELECT coalesce(max(CASE WHEN rnk = 11 THEN cnt END), 0) AS tt FROM r)
        |SELECT rnk AS rank, user_id, cnt AS exact_n,
        |  CAST(cnt - tt AS BIGINT) AS mg_est, CAST(tt AS BIGINT) AS err_bound
        |FROM r, t WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "sketch_countmin" ->
      s"""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS s FROM events),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM e)),
         |h AS (SELECT s, ${ghashSql(fnvHx, "101")} AS h0,
         |        ${ghashSql(fnvHx, "102")} AS h1,
         |        ${ghashSql(fnvHx, "103")} AS h2,
         |        ${ghashSql(fnvHx, "104")} AS h3
         |      FROM tb),
         |kb AS (SELECT s, r.r,
         |         CASE r.r WHEN 0 THEN h0 % 256 WHEN 1 THEN h1 % 256
         |                  WHEN 2 THEN h2 % 256 ELSE h3 % 256 END AS bucket
         |       FROM h, unnest(range(0, 4)) r(r)),
         |st AS (SELECT kb.r, kb.bucket, count(*) AS cnt
         |       FROM e JOIN kb USING (s) GROUP BY 1, 2),
         |ex AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
         |       ORDER BY exact_n DESC, user_id LIMIT 10),
         |pr AS (SELECT ex.user_id, ex.exact_n, kb.r, kb.bucket
         |       FROM ex JOIN kb ON kb.s = CAST(ex.user_id AS VARCHAR)),
         |est AS (SELECT user_id, exact_n, CAST(min(st.cnt) AS BIGINT) AS est_n
         |        FROM pr JOIN st USING (r, bucket) GROUP BY 1, 2)
         |SELECT user_id, exact_n, est_n, est_n - exact_n AS overcount
         |FROM est ORDER BY exact_n DESC, user_id""".stripMargin,

    // the four additive rules replayed off orders — the fold cadence
    // is invisible because counter addition is associative
    "stream_dq" ->
      """WITH b AS (SELECT count(*) AS n,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_null,
        |    sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |          OR o_orderdate >= TIMESTAMP '2003-01-01'
        |        THEN 1 ELSE 0 END) AS v_date
        |  FROM orders),
        |fk AS (SELECT count(*) AS v_fk FROM orders o
        |       WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                         WHERE c.c_custkey = o.o_custkey)),
        |rules AS (
        |  SELECT 'orderkey_not_null' AS rule, v_null AS v, n FROM b, fk
        |  UNION ALL SELECT 'totalprice_positive', v_price, n FROM b, fk
        |  UNION ALL SELECT 'orderdate_in_range', v_date, n FROM b, fk
        |  UNION ALL SELECT 'custkey_references_customer', v_fk, n FROM b, fk)
        |SELECT rule, CAST(n AS BIGINT) AS n_checked,
        |  CAST(v AS BIGINT) AS n_violations,
        |  CAST(v = 0 AS BIGINT) AS pass
        |FROM rules ORDER BY rule""".stripMargin,

    // the uniqueness totals are shard-invariant (count − distinct over
    // the full history), but n_intra/n_cross REPLAY the generation
    // split: same lo/2 + hi/2 midpoint (non-negative ids, so DuckDB's
    // floor // equals Scala's truncating /)
    "stream_dq_unique" ->
      """WITH b AS (SELECT min(event_id)//2 + max(event_id)//2 AS mid
        |           FROM events),
        |sh AS (SELECT user_id,
        |         CASE WHEN event_id < (SELECT mid FROM b) THEN 1 ELSE 2 END AS g
        |       FROM events),
        |intra AS (SELECT CAST(sum(c) AS BIGINT) AS n_intra FROM
        |  (SELECT g, count(*) - count(DISTINCT user_id) AS c FROM sh GROUP BY g)),
        |tot AS (SELECT count(*) AS n, count(DISTINCT user_id) AS nu FROM events)
        |SELECT 'user_id_unique' AS rule, CAST(n AS BIGINT) AS n_checked,
        |  CAST(nu AS BIGINT) AS n_unique, CAST(n - nu AS BIGINT) AS n_violations,
        |  n_intra AS n_intra_shard,
        |  CAST(n - nu - n_intra AS BIGINT) AS n_cross_shard
        |FROM tot, intra ORDER BY rule""".stripMargin,

    // same seeded top-20-bit uniforms and integer CDF thresholds
    "sample_poisson_bootstrap" ->
      s"""WITH o AS (SELECT o_orderkey,
         |    CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents FROM orders),
         |tb AS (SELECT o_orderkey, cents,
         |    hex(encode(CAST(o_orderkey AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(o_orderkey AS VARCHAR))) AS n
         |  FROM o),
         |h AS (SELECT o_orderkey, cents,
         |    ${(0 until 8).map(b => s"${ghashSql(fnvHx, (401 + b).toString)} AS h$b").mkString(",\n|    ")}
         |  FROM tb),
         |wts AS (SELECT cents,
         |    ${(0 until 8).map(b =>
              s"""(CASE WHEN h$b // 17592186044416 < 385749 THEN 0
                 | WHEN h$b // 17592186044416 < 771498 THEN 1
                 | WHEN h$b // 17592186044416 < 964374 THEN 2
                 | WHEN h$b // 17592186044416 < 1028663 THEN 3
                 | WHEN h$b // 17592186044416 < 1044738 THEN 4
                 | WHEN h$b // 17592186044416 < 1047952 THEN 5
                 | ELSE 6 END) AS w$b""".stripMargin).mkString(",\n|    ")}
         |  FROM h),
         |ag AS (SELECT sum(cents) AS orig,
         |    ${(0 until 8).map(b =>
              s"sum(w$b) AS n$b, sum(w$b*cents) AS s$b").mkString(",\n|    ")}
         |  FROM wts)
         |SELECT CAST(t.b AS BIGINT) AS replica,
         |  CAST(CASE t.b ${(0 until 8).map(b => s"WHEN $b THEN n$b").mkString(" ")} END AS BIGINT) AS n_drawn,
         |  CAST(CASE t.b ${(0 until 8).map(b => s"WHEN $b THEN s$b").mkString(" ")} END AS BIGINT) AS sum_c,
         |  CAST(orig AS BIGINT) AS orig_sum_c,
         |  CAST(abs(CASE t.b ${(0 until 8).map(b => s"WHEN $b THEN s$b").mkString(" ")} END - orig) AS BIGINT) AS abs_dev_c
         |FROM ag, unnest(range(0, 8)) t(b) ORDER BY replica""".stripMargin,

    // the sketch side of the AMS replay — the fold cadence is invisible
    // by linearity, so the full-history replay is the oracle
    "stream_ams_f2" ->
      s"""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS s FROM events),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM e)),
         |h AS (SELECT s, ${(0 until 8).map(j => s"${ghashSql(fnvHx, (301 + j).toString)} AS h$j").mkString(",\n|        ")}
         |      FROM tb),
         |sg AS (SELECT s, [${(0 until 8).map(j => s"1 - 2*CAST(h$j % 2 AS BIGINT)").mkString(", ")}] AS sg
         |       FROM h),
         |c AS (SELECT s, count(*) AS cnt FROM e GROUP BY 1),
         |x AS (SELECT j.j AS est_id, CAST(sum(sg.sg[j.j + 1] * c.cnt) AS BIGINT) AS x
         |      FROM c JOIN sg USING (s), unnest(range(0, 8)) j(j) GROUP BY 1),
         |ag AS (SELECT CAST((2*sum(x*x) + 8) // 16 AS BIGINT) AS est_f2 FROM x),
         |n AS (SELECT count(*) AS n_rows FROM events)
         |SELECT CAST(x.est_id AS BIGINT) AS est_id, x.x,
         |  CAST(x.x*x.x AS BIGINT) AS x_sq, ag.est_f2,
         |  CAST(n.n_rows AS BIGINT) AS n_rows
         |FROM x, ag, n ORDER BY est_id""".stripMargin,

    // full tug-of-war replay: same 8 seeded low-bit signs over the
    // distinct keys, X_j = Σ sign_j·count, same half-up mean / error
    "sketch_ams_f2" ->
      s"""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS s FROM events),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM e)),
         |h AS (SELECT s, ${(0 until 8).map(j => s"${ghashSql(fnvHx, (301 + j).toString)} AS h$j").mkString(",\n|        ")}
         |      FROM tb),
         |sg AS (SELECT s, [${(0 until 8).map(j => s"1 - 2*CAST(h$j % 2 AS BIGINT)").mkString(", ")}] AS sg
         |       FROM h),
         |c AS (SELECT s, count(*) AS cnt FROM e GROUP BY 1),
         |x AS (SELECT j.j AS est_id, CAST(sum(sg.sg[j.j + 1] * c.cnt) AS BIGINT) AS x
         |      FROM c JOIN sg USING (s), unnest(range(0, 8)) j(j) GROUP BY 1),
         |ag AS (SELECT CAST((2*sum(x*x) + 8) // 16 AS BIGINT) AS est_f2 FROM x),
         |ex AS (SELECT CAST(sum(cnt*cnt) AS BIGINT) AS exact_f2 FROM c)
         |SELECT CAST(x.est_id AS BIGINT) AS est_id, x.x,
         |  CAST(x.x*x.x AS BIGINT) AS x_sq, ag.est_f2, ex.exact_f2,
         |  CAST((2*abs(ag.est_f2 - ex.exact_f2)*10000 + ex.exact_f2)
         |       // (2*ex.exact_f2) AS BIGINT) AS err_u4
         |FROM x, ag, ex ORDER BY est_id""".stripMargin,

    // same split replay as corpus_split, then a train-vocab anti check
    "vocab_oov" ->
      s"""WITH tb AS (SELECT doc_id, text,
         |    hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
         |  FROM documents),
         |hh AS (SELECT doc_id, text, ${ghashSql(fnvHx, "7")} AS hu FROM tb),
         |sp AS (SELECT CASE WHEN hu // 4503599627370496 < 3277 THEN 'train'
         |                   WHEN hu // 4503599627370496 < 3686 THEN 'val'
         |                   ELSE 'test' END AS split, text
         |       FROM hh),
         |tk AS (SELECT split, unnest($toks) AS t FROM sp),
         |tv AS (SELECT DISTINCT t FROM tk WHERE split = 'train')
         |SELECT k.split, count(*) AS n_toks,
         |  CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  round(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1.0
         |        / count(*), 6) AS oov_rate
         |FROM tk k LEFT JOIN tv v ON k.t = v.t
         |WHERE k.split <> 'train'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_len_deciles" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents)
        |SELECT ((rnk - 1) * 10) // (SELECT count(*) FROM documents) AS decile,
        |  count(*) AS n_docs, min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // same postings, same lag-gap delta, the SAME spliced varint and
    // pow2-bucket CASE chains; every count/sum BIGINT-cast
    "index_varint_audit" ->
      s"""WITH post AS (
         |  SELECT DISTINCT w AS term, doc_id
         |  FROM (SELECT doc_id, unnest($toks) AS w FROM documents)),
         |gp AS (SELECT term,
         |    coalesce(doc_id - lag(doc_id)
         |      OVER (PARTITION BY term ORDER BY doc_id), doc_id + 1) AS g
         |  FROM post),
         |pt AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
         |         CAST(sum($varintBytesCase) AS BIGINT) AS vbytes
         |       FROM gp GROUP BY 1),
         |bk AS (SELECT CAST(($pow2FloorDf) AS BIGINT) AS df_bucket, df, vbytes
         |       FROM pt)
         |SELECT df_bucket, CAST(count(*) AS BIGINT) AS n_terms,
         |  CAST(sum(df) AS BIGINT) AS n_postings,
         |  CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
         |  CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
         |  (CAST(sum(df) AS BIGINT) * 8 - CAST(sum(vbytes) AS BIGINT)) * 10000
         |    // (CAST(sum(df) AS BIGINT) * 8) AS savings_u4
         |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical float composition throughout (doubles forced — the
    // bare +0.5 chain would run in DECIMAL), rank on the rounded score
    "text_bm25_topk" ->
      s"""WITH ${bm25Ctes(3)}
         |SELECT q_id, rnk, doc_id, n_terms, score
         |FROM bm ORDER BY q_id, rnk""".stripMargin,

    // same k=10 BM25 replay; the quantized log2 discounts are the same
    // ×10⁶ literals the engine pasted, so DCG/IDCG/nDCG are pure BIGINT
    "text_bm25_ndcg" ->
      s"""WITH ${bm25Ctes(10)},
         |ql AS (SELECT doc_id AS q_id, lang AS q_lang FROM documents
         |       WHERE doc_id < 25),
         |cl AS (SELECT doc_id, lang FROM documents WHERE doc_id >= 25),
         |ln_ AS (SELECT lang, count(*) AS n_lang FROM cl GROUP BY 1),
         |dcg AS (SELECT bm.q_id,
         |    CAST(sum(CASE WHEN c.lang = q.q_lang
         |         THEN [${NdcgW.mkString(", ")}][CAST(rnk AS INT)]
         |         ELSE 0 END) AS BIGINT) AS dcg_u6
         |  FROM bm JOIN cl c ON bm.doc_id = c.doc_id
         |    JOIN ql q ON bm.q_id = q.q_id GROUP BY 1),
         |nr AS (SELECT q.q_id, CAST(coalesce(n_lang, 0) AS BIGINT) AS n_rel
         |  FROM ql q LEFT JOIN ln_ ON q.q_lang = ln_.lang),
         |res AS (SELECT nr.q_id, nr.n_rel,
         |    coalesce(dcg_u6, 0) AS dcg_u6,
         |    [${NdcgWPrefix.mkString(", ")}]
         |      [CAST(least(nr.n_rel, 10) + 1 AS INT)] AS idcg_u6
         |  FROM nr LEFT JOIN dcg ON nr.q_id = dcg.q_id)
         |SELECT q_id, n_rel, CAST(dcg_u6 AS BIGINT) AS dcg_u6,
         |  CAST(idcg_u6 AS BIGINT) AS idcg_u6,
         |  CAST(CASE WHEN idcg_u6 > 0 THEN dcg_u6 * 10000 // idcg_u6
         |       ELSE 0 END AS BIGINT) AS ndcg_u4
         |FROM res ORDER BY q_id""".stripMargin,

    // same lower-half train split, bigram MLE, stupid backoff with the
    // identical double composition -ln(0.4 * (c*1.0/T))
    "text_bigram_nll" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents),
         |bg AS (SELECT doc_id, toks[i-1] AS prev, toks[i] AS t
         |       FROM d, unnest(range(2, len(toks)+1)) r(i)),
         |mid AS (SELECT (max(doc_id)+1)//2 AS m FROM documents),
         |tt AS (SELECT t FROM (SELECT doc_id, unnest(toks) AS t FROM d) x, mid
         |       WHERE x.doc_id < mid.m),
         |c1 AS (SELECT t, count(*) AS c1 FROM tt GROUP BY 1),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS T FROM c1),
         |c2 AS (SELECT prev, t, count(*) AS c2 FROM bg, mid
         |       WHERE bg.doc_id < mid.m GROUP BY 1, 2),
         |sc AS (SELECT bg.doc_id,
         |         CASE WHEN c2.c2 IS NOT NULL
         |           THEN -ln(c2.c2 * 1.0 / p.c1)
         |           ELSE -ln(CAST(0.4 AS DOUBLE) * (coalesce(u.c1, 1) * 1.0 / tot.T))
         |         END AS nll,
         |         CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS bo
         |       FROM bg
         |       LEFT JOIN c2 ON bg.prev = c2.prev AND bg.t = c2.t
         |       LEFT JOIN c1 p ON bg.prev = p.t
         |       LEFT JOIN c1 u ON bg.t = u.t
         |       CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_scored, CAST(sum(bo) AS BIGINT) AS n_backoff,
         |  round(avg(nll), 4) AS avg_nll
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_unigram_nll" ->
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS t FROM documents),
         |f AS (SELECT t, count(*) AS c FROM tk GROUP BY 1),
         |s AS (SELECT tk.doc_id,
         |        -ln(f.c * 1.0 / (SELECT sum(c) FROM f)) AS nll
         |      FROM tk JOIN f USING (t))
         |SELECT doc_id, count(*) AS n_toks, round(avg(nll), 4) AS avg_nll
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // same sequential squared-sum fold, same 0.25 buckets
    "emb_norm_hist" ->
      """WITH n AS (
        |  SELECT sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS norm
        |  FROM embeddings)
        |SELECT CAST(least(floor(norm * 4), 40) AS BIGINT) AS norm_bucket,
        |  count(*) AS n_vecs
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,

    // dead flag compares the rounded variance in both engines
    "emb_dim_stats" ->
      """WITH ex AS (SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        |            FROM embeddings, unnest(range(1, 65)) r(i))
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  round(avg(x), 4) + 0.0 AS mean_v, round(var_pop(x), 4) AS var_v,
        |  round(min(x), 4) + 0.0 AS min_v, round(max(x), 4) + 0.0 AS max_v,
        |  CAST(round(var_pop(x), 4) < 0.0001 AS BIGINT) AS is_dead
        |FROM ex GROUP BY 1 ORDER BY 1""".stripMargin,

    // same brute-force replay twice: full 64-dim vs the 16-element
    // prefix (norms over the prefix only), then per-probe overlap
    "emb_prefix_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 10),
        |s AS (
        |  SELECT probe_id, e.vec_id,
        |    list_sum(list_transform(range(1,65), i -> pv[i]*e.v[i]))
        |      / (sqrt(list_sum(list_transform(pv, x -> x*x)))
        |         * sqrt(list_sum(list_transform(e.v, x -> x*x)))) AS cos
        |  FROM e, p WHERE e.vec_id <> probe_id),
        |brute AS (SELECT probe_id, vec_id AS neighbor_id FROM (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM s) WHERE rank <= 5),
        |sp AS (
        |  SELECT probe_id, e.vec_id,
        |    list_sum(list_transform(range(1,17), i -> pv[i]*e.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1,17), i -> pv[i]*pv[i])))
        |         * sqrt(list_sum(list_transform(range(1,17), i -> e.v[i]*e.v[i])))) AS cos
        |  FROM e, p WHERE e.vec_id <> probe_id),
        |pref AS (SELECT probe_id, vec_id AS neighbor_id FROM (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
        |  FROM sp) WHERE rank <= 5)
        |SELECT b.probe_id, round(count(q.neighbor_id) / 5.0, 4) AS recall
        |FROM brute b LEFT JOIN pref q
        |  ON b.probe_id = q.probe_id AND b.neighbor_id = q.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // portable-hash split replay: same FNV/xor-fold prelude as the HLL
    // oracles, top-12-bit bucket, identical CASE thresholds
    "corpus_split" ->
      s"""WITH tb AS (SELECT doc_id, source, n_chars,
         |    hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
         |  FROM documents),
         |h AS (SELECT doc_id, source, n_chars, ${ghashSql(fnvHx, "7")} AS hu FROM tb),
         |sp AS (SELECT CASE WHEN hu // 4503599627370496 < 3277 THEN 'train'
         |                   WHEN hu // 4503599627370496 < 3686 THEN 'val'
         |                   ELSE 'test' END AS split, n_chars, source
         |       FROM h)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,

    // same quality formula as text_quality, then a per-source
    // quality-ordered running-chars window replays the greedy budget
    "corpus_select_budget" ->
      s"""WITH t AS (SELECT doc_id, text, source, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, source, length(text) AS n_chars, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, source, n_chars,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS qs
         |  FROM r),
         |w AS (
         |  SELECT source, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY qs DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM q)
         |SELECT source, count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN prior < 25000 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         |  CAST(sum(CASE WHEN prior < 25000 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_selected
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // the streaming member converges to the batch cut exactly, so the
    // batch oracle applies verbatim (the stream==batch doctrine)
    "stream_select_budget" ->
      s"""WITH t AS (SELECT doc_id, text, source, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, source, length(text) AS n_chars, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, source, n_chars,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS qs
         |  FROM r),
         |w AS (
         |  SELECT source, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY qs DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM q)
         |SELECT source, count(*) AS n_candidates,
         |  CAST(sum(CASE WHEN prior < 25000 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         |  CAST(sum(CASE WHEN prior < 25000 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_selected
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // the funnel replayed stage by stage: exact-dedup survivors feed
    // the recursive near-dup CC (DF cap over the SURVIVOR corpus),
    // family roots feed the quality gate, the gate feeds the budget
    // window — per-stage counts must match the engine's audit rows
    "pipeline_e2e" ->
      s"""WITH RECURSIVE
         |s1 AS (SELECT min(doc_id) AS doc_id
         |       FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |             FROM documents)
         |       GROUP BY norm),
         |d1 AS (SELECT d.doc_id, d.text, d.source FROM documents d JOIN s1 USING (doc_id)),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM d1)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM docs),
         |keep AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 50),
         |cx AS (SELECT doc_id, ex.s FROM ex JOIN keep ON ex.s = keep.s),
         |sizes AS (SELECT doc_id, count(*) AS n FROM cx GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
         |  FROM cx a JOIN cx b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |good AS (
         |  SELECT id1, id2 FROM pairs
         |  JOIN sizes z1 ON id1 = z1.doc_id
         |  JOIN sizes z2 ON id2 = z2.doc_id
         |  WHERE shared*1.0/(z1.n + z2.n - shared) >= 0.8),
         |edges AS (SELECT id1 AS src, id2 AS dst FROM good
         |          UNION ALL SELECT id2, id1 FROM good),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM d1
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
         |d2 AS (SELECT d1.* FROM d1 JOIN lab USING (doc_id) WHERE doc_id = cluster_id),
         |qr AS (
         |  SELECT doc_id, source, length(text) AS n_chars,
         |    len($toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(1.0 - len(list_distinct($toks))*1.0/len($toks), 4) AS dup_ratio
         |  FROM d2),
         |q AS (
         |  SELECT doc_id, source, n_chars,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS qs
         |  FROM qr),
         |d3 AS (SELECT * FROM q WHERE qs >= 0.5),
         |w AS (
         |  SELECT doc_id, source, n_chars,
         |    coalesce(sum(n_chars) OVER (PARTITION BY source
         |      ORDER BY qs DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
         |  FROM d3),
         |sel AS (SELECT doc_id, source, n_chars FROM w WHERE prior < 25000),
         |csh AS (SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT d.doc_id, $toks AS toks
         |        FROM documents d JOIN sel USING (doc_id))),
         |bsh AS (SELECT doc_id AS bench_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents WHERE doc_id < 25)),
         |cpx AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM csh),
         |bpx AS (SELECT bench_id, unnest(sh) AS s FROM bsh),
         |cont AS (
         |  SELECT doc_id FROM (
         |    SELECT cpx.doc_id, bpx.bench_id, any_value(cpx.n_sh) AS n_sh,
         |      count(*) AS shared
         |    FROM cpx JOIN bpx USING (s) GROUP BY 1, 2)
         |  WHERE shared*1.0/n_sh >= 0.5 GROUP BY 1),
         |d5 AS (SELECT * FROM sel WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |sh6 AS (SELECT d5.doc_id, d5.n_chars, lab.cluster_id,
         |    hex(encode(CAST(lab.cluster_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(lab.cluster_id AS VARCHAR))) AS n
         |  FROM d5 JOIN lab USING (doc_id)),
         |d6 AS (SELECT doc_id, n_chars FROM (
         |    SELECT doc_id, n_chars, ${ghashSql(fnvHx, "7")} AS hu FROM sh6)
         |  WHERE hu // 4503599627370496 < 3277),
         |st AS (
         |  SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars FROM documents
         |  UNION ALL SELECT 1, 'exact_dedup', count(*),
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM d1
         |  UNION ALL SELECT 2, 'near_dedup', count(*),
         |    CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM d2
         |  UNION ALL SELECT 3, 'quality', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM d3
         |  UNION ALL SELECT 4, 'budget', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM sel
         |  UNION ALL SELECT 5, 'decontam', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM d5
         |  UNION ALL SELECT 6, 'split_train', count(*),
         |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM d6)
         |SELECT stage_idx, stage, n_docs, sum_chars FROM st ORDER BY stage_idx""".stripMargin,

    // the r14 capstone replayed end to end: the quality_clf training
    // prelude (full-corpus frozen weights + per-doc quality + corpus
    // toks in t/q/fx) comes first, then the v1 funnel CTEs (f-prefixed
    // to dodge the prelude's d2..d8/w/q names) with the substring stage
    // spliced between exact dedup and the family collapse, and the 4
    // agreement cells derived from q × the frozen-w8 margins over the
    // stage-3 survivors
    "pipeline_e2e_v2" -> pipelineV2Sql,

    // v2's replay + the PII quarantine gate, the DSIR selection CTEs
    // and the renumbered stage rows — derived surgically from
    // pipelineV2Sql with one-occurrence anchor checks (see
    // pipelineV3Sql), so the two funnels cannot silently drift apart
    "pipeline_e2e_v3" -> pipelineV3Sql,

    // v2's replay + the SoftDeDup branch CTEs and the side-by-side
    // stage tail (hard_* rows vs soft_* rows vs overlap) — derived
    // surgically from pipelineV2Sql like v3, same anchor guards
    "pipeline_e2e_v4" -> pipelineV4Sql,

    // the landing-cadence twin re-derives the funnel from its append-
    // only stores and must converge to the one-shot batch capstone —
    // same oracle verbatim (the stream_contamination doctrine at
    // funnel scope)
    "stream_pipeline_e2e" -> pipelineV2Sql,

    // independent IVF re-derivation: same multiplicative-hash seed
    // order, seeded argmax assignment (ties -> higher cell, matching
    // array_max struct compare), 6dp-quantized Lloyd means with dense
    // re-ranking of surviving cells (the engine collects refined
    // centroids orderBy(cell), so indices re-pack), reassignment,
    // nprobe=4 probing, in-cell top-5
    "ann_ivf" -> ivfReplaySql(buildWhere = "", probeWhere = "e.vec_id < 10"),

    "ann_ivf_lloyd_curve" -> ivfLloydCurveSql,

    // same replay with the quantizer trained on generation 1 only
    // (vec_id < thr = 3·(max+1)/4) and probes from the appended
    // generation — assignment/search still cover the full corpus
    "ann_ivf_append" -> ivfReplaySql(
      buildWhere = "WHERE vec_id < (SELECT t FROM thr)",
      probeWhere =
        "e.vec_id >= (SELECT t FROM thr) AND e.vec_id < (SELECT t FROM thr) + 10"),

    // the one-shot batch replay of the streamed fold: same 8-cell
    // gen1-frozen chain, full-corpus assignment, per-cell totals +
    // landed-generation counts (mergeable monotone counters make the
    // two-generation stream provably equal this)
    "stream_ivf_ingest" -> s"""$ivfIngestOccSql
         |ORDER BY 1""".stripMargin,

    // the drift trigger replayed FROM the streamed store's batch
    // equivalent: derive the generations from (n_vecs, n_landed),
    // then emb_cell_drift's exact integer chi2 identity and the
    // ann_lifecycle_e2e retrain threshold (243200 u4 = chi2_.999 df=7)
    "stream_ivf_drift" ->
      s"""WITH occ0 AS ($ivfIngestOccSql),
         |occ AS (SELECT cell, n_vecs - n_landed AS n_gen1,
         |               n_landed AS n_gen2 FROM occ0),
         |tt AS (SELECT sum(n_gen1) AS t1, sum(n_gen2) AS t2 FROM occ),
         |ch AS (SELECT occ.cell, occ.n_gen1, occ.n_gen2,
         |         CASE WHEN tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2) = 0 THEN 0
         |         ELSE CAST((2*(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)
         |                *(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)*10000
         |               + tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2))
         |              // (2*tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2)) AS BIGINT)
         |         END AS chi2_cell_u4
         |       FROM occ, tt),
         |tot AS (SELECT CAST(sum(chi2_cell_u4) AS BIGINT) AS c FROM ch)
         |SELECT ch.cell, CAST(ch.n_gen1 AS BIGINT) AS n_gen1,
         |  CAST(ch.n_gen2 AS BIGINT) AS n_gen2, ch.chi2_cell_u4,
         |  tot.c AS chi2_total_u4,
         |  CAST(CASE WHEN tot.c > 243200 THEN 1 ELSE 0 END AS BIGINT) AS retrain
         |FROM ch, tot ORDER BY cell""".stripMargin,

    // replays the full lifecycle: the emb_cell_drift 8-cell chain
    // (same seeds, one 6dp-mean refine, full-corpus assignment, exact
    // integer chi2) extended with the frozen-quantizer gen2-probe
    // search (ivfReplaySql's pr/s/r shape at cells=8) and the brute
    // force, then the 5 audit rows; every aggregate BIGINT-cast
    "ann_lifecycle_e2e" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |thr AS (SELECT 3*(max(vec_id)+1)//4 AS t FROM embeddings),
         |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
         |eb AS (SELECT e.* FROM e, thr WHERE e.vec_id < thr.t),
         |seeds AS (
         |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
         |  FROM eb QUALIFY cell < 8),
         |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
         |a0 AS (
         |  SELECT eb.vec_id, eb.v, eb.nrm, sd.cell,
         |    row_number() OVER (PARTITION BY eb.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> eb.v[i]*sd.c[i])) / (eb.nrm*sd.cn) DESC,
         |               sd.cell DESC) AS rk
         |  FROM eb CROSS JOIN sd QUALIFY rk = 1),
         |m0 AS (
         |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
         |  FROM a0, unnest(range(1, 65)) t(i)
         |  GROUP BY cell, i),
         |rc AS (
         |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
         |         list(m ORDER BY pos) AS c
         |  FROM m0 GROUP BY cell),
         |rn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
         |corp AS (
         |  SELECT e.vec_id, e.v, e.nrm, rn.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
         |               rn.cell DESC) AS rk
         |  FROM e CROSS JOIN rn QUALIFY rk = 1),
         |occ AS (SELECT corp.cell,
         |          sum(CASE WHEN corp.vec_id < thr.t THEN 1 ELSE 0 END) AS n_gen1,
         |          sum(CASE WHEN corp.vec_id >= thr.t THEN 1 ELSE 0 END) AS n_gen2
         |        FROM corp, thr GROUP BY 1),
         |tt AS (SELECT sum(n_gen1) AS t1, sum(n_gen2) AS t2 FROM occ),
         |ch AS (SELECT CAST((2*(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)
         |                *(occ.n_gen1*tt.t2 - occ.n_gen2*tt.t1)*10000
         |               + tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2))
         |              // (2*tt.t1*tt.t2*(occ.n_gen1 + occ.n_gen2)) AS BIGINT)
         |           AS chi2_cell_u4
         |       FROM occ, tt),
         |chtot AS (SELECT CAST(sum(chi2_cell_u4) AS BIGINT) AS chi2 FROM ch),
         |pr AS (
         |  SELECT e.vec_id AS probe_id, e.v AS pv, e.nrm AS pn, rn.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rn.c[i])) / (e.nrm*rn.cn) DESC,
         |               rn.cell DESC) AS rk
         |  FROM e CROSS JOIN rn
         |  WHERE e.vec_id >= (SELECT t FROM thr) AND e.vec_id < (SELECT t FROM thr) + 10
         |  QUALIFY rk <= 4),
         |s AS (
         |  SELECT pr.probe_id, corp.vec_id,
         |    list_sum(list_transform(range(1,65), i -> pr.pv[i]*corp.v[i])) / (pr.pn*corp.nrm) AS cos
         |  FROM corp JOIN pr ON corp.cell = pr.cell AND corp.vec_id <> pr.probe_id),
         |r AS (SELECT probe_id, vec_id,
         |        row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
         |      FROM s QUALIFY rank <= 5),
         |bf AS (
         |  SELECT p.vec_id AS probe_id, e.vec_id,
         |    row_number() OVER (PARTITION BY p.vec_id
         |      ORDER BY list_sum(list_transform(range(1,65), i -> p.v[i]*e.v[i])) / (p.nrm*e.nrm) DESC,
         |               e.vec_id) AS rank
         |  FROM e CROSS JOIN (
         |    SELECT e.* FROM e, thr
         |    WHERE e.vec_id >= thr.t AND e.vec_id < thr.t + 10) p
         |  WHERE e.vec_id <> p.vec_id QUALIFY rank <= 5),
         |rec AS (SELECT CAST(count(r.vec_id) AS BIGINT) AS hits,
         |               CAST(count(*) AS BIGINT) AS den
         |        FROM bf LEFT JOIN r
         |          ON bf.probe_id = r.probe_id AND bf.vec_id = r.vec_id)
         |SELECT CAST(0 AS BIGINT) AS stage_idx, 'build_index' AS stage,
         |       (SELECT CAST(count(*) AS BIGINT) FROM eb) AS value
         |UNION ALL
         |SELECT 1, 'append_shard',
         |       (SELECT CAST(count(*) AS BIGINT) FROM e, thr WHERE e.vec_id >= thr.t)
         |UNION ALL
         |SELECT 2, 'drift_check', (SELECT chi2 FROM chtot)
         |UNION ALL
         |SELECT 3, 'retrain_decision',
         |       (SELECT CAST(CASE WHEN chi2 > 243200 THEN 1 ELSE 0 END AS BIGINT) FROM chtot)
         |UNION ALL
         |SELECT 4, 'recall_audit',
         |       (SELECT CAST((2*10000*hits + den) // (2*den) AS BIGINT) FROM rec)
         |ORDER BY stage_idx""".stripMargin,

    // same exact integer moments, the one floor(sqrt(double)) weight
    // step, and both largest-remainder apportionments
    "sample_neyman" ->
      """WITH st AS (SELECT event_type AS stratum, count(*) AS n_rows,
        |       CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS sx,
        |       CAST(sum(CAST(c AS HUGEINT)*c) AS HUGEINT) AS sx2
        |     FROM (SELECT event_type,
        |             CAST(round(value*100) AS BIGINT) AS c FROM events)
        |     GROUP BY 1),
        |wt AS (SELECT stratum, n_rows,
        |       CAST(floor(sqrt(CAST(n_rows * (CASE WHEN n_rows > 1
        |           THEN (n_rows*sx2 - sx*sx) // (n_rows-1) ELSE 0 END)
        |         AS DOUBLE))) AS BIGINT) AS w
        |     FROM st),
        |n1 AS (SELECT stratum, w,
        |         coalesce((1000*w) // nullif(tw, 0), 0) AS base,
        |         coalesce((1000*w) %  nullif(tw, 0), 0) AS rem
        |       FROM wt, (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt) t),
        |n2 AS (SELECT stratum, base + CASE
        |         WHEN row_number() OVER (ORDER BY rem DESC, stratum)
        |           <= 1000 - (SELECT sum(base) FROM n1) THEN 1 ELSE 0 END
        |         AS alloc_neyman
        |       FROM n1),
        |p1 AS (SELECT stratum, n_rows AS nr,
        |         coalesce((1000*n_rows) // nullif(tw, 0), 0) AS base,
        |         coalesce((1000*n_rows) % nullif(tw, 0), 0) AS rem
        |       FROM wt, (SELECT CAST(sum(n_rows) AS BIGINT) AS tw FROM wt) t),
        |p2 AS (SELECT stratum, base + CASE
        |         WHEN row_number() OVER (ORDER BY rem DESC, stratum)
        |           <= 1000 - (SELECT sum(base) FROM p1) THEN 1 ELSE 0 END
        |         AS alloc_prop
        |       FROM p1)
        |SELECT wt.stratum, wt.n_rows, wt.w, n2.alloc_neyman, p2.alloc_prop
        |FROM wt JOIN n2 USING (stratum) JOIN p2 USING (stratum)
        |ORDER BY stratum""".stripMargin,

    "sample_stratified" ->
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rn
        |FROM documents
        |QUALIFY rn <= 20
        |ORDER BY lang, rn""".stripMargin,

    "text_tokens" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         |SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_uniq,
         |  round(list_sum(list_transform(toks, x -> len(x)))*1.0/len(toks), 4) AS avg_len
         |FROM t ORDER BY doc_id""".stripMargin,

    // same three regexp_count surfaces (DuckDB: len of extract_all),
    // same ×10³ half-up integer Flesch, same band cuts
    "text_readability" ->
      """WITH d AS (SELECT
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS w,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS sn,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sy
        |  FROM documents),
        |sc AS (SELECT 206835 - (2*1015*w + sn) // (2*sn)
        |         - (2*84600*sy + greatest(w, 1)) // (2*greatest(w, 1)) AS score_m3
        |       FROM d),
        |b AS (SELECT score_m3,
        |        CAST(CASE WHEN score_m3 < 30000 THEN 0 WHEN score_m3 < 50000 THEN 1
        |          WHEN score_m3 < 60000 THEN 2 WHEN score_m3 < 70000 THEN 3
        |          WHEN score_m3 < 80000 THEN 4 WHEN score_m3 < 90000 THEN 5
        |          ELSE 6 END AS BIGINT) AS band
        |      FROM sc)
        |SELECT band, count(*) AS n_docs,
        |  CAST(sum(score_m3) // count(*) AS BIGINT) AS mean_score_m3,
        |  min(score_m3) AS min_score_m3, max(score_m3) AS max_score_m3
        |FROM b GROUP BY 1 ORDER BY band""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t)
         |SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio, dup_ratio,
         |  round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |    - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS quality_score
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en_hits,
         |    len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','un'], x))) AS es_hits,
         |    len(list_filter(toks, x -> list_contains(['le','la','de','et','que','un','pour'], x))) AS fr_hits,
         |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ein','zu','ist'], x))) AS de_hits,
         |    len(list_filter(toks, x -> list_contains(['de','shi','bu','le','zai','you','wo'], x))) AS zh_hits
         |  FROM t),
         |p AS (
         |  SELECT *, CASE
         |    WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= zh_hits THEN 'en'
         |    WHEN es_hits >= fr_hits AND es_hits >= de_hits AND es_hits >= zh_hits THEN 'es'
         |    WHEN fr_hits >= de_hits AND fr_hits >= zh_hits THEN 'fr'
         |    WHEN de_hits >= zh_hits THEN 'de'
         |    ELSE 'zh' END AS predicted
         |  FROM h)
         |SELECT doc_id, lang, en_hits, es_hits, fr_hits, de_hits, zh_hits, predicted,
         |  CASE WHEN predicted = lang THEN 1 ELSE 0 END AS is_match
         |FROM p ORDER BY doc_id""".stripMargin,

    // same marker scoring + first-listed tie argmax, rolled up to the
    // confusion cells with half-up row shares
    // same stacked (column, value) rollup; byte lengths via strlen
    // (DuckDB's byte-count twin of Spark octet_length), same signed
    // savings built from a nonnegative truncating division
    "layout_dict_audit" ->
      """WITH kv AS (
        |  SELECT 'lang' AS col_name, lang AS v FROM documents
        |  UNION ALL SELECT 'source', source FROM documents
        |  UNION ALL SELECT 'text', text FROM documents),
        |g AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS n
        |      FROM kv GROUP BY 1, 2),
        |st AS (SELECT col_name, CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(count(*) AS BIGINT) AS n_distinct,
        |         CAST(sum(n * strlen(v)) AS BIGINT) AS plain_bytes,
        |         CAST(sum(strlen(v)) AS BIGINT) AS dict_val_bytes
        |       FROM g GROUP BY 1),
        |fin AS (SELECT *,
        |          CASE WHEN n_distinct <= 256 THEN 1
        |               WHEN n_distinct <= 65536 THEN 2
        |               WHEN n_distinct <= 16777216 THEN 3 ELSE 4 END AS idx_bytes
        |        FROM st)
        |SELECT col_name, n_rows, n_distinct, plain_bytes,
        |  CAST(dict_val_bytes + n_rows * idx_bytes AS BIGINT) AS dict_bytes,
        |  CASE WHEN plain_bytes >= dict_val_bytes + n_rows * idx_bytes
        |       THEN (plain_bytes - (dict_val_bytes + n_rows * idx_bytes))
        |              * 10000 // plain_bytes
        |       ELSE -(((dict_val_bytes + n_rows * idx_bytes) - plain_bytes)
        |              * 10000 // plain_bytes)
        |       END AS savings_u4
        |FROM fin ORDER BY col_name""".stripMargin,

    // same per-doc token counts, same conditional sums per budget
    "seq_truncate_loss" ->
      s"""WITH nt AS (SELECT CAST(len($toks) AS BIGINT) AS nt FROM documents),
         |b(max_len) AS (VALUES (128), (512), (2048))
         |SELECT CAST(b.max_len AS BIGINT) AS max_len,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN nt > b.max_len THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_truncated,
         |  CAST(sum(nt) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN nt > b.max_len THEN nt - b.max_len ELSE 0 END)
         |    AS BIGINT) AS tokens_lost,
         |  CAST(sum(CASE WHEN nt > b.max_len THEN nt - b.max_len ELSE 0 END)
         |    AS BIGINT) * 1000000
         |    // nullif(CAST(sum(nt) AS BIGINT), 0) AS loss_u6
         |FROM nt CROSS JOIN b GROUP BY 1 ORDER BY 1""".stripMargin,

    // same first-doc trick; the 7 prefix cutoffs come from the same
    // max-id scalar, and every sum is BIGINT-cast
    "text_heaps_curve" ->
      s"""WITH n AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
         |f AS (SELECT w, min(doc_id) AS first_doc
         |      FROM (SELECT doc_id, unnest($toks) AS w FROM documents)
         |      GROUP BY 1),
         |dt AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS nt FROM documents),
         |p(pct) AS (VALUES (1),(2),(5),(10),(25),(50),(100)),
         |c AS (SELECT pct, (n_ids * pct) // 100 AS cut FROM p, n),
         |va AS (SELECT c.pct,
         |         CAST(sum(CASE WHEN f.first_doc < c.cut THEN 1 ELSE 0 END)
         |           AS BIGINT) AS vocab
         |       FROM c CROSS JOIN f GROUP BY 1),
         |da AS (SELECT c.pct,
         |         CAST(sum(CASE WHEN dt.doc_id < c.cut THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN dt.doc_id < c.cut THEN dt.nt ELSE 0 END)
         |           AS BIGINT) AS n_tokens
         |       FROM c CROSS JOIN dt GROUP BY 1)
         |SELECT CAST(da.pct AS BIGINT) AS pct, n_docs, n_tokens, vocab
         |FROM da JOIN va ON da.pct = va.pct
         |ORDER BY pct""".stripMargin,

    // same distinct postings; the full chi² composition stays in
    // HUGEINT (the DECIMAL(38,0) twin) with the same nullif/coalesce
    // degenerate-cell pin, ranked on the identical (chi2 desc, term)
    "text_chi2_terms" ->
      s"""WITH post AS (SELECT DISTINCT w AS term, doc_id, lang
         |  FROM (SELECT doc_id, lang, unnest($toks) AS w FROM documents)),
         |cell AS (SELECT term, lang, CAST(count(*) AS BIGINT) AS a
         |         FROM post GROUP BY 1, 2),
         |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM post GROUP BY 1 HAVING count(*) >= 5),
         |lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
         |       FROM documents GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT cell.lang, cell.term, cell.a, dfs.df,
         |         coalesce(CAST(n_docs AS HUGEINT)
         |           * (CAST(a AS HUGEINT) * (n_docs - n_lang - df + a)
         |              - CAST(df - a AS HUGEINT) * (n_lang - a))
         |           * (CAST(a AS HUGEINT) * (n_docs - n_lang - df + a)
         |              - CAST(df - a AS HUGEINT) * (n_lang - a))
         |           * 10000
         |           // nullif(CAST(df AS HUGEINT) * (n_docs - df)
         |                * CAST(n_lang AS HUGEINT) * (n_docs - n_lang), 0), 0)
         |           AS chi2
         |       FROM cell JOIN dfs USING (term) JOIN lc USING (lang)
         |       CROSS JOIN nn),
         |rnk AS (SELECT lang, term, a, df, chi2,
         |          row_number() OVER (PARTITION BY lang
         |            ORDER BY chi2 DESC, term) AS rk
         |        FROM sc)
         |SELECT lang, CAST(rk AS BIGINT) AS rk, term, a AS df_in_lang, df,
         |  CAST(chi2 AS BIGINT) AS chi2_u4
         |FROM rnk WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,

    "text_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS en_hits,
         |    len(list_filter(toks, x -> list_contains(['el','la','de','y','que','en','un'], x))) AS es_hits,
         |    len(list_filter(toks, x -> list_contains(['le','la','de','et','que','un','pour'], x))) AS fr_hits,
         |    len(list_filter(toks, x -> list_contains(['der','die','und','das','ein','zu','ist'], x))) AS de_hits,
         |    len(list_filter(toks, x -> list_contains(['de','shi','bu','le','zai','you','wo'], x))) AS zh_hits
         |  FROM t),
         |p AS (
         |  SELECT *, CASE
         |    WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= zh_hits THEN 'en'
         |    WHEN es_hits >= fr_hits AND es_hits >= de_hits AND es_hits >= zh_hits THEN 'es'
         |    WHEN fr_hits >= de_hits AND fr_hits >= zh_hits THEN 'fr'
         |    WHEN de_hits >= zh_hits THEN 'de'
         |    ELSE 'zh' END AS predicted
         |  FROM h),
         |cell AS (SELECT lang, predicted, count(*) AS n FROM p GROUP BY 1, 2),
         |tot AS (SELECT lang, sum(n) AS n_lang FROM cell GROUP BY 1)
         |SELECT cell.lang, predicted, CAST(n AS BIGINT) AS n,
         |  CAST(n_lang AS BIGINT) AS n_lang,
         |  CAST((2*10000*n + n_lang) // (2*n_lang) AS BIGINT) AS share_u4
         |FROM cell JOIN tot USING (lang) ORDER BY lang, predicted""".stripMargin,

    // same rule chain re-derived from the quality SQL; DuckDB
    // array_to_string('') is NULL, hence the coalesce
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    greatest(len(tk) - 2, 0) AS n_ngrams,
         |    len(list_distinct([array_to_string(tk[i:i+2], ' ')
         |                       for i in range(1, len(tk)-1)])) AS n_distinct
         |  FROM t)
         |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
         |  CAST(n_distinct AS BIGINT) AS n_distinct,
         |  CASE WHEN n_ngrams > 0
         |       THEN round(1.0 - n_distinct*1.0/n_ngrams, 4) ELSE 0.0 END AS rep_ratio
         |FROM r ORDER BY doc_id""".stripMargin,

    // LM replay: same add-1-smoothed bigram counts, same scalar vocab,
    // same avg negative log-likelihood (1-indexed lists: w[i], w[i+1]
    // over range(1, len) are exactly the doc's bigrams)
    "text_perplexity" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |       FROM tk, unnest(range(1, len(w))) r(i)
         |       WHERE len(w) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1),
         |v AS (SELECT count(DISTINCT u) AS vocab
         |      FROM (SELECT unnest(w) AS u FROM tk))
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(avg(-ln((n12 + 1.0)/(n1 + vocab))), 4) AS avg_nll
         |FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "contamination" -> contaminationSql,

    // the streaming ingest-time check must converge to the batch
    // contamination exactly — same oracle verbatim
    "stream_contamination" -> contaminationSql,

    // span re-derivation over the same shingle prelude: positional
    // (non-distinct) shingles via a struct-list unnest, matched
    // positions against the winning bench doc's shingle set, islands
    // by pos − row_number, longest island (ties → earliest) per doc
    "contamination_spans" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |d AS (SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM t),
         |cp AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM d WHERE doc_id >= 25),
         |bp AS (SELECT doc_id AS bench_id, unnest(sh) AS s FROM d WHERE doc_id < 25),
         |shared AS (
         |  SELECT cp.doc_id, bp.bench_id, any_value(cp.n_sh) AS n_sh, count(*) AS shared
         |  FROM cp JOIN bp USING (s) GROUP BY 1, 2),
         |ranked AS (
         |  SELECT doc_id, bench_id, shared*1.0/n_sh AS cont,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY shared*1.0/n_sh DESC, bench_id ASC) AS rk
         |  FROM shared),
         |win AS (SELECT doc_id, bench_id, round(cont, 4) AS containment
         |        FROM ranked WHERE rk = 1 AND cont >= 0.1),
         |pos AS (SELECT doc_id, unnest(
         |    [{'pos': i - 1, 's': array_to_string(toks[i:i+2], ' ')}
         |     for i in range(1, len(toks)-1)], recursive := true)
         |  FROM t WHERE doc_id >= 25),
         |m AS (SELECT p.doc_id, w.bench_id, w.containment, p.pos
         |      FROM pos p JOIN win w USING (doc_id)
         |      JOIN bp b ON b.bench_id = w.bench_id AND b.s = p.s),
         |isl AS (SELECT doc_id, bench_id, containment, pos,
         |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |        FROM m),
         |agg AS (SELECT doc_id, bench_id, containment, grp,
         |          CAST(min(pos) AS BIGINT) AS start_tok,
         |          CAST(max(pos) + 2 AS BIGINT) AS end_tok
         |        FROM isl GROUP BY 1, 2, 3, 4),
         |best AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |           ORDER BY end_tok - start_tok DESC, start_tok ASC) AS rk
         |         FROM agg)
         |SELECT doc_id, bench_id, containment, start_tok, end_tok,
         |  end_tok - start_tok + 1 AS span_tokens
         |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // independent re-derivation of the winnowing fingerprint: the
    // polynomial rolling hash is mod 2^64 over UTF-8 bytes, emulated
    // with HUGEINT arithmetic (DuckDB BIGINT traps overflow); bytes
    // come from hex(encode(text)) via a hex-digit lookup, windows are
    // a lateral unnest over start positions, and the signed-long MIN
    // matches the engine's Long comparison
    "text_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, text, hex(encode(text)) AS h,
        |         octet_length(encode(text)) AS n
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, text, n,
        |    list_transform(range(1, n + 1), i ->
        |      CAST((strpos('0123456789ABCDEF', substring(h, 2*i - 1, 1)) - 1) * 16
        |         + strpos('0123456789ABCDEF', substring(h, 2*i, 1)) - 1 AS HUGEINT)) AS bytes
        |  FROM t),
        |w AS (
        |  SELECT doc_id, n, bytes, unnest(range(1, greatest(n - 16 + 1, 1) + 1)) AS s
        |  FROM tb),
        |hh AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT), bytes[s : s + least(16, n) - 1]),
        |      (acc, b) -> (acc * 1000003 + b) % 18446744073709551616) AS hu
        |  FROM w),
        |f AS (
        |  SELECT doc_id,
        |    min(CAST(CASE WHEN hu >= 9223372036854775808
        |             THEN hu - 18446744073709551616 ELSE hu END AS BIGINT)) AS fp_min16
        |  FROM hh GROUP BY doc_id)
        |SELECT f.doc_id, f.fp_min16, md5(t.text) AS fp_full
        |FROM f JOIN t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // single-window global cumsum replay (the oracle may do what the
    // engine must decompose), then the same integer-division sweep
    "seq_pack_sweep" ->
      s"""WITH t AS (SELECT doc_id, len($toks) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS cum_before
         |      FROM t)
         |SELECT CAST(mt AS BIGINT) AS max_tokens, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN n_tokens > 0
         |             AND cum_before // mt <> (cum_before + n_tokens - 1) // mt
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_split,
         |  CAST((sum(n_tokens) + mt - 1) // mt AS BIGINT) AS n_bins,
         |  sum(CASE WHEN n_tokens > 0
         |        AND cum_before // mt <> (cum_before + n_tokens - 1) // mt
         |      THEN 1 ELSE 0 END)*1.0 / count(*) AS split_rate,
         |  sum(n_tokens)*1.0
         |    / (((sum(n_tokens) + mt - 1) // mt) * mt) AS fill_rate
         |FROM c, unnest([512, 1024, 2048]) r(mt)
         |GROUP BY mt ORDER BY max_tokens""".stripMargin,

    // same r/q quality replay as text_filter_chain, reduced to each
    // doc's first failing stage, then the 4-stage funnel aggregation
    "corpus_filter_funnel" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens, stopword_ratio, dup_ratio,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS quality_score
         |  FROM r),
         |ff AS (
         |  SELECT CASE WHEN n_tokens < 20 THEN 1
         |              WHEN dup_ratio > 0.6 THEN 2
         |              WHEN stopword_ratio = 0.0 THEN 3
         |              WHEN quality_score < 0.75 THEN 4
         |              ELSE 5 END AS first_fail
         |  FROM q)
         |SELECT CAST(stage AS BIGINT) AS stage,
         |  CASE stage WHEN 1 THEN 'too_short' WHEN 2 THEN 'too_repetitive'
         |             WHEN 3 THEN 'no_stopwords' ELSE 'low_score' END AS rule,
         |  CAST(sum(CASE WHEN first_fail >= stage THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
         |  CAST(sum(CASE WHEN first_fail = stage THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN first_fail > stage THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
         |  sum(CASE WHEN first_fail = stage THEN 1 ELSE 0 END)*1.0
         |    / sum(CASE WHEN first_fail >= stage THEN 1 ELSE 0 END) AS drop_rate
         |FROM ff, unnest(range(1, 5)) r(stage)
         |GROUP BY stage ORDER BY stage""".stripMargin,

    "text_filter_chain" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(len(list_filter(toks, x ->
         |      list_contains(['the','a','of','and','to','in','is'], x)))*1.0
         |      / len(toks), 4) AS stopword_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_tokens, stopword_ratio, dup_ratio,
         |    round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) AS quality_score
         |  FROM r),
         |f AS (
         |  SELECT doc_id, coalesce(array_to_string(list_filter([
         |    CASE WHEN n_tokens < 20 THEN 'too_short' END,
         |    CASE WHEN dup_ratio > 0.6 THEN 'too_repetitive' END,
         |    CASE WHEN stopword_ratio = 0.0 THEN 'no_stopwords' END,
         |    CASE WHEN quality_score < 0.75 THEN 'low_score' END
         |  ], x -> x IS NOT NULL), ','), '') AS reasons
         |  FROM q)
         |SELECT doc_id, CAST(reasons = '' AS BIGINT) AS keep, reasons
         |FROM f ORDER BY doc_id""".stripMargin,

    // full replay of the 8-round halving-step integer perceptron:
    // round 1 is all-misclassified by construction (zero margins),
    // later rounds re-derive margins under the previous weights; every
    // audit cell BIGINT-cast per UNION branch (the HUGEINT hazard)
    "quality_clf_train" -> {
      def row(r: Int, nMis: String) =
        s"""SELECT CAST($r AS BIGINT) AS rnd,
           |  (SELECT CAST(count(*) AS BIGINT) FROM $nMis) AS n_misclassified,
           |  (SELECT CAST(coalesce(sum(CASE WHEN b >= 0 THEN abs(w) END), 0)
           |     AS BIGINT) FROM w$r) AS w_l1,
           |  (SELECT CAST(coalesce(sum(CASE WHEN b = -1 THEN w END), 0)
           |     AS BIGINT) FROM w$r) AS bias""".stripMargin
      s"""${qualityClfPrelude(8)}
         |${(row(1, "lblt") +: (2 to 8).map(r => row(r, s"mis$r")))
             .mkString("\nUNION ALL\n")}
         |ORDER BY rnd""".stripMargin
    },

    // the trained gate scored corpus-wide against its teacher
    "quality_clf_score" ->
      s"""${qualityClfPrelude(8)},
         |sc AS (SELECT l.doc_id, l.y, coalesce(sum(w.w), 0) AS marg
         |       FROM lbl l JOIN fx USING (doc_id)
         |       LEFT JOIN w8 w ON fx.b = w.b
         |       GROUP BY 1, 2)
         |SELECT CAST(CASE WHEN y = 1 THEN 1 ELSE 0 END AS BIGINT) AS rule_keep,
         |  CAST(CASE WHEN marg > 0 THEN 1 ELSE 0 END AS BIGINT) AS clf_keep,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // one-shot replay of the streamed fold: train on generation 1 only
    // (trainWhere), score the FULL corpus under the frozen w8, roll up
    // the agreement cells plus the landed-generation count
    "stream_quality_score" ->
      s"""${qualityClfPrelude(8,
             "WHERE doc_id < (SELECT 3*(max(doc_id)+1)//4 FROM documents)")},
         |thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
         |sc AS (SELECT l.doc_id, l.y, coalesce(sum(w.w), 0) AS marg
         |       FROM lbl l JOIN fx USING (doc_id)
         |       LEFT JOIN w8 w ON fx.b = w.b
         |       GROUP BY 1, 2)
         |SELECT CAST(CASE WHEN y = 1 THEN 1 ELSE 0 END AS BIGINT) AS rule_keep,
         |  CAST(CASE WHEN marg > 0 THEN 1 ELSE 0 END AS BIGINT) AS clf_keep,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN sc.doc_id >= thr.t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_landed
         |FROM sc, thr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "sample_weighted" ->
      s"""WITH t AS (SELECT doc_id, len($toks) AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - n_tokens AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens FROM c
         |WHERE (cum_before + n_tokens) // 512 > cum_before // 512
         |ORDER BY doc_id""".stripMargin,

    // the oracle computes the SAME packing with a single global cumsum
    // window — the two-level prefix sum must be identical by construction
    "seq_pack" ->
      s"""WITH t AS (SELECT doc_id, len($toks) AS n_tokens FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |      - n_tokens AS cum_before
         |  FROM t)
         |SELECT CAST(cum_before // 2048 AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_bpe" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    len(regexp_extract_all(lower(text),
         |      '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9[:space:]]+')) AS n_bpe,
         |    len($toks) AS n_words
         |  FROM documents)
         |SELECT doc_id, n_bpe, n_words,
         |  round(n_bpe*1.0 / nullif(n_words, 0), 4) AS bpe_per_word
         |FROM t ORDER BY doc_id""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes,
        | substring(hex(CAST(text AS BLOB)), 1, 8) AS magic,
        | sha256(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the stateful operator emits only gap-CLOSED sessions (a session
    // the streaming classifier must converge to the batch growth
    // accounting exactly — the oracle IS the batch query's SQL
    "stream_lifecycle" -> OlapQueries.oracle("events_lifecycle"),

    // is not final until its inactivity gap passes), so the oracle is
    // the batch sessionization MINUS each user's last (still-open)
    // session — exactly expressible with QUALIFY
    "stream_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts))
        |            > 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts_us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM e),
        |g AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |         min(ts_us) AS start_us, max(ts_us) - min(ts_us) AS dur_us
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, session_id, n_events, start_us, dur_us
        |FROM g
        |QUALIFY session_id < max(session_id) OVER (PARTITION BY user_id)
        |ORDER BY user_id, session_id""".stripMargin,

    // every-4th 64-byte frame of the payload blob, re-derived from hex
    // (DuckDB substring/sha256 don't accept BLOB)
    "mm_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
        |         octet_length(CAST(text AS BLOB)) AS n
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, h, n, CAST(i AS BIGINT) AS frame_idx
        |  FROM f, unnest(range(0, CAST(ceil(n/64.0) AS BIGINT))) t(i)
        |  WHERE i % 4 = 0)
        |SELECT doc_id, frame_idx,
        |  least(64, n - frame_idx*64) AS frame_len,
        |  substring(h, frame_idx*128 + 1, 16) AS frame_hex
        |FROM idx ORDER BY doc_id, frame_idx""".stripMargin,

    // independent re-derivation of the stub codec: FNV-1a over the
    // payload bytes mod 2^64 (HUGEINT emulation; the xor only touches
    // the low byte so it round-trips through BIGINT), then the same
    // signed-long mod/div derivations the engine's fakeDecode applies
    // analytic re-derivation of the WAV fixtures' decoded fields: the
    // engine goes bytes → chunk walk → PCM16 fold; the oracle computes
    // what a correct decode MUST produce from the synth parameters
    "mm_wav_decode" ->
      """WITH p AS (
        | SELECT doc_id,
        |   CAST(8000 + (doc_id % 3)*4000 AS INT) AS sample_rate,
        |   CAST(1 + (doc_id % 2) AS INT) AS channels,
        |   CAST(16 AS INT) AS bits,
        |   (64 + (octet_length(encode(text)) % 64)) * (1 + (doc_id % 2)) AS ns
        | FROM documents)
        |SELECT doc_id, sample_rate, channels, bits,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, ns),
        |    k -> ((doc_id*31 + k*17) % 65536) - 32768)) AS BIGINT) AS amp_sum,
        |  CAST(list_max(list_transform(range(0, ns),
        |    k -> ((doc_id*31 + k*17) % 65536) - 32768)) AS INT) AS amp_max
        |FROM p ORDER BY doc_id""".stripMargin,

    // analytic per-channel replay: same byte formula, channel = k mod 3
    "mm_ppm_features" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w, h,
        |  list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 0 THEN (doc_id*7 + k*13) % 256 END) AS r,
        |  list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 1 THEN (doc_id*7 + k*13) % 256 END) AS g,
        |  list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 2 THEN (doc_id*7 + k*13) % 256 END) AS b
        | FROM p)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(list_sum(list_filter(r, x -> x IS NOT NULL)) AS BIGINT) AS r_sum,
        |  CAST(list_sum(list_filter(g, x -> x IS NOT NULL)) AS BIGINT) AS g_sum,
        |  CAST(list_sum(list_filter(b, x -> x IS NOT NULL)) AS BIGINT) AS b_sum,
        |  CAST(list_max(r) AS INT) AS r_max, CAST(list_max(g) AS INT) AS g_max,
        |  CAST(list_max(b) AS INT) AS b_max,
        |  CAST(list_min(r) AS INT) AS r_min, CAST(list_min(g) AS INT) AS g_min,
        |  CAST(list_min(b) AS INT) AS b_min
        |FROM q ORDER BY doc_id""".stripMargin,

    // analytic replay of the audio features from the synth parameters:
    // same modular sample formula, channel-stride sign products for the
    // crossings, integer |·| / square folds — an interleave or stride
    // bug in the engine's channel bookkeeping diverges here while the
    // plain decode audit (sum/max) would NOT catch it
    "mm_audio_features" ->
      """WITH p AS (
        | SELECT doc_id, CAST(1 + (doc_id % 2) AS INT) AS ch,
        |   (64 + (octet_length(encode(text)) % 64)) * (1 + (doc_id % 2)) AS ns
        | FROM documents),
        |s AS (SELECT doc_id, ch, ns,
        |        list_transform(range(0, ns),
        |          k -> ((doc_id*31 + k*17) % 65536) - 32768) AS xs
        |      FROM p)
        |SELECT doc_id, CAST(ns AS BIGINT) AS n_samples, ch AS channels,
        |  CAST(list_sum(list_transform(range(CAST(ch AS BIGINT), ns),
        |    k -> CASE WHEN xs[k+1] * xs[k+1-ch] < 0 THEN 1 ELSE 0 END))
        |    AS BIGINT) AS zc_n,
        |  CAST(list_sum(list_transform(xs, v -> abs(v))) AS BIGINT) AS energy_l1,
        |  CAST(list_sum(list_transform(xs, v -> v*v)) AS BIGINT) AS energy_l2,
        |  CAST(list_max(list_transform(xs, v -> abs(v))) AS INT) AS peak
        |FROM s ORDER BY doc_id""".stripMargin,

    // analytic replay of the P6 fixture parameters — diverges if the
    // engine's header tokenizer or payload fold is off by a byte
    "mm_ppm_decode" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents)
        |SELECT doc_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(255 AS INT) AS maxval,
        |  CAST(w*h*3 AS BIGINT) AS n_samples,
        |  CAST(list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS BIGINT) AS pix_sum,
        |  CAST(list_max(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS INT) AS pix_max
        |FROM p ORDER BY doc_id""".stripMargin,

    // analytic replay of the BMP fixture parameters: payload byte k
    // (padding EXCLUDED, stored bottom-up order) = (id*11 + k*19)%256,
    // channel = k mod 3 (row bytes ≡ 0 mod 3, so the phase is global),
    // logical top row = the LAST stored w*3 bytes — a padding or
    // row-order bug in the engine's struct walk diverges here
    "mm_bmp_decode" ->
      """WITH p AS (
        | SELECT doc_id,
        |   3 + (octet_length(encode(text)) % 11) AS w,
        |   1 + (doc_id % 5) AS h
        | FROM documents)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(((w*3 + 3) // 4) * 4 AS INT) AS row_stride,
        |  CAST(w*h*3 AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*11 + k*19) % 256)) AS BIGINT) AS pix_sum,
        |  CAST(list_sum(list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 0 THEN (doc_id*11 + k*19) % 256 ELSE 0 END))
        |    AS BIGINT) AS b_sum,
        |  CAST(list_sum(list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 1 THEN (doc_id*11 + k*19) % 256 ELSE 0 END))
        |    AS BIGINT) AS g_sum,
        |  CAST(list_sum(list_transform(range(0, w*h*3), k ->
        |    CASE WHEN k % 3 = 2 THEN (doc_id*11 + k*19) % 256 ELSE 0 END))
        |    AS BIGINT) AS r_sum,
        |  CAST(list_sum(list_transform(range((h-1)*w*3, h*w*3),
        |    k -> (doc_id*11 + k*19) % 256)) AS BIGINT) AS top_row_sum
        |FROM p ORDER BY doc_id""".stripMargin,

    // analytic aHash replay: same fixture formulas, bit i = sampled
    // byte at (i*n)//64 strictly above the mean via cross-multiply
    "mm_phash" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w, h, w*h*3 AS n,
        |  list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS s
        | FROM p),
        |b AS (SELECT doc_id, w, h, n, s,
        |  list_transform(range(0, 64), i -> CASE
        |    WHEN ((doc_id*7 + ((i*n)//64)*13) % 256) * n > s
        |    THEN 1 ELSE 0 END) AS bits
        | FROM q)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(s // n AS INT) AS mean_u8,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    t -> bits[t+1]  * (CAST(1 AS BIGINT) << t))) AS BIGINT) AS c0,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    t -> bits[t+17] * (CAST(1 AS BIGINT) << t))) AS BIGINT) AS c1,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    t -> bits[t+33] * (CAST(1 AS BIGINT) << t))) AS BIGINT) AS c2,
        |  CAST(list_sum(list_transform(range(0, 16),
        |    t -> bits[t+49] * (CAST(1 AS BIGINT) << t))) AS BIGINT) AS c3,
        |  CAST(list_sum(bits) AS INT) AS nbits
        |FROM b ORDER BY doc_id""".stripMargin,

    // pairs replayed through the SAME 4-chunk pigeonhole union the
    // engine uses (complete at radius 3 by pigeonhole), hamming summed
    // per 16-bit chunk — no signed-64 emulation needed
    "mm_phash_dedup" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w*h*3 AS n,
        |  list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS s
        | FROM p),
        |b AS (SELECT doc_id, n, s,
        |  list_transform(range(0, 64), i -> CASE
        |    WHEN ((doc_id*7 + ((i*n)//64)*13) % 256) * n > s
        |    THEN 1 ELSE 0 END) AS bits
        | FROM q),
        |c AS (SELECT doc_id,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+1]  * (CAST(1 AS BIGINT) << t))) AS c0,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+17] * (CAST(1 AS BIGINT) << t))) AS c1,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+33] * (CAST(1 AS BIGINT) << t))) AS c2,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+49] * (CAST(1 AS BIGINT) << t))) AS c3
        | FROM b),
        |u AS (
        |  SELECT doc_id, 0 AS ci, c0 AS cv FROM c
        |  UNION ALL SELECT doc_id, 1, c1 FROM c
        |  UNION ALL SELECT doc_id, 2, c2 FROM c
        |  UNION ALL SELECT doc_id, 3, c3 FROM c),
        |pr AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
        |  FROM u l JOIN u r ON l.ci = r.ci AND l.cv = r.cv
        |  WHERE l.doc_id < r.doc_id),
        |j AS (SELECT id1, id2,
        |    bit_count(xor(a.c0, d.c0)) + bit_count(xor(a.c1, d.c1))
        |  + bit_count(xor(a.c2, d.c2)) + bit_count(xor(a.c3, d.c3)) AS ham
        | FROM pr JOIN c a ON pr.id1 = a.doc_id
        |         JOIN c d ON pr.id2 = d.doc_id)
        |SELECT id1, id2, CAST(ham AS INT) AS hamming
        |FROM j WHERE ham <= 3 ORDER BY id1, id2""".stripMargin,

    // one-shot replay of the streamed signature-store fold: same
    // analytic phash prelude, candidates restricted to gen2-vs-gen1
    // (snapshot semantics = strictly prior generations), distinct
    // landed docs with a hamming<=3 history match rolled up by source
    "stream_phash_ingest" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w*h*3 AS n,
        |  list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS s
        | FROM p),
        |b AS (SELECT doc_id, n, s,
        |  list_transform(range(0, 64), i -> CASE
        |    WHEN ((doc_id*7 + ((i*n)//64)*13) % 256) * n > s
        |    THEN 1 ELSE 0 END) AS bits
        | FROM q),
        |c AS (SELECT doc_id,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+1]  * (CAST(1 AS BIGINT) << t))) AS c0,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+17] * (CAST(1 AS BIGINT) << t))) AS c1,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+33] * (CAST(1 AS BIGINT) << t))) AS c2,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+49] * (CAST(1 AS BIGINT) << t))) AS c3
        | FROM b),
        |u AS (
        |  SELECT doc_id, 0 AS ci, c0 AS cv FROM c
        |  UNION ALL SELECT doc_id, 1, c1 FROM c
        |  UNION ALL SELECT doc_id, 2, c2 FROM c
        |  UNION ALL SELECT doc_id, 3, c3 FROM c),
        |thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
        |cand AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
        |  FROM u l JOIN u r ON l.ci = r.ci AND l.cv = r.cv CROSS JOIN thr
        |  WHERE l.doc_id < thr.t AND r.doc_id >= thr.t),
        |hit AS (SELECT DISTINCT id2
        |  FROM cand JOIN c a ON cand.id1 = a.doc_id
        |            JOIN c d ON cand.id2 = d.doc_id
        |  WHERE bit_count(xor(a.c0, d.c0)) + bit_count(xor(a.c1, d.c1))
        |      + bit_count(xor(a.c2, d.c2)) + bit_count(xor(a.c3, d.c3)) <= 3),
        |hs AS (SELECT dd.source, count(*) AS nh
        |       FROM hit JOIN documents dd ON hit.id2 = dd.doc_id GROUP BY 1),
        |tot AS (SELECT source, count(*) AS n_imgs FROM documents GROUP BY 1)
        |SELECT tot.source, CAST(tot.n_imgs AS BIGINT) AS n_imgs,
        |  CAST(coalesce(hs.nh, 0) AS BIGINT) AS n_hist_dup_imgs
        |FROM tot LEFT JOIN hs USING (source)
        |ORDER BY source""".stripMargin,

    // same pair derivation, restricted to pairs touching the landed
    // shard (doc_id >= the 3/4 boundary, matching ann_ivf_append's
    // generation split)
    "mm_phash_incremental" ->
      """WITH p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w*h*3 AS n,
        |  list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS s
        | FROM p),
        |b AS (SELECT doc_id, n, s,
        |  list_transform(range(0, 64), i -> CASE
        |    WHEN ((doc_id*7 + ((i*n)//64)*13) % 256) * n > s
        |    THEN 1 ELSE 0 END) AS bits
        | FROM q),
        |c AS (SELECT doc_id,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+1]  * (CAST(1 AS BIGINT) << t))) AS c0,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+17] * (CAST(1 AS BIGINT) << t))) AS c1,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+33] * (CAST(1 AS BIGINT) << t))) AS c2,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+49] * (CAST(1 AS BIGINT) << t))) AS c3
        | FROM b),
        |u AS (
        |  SELECT doc_id, 0 AS ci, c0 AS cv FROM c
        |  UNION ALL SELECT doc_id, 1, c1 FROM c
        |  UNION ALL SELECT doc_id, 2, c2 FROM c
        |  UNION ALL SELECT doc_id, 3, c3 FROM c),
        |thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
        |pr AS (SELECT DISTINCT least(l.doc_id, r.doc_id) AS id1,
        |         greatest(l.doc_id, r.doc_id) AS id2
        |  FROM u l JOIN u r ON l.ci = r.ci AND l.cv = r.cv CROSS JOIN thr
        |  WHERE l.doc_id <> r.doc_id AND r.doc_id >= thr.t),
        |j AS (SELECT id1, id2,
        |    bit_count(xor(a.c0, d.c0)) + bit_count(xor(a.c1, d.c1))
        |  + bit_count(xor(a.c2, d.c2)) + bit_count(xor(a.c3, d.c3)) AS ham
        | FROM pr JOIN c a ON pr.id1 = a.doc_id
        |         JOIN c d ON pr.id2 = d.doc_id)
        |SELECT id1, id2, CAST(ham AS INT) AS hamming
        |FROM j WHERE ham <= 3 ORDER BY id1, id2""".stripMargin,

    // same pair derivation, labels from the recursive reachability
    // closure (the dedup_cluster oracle pattern), two rollups
    "mm_phash_families" ->
      """WITH RECURSIVE p AS (
        | SELECT doc_id,
        |   4 + (octet_length(encode(text)) % 13) AS w,
        |   2 + (doc_id % 7) AS h
        | FROM documents),
        |q AS (SELECT doc_id, w*h*3 AS n,
        |  list_sum(list_transform(range(0, w*h*3),
        |    k -> (doc_id*7 + k*13) % 256)) AS s
        | FROM p),
        |b AS (SELECT doc_id, n, s,
        |  list_transform(range(0, 64), i -> CASE
        |    WHEN ((doc_id*7 + ((i*n)//64)*13) % 256) * n > s
        |    THEN 1 ELSE 0 END) AS bits
        | FROM q),
        |c AS (SELECT doc_id,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+1]  * (CAST(1 AS BIGINT) << t))) AS c0,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+17] * (CAST(1 AS BIGINT) << t))) AS c1,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+33] * (CAST(1 AS BIGINT) << t))) AS c2,
        |  list_sum(list_transform(range(0, 16),
        |    t -> bits[t+49] * (CAST(1 AS BIGINT) << t))) AS c3
        | FROM b),
        |u AS (
        |  SELECT doc_id, 0 AS ci, c0 AS cv FROM c
        |  UNION ALL SELECT doc_id, 1, c1 FROM c
        |  UNION ALL SELECT doc_id, 2, c2 FROM c
        |  UNION ALL SELECT doc_id, 3, c3 FROM c),
        |pr AS (SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
        |  FROM u l JOIN u r ON l.ci = r.ci AND l.cv = r.cv
        |  WHERE l.doc_id < r.doc_id),
        |good AS (SELECT id1, id2 FROM pr
        | JOIN c a ON pr.id1 = a.doc_id
        | JOIN c d ON pr.id2 = d.doc_id
        | WHERE bit_count(xor(a.c0, d.c0)) + bit_count(xor(a.c1, d.c1))
        |     + bit_count(xor(a.c2, d.c2)) + bit_count(xor(a.c3, d.c3)) <= 3),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM good
        |          UNION ALL SELECT id2, id1 FROM good),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
        |fam AS (SELECT cluster_id, count(*) AS family_size FROM lab GROUP BY 1)
        |SELECT family_size, count(*) AS n_families,
        |  family_size * count(*) AS n_docs
        |FROM fam GROUP BY 1 ORDER BY 1""".stripMargin,

    "mm_decode_batch" ->
      """WITH t AS (
        |  SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
        |  FROM documents),
        |tb AS (
        |  SELECT doc_id, list_transform(range(1, n + 1), i ->
        |    CAST((strpos('0123456789ABCDEF', substring(h, 2*i - 1, 1)) - 1) * 16
        |       + strpos('0123456789ABCDEF', substring(h, 2*i, 1)) - 1 AS HUGEINT)) AS bytes
        |  FROM t),
        |f AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), bytes),
        |      (acc, b) -> ((acc - (acc % 256)
        |                    + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
        |                   * 1099511628211) % 18446744073709551616) AS hu
        |  FROM tb),
        |sgn AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN hu >= 9223372036854775808
        |         THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS s
        |  FROM f)
        |SELECT doc_id,
        |  CAST(((s % 1920) + 1920) % 1920 + 1 AS INT) AS width,
        |  CAST((((CASE WHEN s >= 0 THEN s // 1920 ELSE -((-s) // 1920) END) % 1080) + 1080) % 1080 + 1 AS INT) AS height,
        |  3 AS channels,
        |  array_to_string(list_transform(range(0, 8), i ->
        |    CAST(((xor(s, CAST(CASE WHEN (CAST(i AS HUGEINT) * 11400714819323198485) % 18446744073709551616 >= 9223372036854775808
        |         THEN (CAST(i AS HUGEINT) * 11400714819323198485) % 18446744073709551616 - 18446744073709551616
        |         ELSE (CAST(i AS HUGEINT) * 11400714819323198485) % 18446744073709551616 END AS BIGINT))
        |       % 1000) + 1000) % 1000 AS VARCHAR)), ',') AS features_csv
        |FROM sgn ORDER BY doc_id""".stripMargin,

    // the query doubles the stream then dedupes on event_id, so the
    // result must equal the plain (unduplicated) per-type counts
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT event_id) AS n_distinct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the batch collapse oracle verbatim — the streamed state walk
    // must converge to exactly this
    "stream_collapse_repeats" ->
      """WITH l AS (SELECT event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev
        |      FROM events),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |      FROM l GROUP BY 1)
        |SELECT event_type, n_events, n_kept,
        |  (n_events - n_kept) * 10000 // n_events AS collapse_u4
        |FROM a ORDER BY event_type""".stripMargin,

    // the watermarked stream-stream join must equal the batch range
    // join (AvailableNow drains both sides before the query stops)
    "stream_range_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s AS (SELECT user_id, event_id AS signup_id, ts_us AS sts FROM e WHERE event_type='signup'),
        |x AS (SELECT user_id, ts_us AS ets FROM e WHERE event_type='error')
        |SELECT signup_id, count(*) AS n_errors
        |FROM s JOIN x ON s.user_id = x.user_id
        |  AND x.ets >= s.sts AND x.ets < s.sts + 3600000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "semantic_text_agree" -> {
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2,
         |    round(list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
         |      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
         |         * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 4) AS cos
         |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
         |      / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
         |         * sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.35),
         |sh AS (
         |  SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents))
         |SELECT p.id1, p.id2, p.cos,
         |  round(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |    / nullif(len(list_distinct(list_concat(s1.sh, s2.sh))), 0), 4) AS jac
         |FROM pairs p
         |JOIN sh s1 ON s1.doc_id = p.id1
         |JOIN sh s2 ON s2.doc_id = p.id2
         |ORDER BY id1, id2""".stripMargin
    },

    // per-character re-derivation: the docs are ASCII (verified), so
    // per-char grouping equals the engine's per-byte histogram
    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, substring(text, r.i, 1) AS c
        |  FROM documents, unnest(range(1, len(text) + 1)) r(i)),
        |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(n) AS DOUBLE) AS t FROM cnt GROUP BY 1)
        |SELECT doc_id, round(-sum((n / t) * log2(n / t)), 4) AS entropy_bits
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm_dedup" ->
      """SELECT sha256(text) AS digest, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // one UNION ALL branch per profiled column (DuckDB rescans per
    // branch; the engine does it in one pass — same numbers)
    "profile_stats" -> {
      def branch(c: String) =
        s"""SELECT '$c' AS "column", count($c) AS n,
           |  round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
           |  round(avg($c), 4) AS avg_v, round(stddev_samp($c), 4) AS sd_v,
           |  count(DISTINCT $c) AS n_distinct FROM lineitem""".stripMargin
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        .map(branch).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // full replay of the split assignment through the emulated
    // GraftHash64 (FNV-1a + splitmix64 over the doc_id string)
    "sample_hash_split" -> {
      import DuckHash.{sx, fnvHx, ghashSql}
      s"""WITH tb AS (
         |  SELECT doc_id, n_chars,
         |    hex(encode(CAST(doc_id AS VARCHAR))) AS hx,
         |    octet_length(encode(CAST(doc_id AS VARCHAR))) AS n
         |  FROM documents),
         |h AS (SELECT doc_id, n_chars,
         |  ((${sx(ghashSql(fnvHx, "0"))} % 1000) + 1000) % 1000 AS b
         |  FROM tb)
         |SELECT CASE WHEN b < 800 THEN 'train'
         |            WHEN b < 900 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the stream maintains the per-day per-type counts; the top-k rank
    // is batch-side presentation over that aggregate — so the oracle is
    // the plain batch windowed count + rank
    "stream_topk" ->
      """WITH c AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS period,
        |    event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT period, event_type, n_events,
        |        CAST(row_number() OVER (PARTITION BY period
        |          ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT period, event_type, n_events, rnk
        |FROM r WHERE rnk <= 3 ORDER BY period, rnk""".stripMargin,

    // stream-static join is batch-equivalent under AvailableNow
    "stream_enrich" ->
      """WITH u AS (SELECT o_custkey AS user_id, count(*) AS n_orders
        |           FROM orders GROUP BY 1)
        |SELECT event_type,
        |  CAST(u.user_id IS NOT NULL AS BIGINT) AS has_orders,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events e LEFT JOIN u ON e.user_id = u.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // 32-token windows every 24; list slices are 1-based inclusive in
    // DuckDB, so toks[i+1 : i+32] is the same 32-token window Spark's
    // slice(toks, start+1, 32) takes
    "doc_chunk" ->
      s"""WITH d AS (SELECT doc_id, $toks AS toks FROM documents)
         |SELECT doc_id, CAST(r.i // 24 AS BIGINT) AS chunk_id,
         |  CAST(least(len(toks) - r.i, 32) AS BIGINT) AS n_tokens,
         |  array_to_string(toks[r.i+1 : r.i+32], ' ') AS chunk_text
         |FROM d, unnest(range(0, greatest(len(toks), 1), 24)) r(i)
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "tfidf_topterms" ->
      s"""WITH ex AS (SELECT doc_id, unnest(toks) AS term
         |            FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, term, tf, df,
         |         round(tf * ln(n_docs * 1.0 / df), 4) AS score
         |       FROM tf JOIN df USING (term) CROSS JOIN n)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, term) AS BIGINT) AS rnk,
         |  term, tf, df, score
         |FROM sc QUALIFY rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    "text_boilerplate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)])) AS s
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |  round(sum(CASE WHEN df.df >= 5 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         |    AS boilerplate_ratio
         |FROM sh JOIN df ON sh.s = df.s
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "corpus_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    1 + CAST(substr(source, 4) AS INT) % 3 AS base,
        |    CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 0.5 ELSE 0.0 END AS frac
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, CAST(base + frac AS DOUBLE) AS weight,
        |    CAST(base + CASE WHEN frac > 0 AND doc_id % 2 = 0 THEN 1 ELSE 0 END
        |      AS BIGINT) AS n_copies
        |  FROM w)
        |SELECT doc_id, source, weight, n_copies, CAST(r.i AS BIGINT) AS copy_id
        |FROM c, unnest(range(1, n_copies + 1)) r(i)
        |ORDER BY doc_id, copy_id""".stripMargin,

    // the streaming MG summary's raw counters are merge-shape-
    // dependent; the emitted columns are exact counts plus the theorem
    // flags, which any CORRECT execution must render as literal 1s —
    // so the oracle states the theorem (c = 8 ⇒ c+1 = 9)
    "stream_topk_mg" ->
      """WITH c AS (SELECT user_id, count(*) AS exact_n
        |           FROM events GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM events),
        |r AS (SELECT user_id, exact_n,
        |        CAST(row_number() OVER (ORDER BY exact_n DESC, user_id)
        |          AS BIGINT) AS rank
        |      FROM c)
        |SELECT rank, user_id, exact_n,
        |  CAST(exact_n * 9 > n.n AS BIGINT) AS guaranteed,
        |  CAST(1 AS BIGINT) AS present_ok,
        |  CAST(1 AS BIGINT) AS bound_ok,
        |  CAST(1 AS BIGINT) AS err_bound_ok
        |FROM r CROSS JOIN n WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // full replay of the from-scratch HLL keyed on md5(text) per
    // source — the snapshot fold is mergeable, so the one-shot replay
    // over the whole history IS the incremental result's contract
    "hll_source_snapshots" -> hllSourceReplaySql,

    // same contract on the streaming checkpoint cadence: two
    // AvailableNow generations share state, the max-merge makes the
    // incremental fold invisible in the result
    "stream_hll_source_refresh" -> hllSourceReplaySql,

    // same integer-exact arithmetic swept over α ∈ {1, 1/2, 1/4};
    // nested floor-sqrt is floor(n^(1/4)) exactly
    "corpus_mix_alpha_sweep" ->
      """WITH p AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1),
        |v AS (
        |  SELECT source, 10000 AS alpha_u4, n_chars AS w FROM p
        |  UNION ALL
        |  SELECT source, 5000,
        |    CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT) FROM p
        |  UNION ALL
        |  SELECT source, 2500,
        |    CAST(floor(sqrt(CAST(CAST(floor(sqrt(CAST(n_chars AS DOUBLE)))
        |      AS BIGINT) AS DOUBLE))) AS BIGINT) FROM p),
        |t AS (SELECT alpha_u4, sum(w) AS w_tot FROM v GROUP BY 1)
        |SELECT CAST(v.alpha_u4 AS BIGINT) AS alpha_u4, source, w,
        |  CAST((2*1000000*w + w_tot) // (2*w_tot) AS BIGINT) AS quota_chars,
        |  CAST((2*10000*w + w_tot) // (2*w_tot) AS BIGINT) AS share_u4
        |FROM v JOIN t USING (alpha_u4) ORDER BY alpha_u4, source""".stripMargin,

    // α = 1/2 temperature weights: floor(sqrt(bigint)) is IEEE-exact
    // below 2^50 in both engines; quota/share are half-up integer
    // division (§5 doctrine)
    "corpus_temperature_mix" ->
      """WITH p AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1),
        |w AS (SELECT p.*, CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)
        |        AS w_sqrt FROM p),
        |t AS (SELECT sum(w_sqrt) AS w_tot FROM w)
        |SELECT source, n_docs, n_chars, w_sqrt,
        |  CAST((2*1000000*w_sqrt + w_tot) // (2*w_tot) AS BIGINT) AS quota_chars,
        |  CAST((2*10000*w_sqrt + w_tot) // (2*w_tot) AS BIGINT) AS share_u4
        |FROM w CROSS JOIN t ORDER BY source""".stripMargin,

    // same integer doctrine one decision later: repeats = half-up
    // quota/available, grant capped at 4 epochs
    "corpus_epoch_plan" ->
      """WITH p AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1),
        |w AS (SELECT p.*, CAST(floor(sqrt(CAST(n_chars AS DOUBLE))) AS BIGINT)
        |        AS w_sqrt FROM p),
        |t AS (SELECT sum(w_sqrt) AS w_tot FROM w),
        |q AS (SELECT source, n_chars, w_sqrt,
        |        CAST((2*10000000*w_sqrt + w_tot) // (2*w_tot) AS BIGINT)
        |          AS quota_chars
        |      FROM w CROSS JOIN t)
        |SELECT source, n_chars, w_sqrt, quota_chars,
        |  CAST((2*10000*quota_chars + n_chars) // (2*n_chars) AS BIGINT)
        |    AS epochs_u4,
        |  CAST(least(quota_chars, 4*n_chars) AS BIGINT) AS granted_chars,
        |  CAST(quota_chars - least(quota_chars, 4*n_chars) AS BIGINT)
        |    AS deficit_chars,
        |  CAST(CASE WHEN quota_chars > 4*n_chars THEN 1 ELSE 0 END AS BIGINT)
        |    AS capped
        |FROM q ORDER BY source""".stripMargin,

    // quality replay (same formula as text_quality), re-quantized to
    // u4 integers before the bucket thresholds and §5 quota algebra
    "corpus_quality_mix" ->
      s"""WITH t AS (SELECT doc_id, source, text, $toks AS toks FROM documents),
         |r AS (SELECT doc_id, source, length(text) AS n_chars,
         |    len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |sc AS (SELECT doc_id, source, n_chars,
         |    CAST(round(round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) * 10000)
         |      AS BIGINT) AS qu4
         |  FROM r),
         |b AS (SELECT source,
         |    CASE WHEN qu4 >= 8000 THEN 'hi'
         |         WHEN qu4 >= 5000 THEN 'mid' ELSE 'lo' END AS q_bucket,
         |    CASE WHEN qu4 >= 8000 THEN 3
         |         WHEN qu4 >= 5000 THEN 2 ELSE 1 END AS mult,
         |    n_chars
         |  FROM sc),
         |g AS (SELECT source, q_bucket, any_value(mult) AS mult,
         |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
         |  FROM b GROUP BY 1, 2),
         |w AS (SELECT source, q_bucket, n_docs, chars, mult*chars AS w FROM g),
         |tt AS (SELECT sum(w) AS w_tot FROM w)
         |SELECT source, q_bucket, n_docs, chars, CAST(w AS BIGINT) AS w,
         |  CAST((2*1000000*w + w_tot) // (2*w_tot) AS BIGINT) AS quota_chars,
         |  CAST((2*10000*w + w_tot) // (2*w_tot) AS BIGINT) AS share_u4
         |FROM w CROSS JOIN tt ORDER BY source, q_bucket""".stripMargin,

    // same injection expression, same three regexes (single-quoted so
    // the backslashes reach RE2 verbatim), same email→ip→phone
    // redaction order; DuckDB's regexp_replace needs the explicit 'g'
    "text_pii_scrub" -> piiScrubSql,

    // every emitted column is an additive integer except the derived
    // clean_rate, so the landing-cadence fold equals the one-shot key
    // row for row — shared oracle (the stream==batch contract)
    "stream_pii_ingest" -> piiScrubSql,
  ) ++ oracleMid ++ oracleTail

  /** text_pii_scrub's full replay, shared verbatim with
    * stream_pii_ingest (additive integer counters ⇒ the landing fold
    * equals the one-shot key; StreamingSpec pins it engine-side). */
  /** The shared per-doc PII replay CTE chain (aug → 3-class regex
    * redaction → Luhn-gated card redaction → per-doc counters `m`):
    * the prefix of BOTH piiScrubSql (per-source rollup) and the
    * text_pii_apply oracle (per-doc emission). The Luhn gate replays
    * digit by digit via TextAnalysis.luhnValid16Sql inside a
    * list_filter lambda; list_reduce folds the ≤2 valid candidates
    * into replace() calls (all columns are projection-derived, never
    * join-delivered — the documented list_reduce hazard). Margins are
    * left INTACT here — the consuming template stripMargins exactly
    * once (a second pass would eat the leading `||` concat bars). */
  /** dedup_soft_weights' full DuckDB replay, shared verbatim with
    * stream_soft_weights (the posting-store fold re-runs the same
    * DF algebra, so the two keys provably emit identical rows —
    * StreamingSpec pins it engine-side too). */
  // corpus_curriculum's full shard plan, shared verbatim with its
  // landing-cadence member stream_curriculum_ingest (stream==batch
  // convergence doctrine, as softWeightsSql below)
  private lazy val curriculumSql: String =
    s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
       |r AS (SELECT doc_id, len(toks) AS n_tokens,
       |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
       |      / length(text), 4) AS punct_ratio,
       |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
       |  FROM t),
       |sc AS (SELECT doc_id, n_tokens,
       |    CAST(round(round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
       |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) * 10000)
       |      AS BIGINT) AS qu4
       |  FROM r),
       |rk AS (SELECT doc_id, n_tokens, qu4,
       |    row_number() OVER (ORDER BY qu4 DESC, doc_id) AS rnk FROM sc),
       |n AS (SELECT count(*) AS n_total FROM sc)
       |SELECT CAST(((rnk - 1) * 8) // n_total AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(min(qu4) AS BIGINT) AS min_qu4,
       |  CAST(max(qu4) AS BIGINT) AS max_qu4
       |FROM rk CROSS JOIN n GROUP BY 1 ORDER BY 1""".stripMargin

  // corpus_curriculum_tokens' token-mass shard plan, shared verbatim
  // with its landing-cadence member stream_curriculum_tokens
  private lazy val curriculumTokensSql: String =
    s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
       |r AS (SELECT doc_id, len(toks) AS n_tokens,
       |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
       |      / length(text), 4) AS punct_ratio,
       |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
       |  FROM t),
       |sc AS (SELECT doc_id, n_tokens,
       |    CAST(round(round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
       |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) * 10000)
       |      AS BIGINT) AS qu4
       |  FROM r),
       |rk AS (SELECT doc_id, n_tokens, qu4,
       |    row_number() OVER (ORDER BY qu4 DESC, doc_id) AS rnk FROM sc),
       |c AS (SELECT doc_id, n_tokens, qu4,
       |    coalesce(sum(n_tokens) OVER (ORDER BY rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM rk),
       |n AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM sc)
       |SELECT CAST((cb * 8) // tot AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(min(qu4) AS BIGINT) AS min_qu4,
       |  CAST(max(qu4) AS BIGINT) AS max_qu4
       |FROM c CROSS JOIN n GROUP BY 1 ORDER BY 1""".stripMargin

  private lazy val softWeightsSql: String =
    s"""WITH docs8 AS (
         |  SELECT doc_id, list_distinct(
         |    [array_to_string(toks[i:i+7], ' ') for i in range(1, len(toks)-6)]) AS sh
         |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS g FROM docs8),
         |dft AS (SELECT g, count(*) AS df FROM ex GROUP BY 1),
         |per AS (SELECT ex.doc_id, count(*) AS n_grams,
         |          CAST(sum(df) AS BIGINT) AS sum_df
         |        FROM ex JOIN dft ON ex.g = dft.g GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(sum_df, 0) AS BIGINT) AS sum_df,
         |  CAST((2*10000*sum_df + n_grams) // (2*n_grams) AS BIGINT) AS comm_u4,
         |  CAST((2*10000*n_grams + sum_df) // (2*sum_df) AS BIGINT) AS weight_u4
         |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
         |ORDER BY d.doc_id""".stripMargin

  private lazy val piiPerDocSql: String = {
      import graft.ops.TextAnalysis.{PiiEmailRe, PiiIpRe, PiiPhoneRe, PiiCardRe}
      import graft.ops.TextAnalysis.{cardValidSql, cardInvalidSql, luhnValid16Sql}
      s"""a AS (
         |  SELECT doc_id, source, text
         |    || CASE WHEN doc_id % 3 = 0 THEN ' contact u'
         |         || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0 THEN ' node 10.'
         |         || CAST(doc_id % 256 AS VARCHAR) || '.0.'
         |         || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END
         |    || CASE WHEN doc_id % 7 = 0 THEN ' call +1-555-'
         |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         || ' today' ELSE '' END
         |    || CASE WHEN doc_id % 11 = 0 THEN ' card '
         |         || ${cardValidSql("VARCHAR")} || ' on file' ELSE '' END
         |    || CASE WHEN doc_id % 13 = 0 THEN ' ref '
         |         || ${cardInvalidSql("VARCHAR")} || ' noted' ELSE '' END AS t
         |  FROM documents),
         |c AS (SELECT doc_id, source, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$PiiEmailRe', '<EMAIL>', 'g'),
         |      '$PiiIpRe', '<IP>', 'g'),
         |      '$PiiPhoneRe', '<PHONE>', 'g') AS cl
         |  FROM a),
         |v AS (SELECT doc_id, source, t, cl,
         |    regexp_extract_all(cl, '$PiiCardRe') AS cands,
         |    list_filter(regexp_extract_all(cl, '$PiiCardRe'),
         |      x -> ${luhnValid16Sql("x")}) AS vc
         |  FROM c),
         |r AS (SELECT doc_id, source, t, cands, vc,
         |    list_reduce(list_prepend(cl, vc),
         |      (acc, cd) -> replace(acc, cd, '<CARD>')) AS red
         |  FROM v),
         |m AS (SELECT doc_id, source,
         |    CAST(len(regexp_extract_all(t, '$PiiEmailRe')) AS BIGINT) AS e,
         |    CAST(len(regexp_extract_all(t, '$PiiIpRe')) AS BIGINT) AS i,
         |    CAST(len(regexp_extract_all(t, '$PiiPhoneRe')) AS BIGINT) AS p,
         |    CAST(len(vc) AS BIGINT) AS card,
         |    CAST(len(cands) - len(vc) AS BIGINT) AS card_rej,
         |    CAST(length(t) - length(red) AS BIGINT) AS cut,
         |    CAST(len(regexp_extract_all(red, '$PiiEmailRe'))
         |       + len(regexp_extract_all(red, '$PiiIpRe'))
         |       + len(regexp_extract_all(red, '$PiiPhoneRe'))
         |       + len(list_filter(regexp_extract_all(red, '$PiiCardRe'),
         |           x -> ${luhnValid16Sql("x")})) AS BIGINT) AS resid,
         |    md5(red) AS red_md5
         |  FROM r)"""
  }

  private lazy val piiScrubSql: String =
      s"""WITH $piiPerDocSql
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN e + i + p + card > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_pii,
         |  CAST(sum(e) AS BIGINT) AS n_email, CAST(sum(i) AS BIGINT) AS n_ip,
         |  CAST(sum(p) AS BIGINT) AS n_phone,
         |  CAST(sum(card) AS BIGINT) AS n_card,
         |  CAST(sum(card_rej) AS BIGINT) AS n_card_reject,
         |  CAST(sum(cut) AS BIGINT) AS chars_cut,
         |  CAST(sum(resid) AS BIGINT) AS n_residual,
         |  round(1.0 - sum(CASE WHEN e + i + p + card > 0 THEN 1 ELSE 0 END)*1.0
         |    / count(*), 4) AS clean_rate
         |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** Oracle entries registered after the [[piiScrubSql]] extraction. */
  private lazy val oracleMid: Map[String, String] = Map(

    // the per-doc emission of the same replay chain — red_md5 pins the
    // actual redacted bytes, so engine and oracle must agree on every
    // replacement INCLUDING which candidates the Luhn gate cleared
    "text_pii_apply" ->
      s"""WITH $piiPerDocSql
         |SELECT doc_id, source,
         |  e AS n_email, i AS n_ip, p AS n_phone,
         |  card AS n_card, card_rej AS n_card_reject,
         |  cut AS chars_cut, resid AS n_residual, red_md5
         |FROM m ORDER BY doc_id""".stripMargin,

    // the bigram-feature DSIR replay: identical to corpus_dsir's
    // except the gram stream — consecutive token pairs space-joined
    // (toks[i] || ' ' || toks[i+1], 1-based like Spark's transform
    // over the sliced array), then the same seed-37 hash, Laplace
    // ratio, and (rounded score DESC, doc_id) top-20% selection
    "corpus_dsir_2gram" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |tk AS (SELECT doc_id,
         |         unnest(list_transform(range(1, len(toks)),
         |           i -> toks[i] || ' ' || toks[i+1])) AS s
         |       FROM t),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tk)),
         |th AS (SELECT s, ((${sx(ghashSql(fnvHx, "37"))} % 64) + 64) % 64 AS b
         |       FROM tb),
         |dc AS MATERIALIZED (
         |  SELECT tk.doc_id, th.b, count(*) AS c
         |  FROM tk JOIN th USING (s) GROUP BY 1, 2),
         |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM dc GROUP BY 1),
         |tgt AS (SELECT dc.b, CAST(sum(c) AS BIGINT) AS ct
         |        FROM dc JOIN documents d USING (doc_id)
         |        WHERE d.lang = 'en' GROUP BY 1),
         |lr0 AS (SELECT raw.b, coalesce(tgt.ct, 0) AS ct, raw.cr
         |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |              CAST(sum(cr) AS BIGINT) AS nr FROM lr0),
         |lr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 64))
         |               - ln((cr + 1) * 1.0 / (nr + 64)) AS lr
         |       FROM lr0 CROSS JOIN tt),
         |sc AS (SELECT dc.doc_id, round(sum(dc.c * lr.lr), 4) AS m4
         |       FROM dc JOIN lr USING (b) GROUP BY 1),
         |r AS (SELECT doc_id, m4,
         |        row_number() OVER (ORDER BY m4 DESC, doc_id) AS rnk FROM sc),
         |kk AS (SELECT count(*) // 5 AS k FROM documents),
         |j AS (SELECT d.source, CAST(round(r.m4 * 10000) AS BIGINT) AS u4,
         |        CASE WHEN r.rnk <= kk.k THEN 1 ELSE 0 END AS sel
         |      FROM r JOIN documents d USING (doc_id) CROSS JOIN kk)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(sel) AS BIGINT) AS n_sel,
         |  round(sum(sel) * 1.0 / count(*), 4) AS sel_rate,
         |  round(sum(u4) * 1.0 / (count(*) * 10000.0), 4) AS avg_logw,
         |  round(sum(CASE WHEN sel = 1 THEN u4 END) * 1.0
         |    / (sum(sel) * 10000.0), 4) AS avg_logw_sel
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // full replay: same seed-37 bucket hash, same Laplace (+1/+64)
    // smoothing, same ln(target)−ln(raw) composition, same
    // (rounded score DESC, doc_id) selection order, k = N // 5.
    // Aggregates over token counts CAST per the HUGEINT hazard.
    "corpus_dsir" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(toks) AS s FROM t),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tk)),
         |th AS (SELECT s, ((${sx(ghashSql(fnvHx, "37"))} % 64) + 64) % 64 AS b
         |       FROM tb),
         |dc AS MATERIALIZED (
         |  SELECT tk.doc_id, th.b, count(*) AS c
         |  FROM tk JOIN th USING (s) GROUP BY 1, 2),
         |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM dc GROUP BY 1),
         |tgt AS (SELECT dc.b, CAST(sum(c) AS BIGINT) AS ct
         |        FROM dc JOIN documents d USING (doc_id)
         |        WHERE d.lang = 'en' GROUP BY 1),
         |lr0 AS (SELECT raw.b, coalesce(tgt.ct, 0) AS ct, raw.cr
         |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |              CAST(sum(cr) AS BIGINT) AS nr FROM lr0),
         |lr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 64))
         |               - ln((cr + 1) * 1.0 / (nr + 64)) AS lr
         |       FROM lr0 CROSS JOIN tt),
         |sc AS (SELECT dc.doc_id, round(sum(dc.c * lr.lr), 4) AS m4
         |       FROM dc JOIN lr USING (b) GROUP BY 1),
         |r AS (SELECT doc_id, m4,
         |        row_number() OVER (ORDER BY m4 DESC, doc_id) AS rnk FROM sc),
         |kk AS (SELECT count(*) // 5 AS k FROM documents),
         |j AS (SELECT d.source, CAST(round(r.m4 * 10000) AS BIGINT) AS u4,
         |        CASE WHEN r.rnk <= kk.k THEN 1 ELSE 0 END AS sel
         |      FROM r JOIN documents d USING (doc_id) CROSS JOIN kk)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(sel) AS BIGINT) AS n_sel,
         |  round(sum(sel) * 1.0 / count(*), 4) AS sel_rate,
         |  round(sum(u4) * 1.0 / (count(*) * 10000.0), 4) AS avg_logw,
         |  round(sum(CASE WHEN sel = 1 THEN u4 END) * 1.0
         |    / (sum(sel) * 10000.0), 4) AS avg_logw_sel
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // unrolled 3-round replay: same seed-41 hash, same dense
    // domains×64 Laplace grid (Σ_b p = 1 exactly), same
    // mixture → KL → w·exp(KL) → 0.98-renormalize + 0.02-uniform step
    "corpus_doremi" -> doremiSql,

    // the landing-cadence fold is the ADDITIVE integer (source, bucket)
    // count store; the grid algebra re-runs from the folded store after
    // the last generation, so the result IS corpus_doremi — the
    // stream==batch convergence contract (the stream_pipeline_e2e
    // doctrine), hence the oracle verbatim
    "stream_doremi_ingest" -> doremiSql,
  )

  /** corpus_doremi's full DuckDB replay, shared verbatim with
    * stream_doremi_ingest (the streamed fold is exact-integer, so the
    * two keys provably emit identical rows — StreamingSpec pins it). */
  private lazy val doremiSql: String = {
      // r15 (ADVICE r14): the three float sums quantize their terms to
      // fixed-point integers before summation (q/z at 1e12, KL terms
      // at 1e9) so the totals are accumulation-order-proof in both
      // engines — mirrors Select.doremiFromCounts exactly
      def rnd(r: Int): String = {
        val pw = if (r == 1) "w0" else s"w${r - 1}"
        s"""q$r AS (SELECT p.b,
           |          sum(CAST(round($pw.w * p.p * 1e12) AS BIGINT)) / 1e12 AS q
           |        FROM p JOIN $pw USING (source) GROUP BY 1),
           |e$r AS (SELECT p.source,
           |          sum(CAST(round(p.p * ln(p.p / q$r.q) * 1e9) AS BIGINT)) / 1e9 AS eps
           |        FROM p JOIN q$r USING (b) GROUP BY 1),
           |u$r AS (SELECT $pw.source, $pw.w * exp(e$r.eps) AS u, e$r.eps
           |        FROM $pw JOIN e$r USING (source)),
           |w$r AS MATERIALIZED (SELECT source,
           |          (u / ((SELECT sum(CAST(round(u * 1e12) AS BIGINT))
           |                 FROM u$r) / 1e12)) * (1.0 - 1.0 / 50)
           |          + 1.0 / (50 * (SELECT d FROM ndom)) AS w, eps
           |        FROM u$r)""".stripMargin
      }
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
         |tk AS (SELECT source, unnest(toks) AS s FROM t),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tk)),
         |th AS (SELECT s, ((${sx(ghashSql(fnvHx, "41"))} % 64) + 64) % 64 AS b
         |       FROM tb),
         |cnt AS MATERIALIZED (
         |  SELECT tk.source, th.b, count(*) AS c
         |  FROM tk JOIN th USING (s) GROUP BY 1, 2),
         |dom AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         |ndom AS (SELECT count(*) AS d FROM dom),
         |ntk AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_toks
         |        FROM cnt GROUP BY 1),
         |grid AS (SELECT dom.source, g.b
         |         FROM dom, (SELECT unnest(range(0, 64)) AS b) g),
         |p AS MATERIALIZED (
         |  SELECT g.source, g.b,
         |    (coalesce(c.c, 0) + 1) * 1.0 / (ntk.n_toks + 64) AS p
         |  FROM grid g
         |  LEFT JOIN cnt c ON g.source = c.source AND g.b = c.b
         |  JOIN ntk ON g.source = ntk.source),
         |w0 AS (SELECT source, 1.0 / (SELECT d FROM ndom) AS w FROM dom),
         |${(1 to 3).map(rnd).mkString(",\n")}
         |SELECT dom.source, dom.n_docs, ntk.n_toks,
         |  round(w3.eps, 4) AS excess_loss, round(w3.w, 6) AS weight
         |FROM dom JOIN ntk USING (source) JOIN w3 USING (source)
         |ORDER BY source""".stripMargin
  }

  /** Oracle entries registered after the [[doremiSql]] extraction. */
  private lazy val oracleTail: Map[String, String] = Map(

    // one-shot replay of the streamed fold: ratio table from gen 1
    // only (doc_id < 3(max+1)/4; target = its labeled-English slice),
    // the FULL corpus scored under it, integer u4 quantization, fixed
    // logw >= 0 selection, per-source rollup
    "stream_dsir_ingest" ->
      s"""WITH thr AS (SELECT 3*(max(doc_id)+1)//4 AS t FROM documents),
         |t AS (SELECT doc_id, source, lang, $toks AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(toks) AS s FROM t),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tk)),
         |th AS (SELECT s, ((${sx(ghashSql(fnvHx, "37"))} % 64) + 64) % 64 AS b
         |       FROM tb),
         |dc AS MATERIALIZED (
         |  SELECT tk.doc_id, th.b, count(*) AS c
         |  FROM tk JOIN th USING (s) GROUP BY 1, 2),
         |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr
         |        FROM dc JOIN t USING (doc_id) CROSS JOIN thr
         |        WHERE t.doc_id < thr.t GROUP BY 1),
         |tgt AS (SELECT dc.b, CAST(sum(c) AS BIGINT) AS ct
         |        FROM dc JOIN t USING (doc_id) CROSS JOIN thr
         |        WHERE t.doc_id < thr.t AND t.lang = 'en' GROUP BY 1),
         |lr0 AS (SELECT raw.b, coalesce(tgt.ct, 0) AS ct, raw.cr
         |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |              CAST(sum(cr) AS BIGINT) AS nr FROM lr0),
         |lr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 64))
         |               - ln((cr + 1) * 1.0 / (nr + 64)) AS lr
         |       FROM lr0 CROSS JOIN tt),
         |sc AS (SELECT dc.doc_id,
         |         CAST(round(sum(dc.c * lr.lr) * 10000) AS BIGINT) AS u4
         |       FROM dc JOIN lr USING (b) GROUP BY 1),
         |j AS (SELECT d.source, d.doc_id, coalesce(sc.u4, 0) AS u4
         |      FROM documents d LEFT JOIN sc USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id >= (SELECT t FROM thr) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_landed,
         |  CAST(sum(CASE WHEN u4 >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
         |  CAST(sum(u4) AS BIGINT) AS sum_u4,
         |  round(sum(u4) / (count(*) * 10000.0), 4) AS avg_logw
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // same distinct 8-gram extraction as text_span_dedup, same df join,
    // same half-up integer u4 composition — nonnegative operands so
    // DuckDB // (floor) equals Spark div (truncate)
    "dedup_soft_weights" -> softWeightsSql,

    // the landing-cadence posting-store fold re-derives the identical
    // algebra from the folded store — the stream==batch convergence
    // contract, hence the oracle verbatim (string grams: a 64-bit
    // store-hash collision mismatches here, never absorbs)
    "stream_soft_weights" -> softWeightsSql,


    // corpus_quality_mix's qu4 derivation + one global rank + the
    // equal-count shard cut ((rnk−1)·8 // N — the text_len_deciles
    // bucket formula)
    "corpus_curriculum" -> curriculumSql,

    // the landing-cadence histogram-fold re-derivation converges to
    // the batch shard plan row for row — stream==batch doctrine,
    // oracle verbatim
    "stream_curriculum_ingest" -> curriculumSql,

    // the token-mass cut: same qu4 ordering, the shard boundary moves
    // to the prefix-summed token column — the oracle computes the
    // global cumsum with the single window the engine decomposes
    "corpus_curriculum_tokens" -> curriculumTokensSql,

    // the landing-cadence token-mass member: the folded histogram's
    // token-span algebra + per-doc boundary resolution converges to
    // the batch cut row for row — stream==batch doctrine, oracle
    // verbatim
    "stream_curriculum_tokens" -> curriculumTokensSql,

    // corpus_curriculum_tokens' rank + single-window cumsum CTEs, then
    // the within-shard bin restart and the half-up u4 fill factor —
    // the oracle's one global window vs the engine's two-level cumsum
    "corpus_pack_e2e" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         |r AS (SELECT doc_id, len(toks) AS n_tokens,
         |    round(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))*1.0
         |      / length(text), 4) AS punct_ratio,
         |    round(1.0 - len(list_distinct(toks))*1.0/len(toks), 4) AS dup_ratio
         |  FROM t),
         |sc AS (SELECT doc_id, n_tokens,
         |    CAST(round(round(greatest(0.0, 1.0 - punct_ratio - dup_ratio*0.4
         |      - CASE WHEN n_tokens < 10 THEN 0.5 ELSE 0.0 END), 4) * 10000)
         |      AS BIGINT) AS qu4
         |  FROM r),
         |rk AS (SELECT doc_id, n_tokens, qu4,
         |    row_number() OVER (ORDER BY qu4 DESC, doc_id) AS rnk FROM sc),
         |c AS (SELECT doc_id, n_tokens, qu4,
         |    coalesce(sum(n_tokens) OVER (ORDER BY rnk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
         |  FROM rk),
         |n AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM sc),
         |sh AS (SELECT doc_id, n_tokens, qu4, cb,
         |    CAST((cb * 8) // tot AS BIGINT) AS shard
         |  FROM c CROSS JOIN n),
         |st AS (SELECT shard, min(cb) AS shard_off FROM sh GROUP BY 1),
         |b AS (SELECT sh.*, CAST((cb - shard_off) // 2048 AS BIGINT) AS bin
         |      FROM sh JOIN st USING (shard)),
         |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |        CAST(max(bin) + 1 AS BIGINT) AS n_seqs,
         |        CAST(min(qu4) AS BIGINT) AS min_qu4,
         |        CAST(max(qu4) AS BIGINT) AS max_qu4
         |      FROM b GROUP BY 1)
         |SELECT shard, n_docs, sum_tokens, n_seqs, min_qu4, max_qu4,
         |  CAST((2*10000*sum_tokens + n_seqs*2048) // (2*n_seqs*2048)
         |    AS BIGINT) AS fill_u4
         |FROM g ORDER BY shard""".stripMargin,

    // corpus_dsir's scoring CTEs + one shared rank; each budget row is
    // a non-equi join against the fraction list, k = (f·N) // 100
    "corpus_dsir_sweep" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |tk AS (SELECT doc_id, unnest(toks) AS s FROM t),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM tk)),
         |th AS (SELECT s, ((${sx(ghashSql(fnvHx, "37"))} % 64) + 64) % 64 AS b
         |       FROM tb),
         |dc AS MATERIALIZED (
         |  SELECT tk.doc_id, th.b, count(*) AS c
         |  FROM tk JOIN th USING (s) GROUP BY 1, 2),
         |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM dc GROUP BY 1),
         |tgt AS (SELECT dc.b, CAST(sum(c) AS BIGINT) AS ct
         |        FROM dc JOIN documents d USING (doc_id)
         |        WHERE d.lang = 'en' GROUP BY 1),
         |lr0 AS (SELECT raw.b, coalesce(tgt.ct, 0) AS ct, raw.cr
         |        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
         |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |              CAST(sum(cr) AS BIGINT) AS nr FROM lr0),
         |lr AS (SELECT b, ln((ct + 1) * 1.0 / (nt + 64))
         |               - ln((cr + 1) * 1.0 / (nr + 64)) AS lr
         |       FROM lr0 CROSS JOIN tt),
         |sc AS (SELECT dc.doc_id, round(sum(dc.c * lr.lr), 4) AS m4
         |       FROM dc JOIN lr USING (b) GROUP BY 1),
         |r AS (SELECT doc_id, m4,
         |        row_number() OVER (ORDER BY m4 DESC, doc_id) AS rnk FROM sc),
         |fr AS (SELECT unnest([10, 20, 40]) AS f),
         |tot AS (SELECT count(*) AS n,
         |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en
         |        FROM documents),
         |j AS (SELECT fr.f, r.m4, d.lang, tot.n_en
         |      FROM r JOIN documents d USING (doc_id)
         |      CROSS JOIN tot JOIN fr ON r.rnk <= (fr.f * tot.n) // 100)
         |SELECT CAST(f AS BIGINT) AS frac_pct, count(*) AS n_sel,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_sel_target,
         |  round(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 1.0
         |    / any_value(n_en), 4) AS target_capture,
         |  round(sum(CAST(round(m4 * 10000) AS BIGINT)) * 1.0
         |    / (count(*) * 10000.0), 4) AS avg_logw_sel
         |FROM j GROUP BY f ORDER BY frac_pct""".stripMargin,

    // dedup_semantic's replay (same assignment prelude, pairs, CC)
    // extended with the D4 half: survivors re-scored against their own
    // centroid (same ×10⁴ half-up quantization), per-cell rank with the
    // vec_id tiebreak, drop r <= n_surv // 10
    "emb_d4_prune" ->
      """WITH RECURSIVE
        |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e0),
        |nc AS (SELECT GREATEST(4, CAST(floor(sqrt(count(*))) AS BIGINT)) AS k FROM e),
        |seeds AS (
        |  SELECT row_number() OVER (ORDER BY (vec_id * 2654435761) % 1000003, vec_id) - 1 AS cell, v AS c
        |  FROM e, nc QUALIFY cell < nc.k),
        |sd AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM seeds),
        |a0 AS (
        |  SELECT e.vec_id, e.v, e.nrm, sd.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*sd.c[i])) / (e.nrm*sd.cn) DESC,
        |               sd.cell DESC) AS rk
        |  FROM e CROSS JOIN sd QUALIFY rk = 1),
        |r0 AS (
        |  SELECT cell, i AS pos, round(avg(v[i]), 6) AS m
        |  FROM a0, unnest(range(1, 65)) t(i)
        |  GROUP BY cell, i),
        |rc AS (
        |  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell,
        |         list(m ORDER BY pos) AS c
        |  FROM r0 GROUP BY cell),
        |rcn AS (SELECT cell, c, sqrt(list_sum(list_transform(c, x -> x*x))) AS cn FROM rc),
        |corp AS MATERIALIZED (
        |  SELECT e.vec_id, e.v, e.nrm, rcn.cell,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(range(1,65), i -> e.v[i]*rcn.c[i])) / (e.nrm*rcn.cn) DESC,
        |               rcn.cell DESC) AS rk
        |  FROM e CROSS JOIN rcn QUALIFY rk = 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.cell, a.vec_id AS id1, b.vec_id AS id2
        |  FROM corp a JOIN corp b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1,65), i -> a.v[i]*b.v[i]))
        |          / (a.nrm*b.nrm) >= 0.35),
        |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |          UNION ALL SELECT id2, id1 FROM pairs),
        |reach(id, r) AS (
        |  SELECT vec_id, vec_id FROM corp
        |  UNION
        |  SELECT ed.src, reach.r FROM edges ed JOIN reach ON ed.dst = reach.id),
        |lab AS (SELECT id AS vec_id, min(r) AS root FROM reach GROUP BY 1),
        |surv AS (SELECT corp.cell, corp.vec_id, corp.v, corp.nrm
        |         FROM corp JOIN lab USING (vec_id) WHERE lab.root = corp.vec_id),
        |scx AS (SELECT surv.cell, surv.vec_id,
        |    CAST(round(list_sum(list_transform(range(1,65), i -> surv.v[i]*rcn.c[i]))
        |      / (surv.nrm*rcn.cn) * 10000) AS BIGINT) AS cu4
        |  FROM surv JOIN rcn USING (cell)),
        |rnk AS (SELECT cell, vec_id, cu4,
        |    row_number() OVER (PARTITION BY cell ORDER BY cu4 DESC, vec_id) AS r,
        |    count(*) OVER (PARTITION BY cell) AS ns
        |  FROM scx),
        |pr AS (SELECT cell, any_value(ns) AS n_surv,
        |    sum(CASE WHEN r <= ns // 10 THEN 1 ELSE 0 END) AS n_proto
        |  FROM rnk GROUP BY cell),
        |stats AS (
        |  SELECT corp.cell, count(*) AS n_vecs,
        |    sum(CASE WHEN lab.root = corp.vec_id THEN 0 ELSE 1 END) AS n_semdup
        |  FROM corp JOIN lab USING (vec_id) GROUP BY 1)
        |SELECT CAST(stats.cell AS BIGINT) AS cell,
        |  CAST(n_vecs AS BIGINT) AS n_vecs,
        |  CAST(n_semdup AS BIGINT) AS n_semdup_pruned,
        |  CAST(coalesce(pr.n_surv, 0) AS BIGINT) AS n_surv,
        |  CAST(coalesce(pr.n_proto, 0) AS BIGINT) AS n_proto_pruned,
        |  CAST(coalesce(pr.n_surv, 0) - coalesce(pr.n_proto, 0) AS BIGINT) AS n_kept
        |FROM stats LEFT JOIN pr ON stats.cell = pr.cell
        |ORDER BY cell""".stripMargin,
  )
}

/** DuckDB emulation of [[graft.functions.GraftHash64]] — FNV-1a +
  * splitmix64, all mod-2^64 arithmetic emulated with HUGEINT (int128).
  * Shared by the oracle SQL of dedup_minhash, dedup_simhash and
  * m_sketch_distinct. Every helper references its argument ONCE
  * (branchless signed/unsigned conversion), and the splitmix chain is
  * a list_reduce fold over the three shift constants, so the expensive
  * FNV byte fold evaluates once per row even though DuckDB inlines CTE
  * expressions (a naive nested form re-evaluated it ~100x).
  */
private[queries] object DuckHash {

  /** unsigned(HUGEINT 0..2^64) → signed BIGINT, same bit pattern. */
  def sx(u: String): String =
    s"CAST(($u + 9223372036854775808) % 18446744073709551616 - 9223372036854775808 AS BIGINT)"

  /** 64-bit xor of two unsigned-held values, result unsigned HUGEINT. */
  def xorU(a: String, b: String): String =
    s"(CAST(xor(${sx(a)}, ${sx(b)}) AS HUGEINT) + 18446744073709551616) % 18446744073709551616"

  /** FNV-1a over the bytes of a string, given columns hx=hex(encode(s))
    * and n=octet_length: the xor only touches the low byte, so it
    * round-trips through BIGINT. */
  val fnvHx: String =
    """list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
      |    list_transform(range(1, n + 1), i ->
      |      CAST((strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
      |         + strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1 AS HUGEINT))),
      |    (acc, b) -> ((acc - (acc % 256)
      |                  + CAST(xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)) AS HUGEINT))
      |                 * 1099511628211) % 18446744073709551616)""".stripMargin

  /** splitmix64(u0 ^ seed): fold over the shift constants [30,27,31];
    * the multiply decomposes hi/lo 32-bit halves so the 128-bit
    * product never overflows int128 (full 2^64 x 2^64 would). */
  def ghashSql(u0: String, seedU: String): String = {
    val z = xorU("acc",
      "(acc // (CASE WHEN k = 30 THEN 1073741824 WHEN k = 27 THEN 134217728 ELSE 2147483648 END))")
    val hi = "(CASE WHEN k = 30 THEN 3210233709 WHEN k = 27 THEN 2496678331 ELSE 0 END)"
    val lo = "(CASE WHEN k = 30 THEN 484763065 WHEN k = 27 THEN 321982955 ELSE 1 END)"
    val step = s"((($z) * $lo + ((($z) * $hi) % 4294967296) * 4294967296) % 18446744073709551616)"
    val init = if (seedU == "0") u0 else xorU(u0, seedU)
    s"list_reduce(list_prepend($init, [30, 27, 31]), (acc, k) -> $step)"
  }

  /** GraftHash64.Golden as unsigned decimal. */
  val goldenU: String = java.lang.Long.toUnsignedString(graft.functions.GraftHash64.Golden)

  /** HLL rho (1-based leading-zero rank) of the post-shift bits `w`,
    * as the same literal unsigned-compare CASE chain the engine uses
    * (HllSketch.rho) — float log2 would be off-by-one at power-of-two
    * boundaries. */
  val rhoChainSql: String =
    (1 to 52).map(r => s"WHEN w >= ${BigInt(1) << (64 - r)} THEN $r")
      .mkString("CASE ", "\n|                ", "\n|                ELSE 53 END")

  /** 2^0..2^63 as a HUGEINT list literal (bit probes). */
  val pow2List: String = (0 until 64).map(i => (BigInt(1) << i).toString).mkString(", ")
}
