package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup => D}
import graft.ops.PlanBarrier.Barrier

/** Corpus-level training-data operators over `documents`.
  *
  * Unlike [[TextAnalysis]] (pure per-row maps) these are the pipeline
  * stages that need corpus context — document frequencies, global doc
  * counts, mixture weights — so each one states its shuffle budget
  * explicitly and keeps every join co-keyed on the shuffled key.
  */
object Corpus {

  /** Token-window chunking: split each document into fixed-size token
    * windows with overlap (`chunkSize` tokens every `stride`) — the
    * standard pre-tokenization step that turns variable-length
    * documents into trainable sequences. Pure per-row map + bounded
    * explode (≤ len/stride chunks per doc), zero shuffles: at 100 TB
    * this is a single codegen'd pass over the scan, output partitions
    * inherit the input's.
    *
    * Empty documents still emit one empty chunk (chunk_id 0) so every
    * doc_id survives into the chunked corpus.
    */
  def chunk(docs: DataFrame, chunkSize: Int = 32, stride: Int = 24): DataFrame = {
    require(stride >= 1 && chunkSize >= stride,
      s"need chunkSize >= stride >= 1: $chunkSize/$stride")
    docs.select(col("doc_id"), D.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as("start"))
      .select(col("doc_id"),
        (col("start") / stride).cast("bigint").as("chunk_id"),
        least(size(col("toks")) - col("start"), lit(chunkSize))
          .cast("bigint").as("n_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** TF-IDF top terms: per-document top-`k` terms scored
    * tf·ln(N/df). Shuffle budget: one shuffle to (doc_id, term) for tf,
    * one to term for df and the tf⋈df join (co-keyed), one back to
    * doc_id for the ranked window. The tf table feeds both df and the
    * join, so it's checkpointed once instead of re-exploding the corpus
    * per consumer. Ranking compares the ROUNDED score (4dp), then the
    * term — mathematically-equal score pairs (e.g. 2·ln 5 vs ln 25)
    * would otherwise rank by last-ulp noise that differs per engine.
    */
  def tfidfTop(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(D.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .once("tfidfTop.tf")
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n  = docs.agg(count(lit(1)).as("n_docs"))
    // degenerate-key broadcast hash join, not crossJoin: a 1-row build
    // is cheap either way, but BNLJ is banned for every non-exempt
    // query (PlanSpec)
    val scored = Scalars.withScalar(tf.join(df, "term"), col("doc_id"),
      n, col("n_docs"))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    TopK.perGroup(scored, groupCols = Seq(col("doc_id")),
        orderCols = Seq(col("score").desc, col("term")), k = k, rankName = "rnk")
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        col("score"))
  }

  /** Boilerplate score: the fraction of a document's distinct word
    * n-grams that are corpus-common (document frequency ≥ `minDf`) —
    * headers, footers and template text score high, original prose
    * low. Two co-keyed shuffles: explode to the shingle for df, join
    * df back on the same key, re-group to doc_id. The shingle table is
    * checkpointed once (it feeds both df and the join). Documents with
    * fewer than `n` tokens have no n-grams and drop out, same as the
    * oracle. */
  def boilerplate(docs: DataFrame, n: Int = 3, minDf: Int = 5): DataFrame = {
    val sh = docs
      .select(col("doc_id"), explode(D.shingles(col("text"), n)).as("s"))
      .once("boilerplate.sh")
    val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(df, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("boilerplate_ratio",
        round(col("n_common").cast("double") / col("n_shingles"), 4))
  }

  /** BM25 top-`k` retrieval: rank corpus documents against each query
    * document with Okapi BM25 (Robertson & Zaragoza 2009, the Lucene
    * idf form ln(1 + (N−df+0.5)/(df+0.5))) — the ASYMMETRIC
    * query→corpus ranking the similarity family still lacked:
    * contamination asks "is this benchmark text inside the doc"
    * (containment), tfidfCosine asks "are these two docs the same"
    * (symmetric pair), BM25 asks "which corpus docs best ANSWER this
    * query" (length-normalized, term-saturating relevance).
    *
    * Scale shape: the inverted-index join — query terms meet corpus
    * postings on the term key (co-keyed equi-joins; the tf table is
    * materialized once and feeds df, document lengths, and the posting
    * join), then one per-(query, doc) aggregation and a per-query
    * partial top-k window (TopK.perGroup prunes map-side via
    * WindowGroupLimit). Candidate volume is Σ_t df(t) over the QUERY's
    * terms — posting-list-bounded, never |Q|×|C|.
    *
    * Exactness: scores are genuinely continuous (§5 round-4dp class);
    * every float subexpression is composed IDENTICALLY in the oracle
    * (doubles forced — DuckDB would otherwise run the +0.5 chain in
    * DECIMAL; k1+1 is an engine-side IEEE add, never a Scala-side
    * constant fold the SQL literal could differ from in the last ulp),
    * and ranking orders by the ROUNDED score with a doc_id tiebreak
    * (the tfidfTop rule: mathematically-tied scores must not rank by
    * per-engine ulp noise).
    * Output: q_id, rnk, doc_id, n_terms, score. */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ct = corpus
      .select(col("doc_id"), explode(D.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .shared("bm25TopK.ct") // feeds df, doc lengths, and the posting join
    val dfT = ct.groupBy("t").agg(count(lit(1)).as("df"))
    val dl = ct.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tot = dl.agg(sum("dl").as("sdl"), count(lit(1)).as("nd"))
    val qt = queries.select(col("doc_id").as("q_id"),
      explode(array_distinct(D.tokens(col("text")))).as("t"))
    val joined = qt.join(ct, "t").join(dfT, "t").join(dl, "doc_id")
    val scored = Scalars.withScalar(joined, col("t"), tot, col("sdl"))
      .withColumn("idf",
        log(lit(1.0) + (col("nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("denom", col("tf") + lit(k1) *
        (lit(1.0 - b) + lit(b) * (col("dl") * col("nd") / col("sdl"))))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + lit(1.0))) / col("denom"))
      .groupBy("q_id", "doc_id")
      .agg(round(sum("contrib"), 4).as("score"), count(lit(1)).as("n_terms"))
    TopK.perGroup(scored, groupCols = Seq(col("q_id")),
        orderCols = Seq(col("score").desc, col("doc_id")), k = k,
        rankName = "rnk")
      .select(col("q_id"), col("rnk"), col("doc_id"), col("n_terms"),
        col("score"))
  }

  /** Domain-mixture oversampling: replicate each document to hit a
    * per-source epoch weight, the way a training mixture up-weights
    * scarce high-quality domains. The weight is integer + fractional:
    * every doc emits `floor(w)` copies, and the fractional remainder is
    * realized DETERMINISTICALLY (doc_id parity, not a random draw) so
    * the realized mixture is exact per source and the run is
    * reproducible. Pure per-row map + bounded explode (≤ ⌈w⌉ copies),
    * zero shuffles — at 100 TB the output is written straight back out
    * partition-local.
    *
    * Weights here derive from the source id (1 + id%3 base copies,
    * +0.5 when the id is even); a real pipeline feeds a weight table.
    */
  def epochMix(docs: DataFrame): DataFrame = {
    // 2-arg substring (to end of string) — a length cap would silently
    // diverge from the oracle's substr(source, 4) on long ids.
    val srcId = expr("substring(source, 4)").cast("int")
    val base  = lit(1) + srcId % 3
    val frac  = when(srcId % 2 === 0, lit(0.5)).otherwise(lit(0.0))
    val extra = when(col("doc_id") % 2 === 0 && frac > 0, 1).otherwise(0)
    docs.select(col("doc_id"), col("source"),
        (base + frac).as("weight"),
        (base + extra).cast("bigint").as("n_copies"))
      .select(col("doc_id"), col("source"), col("weight"), col("n_copies"),
        // generator must be alias-only: n_copies is bigint so the
        // sequence elements already are — no cast around the explode
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
  }
}
