package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Deduplication operators over a `documents(doc_id, text, ...)` table.
  *
  * Scale contracts (the point of each design, per SURVEY §4):
  *  - exact: ONE hash-shuffle on `sha2(normalized text)` — the group key
  *    is fixed-width, never the raw text;
  *  - n-gram Jaccard: exploded-shingle equi-join with a document-
  *    frequency cap on the posting lists, so a stopword shingle can
  *    never recreate the all-pairs cross join;
  *  - MinHash/LSH: O(n·k) map-side signatures, banded buckets, pairs
  *    generated only inside a bucket;
  *  - SimHash: 64-bit signature, hamming pairing via 16-bit chunk
  *    blocking (pigeonhole: distance ≤ 3 ⇒ one of 4 chunks equal);
  *  - embedding: cosine pairs blocked by a coarse key (label) so the
  *    pair space is per-block, never global.
  */
object Dedup {

  /** Whitespace/caseless normalization shared by exact dedup. */
  def normText(c: Column): Column = trim(regexp_replace(lower(c), "\\s+", " "))

  /** Lowercase word tokens, empty-token filtered. The `[^a-z0-9]+` split
    * is deliberately restricted to the Spark∩DuckDB common regex subset
    * (SURVEY §5) so oracles match byte-for-byte. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  /** Distinct word n-gram shingles (space-joined). Documents shorter
    * than n tokens contribute no shingles. Computed by the native
    * [[graft.functions.Shingles]] expression — the declarative
    * transform/slice/array_join chain interprets its lambdas per
    * element (HOFs are CodegenFallback) and profiled at ~16 s for 5k
    * docs at sf0.1; the native one-pass byte scan is <1 s with
    * identical output (parity proven in DedupSpec against
    * [[shinglesHof]]). */
  def shingles(c: Column, n: Int): Column = {
    graft.functions.Shingles.register(SparkSession.active)
    call_function("word_shingles", c, lit(n))
  }

  /** Declarative reference implementation of [[shingles]] — kept only
    * as the parity oracle for DedupSpec. */
  private[graft] def shinglesHof(c: Column, n: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-doc distinct shingle sets: doc_id, sh. Registers the native
    * functions on the DataFrame's OWN session (the `SparkSession.active`
    * fallback inside the bare Column helpers is thread-local and only
    * for direct Column-level use). */
  def shingleSets(docs: DataFrame, n: Int): DataFrame = {
    graft.functions.Shingles.register(docs.sparkSession)
    docs.select(col("doc_id"), shingles(col("text"), n).as("sh"))
  }

  /** Exact dedup: group on sha2 of normalized text, keep min doc_id.
    * Output: keep_id, n_copies (one row per distinct text). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("key"))
      .groupBy("key")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Exploded (doc_id, shingle) posting list. */
  private def postings(docs: DataFrame, n: Int): DataFrame =
    shingleSets(docs, n).select(col("doc_id"), explode(col("sh")).as("s"))

  /** Per-shingle posting buckets, DF-capped: one row per shingle with
    * the sorted doc-id list, only where the document frequency is ≤
    * `maxDF` — so a stopword shingle can never emit more than maxDF²/2
    * candidate pairs, and the groupBy bounds every bucket before any
    * pair is materialized. */
  private def cappedBuckets(docs: DataFrame, n: Int, maxDF: Int): DataFrame =
    postings(docs, n)
      .groupBy("s").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxDF)

  /** All in-bucket (id1 < id2) pairs, exploded map-side from each
    * bucket via the native [[graft.functions.ArrayPairs]] expression
    * (the nested transform/sequence form interprets two lambda layers
    * per pair). */
  private def bucketPairs(buckets: DataFrame): DataFrame = {
    graft.functions.ArrayPairs.register(buckets.sparkSession)
    buckets
      .filter(size(col("ids")) >= 2)
      .select(explode(call_function("array_pairs", col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
  }

  /** n-gram Jaccard near-dup pairs with similarity ≥ `threshold`,
    * computed over the DF-capped shingle space (both the intersection
    * and the union use the capped space — a documented, symmetric
    * semantic: ultra-common shingles carry no signal anyway).
    *
    * Two shuffles: groupBy(shingle) → bounded buckets, then
    * groupBy(pair) over the map-side-exploded in-bucket pairs. The
    * bucket cap makes the pair volume Σ df²/2 ≤ (maxDF/2)·postings —
    * linear in corpus size, never all-pairs.
    * Output: id1, id2, shared, jaccard (unrounded — the integer-ratio division is bit-identical cross-engine). */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                   maxDF: Int = 50): DataFrame =
    jaccardPairsFromPostings(postings(docs, n), threshold, maxDF)

  /** [[ngramJaccard]] over an ALREADY-MATERIALIZED posting list
    * (doc_id, s) — the store-fed entry point: the streaming funnel's
    * shingle store holds 64-bit shingle hashes instead of strings
    * (identity-by-portable-hash is the signature-store contract), and
    * the pair logic is identical for either `s` type. Same DF cap,
    * same capped-space jaccard. An action: returns the pairs as a
    * materialized local checkpoint (see [[withBuckets]]). */
  def jaccardPairsFromPostings(post: DataFrame, threshold: Double = 0.8,
                               maxDF: Int = 50): DataFrame = {
    // the bucket table feeds BOTH the pair counts and the per-doc sizes;
    // it is materialized once (see [[withBuckets]]) instead of
    // re-executing the explode+groupBy chain per consumer — at open
    // scale this is where the buckets would be written to storage
    // between stages
    withBuckets(post
      .groupBy("s").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxDF)) { buckets =>
      val pairs = bucketPairs(buckets)
        .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
      val sizes = buckets
        .select(explode(col("ids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      // melt each pair to its two member ids so the per-doc sizes table
      // joins ONCE (sum of the two sizes per pair), not once per side —
      // without a cache, every join against `sizes` would re-execute its
      // whole bucket chain
      val melted = pairs.select(col("id1"), col("id2"), col("shared"),
        explode(array(col("id1"), col("id2"))).as("doc_id"))
      val summed = melted.join(sizes, "doc_id")
        .groupBy("id1", "id2", "shared").agg(sum(col("n_sh")).as("s12"))
      val jac = col("shared") / (col("s12") - col("shared"))
      summed
        .filter(jac >= threshold)
        .select(col("id1"), col("id2"), col("shared"), jac.as("jaccard"))
    }
  }

  /** `pairsOf(buckets)` over `buckets` checkpointed EAGERLY, returned
    * as an eager checkpoint too, with the bucket blocks released. A lazy
    * bucket checkpoint read by the pair branch and the size branch,
    * whose stages run at once, was computed by both (the second copy
    * logged "Block rdd_N_0 already exists" and was thrown away); the
    * eager one is computed once, before either branch starts. An
    * action: runs the bucket and pair jobs before it returns. */
  private def withBuckets(buckets: DataFrame)(
      pairsOf: DataFrame => DataFrame): DataFrame = {
    val b = buckets.shared("dedup.buckets")
    try pairsOf(b).shared("dedup.bucket_pairs")
    finally PlanBarrier.release(b)
  }

  /** Containment near-dup pairs over the same DF-capped shingle space
    * as [[ngramJaccard]]: containment = shared / min(|A|, |B|) ≥
    * tNum/tDen, tested by integer cross-multiplication so no float
    * boundary can flip membership between engines. This catches the
    * asymmetric case symmetric Jaccard dilutes away — a short document
    * wholly quoted inside a much larger boilerplate wrapper (|A∩B|/|A|
    * high, |A∩B|/|A∪B| low). Same two bounded shuffles as the Jaccard
    * path; per-pair sizes arrive via ONE melt join against the posting
    * sizes (the sizes table is corpus-sized — never broadcast), kept
    * per SIDE rather than summed because the ratio needs min, not
    * union. Output: id1, id2, shared, n1, n2, containment (unrounded
    * integer-ratio division — bit-identical cross-engine). An action,
    * like [[jaccardPairsFromPostings]]. */
  def ngramContainment(docs: DataFrame, n: Int = 3, tNum: Int = 9,
                       tDen: Int = 10, maxDF: Int = 50): DataFrame = {
    withBuckets(cappedBuckets(docs, n, maxDF)) { buckets =>
      val pairs = bucketPairs(buckets)
        .groupBy("id1", "id2").agg(count(lit(1)).as("shared"))
      val sizes = buckets
        .select(explode(col("ids")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val melted = pairs.select(col("id1"), col("id2"), col("shared"),
        explode(array(
          struct(col("id1").as("doc_id"), lit(1).as("side")),
          struct(col("id2").as("doc_id"), lit(2).as("side")))).as("m"))
        .select(col("id1"), col("id2"), col("shared"),
          col("m.doc_id").as("doc_id"), col("m.side").as("side"))
      melted.join(sizes, "doc_id")
        .groupBy("id1", "id2", "shared")
        .agg(min(when(col("side") === 1, col("n_sh"))).as("n1"),
          min(when(col("side") === 2, col("n_sh"))).as("n2"))
        .filter(col("shared") * tDen >= least(col("n1"), col("n2")) * tNum)
        .select(col("id1"), col("id2"), col("shared"), col("n1"), col("n2"),
          (col("shared").cast("double") / least(col("n1"), col("n2")))
            .as("containment"))
    }
  }

  /** EXACT-recall similarity join via prefix filtering (PPJoin-style):
    * order every doc's shingles by ascending global document frequency
    * (rarest first, ties by shingle text — a total order, so both
    * engines build identical prefixes), keep only the first
    * `|x| - ceil(t·|x|) + 1` as the doc's prefix, and generate a
    * candidate pair whenever two PREFIXES share a shingle. The prefix
    * lemma guarantees no pair with true Jaccard ≥ t is missed — the
    * contract [[ngramJaccard]]'s DF cap trades away (a pair sharing
    * only ultra-common shingles never meets its capped buckets).
    *
    * The threshold is the rational tNum/tDen and every comparison is
    * integer arithmetic (`shared·tDen ≥ union·tNum`,
    * `ceil(t·n) = (n·tNum + tDen−1) div tDen`), so no float boundary
    * can flip membership between engines.
    *
    * Scale: df-ascending prefixes concentrate on RARE shingles, so
    * posting lists behind the candidate join stay short even though no
    * shingle is ever dropped; the O(len²) exact verify runs only on
    * candidates. Three shuffles: df groupBy, prefix self-join,
    * pair-keyed verify re-agg.
    * Output: id1, id2, shared, jaccard (unrounded — the integer-ratio division is bit-identical cross-engine). */
  def prefixFilterJaccard(docs: DataFrame, n: Int = 3,
                          tNum: Int = 4, tDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE per-doc shingle-array table feeds everything: the posting
    // explode, the per-doc sizes (size(sh) — shingles are distinct, so
    // no groupBy(doc_id) re-count shuffle), and the verify attach. The
    // r18 shape (guide §2.3): every shuffle before the verify carries
    // ids and one shingle string, never re-joined posting payloads.
    val sh = shingleSets(docs, n)
      .shared("prefixFilterJaccard.sh")
    val sizes = sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    // df re-attached MAP-SIDE from the posting bucket (df = bucket
    // size), so the old ex⋈df shuffle join disappears; the sizes
    // attach is a broadcast-sized (doc_id, n) table. `rn` — the
    // shingle's rank in the doc's (df, s)-ordered list — is KEPT: it
    // feeds the positional filter below.
    val pre = sh.select(col("doc_id"), explode(col("sh")).as("s"))
      .groupBy("s").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(col("s"), size(col("ids")).as("df"),
        explode(col("ids")).as("doc_id"))
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
      .filter(col("rn") <=
        col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select(col("doc_id"), col("s"), col("rn").cast("long").as("rn"),
        col("n"))
    // candidate generation with the two standard PPJoin prunes applied
    // AT the prefix join, before the pair distinct (measured r18:
    // 118,826 raw prefix-sharing pairs at sf0.1 fed the verify; the
    // prunes are integer-exact and keep every true pair):
    //  - length filter: J ≥ t ⟹ shared ≥ t·union ⟹ min(n1,n2) ≥
    //    t·max(n1,n2);
    //  - positional filter: every doc's shingle list is sorted by the
    //    SAME global (df, s) order, so for a common shingle s at ranks
    //    (p1, p2), common shingles before s number ≤ min(p1,p2)−1 and
    //    those from s on number ≤ min(n1−p1, n2−p2)+1; J ≥ t needs
    //    shared·(tNum+tDen) ≥ (n1+n2)·tNum, so a true pair passes at
    //    its prefix-shared shingle by the same inequality.
    val a = pre.select(col("doc_id").as("id1"), col("s"),
      col("rn").as("rn1"), col("n").as("n1"))
    val b = pre.select(col("doc_id").as("id2"), col("s"),
      col("rn").as("rn2"), col("n").as("n2"))
    val ubound = least(col("rn1"), col("rn2")) - 1 +
      least(col("n1") - col("rn1"), col("n2") - col("rn2")) + 1
    val cands = a.join(b, Seq("s"))
      .filter(col("id1") < col("id2"))
      .filter(least(col("n1"), col("n2")) * tDen >=
        greatest(col("n1"), col("n2")) * tNum)
      .filter(ubound * (tNum + tDen) >= (col("n1") + col("n2")) * tNum)
      .select("id1", "id2").distinct()
    // verify: attach the two full shingle ARRAYS to the (small, pruned)
    // candidate side and intersect natively — the old path re-joined
    // the exploded posting table twice (by id1, then (id2, s)) and
    // re-aggregated by pair, shuffling every posting string with full
    // pair multiplicity; array payloads now move only where a candidate
    // row needs them (AQE broadcasts the candidate side when it fits).
    val jd = cands
      .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("long").as("shared"),
        (size(col("sh1")).cast("long") + size(col("sh2")).cast("long")).as("s12"))
    jd
      .filter(col("shared") * tDen >= (col("s12") - col("shared")) * tNum)
      .select(col("id1"), col("id2"), col("shared"),
        (col("shared") / (col("s12") - col("shared"))).as("jaccard"))
  }

  /** MinHash signatures: one row per doc, `sig` = array of k minima of
    * k permutation hashes over the doc's shingles. ONE shuffle via the
    * custom declarative aggregate [[graft.functions.MinHashAgg]]: the
    * buffer is a single k-long array with map-side partial merge, so
    * the shuffle carries one signature per (partition, doc). */
  def minhashSignatures(docs: DataFrame, n: Int = 3, k: Int = 128): DataFrame = {
    graft.functions.MinHashAgg.register(docs.sparkSession)
    postings(docs, n)
      .groupBy("doc_id")
      .agg(expr(s"minhash_agg(s, $k)").as("sig"))
  }

  /** MinHash + LSH banding: candidate pairs share ≥1 of `bands` band
    * hashes; candidates are then verified with the true Jaccard of the
    * two docs' full shingle sets, computed ONLY for the candidates —
    * never an all-pairs pass.
    *
    * Plan shape: the signature aggregation runs ONCE (band buckets are
    * built by a groupBy + collect, not a self-join, so the expensive
    * signature subplan is not duplicated); in-bucket pairs explode
    * map-side; verification joins the small candidate set against
    * per-row shingle arrays (a cheap projection of the docs scan —
    * AQE broadcasts the candidate side at runtime). `bucketCap` bounds
    * pathological buckets (e.g. a corpus of thousands of identical
    * docs) to cap² pair growth. Output: id1, id2, jaccard (unrounded — the integer-ratio division is bit-identical cross-engine). */
  /** LSH candidate pairs only (band-bucket collisions, deduplicated) —
    * the pre-verification stage of [[minhashLsh]].
    *
    * By default band buckets key on `xxhash64(band, bandString)` — a
    * fixed 8-byte shuffle key instead of a ~rows·20-char string. A
    * 64-bit band-hash collision can add a spurious candidate, which
    * the downstream Jaccard verification absorbs in [[minhashLsh]];
    * callers emitting the RAW candidate set (dedup_minhash_calib,
    * whose oracle groups raw band strings) pass `rawBandKey = true`
    * so the set is identical by construction, not just w.h.p. */
  def lshCandidates(docs: DataFrame, n: Int = 3, k: Int = 128, bands: Int = 16,
                    bucketCap: Int = 1000, rawBandKey: Boolean = false): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sig  = minhashSignatures(docs, n, k)
    def bandStr(b: Column) = array_join(slice(col("sig"), b * rows + 1, lit(rows)), ",")
    val bandKey: Column => Column =
      if (rawBandKey) bandStr else (b => xxhash64(b, bandStr(b)))
    val banded = sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bandKey)).as(Seq("band", "bh")))
    val bandBuckets = banded
      .groupBy("band", "bh").agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= bucketCap)
    bucketPairs(bandBuckets).distinct()
  }

  /** Incremental near-dup check of a NEWLY-LANDED shard against the
    * whole corpus: LSH candidates are restricted to pairs with a new
    * side — the existing-corpus pair space is never rebuilt when a
    * shard arrives, which is the production dedup cadence (in steady
    * state the corpus signatures/bands are a precomputed table; here
    * both come from the same single signature pass).
    *
    * `isNew` is a predicate over the doc_id column. Emits verified
    * pairs as (new_id, match_id, jaccard, is_cross): new×old pairs
    * always orient (new, old); new×new dedup inside the shard emits
    * once with new_id < match_id. Plan shape: bands explode map-side,
    * heavy buckets are df-capped by a co-partitioned (band, bh) count
    * join (no collect), the band join probes new-side bands against
    * all bands on the 8-byte band hash, and exact-Jaccard verification
    * touches only candidate docs' shingle arrays. */
  def minhashLshIncremental(docs: DataFrame, isNew: Column => Column,
                            n: Int = 3, k: Int = 128, bands: Int = 16,
                            threshold: Double = 0.8, bucketCap: Int = 1000): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sig = minhashSignatures(docs, n, k)
    val banded = sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, array_join(slice(col("sig"), b * rows + 1, lit(rows)), ",")))).as(Seq("band", "bh")))
      .once("minhashLshIncremental.b")
    val sizes = banded.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
    val ok = banded.join(sizes, Seq("band", "bh")).filter(col("bsz") <= bucketCap)
    val newSide = ok.filter(isNew(col("doc_id")))
      .select(col("band"), col("bh"), col("doc_id").as("new_id"))
    val allSide = ok.select(col("band"), col("bh"), col("doc_id").as("match_id"),
      isNew(col("doc_id")).as("match_new"))
    val cands = newSide.join(allSide, Seq("band", "bh"))
      .filter((!col("match_new") && col("new_id") =!= col("match_id")) ||
        (col("match_new") && col("new_id") < col("match_id")))
      .select("new_id", "match_id", "match_new").distinct()
    val sets = shingleSets(docs, n)
    val jac = size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
      size(array_union(col("sh1"), col("sh2")))
    cands
      .join(sets.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
      .join(sets.select(col("doc_id").as("match_id"), col("sh").as("sh2")), "match_id")
      .filter(jac >= threshold)
      .select(col("new_id"), col("match_id"), jac.as("jaccard"),
        (!col("match_new")).cast("bigint").as("is_cross"))
  }

  /** Banded-LSH candidate generation + SIGNATURE-AGREEMENT verify over
    * an existing signature table (doc_id, sig) — the tail shared by
    * [[minhashStoreIncremental]] and its from-scratch spec twin. Pairs
    * are restricted to those touching the new shard and verified by
    * the estimated Jaccard (matching permutation minima / k): at store
    * scale the raw text of the OLD corpus is gone by design, so the
    * estimator — not exact shingle Jaccard — is the verify metric.
    * k = 128 keeps est = n/128 binary-exact, and the threshold is the
    * integer test n_match·10 ≥ minMatch10 so no float compare sits on
    * a boundary. */
  def signatureCandidates(sig: DataFrame, isNew: Column => Column,
                          k: Int = 128, bands: Int = 16,
                          minMatch10: Int = 1024, bucketCap: Int = 1000): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val banded = sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, array_join(slice(col("sig"), b * rows + 1, lit(rows)), ",")))).as(Seq("band", "bh")))
      .once("signatureCandidates.b")
    val sizes = banded.groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
    val ok = banded.join(sizes, Seq("band", "bh")).filter(col("bsz") <= bucketCap)
    val newSide = ok.filter(isNew(col("doc_id")))
      .select(col("band"), col("bh"), col("doc_id").as("new_id"))
    val allSide = ok.select(col("band"), col("bh"), col("doc_id").as("match_id"),
      isNew(col("doc_id")).as("match_new"))
    val cands = newSide.join(allSide, Seq("band", "bh"))
      .filter((!col("match_new") && col("new_id") =!= col("match_id")) ||
        (col("match_new") && col("new_id") < col("match_id")))
      .select("new_id", "match_id", "match_new").distinct()
    val nMatch = size(filter(zip_with(col("sig1"), col("sig2"),
      (a, b) => a === b), x => x)).cast("long")
    cands
      .join(sig.select(col("doc_id").as("new_id"), col("sig").as("sig1")), "new_id")
      .join(sig.select(col("doc_id").as("match_id"), col("sig").as("sig2")), "match_id")
      .withColumn("n_match", nMatch)
      .filter(col("n_match") * 10 >= minMatch10)
      .select(col("new_id"), col("match_id"), col("n_match"),
        (col("n_match").cast("double") / k).as("est_jaccard"),
        (!col("match_new")).cast("bigint").as("is_cross"))
  }

  /** Incremental MinHash with a MAINTAINED signature store: the old
    * corpus's signatures were persisted by a previous run (store/v0 —
    * the stream_cdc_apply snapshot pattern on plain parquet); when a
    * shard lands, ONLY the shard's text is shingled and hashed, its
    * signatures APPEND as store/v1, and candidate generation reads the
    * merged store. The corpus raw text is never re-read — at 100 TB
    * the store is ~1 KB/doc of signatures versus re-shingling the
    * whole corpus per shard. ScaleOpsSpec proves the store-fed result
    * equals the from-scratch signature run exactly. */
  def minhashStoreIncremental(docs: DataFrame, isNew: Column => Column,
                              n: Int = 3, k: Int = 128, bands: Int = 16,
                              minMatch10: Int = 1024, bucketCap: Int = 1000): DataFrame = {
    val spark = docs.sparkSession
    val store = graft.sources.Scratch.dir("graft_sig_store_")
    minhashSignatures(docs.filter(!isNew(col("doc_id"))), n, k)
      .write.parquet(s"$store/v0")
    minhashSignatures(docs.filter(isNew(col("doc_id"))), n, k)
      .write.parquet(s"$store/v1")
    val sig = spark.read.parquet(s"$store/v0", s"$store/v1")
    signatureCandidates(sig, isNew, k, bands, minMatch10, bucketCap)
  }

  def minhashLsh(docs: DataFrame, n: Int = 3, k: Int = 128, bands: Int = 16,
                 threshold: Double = 0.8, bucketCap: Int = 1000): DataFrame = {
    val candidates = lshCandidates(docs, n, k, bands, bucketCap)
    // full shingle sets: a per-row projection of the docs scan (no shuffle)
    val sets = shingleSets(docs, n)
    val jac = size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
      size(array_union(col("sh1"), col("sh2")))
    candidates
      .join(sets.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .filter(jac >= threshold)
      .select(col("id1"), col("id2"), jac.as("jaccard"))
  }

  /** 64-bit SimHash per doc: tf-weighted sign-sum of token hash bits,
    * assembled into a long. ONE explode + ONE groupBy(doc) shuffle —
    * each token OCCURRENCE contributes ±1 per bit, which sums to
    * exactly the tf-weighted form without the per-(doc,token)
    * pre-aggregation shuffle the tf formulation needs (the map-side
    * partial agg compresses occurrences to one 64-long buffer per
    * (partition, doc) anyway). */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftHash64.register(docs.sparkSession)
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", call_function("graft_hash64", col("t"), lit(0L)))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"b$i")
    }
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).map(i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming`.
    * Blocking: the 64-bit signature splits into `maxHamming + 1`
    * near-equal bit chunks; two signatures within `maxHamming` must
    * share at least one identical chunk (pigeonhole — distance can
    * touch at most `maxHamming` chunks), so pairing is an equi-join on
    * (chunk_idx, chunk_value) — never all-pairs, and never incomplete:
    * the chunk count is DERIVED from the radius rather than fixed
    * (a fixed 4-chunk split silently misses pairs for maxHamming > 3).
    * Output: id1, id2, hamming. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31,
      s"maxHamming out of range (1..31): $maxHamming")
    val chunks = maxHamming + 1
    // near-equal split of 64 bits: first (64 % chunks) chunks get one
    // extra bit
    val bounds = (0 to chunks).map(i => i * 64 / chunks)
    val sig = simhashSignatures(docs)
    val chunked = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until chunks).map { i =>
        val lo = bounds(i); val width = bounds(i + 1) - lo
        val mask = if (width == 64) -1L else (1L << width) - 1L
        shiftright(col("simhash"), lo).bitwiseAND(mask)
      }: _*)).as(Seq("ci", "cv")))
    val l = chunked.select(col("ci"), col("cv"), col("doc_id").as("id1"), col("simhash").as("s1"))
    val r = chunked.select(col("ci"), col("cv"), col("doc_id").as("id2"), col("simhash").as("s2"))
    l.join(r, Seq("ci", "cv"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sequential-fold dot product — the fold order matches an engine
    * summing the list left-to-right, which keeps oracle doubles
    * bit-identical. Native [[graft.functions.DotProduct]] expression:
    * one generated-code call per row instead of per-element lambda
    * interpretation (parity proven in DedupSpec against [[dotHof]]). */
  def dot(x: Column, y: Column): Column = {
    graft.functions.DotProduct.register(SparkSession.active)
    call_function("dot_product", x, y)
  }

  /** Declarative reference implementation of [[dot]] — kept only as the
    * parity oracle for DedupSpec. */
  private[graft] def dotHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two double arrays (3 folds — prefer
    * precomputing per-vector norms once when used pairwise). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Embedding near-dup pairs: cosine ≥ `threshold`, blocked by
    * `blockCol` (label here; an LSH bucket at open scale) so the pair
    * space is per-block. Per-vector norms are computed once on each
    * side, so each pair costs ONE array fold, not three.
    * Output: id1, id2, label, cos (4dp). */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.35,
                       blockCol: String = "label"): DataFrame = {
    graft.functions.DotProduct.register(emb.sparkSession)
    val e = emb.select(col("vec_id"), col(blockCol),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("id1"), col(blockCol), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col(blockCol), col("v").as("v2"), col("nrm").as("n2"))
    val cos = dot(col("v1"), col("v2")) / (col("n1") * col("n2"))
    a.join(b, Seq(blockCol))
      .filter(col("id1") < col("id2"))
      .filter(cos >= threshold)
      .select(col("id1"), col("id2"), col(blockCol), round(cos, 4).as("cos"))
  }

  /** Embedding near-dup at OPEN scale: the label block of
    * [[embeddingNearDup]] swapped for a random-hyperplane LSH bucket —
    * no label column required, and the bucket count (2^numPlanes)
    * scales the per-block pair space down as the corpus grows. Pairs
    * split across buckets are missed; that is the LSH approximation
    * (recall rises as numPlanes shrinks, cost rises as it grows — the
    * same dial every production near-dup pipeline exposes).
    * Output: id1, id2, bucket, cos (4dp). */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double = 0.35,
                          numPlanes: Int = 6, seed: Long = 42L): DataFrame = {
    val planes = Similarity.hyperplanes(numPlanes, dim = 64, seed)
    val bucketed = emb.withColumn("bucket",
      Similarity.bucketOf(col("embedding").cast("array<double>"), planes))
    embeddingNearDup(bucketed, threshold, blockCol = "bucket")
  }

  /** TF-IDF-weighted cosine near-dup pairs — the remaining classical
    * lexical similarity after Jaccard (set overlap) and containment
    * (asymmetric overlap): terms are weighted tf·idf so a pair sharing
    * RARE vocabulary scores far above one sharing stopwords, which is
    * what separates true near-dups from topical siblings.
    *
    * Exactness contract (§5): idf is quantized ONCE to integer
    * milli-units (`round(ln(N/df)·10³)` — a continuous value, so the
    * half-up boundary has measure zero and both engines round the same
    * libm double), and from there everything is integer: weights
    * w = tf·idf_u3 (BIGINT), dot products Σw₁w₂ and squared norms Σw²
    * (BIGINT), and the threshold test cos ≥ t as the cross-multiplied
    * square dot²·tDen² ≥ tNum²·n₁·n₂ in DECIMAL(38,0) — weights are
    * non-negative so squaring preserves the inequality, and no float
    * boundary can flip membership between engines. Headroom audit: at
    * N=10¹⁰ docs idf_u3 ≤ 23 026, tf ≤ ~50 ⟹ w ≤ ~10⁶, a 10³-term doc
    * has n ≤ 10¹⁵, so dot² ≤ 10³⁰ — inside DECIMAL(38,0) with 8 digits
    * to spare. The displayed cosine is the doctrine-legitimate
    * continuous double (round 4dp of exact-integer operands; the
    * n₁·n₂ product is computed in doubles because both factors are
    * < 2⁵³ and hence exactly representable).
    *
    * Scale shape: the term space is capped TWICE (r10 ADVICE). The
    * scale-relative arm df·maxDfDen ≤ N keeps the "rare enough to
    * carry signal" semantic at every corpus size (the ngramJaccard
    * lesson: a fixed absolute cap alone silently empties the term
    * space as the corpus grows — at 5 000 docs a df ≤ 50 cap kept
    * only ≤1%-rarity terms and the sf0.1 run found zero pairs). But
    * the relative arm ALONE is superlinear: a term just under the
    * N/maxDfDen cap contributes df²/2 ≈ N²/200 pairs, so a large
    * corpus with near-10%-frequency terms explodes the posting
    * self-join. The absolute arm df ≤ absMaxDf restores the hard
    * bound: per-term pair volume ≤ absMaxDf²/2 and total pair volume
    * Σ df²/2 ≤ (absMaxDf/2)·|postings| — genuinely linear in corpus
    * size. (Terms with 10⁴+ df at 10⁸+ docs are stopword-frequency;
    * their idf weight is near zero, so the cut discards noise, and
    * the cap is a tunable for corpora where that band matters.) Pair
    * generation is a co-keyed self-equi-join of the weighted posting
    * table on `term` — one shuffle whose second side is a
    * ReusedExchange, never all-pairs. Norms arrive via ONE melt
    * join against the corpus-sized norm table (never broadcast), the
    * [[ngramContainment]] pattern.
    * Output: id1, id2, dot, n1, n2, cosine (4dp). */
  def tfidfCosine(docs: DataFrame, tNum: Int = 9, tDen: Int = 10,
                  maxDfDen: Int = 10, absMaxDf: Int = 10000): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .shared("tfidfCosine.tf") // feeds df and the weighted postings
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dfT = Scalars.withScalar(
        tf.groupBy("term").agg(count(lit(1)).as("df")), col("term"),
        n, col("n_docs"))
      .filter(col("df") * maxDfDen <= col("n_docs") && col("df") <= absMaxDf)
      .select("term", "df")
    val weighted = Scalars.withScalar(tf.join(dfT, "term"), col("doc_id"),
        n, col("n_docs"))
      .withColumn("idf_u3",
        round(log(col("n_docs").cast("double") / col("df")) * 1000, 0)
          .cast("long"))
      .select(col("term"), col("doc_id"), (col("tf") * col("idf_u3")).as("w"))
      .shared("tfidfCosine.weighted") // both join sides + the norm table
    val norms = weighted.groupBy("doc_id")
      .agg(sum(col("w") * col("w")).as("nsq"))
    val pairs = weighted.select(col("term"), col("doc_id").as("id1"), col("w").as("w1"))
      .join(weighted.select(col("term"), col("doc_id").as("id2"), col("w").as("w2")),
        Seq("term"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(sum(col("w1") * col("w2")).as("dot"))
    val melted = pairs.select(col("id1"), col("id2"), col("dot"),
      explode(array(
        struct(col("id1").as("doc_id"), lit(1).as("side")),
        struct(col("id2").as("doc_id"), lit(2).as("side")))).as("m"))
      .select(col("id1"), col("id2"), col("dot"),
        col("m.doc_id").as("doc_id"), col("m.side").as("side"))
    melted.join(norms, "doc_id")
      .groupBy("id1", "id2", "dot")
      .agg(min(when(col("side") === 1, col("nsq"))).as("n1"),
        min(when(col("side") === 2, col("nsq"))).as("n2"))
      .filter(col("dot").cast("decimal(38,0)") * col("dot") * lit(tDen * tDen) >=
        col("n1").cast("decimal(38,0)") * col("n2") * lit(tNum * tNum))
      .select(col("id1"), col("id2"), col("dot"), col("n1"), col("n2"),
        round(col("dot") / sqrt(col("n1").cast("double") * col("n2")), 4)
          .as("cosine"))
  }
}
