package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.RollingHash
import graft.ops.PlanBarrier.Barrier

/** Text-analysis operators over `documents(doc_id, text, lang, ...)`.
  *
  * All of these are pure per-row maps — no shuffle, fully codegen'd —
  * so they scale linearly with input splits. Token/regex semantics are
  * restricted to the Spark∩DuckDB common subset (SURVEY §5) so the SQL
  * oracles hash-match.
  */
object TextAnalysis {

  private def toks: Column = Dedup.tokens(col("text"))

  /** Top-`k` adjacent-bigram collocations by pointwise mutual
    * information, PMI = ln(p(w1,w2)/(p(w1)·p(w2))) with a count floor
    * (raw PMI is maximized by hapax pairs — the floor is what makes
    * the ranking about collocations instead of noise; Church & Hanks
    * 1990). One tokenize pass (checkpointed) feeds the unigram and
    * bigram counts; state after the two groupBys is vocabulary-
    * bounded, never corpus-bounded, and the two totals ride the 1-row
    * [[Scalars.withScalar]] broadcast. The PMI ratio is composed in
    * DOUBLE left-to-right identically to the oracle (§5: the products
    * exceed 2⁵³ at corpus scale, so BOTH engines must round the same
    * way at the same step), emitted round-4dp.
    * Output: w1, w2, c12, c1, c2, pmi — (pmi desc, w1, w2) top-k. */
  def pmi(docs: DataFrame, minCount: Int = 5, k: Int = 20): DataFrame = {
    val tok = docs.select(Dedup.tokens(col("text")).as("t"))
      .shared("pmi.tok") // one tokenize feeds unigrams + bigrams + scalars
    val uni = tok.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val c12 = tok.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), i -> named_struct('w1', t[i-1], 'w2', t[i]))")).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val sc = tok.agg(
      sum(size(col("t"))).cast("double").as("n1"),
      sum(greatest(size(col("t")) - 1, lit(0))).cast("double").as("nb"))
    Scalars.withScalar(
        c12.join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
          .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2"),
        col("w1"), sc, col("n1"))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log(
          (col("c12").cast("double") * col("n1") * col("n1")) /
            (col("nb") * col("c1") * col("c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
  }

  /** Token counting: totals, distinct count, mean token length. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks.as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        round(aggregate(transform(col("toks"), t => length(t)), lit(0),
          (acc, x) => acc + x).cast("double") / size(col("toks")), 4).as("avg_len"))

  /** Tiny per-language marker-word lists for the language-ID heuristic.
    * (Real deployments plug in a larger lexicon or character-n-gram
    * model; the operator shape — per-row array intersection counts +
    * deterministic argmax — is the scalable part.) */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un"),
    "fr" -> Seq("le", "la", "de", "et", "que", "un", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ein", "zu", "ist"),
    "zh" -> Seq("de", "shi", "bu", "le", "zai", "you", "wo"),
  )

  private def hits(words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(col("toks"), t => array_contains(set, t)))
  }

  /** Language-ID heuristic: marker hits per language, deterministic
    * priority-ordered argmax, compared against the labeled lang. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(Seq(col("doc_id"), col("lang")) ++
        markers.map { case (l, ws) => hits(ws).as(s"${l}_hits") }: _*)
    // argmax with first-listed-language priority on ties
    val pred = markers.map(_._1).tail.foldLeft((lit(markers.head._1), col(s"${markers.head._1}_hits"))) {
      case ((bestLang, bestHits), l) =>
        val h = col(s"${l}_hits")
        (when(h > bestHits, lit(l)).otherwise(bestLang),
         when(h > bestHits, h).otherwise(bestHits))
    }._1
    scored.withColumn("predicted", pred)
      .withColumn("is_match", (col("predicted") === col("lang")).cast("int"))
  }

  /** Quality scoring: length, punctuation/whitespace ratio, stopword
    * ratio, duplicate-token ratio, and a blended score in [0,1]; the
    * `carry` columns of `docs` pass through unchanged, between the
    * ratios and the score. */
  def quality(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val stop = array(markers.head._2.map(lit): _*) // EN stopwords
    val kept = carry.map(col)
    docs.select(Seq(col("doc_id"), col("text"), toks.as("toks")) ++ kept: _*)
      .select(Seq(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        // chars that are neither alnum nor space, over all chars
        round(length(regexp_replace(lower(col("text")), "[a-z0-9 ]", ""))
          .cast("double") / length(col("text")), 4).as("punct_ratio"),
        round(size(filter(col("toks"), t => array_contains(stop, t)))
          .cast("double") / size(col("toks")), 4).as("stopword_ratio"),
        round(lit(1.0) - size(array_distinct(col("toks")))
          .cast("double") / size(col("toks")), 4).as("dup_ratio")) ++ kept: _*)
      // dup weight is 0.4, not 0.5: a 4dp ratio × 0.4 never produces an
      // exact trailing-5 decimal, so Spark (HALF_UP on the decimal) and
      // DuckDB (round on the binary double) agree at 4dp
      .withColumn("quality_score",
        round(greatest(lit(0.0), lit(1.0)
          - col("punct_ratio") - col("dup_ratio") * 0.4
          - when(col("n_tokens") < 10, 0.5).otherwise(0.0)), 4))
  }

  /** Quality-filter chain (the Gopher-style keep/reject gate a training
    * pipeline runs after scoring): fixed rule order, every rejected doc
    * carries its comma-joined reason list. Pure per-row map on top of
    * [[quality]] — rules are Column predicates, so at 100 TB the whole
    * chain stays one codegen'd projection over the scan. */
  def filterChain(docs: DataFrame): DataFrame = {
    val rules = Seq(
      "too_short"      -> (col("n_tokens") < 20),
      "too_repetitive" -> (col("dup_ratio") > 0.6),
      "no_stopwords"   -> (col("stopword_ratio") === 0.0),
      "low_score"      -> (col("quality_score") < 0.75))
    val reasons = concat_ws(",",
      rules.map { case (n, c) => when(c, lit(n)) }: _*)
    quality(docs).select(
      col("doc_id"),
      (reasons === "").cast("bigint").as("keep"),
      reasons.as("reasons"))
  }

  /** Within-document repetition: the fraction of word 3-gram
    * OCCURRENCES that are repeats of an earlier 3-gram in the same doc
    * (1 - distinct/total). Copy-paste loops and boilerplate stuffing
    * push this toward 1; normal prose stays low. Pure per-row map —
    * the native Shingles expression provides the distinct count, the
    * occurrence count is just len(tokens)-2. */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.functions.Shingles.register(docs.sparkSession)
    docs.select(col("doc_id"),
        Dedup.tokens(col("text")).as("tk"),
        Dedup.shingles(col("text"), n).as("sh"))
      .select(col("doc_id"),
        greatest(size(col("tk")) - (n - 1), lit(0)).cast("bigint").as("n_ngrams"),
        size(col("sh")).cast("bigint").as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 4))
          .otherwise(lit(0.0)))
  }

  /** Unigram NLL quality score (perplexity proxy): per doc, the mean
    * −ln p(token) under the corpus's OWN unigram distribution — high
    * for gibberish (rare tokens), abnormally low for degenerate
    * repetition (a doc made of the corpus's most common tokens).
    * The vocab table is bounded by vocabulary, not corpus, so the
    * per-token logprob attaches map-side via broadcast; the re-agg is
    * ONE doc-keyed shuffle. */
  def unigramNll(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), explode(toks).as("t"))
    val f = tk.groupBy("t").agg(count(lit(1)).as("c")).once("unigramNll.f")
    val tot = f.agg(sum("c").as("tot_toks")) // NOT "T": resolver is case-insensitive vs "t"
    val nll = Scalars.withScalar(f, col("t"), tot, col("tot_toks"))
      .withColumn("nll", -log(col("c").cast("double") / col("tot_toks")))
    tk.join(broadcast(nll.select("t", "nll")), "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), round(avg("nll"), 4).as("avg_nll"))
  }

  /** Bigram LM negative log-likelihood with stupid backoff — the
    * sequential-context step past [[unigramNll]]'s bag-of-words: each
    * token is scored against its PREDECESSOR, p = c₂(prev,w)/c₁(prev)
    * when the TRAIN split saw the bigram, else α·c₁(w)/T (stupid
    * backoff, Brants et al. 2007 — deterministic, no discounting
    * state), with unseen unigrams floored at 1/T. The LM trains on the
    * doc_id lower half and scores EVERYTHING, so held-out documents
    * genuinely exercise the backoff path (training on the full corpus
    * would make c₂ > 0 a tautology and the backoff branch dead code).
    *
    * Scale shape: bigrams come from one lag window partitioned by
    * doc_id (per-doc state distributes); the count tables join back by
    * plain equi-joins on the token keys — the bigram table is
    * corpus-sized, so unlike unigramNll's broadcast this stays a
    * co-keyed shuffle join at 100 TB. The n_backoff column is the
    * model-coverage audit (backoff share rising on a new corpus slice
    * = domain drift). Documents with < 2 tokens have no bigrams and
    * drop out, same as the oracle. NLL values are genuinely continuous
    * (ratios of train counts through ln) — §5's round-4dp class. */
  def bigramNll(docs: DataFrame, alpha: Double = 0.4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tk = docs.select(col("doc_id"), posexplode(toks).as(Seq("pos", "t")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val mid = docs.agg(expr("(max(doc_id)+1) div 2").as("m"))
    val bg = Scalars.withScalar(
        tk.withColumn("prev", lag("t", 1).over(w)).filter(col("prev").isNotNull),
        col("doc_id"), mid, col("m"))
      .once("bigramNll.bg") // feeds train counts and the scoring join
    val trainTk = Scalars.withScalar(tk, col("doc_id"), mid, col("m"))
      .filter(col("doc_id") < col("m"))
    val c1 = trainTk.groupBy("t").agg(count(lit(1)).as("c1"))
      .shared("bigramNll.c1") // prev-denominator AND backoff numerator
    val tot = c1.agg(sum("c1").as("tot_toks"))
    val c2 = bg.filter(col("doc_id") < col("m"))
      .groupBy("prev", "t").agg(count(lit(1)).as("c2"))
    val sc = Scalars.withScalar(
        bg.select("doc_id", "prev", "t")
          .join(c2, Seq("prev", "t"), "left")
          .join(c1.select(col("t").as("prev"), col("c1").as("c1p")),
            Seq("prev"), "left")
          .join(c1.select(col("t"), col("c1").as("c1c")), Seq("t"), "left"),
        col("doc_id"), tot, col("tot_toks"))
      .withColumn("nll",
        when(col("c2").isNotNull, -log(col("c2").cast("double") / col("c1p")))
          .otherwise(-log(lit(alpha) *
            (coalesce(col("c1c"), lit(1L)).cast("double") / col("tot_toks")))))
      .withColumn("bo", when(col("c2").isNull, 1L).otherwise(0L))
    sc.groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum("bo").as("n_backoff"),
        round(avg("nll"), 4).as("avg_nll"))
  }

  /** PII regexes, restricted to the Spark∩DuckDB (Java∩RE2) subset —
    * ASCII classes, bounded repeats, `\b` word boundaries; no
    * lookaround (RE2 has none). Shared verbatim by the engine and the
    * SQL oracle, so the two redactions are byte-identical. */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpRe    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{4}"
  /** Card CANDIDATE class (r15): a bare 16-digit run. A candidate is
    * PII only if it passes the Luhn check — the checksum gate every
    * real card detector applies, because bare digit-run regexes flood
    * redaction with order ids and timestamps. Spark validates with the
    * built-in codegen'd `luhn_check`; the oracle replays the mod-10
    * sum digit by digit ([[luhnCheckDigitSql]]'s fixed-position form),
    * and the injection plants BOTH a valid and an invalid candidate so
    * the gate's two sides are hash-checked, not just spec-asserted. */
  val PiiCardRe  = "\\b\\d{16}\\b"

  /** The 15-digit card body synthesized from doc_id ('4' + 14-digit
    * zero-padded id residue), as SQL shared by both engines modulo the
    * string-type keyword (`STRING` in Spark, `VARCHAR` in DuckDB). */
  def cardBase15Sql(strT: String): String =
    s"'4' || lpad(CAST(doc_id % 100000000 AS $strT), 14, '0')"

  /** Luhn check digit of a 15-digit string expression, as a shared SQL
    * fragment: with the check digit appended at position 16, positions
    * 1,3,…,15 (from the left) sit at even offsets from the right and
    * double (2d − 9 when 2d > 9); the digit closes the sum to 0 mod
    * 10. Pure fixed-position substring arithmetic — identical in both
    * engines, no regex, no float. */
  def luhnCheckDigitSql(s15: String): String = {
    val terms = (1 to 15).map { i =>
      val d = s"CAST(substring($s15, $i, 1) AS INT)"
      if (i % 2 == 1) s"(2*$d - CASE WHEN $d >= 5 THEN 9 ELSE 0 END)" else d
    }
    s"((10 - (${terms.mkString(" + ")}) % 10) % 10)"
  }

  /** Luhn VALIDITY of a 16-digit string expression (the check-digit
    * identity rearranged): true iff the full mod-10 sum lands on 0.
    * Spark uses the built-in `luhn_check` instead; this fragment is
    * the oracle's replay (and they agree by construction on 16-digit
    * inputs). */
  def luhnValid16Sql(s16: String): String = {
    val terms = (1 to 16).map { i =>
      val d = s"CAST(substring($s16, $i, 1) AS INT)"
      if (i % 2 == 1) s"(2*$d - CASE WHEN $d >= 5 THEN 9 ELSE 0 END)" else d
    }
    s"(((${terms.mkString(" + ")}) % 10) = 0)"
  }

  /** The injected Luhn-VALID card: body + its check digit. */
  def cardValidSql(strT: String): String = {
    val b = s"(${cardBase15Sql(strT)})"
    s"$b || CAST(${luhnCheckDigitSql(b)} AS $strT)"
  }

  /** The injected Luhn-INVALID candidate: same body, check digit
    * shifted by 5 mod 10 — guaranteed to fail the gate. */
  def cardInvalidSql(strT: String): String = {
    val b = s"(${cardBase15Sql(strT)})"
    s"$b || CAST((${luhnCheckDigitSql(b)} + 5) % 10 AS $strT)"
  }

  /** The deterministic PII injection (the mm_* fake-payload doctrine:
    * the synthetic corpus carries no digits at all, so the PII a real
    * web crawl would contain is synthesized from doc_id — plumbing
    * real, payload fake, identical expression in the oracle). ~1/3 of
    * docs get an email, ~1/5 an IPv4, ~1/7 a phone number; the
    * divisors are coprime so every presence combination occurs. */
  def piiAugmented(docs: DataFrame): Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 3 === 0, concat(lit(" contact u"), id.cast("string"),
        lit("@example.com now"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" node 10."), (id % 256).cast("string"),
        lit(".0."), (id % 100).cast("string"), lit(" up"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" call +1-555-"),
        lpad((id % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(lit("")),
      // r15: one Luhn-VALID card (~1/11 of docs) and one Luhn-INVALID
      // 16-digit candidate (~1/13) — coprime with 3/5/7, so every
      // class combination occurs AND the Luhn gate's reject side is
      // exercised inside the hash-checked result
      when(id % 11 === 0, concat(lit(" card "),
        expr(cardValidSql("STRING")), lit(" on file"))).otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" ref "),
        expr(cardInvalidSql("STRING")), lit(" noted"))).otherwise(lit("")))
  }

  /** PII scrub audit — the redaction stage every public-web training
    * corpus runs before anything else sees the text (emails, IPv4s,
    * phone numbers → fixed placeholder tokens). Per source: hit counts
    * by kind, docs touched, char mass removed, and `n_residual` — the
    * re-scan of the REDACTED text, which the gated result proves is
    * zero (redaction is verified inside the query, not just asserted
    * in a spec). Pure per-row regex map (codegen'd, zero shuffle)
    * + one |sources|-row rollup: the shape survives 100 TB unchanged,
    * since no corpus-scale state ever crosses a shuffle. */
  def piiScrub(docs: DataFrame): DataFrame =
    piiCounters(docs)
      .withColumn("clean_rate",
        round(lit(1.0) - col("n_docs_pii") / col("n_docs"), 4))

  /** The shared per-doc PII projection: detection counts per class
    * (card candidates Luhn-gated — `card` counts valid ones, `card_rej`
    * the rejected candidates left in place), the redacted text `red`
    * (email → ip → phone regex replaces, then every Luhn-valid card
    * candidate string-replaced with `<CARD>` — the candidate list is
    * ≤ a few entries per doc, extracted once and folded with
    * `aggregate`), chars cut, and the residual re-scan of `red` (valid
    * cards only — a rejected candidate is NOT PII by the gate's own
    * verdict and legitimately survives). All per-row codegen'd work;
    * [[piiCounters]] rolls it up per source and `text_pii_apply`
    * emits it per doc.
    *
    * Card redaction SEMANTICS (ADVICE r15, deliberate): each
    * Luhn-valid candidate is removed by a plain substring replace-all,
    * which ALSO rewrites occurrences of those 16 digits embedded in
    * longer digit runs that the boundary-delimited candidate
    * extraction excluded. That is the intended convention — once a
    * digit string is known to be a valid PAN, every occurrence is
    * sensitive regardless of its neighbors (a PAN glued to a suffix
    * is still that PAN) — and the oracle replays the same
    * replace-all, so the convention is hash-gated, not incidental.
    * A policy wanting match-anchored redaction instead would swap the
    * fold for a position-anchored regexp_replace of the delimited
    * match; `cut`/`resid` accounting would follow it unchanged. */
  private[graft] def piiPerDoc(docs: DataFrame): DataFrame = {
    val aug = piiAugmented(docs)
    val cl3 = regexp_replace(regexp_replace(regexp_replace(aug,
      lit(PiiEmailRe), lit("<EMAIL>")),
      lit(PiiIpRe), lit("<IP>")),
      lit(PiiPhoneRe), lit("<PHONE>"))
    val luhnOk = (c: Column) => call_function("luhn_check", c)
    def valids(c: Column): Column =
      filter(regexp_extract_all(c, lit(PiiCardRe), lit(0)), luhnOk)
    docs
      .select(col("doc_id"), col("source"),
        regexp_count(aug, lit(PiiEmailRe)).cast("bigint").as("e"),
        regexp_count(aug, lit(PiiIpRe)).cast("bigint").as("i"),
        regexp_count(aug, lit(PiiPhoneRe)).cast("bigint").as("p"),
        length(aug).cast("bigint").as("len_aug"),
        regexp_extract_all(cl3, lit(PiiCardRe), lit(0)).as("cands"),
        cl3.as("cl3"))
      .select(col("doc_id"), col("source"), col("e"), col("i"), col("p"),
        col("len_aug"),
        size(filter(col("cands"), luhnOk)).cast("bigint").as("card"),
        (size(col("cands")) - size(filter(col("cands"), luhnOk)))
          .cast("bigint").as("card_rej"),
        aggregate(filter(col("cands"), luhnOk), col("cl3"),
          (acc, c) => call_function("replace", acc, c, lit("<CARD>")))
          .as("red"))
      .select(col("doc_id"), col("source"), col("e"), col("i"), col("p"),
        col("card"), col("card_rej"),
        (col("len_aug") - length(col("red"))).cast("bigint").as("cut"),
        (regexp_count(col("red"), lit(PiiEmailRe)) +
          regexp_count(col("red"), lit(PiiIpRe)) +
          regexp_count(col("red"), lit(PiiPhoneRe)) +
          size(valids(col("red")))).cast("bigint").as("resid"),
        col("red"))
  }

  /** The additive-integer core of [[piiScrub]]: per-source counters
    * only, no derived ratio — so a landing-cadence ingest can fold
    * batch outputs by plain sums (stream_pii_ingest) and re-derive
    * clean_rate at emission. */
  def piiCounters(docs: DataFrame): DataFrame =
    piiPerDoc(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("i") + col("p") + col("card") > 0, 1L)
          .otherwise(0L)).as("n_docs_pii"),
        sum("e").as("n_email"), sum("i").as("n_ip"), sum("p").as("n_phone"),
        sum("card").as("n_card"), sum("card_rej").as("n_card_reject"),
        sum("cut").as("chars_cut"), sum("resid").as("n_residual"))

  /** Winnowing fingerprint via the custom codegen expression
    * [[graft.functions.RollingHash]] (window = 16 bytes), plus an exact
    * full-text md5 for exact-dup grouping at fixed width (md5 rather
    * than xxhash64 so the fingerprint is engine-portable — any system
    * downstream can recompute it). */
  def fingerprints(docs: DataFrame): DataFrame = {
    RollingHash.register(docs.sparkSession)
    docs.select(
      col("doc_id"),
      expr("rolling_hash(text, 16)").as("fp_min16"),
      md5(col("text")).as("fp_full"))
  }
}
