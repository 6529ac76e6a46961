package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Plan audits: asserts the physical plans keep the scale properties the
  * operators promise (single scans, broadcasts only on dims, pushed
  * filters, no cartesian products) — the properties that decide whether
  * the same plan survives 100 TB, checked mechanically every build. */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Formatted explain — unlike executedPlan.toString, scan details
    * (PushedFilters, ReadSchema) are NOT truncated with "...". */
  private def planFull(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("m_multi_grain scans the fact table exactly once") {
    val p = plan("m_multi_grain")
    assert(countOccurrences(p, "orders.parquet") == 1,
      s"expected a single orders scan:\n$p")
  }

  test("q1_pricing pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("q5_snowflake broadcasts only the tiny dims") {
    val p = plan("q5_snowflake")
    val broadcasts = countOccurrences(p, "BroadcastHashJoin")
    assert(broadcasts >= 2, s"nation/region should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected product join:\n$p")
  }

  test("no query plan contains a product join") {
    // ann_bruteforce intentionally crosses a broadcast probe set with the
    // corpus (bounded |probes|·|corpus| work, no shuffle of the big side),
    // and ann_recall embeds that same brute-force pass as its ground
    // truth; everything else — including the funnel's 1-row step counts,
    // which combine via Scalars.withScalar — must plan product-free
    // emb_prefix_recall reuses the same bruteForceTopK probe (twice),
    // and ann_plane_sweep embeds it once as the sweep's ground truth;
    // ann_pq_recall embeds it as the PQ path's ground truth (the PQ
    // search itself — ann_pq — is a bucket equi-join and stays banned)
    // ann_hnsw_recall embeds it as the layered-graph path's ground
    // truth (the hnsw search itself — ann_hnsw — is equi-join only and
    // stays banned; its first hop checkpoints the seed frontier so the
    // entry literal cannot constant-fold into a nested-loop condition)
    // ann_lifecycle_e2e embeds it once as stage 4's re-audit ground
    // truth (every other stage — assignment, drift, decision — is
    // equi-join/aggregate only)
    val exempt = Set("ann_bruteforce", "ann_recall", "emb_prefix_recall",
      "ann_plane_sweep", "ann_pq_recall", "ann_ivfpq_recall",
      "emb_matryoshka_recall", "ann_hnsw_recall", "ann_lifecycle_e2e")
    for ((name, fn) <- SparkEntry.queries ++ SparkEntry.diagnostics
         if !exempt(name)) {
      val p = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a nested-loop join:\n$p")
    }
  }

  test("text analysis plans are shuffle-free per-row maps") {
    for (name <- Seq("text_tokens", "text_quality", "text_langid",
        "text_fingerprint", "text_entropy")) {
      val df = SparkEntry.queries(name)(spark, sf)
      // drop the final presentation orderBy: audit the operator itself
      val core = df.queryExecution.executedPlan.toString
      val shuffles = countOccurrences(core, "Exchange")
      // one range-partition exchange for the output ORDER BY is allowed
      assert(shuffles <= 1, s"$name shuffles more than the output sort:\n$core")
    }
  }

  test("dedup_exact groups on a fixed-width hash key, not raw text") {
    val p = plan("dedup_exact")
    assert(p.contains("sha2"), s"expected sha2 group key:\n$p")
  }

  test("as-of join is one key shuffle + window, not a range join") {
    val p = plan("events_asof")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not degenerate to a product join:\n$p")
    assert(p.contains("Window"), s"expected the fill window:\n$p")
    // events + orders scans, union, ONE hashpartitioning(user_id) for the
    // window, one range partition for the output sort (+ AQE reads)
    assert(countOccurrences(p, "hashpartitioning") <= 2,
      s"too many key shuffles:\n$p")
  }

  test("ngram top-k is a partial top-k, not a global sort") {
    val p = plan("text_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n$p")
  }

  test("funnel consumes each materialized step once — no events rescans") {
    // the step tables are localCheckpointed; the final plan must read
    // those RDDs, never re-scan events per consumer (the step scans
    // themselves push EqualTo(event_type,...) — audited via Explain)
    val p = plan("events_funnel")
    assert(countOccurrences(p, "events.parquet") == 0,
      s"step tables must be materialized once:\n$p")
  }

  test("bm25 reads the corpus once via its materialized postings; top-k prunes map-side") {
    // the corpus tf table is localCheckpointed and feeds df, document
    // lengths AND the posting join — so the only documents scan left
    // in the plan is the QUERY side's (with its doc_id filter pushed);
    // the per-query ranking must be a WindowGroupLimit partial top-k,
    // not a global sort
    val p = plan("text_bm25_topk")
    assert(countOccurrences(p, "documents.parquet") == 1,
      s"expected exactly the query-side scan:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must prune map-side:\n$p")
  }

  test("tf-idf cosine consumes materialized weighted postings — no corpus rescans") {
    // tf and the capped weighted posting table are localCheckpointed:
    // the pair self-join's two sides and the norm aggregate all read
    // the SAME materialized RDD, so the executed plan re-scans the
    // corpus zero times (the checkpoint builds cost the one real scan)
    val p = plan("dedup_tfidf_cosine")
    assert(countOccurrences(p, "documents.parquet") == 0,
      s"weighted postings must be materialized once:\n$p")
  }

  test("retention consumes its materialized cohort aggregate once") {
    // the cohort table is localCheckpointed, so the executed plan must
    // read the materialized RDD — zero orders.parquet rescans (the
    // checkpoint's own build, audited via Explain, costs the 2 scans)
    val p = plan("m_retention")
    assert(countOccurrences(p, "orders.parquet") == 0,
      s"cohort aggregate must be materialized once:\n$p")
  }

  test("sketch distinct pre-aggregates: one fact scan for day->month rollup") {
    val p = plan("m_sketch_distinct")
    assert(countOccurrences(p, "orders.parquet") == 1,
      s"sketch rollup must not rescan the fact table:\n$p")
  }

  test("range join stays an equi-join on hour buckets: no BNLJ, one events scan per side") {
    val p = plan("events_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bucketed range join must not degenerate to a product join:\n$p")
    // signup side + error side: exactly one pushed-filter scan each
    assert(countOccurrences(p, "events.parquet") == 2,
      s"expected one events scan per join side:\n$p")
  }

  test("per-group top-k prunes map-side via WindowGroupLimit, one key shuffle") {
    for (name <- Seq("q_topn_per_group", "sample_stratified")) {
      val p = plan(name)
      // rank-limit pushdown: Partial WindowGroupLimit before the
      // exchange (per-partition top-k prune), Final after — so the
      // low-cardinality group window never sorts a whole group
      assert(p.contains(", Partial") && p.contains(", Final"),
        s"$name missing the Partial/Final WindowGroupLimit pair:\n$p")
      assert(countOccurrences(p, "WindowGroupLimit") == 2,
        s"$name should prune exactly twice (partial then final):\n$p")
      assert(countOccurrences(p, "hashpartitioning") == 1,
        s"$name should shuffle on the group key exactly once:\n$p")
    }
  }

  test("bloom semi join scans its build side exactly once") {
    // the projected build keys are localCheckpointed before feeding both
    // the bloom aggregate and the exact verify join — the final plan
    // reads the materialized RDD, never a fresh orders scan (the
    // checkpoint's own build, outside this plan, costs the one scan)
    val p = plan("bloom_semi_join")
    assert(countOccurrences(p, "orders.parquet") == 0,
      s"build side must come from the checkpoint:\n$p")
    assert(countOccurrences(p, "lineitem.parquet") == 1,
      s"probe side scans once:\n$p")
  }

  test("bucketed fact join runs with zero exchange on either join side") {
    // at test scale the planner rightly broadcasts the tiny orders
    // side; disable auto-broadcast to reveal the big-x-big shape the
    // bucketing exists for (both sides fact-sized at 100 TB)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q_bucketed_join")
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      // the ONLY exchanges allowed are the post-join aggregate's and
      // the output sort's — never a hashpartitioning on the join key
      assert(!p.contains("hashpartitioning(o_orderkey") &&
             !p.contains("hashpartitioning(l_orderkey"),
        s"join sides must be co-located by bucketing, not shuffled:\n$p")
      assert(p.contains("Bucketed: true"), s"scan should report bucketed reads:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition-pruned scan opens exactly one date directory") {
    val df = SparkEntry.queries("q_partition_pruned")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(event_date") &&
           p.contains("(event_date#"),
      s"day filter must resolve against partition values:\n$p")
    // ask the scan node itself how many partition directories survived
    val scan = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(scan.selectedPartitions.partitionCount == 1,
      s"exactly one partition directory should be read, " +
        s"got ${scan.selectedPartitions.partitionCount}")
  }

  test("dpp join prunes fact partitions through the dim's runtime filter") {
    val p = plan("q_dpp_join")
    assert(p.contains("dynamicpruningexpression"),
      s"fact scan should carry a dynamic pruning subquery:\n$p")
  }

  test("contamination broadcasts the benchmark postings, equi-join on shingle") {
    val p = plan("contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side should broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must stay a posting equi-join:\n$p")
  }

  test("rollup computes all grouping sets from a single scan") {
    val p = plan("q_rollup")
    assert(countOccurrences(p, "lineitem.parquet") == 1,
      s"rollup must not rescan per level:\n$p")
    assert(p.contains("Expand"), s"expected grouping-sets Expand:\n$p")
  }

  test("cube computes all four grouping sets from a single scan") {
    val p = plan("q_cube")
    assert(countOccurrences(p, "lineitem.parquet") == 1,
      s"cube must not rescan per level:\n$p")
    assert(p.contains("Expand"), s"expected grouping-sets Expand:\n$p")
  }

  test("q19 pushes the inferred disjunctive filters into BOTH scans") {
    // Catalyst must extract the implied per-side predicates from the
    // OR-of-ANDs bracket condition: a quantity disjunction on the
    // lineitem scan AND a brand/size disjunction on the part scan —
    // otherwise the join filters raw scans at 100 TB.
    val p = planFull("q19_brackets")
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"lineitem scan missing inferred quantity pushdown:\n$p")
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      s"part scan missing inferred brand/size pushdown:\n$p")
  }

  test("q10 is a partial top-k with pushed quarter and returnflag filters") {
    val p = planFull("q10_returns")
    assert(p.contains("TakeOrderedAndProject"), s"expected partial top-k:\n$p")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag not pushed to the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"quarter window not pushed to the orders scan:\n$p")
  }

  test("q6 is a zero-join single-scan aggregate with pushed ranges") {
    val p = planFull("q6_forecast")
    // formatted explain names each scan once in the tree and once in
    // the detail section — one scan == exactly two mentions
    assert(countOccurrences(p, "Scan parquet") == 2, s"expected one scan:\n$p")
    assert(!p.contains("Join"), s"q6 must not join:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"range predicates not pushed:\n$p")
  }

  test("active-users day-explode never explodes raw events") {
    // the ×7 explode must sit ABOVE the (user, day) dedup aggregate:
    // plan order is scan → partial/final distinct agg → generate →
    // final count-distinct. One events scan; the Generate's child chain
    // must already contain the first HashAggregate pair.
    val p = plan("m_active_users_7d")
    assert(countOccurrences(p, "events.parquet") == 0,
      s"deduped user-day table must be materialized once (checkpoint):\n$p")
    assert(p.contains("Generate explode"), s"expected bounded day explode:\n$p")
  }

  test("q15 attaches the max via broadcast hash join, not a product join") {
    val p = plan("q15_top_supplier")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scalar attach must not be a product join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected degenerate-key BHJ:\n$p")
  }

  test("hash split is a zero-shuffle per-row map + tiny aggregate") {
    val p = plan("sample_hash_split")
    // one exchange for the 3-key aggregate, one range partition for the
    // output sort — nothing else
    assert(countOccurrences(p, "Exchange") <= 2,
      s"split assignment must not shuffle rows:\n$p")
    assert(p.contains("graft_hash64"), s"expected portable hash expr:\n$p")
  }

  test("sketch_topk_mg reduces via bounded partials, never a global count sort") {
    val p = plan("sketch_topk_mg")
    // one exchange for the per-user count, one single-partition pass of
    // the ≤(k+1)-pair topk_agg partials, one range partition for the
    // ≤k-row output sort — and no Sort/TakeOrdered over the full count
    // table (the whole point of the bounded reduction)
    assert(countOccurrences(p, "Exchange") <= 3,
      s"mg summary must reduce via ≤(k+1)-pair partials:\n$p")
    assert(!p.contains("TakeOrderedAndProject"),
      s"top-k must come from the bounded aggregate, not a sort:\n$p")
    assert(p.contains("topk_agg"), s"expected the bounded aggregate:\n$p")
  }

  test("global rank's only single-partition exchange is the block-offset table") {
    // the raw rows rank inside value-range blocks; only the bounded
    // one-row-per-block offset table may pass through SinglePartition
    val p = plan("rank_global")
    assert(countOccurrences(p, "Exchange SinglePartition") == 1,
      s"expected exactly the bounded offsets single-partition window:\n$p")
    assert(countOccurrences(p, "documents.parquet") == 2,
      s"two source scans (blocks + offsets), never a materialization:\n$p")
  }

  test("late audit's only single-partition exchange is the block-prefix table") {
    // runningMax is the prefix-MAX twin of globalRank: raw events run
    // their max inside event_id blocks; only the one-row-per-block
    // prefix table may pass through SinglePartition (the tiny 4-row
    // delay aggregate coalesces under AQE without a dedicated
    // single-partition exchange)
    val p = plan("events_late_audit")
    assert(countOccurrences(p, "Exchange SinglePartition") <= 2,
      s"raw rows must never sort in one task:\n$p")
    assert(countOccurrences(p, "events.parquet") == 2,
      s"two source scans (rows + block maxima), never a materialization:\n$p")
  }

  test("mm_phash is a shuffle-free per-row map") {
    val p = plan("mm_phash")
    // one range exchange for the output ORDER BY is allowed
    assert(countOccurrences(p, "Exchange") <= 1,
      s"the aHash must not shuffle:\n$p")
  }

  test("q2 decorrelates to one fact scan + a partkey window, no rescan") {
    val p = plan("q2_min_cost")
    assert(countOccurrences(p, "lineitem.parquet") == 1,
      s"the correlated-min decorrelation must not rescan the fact:\n$p")
    assert(p.contains("Window"), s"expected the per-part window min:\n$p")
  }

  test("q16 deduplicates (part, supplier) pairs in one fact scan") {
    val p = plan("q16_parts")
    assert(countOccurrences(p, "lineitem.parquet") == 1,
      s"pair dedup + distinct count must share one scan:\n$p")
  }

  test("q20 re-aggregates per-part totals from materialized partials") {
    // ps is localCheckpointed; both the totals and the share filter must
    // consume it — the executed plan may not touch the fact source again
    val p = plan("q20_excess")
    assert(countOccurrences(p, "lineitem.parquet") == 0,
      s"per-part totals must come from the checkpointed partials:\n$p")
  }

  test("injected rule rewrites a scalar crossJoin to an auditable hash join") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Tables.nation(spark, sf)
    val one = df.agg(max("n_nationkey").as("mx"))
    val joined = df.crossJoin(one)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"RewriteScalarCrossJoin did not fire:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join shape:\n$p")
    // semantics: every row gets the scalar, none duplicated or dropped
    assert(joined.count() == df.count())
    assert(joined.select("mx").distinct().count() == 1)
    // a >1-row build side must NOT be rewritten (it is a real product)
    val two = df.limit(2)
    val p2 = df.crossJoin(two).queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastNestedLoopJoin") || p2.contains("CartesianProduct"),
      s"rule over-applied to a multi-row side:\n$p2")
  }

  test("temperature mixes fold quotas from one materialized corpus aggregate") {
    // the per-source table is localCheckpointed once; the totals and
    // the quota rows both consume it — the final plan must not touch
    // the corpus again, and the per-α totals attach as a broadcast
    // equi-join (3-row dim / degenerate scalar key), never a product
    for (name <- Seq("corpus_temperature_mix", "corpus_mix_alpha_sweep")) {
      val p = plan(name)
      assert(countOccurrences(p, "documents.parquet") == 0,
        s"$name must fold quotas from the checkpointed per-source table:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name totals must attach via broadcast hash join:\n$p")
    }
  }

  test("co-occurrence self-joins the materialized user-day dedup, not raw events") {
    val p = plan("events_cooccurrence")
    assert(countOccurrences(p, "events.parquet") == 0,
      s"both join sides must read the checkpointed dedup table:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair expansion must stay a key equi-join:\n$p")
  }

  test("z-order layout audit derives both layouts from one orders scan") {
    val p = plan("q_zorder_layout")
    assert(countOccurrences(p, "orders.parquet") == 2, // rows + the scalar agg
      s"one row-side scan plus one bounds-side scan:\n$p")
  }

  test("session-gap sweep is one lag pass — the 3-threshold sweep adds no scan") {
    val p = plan("events_session_gap_sweep")
    assert(countOccurrences(p, "events.parquet") == 2, // gaps + the count scalar
      s"the sweep must explode one gap column, not rescan per threshold:\n$p")
    assert(countOccurrences(p, "Window") == 1,
      s"exactly one lag window:\n$p")
  }

  test("skyline reduces on one part scan and never sorts raw rows globally") {
    // the per-price aggregate is checkpointed (runningMax consumes it
    // twice), so the final plan must not touch part at all — and the
    // frontier pick must stay a broadcast equi-join, never a product
    val p = plan("q_skyline")
    assert(countOccurrences(p, "part.parquet") == 0,
      s"both runningMax branches must read the checkpointed aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin"),
      s"block-prefix attach must be a broadcast equi-join:\n$p")
  }

  test("A/B readout aggregates users once; all experiment math is post-aggregate") {
    // the 2-row arm table is checkpointed before fan-out — the final
    // plan does all experiment arithmetic without re-touching events
    val p = plan("events_ab_readout")
    assert(countOccurrences(p, "events.parquet") == 0,
      s"experiment math must consume the checkpointed arm table:\n$p")
  }

  test("README operator/spec counts match the code (anti-rot pin)") {
    // VERDICT r12 item 3: README's counts went stale two rounds running
    // (334→336→340). This pin makes the rot a test failure: the
    // "N named operators" line must equal SparkEntry.queries.size, and
    // the "N specs" line must equal the number of test registrations
    // in src/test (counted the way the suites declare them — a `test(`
    // call at standard indentation).
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val opClaim = "— (\\d+) named operators".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    assert(opClaim.contains(SparkEntry.queries.size),
      s"README claims $opClaim operators; code has ${SparkEntry.queries.size}")
    val specClaim = "# (\\d+) specs".r
      .findFirstMatchIn(readme).map(_.group(1).toInt)
    // trimmed-prefix match (ADVICE r13): a registration at non-standard
    // indentation (nested block, refactored suite) must still count
    val testDir = java.nio.file.Paths.get("src/test/scala/graft")
    val stream = java.nio.file.Files.list(testDir)
    val registered =
      try stream.toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".scala"))
        .map(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.count { l =>
            val t = l.trim
            t.startsWith("test(\"") || t.startsWith("property(\"")
          })
        .sum
      finally stream.close()
    assert(specClaim.contains(registered),
      s"README claims $specClaim specs; src/test registers $registered")
    // every gated query has an oracle, and no oracle is orphaned —
    // the invariant the driver's 3-way key cross-check relies on
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet,
      "queries/oracleSql key sets diverged: " +
        s"missing=${SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)} " +
        s"extra=${SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)}")
    assert(SparkEntry.diagnostics.keySet == SparkEntry.diagnosticsOracle.keySet)
  }

  test("PlanBarrier.cut pins loop-carried stats to the default across 25 self-join rounds") {
    // Regression pin for the r12 driver-time fix (VERDICT r12 item 6):
    // stock localCheckpoint preserves originStats, and a self-join in
    // an iterative loop then SQUARES the carried sizeInBytes per round
    // — BigInteger digits double each iteration and plan build grows
    // geometrically (measured 0.4s → 78s between CC rounds 15 and 22).
    // The contract: after cut, the carried plan's estimate is exactly
    // the session default, EVERY round, so per-round planning cost
    // cannot depend on the iteration count. 25 rounds ≈ the deepest
    // loop any operator here runs (CC round budget).
    import org.apache.spark.sql.functions._
    val default = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    import graft.ops.PlanBarrier.Barrier
    var t = spark.range(0, 64).toDF("id").withColumn("v", col("id") * 7L)
      .cut("plan_spec.seed")
    for (round <- 1 to 25) {
      val other = t.select(col("id"), col("v").as("v2"))
      t = t.join(other, "id").select(col("id"),
          greatest(col("v"), col("v2")).as("v")).cut("plan_spec.round")
      val stats = t.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(stats == default,
        s"round $round carried stats $stats != default $default — " +
          "the stats-reset barrier regressed (geometric plan-build risk)")
    }
    // the loop still computes the right thing through 25 barriers
    assert(t.agg(max("v")).head().getLong(0) == 63L * 7L)
    // contrast pin: WITHOUT the barrier, one self-join already
    // compounds the estimate past the default — proving the assertion
    // above actually discriminates (guards against a future Spark
    // version silently changing what localCheckpoint preserves); `once`
    // keeps the plan's statistics as localCheckpoint does
    val plain = spark.range(0, 64).toDF("id").once("plan_spec.plain")
    val joined = plain.join(plain.select(col("id")), "id")
    assert(joined.queryExecution.optimizedPlan.stats.sizeInBytes != default,
      "self-join stats unexpectedly equal the default; the contrast pin " +
        "needs re-deriving for this Spark version")
  }
}
