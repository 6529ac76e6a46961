package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.metrics.{MetricCompiler => MC, MetricDef, MetricFilter}
import graft.sources.Tables
import graft.ops.PlanBarrier.Barrier

/** §2 items 1-12: the reference's metric semantics, executed.
  *
  * Each entry returns a DataFrame whose column names, float rounding
  * (sums→2dp, avgs/ratios→4dp) and ORDER BY exactly match its DuckDB
  * oracle in [[MetricQueries.oracle]].
  */
object MetricQueries {

  private def ordersRevenue = MetricDef("total_revenue", "sum", "o_totalprice", Some("o_orderdate"))

  /** Benford first-digit expectations log₁₀(1+1/d), quantized ONCE to
    * ×10⁶ so engine and oracle share the exact same integers (the
    * events_ab_sprt constant-sharing pattern). */
  private val benfordU6: IndexedSeq[Long] =
    (1 to 9).map(d => Math.round(math.log10(1.0 + 1.0 / d) * 1e6))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m_simple_sum" -> ((s, dir) => {
      MC.simple(Tables.orders(s, dir), ordersRevenue, Some("month"))
        .select(col("period"), round(col("total_revenue"), 2).as("total_revenue"))
        .orderBy("period")
    }),

    "m_simple_count" -> ((s, dir) => {
      val m = MetricDef("n_items", "count", "l_orderkey", Some("l_shipdate"),
        dimensions = Seq("l_returnflag"))
      MC.simple(Tables.lineitem(s, dir), m, Some("day"))
        .orderBy("period", "l_returnflag")
    }),

    "m_count_distinct" -> ((s, dir) => {
      val m = MetricDef("customer_count", "count_distinct", "o_custkey", Some("o_orderdate"))
      MC.simple(Tables.orders(s, dir), m, Some("month")).orderBy("period")
    }),

    "m_average_filtered" -> ((s, dir) => {
      val m = MetricDef("avg_order_value", "average", "o_totalprice", Some("o_orderdate"),
        filters = Seq(MetricFilter("o_totalprice", ">", "0"),
                      MetricFilter("o_orderstatus", "=", "'F'")))
      MC.simple(Tables.orders(s, dir), m, Some("month"))
        .select(col("period"), round(col("avg_order_value"), 4).as("avg_order_value"))
        .orderBy("period")
    }),

    "m_min_max" -> ((s, dir) => {
      val shape = MetricDef("shape", "min", "o_totalprice", dimensions = Seq("o_orderpriority"))
      MC.fused(Tables.orders(s, dir), shape, Seq(
        MetricDef("min_order", "min", "o_totalprice"),
        MetricDef("max_order", "max", "o_totalprice"),
        MetricDef("n_orders", "count", "o_orderkey")), None)
        .orderBy("o_orderpriority")
    }),

    "m_median" -> ((s, dir) => {
      val shape = MetricDef("shape", "median", "l_quantity", dimensions = Seq("l_returnflag"))
      MC.fused(Tables.lineitem(s, dir), shape, Seq(
        MetricDef("med_qty", "median", "l_quantity"),
        MetricDef("med_price", "median", "l_extendedprice")), None)
        .select(col("l_returnflag"), round(col("med_qty"), 4).as("med_qty"),
          round(col("med_price"), 4).as("med_price"))
        .orderBy("l_returnflag")
    }),

    "m_ratio" -> ((s, dir) => {
      val num = MetricDef("return_revenue", "sum", "l_extendedprice", Some("l_shipdate"),
        filters = Seq(MetricFilter("l_returnflag", "=", "'R'")))
      val den = MetricDef("gross_revenue", "sum", "l_extendedprice", Some("l_shipdate"))
      MC.ratio(Tables.lineitem(s, dir), "return_rate", num, den, Some("month"))
        // the compiler's double ratio is replaced for EMISSION by the §5
        // integer half-up form: both sums are 2dp-quantized, so exact
        // cents are recoverable from the double sums (same error bound
        // that makes round(sum,2) safe makes round(sum*100) exact)
        .withColumn("rc", Exact.cents(col("return_revenue")))
        .withColumn("gc", Exact.cents(col("gross_revenue")))
        .select(col("period"),
          round(col("return_revenue"), 2).as("return_revenue"),
          round(col("gross_revenue"), 2).as("gross_revenue"),
          // r10: BIGINT 1e-4-unit rate — the `(div)/10⁴.0` double shape
          // was the common factor of every r9 driver-gate red
          when(col("gc") =!= 0,
            expr("(2*rc*10000 + gc) div (2*gc)")).as("return_rate_u4"))
        .orderBy("period")
    }),

    // WILSON SCORE INTERVAL around the monthly return rate — the
    // uncertainty m_ratio's point estimate hides: a 2%-return month on
    // 50 items and one on 50 000 items are different claims, and the
    // Wilson interval (1927 — the score-test inversion that behaves at
    // the 0/1 boundaries where the Wald ±z√(p̂q̂/n) collapses) prices
    // that in. The COUNT rate here is a true binomial (each line item
    // returns or not), unlike m_ratio's revenue-weighted ratio. The
    // point rate is emitted as the §5 half-up u4 BIGINT; the interval
    // bounds are genuinely continuous (sqrt of integer-derived
    // doubles) — round-4dp class, every float subexpression composed
    // identically in the oracle with literals forced to DOUBLE.
    "m_rate_wilson" -> ((s, dir) => {
      val z = lit(1.96)
      val z2 = z * z
      val m = Tables.lineitem(s, dir)
        .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("period"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      val nd = col("n_items").cast("double")
      val ph = col("n_returned").cast("double") / col("n_items")
      val den = lit(1.0) + z2 / nd
      val ctr = ph + z2 / (nd * lit(2.0))
      val mar = z * sqrt(ph * (lit(1.0) - ph) / nd + z2 / (nd * nd * lit(4.0)))
      m.select(col("period"), col("n_items"), col("n_returned"),
          expr("(2*n_returned*10000 + n_items) div (2*n_items)").as("rate_u4"),
          round((ctr - mar) / den, 4).as("wilson_lo"),
          round((ctr + mar) / den, 4).as("wilson_hi"))
        .orderBy("period")
    }),

    "m_derived" -> ((s, dir) => {
      // the measures are defined in exact integer units (1e-4 / 1e-6 $ —
      // §5 doctrine: a float product sum sits on the round(·,2) boundary
      // structurally), and the derived expression composes them in
      // integer space: tax_u6 = charged_u6 − gross_u4·100
      val gross = MetricDef("gross_revenue", "sum",
        "CAST(round(l_extendedprice*100) * (100 - round(l_discount*100)) AS DECIMAL(38,0))",
        Some("l_shipdate"))
      val charged = MetricDef("charged_revenue", "sum",
        "CAST(round(l_extendedprice*100) * (100 - round(l_discount*100)) * (100 + round(l_tax*100)) AS DECIMAL(38,0))",
        Some("l_shipdate"))
      MC.derived(Tables.lineitem(s, dir), "tax_paid",
        "charged_revenue - gross_revenue * 100",
        Seq(gross, charged), Some("month"))
        .select(col("period"),
          Exact.u4Dollars(col("gross_revenue")).as("gross_revenue"),
          Exact.u6Dollars(col("tax_paid")).as("tax_paid"))
        .orderBy("period")
    }),

    "m_cumulative" -> ((s, dir) => {
      val m = MetricDef("monthly_revenue", "sum", "o_totalprice", Some("o_orderdate"))
      MC.cumulative(Tables.orders(s, dir), m, "month", None, Some("cumulative_revenue"))
        .select(col("period"),
          round(col("monthly_revenue"), 2).as("monthly_revenue"),
          round(col("cumulative_revenue"), 2).as("cumulative_revenue"))
        .orderBy("period")
    }),

    "m_cumulative_window" -> ((s, dir) => {
      val m = MetricDef("monthly_revenue", "sum", "o_totalprice", Some("o_orderdate"),
        dimensions = Seq("o_orderpriority"))
      MC.cumulative(Tables.orders(s, dir), m, "month", trailing = Some(3),
        cumName = Some("trailing3_avg"), cumAgg = "avg")
        .select(col("period"), col("o_orderpriority"),
          round(col("monthly_revenue"), 2).as("monthly_revenue"),
          round(col("trailing3_avg"), 4).as("trailing3_avg"))
        .orderBy("period", "o_orderpriority")
    }),

    "m_multi_grain" -> ((s, dir) => {
      MC.multiGrain(Tables.orders(s, dir), ordersRevenue, Seq("week", "quarter"))
        .select(col("grain"), col("period"), round(col("total_revenue"), 2).as("total_revenue"))
        .orderBy("grain", "period")
    }),

    // sub-day grain: periodCol keeps TIMESTAMP below day (no date cast)
    "m_hourly_events" -> ((s, dir) => {
      val m = MetricDef("n_events", "count", "event_id", Some("ts"),
        dimensions = Seq("event_type"))
      MC.simple(Tables.events(s, dir), m, Some("hour"))
        .orderBy("period", "event_type")
    }),

    // cohort retention: cohort = month of a customer's first order;
    // count distinct customers per (cohort, months-since). Two shuffles
    // on o_custkey (first-order agg + join back, co-partitioned by AQE)
    // then one small agg — never a window over raw orders.
    "m_retention" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
      val f = o.groupBy("o_custkey").agg(min("m").as("cohort"))
      // the aggregated cohort table is tiny (cohorts × months) and feeds
      // BOTH the result and the sizes self-join — materialize it once or
      // the whole two-shuffle chain above re-executes per consumer
      // (plan audit: 4 fact scans without this, 2 with)
      val r = o.join(f, "o_custkey")
        .groupBy(col("cohort"),
          months_between(col("m"), col("cohort")).cast("bigint").as("months_since"))
        .agg(countDistinct("o_custkey").as("n_customers"))
        .once("m_retention.r")
      // cohort size = the months_since=0 row (every member's first order
      // is in the cohort month by construction); aliased join columns —
      // a raw self-join of the same aggregate resolves trivially true
      val sizes = r.filter(col("months_since") === 0)
        .select(col("cohort").as("size_cohort"), col("n_customers").as("cohort_size"))
      r.join(sizes, r("cohort") === sizes("size_cohort"))
        .select(col("cohort").cast("date").as("cohort"), col("months_since"),
          col("n_customers"),
          (col("n_customers").cast("double") / col("cohort_size")).as("retention"))
        .orderBy("cohort", "months_since")
    }),

    // COHORT LTV TRIANGLE: cumulative revenue per cohort member by
    // months-since-acquisition — the curve that prices an acquisition
    // channel. Same two-shuffle shape as m_retention (fact → (cohort,
    // month) cells, checkpointed once); the running sum is windowed
    // PER COHORT (bounded partitions), never globally, and both
    // engines accumulate the 2dp cell values in identical months
    // order so the doubles agree bit-for-bit.
    "m_cohort_ltv" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"),
          col("o_totalprice"))
      val f = o.groupBy("o_custkey").agg(min("m").as("cohort"))
      val r = o.join(f, "o_custkey")
        .groupBy(col("cohort"),
          months_between(col("m"), col("cohort")).cast("bigint").as("months_since"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          countDistinct("o_custkey").as("n_active"))
        .once("m_cohort_ltv.r") // feeds both the cells and the sizes self-join
      val sizes = r.filter(col("months_since") === 0)
        .select(col("cohort").as("size_cohort"), col("n_active").as("cohort_size"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(r("cohort")).orderBy("months_since")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      r.join(sizes, r("cohort") === sizes("size_cohort"))
        .withColumn("cum_revenue", round(sum(col("revenue")).over(wc), 2))
        .select(r("cohort").cast("date").as("cohort"), col("months_since"),
          col("n_active"), col("revenue"), col("cum_revenue"),
          (col("cum_revenue") / col("cohort_size")).as("ltv_per_cust"))
        .orderBy("cohort", "months_since")
    }),

    // trailing-7-day distinct users per day — a query exact
    // count_distinct cannot pre-aggregate (overlapping windows would
    // need the full per-window user sets). The mergeable HLL state
    // makes it one day-grain sketch pass + a map-side explode of each
    // day's state to the ≤7 windows it serves (an equi-shuffle, never
    // an interval nested loop), + a semi-join to real data days.
    "m_sliding_distinct" -> ((s, dir) => {
      val (b, r) = graft.ops.HllSketch.bucketRho(s, col("user_id"))
      val daily = Tables.events(s, dir)
        .select(to_date(col("ts")).as("d"), b, r)
        .groupBy("d", "bucket").agg(max("rho").as("rho"))
        .once("m_sliding_distinct.daily")
      val days = daily.select(col("d").as("win_end")).distinct()
      val win = daily
        .select(explode(sequence(col("d"), date_add(col("d"), 6))).as("win_end"),
          col("bucket"), col("rho"))
        .join(days, Seq("win_end"), "left_semi")
        .groupBy("win_end", "bucket").agg(max("rho").as("rho"))
      graft.ops.HllSketch.estimate(win, Seq("win_end"))
        .withColumnRenamed("est", "est_users_7d")
        .orderBy("win_end")
    }),

    // EXACT DISTRIBUTED PERCENTILES: the value at rank ceil(q·n) under
    // a total order — computed via the two-level range-partitioned
    // rank (globalRankByRange), never a single-task sort; the three
    // rank targets are INTEGER arithmetic (qn·n + qd − 1) div qd, so
    // no float quantile definition can diverge between engines. This
    // is the exact counterpart to m_percentiles' approx path and
    // m_histo_percentiles' mergeable-histogram path.
    "m_exact_percentiles" -> ((s, dir) => {
      import s.implicits._
      val t = Tables.lineitem(s, dir).select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
          col("l_extendedprice").as("v"))
        .withColumn("vneg", -col("v"))
      // globalRankByRange eagerly pins its range exchange internally
      // (see Rank.scala) — the scalar-n subquery and the probe join
      // both read that one materialization
      val ranked = graft.ops.Rank.globalRankByRange(t, "vneg", "rid", 64)
      val n = ranked.agg(count(lit(1)).as("n"))
      val targets = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
        .toDF("pct", "qn", "qd")
      val tr = graft.ops.Scalars.withScalar(targets, col("qn"), n, col("n"))
        .withColumn("target", expr("(qn * n + qd - 1) div qd"))
      ranked.join(broadcast(tr), col("rnk") === col("target"))
        .select(col("pct"), col("rnk"), col("n"), col("v").as("value"))
        .orderBy("pct")
    }),

    // ACTIVITY HEATMAP: event volume per (ISO weekday, hour-of-day)
    // cell — the 7×24 ops-dashboard grid. One shuffle on a bounded
    // 168-cell key space.
    "m_activity_heatmap" -> ((s, dir) =>
      Tables.events(s, dir)
        .select((expr("weekday(ts)") + 1).cast("bigint").as("isodow"),
          hour(col("ts")).cast("bigint").as("hod"))
        .groupBy("isodow", "hod").agg(count(lit(1)).as("n_events"))
        .orderBy("isodow", "hod")),

    // STICKINESS (DAU/WAU): the engagement-frequency ratio product
    // teams steer by. Reuses the m_active_users_7d trailing-window
    // explode (constant 7-day fan-out, semi-joined to observed days —
    // no range self-join of the fact table).
    "m_stickiness" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .shared("m_stickiness.ud") // feeds DAU, the day dim, and WAU
      val dau = ud.groupBy("day").agg(count_distinct(col("user_id")).as("dau"))
      val days = ud.select(col("day").as("wday")).distinct()
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
        .join(broadcast(days), Seq("wday"), "left_semi")
        .groupBy("wday").agg(count_distinct(col("user_id")).as("wau"))
      dau.join(wau, dau("day") === wau("wday"))
        .select(col("day"), col("dau"), col("wau"),
          (col("dau") / col("wau")).as("stickiness"))
        .orderBy("day")
    }),

    // DAY-OF-WEEK SEASONALITY: the weekly demand profile — order count,
    // revenue, and each ISO weekday's share of total. One shuffle; the
    // share window runs over the bounded 7-row weekday table.
    "m_seasonality" -> ((s, dir) => {
      val byDow = Tables.orders(s, dir)
        .select((expr("weekday(o_orderdate)") + 1).cast("bigint").as("isodow"),
          col("o_totalprice"))
        .groupBy("isodow")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      byDow
        .withColumn("rev_share", round(col("revenue") / sum("revenue").over(w), 4))
        .orderBy("isodow")
    }),

    // HLL SET ALGEBRA: overlap of two user populations (clickers vs
    // purchasers) without ever materializing either set. Union state
    // is a max-merge of the two sides' (bucket, rho) states — the
    // algebra exact distinct sets can't do without a full shuffle of
    // both key sets — and |A∩B| falls out by inclusion–exclusion on
    // the three estimates. All state is 2·m + m rows; the only
    // full-data pass is the per-side sketch build.
    "m_sketch_overlap" -> ((s, dir) => {
      val (b, r) = graft.ops.HllSketch.bucketRho(s, col("user_id"))
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("side"), b, r)
        .groupBy("side", "bucket").agg(max("rho").as("rho"))
        .once("m_sketch_overlap.e") // feeds both per-side and union state
      val union = e.groupBy("bucket").agg(max("rho").as("rho"))
        .withColumn("side", lit("union"))
      val est = graft.ops.HllSketch.estimate(
        e.unionByName(union.select("side", "bucket", "rho")), Seq("side"))
      est.agg(
          max(when(col("side") === "click", col("est"))).as("est_click"),
          max(when(col("side") === "purchase", col("est"))).as("est_purchase"),
          max(when(col("side") === "union", col("est"))).as("est_union"))
        .withColumn("est_overlap",
          greatest(lit(0L), col("est_click") + col("est_purchase") - col("est_union")))
    }),

    // KMV/theta-sketch NATIVE set intersection — the estimator
    // m_sketch_overlap's HLL inclusion–exclusion cannot give: HLL only
    // unions, so |A∩B| falls out as a DIFFERENCE of three noisy
    // estimates (error grows as the overlap shrinks); a KMV sketch
    // (k smallest hash values per side) supports intersection
    // DIRECTLY — θ = min over sides of the k-th smallest hash (W when
    // a side has < k values: the sketch IS the set, exact mode), the
    // candidates are hashes present in BOTH sketches below θ (a
    // uniform sample of A∩B at rate θ/W), and est = n_match·W div θ
    // (the theta-sketch framework estimator). Hash width is 40 bits so
    // n_match·W ≤ 2⁶·2⁴⁰ stays in BIGINT for the exact integer
    // division — a production deployment widens to 63 bits and pays a
    // DECIMAL division at the same spot. All state is 2·k rows; the
    // only full-data pass is the per-side distinct. exact_intersect
    // rides along as the calibration column (the dedup_minhash_calib
    // convention: the estimate next to its ground truth).
    "m_sketch_kmv_intersect" -> ((s, dir) => {
      graft.functions.GraftHash64.register(s)
      val W = 1L << 40
      val k = 64
      val sides = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_type").as("side"), col("user_id")).distinct()
        .once("m_sketch_kmv_intersect.sides") // feeds the sketches AND the exact audit
      val hs = sides
        .select(col("side"), pmod(call_function("graft_hash64",
          col("user_id").cast("string"), lit(0L)), lit(W)).as("h"))
        .distinct() // in-side hash collisions collapse, same as the oracle
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("side").orderBy("h")
      val sk = hs.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .shared("m_sketch_kmv_intersect.sk") // the two k-row sketches — all downstream state
      val theta = sk.groupBy("side")
        .agg(count(lit(1)).as("kk"), max("h").as("mx"))
        .select(when(col("kk") < k, W).otherwise(col("mx")).as("ts"))
        .agg(min("ts").as("theta"))
      val both = sk.groupBy("h").agg(count(lit(1)).as("ns"))
        .filter(col("ns") === 2)
      val cnt = graft.ops.Scalars.withScalar(both, col("h"), theta, col("theta"))
        .filter(col("h") < col("theta"))
        .agg(count(lit(1)).as("n_match"))
      val exact = sides.groupBy("user_id")
        .agg(count_distinct(col("side")).as("nsides"))
        .filter(col("nsides") === 2)
        .agg(count(lit(1)).as("exact_intersect"))
      val withTheta = graft.ops.Scalars.withScalar(
        cnt, col("n_match"), theta, col("theta"))
      graft.ops.Scalars.withScalar(withTheta, col("n_match"),
          exact, col("exact_intersect"))
        .select(lit(k.toLong).as("k_sketch"), col("theta"), col("n_match"),
          expr(s"(n_match * ${W}L) div theta").as("est_intersect"),
          col("exact_intersect"))
    }),

    // mergeable-sketch distinct: per-day HLL sketches union to months
    // WITHOUT rescanning the fact table — the pre-aggregation pattern
    // an exact count_distinct can never use (it doesn't decompose).
    // The sketch is graft.ops.HllSketch — a from-scratch deterministic
    // HLL whose (bucket, max rho) state is plain relational data, so
    // the DuckDB oracle replays the whole estimate (an engine-specific
    // binary sketch could only ever be rows-only).
    // HISTOGRAM-QUANTILE vs EXACT error curve — the quantile half of
    // the sketch-calibration posture (sketch_hll_vs_exact is the
    // cardinality half): the $1000-bin first-crossing interpolation
    // (m_histo_percentiles' estimator, here in PURE CENTS integers)
    // against the exact rank-bracketed percentile from the two-level
    // global rank, at p50/p90/p99, with the ×10⁴ relative error. The
    // histogram runs continuously at O(bins) state; the exact rank
    // runs at audit cadence — this query is their periodic handshake.
    "sketch_quantile_vs_exact" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("rid"),
        Exact.cents(col("o_totalprice")).as("c"))
        .once("sketch_quantile_vs_exact.o") // feeds the rank side AND the histogram
      val ranked = graft.ops.Rank.globalRankByRange(
        o.withColumn("vneg", -col("c")), "vneg", "rid", 64)
      val n = ranked.agg(count(lit(1)).as("n"))
      val targets = Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L))
        .toDF("pct", "qn", "qd")
      val tq = graft.ops.Scalars.withScalar(targets, col("qn"), n, col("n"))
        .withColumn("target", expr("(qn * n + qd - 1) div qd"))
      val exact = ranked.join(broadcast(tq), col("rnk") === col("target"))
        .select(col("pct"), col("qn"), col("qd"), col("c").as("exact_c"))
      // bounded bin table (≤ max_price/$1000 rows): global windows safe
      val cum = o.groupBy(expr("c div 100000").as("bin"))
        .agg(count(lit(1)).as("nb"))
        .withColumn("cum", sum("nb").over(
          org.apache.spark.sql.expressions.Window.orderBy("bin")))
        .withColumn("total", sum("nb").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
      val est = cum.select(col("bin"), col("nb"), col("cum"), col("total"),
          explode(array(
            struct(lit("p50").as("pct"), lit(1L).as("qn"), lit(2L).as("qd")),
            struct(lit("p90").as("pct"), lit(9L).as("qn"), lit(10L).as("qd")),
            struct(lit("p99").as("pct"), lit(99L).as("qn"), lit(100L).as("qd"))))
            .as("p"))
        .withColumn("t", expr("(p.qn * total + p.qd - 1) div p.qd"))
        .filter(col("cum") >= col("t") && col("cum") - col("nb") < col("t"))
        .select(col("p.pct").as("pct"),
          expr("bin * 100000 + (100000 * (t - (cum - nb))) div nb").as("est_c"))
      exact.join(est, "pct")
        .select(col("pct"), col("exact_c"), col("est_c"),
          expr("abs(est_c - exact_c) * 10000 div exact_c").as("err_u4"))
        .orderBy("pct")
    }),

    // HLL vs EXACT error curve — the "trust the sketch" audit the
    // sketch family needs before anyone budgets from its numbers: per
    // month, the HLL(m=4096) customer estimate against the exact
    // distinct count, ×10⁴ relative error, plus a flag against the
    // 3σ theoretical band (3·1.04/√4096 ≈ 4.87% → the shared literal
    // 487). Exact distincts are affordable at audit cadence; the
    // sketch is what runs continuously — this query is the periodic
    // calibration between the two.
    "sketch_hll_vs_exact" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val (b, r) = graft.ops.HllSketch.bucketRho(s, col("o_custkey"))
      val st = o.select(
          date_trunc("month", col("o_orderdate")).cast("date").as("period"), b, r)
        .groupBy("period", "bucket").agg(max("rho").as("rho"))
      val est = graft.ops.HllSketch.estimate(st, Seq("period"))
      val exact = o.groupBy(
          date_trunc("month", col("o_orderdate")).cast("date").as("period"))
        .agg(countDistinct("o_custkey").as("exact_customers"))
      est.join(exact, "period")
        .select(col("period"), col("exact_customers"),
          col("est").as("est_customers"),
          expr("abs(est - exact_customers) * 10000 div exact_customers")
            .as("err_u4"),
          expr("CAST(abs(est - exact_customers) * 10000 div exact_customers" +
            " <= 487 AS BIGINT)").as("within_3sigma"))
        .orderBy("period")
    }),

    "m_sketch_distinct" -> ((s, dir) => {
      val (b, r) = graft.ops.HllSketch.bucketRho(s, col("o_custkey"))
      val daily = Tables.orders(s, dir)
        .select(date_trunc("day", col("o_orderdate")).as("d"), b, r)
        .groupBy("d", "bucket").agg(max("rho").as("rho"))
      val monthly = daily
        .groupBy(date_trunc("month", col("d")).cast("date").as("period"), col("bucket"))
        .agg(max("rho").as("rho"))
      graft.ops.HllSketch.estimate(monthly, Seq("period"))
        .withColumnRenamed("est", "est_customers")
        .orderBy("period")
    }),

    // month-over-month growth: lag window over the ALREADY-aggregated
    // monthly table (O(months) rows — same pre-agg-then-window rule as
    // cumulative metrics; the window never sees raw orders)
    "m_mom_growth" -> ((s, dir) => {
      val monthly = MC.simple(Tables.orders(s, dir), ordersRevenue, Some("month"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("period")
      val prev = lag(col("total_revenue"), 1).over(w)
      monthly
        .withColumn("prev_revenue", round(prev, 2))
        // §5: the growth ratio's operands are cent-quantized sums, so
        // the 4dp round sits on the boundary class — recover exact
        // cents and divide half-AWAY-from-zero in integer space
        // (growth can be negative) in both engines
        .withColumn("tc", Exact.cents(col("total_revenue")))
        .withColumn("pc", Exact.cents(prev))
        // r10: BIGINT signed 1e-4-unit growth (float-surface removal)
        .withColumn("mom_growth_u4",
          when(col("pc") =!= 0 && col("pc").isNotNull, expr(
            """CASE WHEN tc < pc
              | THEN -((2*(pc - tc)*10000 + pc) div (2*pc))
              | ELSE  ((2*(tc - pc)*10000 + pc) div (2*pc))
              |END""".stripMargin)))
        .select(col("period"), round(col("total_revenue"), 2).as("total_revenue"),
          col("prev_revenue"), col("mom_growth_u4"))
        .orderBy("period")
    }),

    // JOIN-VIEW INCREMENTAL MAINTENANCE — m_incremental generalized
    // from a single-table aggregate to a JOIN aggregate (revenue per
    // nation = orders ⋈ customer): the maintained state is the TINY
    // per-nation aggregate, and when a delta of orders lands (the last
    // quarter by key, ann_ivf_append's split convention), only the
    // delta joins the dimension — the fact history is NEVER re-joined
    // or re-scanned. This is the ΔL⋈R term of join IVM; the R side is
    // a dimension here, so the ΔL⋈ΔR and L⋈ΔR terms are zero — a
    // two-sided fact-fact view needs all three (documented, not
    // claimed). The oracle computes the one-shot join, so any
    // fold error diverges.
    "m_join_incremental" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val thr = o.agg(expr("3*(max(o_orderkey)+1) div 4").as("t"))
      val ow = graft.ops.Scalars.withScalar(o, col("o_orderkey"), thr, col("t"))
        .shared("m_join_incremental.ow")
      def agg(df: DataFrame) = df.join(c, df("o_custkey") === c("c_custkey"))
        .groupBy("c_nationkey")
        .agg(sum("cents").as("rev"), count(lit(1)).as("n"))
      val statePre = agg(ow.filter(col("o_orderkey") < col("t")))
      val deltaAgg = agg(ow.filter(col("o_orderkey") >= col("t")))
      statePre.unionByName(deltaAgg).groupBy("c_nationkey")
        .agg(sum("rev").as("revenue_c"), sum("n").as("n_orders"))
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("revenue_c"), col("n_orders"))
        .orderBy("c_nationkey")
    }),

    // TWO-SIDED JOIN-VIEW IVM — the general case m_join_incremental
    // documents but doesn't need for a static dim: BOTH join sides
    // receive deltas (late line items land for existing orders while a
    // new order generation lands with ITS line items), so the view
    // delta is the full three-term expansion
    //   Δ(L⋈R) = ΔL⋈R_old + L_old⋈ΔR + ΔL⋈ΔR
    // and all three terms are non-empty here by construction. The
    // persisted state is the tiny per-priority aggregate; each delta
    // term is a co-partitioned equi-join on the orderkey (at scale
    // both fact sides stay hash-bucketed on it, so a delta term
    // touches only matching buckets) — the big L_old⋈R_old join is
    // NEVER recomputed. The oracle is the one-shot join aggregate:
    // a missing or double-counted term diverges immediately.
    "m_join_incremental_2s" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
      val thr = o.agg(expr("3*(max(o_orderkey)+1) div 4").as("t"))
      val ow = graft.ops.Scalars.withScalar(o, col("o_orderkey"), thr, col("t"))
        .shared("m_join_incremental_2s.ow") // the stored orders table, scanned per term
      val lw = l.shared("m_join_incremental_2s.lw") // the stored lineitem table
      val rOld = ow.filter(col("o_orderkey") < col("t")).drop("t")
      val rNew = ow.filter(col("o_orderkey") >= col("t")).drop("t")
      val lOld = lw.filter(col("l_linenumber") <= 3)
      val lNew = lw.filter(col("l_linenumber") >= 4)
      def agg(lf: DataFrame, rf: DataFrame) =
        lf.join(rf, lf("l_orderkey") === rf("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum("cents").as("rev"), count(lit(1)).as("n"))
      val statePre = agg(lOld, rOld)
      statePre
        .unionByName(agg(lNew, rOld)) // ΔL ⋈ R_old
        .unionByName(agg(lOld, rNew)) // L_old ⋈ ΔR
        .unionByName(agg(lNew, rNew)) // ΔL ⋈ ΔR
        .groupBy("o_orderpriority")
        .agg(sum("rev").as("revenue_c"), sum("n").as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // inter-arrival gaps: per-(user, type) consecutive-event deltas —
    // the lag window is partitioned by user so gap state distributes;
    // the per-type rollup is a second tiny aggregation
    "m_interarrival" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type").orderBy("ts_us")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), expr("ts_ns div 1000").as("ts_us"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum("gap_us").as("sg"),
          max("gap_us").as("max_gap_us"))
        // integer-input mean (§5 doctrine): half-up INTEGER microseconds.
        // The r8 quotient+4dp-fraction form needed ~56 mantissa bits
        // (1e11 µs · 1e4), so NO double could hold it and the engines'
        // last-ulp rounding legitimately diverged (caught by the r9
        // exact gate at sf0.001). µs is the data's native granularity —
        // the mean is emitted at that granularity, exactly, as BIGINT.
        // DECIMAL(38,0) doubling: 2·Σgap_µs overflows long near 1e9 rows.
        .withColumn("avg_gap_us",
          expr("(2*CAST(sg AS DECIMAL(38,0)) + n_gaps) div (2*n_gaps)"))
        .select(col("event_type"), col("n_gaps"), col("avg_gap_us"),
          col("max_gap_us"))
        .orderBy("event_type")
    }),

    // percentile profile: exact interpolated p50/p90/p99 per group
    // (Spark `percentile` and DuckDB `quantile_cont` share the linear-
    // interpolation definition). Exact percentile buffers per-group
    // values — bounded groups only; the 100 TB path is percentile_approx
    // (see MetricCompiler median_approx).
    "m_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag")),

    // winsorized robust mean: clip each order at its month's exact
    // p05/p95 before averaging — the outlier-resistant metric variant.
    // Two passes over the fact (quantiles, then clip+avg) with the
    // tiny per-month bound table broadcast back; the clip boundary is
    // the interpolated quantile both engines compute identically (and
    // when (n−1)·q lands on a data point the interpolation degenerates
    // to that exact stored value, so the comparisons stay exact).
    "m_winsorize" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(MC.periodCol("o_orderdate", "month").as("period"),
          col("o_totalprice"))
      val bounds = o.groupBy("period").agg(
        expr("percentile(o_totalprice, 0.05)").as("lo"),
        expr("percentile(o_totalprice, 0.95)").as("hi"))
      o.join(broadcast(bounds), "period")
        .withColumn("clipped",
          greatest(least(col("o_totalprice"), col("hi")), col("lo")))
        .groupBy("period")
        .agg(round(avg("o_totalprice"), 4).as("raw_avg"),
          round(avg("clipped"), 4).as("winsorized_avg"),
          count(lit(1)).as("n_orders"))
        .orderBy("period")
    }),

    // Gini coefficient of customer revenue concentration — the
    // inequality measure over the per-customer aggregate. The sorted-
    // rank formulation needs a GLOBAL ascending rank; it comes from
    // Rank.globalRank's two-level block decomposition (never a
    // single-partition window), and the ascending-rank sum folds out
    // algebraically: Σ i_asc·x = (n+1)Σx − Σ rnk_desc·x, so one
    // aggregate over the ranked table finishes the job. Ties in x
    // contribute identically under any tie order (Σi over a tied block
    // is fixed), so the tie-break never shows in the result.
    "m_gini" -> ((s, dir) => {
      val c = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("x"))
        .once("m_gini.c") // globalRank references its input twice
      graft.ops.Rank.globalRank(c, "x", "o_custkey", blockWidth = 10000.0)
        .agg(sum("x").as("sx"), sum(col("rnk") * col("x")).as("srx"),
          count(lit(1)).as("n"))
        .select(round(
          (lit(2) * ((col("n") + 1) * col("sx") - col("srx"))) /
            (col("n") * col("sx")) - (col("n") + 1).cast("double") / col("n"),
          6).as("gini"), col("n").as("n_customers"))
    }),

    // AUTOCORRELATION FUNCTION at lags 1-7 of the daily revenue series
    // — the weekly-rhythm detector behind m_seasonality's averages and
    // events_holt_winters' period-7 assumption: a peak at lag 7 is the
    // evidence that the weekly model is the right one. Exactness: with
    // z_t = n·y_t − Σy (integer, the ×n-scaled centered value), the n²
    // factors cancel and r_k = Σ z_t·z_{t−k} / Σ z_t² needs ONE float
    // quotient per lag off exact DECIMAL(38,0) moments (m_gini rule).
    // The observation index t comes from a row_number over the BOUNDED
    // day table (gaps close up by documented choice — ACF over
    // observations, not calendar cells); the corpus is touched once,
    // and the day table once: lag(z, k) over t pairs z_t with z_{t−k},
    // so one aggregate carries the denominator and all 7 lag sums.
    "m_autocorr" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .groupBy(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01").cast("date")).as("dn"))
        .agg(sum(Exact.cents(col("o_totalprice"))).as("y"))
      // bounded day table: the unpartitioned windows are safe
      val byT = org.apache.spark.sql.expressions.Window.orderBy("t")
      val z = d
        .withColumn("t", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("dn")).cast("long"))
        .withColumn("z", expr(
          "CAST(count(*) OVER () AS DECIMAL(38,0)) * y" +
            " - sum(CAST(y AS DECIMAL(38,0))) OVER ()"))
      val lags = (1 to 7).foldLeft(z.select("t", "z")) { (t, k) =>
        t.withColumn(s"z$k", lag(col("z"), k).over(byT))
      }
      lags
        .agg(sum(expr("z * z")).as("dz"), (1 to 7).map { k =>
          struct(lit(k.toLong).as("lag"),
            count(when(col("t") > k, lit(1))).as("n_pairs"),
            sum(expr(s"z * z$k")).as("num")).as(s"l$k")
        }: _*)
        .select(col("dz"), explode(array((1 to 7).map(k => col(s"l$k")): _*)).as("a"))
        .select(col("a.lag").as("lag"), col("a.n_pairs").as("n_pairs"),
          when(col("dz") === 0, lit(0.0d))
            .otherwise(round(col("a.num").cast("double") / col("dz").cast("double"), 6))
            .as("ac_r"))
        .orderBy("lag")
    }),

    // WEEKDAY UNIFORMITY chi² (goodness-of-fit) over order counts —
    // the calendar-shape screen next to m_seasonality's averages: is
    // order volume actually uniform across weekdays, and if not, which
    // day carries the deviation? With E = n/7, chi² = Σ(O−n/7)²/(n/7)
    // = Σ(7·O−n)²/(7n) is pure ×10⁴ integer division per cell; the
    // 7-row emission carries each day's contribution plus the total
    // (a bounded 7-row window). Weekday key is 0=Sunday..6 in both
    // engines (Spark dayofweek−1 = DuckDB dayofweek).
    "m_weekday_chi2" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .groupBy((dayofweek(to_date(col("o_orderdate"))) - 1).as("dow"))
        .agg(count(lit(1)).as("n_d"))
      val tot = d.agg(sum("n_d").as("n"))
      graft.ops.Scalars.withScalar(d, col("dow"), tot, col("n"))
        .withColumn("share_u6", expr("(2 * n_d * 1000000 + n) div (2 * n)"))
        .withColumn("contrib_u4",
          expr("(7 * n_d - n) * (7 * n_d - n) * 10000 div (7 * n)"))
        .withColumn("chi2_u4", sum("contrib_u4").over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .select(col("dow").cast("long").as("dow"), col("n_d"),
          col("share_u6"), col("contrib_u4"), col("chi2_u4"))
        .orderBy("dow")
    }),

    // BENFORD FIRST-DIGIT AUDIT (Newcomb 1881, Benford 1938) over the
    // order totals — the fabrication screen auditors run before
    // trusting a financial column: organically-grown amounts follow
    // log₁₀(1+1/d), invented ones don't. The digit comes from the
    // EXACT cents integer (first char of its decimal repr — no float
    // log in the grouping key), the observed share is §5 half-up u6,
    // and the expectations are the plan-time ×10⁶ constants both
    // engines share. One scan → 9-row emission; per-digit |obs−exp|
    // is the evidence column a reviewer reads.
    "m_benford" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .select(Exact.cents(col("o_totalprice")).as("c"))
        .select(substring(col("c").cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_orders"))
      val tot = d.agg(sum("n_orders").as("n_tot"))
      graft.ops.Scalars.withScalar(d, col("digit"), tot, col("n_tot"))
        .withColumn("share_u6",
          expr("(2 * n_orders * 1000000 + n_tot) div (2 * n_tot)"))
        .withColumn("exp_u6",
          element_at(array(benfordU6.map(lit): _*), col("digit").cast("int")))
        .select(col("digit"), col("n_orders"), col("share_u6"), col("exp_u6"),
          abs(col("share_u6") - col("exp_u6")).as("dev_u6"))
        .orderBy("digit")
    }),

    // RFM segmentation: per-customer recency/frequency/monetary
    // quintiles (1 = top), each from a DESC global rank over the tiny
    // per-customer aggregate via the same two-level decomposition.
    // Quintile = ((rank−1)·5) div n + 1; explicit custkey tie-breaks
    // make the cells exactly reproducible in any engine.
    "m_rfm" -> ((s, dir) => {
      val c = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(datediff(max(to_date(col("o_orderdate"))),
            lit("1970-01-01").cast("date")).as("last_dn"),
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .once("m_rfm.c")
      val n = c.agg(count(lit(1)).as("n_cust"))
      // block width ~ value spread/32 so each dimension actually blocks
      // each ranked intermediate is checkpointed: globalRank references
      // its input twice, so an unchained plan would re-derive the
      // upstream ranks 2× per link
      def q(df: org.apache.spark.sql.DataFrame, v: String, w: Double, as: String) =
        graft.ops.Rank.globalRank(df, v, "o_custkey", blockWidth = w)
          .withColumn(as, expr("((rnk - 1) * 5) div n_cust + 1"))
          .drop("rnk").shared("m_rfm.n")
      val ranked = q(q(q(graft.ops.Scalars.withScalar(
          c, col("o_custkey"), n, col("n_cust")),
        "last_dn", 64.0, "r_q"), "n_orders", 2.0, "f_q"), "revenue", 10000.0, "m_q")
      ranked.groupBy("r_q", "f_q", "m_q")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("r_q", "f_q", "m_q")
    }),

    // mergeable histogram quantiles: per-day fixed-bin counts roll up
    // to months by SUMMING bins (decomposable, like the HLL sketch —
    // the 100 TB quantile path when exact percentile can't buffer a
    // group and percentile_approx's sketch is engine-opaque). Estimate
    // = linear interpolation inside the bin where the cumulative count
    // crosses q·total; deterministic, so the oracle replays it.
    "m_histo_percentiles" -> ((s, dir) => {
      val width = 1000.0
      val daily = Tables.orders(s, dir)
        .groupBy(date_trunc("day", col("o_orderdate")).as("d"),
          floor(col("o_totalprice") / width).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
      val monthly = daily
        .groupBy(date_trunc("month", col("d")).cast("date").as("period"), col("bin"))
        .agg(sum("n").as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("period").orderBy("bin")
      val cum = monthly
        .withColumn("cum", sum("n").over(w))
        .withColumn("total", sum("n").over(
          org.apache.spark.sql.expressions.Window.partitionBy("period")))
      // only the FIRST crossing bin interpolates (later bins would
      // extrapolate negative offsets below the true crossing)
      def q(p: Double) = round(
        min(when(col("cum") >= col("total") * p &&
                 (col("cum") - col("n")) < col("total") * p,
          (col("bin") * width) +
            (lit(width) * (col("total") * p - (col("cum") - col("n"))) / col("n")))),
        2)
      cum.groupBy("period")
        .agg(q(0.5).as("p50_est"), q(0.9).as("p90_est"), q(0.99).as("p99_est"))
        .orderBy("period")
    }),

    "m_dimensions" -> ((s, dir) => {
      val o = Tables.orders(s, dir); val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir); val r = Tables.region(s, dir)
      // customer is a fact-sized table at 100 TB: shuffle join on the key,
      // broadcast only the genuinely small dims (nation/region).
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), c("c_mktsegment"))
        .agg(round(sum(o("o_totalprice")), 2).as("revenue"),
             count(o("o_orderkey")).as("n_orders"))
        .orderBy("r_name", "c_mktsegment")
    }),

    // Date-spine gap filling: dbt metrics materialize onto a complete
    // calendar spine so missing periods report 0, not a missing row.
    // The spine is generated (sequence over the 1-row min/max bounds ×
    // distinct priorities — tiny), the metric is ONE fact shuffle to
    // (month, priority), and the spine LEFT-joins the already-tiny
    // aggregate (broadcast) — the fact table never joins the spine.
    "m_date_spine" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      // global bounds via an unpartitioned window over the tiny
      // per-priority aggregate (k rows, single-partition by design) —
      // no bounds×priorities join exists, so no product join can be
      // planned (PlanSpec bans BNLJ engine-wide) and the spine costs
      // ONE orders scan instead of two
      val W = org.apache.spark.sql.expressions.Window
      val w = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      val spine = o.groupBy(col("o_orderpriority").as("prio"))
        .agg(min("o_orderdate").as("pmn"), max("o_orderdate").as("pmx"))
        .select(col("prio"),
          date_trunc("month", min("pmn").over(w)).cast("date").as("mn"),
          date_trunc("month", max("pmx").over(w)).cast("date").as("mx"))
        .select(col("prio"), explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 MONTH"))).as("period"))
      val m = o.filter(col("o_totalprice") > 480000)
        .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("period"),
          col("o_orderpriority").as("prio"))
        .agg(round(sum("o_totalprice"), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
      spine.join(broadcast(m), Seq("period", "prio"), "left_outer")
        .select(col("period"), col("prio"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("period", "prio")
    }),

    // Rolling 7-day active users per day. A sliding-window DISTINCT is
    // not decomposable the way sums are; the scale pattern is bounded
    // day-explode: dedup raw events to (user, day) FIRST (one shuffle —
    // and the table shrinks from events to user-days), explode each
    // user-day to the ≤7 window-END days it contributes to (a bounded
    // ×7 blowup of the small deduped table, never of raw events), then
    // count distinct users per window day. Window ends are kept to days
    // that actually have events via a broadcast semi-join on the tiny
    // day dim.
    "m_active_users_7d" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .once("m_active_users_7d.ud") // feeds both the explode and the day dim
      val days = ud.select(col("day").as("wday")).distinct()
      ud.select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("wday"))
        .join(broadcast(days), Seq("wday"), "left_semi")
        .groupBy("wday")
        .agg(count_distinct(col("user_id")).as("active_users_7d"))
        .orderBy("wday")
    }),

    // Incremental aggregate maintenance: a materialized per-day partial
    // state absorbs a new day of data WITHOUT rescanning history — the
    // pattern that turns a 100 TB nightly recompute into a day-sized
    // merge (decomposable partials: sum/count merge by summing). The
    // "materialized" state is simulated by pre-aggregating the history
    // split; both branches push disjoint date filters to their scans,
    // and the merge cost is proportional to DAYS, not rows. Must equal
    // the full recompute — which is exactly what the oracle computes.
    "m_incremental" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      val cutoff = lit("2001-07-01").cast("date")
      def partials(df: DataFrame): DataFrame =
        df.groupBy("day").agg(
          sum("o_totalprice").as("s"), count(lit(1)).as("n"))
      val state = partials(o.filter(col("day") < cutoff))  // yesterday's state
      val delta = partials(o.filter(col("day") >= cutoff)) // new arrivals
      state.unionByName(delta)
        .groupBy(date_trunc("month", col("day")).cast("date").as("period"))
        .agg(round(sum("s"), 2).as("revenue"), sum("n").as("n_orders"))
        .orderBy("period")
    })
  )

  /** Unsigned-compare CASE chain for the HLL rho (leading-zero rank of
    * the post-shift hash bits held in column w) — the same literal
    * chain the engine's HllSketch generates, replayed over HUGEINT. */
  private def rhoChainSql: String = DuckHash.rhoChainSql

  val oracle: Map[String, String] = Map(

    // same ×n-centered integer series (HUGEINT twin of the DECIMAL
    // moments), same one-quotient-per-lag emission
    "m_autocorr" ->
      """WITH d AS (SELECT
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS dn,
        |    sum(CAST(round(o_totalprice*100) AS BIGINT)) AS y
        |  FROM orders GROUP BY 1),
        |z AS (SELECT row_number() OVER (ORDER BY dn) AS t,
        |        CAST(count(*) OVER () AS HUGEINT) * y
        |          - sum(CAST(y AS HUGEINT)) OVER () AS z
        |      FROM d),
        |dd AS (SELECT sum(z*z) AS dz FROM z),
        |l(k) AS (VALUES (1),(2),(3),(4),(5),(6),(7)),
        |num AS (SELECT l.k, sum(z1.z * z2.z) AS num, count(*) AS n_pairs
        |        FROM l JOIN z z1 ON TRUE JOIN z z2 ON z1.t = z2.t + l.k
        |        GROUP BY 1)
        |SELECT CAST(k AS BIGINT) AS lag, n_pairs,
        |  CASE WHEN dz = 0 THEN 0.0
        |       ELSE round(CAST(num AS DOUBLE)/CAST(dz AS DOUBLE), 6) END AS ac_r
        |FROM num, dd ORDER BY lag""".stripMargin,

    // same 0=Sunday weekday key, same per-cell integer chi² identity,
    // total via the same bounded window
    "m_weekday_chi2" ->
      """WITH d AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
        |             CAST(count(*) AS BIGINT) AS n_d
        |           FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM d)
        |SELECT CAST(dow AS BIGINT) AS dow, n_d,
        |  (2 * n_d * 1000000 + n) // (2 * n) AS share_u6,
        |  (7 * n_d - n) * (7 * n_d - n) * 10000 // (7 * n) AS contrib_u4,
        |  CAST(sum((7 * n_d - n) * (7 * n_d - n) * 10000 // (7 * n))
        |    OVER () AS BIGINT) AS chi2_u4
        |FROM d, t ORDER BY dow""".stripMargin,

    // same exact-cents first digit, same shared ×10⁶ expectation
    // constants, same half-up share — pure BIGINT end to end
    "m_benford" -> {
      val vals = benfordU6.zipWithIndex
        .map { case (e, i) => s"(${i + 1}, $e)" }.mkString(", ")
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders),
         |g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY 1),
         |t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_tot FROM g),
         |ex(digit, exp_u6) AS (VALUES $vals)
         |SELECT digit, n_orders, CAST(share_u6 AS BIGINT) AS share_u6,
         |  CAST(exp_u6 AS BIGINT) AS exp_u6,
         |  CAST(abs(share_u6 - exp_u6) AS BIGINT) AS dev_u6
         |FROM (SELECT g.digit, g.n_orders,
         |        (2*g.n_orders*1000000 + t.n_tot) // (2*t.n_tot) AS share_u6,
         |        ex.exp_u6
         |      FROM g JOIN ex USING (digit), t)
         |ORDER BY digit""".stripMargin
    },

    // ONE-SHOT join-aggregate — the incremental fold must land here
    // one-shot fact-fact join aggregate — the four-way fold must land
    // exactly here or a term was dropped/double-counted
    "m_join_incremental_2s" ->
      """SELECT o.o_orderpriority,
        |  CAST(sum(CAST(round(l.l_extendedprice*100, 0) AS BIGINT)) AS BIGINT)
        |    AS revenue_c,
        |  count(*) AS n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "m_join_incremental" ->
      """SELECT CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
        |  CAST(sum(CAST(round(o.o_totalprice*100, 0) AS BIGINT)) AS BIGINT)
        |    AS revenue_c,
        |  count(*) AS n_orders
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // single-window rank replay (the oracle may sort what the engine
    // must decompose); identical integer rank targets
    "m_exact_percentiles" ->
      """WITH t AS (SELECT l_orderkey*10 + l_linenumber AS rid,
        |                  l_extendedprice AS v FROM lineitem),
        |r AS (SELECT v, row_number() OVER (ORDER BY v ASC, rid ASC) AS rnk
        |      FROM t),
        |n AS (SELECT count(*) AS n FROM t),
        |q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |                            ('p99', 99, 100)) AS tv(pct, qn, qd)),
        |tr AS (SELECT pct, (qn*n + qd - 1) // qd AS target, n FROM q, n)
        |SELECT tr.pct, CAST(tr.target AS BIGINT) AS rnk, tr.n, r.v AS value
        |FROM tr JOIN r ON r.rnk = tr.target
        |ORDER BY pct""".stripMargin,

    "m_activity_heatmap" ->
      """SELECT CAST(isodow(ts) AS BIGINT) AS isodow,
        |  CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same trailing-window membership as m_active_users_7d
    "m_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |days AS (SELECT DISTINCT day AS wday FROM ud),
        |wau AS (SELECT d.wday, count(DISTINCT u.user_id) AS wau
        |        FROM days d JOIN ud u ON u.day BETWEEN d.wday - 6 AND d.wday
        |        GROUP BY 1)
        |SELECT dau.day, dau, wau, dau * 1.0 / wau AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.wday ORDER BY day""".stripMargin,

    // isodow(ts) == Spark weekday()+1 (both 1=Monday..7=Sunday)
    "m_seasonality" ->
      """WITH b AS (SELECT isodow(o_orderdate) AS isodow,
        |             count(*) AS n_orders,
        |             round(sum(o_totalprice), 2) AS revenue
        |           FROM orders GROUP BY 1)
        |SELECT CAST(isodow AS BIGINT) AS isodow, n_orders, revenue,
        |  round(revenue / sum(revenue) OVER (), 4) AS rev_share
        |FROM b ORDER BY isodow""".stripMargin,

    // full KMV replay: same 40-bit hash space, per-side k smallest,
    // θ with the exact-mode W fallback, strict h < θ candidates, and
    // the integer theta estimator (// equals Spark's div — all
    // operands non-negative)
    "m_sketch_kmv_intersect" ->
      s"""WITH o AS (SELECT DISTINCT event_type AS side,
         |             CAST(user_id AS VARCHAR) AS s
         |           FROM events WHERE event_type IN ('click', 'purchase')),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM o)),
         |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
         |hs AS (SELECT DISTINCT side, CAST(hu % 1099511627776 AS BIGINT) AS h
         |       FROM o JOIN h USING (s)),
         |sk AS (SELECT side, h FROM (
         |         SELECT side, h,
         |           row_number() OVER (PARTITION BY side ORDER BY h) AS rn
         |         FROM hs)
         |       WHERE rn <= 64),
         |th AS (SELECT CAST(min(CASE WHEN kk < 64 THEN 1099511627776
         |                            ELSE mx END) AS BIGINT) AS theta
         |       FROM (SELECT side, count(*) AS kk, max(h) AS mx
         |             FROM sk GROUP BY 1)),
         |mt AS (SELECT CAST(count(*) AS BIGINT) AS n_match FROM (
         |         SELECT h FROM sk, th GROUP BY h, theta
         |         HAVING count(*) = 2 AND h < theta)),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_intersect FROM (
         |         SELECT s FROM o GROUP BY s
         |         HAVING count(DISTINCT side) = 2))
         |SELECT CAST(64 AS BIGINT) AS k_sketch, theta, n_match,
         |  CAST((n_match * 1099511627776) // theta AS BIGINT) AS est_intersect,
         |  exact_intersect
         |FROM th, mt, ex""".stripMargin,

    // per-side sketch states, a max-merged union state, then
    // inclusion–exclusion over the three integer estimates
    "m_sketch_overlap" ->
      s"""WITH o AS (SELECT event_type AS side, CAST(user_id AS VARCHAR) AS s
         |           FROM events WHERE event_type IN ('click', 'purchase')),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM o)),
         |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
         |br AS (SELECT s, hu // 4503599627370496 AS bucket,
         |              (hu % 4503599627370496) * 4096 AS w FROM h),
         |rr AS (SELECT s, bucket, $rhoChainSql AS rho FROM br),
         |mb AS (SELECT o.side, rr.bucket, max(rr.rho) AS rho
         |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
         |un AS (SELECT 'union' AS side, bucket, max(rho) AS rho FROM mb GROUP BY 2),
         |st AS (SELECT * FROM mb UNION ALL SELECT * FROM un),
         |ag AS (SELECT side, count(*) AS nz, sum(power(0.5, rho)) AS sp
         |       FROM st GROUP BY 1),
         |fin AS (SELECT side,
         |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
         |          4096 - nz AS zeros
         |        FROM ag),
         |es AS (SELECT side,
         |  CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
         |             THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT) AS est
         |  FROM fin)
         |SELECT
         |  max(CASE WHEN side = 'click' THEN est END) AS est_click,
         |  max(CASE WHEN side = 'purchase' THEN est END) AS est_purchase,
         |  max(CASE WHEN side = 'union' THEN est END) AS est_union,
         |  CAST(greatest(0,
         |    max(CASE WHEN side = 'click' THEN est END)
         |    + max(CASE WHEN side = 'purchase' THEN est END)
         |    - max(CASE WHEN side = 'union' THEN est END)) AS BIGINT) AS est_overlap
         |FROM es""".stripMargin,

    // day-grain state replay, then each trailing-7 window max-merges
    // its covered days' buckets before the shared float finish
    "m_sliding_distinct" ->
      s"""WITH o AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         |            CAST(user_id AS VARCHAR) AS s FROM events),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM o)),
         |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
         |br AS (SELECT s, hu // 4503599627370496 AS bucket,
         |              (hu % 4503599627370496) * 4096 AS w FROM h),
         |rr AS (SELECT s, bucket, $rhoChainSql AS rho FROM br),
         |mb AS (SELECT o.d, rr.bucket, max(rr.rho) AS rho
         |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
         |wd AS (SELECT DISTINCT d AS win_end FROM mb),
         |wm AS (SELECT w.win_end, mb.bucket, max(mb.rho) AS rho
         |       FROM wd w JOIN mb ON mb.d BETWEEN w.win_end - 6 AND w.win_end
         |       GROUP BY 1, 2),
         |ag AS (SELECT win_end, count(*) AS nz, sum(power(0.5, rho)) AS sp
         |       FROM wm GROUP BY 1),
         |fin AS (SELECT win_end,
         |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
         |          4096 - nz AS zeros
         |        FROM ag)
         |SELECT win_end,
         |  CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
         |             THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT)
         |    AS est_users_7d
         |FROM fin ORDER BY win_end""".stripMargin,

    // full replay of the from-scratch HLL: same portable hash, same
    // bucket/rho split, same max-rho merge and estimator arithmetic —
    // an engine-specific binary sketch could never be hash-checked
    // same cents ranks (c asc, rid asc), same integer first-crossing
    // interpolation, same ×10⁴ relative error
    "sketch_quantile_vs_exact" ->
      """WITH o AS (SELECT o_orderkey AS rid,
        |            CAST(round(o_totalprice*100) AS BIGINT) AS c FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM o),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c, rid) AS rnk FROM o),
        |tg(pct, qn, qd) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |                           ('p99', 99, 100)),
        |tq AS (SELECT pct, (qn * n.n + qd - 1) // qd AS target FROM tg, n),
        |ex AS (SELECT tq.pct, rk.c AS exact_c
        |       FROM rk JOIN tq ON rk.rnk = tq.target),
        |h AS (SELECT c // 100000 AS bin, CAST(count(*) AS BIGINT) AS nb
        |      FROM o GROUP BY 1),
        |cu AS (SELECT bin, nb, sum(nb) OVER (ORDER BY bin) AS cum,
        |         sum(nb) OVER () AS total FROM h),
        |es AS (SELECT tg.pct,
        |         bin * 100000 + (100000 *
        |           (((tg.qn * total + tg.qd - 1) // tg.qd) - (cum - nb)))
        |           // nb AS est_c
        |       FROM cu, tg
        |       WHERE cum >= (tg.qn * total + tg.qd - 1) // tg.qd
        |         AND cum - nb < (tg.qn * total + tg.qd - 1) // tg.qd)
        |SELECT ex.pct, CAST(ex.exact_c AS BIGINT) AS exact_c,
        |  CAST(es.est_c AS BIGINT) AS est_c,
        |  CAST(abs(es.est_c - ex.exact_c) * 10000 // ex.exact_c AS BIGINT)
        |    AS err_u4
        |FROM ex JOIN es ON ex.pct = es.pct ORDER BY ex.pct""".stripMargin,

    // same HLL replay chain joined to the exact distincts; the 3σ
    // band is the same shared literal
    "sketch_hll_vs_exact" ->
      s"""WITH o AS (SELECT date_trunc('month', o_orderdate) AS period,
         |            CAST(o_custkey AS VARCHAR) AS s FROM orders),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM o)),
         |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
         |br AS (SELECT s, hu // 4503599627370496 AS bucket,
         |              (hu % 4503599627370496) * 4096 AS w FROM h),
         |rr AS (SELECT s, bucket, $rhoChainSql AS rho FROM br),
         |mb AS (SELECT o.period, rr.bucket, max(rr.rho) AS rho
         |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
         |ag AS (SELECT period, count(*) AS nz, sum(power(0.5, rho)) AS sp
         |       FROM mb GROUP BY 1),
         |fin AS (SELECT period,
         |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
         |          4096 - nz AS zeros
         |        FROM ag),
         |es AS (SELECT period,
         |         CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
         |              THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT)
         |           AS est_customers
         |       FROM fin),
         |ex AS (SELECT date_trunc('month', o_orderdate) AS period,
         |         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers
         |       FROM orders GROUP BY 1)
         |SELECT CAST(es.period AS DATE) AS period, ex.exact_customers,
         |  es.est_customers,
         |  abs(es.est_customers - ex.exact_customers) * 10000
         |    // ex.exact_customers AS err_u4,
         |  CAST(abs(es.est_customers - ex.exact_customers) * 10000
         |    // ex.exact_customers <= 487 AS BIGINT) AS within_3sigma
         |FROM es JOIN ex ON es.period = ex.period
         |ORDER BY period""".stripMargin,

    "m_sketch_distinct" ->
      s"""WITH o AS (SELECT date_trunc('month', o_orderdate) AS period,
         |            CAST(o_custkey AS VARCHAR) AS s FROM orders),
         |tb AS (SELECT s, hex(encode(s)) AS hx, octet_length(encode(s)) AS n
         |       FROM (SELECT DISTINCT s FROM o)),
         |h AS (SELECT s, ${DuckHash.ghashSql(DuckHash.fnvHx, "0")} AS hu FROM tb),
         |br AS (SELECT s, hu // 4503599627370496 AS bucket,
         |              (hu % 4503599627370496) * 4096 AS w FROM h),
         |rr AS (SELECT s, bucket, $rhoChainSql AS rho FROM br),
         |mb AS (SELECT o.period, rr.bucket, max(rr.rho) AS rho
         |       FROM o JOIN rr USING (s) GROUP BY 1, 2),
         |ag AS (SELECT period, count(*) AS nz, sum(power(0.5, rho)) AS sp
         |       FROM mb GROUP BY 1),
         |fin AS (SELECT period,
         |          0.7213/(1 + 1.079/4096) * 4096 * 4096 / (sp + (4096 - nz)) AS raw,
         |          4096 - nz AS zeros
         |        FROM ag)
         |SELECT CAST(period AS DATE) AS period,
         |  CAST(round(CASE WHEN raw <= 2.5*4096 AND zeros > 0
         |             THEN 4096 * ln(4096.0/zeros) ELSE raw END) AS BIGINT) AS est_customers
         |FROM fin ORDER BY period""".stripMargin,

    "m_simple_sum" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        | round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders GROUP BY period ORDER BY period""".stripMargin,

    "m_mom_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |         sum(o_totalprice) AS total_revenue
        |  FROM orders GROUP BY 1),
        |c AS (
        |  SELECT period, total_revenue,
        |    lag(total_revenue) OVER (ORDER BY period) AS prev,
        |    CAST(round(total_revenue*100) AS BIGINT) AS tc,
        |    CAST(round(lag(total_revenue) OVER (ORDER BY period)*100) AS BIGINT) AS pc
        |  FROM m)
        |SELECT period, round(total_revenue, 2) AS total_revenue,
        |  round(prev, 2) AS prev_revenue,
        |  CAST(CASE WHEN pc = 0 THEN NULL
        |       WHEN tc < pc THEN -((2*(pc - tc)*10000 + pc) // (2*pc))
        |       ELSE ((2*(tc - pc)*10000 + pc) // (2*pc))
        |  END AS BIGINT) AS mom_growth_u4
        |FROM c ORDER BY period""".stripMargin,

    "m_interarrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type ORDER BY epoch_us(ts)) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST((2*sum(gap_us) + count(*)) // (2*count(*)) AS BIGINT) AS avg_gap_us,
        |  max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle replays the identical binning, month merge, cumulative
    // walk and first-crossing interpolation
    "m_histo_percentiles" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', o_orderdate) AS d,
        |         CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
        |         count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |monthly AS (
        |  SELECT CAST(date_trunc('month', d) AS DATE) AS period, bin, sum(n) AS n
        |  FROM daily GROUP BY 1, 2),
        |c AS (
        |  SELECT period, bin, n,
        |    sum(n) OVER (PARTITION BY period ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER (PARTITION BY period) AS total
        |  FROM monthly)
        |SELECT period,
        |  round(min(CASE WHEN cum >= total*0.5 AND cum - n < total*0.5
        |    THEN bin*1000.0 + 1000.0 * (total*0.5 - (cum - n)) / n END), 2) AS p50_est,
        |  round(min(CASE WHEN cum >= total*0.9 AND cum - n < total*0.9
        |    THEN bin*1000.0 + 1000.0 * (total*0.9 - (cum - n)) / n END), 2) AS p90_est,
        |  round(min(CASE WHEN cum >= total*0.99 AND cum - n < total*0.99
        |    THEN bin*1000.0 + 1000.0 * (total*0.99 - (cum - n)) / n END), 2) AS p99_est
        |FROM c GROUP BY period ORDER BY period""".stripMargin,

    "m_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // ascending-rank textbook form; the engine's desc-rank algebra
    // (Σ i_asc·x = (n+1)Σx − Σ rnk_desc·x) is equivalent, and ties in
    // x are order-insensitive in Σ i·x
    "m_gini" ->
      """WITH c AS (
        |  SELECT o_custkey, round(sum(o_totalprice), 2) AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x ASC, o_custkey DESC) AS i
        |      FROM c)
        |SELECT round(2.0*sum(i*x)/(count(*)*sum(x))
        |         - (count(*)+1.0)/count(*), 6) AS gini,
        |  count(*) AS n_customers
        |FROM r""".stripMargin,

    "m_rfm" ->
      """WITH c AS (
        |  SELECT o_custkey,
        |    date_diff('day', DATE '1970-01-01', max(CAST(o_orderdate AS DATE))) AS last_dn,
        |    count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n_cust FROM c),
        |q AS (SELECT
        |    ((row_number() OVER (ORDER BY last_dn DESC, o_custkey) - 1) * 5)
        |      // n_cust + 1 AS r_q,
        |    ((row_number() OVER (ORDER BY n_orders DESC, o_custkey) - 1) * 5)
        |      // n_cust + 1 AS f_q,
        |    ((row_number() OVER (ORDER BY revenue DESC, o_custkey) - 1) * 5)
        |      // n_cust + 1 AS m_q
        |  FROM c, n)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers
        |FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "m_winsorize" ->
      """WITH o AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |         o_totalprice
        |  FROM orders),
        |b AS (SELECT period,
        |        quantile_cont(o_totalprice, 0.05) AS lo,
        |        quantile_cont(o_totalprice, 0.95) AS hi
        |      FROM o GROUP BY period)
        |SELECT o.period,
        |  round(avg(o_totalprice), 4) AS raw_avg,
        |  round(avg(greatest(least(o_totalprice, hi), lo)), 4) AS winsorized_avg,
        |  count(*) AS n_orders
        |FROM o JOIN b ON o.period = b.period
        |GROUP BY o.period ORDER BY o.period""".stripMargin,

    "m_retention" ->
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS m FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
        |r AS (SELECT cohort, date_diff('month', cohort, m) AS months_since,
        |             count(DISTINCT o.o_custkey) AS n_customers
        |      FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |s AS (SELECT cohort, n_customers AS cohort_size FROM r WHERE months_since = 0)
        |SELECT CAST(r.cohort AS DATE) AS cohort, months_since, n_customers,
        |  n_customers*1.0/cohort_size AS retention
        |FROM r JOIN s USING (cohort) ORDER BY 1, 2""".stripMargin,

    "m_simple_count" ->
      """SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS period, l_returnflag,
        | count(l_orderkey) AS n_items
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "m_count_distinct" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        | count(DISTINCT o_custkey) AS customer_count
        |FROM orders GROUP BY period ORDER BY period""".stripMargin,

    "m_average_filtered" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        | round(avg(o_totalprice), 4) AS avg_order_value
        |FROM orders WHERE (o_totalprice) > (0) AND (o_orderstatus) = ('F')
        |GROUP BY period ORDER BY period""".stripMargin,

    "m_min_max" ->
      """SELECT o_orderpriority, min(o_totalprice) AS min_order,
        | max(o_totalprice) AS max_order, count(o_orderkey) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "m_median" ->
      """SELECT l_returnflag, round(median(l_quantity), 4) AS med_qty,
        | round(median(l_extendedprice), 4) AS med_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // same counts, u4 point rate, and the identical double composition
    // of the Wilson bounds (all literals forced to DOUBLE)
    "m_rate_wilson" ->
      """WITH m AS (
        | SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
        |   count(*) AS n_items,
        |   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |     AS n_returned
        | FROM lineitem GROUP BY 1),
        |w AS (SELECT period, n_items, n_returned,
        |   CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
        |   CAST(n_items AS DOUBLE) AS nd,
        |   CAST(n_returned AS DOUBLE) / n_items AS ph
        | FROM m)
        |SELECT period, n_items, n_returned,
        |  CAST((2*n_returned*10000 + n_items) // (2*n_items) AS BIGINT)
        |    AS rate_u4,
        |  round((ph + z2 / (nd * CAST(2.0 AS DOUBLE))
        |         - CAST(1.96 AS DOUBLE)
        |           * sqrt(ph * (CAST(1.0 AS DOUBLE) - ph) / nd
        |                  + z2 / (nd * nd * CAST(4.0 AS DOUBLE))))
        |        / (CAST(1.0 AS DOUBLE) + z2 / nd), 4) AS wilson_lo,
        |  round((ph + z2 / (nd * CAST(2.0 AS DOUBLE))
        |         + CAST(1.96 AS DOUBLE)
        |           * sqrt(ph * (CAST(1.0 AS DOUBLE) - ph) / nd
        |                  + z2 / (nd * nd * CAST(4.0 AS DOUBLE))))
        |        / (CAST(1.0 AS DOUBLE) + z2 / nd), 4) AS wilson_hi
        |FROM w ORDER BY period""".stripMargin,

    "m_ratio" ->
      """WITH g AS (
        | SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
        |  round(sum(CASE WHEN (l_returnflag) = ('R') THEN l_extendedprice END), 2) AS return_revenue,
        |  round(sum(l_extendedprice), 2) AS gross_revenue,
        |  sum(CASE WHEN (l_returnflag) = ('R')
        |      THEN CAST(round(l_extendedprice*100) AS BIGINT) END) AS rc,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS gc
        | FROM lineitem GROUP BY period)
        |SELECT period, return_revenue, gross_revenue,
        | CAST((2*rc*10000 + gc) // nullif(2*gc, 0) AS BIGINT) AS return_rate_u4
        |FROM g ORDER BY period""".stripMargin,

    "m_derived" ->
      s"""WITH g AS (
        | SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS period,
        |  ${graft.queries.Exact.sum4Sql} AS g4,
        |  ${graft.queries.Exact.sum6Sql} AS c6
        | FROM lineitem GROUP BY period)
        |SELECT period,
        | ${graft.queries.Exact.u4DollarsSql("g4")} AS gross_revenue,
        | ${graft.queries.Exact.u6DollarsSql("(c6 - g4*100)")} AS tax_paid
        |FROM g ORDER BY period""".stripMargin,

    "m_cumulative" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |         sum(o_totalprice) AS mr
        |  FROM orders GROUP BY period)
        |SELECT period, round(mr, 2) AS monthly_revenue,
        | round(sum(mr) OVER (ORDER BY period
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cumulative_revenue
        |FROM m ORDER BY period""".stripMargin,

    "m_cumulative_window" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |         o_orderpriority, sum(o_totalprice) AS mr
        |  FROM orders GROUP BY 1, 2)
        |SELECT period, o_orderpriority, round(mr, 2) AS monthly_revenue,
        | round(avg(mr) OVER (PARTITION BY o_orderpriority ORDER BY period
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS trailing3_avg
        |FROM m ORDER BY period, o_orderpriority""".stripMargin,

    "m_multi_grain" ->
      """SELECT 'week' AS grain, CAST(date_trunc('week', o_orderdate) AS DATE) AS period,
        | round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders GROUP BY 1, 2
        |UNION ALL
        |SELECT 'quarter' AS grain, CAST(date_trunc('quarter', o_orderdate) AS DATE) AS period,
        | round(sum(o_totalprice), 2) AS total_revenue
        |FROM orders GROUP BY 1, 2
        |ORDER BY grain, period""".stripMargin,

    "m_hourly_events" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS period, event_type,
        | count(event_id) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "m_dimensions" ->
      """SELECT r_name, c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        | count(o_orderkey) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "m_date_spine" ->
      """WITH bounds AS (
        |  SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS mn,
        |         CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS mx
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS period
        |  FROM bounds),
        |prios AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
        |m AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |    o_orderpriority AS prio,
        |    round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |  FROM orders WHERE o_totalprice > 480000 GROUP BY 1, 2)
        |SELECT s.period, p.prio,
        |  coalesce(m.revenue, 0.0) AS revenue,
        |  CAST(coalesce(m.n_orders, 0) AS BIGINT) AS n_orders
        |FROM spine s CROSS JOIN prios p
        |LEFT JOIN m ON m.period = s.period AND m.prio = p.prio
        |ORDER BY 1, 2""".stripMargin,

    // independent re-derivation as a range join over the deduped
    // user-day table (DuckDB's optimizer handles the small range join;
    // the engine uses the bounded day-explode instead — same result)
    "m_active_users_7d" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |days AS (SELECT DISTINCT day AS wday FROM ud)
        |SELECT d.wday, count(DISTINCT u.user_id) AS active_users_7d
        |FROM days d JOIN ud u ON u.day BETWEEN d.wday - 6 AND d.wday
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same cell grid as m_retention's oracle, plus the windowed
    // running sum in the same months order as the engine
    "m_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey, date_trunc('month', o_orderdate) AS m,
        |                  o_totalprice FROM orders),
        |f AS (SELECT o_custkey, min(m) AS cohort FROM o GROUP BY 1),
        |r AS (SELECT cohort, date_diff('month', cohort, m) AS months_since,
        |             round(sum(o_totalprice), 2) AS revenue,
        |             count(DISTINCT o.o_custkey) AS n_active
        |      FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |s AS (SELECT cohort, n_active AS cohort_size FROM r WHERE months_since = 0),
        |c AS (SELECT r.cohort, months_since, n_active, revenue, cohort_size,
        |        round(sum(revenue) OVER (PARTITION BY r.cohort ORDER BY months_since
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
        |      FROM r JOIN s ON r.cohort = s.cohort)
        |SELECT CAST(cohort AS DATE) AS cohort, months_since, n_active, revenue,
        |  cum_revenue, cum_revenue / cohort_size AS ltv_per_cust
        |FROM c ORDER BY cohort, months_since""".stripMargin,

    // the full recompute — the merge path must be indistinguishable
    "m_incremental" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
        |  round(sum(o_totalprice), 2) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
