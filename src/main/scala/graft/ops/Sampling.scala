package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Survey-sampling allocation planners over grouped data.
  *
  * These plan WHERE a fixed sample budget goes before any row is
  * drawn — the step ahead of sample_stratified / sample_source_quota,
  * which realize a quota. Everything runs on the per-stratum aggregate
  * (a handful of rows), so the only full-data pass is the moment
  * aggregation; the windows below are single-partition by construction
  * but over ≤ |strata| rows — the block-offset-table pattern, never
  * raw data.
  */
object Sampling {

  /** Neyman-optimal allocation of `budget` sample rows across strata:
    * n_h ∝ N_h·S_h (Neyman 1934 — minimizes the variance of the
    * stratified mean under a fixed total budget), next to the
    * proportional allocation n_h ∝ N_h it improves on when strata
    * variances differ.
    *
    * Exactness (§5): moments accumulate in DECIMAL(38,0) (Σx² over
    * 10¹² integer-unit rows outgrows BIGINT), the variance numerator
    * V = N·Σx² − (Σx)² and its per-degree quotient U = V div (N−1)
    * stay exact integers, and the weight w = ⌊√(N·U)⌋ ≈ N_h·S_h is the
    * ONE continuous step — both engines convert the same exact integer
    * to the same nearest double and floor the same square root. The
    * allocations themselves are pure integer largest-remainder: base
    * = (budget·w) div Σw, and the budget−Σbase leftovers go to the
    * largest remainders (stratum-key tiebreak), so Σn_h == budget
    * exactly and no float ratio ever decides a seat. When EVERY
    * weight is zero (all strata single-row or zero-variance — Neyman
    * has no signal to allocate on), the apportionment falls back to
    * uniform weight 1 per stratum (r10 ADVICE: the zero-weight pass
    * previously handed out at most one seat per stratum, breaking the
    * Σn_h == budget contract), so the budget invariant holds
    * unconditionally.
    *
    * Output: stratum, n_rows, w, alloc_neyman, alloc_prop. */
  def neymanAlloc(df: DataFrame, stratum: Column, x: Column,
                  budget: Long): DataFrame = {
    val st = df.select(stratum.as("stratum"), x.cast("long").as("x"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sx2"))
      .withColumn("v",
        col("n_rows").cast("decimal(38,0)") * col("sx2") - col("sx") * col("sx"))
      .withColumn("u", expr(
        "CASE WHEN n_rows > 1 THEN v div (n_rows - 1) ELSE CAST(0 AS BIGINT) END"))
      .withColumn("w",
        floor(sqrt((col("n_rows").cast("decimal(38,0)") * col("u"))
          .cast("double"))).cast("long"))
      .shared("neymanAlloc.st") // |strata| rows feed both allocation passes

    // largest-remainder apportionment of `budget` by integer weight;
    // all-zero weights degrade to uniform (weight 1, total |strata|)
    // so Σ base + leftovers == budget in every case
    def apportion(weights: DataFrame, wc: String, out: String): DataFrame = {
      val tot = weights.agg(sum(col(wc)).as("tw"), count(lit(1)).as("ns"))
      val based = Scalars.withScalar(weights, col("stratum"), tot, col("tw"))
        .withColumn("ew", expr(s"CASE WHEN tw = 0 THEN 1L ELSE $wc END"))
        .withColumn("etw", expr("CASE WHEN tw = 0 THEN ns ELSE tw END"))
        .withColumn("base", expr(s"(${budget}L * ew) div etw"))
        .withColumn("rem", expr(s"(${budget}L * ew) % etw"))
      val sb = based.agg(sum("base").as("sb"))
      val wnd = org.apache.spark.sql.expressions.Window
        .orderBy(desc("rem"), asc("stratum"))
      Scalars.withScalar(based, col("stratum"), sb, col("sb"))
        .withColumn("rk", row_number().over(wnd))
        .withColumn(out,
          col("base") + when(col("rk") <= lit(budget) - col("sb"), 1L)
            .otherwise(0L))
        .select(col("stratum"), col(out))
    }

    st.select("stratum", "n_rows", "w")
      .join(apportion(st.select("stratum", "w"), "w", "alloc_neyman"), "stratum")
      .join(apportion(st.select(col("stratum"), col("n_rows")),
        "n_rows", "alloc_prop"), "stratum")
  }
}
