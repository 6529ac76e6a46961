package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.PlanBarrier.Barrier

/** Kaplan–Meier time-to-conversion over an event log.
  *
  * What a converted-only lag histogram CANNOT say: never-converted
  * users are not missing data, they are CENSORED observations — still
  * at risk until the observation window ends — and dropping them
  * biases every "time to convert" claim optimistic. Standard KM
  * (Kaplan & Meier 1958): per user t_u = days from first `view` to
  * first `purchase` on/after it, or to the corpus horizon if none
  * (censored); at each conversion day t the risk set n_t counts
  * everyone with t_u ≥ t, and S(t) multiplies (1 − d_t/n_t) over
  * event days.
  *
  * Exactness: the curve computes as exp(Σ ln(·)) under a CUMULATIVE
  * time-ordered window, so both engines accumulate in the identical
  * order (§5: the windowed prefix sum is the one float-sum shape with
  * a defined order). A day where everyone at risk converts drives S to
  * exactly 0; ln(0) is engine-divergent (Spark null, DuckDB error), so
  * that zero is carried by an explicit sticky flag.
  *
  * Scale shape: one groupBy(user) builds the per-user outcome; every
  * window runs on the ≤|days| event-time table (the block-offset
  * pattern), never raw events.
  * Output: t_day, n_risk, n_conv, survival (4dp). */
object Survival {

  def kmCurve(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      date_trunc("day", col("ts")).cast("date").as("d"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("d").as("f"))
      .shared("kmCurve.v") // cohort entry: feeds the probe and the base
    // conversion = first purchase ON/AFTER cohort entry (an earlier
    // purchase is outside this funnel, same rule as conversion_lag)
    val p = e.filter(col("event_type") === "purchase").join(v, "user_id")
      .filter(col("d") >= col("f"))
      .groupBy("user_id").agg(min("d").as("pd"))
    val ue = v.join(p, Seq("user_id"), "left")
    val mx = e.agg(max("d").as("md"))
    val ut = Scalars.withScalar(ue, col("user_id"), mx, col("md"))
      .select(
        when(col("pd").isNotNull, datediff(col("pd"), col("f")))
          .otherwise(datediff(col("md"), col("f"))).cast("long").as("tu"),
        when(col("pd").isNotNull, 1L).otherwise(0L).as("conv"))
      .shared("kmCurve.ut") // feeds the day table and the N scalar
    val byTu = ut.groupBy("tu").agg(count(lit(1)).as("c"), sum("conv").as("d"))
    val n = ut.agg(count(lit(1)).as("n_users"))
    val wPrev = Window.orderBy("tu").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("tu").rowsBetween(Window.unboundedPreceding, 0)
    Scalars.withScalar(
        byTu.withColumn("cum", coalesce(sum("c").over(wPrev), lit(0L))),
        col("tu"), n, col("n_users"))
      .withColumn("n_risk", col("n_users") - col("cum"))
      .filter(col("d") >= 1)
      .withColumn("lnterm", when(col("n_risk") > col("d"),
        log((col("n_risk") - col("d")).cast("double") / col("n_risk")))
        .otherwise(lit(0.0)))
      .withColumn("z", when(col("n_risk") === col("d"), 1L).otherwise(0L))
      .withColumn("survival", when(max("z").over(wCum) === 1L, lit(0.0))
        .otherwise(round(exp(sum("lnterm").over(wCum)), 4)))
      .select(col("tu").as("t_day"), col("n_risk"), col("d").as("n_conv"),
        col("survival"))
  }
}
