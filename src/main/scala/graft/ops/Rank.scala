package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Global total-order rank WITHOUT the single-partition window — the
  * same two-level decomposition as [[Pack.sequencePack]], applied to a
  * value ordering instead of a stable-id ordering.
  *
  * `Window.orderBy(...)` with no partition key plans as a one-task sort
  * of the whole table — the classic scale cliff. Instead:
  *
  *   1. rows block by coarse VALUE range (`value div blockWidth`); the
  *      rank window runs WITHIN each block, partitioned across the
  *      cluster;
  *   2. per-block row counts (one tiny row per block) prefix-sum in
  *      block-descending order, giving each block's starting offset;
  *   3. global rank = block offset + within-block rank.
  *
  * Identical by construction to `row_number() OVER (ORDER BY value
  * DESC, tie ASC)` — which is exactly how the DuckDB oracle computes
  * it. Block sizes follow the VALUE distribution, so a pathological
  * spike (worst case: an all-equal column) collapses into one block —
  * that edge is exactly what [[globalRankByRange]] removes by sampling
  * boundaries from the composite (value, tie) order instead; prefer it
  * when the value distribution is unknown. The offset algebra is the
  * same in both.
  *
  * The input is referenced TWICE (block offsets + the ranked side), so
  * callers ranking an EXPENSIVE derived table should localCheckpoint
  * it first (m_gini/m_rfm do); for a raw source scan the double read
  * is cheaper than materializing it.
  */
object Rank {

  /** Appends bigint `rnk` = position under (valueCol DESC, tieCol ASC).
    * Works for any numeric valueCol (blocks come from floor division). */
  def globalRank(df: DataFrame, valueCol: String, tieCol: String,
                 blockWidth: Double = 64.0): DataFrame = {
    require(!df.columns.contains("__blk"), "__blk is reserved by globalRank")
    val t = df.withColumn("__blk",
      floor(col(valueCol) / lit(blockWidth)).cast("long"))
    val wIn = Window.partitionBy("__blk")
      .orderBy(col(valueCol).desc, col(tieCol).asc)
    // one row per block — the only unpartitioned window runs over this
    // bounded table, never the raw rows
    val wBlk = Window.orderBy(col("__blk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy("__blk").agg(count(lit(1)).as("blk_n"))
      .withColumn("blk_off", coalesce(sum("blk_n").over(wBlk), lit(0L)))
      .select("__blk", "blk_off")
    t.withColumn("rnk_in", row_number().over(wIn).cast("bigint"))
      .join(broadcast(offsets), "__blk")
      .withColumn("rnk", col("blk_off") + col("rnk_in"))
      .drop("__blk", "rnk_in", "blk_off")
  }

  /** [[globalRank]] with SAMPLED block boundaries instead of a fixed
    * value width: rows range-partition on (valueCol DESC, tieCol ASC)
    * — Spark's RangePartitioner draws the bounds from a reservoir
    * sample of the actual distribution — and the block id is the
    * resulting partition id. The offset algebra is identical; what
    * changes is robustness: a fixed `blockWidth` collapses an
    * all-equal (or heavily spiked) value column into ONE block, i.e.
    * a single-task sort, while range bounds split on the TIE column
    * too (the composite ordering key is unique), so blocks stay
    * ~n/numBlocks regardless of the value distribution.
    *
    * The ranks are boundary-independent (rank = position under the
    * total order, wherever the cuts land), so the sampled bounds
    * never affect the result — only the balance. `parted` is
    * referenced twice (offsets + the ranked side) and MUST come from
    * ONE physical evaluation: `__pid` is `spark_partition_id()`, and
    * AQE is free to coalesce the range exchange differently on each
    * reference (and the sampled bounds themselves can be re-drawn in
    * a separate job), silently renumbering partitions — offsets from
    * one numbering against ranks from the other duplicate and skip
    * ranks (caught by m_exact_percentiles at sf0.01: max rnk 59928 of
    * 60000). Hence the EAGER localCheckpoint before fan-out. */
  def globalRankByRange(df: DataFrame, valueCol: String, tieCol: String,
                        numBlocks: Int = 64): DataFrame = {
    require(!df.columns.contains("__pid"), "__pid is reserved by globalRankByRange")
    val parted = df
      .repartitionByRange(numBlocks, col(valueCol).desc, col(tieCol).asc)
      .withColumn("__pid", spark_partition_id())
      .shared("globalRankByRange.parted") // eager: pin ONE partition numbering for both consumers
    val wIn = Window.partitionBy("__pid")
      .orderBy(col(valueCol).desc, col(tieCol).asc)
    val wBlk = Window.orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy("__pid").agg(count(lit(1)).as("blk_n"))
      .withColumn("blk_off", coalesce(sum("blk_n").over(wBlk), lit(0L)))
      .select("__pid", "blk_off")
    parted.withColumn("rnk_in", row_number().over(wIn).cast("bigint"))
      .join(broadcast(offsets), "__pid")
      .withColumn("rnk", col("blk_off") + col("rnk_in"))
      .drop("__pid", "rnk_in", "blk_off")
  }

  /** Appends `prior` = the EXCLUSIVE running sum of `valueCol` within
    * each `groupCol` partition under `orderCols` — identical by
    * construction to `sum(value) OVER (PARTITION BY group ORDER BY …
    * ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)` (null → 0) —
    * WITHOUT that form's one-task-per-group sort.
    *
    * `Window.partitionBy(source)` makes each source ONE task: at
    * corpus scale with tens of sources, every task sorts
    * corpus/|sources| rows — the single-hot-partition class. Instead
    * the same (blk, offset) decomposition as the token-mass curriculum
    * cumsum, keyed by (group, block):
    *
    *   1. rows range-partition on (groupCol ASC, orderCols…) with
    *      SAMPLED bounds — blocks stay ~n/numBlocks regardless of how
    *      skewed the per-group populations are, and a group's rows
    *      occupy a contiguous ascending run of partition ids;
    *   2. the exclusive cumsum runs WITHIN each (group, block) —
    *      distributed, bounded tasks;
    *   3. each (group, block) inherits the sum of the group's earlier
    *      blocks from a broadcast offset table of ≤ |groups|·numBlocks
    *      rows — the only group-partitioned window runs over THAT
    *      table, never the raw rows.
    *
    * Result is boundary-independent (the prior sum depends only on the
    * total order, not where the cuts land), so the sampled bounds only
    * affect balance. `__pid` is referenced twice (offsets + the summed
    * side) and MUST come from one physical evaluation — hence the
    * eager localCheckpoint, same pin as [[globalRankByRange]].
    *
    * `orderCols` must totally order rows within a group (include a
    * unique tie-break) or the prior sums are nondeterministic. At
    * 100 TB raise `numBlocks` so blocks fit an executor's sort buffer.
    */
  def perGroupRunningSum(df: DataFrame, groupCol: String, valueCol: String,
                         orderCols: Seq[Column], numBlocks: Int = 32,
                         priorName: String = "prior"): DataFrame = {
    require(!df.columns.contains("__pid"),
      "__pid is reserved by perGroupRunningSum")
    val parted = df
      .repartitionByRange(numBlocks, (col(groupCol).asc +: orderCols): _*)
      .withColumn("__pid", spark_partition_id())
      .shared("perGroupRunningSum.parted") // eager: pin ONE partition numbering for both consumers
    val wIn = Window.partitionBy(col(groupCol), col("__pid"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per (group, block) — the only group-wide window runs
    // over this bounded table, never the raw rows
    val wBlk = Window.partitionBy(groupCol).orderBy(col("__pid").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col(groupCol), col("__pid"))
      .agg(sum(col(valueCol)).cast("bigint").as("__blk_sum"))
      .withColumn("__blk_off", coalesce(sum("__blk_sum").over(wBlk), lit(0L)))
      .select(col(groupCol), col("__pid"), col("__blk_off"))
    parted
      .withColumn("__prior_in",
        coalesce(sum(col(valueCol)).over(wIn).cast("bigint"), lit(0L)))
      .join(broadcast(offsets), Seq(groupCol, "__pid"))
      .withColumn(priorName, col("__blk_off") + col("__prior_in"))
      .drop("__pid", "__prior_in", "__blk_off")
  }

  /** Appends `run_max` = max(valueCol) over all rows with orderCol ≤
    * this row's orderCol — the prefix-MAX instance of the same
    * two-level decomposition: the running max runs WITHIN each
    * orderCol block (partitioned window), and each block inherits the
    * prefix max of the blocks before it from a broadcast of the tiny
    * one-row-per-block table. Identical by construction to
    * `max(value) OVER (ORDER BY orderCol ROWS UNBOUNDED PRECEDING)` —
    * without that form's single-task sort. orderCol must be a unique
    * non-negative integer (an ingest sequence id); blocks come from
    * floor division so the block table is |rows|/blockWidth. Both
    * references read the raw input (the block key is derived from the
    * DATA, not from partition ids, so no checkpoint pin is needed —
    * contrast [[globalRankByRange]]). */
  def runningMax(df: DataFrame, orderCol: String, valueCol: String,
                 blockWidth: Long = 4096L): DataFrame = {
    require(!df.columns.contains("__blk"), "__blk is reserved by runningMax")
    val t = df.withColumn("__blk", expr(s"$orderCol div ${blockWidth}L"))
    val wIn = Window.partitionBy("__blk").orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wBlk = Window.orderBy(col("__blk").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // one row per block — the only unpartitioned window is over this
    val prev = t.groupBy("__blk").agg(max(valueCol).as("__blk_max"))
      .withColumn("__prev_max", max("__blk_max").over(wBlk)) // null @ first
      .select("__blk", "__prev_max")
    t.withColumn("__in_max", max(col(valueCol)).over(wIn))
      .join(broadcast(prev), "__blk")
      .withColumn("run_max",
        greatest(col("__in_max"), coalesce(col("__prev_max"), col("__in_max"))))
      .drop("__blk", "__in_max", "__prev_max")
  }
}
