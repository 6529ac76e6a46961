package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBarrier}
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage + statistics barrier for loop-carried DataFrames.
  *
  * Every iterative operator in this library (connected components,
  * PageRank, label propagation, k-core peel, BFS layers, PCA power
  * iteration, Lloyd refinement) cuts the loop-carried table's lineage
  * once per round with a lazy local checkpoint. Plain
  * `localCheckpoint(false)` is NOT enough: it preserves the source
  * plan's size estimate across the boundary, and a join in the loop
  * body multiplies both sides' estimates, so the carried `sizeInBytes`
  * squares per round and driver-side planning cost grows geometrically
  * — ~2.5× per iteration, reaching tens of seconds of pure
  * BigInteger.multiply by round 20 (see the measurement in
  * [[org.apache.spark.sql.GraftBarrier]]'s doc).
  *
  * `cut` checkpoints AND resets the estimate to the default, keeping
  * every round's planning cost constant no matter how many rounds run.
  * Use it for the table that feeds the next iteration; loop-INVARIANT
  * inputs (the edge list, the adjacency table) can keep plain
  * `localCheckpoint(false)`, whose honest stats remain useful to the
  * planner and are computed exactly once.
  *
  * A lazy checkpoint is computed by the first stage that reads it. Two
  * stages that read it and run at once (the two sides of a join or a
  * union, two query stages AQE materializes together) both compute it,
  * and the later copy of each block is thrown away ("Block rdd_N_0
  * already exists on this machine"). A table with two such readers is
  * checkpointed eagerly (an action, before either reader starts) or
  * rewritten to have one reader, e.g. an aggregate joined back becomes
  * a window.
  */
object PlanBarrier {

  /** Lazy local checkpoint with statistics reset — the per-round
    * barrier for iterative loops.
    *
    * Caller contract (ADVICE r12): the returned leaf carries the
    * DEFAULT (huge) size estimate, so a caller that joins a loop's
    * FINAL result against a big table will not get a static broadcast
    * of the result even when it is tiny — either add an explicit
    * `broadcast(...)` hint (as Pca and QualityClf do) or rely on AQE's
    * runtime conversion. Loop-INTERNAL joins are unaffected: the loop
    * bodies here join on keys and aggregate, and AQE re-plans them from
    * actual shuffle sizes. */
  def cut(df: DataFrame): DataFrame = GraftBarrier.localCheckpointStatsReset(df)

  /** Drop the blocks of a local checkpoint. `Dataset.unpersist()`
    * releases nothing here: the checkpoint is not in the CacheManager,
    * so its RDD stays in `sc.getPersistentRDDs` until the context
    * cleaner collects it. This unpersists the RDD under every
    * `LogicalRDD` leaf of `checkpointed`'s plan instead. Neither the
    * table nor any DataFrame built on it may be read afterwards. */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
