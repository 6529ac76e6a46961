package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBarrier}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way graft materializes an intermediate: a local checkpoint
  * of one of three kinds, named by what its readers need, each with a
  * site name (`"m_autocorr.z"`) that every stage computing or reading
  * it carries as its RDD name.
  *
  * A lazy checkpoint is computed by the first stage that reads it. Two
  * stages that read it and run at once (the two sides of a join or a
  * union, two query stages AQE materializes together, two forked jobs)
  * both compute it, the later copy of each block is thrown away
  * ("Block rdd_N_0 already exists on this machine"), and the later
  * stage's SQL metrics outlive their plan ("Failed to update
  * accumulator"). So:
  *
  *   - `cut` — lazy, statistics reset. The loop iterate, once per
  *     round. Plain checkpoints preserve the source plan's size
  *     estimate across the boundary, and a join in the loop body
  *     multiplies both sides' estimates, so the carried `sizeInBytes`
  *     squares per round and driver-side planning cost grows
  *     geometrically (see [[org.apache.spark.sql.GraftBarrier]]'s
  *     doc); `cut` keeps every round's planning cost constant. Its
  *     reads within a round run one after another.
  *   - `once` — lazy, the plan's statistics kept. For a table whose
  *     readers all run one after another: separate actions, or stages
  *     of one plan that only start after the checkpoint's first
  *     reader completed (a scalar subquery's result, a loop-invariant
  *     input read once per round).
  *   - `shared` — eager (one job, before any reader starts), carrying
  *     the measured row count and size. For a table that two readers
  *     run on at once: both sides of a join or union, forked jobs. The
  *     measured size never compounds, so a loop iterate read twice per
  *     round is `shared` as well.
  *
  * A table read by one stage needs no barrier: the stage computes the
  * plan either way, and the checkpoint only adds a block write. The
  * barriers kept for another job than reuse say which (a loop's
  * lineage cut, a pinned partition numbering, a literal kept from
  * constant folding).
  *
  * `cut`'s caller contract (ADVICE r12): the returned leaf carries the
  * DEFAULT (huge) size estimate, so a caller that joins a loop's FINAL
  * result against a big table will not get a static broadcast of the
  * result even when it is tiny — either add an explicit
  * `broadcast(...)` hint (as Pca and QualityClf do) or rely on AQE's
  * runtime conversion. Loop-INTERNAL joins are unaffected: the loop
  * bodies here join on keys and aggregate, and AQE re-plans them from
  * actual shuffle sizes.
  */
object PlanBarrier {

  implicit final class Barrier(private val df: DataFrame) extends AnyVal {

    /** Lazy, statistics reset: the per-round loop iterate. */
    def cut(site: String): DataFrame =
      GraftBarrier.checkpoint(df, site, eager = false, keepStats = false)

    /** Lazy, statistics kept: every reader runs after the first. */
    def once(site: String): DataFrame =
      GraftBarrier.checkpoint(df, site, eager = false, keepStats = true)

    /** Eager, statistics measured: readers that run at the same time. */
    def shared(site: String): DataFrame =
      GraftBarrier.checkpoint(df, site, eager = true, keepStats = true)
  }

  /** Drop the blocks of a local checkpoint. `Dataset.unpersist()`
    * releases nothing here: the checkpoint is not in the CacheManager,
    * so its RDD stays in `sc.getPersistentRDDs` until the context
    * cleaner collects it. This unpersists the RDD under every
    * `LogicalRDD` leaf of `checkpointed`'s plan instead. Neither the
    * table nor any DataFrame built on it may be read afterwards. */
  def release(checkpointed: DataFrame): Unit =
    rdds(checkpointed).foreach(_.unpersist(blocking = false))

  /** The RDDs under the `LogicalRDD` leaves of `df`'s plan. */
  def rdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
}
