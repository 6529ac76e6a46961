package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Package-private Spark API bridge for [[graft.ops.PlanBarrier]], the
  * one way graft materializes an intermediate.
  *
  * `Dataset.localCheckpoint` builds its result as
  * `LogicalRDD.fromDataset(...)`, which PRESERVES the source plan's
  * `originStats` and `originConstraints` across the checkpoint
  * boundary. In an iterative DataFrame loop (connected components,
  * PageRank, label propagation, k-core peel, BFS, power iteration)
  * whose body joins the loop-carried table — often with itself — the
  * size-only estimator multiplies the two sides' `sizeInBytes`
  * (SizeInBytesOnlyStatsPlanVisitor.visitJoin → default → product), so
  * the preserved estimate roughly SQUARES every round. The BigInt's
  * digit count then doubles per round and the driver ends up spending
  * whole seconds in BigInteger.multiply while "planning" a 9-node RDD
  * DAG: measured on the sf0.1 perceptual-hash component loop, plan
  * build went 0.4 s → 78 s between iterations 15 and 22 with stages,
  * tasks, and action time flat (jstack: all samples inside
  * BigInteger.multiplyToomCook3 under visitJoin).
  *
  * The fix is to rebuild the checkpoint as a FRESH leaf over the same
  * checkpointed InternalRow RDD, dropping the compounded
  * stats/constraints. That needs `internalCreateDataFrame`, which is
  * `private[sql]` — hence this one shim object inside the sql package.
  * Naming the RDD before its first computation also needs the RDD
  * itself, which `Dataset.localCheckpoint` does not expose. Everything
  * here is the public-bytecode surface of stock Apache Spark; no
  * behavior is patched.
  */
object GraftBarrier {

  /** Local checkpoint of `df` over an RDD named `site`. The InternalRow
    * RDD is row-copied (UnsafeRow buffers are reused by the scan —
    * caching without copy corrupts) and marked for local checkpoint;
    * `eager` computes it now (one job), otherwise the first stage that
    * reads it does. With `keepStats` the leaf carries the source plan's
    * constraints and output partitioning, as `Dataset.localCheckpoint`
    * does, and its statistics: the source plan's estimate when lazy,
    * the measured row count and size when eager (so an eager loop
    * iterate does not compound the estimate either). Without, it
    * carries DEFAULT statistics (`spark.sql.defaultSizeInBytes`), so it
    * never auto-broadcasts statically — correct for loop iterates, and
    * AQE still converts small shuffle sides to broadcast at runtime. */
  def checkpoint(df: Dataset[Row], site: String, eager: Boolean,
                 keepStats: Boolean): DataFrame = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = cds.queryExecution.toRdd.map(_.copy()).setName(site)
    rdd.localCheckpoint()
    val rows = if (eager) Some(rdd.count()) else None
    if (keepStats) {
      val leaf = LogicalRDD.fromDataset(rdd, cds, cds.isStreaming)
      classic.Dataset.ofRows(cds.sparkSession, rows.fold(leaf) { n =>
        val stats = Statistics(
          EstimationUtils.getOutputSize(leaf.output, BigInt(n)), Some(BigInt(n)))
        leaf.copy()(cds.sparkSession, Some(stats), Some(leaf.constraints))
      })
    } else cds.sparkSession.internalCreateDataFrame(rdd, cds.schema)
  }
}
