package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed managed tables: the shuffle-FREE co-located join path.
  *
  * A fact⋈fact join (orders ⋈ lineitem on the order key) normally
  * shuffles BOTH sides every run. Writing each side `bucketBy` the
  * join key (and sorted within buckets) pays that shuffle ONCE at
  * write time; every subsequent join on the bucket key is planned as
  * a SortMergeJoin with ZERO Exchange on either side — the bucketing
  * metadata proves co-partitioning to Catalyst. At 100 TB this is the
  * difference between re-shuffling the two largest tables per query
  * and never shuffling them again; PlanSpec pins the exchange-free
  * join shape mechanically.
  *
  * Bucket count is a knob: it fixes the join parallelism for every
  * consumer, so size it to the cluster (here 8 for local[32] test
  * data; a real deployment uses hundreds).
  */
object Bucketed {

  /** Write orders+lineitem as managed tables bucketed by the join key.
    * Idempotent per (session, sfDir): re-registers only when the
    * source dir changes. */
  def setup(spark: SparkSession, sfDir: String, buckets: Int = 8): Unit = {
    val tag = s"graft_bucketed_src_$sfDir"
    if (spark.conf.getOption("graft.bucketed.src").contains(tag)) return
    // the default catalog is in-memory per JVM, so a previous process's
    // table DIRECTORY can survive without a catalog entry — drop both
    for (t <- Seq("graft_orders_b", "graft_lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Scratch.delete(java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t))
    }
    Tables.orders(spark, sfDir)
      .write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_orders_b")
    Tables.lineitem(spark, sfDir)
      .write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_lineitem_b")
    spark.conf.set("graft.bucketed.src", tag)
  }

  /** Revenue by order priority over the bucketed join — the join
    * itself moves zero bytes between executors. */
  def revenueByPriority(spark: SparkSession, sfDir: String): DataFrame = {
    setup(spark, sfDir)
    spark.table("graft_orders_b")
      .join(spark.table("graft_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy("o_orderpriority")
  }
}
