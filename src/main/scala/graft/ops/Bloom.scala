package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Bloom-pruned semi-join: build a bloom filter over the (already
  * filtered) build side's join keys, pre-filter the probe side MAP-SIDE
  * with it, then run the exact join on the survivors.
  *
  * Bloom filters have no false negatives, so every true match survives
  * the pre-filter; false positives are removed by the exact join — the
  * result is IDENTICAL to the plain semi-join (the SQL oracle states
  * exactly that). The win is shuffle volume: only probable matches
  * leave the probe side's scan stage, which is the decisive cost when
  * the probe side is 100 TB and the build side is selective. This is
  * the manual form of the row-level runtime filtering AQE can inject;
  * expressing it explicitly makes the technique available regardless
  * of planner heuristics.
  *
  * The built filter travels as a LITERAL (one driver-side row of ~1 MB,
  * the same metadata-sized hop as Similarity's IVF centroids) because
  * `might_contain` requires a foldable bloom input; tasks receive it
  * via the serialized task binary exactly as a broadcast would.
  */
object Bloom {

  // BloomFilterAggregate / BloomFilterMightContain are internal-only in
  // this Spark build (not on the SQL search path) — register them as
  // session functions the same way graft's own expressions are.
  private[graft] def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.GraftExtensions.registerOnce(spark, "graft_bloom_agg") { args =>
      require(args.length == 3, "graft_bloom_agg(key, nItems, nBits) takes 3 arguments")
      org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(args(0), args(1), args(2), 0, 0)
    }
    graft.functions.GraftExtensions.registerOnce(spark, "might_contain") { args =>
      require(args.length == 2, "might_contain(bloom, key) takes 2 arguments")
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
    }
  }

  /** `might_contain(bloomBytes, key)` over a driver-collected filter. */
  private def mightContain(bloomBytes: Array[Byte], key: Column): Column =
    call_function("might_contain", lit(bloomBytes), key)

  /** Probe rows whose `probeKey` is (probably) in `build`'s `buildKey`
    * set, pre-filtered by bloom then verified by the exact join. The
    * build key is aliased to a reserved name so probeKey == buildKey
    * (the common same-named-key case) never resolves ambiguously.
    * The projected build keys are checkpointed `once` so the build
    * side is scanned a single time even though it feeds both the bloom
    * aggregate (an action) and the exact verify join after it. */
  def semiJoin(probe: DataFrame, build: DataFrame,
               probeKey: String, buildKey: String,
               expectedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame = {
    register(probe.sparkSession)
    val keys = build.select(col(buildKey).as("_bloom_build_key")).distinct()
      .once("bloom.build_keys")
    val bf = keys
      .agg(call_function("graft_bloom_agg", col("_bloom_build_key"),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val pruned = probe.filter(mightContain(bf, col(probeKey)))
    pruned.join(keys, pruned(probeKey) === keys("_bloom_build_key"), "leftsemi")
  }

  /** The bloom pre-filter alone (false positives included) — exposed so
    * specs can measure pruning selectivity. */
  def prefilter(probe: DataFrame, build: DataFrame,
                probeKey: String, buildKey: String,
                expectedItems: Long = 100000L, numBits: Long = 1L << 20): DataFrame = {
    register(probe.sparkSession)
    val bf = build
      .agg(call_function("graft_bloom_agg", col(buildKey),
        lit(expectedItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    probe.filter(mightContain(bf, col(probeKey)))
  }
}
