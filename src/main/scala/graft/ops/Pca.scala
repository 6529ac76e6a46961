package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.PlanBarrier.Barrier

/** Top principal directions of an embedding set by COVARIANCE-FREE
  * power iteration — the distributed PCA primitive.
  *
  * The d×d covariance matrix is never formed (at 100 TB it couldn't
  * be, and it isn't needed): each iteration computes
  *
  *     v ← normalize( Σ_x  x · (xᵀv) )
  *
  * as two key-partitioned aggregations over the exploded vectors —
  * dot products per vec_id, then weighted component sums per pos —
  * and the candidate direction lives as a (pos, v) TABLE of d rows
  * (broadcast into each join), so nothing vector-shaped ever reaches
  * the driver. Normalization attaches the 1-row norm via
  * [[Scalars.withScalar]] (no product join). Deterministic: the init
  * is the uniform unit vector, every step is plain relational
  * arithmetic, so an independent engine replays it exactly — which is
  * how the DuckDB oracle checks the result.
  *
  * Sign convention: whatever the iteration converges to from the
  * uniform init — stable across engines because the arithmetic is.
  */
object Pca {

  /** One power-iteration run over an exploded (vec_id, pos, x) table:
    * the estimated top eigenvector after `iters` rounds, as (pos, v). */
  private def iterate(x: DataFrame, iters: Int): DataFrame = {
    val d = x.agg(max("pos")).head().getInt(0) + 1 // bounded driver scalar
    var v = (x.select(col("pos")).distinct()
      .withColumn("v", lit(1.0 / math.sqrt(d.toDouble)))).cut("iterate.v")
    for (_ <- 1 to iters) {
      val dots = x.join(broadcast(v), "pos")
        .groupBy("vec_id").agg(sum(col("x") * col("v")).as("dot"))
      val w = (x.join(dots, "vec_id")
        .groupBy("pos").agg(sum(col("x") * col("dot")).as("w"))).cut("iterate.w")
      val norm = w.agg(sqrt(sum(col("w") * col("w"))).as("norm"))
      v = (Scalars.withScalar(w, col("pos"), norm, col("norm"))
        .select(col("pos"), (col("w") / col("norm")).as("v"))).cut("iterate.v2")
    }
    v
  }

  private def exploded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
      .once("pca.exploded") // reused twice per iteration

  /** (pos, v): the estimated top eigenvector after `iters` rounds. */
  def topDirection(emb: DataFrame, iters: Int = 3): DataFrame =
    iterate(exploded(emb), iters)

  /** Top TWO eigenvectors by Hotelling deflation: run the iteration,
    * subtract each vector's projection on the first direction
    * (x' = x − v₁·(xᵀv₁), one broadcast join + per-row map — x' is
    * EXACTLY orthogonal to v₁ row by row, so the second iteration
    * cannot re-find the first direction no matter its init), iterate
    * again on the residual. Output: (pos, c1, c2), d rows. The same
    * two-aggregation scale shape as [[topDirection]], run twice. */
  def topTwoDirections(emb: DataFrame, iters: Int = 3): DataFrame = {
    val x = exploded(emb)
    val v1 = iterate(x, iters)
    val dots = x.join(broadcast(v1), "pos")
      .groupBy("vec_id").agg(sum(col("x") * col("v")).as("dot"))
    val xd = x.join(dots, "vec_id")
      .join(broadcast(v1), "pos")
      .select(col("vec_id"), col("pos"),
        (col("x") - col("dot") * col("v")).as("x"))
      .once("topTwoDirections.xd") // the deflated table feeds iteration 2
    val v2 = iterate(xd, iters)
    v1.select(col("pos"), col("v").as("c1"))
      .join(v2.select(col("pos"), col("v").as("c2")), "pos")
  }
}
