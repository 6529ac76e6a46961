package graft.meta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metric → depends_on node → dataset-URN lineage resolution.
  *
  * Re-expresses the reference's `resolve_node_to_dataset_urn`
  * (reference: dbt_metrics_to_datahub.py:218-254): a dep id resolves
  * against the models (`database.schema.(alias|name)`) or the sources
  * (`database.schema.(identifier|name)`), always lowercased, and becomes
  * a DataHub-style dataset URN
  * `urn:li:dataset:(urn:li:dataPlatform:<platform>,<name>,<env>)`.
  *
  * Scale: dep ids explode to one row each and resolve by a hash lookup
  * in the manifest [[Summary]]'s driver-side map (one entry per node and
  * source), so resolution is a projection: no join, no exchange.
  */
object Lineage {

  def datasetUrn(name: Column, platform: String, env: String): Column =
    concat(lit(s"urn:li:dataset:(urn:li:dataPlatform:$platform,"), name, lit(s",$env)"))

  /** Python `a or b` falsiness: fall back on EMPTY STRING as well as
    * null (reference :229 `node.get('alias') or node.get('name')`,
    * :244 `identifier or name`) — `coalesce` alone would keep an
    * `alias: ""` and emit a different URN than the reference. */
  private def pyOr(a: Column, b: Column) =
    when(a.isNotNull && a =!= "", a).otherwise(b)

  /** Lowercased `database.schema.(preferred or name)` of a node or
    * source struct — `alias` for models, `identifier` for sources. */
  private[meta] def relation(entity: Column, preferred: String): Column =
    lower(concat_ws(".", entity("database"), entity("schema"),
      pyOr(entity(preferred), entity("name"))))

  /** One row per (metric, dep): metric_id, dep_pos, node_id, dataset_urn
    * (null where the dep resolves to neither a model nor a source —
    * the reference logs a warning and skips; we keep the row with a
    * null URN so callers can see unresolved deps). `metrics` needs only
    * `unique_id` and `depends_on`; `summary` is [[Summary.of]] over the
    * same manifest and carries the platform/env of its URNs. */
  def resolve(metrics: DataFrame, summary: Summary): DataFrame =
    metrics
      .select(col("unique_id").as("metric_id"),
        posexplode_outer(col("depends_on.nodes")).as(Seq("dep_pos", "node_id")))
      .withColumn("dataset_urn", summary.datasetUrn(col("node_id")))
}
