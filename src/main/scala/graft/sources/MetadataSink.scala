package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Emission endpoint for metadata records (glossary nodes/terms, lineage).
  *
  * The reference emits each record to a REST endpoint one MCP at a time,
  * with a dry-run mode that only logs (reference:
  * dbt_metrics_to_datahub.py:100-117). Spark-first, the emission is a
  * batch sink: the records DataFrame is written once (parquet or json),
  * so a million-term glossary is one distributed write, not a driver
  * loop of HTTP calls. Dry-run validates the plan and counts records
  * without writing anything.
  *
  * `ordered=true` is the batch analog of the reference's emit ORDER
  * (root node, then category nodes, then terms — parents exist before
  * children reference them, reference :337-352): the write partitions
  * by an `emit_order` rank, so a sequential replayer draining the sink
  * into an ordering-sensitive target (a REST catalog) processes
  * `emit_order=0,1,2` directories in turn and never sees a child
  * before its parent.
  */
object MetadataSink {

  final case class EmitResult(records: Long, path: Option[String])

  /** Parents-first emission rank: root node (no parent) → category
    * nodes → terms. */
  private def emitOrder: Column =
    when(col("entity_type") === "glossaryNode" && col("parent_urn").isNull, 0)
      .when(col("entity_type") === "glossaryNode", 1)
      .otherwise(2)

  /** Write `records` to `path` as `format` ("parquet" | "json");
    * `dryRun=true` validates + counts without writing; `ordered=true`
    * partitions the sink by parents-first `emit_order` (requires
    * entity_type/parent_urn columns — glossary-shaped records). The
    * returned count reads the sink back with the schema just written,
    * so the read needs no schema-inference pass over the files. */
  def emit(records: DataFrame, path: String, format: String = "parquet",
           dryRun: Boolean = false, ordered: Boolean = false): EmitResult = {
    require(Set("parquet", "json")(format), s"unsupported sink format: $format")
    if (dryRun) EmitResult(records.count(), None)
    else {
      require(!ordered ||
        (records.columns.contains("entity_type") && records.columns.contains("parent_urn")),
        "ordered emit needs glossary-shaped records (entity_type, parent_urn)")
      val out = if (ordered) records.withColumn("emit_order", emitOrder) else records
      val writer = out.write.mode("overwrite").format(format)
      (if (ordered) writer.partitionBy("emit_order") else writer).save(path)
      EmitResult(records.sparkSession.read.schema(out.schema).format(format).load(path).count(),
        Some(path))
    }
  }
}
