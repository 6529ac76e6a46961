package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.PlanBarrier.Barrier

/** dbt `manifest.json` → DataFrames.
  *
  * Re-expresses the reference's `load_manifest` / `parse_metrics` /
  * `parse_semantic_models` (reference: dbt_metrics_to_datahub.py:119-170)
  * as Spark transformations. [[parse]] builds the manifest's ENTITY
  * TABLE once: one row per entity of every section (manifest sections
  * are JSON objects keyed by unique_id), each entity parsed once into
  * its section's struct, behind a lazy `localCheckpoint`. The section
  * views ([[metrics]], [[nodes]], [[sources]], [[semanticModels]],
  * [[malformed]]) are projections of that table and parse no JSON, so
  * every branch of a downstream plan reads the same parsed rows.
  *
  * Driver-side work is O(1): only the raw JSON string moves through the
  * session; all shaping happens in the plan, so a multi-thousand-node
  * manifest costs the same code path as the test fixture.
  */
object Manifest {

  private val filterType = ArrayType(StructType(Seq(
    StructField("field", StringType), StructField("operator", StringType),
    StructField("value", StringType))))

  private val metricType = StructType(Seq(
    StructField("name", StringType),
    StructField("label", StringType),
    StructField("description", StringType),
    StructField("type", StringType),
    StructField("calculation_method", StringType),
    StructField("expression", StringType),
    StructField("timestamp", StringType),
    StructField("time_grains", ArrayType(StringType)),
    StructField("dimensions", ArrayType(StringType)),
    StructField("filters", filterType),
    StructField("meta", MapType(StringType, StringType)),
    StructField("tags", ArrayType(StringType)),
    StructField("package_name", StringType),
    StructField("path", StringType),
    StructField("depends_on", StructType(Seq(StructField("nodes", ArrayType(StringType))))),
  ))

  private val nodeType = StructType(Seq(
    StructField("database", StringType), StructField("schema", StringType),
    StructField("name", StringType), StructField("alias", StringType),
    StructField("resource_type", StringType), StructField("package_name", StringType),
    StructField("depends_on", StructType(Seq(StructField("nodes", ArrayType(StringType))))),
  ))

  private val sourceType = StructType(Seq(
    StructField("database", StringType), StructField("schema", StringType),
    StructField("name", StringType), StructField("identifier", StringType),
    StructField("resource_type", StringType), StructField("source_name", StringType),
  ))

  private val semanticModelType = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("model", StringType),
    StructField("dimensions", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("type", StringType))))),
    StructField("measures", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("agg", StringType))))),
    StructField("entities", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("type", StringType))))),
  ))

  private val sectionSchemas: Map[String, StructType] = Map(
    "metrics" -> metricType, "nodes" -> nodeType,
    "sources" -> sourceType, "semantic_models" -> semanticModelType)

  /** The entity table: `section`, `unique_id`, `well_formed`,
    * `raw_entity` (kept only where not well-formed) and one struct column
    * per section (`metrics`, `nodes`, `sources`, `semantic_models`),
    * filled on that section's well-formed rows.
    *
    * Sections pass through `from_json` as string-valued maps, so each
    * entity's raw JSON arrives verbatim and parses INDIVIDUALLY: one
    * mangled entry degrades to a skipped+flagged row instead of
    * nullifying the whole section map — the Spark re-expression of the
    * reference's per-metric try/except-and-continue (reference:
    * dbt_metrics_to_datahub.py:355-359). An entity that is not a JSON
    * object (number, array, string, null) cannot carry the section's
    * fields and is the malformed case; wrong-TYPED fields inside an
    * object degrade to per-field nulls (PERMISSIVE).
    *
    * The table is checkpointed lazily: the first action parses it, and
    * every later read of any section reuses those rows. The checkpoint
    * pins the rows in the block manager and cuts their lineage: a lost
    * block fails later reads instead of re-parsing the JSON.
    * [[graft.ops.PlanBarrier.release]] drops the blocks once the caller
    * is done with the table; otherwise Spark's context cleaner drops
    * them after the table is garbage-collected. */
  def parse(spark: SparkSession, manifestJson: String): DataFrame = {
    import spark.implicits._
    val jsonMap = MapType(StringType, StringType)
    val entities = Seq(manifestJson).toDF("raw")
      .select(explode(from_json(col("raw"), jsonMap)).as(Seq("section", "body")))
      .where(col("section").isin(sectionSchemas.keys.toSeq: _*))
      .select(col("section"),
        explode(from_json(col("body"), jsonMap)).as(Seq("unique_id", "raw_entity")))
      // rlike on a JSON-null entity is null: coalesce keeps it malformed
      .withColumn("well_formed", coalesce(col("raw_entity").rlike("^\\s*\\{"), lit(false)))
    entities
      .select(Seq(col("section"), col("unique_id"), col("well_formed"),
          when(!col("well_formed"), col("raw_entity")).as("raw_entity")) ++
        sectionSchemas.map { case (field, schema) =>
          when(col("section") === field && col("well_formed"),
            from_json(col("raw_entity"), schema)).as(field)
        }: _*)
      .once("manifest.entities")
  }

  /** The built-in test fixture (same logical content the reference's own
    * test manifest exercises: 3 metrics, 2 models, 2 sources). */
  def fixtureJson: String = {
    val in = getClass.getResourceAsStream("/graft/fixture_manifest.json")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** A later "deploy" of the same project: total_revenue's expression
    * and label changed, avg_order_value removed, order_count added —
    * the drift fixture for catalog-diff ingestion. */
  def fixtureJsonV2: String = {
    val in = getClass.getResourceAsStream("/graft/fixture_manifest_v2.json")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def section(parsed: DataFrame, field: String): DataFrame =
    parsed.where(col("section") === field && col("well_formed"))
      .select(col("unique_id"), col(s"$field.*"))

  /** The entries [[section]] SKIPPED: unique_id + raw JSON of entities
    * that are not JSON objects (`raw_entity` is null for a JSON-null
    * entry). The reference logs these and continues (:355-359); callers
    * surface them for observability instead of the whole ingestion
    * failing. */
  def malformed(parsed: DataFrame, field: String): DataFrame =
    parsed.where(col("section") === field && !col("well_formed"))
      .select(col("unique_id"), col("raw_entity"))

  /** metrics section → one row per metric (reference parse_metrics :125-150). */
  def metrics(parsed: DataFrame): DataFrame = section(parsed, "metrics")

  /** nodes (models) section → one row per node. */
  def nodes(parsed: DataFrame): DataFrame = section(parsed, "nodes")

  /** sources section → one row per source. */
  def sources(parsed: DataFrame): DataFrame = section(parsed, "sources")

  /** semantic_models section (reference parse_semantic_models :152-170). */
  def semanticModels(parsed: DataFrame): DataFrame = section(parsed, "semantic_models")

  /** Manifest metrics as executable [[graft.metrics.MetricDef]]s — the
    * bridge the reference never crosses: it only catalogs these fields
    * (dbt_metrics_to_datahub.py:125-150); graft compiles them to plans
    * via [[graft.metrics.MetricCompiler]]. Driver-side collect is
    * metadata-sized (one row per metric definition, not per data row). */
  def toMetricDefs(metricsDf: DataFrame): Seq[graft.metrics.MetricDef] = {
    import graft.metrics.{MetricDef, MetricFilter}
    metricsDf.select("name", "calculation_method", "expression", "timestamp",
        "filters", "dimensions", "time_grains")
      .collect().toSeq.map { r =>
        val filters = Option(r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("filters"))
          .getOrElse(Nil).map(f => MetricFilter(
            f.getAs[String]("field"), f.getAs[String]("operator"), f.getAs[String]("value")))
        def strs(col: String): Seq[String] =
          Option(r.getAs[scala.collection.Seq[String]](col)).map(_.toSeq).getOrElse(Nil)
        MetricDef(
          name = r.getAs[String]("name"),
          calculationMethod = r.getAs[String]("calculation_method"),
          expression = r.getAs[String]("expression"),
          timestamp = Option(r.getAs[String]("timestamp")),
          filters = filters.toSeq,
          dimensions = strs("dimensions"),
          timeGrains = strs("time_grains"))
      }
  }
}
