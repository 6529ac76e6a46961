package graft.meta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Glossary hierarchy (root → category → term) as DataFrame transforms.
  *
  * Re-expresses the reference's `create_glossary_hierarchy` and
  * `emit_metric_as_glossary_term` (reference:
  * dbt_metrics_to_datahub.py:172-216, :256-335): nested categories like
  * `Finance/Revenue` become dot-joined URN paths, the term URN is
  * `<root>.<category path>.<metric name>`, and every metric field the
  * reference flattens into GlossaryTermInfo customProperties (dbt ids,
  * calc method, dims/grains/filters/tags, `meta_*` passthrough,
  * upstream dataset URNs) becomes an entry of a map column here.
  *
  * The records are one projection of the once-parsed metric rows plus
  * two driver-built relations (the root node, and the category nodes
  * from the manifest [[Summary]]), so emitting them is one stage.
  */
object Glossary {

  val DefaultRoot = "dbt_metrics"

  private def nodeUrn(name: Column): Column = concat(lit("urn:li:glossaryNode:"), name)
  private def termUrn(name: Column): Column = concat(lit("urn:li:glossaryTerm:"), name)

  /** A metric's glossary category path, from its `meta` map. */
  private[meta] def category(meta: Column): Column =
    coalesce(element_at(meta, "datahub_glossary_category"), lit("Uncategorized"))

  /** All glossary records (root node + category nodes + term per metric)
    * with columns: entity_type, urn, name, definition, parent_urn,
    * custom_properties, term_source. `metrics` must be
    * [[graft.model.Manifest.metrics]] of the parsed table that `summary`
    * ([[Summary.of]]) was built from, with no filtering: the category
    * nodes come from the summary's category set, so a subset of the
    * metrics would leave category nodes with no terms under them. The
    * summary's dataset-URN lookup gives the `upstream_datasets`
    * property, so the records plan has no join and no exchange and reads
    * `metrics` once. */
  def records(metrics: DataFrame, summary: Summary, root: String = DefaultRoot): DataFrame = {
    val spark = metrics.sparkSession
    import spark.implicits._

    val rootDf = Seq((
      "glossaryNode", s"urn:li:glossaryNode:$root", root,
      "dbt metrics ingested from dbt project"))
      .toDF("entity_type", "urn", "name", "definition")
      .withColumn("parent_urn", lit(null).cast("string"))
      .withColumn("custom_properties", lit(null).cast("map<string,string>"))

    // one partition: the category nodes land in one sink file
    val cats = summary.categories.toDF("cat").coalesce(1)
      .select(
        lit("glossaryNode").as("entity_type"),
        nodeUrn(concat(lit(s"$root."), regexp_replace(col("cat"), "/", "."))).as("urn"),
        element_at(split(col("cat"), "/"), -1).as("name"),
        concat(lit("Metrics in category: "), col("cat")).as("definition"),
        lit(s"urn:li:glossaryNode:$root").as("parent_urn"),
        lit(null).cast("map<string,string>").as("custom_properties"))

    // upstream dataset URNs per metric, in depends_on order; unresolved
    // deps are left out, and none at all gives "" (dropped below)
    val upstream = array_join(filter(
      transform(coalesce(col("depends_on.nodes"), array()), summary.datasetUrn(_)),
      _.isNotNull), ", ")

    // reference custom-properties flattening (:269-304); null/empty
    // entries are dropped, matching the reference's conditional adds
    val fixedProps: Column = map_filter(
      map(
        lit("dbt_unique_id"), col("unique_id"),
        lit("dbt_package"), col("package_name"),
        lit("dbt_path"), col("path"),
        lit("metric_type"), col("type"),
        lit("calculation_method"), col("calculation_method"),
        lit("expression"), col("expression"),
        lit("dimensions"), array_join(coalesce(col("dimensions"), array()), ", "),
        lit("time_grains"), array_join(coalesce(col("time_grains"), array()), ", "),
        lit("filters"), when(size(col("filters")) > 0, to_json(col("filters"))),
        lit("tags"), array_join(coalesce(col("tags"), array()), ", "),
        lit("upstream_datasets"), upstream),
      (_, v) => v.isNotNull && v =!= "")

    val metaProps: Column = transform_keys(
      map_filter(coalesce(col("meta"), map()), (k, _) => k =!= "datahub_glossary_category"),
      (k, _) => concat(lit("meta_"), k))

    // reference GlossaryTermInfo: name=label||name, definition=
    // description||fallback (empty string also falls back, like
    // Python's `or`), termSource="dbt" (:310-316)
    val catPath = regexp_replace(category(col("meta")), "/", ".")
    val terms = metrics.select(
      lit("glossaryTerm").as("entity_type"),
      termUrn(concat_ws(".", lit(root), catPath, col("name"))).as("urn"),
      when(col("label").isNotNull && col("label") =!= "", col("label"))
        .otherwise(col("name")).as("name"),
      when(col("description").isNotNull && col("description") =!= "", col("description"))
        .otherwise(concat(lit("dbt metric: "), col("name"))).as("definition"),
      nodeUrn(concat(lit(s"$root."), catPath)).as("parent_urn"),
      map_concat(fixedProps, metaProps).as("custom_properties"),
      lit("dbt").as("term_source"))

    rootDf.withColumn("term_source", lit(null).cast("string"))
      .unionByName(cats.withColumn("term_source", lit(null).cast("string")))
      .unionByName(terms)
  }
}
