package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Manifest
import graft.meta.{Glossary, Lineage, Summary}
import graft.ops.PlanBarrier.Barrier

/** §2 items 13-15: the reference's own manifest → glossary → lineage
  * pipeline, as DataFrame transforms over the built-in fixture manifest
  * (same logical content as the reference's test manifest: 3 metrics,
  * 2 models, 2 sources, nested `Finance/Revenue`-style categories).
  *
  * All four meta queries are SQL-oracled: DuckDB reads the SAME
  * fixture file with its JSON reader and re-derives the catalog, URNs,
  * glossary hierarchy and flattened custom-properties independently
  * (custom_properties serializes as key-sorted `k=v; ` pairs on both
  * sides — a deterministic rendering, unlike to_json map key order).
  * ManifestSpec additionally asserts the exact URNs/properties the
  * reference would emit.
  */
object MetaQueries {

  /** The fixture as an ABSOLUTE filesystem path for the DuckDB oracle,
    * resolved from the CLASSPATH resource URL (not the working
    * directory), so IDE runners / packaged jars / CI workdirs all
    * resolve the same file the Spark side loads. From a jar the
    * resource is copied to a temp file DuckDB can read. */
  private def resourcePath(name: String): String = {
    val url = getClass.getResource(s"/graft/$name")
    require(url != null, s"graft/$name missing from classpath")
    if (url.getProtocol == "file") new java.io.File(url.toURI).getAbsolutePath
    else {
      // jar / wrapped classloader: copy to a STABLE temp path that
      // outlives this JVM — the oracle SQL is executed by a separate
      // DuckDB process after Verify exits
      val tmp = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), s"graft_$name")
      val in = url.openStream()
      try java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp.toString
    }
  }

  val fixturePath: String = resourcePath("fixture_manifest.json")
  val fixturePathV2: String = resourcePath("fixture_manifest_v2.json")

  private def parsed(s: SparkSession): DataFrame = Manifest.parse(s, Manifest.fixtureJson)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // reference parse_metrics (:125-150): the metrics catalog
    "meta_parse_metrics" -> ((s, _) => {
      Manifest.metrics(parsed(s)).select(
        col("unique_id"), col("name"), col("label"),
        col("calculation_method"), col("expression"),
        col("timestamp").as("timestamp_col"),
        array_join(coalesce(col("time_grains"), array()), ", ").as("time_grains"),
        array_join(coalesce(col("dimensions"), array()), ", ").as("dimensions"),
        coalesce(element_at(col("meta"), "datahub_glossary_category"),
          lit("Uncategorized")).as("category"),
        array_join(coalesce(col("tags"), array()), ", ").as("tags"),
        col("package_name"), col("path"),
        size(coalesce(col("filters"), array())).cast("bigint").as("n_filters"),
        array_join(coalesce(col("depends_on.nodes"), array()), ", ").as("depends_on"))
        .orderBy("unique_id")
    }),

    // reference create_glossary_hierarchy + emit_metric_as_glossary_term.
    // custom_properties serializes as KEY-SORTED `k=v; ` pairs (not
    // to_json, whose map key order is engine-specific) so the DuckDB
    // oracle can re-derive the exact string
    "meta_glossary" -> ((s, _) => {
      val p = parsed(s)
      Glossary.records(Manifest.metrics(p), Summary.of(p))
        .withColumn("custom_properties",
          array_join(transform(array_sort(map_entries(col("custom_properties"))),
            e => concat(e.getField("key"), lit("="), e.getField("value"))), "; "))
        .orderBy("entity_type", "urn")
    }),

    // reference resolve_node_to_dataset_urn over every metric dep
    // reference parse_semantic_models (:152-170): dimensions/measures/
    // entities flattened to name:type pairs
    "meta_semantic_models" -> ((s, _) => {
      def pairs(c: String, second: String) = array_join(
        transform(coalesce(col(c), array()),
          x => concat_ws(":", x.getField("name"), x.getField(second))), ", ").as(c)
      Manifest.semanticModels(parsed(s)).select(
        col("unique_id"), col("name"), col("description"), col("model"),
        pairs("dimensions", "type"), pairs("measures", "agg"), pairs("entities", "type"))
        .orderBy("unique_id")
    }),

    "meta_lineage" -> ((s, _) => {
      val p = parsed(s)
      Lineage.resolve(Manifest.metrics(p), Summary.of(p))
        .withColumn("dep_pos", col("dep_pos").cast("bigint"))
        .orderBy("metric_id", "dep_pos")
    }),

    // IMPACT ANALYSIS over the full dbt DAG — the question a metadata
    // platform exists to answer ("this source changed; which models and
    // metrics are stale?") that the reference's FLAT metric→node
    // lineage can't: nodes carry their OWN depends_on, so impact is the
    // transitive closure over node→node ∪ node→metric edges. Frontier
    // expansion is 4 unrolled equi-join hops (the catalog DAG's depth
    // bound; a deeper deployment raises it — Cluster's iterate-with-
    // checkpoint pattern at catalog scale), then min-hop dedup. The
    // affected kind reads off the dbt unique_id prefix. Self rows
    // (hop 0) are excluded — impact means DOWNSTREAM.
    "meta_impact" -> ((s, _) => {
      // the section unions below read the entity table from several
      // tasks at once
      val p = parsed(s).shared("meta_impact.entities")
      val edges = Manifest.nodes(p)
        .select(col("unique_id").as("dst"), explode(col("depends_on.nodes")).as("src"))
        .unionByName(Manifest.metrics(p)
          .select(col("unique_id").as("dst"), explode(col("depends_on.nodes")).as("src")))
      val seeds = Manifest.sources(p).select(col("unique_id").as("seed"))
        .unionByName(Manifest.nodes(p).select(col("unique_id").as("seed")))
      val h0 = seeds.select(col("seed"), col("seed").as("affected_id"),
        lit(0L).as("hops"))
      val levels = (1 to 4).scanLeft(h0) { (prev, k) =>
        // fresh per-hop aliases: re-joining the same edges frame trips
        // the ambiguous-self-join check at hop 2+
        val ek = edges.select(col("src").as(s"src$k"), col("dst").as(s"dst$k"))
        prev.join(ek, prev("affected_id") === ek(s"src$k"))
          .select(prev("seed"), ek(s"dst$k").as("affected_id"),
            lit(k.toLong).as("hops"))
      }
      levels.reduce(_ unionByName _)
        .filter(col("hops") >= 1)
        .groupBy("seed", "affected_id").agg(min("hops").as("min_hops"))
        .withColumn("kind", split(col("affected_id"), "\\.").getItem(0))
        .select(col("seed").as("seed_id"), col("affected_id"), col("kind"),
          col("min_hops"))
        .orderBy("seed_id", "min_hops", "affected_id")
    }),

    // Catalog drift between two manifest deploys — what a re-ingestion
    // must upsert: added/removed/changed/unchanged per metric, from a
    // full-outer join of the two parsed catalogs on unique_id. This is
    // the idempotent-re-emit side of the reference flow (it re-emits
    // everything; the diff is what an incremental emitter would send).
    "meta_diff" -> ((s, _) => {
      def cat(json: String, pfx: String) =
        Manifest.metrics(Manifest.parse(s, json)).select(
          col("unique_id"), col("label").as(s"${pfx}label"),
          col("calculation_method").as(s"${pfx}calc"),
          col("expression").as(s"${pfx}expr"))
      cat(Manifest.fixtureJson, "old_")
        .join(cat(Manifest.fixtureJsonV2, "new_"), Seq("unique_id"), "full_outer")
        .withColumn("status",
          when(col("old_label").isNull, "added")
            .when(col("new_label").isNull, "removed")
            .when(col("old_label") =!= col("new_label") ||
              col("old_calc") =!= col("new_calc") ||
              col("old_expr") =!= col("new_expr"), "changed")
            .otherwise("unchanged"))
        .select("unique_id", "status", "old_expr", "new_expr")
        .orderBy("unique_id")
    }),
  )

  // DuckDB re-derives the same catalog/lineage from the fixture FILE —
  // an independent JSON parse, join and URN construction (the quoted
  // '$."<key>"' paths are required: dbt unique_ids contain dots).
  val oracle: Map[String, String] = Map(
    "meta_diff" ->
      s"""WITH r1 AS (
         |  SELECT metrics FROM read_json('$fixturePath', columns={metrics: 'JSON'})),
         |m1 AS (SELECT unique_id, json_extract(metrics, '$$."' || unique_id || '"') AS v
         |       FROM (SELECT unnest(json_keys(metrics)) AS unique_id, metrics FROM r1)),
         |c1 AS (SELECT unique_id, v->>'$$.label' AS old_label,
         |         v->>'$$.calculation_method' AS old_calc,
         |         v->>'$$.expression' AS old_expr FROM m1),
         |r2 AS (
         |  SELECT metrics FROM read_json('$fixturePathV2', columns={metrics: 'JSON'})),
         |m2 AS (SELECT unique_id, json_extract(metrics, '$$."' || unique_id || '"') AS v
         |       FROM (SELECT unnest(json_keys(metrics)) AS unique_id, metrics FROM r2)),
         |c2 AS (SELECT unique_id, v->>'$$.label' AS new_label,
         |         v->>'$$.calculation_method' AS new_calc,
         |         v->>'$$.expression' AS new_expr FROM m2)
         |SELECT coalesce(c1.unique_id, c2.unique_id) AS unique_id,
         |  CASE WHEN c1.unique_id IS NULL THEN 'added'
         |       WHEN c2.unique_id IS NULL THEN 'removed'
         |       WHEN old_label <> new_label OR old_calc <> new_calc
         |            OR old_expr <> new_expr THEN 'changed'
         |       ELSE 'unchanged' END AS status,
         |  old_expr, new_expr
         |FROM c1 FULL OUTER JOIN c2 ON c1.unique_id = c2.unique_id
         |ORDER BY unique_id""".stripMargin,

    "meta_parse_metrics" ->
      s"""WITH raw AS (
         |  SELECT metrics FROM read_json('$fixturePath', columns={metrics: 'JSON'})),
         |m AS (SELECT unique_id, json_extract(metrics, '$$."' || unique_id || '"') AS v
         |      FROM (SELECT unnest(json_keys(metrics)) AS unique_id, metrics FROM raw))
         |SELECT unique_id,
         |  v->>'$$.name' AS name,
         |  v->>'$$.label' AS label,
         |  v->>'$$.calculation_method' AS calculation_method,
         |  v->>'$$.expression' AS expression,
         |  v->>'$$.timestamp' AS timestamp_col,
         |  coalesce(array_to_string(coalesce(CAST(v->'time_grains' AS VARCHAR[]), []), ', '), '') AS time_grains,
         |  coalesce(array_to_string(coalesce(CAST(v->'dimensions' AS VARCHAR[]), []), ', '), '') AS dimensions,
         |  coalesce(v->'meta'->>'datahub_glossary_category', 'Uncategorized') AS category,
         |  coalesce(array_to_string(coalesce(CAST(v->'tags' AS VARCHAR[]), []), ', '), '') AS tags,
         |  v->>'$$.package_name' AS package_name,
         |  v->>'$$.path' AS path,
         |  coalesce(json_array_length(v->'filters'), 0) AS n_filters,
         |  coalesce(array_to_string(coalesce(CAST(v->'depends_on'->'nodes' AS VARCHAR[]), []), ', '), '') AS depends_on
         |FROM m ORDER BY unique_id""".stripMargin,

    "meta_semantic_models" ->
      s"""WITH raw AS (
         |  SELECT semantic_models FROM read_json('$fixturePath', columns={semantic_models: 'JSON'})),
         |m AS (SELECT unique_id, json_extract(semantic_models, '$$."' || unique_id || '"') AS v
         |      FROM (SELECT unnest(json_keys(semantic_models)) AS unique_id, semantic_models FROM raw))
         |SELECT unique_id,
         |  v->>'$$.name' AS name,
         |  v->>'$$.description' AS description,
         |  v->>'$$.model' AS model,
         |  coalesce(array_to_string(list_transform(
         |    coalesce(CAST(v->'dimensions' AS STRUCT(name VARCHAR, "type" VARCHAR)[]), []),
         |    d -> d.name || ':' || d."type"), ', '), '') AS dimensions,
         |  coalesce(array_to_string(list_transform(
         |    coalesce(CAST(v->'measures' AS STRUCT(name VARCHAR, agg VARCHAR)[]), []),
         |    m2 -> m2.name || ':' || m2.agg), ', '), '') AS measures,
         |  coalesce(array_to_string(list_transform(
         |    coalesce(CAST(v->'entities' AS STRUCT(name VARCHAR, "type" VARCHAR)[]), []),
         |    e -> e.name || ':' || e."type"), ', '), '') AS entities
         |FROM m ORDER BY unique_id""".stripMargin,

    // full independent re-derivation of the glossary: root + category
    // nodes + terms, lineage-fed upstream_datasets, and the flattened
    // custom-properties string (key-sorted `k=v; ` pairs, null/empty
    // entries dropped, meta_* passthrough minus the category key) —
    // the same record set the reference emits for this manifest
    "meta_glossary" ->
      s"""WITH raw AS (
         |  SELECT metrics, nodes, sources
         |  FROM read_json('$fixturePath', columns={metrics:'JSON', nodes:'JSON', sources:'JSON'})),
         |m AS (SELECT unique_id, json_extract(metrics, '$$."' || unique_id || '"') AS v
         |      FROM (SELECT unnest(json_keys(metrics)) AS unique_id, metrics FROM raw)),
         |dep AS (SELECT unique_id AS metric_id, CAST(i - 1 AS BIGINT) AS dep_pos, deps[i] AS node_id
         |      FROM (SELECT unique_id, CAST(v->'depends_on'->'nodes' AS VARCHAR[]) AS deps FROM m) md,
         |           unnest(range(1, len(deps)+1)) t(i)),
         |n AS (SELECT id, lower((v->>'$$.database') || '.' || (v->>'$$.schema') || '.' ||
         |                       coalesce(nullif(v->>'$$.alias', ''), v->>'$$.name')) AS fqn
         |      FROM (SELECT unnest(json_keys(nodes)) AS id,
         |                   json_extract(nodes, '$$."' || unnest(json_keys(nodes)) || '"') AS v FROM raw)),
         |s2 AS (SELECT id, lower((v->>'$$.database') || '.' || (v->>'$$.schema') || '.' ||
         |                       coalesce(nullif(v->>'$$.identifier', ''), v->>'$$.name')) AS fqn
         |      FROM (SELECT unnest(json_keys(sources)) AS id,
         |                   json_extract(sources, '$$."' || unnest(json_keys(sources)) || '"') AS v FROM raw)),
         |u AS (SELECT id, fqn FROM n UNION ALL SELECT id, fqn FROM s2),
         |up AS (SELECT dep.metric_id,
         |         string_agg('urn:li:dataset:(urn:li:dataPlatform:dbt,' || u.fqn || ',PROD)',
         |                    ', ' ORDER BY dep.dep_pos) AS upstream
         |       FROM dep JOIN u ON dep.node_id = u.id GROUP BY dep.metric_id),
         |mm AS (SELECT m.unique_id, m.v,
         |         coalesce(m.v->'meta'->>'datahub_glossary_category', 'Uncategorized') AS cat,
         |         up.upstream
         |       FROM m LEFT JOIN up ON m.unique_id = up.metric_id),
         |props AS (
         |  SELECT unique_id, v, cat,
         |    list_sort(list_filter([
         |      'dbt_unique_id=' || unique_id,
         |      CASE WHEN coalesce(v->>'$$.package_name', '') <> '' THEN 'dbt_package=' || (v->>'$$.package_name') END,
         |      CASE WHEN coalesce(v->>'$$.path', '') <> '' THEN 'dbt_path=' || (v->>'$$.path') END,
         |      CASE WHEN coalesce(v->>'$$.type', '') <> '' THEN 'metric_type=' || (v->>'$$.type') END,
         |      CASE WHEN coalesce(v->>'$$.calculation_method', '') <> '' THEN 'calculation_method=' || (v->>'$$.calculation_method') END,
         |      CASE WHEN coalesce(v->>'$$.expression', '') <> '' THEN 'expression=' || (v->>'$$.expression') END,
         |      CASE WHEN coalesce(array_to_string(coalesce(CAST(v->'dimensions' AS VARCHAR[]), []), ', '), '') <> ''
         |           THEN 'dimensions=' || array_to_string(CAST(v->'dimensions' AS VARCHAR[]), ', ') END,
         |      CASE WHEN coalesce(array_to_string(coalesce(CAST(v->'time_grains' AS VARCHAR[]), []), ', '), '') <> ''
         |           THEN 'time_grains=' || array_to_string(CAST(v->'time_grains' AS VARCHAR[]), ', ') END,
         |      CASE WHEN coalesce(json_array_length(v->'filters'), 0) > 0
         |           THEN 'filters=' || CAST(v->'filters' AS VARCHAR) END,
         |      CASE WHEN coalesce(array_to_string(coalesce(CAST(v->'tags' AS VARCHAR[]), []), ', '), '') <> ''
         |           THEN 'tags=' || array_to_string(CAST(v->'tags' AS VARCHAR[]), ', ') END,
         |      CASE WHEN coalesce(upstream, '') <> '' THEN 'upstream_datasets=' || upstream END
         |    ] || list_transform(
         |           list_filter(coalesce(json_keys(v->'meta'), []), k -> k <> 'datahub_glossary_category'),
         |           k -> 'meta_' || k || '=' || json_extract_string(v->'meta', '$$."' || k || '"')),
         |    x -> x IS NOT NULL)) AS cp
         |  FROM mm),
         |terms AS (
         |  SELECT 'glossaryTerm' AS entity_type,
         |    'urn:li:glossaryTerm:dbt_metrics.' || replace(cat, '/', '.') || '.' || (v->>'$$.name') AS urn,
         |    coalesce(nullif(v->>'$$.label', ''), v->>'$$.name') AS name,
         |    coalesce(nullif(v->>'$$.description', ''), 'dbt metric: ' || (v->>'$$.name')) AS definition,
         |    'urn:li:glossaryNode:dbt_metrics.' || replace(cat, '/', '.') AS parent_urn,
         |    array_to_string(cp, '; ') AS custom_properties,
         |    'dbt' AS term_source
         |  FROM props),
         |cats AS (
         |  SELECT DISTINCT 'glossaryNode' AS entity_type,
         |    'urn:li:glossaryNode:dbt_metrics.' || replace(cat, '/', '.') AS urn,
         |    string_split(cat, '/')[-1] AS name,
         |    'Metrics in category: ' || cat AS definition,
         |    'urn:li:glossaryNode:dbt_metrics' AS parent_urn,
         |    CAST(NULL AS VARCHAR) AS custom_properties,
         |    CAST(NULL AS VARCHAR) AS term_source
         |  FROM mm),
         |root AS (
         |  SELECT 'glossaryNode' AS entity_type,
         |    'urn:li:glossaryNode:dbt_metrics' AS urn,
         |    'dbt_metrics' AS name,
         |    'dbt metrics ingested from dbt project' AS definition,
         |    CAST(NULL AS VARCHAR) AS parent_urn,
         |    CAST(NULL AS VARCHAR) AS custom_properties,
         |    CAST(NULL AS VARCHAR) AS term_source)
         |SELECT * FROM root UNION ALL SELECT * FROM cats UNION ALL SELECT * FROM terms
         |ORDER BY entity_type, urn""".stripMargin,

    "meta_lineage" ->
      s"""WITH raw AS (
         |  SELECT metrics, nodes, sources
         |  FROM read_json('$fixturePath', columns={metrics:'JSON', nodes:'JSON', sources:'JSON'})),
         |m AS (SELECT metric_id,
         |             CAST(json_extract(metrics, '$$."' || metric_id || '"')->'depends_on'->'nodes' AS VARCHAR[]) AS deps
         |      FROM (SELECT unnest(json_keys(metrics)) AS metric_id, metrics FROM raw)),
         |d AS (SELECT metric_id, CAST(i - 1 AS BIGINT) AS dep_pos, deps[i] AS node_id
         |      FROM m, unnest(range(1, len(deps)+1)) t(i)),
         |n AS (SELECT id, lower((v->>'$$.database') || '.' || (v->>'$$.schema') || '.' ||
         |                       coalesce(nullif(v->>'$$.alias', ''), v->>'$$.name')) AS fqn
         |      FROM (SELECT unnest(json_keys(nodes)) AS id,
         |                   json_extract(nodes, '$$."' || unnest(json_keys(nodes)) || '"') AS v FROM raw)),
         |s AS (SELECT id, lower((v->>'$$.database') || '.' || (v->>'$$.schema') || '.' ||
         |                       coalesce(nullif(v->>'$$.identifier', ''), v->>'$$.name')) AS fqn
         |      FROM (SELECT unnest(json_keys(sources)) AS id,
         |                   json_extract(sources, '$$."' || unnest(json_keys(sources)) || '"') AS v FROM raw)),
         |u AS (SELECT id, fqn FROM n UNION ALL SELECT id, fqn FROM s)
         |SELECT d.metric_id, d.dep_pos, d.node_id,
         |  'urn:li:dataset:(urn:li:dataPlatform:dbt,' || u.fqn || ',PROD)' AS dataset_urn
         |FROM d LEFT JOIN u ON d.node_id = u.id
         |ORDER BY metric_id, dep_pos""".stripMargin,

    // independent recursive-CTE closure over the same JSON DAG (the
    // engine unrolls 4 bounded hops; the recursion is depth-capped to
    // the same bound, then min-hop dedup)
    "meta_impact" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT metrics, nodes, sources
         |  FROM read_json('$fixturePath', columns={metrics:'JSON', nodes:'JSON', sources:'JSON'})),
         |ne AS (SELECT unnest(CAST(json_extract(nodes, '$$."' || id || '"')
         |           ->'depends_on'->'nodes' AS VARCHAR[])) AS src, id AS dst
         |       FROM (SELECT unnest(json_keys(nodes)) AS id, nodes FROM raw)),
         |me AS (SELECT unnest(CAST(json_extract(metrics, '$$."' || id || '"')
         |           ->'depends_on'->'nodes' AS VARCHAR[])) AS src, id AS dst
         |       FROM (SELECT unnest(json_keys(metrics)) AS id, metrics FROM raw)),
         |e AS (SELECT src, dst FROM ne UNION ALL SELECT src, dst FROM me),
         |seeds AS (SELECT unnest(json_keys(sources)) AS seed FROM raw
         |          UNION ALL SELECT unnest(json_keys(nodes)) FROM raw),
         |r AS (SELECT seed, seed AS affected, 0 AS hops FROM seeds
         |      UNION ALL
         |      SELECT r.seed, e.dst, r.hops + 1
         |      FROM r JOIN e ON r.affected = e.src WHERE r.hops < 4),
         |agg AS (SELECT seed, affected, min(hops) AS min_hops
         |        FROM r WHERE hops >= 1 GROUP BY 1, 2)
         |SELECT seed AS seed_id, affected AS affected_id,
         |  string_split(affected, '.')[1] AS kind,
         |  CAST(min_hops AS BIGINT) AS min_hops
         |FROM agg ORDER BY seed_id, min_hops, affected_id""".stripMargin,
  )
}
