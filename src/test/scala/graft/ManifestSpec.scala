package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Manifest
import graft.meta.{Glossary, Lineage, Summary}
import graft.sources.MetadataSink

/** Asserts the manifest → glossary → lineage pipeline emits exactly the
  * records the reference would for the fixture manifest (3 metrics,
  * 2 models, 2 sources, nested Finance/Revenue-style categories). */
class ManifestSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val parsed  = Manifest.parse(spark, Manifest.fixtureJson)
  private lazy val metrics = Manifest.metrics(parsed)
  private lazy val summary = Summary.of(parsed)
  private lazy val lineage = Lineage.resolve(metrics, summary)
  private lazy val glossary = Glossary.records(metrics, summary)

  test("parse_metrics finds all metrics with calc methods and grains") {
    val rows = metrics.orderBy("unique_id").collect()
    assert(rows.length == 3)
    val byName = rows.map(r => r.getAs[String]("name") -> r).toMap
    assert(byName("total_revenue").getAs[String]("calculation_method") == "sum")
    assert(byName("customer_count").getAs[String]("calculation_method") == "count_distinct")
    assert(byName("avg_order_value").getAs[String]("calculation_method") == "average")
    assert(byName("total_revenue").getAs[scala.collection.Seq[String]]("time_grains").toSeq ==
      Seq("day", "week", "month", "quarter", "year"))
    assert(byName("avg_order_value").getAs[scala.collection.Seq[AnyRef]]("filters").length == 1)
  }

  test("semantic models parse dimensions/measures/entities") {
    val sm = Manifest.semanticModels(parsed).collect()
    assert(sm.length == 1)
    assert(sm.head.getAs[String]("name") == "orders_sm")
    assert(sm.head.getAs[scala.collection.Seq[AnyRef]]("measures").length == 2)
  }

  test("lineage resolves model deps to lowercased dataset URNs") {
    val urns = lineage.filter(col("metric_id") === "metric.test_dbt_project.total_revenue")
      .select("dataset_urn").collect().map(_.getString(0))
    assert(urns.toSeq ==
      Seq("urn:li:dataset:(urn:li:dataPlatform:dbt,analytics.public.orders,PROD)"))
  }

  test("lineage resolves source deps via identifier") {
    // the customers model depends on a source; Lineage.resolve only needs
    // (unique_id, depends_on), so it works over the nodes table too
    val resolved = Lineage.resolve(Manifest.nodes(parsed), summary)
    val urn = resolved
      .filter(col("metric_id") === "model.test_dbt_project.customers")
      .select("dataset_urn").collect().map(_.getString(0))
    assert(urn.toSeq ==
      Seq("urn:li:dataset:(urn:li:dataPlatform:dbt,analytics.raw.raw_customers,PROD)"))
  }

  test("glossary hierarchy: root, category nodes with nested paths, terms") {
    val recs = glossary.collect().map(r =>
      (r.getAs[String]("entity_type"), r.getAs[String]("urn"),
       r.getAs[String]("parent_urn"))).toSet
    assert(recs.contains(("glossaryNode", "urn:li:glossaryNode:dbt_metrics", null)))
    assert(recs.contains(("glossaryNode", "urn:li:glossaryNode:dbt_metrics.Finance.Revenue",
      "urn:li:glossaryNode:dbt_metrics")))
    assert(recs.contains(("glossaryTerm",
      "urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue",
      "urn:li:glossaryNode:dbt_metrics.Finance.Revenue")))
    // 1 root + 3 categories + 3 terms
    assert(glossary.count() == 7)
  }

  test("term custom properties flatten dbt fields, meta_* and upstreams") {
    val props = glossary
      .filter(col("urn") === "urn:li:glossaryTerm:dbt_metrics.Finance.Metrics.avg_order_value")
      .select("custom_properties").head().getAs[Map[String, String]](0)
    assert(props("dbt_unique_id") == "metric.test_dbt_project.avg_order_value")
    assert(props("calculation_method") == "average")
    assert(props("dimensions") == "customer_id")
    assert(props("time_grains") == "week, month, quarter")
    assert(props("tags") == "revenue, finance, kpi")
    assert(props("meta_owner") == "finance_team")
    assert(!props.contains("meta_datahub_glossary_category"))
    assert(props("upstream_datasets") ==
      "urn:li:dataset:(urn:li:dataPlatform:dbt,analytics.public.orders,PROD)")
    assert(props("filters").contains("order_total"))
  }

  test("term display name prefers label; definition prefers description") {
    val r = glossary
      .filter(col("urn") === "urn:li:glossaryTerm:dbt_metrics.Finance.Metrics.avg_order_value")
      .select("name", "definition", "term_source").head()
    assert(r.getString(0) == "Average Order Value (AOV)")
    assert(r.getString(1) == "Average value per order")
    assert(r.getString(2) == "dbt")
  }

  test("manifest metrics compile to executable plans that run") {
    import graft.metrics.{MetricCompiler => MC}
    val defs = Manifest.toMetricDefs(metrics)
    assert(defs.map(_.name).toSet == Set("total_revenue", "customer_count", "avg_order_value"))
    // the fixture's metrics are defined over an `orders` model with
    // columns order_total/order_date/customer_id — present the testdata
    // orders table under that contract and execute all three
    val orders = graft.sources.Tables.orders(spark, sf).select(
      col("o_totalprice").as("order_total"),
      col("o_orderdate").as("order_date"),
      col("o_custkey").as("customer_id"))
    defs.foreach { d =>
      val grain = d.timeGrains.lastOption  // coarsest declared grain
      val out = MC.simple(orders, d, grain)
      assert(out.count() > 0, s"${d.name} produced no rows")
    }
    // the filtered metric really applies its manifest filter
    val aov = defs.find(_.name == "avg_order_value").get.copy(dimensions = Nil)
    assert(aov.filters.nonEmpty)
    val withF = MC.simple(orders, aov, None).head().getDouble(0)
    val noF   = MC.simple(orders, aov.copy(filters = Nil), None).head().getDouble(0)
    assert(withF == noF, "filter order_total>0 excludes nothing in testdata but must compile & run")
  }

  test("count_distinct_approx tracks exact distinct within HLL error") {
    import graft.metrics.{MetricCompiler => MC, MetricDef}
    val o = graft.sources.Tables.orders(spark, sf)
    val exact = MC.simple(o, MetricDef("m", "count_distinct", "o_custkey"), None)
      .head().getLong(0)
    val approx = MC.simple(o, MetricDef("m", "count_distinct_approx", "o_custkey"), None)
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
  }

  test("end-to-end ingestion: parse → glossary → emit, with dry-run") {
    val dry = graft.meta.Ingestion.run(spark, Manifest.fixtureJson,
      "/tmp/graft_ingest_dry", dryRun = true)
    assert(dry.metrics == 3 && dry.records == 7 && dry.outPath.isEmpty)
    val real = graft.meta.Ingestion.run(spark, Manifest.fixtureJson, "/tmp/graft_ingest_out")
    assert(real.records == 7 && real.outPath.contains("/tmp/graft_ingest_out"))
    val readBack = spark.read.parquet("/tmp/graft_ingest_out")
    assert(readBack.filter(col("entity_type") === "glossaryTerm").count() == 3)
    // parents-first sink layout: a sequential replayer drains
    // emit_order=0 (root) then 1 (categories) then 2 (terms), so every
    // parent_urn exists before any child references it
    val dirs = new java.io.File("/tmp/graft_ingest_out").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs == Seq("emit_order=0", "emit_order=1", "emit_order=2"))
    val byOrder = readBack.groupBy("emit_order").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byOrder == Map(0 -> 1L, 1 -> 3L, 2 -> 3L))
  }

  test("empty-string alias/identifier falls back to name like Python `or`") {
    // reference :229 `alias or name` / :244 `identifier or name` treat ""
    // as falsy — coalesce alone would emit `analytics.public.` URNs
    val mJson =
      """{"metrics": {"metric.p.m1": {"name": "m1",
        |  "depends_on": {"nodes": ["model.p.t1", "source.p.s1"]}}},
        |"nodes": {"model.p.t1": {"database": "DB", "schema": "SC",
        |  "name": "Tbl1", "alias": ""}},
        |"sources": {"source.p.s1": {"database": "DB", "schema": "SC",
        |  "name": "Src1", "identifier": ""}}}""".stripMargin
    val p = Manifest.parse(spark, mJson)
    val urns = Lineage.resolve(Manifest.metrics(p), Summary.of(p))
      .orderBy("dep_pos").select("dataset_urn").collect().map(_.getString(0))
    assert(urns.toSeq == Seq(
      "urn:li:dataset:(urn:li:dataPlatform:dbt,db.sc.tbl1,PROD)",
      "urn:li:dataset:(urn:li:dataPlatform:dbt,db.sc.src1,PROD)"))
  }

  test("one malformed metric entry degrades to a flagged skip, not a failed run") {
    // reference :355-359 try/excepts each metric and continues; a
    // single-shot typed from_json would nullify the ENTIRE metrics map
    val mJson =
      """{"metrics": {
        |  "metric.p.good": {"name": "good", "label": "Good",
        |    "calculation_method": "sum", "expression": "x",
        |    "depends_on": {"nodes": []}},
        |  "metric.p.bad": 42,
        |  "metric.p.also_good": {"name": "also_good", "label": "AG",
        |    "calculation_method": "count", "expression": "y",
        |    "depends_on": {"nodes": []}}},
        |"nodes": {}, "sources": {}}""".stripMargin
    val p = Manifest.parse(spark, mJson)
    val names = Manifest.metrics(p).select("name").collect().map(_.getString(0)).toSet
    assert(names == Set("good", "also_good"))
    val bad = Manifest.malformed(p, "metrics").collect()
    assert(bad.length == 1 && bad.head.getString(0) == "metric.p.bad")
    val res = graft.meta.Ingestion.run(spark, mJson, "/tmp/graft_ingest_malformed",
      dryRun = true)
    assert(res.metrics == 2 && res.malformed == 1)
  }

  test("a JSON-null metric entry counts as malformed, not dropped") {
    // rlike on a null raw entity is null; well_formed must still be false
    val mJson =
      """{"metrics": {
        |  "metric.p.good": {"name": "good", "calculation_method": "sum",
        |    "expression": "x", "depends_on": {"nodes": []}},
        |  "metric.p.null": null},
        |"nodes": {}, "sources": {}}""".stripMargin
    val bad = Manifest.malformed(Manifest.parse(spark, mJson), "metrics").collect()
    assert(bad.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("metric.p.null", null)))
    val res = graft.meta.Ingestion.run(spark, mJson, "/tmp/graft_ingest_null")
    assert(res.metrics == 1 && res.malformed == 1 && res.records == 3)
  }

  // dep resolution through the summary's lookup: `x.p.dup` is both a
  // model and a source; `model.p.ghost` is neither
  private lazy val lookupManifest = Manifest.parse(spark,
    """{"metrics": {
      |  "metric.p.multi": {"name": "multi",
      |    "depends_on": {"nodes": ["source.p.s1", "model.p.t2", "model.p.t1"]}},
      |  "metric.p.partial": {"name": "partial",
      |    "depends_on": {"nodes": ["model.p.ghost", "model.p.t1"]}},
      |  "metric.p.dup": {"name": "dup", "depends_on": {"nodes": ["x.p.dup"]}},
      |  "metric.p.none": {"name": "none", "depends_on": {"nodes": []}},
      |  "metric.p.absent": {"name": "absent"}},
      |"nodes": {
      |  "model.p.t1": {"database": "DB", "schema": "SC", "name": "T1"},
      |  "model.p.t2": {"database": "DB", "schema": "SC", "name": "T2"},
      |  "x.p.dup": {"database": "DB", "schema": "M", "name": "DUP"}},
      |"sources": {
      |  "source.p.s1": {"database": "DB", "schema": "RAW", "name": "S1"},
      |  "x.p.dup": {"database": "DB", "schema": "S", "name": "DUP"}}}""".stripMargin)
  private lazy val lookupSummary = Summary.of(lookupManifest)
  private def urn(name: String) = s"urn:li:dataset:(urn:li:dataPlatform:dbt,$name,PROD)"
  private def resolvedUrns(metricId: String): Seq[String] =
    Lineage.resolve(Manifest.metrics(lookupManifest), lookupSummary)
      .filter(col("metric_id") === metricId).orderBy("dep_pos")
      .select("dataset_urn").collect().map(_.getString(0)).toSeq
  private def upstream(name: String): Option[String] =
    Glossary.records(Manifest.metrics(lookupManifest), lookupSummary)
      .filter(col("name") === name && col("entity_type") === "glossaryTerm")
      .select("custom_properties").head().getAs[Map[String, String]](0)
      .get("upstream_datasets")

  test("an unresolved dep keeps a null URN and is left out of upstream_datasets") {
    assert(resolvedUrns("metric.p.partial") == Seq(null, urn("db.sc.t1")))
    assert(upstream("partial").contains(urn("db.sc.t1")))
  }

  test("an id that is both a model and a source resolves to the model's URN") {
    assert(resolvedUrns("metric.p.dup") == Seq(urn("db.m.dup")))
    assert(upstream("dup").contains(urn("db.m.dup")))
  }

  test("upstream_datasets follows depends_on order across several deps") {
    val inOrder = Seq(urn("db.raw.s1"), urn("db.sc.t2"), urn("db.sc.t1"))
    assert(resolvedUrns("metric.p.multi") == inOrder)
    assert(upstream("multi").contains(inOrder.mkString(", ")))
  }

  test("a metric without deps has no upstream_datasets key") {
    assert(upstream("none").isEmpty && upstream("absent").isEmpty)
    // lineage keeps one null row per dep-less metric, as posexplode_outer does
    assert(resolvedUrns("metric.p.none") == Seq(null))
  }

  test("Ingestion.run on the fixture starts at most 5 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.spec.phase"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("ingest") => jobs.incrementAndGet()
          case Some("marker") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "ingest")
      val res = graft.meta.Ingestion.run(spark, Manifest.fixtureJson, "/tmp/graft_ingest_jobs")
      assert(res.records == 7)
      // the bus delivers events in order: once the marker job's start
      // arrives, every ingestion job start has been counted
      sc.setLocalProperty(tag, "marker")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get <= 5, s"Ingestion.run started ${jobs.get} jobs")
    // and the write stays one file per emit_order directory
    new java.io.File("/tmp/graft_ingest_jobs").listFiles().filter(_.isDirectory).foreach { d =>
      assert(d.list().count(_.startsWith("part-")) == 1, s"${d.getName}: ${d.list().toSeq}")
    }
  }

  test("Ingestion.run releases the parsed table's checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    graft.meta.Ingestion.run(spark, Manifest.fixtureJson, "/tmp/graft_ingest_release")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("meta_diff classifies drift between the two fixture deploys") {
    val rows = SparkEntry.queries("meta_diff")(spark, sf)
      .collect().map(r => r.getAs[String]("unique_id") -> r.getAs[String]("status")).toMap
    assert(rows == Map(
      "metric.test_dbt_project.total_revenue" -> "changed",
      "metric.test_dbt_project.customer_count" -> "unchanged",
      "metric.test_dbt_project.avg_order_value" -> "removed",
      "metric.test_dbt_project.order_count" -> "added"))
  }

  test("MetadataSink dry-run counts without writing; real write round-trips") {
    val dry = MetadataSink.emit(glossary, "/tmp/graft_sink_should_not_exist", dryRun = true)
    assert(dry.records == 7 && dry.path.isEmpty)
    assert(!new java.io.File("/tmp/graft_sink_should_not_exist").exists())
    val out = MetadataSink.emit(glossary.drop("custom_properties"),
      "/tmp/graft_sink_test", format = "json")
    assert(out.records == 7 && out.path.contains("/tmp/graft_sink_test"))
  }

  test("Ingest CLI: argv parsing mirrors the reference's argparse contract") {
    // happy path with every flag
    val c = Ingest.parseArgs(Seq("--manifest", "/m.json", "--out", "/sink",
      "--platform", "snowflake", "--env", "DEV", "--glossary-root", "kpis",
      "--format", "json", "--unordered")).toOption.get
    assert(c.platform == "snowflake" && c.env == "DEV" &&
      c.glossaryRoot == "kpis" && c.format == "json" && !c.ordered && !c.dryRun)
    // defaults match the reference's (platform=dbt, env=PROD, root=dbt_metrics)
    val d = Ingest.parseArgs(Seq("--manifest", "/m.json", "--dry-run")).toOption.get
    assert(d.platform == "dbt" && d.env == "PROD" &&
      d.glossaryRoot == "dbt_metrics" && d.ordered && d.dryRun)
    // error paths fail fast with a message, not a half-configured run
    assert(Ingest.parseArgs(Seq("--out", "/sink")).left.exists(_.contains("--manifest")))
    assert(Ingest.parseArgs(Seq("--manifest", "/m.json")).left.exists(_.contains("--out")))
    assert(Ingest.parseArgs(Seq("--manifest", "/m.json", "--dry-run",
      "--format", "csv")).left.exists(_.contains("csv")))
    assert(Ingest.parseArgs(Seq("--manifest", "/m.json", "--bogus"))
      .left.exists(_.contains("--bogus")))
  }

  test("Ingest CLI end-to-end: dry-run counts, then ordered emit directories") {
    // write the fixture manifest to a real file — the CLI path reads disk
    val mf = java.nio.file.Files.createTempFile("graft_manifest", ".json")
    java.nio.file.Files.write(mf,
      Manifest.fixtureJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dry = Ingest.run(spark, Ingest.Config(manifest = mf.toString, dryRun = true))
    assert(dry.metrics == 3 && dry.records == 7 && dry.outPath.isEmpty)
    val sink = "/tmp/graft_ingest_cli_test"
    val real = Ingest.run(spark,
      Ingest.Config(manifest = mf.toString, out = sink))
    assert(real.records == 7 && real.outPath.contains(sink))
    // parents-first replay contract: root node dir, category dir, term dir
    val dirs = new java.io.File(sink).listFiles().map(_.getName).toSet
    assert(Set("emit_order=0", "emit_order=1", "emit_order=2").subsetOf(dirs),
      s"expected ordered partitions, got $dirs")
    java.nio.file.Files.delete(mf)
  }

  test("Replay drains the ordered sink parents-first") {
    val sink = "/tmp/graft_replay_test"
    MetadataSink.emit(glossary.drop("custom_properties"), sink, ordered = true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = Replay.replay(spark, sink, consume = line => seen += line)
    assert(r.emitted == 7 && r.failed == 0 && r.total == 7)
    // the replay contract (reference :337-352): every parent_urn has
    // already been drained when a child record references it
    def field(l: String, k: String): Option[String] =
      ("\"" + k + "\":\"([^\"]+)\"").r.findFirstMatchIn(l).map(_.group(1))
    val drained = scala.collection.mutable.Set.empty[String]
    seen.foreach { l =>
      field(l, "parent_urn").foreach(p =>
        assert(drained.contains(p), s"child drained before parent: $l"))
      field(l, "urn").foreach(drained += _)
    }
    assert(drained.size == 7)
  }

  test("Replay isolates a consumer failure per record, like the reference emit loop") {
    val sink = "/tmp/graft_replay_fail_test"
    MetadataSink.emit(glossary.drop("custom_properties"), sink, ordered = true)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val r = Replay.replay(spark, sink, consume = { line =>
      if (line.contains("total_revenue")) throw new RuntimeException("endpoint 500")
      seen += line
    })
    // one record fails, the other six still arrive — the run never aborts
    assert(r.emitted == 6 && r.failed == 1)
    assert(r.failures.head.error.contains("endpoint 500"))
    assert(r.failures.head.record.contains("total_revenue"))
    assert(seen.size == 6 && !seen.exists(_.contains("total_revenue")))
  }

  test("Replay handles an unordered json sink as a single tier") {
    val sink = "/tmp/graft_replay_unordered_test"
    MetadataSink.emit(glossary.drop("custom_properties"), sink,
      format = "json", ordered = false)
    var n = 0
    val r = Replay.replay(spark, sink, format = "json", consume = _ => n += 1)
    assert(r.emitted == 7 && n == 7)
  }

  test("impact analysis walks the fixture DAG to the right depths") {
    val rows = SparkEntry.queries("meta_impact")(spark, SparkTestSession.sf)
      .collect()
      .map(r => (r.getAs[String]("seed_id"), r.getAs[String]("affected_id")) ->
        (r.getAs[String]("kind"), r.getAs[Long]("min_hops"))).toMap
    // the deepest chain: raw_customers → customers → orders → metrics
    val rc = "source.test_dbt_project.raw_data.raw_customers"
    assert(rows((rc, "model.test_dbt_project.customers")) == ("model", 1L))
    assert(rows((rc, "model.test_dbt_project.orders")) == ("model", 2L))
    assert(rows((rc, "metric.test_dbt_project.total_revenue")) == ("metric", 3L))
    // impact never contains a self row or a source (nothing feeds INTO one)
    rows.keys.foreach { case (seed, affected) => assert(seed != affected) }
    assert(rows.values.forall(_._1 != "source"),
      "a source appeared downstream of something")
    // hop distances are tight: an affected node at hop k must not also
    // be claimed at a smaller hop for the same seed (min-dedup worked)
    assert(rows.size == rows.keys.toSeq.distinct.size)
  }
}
