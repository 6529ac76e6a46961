package graft.meta

import org.apache.spark.sql.SparkSession
import graft.model.Manifest
import graft.ops.PlanBarrier
import graft.sources.MetadataSink

/** End-to-end manifest ingestion — the analog of the reference's main
  * flow `DBTMetricsIngestion.ingest_metrics` (reference:
  * dbt_metrics_to_datahub.py:337-361): load manifest → parse metrics →
  * build glossary hierarchy → emit every record, with a dry-run mode
  * that validates without writing.
  *
  * Where the reference emits one REST call per record from a driver
  * loop, this plans the whole run as DataFrame transforms over the
  * once-parsed entity table ([[graft.model.Manifest.parse]]) and performs
  * ONE distributed write — the same records, scalable to manifests of
  * any size. One aggregate ([[Summary.of]]) gives the driver the counts,
  * the category set and the dataset-URN lookup; the records then write
  * in one exchange-free stage, and the parsed table's checkpoint is
  * released before returning.
  */
object Ingestion {

  /** `malformed` counts metric entries skipped by the permissive parse
    * (non-object JSON, null included) — the reference logs each and
    * continues (reference: dbt_metrics_to_datahub.py:355-359); one bad
    * entry degrades to a flagged count here, never a failed run. */
  final case class Result(metrics: Long, records: Long, outPath: Option[String],
                          malformed: Long = 0)

  /** Run the full pipeline over a manifest JSON string. Returns counts
    * and (unless dryRun) the sink path with parquet records. */
  def run(spark: SparkSession, manifestJson: String, outPath: String,
          glossaryRoot: String = Glossary.DefaultRoot,
          platform: String = "dbt", env: String = "PROD",
          format: String = "parquet", dryRun: Boolean = false,
          ordered: Boolean = true): Result = {
    val parsed = Manifest.parse(spark, manifestJson)
    try {
      val summary = Summary.of(parsed, platform, env)
      val records = Glossary.records(Manifest.metrics(parsed), summary, glossaryRoot)
      // ordered (default): parents-first partitions, mirroring the
      // reference's nodes-before-terms emit sequence (:337-352)
      val emitted = MetadataSink.emit(records, outPath, format, dryRun, ordered = ordered)
      Result(summary.metrics, emitted.records, emitted.path, summary.malformed)
    } finally PlanBarrier.release(parsed)
  }
}
