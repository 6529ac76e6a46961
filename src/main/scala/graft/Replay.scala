package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential drain of a [[graft.sources.MetadataSink]] directory into a
  * record consumer — the missing half of the reference's REST emission
  * loop (reference: dbt_metrics_to_datahub.py:100-117 emits one record
  * at a time; :357-359 wraps each emit in try/except so one bad record
  * never aborts the run).
  *
  * Spark-first the ENGINE's emission is a distributed file write
  * (MetadataSink); the replayer is the deliberately small driver-side
  * component that owns the ordering-sensitive, connection-oriented part:
  * it walks `emit_order=0,1,2` tiers in turn (parents before children —
  * a replayed catalog never sees a term before its node), streams each
  * tier through `toLocalIterator` (one partition in driver memory at a
  * time, never the whole sink), and hands each record as one JSON line
  * to a pluggable consumer. A consumer exception is caught per record,
  * recorded, and the drain continues — the reference's failure
  * isolation, exactly.
  *
  * Scale note: metadata sinks are glossary-sized (thousands of records),
  * not data-sized; sequential consumption is the CONTRACT (an ordered
  * REST catalog), not a missed parallelism opportunity. The only
  * unbounded thing, the record payloads, streams partition-by-partition.
  */
object Replay {

  final case class Failure(record: String, error: String)
  final case class Result(emitted: Long, failed: Long, failures: Seq[Failure]) {
    def total: Long = emitted + failed
  }

  /** Replays the sink at `path` (parquet or json, ordered or not) into
    * `consume`, one JSON-rendered record per call.
    *
    * Tier order: ascending `emit_order` when the sink was written
    * ordered; one tier otherwise. Within a tier records drain in a
    * deterministic order (by `urn` when present — replays are
    * reproducible run to run). Returns counts plus the isolated
    * failures (record JSON + exception message), like the reference's
    * per-MCP try/except tally. */
  def replay(spark: SparkSession, path: String, format: String = "parquet",
             consume: String => Unit): Result = {
    require(Set("parquet", "json")(format), s"unsupported sink format: $format")
    val df = spark.read.format(format).load(path)
    val tiers: Seq[DataFrame] =
      if (df.columns.contains("emit_order"))
        df.select("emit_order").distinct().collect()
          .map(_.get(0).toString.toInt).sorted.toSeq
          .map(o => df.filter(col("emit_order") === o).drop("emit_order"))
      else Seq(df)

    var emitted = 0L
    var failed  = Vector.empty[Failure]
    tiers.foreach { tier =>
      val ordCol =
        if (tier.columns.contains("urn")) col("urn").cast("string")
        else to_json(struct(tier.columns.map(col): _*))
      val lines = tier
        .select(to_json(struct(tier.columns.map(col): _*)).as("_j"), ordCol.as("_k"))
        .orderBy("_k")
        .select("_j")
      val it = lines.toLocalIterator()
      while (it.hasNext) {
        val line = it.next().getString(0)
        try { consume(line); emitted += 1 }
        catch { case e: Exception =>
          failed :+= Failure(line, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    Result(emitted, failed.size, failed)
  }

  /** CLI: `runMain graft.Replay --path /sink [--format parquet|json]`.
    * Records go to stdout as JSON lines (the pluggable-consumer default
    * — pipe them to whatever owns the catalog connection); the summary
    * goes to stderr so the record stream stays clean. */
  def main(args: Array[String]): Unit = {
    def parse(rest: List[String], m: Map[String, String]): Either[String, Map[String, String]] =
      rest match {
        case Nil                    => Right(m)
        case "--path" :: v :: t     => parse(t, m + ("path" -> v))
        case "--format" :: v :: t   => parse(t, m + ("format" -> v))
        case flag :: _              => Left(s"unknown or incomplete flag: $flag")
      }
    parse(args.toList, Map.empty).flatMap { m =>
      m.get("path").toRight("--path is required").map(p => (p, m.getOrElse("format", "parquet")))
    } match {
      case Left(err) =>
        System.err.println(s"[replay] $err")
        sys.exit(2)
      case Right((path, format)) =>
        val spark = graft.sources.Sessions.local("graft-replay")
        spark.sparkContext.setLogLevel("ERROR")
        try {
          val r = replay(spark, path, format, line => println(line))
          System.err.println(
            s"""{"emitted":${r.emitted},"failed":${r.failed}}""")
        } finally spark.stop()
    }
  }
}
