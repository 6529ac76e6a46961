package graft

import org.apache.spark.sql.SparkSession

/** CLI entry point for manifest → glossary/lineage ingestion — the
  * packaged analog of the reference's `main()` argparse surface
  * (reference: dbt_metrics_to_datahub.py:364-412), minus the
  * REST-endpoint flags (`--datahub-url`/`--token`): the Spark-first
  * sink is a distributed file write a downstream replayer drains, so
  * the connection parameters live with the replayer, not the engine.
  *
  * Usage:
  * {{{
  *   runMain graft.Ingest --manifest manifest.json --out /sink/path \
  *     [--platform dbt] [--env PROD] [--glossary-root dbt_metrics] \
  *     [--format parquet|json] [--ordered|--unordered] [--dry-run]
  * }}}
  *
  * Prints one JSON summary line: metric/record/malformed counts and
  * the sink path (null on dry-run).
  */
object Ingest {

  final case class Config(manifest: String = "", out: String = "",
                          platform: String = "dbt", env: String = "PROD",
                          glossaryRoot: String = graft.meta.Glossary.DefaultRoot,
                          format: String = "parquet", ordered: Boolean = true,
                          dryRun: Boolean = false)

  /** Pure argv parser (spec-testable without a JVM exit): Left(error)
    * on unknown/incomplete flags or a missing required one. */
  def parseArgs(args: Seq[String]): Either[String, Config] = {
    @annotation.tailrec
    def loop(rest: List[String], c: Config): Either[String, Config] = rest match {
      case Nil => Right(c)
      case "--manifest" :: v :: t      => loop(t, c.copy(manifest = v))
      case "--out" :: v :: t           => loop(t, c.copy(out = v))
      case "--platform" :: v :: t      => loop(t, c.copy(platform = v))
      case "--env" :: v :: t           => loop(t, c.copy(env = v))
      case "--glossary-root" :: v :: t => loop(t, c.copy(glossaryRoot = v))
      case "--format" :: v :: t        => loop(t, c.copy(format = v))
      case "--ordered" :: t            => loop(t, c.copy(ordered = true))
      case "--unordered" :: t          => loop(t, c.copy(ordered = false))
      case "--dry-run" :: t            => loop(t, c.copy(dryRun = true))
      case flag :: _                   => Left(s"unknown or incomplete flag: $flag")
    }
    loop(args.toList, Config()).flatMap { c =>
      if (c.manifest.isEmpty) Left("--manifest is required")
      else if (c.out.isEmpty && !c.dryRun) Left("--out is required unless --dry-run")
      else if (!Set("parquet", "json")(c.format)) Left(s"unsupported --format: ${c.format}")
      else Right(c)
    }
  }

  /** Run the pipeline for a parsed config against an existing session
    * (the spec drives this directly; `main` wraps it with session
    * setup + exit codes). */
  def run(spark: SparkSession, c: Config): graft.meta.Ingestion.Result = {
    val json = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(c.manifest)),
      java.nio.charset.StandardCharsets.UTF_8)
    graft.meta.Ingestion.run(spark, json, c.out, c.glossaryRoot,
      c.platform, c.env, c.format, c.dryRun, c.ordered)
  }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case Left(err) =>
      System.err.println(s"[ingest] $err")
      sys.exit(2)
    case Right(c) =>
      val spark = graft.sources.Sessions.local("graft-ingest")
      spark.sparkContext.setLogLevel("WARN")
      try {
        val r = run(spark, c)
        def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        val path = r.outPath.map(jstr).getOrElse("null")
        println(s"""{"metrics":${r.metrics},"records":${r.records},""" +
          s""""malformed":${r.malformed},"dry_run":${c.dryRun},"out":$path}""")
      } finally spark.stop()
  }
}
