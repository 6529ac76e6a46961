package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the optional name filter is
    // a dev-loop convenience (spot-check one query); the driver always
    // passes exactly two args and gets the full sweep.
    val Array(sfDir, outDir) = args.take(2)
    var only: Set[String] = args.drop(2).toSet
    // --oracle-only: dump the full oracle_sql.json and exit without a
    // Spark session — feeds tools/check_oracle.py's HUGEINT schema lint
    // over all oracles in seconds (VERDICT r11 item 2).
    val oracleOnly = only("--oracle-only")
    only -= "--oracle-only"
    // --with-diagnostics: also dump the non-gated diagnostics registry
    // (the by-design-divergent float-shape canaries) so the local
    // check_oracle sweep keeps exercising them every round. The driver
    // passes exactly two args and never sees these keys.
    val withDiag = only("--with-diagnostics")
    only -= "--with-diagnostics"
    val queries = if (withDiag) SparkEntry.queries ++ SparkEntry.diagnostics
                  else SparkEntry.queries
    val oracles = if (withDiag) SparkEntry.oracleSql ++ SparkEntry.diagnosticsOracle
                  else SparkEntry.oracleSql
    only.diff(queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: unknown query name '$n' ignored"))
    new java.io.File(outDir).mkdirs()
    if (!oracleOnly) {
      val spark = graft.sources.Sessions.local("graft-verify")
      spark.sparkContext.setLogLevel("WARN")
      queries
        .filter { case (name, _) => only.isEmpty || only(name) }
        .foreach { case (name, fn) =>
        // coalesce(1) only compacts the tiny verify output; never in engine code
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          // A query that raises must still appear in the correctness
          // artifact AS A FAILURE: write a 1-row sentinel whose schema
          // can never match the oracle, so the driver records
          // rows/schema/hash=false instead of silently dropping the key.
          // Fatal JVM errors (OOM, LinkageError) propagate and fail the
          // run — continuing in a corrupted JVM would record misleading
          // per-query failures for everything after the fatal one.
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
          import spark.implicits._
          Seq(msg).toDF("verify_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
      spark.stop()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
