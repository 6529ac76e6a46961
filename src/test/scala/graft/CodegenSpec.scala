package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The context class loader of the task thread that evaluates it. */
object TaskLoader {
  def id(): String = {
    val l = Thread.currentThread.getContextClassLoader
    s"${l.getClass.getName}@${System.identityHashCode(l)}"
  }
}

/** Spark caches generated classes per (context class loader, source).
  * `Sessions.required` gives every session one executor class loader
  * and a cache that holds the working set, so a class is compiled once
  * per JVM: not once per streaming query's cloned session, and not
  * again after ~100 unrelated compiles. */
class CodegenSpec extends AnyFunSuite {
  import SparkTestSession._

  private def compiled[T](f: => T): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def tempDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("streaming micro-batch tasks and batch tasks share one class loader") {
    def loaders(ds: org.apache.spark.sql.Dataset[java.lang.Long]) =
      ds.map((_: java.lang.Long) => TaskLoader.id())(Encoders.STRING)
    val batch = loaders(spark.range(8).repartition(4)).distinct().collect().toSet
    val in = tempDir("graft_codegen_in")
    spark.range(8).write.mode("overwrite").parquet(in)
    val name = "graft_codegen_loaders"
    val q = loaders(spark.readStream.schema("id long").parquet(in)
        .as[java.lang.Long](Encoders.LONG))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tempDir("graft_codegen_ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    val streamed = try {
      q.awaitTermination()
      spark.table(name).distinct().collect().map(_.getString(0)).toSet
    } finally { q.stop(); spark.sql(s"DROP VIEW IF EXISTS $name") }
    assert(batch.size == 1 && streamed == batch,
      s"batch tasks ran under $batch, micro-batch tasks under $streamed")
  }

  test("a warm stream_pipeline_e2e call compiles at most 50 classes") {
    SparkEntry.queries("stream_pipeline_e2e")(spark, sf).collect()
    val n = compiled(SparkEntry.queries("stream_pipeline_e2e")(spark, sf).collect())
    // measured: 6 with one loader and a 4,000-entry cache; 122 while each
    // streaming query's cloned session had its own loader
    assert(n <= 50, s"the warm call compiled $n classes")
  }

  test("a repeat manifest deploy after 100+ unrelated compiles compiles nothing") {
    val out = tempDir("graft_codegen_ingest")
    def deploy() = graft.meta.Ingestion.run(spark,
      graft.model.Manifest.fixtureJson, out)
    deploy()
    // each literal is inlined into its own generated class, compiled
    // once on the driver and once under the task loader
    val unrelated = compiled((1 to 120).foreach { i =>
      spark.range(4).select((col("id") * lit(7919L) + lit(i.toLong)).as("v"))
        .collect()
    })
    assert(unrelated > 100, s"only $unrelated unrelated compiles")
    val n = compiled(deploy())
    assert(n == 0, s"the repeat deploy compiled $n classes")
  }
}
