package perfbench

import java.io.{File, FileInputStream, InputStreamReader, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Properties

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.meta.Ingestion
import graft.metrics.{MetricCompiler, MetricDef}
import graft.model.Manifest
import graft.ops.SharedArtifacts
import graft.sources.{Sessions, Tables}

/** One benchmark run in one JVM: set up, warm up, then drive one
  * workload through graft's public entry points until the deadline,
  * writing one JSON line per op. Correctness is checked afterwards, out
  * of the timed window, by run.py.
  *
  * Usage: Main <run.properties> (written by run.py). */
object Main {
  private var out: PrintWriter = _
  private var tracer: Option[Tracer] = None
  private var spark: SparkSession = _
  private var sessionMs = 0L

  def main(args: Array[String]): Unit = {
    val p = new Properties()
    val in = new InputStreamReader(new FileInputStream(args(0)), UTF_8)
    try p.load(in) finally in.close()
    def prop(k: String) = Option(p.getProperty(k)).getOrElse(sys.error(s"missing $k"))
    val work = prop("work")
    out = new PrintWriter(Files.newBufferedWriter(Paths.get(prop("out")), UTF_8))
    spark = Sessions.tune(SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionMs = System.currentTimeMillis()
    if (prop("trace") == "1") {
      val modules = Files.readAllLines(Paths.get(prop("modules")), UTF_8).asScala
        .map(_.split(" ")).collect { case Array(f, m) => f -> m }.toMap
      val t = new Tracer(modules)
      spark.sparkContext.addSparkListener(t)
      tracer = Some(t)
    }
    val deadline = () => System.nanoTime() + (prop("seconds").toDouble * 1e9).toLong
    try {
      prop("workload") match {
        case "semantic_layer" =>
          semantic(prop("tables"), prop("semantic"), prop("warm_ops").toInt, work, deadline)
        case "corpus" => corpus(prop("corpus"), work, deadline)
        case w => sys.error(s"unknown workload $w")
      }
      emit("event" -> "end", "peak_heap_mb" -> peakHeapAfterGc.get / 1048576.0)
    } finally {
      out.close()
      spark.stop()
    }
  }

  private def emit(kv: (String, Any)*): Unit = { out.println(Json.obj(kv: _*)); out.flush() }

  private def span[T](name: String)(body: => T): T = {
    tracer.foreach(_.span = name)
    try body finally tracer.foreach(_.span = null)
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Largest heap in use right after a collection, over the process: the
    * live set plus old-generation garbage not yet collected. Unlike RSS it
    * does not follow how far the collector chose to grow the heap. */
  private val peakHeapAfterGc = new AtomicLong()
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
          val used = after.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          peakHeapAfterGc.accumulateAndGet(used, math.max(_, _))
          ()
        }, null, null)
    case _ =>
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def ready(): Unit = {
    System.gc()
    emit("event" -> "ready", "ready_ms" -> System.currentTimeMillis(),
      "session_ms" -> sessionMs,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime)
  }

  /** Drop every block left by the previous op, as graft.Bench does
    * between keys, so each op runs against a clean block store. */
  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Runs one op; in traced runs, returns its per-layer trace record. */
  private def traced(body: => Unit): Map[String, Any] = tracer match {
    case None => body; Map.empty
    case Some(t) =>
      val sc = spark.sparkContext
      val s0 = t.snapshot
      val (u0, f0) = t.synchronized((t.unattributed, t.failedTasks))
      val rdds0 = sc.getPersistentRDDs.keySet
      val (b0, h0) = SharedArtifacts.counters
      val g0 = gcSeconds
      val w0 = System.currentTimeMillis()
      body
      val w1 = System.currentTimeMillis()
      val g1 = gcSeconds
      BenchBus.drain(sc)
      val (b1, h1) = SharedArtifacts.counters
      val fresh = sc.getPersistentRDDs.keySet -- rdds0
      val cpBytes = sc.getRDDStorageInfo.filter(i => fresh(i.id))
        .map(i => i.memSize + i.diskSize).sum
      val (u1, f1) = t.synchronized((t.unattributed, t.failedTasks))
      val spans = t.synchronized(t.jobSpans.toVector)
        .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }.filter { case (a, b) => b > a }
      Map(
        "modules" -> Json.Raw(Tracer.diff(t.snapshot, s0)
          .map { case (k, v) => Json.str(k) + ":" + v.json }.mkString("{", ",", "}")),
        "wall_ms" -> (w1 - w0), "busy_ms" -> covered(spans),
        "max_concurrent_jobs" -> maxOverlap(spans),
        "unattributed_jobs" -> (u1 - u0), "failed_tasks" -> (f1 - f0),
        "checkpoint_blocks" -> fresh.size, "checkpoint_bytes" -> cpBytes,
        "artifact_builds" -> (b1 - b0), "artifact_hits" -> (h1 - h0),
        "gc_s" -> (g1 - g0))
  }

  private def covered(spans: Seq[(Long, Long)]): Long = {
    var end = Long.MinValue; var tot = 0L
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { tot += b - math.max(a, end); end = b }
    }
    tot
  }

  private def maxOverlap(spans: Seq[(Long, Long)]): Int = {
    val ev = spans.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }.sortBy(e => (e._1, e._2))
    ev.scanLeft(0)(_ + _._2).max
  }

  private def rowJson(r: Row): Any = r.toSeq.map {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toString
    case b: java.math.BigDecimal => b.doubleValue
    case x => x
  }

  // ------------------------------------------------------- semantic layer

  /** Closed loop, one client: the schedule's ops back to back. The first
    * `warmOps` (the first deploy and a few queries) are the warm-up. */
  private def semantic(tables: String, semDir: String, warmOps: Int, work: String,
                       deadline: () => Long): Unit = {
    var defs = Map.empty[String, MetricDef]
    val sink = s"$work/sink"
    // the semantic layer's base models, registered once as a serving
    // process would; each query compiles a fresh plan over them
    val bases = span("sources")(Map(
      "lineitem" -> Tables.lineitem(spark, tables), "orders" -> Tables.orders(spark, tables),
      "events" -> Tables.events(spark, tables)))

    def deploy(rev: Int): Unit = {
      val json = new String(Files.readAllBytes(Paths.get(s"$semDir/rev$rev.json")), UTF_8)
      var res: Ingestion.Result = null
      var ds: Seq[MetricDef] = Nil
      val t0 = System.nanoTime()
      var t1, t2 = t0
      val tr = traced {
        res = span("meta")(Ingestion.run(spark, json, sink))
        t1 = System.nanoTime()
        ds = span("model") {
          val mdf = Manifest.metrics(Manifest.parse(spark, json))
          mdf.queryExecution.executedPlan
          t2 = System.nanoTime()
          Manifest.toMetricDefs(mdf)
        }
      }
      val t3 = System.nanoTime()
      defs = ds.map(d => d.name -> d).toMap
      unpersistAll()
      emit("op" -> "deploy", "rev" -> rev, "ok" -> true, "wall_s" -> secs(t0, t3),
        "ingest_s" -> secs(t0, t1), "parse_s" -> secs(t1, t2), "to_defs_s" -> secs(t2, t3),
        "metrics" -> res.metrics, "records" -> res.records, "malformed" -> res.malformed,
        "defs" -> ds.size, "trace" -> tr)
    }

    def query(f: Array[String]): Unit = {
      val Array(_, kind, base, name, grain, extra, checked) = f
      val g = Option(grain).filter(_ != "-")
      val parts = extra.split(",").toSeq
      var rows: Array[Row] = Array.empty
      var cols: Seq[String] = Nil
      val t0 = System.nanoTime()
      var t1, t2 = t0
      val tr = traced {
        val baseDf = bases(base)
        span("metrics") {
          val m = defs(name)
          val df: DataFrame = kind match {
            case "simple" => MetricCompiler.simple(baseDf, m, g)
            case "multi" => MetricCompiler.multiGrain(baseDf, m, m.timeGrains)
            case "cumulative" =>
              MetricCompiler.cumulative(baseDf, m, g.get, Option(extra.toInt).filter(_ > 0))
            case "ratio" => MetricCompiler.ratio(baseDf, name, defs(parts(0)), defs(parts(1)), g)
            case "derived" => MetricCompiler.derived(baseDf, name, m.expression, parts.map(defs), g)
          }
          t1 = System.nanoTime()
          df.queryExecution.executedPlan
          t2 = System.nanoTime()
          rows = df.collect()
          cols = df.columns.toSeq
        }
      }
      val t3 = System.nanoTime()
      unpersistAll()
      emit("op" -> "query", "kind" -> kind, "name" -> name, "grain" -> grain,
        "extra" -> extra, "ok" -> true, "wall_s" -> secs(t0, t3), "compile_s" -> secs(t0, t1),
        "plan_s" -> secs(t1, t2), "exec_s" -> secs(t2, t3), "n_rows" -> rows.length,
        "cols" -> (if (checked == "1") cols else Nil),
        "rows" -> (if (checked == "1") rows.toSeq.map(rowJson) else Nil),
        "checked" -> (checked == "1"), "trace" -> tr)
    }

    var deployed = -1
    def runOps(ops: Iterator[Array[String]], until: Long): Unit =
      while (ops.hasNext && System.nanoTime() < until) {
        val f = ops.next()
        try {
          if (f(0) == "deploy") { deployed = f(1).toInt; deploy(deployed) }
          else query(f)
        } catch { case e: Exception =>
          tracer.foreach(_.span = null)
          unpersistAll()
          emit("op" -> f(0), "ok" -> false, "rev" -> deployed,
            "line" -> f.mkString("\t"), "error" -> e.toString)
        }
      }
    val schedule = Files.readAllLines(Paths.get(s"$semDir/schedule.tsv"), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t"))
    runOps(schedule.take(warmOps).iterator, Long.MaxValue)
    ready()
    runOps(schedule.drop(warmOps).iterator, deadline())
    // after the window, untimed: a manifest holding a JSON-null metric
    // entry, whose counts run.py reports against the generator's
    try {
      val json = new String(Files.readAllBytes(Paths.get(s"$semDir/probe.json")), UTF_8)
      val res = Ingestion.run(spark, json, s"$work/probe_sink")
      emit("event" -> "probe", "metrics" -> res.metrics, "records" -> res.records,
        "malformed" -> res.malformed)
    } catch { case e: Exception => emit("event" -> "probe", "error" -> e.toString) }
  }

  // ---------------------------------------------------------------- corpus

  /** The curation funnel, batch and at landing cadence, over one corpus:
    * `pipeline_e2e_v2` (PipelineQueries + CapstonePrelude), then
    * `stream_pipeline_e2e` (EventStreams.pipelineIngest), where the corpus
    * lands in two generations, the second holding the top quarter of ids,
    * and the funnel accounting is refreshed after each. A curation run is
    * its own application, so no warm-up call precedes the first, and every
    * call reads its own freshly written copy of the corpus (the
    * dir-fingerprinted memos start cold). */
  private def corpus(corpusFile: String, work: String, deadline: () => Long): Unit = {
    val keys = Seq("batch" -> "pipeline_e2e_v2", "stream" -> "stream_pipeline_e2e")
    val clock = new PassClock(progress = tracer.nonEmpty)
    spark.streams.addListener(clock)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    var n = 0

    def stage(): Path = {
      n += 1
      val dir = Paths.get(s"$work/corpus/c$n")
      Files.createDirectories(dir)
      Files.copy(Paths.get(corpusFile), dir.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      dir
    }

    def call(op: String, key: String, module: String, dir: Path): Unit = {
      clock.reset()
      var rows: Array[Row] = Array.empty
      var cols: Seq[String] = Nil
      val t0 = System.nanoTime()
      val w0 = System.currentTimeMillis()
      val tr = try traced {
        span(module) {
          val df = SparkEntry.queries(key)(spark, dir.toString)
          rows = df.collect()
          cols = df.columns.toSeq
        }
      } catch { case e: Exception =>
        tracer.foreach(_.span = null)
        emit("op" -> op, "ok" -> false, "error" -> e.toString)
        null
      }
      val t2 = System.nanoTime()
      val w2 = w0 + (t2 - t0) / 1000000L
      tracer.foreach(_ => BenchBus.drain(spark.sparkContext))
      val starts = clock.startList
      val ends = clock.endList
      val scratch = scratchTrees(tmp)
      val scratchBytes = scratch.map(treeBytes).sum
      scratch.foreach(deleteTree)
      deleteTree(dir)
      unpersistAll()
      if (tr != null) emit("op" -> op, "key" -> key, "ok" -> true, "wall_s" -> secs(t0, t2),
        "refresh_s" -> starts.lift(1).map(s => (w2 - s) / 1e3),
        "pass_s" -> starts.zip(ends).map { case (a, b) => (b - a) / 1e3 },
        "fold_s" -> ends.zipWithIndex.map { case (e, i) =>
          (starts.lift(i + 1).getOrElse(w2) - e) / 1e3 },
        "batches" -> clock.batches.get, "input_rows" -> clock.inputRows.get,
        "scratch_bytes" -> scratchBytes, "input_bytes" -> new File(corpusFile).length,
        "cols" -> cols, "rows" -> rows.toSeq.map(rowJson), "trace" -> tr)
    }

    var dirs = keys.map(_ => stage())
    ready()
    val until = deadline()
    var more = true
    while (more) {
      keys.zip(dirs).foreach { case ((op, key), dir) =>
        call(op, key, if (op == "batch") "queries" else "streaming", dir)
      }
      more = System.nanoTime() < until
      if (more) dirs = keys.map(_ => stage())
    }
    keys.foreach { case (_, key) => emit("event" -> "oracle", "key" -> key,
      "sql" -> SparkEntry.oracleSql(key)) }
  }

  private def scratchTrees(tmp: Path): Seq[Path] =
    Option(tmp.toFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(_.toPath)

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
