package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in tracer: attributes every Spark job to a graft module and
  * aggregates job, stage and task counters per module. Registered only
  * in traced runs.
  *
  * A job's module is the graft source file at its call site (the short
  * call site, e.g. `count at Ingestion.scala:43`, resolved through
  * `fileModule`). Spark records it as the job's stage names; adaptive
  * query stages run from a pool thread, so their own call site is a pool
  * frame, and the call site of the SQL execution they belong to (taken on
  * the calling thread when the execution starts) is used instead. A job
  * whose call site is still not a graft module file (the benchmark's own
  * collect) takes the benchmark span open on the main thread when it
  * started; with no span open it counts as unattributed. */
final class Tracer(fileModule: Map[String, String]) extends SparkListener {
  import Tracer._

  @volatile var span: String = null

  private val jobModule = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageModule = new ConcurrentHashMap[Int, String]()
  private val executionModule = new ConcurrentHashMap[String, String]()
  private val stats = mutable.Map.empty[String, Stats]
  /** (start ms, end ms) of every finished job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var unattributed = 0L
  var failedTasks = 0L

  private val CallSiteFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r.unanchored

  private def siteModule(callSite: String): Option[String] =
    CallSiteFile.findFirstMatchIn(callSite).flatMap(m => fileModule.get(m.group(1)))

  private def moduleOf(js: SparkListenerJobStart): String =
    js.stageInfos.sortBy(-_.stageId).flatMap(si => siteModule(si.name)).headOption
      .orElse(Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).flatMap(id =>
        Option(executionModule.get(id))))
      .orElse(Option(span)).orNull

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      siteModule(s.description).foreach(executionModule.put(s.executionId.toString, _))
    case _ =>
  }

  private def st(m: String): Stats = stats.getOrElseUpdate(m, new Stats)

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val m = moduleOf(js)
    val key = if (m == null) { unattributed += 1; Unattributed } else m
    jobModule.put(js.jobId, key)
    jobStart.put(js.jobId, js.time)
    js.stageIds.foreach(s => stageModule.putIfAbsent(s, key))
    st(key).jobs += 1
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    val m = jobModule.getOrDefault(je.jobId, Unattributed)
    val t0: Long = Option(jobStart.get(je.jobId)).map(_.longValue).getOrElse(je.time)
    st(m).jobS += (je.time - t0) / 1e3
    jobSpans += ((t0, je.time))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    st(stageModule.getOrDefault(sc.stageInfo.stageId, Unattributed)).stages += 1
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val s = st(stageModule.getOrDefault(te.stageId, Unattributed))
    s.tasks += 1
    if (te.reason != Success) failedTasks += 1
    val tm = te.taskMetrics
    if (tm != null) {
      s.taskS += tm.executorRunTime / 1e3
      s.shuffleBytes += tm.shuffleWriteMetrics.bytesWritten
      s.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
      s.outputBytes += tm.outputMetrics.bytesWritten
    }
  }

  /** Deep copy of the per-module counters. */
  def snapshot: Map[String, Stats] = synchronized {
    stats.map { case (k, v) => k -> v.copy() }.toMap
  }
}

object Tracer {
  val Unattributed = "unattributed"

  final class Stats(var jobs: Long = 0, var stages: Long = 0, var tasks: Long = 0,
                    var jobS: Double = 0, var taskS: Double = 0,
                    var shuffleBytes: Long = 0, var spillBytes: Long = 0,
                    var outputBytes: Long = 0) {
    def copy(): Stats = new Stats(jobs, stages, tasks, jobS, taskS,
      shuffleBytes, spillBytes, outputBytes)
    def minus(o: Stats): Stats = new Stats(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, jobS - o.jobS, taskS - o.taskS,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
      outputBytes - o.outputBytes)
    def json: String = Json.obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "job_s" -> jobS,
      "task_s" -> taskS, "shuffle_bytes" -> shuffleBytes,
      "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes)
  }

  def diff(after: Map[String, Stats], before: Map[String, Stats]): Map[String, Stats] =
    after.map { case (k, v) => k -> before.get(k).map(v.minus).getOrElse(v) }
}

/** Streaming pass clock: start and end (ms) of each streaming query run,
  * plus per-micro-batch progress when `progress` is on. The start times
  * feed the end-to-end refresh metric, so this listener is attached in
  * untraced runs too; it records two timestamps per pass there. */
final class PassClock(progress: Boolean) extends StreamingQueryListener {
  val starts = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val ends = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val batches = new java.util.concurrent.atomic.AtomicLong()
  val inputRows = new java.util.concurrent.atomic.AtomicLong()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    { starts.add(System.currentTimeMillis()); () }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (progress && e.progress.numInputRows > 0) {
      batches.incrementAndGet(); inputRows.addAndGet(e.progress.numInputRows); ()
    }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    { ends.add(System.currentTimeMillis()); () }

  def reset(): Unit = { starts.clear(); ends.clear(); batches.set(0); inputRows.set(0) }
  def startList: Seq[Long] = starts.asScala.map(_.longValue).toSeq
  def endList: Seq[Long] = ends.asScala.map(_.longValue).toSeq
}
