package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Persisted RDDs (checkpoints, caches) and the stages that read them
  * while `f` ran.
  *
  * The first stage whose lineage holds a persisted RDD computes its
  * partitions and stores them; a stage submitted after it completes
  * reads the stored blocks. A second stage submitted while the first
  * still runs computes the same partitions again, and the later copy is
  * thrown away ("Block rdd_N_0 already exists on this machine"). That
  * log line needs two tasks to race on one block; the overlap of the
  * two stages, checked here, does not.
  *
  * An RDD is named by its RDD name (a `PlanBarrier` site name), or by
  * its call site if it has none. */
object StageReads {

  /** One persisted RDD: its name, the stages that computed or read it,
    * and whether two of them computed it at once. */
  final case class Reads(name: String, stages: Int, twice: Boolean)

  /** Every persisted RDD a stage touched during `f`, in first-use order. */
  def census(spark: SparkSession)(f: => Unit): Seq[Reads] = {
    val sc = spark.sparkContext
    val marker = "graft.spec.stage-reads"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val computing = scala.collection.mutable.Map.empty[Int, Int] // rdd -> stage
    // checkpoints materialized before `f` are read, not computed
    val done = scala.collection.mutable.Set.empty[Int] ++
      sc.getPersistentRDDs.collect { case (id, r) if r.isCheckpointed => id }
    val seen = scala.collection.mutable.LinkedHashMap.empty[Int, Reads]
    val unnamed = "[A-Z][A-Za-z]*RDD".r
    // the bus delivers events one at a time, in order
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach { r =>
          val name = if (unnamed.matches(r.name)) r.callSite else r.name
          val prev = seen.getOrElse(r.id, Reads(name, 0, twice = false))
          val twice = !done(r.id) && computing.contains(r.id)
          if (!done(r.id) && !twice) computing(r.id) = e.stageInfo.stageId
          seen(r.id) = prev.copy(stages = prev.stages + 1,
            twice = prev.twice || twice)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        computing.filter(_._2 == e.stageInfo.stageId).keys.foreach { id =>
          computing -= id
          done += id
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(marker) != null))
          drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty(marker, "1")
      spark.range(1).collect()
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start never arrived")
    } finally {
      sc.setLocalProperty(marker, null)
      sc.removeSparkListener(listener)
    }
    seen.values.toSeq
  }

  /** The names of the RDDs two stages computed at once during `f`. */
  def overlapping(spark: SparkSession)(f: => Unit): Seq[String] =
    census(spark)(f).filter(_.twice).map(_.name)
}
