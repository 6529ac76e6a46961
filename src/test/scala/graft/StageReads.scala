package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Persisted RDDs (lazy checkpoints, caches) that two stages computed
  * at once while `f` ran.
  *
  * The first stage whose lineage holds a persisted RDD computes its
  * partitions and stores them; a stage submitted after it completes
  * reads the stored blocks. A second stage submitted while the first
  * still runs computes the same partitions again, and the later copy is
  * thrown away ("Block rdd_N_0 already exists on this machine"). That
  * log line needs two tasks to race on one block; the overlap of the
  * two stages, checked here, does not. */
object StageReads {

  /** The call sites of the RDDs two stages computed at once during `f`. */
  def overlapping(spark: SparkSession)(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "graft.spec.stage-reads"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val computing = scala.collection.mutable.Map.empty[Int, Int] // rdd -> stage
    val done = scala.collection.mutable.Set.empty[Int]
    val twice = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    // the bus delivers events one at a time, in order
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(r => r.storageLevel.isValid && !done(r.id))
          .foreach { r =>
            if (computing.contains(r.id)) twice(r.id) = r.callSite
            else computing(r.id) = e.stageInfo.stageId
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
    twice.values.toSeq
  }
}
