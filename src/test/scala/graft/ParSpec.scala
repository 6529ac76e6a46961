package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Par

/** Tasks run in this JVM under local[N]: the latch tells the test that
  * the sibling's job is really running before the failure is thrown. */
object ParSpecLatch {
  @volatile var running = new CountDownLatch(1)
}

class ParSpec extends AnyFunSuite {
  import SparkTestSession._

  private val prop = "graft.spec.par"

  /** A task that runs until its job is cancelled (60 s at most). */
  private def blockUntilCancelled(): Unit = {
    val sc = spark.sparkContext
    sc.parallelize(Seq(1), 1).foreach { _ =>
      ParSpecLatch.running.countDown()
      val until = System.currentTimeMillis() + 60000L
      while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < until)
        Thread.sleep(10)
    }
  }

  test("a failing branch cancels its siblings' jobs and surfaces its own exception") {
    val sc = spark.sparkContext
    ParSpecLatch.running = new CountDownLatch(1)
    // (job id, start ms, role) of every job the scope starts, and how
    // each ended
    val starts = new ConcurrentLinkedQueue[(Int, Long, String)]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(prop)).orNull match {
          case null =>
          case "marker" => drained.countDown()
          case role => starts.add((e.jobId, e.time, role))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.jobResult match {
          case _: JobFailed => "failed"
          case _ => "succeeded"
        })
    }
    sc.addSparkListener(listener)
    val boom = new IllegalStateException("boom")
    var returnedAt = 0L
    try {
      sc.setLocalProperty(prop, "scope")
      val thrown = intercept[IllegalStateException] {
        try Par.scope { par =>
          par.fork {
            sc.setLocalProperty(prop, "blocked")
            blockUntilCancelled()
          }
          // a sibling that keeps submitting short jobs: only the scope's
          // repeated cancellation ends it before its 60 s run-out
          par.fork {
            sc.setLocalProperty(prop, "looping")
            val until = System.currentTimeMillis() + 60000L
            while (System.currentTimeMillis() < until)
              sc.parallelize(1 to 4, 2).foreach(_ => Thread.sleep(100))
          }
          par.fork {
            assert(ParSpecLatch.running.await(60, TimeUnit.SECONDS))
            throw boom
          }
          spark.range(10).count() // the body's own jobs belong to the scope
        } finally {
          returnedAt = System.currentTimeMillis()
          sc.setLocalProperty(prop, null)
        }
      }
      assert(thrown eq boom)
      Thread.sleep(300)
      sc.setLocalProperty(prop, "marker")
      spark.range(1).collect()
      assert(drained.await(60, TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(prop, null)
      sc.removeSparkListener(listener)
    }
    val jobs = starts.toArray(Array.empty[(Int, Long, String)]).toSeq
    val blocked = jobs.filter(_._3 == "blocked")
    assert(blocked.length == 1, jobs)
    assert(ends.get(blocked.head._1) == "failed", s"blocked job ended ${ends.get(blocked.head._1)}")
    assert(jobs.exists(_._3 == "looping"), jobs)
    assert(jobs.forall(_._2 <= returnedAt),
      s"jobs started after the scope returned: ${jobs.filter(_._2 > returnedAt)}")
    assert(jobs.forall(j => ends.containsKey(j._1)), s"unfinished jobs: $jobs")
  }

  test("a branch sees the caller's local properties and active session") {
    val sc = spark.sparkContext
    val other = spark.newSession()
    val prior = SparkSession.getActiveSession
    sc.setLocalProperty(prop, "caller")
    SparkSession.setActiveSession(other)
    try {
      val (seen, session) = Par.scope { par =>
        val f = par.fork((sc.getLocalProperty(prop), SparkSession.active))
        f.join()
      }
      assert(seen == "caller")
      assert(session eq other)
    } finally {
      prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      sc.setLocalProperty(prop, null)
    }
  }

  test("both returns each side's result and a scope waits for unjoined branches") {
    val done = new java.util.concurrent.atomic.AtomicBoolean
    val (a, b) = Par.both(spark.range(5).count(), spark.range(7).count())
    assert((a, b) == (5L, 7L))
    Par.scope { par => par.fork { Thread.sleep(200); done.set(true) }; () }
    assert(done.get)
  }
}
