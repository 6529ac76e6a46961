package graft.exec

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentLinkedQueue,
  ExecutionException, Executors, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** The one way graft overlaps Spark driver jobs: structured concurrency.
  *
  * `Par.scope { s => … s.fork(x) … }` runs each forked branch on one
  * dedicated daemon pool while the scope body goes on in the caller's
  * thread.
  *   - A branch sees the caller's local properties (job group and
  *     description, job tags, any custom property) and active session as
  *     they were at `fork` (`SQLExecution.withThreadLocalCaptured`), so
  *     its jobs are attributed and cancellable like the caller's own.
  *   - Every job of the scope, in its branches and in the body, carries
  *     the scope's job tag. On the first failure the scope cancels the
  *     tag's jobs, keeps cancelling until every branch has ended (a
  *     branch between two jobs may still submit one) and then rethrows
  *     that first exception itself, never a sibling's cancellation.
  *   - No branch outlives its scope: `scope` returns or throws only once
  *     every branch has ended, so a scope opened inside a conf-scoped
  *     block such as `EventStreams.withStateParts` cannot leak a job past
  *     the block's restore.
  *
  * The pool is cached (threads are made on demand, idle ones retire): a
  * branch may open a nested scope, which a fixed-size pool could
  * deadlock on. Live threads are bounded by the open branches, a handful
  * per scope. */
object Par {

  private val scopes = new AtomicInteger
  private val threads = new AtomicInteger
  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-par-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** A forked branch's handle. */
  final class Fork[A] private[Par] (cf: CompletableFuture[A]) {
    /** Blocks for the branch; rethrows its exception as thrown. */
    def join(): A = try cf.join() catch { case e: CompletionException => throw unwrap(e) }
  }

  final class Scope private[Par] (session: SparkSession) {
    private val sc = session.sparkContext
    private[Par] val tag = s"graft-par-${scopes.incrementAndGet()}"
    private val branches = new ConcurrentLinkedQueue[CompletableFuture[_]]
    private[Par] val failure = new AtomicReference[Throwable]

    /** Starts `body` as a branch of this scope. */
    def fork[A](body: => A): Fork[A] = {
      Option(failure.get).foreach(e => throw e)
      val cf = SQLExecution.withThreadLocalCaptured(session, pool)(body)
      cf.whenComplete((_, e) => if (e != null) fail(unwrap(e)))
      branches.add(cf)
      new Fork(cf)
    }

    private[Par] def fail(e: Throwable): Unit =
      if (failure.compareAndSet(null, e)) cancel()

    private def cancel(): Unit =
      sc.cancelJobsWithTag(tag, s"a branch of $tag failed")

    /** Waits for every branch, cancelling the scope's jobs while it has
      * failed; an interrupt counts as the scope's failure. */
    private[Par] def close(): Unit = {
      val all = CompletableFuture.allOf(branches.toArray(Array.empty[CompletableFuture[_]]): _*)
      var interrupted = false
      while (!all.isDone) {
        try all.get(50, TimeUnit.MILLISECONDS) catch {
          case _: TimeoutException | _: ExecutionException => ()
          case e: InterruptedException => interrupted = true; fail(e)
        }
        if (failure.get != null && !all.isDone) cancel()
      }
      if (interrupted) Thread.currentThread.interrupt()
    }
  }

  private def unwrap(e: Throwable): Throwable = e match {
    case c: CompletionException if c.getCause != null => c.getCause
    case _ => e
  }

  /** Runs `body` with a scope to fork branches into; returns its result
    * once every branch has ended, or throws the scope's first failure. */
  def scope[T](body: Scope => T): T = {
    val session = SparkSession.active
    val s = new Scope(session)
    val sc = session.sparkContext
    sc.addJobTag(s.tag)
    var out: Option[T] = None
    try out = Some(body(s)) catch { case e: Throwable => s.fail(e) }
    finally {
      s.close()
      sc.removeJobTag(s.tag)
    }
    Option(s.failure.get).foreach(e => throw e)
    out.get
  }

  /** `a` and `b` overlapped: `b` is forked, `a` runs in the caller's
    * thread. */
  def both[A, B](a: => A, b: => B): (A, B) = scope { s =>
    val fb = s.fork(b)
    val ra = a
    (ra, fb.join())
  }
}
