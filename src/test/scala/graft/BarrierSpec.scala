package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every key, run once: no persisted RDD is computed by two stages at
  * once, so no checkpoint block is thrown away ("Block rdd_N_0 already
  * exists") and no stage reports SQL metrics of a plan its checkpoint
  * already cut ("Failed to update accumulator"). A flag names the key
  * and the `PlanBarrier` site; the fix is a `shared` barrier or a
  * rewrite that gives the table one reader. */
class BarrierSpec extends AnyFunSuite {
  import SparkTestSession._

  test("no key computes a persisted RDD from two stages at once") {
    val keys = (SparkEntry.queries ++ SparkEntry.diagnostics).toSeq.sortBy(_._1)
    val lost = Seq("already exists", "Failed to update accumulator")
    val (flags, lines) = keys.map { case (key, q) =>
      var twice = Seq.empty[String]
      val warnings = LogLines.warnings {
        twice = StageReads.overlapping(spark)(q(spark, sf).count())
      }
      (twice.map(n => s"$key: $n"),
        warnings.filter(w => lost.exists(w.contains)).map(w => s"$key: $w"))
    }.unzip
    assert(flags.flatten.isEmpty,
      flags.flatten.mkString(s"${flags.flatten.size} flags:\n", "\n", ""))
    assert(lines.flatten.isEmpty,
      lines.flatten.mkString(s"${lines.flatten.size} lines:\n", "\n", ""))
  }
}
