package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing-style document fingerprint as a native Catalyst expression.
  *
  * `RollingHash(str, k)` computes the polynomial rolling hash
  * `h(i) = Σ b[i+j]·B^(k-1-j) (mod 2^64)` of every k-byte window of the
  * UTF-8 bytes of `str` in O(n) (each window updates the previous one:
  * multiply, add the new byte, drop the old byte's `B^(k-1)` term), and
  * returns the MINIMUM window hash — a content-defined fingerprint that
  * is stable under document reordering at window granularity, the
  * selection step of the winnowing fingerprint family. Inputs shorter
  * than k hash their full byte string.
  *
  * Implemented as a `UnaryExpression` with `doGenCode` so it fuses into
  * WholeStageCodegen: the generated Java is the same tight loop the
  * interpreted path runs, with zero boxing and no UDF serialization —
  * the preferred extension point when `functions._` can't express an
  * operator (SURVEY §3).
  */
final case class RollingHash(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "window size k must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash expects a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.minWindowHash(input.asInstanceOf[UTF8String].getBytes, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.minWindowHash($c.getBytes(), $k)")
}

object RollingHash {
  /** Base of the polynomial hash (odd ⇒ invertible mod 2^64). */
  final val Base = 1000003L

  /** O(n) minimum k-window polynomial hash; shared by the interpreted
    * and generated paths so they are identical by construction. */
  def minWindowHash(bytes: Array[Byte], k: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val w = if (k > n) n else k
    // B^(w-1) for removing the outgoing byte
    var pow = 1L
    var i = 1
    while (i < w) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    var minH = h
    i = w
    while (i < n) {
      h = (h - (bytes(i - w) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
      if (h < minH) minH = h
      i += 1
    }
    minH
  }

  /** Register `rolling_hash(str, k)` as a SQL function on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "rolling_hash") { args =>
      require(args.length == 2, "rolling_hash(str, k) takes 2 arguments")
      val k = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(s"k must be an int literal, got $other")
      }
      RollingHash(args.head, k)
    }
}
