package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level Shannon entropy of a string as a native Catalyst
  * expression — a standard corpus-quality signal (natural prose sits
  * near the language's byte entropy; base64 blobs, padding, and
  * mono-character junk sit far from it on either side).
  *
  * `CharEntropy(str)` histograms the UTF-8 bytes (one 256-slot int
  * array per row, O(n) + O(256)) and returns
  * `-Σ p_b·log2(p_b)` in bits per byte. For ASCII text this equals
  * character entropy; multi-byte code points count per byte, which is
  * the cheap, allocation-free choice at 100 TB (no decode pass).
  *
  * Summation runs in ascending byte order — a FIXED order, so the
  * float result is identical regardless of row location, partitioning,
  * or engine replays (the DuckDB oracle re-derives it with the same
  * per-symbol grouping).
  *
  * A `UnaryExpression` with `doGenCode`, fusing into WholeStageCodegen
  * like [[RollingHash]]: one static call per row, zero boxing, no UDF
  * serialization — the preferred extension point when `functions._`
  * can't express an operator (SURVEY §3).
  */
final case class CharEntropy(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_entropy expects a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    CharEntropy.entropy(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CharEntropy.entropy($c.getBytes())")
}

object CharEntropy {
  private val Log2 = math.log(2.0)

  /** Shared by the interpreted and generated paths — identical by
    * construction. Empty input → 0.0. */
  def entropy(bytes: Array[Byte]): Double = {
    val n = bytes.length
    if (n == 0) return 0.0
    val hist = new Array[Int](256)
    var i = 0
    while (i < n) { hist(bytes(i) & 0xff) += 1; i += 1 }
    var h = 0.0
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) { val p = c.toDouble / n; h -= p * math.log(p) / Log2 }
      b += 1
    }
    h
  }

  /** Register `char_entropy(str)` as a SQL function on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "char_entropy") { args =>
      require(args.length == 1, "char_entropy(str) takes 1 argument")
      CharEntropy(args.head)
    }
}
