package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Array dot product as a native Catalyst expression.
  *
  * `dot_product(a, b)` computes `Σ a[i]·b[i]` over two `array<double>`
  * columns with a strict LEFT-TO-RIGHT accumulation — bit-identical to
  * the declarative fold
  * `aggregate(zip_with(a, b, (p, q) => p*q), 0.0d, (acc, v) => acc + v)`
  * it replaces (and to DuckDB's `list_sum(list_transform(...))` oracle
  * form), so swapping it in changes no result hashes.
  *
  * The declarative fold interprets both lambdas per ELEMENT (HOFs are
  * CodegenFallback); at 200k candidate pairs × 64 dims that is ~13M
  * interpreter round-trips per similarity query. This expression is one
  * static-method call per ROW from generated code — the hot inner loop
  * of every cosine-similarity operator (dedup_embedding, ann_*).
  *
  * Length mismatch throws (the fold form would yield null via a
  * null-poisoned accumulator; all callers zip equal-dim vectors, so a
  * mismatch is a bug worth surfacing, not a value).
  */
final case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDoubleArray(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isDoubleArray(left.dataType) && isDoubleArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<double> inputs, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.dot($a, $b)")
}

object DotProduct {

  /** Sequential-fold dot product; shared by interpreted and generated
    * paths so they are identical by construction. Null elements throw —
    * getDouble on a null slot would silently read 0.0 (or garbage),
    * whereas the declarative fold this replaces null-poisons; an
    * exception surfaces the bad data instead of a wrong similarity. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot_product: length mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"dot_product: null element at index $i")
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Register `dot_product(a, b)` as a SQL function on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "dot_product") { args =>
      require(args.length == 2, "dot_product(a, b) takes 2 arguments")
      DotProduct(args(0), args(1))
    }
}
