package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ordered (i < j) element pairs of a long array, as a native
  * Catalyst expression.
  *
  * `array_pairs(ids)` is the in-bucket pair generator of the dedup
  * family: a bucket's sorted doc-id list becomes its n·(n-1)/2
  * candidate pairs map-side, before any shuffle. The declarative form —
  * nested `transform(sequence(...))` with `element_at` — interprets two
  * lambda layers per emitted pair (HOFs are CodegenFallback); this
  * expression emits the same structs from one generated-code call per
  * bucket. Order matches the nested-loop form: (0,1),(0,2),…,(1,2),…
  */
final case class ArrayPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"array_pairs expects array<bigint>, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id1", LongType, nullable = false),
      StructField("id2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "array_pairs"

  override protected def withNewChildInternal(newChild: Expression): ArrayPairs =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    ArrayPairs.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayPairs.compute($c)")
}

object ArrayPairs {

  /** n·(n-1)/2 (i<j) pairs in nested-loop order; shared by interpreted
    * and generated paths. */
  def compute(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val count = n.toLong * (n - 1) / 2
    // quadratic growth must fail loudly, not wrap Int negative — callers
    // are expected to cap bucket sizes (maxDF / bucketCap) BEFORE
    // pairing; an uncapped bucket reaching here is a bug upstream
    require(count <= Int.MaxValue,
      s"array_pairs: $n elements would emit $count pairs; cap the bucket first")
    val out = new Array[Any](count.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val a = ids.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, ids.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Register `array_pairs(arr)` as a SQL function on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "array_pairs") { args =>
      require(args.length == 1, "array_pairs(arr) takes 1 argument")
      ArrayPairs(args.head)
    }
}
