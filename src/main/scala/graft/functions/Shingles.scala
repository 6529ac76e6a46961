package graft.functions

import java.util.{ArrayList => JArrayList, HashSet => JHashSet}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles as a native Catalyst expression.
  *
  * `word_shingles(str, n)` is semantically identical to the declarative
  * composition
  * {{{
  *   array_distinct(transform(sequence(0, size(toks) - n),
  *     i => array_join(slice(toks, i + 1, n), " ")))
  *   // toks = filter(split(lower(str), "[^a-z0-9]+"), t => t != "")
  * }}}
  * but runs as ONE tight byte-scan per row instead of four nested
  * higher-order functions. HOFs (`transform`/`filter`/`aggregate`) are
  * CodegenFallback in Spark — every element evaluates a lambda through
  * the interpreter, and `slice` copies a subarray per shingle. Profiled
  * at sf0.1 (5k docs, 260k shingles) the HOF chain costs ~16 s; this
  * expression computes the same arrays in <1 s and keeps the whole
  * projection inside WholeStageCodegen (the generated code calls one
  * static method, the same preferred extension shape as [[RollingHash]]).
  *
  * Exact-parity notes (proven element-by-element in DedupSpec):
  *  - lowercasing is `UTF8String.toLowerCase` — the same call Spark's
  *    `lower()` makes;
  *  - a token is a maximal run of ASCII `[a-z0-9]` bytes, which is
  *    exactly the complement-split-plus-empty-filter above (multi-byte
  *    UTF-8 units are >= 0x80, so they are separators in both forms);
  *  - shingles join n consecutive tokens with a single space, and
  *    de-duplication keeps first-occurrence order like `array_distinct`;
  *  - null/short inputs yield an EMPTY array (the `when(size >= n)`
  *    otherwise-branch of the declarative form), so the expression is
  *    never null.
  */
final case class Shingles(child: Expression, n: Int,
                          distinct: Boolean = true) extends UnaryExpression {

  require(n >= 1, "shingle width n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_shingles"

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    Shingles.compute(child.eval(input).asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.Shingles.compute(${c.isNull} ? null : ${c.value}, $n, $distinct);
        """,
      isNull = FalseLiteral)
  }
}

object Shingles {

  private val Empty = new GenericArrayData(Array.empty[Any])

  private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  /** One-pass shingling; shared by interpreted and generated paths.
    * `distinct=false` keeps every shingle in sequence order, so the
    * array INDEX of an element is its 0-based token offset — the form
    * span-level work (posexplode) needs. */
  def compute(s: UTF8String, n: Int, distinct: Boolean = true): ArrayData = {
    if (s == null) return Empty
    val bytes = s.toLowerCase.getBytes
    val len = bytes.length
    // token spans: starts(i) inclusive, ends(i) exclusive
    var starts = new Array[Int](16)
    var ends   = new Array[Int](16)
    var m = 0
    var i = 0
    while (i < len) {
      if (isTokenByte(bytes(i))) {
        val st = i
        while (i < len && isTokenByte(bytes(i))) i += 1
        if (m == starts.length) {
          starts = java.util.Arrays.copyOf(starts, m * 2)
          ends   = java.util.Arrays.copyOf(ends, m * 2)
        }
        starts(m) = st; ends(m) = i; m += 1
      } else i += 1
    }
    if (m < n) return Empty
    val seen = new JHashSet[UTF8String]()
    val out  = new JArrayList[Any]()
    var g = 0
    while (g <= m - n) {
      var size = n - 1 // joining spaces
      var j = g
      while (j < g + n) { size += ends(j) - starts(j); j += 1 }
      val buf = new Array[Byte](size)
      var pos = 0
      j = g
      while (j < g + n) {
        if (j > g) { buf(pos) = ' '; pos += 1 }
        val tl = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), buf, pos, tl)
        pos += tl
        j += 1
      }
      val sh = UTF8String.fromBytes(buf)
      if (!distinct || seen.add(sh)) out.add(sh)
      g += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Register `word_shingles(str, n)` (distinct, first-occurrence
    * order) and `word_shingles_seq(str, n)` (every shingle, sequence
    * order — index = token offset) as SQL functions on the session. */
  def register(spark: SparkSession): Unit = {
    def builder(name: String, distinct: Boolean): Unit =
      GraftExtensions.registerOnce(spark, name) { args =>
        require(args.length == 2, s"$name(str, n) takes 2 arguments")
        val n = args(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(s"n must be an int literal, got $other")
        }
        Shingles(args.head, n, distinct)
      }
    builder("word_shingles", distinct = true)
    builder("word_shingles_seq", distinct = false)
  }
}
