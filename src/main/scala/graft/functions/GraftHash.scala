package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 64-bit string hash: FNV-1a over the UTF-8 bytes,
  * xor-folded with a caller seed, finished with the splitmix64 mixer
  * (Steele et al., OOPSLA 2014 — the standard finalizer for exactly
  * this construction; FNV alone has weak high-bit avalanche).
  *
  * Every step is plain mod-2^64 arithmetic (no lane rotations), so an
  * INDEPENDENT engine can recompute it — the DuckDB oracles emulate it
  * with 128-bit integers, which is what lets minhash/simhash move from
  * rows-only to hash-matched correctness rows. xxhash64 would be
  * marginally faster but is Spark-only in practice.
  *
  * Codegen'd `UnaryExpression` like [[RollingHash]]: one static-method
  * call per row inside WholeStageCodegen.
  */
final case class GraftHash64(child: Expression, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hash64 expects a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash64"

  override protected def withNewChildInternal(newChild: Expression): GraftHash64 =
    copy(child = newChild)

  override protected def nullSafeEval(input: Any): Any =
    GraftHash64.hash(input.asInstanceOf[UTF8String].getBytes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.GraftHash64.hash($c.getBytes(), ${seed}L)")
}

object GraftHash64 {
  /** 2^64 / φ — the seed offset for independent hash variants. */
  final val Golden = 0x9e3779b97f4a7c15L

  def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z ^= (z >>> 30); z *= 0xbf58476d1ce4e5b9L
    z ^= (z >>> 27); z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(bytes: Array[Byte], seed: Long): Long = mix(fnv1a(bytes) ^ seed)

  /** Register `graft_hash64(str, seedLiteral)` on the session. */
  def register(spark: SparkSession): Unit =
    GraftExtensions.registerOnce(spark, "graft_hash64") { args =>
      require(args.length == 2, "graft_hash64(str, seed) takes 2 arguments")
      val seed = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)  => v.toLong
        case other => throw new IllegalArgumentException(s"seed must be a literal, got $other")
      }
      GraftHash64(args.head, seed)
    }
}
