package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session-extension packaging for graft's custom Catalyst functions.
  *
  * Two ways to get `rolling_hash` / `minhash_agg` / `word_shingles` /
  * `dot_product` into a session:
  *
  *  - at build time (idiomatic for deployments):
  *    {{{ spark.sql.extensions=graft.functions.GraftExtensions }}}
  *    or `SparkSession.builder().withExtensions(new GraftExtensions) `;
  *  - on a live session: [[GraftExtensions.registerAll]] (what the
  *    query layer does lazily).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // plan-level safety net: scalar cross joins become auditable
    // equi-joins (see RewriteScalarCrossJoin scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.RewriteScalarCrossJoin)
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => GraftExtensions.buildRollingHash(args)))
    ext.injectFunction((
      FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[MinHashAgg].getName, "minhash_agg"),
      (args: Seq[Expression]) => GraftExtensions.buildMinHashAgg(args)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "word_shingles"),
      (args: Seq[Expression]) => GraftExtensions.buildShingles(args)))
    ext.injectFunction((
      FunctionIdentifier("word_shingles_seq"),
      new ExpressionInfo(classOf[Shingles].getName, "word_shingles_seq"),
      (args: Seq[Expression]) => GraftExtensions.buildShinglesSeq(args)))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => GraftExtensions.buildDotProduct(args)))
    ext.injectFunction((
      FunctionIdentifier("array_pairs"),
      new ExpressionInfo(classOf[ArrayPairs].getName, "array_pairs"),
      (args: Seq[Expression]) => GraftExtensions.buildArrayPairs(args)))
    ext.injectFunction((
      FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[CharEntropy].getName, "char_entropy"),
      (args: Seq[Expression]) => GraftExtensions.buildCharEntropy(args)))
  }
}

object GraftExtensions {

  private[functions] def intLiteral(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private[functions] def buildRollingHash(args: Seq[Expression]): Expression = {
    require(args.length == 2, "rolling_hash(str, k) takes 2 arguments")
    RollingHash(args.head, intLiteral(args(1), "k"))
  }

  private[functions] def buildMinHashAgg(args: Seq[Expression]): Expression = {
    require(args.length == 2, "minhash_agg(str, k) takes 2 arguments")
    MinHashAgg(args.head, intLiteral(args(1), "k"))
  }

  private[functions] def buildShingles(args: Seq[Expression]): Expression = {
    require(args.length == 2, "word_shingles(str, n) takes 2 arguments")
    Shingles(args.head, intLiteral(args(1), "n"))
  }

  private[functions] def buildShinglesSeq(args: Seq[Expression]): Expression = {
    require(args.length == 2, "word_shingles_seq(str, n) takes 2 arguments")
    Shingles(args.head, intLiteral(args(1), "n"), distinct = false)
  }

  private[functions] def buildDotProduct(args: Seq[Expression]): Expression = {
    require(args.length == 2, "dot_product(a, b) takes 2 arguments")
    DotProduct(args(0), args(1))
  }

  private[functions] def buildArrayPairs(args: Seq[Expression]): Expression = {
    require(args.length == 1, "array_pairs(arr) takes 1 argument")
    ArrayPairs(args.head)
  }

  private[functions] def buildCharEntropy(args: Seq[Expression]): Expression = {
    require(args.length == 1, "char_entropy(str) takes 1 argument")
    CharEntropy(args.head)
  }

  /** Registers `builder` as the SQL function `name` on the session,
    * once: a session whose registry already holds `name` (an earlier
    * call, or the build-time extension above) is left as it is. The
    * check and the registration are one step under the registry's own
    * lock, so concurrent callers neither replace an entry under a
    * sibling's analysis nor log Spark's "replaced a previously
    * registered function". */
  private[graft] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Register all custom functions on an already-built session. */
  def registerAll(spark: SparkSession): Unit = {
    RollingHash.register(spark)
    MinHashAgg.register(spark)
    Shingles.register(spark)
    DotProduct.register(spark)
    ArrayPairs.register(spark)
    CharEntropy.register(spark)
  }
}
