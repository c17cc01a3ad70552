package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.LongType

/** graft's native Catalyst expressions.
  *
  * Three paths to them:
  *  - the typed column functions ([[GraftFunctions.cosine]], …): what the
  *    operators use. They build the expression directly, so a plan
  *    never depends on what a session's function registry holds;
  *  - [[GraftFunctions.register]]: idempotent per-session registration
  *    of the SQL names, for `expr`/`selectExpr` callers;
  *  - [[GraftExtensions]]: `SparkSessionExtensions` hook for
  *    `spark.sql.extensions=graft.plans.GraftExtensions`, making every
  *    function of [[GraftFunctions.table]] available in every session
  *    of a cluster.
  *
  * The optional scan-CSE optimizer rule activates separately via
  * [[ScanCSE.install]]: it must sit in the LAST logical batch
  * (`experimental.extraOptimizations`), which no
  * `SparkSessionExtensions` injection point reaches — see the
  * [[ScanCSE]] scaladoc for the batch-ordering argument.
  */
object GraftFunctions {
  /** One native function: its SQL name, the class its `ExpressionInfo`
    * names, and its arity-checked builder. */
  private[plans] final case class Fn(name: String, infoClass: Class[_],
                                     builder: FunctionBuilder) {
    def info: ExpressionInfo = new ExpressionInfo(infoClass.getName, name)
  }

  private def fn(name: String, infoClass: Class[_])(
      mk: String => FunctionBuilder): Fn = Fn(name, infoClass, mk(name))

  /** The function table: [[names]], [[register]] and [[GraftExtensions]]
    * all iterate over it.
    *
    * The Bloom sketch pair (`BloomFilterAggregate` /
    * `BloomFilterMightContain`) is Spark's own — engine-native,
    * codegen'd, but with no public DSL wrapper and (in this build) no SQL
    * registration for the probe side; exposed here for
    * [[graft.operators.Dedup.bloomDedupNew]]. The aggregate's
    * estimated-items argument is CAST to LongType so SQL integer literals
    * type-check; the probe's sketch side must be foldable (a literal) per
    * the expression's own input check. */
  private[plans] val table: Seq[Fn] = Seq(
    fn("graft_cosine", classOf[FloatCosine])(
      binary(_, "(array<float>, array<float>)", FloatCosine)),
    fn("graft_jaccard_sorted", classOf[SortedJaccard])(
      binary(_, "(array<bigint>, array<bigint>)", SortedJaccard)),
    fn("graft_pct_normalize", classOf[PercentNormalize])(
      unary(_, "(string)", PercentNormalize.apply)),
    fn("graft_jaro_winkler", classOf[JaroWinkler])(
      binary(_, "(string, string)", JaroWinkler.apply)),
    fn("graft_bloom_agg", classOf[BloomFilterAggregate])(
      binary(_, "(bigint hash, bigint estimated_items)",
        (child, est) => new BloomFilterAggregate(child, Cast(est, LongType)))),
    fn("graft_might_contain", classOf[BloomFilterMightContain])(
      binary(_, "(binary sketch, bigint hash)", BloomFilterMightContain(_, _))),
    fn("graft_vector_sum", classOf[VectorDecimalSum])(vectorSumFn))

  val names: Seq[String] = table.map(_.name)

  private def column(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  /** `graft_cosine`, [[FloatCosine]] */
  def cosine(a: Column, b: Column): Column = column(FloatCosine(ex(a), ex(b)))
  /** `graft_jaccard_sorted`, [[SortedJaccard]] */
  def jaccardSorted(a: Column, b: Column): Column =
    column(SortedJaccard(ex(a), ex(b)))
  /** `graft_jaro_winkler`, [[JaroWinkler]] */
  def jaroWinkler(a: Column, b: Column): Column = column(JaroWinkler(ex(a), ex(b)))
  /** `graft_vector_sum` aggregate, [[VectorDecimalSum]] */
  def vectorSum(v: Column, precision: Int, scale: Int): Column =
    column(VectorDecimalSum(ex(v), Literal(precision), Literal(scale))
      .toAggregateExpression())
  /** `graft_bloom_agg` aggregate: a one-pass fixed-size sketch over a
    * LongType hash column, Spark's own runtime-filter
    * `BloomFilterAggregate` (it has no public DSL wrapper) */
  def bloomAgg(hashed: Column, expectedItems: Long): Column =
    column(new BloomFilterAggregate(ex(hashed), Cast(Literal(expectedItems), LongType))
      .toAggregateExpression())
  /** `graft_might_contain`: Spark's `BloomFilterMightContain` against a
    * serialized sketch embedded as a literal (the expression type-checks
    * only foldable or subquery sketch sides; a literal ships with the
    * task binary like any broadcast scalar) */
  def mightContain(bloom: Array[Byte], hashed: Column): Column =
    column(BloomFilterMightContain(Literal(bloom), ex(hashed)))

  private[plans] def vectorSumFn(name: String): FunctionBuilder = { exprs =>
    require(exprs.length == 3,
      s"$name expects exactly 3 arguments " +
        s"(array<double>, int precision, int scale), got ${exprs.length}")
    VectorDecimalSum(exprs(0), exprs(1), exprs(2))
  }

  /** arity gate: bad call sites get an analysis-time message naming the
    * function, not an IndexOutOfBoundsException from exprs(1). */
  private[plans] def binary(name: String, argTypes: String,
                            mk: (Expression, Expression) => Expression)
      : FunctionBuilder = { exprs =>
    require(exprs.length == 2,
      s"$name expects exactly 2 arguments $argTypes, got ${exprs.length}")
    mk(exprs(0), exprs(1))
  }

  private[plans] def unary(name: String, argTypes: String,
                           mk: Expression => Expression)
      : FunctionBuilder = { exprs =>
    require(exprs.length == 1,
      s"$name expects exactly 1 argument $argTypes, got ${exprs.length}")
    mk(exprs(0))
  }

  /** Registers each function of [[table]] the session does not already
    * carry: a name whose registered `ExpressionInfo` names the same
    * class (an earlier call, or [[GraftExtensions]]) is left as it is, so
    * a repeated call neither redoes the work nor logs Spark's "replaced
    * a previously registered function". */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { f =>
      val id = FunctionIdentifier(f.name)
      if (!reg.lookupFunction(id).exists(_.getClassName == f.infoClass.getName))
        reg.registerFunction(id, f.info, f.builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
}
