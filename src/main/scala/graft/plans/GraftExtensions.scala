package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, Size}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** Optimizer rule for the 100 TB path: rewrite exact
  * `size(collect_set(x))` distinct counts into HyperLogLog++
  * (`approx_count_distinct`). The reference counts distinct
  * merchants/payment-methods with per-key HashSets
  * (reference: windows/WindowProcessor.java:261,317-320,435-439) —
  * exact but O(distinct) state per key. At cluster scale the HLL
  * sketch (constant ~KB state, mergeable map-side) is the right
  * trade; the rewrite is opt-in (`spark.graft.rewrite.approxDistinct`)
  * because it changes results, and stays off for the DuckDB-oracle
  * correctness surface.
  */
object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  val ConfKey = "spark.graft.rewrite.approxDistinct"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(ConfKey, "false").toBoolean) plan
    else plan.transformAllExpressions {
      case Size(AggregateExpression(CollectSet(child, _, _), mode, false, filter, id), _) =>
        // optimizer rules must preserve types: size() is INT, the HLL
        // count is BIGINT — cast back
        Cast(AggregateExpression(
          HyperLogLogPlusPlus(child), mode, isDistinct = false, filter, id),
          IntegerType)
    }
}

/** The one way graft's native kernels reach a running session:
  * `install` registers `haversine_km`, `dot_d` and `bounded_levenshtein`
  * as SQL functions and adds the approx-distinct rewrite and the top-k
  * and as-of join strategies, each at most once however often it runs.
  */
object GraftExtensions {
  /** `bounded_levenshtein(l, r, k)` — k must be a foldable INT
    * constant (it parameterizes the band width at plan time, exactly
    * like the built-in three-argument `levenshtein`); builders run
    * before constant folding, so foldable non-literals (`1+2`, `-1`
    * parsed as UnaryMinus) are evaluated here.
    */
  private val boundedLevBuilder: Seq[Expression] => Expression = {
    case Seq(a, b, k)
        if k.foldable && k.dataType == IntegerType && k.eval() != null =>
      BoundedLevenshtein(a, b, k.eval().asInstanceOf[Int])
    case other => throw new IllegalArgumentException(
      "bounded_levenshtein expects (string, string, constant int); got " +
        (if (other.size != 3) s"${other.size} argument(s)"
         else s"a third argument of type ${other(2).dataType.simpleString}" +
           (if (other(2).foldable) "" else " that is not a constant")))
  }

  private def arityError(name: String, n: Int, children: Seq[Expression]) =
    new IllegalArgumentException(s"$name expects $n arguments, got ${children.size}")

  /** Each SQL function's name and builder. */
  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("haversine_km", {
      case Seq(a, b, c, d) => HaversineDistance(a, b, c, d)
      case cs => throw arityError("haversine_km", 4, cs)
    }),
    ("dot_d", {
      case Seq(a, b) => DotProduct(a, b)
      case cs => throw arityError("dot_d", 2, cs)
    }),
    ("bounded_levenshtein", boundedLevBuilder))

  /** Add `strategy` to the session's extra strategies unless it is
    * there; the operators that build a graft logical node call this. */
  private[graft] def useStrategy(spark: SparkSession,
                                 strategy: SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ strategy

  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.contains(ApproxDistinctRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ ApproxDistinctRewrite
    useStrategy(spark, TopKStrategy)
    useStrategy(spark, AsOfJoinStrategy)
  }
}
