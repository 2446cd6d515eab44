package graft.plans

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.CAST
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.DoubleToDecimal

/** Optimizer rule: every `Cast(x AS DECIMAL(p,s))` of a double `x`
  * becomes a [[DoubleToDecimal]], which computes the same decimal from
  * the double's round-trip interval ([[graft.functions.DecimalOps]])
  * instead of parsing `Double.toString(x)`, and hands the rows it cannot
  * decide to the original `Cast`.
  *
  * The engine sends every aggregated double through DECIMAL so results
  * do not depend on summation order; Spark's cast of each of those
  * doubles was the largest CPU cost of the bulk-load aggregate. The rule
  * reaches those determinism casts in operators, llm and the registry
  * alike, and casts in user SQL.
  *
  * Results are bit-identical, including nulls, ANSI error classes and
  * `try_cast` (ExactDecimalCastSpec). The rewrite is idempotent: the new
  * node is not a `Cast`. Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.ExactDecimalCast`.
  */
object ExactDecimalCast extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(_.containsPattern(CAST)) {
      case Cast(child, dt: DecimalType, timeZoneId, evalMode)
          if child.dataType == DoubleType =>
        DoubleToDecimal(child, dt, evalMode, timeZoneId)
    }
}
