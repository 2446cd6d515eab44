package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's one way into a session: set
  * `spark.sql.extensions=graft.functions.GraftExtensions` (as
  * [[graft.GraftSession]] does). It injects the native functions
  * (`roman_to_int`, `graft_*`, …, resolvable from the DataFrame API and
  * SQL text alike), the as-of planner strategy
  * ([[graft.plans.AsOfJoinStrategy]]) and the four optimizer rules.
  * Operators that call a native function or plan an as-of join need a
  * session built with it; there is no runtime registration fallback.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.WindowAggRewrite)
    ext.injectOptimizerRule(_ => graft.plans.GeneratorSiblingPushdown)
    ext.injectOptimizerRule(_ => graft.plans.ExactDecimalCast)
  }
}

object GraftExtensions {
  private val romanToInt = (
    FunctionIdentifier("roman_to_int"),
    new ExpressionInfo(classOf[RomanToInt].getName, "roman_to_int"),
    (children: Seq[Expression]) => RomanToInt(children.head): Expression,
  )

  private def functions = Seq(
    romanToInt, VectorDotDecimal.descriptor, VectorDotDouble.descriptor,
    MightContain.descriptor, SortedIntersectCount.descriptor, WordShingles.descriptor,
    WordShinglesAll.descriptor, NfcNormalize.descriptor,
    NearestCell.descriptor, SizedBloom.descriptor, BloomMightContainAny.descriptor,
    SqDistDouble.descriptor, SortedIntersectLongs.descriptor,
    HeavyHitters.descriptor, JaroWinkler.descriptor)
}
