package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete}
import org.apache.spark.sql.catalyst.expressions.{
  Add, Alias, And, Attribute, AttributeReference, CreateStruct, EqualTo,
  Expression, GetStructField, GreaterThan, GreaterThanOrEqual, LessThan,
  LessThanOrEqual, Literal, PosExplode, PredicateHelper, RowNumber,
  RowOrdering, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Generate, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.functions.TopKRows

/** Optimizer rule: rewrite the `row_number() OVER (PARTITION BY p ORDER
  * BY s) <= k` filter-over-window idiom — the way every SQL user writes
  * per-group top-k — into the bounded-heap [[TopKRows]] aggregation.
  *
  * The window form shuffles EVERY row of the table on `p` and fully sorts
  * each partition before the filter throws all but k rows per group away.
  * The rewritten plan is
  * `Aggregate(p, graft_top_k_rows(...)) → posexplode → Project`:
  * an ObjectHashAggregate that partial-aggregates, so each map task sends
  * at most k rows per group into the exchange and nothing is ever fully
  * sorted — at 100 TB the shuffle shrinks from the whole table to
  * ~k × groups. (Spark's own InferWindowGroupLimit inserts per-partition
  * rank limits but keeps the full shuffle-and-sort plan shape; this
  * rewrite removes the sort entirely. It fires first — user rules run in
  * the operator-optimization batch.)
  *
  * Fires only on the exact safe shape: a Filter directly over a Window
  * whose ONLY window expression is `row_number()` with a non-empty
  * orderable ORDER BY, where some conjunct bounds the row number from
  * above by a positive integer literal ≤ 10000 (`maxK`; heap memory per
  * group is ~k rows). Remaining conjuncts stay as a residual filter —
  * the rewritten plan reproduces the row-number column under the
  * original attribute id, so every downstream reference keeps
  * resolving. Tie semantics are unchanged: `row_number` picks tied rows
  * arbitrarily, and so does the heap. Every other ranking function
  * (`rank`, `dense_rank`, `ntile`, `percent_rank`, `cume_dist`) keeps
  * its window. Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowTopKRewrite`.
  */
object WindowTopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val maxK = 10000

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
            partSpec, orderSpec, child, _))
          if orderSpec.nonEmpty &&
            RowOrdering.isOrderable(orderSpec.map(_.child).toIndexedSeq) =>
        val rnAttr = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        // a pure `rn <= v` bound may be DROPPED once the rewrite keeps only
        // the top min-bound rows; an `rn = v` bound also caps the heap but
        // must STAY as a residual equality filter
        val pure = conjuncts.flatMap(pureUpperBound(_, rnAttr))
        val eqs = conjuncts.flatMap(equalityBound(_, rnAttr))
        (pure ++ eqs) match {
          case Nil => f
          case bs =>
            val k = bs.min
            if (k < 1 || k > maxK) f
            else {
              val residual = conjuncts.filterNot(c =>
                pureUpperBound(c, rnAttr).exists(_ >= k))
              rewrite(w, child, partSpec, rnAttr, k) match {
                case rewritten if residual.isEmpty => rewritten
                case rewritten => Filter(residual.reduce(And), rewritten)
              }
            }
        }
    }

  /** `rn <= lit` / `rn < lit` (and mirrored) → Some(bound). */
  private def pureUpperBound(c: Expression, rn: Attribute): Option[Int] = c match {
    case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v - 1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v - 1)
    case _ => None
  }

  /** `rn = lit` (either side) → Some(bound); the conjunct itself remains. */
  private def equalityBound(c: Expression, rn: Attribute): Option[Int] = c match {
    case EqualTo(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rn) => Some(v)
    case EqualTo(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rn) => Some(v)
    case _ => None
  }

  private def rewrite(
      w: Window, child: LogicalPlan, partSpec: Seq[Expression],
      rnAttr: Attribute, k: Int): LogicalPlan = {
    val orderSpec = w.orderSpec
    val func = TopKRows(CreateStruct(orderSpec.map(_.child)), CreateStruct(child.output),
      Literal(k), orderSpec.map(_.direction), orderSpec.map(_.nullOrdering))
    val aggExpr = Alias(
      AggregateExpression(func, Complete, isDistinct = false), "__graft_top")()
    val agg = Aggregate(partSpec, Seq(aggExpr), child)

    val elemType = func.dataType.asInstanceOf[
      org.apache.spark.sql.types.ArrayType].elementType.asInstanceOf[StructType]
    val posAttr = AttributeReference("pos", IntegerType, nullable = false)()
    val rowAttr = AttributeReference("col", elemType, nullable = false)()
    val gen = Generate(PosExplode(aggExpr.toAttribute),
      unrequiredChildIndex = Seq(0), outer = false, qualifier = None,
      generatorOutput = Seq(posAttr, rowAttr), agg)

    // reconstruct every original column under its ORIGINAL attribute id so
    // downstream references (including the residual filter and anything
    // above) keep resolving; rn = the 1-based top-k position
    val fields = child.output.zipWithIndex.map { case (a, i) =>
      Alias(GetStructField(rowAttr, i, Some(a.name)), a.name)(
        exprId = a.exprId, qualifier = a.qualifier)
    }
    val rnOut = Alias(Add(posAttr, Literal(1)), rnAttr.name)(exprId = rnAttr.exprId)
    Project(fields :+ rnOut, gen)
  }
}
