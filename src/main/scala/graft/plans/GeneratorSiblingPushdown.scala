package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, Cast, Expression, GetArrayItem, GetArrayStructFields,
  GetMapValue, GetStructField, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: hoist expensive subexpressions SHARED between a
  * generator and its sibling projections below the `Generate`, so they
  * evaluate once per INPUT row instead of once per OUTPUT row.
  *
  * The analyzer places a select's non-generator expressions in a Project
  * ABOVE the Generate it creates for the generator — so the natural
  *
  * {{{ df.select(size(split('text, "\\s+")), explode(split('text, "\\s+"))) }}}
  *
  * plans as `Project(size(split(text)))[Generate(explode(split(text)))]`:
  * the regex split in the projection re-runs once per emitted TOKEN (the
  * Project executes against the Generate's fan-out), multiplying the
  * most expensive expression in the query by the generator's arity. A
  * 300-char document with 50 tokens pays 50 splits instead of 1, and
  * the blow-up GROWS with document size — the larger the input, the
  * larger both the split cost and the multiplier. This engine's BM25
  * postings build spent ~80 % of its runtime in exactly that shape.
  *
  * The rewrite inserts a Project below the Generate that evaluates each
  * shared subexpression once, and rewires both the generator and the
  * sibling projections to the materialized attribute:
  *
  * {{{ Project(size(s))[Generate(explode(s))[Project(s := split(text))]] }}}
  *
  * Catalyst cannot see this itself: CollapseProject only merges adjacent
  * Projects, and common-subexpression elimination is a PHYSICAL
  * (per-operator, codegen-time) pass that never crosses the
  * Generate/Project operator boundary.
  *
  * Fires only when the shared subexpression is deterministic, non-cheap
  * (not an attribute/literal/field-access/cast chain — those cost less
  * than the extra column they'd add), and refers only to the Generate's
  * child output. The materialized column rides the Generate's
  * pass-through output (`unrequiredChildIndex` is reset; ColumnPruning
  * re-derives it). Scale note: this is a pure CPU rewrite — it adds one
  * column to the pre-explode rows and removes O(fan-out) expression
  * evaluations per row; no shuffle, partitioning or row-count changes.
  * Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.GeneratorSiblingPushdown`.
  */
object GeneratorSiblingPushdown extends Rule[LogicalPlan] {

  /** Cheap to re-evaluate — cheaper than materializing an extra column:
    * leaves, field/element accesses and cast chains over cheap inputs.
    */
  private def cheap(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal => true
    case c: Cast => cheap(c.child)
    case c: graft.functions.DoubleToDecimal => cheap(c.child)
    case g: GetStructField => cheap(g.child)
    case g: GetArrayStructFields => cheap(g.child)
    case g: GetArrayItem => g.children.forall(cheap)
    case g: GetMapValue => g.children.forall(cheap)
    case a: Alias => cheap(a.child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case p @ Project(projList, g @ Generate(generator, _, outer, qualifier,
          generatorOutput, child))
          if p.resolved && g.resolved && generator.deterministic =>
        val shared = sharedSubexpressions(generator, projList, child)
        if (shared.isEmpty) p
        else {
          val aliases = shared.map(e => Alias(e, "_gen_shared")())
          val attrs = aliases.map(_.toAttribute)
          // never replace an Alias node itself (Alias canonicalizes to its
          // child, so it would semanticEqual a shared expr — substituting
          // the whole alias would change the plan's output exprIds)
          def rewire(expr: Expression): Expression = expr.transformDown {
            case e if !e.isInstanceOf[Alias] &&
                shared.exists(_.semanticEquals(e)) =>
              attrs(shared.indexWhere(_.semanticEquals(e)))
          }
          val below = Project(child.output ++ aliases, child)
          val newGenerate = Generate(
            rewire(generator).asInstanceOf[org.apache.spark.sql.catalyst.expressions.Generator],
            unrequiredChildIndex = Nil, outer, qualifier, generatorOutput, below)
          Project(
            projList.map(ne => rewire(ne).asInstanceOf[NamedExpression]),
            newGenerate)
        }
    }

  /** Maximal deterministic non-cheap subtrees of the generator's children
    * that also occur somewhere in the sibling projection list and are
    * computable from the Generate's child. Maximal: once `split(x)` is
    * extracted there is nothing left to gain from also extracting
    * `lower(x)` inside it — containment is checked against already
    * selected (larger-first) candidates.
    */
  private def sharedSubexpressions(
      generator: Expression, projList: Seq[NamedExpression],
      child: LogicalPlan): Seq[Expression] = {
    // fast bail-outs for the overwhelmingly common non-firing shapes —
    // the rule inspects every Project-over-Generate in every fixed-point
    // pass, so the no-op path must not pay the O(subtrees × projExprs)
    // semantic comparison: a generator over bare attributes has nothing
    // to hoist, and an all-cheap projection list has nowhere to share it
    if (generator.children.forall(cheap)) return Nil
    if (!projList.exists(ne => ne.exists(e => !cheap(e)))) return Nil
    val candidates = generator.children
      .flatMap(c => c.collect { case e => e })
      .filter(e => e.deterministic && !cheap(e) &&
        e.references.nonEmpty && e.references.subsetOf(child.outputSet) &&
        projList.exists(ne => ne.exists(_.semanticEquals(e))))
      .sortBy(e => -treeSize(e))
    candidates.foldLeft(Seq.empty[Expression]) { (acc, e) =>
      if (acc.exists(big => big.exists(_.semanticEquals(e)))) acc
      else acc :+ e
    }
  }

  private def treeSize(e: Expression): Int =
    1 + e.children.map(treeSize).sum
}
