package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Project}
import org.apache.spark.sql.functions._

import graft.plans.GeneratorSiblingPushdown

/** [[GeneratorSiblingPushdown]]: expressions shared between a generator
  * and its sibling projections must evaluate once per input row (below
  * the Generate), not once per emitted row. The shared fixture injects
  * GraftExtensions, so the rule is active engine-wide here exactly as in
  * production sessions.
  */
class GeneratorSiblingPushdownSpec extends SparkSpec {

  import spark.implicits._

  private def docs: DataFrame =
    Seq((1L, "a b c"), (2L, "d e"), (3L, "")).toDF("doc_id", "text")

  /** The natural single-select form that plants the split above the
    * Generate without the rule.
    */
  private def naturalForm: DataFrame = {
    val toks = split(trim(lower(col("text"))), "\\s+")
    docs.select(col("doc_id"), size(toks).as("dl"), explode(toks).as("term"))
  }

  test("shared split is materialized below the Generate, none above") {
    val plan = naturalForm.queryExecution.optimizedPlan
    // above every Generate: no sibling projection may re-run the split
    val aboveOk = plan.collect {
      case Project(projList, _: Generate) =>
        projList.forall(ne => !ne.exists(_.isInstanceOf[StringSplit]))
    }
    assert(aboveOk.nonEmpty && aboveOk.forall(identity),
      s"split still evaluated above a Generate:\n$plan")
    // at most one split evaluation in the WHOLE plan — one materialized
    // alias below the Generate, or zero when ConvertToLocalRelation has
    // already folded the materialized projection into the local relation
    // (the engine-wide injected rule runs early enough for that on
    // literal test data; either way the split never re-runs per emitted
    // row)
    val totalSplits = plan.collect { case n =>
      n.expressions.map(_.collect { case s: StringSplit => s }.size).sum
    }.sum
    assert(totalSplits <= 1,
      s"expected at most one split evaluation in the plan, got $totalSplits:\n$plan")
  }

  test("rewritten plan returns identical rows to the rule-off plan") {
    val got = naturalForm.as[(Long, Int, String)].collect().toSet
    val want = withRuleExcluded(GeneratorSiblingPushdown)(
      naturalForm.as[(Long, Int, String)].collect().toSet)
    assert(got == want)
    assert(got == Set((1L, 3, "a"), (1L, 3, "b"), (1L, 3, "c"),
      (2L, 2, "d"), (2L, 2, "e"), (3L, 1, "")))
  }

  test("explode_outer keeps its null row under the rewrite") {
    val toks = split(col("text"), ",")
    val arr = when(col("text") =!= "", toks)
    val out = docs.select(col("doc_id"), size(arr).as("n"),
        explode_outer(arr).as("t"))
      .as[(Long, Option[Int], Option[String])].collect().toSet
    assert(out.contains((3L, None, None)), s"outer null row lost: $out")
  }

  test("cheap sibling references do not trigger an extra project") {
    // sibling only references an attribute — nothing shared to hoist
    val df = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
    val extracted = df.queryExecution.optimizedPlan.collect {
      case g: Generate => g.child.collect {
        case Project(pl, _) if pl.exists(_.name == "_gen_shared") => 1
      }.sum
    }.sum
    assert(extracted == 0, "rule fired with no shared expensive sibling")
  }
}
