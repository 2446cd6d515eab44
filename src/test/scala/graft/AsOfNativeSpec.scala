package graft

import org.apache.spark.sql.functions._

import graft.operators.AsOf
import graft.sources.Tables

/** The custom-Catalyst as-of join ([[graft.plans.AsOfJoinExec]]): unit
  * semantics, equivalence with the compositional window form on real
  * event data, and the physical-plan contracts (custom exec present, no
  * nested-loop/cartesian fallback, sorted by the declared ordering).
  */
class AsOfNativeSpec extends SparkSpec {

  import spark.implicits._

  private val dim = Seq(
    (1L, 10L, "v10"), (1L, 20L, "v20"),
    (2L, 15L, "w15")).toDF("k", "t", "payload")
  private val fact = Seq(
    (100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 19L),
    (103L, 1L, 25L), (104L, 2L, 99L), (105L, 3L, 50L))
    .toDF("id", "k", "t")

  test("native as-of join matches the documented at-or-before semantics") {
    val got = AsOf.asOfJoinNative(fact, dim, Seq("k"), "t", Seq("payload"))
      .select("id", "asof_t", "asof_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (100L, None, None),
      (101L, Some(10L), Some("v10")),
      (102L, Some(10L), Some("v10")),
      (103L, Some(20L), Some("v20")),
      (104L, Some(15L), Some("w15")),
      (105L, None, None)))
  }

  test("null keys and timestamps never match, on either side") {
    val d = Seq((Some(1L), Some(10L), "a"), (None, Some(5L), "nk"),
      (Some(1L), None, "nt")).toDF("k", "t", "payload")
    val f = Seq((1L, Some(1L), Some(50L)), (2L, None, Some(50L)),
      (3L, Some(1L), None)).toDF("id", "k", "t")
    val got = AsOf.asOfJoinNative(f, d, Seq("k"), "t", Seq("payload"))
      .select("id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("a")), (2L, None), (3L, None)))
  }

  test("empty dim side leaves every fact unmatched") {
    val got = AsOf.asOfJoinNative(fact, dim.limit(0), Seq("k"), "t", Seq("payload"))
    assert(got.count() == 6 && got.filter(col("asof_payload").isNotNull).count() == 0)
  }

  test("native and compositional forms agree on the events table") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val d = ev.filter(col("event_type") === "error").select("user_id", "ts", "value")
    val f = ev.filter(col("event_type") =!= "error")
    val a = AsOf.asOfJoin(f, d, "user_id", "ts", Seq("value"), "cfg_")
      .orderBy("event_id").collect().toSeq
    val b = AsOf.asOfJoinNative(f, d, Seq("user_id"), "ts", Seq("value"), "cfg_")
      .orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("self-as-of (fact and dim sliced from one source) resolves cleanly") {
    // both sides derive from the same logical subtree — the dim-side
    // re-alias must keep attribute ids disjoint
    val got = AsOf.asOfJoinNative(fact, fact.select(col("k"), col("t"), col("id").as("payload")),
      Seq("k"), "t", Seq("payload"))
    assert(got.count() == 6)
  }

  test("composite keys cluster and merge on the full key tuple") {
    val d2 = Seq((1L, "a", 10L, "va"), (1L, "b", 10L, "vb"), (2L, "a", 5L, "w"))
      .toDF("k", "r", "t", "payload")
    val f2 = Seq((1L, 1L, "a", 20L), (2L, 1L, "b", 20L), (3L, 1L, "c", 20L),
      (4L, 2L, "a", 4L))
      .toDF("id", "k", "r", "t")
    val got = AsOf.asOfJoinNative(f2, d2, Seq("k", "r"), "t", Seq("payload"))
      .select("id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("va")), (2L, Some("vb")), (3L, None), (4L, None)))
  }

  test("exec starts a whole-stage-codegen region and parents fuse over it") {
    val df = AsOf.asOfJoinNative(fact, dim, Seq("k"), "t", Seq("payload"))
      .filter(col("asof_payload").isNotNull)
      .select(col("id"), col("asof_t"))
    // execute df itself first so AQE's final plan is materialized
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got == Seq((101L, 10L), (102L, 10L), (103L, 20L), (104L, 15L)))
    // AQE wraps stages in leaf nodes, so assert on the tree string: the
    // `*(n)` prefix marks membership in codegen stage n
    val plan = df.queryExecution.executedPlan.toString
    val stageOf = """\*\((\d+)\) (AsOfJoin|Filter|Project)""".r
    val stages = stageOf.findAllMatchIn(plan)
      .map(m => m.group(2) -> m.group(1)).toMap
    assert(stages.contains("AsOfJoin"),
      s"AsOfJoinExec not inside a WholeStageCodegen region:\n$plan")
    // the filter+project above must be INSIDE the same region (fused over
    // the merge output), not separate interpreted operators
    assert(stages.get("Filter") == stages.get("AsOfJoin") &&
      stages.get("Project") == stages.get("AsOfJoin"),
      s"parents did not fuse into the as-of codegen region:\n$plan")
  }

  test("plan uses the custom exec: no window, no nested loop, sorts planned") {
    val df = AsOf.asOfJoinNative(fact, dim, Seq("k"), "t", Seq("payload"))
    val plan = planString(df)
    assert(plan.contains("AsOfJoin"), s"custom exec missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct")
      && !plan.contains("Window"), s"fallback plan shape:\n$plan")
    // EnsureRequirements must have planned the clustered exchange + sort
    // the operator declared
    assert(plan.contains("Sort") && plan.contains("hashpartitioning"),
      s"declared distribution/ordering not planned:\n$plan")
  }
}
