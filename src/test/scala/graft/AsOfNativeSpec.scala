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
    val got = AsOf.asOfJoinNative(fact, dim, "k", "t", Seq("payload"))
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
    val got = AsOf.asOfJoinNative(f, d, "k", "t", Seq("payload"))
      .select("id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("a")), (2L, None), (3L, None)))
  }

  test("empty dim side leaves every fact unmatched") {
    val got = AsOf.asOfJoinNative(fact, dim.limit(0), "k", "t", Seq("payload"))
    assert(got.count() == 6 && got.filter(col("asof_payload").isNotNull).count() == 0)
  }

  test("native and compositional forms agree on the events table") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val d = ev.filter(col("event_type") === "error").select("user_id", "ts", "value")
    val f = ev.filter(col("event_type") =!= "error")
    val a = AsOf.asOfJoin(f, d, "user_id", "ts", Seq("value"), "cfg_")
      .orderBy("event_id").collect().toSeq
    val b = AsOf.asOfJoinNative(f, d, "user_id", "ts", Seq("value"), "cfg_")
      .orderBy("event_id").collect().toSeq
    assert(a == b)
  }

  test("self-as-of (fact and dim sliced from one source) resolves cleanly") {
    // both sides derive from the same logical subtree — the dim-side
    // re-alias must keep attribute ids disjoint
    val got = AsOf.asOfJoinNative(fact, fact.select(col("k"), col("t"), col("id").as("payload")),
      "k", "t", Seq("payload"))
    assert(got.count() == 6)
  }

  test("forward direction attaches the earliest at-or-after dim row") {
    val got = AsOf.asOfJoinNativeKeys(fact, dim, Seq("k"), "t", Seq("payload"),
        "asof_next_", direction = "forward")
      .select("id", "asof_next_t", "asof_next_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (100L, Some(10L), Some("v10")), // t=5 → next dim at 10
      (101L, Some(10L), Some("v10")), // tie matches
      (102L, Some(20L), Some("v20")),
      (103L, None, None),             // t=25: nothing after
      (104L, None, None),             // k=2, t=99 past w15
      (105L, None, None)))            // k=3: no dim
  }

  test("forward equals backward on negated timestamps (cross-check)") {
    // deterministic synthetic data with plenty of shared keys and ties
    val f = spark.range(500).select(
      col("id"), (col("id") % 17).as("k"), ((col("id") * 13) % 97).as("t"))
    val d = spark.range(120).select(
      (col("id") % 17).as("k"), ((col("id") * 29) % 97).as("t"),
      concat(lit("p"), col("id")).as("payload"))
      // unique (k, t) so ties between dim rows can't make either form
      // pick arbitrarily
      .groupBy("k", "t").agg(first("payload").as("payload"))
    val fwd = AsOf.asOfJoinNativeKeys(f, d, Seq("k"), "t", Seq("payload"), "n_",
        direction = "forward")
      .select("id", "n_t", "n_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    // backward on negated ts = forward on the original axis
    val bwd = AsOf.asOfJoinNative(
        f.withColumn("t", -col("t")), d.withColumn("t", -col("t")),
        "k", "t", Seq("payload"), "n_")
      .select(col("id"), (-col("n_t")).as("n_t"), col("n_payload"))
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(fwd == bwd && fwd.exists(_._2.isDefined) && fwd.exists(_._2.isEmpty))
  }

  test("nearest direction picks the smaller delta, ties to backward") {
    // dim at t=10 and t=20 for k=1: facts probe both sides of the midpoint
    val f = Seq((1L, 1L, 12L), (2L, 1L, 18L), (3L, 1L, 15L), // tie → backward
      (4L, 1L, 3L), (5L, 1L, 99L), (6L, 2L, 1L), (7L, 3L, 5L))
      .toDF("id", "k", "t")
    val got = AsOf.asOfJoinNativeKeys(f, dim, Seq("k"), "t", Seq("payload"),
        "asof_near_", direction = "nearest")
      .select("id", "asof_near_t", "asof_near_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some(10L), Some("v10")), // |12-10| < |20-12|
      (2L, Some(20L), Some("v20")), // |18-20| < |18-10|
      (3L, Some(10L), Some("v10")), // tie 5=5 → backward
      (4L, Some(10L), Some("v10")), // only forward exists
      (5L, Some(20L), Some("v20")), // only backward exists
      (6L, Some(15L), Some("w15")), // k=2 forward-only
      (7L, None, None)))            // k=3: no dim at all
  }

  test("nearest equals choose(backward, forward) on synthetic data") {
    val f = spark.range(400).select(
      col("id"), (col("id") % 13).as("k"), ((col("id") * 11) % 89).as("t"))
    val d = spark.range(90).select(
      (col("id") % 13).as("k"), ((col("id") * 31) % 89).as("t"),
      concat(lit("p"), col("id")).as("payload"))
      .groupBy("k", "t").agg(first("payload").as("payload"))
    val near = AsOf.asOfJoinNativeKeys(f, d, Seq("k"), "t", Seq("payload"), "x_",
        direction = "nearest")
      .select("id", "x_t", "x_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    // reference: run backward and forward independently, choose per row
    val b = AsOf.asOfJoinNative(f, d, "k", "t", Seq("payload"), "b_")
    val fw = AsOf.asOfJoinNativeKeys(f, d, Seq("k"), "t", Seq("payload"), "f_",
      direction = "forward")
    val want = b.join(fw.select("id", "f_t", "f_payload"), "id")
      .select(col("id"), col("t"), col("b_t"), col("b_payload"), col("f_t"), col("f_payload"))
      .as[(Long, Long, Option[Long], Option[String], Option[Long], Option[String])]
      .collect().sortBy(_._1).toSeq
      .map { case (id, t, bt, bp, ft2, fp) =>
        (bt, ft2) match {
          case (Some(x), Some(y)) =>
            if (t - x <= y - t) (id, bt, bp) else (id, ft2, fp)
          case (Some(_), None) => (id, bt, bp)
          case (None, Some(_)) => (id, ft2, fp)
          case _ => (id, None, None)
        }
      }
    assert(near == want && near.exists(_._2.isDefined))
  }

  test("allowExactMatches=false: same-instant dim rows no longer match") {
    // backward: the dim at exactly fact.ts is skipped, the previous one wins
    val f = Seq((1L, 1L, 10L), (2L, 1L, 19L), (3L, 1L, 20L), (4L, 2L, 15L))
      .toDF("id", "k", "t")
    val strictB = AsOf.asOfJoinNativeKeys(f, dim, Seq("k"), "t", Seq("payload"),
        allowExactMatches = false)
      .select("id", "asof_t", "asof_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(strictB == Seq(
      (1L, None, None),             // only dim at t=10 == fact ts: excluded
      (2L, Some(10L), Some("v10")),
      (3L, Some(10L), Some("v10")), // dim at 20 == fact ts: previous wins
      (4L, None, None)))            // w15 at exactly 15: excluded
    // forward: the dim at exactly fact.ts is skipped, the next one wins
    val strictF = AsOf.asOfJoinNativeKeys(f, dim, Seq("k"), "t", Seq("payload"),
        prefix = "n_", direction = "forward", allowExactMatches = false)
      .select("id", "n_t", "n_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(strictF == Seq(
      (1L, Some(20L), Some("v20")), // 10 excluded → 20
      (2L, Some(20L), Some("v20")),
      (3L, None, None),             // 20 excluded, nothing after
      (4L, None, None)))            // 15 excluded
  }

  test("strict backward equals exact backward on a +1-shifted dim axis") {
    val f = spark.range(500).select(
      col("id"), (col("id") % 17).as("k"), ((col("id") * 13) % 97).as("t"))
    val d = spark.range(120).select(
      (col("id") % 17).as("k"), ((col("id") * 29) % 97).as("t"),
      concat(lit("p"), col("id")).as("payload"))
      .groupBy("k", "t").agg(first("payload").as("payload"))
      .withColumn("t0", col("t"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "asof_t0", "asof_payload")
        .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    // dim.ts < fact.ts  ⟺  dim.ts + 1 <= fact.ts on an integer axis
    val strict = rows(AsOf.asOfJoinNativeKeys(
      f, d, Seq("k"), "t", Seq("t0", "payload"), allowExactMatches = false))
    val shifted = rows(AsOf.asOfJoinNativeKeys(
      f, d.withColumn("t", col("t") + 1), Seq("k"), "t", Seq("t0", "payload")))
    assert(strict == shifted && strict.exists(_._2.isDefined))
    // strictness only ever shrinks the candidate set: wherever the strict
    // join matched, the exact join matched a dim row at-or-after it
    val exact = rows(AsOf.asOfJoinNativeKeys(
      f, d, Seq("k"), "t", Seq("t0", "payload")))
      .map { case (id, t0, _) => id -> t0 }.toMap
    assert(strict.forall { case (id, t0, _) =>
      t0.isEmpty || exact(id).exists(_ >= t0.get) })
  }

  test("tolerance: matches farther than the bound become nulls, all directions") {
    val f = Seq((1L, 1L, 10L), (2L, 1L, 19L), (3L, 1L, 25L), (4L, 1L, 5L))
      .toDF("id", "k", "t")
    val b = AsOf.asOfJoinNativeKeys(f, dim, Seq("k"), "t", Seq("payload"),
        tolerance = 5L)
      .select("id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(b == Seq(
      (1L, Some("v10")),  // delta 0
      (2L, None),         // nearest-before is 10, delta 9 > 5
      (3L, Some("v20")),  // delta 5 == tolerance: inclusive
      (4L, None)))        // no dim at-or-before at all
    val fw = AsOf.asOfJoinNativeKeys(f, dim, Seq("k"), "t", Seq("payload"),
        prefix = "n_", direction = "forward", tolerance = 4L)
      .select("id", "n_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(fw == Seq(
      (1L, Some("v10")),  // delta 0
      (2L, Some("v20")),  // next is 20, delta 1
      (3L, None),         // nothing after
      (4L, None)))        // next is 10, delta 5 > 4
    // nearest: tolerance filters each candidate INDEPENDENTLY — when the
    // nearer side is out of bounds the farther-but-in-bounds side wins
    val nr = AsOf.asOfJoinNativeKeys(
        Seq((1L, 1L, 12L), (2L, 1L, 16L), (3L, 1L, 12L)).toDF("id", "k", "t"),
        dim, Seq("k"), "t", Seq("payload"),
        prefix = "x_", direction = "nearest", tolerance = 5L)
      .select("id", "x_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(nr == Seq(
      (1L, Some("v10")),  // b delta 2 in, f delta 8 out → backward
      (2L, Some("v20")),  // b delta 6 out, f delta 4 in → forward
      (3L, Some("v10"))))
    val none = AsOf.asOfJoinNativeKeys(
        Seq((1L, 1L, 14L)).toDF("id", "k", "t"),
        dim, Seq("k"), "t", Seq("payload"),
        prefix = "x_", direction = "nearest", tolerance = 3L)
      .select("id", "x_payload").as[(Long, Option[String])].collect().toSeq
    assert(none == Seq((1L, None))) // b delta 4 and f delta 6 both out
  }

  test("tolerance equals the window form with out-of-bound payloads nulled") {
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("t", unix_micros(col("ts")))
    val d = ev.filter(col("event_type") === "error").select("user_id", "t", "value")
    val f = ev.filter(col("event_type") =!= "error")
      .select("event_id", "user_id", "t")
    val tol = 3600L * 1000000L // one hour in µs
    val native = AsOf.asOfJoinNativeKeys(
        f, d, Seq("user_id"), "t", Seq("value"), "cfg_", tolerance = tol)
      .select("event_id", "cfg_t", "cfg_value")
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    val window = AsOf.asOfJoin(f, d, "user_id", "t", Seq("value"), "cfg_")
      .select(col("event_id"),
        when(col("t") - col("cfg_t") <= tol, col("cfg_t")).as("cfg_t"),
        when(col("t") - col("cfg_t") <= tol, col("cfg_value")).as("cfg_value"))
      .as[(Long, Option[Long], Option[Double])].collect().sortBy(_._1).toSeq
    assert(native == window && native.exists(_._2.isDefined) &&
      native.exists(_._2.isEmpty))
  }

  test("composite keys cluster and merge on the full key tuple") {
    val d2 = Seq((1L, "a", 10L, "va"), (1L, "b", 10L, "vb"), (2L, "a", 5L, "w"))
      .toDF("k", "r", "t", "payload")
    val f2 = Seq((1L, 1L, "a", 20L), (2L, 1L, "b", 20L), (3L, 1L, "c", 20L),
      (4L, 2L, "a", 4L))
      .toDF("id", "k", "r", "t")
    val got = AsOf.asOfJoinNativeKeys(f2, d2, Seq("k", "r"), "t", Seq("payload"))
      .select("id", "asof_payload")
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some("va")), (2L, Some("vb")), (3L, None), (4L, None)))
  }

  test("exec starts a whole-stage-codegen region and parents fuse over it") {
    val df = AsOf.asOfJoinNative(fact, dim, "k", "t", Seq("payload"))
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
    val df = AsOf.asOfJoinNative(fact, dim, "k", "t", Seq("payload"))
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
