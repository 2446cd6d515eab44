package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.WindowAggRewrite
import graft.sources.Tables

/** The window-to-aggregate rewrite ([[WindowAggRewrite]]): full-frame
  * window aggregates (`sum(x) OVER (PARTITION BY p)`) replanned as a
  * per-group aggregation joined back, result-identical, window-free.
  *
  * Active through the GraftExtensions the shared session injects
  * (SparkSpec); the rule-off side excludes it through
  * `spark.sql.optimizer.excludedRules`.
  */
class WindowAggRewriteSpec extends SparkSpec {

  import spark.implicits._

  private def withRuleOff[T](body: => T): T =
    withRuleExcluded(WindowAggRewrite)(body)

  test("partitioned full-frame aggregates rewrite window-free, results exact") {
    def q() = {
      val w = Window.partitionBy("l_suppkey")
      Tables.lineitem(spark, sfDir)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("grp_qty",
          sum(col("l_quantity").cast("decimal(28,3)")).over(w))
        .withColumn("grp_n", count(lit(1)).over(w))
        .withColumn("grp_max", max(col("l_quantity")).over(w))
    }
    val want = withRuleOff(q().collect().toSeq.sortBy(_.toString))
    val offPlan = withRuleOff(planString(q()))
    assert(offPlan.contains("Window"), s"excluded rule still fired:\n$offPlan")
    val rw = q()
    val got = rw.collect().toSeq.sortBy(_.toString)
    val plan = planString(rw)
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    assert(plan.contains("Aggregate"), s"no aggregate in rewritten plan:\n$plan")
    assert(got == want && got.nonEmpty)
  }

  test("global (unpartitioned) totals rewrite to a single-row join") {
    def q() = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .withColumn("total_n", count(lit(1)).over(Window.partitionBy()))
    val want = withRuleOff(q().collect().toSeq.sortBy(_.toString))
    val rw = q()
    val got = rw.collect().toSeq.sortBy(_.toString)
    assert(!planString(rw).contains("Window"), planString(rw))
    assert(got == want && got.nonEmpty)
  }

  test("null group keys aggregate and join like a window's null partition") {
    def q() = Seq((Some(1L), 10.0), (Some(1L), 20.0), (None, 5.0), (None, 7.0))
      .toDF("k", "v")
      .withColumn("grp_sum",
        sum(col("v").cast("decimal(18,3)")).over(Window.partitionBy("k")))
    val want = withRuleOff(q().collect().toSeq.sortBy(_.toString))
    val got = q().collect().toSeq.sortBy(_.toString)
    assert(got == want)
    // the two null-key rows must share one group, not drop out of the join
    assert(got.count(_.isNullAt(0)) == 2)
  }

  test("order-sensitive and ordered windows are left alone") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_orderkey", "l_quantity")
    // first() depends on partition order — must NOT rewrite
    val firstQ = li.withColumn("f",
      first(col("l_quantity")).over(Window.partitionBy("l_suppkey")))
    assert(planString(firstQ).contains("Window"))
    // an ORDER BY makes the frame running, not full — must NOT rewrite
    val running = li.withColumn("r",
      sum(col("l_quantity")).over(
        Window.partitionBy("l_suppkey").orderBy("l_orderkey")))
    assert(planString(running).contains("Window"))
    // running last_value is the current peer group's last, not the
    // group's — must NOT rewrite
    val runningLast = li.withColumn("rl",
      last(col("l_quantity")).over(
        Window.partitionBy("l_suppkey").orderBy("l_orderkey")))
    assert(planString(runningLast).contains("Window"))
    // first_value over an ordered window — must NOT rewrite
    val firstValue = li.withColumn("fv",
      first_value(col("l_quantity")).over(
        Window.partitionBy("l_suppkey").orderBy("l_orderkey")))
    assert(planString(firstValue).contains("Window"))
    // mixed sort directions — left alone
    val mixed = li.withColumn("m",
      first(col("l_quantity")).over(
        Window.partitionBy("l_suppkey")
          .orderBy(col("l_orderkey").asc, col("l_quantity").desc)))
    assert(planString(mixed).contains("Window"))
  }
}
