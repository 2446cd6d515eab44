package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK
import graft.plans.WindowTopKRewrite
import graft.sources.Tables

/** The window-top-k optimizer rewrite ([[WindowTopKRewrite]]) and the
  * generalized bounded-heap aggregate behind it
  * ([[graft.functions.TopKRows]]): result equivalence with the window
  * form, residual-predicate handling, and the rewritten plan shape.
  *
  * The shared test session injects GraftExtensions (SparkSpec), so the
  * rule runs in the operator-optimization batch as in production; the
  * rule-off side excludes it through `spark.sql.optimizer.excludedRules`.
  * `windowGroupLimitThreshold = -1` keeps Spark's own
  * InferWindowGroupLimit out of the rule-off plans.
  */
class TopKRewriteSpec extends SparkSpec {

  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "-1")
  }

  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.optimizer.windowGroupLimitThreshold")
    super.afterAll()
  }

  private def withRuleOff[T](body: => T): T =
    withRuleExcluded(WindowTopKRewrite)(body)

  private def topkDf = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_quantity").desc, col("l_orderkey").asc, col("l_linenumber").asc)
    li.withColumn("rn", row_number().over(w))
  }

  test("rewrite preserves the window form's results exactly") {
    // build a FRESH DataFrame per measurement: a Dataset memoizes its
    // QueryExecution, so re-collecting one df under a changed conf would
    // silently reuse the first plan
    def q() = topkDf.filter(col("rn") <= 3)
    val want = withRuleOff(q().collect().toSeq.sortBy(_.toString))
    val offPlan = withRuleOff(planString(q()))
    assert(offPlan.contains("Window") && !offPlan.contains("graft_top_k_rows"),
      s"excluded rule still fired:\n$offPlan")
    val rewritten = q()
    val got = rewritten.collect().toSeq.sortBy(_.toString)
    assert(planString(rewritten).contains("graft_top_k_rows"))
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("rewritten plan aggregates instead of sorting every row") {
    val q = topkDf.filter(col("rn") <= 3)
    val plan = planString(q)
    assert(plan.contains("graft_top_k_rows"), s"rule did not fire:\n$plan")
    assert(!plan.contains("Window"), s"window survived the rewrite:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"wrong aggregate impl:\n$plan")
  }

  test("residual conjuncts survive: rn range and equality filters") {
    def range() = topkDf.filter(col("rn") >= 2 && col("rn") <= 3)
    val wantRange = withRuleOff(range().collect().toSeq.sortBy(_.toString))
    val rw = range()
    assert(rw.collect().toSeq.sortBy(_.toString) == wantRange)
    assert(planString(rw).contains("graft_top_k_rows"))

    def eq() = topkDf.filter(col("rn") === 2)
    val wantEq = withRuleOff(eq().collect().toSeq.sortBy(_.toString))
    val rwEq = eq()
    val gotEq = rwEq.collect().toSeq.sortBy(_.toString)
    assert(gotEq == wantEq && gotEq.nonEmpty)
    assert(planString(rwEq).contains("graft_top_k_rows"))
  }

  test("non-rewritable shapes are left alone (above maxFraction, no upper bound)") {
    // only row_number rewrites: every other ranking function keeps its
    // window, bounded or not
    val w = Window.partitionBy("l_suppkey").orderBy(col("l_quantity").desc)
    val li = Tables.lineitem(spark, sfDir)
    val ranked = li.withColumn("rk", percent_rank().over(w)).filter(col("rk") <= 0.1)
    assert(!planString(ranked).contains("graft_"))
    val wide = li.withColumn("nt", ntile(4).over(w)).filter(col("nt") <= 1)
    assert(!planString(wide).contains("graft_"))
    val rank2 = li.withColumn("rk", rank().over(w)).filter(col("rk") <= 2)
    assert(!planString(rank2).contains("graft_"))
    val dense2 = li.withColumn("rk", dense_rank().over(w)).filter(col("rk") <= 2)
    assert(!planString(dense2).contains("graft_"))
    val cume = li.withColumn("cd", cume_dist().over(w)).filter(col("cd") <= 0.3)
    assert(!planString(cume).contains("graft_"))
    val lower = topkDf.filter(col("rn") >= 5)
    assert(!planString(lower).contains("graft_top_k_rows"))
  }

  test("groupTopKRows carries arbitrary payload types and null sort keys") {
    val df = Seq(
      ("a", Some(3.0), "x1", Seq(1, 2)), ("a", Some(9.0), "x2", Seq(3)),
      ("a", None, "x3", Seq.empty[Int]), ("a", Some(7.0), "x4", Seq(4)),
      ("b", Some(1.0), "y1", Seq(5)))
      .toDF("g", "score", "tag", "payload")
    val got = TopK.groupTopKRows(df, Seq("g"),
        orderCols = Seq(("score", false), ("tag", true)), k = 2)
      .select("g", "posicao", "tag")
      .as[(String, Int, String)].collect().toSeq.sorted
    // desc with default nulls-last: null score never enters the top-2
    assert(got == Seq(("a", 1, "x2"), ("a", 2, "x4"), ("b", 1, "y1")))
  }

  test("groupTopKRows equals the window form on real data") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    val got = TopK.groupTopKRows(li, Seq("l_suppkey"),
        Seq(("l_quantity", false), ("l_orderkey", true), ("l_linenumber", true)), 3, "rn")
      .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "rn")
      .collect().toSeq.sortBy(_.toString)
    val want = withRuleOff(topkDf.filter(col("rn") <= 3).collect().toSeq.sortBy(_.toString))
    assert(got == want)
  }
}
