package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan hazards checked over the whole registry, not over hand-picked
  * shapes. Every query in [[SparkEntry.queries]] is built and planned at
  * sf0.001 (`executedPlan`, no final action). A QueryExecutionListener
  * also sees every action a query runs while it is built (fits, sizing
  * aggregates, collected keys), so the plans behind those are checked
  * too. Cached relations are checked through their cached plans.
  */
class PlanLintSpec extends SparkSpec {

  /** The queries whose plans may hold a Window with no partition key,
    * each with the reason the single partition is bounded.
    */
  private val unpartitionedWindows = Map(
    "q189_autocorrelation" ->
      "row_number over one daily series: one row per calendar day of the events",
    "q190_cusum" ->
      "running sums over one daily series: one row per calendar day of the events",
    "q197_seasonal_decomp" ->
      "centered moving average over one daily series: one row per calendar day",
    // inside the cached item table, so only the look through cached
    // relations sees it; the item catalog grows with the corpus
    "q232_negative_sampling" ->
      "running weight sum over the item table (one row per distinct item), not the fact table")

  private case class Finding(query: String, cartesian: Int, unpartitionedWindows: Int,
      effectiveRules: Set[String])

  private lazy val findings: Seq[Finding] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // listener calls arrive on the listener bus in order: once a marker
    // action is seen, every earlier action has been delivered
    def drain(): Seq[QueryExecution] = {
      val marker = spark.sql("SELECT 1")
      marker.collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_ eq marker.queryExecution)) {
        assert(System.nanoTime() < deadline, "query listener did not deliver the marker action")
        Thread.sleep(5)
      }
      val out = mutable.ArrayBuffer.empty[QueryExecution]
      var qe = seen.poll()
      while (qe != null) { if (!(qe eq marker.queryExecution)) out += qe; qe = seen.poll() }
      out.toSeq
    }
    spark.listenerManager.register(listener)
    try {
      drain()
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, build) =>
        try {
          val df = build(spark, sfDir)
          val qes = drain() :+ df.queryExecution
          val nodes = qes.flatMap(qe => expand(qe.executedPlan))
          Finding(name,
            nodes.count(_.isInstanceOf[CartesianProductExec]),
            nodes.count {
              case w: WindowExec => w.partitionSpec.isEmpty
              case _ => false
            },
            qes.flatMap(_.tracker.rules.collect {
              case (rule, s) if s.numEffectiveInvocations > 0 => rule
            }).toSet)
        } finally llm.CacheScope.releaseAll(blocking = true)
      }
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of a physical plan, looking through adaptive plans, query
    * stages, cached relations and subqueries.
    */
  private def expand(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
    case s: QueryStageExec => expand(s.plan)
    case m: InMemoryTableScanExec => m +: expand(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(expand)
  }

  test("no query plans a CartesianProductExec") {
    val bad = findings.filter(_.cartesian > 0).map(f => s"${f.query}: ${f.cartesian}")
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("a Window with no partition key appears only in the listed series queries") {
    val got = findings.filter(_.unpartitionedWindows > 0).map(_.query).toSet
    val bad = got -- unpartitionedWindows.keySet
    assert(bad.isEmpty, bad.mkString("unpartitioned Window in:\n", "\n", ""))
    val stale = unpartitionedWindows.keySet -- got
    assert(stale.isEmpty, stale.mkString("listed but no unpartitioned Window:\n", "\n", ""))
  }

  test("every optimizer rule GraftExtensions injects takes effect on some query") {
    val injected = spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .map(_.ruleName).filter(_.startsWith("graft."))
    assert(injected.nonEmpty, "no graft optimizer rule in the session")
    for (rule <- injected)
      info(s"$rule: ${findings.filter(_.effectiveRules(rule)).map(_.query).mkString(" ")}")
    val effective = findings.flatMap(_.effectiveRules).toSet
    val idle = injected.filterNot(effective)
    assert(idle.isEmpty, idle.mkString("rules that change no query plan:\n", "\n", ""))
  }
}
