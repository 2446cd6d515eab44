package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session + plan-inspection helpers for the suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    // the production session injects the graft registry/rules via
    // GraftSession; the shared fixture must match or a suite run in
    // isolation resolves `call_function("graft_*", ...)` only when some
    // OTHER suite happened to create the session first
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Execute and return the final (post-AQE) physical plan string. */
  def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Run `body` with one optimizer rule switched off through Spark's own
    * `spark.sql.optimizer.excludedRules` (the engine has no rule switches).
    */
  def withRuleExcluded[T](rule: Rule[LogicalPlan])(body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in the forked test JVM; leave it up.
    super.afterAll()
  }
}
