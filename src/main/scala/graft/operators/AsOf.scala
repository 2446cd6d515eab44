package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time as-of join: attach to each fact row the payload of the
  * LATEST dim row with the same key and timestamp at-or-before the fact's
  * — the point-in-time lookup behind slowly-changing dimensions, rate
  * tables, and config-at-event-time joins (DuckDB/kdb spell it
  * `ASOF JOIN`; Spark has no native operator).
  *
  * NOT implemented as a range join: `fact.ts >= dim.ts` as a join
  * condition is a per-key cross product that Spark executes as
  * BroadcastNestedLoop or a sort-merge with full range scans — quadratic
  * per key and the classic 100×-scale killer. Instead the classic
  * union-merge shape: tag and union both sides, ONE shuffle on the key,
  * ONE in-partition sort by (ts, side), and a running
  * `last(payload, ignoreNulls)` window carries each dim payload forward to
  * every following fact row. Linear in rows, merge-join memory profile
  * (the window frame holds one row's state), AQE-splittable on skewed
  * keys.
  *
  * Dim rows sort BEFORE fact rows at equal timestamps (`at-or-before`
  * includes ties). Multiple dim rows on the same (key, ts) are resolved
  * arbitrarily — give the dim unique (key, ts) for deterministic output
  * (true of any sane rate/config table; assert it upstream if unsure).
  *
  * Fact rows with no preceding dim row keep null payloads (LEFT as-of).
  * Output = every fact column plus `prefix + c` for each payload column
  * and `prefix + tsCol` (the matched dim row's own timestamp).
  */
object AsOf {

  def asOfJoin(
      fact: DataFrame, dim: DataFrame, keyCol: String, tsCol: String,
      payloadCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val dimT = dim.select(
      Seq(col(keyCol), col(tsCol), col(tsCol).as(s"__d_$tsCol")) ++
        payloadCols.map(c => col(c).as(s"__d_$c")): _*)
      .withColumn("__is_dim", lit(1))
    // unionByName(allowMissing) nulls the fact-only columns on dim rows
    // and the __d_* payloads on fact rows — exactly the sparse union the
    // running window wants
    val u = fact.withColumn("__is_dim", lit(0))
      .unionByName(dimT, allowMissingColumns = true)
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsCol).asc, col("__is_dim").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = (tsCol +: payloadCols).map(c =>
      last(col(s"__d_$c"), ignoreNulls = true).over(w).as(prefix + c))
    u.select(fact.columns.map(col) ++ Seq(col("__is_dim")) ++ carried: _*)
      .filter(col("__is_dim") === 0)
      .drop("__is_dim")
  }

  /** The same as-of join through the custom Catalyst operator
    * ([[graft.plans.AsOfJoinNode]] → [[graft.plans.AsOfJoinExec]]): one
    * sort-merge pass with a single held dim row of state instead of the
    * union + running-window plan of [[asOfJoin]]. Same output columns,
    * same at-or-before semantics (see the node's scaladoc for the null
    * rules); `keyCols` may be a composite key, on whose full tuple the
    * exec clusters and merges. Prefer it when the fact side is large or
    * already clustered/sorted on the key — the operator declares its
    * distribution/ordering requirements, so Catalyst elides the sort for
    * bucketed-sorted inputs and reuses the fact-side partitioning
    * downstream.
    *
    * The returned plan holds an [[graft.plans.AsOfJoinNode]], which only
    * a session built with [[graft.functions.GraftExtensions]] can plan.
    */
  def asOfJoinNative(
      fact: DataFrame, dim: DataFrame, keyCols: Seq[String], tsCol: String,
      payloadCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference}
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.graft.Shims
    import graft.plans.AsOfJoinNode

    def attrOf(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not found in [${p.output.map(_.name).mkString(", ")}]"))

    val lp = Shims.analyzed(fact)
    // prune the dim to key+ts+payload and re-alias with fresh exprIds so a
    // self-as-of (fact and dim sliced from one source) never carries
    // duplicate attribute ids into the binary node
    val rp0 = Shims.analyzed(dim)
    val dimCols = (keyCols ++ Seq(tsCol) ++ payloadCols).distinct
    val rp = Project(dimCols.map(n => Alias(attrOf(rp0, n), n)()), rp0)

    val rightTs = attrOf(rp, tsCol)
    val rightCarried = rightTs +: payloadCols.map(attrOf(rp, _))
    val outAttrs = rightCarried.map(a =>
      AttributeReference(prefix + a.name, a.dataType, nullable = true)())

    Shims.ofRows(fact.sparkSession, AsOfJoinNode(
      lp, rp,
      leftKeys = keyCols.map(attrOf(lp, _)), rightKeys = keyCols.map(attrOf(rp, _)),
      leftTs = attrOf(lp, tsCol), rightTs = rightTs,
      rightCarried = rightCarried, outAttrs = outAttrs))
  }
}
