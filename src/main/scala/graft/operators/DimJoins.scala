package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dimension-lookup joins.
  *
  * Reference resolves the period and geography dimensions with per-row
  * `lru_cache`d database lookups (`periodo_por_data`,
  * sm_cloud_run/utilitarios/datas.py:65-91; `id_sus_para_id_impulso`,
  * sm_cloud_run/utilitarios/geografias.py:80-99) — a row-at-a-time
  * anti-pattern at scale. Spark-first these are broadcast joins: the dims are
  * tiny (hundreds of periods, thousands of geographies), so the fact table is
  * never shuffled and the range predicate is evaluated map-side.
  */
object DimJoins {

  /** Left-join the period dim on `start <= dateExpr <= end` when every
    * period is exactly one calendar month: the range predicate collapses
    * to an equality on the month start — a BroadcastHashJoin instead of a nested
    * loop, O(n) with no per-period probing. Prefer this whenever the period
    * dimension is the standard monthly competence calendar.
    */
  def periodLookupMonthAligned(
      fact: DataFrame, dateExpr: Column,
      periods: DataFrame, startCol: String): DataFrame =
    fact.join(
      broadcast(periods),
      to_date(date_trunc("MONTH", dateExpr)) === periods(startCol),
      "left")

  /** Bucketed range join for periods that are NOT month-aligned: each
    * period row is exploded into the calendar months it overlaps, the fact
    * joins on month equality (BroadcastHashJoin) and the original range
    * predicate remains as a residual condition on the matches. Per-row
    * probe cost is the handful of periods overlapping one month — constant,
    * instead of scaling with |periods| like a broadcast nested-loop range
    * join.
    * Periods must not overlap within a month-bucket more than a few deep for
    * the left-join multiplicity to stay bounded (true for calendar tilings).
    * Rows with `start > end` are malformed (sequence() would throw at
    * runtime) and are treated as matching nothing.
    */
  def periodLookupBucketed(
      fact: DataFrame, dateExpr: Column,
      periods: DataFrame, startCol: String, endCol: String): DataFrame = {
    val exploded = periods
      .filter(col(startCol) <= col(endCol))
      .withColumn(
        "__graft_month_bucket",
        explode(sequence(
          to_date(date_trunc("MONTH", col(startCol))),
          to_date(date_trunc("MONTH", col(endCol))),
          expr("INTERVAL 1 MONTH"))))
    fact.join(
        broadcast(exploded),
        to_date(date_trunc("MONTH", dateExpr)) === exploded("__graft_month_bucket") &&
          dateExpr >= exploded(startCol) && dateExpr <= exploded(endCol),
        "left")
      // drop via the dim-side reference: a by-name drop("...") would also
      // drop a like-named fact column.
      .drop(exploded("__graft_month_bucket"))
  }

  /** Left-join a geography (or any small) dim on an equality key —
    * BroadcastHashJoin, fact side stays in place.
    */
  def dimLookup(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "left")
}
