package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group top-k selection without a per-group sort.
  *
  * Reference analogue: the panel ETLs surface "maiores" views (largest
  * partitions per file, latest periods per group) that pandas gets via
  * `sort_values().groupby().head(k)` — a full sort of the whole frame.
  *
  * Spark-first: the [[graft.functions.TopKRows]] bounded-heap aggregate
  * (ObjectHashAggregate, partial-merge) reduces each group to k rows on
  * the map side, so the exchange carries ≤ k rows per group per input
  * partition instead of the whole table; the window-`row_number` form this
  * replaces shuffles and sorts EVERY row. The aggregated array is then
  * exploded back to one ranked row per survivor.
  */
object TopK {

  /** Top `k` rows per `groupCol` by (`scoreCol` DESC, `idCol` ASC),
    * emitted as (group, posicao 1..k, id, score): [[groupTopKRows]] over
    * the (group, score, id) projection. `scoreCol` is cast to double and
    * `idCol` to long; rows with a null id or a null or NaN score are
    * dropped first (NaN would rank above every real score).
    */
  def groupTopK(
      df: DataFrame, groupCol: String, scoreCol: String, idCol: String,
      k: Int): DataFrame = {
    val ranked = df
      .select(col(groupCol), col(scoreCol).cast("double").as(scoreCol),
        col(idCol).cast("long").as(idCol))
      .filter(col(idCol).isNotNull && col(scoreCol).isNotNull &&
        !isnan(col(scoreCol)))
    groupTopKRows(ranked, Seq(groupCol), Seq((scoreCol, false), (idCol, true)), k)
      .select(col(groupCol), col("posicao"), col(idCol), col(scoreCol))
  }

  /** Generalized per-group top-k: the first `k` FULL ROWS of each group
    * under an arbitrary sort order (`orderCols` = (column, ascending)),
    * any column types — the bounded-heap [[graft.functions.TopKRows]]
    * aggregate carrying the whole row as payload. Output = every input
    * column plus `posCol` (1-based rank). Same scale contract as
    * [[groupTopK]]: map-side partials bound the exchange at k rows per
    * group per input partition; nothing is ever fully sorted. Ties break
    * arbitrarily, as with `row_number` — give a total order for
    * deterministic output.
    */
  def groupTopKRows(
      df: DataFrame, groupCols: Seq[String], orderCols: Seq[(String, Boolean)],
      k: Int, posCol: String = "posicao"): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete}
    import org.apache.spark.sql.catalyst.expressions.{
      Ascending, CreateStruct, Descending, Literal}
    import org.apache.spark.sql.graft.Shims

    val dirs = orderCols.map(o => if (o._2) Ascending else Descending)
    val func = graft.functions.TopKRows(
      CreateStruct(orderCols.map(o => UnresolvedAttribute.quoted(o._1))),
      CreateStruct(df.columns.toSeq.map(UnresolvedAttribute.quoted)),
      Literal(k), dirs, dirs.map(_.defaultNullOrdering))
    val top = Shims.column(AggregateExpression(func, Complete, isDistinct = false))
    df.groupBy(groupCols.map(col): _*)
      .agg(top.as("__top"))
      .select(posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("__t.*"), (col("__pos") + 1).cast("int").as(posCol))
  }
}
