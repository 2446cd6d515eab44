package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Changelog (CDC) application: fold a batch of keyed change events —
  * upserts and deletes carrying a monotone sequence number — into a
  * snapshot table, the Debezium/Delta-change-feed `MERGE` every lakehouse
  * ingestion layer runs. Generalizes the reference's delete-conflicts
  * upsert (utilitarios/bd_utilitarios.py:262): there every incoming row
  * wins unconditionally; here ORDER among changes matters (a delete after
  * an update must erase the row, an update after a delete must restore
  * it) and only the latest change per key is applied.
  *
  * Spark-first shape, sized for a small batch against a 100 TB snapshot:
  *  - the per-key winner comes from the bounded-heap TopKRows aggregate
  *    (map-side partials cap the exchange at one row per key per
  *    partition); a window `row_number` would sort+shuffle the whole
  *    changelog, `max_by` has no deterministic tie contract;
  *  - the snapshot is probed with a broadcast LEFT ANTI on the winner
  *    keys — the target never shuffles (the q76/q93 SCD discipline) and
  *    composes with [[Upsert.upsertBloomPruned]]'s scan-side split when
  *    the target is file-backed;
  *  - survivors and applied winners reunite in one `unionByName` plan.
  */
object Cdc {

  /** Apply `changes` to `target`.
    *
    * Contract: `changes` carries every `target` column (full row images,
    * keys included) plus `seqCol` (monotone change order, UNIQUE within a
    * key — ties would make the winner, and any engine replaying the log,
    * nondeterministic) and `opCol`. The latest change per key wins:
    * `deleteOp` drops the key from the result; any other op replaces the
    * existing row or inserts a missing one. Keys absent from the log pass
    * through untouched.
    */
  def applyChangelog(
      target: DataFrame, changes: DataFrame, keyCols: Seq[String],
      seqCol: String, opCol: String, deleteOp: String = "D"): DataFrame = {
    val winners = latestWinners(changes, keyCols, seqCol)
    val survivors = target.join(
      broadcast(winners.select(keyCols.map(col): _*)), keyCols, "left_anti")
    survivors.unionByName(
      winners.filter(col(opCol) =!= deleteOp)
        .select(target.columns.map(col).toSeq: _*))
  }

  /** The latest change per key (max `seqCol`) with the whole row as
    * payload, through the bounded-heap aggregate.
    */
  private def latestWinners(
      changes: DataFrame, keyCols: Seq[String], seqCol: String): DataFrame =
    TopK.groupTopKRows(
        changes, keyCols, Seq((seqCol, false)), k = 1, posCol = "__pos")
      .drop("__pos")

  /** Changelog EXTRACTION — [[applyChangelog]]'s inverse, the diff→CDC
    * step that turns two table snapshots into the keyed change events a
    * downstream consumer replays (the lakehouse "generate change feed
    * from full reloads" path: sources that only hand over full dumps —
    * the reference's FTP extracts are exactly that — still need to feed
    * incremental consumers).
    *
    * Scale shape: classification joins run at CHANGE volume, not table
    * volume — both snapshots first reduce through multiset `exceptAll`
    * (the q85 hash-aggregate discipline: one full-row hash aggregate +
    * join per side, nothing driver-side), and only the churn-sized
    * difference sets meet in the full-outer key join that labels each
    * key insert / delete / update. A 100 TB table with 0.1% churn pays
    * two scans + a 100 GB-scale classify, never a table-vs-table outer
    * join.
    *
    * Contract: `keyCols` unique within each snapshot. Output: keyCols +
    * `op` ∈ {I, U, D} + the new snapshot's non-key columns (null for
    * deletes). Unchanged rows emit nothing.
    */
  def extractChangelog(
      oldSnap: DataFrame, newSnap: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    require(oldSnap.columns.sameElements(newSnap.columns),
      s"snapshots must share a schema, got ${oldSnap.columns.toSeq} vs " +
        s"${newSnap.columns.toSeq}")
    val payload = oldSnap.columns.filterNot(keyCols.contains).toSeq
    val removed = oldSnap.exceptAll(newSnap)
      .select(keyCols.map(col) :+ lit(1).as("__was"): _*)
    val added = newSnap.exceptAll(oldSnap)
      .select((keyCols ++ payload).map(col) :+ lit(1).as("__is"): _*)
    removed.join(added, keyCols, "full_outer")
      .select(keyCols.map(col) ++
        Seq(when(col("__was").isNull, "I")
          .when(col("__is").isNull, "D")
          .otherwise("U").as("op")) ++
        payload.map(col): _*)
  }
}
