package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured run ledger + dispatch worklist — the engine half of the
  * reference's job orchestration and structured logging (the Flask
  * dispatch loop `app.py:1-129`, `logger_config.py`, and the
  * staleness-driven re-run decision `scripts/verificar_e_executar.py:36-57`).
  *
  * The reference logs each ETL run row-by-row and re-dispatches jobs whose
  * source data is newer than their last successful run. Re-expressed
  * Spark-first: the run log is an APPEND-ONLY table (job natural key, a
  * monotone run sequence, status, finish timestamp, rows written) — the
  * cheapest write discipline a distributed ledger can have, no in-place
  * update ever — and every orchestration question is a fold over it:
  *
  *  - "current state per job" = latest-wins through the bounded-heap
  *    [[TopK.groupTopKRows]] aggregate (k=1): map-side partials cap the
  *    exchange at one row per job per input partition, so a ledger with
  *    years of history never window-sorts (the [[Cdc]] discipline);
  *  - "what should run next" = the source catalog LEFT-joined against that
  *    folded state, BROADCAST — the fold is ≤ #jobs rows, tiny versus a
  *    catalog scan, so the catalog never shuffles.
  */
object RunLog {

  /** Latest run per job key: max `seqCol` with the whole ledger row as
    * payload. `seqCol` must be unique within a job (run counters are), so
    * the winner is deterministic under any partitioning.
    */
  def latestRuns(
      ledger: DataFrame, jobCols: Seq[String], seqCol: String): DataFrame =
    TopK.groupTopKRows(ledger, jobCols, Seq((seqCol, false)), k = 1,
        posCol = "__pos")
      .drop("__pos")

  /** Dispatch worklist: one row per catalog job that needs a run, with the
    * reason — never ran, last run failed, or the source was produced after
    * the last successful run finished (the `verificar_e_executar` rule).
    * Output = every catalog column + `ultima_execucao` (latest seq, null
    * when never run) + `ultimo_status` + `motivo`.
    *
    * The catalog side (one row per source partition — the 100 TB-scale
    * side at a real deployment) is scanned once and never shuffled: the
    * folded ledger state joins in as a broadcast build side.
    */
  def dispatchWorklist(
      catalog: DataFrame, ledger: DataFrame, jobCols: Seq[String],
      producedTsCol: String, seqCol: String, statusCol: String,
      finishedTsCol: String, okStatus: String = "ok"): DataFrame = {
    val latest = latestRuns(ledger, jobCols, seqCol).select(
      jobCols.map(col) ++ Seq(
        col(seqCol).as("__seq"), col(statusCol).as("__status"),
        col(finishedTsCol).as("__fim")): _*)
    val motivo = when(col("__seq").isNull, "nunca_executado")
      .when(col("__status") =!= okStatus, "falha_anterior")
      .when(col(producedTsCol) > col("__fim"), "desatualizado")
    catalog.join(broadcast(latest), jobCols, "left")
      .withColumn("motivo", motivo)
      .filter(col("motivo").isNotNull)
      .select(catalog.columns.map(col) ++ Seq(
        col("__seq").as("ultima_execucao"),
        col("__status").as("ultimo_status"),
        col("motivo")): _*)
  }
}
