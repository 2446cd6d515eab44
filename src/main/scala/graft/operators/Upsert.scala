package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch upsert / delete-conflicts.
  *
  * Reference: before loading a batch it deletes target rows whose
  * `ftp_arquivo_nome` matches the incoming file (`deletar_conflitos`,
  * sm_cloud_run/utilitarios/bd_utilitarios.py:262-283), and the metadata
  * table is upserted row-by-row in a Python loop
  * (etl/datasus_ftp_metadados.py:293-351).
  *
  * Spark-first: upsert is one hash anti-join (drop target rows whose key
  * appears in the incoming batch) plus `unionByName` — the standard
  * merge pattern; one shuffle of each side, no driver loop.
  */
object Upsert {

  /** Delete-conflicts: drop target rows matching the incoming batch tag
    * (null-safe, so a null tag deletes the null-tagged rows).
    */
  def deleteConflicts(target: DataFrame, tagCol: String, tag: Column): DataFrame =
    target.filter(!(col(tagCol) <=> tag))

  /** Upsert `incoming` into `target` on `keys`, incoming winning on
    * conflict: a null-safe anti-join on the incoming key set plus
    * `unionByName`, with a Bloom pre-filter over the incoming key set: target
    * rows whose key hash is bloom-NEGATIVE provably have no conflict and
    * bypass the anti-join entirely — only the bloom-positive sliver (true
    * conflicts + fpp false positives) reaches the join. When incoming is
    * too large to broadcast, this cuts the join's target-side shuffle from
    * |target| to ~|incoming| rows — the difference between reshuffling a
    * 100 TB table and reshuffling the batch. The probe is Catalyst's own
    * codegen'd `BloomFilterMightContain` (the runtime-filter expression),
    * evaluated scan-side before any exchange.
    *
    * Same output as the plain anti-join merge for every fpp: false
    * positives only route a row through the exact anti-join, never change
    * the result.
    */
  def upsertBloomPruned(
      target: DataFrame, incoming: DataFrame, keys: Seq[String],
      fpp: Double = 0.01): DataFrame = {
    def keyHash(df: DataFrame) = xxhash64(keys.map(df(_)): _*)
    val hashed = incoming.select(keyHash(incoming).as("__graft_kh"))
    val expected = math.max(hashed.count(), 1L)
    val bloom = hashed.stat.bloomFilter("__graft_kh", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val might = call_function("graft_might_contain", lit(bytes), keyHash(target))
    val incomingKeys = incoming
      .select(keys.map(k => col(k).as(s"__graft_k_$k")): _*).distinct()
    val suspect = target.filter(might)
    val cond = keys.map(k => suspect(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
    target.filter(!might)
      .unionByName(suspect.join(incomingKeys, cond, "left_anti"))
      .unionByName(incoming)
  }
}
