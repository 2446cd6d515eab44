package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Curation, Dedup, Privacy, Spread, TextAnalysis}

/** The full LLM text-curation chain composed end-to-end in ONE
  * declarative plan — the text twin of [[Procedures]] (q43): a user of
  * this engine runs their whole curation pass as one query, not a
  * staged script with intermediate materializations.
  *
  * Stages, in the order production pipelines run them:
  *   1. exact dedup (keep the minimum id per content hash — q25's shape)
  *   2. OPTIONAL MinHash-LSH fuzzy dedup (`fuzzyThreshold`): verified
  *      near-dup pairs from [[Dedup.minhashNearDups]] (q26's
  *      operator), greedy keep-lowest-id — any document that is the
  *      GREATER id of a pair is dropped (the RefinedWeb-style per-pair
  *      discipline; cluster-level survivorship is q52's CC operator)
  *   3. heuristic quality floor ([[TextAnalysis.qualityScore]] ≥ cutoff)
  *   4. frequent-span boilerplate purge ([[Curation.purgeFrequentSpans]]
  *      — span stats computed on the full qualified corpus, BEFORE any
  *      sampling thins it)
  *   5. temperature-flattened language resampling
  *      ([[Curation.temperatureResample]])
  *
  * Scale shape: dedup is one map-side-combinable hash aggregation; the
  * fuzzy stage is q26's banded-LSH shape (bucketed pairs, no all-pairs)
  * feeding one anti-join on id; quality is scan-level; the purge adds
  * its two aggregations with the frequent-span set broadcast; the purge
  * result joins back to the doc metadata on doc_id (both sides descend
  * from the same qualified set — AQE plans it as a co-partitioned
  * shuffle join, ≤ corpus-linear); the resample's per-language
  * probabilities broadcast. Nothing driver-side, nothing quadratic, and
  * every score/probability is IEEE/DECIMAL-exact so the whole chain is
  * SQL-replayable bit-for-bit.
  */
object TextCuration {

  /** `docs` must carry (idCol, textCol, domainCol). Output: one row per
    * surviving document — id, domain, `qualidade`, the span-purged
    * `texto_limpo`, `n_removidos`, and the resample's `p_keep`.
    */
  def run(
      docs: DataFrame, idCol: String, textCol: String, domainCol: String,
      minQuality: Double, spanWindow: Int, spanMaxDocs: Int,
      targetFraction: Double, fuzzyThreshold: Option[Double] = None): DataFrame = {
    val exactRaw = Dedup.exactDedup(
      docs.select(col(idCol), col(textCol), col(domainCol)), textCol, idCol)
    val deduped = fuzzyThreshold.fold(exactRaw) { t =>
      // the exact-deduped corpus feeds THREE consumers here (the shingle
      // pipeline inside the pair search and both sides of the anti-join)
      // — persist it so the dedup's hash aggregation runs once, not per
      // consumer (spillable; at scale one materialization beats three
      // corpus shuffles)
      val exact = graft.llm.CacheScope.persistTracked(exactRaw)
      // near-dup pairs are already exact-Jaccard-verified ≥ t; documents
      // shorter than the shingle width have no shingles, generate no
      // pairs, and always survive this stage
      val pairs = Dedup.minhashNearDups(
        exact.select(col(idCol), col(textCol)), idCol, textCol, t)
      exact.join(pairs.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
    }
    // `qualified` is a branch point with THREE consumers (the purge's
    // span-frequency aggregation, its rebuild probe, and the metadata
    // rejoin) and `rejoined` with TWO (the resample's probability fit and
    // its apply probe). Unpersisted, every consumer replays the whole
    // upstream chain — with the fuzzy stage on, ~6 re-evaluations of the
    // LSH verify + anti-join (measured 27.8 s vs 3.6 s for the exact-only
    // chain on a corpus 100× SMALLER than bench scale; at 100 TB each
    // replay is a full corpus pass). One spillable materialization per
    // branch point caps the chain at one evaluation of each stage.
    val qualified = graft.llm.CacheScope.persistTracked(
      Spread(deduped)
        .withColumn("qualidade", TextAnalysis.qualityScore(col(textCol)))
        .filter(col("qualidade") >= minQuality))
    val purged = Curation.purgeFrequentSpans(
      qualified.select(col(idCol), col(textCol)),
      idCol, textCol, spanWindow, spanMaxDocs)
    val rejoined = graft.llm.CacheScope.persistTracked(
      qualified.select(col(idCol), col(domainCol), col("qualidade"))
        .join(purged.select(col(idCol), col("texto_limpo"), col("n_removidos")),
          Seq(idCol)))
    Curation.temperatureResample(rejoined, idCol, domainCol, targetFraction)
  }

  /** [[run]] extended with the two release-gate stages production
    * pipelines append before export:
    *   6. benchmark decontamination ([[Curation.decontaminate]] on the
    *      PURGED text — eval contamination is judged on what would
    *      actually ship): any document sharing a `decontamN`-gram with
    *      the benchmark suite is DROPPED
    *   7. PII redaction ([[Privacy.redactPii]] — masking runs LAST so no
    *      later stage can resurface a masked identifier; per-kind counts
    *      ride the rows for the release audit)
    *
    * Scale shape on top of [[run]]'s: the benchmark's distinct shingles
    * BROADCAST (an eval suite is thousands of docs against a 100 TB
    * corpus), the contamination verdict joins back on the id both sides
    * already share (AQE co-partitions, survivors-linear), and redaction
    * is scan-level regex — zero additional corpus shuffles beyond the
    * one id join.
    */
  def runFull(
      docs: DataFrame, idCol: String, textCol: String, domainCol: String,
      minQuality: Double, spanWindow: Int, spanMaxDocs: Int,
      targetFraction: Double, benchmark: DataFrame, decontamN: Int,
      fuzzyThreshold: Option[Double] = None): DataFrame = {
    // the resampled survivors feed the contamination scan AND the final
    // join — one spillable materialization instead of two chain replays
    val kept = graft.llm.CacheScope.persistTracked(
      run(docs, idCol, textCol, domainCol, minQuality, spanWindow,
        spanMaxDocs, targetFraction, fuzzyThreshold))
    val flags = Curation.decontaminate(
      kept.select(col(idCol), col("texto_limpo")),
      benchmark.select(col(textCol).as("texto_limpo")),
      idCol, "texto_limpo", decontamN)
    val clean = kept
      .join(flags.filter(!col("contaminado")).select(col(idCol)), Seq(idCol))
      .withColumnRenamed("texto_limpo", "texto_purgado")
    Privacy.redactPii(clean, "texto_purgado").drop("texto_purgado")
  }
}
