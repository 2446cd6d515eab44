package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every k-gram of the token
  * stream, slide a window of `w` consecutive hashes, and record each
  * window's minimum (rightmost occurrence on ties). The selected
  * (hash, position) set is the document's fingerprint: GUARANTEED to
  * detect any shared run of w+k−1 tokens, while storing only ~2/(w+1)
  * of the grams — the density/guarantee trade the paper proves optimal.
  *
  * Completes the fingerprint family: [[Dedup.exactDedup]] is one content
  * hash per document (whole-doc identity);
  * [[Curation.dedupExactSubstrings]] finds exact spans but keeps every
  * span; winnowing is the SUBLINEAR substring-evidence sketch — the
  * standard plagiarism/citation-overlap primitive.
  *
  * Portability: gram hash = low 60 bits of md5 (15 hex digits — fits a
  * signed BIGINT in both engines), the [[Dedup]] portable-hash
  * discipline, so a DuckDB oracle replays hashing, windowing and the
  * rightmost-min rule exactly.
  *
  * Shape at 100 TB: grams explode per document (positions are
  * document-bounded), each gram claims the ≤ w window-starts it can
  * serve, and the per-window argmin is ONE combinable
  * `min(struct(hash, −pos))` aggregation — lexicographic min = min
  * hash, rightmost position. No per-document loop, no window function
  * over an unbounded partition; duplicate selections collapse with one
  * distinct. Pair generation over shared fingerprints runs through the
  * tiled engine, so a ubiquitous fingerprint (boilerplate) cannot
  * create one quadratic task.
  */
object Winnow {

  /** Low-60-bit md5 gram hash — portable across engines. */
  private def gramHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Selected fingerprints per document: (idCol, hash, pos) — pos is the
    * 0-based k-gram position. Documents with fewer than `k + w − 1`
    * tokens yield their single smallest-hash gram (the degenerate
    * one-window case).
    */
  def fingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k,w >= 1: got $k, $w")
    val toks = docs
      .select(col(idCol).as("__id"),
        TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
    // k-grams by position: G = n−k+1 grams, hashed portably
    val grams = toks
      .select(col("__id"), (size(col("__t")) - k).as("__gmax"),
        posexplode(transform(
          sequence(lit(0), size(col("__t")) - k),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(k))))))
      .select(col("__id"), col("pos"),
        gramHash(col("col")).as("__h"), col("__gmax"))
    // each gram serves window-starts s in [max(0, pos−w+1), min(pos, G−w)]
    // (G−w = __gmax − (w−1)); one combinable argmin per (doc, window)
    val claims = grams
      .select(col("__id"), col("pos"), col("__h"),
        explode(sequence(
          greatest(col("pos") - (w - 1), lit(0)),
          least(col("pos"), greatest(col("__gmax") - (w - 1), lit(0)))))
          .as("__s"))
    claims
      .groupBy("__id", "__s")
      .agg(min(struct(col("__h"), (-col("pos")).as("__np"))).as("__sel"))
      .select(col("__id").as(idCol),
        col("__sel.__h").as("hash"),
        (-col("__sel.__np")).as("pos"))
      .distinct()
  }
}
