package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.plans.Gates

/** Deduplication operators: exact, MinHash-LSH, SimHash, blocked n-gram
  * Jaccard.
  *
  * Scale contract: candidate generation is ALWAYS bucketed — shingle sets
  * are hashed to band buckets and pairs are generated only within a bucket
  * (a shuffle on the bucket key, linear-ish in rows). There is no all-pairs
  * cartesian anywhere; the scalatest suite asserts the physical plan
  * contains no CartesianProduct/BroadcastNestedLoopJoin for these paths.
  */
object Dedup {

  /** Exact dedup on a content hash, keeping the row with the minimum id per
    * duplicate group. One shuffle (`groupBy` on the 256-bit content hash,
    * map-side partial `min_by`) — no join back, no window over the table.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("__graft_h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__graft_r"))
      .select(cols.map(c => col(s"__graft_r.$c").as(c)): _*)
  }

  /** Distinct candidate id pairs (a < b) from shared band buckets. The join
    * key is (band, bhash) — pair generation is local to a bucket.
    */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val a = buckets.select(col("band"), col("bhash"), col("__id").as("id_a"))
    val b = buckets.select(
      col("band").as("__b2"), col("bhash").as("__h2"), col("__id").as("id_b"))
    a.join(b,
        col("band") === col("__b2") && col("bhash") === col("__h2") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard between two distinct-element arrays, written as
    * |∩| / (|A| + |B| − |∩|) so the SQL oracle can reproduce it exactly.
    */
  def jaccard(shA: Column, shB: Column): Column = {
    val inter = size(array_intersect(shA, shB)).cast("double")
    inter / (size(shA).cast("double") + size(shB).cast("double") - inter)
  }

  /** (id, shingle-set) relation: tokenize, Spread (parallelism floor + a
    * materialization barrier so `split()` is evaluated once per row, not
    * inlined into the shingle lambda per element), shingle, drop empties.
    * Sets are SORTED once per doc so pair scoring can use the native
    * merge-walk [[jaccardSorted]] instead of a per-pair hash-set build —
    * sorting is per-doc O(s log s); pair volume is O(block²).
    */
  private def shingled(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int): DataFrame =
    Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"),
        TextAnalysis.shingleSetSorted(
          TextAnalysis.tokens(col(textCol)), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** [[jaccard]] over SORTED distinct arrays: the intersection size comes
    * from the native codegen'd merge walk (one static call per pair).
    * Identical value to [[jaccard]] — set cardinalities don't depend on
    * order — but the per-pair constant is ~5× smaller.
    */
  private def jaccardSorted(shA: Column, shB: Column): Column = {
    val inter =
      call_function("sorted_intersect_count", shA, shB).cast("double")
    inter / (size(shA).cast("double") + size(shB).cast("double") - inter)
  }

  /** MinHash-LSH near-duplicate pairs: shingle → signature → band buckets →
    * within-bucket candidates → exact-Jaccard verify ≥ `threshold`. Every
    * hash is the portable md5 family of [[portableSignatures]], so the
    * DuckDB oracle replays the full pipeline.
    */
  def minhashNearDups(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numHashes: Int = 20, bands: Int = 5): DataFrame = {
    val idx = bandIndex(docs, idCol, textCol, shingleN, numHashes, bands)
    jaccardVerify(candidatePairs(idx.bands), idx.shingles, threshold)
  }

  /** Largest prime below 2^32 — modulus of the portable seeded hash family
    * `h_s(x) = (h1(x) + s·h2(x)) mod p` where h1/h2 are the first two
    * 32-bit words of md5(x). One md5 per element covers every seed, all
    * intermediate values stay below 2^37 (no overflow on engines that
    * error instead of wrapping), and md5/substr/hex-cast exist in both
    * Spark and the DuckDB oracle — unlike xxhash64.
    */
  private val HashMod = 4294967291L

  /** (h1, h2) 32-bit md5 words of a string column, as longs. */
  private def md5Words(c: Column): (Column, Column) = {
    val m = md5(c.cast("binary"))
    (conv(substring(m, 1, 8), 16, 10).cast("long"),
      conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** Shared verify tail: exact Jaccard ≥ threshold over candidate pairs
    * (shingle sets arrive sorted from [[shingled]] → native merge walk).
    */
  private def jaccardVerify(
      pairs: DataFrame, keyed: DataFrame, threshold: Double): DataFrame = {
    val shA = keyed.select(col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val shB = keyed.select(col("__id").as("id_b"), col("__sh").as("__sh_b"))
    pairs.join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccardSorted(col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Wide MinHash signature relation `(__id, __h0..__h{n-1})` of a
    * [[shingled]] frame. One md5 per shingle, then `numHashes` cheap
    * `(h1 + s·h2) mod p` mins: the shingle explode keeps the hashing a
    * codegen'd projection (inside a higher-order lambda it would be
    * interpreted), and since one doc's shingles never span partitions the
    * per-seed min aggregation collapses map-side to one row per doc.
    */
  private def portableSignatures(keyed: DataFrame, numHashes: Int): DataFrame = {
    val (h1, h2) = md5Words(col("__shingle"))
    val minCols = (0 until numHashes).map(s =>
      min((col("__h1") + lit(s.toLong) * col("__h2")) % HashMod).as(s"__h$s"))
    keyed.select(col("__id"), explode(col("__sh")).as("__shingle"))
      .select(col("__id"), h1.as("__h1"), h2.as("__h2"))
      .groupBy("__id").agg(minCols.head, minCols.tail: _*)
  }

  /** Band fan-out of a wide signature relation: `bands` rows per doc,
    * bucket key = the concatenated signature components of the band (a
    * string, so no second hash is needed).
    */
  private def sigBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    sigs.select(col("__id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            concat_ws(",", (0 until rowsPerBand).map(r =>
              col(s"__h${b * rowsPerBand + r}")): _*).as("bhash"))
        }: _*)).as("bb"))
      .select(col("__id"), col("bb.band").as("band"), col("bb.bhash").as("bhash"))
  }

  /** Wide signature relation → `(__id, __sig array<long>)`. */
  private def sigArray(sigs: DataFrame, numHashes: Int): DataFrame =
    sigs.select(col("__id"),
      array((0 until numHashes).map(s => col(s"__h$s")): _*).as("__sig"))

  /** Broder's estimate for a candidate pair: the share of the `numHashes`
    * signature components on which `__sig_a` and `__sig_b` agree, as
    * `jaccard_est`.
    */
  private def sigAgreement(numHashes: Int): Column =
    (aggregate(
      zip_with(col("__sig_a"), col("__sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (a, v) => a + v).cast("double") / numHashes).as("jaccard_est")

  /** Candidate (id_novo, id_existente) pairs of an ingest gate: the batch's
    * band buckets equi-join the corpus's (AQE skew-handled; a
    * boilerplate-hot bucket is the q26 skew case), so candidates form only
    * ACROSS the batch/corpus boundary and pair volume is batch-bounded,
    * never corpus².
    */
  private def crossBandPairs(batchBands: DataFrame, corpusBands: DataFrame): DataFrame =
    batchBands.select(col("__id").as("id_novo"), col("band"), col("bhash"))
      .join(corpusBands
          .select(col("__id").as("id_existente"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .select("id_novo", "id_existente").distinct()

  /** Signature-only near-dup pairs (Broder 1997's estimator): candidate
    * pairs from the same portable-MinHash band buckets, but scored by
    * SIGNATURE COMPONENT AGREEMENT — `|{s : sigA[s]=sigB[s]}| /
    * numHashes`, an unbiased estimate of the Jaccard similarity — with
    * NO join back to the shingle sets. This is the 100 TB shortcut the
    * sketch exists for: the exact verify drags two full shingle arrays
    * (often 10³ elements) through the pair join, the estimator joins
    * two `numHashes`-long arrays (160 bytes at 20 hashes) and pays one
    * codegen'd zip/fold per pair. Corpus text is touched exactly once
    * (signature build) — with a persisted signature index (the
    * [[BandIndex]] pattern) an audit re-run touches NO text at all.
    * Trade-off: ±1/numHashes quantization and sketch noise, so use it
    * for audit/triage joins and keep the exact verify for destructive
    * dedup ([[minhashNearDups]]).
    */
  def estimatedJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, numHashes: Int = 20, bands: Int = 5): DataFrame =
    estimatedJaccardPairsIndexed(
      signatureIndex(docs, idCol, textCol, shingleN, numHashes, bands),
      threshold, numHashes)

  /** Persisted MinHash-SIGNATURE index — the [[BandIndex]] pattern applied
    * to the Broder estimator ([[estimatedJaccardPairs]]): signatures and
    * band buckets are pure functions of the text, computed once and stored
    * as `numHashes` longs plus `bands` bucket rows per document (~200
    * bytes at 20 hashes). Unlike [[BandIndex]] there is NO shingle-set
    * join-back — an audit over the index
    * ([[estimatedJaccardPairsIndexed]]) touches no corpus text at all,
    * and the state is ~10³× smaller than the shingle sets it replaces.
    * Use it for recurring similarity audits over an unchanged
    * corpus; destructive dedup keeps the exact-verify [[BandIndex]] path.
    */
  case class SignatureIndex(sigs: DataFrame, bands: DataFrame)

  /** In-memory [[SignatureIndex]] of `docs`. The wide signature relation
    * is persisted: it feeds the band fan-out and every signature join-back,
    * and it is far smaller than the corpus text.
    */
  private def signatureIndex(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): SignatureIndex = {
    val sigs = portableSignatures(shingled(docs, idCol, textCol, shingleN), numHashes)
      .transform(CacheScope.persistTracked)
    SignatureIndex(sigArray(sigs, numHashes), sigBands(sigs, numHashes, bands))
  }

  def writeSignatureIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 20, bands: Int = 5): Unit = {
    val idx = signatureIndex(docs, idCol, textCol, shingleN, numHashes, bands)
    idx.sigs.write.mode("overwrite").parquet(s"$path/sigs")
    idx.bands.write.mode("overwrite").parquet(s"$path/bands")
  }

  def readSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): SignatureIndex =
    SignatureIndex(
      spark.read.parquet(s"$path/sigs"),
      spark.read.parquet(s"$path/bands"))

  /** [[estimatedJaccardPairs]] replayed ENTIRELY from a persisted
    * [[SignatureIndex]] — identical pairs and estimates (spec-proven),
    * zero text reads: the audit scans `numHashes` longs per doc, bucket-
    * joins the band rows and folds signature agreement per candidate.
    * This is the recurring-audit shape at 100 TB: the corpus is hashed
    * once at ingest, every later similarity sweep costs index-scan time.
    */
  def estimatedJaccardPairsIndexed(
      index: SignatureIndex, threshold: Double,
      numHashes: Int = 20): DataFrame =
    candidatePairs(index.bands)
      .join(index.sigs.select(col("__id").as("id_a"), col("__sig").as("__sig_a")),
        "id_a")
      .join(index.sigs.select(col("__id").as("id_b"), col("__sig").as("__sig_b")),
        "id_b")
      .select(col("id_a"), col("id_b"), sigAgreement(numHashes))
      .filter(col("jaccard_est") >= threshold)

  /** The corpus half of [[ingestGateIndexed]]: sorted shingle sets, band
    * buckets and content hashes are pure functions of the corpus text.
    * [[ingestGate]] builds the index in memory; a batch joins against it
    * without re-tokenizing the corpus.
    */
  case class BandIndex(shingles: DataFrame, bands: DataFrame, hashes: DataFrame)

  /** In-memory [[BandIndex]] of `docs`. Shingle sets and band buckets are
    * persisted branch points: the shingles feed the signature path and the
    * Jaccard join-backs, the buckets feed both sides of a candidate join.
    * Without this, CollapseProject inlines the signature expression once
    * per band and the self-join doubles it — ~10× recomputation of the most
    * expensive stage. Both relations are tiny relative to the corpus and
    * spill to disk at scale. `hashes` may repeat a hash; consumers take
    * it through a distinct.
    */
  private def bandIndex(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, bands: Int): BandIndex = {
    val keyed = shingled(docs, idCol, textCol, shingleN)
      .transform(CacheScope.persistTracked)
    val buckets = sigBands(portableSignatures(keyed, numHashes), numHashes, bands)
      .transform(CacheScope.persistTracked)
    BandIndex(keyed, buckets,
      docs.select(sha2(col(textCol).cast("binary"), 256).as("__ch")))
  }

  /** The ingestion gate against a [[BandIndex]]: per batch document,
    * whether an EXACT copy exists in the corpus (content-hash semi-join,
    * one shuffle on the 256-bit hash), how many corpus docs have exact
    * Jaccard ≥ `threshold` against it, and the keep verdict (`mantido` =
    * neither). Candidates come from [[crossBandPairs]] and are verified
    * against the index's shingle sets; only the BATCH is tokenized and
    * hashed, the corpus contributes its index scans. Batch-shaped output.
    */
  def ingestGateIndexed(
      batch: DataFrame, index: BandIndex, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 20,
      bands: Int = 5): DataFrame = {
    val kb = bandIndex(batch, idCol, textCol, shingleN, numHashes, bands)
    val verified = crossBandPairs(kb.bands, index.bands)
      .join(kb.shingles.select(col("__id").as("id_novo"), col("__sh").as("__sh_a")),
        "id_novo")
      .join(index.shingles
          .select(col("__id").as("id_existente"), col("__sh").as("__sh_b")),
        "id_existente")
      .select(col("id_novo"),
        jaccardSorted(col("__sh_a"), col("__sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy("id_novo").agg(count(lit(1)).as("n_quase_dups"))
    batch
      .withColumn("__bh", sha2(col(textCol).cast("binary"), 256))
      // distinct: the index carries a hash once per copy
      .join(index.hashes.distinct().withColumn("__exato", lit(true)),
        col("__bh") === col("__ch"), "left")
      .join(verified, col(idCol) === col("id_novo"), "left")
      .select(col(idCol),
        coalesce(col("__exato"), lit(false)).as("exato"),
        coalesce(col("n_quase_dups"), lit(0L)).as("n_quase_dups"))
      .withColumn("mantido", !col("exato") && col("n_quase_dups") === 0L)
  }

  /** [[ingestGateIndexed]] against an in-memory [[BandIndex]] of `corpus`
    * — the one-shot form, for a corpus with no index on disk yet.
    */
  def ingestGate(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 3, numHashes: Int = 20,
      bands: Int = 5): DataFrame =
    ingestGateIndexed(batch,
      bandIndex(corpus, idCol, textCol, shingleN, numHashes, bands),
      idCol, textCol, threshold, shingleN, numHashes, bands)

  /** Content-defined chunking (the LBFS/Venti storage-dedup discipline
    * applied to text, token-level): a chunk boundary falls after token
    * `t` wherever the portable-md5 hash of the `window`-token shingle
    * ending at `t` is ≡ 0 mod `divisor` — a pure function of the LOCAL
    * content, so an edit or an inserted prefix only perturbs the chunks
    * it touches and the chunking RE-SYNCHRONIZES on the next boundary
    * (fixed-offset chunking misaligns everything after an insertion;
    * spec-proven). Average chunk length ≈ `divisor` tokens.
    *
    * Output: one row per (doc, chunk) with the chunk's index, text and
    * content hash. Cost: one scan-level shingle-hash pass (O(window) per
    * token), one per-doc cumulative-sum window for chunk ids and one
    * (doc, chunk) aggregation — the doc-keyed shuffles are intra-doc
    * bounded; nothing is corpus-quadratic.
    */
  def cdcChunks(
      docs: DataFrame, idCol: String, textCol: String,
      window: Int = 3, divisor: Int = 16): DataFrame = {
    require(window >= 1 && divisor >= 1,
      s"need window,divisor >= 1; got $window/$divisor")
    val toks = TextAnalysis.tokens(col(textCol))
    // boundary flag per shingle (= per token position >= window), padded
    // with `false` for the first window-1 positions so the flag array
    // aligns with the token array
    val bmap = transform(TextAnalysis.shingles(toks, window), s =>
      pmod(conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(divisor.toLong)) === 0)
    val keyed = Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"), toks.as("__toks"), bmap.as("__bm"))
      .select(col("__id"),
        posexplode(arrays_zip(
          col("__toks").as("t"),
          slice(concat(array_repeat(lit(false), window - 1), col("__bm")),
            lit(1), greatest(size(col("__toks")), lit(1))).as("b")))
          .as(Seq("__pos", "__z")))
      .select(col("__id"), col("__pos"),
        col("__z.t").as("__tok"),
        coalesce(col("__z.b"), lit(false)).as("__b"))
    // chunk id = boundaries strictly BEFORE this token (exclusive cumsum)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy("__pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    keyed
      .withColumn("__chunk",
        coalesce(sum(when(col("__b"), 1L).otherwise(0L)).over(w), lit(0L)))
      .groupBy(col("__id"), col("__chunk"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          s => s.getField("__tok"))).as("chunk_text"))
      .select(col("__id").as(idCol), col("__chunk").as("chunk_idx"),
        col("chunk_text"), md5(col("chunk_text").cast("binary")).as("chunk_hash"))
  }

  /** Cross-document duplicated-content stats over [[cdcChunks]]: per doc,
    * how many of its chunks also occur (by content hash) in ANOTHER doc,
    * and the duplicated fraction — the storage-dedup view of corpus
    * redundancy, robust to shifted/prefixed copies that whole-doc exact
    * dedup and fixed-window fingerprints miss. One hash aggregation
    * (map-side combinable) + one join back; never pairwise.
    */
  def cdcSharedStats(chunks: DataFrame, idCol: String): DataFrame = {
    val spreadCount = chunks.groupBy("chunk_hash")
      .agg(count_distinct(col(idCol)).as("__docs"))
    chunks
      .join(spreadCount, Seq("chunk_hash"))
      .groupBy(idCol)
      .agg(
        count(lit(1L)).as("n_chunks"),
        sum(when(col("__docs") >= 2, 1L).otherwise(0L)).as("n_compartilhados"))
      .withColumn("frac_compartilhada",
        col("n_compartilhados").cast("double") / col("n_chunks").cast("double"))
  }

  /** Containment near-dup detection: pairs whose shingle OVERLAP covers
    * most of the SMALLER document — `|A∩B| / min(|A|,|B|) ≥ threshold` —
    * the asymmetric relation Jaccard-based dedup structurally misses. A
    * prefix/quotation/subset document has Jaccard ≈ |A|/|B| against its
    * superset (arbitrarily small as the superset grows) but containment
    * 1.0; production pipelines treat such engulfed documents as
    * duplicates (the RealNews/C4 quotation case).
    *
    * Candidate generation matches the relation: MinHash bands estimate
    * Jaccard, so instead each document buckets on each of its `bottomK`
    * SMALLEST portable-md5 shingle hashes (a bottom-k sketch, Broder's
    * sample of the set). If A is mostly inside B they share low hashes
    * with high probability regardless of the size ratio (for A ⊆ B, A's
    * minimum hash lands in B's bottom-k with prob ≈ 1 − e^(−k·|A|/|B|)).
    * The sketch is exact top-k machinery — the bounded-heap
    * [[graft.operators.TopK.groupTopKRows]] aggregate, k rows per doc per
    * map partition to the exchange — then pairs form only within hash
    * buckets ([[candidatePairs]]' shape: bucketed, never all-pairs; a
    * boilerplate shingle whose hash goes hot is the same skew case as
    * q26's band buckets) and the exact sorted-merge intersection verifies.
    * One IEEE division per pair → bit-reproducible in SQL.
    *
    * Output: (id_a, id_b, contencao) for every verified pair.
    */
  def containmentNearDups(
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, bottomK: Int = 8): DataFrame = {
    val keyed = shingled(docs, idCol, textCol, shingleN)
      .transform(CacheScope.persistTracked)
    val (h1, _) = md5Words(col("__shingle"))
    val hashes = keyed
      .select(col("__id"), explode(col("__sh")).as("__shingle"))
      .select(col("__id"), h1.as("__h"))
    val bottom = graft.operators.TopK.groupTopKRows(
        hashes, Seq("__id"), Seq(("__h", true)), bottomK, posCol = "__pos")
      .select(lit(0).as("band"), col("__h").cast("string").as("bhash"),
        col("__id"))
    val shA = keyed.select(col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val shB = keyed.select(col("__id").as("id_b"), col("__sh").as("__sh_b"))
    candidatePairs(bottom).join(shA, "id_a").join(shB, "id_b")
      .select(col("id_a"), col("id_b"),
        (call_function("sorted_intersect_count", col("__sh_a"), col("__sh_b"))
          .cast("double") /
          least(size(col("__sh_a")), size(col("__sh_b"))).cast("double"))
          .as("contencao"))
      .filter(col("contencao") >= threshold)
  }

  /** Shared candidate tail of the simhash family: exact-signature
    * collapse → banded representative pairs → group expansion.
    *
    * Identical signatures band identically in EVERY band — on a corpus
    * with verbatim replicas (the CommonCrawl refetch reality, and this
    * testbed's ×10 replication) each g-member identical-signature group
    * used to re-generate its C(g,2) pairs in all 4 bands AND pile onto
    * the band buckets' collision volume (measured at sf1: 352M raw
    * candidates for 24.5M survivors). Collapsing to ONE representative
    * per distinct signature before banding makes the banded join's
    * input the number of DISTINCT signatures; survivors then expand
    * back through two member joins (cross-group pairs — output-bound by
    * construction) plus the within-group all-pairs (hamming 0, emitted
    * through the same tiled engine so a million-replica group cannot
    * serialize into one task). Output is IDENTICAL to banding the raw
    * corpus: every within-group pair is hamming 0 ≤ maxHamming, and a
    * cross pair's hamming depends only on the two signatures.
    * The survivor-pair `distinct` now runs on representative pairs
    * (near-dup DENSITY of the deduplicated signature space), not on
    * member pairs.
    *
    * `sh`: one row per doc — `__id` + the signature columns (names must
    * avoid [[tiledPairs]]' reserved internals). `bandKeys`: one blocking
    * expression per band over the signature columns. `hammingAB`: the
    * Hamming distance over `<sig>_a` / `<sig>_b`-suffixed columns.
    */
  private def simhashTail(
      sh: DataFrame, sigCols: Seq[String], bandKeys: Seq[Column],
      hammingAB: Column, maxHamming: Int, maxBlock: Int): DataFrame = {
    val sig = sigCols.map(col)
    val reps = CacheScope.persistTracked(
      sh.groupBy(sig: _*).agg(min(col("__id")).as("__rep")))
    val memb = CacheScope.persistTracked(
      sh.join(reps, sigCols).select(col("__id"), col("__rep")))
    val repKeyed = reps.select(
      col("__rep").as("__id") +: sig :+
        explode(array(bandKeys: _*)).as("__block"): _*)
    val repPairs = tiledPairs(repKeyed, sigCols, maxBlock, cache = false)
      // hamming is symmetric, so the id normalization cannot change it
      .select(least(col("id_a"), col("id_b")).as("__ra"),
        greatest(col("id_a"), col("id_b")).as("__rb"),
        hammingAB.as("hamming"))
      // filter BEFORE distinct: hamming is a pure function of the pair,
      // so duplicates agree on it — and most candidates fail the cut, so
      // the dedup shuffle carries survivors only
      .filter(col("hamming") <= maxHamming)
      .distinct()
    // within-group pairs first: its tiling stats (Σ group-size²) ARE
    // the replication signal — the dist-0 output volume — and gate the
    // cross-expansion width pins below for free.
    val (withinRaw, withinVolume) = tiledPairsStats(
      memb.select(col("__id"), col("__rep").as("__block")),
      Seq.empty, maxBlock, cache = false)
    val within = withinRaw
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        (lit(0): Column).cast(
          org.apache.spark.sql.types.IntegerType).as("hamming"))
    // the two member joins multiply each representative pair by its
    // group sizes (×gₐ, then ×g_b — the answer's own volume). The same
    // AQE-coalescing trap as the tile join above: the rep-pair frame is
    // sf-invariant-small, so unpinned both expansions ran in one
    // post-coalesce task at sf10; explicit key-repartitions keep the
    // output-bound work spread. Gated on the within volume — when
    // replication is low (Σg² ≈ |memb|, below the pin threshold) the
    // expansions do not expand and AQE's own coalescing is right.
    val xpin = Gates.widthPin(withinVolume)
    val cross = xpin(repPairs, col("__ra"))
      .join(memb.select(col("__rep").as("__ra"), col("__id").as("__ma")),
        "__ra")
      .transform(df => xpin(df, col("__rb")))
      .join(memb.select(col("__rep").as("__rb"), col("__id").as("__mb")),
        "__rb")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"), col("hamming"))
    // disjoint by construction (same group vs different groups), and
    // each side emits every pair exactly once — no final distinct
    cross.unionByName(within)
  }

  /** Distinct-text collapse shared by the simhash family (the q183/q227
    * representative discipline applied one stage EARLIER, before
    * tokenization): a signature is a pure function of the text, so on a
    * corpus with verbatim replicas (the CommonCrawl refetch reality —
    * and the round-14 sf10 rehearsal, where signature work over 600k
    * members of ~6k distinct texts read ×175 super-linear) the token
    * explode and the bit-sum aggregation must run over DISTINCT texts,
    * not members. Cost on a mostly-unique corpus: one extra text-keyed
    * shuffle (the exactDedup shape) and a signature join-back — linear,
    * and the signature stage's input can never exceed the distinct-text
    * count.
    *
    * Returns (member frame (__id, __sim_txt), persisted distinct-text
    * frame (__sim_txt, __tid = min member id)).
    */
  private def distinctTexts(
      docs: DataFrame, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val base = Spread(
      docs.select(col(idCol).as("__id"), col(textCol).as("__sim_txt")))
    val texts = CacheScope.persistTracked(
      base.groupBy("__sim_txt").agg(min(col("__id")).as("__tid")))
    (base, texts)
  }

  /** Re-attach per-distinct-text signatures to every member row:
    * (__id, sig…). Null-text and zero-token members drop exactly as
    * they did when signatures were computed per member (no token row →
    * no signature; a null text never equi-joins). */
  private def memberSignatures(
      base: DataFrame, texts: DataFrame, sigs: DataFrame): DataFrame =
    base.join(texts, Seq("__sim_txt")).drop("__sim_txt")
      .join(sigs, Seq("__tid")).drop("__tid")

  /** The signature stage of [[simhashPairs]]: one row per member —
    * (__id, __v0..__v3), the four 16-bit chunks that are both the banding
    * keys and the Hamming-verify operands. The token explode and the
    * signed bit sums run once per distinct text (one codegen'd md5 per
    * token row, codegen'd HashAggregate sums) and are re-attached to every
    * member. Not persisted here; the caller pins the compact result. */
  private def simhashSignatures(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (base, texts) = distinctTexts(docs, idCol, textCol)
    val m = md5(col("__tok").cast("binary"))
    val tokRows = texts
      .select(col("__tid"),
        explode(array_distinct(TextAnalysis.tokens(col("__sim_txt"))))
          .as("__tok"))
      .select(col("__tid") +: (0 until 4).map(j =>
        conv(substring(m, j * 4 + 1, 4), 16, 10).cast("int").as(s"__c$j")): _*)
    val bitSums = for (j <- 0 until 4; b <- 0 until 16) yield
      sum(when(col(s"__c$j").bitwiseAND(1 << b) =!= 0, 1).otherwise(-1)).as(s"__s${j}_$b")
    val chunkVals = (0 until 4).map { j =>
      (0 until 16).map(b => when(col(s"__s${j}_$b") > 0, lit(1 << b)).otherwise(0))
        .reduce(_ + _).as(s"__v$j")
    }
    val sigs = tokRows.groupBy("__tid")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("__tid") +: chunkVals: _*)
    memberSignatures(base, texts, sigs)
  }

  /** SimHash near-dup pairs with portable hashing: each token's 64-bit
    * hash is the first 16 hex chars of md5(token), handled as 4 × 16-bit
    * chunks, and the signature's chunk `j` holds the majority vote of the
    * tokens' chunk-`j` bits. Candidates block on the chunks (any shared
    * chunk → candidate; Hamming ≤ 3 over 4 chunks guarantees one equal
    * chunk by pigeonhole) and verify `bit_count(xor) <= maxHamming`. Every
    * value stays small and positive, so the whole pipeline (hash → signed
    * bit sums → chunk blocking → Hamming verify) is reproducible by the
    * DuckDB oracle.
    *
    * Skew bound: the blocking keyspace is only 4 bands × 65,536 chunk
    * values, and chunk values are NOT uniform (bit sums are majority votes
    * over token hashes — topically similar corpora pile into few values).
    * Past a few million docs the hottest buckets hold thousands of rows and
    * a plain within-bucket self-join goes quadratic in single tasks, so
    * oversized buckets are routed through the exact pair-space tiling
    * ([[tiledPairs]]) — identical output, per-tile work capped at
    * ~maxBlock².
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      maxBlock: Int = AdaptiveBlock): DataFrame = {
    val sh = simhashSignatures(docs, idCol, textCol)
      // counts + both tile sides re-derive the banded explode from this
      // compact signature (tiledPairs runs with cache=false)
      .transform(CacheScope.persistTracked)
    // Band j's chunk value, offset into a per-band-disjoint block keyspace
    simhashTail(sh, (0 until 4).map(j => s"__v$j"),
      (0 until 4).map(j => lit(j.toLong * 65536L) + col(s"__v$j")),
      (0 until 4).map(j =>
          bit_count(col(s"__v${j}_a").bitwiseXOR(col(s"__v${j}_b"))
            .cast("long")))
        .reduce(_ + _).cast("int"),
      maxHamming, maxBlock)
  }

  /** Sentinel `maxBlock` value: derive the tile size from the observed
    * block-size distribution ([[adaptiveMaxBlockStats]]) instead of a static
    * guess.
    */
  val AdaptiveBlock: Int = 0

  /** What [[adaptiveMaxBlockStats]] reads off the block counts. */
  private[graft] final case class BlockStats(
      effBlock: Int, pairVolume: Double, nMulti: Long,
      totalRows: Long, multiRows: Long)

  /** Pick the tile side from RUNTIME stats — the observed per-block
    * counts (the same aggregation the hot-block filter needs anyway) and
    * the session's shuffle parallelism: total pair work W = Σ n_b² split
    * across P slots gives a per-task pair budget of W/P. The tile side is
    * k·√(W/P) (k = `Gates.TileBudgetFactor` = 4): a block
    * only counts as HOT — and pays salting/replication — when its own
    * pair space exceeds k² fair task shares. Salting every block down to
    * exactly one share (k = 1) over-tiles: hash partitioning already
    * load-balances the many sub-budget blocks per task; k = 4 keeps
    * uniform-ish data entirely on the plain self-join while bounding any
    * straggler task at ~16 fair shares of pair work (q27's sf1 A/B sweep
    * across k = 1..8 moved < ±15%, so on THAT corpus the machinery cost,
    * not replication, dominates — see SURVEY §4). A
    * static cap would either over-tile uniform data or under-tile a hot
    * block; this self-tunes as the corpus scales. The floor keeps tiny
    * corpora on the plain self-join; the cap bounds any single task's
    * pair volume (32768² ≈ 10⁹ comparisons) regardless of W or k.
    *
    * REFERENCE formula, pinned by DedupSpec: [[tiledPairs]] computes the
    * same expression inside its plan (one-row Σn² cross-joined onto the
    * block counts) so sizing the tiles costs no separate action — an
    * eager pre-action here re-derived the caller's whole `keyed` lineage
    * once more just to learn the threshold.
    *
    * Block-distribution stats come from ONE action over the counts table:
    * the adaptive tile side (`effBlock`), the observed pair volume W = Σn² (the
    * round-15 width-pinning gate reads it), the count of MULTI-row
    * blocks (n ≥ 2 — the only blocks that can emit a pair; sizes the
    * round-16 singleton-pruning broadcast), and the row totals on each
    * side of that split (the pruning PAYOFF gate — see
    * [[tiledPairsStats]]). */
  private[graft] def adaptiveMaxBlockStats(
      counts: DataFrame, parallelism: Int): BlockStats = {
    val row = counts.agg(
      sum(col("__cnt").cast("double") * col("__cnt").cast("double")).as("__w"),
      sum(when(col("__cnt") >= 2L, 1L).otherwise(0L)).as("__nm"),
      sum(col("__cnt")).as("__rows"),
      sum(when(col("__cnt") >= 2L, col("__cnt")).otherwise(0L)).as("__mrows"))
      .head()
    if (row.isNullAt(0)) return BlockStats(256, 0.0, 0L, 0L, 0L) // empty input
    val w = row.getDouble(0)
    val target = math.ceil(
      Gates.TileBudgetFactor * math.sqrt(w / math.max(parallelism, 1))).toLong
    BlockStats(math.max(256L, math.min(target, 32768L)).toInt, w,
      row.getLong(1), row.getLong(2), row.getLong(3))
  }

  /** Skew-bounded within-block pair generation, shared by the exact
    * all-pairs scorers ([[blockedJaccard]], [[embeddingNearDups]]).
    *
    * `keyed` must carry (__id, __block, payload…). Each block of size n is
    * split into S = ceil(n / maxBlock) deterministic salt groups and the
    * pair space covered by (i, j) grid tiles: a row with salt u joins as
    * the left side of tiles (u, j ≥ u) and the right side of tiles
    * (i ≤ u, u), so every unordered pair lands in EXACTLY one tile —
    * off-diagonal tiles have disjoint salts on their two sides; the
    * diagonal keeps the id ordering guard. Output is identical to the
    * plain block self-join while no tile holds more than ~maxBlock rows
    * per side; replication cost is S+1 rows per input row. For typical
    * blocks S=1 and this degenerates to the plain two-sided self-join.
    *
    * Emitted pairs are NOT id-ordered on off-diagonal tiles — callers
    * emit `least/greatest(id_a, id_b)` (their scores are symmetric).
    * Payload columns come back suffixed `_a` / `_b`.
    *
    * `cache=false` skips persisting `keyed` — for callers whose `keyed` is
    * a cheap projection/explode over an input THEY already persist
    * (simhash: caching the compact per-doc signature beats caching its
    * 4x-banded explode). Callers with expensive uncached upstreams
    * (tokenize/shingle) keep the default: counts and both tile sides read
    * `keyed`, and its upstream must run once, not three times.
    */
  private[graft] def tiledPairs(
      keyed: DataFrame, payload: Seq[String], maxBlock: Int,
      cache: Boolean = true): DataFrame =
    tiledPairsStats(keyed, payload, maxBlock, cache)._1

  /** [[tiledPairs]] plus the observed pair volume W = Σn² (−1 on the
    * fixed-maxBlock path, which runs no sizing action) — callers whose
    * DOWNSTREAM joins multiply by replica counts gate their own width
    * pins on it (the round-15 expansion discipline). */
  private[graft] def tiledPairsStats(
      keyed: DataFrame, payload: Seq[String], maxBlock: Int,
      cache: Boolean = true): (DataFrame, Double) = {
    val cached = if (cache) CacheScope.persistTracked(keyed) else keyed
    // Only OVERSIZED blocks need a salt factor, and there are at most
    // rows/maxBlock of them — broadcast that tiny table instead of
    // shuffle-joining every row against every block's count. Cold rows
    // (S=1, the overwhelming majority) then pay exactly the plain
    // self-join's shuffle volume: an earlier all-blocks count join tripled
    // shuffled bytes and made the no-skew case ~2.5x slower at sf1. The
    // count aggregation itself is map-side-combined per block key — cheap.
    val countsRaw = cached.groupBy("__block").agg(count(lit(1)).as("__cnt"))
    // In adaptive mode the block-count table is consumed twice — the Σn²
    // scalar action that sizes the tiles, then the hot filter inside the
    // broadcast build. PERSIST it (≤ |blocks| rows, tiny) so the sizing
    // action materializes it once and the hot filter replays from cache
    // instead of re-deriving the caller's keyed lineage a second time.
    // An in-plan threshold (one-row Σn² cross-joined onto counts, no
    // action at all) was tried and measured WORSE (6.5 s vs 3.7 s warm on
    // q27 at sf0.1): it duplicates the counts aggregation inside nested
    // broadcast builds that the scheduler materializes serially.
    val counts =
      if (maxBlock > 0) countsRaw else CacheScope.persistTracked(countsRaw)
    val sessConf = keyed.sparkSession.sessionState.conf
    val bs =
      if (maxBlock > 0) BlockStats(maxBlock, -1.0, -1L, -1L, -1L)
      else adaptiveMaxBlockStats(counts, sessConf.numShufflePartitions)
    val (effBlock, pairVolume) = (bs.effBlock, bs.pairVolume)
    // Width-pinning gate (see the repartition below): only a LARGE
    // observed pair volume justifies suppressing AQE's coalescing —
    // at ~10⁸+ pairs an unpinned plan ran the whole candidate stream in
    // one task. An explicit maxBlock runs no sizing action, so the pair
    // volume is UNKNOWN (−1) and every width-pinning gate downstream
    // stays off; no production caller passes a fixed maxBlock.
    val pinWidth = Gates.pinWidth(pairVolume)
    // SINGLETON-BLOCK PRUNING (round 16, guide §3.2 pre-filter / §2.3
    // shuffle fewer bytes): a block with one row can never emit a pair
    // (the diagonal tile's id_a < id_b guard kills the self-pair), yet
    // singleton rows used to ride BOTH tile-side exchanges and the
    // self-join. On sparse blockings they dominate — q186's d=2 FastSS
    // variants at sf0.1 are 1.78M distinct blocks over 1.81M rows (~97%
    // singletons), so the inner join below cuts the candidate-stage
    // shuffle ~25× with an output provably identical. The multi-block
    // set comes from the SAME persisted counts table the sizing action
    // already aggregates, so learning it is free. TWO gates, both from
    // that one action ([[graft.plans.Gates.pruneSingletons]]):
    //   - the multi-block set must fit a broadcast
    //     (`Gates.MultiBlockBroadcastMax` = 2^22 rows ≈ ~100 MB framed);
    //   - pruning must PAY: singletons must be ≥ the dropped-fraction
    //     floor (`Gates.PruneMinDropFraction` = 0.25) of the rows. On
    //     dense blockings (q227's token blocks:
    //     nearly every row shares a block) the first cut of this
    //     change broadcast a multi-million-row salt table to drop
    //     almost nothing — measured 4.9 → 11.3 s on q227 at sf0.1 —
    //     where the old path broadcasts only the tiny hot set.
    // Fixed-maxBlock callers run no sizing action (stats unknown = -1)
    // and keep the old path.
    val pruneSingletons = Gates.pruneSingletons(bs)
    // The salt is a deterministic function of the id so re-runs partition
    // identically. ceil(n/effBlock) is 1 for every sub-threshold block,
    // so the pruning join's carried salt equals the old coalesce(hs, 1).
    val salted =
      if (pruneSingletons) {
        val active = counts
          .filter(col("__cnt") >= 2L)
          .select(col("__block"),
            ceil(col("__cnt").cast("double") / effBlock).cast("int").as("__s"))
        cached.join(broadcast(active), Seq("__block"))
          .withColumn("__u", pmod(hash(col("__id")), col("__s")))
      } else {
        val hot = counts
          .filter(col("__cnt") > effBlock)
          .select(col("__block"),
            ceil(col("__cnt").cast("double") / effBlock).cast("int").as("__hs"))
        cached.join(broadcast(hot), Seq("__block"), "left_outer")
          .withColumn("__s", coalesce(col("__hs"), lit(1)))
          .withColumn("__u", pmod(hash(col("__id")), col("__s")))
      }
    val a = salted
      .withColumn("__j", explode(sequence(col("__u"), col("__s") - 1)))
      .select(col("__block") +: col("__u").as("__i") +: col("__j") +:
        col("__id").as("id_a") +: payload.map(c => col(c).as(s"${c}_a")): _*)
    val b = salted
      .withColumn("__i2", explode(sequence(lit(0), col("__u"))))
      .select(col("__block").as("__block2") +: col("__i2") +: col("__u").as("__j2") +:
        col("__id").as("id_b") +: payload.map(c => col(c).as(s"${c}_b")): _*)
    // EXPLICIT key-repartition of both tile sides when the observed
    // pair volume is large (round 15). The self-join's output is
    // quadratic in block size while its INPUT can be tiny — exactly
    // when a representative collapse (q27 reps, q183/q186 classes)
    // shrinks the keyed table to an sf-invariant few-MB frame. AQE
    // coalesces shuffles by INPUT bytes, blind to join multiplicity,
    // so at sf10 the whole ~10⁹-row candidate stream was generated and
    // partially aggregated inside ONE post-coalesce task
    // (thread-dumped: 31 min of single-task HashAggregate; guide §2.5
    // input skew / §7.3). A user-specified partition count is exempt
    // from AQE coalescing, and hashing on the full (block, i, j) tile
    // key keeps hot-block tiles spread. Same exchange the join would
    // plan anyway at scale — pinning only fixes its width; gated on
    // pairVolume because at SMALL volume AQE's coalescing was right.
    val cond = col("__block") === col("__block2") &&
      col("__i") === col("__i2") && col("__j") === col("__j2") &&
      (col("__i") < col("__j") || col("id_a") < col("id_b"))
    val joined =
      if (pinWidth) {
        val parts = sessConf.numShufflePartitions
        a.repartition(parts, col("__block"), col("__i"), col("__j"))
          .join(
            b.repartition(parts, col("__block2"), col("__i2"), col("__j2")),
            cond)
      } else a.join(b, cond)
    (joined, pairVolume)
  }

  /** Embedding-cosine near-duplicate pairs within a deterministic block
    * (e.g. a label/cluster/partition column): tiled self-join on the block
    * key — shuffle linear in rows, per-tile pair work capped at ~maxBlock²
    * even when a block holds millions of rows (block cardinality does NOT
    * grow with corpus size, so unbounded blocks both skew and starve
    * parallelism at scale) — then exact decimal-accumulated cosine ≥
    * `threshold`. For unblocked corpora, use [[Similarity.lshBucket]] as
    * the block key (rows-only).
    */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double, maxBlock: Int = AdaptiveBlock): DataFrame = {
    val keyed = Spread(df).select(
      col(idCol).as("__id"), col(blockCol).as("__block"), col(vecCol).as("__v"),
      Similarity.l2Norm(col(vecCol)).as("__n"))
    // Two-phase scoring: a codegen'd native double-precision screen over
    // every in-block pair (error ≤ ~1e-13 ≪ the 1e-6 margin), then the
    // exact order-independent decimal cosine only for survivors — decimal
    // arithmetic never touches the O(maxBlock²)-per-tile pair volume. Both
    // scores are symmetric, so the least/greatest id normalization below
    // cannot change them.
    val screen = Similarity.dotDouble(col("__v_a"), col("__v_b")) /
      (col("__n_a") * col("__n_b"))
    tiledPairs(keyed, Seq("__v", "__n"), maxBlock)
      .filter(screen >= threshold - 1e-6)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("__block").as(blockCol),
        (Similarity.dotDecimal(col("__v_a"), col("__v_b")).cast("double") /
          (col("__n_a") * col("__n_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * k-means cells bound the candidate space, within-cell cosine ≥
    * `threshold` marks semantic duplicates, and every vector with a
    * SMALLER-id near-duplicate is dropped — each duplicate neighbourhood
    * keeps its lowest id as the canonical representative. (The one-pass
    * min-neighbour rule, not full transitive closure: on a chain a~b~c
    * with a≁c, both b and c drop. That is the standard conservative
    * choice for ε-ball dedup — duplicates this close are interchangeable,
    * and it avoids an iterative connected-components fixpoint; callers
    * that need exact closure can feed [[embeddingNearDups]] pairs into
    * [[Components.connectedComponents]] instead.)
    *
    * Scale shape: the cell index is the REUSABLE sampled-fit
    * [[Ivf.index]] (fit over a hash sample, assignment one map-side
    * pass); candidate pairs reuse the tiled within-block self-join
    * ([[embeddingNearDups]] → [[tiledPairs]]) so a hot cell is capped at
    * ~maxBlock² per task; the final keep is one broadcast-able distinct
    * of the loser ids + a left-anti join. Not SQL-reproducible (k-means),
    * so rows-only + scalatest planted-duplicate specs, like the ANN paths.
    *
    * `nCells <= 0` derives the cell count from the corpus size
    * (`ceil(n / targetCellSize)`, floor 8): within-cell pair volume is
    * Θ(n²/cells), so a FIXED cell count turns the whole operator
    * quadratic as the corpus grows — cells must scale with n to keep
    * per-cell populations (and thus pair volume per row) constant. The
    * sizing count is one metadata-cheap pass; SemDeDup at web scale runs
    * tens of thousands of cells for exactly this reason.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double, maxBlock: Int = AdaptiveBlock,
      targetCellSize: Int = 1000): DataFrame =
    semanticDedup(corpus,
      semanticDedupIndex(corpus, idCol, vecCol, nCells, targetCellSize),
      idCol, vecCol, threshold, maxBlock)

  /** The direction-space cell index [[semanticDedup]] runs on, built once
    * and reusable: incremental curation pipelines re-dedup a growing
    * corpus every batch, and re-fitting k-means per run is the dominant
    * avoidable cost — build this once and pass it to the index-taking
    * overload instead. Clusters UNIT
    * vectors: cosine duplicates are scaled copies of one direction, and
    * k-means on raw magnitudes would scatter them across cells and hide
    * them from the within-cell pass.
    */
  def semanticDedupIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, targetCellSize: Int = 1000): Ivf.IvfIndex = {
    val cells =
      if (nCells > 0) nCells
      else math.max(8, math.ceil(corpus.count().toDouble / targetCellSize).toInt)
    // The norm MUST be a persisted branch point before the per-element
    // division: referenced inside the transform lambda, CollapseProject
    // would inline the whole decimal dot product per ELEMENT — O(dim²)
    // decimal work per row (the q54 trap, SURVEY §4).
    val normed = CacheScope.persistTracked(corpus.withColumn("__nrm",
      greatest(Similarity.l2Norm(col(vecCol)), lit(1e-12))))
    val unit = normed.withColumn("__unit",
      transform(col(vecCol), x => x.cast("double") / col("__nrm")))
    if (cells > FlatCellLimit) {
      // web-scale SemDeDup runs tens of thousands of cells — above the
      // flat fit's comfort zone (O(cells·dim) per row + the centroid
      // matrix as a plan literal) switch to the two-level fit: per-row
      // cost O(2√cells·dim), centroids in a joined DataFrame
      val kc = math.ceil(math.sqrt(cells.toDouble)).toInt
      val kf = math.ceil(cells.toDouble / kc).toInt
      Ivf.indexHierarchical(unit, idCol, "__unit", kc, kf)
    } else Ivf.index(unit, idCol, "__unit", cells)
  }

  /** Above this cell count [[semanticDedupIndex]] fits hierarchically
    * ([[Ivf.indexHierarchical]]): the flat fit's per-row argmin cost and
    * its centroid plan-literal both grow linearly with the cell count.
    *
    * MEASURED (sf1, 20k×64-d vectors, fit + full-corpus route, warm,
    * local[32] — SpotBench `ivf_flat_*` / `ivf_hier_*` probes):
    * 256 cells flat 12.0 s vs hier 19.0 s (flat wins — two Lloyd fits
    * plus the fine broadcast join don't amortize); 1024 cells flat
    * 104.5 s vs hier 25.6 s (×4.1); 4096 cells flat 339.1 s vs hier
    * 27.4 s (×12.4 — the flat fit's k·dim-wide literal argmin dominates
    * while the hierarchical cost stays ~cell-count-flat). Crossover
    * ≈ 400–500 cells on this shape; 512 is the conservative switch
    * point, and the flat path's cost grows with BOTH cells and corpus,
    * so at larger corpora the true crossover only moves lower.
    *
    * Re-checked after [[Kmeans.fit]] gained its driver-local rounds
    * (same probes, sf1, local[4], warm): 256 cells flat 2.3–3.3 s vs
    * hier 18.4–19.9 s. At 1024 cells and up the 2000-row sample holds
    * under 4 rows per cell, so both fits train on the whole 20k-row
    * corpus, which is past [[Kmeans.localMaxRows]]: they run the same
    * distributed rounds as before, and the switch point stands.
    */
  val FlatCellLimit = 512

  /** [[semanticDedup]] through a prebuilt [[semanticDedupIndex]]:
    * identical output, no k-means fit.
    */
  def semanticDedup(
      corpus: DataFrame, idx: Ivf.IvfIndex, idCol: String, vecCol: String,
      threshold: Double, maxBlock: Int): DataFrame = {
    // the index is pruned to (id, unit vector, cell) — tag the ORIGINAL
    // rows with their cell so the pair pass scores the source embeddings
    val withCell = corpus.join(
      idx.assigned.select(col(idCol), col("__cell")), Seq(idCol))
    val pairs = embeddingNearDups(
      withCell, idCol, vecCol, "__cell", threshold, maxBlock)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    corpus.join(losers, Seq(idCol), "left_anti")
  }

  /** Blocked exact n-gram Jaccard: pairs are generated only within a
    * deterministic block (first two tokens), then scored exactly. The
    * oracle-checkable counterpart of the LSH candidate step.
    *
    * Skew bound: textual block keys are Zipf-skewed — at corpus scale
    * millions of documents can open with "the …" and a plain within-block
    * self-join goes quadratic in ONE task. Each block of size n is split
    * into S = ceil(n / maxBlock) deterministic salt groups and the pair
    * space covered by (i, j) grid tiles: a row with salt u joins as the
    * left side of tiles (u, j≥u) and the right side of tiles (i≤u, u), so
    * every unordered pair lands in EXACTLY one tile and the output is
    * identical to the unsalted join while no tile holds more than ~maxBlock
    * rows per side. Replication cost is S+1 rows per input row — linear in
    * the block's pair-tile count, the minimum any exact all-pairs scoring
    * can do. For typical blocks S=1 and the tiling degenerates to the plain
    * two-sided self-join.
    */
  def blockedJaccard(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      maxBlock: Int = AdaptiveBlock): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    val keyed = Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(
        col("__id"),
        concat_ws(" ", slice(toks, 1, 2)).as("__block"),
        TextAnalysis.shingleSetSorted(toks, shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
    tiledPairs(keyed, Seq("__sh"), maxBlock)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        // jaccard is symmetric: double addition commutes, so a swapped pair
        // scores bit-identically
        jaccardSorted(col("__sh_a"), col("__sh_b")).as("jaccard"))
  }

  /** The 4×14-bit pigeonhole band fan-out shared by [[hammingNearDups]],
    * [[videoNearDups]] and the image-hash index/gate: (id, hash, carry…)
    * → (__id, __h, carry…, band, bhash), four rows per input, all static
    * shifts (scan-level).
    */
  private def banded56(
      hashed: DataFrame, idCol: String, hashCol: String,
      carry: String*): DataFrame = {
    val kept = col("__id") +: col("__h") +: carry.map(col)
    hashed.select(col(idCol).as("__id") +: col(hashCol).as("__h") +: carry.map(col): _*)
      .select(kept :+
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            pmod(shiftright(col("__h"), b * 14), lit(16384)).as("bhash"))): _*))
          .as("__bb"): _*)
      .select(kept :+ col("__bb.band").as("band") :+ col("__bb.bhash").as("bhash"): _*)
  }

  /** Hamming near-dup pairs over a 56-bit perceptual hash column (the
    * dedup step behind [[Multimodal.dHash56]]-style image fingerprints):
    * pairs whose hashes differ in ≤ `maxDist` bits, found WITHOUT an
    * all-pairs scan by the pigeonhole band trick — split the 56 bits
    * into 4 bands of 14; any pair within distance ≤ maxDist (for
    * maxDist ≤ 3, and overwhelmingly likely up to ~3·bands) shares at
    * least one INTACT band, so candidates come from 4 equi-joins on
    * (band, 14-bit value) and the exact `bit_count(xor)` verify runs
    * per candidate only. Same scale shape as the MinHash/SimHash bands:
    * bucket joins, no cartesian; near-uniform corpora (billions of
    * blank images → one hot bucket) hit the SimHash hot-bucket problem —
    * route those through [[tiledPairs]] exactly as [[simhashPairs]]
    * does if the corpus skews that way; AQE's skew-join split covers
    * moderate cases.
    *
    * Output: (id_a < id_b, dist) — exact bit distance, deterministic.
    */
  def hammingNearDups(
      hashed: DataFrame, idCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 56, s"need 0 <= maxDist < 56, got $maxDist")
    val banded = banded56(hashed, idCol, hashCol)
    val cand = banded.select(col("__id").as("id_a"), col("__h").as("__h_a"),
        col("band"), col("bhash"))
      .join(banded.select(col("__id").as("id_b"), col("__h").as("__h_b"),
        col("band"), col("bhash")), Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "__h_a", "__h_b").distinct()
    cand
      .select(col("id_a"), col("id_b"),
        bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Video near-duplicate pairs from per-frame perceptual hashes
    * ([[Multimodal.frameDHashes]]): two videos are near-dups when at
    * least `minFrames` of video A's sampled frames each have a frame of
    * video B within `maxDist` hash bits — the frame-voting scheme
    * practical video dedup uses (re-encodes, container changes and
    * single-frame edits survive; unrelated footage does not).
    *
    * Shape: the SAME 4×14-bit pigeonhole banding as [[hammingNearDups]]
    * but keyed per (video, frame); candidate frame pairs come from band
    * equi-joins (never frames²), the exact `bit_count(xor)` verify runs
    * per candidate, and one (video_a, video_b) aggregation counts
    * distinct matched A-frames. Everything after the decode is bucket
    * joins + one combinable aggregation — 100 TB-shaped.
    */
  def videoNearDups(
      frames: DataFrame, idCol: String, frameCol: String, hashCol: String,
      maxDist: Int, minFrames: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 56, s"need 0 <= maxDist < 56, got $maxDist")
    require(minFrames >= 1, s"need minFrames >= 1, got $minFrames")
    val banded = banded56(frames, idCol, hashCol, frameCol)
    val cand = banded.select(col("__id").as("id_a"), col(frameCol).as("__f_a"),
        col("__h").as("__h_a"), col("band"), col("bhash"))
      .join(banded.select(col("__id").as("id_b"), col(frameCol).as("__f_b"),
        col("__h").as("__h_b"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "__f_a", "__h_a", "id_b", "__f_b", "__h_b").distinct()
    cand
      .filter(bit_count(col("__h_a").bitwiseXOR(col("__h_b"))) <= maxDist)
      .groupBy("id_a", "id_b")
      .agg(count_distinct(col("__f_a")).as("n_frames_casados"))
      .filter(col("n_frames_casados") >= minFrames)
  }

  /** Cross-modal consistency audit for PAIRED text+image datasets (the
    * LAION-style curation check): for every pair of documents whose TEXT
    * is an exact duplicate (same sha-256 content hash), the perceptual
    * distance of their images and a consistency verdict. Caption
    * duplicates whose images disagree are mislabeled/placeholder pairs
    * that joint (caption, image) dedup must NOT collapse to one row;
    * consistent pairs are true multimodal duplicates and can collapse.
    *
    * Shape: pairs form only WITHIN a text-hash bucket (exact-dedup's one
    * hash aggregation — never all-pairs; a boilerplate caption that goes
    * hot is the q26 skew case and routes through [[tiledPairs]] the same
    * way), and the image verdict is one exact `bit_count(xor)` per pair.
    * Output: (id_a < id_b, dist, consistente).
    */
  def crossModalConsistency(
      df: DataFrame, idCol: String, textCol: String, hashCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 56, s"need 0 <= maxDist < 56, got $maxDist")
    val keyed = df.select(col(idCol).as("__id"),
      sha2(col(textCol).cast("binary"), 256).as("__th"),
      col(hashCol).as("__h"))
    keyed.select(col("__th"), col("__id").as("id_a"), col("__h").as("__h_a"))
      .join(keyed.select(col("__th"), col("__id").as("id_b"),
        col("__h").as("__h_b")), Seq("__th"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__h_a").bitwiseXOR(col("__h_b"))).cast("long").as("dist"))
      .withColumn("consistente", col("dist") <= maxDist)
  }
}
