package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators: deterministic sampling and sequence
  * packing — the steps between dedup/quality-filter and the tokenizer in a
  * pretraining pipeline. Both are pure Catalyst expressions / window aggs,
  * deterministic under any partitioning, and SQL-reproducible so the
  * DuckDB oracle checks them end-to-end.
  */
object Curation {

  /** Portable deterministic percent-hash of a key: first 32 md5 bits mod
    * 100 — uniform-ish in [0,100), identical in any engine with md5 (no
    * Murmur3/xxhash dependency), stable across runs/partitionings.
    */
  def pctHash(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100

  /** Stratified sampling: keep a per-stratum percentage, chosen by the
    * deterministic [[pctHash]] of the id — reproducible joins/audits (the
    * same doc is always in or out), no RNG state on executors, and
    * embarrassingly parallel (a scan-level filter, no shuffle).
    * `rates` maps stratum value → percent kept; `defaultRate` covers the
    * rest.
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldRight(lit(defaultRate)) { case ((k, v), el) =>
      when(col(stratumCol) === k, lit(v)).otherwise(el)
    }
    df.filter(pctHash(col(idCol)) < rate)
  }

  /** Leakage-safe train/validation split: the split key is the HASH OF A
    * GROUP (url domain / source / site), not of the document, so every
    * page from one site lands on ONE side. Doc-level random splits leak:
    * near-duplicate pages overwhelmingly share a site, and a doc-hash
    * split strands one copy in train and its twin in val, inflating eval
    * (Lee et al. 2021 §6 measure exactly this overlap). Group-level
    * assignment makes the straddle impossible BY CONSTRUCTION for
    * same-group pairs — no near-dup pass needed at split time.
    *
    * Deterministic ([[pctHash]] of group ++ salt): reproducible across
    * runs, engines and partitionings; scan-level (zero shuffles — the
    * split is a projection, not a sample-sort).
    */
  def leakageSafeSplit(
      df: DataFrame, groupCol: String, valPct: Int,
      salt: String = ""): DataFrame = {
    require(valPct >= 0 && valPct <= 100, s"valPct in [0,100], got $valPct")
    df.withColumn("split",
      when(pctHash(concat(col(groupCol).cast("string"), lit(salt))) < valPct,
        lit("val")).otherwise(lit("train")))
  }

  /** Offset-based sequence packing: assign each document to the
    * fixed-`budget` token bin its running token-offset starts in
    * (`bin = floor(offset / budget)` with `offset` = the per-group running
    * sum of token counts BEFORE this doc, ordered by id). This is the
    * streaming-packing used for pretraining batches: bins are contiguous
    * id-ordered runs, documents may straddle a boundary (they continue
    * into the next sequence), and the assignment is a single window
    * cumsum per group — one shuffle on the group key, reproducible in SQL.
    */
  def packSequences(
      df: DataFrame, idCol: String, groupCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offset = coalesce(sum(col(tokensCol)).over(w), lit(0L))
    df.withColumn("bin", floor(offset / budget))
  }

  /** Per-bin packing summary (docs, tokens, fill ratio vs budget). */
  def packingStats(
      packed: DataFrame, groupCol: String, tokensCol: String,
      budget: Long): DataFrame =
    packed.groupBy(col(groupCol), col("bin"))
      .agg(
        count(lit(1L)).as("docs"),
        sum(col(tokensCol)).as("tokens"))
      .withColumn("preenchimento",
        round(col("tokens").cast("double") / budget.toDouble, 6))

  /** Overlapping token-window chunking: split each document into windows
    * of `window` tokens advancing by `window - overlap` — the
    * context-length shaping step between curation and the tokenizer
    * (retrieval corpora, fixed-context pretraining). Emits one row per
    * chunk: `chunk_idx`, the whitespace-rejoined `chunk_text`, and its
    * token count (the last chunk may be short; a document shorter than
    * one window is exactly one chunk). Pure explode over a scan-level
    * sequence — no shuffle, parallel in the documents, and every window
    * is a deterministic `slice` of the token array (no per-row state), so
    * the whole fan-out is SQL-reproducible.
    */
  def chunkTokens(
      df: DataFrame, textCol: String, window: Int, overlap: Int): DataFrame = {
    require(window > 0 && overlap >= 0 && overlap < window,
      s"need 0 <= overlap < window, got window=$window overlap=$overlap")
    val stride = window - overlap
    // tokenization materializes in ONE projected column; everything below
    // references the attribute (chunk count in the generator, window slice
    // per chunk) so split() runs once per document, not once per chunk
    val n = size(col("__toks"))
    // number of chunks: 1 + ceil(max(0, n - window) / stride), at least 1
    val chunks = lit(1) + ceil(greatest(n - window, lit(0)).cast("double") / stride)
      .cast("int")
    df.withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .withColumn("chunk_idx", explode(sequence(lit(0), chunks - 1)))
      .select(
        df.columns.map(col) :+
          col("chunk_idx") :+
          concat_ws(" ",
            slice(col("__toks"), col("chunk_idx") * stride + 1, lit(window)))
            .as("chunk_text") :+
          least(size(col("__toks")) - col("chunk_idx") * stride, lit(window))
            .cast("int").as("chunk_tokens"): _*)
  }

  /** Benchmark decontamination (the GPT-3/PaLM appendix-style n-gram
    * overlap check): for every corpus document, how many of its distinct
    * word `n`-grams appear anywhere in the benchmark set — a nonzero count
    * means eval data leaked into training data and the doc must be
    * dropped or scrubbed. Appends `n_compartilhados` (0 for clean docs)
    * and `contaminado`.
    *
    * Shape: the benchmark's distinct shingles BROADCAST (eval suites are
    * thousands of docs against a 100 TB corpus — the small side by many
    * orders of magnitude); the corpus side is a scan-level shingle
    * explode → broadcast hash semi-count → map-side-combinable groupBy on
    * the doc id. No corpus shuffle except the final per-doc count; per-doc
    * shingle sets are distinct already, so the count needs no dedup.
    */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    def shingleRows(df: DataFrame, cols: Column*): DataFrame =
      df.select(cols :+ explode(TextAnalysis.shingleSetSorted(
        TextAnalysis.tokens(col(textCol)), n)).as("__sh"): _*)
    val benchShingles = shingleRows(benchmark).distinct()
    val hits = shingleRows(corpus, col(idCol))
      .join(broadcast(benchShingles), "__sh")
      .groupBy(idCol).agg(count(lit(1)).as("n_compartilhados"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_compartilhados"), lit(0L)).as("n_compartilhados"))
      .withColumn("contaminado", col("n_compartilhados") > 0)
  }

  /** Deterministic training-shard assignment: first 32 md5 bits of the id
    * mod `nShards` — the output-layout step that fixes which file a
    * document lands in REGARDLESS of partitioning, executor count, or
    * re-runs (a rerun of a 100 TB export must overwrite shards
    * idempotently, which `rand()`- or partition-index-based assignment
    * cannot). Scan-level expression; the physical write is
    * `df.repartition(col("shard")).write.partitionBy("shard")`.
    */
  def hashShard(key: Column, nShards: Int): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % nShards

  /** Deterministic per-epoch training order: shard membership stays FIXED
    * across epochs ([[hashShard]] of the id — the exported files never
    * move), while the read order WITHIN each shard reshuffles per epoch
    * by hashing (epoch, id) — the epoch-reshuffle every training loop
    * needs, with zero RNG state: any worker, any restart, any engine
    * derives the same order. Ties (hash collisions) break by id.
    *
    * Shape: one shuffle on the shard key + per-shard sort — exactly the
    * write layout the export already pays; nothing global is sorted.
    */
  def epochOrder(
      df: DataFrame, idCol: String, epoch: Int, nShards: Int): DataFrame = {
    val h = conv(substring(md5(
        concat(lit(epoch.toString), lit(":"), col(idCol).cast("string"))
          .cast("binary")), 1, 8), 16, 10).cast("long")
    df.select(col(idCol), hashShard(col(idCol), nShards).as("shard"),
        h.as("__ord"))
      .withColumn("posicao",
        row_number().over(Window.partitionBy("shard")
          .orderBy(col("__ord"), col(idCol))).cast("long"))
      .drop("__ord")
  }

  /** T5-style span-corruption example builder (Raffel 2020 §3.1.4): fixed
    * `blockLen`-token blocks are masked with probability `maskPct`%, the
    * input keeps unmasked text with one `<extra_id_k>` sentinel per
    * masked block, and the target is the sentinel-prefixed masked spans —
    * the denoising (input, target) pair every encoder-decoder pretraining
    * pipeline materializes. Mask selection hashes (id, block) through the
    * portable md5 percent-hash: deterministic, partition-independent,
    * SQL-replayable — no RNG state on executors.
    *
    * Shape: pure ARRAY expressions over the token array — scan-level,
    * ZERO shuffles at any corpus size. Sentinel numbering needs the count
    * of masked blocks before each block (a prefix sum), computed with
    * slice+filter per block: O(blocks²) per document inside one
    * codegen'd projection — blocks = tokens/blockLen, so a 2k-token doc
    * at blockLen 5 costs 160k cheap boolean reads, far below the regex
    * tokenize that precedes it.
    */
  def spanCorrupt(
      df: DataFrame, idCol: String, textCol: String, blockLen: Int,
      maskPct: Int): DataFrame = {
    require(blockLen >= 1 && maskPct >= 0 && maskPct <= 100)
    val nb = ceil(size(col("__tk")).cast("double") / blockLen).cast("int")
    val blocks = sequence(lit(0), greatest(nb - 1, lit(0)))
    val maskedArr = transform(blocks, b =>
      pctHash(concat(col(idCol).cast("string"), lit(":"), b.cast("string")))
        < maskPct)
    def isMasked(b: Column) = element_at(col("__masked"), b + 1)
    def sentinel(b: Column) = concat(lit("<extra_id_"),
      size(filter(slice(col("__masked"), lit(1), b), x => x)).cast("string"),
      lit(">"))
    def blockText(b: Column) =
      concat_ws(" ", slice(col("__tk"), b * blockLen + 1, lit(blockLen)))
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
      .withColumn("__masked", maskedArr)
      .withColumn("__blocks", blocks)
      .select(
        col(idCol),
        concat_ws(" ", transform(col("__blocks"), b =>
          when(isMasked(b), sentinel(b)).otherwise(blockText(b))))
          .as("entrada"),
        concat_ws(" ", transform(
          filter(col("__blocks"), b => isMasked(b)),
          b => concat(sentinel(b), lit(" "), blockText(b)))).as("alvo"),
        size(col("__blocks")).cast("long").as("n_blocos"),
        size(filter(col("__masked"), x => x)).cast("long").as("n_mascarados"))
  }

  /** Per-shard packing audit: doc count, token sum, id range — the
    * manifest a training job reads to plan epoch schedules. One map-side
    * combinable aggregation over the shard key.
    */
  def shardStats(
      df: DataFrame, idCol: String, tokensCol: String, nShards: Int): DataFrame =
    df.withColumn("shard", hashShard(col(idCol), nShards))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("docs"),
        sum(col(tokensCol)).as("tokens"),
        min(col(idCol)).as("id_min"),
        max(col(idCol)).as("id_max"))

  /** Mixture rebalancing to a per-domain cap — the data-mixing step that
    * keeps one giant source (a crawl dump) from drowning the rest of the
    * corpus: every domain keeps at most ~`cap` documents in expectation,
    * sampled deterministically. The keep-rate per domain is the integer
    * percentage `min(100, floor(100·cap / count))` — one IEEE division of
    * two exact longs then `floor`, replayed identically by the oracle —
    * and membership is the [[pctHash]] of the id, so re-runs keep exactly
    * the same documents.
    *
    * Shape: one map-side-combinable count per domain (tiny result: one row
    * per domain), broadcast back onto the corpus scan, then a scan-level
    * hash filter — the 100 TB side is never shuffled. Appends `taxa_pct`.
    */
  def rebalanceToCap(
      df: DataFrame, idCol: String, domainCol: String, cap: Long): DataFrame = {
    val rates = df.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__cnt"))
      .select(col(domainCol),
        least(lit(100L),
          floor(lit(100L * cap).cast("double") / col("__cnt").cast("double"))
            .cast("long")).as("taxa_pct"))
    df.join(broadcast(rates), Seq(domainCol))
      .filter(pctHash(col(idCol)) < col("taxa_pct"))
  }

  /** Token-budget mixture planner (water-filling): given per-source token
    * availability and a GLOBAL token budget, allocate each source
    * `min(c_s, λ)` with the water level λ chosen so the allocations sum
    * to the budget — small sources are taken WHOLE, large ones are capped
    * at a common level (the Pile/DoReMi-style mixture-planning step that
    * decides per-source sampling rates BEFORE any data moves).
    *
    * Closed form, no iteration: sort sources ascending by availability;
    * source i is whole iff `c_i·(n−i+1) + prefix_i ≤ B` (the whole-prefix
    * property — monotone in i), then `λ = (B − Σ_whole c) / (n − k)`.
    * Emits per source: `tokens_disponiveis`, `inteiro`,
    * `tokens_alocados`, `taxa` (the sampling rate a downstream
    * [[applyResample]]-style filter enforces).
    *
    * Shape: ONE map-side-combinable corpus aggregation produces the
    * |sources|-row availability table; everything after runs on that
    * REDUCED table (single-partition windows by design — mixture tables
    * are hundreds of rows when the corpus is 100 TB). The corpus itself
    * is touched once and never shuffled.
    */
  def mixturePlan(
      df: DataFrame, domainCol: String, tokenCol: Column,
      budget: Long): DataFrame = {
    require(budget > 0, s"need budget > 0, got $budget")
    // persisted: the availability table is corpus-derived and consumed
    // by the water-filling fold AND the final select — without the pin
    // the corpus aggregation executed twice (round-14 shape)
    val avail = CacheScope.persistTracked(df.groupBy(col(domainCol))
      .agg(sum(tokenCol).cast("long").as("tokens_disponiveis")))
    // rank + prefix over the |domains|-row table via ONE SmallFold
    // broadcast self-join on the composite unique key (tokens, domain)
    // — keeps the plan free of partition-less WindowExec (the SmallFold
    // warning discipline; mixture tables are hundreds of rows at 100 TB)
    val availK = avail
      .withColumn("__ok", struct(col("tokens_disponiveis"), col(domainCol)))
      .withColumn("__one", lit(1L))
    val folds = graft.operators.SmallFold.cumBeforeMulti(availK, "__ok",
      Seq(("tokens_disponiveis", "__prefix", lit(0L)),
        ("__one", "__rb", lit(0L))))
    val flagged = availK
      .join(broadcast(folds), Seq("__ok"))
      .crossJoin(broadcast(avail.agg(count(lit(1L)).as("__n"))))
      .withColumn("__rank", col("__rb") + lit(1L))
      .withColumn("inteiro",
        col("tokens_disponiveis") * (col("__n") - col("__rank") + 1) +
          col("__prefix") <= budget)
    val lam = flagged.agg(
      sum(when(col("inteiro"), col("tokens_disponiveis")).otherwise(0L))
        .as("__wsum"),
      sum(when(col("inteiro"), 1L).otherwise(0L)).as("__k"))
    flagged.crossJoin(broadcast(lam))
      .withColumn("__lambda",
        when(col("__n") === col("__k"), lit(null).cast("double"))
          .otherwise((lit(budget) - col("__wsum")).cast("double") /
            (col("__n") - col("__k")).cast("double")))
      .select(col(domainCol), col("tokens_disponiveis"), col("inteiro"),
        when(col("inteiro"), col("tokens_disponiveis").cast("double"))
          .otherwise(col("__lambda")).as("tokens_alocados"),
        least(lit(1.0),
          when(col("inteiro"), lit(1.0)).otherwise(
            col("__lambda") / col("tokens_disponiveis").cast("double")))
          .as("taxa"))
  }

  /** C4-style repeated-span removal: break every document into fixed
    * non-overlapping `window`-token chunks, find chunk texts that occur
    * more than once ACROSS the corpus (boilerplate, licence blocks,
    * navigation text), keep only the globally-first occurrence (min
    * (doc, position)) and rebuild each document from its surviving chunks.
    * Emits `texto_limpo` ('' when everything was boilerplate), `n_chunks`,
    * `n_removidos`.
    *
    * Shape: the chunk fan-out is [[chunkTokens]]'s scan-level explode; the
    * global first-occurrence is a `row_number` window on the chunk text
    * (one shuffle+sort — the `min(struct)` groupBy form costs the same
    * sort but then needs a SECOND full-chunk-set shuffle to join the
    * winners back); keep flags ride the rows, so totals, removed counts
    * and the ordered rebuild all fold in ONE per-document aggregation —
    * two shuffles end to end, no join. A hot boilerplate chunk sorts one
    * partition linearly in its instance count, never a pair-space.
    */
  def purgeRepeatedChunks(
      df: DataFrame, idCol: String, textCol: String, window: Int): DataFrame = {
    val chunks = chunkTokens(
      df.select(col(idCol).as("__id"), col(textCol)), textCol,
      window, overlap = 0)
      .select(col("__id"), col("chunk_idx"), col("chunk_text"))
    val w = Window.partitionBy(col("chunk_text"))
      .orderBy(col("__id"), col("chunk_idx"))
    chunks.withColumn("__keep", row_number().over(w) === 1)
      .groupBy("__id").agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("texto_limpo"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removidos"))
      .withColumnRenamed("__id", idCol)
  }

  /** Boilerplate-span purge, the document-frequency-threshold variant
    * (C4 §2.1 drops any 3-sentence span occurring more than once;
    * RefinedWeb's line-wise filter drops lines shared across pages):
    * chunk each document into `window`-token spans, count the DISTINCT
    * documents containing each span text, and drop EVERY instance of the
    * spans that appear in more than `maxDocs` documents — headers,
    * navigation, license blurbs. Complement of [[purgeRepeatedChunks]]
    * (which keeps the first instance): a span frequent enough to be
    * boilerplate is noise in its first document too.
    *
    * Emits one row per input document: `texto_limpo` ('' when everything
    * was boilerplate), `n_chunks`, `n_removidos`.
    *
    * Shape: chunk fan-out is [[chunkTokens]]'s scan-level explode; the
    * document-frequency pass is one map-side-combinable aggregation on
    * the span text (count_distinct folds to a two-phase agg); the
    * over-threshold span set is VANISHINGLY small relative to the corpus
    * (it's the boilerplate vocabulary) so it broadcasts onto the chunk
    * stream as a left-anti hash probe — the chunk set itself never
    * shuffles for the filter; the ordered rebuild is one per-document
    * aggregation. Two shuffles end to end at any corpus size.
    */
  def purgeFrequentSpans(
      df: DataFrame, idCol: String, textCol: String, window: Int,
      maxDocs: Int): DataFrame = {
    require(maxDocs >= 1, s"need maxDocs >= 1, got $maxDocs")
    val chunks = chunkTokens(
      df.select(col(idCol).as("__id"), col(textCol)), textCol,
      window, overlap = 0)
      .select(col("__id"), col("chunk_idx"), col("chunk_text"))
    val frequent = chunks.groupBy("chunk_text")
      .agg(count_distinct(col("__id")).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("chunk_text")
    chunks
      .join(broadcast(frequent.withColumn("__hit", lit(true))),
        Seq("chunk_text"), "left")
      .withColumn("__keep", col("__hit").isNull)
      .groupBy("__id").agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__keep"), struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("texto_limpo"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_removidos"))
      .withColumnRenamed("__id", idCol)
  }

  /** [[purgeFrequentSpans]] with SLIDING windows (`stride` < `window`):
    * fixed chunking only counts spans that share an alignment, so the
    * same boilerplate sentence at offset 0 in one page and offset 2 in
    * another never meets the document-frequency threshold — the
    * boundary-straddling blind spot. Here spans start every `stride`
    * tokens (full windows only; documents shorter than `window` are
    * exempt), the over-threshold span set broadcasts back, and every
    * TOKEN covered by any frequent-span occurrence is dropped; the
    * document is rebuilt from the surviving tokens in order.
    *
    * Emits one row per input document: `texto_limpo` ('' when every
    * token was covered), `n_tokens`, `n_removidos` (tokens dropped).
    *
    * Shape: the span fan-out is window/stride× the token stream (scan
    * level); document frequency is one map-side-combinable aggregation
    * on span text; the frequent set is the boilerplate vocabulary —
    * tiny — and broadcasts; covered positions explode only from HIT
    * spans (boilerplate-bounded, not corpus-bounded), then one
    * (id, pos) shuffle join against the token stream and the per-doc
    * ordered rebuild. Token and span streams both replay from one
    * persisted (id, tokens) scan.
    */
  def purgeFrequentSpansSliding(
      df: DataFrame, idCol: String, textCol: String, window: Int,
      stride: Int, maxDocs: Int): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got stride=$stride window=$window")
    require(maxDocs >= 1, s"need maxDocs >= 1, got $maxDocs")
    val toksed = CacheScope.persistTracked(
      Spread(df.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), TextAnalysis.tokens(col(textCol)).as("__tk")))
    val starts = when(size(col("__tk")) >= window,
        sequence(lit(0), size(col("__tk")) - window, lit(stride)))
      .otherwise(array().cast("array<int>"))
    val spans = toksed
      .select(col("__id"), col("__tk"), explode(starts).as("__st"))
      .select(col("__id"), col("__st"),
        concat_ws(" ", slice(col("__tk"), col("__st") + 1, lit(window))).as("__span"))
    val frequent = spans.groupBy("__span")
      .agg(count_distinct(col("__id")).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("__span")
    val covered = spans.join(broadcast(frequent), Seq("__span"))
      .select(col("__id"),
        explode(sequence(col("__st"), col("__st") + window - 1)).as("__pos"))
      .distinct()
      .withColumn("__cov", lit(true))
    val toks = toksed.select(col("__id"),
      posexplode(col("__tk")).as(Seq("__pos", "__tok")))
    toks.join(covered, Seq("__id", "__pos"), "left")
      .groupBy("__id").agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__cov").isNull, struct(col("__pos"), col("__tok"))))),
          s => s.getField("__tok"))).as("texto_limpo"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__cov").isNull, 0L).otherwise(1L)).as("n_removidos"))
      .withColumnRenamed("__id", idCol)
  }

  /** Per-group EXACT discrete-quantile bounds + outlier filter — the
    * length/score trimming step (drop the shortest/longest tails per
    * language) with engine-exact cut points: the bound at quantile `p` is
    * the value at 1-based rank `max(1, ceil(p·n))` in the group's sorted
    * order — an integer-rank selection, not an interpolated float, so the
    * filter is reproducible bit-for-bit anywhere (interpolating
    * `percentile_cont` implementations differ in last-ulp arithmetic).
    * Keeps rows with `lo ≤ v ≤ hi`; appends both bounds.
    *
    * Shape: one window rank + count per group (a sort shuffle on the
    * group key), bounds reduced per group and broadcast back onto the
    * scan. Exact selection at 100 TB means sorting each group once; when
    * the tail precision isn't worth that sort, swap the rank window for
    * `approx_percentile` — same plan shape minus the sort.
    */
  def quantileFilter(
      df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1, s"need 0<=pLo<=pHi<=1")
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    val wAll = Window.partitionBy(col("__g"))
    val ranked = df.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    def rankOf(p: Double) =
      greatest(lit(1L), ceil(lit(p) * col("__n").cast("double")).cast("long"))
    val bounds = ranked.groupBy("__g").agg(
      min(when(col("__rn") >= rankOf(pLo), col("__v"))).as("lo"),
      min(when(col("__rn") >= rankOf(pHi), col("__v"))).as("hi"))
    df.join(broadcast(bounds), col(groupCol) === col("__g"))
      .filter(col(valueCol) >= col("lo") && col(valueCol) <= col("hi"))
      .drop("__g")
  }

  /** The sketch twin of [[quantileFilter]] for when exact cut points are
    * not worth sorting every group at 100 TB: per-group bounds from
    * `approx_percentile` (one map-side-combinable aggregation — NO window
    * sort), broadcast back onto the scan like the exact form. `accuracy`
    * trades sketch memory for bound tightness. Like [[quantileFilter]],
    * the per-group `lo`/`hi` bound columns are appended to the returned
    * rows (callers wanting the bare schema drop them). Not
    * oracle-reproducible (sketch internals are engine-specific) — the
    * spec pins it against the exact form's bounds instead.
    */
  def quantileFilterApprox(
      df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double, pHi: Double, accuracy: Int = 10000): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 1, s"need 0<=pLo<=pHi<=1")
    val bounds = df.groupBy(col(groupCol).as("__g")).agg(
      percentile_approx(col(valueCol), lit(pLo), lit(accuracy)).as("lo"),
      percentile_approx(col(valueCol), lit(pHi), lit(accuracy)).as("hi"))
    df.join(broadcast(bounds), col(groupCol) === col("__g"))
      .filter(col(valueCol) >= col("lo") && col(valueCol) <= col("hi"))
      .drop("__g")
  }

  /** Canonical URL form — the web-corpus dedup key (the CommonCrawl/
    * refetch discipline: the same page arrives as `HTTP://WWW.Site.com:80
    * /a/?utm_source=x&b=2&a=1#frag` and `http://site.com/a?a=1&b=2`, and
    * URL-exact dedup misses every such pair). Documented rule set, all
    * codegen'd expressions:
    *   1. fragment dropped; 2. scheme://host lowercased (path/query case
    *   PRESERVED — significant on most servers); 3. default ports dropped
    *   SCHEME-AWARE (:80 only for http://, :443 only for https:// —
    *   `https://host:80` is a genuinely different origin and is kept);
    *   4. leading `www.` dropped; 5. trailing path slashes
    *   dropped; 6. tracking params dropped (utm_*, gclid, fbclid, ref);
    *   7. remaining query params SORTED (order is almost never
    *   significant; sorting is what collapses reordered duplicates).
    */
  def canonicalUrl(url: Column): Column = {
    val headRe = "(?i)^[a-z][a-z0-9+.-]*://[^/?]*"
    val noFrag = regexp_replace(trim(url), "#.*", "")
    // scheme-aware default-port drop: `.*` (not `[^:]*`) so IPv6
    // bracket hosts with internal colons still match, anchored `$` so
    // only the trailing port is touched
    val noPort = regexp_replace(
      regexp_replace(lower(regexp_extract(noFrag, headRe, 0)),
        "^(http://.*):80$", "$1"),
      "^(https://.*):443$", "$1")
    val head = regexp_replace(noPort, "^([a-z0-9+.-]*://)www\\.", "$1")
    val tail = regexp_replace(noFrag, headRe, "")
    val path = regexp_replace(regexp_extract(tail, "^[^?]*", 0), "/+$", "")
    val params = filter(split(regexp_extract(tail, "\\?(.*)$", 1), "&"),
      p => p =!= "" &&
        !p.rlike("(?i)^(utm_[^=]*|gclid|fbclid|ref)(=|$)"))
    val qc = array_join(array_sort(params), "&")
    concat(head, path,
      when(qc === "", lit("")).otherwise(concat(lit("?"), qc)))
  }

  /** Dedup by canonical URL, keep-first: one row per canonical form with
    * the SMALLEST surviving id (stable, partition-independent) and the
    * duplicate count — ONE combinable aggregation over the stateless
    * canonical projection; no window, no join, nothing corpus-wide.
    */
  def dedupByCanonicalUrl(
      df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol).as("__id"), canonicalUrl(col(urlCol)).as("url_canonico"))
      .groupBy("url_canonico")
      .agg(min(col("__id")).as(idCol), count(lit(1L)).as("n_copias"))

  /** The host part of a URL (scheme-tolerant, '' when unparseable). */
  def urlDomain(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)

  /** Drop documents whose URL domain appears in the blocklist — the
    * source-level filter every web-scale corpus applies first (spam/SEO
    * domain lists run to millions of entries, so the blocklist is a
    * DATASET, not an `isin` literal). Appends `dominio`, then a BROADCAST
    * left-anti join against the blocklist's single column: scan-level on
    * the corpus, no corpus shuffle, blocklist hashed once per executor.
    */
  def dropBlockedDomains(
      df: DataFrame, urlCol: String, blocklist: DataFrame): DataFrame = {
    val bl = blocklist.toDF("dominio").distinct()
    df.withColumn("dominio", urlDomain(col(urlCol)))
      .join(broadcast(bl), Seq("dominio"), "left_anti")
  }

  /** Temperature-flattened mixture resampling (the multilingual-corpus
    * balancing rule of mBERT/XLM-R and the domain-mixing rule of
    * GPT-3-era pipelines): target share of domain `d` ∝ `count_d^α` with
    * α = 0.5 — sqrt-flattening boosts the tail domains' SHARE while this
    * subsampling-only form never duplicates a row, so head domains are
    * downsampled toward the flattened mixture and a domain is kept whole
    * (`p_d = 1`) once its natural share falls at/below its target.
    * `targetFraction` scales the total kept volume.
    *
    * Per-row keep is the deterministic first-32-md5-bits uniform of the
    * id (the [[pctHash]] family): reproducible across runs and engines,
    * no RNG state on executors, and the SAME rows survive a re-run — the
    * property that makes downstream joins/audits stable.
    *
    * Shape: one tiny aggregation (|domains| rows) → a one-row total →
    * the per-domain keep probability BROADCAST back onto the scan as a
    * hash probe + filter. The corpus itself never shuffles.
    *
    * Exactness: `sqrt` is IEEE correctly-rounded (unlike `pow`, which is
    * libm-dependent — α is fixed at 0.5 for exactly this reason);
    * everything else is one division/multiply chain over exact longs, so
    * the kept set is SQL-reproducible bit-for-bit. Appends `p_keep`.
    */
  def temperatureResample(
      df: DataFrame, idCol: String, domainCol: String,
      targetFraction: Double): DataFrame =
    applyResample(df, idCol, domainCol,
      keepProbabilities(df, domainCol, targetFraction))

  /** The resample's per-domain keep probabilities (domain, p_keep) —
    * |domains| rows from one tiny aggregation. Split out so the mixture
    * can be fit OFFLINE on a reference corpus and applied elsewhere —
    * including on a STREAM (the production pattern: weights computed in
    * batch, enforced online).
    */
  def keepProbabilities(
      df: DataFrame, domainCol: String, targetFraction: Double): DataFrame = {
    require(targetFraction > 0 && targetFraction <= 1,
      s"need 0 < targetFraction <= 1, got $targetFraction")
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1L)).as("__cd"))
      .withColumn("__wd", sqrt(col("__cd").cast("double")))
    val totals = counts.agg(
      sum(col("__cd")).as("__n"),
      sum(col("__wd").cast("decimal(38,12)")).cast("double").as("__wsum"))
    counts.crossJoin(broadcast(totals))
      .select(col(domainCol),
        least(lit(1.0),
          col("__wd") / col("__wsum") * lit(targetFraction) *
            col("__n").cast("double") / col("__cd").cast("double"))
          .as("p_keep"))
  }

  /** Apply (domain, p_keep) probabilities: broadcast hash probe + the
    * deterministic md5-uniform keep test. STATELESS — no shuffle, no
    * watermark, no aggregation — so the same call works unchanged on a
    * streaming DataFrame in append mode (spec-proven equal to the batch
    * filter over the same rows and probabilities).
    */
  def applyResample(
      df: DataFrame, idCol: String, domainCol: String,
      probs: DataFrame): DataFrame = {
    val u = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 8), 16, 10).cast("double") / 4294967296.0d
    df.join(broadcast(probs), Seq(domainCol))
      .filter(u < col("p_keep"))
  }

  /** DSIR importance scoring (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): estimate how
    * target-like each RAW document is from the ratio of two hashed
    * n-gram bag distributions — `p_target(b) / p_raw(b)` over word
    * unigram+bigram features hashed into `buckets` slots with add-one
    * smoothing — and keep documents whose score clears 1 (more
    * target-like than raw-like). This is the published cheap
    * alternative to model-based selection: two counting passes, no LM.
    *
    * Differs from [[TextAnalysis.bigramLmCrossScore]] (CCNet's design)
    * exactly as the paper differs from CCNet: the statistic is an
    * importance RATIO between two corpora over a FIXED hashed feature
    * space, not a single reference LM's likelihood — a bucket frequent
    * in the target but rare in the raw pool pushes the score up even
    * when both probabilities are small.
    *
    * Shape at 100 TB: the model is two map-side-combinable bucket-count
    * aggregations (≤ `buckets` rows each — fit once, REUSABLE across
    * ingest batches) + two 1-row totals; scoring joins the raw corpus'
    * feature stream against the tiny bucket→ratio table as a BROADCAST
    * build side, then ONE per-doc aggregation. The corpus never
    * shuffles for the lookup; the exchange carries (doc, partial)
    * rows, not the exploded grams.
    *
    * Exactness (the q99 log-free discipline): the paper sums
    * `log(p_t/p_r)` — `ln`'s last ulp is libm-dependent, so here each
    * feature contributes the RATIO itself,
    * `((c_t+1)·(N_r+B)) / ((c_r+1)·(N_t+B))` — exact long products
    * (overflow at ~9.2e18: fine to ~10^9-token corpora per side; cast
    * the products to DECIMAL(38,0) beyond that), ONE correctly-rounded
    * IEEE division each, per-doc mean through a DECIMAL(38,18) sum —
    * order-independent under any partitioning, so any engine replays
    * the scores bit-for-bit. Same monotone intent (target-like > 1);
    * swap in log-space sums when oracle hashability is not needed.
    *
    * Output: idCol, n_feats, dsir_score (mean ratio; 0 for featureless
    * docs), selecionado (dsir_score > 1).
    */
  def dsirScore(
      target: DataFrame, raw: DataFrame,
      idCol: String, textCol: String, buckets: Int): DataFrame = {
    // fused fit+score: the raw corpus is tokenized ONCE — its persisted
    // bucket stream feeds both the c_raw count table and the scoring
    val rawB = CacheScope.persistTracked(dsirBuckets(
      raw.select(col(idCol).as("__id"), col(textCol)),
      textCol, buckets, Seq("__id")))
    val cr = rawB.groupBy("__b").agg(count(lit(1)).as("__cr"))
    dsirScoreBuckets(raw.select(col(idCol).as("__id")), rawB,
      dsirRatio(target, cr, textCol, buckets), idCol)
  }

  /** The ratio algebra of [[dsirScore]]: add-one-smoothed `p_target/p_raw` per bucket from
    * exact long products, one IEEE division each. The target side is
    * one combinable ≤`buckets`-row aggregation; totals ride along as a
    * broadcast 1-row cross join.
    */
  private def dsirRatio(
      target: DataFrame, cr: DataFrame,
      textCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, s"need buckets > 0, got $buckets")
    val ct = dsirBuckets(target.select(col(textCol)), textCol, buckets, Nil)
      .groupBy("__b").agg(count(lit(1)).as("__ct"))
    val totals = ct.agg(sum(col("__ct")).as("__nt")).crossJoin(
      cr.agg(sum(col("__cr")).as("__nr")))
    // only buckets present in the raw corpus matter (every scored
    // feature instance has c_r ≥ 1 by construction)
    cr.join(ct, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        (((coalesce(col("__ct"), lit(0L)) + 1L) *
            (col("__nr") + buckets)).cast("double") /
          ((col("__cr") + 1L) * (col("__nt") + buckets)).cast("double"))
          .as("__r"))
  }

  private def dsirScoreBuckets(
      ids: DataFrame, docB: DataFrame, ratios: DataFrame,
      idCol: String): DataFrame = {
    val scored = docB
      .join(broadcast(ratios), Seq("__b"))
      .groupBy("__id").agg(
        count(lit(1)).as("n_feats"),
        sum(col("__r").cast("decimal(38,18)")).as("__rsum"))
    ids
      .join(scored, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(
          col("__rsum").cast("double") / col("n_feats").cast("double"),
          lit(0.0)).as("dsir_score"))
      .withColumn("selecionado", col("dsir_score") > 1.0)
  }

  /** Probability-proportional-to-size SYSTEMATIC sampling (Madow 1949 —
    * the survey-statistics workhorse): pick `n` selection points at
    * positions k·(W/n), k = 1..n, along the cumulative weight axis of a
    * deterministically shuffled corpus and keep the document whose
    * weight interval owns each point. Every document's inclusion
    * probability is proportional to its weight — the sampling design
    * quality-weighted corpus thinning actually wants (a Bernoulli keep
    * per row, q102's shape, only matches it in expectation and has
    * O(√n) size variance; systematic PPS hits the target count
    * deterministically).
    *
    * Scale shape: the global running weight would naively be ONE
    * window over a total order (the q148 single-partition trap).
    * Here it decomposes: the traversal order is (md5(id), id), whose
    * first byte also defines 256 ORDER-PREFIX buckets — so per-bucket
    * window cumsums (bounded partitions) plus a broadcast 256-row
    * exclusive-prefix offset table reassemble the exact global
    * cumulative. Two corpus shuffles (bucket totals, bucket-local
    * windows), no global sort, no driver state.
    *
    * Exactness: weights go through DECIMAL(38,6) so every cumulative
    * is order-independent and engine-exact; the selection test
    * compares `floor(cum·n / W)` across the interval's two ends with
    * ONE IEEE multiply + divide + floor per end — identical doubles on
    * any engine, so the kept SET (and each row's `pontos` multiplicity
    * — a document heavier than W/n owns several selection points)
    * replays bit-for-bit. The float boundary can shift the very last
    * selection point by one ulp, so |sample| lands in {n-1, n} — the
    * documented tail of trading `ln`-free portability for exact count
    * invariance (spec-pinned).
    *
    * Contract: weights must be non-negative; zero-weight rows own an
    * empty interval and are never selected. Output: the input columns
    * of every selected row + `pontos`.
    */
  def ppsSample(
      df: DataFrame, idCol: String, weightCol: String, n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val h = md5(col(idCol).cast("string").cast("binary"))
    val withB = df
      .withColumn("__h", h)
      .withColumn("__bk", conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
      .withColumn("__wd", col(weightCol).cast("decimal(38,6)"))
    val zeroDec = lit(0).cast("decimal(38,6)")
    val bkTotals = withB.groupBy("__bk").agg(sum(col("__wd")).as("__bw"))
    // exclusive prefix over ≤256 rows — the mixturePlan discipline
    // (every fold here runs on the reduced table, never the corpus),
    // via SmallFold so no WindowExec warning reaches the bench tail
    val offsets = graft.operators.SmallFold.cumBefore(
      bkTotals, "__bk", "__bw", out = "__off", zero = zeroDec)
    val total = bkTotals.agg(sum(col("__bw")).as("__tot"))
    val wc = Window.partitionBy("__bk").orderBy(col("__h"), col(idCol))
    val cum = withB
      .join(broadcast(offsets), Seq("__bk"))
      .crossJoin(broadcast(total))
      .withColumn("__cum", col("__off") + sum(col("__wd")).over(wc))
      .withColumn("__prev", col("__cum") - col("__wd"))
    val points =
      floor(col("__cum").cast("double") * n / col("__tot").cast("double")) -
        floor(col("__prev").cast("double") * n / col("__tot").cast("double"))
    cum.withColumn("pontos", points.cast("long"))
      .filter(col("pontos") > 0L)
      .select(df.columns.map(col) :+ col("pontos"): _*)
  }

  /** EXACT-substring dedup, keep-first (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", ExactSubstr): any
    * `window`-token span whose text occurs MORE THAN ONCE in the corpus
    * (across documents OR repeated inside one) keeps only its globally
    * first occurrence — every token covered by a later occurrence is
    * dropped and the document rebuilt in order. The missing quadrant of
    * the span family: [[purgeRepeatedChunks]] is keep-first but
    * alignment-blind (fixed chunking), [[purgeFrequentSpansSliding]] is
    * sliding but purges EVERY instance (boilerplate semantics); training
    * dedup wants sliding detection AND one surviving copy — deleting the
    * first occurrence too would erase unique content from the corpus.
    *
    * Contract: "first" is the (id, start) lexicographic minimum over a
    * span text's occurrences (ids unique — the [[graft.operators.Linkage]]
    * id contract); a token is removed iff SOME non-first duplicate span
    * occurrence covers it, even where that overlaps a first occurrence of
    * a different span — the deterministic greedy form of the paper's
    * suffix-array cut (reference point: sm-etl-cloud-run has no dedup at
    * all; this generalizes its exact-key upsert discipline to content).
    * `stride` = 1 is the paper's semantics (every start position);
    * coarser strides trade boundary blindness for fan-out, as on the
    * sliding purge.
    *
    * Emits one row per input document: `texto_limpo` ('' when every
    * token was covered), `n_tokens`, `n_removidos`.
    *
    * Shape at 100 TB: the span fan-out is window/stride× the token
    * stream at scan level; keep-first ranking is ONE row_number window
    * partitioned by span text (shuffle+sort whose skew = duplicate
    * density — a span duplicated k× sorts k rows linearly, never a pair
    * space, the same bound as the frequent-span aggregation); covered
    * positions explode only from NON-FIRST instances (duplicate-bounded,
    * not corpus-bounded), then one (id, pos) join against the token
    * stream and the per-doc ordered rebuild. Token and span streams both
    * replay from one persisted (id, tokens) scan.
    */
  def dedupExactSubstrings(
      df: DataFrame, idCol: String, textCol: String, window: Int,
      stride: Int = 1): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got stride=$stride window=$window")
    val toksed = CacheScope.persistTracked(
      Spread(df.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), TextAnalysis.tokens(col(textCol)).as("__tk")))
    val starts = when(size(col("__tk")) >= window,
        sequence(lit(0), size(col("__tk")) - window, lit(stride)))
      .otherwise(array().cast("array<int>"))
    val spans = toksed
      .select(col("__id"), col("__tk"), explode(starts).as("__st"))
      .select(col("__id"), col("__st"),
        concat_ws(" ", slice(col("__tk"), col("__st") + 1, lit(window))).as("__span"))
    val w = Window.partitionBy(col("__span")).orderBy(col("__id"), col("__st"))
    val covered = spans
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("__id"),
        explode(sequence(col("__st"), col("__st") + window - 1)).as("__pos"))
      .distinct()
      .withColumn("__cov", lit(true))
    val toks = toksed.select(col("__id"),
      posexplode(col("__tk")).as(Seq("__pos", "__tok")))
    toks.join(covered, Seq("__id", "__pos"), "left")
      .groupBy("__id").agg(
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("__cov").isNull, struct(col("__pos"), col("__tok"))))),
          s => s.getField("__tok"))).as("texto_limpo"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("__cov").isNull, 0L).otherwise(1L)).as("n_removidos"))
      .withColumnRenamed("__id", idCol)
  }

  /** Hashed unigram+bigram feature buckets (q109's feature space). */
  private def dsirBuckets(
      df: DataFrame, textCol: String, buckets: Int,
      keep: Seq[String]): DataFrame = {
    val tk = TextAnalysis.tokens(col(textCol))
    val cols = keep.map(col)
    val spread = if (df.isStreaming) df else Spread(df)
    spread
      .select(cols :+ explode(concat(tk,
        call_function("word_shingles_all", tk, lit(2)))).as("__g"): _*)
      .filter(col("__g") =!= "")
      .select(cols :+
        (conv(substring(md5(col("__g").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets).as("__b"): _*)
  }
}
