package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything here is pure Catalyst expressions (higher-order array
  * functions, regexes) — no UDFs — so the per-document analysis fuses
  * into one whole-stage-codegen pass over the scan and runs embarrassingly
  * parallel at 100 TB: no shuffle, no state, no driver involvement. The
  * one exception is [[tokenFrequencyScore]], which is corpus-RELATIVE by
  * definition and pays exactly one aggregation + one join.
  */
object TextAnalysis {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** How many tokens are members of a small marker vocabulary. */
  def markerScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Marker vocabularies per language for the n-gram-heuristic language ID.
    * (Neutral demo sets over the synthetic corpus vocabulary; swap for real
    * stopword tables in production.)
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow", "small"),
    "pt" -> Seq("data", "value", "batch", "row"),
    "es" -> Seq("query", "scan", "merge"),
  )

  /** Language-ID scores + argmax prediction (fixed tie-break = declaration
    * order, `und` when every score is zero).
    */
  def langId(toks: Column): (Seq[(String, Column)], Column) = {
    val scores = LangMarkers.map { case (lang, m) => lang -> markerScore(toks, m) }
    val best = scores.map(_._2).reduceLeft((a, b) => greatest(a, b))
    val pred = scores.foldRight(lit("und")) { case ((lang, s), el) =>
      when(s === best && s > 0, lit(lang)).otherwise(el)
    }
    (scores, pred)
  }

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in")

  /** Heuristic quality score from length / punctuation / digit / stopword
    * ratios. Deterministic double arithmetic (same operation order as the
    * SQL oracle).
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nChars = length(text).cast("double")
    val nToks = size(toks).cast("double")
    val punct = regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double")
    val digits = regexp_count(text, lit("[0-9]")).cast("double")
    val stop = markerScore(toks, Stopwords).cast("double")
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
      .cast("double")
    val meanLen = sumLen / greatest(nToks, lit(1.0))
    lit(0.4) * (stop / greatest(nToks, lit(1.0))) +
      lit(0.3) * least(lit(1.0), meanLen / lit(8.0)) -
      lit(0.2) * (punct / greatest(nChars, lit(1.0))) -
      lit(0.1) * (digits / greatest(nChars, lit(1.0)))
  }

  /** BPE-ish token pattern: letter runs, digit runs, single other glyphs. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace-token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish regex token count. */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  /** chars/4 rule-of-thumb token estimate. */
  def estTokenCount(text: Column): Column =
    ceil(length(text).cast("double") / lit(4.0)).cast("long")

  /** Word n-gram shingles (empty array when the document is shorter than
    * `n` tokens).
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct SORTED shingle set via the native codegen'd
    * [[graft.functions.WordShingles]] — one static call per doc; the
    * higher-order form is CodegenFallback and re-evaluates the token
    * expression per shingle index once projections collapse (O(tokens²)
    * interpreted). Equals `sort_array(array_distinct(shingles(toks, n)))`; sorted output
    * feeds the merge-walk Jaccard.
    */
  def shingleSetSorted(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, lit(n))

  /** Corpus-relative token frequency scoring — the two-pass quality
    * signal heuristic stacks use before model-based filters: documents
    * dominated by corpus-rare tokens (OCR noise, boilerplate IDs, foreign
    * scripts) surface with low min/mean frequencies. Pass 1 aggregates the
    * corpus vocabulary (map-side-combined count per token — Zipf skew
    * collapses in the combiner); pass 2 joins the token instances back
    * through it (shuffle on the token key; hot tokens stream through a
    * single-row build side, so skew costs one task's worth of LINEAR work,
    * not quadratic) and folds per document. All outputs are exact: counts
    * are longs, the mean is one IEEE double division of two exact longs —
    * reproducible bit-for-bit in any engine.
    */
  def tokenFrequencyScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"), explode(tokens(col(textCol))).as("__tok"))
    val vocab = tok.groupBy("__tok").agg(count(lit(1)).as("__freq"))
    tok.join(vocab, "__tok")
      .groupBy("__id")
      .agg(
        count(lit(1)).as("n_tokens"),
        min(col("__freq")).as("freq_min"),
        sum(col("__freq")).as("freq_soma"))
      .select(
        col("__id").as(idCol), col("n_tokens"), col("freq_min"), col("freq_soma"),
        (col("freq_soma").cast("double") / col("n_tokens").cast("double"))
          .as("freq_media"))
  }

  /** Bigram language-model quality score — the statistical step up from
    * [[tokenFrequencyScore]] and the cheap stand-in for the model-based
    * perplexity filters (CCNet-style) curation stacks run after heuristics:
    * documents whose token TRANSITIONS are corpus-typical score high;
    * shuffled/boilerplate/noise text scores low even when its unigrams are
    * common.
    *
    * Per document: the mean add-one-smoothed bigram probability
    * `p(w₂|w₁) = (c(w₁w₂)+1) / (c(w₁)+V)` over the document's bigram
    * instances. The arithmetic (not geometric) mean is deliberate: it
    * avoids `ln()`, whose last-ulp value differs across libm
    * implementations — every `p` here is one correctly-rounded IEEE
    * division of two exact longs, identical in any engine.
    *
    * Shape: one persisted tokenization; corpus unigram + bigram counts are
    * map-side-combined aggregations (Zipf skew collapses in the
    * combiner); the instance joins back through them stream hot grams past
    * a single-row build side (linear, the q55 skew argument); `V` rides
    * along as a broadcast single-row cross join, never a driver action.
    * Exactness: counts are longs; each `p` is one IEEE division; the
    * per-doc sum goes through `DECIMAL(38,18)` (exact, order-independent
    * — a double sum would depend on partitioning) and the mean is one
    * final division.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), tokens(col(textCol)).as("__tk")))
    val uni = tk.select(explode(col("__tk")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cu"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val bigrams = tk.select(col("__id"),
        explode(call_function("word_shingles_all", col("__tk"), lit(2))).as("__bg"))
    val cb = bigrams.groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val p = bigrams
      .join(cb, "__bg")
      .join(uni, substring_index(col("__bg"), " ", 1) === col("__w"))
      .crossJoin(broadcast(vocab))
      .select(col("__id"),
        ((col("__cb") + 1L).cast("double") /
          (col("__cu") + col("__v")).cast("double")).as("__p"))
    val scored = p.groupBy("__id").agg(
      count(lit(1)).as("n_bigramas"),
      sum(col("__p").cast("decimal(38,18)")).as("__psum"))
    tk.select(col("__id"))
      .join(scored, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_bigramas"), lit(0L)).as("n_bigramas"),
        coalesce(
          col("__psum").cast("double") / col("n_bigramas").cast("double"),
          lit(0.0)).as("lm_score"))
  }

  /** CCNet's ACTUAL filter design: a language model fit on a clean
    * REFERENCE corpus (Wikipedia, in the paper) scores a noisy TARGET
    * corpus (Common Crawl) — [[bigramLmScore]] fits and scores the same
    * corpus, which ranks fluency but cannot express "looks like the
    * reference". Same add-one-smoothed bigram model, split into fit and
    * apply: `p(w₂|w₁) = (c_ref(w₁w₂)+1) / (c_ref(w₁)+V_ref)`; bigrams and
    * words UNSEEN in the reference fall back to counts of 0 (left joins),
    * so out-of-domain text scores low exactly as the smoothing intends.
    *
    * Shape: the model is two combinable aggregations over the reference
    * (unigram and bigram count tables) + a 1-row vocab size — pure
    * functions of the reference, computed once and REUSABLE across
    * target batches (persist them next to the corpus; at 100 TB the
    * reference is fit once, every ingest batch only joins). The target
    * side joins on the gram keys (co-partitioned shuffle joins), one
    * DECIMAL-exact per-doc fold — same tail as [[bigramLmScore]].
    */
  def bigramLmCrossScore(
      reference: DataFrame, target: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val refTk = CacheScope.persistTracked(
      Spread(reference.select(col(textCol)))
        .select(tokens(col(textCol)).as("__tk")))
    val uni = refTk.select(explode(col("__tk")).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cu"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val cb = refTk
      .select(explode(call_function("word_shingles_all", col("__tk"), lit(2)))
        .as("__bg"))
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val tgt = CacheScope.persistTracked(
      Spread(target.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), tokens(col(textCol)).as("__tk")))
    val bigrams = tgt.select(col("__id"),
      explode(call_function("word_shingles_all", col("__tk"), lit(2)))
        .as("__bg"))
    val p = bigrams
      .join(cb, Seq("__bg"), "left")
      .join(uni, substring_index(col("__bg"), " ", 1) === col("__w"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__id"),
        ((coalesce(col("__cb"), lit(0L)) + 1L).cast("double") /
          (coalesce(col("__cu"), lit(0L)) + col("__v")).cast("double"))
          .as("__p"))
    val scored = p.groupBy("__id").agg(
      count(lit(1)).as("n_bigramas"),
      sum(col("__p").cast("decimal(38,18)")).as("__psum"))
    tgt.select(col("__id"))
      .join(scored, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_bigramas"), lit(0L)).as("n_bigramas"),
        coalesce(
          col("__psum").cast("double") / col("n_bigramas").cast("double"),
          lit(0.0)).as("lm_score"))
  }

  /** Global n-gram heavy hitters: the exact top-`k` most frequent word
    * `n`-grams with their occurrence and document counts — the mining pass
    * behind boilerplate blocklists, contamination watchlists and tokenizer
    * vocabulary audits. Multiplicity is kept (the repetition signal IS the
    * point); ties break lexicographically so the cut is deterministic.
    *
    * Shape: scan-level gram explode → ONE map-side-combinable aggregation
    * on the gram → `orderBy(...).limit(k)`, which Spark executes as
    * TakeOrderedAndProject: each partition keeps its own top-k heap and
    * only k rows per partition reach the driver-side merge — no global
    * sort of the gram universe at any scale.
    */
  def topNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val grams = Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"),
        explode(call_function("word_shingles_all",
          tokens(col(textCol)), lit(n))).as("ngram"))
    grams.groupBy("ngram")
      .agg(
        count(lit(1)).as("ocorrencias"),
        count_distinct(col("__id")).as("n_docs"))
      .orderBy(col("ocorrencias").desc, col("ngram").asc)
      .limit(k)
  }

  /** Gopher-style n-gram repetition signals (Rae et al. 2021 §A1.1, the
    * repetition family of quality filters): per document, the count and
    * fraction of tokens covered by the most frequent token and bigram, and
    * by duplicated trigrams — boilerplate/spam detectors that fire on
    * machine-generated or template text well before model-based filters.
    *
    * Shape: one persisted tokenization (four consumers — the count plus
    * three gram fan-outs — would otherwise each re-derive `split()`
    * through CollapseProject), then per gram size an
    * explode → codegen'd count. Gram instances come from the native
    * [[graft.functions.WordShinglesAll]] kernel (multiplicity preserved —
    * the distinct [[shingleSetSorted]] would erase the signal). All
    * shuffles are map-side combinable on (doc, gram); fractions are one
    * exact-long IEEE division each, so the whole operator is
    * SQL-reproducible bit-for-bit.
    */
  def ngramRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), tokens(col(textCol)).as("__tk")))
    def gramCounts(n: Int): DataFrame = {
      val grams =
        if (n == 1) col("__tk")
        else call_function("word_shingles_all", col("__tk"), lit(n))
      tk.select(col("__id"), explode(grams).as("__g"))
        .groupBy("__id", "__g").agg(count(lit(1)).as("__c"))
    }
    val nTok = tk.select(col("__id"), size(col("__tk")).cast("long").as("n_tokens"))
    val uni = gramCounts(1).groupBy("__id").agg(max(col("__c")).as("top_token"))
    val bi = gramCounts(2).groupBy("__id").agg(max(col("__c")).as("top_bigrama"))
    val tri = gramCounts(3).groupBy("__id")
      .agg(sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("dup_trigramas"))
    def frac(num: Column, den: Column, minTokens: Int): Column =
      when(col("n_tokens") >= minTokens, num.cast("double") / den.cast("double"))
        .otherwise(0.0)
    nTok
      .join(uni, Seq("__id"), "left")
      .join(bi, Seq("__id"), "left")
      .join(tri, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        col("n_tokens"),
        coalesce(col("top_token"), lit(0L)).as("top_token"),
        coalesce(col("top_bigrama"), lit(0L)).as("top_bigrama"),
        coalesce(col("dup_trigramas"), lit(0L)).as("dup_trigramas"))
      .withColumn("frac_top_token", frac(col("top_token"), col("n_tokens"), 1))
      .withColumn("frac_top_bigrama",
        frac(col("top_bigrama"), col("n_tokens") - 1, 2))
      .withColumn("frac_dup_trigramas",
        frac(col("dup_trigramas"), col("n_tokens") - 2, 3))
  }

  /** Hashed linear text-classifier INFERENCE (the fastText architecture,
    * Joulin et al. 2016 — the model class behind CCNet/DCLM-style quality
    * filters): features are word unigrams + bigrams hashed into `buckets`
    * slots, the model is a (bucket → weight) TABLE, the score is the sum
    * of matched weights, and the label is its sign.
    *
    * Spark-first shape: one scan-level tokenize + native
    * `word_shingles_all` bigram fan-out (multiplicity kept — this is a
    * bag-of-features model), bucket via the portable md5 word, the weight
    * table joined in as a BROADCAST build side (a model is ≤ buckets rows
    * — tiny versus the corpus, which never shuffles for the lookup), then
    * ONE map-side-combinable per-doc aggregation: the exchange carries a
    * (doc, partial margin) row per map partition, not the exploded grams.
    *
    * Weights are integer fixed-point (milli-units, the quantized-inference
    * convention) so every margin is an exact BIGINT sum — bit-identical
    * under any partitioning and to the SQL oracle; no float dot product to
    * diverge in the last ulp. Features whose bucket has no weight row
    * count toward `n_feats` with weight 0 (left join). Docs with no
    * features score 0 / reprovado.
    *
    * Output: idCol, n_feats, margem_milli, aprovado (margin > 0).
    */
  def linearTextScore(
      docs: DataFrame, weights: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val base = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), tokens(col(textCol)).as("__tk")))
    val feats = base.select(col("__id"),
        explode(concat(col("__tk"),
          call_function("word_shingles_all", col("__tk"), lit(2)))).as("__g"))
      .filter(col("__g") =!= "")
      .select(col("__id"),
        (conv(substring(md5(col("__g").cast("binary")), 1, 8), 16, 10)
          .cast("long") % buckets).as("bucket"))
    val scored = feats
      .join(broadcast(weights.select(col("bucket"), col("w_milli"))),
        Seq("bucket"), "left")
      .groupBy("__id").agg(
        count(lit(1)).as("n_feats"),
        sum(coalesce(col("w_milli"), lit(0L))).as("margem_milli"))
    base.select(col("__id"))
      .join(scored, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("margem_milli"), lit(0L)).as("margem_milli"))
      .withColumn("aprovado", col("margem_milli") > 0L)
  }

  /** Calibration/reliability audit of a scored+labeled corpus — the
    * table behind a reliability diagram, run after training
    * ([[trainPerceptron]]) and before trusting the scores as a curation
    * gate: per score bin, the population, the observed positive rate and
    * the mean margin. A well-calibrated gate shows taxa_pos rising
    * monotonically with the margin bins; a flat band means the scores
    * carry no signal there and the gate threshold must avoid it.
    *
    * Bins are (sign, decimal order of magnitude of the margin) — i.e.
    * `sinal × length(str(|margin|))` — rather than equal-population
    * ntiles: ntile needs a GLOBAL sort (one partition holds the whole
    * corpus ordering), while sign/magnitude is a scan-level expression
    * into one map-side-combinable aggregation, and the digit count of an
    * integer is exact in any engine (a float log2 is not); the LEADING
    * digit (substring of the decimal string — equally exact) sub-divides
    * each order into nine log-uniform bins for resolution. Output:
    * (sinal, ordem, primeiro_digito, n, n_pos, taxa_pos, margem_media).
    */
  def calibrationAudit(
      scored: DataFrame, marginCol: String, labelCol: String): DataFrame =
    scored.select(
        when(col(marginCol) > 0, 1).when(col(marginCol) < 0, -1)
          .otherwise(0).as("sinal"),
        when(col(marginCol) === 0, 0)
          .otherwise(length(abs(col(marginCol)).cast("string"))).as("ordem"),
        when(col(marginCol) === 0, 0)
          .otherwise(substring(abs(col(marginCol)).cast("string"), 1, 1)
            .cast("int")).as("primeiro_digito"),
        col(labelCol).as("__y"), col(marginCol).as("__m"))
      .groupBy("sinal", "ordem", "primeiro_digito").agg(
        count(lit(1L)).as("n"),
        sum(when(col("__y") === 1, 1L).otherwise(0L)).as("n_pos"),
        (sum(when(col("__y") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1L)).cast("double")).as("taxa_pos"),
        (sum(col("__m").cast("decimal(38,0)")).cast("double") /
          count(lit(1L)).cast("double")).as("margem_media"))

  /** Dictionary/taxonomy tagging: label documents by a curated phrase
    * dictionary (`frase` — 1..`maxN` lowercased space-joined words —
    * → `etiqueta`), the domain/topic-tagging pass training-data
    * pipelines run before mixture planning ("which docs are code / legal
    * / medical"). Multi-word phrases match as CONTIGUOUS token n-grams,
    * not bags — the FlashText/Aho-Corasick use case — and multiplicity
    * is counted (`n_matches`), with the distinct phrases per label kept
    * for audit (`n_frases`).
    *
    * Spark-first shape instead of a trie automaton: one scan-level
    * tokenize + one `word_shingles_all` fan-out per gram size (all fused
    * into the same whole-stage-codegen pass over the scan), then a
    * BROADCAST hash join against the dictionary — a phrase table is
    * ≤ thousands of rows versus the corpus, which never shuffles for
    * the match — and ONE map-side-combinable (doc, label) aggregation.
    * At 100 TB the per-executor cost is the same "scan once, probe a
    * small hash table" an automaton pays, with no custom kernel to
    * maintain; grams that match nothing die at the join.
    *
    * Output: idCol, etiqueta, n_matches, n_frases — one row per
    * (document, label) with ≥ 1 match; unmatched docs emit nothing
    * (tag tables are sparse by design — left-join downstream if every
    * doc needs a row).
    */
  def tagByDictionary(
      docs: DataFrame, dict: DataFrame, idCol: String, textCol: String,
      maxN: Int): DataFrame = {
    require(maxN >= 1, s"need maxN >= 1, got $maxN")
    val tk = tokens(col(textCol))
    val grams = (1 to maxN).map {
      case 1 => tk
      case n => call_function("word_shingles_all", tk, lit(n))
    }.reduceLeft(concat(_, _))
    Spread(docs.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"), explode(grams).as("__g"))
      .filter(col("__g") =!= "")
      .join(broadcast(dict.select(col("frase"), col("etiqueta"))),
        col("__g") === col("frase"))
      .groupBy(col("__id").as(idCol), col("etiqueta"))
      .agg(
        count(lit(1)).as("n_matches"),
        count_distinct(col("frase")).as("n_frases"))
  }

  /** Distributed TRAINING of the [[linearTextScore]] model class: batch
    * perceptron over hashed unigram+bigram features (Rosenblatt's rule
    * in its full-batch form — the classical convergence-guaranteed
    * linear trainer). Quality-filter pipelines fit these little linear
    * models on labeled slices (CCNet/DCLM fit fastText) and then apply
    * them corpus-wide with q109's inference join; this closes the loop
    * so fit AND apply both run inside the engine.
    *
    * Per epoch: margin(d) = Σ_b c(d,b)·w(b); every doc with
    * y·margin ≤ 0 is misclassified and contributes y·c(d,b) to the
    * gradient; w ← w + gradient (learning rate 1 — perceptron updates
    * are scale-invariant). Epoch 1 starts from w = 0, where every doc
    * is misclassified, so w₁ is just Σ_docs y·c — one aggregation.
    *
    * Shape at 100 TB: the (doc, bucket, count) feature table is built
    * ONCE (scan-level fan-out + one map-side-combinable aggregation)
    * and persisted; each epoch is then one BROADCAST probe of the
    * ≤ `buckets`-row weight table + two combinable aggregations
    * (per-doc margins, per-bucket gradient). The corpus shuffles once
    * for the feature build and never again — epochs reuse the persisted
    * co-partitioned features, the classic iterative-ML-on-Spark layout.
    *
    * Exactness: counts, labels, margins and weights are ALL exact
    * BIGINTs (perceptron needs no float) — every epoch is
    * SQL-replayable bit-for-bit, unrolled as one CTE chain per epoch.
    *
    * `labelCol` must be ±1. Returns the final (bucket, w) table,
    * one row per bucket touched by any update (w may be 0 by
    * cancellation — kept, so the output is a pure function of the
    * algebra, not of a sparsity cleanup).
    */
  def trainPerceptron(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      buckets: Int, epochs: Int): DataFrame = {
    require(epochs >= 1, s"need epochs >= 1, got $epochs")
    require(buckets > 0, s"need buckets > 0, got $buckets")
    val tk = tokens(col(textCol))
    val fc = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(labelCol).as("__y"),
          col(textCol)))
        .select(col("__id"), col("__y"),
          explode(concat(tk,
            call_function("word_shingles_all", tk, lit(2)))).as("__g"))
        .filter(col("__g") =!= "")
        .select(col("__id"), col("__y"),
          (conv(substring(md5(col("__g").cast("binary")), 1, 8), 16, 10)
            .cast("long") % buckets).as("bucket"))
        .groupBy("__id", "__y", "bucket").agg(count(lit(1)).as("__c"))
        // partition by doc id: HashPartitioning(__id) satisfies BOTH the
        // per-epoch margin groupBy(__id,__y) and the gradient's fc⋈miss
        // join, so after this one exchange NO epoch shuffles the corpus
        // again — only the ≤`buckets`-row gradient partials move
        .repartition(col("__id")))
    // epoch 1 from w = 0: every doc misclassified (y·0 ≤ 0)
    val w1 = fc.groupBy("bucket")
      .agg(sum(col("__y") * col("__c")).as("w"))
    (2 to epochs).foldLeft(w1) { (w, _) =>
      val miss = fc
        .join(broadcast(w), Seq("bucket"), "left")
        .groupBy("__id", "__y")
        .agg(sum(col("__c") * coalesce(col("w"), lit(0L))).as("__margin"))
        .filter(col("__y") * col("__margin") <= 0L)
      val grad = fc
        .join(miss.select("__id"), Seq("__id"))
        .groupBy("bucket").agg(sum(col("__y") * col("__c")).as("__g"))
      w.join(grad, Seq("bucket"), "full")
        .select(col("bucket"),
          (coalesce(col("w"), lit(0L)) + coalesce(col("__g"), lit(0L))).as("w"))
    }
  }

  /** Multinomial Naive Bayes model: per-(class, token) Laplace-smoothed
    * log-counts and the per-class constants. Both tables are
    * vocabulary/class-bounded — model size never scales with the corpus.
    */
  case class NbModel(tokenTable: DataFrame, classTable: DataFrame)

  /** Multinomial Naive Bayes FIT (the generative counterpart of
    * [[trainPerceptron]] — count-based, one pass, no epochs; the
    * baseline classifier every curation stack ships next to its
    * discriminative one). Laplace add-one smoothing over the train
    * vocabulary.
    *
    * Reference analogue: the reference has no model fitting at all;
    * this extends the in-engine train/apply/calibrate/evaluate loop
    * (SURVEY rows 138/122/151/198) with the generative family.
    *
    * Exactness discipline (the q65 pattern): every stored term is ONE
    * IEEE op chain from exact integers — `l_cnt = ln(cnt+1)`,
    * `l_prior = ln(dc/total)` (one division, one ln), `l_denom =
    * ln(N_c + V)` — so both engines compute identical doubles up to
    * ln's final-ulp licence, absorbed by the gate's 9-significant-digit
    * float normalization. NO float is ever ACCUMULATED as a float:
    * apply-side sums run in DECIMAL(38,18), order-independent.
    *
    * Shape at 100 TB: fit is two map-side-combinable aggregations over
    * the tokenized train corpus (Zipf skew collapses in the combiner);
    * the model is vocabulary×classes rows.
    */
  def naiveBayesFit(
      train: DataFrame, idCol: String, textCol: String,
      classCol: String): NbModel = {
    val docs = Spread(train.select(col(idCol).as("__id"),
      col(classCol).as("classe"), col(textCol).as("__t")))
    val tk = CacheScope.persistTracked(docs
      .select(col("__id"), col("classe"),
        explode(tokens(col("__t"))).as("__g"))
      .filter(col("__g") =!= ""))
    val mtok = CacheScope.persistTracked(
      tk.groupBy(col("classe"), col("__g").as("token"))
        .agg(count(lit(1L)).as("__cnt")))
    val vocab = mtok.select("token").distinct()
      .agg(count(lit(1L)).as("__v"))
    val nc = mtok.groupBy("classe").agg(sum(col("__cnt")).as("__nc"))
    val cls = docs.groupBy("classe").agg(count(lit(1L)).as("__dc"))
    val tot = docs.agg(count(lit(1L)).as("__td"))
    val classTable = cls.join(nc, Seq("classe"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vocab))
      .select(col("classe"),
        log(col("__dc").cast("double") / col("__td").cast("double"))
          .as("l_prior"),
        log((col("__nc") + col("__v")).cast("double")).as("l_denom"))
    NbModel(
      mtok.select(col("classe"), col("token"),
        log((col("__cnt") + 1L).cast("double")).as("l_cnt")),
      classTable)
  }

  /** Naive Bayes APPLY: per-doc class posteriors
    * `score(c) = l_prior_c − n_doc·l_denom_c + Σ_t n_t·l_cnt(c,t)`
    * (tokens unseen in class c contribute ln(0+1) = 0 — the inner
    * token join IS the smoothing's sparse form), accumulated in
    * DECIMAL(38,18) so the sum is order-independent; prediction =
    * max(struct(score, classe)) — ties break on the class name,
    * deterministically on any engine.
    *
    * Shape at 100 TB: one token-keyed join of the doc-token counts
    * against the vocabulary-bounded model (never corpus × corpus), one
    * combinable per-(doc, class) aggregation, a ≤|classes|-row
    * broadcast for the constants. Stateless — serves a stream.
    *
    * Output: (id, classe_prevista, pontuacao DOUBLE) — one row per
    * DISTINCT id; zero-token docs fall back to the prior-only argmax.
    * Contract: `idCol` must be row-unique (the scoring aggregation
    * groups on it, so duplicate ids would collapse to one row with
    * their token counts merged — same unique-id contract as
    * [[graft.operators.Linkage.editJoinDeletes]]).
    */
  def naiveBayesApply(
      df: DataFrame, idCol: String, textCol: String,
      model: NbModel): DataFrame = {
    val dec = "decimal(38,18)"
    val tk = Spread(df.select(col(idCol).as("__id"), col(textCol).as("__t")))
      .select(col("__id"), explode(tokens(col("__t"))).as("__g"))
      .filter(col("__g") =!= "")
    val docTok = CacheScope.persistTracked(
      tk.groupBy(col("__id"), col("__g").as("token"))
        .agg(count(lit(1L)).as("__n")))
    val docN = docTok.groupBy("__id").agg(sum(col("__n")).as("__ndoc"))
    val matched = docTok
      .join(model.tokenTable, Seq("token"))
      .groupBy("__id", "classe")
      .agg(sum((col("__n").cast("double") * col("l_cnt")).cast(dec))
        .as("__s"))
    df.select(col(idCol).as("__id"))
      .join(docN, Seq("__id"), "left")
      .na.fill(0L, Seq("__ndoc"))
      .crossJoin(broadcast(model.classTable))
      .join(matched, Seq("__id", "classe"), "left")
      .select(col("__id"),
        (col("l_prior").cast(dec)
          - (col("__ndoc").cast("double") * col("l_denom")).cast(dec)
          + coalesce(col("__s"), lit(0).cast(dec))).as("__sc"),
        col("classe"))
      .groupBy("__id")
      .agg(max(struct(col("__sc"), col("classe"))).as("__b"))
      .select(col("__id").as(idCol),
        col("__b.classe").as("classe_prevista"),
        col("__b.__sc").cast("double").as("pontuacao"))
  }

  /** Chi-squared token–class association (feature selection for the
    * row-138/200 classifier family — which tokens are worth a model's
    * capacity; also the vocabulary-audit lens for "which tokens leak
    * the label"). One-vs-rest 2×2 contingency per (class, token) over
    * doc-level PRESENCE: a = class docs containing the token, b = class
    * docs without, c = other docs with, d = other docs without;
    * `χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`.
    *
    * The SELECTION is decided in INTEGERS (the q181 discipline — no
    * float compare decides membership): χ² ≥ num/den ⟺
    * `den·N·(ad−bc)² ≥ num·(a+b)(c+d)(a+c)(b+d)`, both sides exact
    * DECIMAL(38,0) products — engine-identical row sets; the reported
    * χ² is ONE IEEE division at the edge. The decimal headroom bounds
    * the corpus at N ≤ ~3·10⁷ docs per fit (N⁵ ≤ 10³⁸); beyond that
    * the log-space G-test is the right tool — documented wall.
    *
    * Shape at 100 TB: presence collapses to distinct (doc, token) at
    * scan level, then ONE map-side-combinable aggregation each for
    * (class, token), token and class marginals; the scored table is
    * vocabulary × |classes| rows (a = 0 combos included via the
    * marginals cross — absence IS association), never corpus-scale.
    * `minDf` prunes the rare-token tail before the cross.
    */
  def chiSquaredFeatures(
      docs: DataFrame, idCol: String, textCol: String, classCol: String,
      minDf: Long, threshNum: Long, threshDen: Long): DataFrame = {
    require(threshDen > 0, s"need threshDen > 0, got $threshDen")
    val dec = "decimal(38,0)"
    val pres = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(classCol).as("classe"),
          col(textCol).as("__t")))
        .select(col("__id"), col("classe"),
          explode(array_distinct(tokens(col("__t")))).as("token"))
        .filter(col("token") =!= ""))
    val nTot = docs.select(col(idCol)).agg(count(lit(1L)).as("__nn"))
    val byClass = docs.groupBy(col(classCol).as("classe"))
      .agg(count(lit(1L)).as("__nc"))
    val byTok = pres.groupBy("token").agg(count(lit(1L)).as("__nt"))
      .filter(col("__nt") >= minDf)
    val byBoth = pres.groupBy("classe", "token")
      .agg(count(lit(1L)).as("__a"))
    byTok.crossJoin(broadcast(byClass))
      .join(byBoth, Seq("classe", "token"), "left")
      .na.fill(0L, Seq("__a"))
      .crossJoin(broadcast(nTot))
      .select(col("classe"), col("token"),
        col("__a").as("a"), (col("__nc") - col("__a")).as("b"),
        (col("__nt") - col("__a")).as("c"),
        (col("__nn") - col("__nc") - col("__nt") + col("__a")).as("d"))
      .withColumn("__num",
        ((col("a") * col("d") - col("b") * col("c")).cast(dec) *
          (col("a") * col("d") - col("b") * col("c"))) *
          (col("a") + col("b") + col("c") + col("d")))
      .withColumn("__den",
        ((col("a") + col("b")) * (col("c") + col("d"))).cast(dec) *
          ((col("a") + col("c")) * (col("b") + col("d"))))
      // a token in EVERY doc (or a single-class corpus) zeroes a
      // marginal: no signal, and the division would be ∞ — drop first
      .filter(col("__den") > 0)
      .filter(col("__num") * threshDen >= col("__den") * threshNum)
      .withColumn("qui2",
        col("__num").cast("double") / col("__den").cast("double"))
      .drop("__num", "__den")
  }

  /** Tokenizer-vocabulary coverage / OOV-rate audit — the acceptance
    * gate a vocabulary (BPE merges, row 135; top-k unigrams, row 70)
    * passes before a training run commits to it: per document, how
    * much of the token stream the vocabulary covers, and how many
    * TYPES it misses (a high token-OOV with low type-OOV means a few
    * hot unknown words; the reverse means long-tail noise).
    *
    * Shape at 100 TB: the vocabulary is bounded by contract (it IS the
    * deliverable of a top-k/BPE fit) so it BROADCASTS onto the
    * scan-level token explode — the corpus never shuffles against it;
    * per-doc stats are ONE combinable aggregation. Every count is an
    * exact BIGINT; the rate is ONE IEEE division. Docs with no tokens
    * report zeros and a null rate (absence ≠ full coverage).
    *
    * Output: (idCol, n_tokens, n_oov, n_tipos, n_tipos_oov, taxa_oov).
    */
  def vocabCoverage(
      docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, vocabCol: String): DataFrame = {
    val v = vocab.select(col(vocabCol).as("__tok")).distinct()
      .withColumn("__in", lit(1L))
    val toks = Spread(docs.select(col(idCol).as("__id"),
        col(textCol).as("__t")))
      .select(col("__id"), explode(tokens(col("__t"))).as("__tok"))
      .filter(col("__tok") =!= "")
    val agg = toks.join(broadcast(v), Seq("__tok"), "left")
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1L)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"),
        count_distinct(col("__tok")).as("n_tipos"),
        count_distinct(when(col("__in").isNull, col("__tok")))
          .as("n_tipos_oov"))
    docs.select(col(idCol)).distinct()
      .join(agg, Seq(idCol), "left")
      .na.fill(0L, Seq("n_tokens", "n_oov", "n_tipos", "n_tipos_oov"))
      .withColumn("taxa_oov",
        when(col("n_tokens") > 0L,
          col("n_oov").cast("double") / col("n_tokens").cast("double")))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
    * unsupervised corpus-keyword ranker: tokens are vertices, adjacent
    * co-occurrence is an (undirected) edge, and importance is PageRank
    * on that graph — hubs of the co-occurrence structure, not mere
    * frequency (row 70) nor corpus-relative rarity (row 148's idf).
    *
    * Composition, not new machinery: the adjacency explode is
    * scan-level (a `transform`/`slice` zip of each token list with its
    * own tail — no shuffle, no per-row state), the mirrored edge set
    * feeds [[Components.pageRank]] (decimal-accumulated, q140's
    * engine-exact iteration), and the global top-k is one
    * TakeOrderedAndProject with the (rank DESC, token ASC) tie-break.
    * Graph size is vocabulary², bounded in practice by observed
    * adjacency — corpus-scale text never shuffles; only distinct
    * edges do.
    *
    * Output: (token, rank) — the k highest-ranked keywords.
    */
  def textRankKeywords(
      docs: DataFrame, textCol: String, iters: Int = 3, k: Int = 20)
      : DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val prs = Spread(docs.select(col(textCol).as("__t")))
      .select(tokens(col("__t")).as("__toks"))
      .select(explode(expr(
        "transform(slice(__toks, 1, size(__toks) - 1), " +
          "(x, i) -> struct(x AS a, element_at(__toks, i + 2) AS b))"))
        .as("__p"))
      .select(col("__p.a").as("__a"), col("__p.b").as("__b"))
      .filter(col("__a") =!= "" && col("__b") =!= "" &&
        col("__a") =!= col("__b"))
    val edges = prs.select(col("__a").as("src"), col("__b").as("dst"))
      .unionByName(prs.select(col("__b").as("src"), col("__a").as("dst")))
    Components.pageRank(edges, "src", "dst", iters)
      .orderBy(col("rank").desc, col("vertice").asc).limit(k)
      .select(col("vertice").as("token"), col("rank"))
  }

  /** Collocation extraction by pointwise mutual information — which
    * adjacent token pairs co-occur far more than their unigram
    * frequencies predict ("new york", "machine learning"): the corpus
    * phrase-discovery pass that feeds phrase tables (row 137's
    * dictionary tagging consumes exactly this output) and tokenizer
    * pre-merges.
    *
    * The statistic is the PMI RATIO itself, not its log (the q99/q121
    * log-free discipline): `lift = p(ab) / (p(a)·p(b)) =
    * (c_ab·N²) / (B·c_a·c_b)` with p(ab) = c_ab/B over bigram events
    * and p(a) = c_a/N over token events. Numerator and denominator are
    * exact DECIMAL(38,0) integer products and the lift is ONE
    * correctly-rounded IEEE division — bit-identical on any engine,
    * and monotone in PMI, so ranking by lift IS ranking by PMI.
    *
    * Shape at 100 TB: unigram and bigram counts are two map-side-
    * combinable aggregations (Zipf skew collapses in the combiner); the
    * `minCount` support cut applies to the COUNTED bigram table before
    * any join (rare-pair noise — PMI's known failure mode — never
    * reaches the metric math, and the joined table is vocabulary-sized,
    * not corpus-sized); the two unigram joins stream each surviving
    * bigram past single-row build sides (the q55 skew argument). The
    * corpus is touched twice (token pass, bigram pass), shuffled never.
    *
    * Output: (token_a, token_b, n_par, n_a, n_b, lift) for bigrams with
    * n_par ≥ minCount.
    */
  def collocations(
      docs: DataFrame, idCol: String, textCol: String,
      minCount: Long): DataFrame = {
    val tk = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"), tokens(col(textCol)).as("__tk")))
    val uni = tk.select(explode(col("__tk")).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy("__w").agg(count(lit(1L)).as("__cu"))
      .transform(CacheScope.persistTracked)
    val nTok = uni.agg(sum(col("__cu")).as("__n"))
    val biAll = tk
      .select(explode(call_function("word_shingles_all", col("__tk"), lit(2)))
        .as("__g"))
      .groupBy("__g").agg(count(lit(1L)).as("n_par"))
      .transform(CacheScope.persistTracked)
    val nBi = biAll.agg(sum(col("n_par")).as("__b"))
    val parts = biAll.filter(col("n_par") >= minCount)
      .select(col("n_par"),
        element_at(split(col("__g"), " "), 1).as("token_a"),
        element_at(split(col("__g"), " "), 2).as("token_b"))
    parts
      .join(uni.select(col("__w").as("token_a"), col("__cu").as("n_a")),
        Seq("token_a"))
      .join(uni.select(col("__w").as("token_b"), col("__cu").as("n_b")),
        Seq("token_b"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBi))
      .select(col("token_a"), col("token_b"), col("n_par"), col("n_a"),
        col("n_b"),
        ((col("n_par").cast("decimal(38,0)") * col("__n") * col("__n"))
          .cast("double") /
          (col("__b").cast("decimal(38,0)") * col("n_a") * col("n_b"))
            .cast("double")).as("lift"))
  }

  /** Per-document lexical-diversity audit: token Shannon entropy,
    * type-token ratio and hapax ratio — the vocabulary-richness quality
    * signals complementing the REPETITION family (row 59 flags dup
    * n-grams; a template-generated doc can be dup-free yet nearly
    * zero-entropy, and boilerplate-heavy corpora skew low-TTR — the
    * Gopher §A1.1 "diversity" lens).
    *
    * Entropy = ln(n) − (Σ_types c·ln c)/n — the Σ is a float sum over a
    * DOCUMENT's distinct tokens, so it runs as the deterministic
    * left fold over the token-sorted (type, count) list (the
    * kruskalWallis fold discipline: per-doc list size is doc-bounded,
    * and a fixed order replays op-for-op in any engine — DuckDB
    * `list_reduce(list(… ORDER BY token), …)`); TTR and hapax are ONE
    * IEEE division each over exact BIGINTs. Blank tokens drop; an
    * empty/whitespace doc emits n=0 with null ratios.
    *
    * Shape at 100 TB: one explode + one (doc, token) combinable count,
    * one per-doc aggregation carrying the sorted fold — no corpus-wide
    * state, no joins; entropy never compares documents.
    */
  def lexicalDiversity(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = Spread(df.select(col(idCol).as("__id"), col(textCol)))
      .select(col("__id"), explode(tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy("__id", "__tok").agg(count(lit(1L)).as("__c"))
    val perDoc = counts.groupBy("__id").agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1L)).as("n_tipos"),
      sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
      aggregate(
        array_sort(collect_list(struct(col("__tok"), col("__c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("__c").cast("double") *
          log(x.getField("__c").cast("double"))).as("__clnc"))
    val n = col("n_tokens").cast("double")
    df.select(col(idCol).as("__id")).distinct()
      .join(perDoc, Seq("__id"), "left")
      .select(
        col("__id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_tipos"), lit(0L)).as("n_tipos"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"),
        when(col("n_tokens") > 0L,
          col("n_tipos").cast("double") / n).as("ttr"),
        when(col("n_tokens") > 0L,
          col("n_hapax").cast("double") / n).as("razao_hapax"),
        when(col("n_tokens") > 0L, log(n) - col("__clnc") / n)
          .as("entropia"))
  }

  /** Good–Turing frequency re-estimation (Good, Biometrika 1953; the
    * Gale & Sampson 1995 presentation) — the vocabulary-MASS audit next
    * to the coverage rows (141/212): from the corpus' frequency-of-
    * frequencies table N_r = |{tokens seen exactly r times}|, the
    * Turing estimator r* = (r+1)·N_{r+1}/N_r re-discounts each count,
    * and the unseen mass P₀ = N_1/N answers the question coverage
    * audits beg: how much probability belongs to tokens the corpus has
    * NOT shown yet — the "will a bigger crawl still surprise the
    * tokenizer" number.
    *
    * Shape: token explode → token counts → frequency-of-frequencies —
    * two combinable aggregations; the N_r table is tiny (distinct
    * counts are O(√N)), the total re-derives from it as Σ r·N_r (no
    * second corpus scan). r* joins N_{r+1} by r+1 and is null where
    * the classic N_{r+1} = 0 gap bites — smoothing the gaps is SGT, a
    * DIFFERENT contract, stated not silently substituted. Every ratio
    * is one division of exact longs.
    *
    * Output: one row per observed r — (r, n_r, r_star, massa = r·N_r/N)
    * — plus the r = 0 row whose massa is the Turing unseen mass N_1/N
    * (n_r and r_star null: nothing was observed zero times).
    */
  def goodTuring(docs: DataFrame, textCol: String): DataFrame = {
    val toks = Spread(docs)
      .filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("__t"))
      .filter(col("__t") =!= "")
    val nr = CacheScope.persistTracked(
      toks.groupBy("__t").agg(count(lit(1L)).as("r"))
        .groupBy("r").agg(count(lit(1L)).as("n_r")))
    val tot = nr.agg(sum(col("r") * col("n_r")).as("__n"))
    val next = nr.select((col("r") - 1L).as("r"), col("n_r").as("__nn"))
    val rows = nr.join(next, Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        (((col("r") + 1L) * col("__nn")).cast("double") /
          col("n_r").cast("double")).as("r_star"),
        ((col("r") * col("n_r")).cast("double") /
          col("__n").cast("double")).as("massa"))
    val n1 = nr.filter(col("r") === 1L).select(col("n_r").as("__n1"))
    val zero = tot.join(broadcast(n1), lit(true), "left")
      .select(lit(0L).as("r"), lit(null).cast("long").as("n_r"),
        lit(null).cast("double").as("r_star"),
        (coalesce(col("__n1"), lit(0L)).cast("double") /
          col("__n").cast("double")).as("massa"))
    rows.unionByName(zero)
  }
}
