package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Dbf, HtmlForm, Listing, ParquetSink, ReportCsv, Staging, Tables}
import graft.operators._

/** LLM corpus curation: sampling, packing, chunking, mixtures, decontamination,
  * boilerplate/span purges, PII, DSIR, splits.
  *
  * Registry shard of [[SparkEntry]] — entries moved verbatim; see SURVEY.md §2
  * for the operator-row mapping.
  */
private[graft] trait RegistryCuration extends RegistryBase {

  protected def queriesCuration: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2 row 246 — popularity^0.75 negative sampling (word2vec / BPR
    // data prep): item CDF as exact integer weights (sqrt(sqrt(n³)) —
    // no pow), bucketed inverted-CDF lookup as ONE equi-join, draws
    // from the portable md5 dyadic uniform.
    "q232_negative_sampling" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_partkey")
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      val inter = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("usuario"),
          col("l_partkey").as("item"))
      ordered(llm.Negative.negativeSample(inter, "usuario", "item", k = 2))
    },

    // Sequence packing for pretraining batches: per-language running token
    // offsets → fixed-budget bin assignment (one window cumsum), plus the
    // per-bin fill summary.
    "q48_seq_packing" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        llm.TextAnalysis.estTokenCount(col("text")).as("tokens_est"))
      val packed = llm.Curation.packSequences(docs, "doc_id", "lang", "tokens_est", 2048L)
      ordered(llm.Curation.packingStats(packed, "lang", "tokens_est", 2048L))
    },

    // Deterministic stratified sampling: per-language keep rates via the
    // portable md5 percent-hash — same doc always in or out, any engine.
    "q49_stratified_sample" -> { (s, dir) =>
      ordered(llm.Curation.stratifiedSample(
        Tables.documents(s, dir), "doc_id", "lang",
        Map("en" -> 37, "pt" -> 81), defaultRate = 55))
    },

    // Overlapping token-window chunking (context-length shaping for
    // retrieval corpora / fixed-context pretraining): 40-token windows
    // advancing by 30 — a scan-level explode of deterministic array
    // slices, no shuffle, short tail chunks kept.
    "q53_text_chunking" -> { (s, dir) =>
      ordered(llm.Curation.chunkTokens(
        Tables.documents(s, dir).select("doc_id", "text"), "text",
        window = 40, overlap = 10)
        .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens"))
    },

    // PII redaction: emails / BR phones / IPv4 masked with typed
    // placeholders, per-kind counts from the source text. The corpus has
    // no PII, so it is INJECTED deterministically from document columns —
    // the oracle rebuilds the same dirty text and replays the same
    // RE2/Java-compatible rewrites byte-for-byte.
    "q58_pii_redact" -> { (s, dir) =>
      val d4 = lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")
      val dirty = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contato: user"), col("doc_id").cast("string"),
            lit("@ex"), pmod(col("doc_id"), lit(10)).cast("string"),
            lit(".com.br"))).otherwise(lit("")),
        when(col("doc_id") % 9 === 0, lit(" cc admin@site.org")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" tel ("),
            lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
            lit(") 9"), d4, lit("-"), d4)).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" ip "), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"),
            lit(".1"))).otherwise(lit("")))
      val base = Tables.documents(s, dir).select(col("doc_id"), dirty.as("texto"))
      ordered(llm.Privacy.redactPii(base, "texto")
        .select("doc_id", "texto_limpo", "n_emails", "n_telefones", "n_ips"))
    },

    // Benchmark decontamination: corpus docs sharing any word trigram with
    // the benchmark set (docs with id % 97 == 0 stand in for an eval
    // suite) are flagged with their shared-shingle count.
    "q60_decontam" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      ordered(llm.Curation.decontaminate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3))
    },

    // Canonical text normalization: NFC (native codegen'd kernel) +
    // control-char strip + whitespace collapse. Decomposed accents, tabs,
    // double spaces and a BEL are injected so the pass has real work;
    // DuckDB's nfc_normalize + the same rewrites predict the output.
    "q62_normalize" -> { (s, dir) =>
      val mess = concat(substring(col("text"), 1, 40),
        lit(" é  tab\there "), lit(""), lit(" fim"))
      val base = Tables.documents(s, dir).select(col("doc_id"), mess.as("texto"))
      ordered(base.select(
          col("doc_id"),
          length(col("texto")).cast("long").as("n_antes"),
          llm.Privacy.normalizeText(col("texto")).as("texto_norm"))
        .withColumn("n_depois", length(col("texto_norm")).cast("long")))
    },

    // Deterministic training-shard packing: md5-hash shard assignment
    // (stable under re-runs/partitioning) + the per-shard manifest.
    "q63_shard_pack" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        llm.TextAnalysis.estTokenCount(col("text")).as("tokens_est"))
      ordered(llm.Curation.shardStats(docs, "doc_id", "tokens_est", nShards = 32))
    },

    // Source-level domain blocklist: URLs synthesized from document
    // columns (two planted spam domains), domain extracted at scan level,
    // blocklist applied as a broadcast anti-join DATASET (web-scale
    // blocklists are tables, not literals).
    "q64_domain_filter" -> { (s, dir) =>
      val url = concat(lit("https://"),
        when(col("doc_id") % 13 === 0, lit("spam-mill.example"))
          .when(col("doc_id") % 13 === 1, lit("seo-farm.example"))
          .otherwise(concat(col("source"), lit("-site.example"))),
        lit("/art/"), col("doc_id").cast("string"))
      val docs = Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
      val bl = {
        import s.implicits._
        Seq("spam-mill.example", "seo-farm.example", "unused.example").toDF("dominio")
      }
      ordered(llm.Curation.dropBlockedDomains(docs, "url", bl))
    },

    // Mixture rebalancing: cap each language at ~80 docs in expectation
    // (en is 3x the others in the corpus — exactly the skew data mixing
    // exists to fix). Integer keep-rates from one tiny count aggregate,
    // membership by the deterministic md5 percent-hash.
    "q66_mixture_cap" -> { (s, dir) =>
      ordered(llm.Curation.rebalanceToCap(
        Tables.documents(s, dir).select("doc_id", "lang", "source"),
        "doc_id", "lang", cap = 80))
    },

    // Main-text extraction from raw HTML: pages synthesized from document
    // columns (head/style/nav/script/footer boilerplate + entities around
    // the real text), then the scan-level regex extractor recovers the
    // display text. The oracle replays the identical rewrite chain.
    "q67_html_extract" -> { (s, dir) =>
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{margin:0}</style></head><body>"),
        lit("""<nav><a href="/">home</a> | <a href="/d">docs</a></nav>"""),
        lit("<h1>artigo "), col("doc_id").cast("string"), lit("</h1><p>"),
        col("text"), lit(" a &amp; b &lt;ok&gt;</p>"),
        lit("<script>var x = 1 &amp;&amp; 2;</script>"),
        lit("<footer>&copy; 2026 rodape</footer></body></html>"))
      val pages = Tables.documents(s, dir)
        .select(col("doc_id"), page.as("html"))
      ordered(pages.select(
          col("doc_id"),
          length(col("html")).cast("long").as("n_chars_html"),
          col("html"),
          llm.WebText.extractText(col("html")).as("texto"))
        .withColumn("n_chars_texto", length(col("texto")).cast("long"))
        .withColumn("densidade",
          llm.WebText.textDensity(col("html"), col("texto")))
        .drop("html"))
    },

    // Per-language exact discrete-quantile length trimming: drop each
    // language's shortest/longest 5% of documents by token count, with
    // integer-rank cut points (no interpolated floats) so the filter is
    // engine-exact.
    "q68_quantile_filter" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        llm.TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
      ordered(llm.Curation.quantileFilter(d, "n_tokens", "lang", 0.05, 0.95))
    },

    // k-anonymity suppression: quasi-identifiers (lang, size decile) —
    // rows in equivalence classes smaller than k=12 are dropped, class
    // size appended.
    "q69_k_anonymity" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        floor(col("n_chars") / lit(100)).cast("long").as("faixa_tamanho"))
      ordered(llm.Privacy.kAnonymize(d, Seq("lang", "faixa_tamanho"), k = 12))
    },

    // C4-style repeated-span removal: a 10-token licence boilerplate is
    // planted at the head of every 7th document; chunking + global
    // first-occurrence dedup strips it everywhere but its first sighting
    // and rebuilds the cleaned text.
    "q71_chunk_purge" -> { (s, dir) =>
      val boiler = "este conteudo esta licenciado sob os termos da licenca publica"
      val seeded = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")).as("texto"))
      ordered(llm.Curation.purgeRepeatedChunks(seeded, "doc_id", "texto",
        window = 10))
    },

    // q68's trim through the percentile_approx sketch — the 100 TB path
    // when exact cut points are not worth sorting every group (one
    // map-side-combinable aggregation, no window sort). Sketch internals
    // are engine-specific, so rows-only; CurationSpec pins its bounds
    // within one rank of the exact integer-rank form.
    "q96_quantile_approx" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        llm.TextAnalysis.wsTokenCount(col("text")).as("n_tokens"))
      ordered(llm.Curation.quantileFilterApprox(d, "n_tokens", "lang", 0.05, 0.95))
    },

    // Boilerplate-span purge (C4/RefinedWeb document-frequency rule):
    // 5-token spans occurring in MORE than 2 documents are dropped from
    // every document that carries them (vs q71's keep-first dedup); docs
    // rebuilt from the surviving spans in order.
    "q101_span_purge" -> { (s, dir) =>
      ordered(llm.Curation.purgeFrequentSpans(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", window = 5, maxDocs = 2))
    },

    // Temperature-flattened language rebalancing (subsample-only α=0.5
    // mixture): head languages downsampled toward the sqrt-flattened
    // share, keep decision per doc via the deterministic md5 uniform.
    "q102_temperature_sample" -> { (s, dir) =>
      ordered(llm.Curation.temperatureResample(
        Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
        "doc_id", "lang", targetFraction = 0.5))
    },

    // The full LLM curation chain in ONE plan (the text twin of q43):
    // exact dedup -> quality floor (0.19 ~ corpus median) -> frequent-
    // span purge -> temperature resample. Every stage is the validated
    // operator behind q25/q32/q101/q102; the oracle replays the whole
    // five-operator chain bit-for-bit.
    "q103_curation_pipeline" -> { (s, dir) =>
      ordered(pipelines.TextCuration.run(
        Tables.documents(s, dir), "doc_id", "text", "lang",
        minQuality = 0.19, spanWindow = 5, spanMaxDocs = 2,
        targetFraction = 0.5))
    },

    // q103's curation chain with the fuzzy-dedup stage switched on:
    // exact dedup -> MinHash-LSH near-dup removal (q26's portable
    // operator, greedy keep-lowest-id over verified pairs) -> quality
    // floor -> span purge -> temperature resample, still ONE plan.
    // Near-dups are planted the q26 way (drop-first-token variants at
    // id+1000000) so the fuzzy stage demonstrably removes them; the
    // oracle replays the entire six-operator chain bit-for-bit.
    "q105_curation_fuzzy" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
      ordered(pipelines.TextCuration.run(
        withPlantedVariants(docs), "doc_id", "text", "lang",
        minQuality = 0.19, spanWindow = 5, spanMaxDocs = 2,
        targetFraction = 0.5, fuzzyThreshold = Some(0.5)))
    },

    // Sliding-window boilerplate purge: q101's document-frequency rule
    // with stride 2 < window 5, so boilerplate at DIFFERENT offsets in
    // different documents still meets the threshold (fixed chunking only
    // counts alignment-sharing spans); every token covered by a frequent
    // span occurrence is dropped and the doc rebuilt in order.
    "q107_span_purge_sliding" -> { (s, dir) =>
      ordered(llm.Curation.purgeFrequentSpansSliding(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", window = 5, stride = 2, maxDocs = 2))
    },

    // Leakage-safe train/val split: the split key hashes the GROUP
    // (source), not the doc, so near-duplicate pages — which cluster
    // within a site — can never straddle the eval boundary. Scan-level
    // deterministic assignment (zero shuffles), then one mixture-stats
    // aggregation per (split, lang). The oracle replays the md5 group
    // hash and the token sums bit-for-bit.
    "q112_leakage_split" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val split = llm.Curation.leakageSafeSplit(
        docs, "source", valPct = 25, salt = "v1")
      ordered(split.groupBy("split", "lang").agg(
        count(lit(1)).as("n_docs"),
        sum(llm.TextAnalysis.wsTokenCount(col("text"))).as("n_tokens"),
        count_distinct(col("source")).as("n_fontes")))
    },

    // The RELEASE-GATED curation chain: q103's five stages + benchmark
    // decontamination (5-gram overlap with an eval suite derived from
    // every 41st doc's first 24 tokens -> dropped) + PII redaction
    // (emails/IPs planted on every 7th doc are masked LAST, with
    // per-kind counts for the release audit). Still ONE plan; the
    // oracle replays all eight operators end-to-end bit-for-bit.
    "q113_curation_release" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" contato"), col("doc_id"),
            lit("@exemplo.com 10.0.0."), col("doc_id") % 256))
          .otherwise(col("text")))
      val bench = docs.filter(col("doc_id") % 41 === 0)
        .select(concat_ws(" ",
          slice(llm.TextAnalysis.tokens(col("text")), 1, 24)).as("text"))
      ordered(pipelines.TextCuration.runFull(
        docs, "doc_id", "text", "lang",
        minQuality = 0.19, spanWindow = 5, spanMaxDocs = 2,
        targetFraction = 0.5, benchmark = bench, decontamN = 5))
    },

    // Token-budget mixture planner (water-filling): one corpus
    // aggregation -> |sources| availability rows, then the closed-form
    // level: small sources taken whole, large ones capped at the common
    // λ so allocations sum to the budget. At sf0.01 the 26000 budget
    // lands λ between the source sizes, exercising both branches.
    "q115_mixture_plan" -> { (s, dir) =>
      ordered(llm.Curation.mixturePlan(
        Tables.documents(s, dir), "source",
        llm.TextAnalysis.wsTokenCount(col("text")), budget = 26000L))
    },

    // Deterministic epoch reshuffle: shard membership fixed (files never
    // move), within-shard read order re-derived per epoch from
    // md5(epoch:id) — zero RNG state, reproducible on any worker/engine.
    // Two epochs emitted side by side; the oracle replays both orders.
    "q119_epoch_order" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val e0 = llm.Curation.epochOrder(docs.select("doc_id"), "doc_id",
        epoch = 0, nShards = 8).withColumn("epoca", lit(0))
      val e1 = llm.Curation.epochOrder(docs.select("doc_id"), "doc_id",
        epoch = 1, nShards = 8).withColumn("epoca", lit(1))
      ordered(e0.unionByName(e1))
    },

    // T5 span corruption: 5-token blocks masked at 15% by the portable
    // (id, block) percent-hash; input keeps one <extra_id_k> sentinel
    // per masked block, target carries the sentinel-prefixed spans.
    // Pure array expressions — scan-level, zero shuffles.
    "q120_span_corrupt" -> { (s, dir) =>
      ordered(llm.Curation.spanCorrupt(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", blockLen = 5, maskPct = 15))
    },

    // DSIR importance resampling (Xie et al. 2023): the 'en' slice is
    // the target distribution, everything else the raw pool; hashed
    // unigram+bigram bucket counts on both sides, per-doc mean of the
    // smoothed p_target/p_raw bucket ratios (log-free, DECIMAL-exact),
    // selecionado = more target-like than raw-like. The model is two
    // 1024-row count tables — fit once, reusable across batches.
    "q121_dsir_select" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      ordered(llm.Curation.dsirScore(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"),
        "doc_id", "text", buckets = 1024))
    },

    // Right-to-erasure propagation audit (the LGPD/GDPR cascade the
    // reference's subject data would owe): per registered table, one
    // broadcast-probe pass counting rows the erasure touches and rows
    // remaining — the before/after proof a deletion job ships. Oracle
    // replays both table probes.
    "q149_erasure_audit" -> { (s, dir) =>
      val keys = Tables.customer(s, dir)
        .filter(col("c_custkey") % 13 === 0).select("c_custkey")
      ordered(llm.Privacy.erasureReport(Seq(
        ("customer", Tables.customer(s, dir), "c_custkey"),
        ("orders", Tables.orders(s, dir), "o_custkey")),
        keys, "c_custkey"))
    },

    // PPS systematic sampling: n selection points along the cumulative
    // weight axis of an md5-shuffled corpus — inclusion probability
    // proportional to n_chars, sample size hit deterministically (a
    // Bernoulli keep only matches the target in expectation). The
    // global cumulative decomposes into 256 order-prefix buckets
    // (bounded windows + a broadcast offset table — never a
    // single-partition sort); DECIMAL cumsums and one IEEE
    // multiply/divide/floor per interval end make the kept set and each
    // row's point multiplicity engine-exact.
    "q153_pps_sample" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "lang", "n_chars")
      ordered(llm.Curation.ppsSample(d, "doc_id", "n_chars", n = 60))
    },

    // §2 row 238 — priority sampling (Duffield–Lund–Thorup JACM 2007):
    // top-k of w/u per group with u = (md5-low-48 + 0.5)/2^48, the
    // (k+1)-th priority as the estimator threshold. One IEEE division
    // decides the sample — no pow/ln, no libm divergence.
    "q224_priority_sample" -> { (s, dir) =>
      ordered(operators.PrioritySample.prioritySample(
        Tables.orders(s, dir), Seq("o_orderstatus"), "o_orderkey",
        "o_totalprice", k = 100))
    },
  )

  protected def oraclesCuration: Map[String, String] = Map(

    "q232_negative_sampling" ->
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS u, l_partkey AS i
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |cnt AS (SELECT i, count(*) AS n FROM pos GROUP BY i),
        |wt AS (SELECT i,
        |    CAST(floor(sqrt(sqrt(CAST(
        |      CAST(n AS DECIMAL(38,0)) * n * n AS DOUBLE))) * 1000000.0)
        |      AS BIGINT) AS w
        |  FROM cnt),
        |cum AS (SELECT i, w, sum(w) OVER (ORDER BY i) AS hi FROM wt),
        |cum2 AS (SELECT i, hi - w AS lo, hi FROM cum),
        |tot AS (SELECT max(hi) AS total FROM cum),
        |draws AS (
        |  SELECT u, i, j,
        |    CAST(floor(((CAST(CAST(('0x' || substring(
        |      md5(u || ':' || i || ':' || j), 1, 12)) AS BIGINT)
        |      AS DOUBLE) + 0.5) / 281474976710656.0)
        |      * CAST(total AS DOUBLE)) AS BIGINT) AS t
        |  FROM pos CROSS JOIN tot
        |  CROSS JOIN (SELECT unnest(range(1, 3)) AS j))
        |SELECT d.u AS usuario, d.i AS item, CAST(d.j AS BIGINT) AS sorteio,
        |  c.i AS item_negativo
        |FROM draws d JOIN cum2 c ON d.t >= c.lo AND d.t < c.hi
        |WHERE c.i <> d.i
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q224_priority_sample" ->
      """WITH s AS (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(o_totalprice AS DOUBLE) AS peso,
        |    (CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),
        |      1, 12)) AS BIGINT) + 0.5) / 281474976710656.0 AS u
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |p AS (SELECT o_orderstatus, o_orderkey, peso,
        |    peso / u AS prioridade FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY prioridade DESC, o_orderkey ASC) AS rn FROM p),
        |tau AS (SELECT o_orderstatus,
        |    coalesce(max(CASE WHEN rn = 101 THEN prioridade END), 0.0)
        |      AS tau
        |  FROM r GROUP BY o_orderstatus)
        |SELECT o_orderstatus, o_orderkey, peso, prioridade,
        |  CASE WHEN peso > tau THEN peso ELSE tau END AS peso_estimado
        |FROM r JOIN tau USING (o_orderstatus) WHERE rn <= 100
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q48_seq_packing" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS tokens_est
        |  FROM documents),
        |o AS (
        |  SELECT lang, tokens_est,
        |    coalesce(sum(tokens_est) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM d)
        |SELECT lang, CAST(floor(off / 2048) AS BIGINT) AS bin,
        |  count(*) AS docs, CAST(sum(tokens_est) AS BIGINT) AS tokens,
        |  round(CAST(sum(tokens_est) AS DOUBLE) / 2048.0, 6) AS preenchimento
        |FROM o GROUP BY 1, 2 ORDER BY ALL NULLS FIRST""".stripMargin,

    "q49_stratified_sample" ->
      """SELECT * FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |  < CASE lang WHEN 'en' THEN 37 WHEN 'pt' THEN 81 ELSE 55 END
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Reproduces the token-window fan-out: same whitespace tokenization,
    // 1-based inclusive list slices of 40 tokens every 30, short tail kept.
    "q53_text_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    1 + CAST(ceil(greatest(len(tk) - 40, 0) / 30.0) AS INT) AS nch
        |  FROM t)
        |SELECT doc_id,
        |  CAST(u.i AS INT) AS chunk_idx,
        |  array_to_string(tk[u.i * 30 + 1 : u.i * 30 + 40], ' ') AS chunk_text,
        |  CAST(least(n - u.i * 30, 40) AS INT) AS chunk_tokens
        |FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Rebuilds the same PII-injected text, replays the same three rewrites
    // (email → phone → IP) and counts matches on the source text. The
    // patterns are restricted to syntax with identical Java-regex/RE2
    // semantics.
    "q58_pii_redact" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contato: user' || CAST(doc_id AS VARCHAR)
        |         || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.com.br' ELSE '' END
        |    || CASE WHEN doc_id % 9 = 0 THEN ' cc admin@site.org' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' tel ('
        |         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ') 9'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' ip ' || CAST(doc_id % 256 AS VARCHAR)
        |         || '.0.' || CAST(doc_id % 100 AS VARCHAR) || '.1' ELSE '' END
        |    AS texto
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(texto,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\(\d{2}\)\s?\d{4,5}-\d{4}', '<TELEFONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS texto_limpo,
        |  CAST(len(regexp_extract_all(texto,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(texto,
        |    '\(\d{2}\)\s?\d{4,5}-\d{4}')) AS BIGINT) AS n_telefones,
        |  CAST(len(regexp_extract_all(texto,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
        |FROM d ORDER BY ALL NULLS FIRST""".stripMargin,

    // Distinct-trigram overlap of each corpus doc against the benchmark
    // slice's union of trigrams — the count of a doc's own distinct
    // shingles that appear anywhere in the benchmark.
    "q60_decontam" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
        |    THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
        |    ELSE [] END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS s FROM k WHERE doc_id % 97 = 0),
        |hits AS (SELECT doc_id, count(*) AS n FROM
        |  (SELECT doc_id, unnest(sh) AS s FROM k WHERE doc_id % 97 <> 0) c
        |  JOIN bench USING (s) GROUP BY 1)
        |SELECT k.doc_id,
        |  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_compartilhados,
        |  coalesce(hits.n, 0) > 0 AS contaminado
        |FROM k LEFT JOIN hits USING (doc_id)
        |WHERE k.doc_id % 97 <> 0
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same dirty text (decomposed accent via chr(769), tab, double spaces,
    // BEL), normalized by DuckDB's own nfc_normalize + the same two
    // rewrites; lengths count Unicode code points in both engines.
    "q62_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || ' e' || chr(769) || '  tab' || chr(9)
        |      || 'here ' || chr(7) || ' fim' AS texto
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, length(texto) AS n_antes,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(texto),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS texto_norm
        |  FROM d)
        |SELECT doc_id, CAST(n_antes AS BIGINT) AS n_antes, texto_norm,
        |  CAST(length(texto_norm) AS BIGINT) AS n_depois
        |FROM n ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same md5 shard hash (first 32 bits mod 32) and manifest aggregates.
    "q63_shard_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS BIGINT) AS tokens_est
        |  FROM documents)
        |SELECT
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32
        |    AS shard,
        |  count(*) AS docs, CAST(sum(tokens_est) AS BIGINT) AS tokens,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max
        |FROM d GROUP BY 1 ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same synthesized URLs; domain via the same regex; blocklist as a
    // NOT IN over the same three domains.
    "q64_domain_filter" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'https://' || CASE WHEN doc_id % 13 = 0 THEN 'spam-mill.example'
        |                       WHEN doc_id % 13 = 1 THEN 'seo-farm.example'
        |                       ELSE source || '-site.example' END
        |      || '/art/' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS dominio
        |  FROM d)
        |SELECT * FROM x
        |WHERE dominio NOT IN ('spam-mill.example', 'seo-farm.example', 'unused.example')
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same integer keep-rates (floor of the identical IEEE division) and
    // the same md5 percent-hash membership.
    "q66_mixture_cap" ->
      """WITH r AS (
        |  SELECT lang, least(100, CAST(floor(8000.0 / count(*)) AS BIGINT)) AS taxa_pct
        |  FROM documents GROUP BY 1)
        |SELECT d.lang, d.doc_id, d.source, r.taxa_pct
        |FROM documents d JOIN r USING (lang)
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
        |  < r.taxa_pct
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Rebuilds the same page and replays the identical extraction chain:
    // five container drops, tag strip, entity decode (amp last), collapse.
    "q67_html_extract" ->
      """WITH pg AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
        |    || '</title><style>p{margin:0}</style></head><body>'
        |    || '<nav><a href="/">home</a> | <a href="/d">docs</a></nav>'
        |    || '<h1>artigo ' || CAST(doc_id AS VARCHAR) || '</h1><p>'
        |    || text || ' a &amp; b &lt;ok&gt;</p>'
        |    || '<script>var x = 1 &amp;&amp; 2;</script>'
        |    || '<footer>&copy; 2026 rodape</footer></body></html>' AS html
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, html,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |            regexp_replace(html,
        |              '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
        |              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |              '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
        |              '(?is)<footer[^>]*>.*?</footer>', ' ', 'g'),
        |          '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS texto
        |  FROM pg)
        |SELECT doc_id,
        |  CAST(length(html) AS BIGINT) AS n_chars_html,
        |  texto,
        |  CAST(length(texto) AS BIGINT) AS n_chars_texto,
        |  CAST(length(texto) AS DOUBLE)
        |    / CAST(greatest(length(html), 1) AS DOUBLE) AS densidade
        |FROM x ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same integer-rank discrete quantiles (rank = max(1, ceil(p*n)) in
    // each language's sorted order) and the same inclusive bounds filter.
    "q68_quantile_filter" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, lang, n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM d),
        |b AS (SELECT lang,
        |    min(CASE WHEN rn >= greatest(1,
        |      CAST(ceil(0.05 * CAST(n AS DOUBLE)) AS BIGINT)) THEN n_tokens END) AS lo,
        |    min(CASE WHEN rn >= greatest(1,
        |      CAST(ceil(0.95 * CAST(n AS DOUBLE)) AS BIGINT)) THEN n_tokens END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_tokens, b.lo, b.hi
        |FROM d JOIN b USING (lang)
        |WHERE n_tokens >= lo AND n_tokens <= hi
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same equivalence classes (lang x size decile), same k>=12 gate.
    "q69_k_anonymity" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST(n_chars // 100 AS BIGINT) AS faixa_tamanho
        |  FROM documents),
        |c AS (SELECT lang, faixa_tamanho, count(*) AS grupo_n
        |  FROM d GROUP BY 1, 2 HAVING count(*) >= 12)
        |SELECT d.lang, d.faixa_tamanho, d.doc_id,
        |  CAST(c.grupo_n AS BIGINT) AS grupo_n
        |FROM d JOIN c USING (lang, faixa_tamanho)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same seeded boilerplate, same 10-token non-overlapping chunk
    // fan-out, same global first-occurrence keep, same ordered rebuild.
    "q71_chunk_purge" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'este conteudo esta licenciado sob os termos da licenca publica '
        |        || text
        |      ELSE text END AS texto
        |  FROM documents),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(texto)), '\s+') AS tk
        |  FROM d),
        |c AS (SELECT doc_id, tk, len(tk) AS n,
        |    1 + CAST(ceil(greatest(len(tk) - 10, 0) / 10.0) AS INT) AS nch
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |    array_to_string(tk[u.i * 10 + 1 : u.i * 10 + 10], ' ') AS chunk_text
        |  FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)),
        |k AS (SELECT *, row_number()
        |    OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch),
        |reb AS (SELECT doc_id, count(*) AS kept,
        |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS texto_limpo
        |  FROM k WHERE rn = 1 GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1)
        |SELECT tot.doc_id,
        |  coalesce(reb.texto_limpo, '') AS texto_limpo,
        |  CAST(tot.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(tot.n_chunks - coalesce(reb.kept, 0) AS BIGINT) AS n_removidos
        |FROM tot LEFT JOIN reb USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Span purge replay: q71's chunk fan-out at window 5, frequent set =
    // spans in > 2 distinct docs, every instance of a frequent span
    // dropped, ordered rebuild per doc.
    "q101_span_purge" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |c AS (SELECT doc_id, tk,
        |    1 + CAST(ceil(greatest(len(tk) - 5, 0) / 5.0) AS INT) AS nch
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |    array_to_string(tk[u.i * 5 + 1 : u.i * 5 + 5], ' ') AS chunk_text
        |  FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)),
        |f AS (SELECT chunk_text, true AS hit FROM ch
        |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) > 2),
        |k AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.hit
        |  FROM ch LEFT JOIN f USING (chunk_text)),
        |reb AS (SELECT doc_id, count(*) AS kept,
        |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS texto_limpo
        |  FROM k WHERE hit IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1)
        |SELECT tot.doc_id,
        |  coalesce(reb.texto_limpo, '') AS texto_limpo,
        |  CAST(tot.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(tot.n_chunks - coalesce(reb.kept, 0) AS BIGINT) AS n_removidos
        |FROM tot LEFT JOIN reb USING (doc_id)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Temperature resample replay: per-language counts, sqrt weights
    // summed in DECIMAL(38,12), left-associative probability chain and
    // the md5-uniform keep test — identical IEEE op sequence both sides.
    "q102_temperature_sample" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS cd
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, cd, sqrt(CAST(cd AS DOUBLE)) AS wd FROM c),
        |t AS (SELECT CAST(sum(cd) AS HUGEINT) AS n,
        |    CAST(CAST(sum(CAST(wd AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) AS wsum
        |  FROM w),
        |p AS (
        |  SELECT lang,
        |    least(1.0, wd / wsum * 0.5 * CAST(n AS DOUBLE) / CAST(cd AS DOUBLE))
        |      AS p_keep
        |  FROM w, t)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars, p.p_keep
        |FROM documents d JOIN p USING (lang)
        |WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) AS DOUBLE) / 4294967296.0 < p_keep
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Whole-chain replay: q25's dedup, q32's quality arithmetic, q101's
    // span purge and q102's resample composed in one WITH chain — every
    // fragment individually hash-validated, the composition exact too.
    "q103_curation_pipeline" ->
      """WITH kmin AS (SELECT text, min(doc_id) AS keep FROM documents GROUP BY text),
        |dd AS (SELECT d.doc_id, d.lang, d.text FROM documents d
        |  JOIN kmin ON d.text = kmin.text AND d.doc_id = kmin.keep),
        |sc AS (SELECT doc_id, lang, text,
        |  0.4 * (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |         / greatest(CAST(len(tk) AS DOUBLE), 1.0)) +
        |  0.3 * least(1.0,
        |    (CAST(list_aggregate(list_transform(tk, t -> len(t)), 'sum') AS DOUBLE)
        |     / greatest(CAST(len(tk) AS DOUBLE), 1.0)) / 8.0) -
        |  0.2 * (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0)) -
        |  0.1 * (CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0))
        |    AS qualidade
        |  FROM (SELECT doc_id, lang, text,
        |          string_split_regex(trim(lower(text)), '\s+') AS tk
        |        FROM dd)),
        |qf AS (SELECT * FROM sc WHERE qualidade >= 0.19),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM qf),
        |c AS (SELECT doc_id, tk,
        |    1 + CAST(ceil(greatest(len(tk) - 5, 0) / 5.0) AS INT) AS nch
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |    array_to_string(tk[u.i * 5 + 1 : u.i * 5 + 5], ' ') AS chunk_text
        |  FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)),
        |f AS (SELECT chunk_text, true AS hit FROM ch
        |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) > 2),
        |kk AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.hit
        |  FROM ch LEFT JOIN f USING (chunk_text)),
        |reb AS (SELECT doc_id, count(*) AS kept,
        |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS texto_limpo
        |  FROM kk WHERE hit IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |pg AS (SELECT tot.doc_id,
        |    coalesce(reb.texto_limpo, '') AS texto_limpo,
        |    CAST(tot.n_chunks - coalesce(reb.kept, 0) AS BIGINT) AS n_removidos
        |  FROM tot LEFT JOIN reb USING (doc_id)),
        |j AS (SELECT qf.doc_id, qf.lang, qf.qualidade, pg.texto_limpo,
        |    pg.n_removidos
        |  FROM qf JOIN pg USING (doc_id)),
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS cd FROM j GROUP BY lang),
        |w AS (SELECT lang, cd, sqrt(CAST(cd AS DOUBLE)) AS wd FROM cnt),
        |tt AS (SELECT CAST(sum(cd) AS HUGEINT) AS n,
        |    CAST(CAST(sum(CAST(wd AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) AS wsum
        |  FROM w),
        |p AS (SELECT lang,
        |    least(1.0, wd / wsum * 0.5 * CAST(n AS DOUBLE) / CAST(cd AS DOUBLE))
        |      AS p_keep
        |  FROM w, tt)
        |SELECT j.doc_id, j.lang, j.qualidade, j.texto_limpo, j.n_removidos,
        |  p.p_keep
        |FROM j JOIN p USING (lang)
        |WHERE CAST(CAST(('0x' || substring(md5(CAST(j.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) AS DOUBLE) / 4294967296.0 < p_keep
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // q103's chain with the fuzzy stage on: q26's full portable-MinHash
    // replay runs on the exact-deduped set, verified pairs drop their
    // greater id, and the quality/purge/resample chain continues from
    // the survivors — all six operators in one WITH chain, bit-for-bit.
    "q105_curation_fuzzy" -> {
      val mins = (0 until 20).map(s =>
        s"min((h1 + $s*h2) % 4294967291) AS s$s").mkString(",\n|    ")
      val bands = (0 until 5).map { b =>
        val cols = (0 until 4).map(r => s"s${b * 4 + r}").mkString(", ")
        if (b == 0) s"SELECT id, 0 AS band, concat_ws(',', $cols) AS bhash FROM sigs"
        else s"UNION ALL SELECT id, $b, concat_ws(',', $cols) FROM sigs"
      }.mkString("\n|  ")
      s"""WITH all_docs AS (
        |  SELECT doc_id, lang, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang,
        |    array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[2:], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |kmin AS (SELECT text, min(doc_id) AS keep FROM all_docs GROUP BY text),
        |dd AS (SELECT d.doc_id, d.lang, d.text FROM all_docs d
        |  JOIN kmin ON d.text = kmin.text AND d.doc_id = kmin.keep),
        |t AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM dd),
        |k AS (
        |  SELECT id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |shrows AS (
        |  SELECT id, CAST(('0x' || substring(m, 1, 8)) AS BIGINT) AS h1,
        |             CAST(('0x' || substring(m, 9, 8)) AS BIGINT) AS h2
        |  FROM (SELECT id, md5(unnest(sh)) AS m FROM k)),
        |sigs AS (
        |  SELECT id,
        |    $mins
        |  FROM shrows GROUP BY id),
        |buckets AS (
        |  $bands),
        |prs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |vp AS (
        |  SELECT p.id_a, p.id_b
        |  FROM prs p JOIN k ka ON p.id_a = ka.id JOIN k kb ON p.id_b = kb.id
        |  WHERE CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE) /
        |    (CAST(len(ka.sh) AS DOUBLE) + CAST(len(kb.sh) AS DOUBLE)
        |     - CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE)) >= 0.5),
        |fd AS (SELECT * FROM dd
        |  WHERE doc_id NOT IN (SELECT id_b FROM vp)),
        |sc AS (SELECT doc_id, lang, text,
        |  0.4 * (CAST(len(list_filter(tk2, t2 -> t2 IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |         / greatest(CAST(len(tk2) AS DOUBLE), 1.0)) +
        |  0.3 * least(1.0,
        |    (CAST(list_aggregate(list_transform(tk2, t2 -> len(t2)), 'sum') AS DOUBLE)
        |     / greatest(CAST(len(tk2) AS DOUBLE), 1.0)) / 8.0) -
        |  0.2 * (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0)) -
        |  0.1 * (CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0))
        |    AS qualidade
        |  FROM (SELECT doc_id, lang, text,
        |          string_split_regex(trim(lower(text)), '\\s+') AS tk2
        |        FROM fd)),
        |qf AS (SELECT * FROM sc WHERE qualidade >= 0.19),
        |tq AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM qf),
        |c AS (SELECT doc_id, tk,
        |    1 + CAST(ceil(greatest(len(tk) - 5, 0) / 5.0) AS INT) AS nch
        |  FROM tq),
        |ch AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |    array_to_string(tk[u.i * 5 + 1 : u.i * 5 + 5], ' ') AS chunk_text
        |  FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)),
        |f AS (SELECT chunk_text, true AS hit FROM ch
        |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) > 2),
        |kk AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.hit
        |  FROM ch LEFT JOIN f USING (chunk_text)),
        |reb AS (SELECT doc_id, count(*) AS kept,
        |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS texto_limpo
        |  FROM kk WHERE hit IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |pg AS (SELECT tot.doc_id,
        |    coalesce(reb.texto_limpo, '') AS texto_limpo,
        |    CAST(tot.n_chunks - coalesce(reb.kept, 0) AS BIGINT) AS n_removidos
        |  FROM tot LEFT JOIN reb USING (doc_id)),
        |j AS (SELECT qf.doc_id, qf.lang, qf.qualidade, pg.texto_limpo,
        |    pg.n_removidos
        |  FROM qf JOIN pg USING (doc_id)),
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS cd FROM j GROUP BY lang),
        |w AS (SELECT lang, cd, sqrt(CAST(cd AS DOUBLE)) AS wd FROM cnt),
        |tt AS (SELECT CAST(sum(cd) AS HUGEINT) AS n,
        |    CAST(CAST(sum(CAST(wd AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) AS wsum
        |  FROM w),
        |p AS (SELECT lang,
        |    least(1.0, wd / wsum * 0.5 * CAST(n AS DOUBLE) / CAST(cd AS DOUBLE))
        |      AS p_keep
        |  FROM w, tt)
        |SELECT j.doc_id, j.lang, j.qualidade, j.texto_limpo, j.n_removidos,
        |  p.p_keep
        |FROM j JOIN p USING (lang)
        |WHERE CAST(CAST(('0x' || substring(md5(CAST(j.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) AS DOUBLE) / 4294967296.0 < p_keep
        |ORDER BY ALL NULLS FIRST""".stripMargin
    },

    // Sliding spans replayed: starts every 2 tokens (full 5-windows
    // only), doc-frequency > 2 over distinct docs, covered positions
    // from hit spans, token-stream left join, ordered rebuild.
    "q107_span_purge_sliding" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS s,
        |    array_to_string(tk[u.i + 1 : u.i + 5], ' ') AS span
        |  FROM t, LATERAL unnest(generate_series(0, len(tk) - 5, 2)) u(i)
        |  WHERE len(tk) >= 5),
        |f AS (SELECT span FROM sp GROUP BY span
        |      HAVING count(DISTINCT doc_id) > 2),
        |h AS (
        |  SELECT DISTINCT sp.doc_id, CAST(u.p AS INT) AS pos
        |  FROM sp JOIN f USING (span),
        |    LATERAL unnest(generate_series(sp.s, sp.s + 4)) u(p)),
        |tok AS (
        |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, tk[CAST(u.i AS INT)] AS tok
        |  FROM t, LATERAL unnest(generate_series(1, len(tk))) u(i)),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.tok, h2.cov
        |  FROM tok LEFT JOIN (SELECT doc_id, pos, true AS cov FROM h) h2
        |    USING (doc_id, pos))
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN cov IS NULL THEN tok END, ' '
        |    ORDER BY pos), '') AS texto_limpo,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cov IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_removidos
        |FROM kept GROUP BY doc_id
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Group-hash split + per-(split, lang) mixture stats; the md5 percent
    // hash is the pctHash contract (first 32 md5 bits mod 100).
    "q112_leakage_split" ->
      """WITH s AS (
        |  SELECT *,
        |    CASE WHEN CAST(('0x' || substring(md5(source || 'v1'), 1, 8)) AS BIGINT) % 100 < 25
        |         THEN 'val' ELSE 'train' END AS split
        |  FROM documents)
        |SELECT split, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_fontes
        |FROM s GROUP BY split, lang
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // q103's five-operator replay + decontamination (5-gram overlap vs
    // the every-41st-doc eval suite) + PII redaction with counts from
    // the pre-redaction text — the full eight-operator release chain.
    "q113_curation_release" ->
      """WITH src AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN text || ' contato' || CAST(doc_id AS VARCHAR) ||
        |           '@exemplo.com 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      ELSE text END AS text, lang
        |  FROM documents),
        |kmin AS (SELECT text, min(doc_id) AS keep FROM src GROUP BY text),
        |dd AS (SELECT d.doc_id, d.lang, d.text FROM src d
        |  JOIN kmin ON d.text = kmin.text AND d.doc_id = kmin.keep),
        |sc AS (SELECT doc_id, lang, text,
        |  0.4 * (CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |         / greatest(CAST(len(tk) AS DOUBLE), 1.0)) +
        |  0.3 * least(1.0,
        |    (CAST(list_aggregate(list_transform(tk, t -> len(t)), 'sum') AS DOUBLE)
        |     / greatest(CAST(len(tk) AS DOUBLE), 1.0)) / 8.0) -
        |  0.2 * (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0)) -
        |  0.1 * (CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |         / greatest(CAST(len(text) AS DOUBLE), 1.0))
        |    AS qualidade
        |  FROM (SELECT doc_id, lang, text,
        |          string_split_regex(trim(lower(text)), '\s+') AS tk
        |        FROM dd)),
        |qf AS (SELECT * FROM sc WHERE qualidade >= 0.19),
        |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM qf),
        |c AS (SELECT doc_id, tk,
        |    1 + CAST(ceil(greatest(len(tk) - 5, 0) / 5.0) AS INT) AS nch
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(u.i AS INT) AS chunk_idx,
        |    array_to_string(tk[u.i * 5 + 1 : u.i * 5 + 5], ' ') AS chunk_text
        |  FROM c, LATERAL unnest(generate_series(0, nch - 1)) u(i)),
        |f AS (SELECT chunk_text, true AS hit FROM ch
        |  GROUP BY chunk_text HAVING count(DISTINCT doc_id) > 2),
        |kk AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk_text, f.hit
        |  FROM ch LEFT JOIN f USING (chunk_text)),
        |reb AS (SELECT doc_id, count(*) AS kept,
        |    string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS texto_limpo
        |  FROM kk WHERE hit IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |pg AS (SELECT tot.doc_id,
        |    coalesce(reb.texto_limpo, '') AS texto_limpo,
        |    CAST(tot.n_chunks - coalesce(reb.kept, 0) AS BIGINT) AS n_removidos
        |  FROM tot LEFT JOIN reb USING (doc_id)),
        |j AS (SELECT qf.doc_id, qf.lang, qf.qualidade, pg.texto_limpo,
        |    pg.n_removidos
        |  FROM qf JOIN pg USING (doc_id)),
        |cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS cd FROM j GROUP BY lang),
        |w AS (SELECT lang, cd, sqrt(CAST(cd AS DOUBLE)) AS wd FROM cnt),
        |tt AS (SELECT CAST(sum(cd) AS HUGEINT) AS n,
        |    CAST(CAST(sum(CAST(wd AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS DOUBLE) AS wsum
        |  FROM w),
        |p AS (SELECT lang,
        |    least(1.0, wd / wsum * 0.5 * CAST(n AS DOUBLE) / CAST(cd AS DOUBLE))
        |      AS p_keep
        |  FROM w, tt),
        |fin AS (SELECT j.doc_id, j.lang, j.qualidade, j.texto_limpo,
        |    j.n_removidos, p.p_keep
        |  FROM j JOIN p USING (lang)
        |  WHERE CAST(CAST(('0x' || substring(md5(CAST(j.doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) AS DOUBLE) / 4294967296.0 < p_keep),
        |bsh AS (SELECT DISTINCT s FROM (
        |  SELECT unnest(CASE WHEN len(btk) >= 5
        |    THEN [array_to_string(btk[i:i+4], ' ') for i in range(1, len(btk) - 3)]
        |    ELSE [] END) AS s
        |  FROM (SELECT string_split_regex(trim(lower(
        |          array_to_string(tk[1:24], ' '))), '\s+') AS btk
        |        FROM (SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
        |              FROM src WHERE doc_id % 41 = 0)))),
        |dsh AS (SELECT doc_id, list_distinct(CASE WHEN len(ck) >= 5
        |    THEN [array_to_string(ck[i:i+4], ' ') for i in range(1, len(ck) - 3)]
        |    ELSE [] END) AS sh
        |  FROM (SELECT doc_id,
        |          string_split_regex(trim(lower(texto_limpo)), '\s+') AS ck
        |        FROM fin)),
        |hits AS (SELECT doc_id, count(*) AS n FROM
        |  (SELECT doc_id, unnest(sh) AS s FROM dsh) cc JOIN bsh USING (s)
        |  GROUP BY 1),
        |dec AS (SELECT fin.doc_id, fin.lang, fin.qualidade, fin.n_removidos,
        |    fin.p_keep, fin.texto_limpo AS tl
        |  FROM fin LEFT JOIN hits USING (doc_id)
        |  WHERE coalesce(hits.n, 0) = 0)
        |SELECT doc_id, lang, qualidade, n_removidos, p_keep,
        |  regexp_replace(regexp_replace(regexp_replace(tl,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\(\d{2}\)\s?\d{4,5}-\d{4}', '<TELEFONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
        |    AS texto_limpo,
        |  CAST(len(regexp_extract_all(tl,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(tl,
        |    '\(\d{2}\)\s?\d{4,5}-\d{4}')) AS BIGINT) AS n_telefones,
        |  CAST(len(regexp_extract_all(tl,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips
        |FROM dec
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Water-filling replay: ascending availability order, whole-prefix
    // test, then the common level for the capped tail.
    "q115_mixture_plan" ->
      """WITH a AS (SELECT source,
        |    CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT) AS c
        |  FROM documents GROUP BY source),
        |r AS (SELECT source, c,
        |    row_number() OVER (ORDER BY c, source) AS rk,
        |    coalesce(sum(c) OVER (ORDER BY c, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
        |    count(*) OVER () AS n
        |  FROM a),
        |f AS (SELECT *, c * (n - rk + 1) + prefix <= 26000 AS inteiro FROM r),
        |l AS (SELECT sum(CASE WHEN inteiro THEN c ELSE 0 END) AS wsum,
        |    sum(CASE WHEN inteiro THEN 1 ELSE 0 END) AS k FROM f)
        |SELECT source, c AS tokens_disponiveis, inteiro,
        |  CASE WHEN inteiro THEN CAST(c AS DOUBLE)
        |    ELSE CAST(26000 - l.wsum AS DOUBLE) / CAST(f.n - l.k AS DOUBLE)
        |    END AS tokens_alocados,
        |  least(1.0, CASE WHEN inteiro THEN 1.0
        |    ELSE (CAST(26000 - l.wsum AS DOUBLE) / CAST(f.n - l.k AS DOUBLE))
        |         / CAST(c AS DOUBLE) END) AS taxa
        |FROM f, l
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Fixed shard hash + per-epoch md5(epoch:id) order, ties by id.
    "q119_epoch_order" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
        |      AS shard
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, shard, 0 AS epoca,
        |    CAST(('0x' || substring(md5('0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM d
        |  UNION ALL
        |  SELECT doc_id, shard, 1,
        |    CAST(('0x' || substring(md5('1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |  FROM d)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY epoca, shard
        |    ORDER BY h, doc_id) AS BIGINT) AS posicao,
        |  epoca
        |FROM e
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same (id, block) percent-hash mask, sentinel numbering by prefix
    // count of masked blocks, block slices identical on both sides.
    "q120_span_corrupt" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk,
        |    CAST(ceil(len(string_split_regex(trim(lower(text)), '\s+')) / 5.0) AS INT)
        |      AS nb
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, tk, greatest(nb, 1) AS nb,
        |    [CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |        CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 15
        |     for b in range(0, greatest(nb, 1))] AS masked
        |  FROM t)
        |SELECT doc_id,
        |  array_to_string(
        |    [CASE WHEN masked[b + 1]
        |       THEN '<extra_id_' ||
        |            CAST(len(list_filter(masked[1:b], x -> x)) AS VARCHAR) || '>'
        |       ELSE array_to_string(tk[b * 5 + 1 : b * 5 + 5], ' ') END
        |     for b in range(0, nb)], ' ') AS entrada,
        |  coalesce(array_to_string(
        |    ['<extra_id_' ||
        |       CAST(len(list_filter(masked[1:b], x -> x)) AS VARCHAR) || '> ' ||
        |       array_to_string(tk[b * 5 + 1 : b * 5 + 5], ' ')
        |     for b in range(0, nb) if masked[b + 1]], ' '), '') AS alvo,
        |  CAST(nb AS BIGINT) AS n_blocos,
        |  CAST(len(list_filter(masked, x -> x)) AS BIGINT) AS n_mascarados
        |FROM m
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same hashed unigram+bigram buckets as q109, same log-free ratio
    // arithmetic: exact integer products, one IEEE division per bucket,
    // DECIMAL(38,18) per-doc sum, one final mean division.
    "q121_dsir_select" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, lang, unnest(tk) AS g FROM t
        |  UNION ALL
        |  SELECT doc_id, lang, unnest([array_to_string(tk[i:i+1], ' ')
        |                               for i in range(1, len(tk))]) AS g
        |  FROM t WHERE len(tk) >= 2),
        |b AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM feats WHERE g <> ''),
        |ct AS (SELECT bucket, count(*) AS c_t FROM b WHERE lang = 'en'
        |       GROUP BY bucket),
        |cr AS (SELECT bucket, count(*) AS c_r FROM b WHERE lang <> 'en'
        |       GROUP BY bucket),
        |tot AS (SELECT (SELECT CAST(sum(c_t) AS BIGINT) FROM ct) AS n_t,
        |               (SELECT CAST(sum(c_r) AS BIGINT) FROM cr) AS n_r),
        |ratio AS (
        |  SELECT cr.bucket,
        |    CAST((coalesce(ct.c_t, 0) + 1) * (tot.n_r + 1024) AS DOUBLE) /
        |    CAST((cr.c_r + 1) * (tot.n_t + 1024) AS DOUBLE) AS r
        |  FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tot),
        |s AS (
        |  SELECT doc_id, count(*) AS n_feats,
        |    sum(CAST(r AS DECIMAL(38,18))) AS rsum
        |  FROM b JOIN ratio USING (bucket)
        |  WHERE lang <> 'en'
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
        |  coalesce(CAST(s.rsum AS DOUBLE) / CAST(s.n_feats AS DOUBLE), 0.0)
        |    AS dsir_score,
        |  coalesce(CAST(s.rsum AS DOUBLE) / CAST(s.n_feats AS DOUBLE), 0.0) > 1.0
        |    AS selecionado
        |FROM documents d LEFT JOIN s USING (doc_id)
        |WHERE d.lang <> 'en'
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q149_erasure_audit" ->
      """WITH k AS (
        |  SELECT DISTINCT c_custkey AS kk FROM customer
        |  WHERE c_custkey % 13 = 0),
        |c AS (
        |  SELECT 'customer' AS tabela, CAST(count(*) AS BIGINT) AS n_linhas,
        |    CAST(sum(CASE WHEN kk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_apagar
        |  FROM customer LEFT JOIN k ON c_custkey = kk),
        |o AS (
        |  SELECT 'orders', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN kk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders LEFT JOIN k ON o_custkey = kk)
        |SELECT tabela, n_linhas, n_apagar,
        |  n_linhas - n_apagar AS n_restantes
        |FROM (SELECT * FROM c UNION ALL SELECT * FROM o)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the systematic-PPS walk globally (the engine's 256
    // order-prefix buckets reassemble exactly this order): DECIMAL
    // cumulative weights over (md5(id), id), selection points at
    // k·(W/60) via the identical double multiply/divide/floor per
    // interval end.
    "q153_pps_sample" ->
      """WITH w AS (
        |  SELECT doc_id, lang, n_chars,
        |    md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(n_chars AS DECIMAL(38,6)) AS wd
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_chars, wd,
        |    SUM(wd) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(wd) OVER () AS tot
        |  FROM w)
        |SELECT doc_id, lang, n_chars,
        |  CAST(floor(CAST(cum AS DOUBLE) * 60 / CAST(tot AS DOUBLE)) -
        |       floor(CAST(cum - wd AS DOUBLE) * 60 / CAST(tot AS DOUBLE))
        |    AS BIGINT) AS pontos
        |FROM c
        |WHERE floor(CAST(cum AS DOUBLE) * 60 / CAST(tot AS DOUBLE)) >
        |      floor(CAST(cum - wd AS DOUBLE) * 60 / CAST(tot AS DOUBLE))
        |ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
