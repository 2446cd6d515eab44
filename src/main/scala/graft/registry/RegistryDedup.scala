package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Dbf, HtmlForm, Listing, ParquetSink, ReportCsv, Staging, Tables}
import graft.operators._

/** Deduplication family: exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding,
  * containment, ExactSubstr spans, canonical-URL, persisted band indexes.
  *
  * Registry shard of [[SparkEntry]] — entries moved verbatim; see SURVEY.md §2
  * for the operator-row mapping.
  */
private[graft] trait RegistryDedup extends RegistryBase {

  protected def queriesDedup: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2 row 25 — exact dedup: content-hash groupBy keep-min-id, one
    // shuffle with map-side combine (no window, no join-back).
    "q25_exact_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val dupes = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      ordered(llm.Dedup.exactDedup(docs.unionByName(dupes), "text", "doc_id"))
    },

    // §2 row 26 — MinHash-LSH near-dup: banded buckets, pairs only within
    // buckets, exact-Jaccard verify. Every hash is the portable md5 family,
    // so the FULL pipeline is DuckDB-oracle-checked.
    "q26_minhash_lsh" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      ordered(llm.Dedup.minhashNearDups(
        withPlantedVariants(docs), "doc_id", "text", threshold = 0.5))
    },

    // §2 row 27 — SimHash near-dup: 16-bit chunk blocking + Hamming verify.
    // Portable md5 token hash → DuckDB-oracle-checked end-to-end.
    "q27_simhash" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      ordered(llm.Dedup.simhashPairs(
        withPlantedVariants(docs), "doc_id", "text", maxHamming = 3))
    },

    // §2 row 28 — blocked exact n-gram Jaccard (deterministic blocks →
    // SQL-oracle-checkable candidate scoring).
    "q28_ngram_jaccard" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" zz9")))
      ordered(llm.Dedup.blockedJaccard(docs.unionByName(variants), "doc_id", "text"))
    },

    // §2 row 38 — embedding-cosine near-dup dedup: planted co-directional
    // vectors (float doubling is exact), label-blocked pair generation,
    // decimal-exact cosine threshold.
    "q38_embedding_dedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val variants = emb.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x + x))
      ordered(llm.Dedup.embeddingNearDups(
        emb.unionByName(variants), "vec_id", "embedding", "label", threshold = 0.99))
    },

    // Near-dup pairs → duplicate CLUSTERS: distributed connected
    // components (alternating large/small-star, aggregate-join form — see
    // llm/Components) over a deterministic edge graph with real transitive
    // structure (overlapping chains + in-run cycle bridges + cross-run
    // bridges), singletons unioned back in. The oracle recomputes the
    // same components by recursive-CTE transitive closure.
    "q52_dup_clusters" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
      val edges = o.filter(col("k") % 25 < 10)
        .select(col("k").as("a"), (col("k") + 1).as("b"))
        .unionAll(o.filter(col("k") % 25 === 3)
          .select(col("k").as("a"), (col("k") + 7).as("b")))
        .unionAll(o.filter(col("k") % 100 === 50)
          .select(col("k").as("a"), (col("k") + 25).as("b")))
      val labels = llm.Components.connectedComponents(edges, "a", "b")
      val singles = o.join(labels, o("k") === labels("doc_id"), "left_anti")
        .select(col("k").as("doc_id"), col("k").as("cluster_id"))
      ordered(labels.unionByName(singles))
    },

    // SemDeDup semantic deduplication: scaled-copy duplicates are planted
    // (the q38 seeding — same direction, doubled magnitude, +1M ids);
    // unit-direction k-means cells bound the candidate space, within-cell
    // exact cosine >= 0.99 marks duplicates, lowest id survives per
    // neighbourhood — every planted variant must vanish. k-means is not
    // SQL-reproducible -> rows-only; DedupSpec carries the planted-
    // duplicate correctness (like the q30/q42 ANN paths).
    "q73_semantic_dedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val variants = emb.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x + x))
      ordered(llm.Dedup.semanticDedup(
        emb.unionByName(variants), "vec_id", "embedding",
        nCells = 0, threshold = 0.99) // corpus-sized cells (floor 8)
        .select("vec_id", "label"))
    },

    // Containment near-dup: planted PREFIX documents (first ~40% of
    // tokens at id+1000000) have Jaccard ~0.4 against their source —
    // invisible to q26's threshold — but containment 1.0. Bottom-8
    // md5-hash sketch buckets generate candidates, exact sorted-merge
    // intersection verifies |A∩B|/min(|A|,|B|) ≥ 0.9.
    "q110_containment_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val toks = llm.TextAnalysis.tokens(col("text"))
      val variants = docs.filter(col("doc_id") % 4 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat_ws(" ",
          slice(toks, lit(1),
            greatest(lit(3), floor(size(toks) * 2 / 5)).cast("int"))))
      ordered(llm.Dedup.containmentNearDups(
        docs.unionByName(variants), "doc_id", "text", threshold = 0.9))
    },

    // Cluster-representative selection: the full dedup→cluster→survive
    // composition — q26's verified near-dup pairs, q52's connected
    // components, then keep the HIGHEST-quality member per cluster (ties
    // → min id) via one struct-max aggregation; singletons survive as
    // their own cluster. The oracle replays pairs (md5 LSH), closure
    // (recursive CTE) and the argmax end-to-end.
    "q111_cluster_best" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = llm.CacheScope.persistTracked(withPlantedVariants(docs))
      val pairs = llm.Dedup.minhashNearDups(
        corpus, "doc_id", "text", threshold = 0.5)
      val scored = corpus.select(col("doc_id"),
        llm.TextAnalysis.qualityScore(col("text")).as("qualidade"))
      ordered(llm.Components.keepBestPerCluster(
        pairs.select("id_a", "id_b"), scored, "doc_id", "qualidade"))
    },

    // Incremental ingestion gate: a new batch (exact copies at +3M,
    // drop-first-token near-dups at +1M, token-reversed fresh docs at
    // +2M) checked against the EXISTING corpus — exact content-hash
    // semi-join + cross-corpus banded MinHash near-dups; candidates
    // form only across the batch/corpus boundary, so pair volume is
    // batch-bounded, never corpus². Oracle replays both checks.
    "q117_ingest_gate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val toks = llm.TextAnalysis.tokens(col("text"))
      val batch = docs.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat_ws(" ", slice(toks, 2, 100000)).as("text")))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"),
            concat_ws(" ", reverse(toks)).as("text")))
      ordered(llm.Dedup.ingestGate(batch, docs, "doc_id", "text",
        threshold = 0.5))
    },

    // Signature-only near-dup estimation (Broder's estimator): q26's
    // planted corpus and band buckets, but the verify never rejoins the
    // shingle sets — per pair it folds two 20-long signatures (the
    // 100 TB audit shortcut: re-runs touch no corpus text).
    "q127_minhash_estimate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      ordered(llm.Dedup.estimatedJaccardPairs(
        withPlantedVariants(docs), "doc_id", "text", threshold = 0.5))
    },

    // q127's audit replayed from a PERSISTED SignatureIndex: the closure
    // builds the index once (signatures + band buckets, ~200 bytes/doc),
    // then the pair scan reads ONLY the index — the scoring plan contains
    // no document text at all (plan-asserted in DedupSpec). This is the
    // recurring-audit shape at 100 TB: hash at ingest, every later
    // similarity sweep costs index-scan time. Oracle: identical SQL to
    // q127 — the parquet roundtrip is an identity over the signatures.
    "q130_minhash_index_audit" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val idxDir = scratchDir("graft-sigindex")
      llm.Dedup.writeSignatureIndex(
        withPlantedVariants(docs), "doc_id", "text", idxDir)
      llm.CacheScope.releaseAll()
      ordered(llm.Dedup.estimatedJaccardPairsIndexed(
        llm.Dedup.readSignatureIndex(s, idxDir), threshold = 0.5))
    },

    // Content-defined chunking + chunk-hash dedup (the LBFS/Venti
    // storage-dedup discipline on text): boundaries where the local
    // 3-token shingle hash ≡ 0 mod 16, so an inserted PREFIX only
    // perturbs the first chunk and the chunking re-synchronizes —
    // planted prefix-shifted twins share most chunks with their
    // originals, which whole-doc exact dedup and fixed-offset windows
    // both miss. Per doc: chunk count, chunks also present in another
    // doc, duplicated fraction. Oracle replays shingle hashes, the
    // cumulative boundary window and the hash spread exactly.
    "q133_cdc_chunk_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val prefixed = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("prefixo deslocador inserido aqui "), col("text"))
            .as("text"))
      ordered(llm.Dedup.cdcSharedStats(
        llm.Dedup.cdcChunks(docs.unionByName(prefixed), "doc_id", "text"),
        "doc_id"))
    },

    // EXACT global set-similarity self-join via prefix filtering
    // (AllPairs/PPJoin): every 5-gram-set pair with Jaccard >= 3/5
    // over the whole corpus — no caller blocking (q28's contract), no
    // probabilistic recall (q26/q27's trade). Candidates only where
    // df-ordered prefixes intersect (a provable superset), length
    // filter, exact merge-walk verify with the threshold decided in
    // INTEGERS. 5-grams, not q28's trigrams: the prefix filter's cost
    // follows SET-ELEMENT entropy (candidates ~ Σ prefix-df²), and this
    // synthetic corpus's 31-token vocabulary saturates trigram space at
    // scale (df ~230 at sf1 → ×22 wall at ×10 data, measured) while
    // 5-grams stay near-unique — the same entropy-is-the-lever rule as
    // q142's blocking keys, here exercised at the right operating point.
    "q181_exact_jaccard_join" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" zz9")))
      ordered(llm.SetJoin.jaccardJoinPrefix(
        docs.unionByName(variants), "doc_id", "text",
        thresholdNum = 3, thresholdDen = 5, shingleN = 5))
    },

    // Exact-substring dedup, keep-first (Lee et al. 2022 ExactSubstr):
    // every duplicated 6-token sliding span (stride 1 — the paper's
    // every-position semantics) keeps only its globally-first
    // (doc, start) occurrence; tokens covered by any LATER occurrence
    // drop and the document is rebuilt in order.
    "q200_exact_substr_dedup" -> { (s, dir) =>
      ordered(llm.Curation.dedupExactSubstrings(
        Tables.documents(s, dir).select("doc_id", "text"),
        "doc_id", "text", window = 6, stride = 1))
    },

    // Canonical-URL dedup: every doc's URL plus a deliberately messy
    // refetch variant for doc_id % 3 = 0 (upper-cased scheme/host,
    // explicit :443, www., trailing slash, reordered + tracking params,
    // fragment) — canonicalization must collapse each messy pair to ONE
    // row keeping the smallest id.
    "q213_url_dedup" -> { (s, dir) =>
      val clean = concat(lit("https://www."), col("source"),
        lit("-site.example/art/"), col("doc_id").cast("string"),
        lit("?a=1&b=2"))
      val messy = concat(lit("HTTPS://"), upper(col("source")),
        lit("-SITE.EXAMPLE:443/art/"), col("doc_id").cast("string"),
        lit("/?b=2&utm_campaign=x&a=1#top"))
      val docs = Tables.documents(s, dir)
      val urls = docs.select(col("doc_id"), clean.as("url"))
        .unionByName(docs.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), messy.as("url")))
      ordered(llm.Curation.dedupByCanonicalUrl(urls, "doc_id", "url"))
    },

    // §2 row 233 — winnowing fingerprints (Schleimer/Wilkerson/Aiken
    // MOSS): portable md5 gram hashes, sliding-window rightmost-min as
    // ONE combinable min(struct(hash, -pos)) over bounded window
    // claims. The oracle replays tokenize -> k-gram -> hash -> claim ->
    // argmin exactly (hash = low 60 bits = 15 hex digits, BIGINT both
    // engines).
    "q219_winnow_fingerprints" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      ordered(llm.Winnow.fingerprints(docs, "doc_id", "text", k = 4, w = 4)
        .withColumn("pos", col("pos").cast("long")))
    },
  )

  protected def oraclesDedup: Map[String, String] = Map(

    "q219_winnow_fingerprints" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id % 5 = 0),
        |g AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(tk[i+1:i+4], ' ') AS gram,
        |    len(tk) - 4 AS gmax
        |  FROM t, unnest(range(0, len(tk) - 3)) AS u(i)
        |  WHERE len(tk) >= 4),
        |h AS (
        |  SELECT doc_id, pos, gmax,
        |    CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS hv
        |  FROM g),
        |c AS (
        |  SELECT doc_id, pos, hv, s
        |  FROM h, unnest(generate_series(
        |    greatest(pos - 3, 0),
        |    least(pos, greatest(gmax - 3, 0)))) AS w(s)),
        |sel AS (
        |  SELECT doc_id, s, hv, pos, row_number() OVER (
        |    PARTITION BY doc_id, s ORDER BY hv ASC, pos DESC) AS rn
        |  FROM c)
        |SELECT DISTINCT doc_id, hv AS hash, pos
        |FROM sel WHERE rn = 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q25_exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 3 = 0),
        |k AS (SELECT text, min(doc_id) AS keep FROM all_docs GROUP BY text)
        |SELECT a.* FROM all_docs a
        |JOIN k ON a.text = k.text AND a.doc_id = k.keep
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Full portable-MinHash pipeline replayed in DuckDB: same md5 hash
    // family h_s = (h1 + s·h2) mod 4294967291, same 5×4 banding (bhash =
    // the comma-joined signature slice), same exact-Jaccard verify. Every
    // intermediate stays < 2^37, so BIGINT arithmetic is exact on both
    // engines.
    "q26_minhash_lsh" -> {
      val mins = (0 until 20).map(s =>
        s"min((h1 + $s*h2) % 4294967291) AS s$s").mkString(",\n|    ")
      val bands = (0 until 5).map { b =>
        val cols = (0 until 4).map(r => s"s${b * 4 + r}").mkString(", ")
        if (b == 0) s"SELECT id, 0 AS band, concat_ws(',', $cols) AS bhash FROM sigs"
        else s"UNION ALL SELECT id, $b, concat_ws(',', $cols) FROM sigs"
      }.mkString("\n|  ")
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[2:], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM all_docs),
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
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT p.id_a, p.id_b,
        |    CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE) /
        |    (CAST(len(ka.sh) AS DOUBLE) + CAST(len(kb.sh) AS DOUBLE)
        |     - CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE)) AS jaccard
        |  FROM pairs p JOIN k ka ON p.id_a = ka.id JOIN k kb ON p.id_b = kb.id)
        |WHERE jaccard >= 0.5
        |ORDER BY ALL NULLS FIRST""".stripMargin
    },

    // Portable SimHash replayed in DuckDB: 4×16-bit md5 chunks, 64 signed
    // bit-sums per doc, chunk values as both signature and blocking key,
    // Hamming ≤ 3 verify over the 4-way chunk XOR.
    "q27_simhash" -> {
      val bitsums = (for (j <- 0 until 4; b <- 0 until 16) yield
        s"sum(CASE WHEN (c$j & ${1 << b}) != 0 THEN 1 ELSE -1 END) AS s${j}_$b")
        .mkString(",\n|    ")
      val chunkVals = (0 until 4).map { j =>
        (0 until 16).map(b =>
          s"CASE WHEN s${j}_$b > 0 THEN ${1 << b} ELSE 0 END").mkString("(", " + ", s") AS v$j")
      }.mkString(",\n|    ")
      val hamming = (0 until 4).map(j =>
        s"bit_count(xor(CAST(a.v$j AS BIGINT), CAST(b.v$j AS BIGINT)))").mkString(" +\n|         ")
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[2:], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |tokrows AS (
        |  SELECT id, CAST(('0x' || substring(m, 1, 4)) AS INT) AS c0,
        |             CAST(('0x' || substring(m, 5, 4)) AS INT) AS c1,
        |             CAST(('0x' || substring(m, 9, 4)) AS INT) AS c2,
        |             CAST(('0x' || substring(m, 13, 4)) AS INT) AS c3
        |  FROM (SELECT doc_id AS id,
        |          md5(unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))) AS m
        |        FROM all_docs)),
        |bitsums AS (
        |  SELECT id,
        |    $bitsums
        |  FROM tokrows GROUP BY id),
        |sigs AS (
        |  SELECT id,
        |    $chunkVals
        |  FROM bitsums),
        |chunked AS (
        |  SELECT id, v0, v1, v2, v3, 0 AS band, v0 AS bhash FROM sigs
        |  UNION ALL SELECT id, v0, v1, v2, v3, 1, v1 FROM sigs
        |  UNION ALL SELECT id, v0, v1, v2, v3, 2, v2 FROM sigs
        |  UNION ALL SELECT id, v0, v1, v2, v3, 3, v3 FROM sigs)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    CAST($hamming AS INTEGER) AS hamming
        |  FROM chunked a JOIN chunked b
        |    ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id)
        |WHERE hamming <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin
    },

    "q28_ngram_jaccard" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' zz9'
        |  FROM documents WHERE doc_id % 7 = 0),
        |t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM all_docs),
        |k AS (
        |  SELECT doc_id,
        |    array_to_string(tk[1:2], ' ') AS block,
        |    list_distinct(CASE WHEN len(tk) >= 3
        |      THEN [array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]
        |      ELSE [] END) AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
        |  (CAST(len(a.sh) AS DOUBLE) + CAST(len(b.sh) AS DOUBLE)
        |   - CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE))
        |    AS jaccard
        |FROM k a JOIN k b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q38_embedding_dedup" ->
      """WITH all_e AS (
        |  SELECT vec_id, label, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, label, list_transform(embedding, x -> x + x)
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |n AS (
        |  SELECT vec_id,
        |    sqrt(CAST(list_aggregate(list_transform(embedding,
        |      x -> CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(38,18))),
        |      'sum') AS DOUBLE)) AS nrm
        |  FROM all_e),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
        |    CAST(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
        |      z -> CAST(CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE) AS DECIMAL(38,18))),
        |      'sum') AS DOUBLE) AS dot
        |  FROM all_e a JOIN all_e b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, label, cosine FROM (
        |  SELECT id_a, id_b, label, p.dot / (na.nrm * nb.nrm) AS cosine
        |  FROM p JOIN n na ON p.id_a = na.vec_id JOIN n nb ON p.id_b = nb.vec_id)
        |WHERE cosine >= 0.99 ORDER BY ALL NULLS FIRST""".stripMargin,

    // Recomputes the duplicate clusters by brute-force transitive closure
    // (recursive CTE): cluster = min id reachable over the symmetric edge
    // set; edge-less order keys are their own singleton clusters.
    "q52_dup_clusters" ->
      """WITH RECURSIVE e AS (
        |  SELECT o_orderkey AS a, o_orderkey + 1 AS b FROM orders WHERE o_orderkey % 25 < 10
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey + 7 FROM orders WHERE o_orderkey % 25 = 3
        |  UNION ALL
        |  SELECT o_orderkey, o_orderkey + 25 FROM orders WHERE o_orderkey % 100 = 50),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(n, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.n, sym.b FROM reach JOIN sym ON reach.r = sym.a)
        |SELECT n AS doc_id, LEAST(n, MIN(r)) AS cluster_id FROM reach GROUP BY n
        |UNION ALL
        |SELECT o_orderkey, o_orderkey FROM orders
        |WHERE o_orderkey NOT IN (SELECT a FROM sym)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Bottom-k sketch + exact containment replayed: same md5 word, same
    // bottom-8 per doc (row_number here, the bounded heap there), same
    // intersection-over-smaller-set verify.
    "q110_containment_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(
        |      tk[1:CAST(greatest(3, floor(len(tk) * 2.0 / 5.0)) AS INT)], ' ')
        |  FROM base WHERE doc_id % 4 = 0),
        |t AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM all_docs),
        |k AS (
        |  SELECT id,
        |    list_distinct([array_to_string(tk[i:i+2], ' ')
        |                   for i in range(1, len(tk) - 1)]) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |shrows AS (
        |  SELECT id, CAST(('0x' || substring(m, 1, 8)) AS BIGINT) AS h
        |  FROM (SELECT id, md5(unnest(sh)) AS m FROM k)),
        |bottom AS (
        |  SELECT id, h FROM (
        |    SELECT id, h, row_number() OVER (PARTITION BY id ORDER BY h) AS rn
        |    FROM shrows) WHERE rn <= 8),
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bottom a JOIN bottom b ON a.h = b.h AND a.id < b.id)
        |SELECT id_a, id_b, contencao FROM (
        |  SELECT p.id_a, p.id_b,
        |    CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE) /
        |    least(CAST(len(ka.sh) AS DOUBLE), CAST(len(kb.sh) AS DOUBLE))
        |      AS contencao
        |  FROM pairs p JOIN k ka ON p.id_a = ka.id JOIN k kb ON p.id_b = kb.id)
        |WHERE contencao >= 0.9
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The whole composition replayed: q26's md5-LSH verified pairs, the
    // recursive-CTE transitive closure, per-doc quality, and the
    // per-cluster argmax (window here, struct-max aggregation there).
    "q111_cluster_best" -> {
      val mins = (0 until 20).map(s =>
        s"min((h1 + $s*h2) % 4294967291) AS s$s").mkString(",\n|    ")
      val bands = (0 until 5).map { b =>
        val cols = (0 until 4).map(r => s"s${b * 4 + r}").mkString(", ")
        if (b == 0) s"SELECT id, 0 AS band, concat_ws(',', $cols) AS bhash FROM sigs"
        else s"UNION ALL SELECT id, $b, concat_ws(',', $cols) FROM sigs"
      }.mkString("\n|  ")
      s"""WITH RECURSIVE all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[2:], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id AS id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM all_docs),
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
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bhash = b.bhash AND a.id < b.id),
        |vp AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT c.id_a, c.id_b,
        |      CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE) /
        |      (CAST(len(ka.sh) AS DOUBLE) + CAST(len(kb.sh) AS DOUBLE)
        |       - CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE)) AS jaccard
        |    FROM cand c JOIN k ka ON c.id_a = ka.id JOIN k kb ON c.id_b = kb.id)
        |  WHERE jaccard >= 0.5),
        |sym AS (SELECT id_a AS a, id_b AS b FROM vp
        |        UNION SELECT id_b, id_a FROM vp),
        |reach(n, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.n, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |labels AS (
        |  SELECT n AS id, LEAST(n, MIN(r)) AS cluster_id FROM reach GROUP BY n),
        |q AS (
        |  SELECT id,
        |    0.4 * (CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in'))) AS DOUBLE)
        |           / greatest(CAST(len(tk) AS DOUBLE), 1.0)) +
        |    0.3 * least(1.0,
        |      (CAST(list_aggregate(list_transform(tk, x -> len(x)), 'sum') AS DOUBLE)
        |       / greatest(CAST(len(tk) AS DOUBLE), 1.0)) / 8.0) -
        |    0.2 * (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
        |           / greatest(CAST(len(text) AS DOUBLE), 1.0)) -
        |    0.1 * (CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
        |           / greatest(CAST(len(text) AS DOUBLE), 1.0)) AS qualidade
        |  FROM t),
        |j AS (
        |  SELECT q.id, coalesce(l.cluster_id, q.id) AS cluster_id, q.qualidade
        |  FROM q LEFT JOIN labels l ON q.id = l.id)
        |SELECT cluster_id, doc_id, qualidade, membros FROM (
        |  SELECT cluster_id, id AS doc_id, qualidade,
        |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS membros,
        |    row_number() OVER (
        |      PARTITION BY cluster_id ORDER BY qualidade DESC, id) AS rn
        |  FROM j) WHERE rn = 1
        |ORDER BY ALL NULLS FIRST""".stripMargin
    },

    // q26's portable-MinHash replay with candidates restricted to the
    // batch×corpus boundary, plus the exact text-membership check.
    "q117_ingest_gate" -> {
      val mins = (0 until 20).map(s =>
        s"min((h1 + $s*h2) % 4294967291) AS s$s").mkString(",\n|    ")
      val bands = (0 until 5).map { b =>
        val cols = (0 until 4).map(r => s"s${b * 4 + r}").mkString(", ")
        if (b == 0)
          s"SELECT id, side, 0 AS band, concat_ws(',', $cols) AS bhash FROM sigs"
        else s"UNION ALL SELECT id, side, $b, concat_ws(',', $cols) FROM sigs"
      }.mkString("\n|  ")
      s"""WITH tok AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 3000000 AS id, text FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, array_to_string(tk[2:], ' ')
        |  FROM tok WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, array_to_string(list_reverse(tk), ' ')
        |  FROM tok WHERE doc_id % 7 = 0),
        |alld AS (
        |  SELECT id, text, 'n' AS side FROM batch
        |  UNION ALL
        |  SELECT doc_id, text, 'e' FROM documents),
        |t AS (
        |  SELECT id, side, string_split_regex(trim(lower(text)), '\\s+') AS tk
        |  FROM alld),
        |k AS (
        |  SELECT id, side,
        |    list_distinct([array_to_string(tk[i:i+2], ' ') for i in range(1, len(tk) - 1)]) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |shrows AS (
        |  SELECT id, side, CAST(('0x' || substring(m, 1, 8)) AS BIGINT) AS h1,
        |             CAST(('0x' || substring(m, 9, 8)) AS BIGINT) AS h2
        |  FROM (SELECT id, side, md5(unnest(sh)) AS m FROM k)),
        |sigs AS (
        |  SELECT id, side,
        |    $mins
        |  FROM shrows GROUP BY id, side),
        |buckets AS (
        |  $bands),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_novo, b.id AS id_existente
        |  FROM buckets a JOIN buckets b
        |    ON a.band = b.band AND a.bhash = b.bhash
        |   AND a.side = 'n' AND b.side = 'e'),
        |vp AS (
        |  SELECT id_novo, id_existente FROM (
        |    SELECT c.id_novo, c.id_existente,
        |      CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE) /
        |      (CAST(len(ka.sh) AS DOUBLE) + CAST(len(kb.sh) AS DOUBLE)
        |       - CAST(len(list_intersect(ka.sh, kb.sh)) AS DOUBLE)) AS jaccard
        |    FROM cand c
        |    JOIN k ka ON c.id_novo = ka.id AND ka.side = 'n'
        |    JOIN k kb ON c.id_existente = kb.id AND kb.side = 'e')
        |  WHERE jaccard >= 0.5),
        |near AS (SELECT id_novo, CAST(count(*) AS BIGINT) AS n
        |  FROM vp GROUP BY 1)
        |SELECT batch.id AS doc_id,
        |  batch.text IN (SELECT text FROM documents) AS exato,
        |  coalesce(near.n, 0) AS n_quase_dups,
        |  NOT batch.text IN (SELECT text FROM documents)
        |    AND coalesce(near.n, 0) = 0 AS mantido
        |FROM batch LEFT JOIN near ON batch.id = near.id_novo
        |ORDER BY ALL NULLS FIRST""".stripMargin
    },

    // q26's signature/bucket CTEs verbatim; the verify swaps the exact
    // shingle intersection for per-component signature agreement / 20.
    "q127_minhash_estimate" -> minhashEstimateSql,

    // identical audit through the persisted signature index — the index
    // roundtrip is an identity, so the oracle is q127's SQL verbatim
    "q130_minhash_index_audit" -> minhashEstimateSql,

    // boundary after token p (p>=3) iff md5-h1 of the 3-shingle ending at
    // p is = 0 mod 16; chunk id = exclusive running boundary count; chunk
    // text reassembled in position order, spread counted by content hash
    "q133_cdc_chunk_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    'prefixo deslocador inserido aqui ' || text
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM all_docs),
        |rows_ AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(tk) + 1)) AS pos,
        |    unnest(tk) AS tok,
        |    unnest([p >= 3 AND
        |        (CAST(('0x' || substring(
        |           md5(array_to_string(tk[p-2:p], ' ')), 1, 8)) AS BIGINT)
        |         % 16) = 0
        |      for p in range(1, len(tk) + 1)]) AS b
        |  FROM t),
        |cid AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
        |  FROM rows_),
        |chunks AS (
        |  SELECT doc_id, chunk,
        |    md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        |  FROM cid GROUP BY doc_id, chunk),
        |spread AS (
        |  SELECT chunk_hash, count(DISTINCT doc_id) AS docs FROM chunks
        |  GROUP BY chunk_hash)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_compartilhados,
        |  CAST(CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS DOUBLE) / CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
        |    AS frac_compartilhada
        |FROM chunks JOIN spread USING (chunk_hash)
        |GROUP BY doc_id
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Brute-force all-pairs over the same shingle sets with the same
    // integer threshold gate — the prefix filter must lose NOTHING.
    "q181_exact_jaccard_join" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' zz9'
        |  FROM documents WHERE doc_id % 7 = 0),
        |t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM all_docs),
        |k AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
        |    THEN [array_to_string(tk[i:i+4], ' ') for i in range(1, len(tk) - 3)]
        |    ELSE [] END) AS sh
        |  FROM t),
        |sz AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM k
        |       WHERE len(sh) > 0),
        |e AS (SELECT doc_id, unnest(sh) AS s FROM k),
        |inter AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b,
        |  CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN sz na ON ia = na.doc_id
        |JOIN sz nb ON ib = nb.doc_id
        |WHERE 5 * c >= 3 * (na.n + nb.n - c)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays tokenization, the stride-1 span fan-out, the global
    // keep-first rank per span text, later-occurrence coverage and the
    // ordered rebuild.
    "q200_exact_substr_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS s,
        |    array_to_string(tk[u.i + 1 : u.i + 6], ' ') AS span
        |  FROM t, LATERAL unnest(generate_series(0, len(tk) - 6, 1)) u(i)
        |  WHERE len(tk) >= 6),
        |r AS (
        |  SELECT doc_id, s, row_number() OVER (
        |    PARTITION BY span ORDER BY doc_id, s) AS rn
        |  FROM sp),
        |h AS (
        |  SELECT DISTINCT r.doc_id, CAST(u.p AS INT) AS pos
        |  FROM r, LATERAL unnest(generate_series(r.s, r.s + 5)) u(p)
        |  WHERE r.rn > 1),
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

    // Replays the messy-variant synthesis and the seven-rule canonical
    // algebra (fragment, case, ports, www, slashes, tracking params,
    // param sort) step for step.
    "q213_url_dedup" ->
      """WITH urls AS (
        |  SELECT doc_id, 'https://www.' || source || '-site.example/art/'
        |    || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'HTTPS://' || upper(source)
        |    || '-SITE.EXAMPLE:443/art/' || CAST(doc_id AS VARCHAR)
        |    || '/?b=2&utm_campaign=x&a=1#top'
        |  FROM documents WHERE doc_id % 3 = 0),
        |st AS (
        |  SELECT doc_id,
        |    regexp_replace(trim(url), '#.*', '', 'g') AS nofrag
        |  FROM urls),
        |parts AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      lower(regexp_extract(nofrag,
        |        '(?i)^[a-z][a-z0-9+.-]*://[^/?]*')),
        |      '^(http://.*):80$', '\1'),
        |      '^(https://.*):443$', '\1'),
        |      '^([a-z0-9+.-]*://)www\.', '\1') AS head,
        |    regexp_replace(nofrag,
        |      '(?i)^[a-z][a-z0-9+.-]*://[^/?]*', '') AS tail
        |  FROM st),
        |canon AS (
        |  SELECT doc_id,
        |    head || regexp_replace(regexp_extract(tail, '^[^?]*'),
        |      '/+$', '') ||
        |    CASE WHEN qc = '' THEN '' ELSE '?' || qc END AS url_canonico
        |  FROM (
        |    SELECT doc_id, head, tail,
        |      array_to_string(list_sort(list_filter(
        |        string_split(regexp_extract(tail, '\?(.*)$', 1), '&'),
        |        p -> p <> '' AND NOT regexp_matches(p,
        |          '(?i)^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&') AS qc
        |    FROM parts))
        |SELECT url_canonico, CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_copias
        |FROM canon GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
