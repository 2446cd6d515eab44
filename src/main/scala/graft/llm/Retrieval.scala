package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TopK

/** Keyword (sparse/lexical) retrieval: inverted postings + BM25-family
  * scoring — the lexical twin of the embedding pipeline (q89); production
  * RAG stacks run both and fuse the rankings. BM25 is the public
  * Robertson–Spärck Jones probabilistic weighting (k1/b saturation form).
  *
  * Scale shape: the corpus is tokenized ONCE into postings (scan-level
  * explode → one map-side-combinable aggregation); the query batch is
  * tiny and BROADCAST onto the postings scan, so candidate generation
  * never shuffles the corpus — candidates are exactly the postings of
  * the query's SURVIVING terms. Document frequencies for the query's
  * vocabulary come from a map-side-combinable count over the postings
  * themselves (≤ |query vocab| rows out), and the near-stopword cap is
  * applied to that df table BEFORE the candidate join — a stopword-y
  * query term is dropped from the broadcast side, so its O(corpus)
  * posting list never enters the plan at all. Corpus-level stats (N,
  * avg doc length) fold straight off the pre-explode document scan (one
  * pass, partial-agg to a single row — no doc_id shuffle), ride the
  * tiny broadcast side into scoring, and the final per-query ranking
  * goes through the bounded-heap top-k aggregate — k rows per query per
  * partition to the exchange, nothing globally sorted.
  *
  * Engine-exactness (the q65 discipline): with `logIdf = false` (default)
  * the score uses the LOG-FREE idf `(N − df + 0.5)/(df + 0.5)` — every
  * step is an IEEE correctly-rounded `+ − × /` over exact integer counts,
  * so any engine reproduces the scores bit-for-bit (`ln`'s last ulp
  * varies across libm implementations); per-term contributions sum
  * through DECIMAL(38,18), order-independent under any partitioning.
  * `logIdf = true` gives the classic `ln(1 + (N−df+0.5)/(df+0.5))` BM25+
  * idf for production ranking quality at the cost of oracle hashability.
  */
object Retrieval {

  /** Inverted postings: one row per (term, document) with the term
    * frequency and the document's token length.
    *
    * The token array and `dl` are computed in a projection BELOW the
    * explode's Generate. Putting `size(tokens)` in the same select as
    * `explode(tokens)` plants the analyzer's residual Project ABOVE the
    * Generate, where it re-runs the regex split once per emitted TOKEN
    * instead of once per document — measured ~12× slower on the postings
    * build (and the blow-up grows with document length). The split runs
    * exactly once per document here; nothing is persisted.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol))
    // Spread probes df.rdd partitioning, which throws on a streaming
    // DataFrame — skip the floor there (stream sources set their own
    // parallelism); batch inputs keep the CPU-bound tokenize widened
    val spread = if (docs.isStreaming) base else Spread(base)
    spread
      .select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("dl"), col("__toks"))
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1L)).as("tf"))
  }

  /** BM25 top-k: `queries` (id + text, same column names as the corpus)
    * against the `docs` corpus. Output: (query_id, doc_id, score,
    * posicao). Queries score their DISTINCT terms (standard for short
    * queries); terms in more than `maxDfFraction` of the corpus are
    * dropped BEFORE candidate generation — near-stopwords carry the
    * largest posting lists and the smallest idf, so dropping them from
    * the broadcast side bounds the candidate join's volume at any corpus
    * size (a capped term's posting list is never joined, persisted, or
    * shuffled). Queries whose terms all miss (or are all capped) emit no
    * rows.
    */
  def bm25TopK(
      docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 0.5, logIdf: Boolean = false): DataFrame = {
    val post = CacheScope.persistTracked(postings(docs, idCol, textCol))
    // corpus stats: ONE row (count + exact-decimal-sum mean doc length)
    // folded straight off the pre-explode document scan — a partial agg
    // per scan split, a single-row exchange, and NO doc_id shuffle (the
    // postings already had dl per doc; re-aggregating them corpus-wide
    // just to recover it would shuffle the whole posting table). Every
    // document tokenizes to ≥1 token (split of "" is [""]), so counting
    // the doc scan equals counting distinct postings doc_ids.
    val stats = rawStats(docs, textCol)
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    bm25Core(post, stats, queries, idCol, textCol, k, k1, b,
      maxDfFraction, logIdf)
  }

  /** The exact-integer corpus stats row (doc count + DECIMAL token-length
    * sum) — stored by the persisted index and folded inline by the
    * direct path; `avgdl` derives from it with ONE double division, so
    * the two paths score bit-identically.
    */
  private def rawStats(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(size(TextAnalysis.tokens(col(textCol))).as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1L)).as("n_docs"),
        sum(col("dl").cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("sum_dl"))

  private def bm25Core(
      post: DataFrame, stats: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double, b: Double,
      maxDfFraction: Double, logIdf: Boolean): DataFrame = {
    val qterms = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("term"))
    // document frequency for the QUERY's vocabulary, computed from the
    // postings themselves: postings rows are unique per (term, doc_id),
    // so a count per term IS df. Map-side combinable — each scan split
    // emits ≤ |query vocab| partial rows; the full posting lists stream
    // through the combiner but are never materialized or shuffled.
    val qdf = post
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1L)).as("df"))
    // near-stopword cap applied HERE, before candidate generation: an
    // over-cap term never reaches the candidate join, so one stopword-y
    // query term cannot drag an O(corpus) posting list through the plan.
    // kept also carries the one-row stats, so scoring needs no separate
    // stats join at corpus scale.
    val kept = qdf.crossJoin(broadcast(stats))
      .filter(col("df").cast("double") <=
        lit(maxDfFraction) * col("n_docs").cast("double"))
    val qcand = qterms.join(broadcast(kept), "term")
    // candidates = postings of surviving query terms only; the broadcast
    // keeps the postings side pipeline-local (no shuffle of the corpus),
    // and scoring consumes cand in ONE pass — nothing to persist
    val cand = post.join(broadcast(qcand), "term")
    val idf =
      if (logIdf)
        log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      else
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))
    // tf saturation: tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)); constants
    // combine IN the engine (lit(k1) + lit(1.0)) so an oracle writing
    // `1.2 + 1.0` reproduces the same double, whatever k1's rounding is
    val tfw = col("tf").cast("double") * (lit(k1) + lit(1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0) - lit(b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    // df / n_docs / avgdl all arrived on the broadcast side — the
    // candidate stream goes straight to the per-(query, doc) sum
    val scored = cand
      .withColumn("__c", (idf * tfw).cast("decimal(38,18)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).cast("double").as("score"))
    TopK.groupTopKRows(
      scored, Seq("query_id"), Seq(("score", false), ("doc_id", true)), k)
  }

  /** Persisted inverted index — the BandIndex discipline applied to
    * retrieval state: postings and the exact-integer corpus stats are
    * pure functions of the corpus, computed ONCE at ingest and stored
    * next to it; every query batch then runs off index scans alone
    * ([[bm25TopKIndexed]]), and an accepted ingest batch APPENDS its own
    * postings and FOLDS its delta into the stats row
    * ([[appendPostingsIndex]]) — no corpus text is ever re-tokenized.
    * Because the stats are exact integers (count + DECIMAL length sum),
    * the indexed path scores BIT-IDENTICALLY to tokenizing the whole
    * corpus from scratch, even after any number of appends (spec-proven;
    * q136's oracle is q99's SQL verbatim).
    */
  case class PostingsIndex(
      postings: DataFrame, stats: DataFrame, norms: DataFrame)

  /** Per-doc tf-only norms (`√Σtf²` — the lnc doc side): per-doc
    * functions, so appends of disjoint doc sets are plain row appends.
    * Stored log-free (the oracle-exact form); `logWeights` querying
    * recomputes its own norms.
    */
  private def tfNorms(
      post: DataFrame, logWeights: Boolean = false): DataFrame = {
    val w =
      if (logWeights) lit(1.0) + log(col("tf").cast("double"))
      else col("tf").cast("double")
    post.groupBy("doc_id")
      .agg(sqrt(sum((w * w).cast("decimal(38,12)")).cast("double"))
        .as("dnorm"))
  }

  def writePostingsIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val post = CacheScope.persistTracked(postings(docs, idCol, textCol))
    post.write.mode("overwrite").parquet(s"$path/postings")
    tfNorms(post).write.mode("overwrite").parquet(s"$path/norms")
    rawStats(docs, textCol)
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Fold an ingest batch in: postings and norm rows append (they are
    * per-doc functions — disjoint doc sets produce disjoint rows), the
    * stats row merges by exact addition and overwrites (localCheckpoint
    * first: the merge plan reads the file being replaced).
    */
  def appendPostingsIndex(
      docs: DataFrame, idCol: String, textCol: String, path: String): Unit = {
    val spark = docs.sparkSession
    val post = CacheScope.persistTracked(postings(docs, idCol, textCol))
    post.write.mode("append").parquet(s"$path/postings")
    tfNorms(post).write.mode("append").parquet(s"$path/norms")
    spark.read.parquet(s"$path/stats")
      .unionByName(rawStats(docs, textCol))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("decimal(38,0)").as("sum_dl"))
      .localCheckpoint()
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  def readPostingsIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): PostingsIndex =
    PostingsIndex(
      spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/stats"),
      spark.read.parquet(s"$path/norms"))

  /** [[bm25TopK]] over a persisted [[PostingsIndex]]: identical scores
    * (the stats fold is exact-integer), zero tokenization — the
    * recurring-query shape at 100 TB: tokenize at ingest, every query
    * batch costs index-scan + broadcast-probe time.
    */
  def bm25TopKIndexed(
      index: PostingsIndex, queries: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 0.5, logIdf: Boolean = false): DataFrame = {
    val stats = index.stats.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_docs").cast("double"))
        .as("avgdl"))
    bm25Core(CacheScope.persistTracked(index.postings), stats, queries,
      idCol, textCol, k, k1, b, maxDfFraction, logIdf)
  }

  /** TF-IDF cosine top-k — the SMART `lnc.ltc` scheme (Salton & Buckley
    * 1988; the Manning IR book's recommended practical weighting):
    * document vectors carry tf only, query vectors carry tf·idf, score =
    * cos(d, q). Putting idf on the QUERY side only is what makes the
    * scale shape work: the document norm √Σtf² folds from the postings
    * in ONE combinable aggregation (no vocabulary-wide df join), so
    * norms are INDEX-BUILD state persisted next to the postings, and the
    * per-query path is exactly [[bm25TopK]]'s — query terms df-capped
    * then BROADCAST onto the postings scan, one combinable (query, doc)
    * aggregation, bounded-heap top-k; no corpus-sized relation ever
    * joins or shuffles per query batch.
    *
    * Engine-exactness (the q99 discipline): with `logWeights = false`
    * weights are raw tf and the LOG-FREE idf `N/df` — every score op is
    * a correctly-rounded IEEE `× / √` over exact integer counts (IEEE
    * 754 requires correctly-rounded sqrt, unlike `ln`), and both dot
    * products and norms accumulate through DECIMAL — bit-replayable by
    * any engine. `logWeights = true` gives the classic `1+ln(tf)` /
    * `ln(N/df)` form for production ranking at the cost of oracle
    * hashability.
    *
    * Capped (near-stopword) terms leave the query VECTOR entirely —
    * numerator and query norm stay consistent, and an over-cap term's
    * posting list never enters any plan.
    */
  def tfidfTopK(
      docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, maxDfFraction: Double = 0.5,
      logWeights: Boolean = false): DataFrame = {
    val post = CacheScope.persistTracked(postings(docs, idCol, textCol))
    // doc norms: ONE map-side-combinable aggregation over the postings —
    // possible only because the lnc doc side carries no idf; persisted
    // as index state ON the postings rows so scoring needs no per-query
    // corpus join
    val indexed = CacheScope.persistTracked(
      post.join(tfNorms(post, logWeights), "doc_id"))
    // N: one row off the pre-explode doc scan (every doc tokenizes to
    // ≥1 token, so this equals the postings' distinct doc count)
    val stats = docs
      .select(size(TextAnalysis.tokens(col(textCol))).as("dl"))
      .where(col("dl") > 0)
      .agg(count(lit(1L)).as("n_docs"))
    tfidfCore(indexed, stats, queries, idCol, textCol, k,
      maxDfFraction, logWeights)
  }

  private def tfidfCore(
      indexed: DataFrame, stats: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int, maxDfFraction: Double,
      logWeights: Boolean): DataFrame = {
    def w(tf: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (logWeights) lit(1.0) + log(tf.cast("double")) else tf.cast("double")
    val qpost = postings(queries, idCol, textCol)
      .select(col("doc_id").as("query_id"), col("term"), col("tf").as("qtf"))
    val qdf = indexed
      .join(broadcast(qpost.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1L)).as("df"))
    val kept = qdf.crossJoin(broadcast(stats))
      .filter(col("df").cast("double") <=
        lit(maxDfFraction) * col("n_docs").cast("double"))
    val idf =
      if (logWeights)
        log(col("n_docs").cast("double") / col("df").cast("double"))
      else col("n_docs").cast("double") / col("df").cast("double")
    val qw = qpost.join(broadcast(kept), "term")
      .withColumn("__wq", w(col("qtf")) * idf)
    val qnorm = qw.groupBy("query_id")
      .agg(sqrt(sum((col("__wq") * col("__wq")).cast("decimal(38,12)"))
        .cast("double")).as("qnorm"))
    val qcand = qw.join(broadcast(qnorm), "query_id")
      .select("term", "query_id", "__wq", "qnorm")
    val cand = indexed.join(broadcast(qcand), "term")
    val scored = cand
      .withColumn("__c", (w(col("tf")) * col("__wq")).cast("decimal(38,18)"))
      .groupBy("query_id", "doc_id", "qnorm", "dnorm")
      .agg(sum(col("__c")).cast("double").as("__dot"))
      .select(col("query_id"), col("doc_id"),
        (col("__dot") / (col("qnorm") * col("dnorm"))).as("score"))
    TopK.groupTopKRows(
      scored, Seq("query_id"), Seq(("score", false), ("doc_id", true)), k)
  }

  /** In-engine retrieval evaluation: given a RANKING (query_id, doc_id,
    * posicao — the output shape of [[bm25TopK]]/[[tfidfTopK]]/[[rrfFuse]]
    * and the ANN top-k family) and a RELEVANCE table (query_id, doc_id),
    * the per-query eval row behind offline retrieval gates: relevant
    * count, hits in the top `k`, recall@k and the reciprocal rank of the
    * first relevant hit (0.0 when none — MRR@k is the mean of this
    * column). Every value is an exact integer or one IEEE division —
    * SQL-replayable bit-for-bit (NDCG's log discount is the one metric
    * deliberately left to the non-oracle path).
    *
    * Shape: rankings are k-bounded per query (tiny versus any corpus),
    * so the whole evaluation is two broadcastable joins and two
    * combinable aggregations — an eval sweep over thousands of query
    * sets costs nothing at any corpus scale.
    */
  def evalRanking(
      ranking: DataFrame, relevance: DataFrame, k: Int,
      posCol: String = "posicao"): DataFrame = {
    val hits = ranking.filter(col(posCol) <= k)
      .join(relevance.select(col("query_id"), col("doc_id"), lit(1).as("__h")),
        Seq("query_id", "doc_id"), "left")
      .groupBy("query_id").agg(
        sum(coalesce(col("__h"), lit(0))).cast("long").as("n_acertos"),
        min(when(col("__h") === 1, col(posCol))).as("__first"))
    relevance.groupBy("query_id").agg(count(lit(1L)).as("n_relevantes"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevantes"),
        coalesce(col("n_acertos"), lit(0L)).as("n_acertos"),
        (coalesce(col("n_acertos"), lit(0L)).cast("double") /
          col("n_relevantes").cast("double")).as("recall"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0)).as("rr"))
  }

  /** Average precision @k per query (mean over queries = MAP, THE
    * classic ranked-retrieval summary TREC reports; completes the eval
    * suite next to [[evalRanking]]'s recall/RR):
    * AP = (Σ_{hit ranks p} precision@p)/n_relevant, i.e. every relevant
    * document contributes the precision at its own rank — rank quality
    * and completeness in one number.
    *
    * Exactness: precision@p = cum_hits(p)/p — both exact BIGINTs from
    * one cumulative window over the ≤k ranked rows, ONE IEEE division
    * per hit; the per-query sum folds the (rank-sorted) hit list
    * deterministically (≤k doubles, fixed order — the kruskalWallis
    * fold rule), so the oracle replays it op-for-op. Queries with no
    * hits read ap = 0; relevance rows outside the top k only affect the
    * denominator, per the standard @k definition.
    */
  def evalAveragePrecision(
      ranking: DataFrame, relevance: DataFrame, k: Int,
      posCol: String = "posicao"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col(posCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val hits = ranking.filter(col(posCol) <= k)
      .join(relevance.select(col("query_id"), col("doc_id"),
        lit(1L).as("__h")), Seq("query_id", "doc_id"), "left")
      .withColumn("__h", coalesce(col("__h"), lit(0L)))
      .withColumn("__ch", sum(col("__h")).over(w))
      .filter(col("__h") === 1L)
      .groupBy("query_id").agg(
        count(lit(1L)).as("n_acertos"),
        aggregate(
          array_sort(collect_list(struct(
            col(posCol).cast("long").as("__p"), col("__ch").as("__c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("__c").cast("double") /
            x.getField("__p").cast("double")).as("__apsum"))
    relevance.groupBy("query_id").agg(count(lit(1L)).as("n_relevantes"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_relevantes"),
        coalesce(col("n_acertos"), lit(0L)).as("n_acertos"),
        (coalesce(col("__apsum"), lit(0.0)) /
          col("n_relevantes").cast("double")).as("ap"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) —
    * the standard hybrid-retrieval combiner: each input ranking
    * contributes `1 / (k0 + rank)` for every (query, doc) it returned,
    * fused score = the sum; higher is better. Rank-based, so the
    * retrievers' raw scores never need calibrating against each other —
    * which is why production RAG stacks fuse lexical BM25 and embedding
    * ANN this way rather than mixing score scales.
    *
    * Inputs are rankings shaped (query_id, doc_id, `rankCol`) — the
    * output shape of [[bm25TopK]] and of the similarity top-k family.
    * Scale shape: a union of per-retriever rank lists (each already
    * bounded to k rows per query — tiny relative to any corpus), one
    * map-side-combinable aggregation on (query, doc), then the
    * bounded-heap top-k. Nothing here touches the corpus.
    *
    * Exactness: each contribution `1/(k0+rank)` is ONE correctly-rounded
    * IEEE division of exact integers; contributions sum through
    * DECIMAL(38,18) (order-independent under any partitioning — a double
    * sum would depend on which retriever's row arrives first), final
    * cast back to double. Any engine replays it bit-for-bit.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], k: Int, k0: Int = 60,
      rankCol: String = "posicao",
      weights: Seq[Double] = Seq.empty): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(weights.isEmpty || weights.length == rankings.length,
      s"need one weight per ranking, got ${weights.length} for ${rankings.length}")
    val ws = if (weights.isEmpty) Seq.fill(rankings.length)(1.0) else weights
    val contribs = rankings.zip(ws).map { case (r, w) =>
      // weighted RRF (w_r / (k0 + rank)): one extra correctly-rounded
      // multiply, so the weighted form stays oracle-exact; w = 1.0
      // multiplies out to the classic unweighted score bit-for-bit
      r.select(col("query_id"), col("doc_id"),
        (lit(w) * (lit(1.0) / (lit(k0).cast("double") + col(rankCol).cast("double"))))
          .cast("decimal(38,18)").as("__c"))
    }.reduce(_ union _)
    val fused = contribs.groupBy("query_id", "doc_id")
      .agg(sum(col("__c")).cast("double").as("score"))
    TopK.groupTopKRows(
      fused, Seq("query_id"), Seq(("score", false), ("doc_id", true)), k)
  }

  /** Pseudo-relevance-feedback query expansion (Rocchio/RM-lite — the
    * classic two-pass retrieval quality lever): retrieve once, mine the
    * top documents' dominant terms, append them to the query, retrieve
    * again. Vocabulary-mismatch queries ("auto" vs "car") recover
    * documents sharing no original term.
    *
    * Composition shape — everything reuses graded operators, so the
    * whole two-pass plan stays oracle-replayable:
    *  1. first-pass [[bm25TopK]] (kDocs per query);
    *  2. feedback mining: the ≤ kDocs·|queries| result joins the
    *     postings on doc_id, one combinable (query, term) tf sum, top
    *     `mTerms` per query through the bounded-heap aggregate with
    *     deterministic (weight DESC, term ASC) ties;
    *  3. expansion: feedback terms (sorted, bounded array per query)
    *     concat onto the query text — [[bm25TopK]]'s own distinct makes
    *     the union-of-terms semantics exact;
    *  4. second-pass [[bm25TopK]] at the final k.
    * Costs two query-broadcast passes over the postings — the corpus
    * still never shuffles; the interchange tables are all
    * query-batch-sized.
    */
  def prfExpand(
      docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, kDocs: Int = 5, mTerms: Int = 3,
      maxDfFraction: Double = 1.0): DataFrame = {
    // ONE persisted postings table and ONE persisted stats row feed both
    // retrieval passes. Calling bm25TopK twice paid the corpus stats'
    // full tokenize scan per pass (the postings cache dedupes through
    // the CacheManager, the stats scan does not — guide §2.4, share the
    // computation); the stats values are the same bits either way.
    val post = CacheScope.persistTracked(postings(docs, idCol, textCol))
    val stats = CacheScope.persistTracked(
      rawStats(docs, textCol)
        .select(col("n_docs"),
          (col("sum_dl").cast("double") / col("n_docs").cast("double"))
            .as("avgdl")))
    val r1 = bm25Core(post, stats, queries, idCol, textCol, kDocs,
      k1 = 1.2, b = 0.75, maxDfFraction = maxDfFraction, logIdf = false)
    // the feedback frame is ≤ kDocs·|queries| rows — broadcast it so
    // the posting table is probed in place, never shuffled (guide §3.1)
    val fb = broadcast(r1.select(col("query_id"), col("doc_id")))
      .join(post, Seq("doc_id"))
      .groupBy("query_id", "term").agg(sum(col("tf")).as("__w"))
    val top = TopK.groupTopKRows(
      fb, Seq("query_id"), Seq(("__w", false), ("term", true)), mTerms)
    val fbText = top.groupBy("query_id")
      .agg(array_join(sort_array(collect_list(col("term"))), " ")
        .as("__fb"))
    val expanded = queries
      .join(fbText, queries(idCol) === fbText("query_id"), "left")
      .select(queries(idCol),
        concat_ws(" ", col(textCol), coalesce(col("__fb"), lit("")))
          .as(textCol))
    bm25Core(post, stats, expanded, idCol, textCol, k,
      k1 = 1.2, b = 0.75, maxDfFraction = maxDfFraction, logIdf = false)
  }

  /** Exact phrase search over POSITIONAL postings — the search-engine
    * primitive the term-bag rankers (BM25/TF-IDF) cannot express: a
    * k-term phrase matches at document position p iff term_i sits at
    * p+i for every i. This is the classic positional-intersection
    * query, run as ONE broadcast join + ONE combinable aggregation:
    *
    * - positional postings = scan-level `posexplode` of the tokenized
    *   corpus (doc, pos, term) — per-doc functions, so they append
    *   incrementally and persist next to the BM25 index (row 153's
    *   discipline; production engines store positions in the same
    *   posting lists);
    * - the phrase batch explodes to (frase, i, termo, len) and
    *   BROADCASTS onto the postings scan — only postings of terms that
    *   appear in some phrase survive the join, each contributing a
    *   candidate start `pos − i`;
    * - a start is a match iff all `len` offsets hit: one
    *   map-side-combinable count per (doc, frase, start) equals `len`
    *   (each (doc, start, i) can match at most once — position start+i
    *   holds one token), then one count per (frase, doc).
    *
    * Join volume = Σ posting lists of the phrase's terms — a phrase
    * containing a near-stopword drags its list exactly as in BM25;
    * production orders the intersection rarest-term-first (semi-join
    * candidate docs on the rarest term, then run the full positional
    * check on that slice), which composes here as a `docs` pre-filter.
    *
    * Output: (frase, doc_id, ocorrencias) for every document containing
    * the phrase at least once. Everything is integer-exact.
    */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String,
      phrases: DataFrame, phraseCol: String): DataFrame = {
    val tk = TextAnalysis.tokens(col(textCol))
    val post = Spread(docs)
      .select(col(idCol).as("doc_id"), posexplode(tk).as(Seq("__pos", "__t")))
      .filter(col("__t") =!= "")
    val pterms = phrases
      .select(col(phraseCol).as("frase"),
        posexplode(TextAnalysis.tokens(col(phraseCol)))
          .as(Seq("__i", "__t")))
      .filter(col("__t") =!= "")
    val plens = pterms.groupBy("frase").agg(count(lit(1L)).as("__len"))
    val cand = post.join(
      broadcast(pterms.join(plens, Seq("frase"))), Seq("__t"))
    cand
      .groupBy(col("doc_id"), col("frase"),
        (col("__pos") - col("__i")).as("__start"), col("__len"))
      .agg(count(lit(1L)).as("__hits"))
      .filter(col("__hits") === col("__len") && col("__start") >= 0L)
      .groupBy("frase", "doc_id")
      .agg(count(lit(1L)).as("ocorrencias"))
  }
}
