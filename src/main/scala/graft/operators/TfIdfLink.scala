package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{CacheScope, Dedup, TextAnalysis}
import graft.plans.Gates

/** TF-IDF token-set cosine name matching — the TFIDF baseline of Cohen,
  * Ravikumar & Fienberg (IIWeb 2003, "A Comparison of String Distance
  * Metrics for Name-Matching Tasks"): score a name pair by the cosine of
  * their idf-weighted TOKEN SETS. The linkage family's missing axis:
  * edit distance (rows 159/199/232) sees "joao silva" vs "silva joao"
  * as 10 edits apart; token-set cosine scores them 1.0 — word-order
  * permutations, dropped middle tokens and extra titles are exactly the
  * name noise TF-IDF weighting absorbs (a rare surname dominates the
  * score, a ubiquitous "da"/"ltd" contributes almost nothing).
  *
  * SET semantics by contract (names essentially never repeat a token;
  * tf is identically 1) and the LOG-FREE idf w_t = N/df_t — one IEEE
  * division of exact BIGINTs, the row-148 discipline that keeps the
  * oracle bit-exact where `ln` would smuggle in libm divergence. Norms
  * and shared-weight sums accumulate w² terms as DECIMAL(38,12) (order-
  * free exact), with ONE double division producing the cosine.
  *
  * Shape: df is a combinable aggregation; candidates come from the
  * shared-token inverted index through [[Dedup.tiledPairs]] (a
  * ubiquitous token cannot create one quadratic task — and with N/df
  * weighting it also cannot create a high score, so `maxDfFraction`
  * prunes candidates the scorer would discard anyway); per-pair scoring
  * is one combinable aggregation over the shared-token rows.
  *
  * Identical TOKEN SETS collapse to one representative before the
  * inverted index (the q27 signature-collapse discipline): the cosine
  * depends only on the set, so replicas — the CommonCrawl refetch
  * reality, and this testbed's ×10/×100 replication — pair once at the
  * representative level and expand through member joins (cross-set
  * pairs output-bound by construction; same-set pairs score with the
  * IDENTICAL expression tree the uncollapsed plan evaluates, so the
  * emitted cosine is bit-equal). df, N and the idf weights are
  * computed on the FULL corpus before collapsing — replica counts are
  * real occurrences and must keep weighting the vocabulary. Measured:
  * q227 at sf1 read 393 s with every ~4.3k-deep token block of the
  * 92-word synthetic vocabulary paying block² (×112 the sf0.1 wall);
  * the collapse returns the pair engine to the distinct-set corpus.
  *
  * Output: (id_a < id_b, tokens_comuns, cosseno ≥ threshold).
  */
object TfIdfLink {

  def tfidfNamePairs(
      df: DataFrame, idCol: String, nameCol: String,
      threshold: Double, maxDfFraction: Double = 0.5,
      maxBlock: Int = Dedup.AdaptiveBlock): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"need threshold in (0,1], got $threshold")
    val d = "decimal(38,12)"
    val toks = CacheScope.persistTracked(
      df.select(col(idCol).as("__id"),
          explode(array_distinct(
            TextAnalysis.tokens(col(nameCol)))).as("__t"))
        .filter(col("__t") =!= ""))
    val n = toks.select("__id").distinct().count()
    val weights = CacheScope.persistTracked(
      toks.groupBy("__t").agg(count(lit(1L)).as("__df"))
        .filter(col("__df") <= (lit(n) * maxDfFraction))
        .withColumn("__w",
          lit(n).cast("double") / col("__df").cast("double")))
    // identical token sets → one representative (weights stay
    // full-corpus); members expand the representative pairs afterwards
    val sets = toks.groupBy("__id")
      .agg(sort_array(collect_list(col("__t"))).as("__setk"))
    val repsT = CacheScope.persistTracked(
      sets.groupBy("__setk").agg(min(col("__id")).as("__rep")))
    val memb = CacheScope.persistTracked(
      sets.join(repsT, "__setk").select(col("__id"), col("__rep")))
    val repToks = toks.join(
      repsT.select(col("__rep").as("__id")), Seq("__id"), "left_semi")
    val weighted = repToks.join(weights, "__t")
    // per-rep stats: the norm for the index, plus the SELF score (the
    // exact expression an identical-set pair evaluates downstream —
    // same decimal sum, same sqrt, same single division)
    val norms = CacheScope.persistTracked(weighted.groupBy("__id")
      .agg(count(lit(1L)).as("__ntok"),
        sum((col("__w") * col("__w")).cast(d)).cast(d).as("__ss"))
      .withColumn("__nrm", sqrt(col("__ss").cast("double"))))
    val keyed = weighted.join(norms.select("__id", "__nrm"), "__id")
      .select(col("__id"), col("__t").as("__block"), col("__nrm"))
    val repPairs = Dedup.tiledPairs(keyed, Seq("__nrm"), maxBlock)
      .join(weights.select(col("__t").as("__block"), col("__w")),
        "__block")
      .select(
        least(col("id_a"), col("id_b")).as("__ra"),
        greatest(col("id_a"), col("id_b")).as("__rb"),
        // tile orientation may flip between a pair's shared-token rows;
        // the cosine needs only the PRODUCT of the two norms, which is
        // symmetric — value-normalize so the per-pair max is stable
        least(col("__nrm_a"), col("__nrm_b")).as("__n1"),
        greatest(col("__nrm_a"), col("__nrm_b")).as("__n2"),
        (col("__w") * col("__w")).cast(d).as("__w2"))
      .groupBy("__ra", "__rb")
      .agg(count(lit(1L)).as("tokens_comuns"),
        max(col("__n1")).as("__na"), max(col("__n2")).as("__nb"),
        sum(col("__w2")).cast(d).as("__s"))
      .withColumn("cosseno",
        col("__s").cast("double") / (col("__na") * col("__nb")))
      .filter(col("cosseno") >= threshold)
      .select(col("__ra"), col("__rb"), col("tokens_comuns"),
        col("cosseno"))
    // representative pairs are density-small while the member joins
    // expand them by replica counts — pin both expansions to the
    // session shuffle width so AQE's byte-based coalescing cannot fold
    // the output-bound work into one task (round 15, the q27 sf10
    // thread-dump trap; same fix as Dedup.simhashTail). Gate: the
    // observed Σ set-group-size² over the persisted membership (one
    // combinable aggregation on an (id, rep) frame — the replication
    // signal; ≈ |docs| on an unreplicated corpus, quadratic under
    // verbatim replicas).
    val gsqRow = memb.groupBy("__rep").agg(count(lit(1L)).as("__g"))
      .agg(sum(col("__g").cast("double") * col("__g").cast("double"))
        .as("__w")).head()
    val xpin = Gates.widthPin(if (gsqRow.isNullAt(0)) 0.0 else gsqRow.getDouble(0))
    val cross = xpin(repPairs, col("__ra"))
      .join(memb.select(col("__rep").as("__ra"), col("__id").as("__ma")),
        "__ra")
      .transform(d => xpin(d, col("__rb")))
      .join(memb.select(col("__rep").as("__rb"), col("__id").as("__mb")),
        "__rb")
      .select(least(col("__ma"), col("__mb")).as("id_a"),
        greatest(col("__ma"), col("__mb")).as("id_b"),
        col("tokens_comuns"), col("cosseno"))
    val selfScore = norms
      .withColumn("__cos",
        col("__ss").cast("double") / (col("__nrm") * col("__nrm")))
      .filter(col("__cos") >= threshold)
      .select(col("__id").as("__rep2"), col("__ntok"), col("__cos"))
    val within = Dedup.tiledPairs(
        memb.select(col("__id"), col("__rep"),
          col("__rep").as("__block")),
        Seq("__rep"), maxBlock, cache = false)
      .join(selfScore, col("__rep_a") === col("__rep2"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        col("__ntok").as("tokens_comuns"), col("__cos").as("cosseno"))
    cross.unionByName(within)
  }
}
