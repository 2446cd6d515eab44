package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket analytics (association rules) — the classic co-occurrence
  * question over transactional facts ("patients prescribed A are also
  * prescribed B" is the reference-domain phrasing of it).
  */
object Basket {

  /** Pair association rules a→b with the three classical metrics —
    * support `P(a∧b)`, confidence `P(b|a)`, lift
    * `P(a∧b)/(P(a)·P(b))` — every one an exact integer ratio over
    * basket counts (IEEE divisions in a pinned order → SQL-replayable).
    *
    * Scale shape: pair candidates form only WITHIN a basket (the
    * within-group self-join — items per basket is small and bounded, so
    * pair volume is Σ_basket k² with tiny k, never catalog²); per-item
    * and per-pair counts are map-side-combinable aggregations; the
    * `minPairs` cut applies to the counted pairs BEFORE any metric math
    * or join, so rare-pair noise never reaches the rule table. A
    * catalog-hot item (every basket holds it) inflates its pair counts
    * linearly, not quadratically — the basket bound caps the blast
    * radius per transaction.
    *
    * Input: transactional rows; `basketCol` = transaction id, `itemCol`
    * = item. Duplicates within a basket count once. Output per ORDERED
    * pair: (item_a, item_b, n_ambos, suporte, confianca, lift).
    */
  def pairRules(
      df: DataFrame, basketCol: String, itemCol: String,
      minPairs: Long = 1L): DataFrame = {
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val cached = graft.llm.CacheScope.persistTracked(items)
    val nBaskets = cached.select("__b").distinct().count()
    val itemSup = cached.groupBy(col("__i")).agg(count(lit(1L)).as("__n"))
    val pairs = cached.select(col("__b"), col("__i").as("item_a"))
      .join(cached.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") =!= col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1L)).as("n_ambos"))
      .filter(col("n_ambos") >= minPairs)
    val n = lit(nBaskets).cast("double")
    val conf = col("n_ambos").cast("double") / col("__na").cast("double")
    pairs
      .join(broadcast(itemSup.select(col("__i").as("item_a"),
        col("__n").as("__na"))), Seq("item_a"))
      .join(broadcast(itemSup.select(col("__i").as("item_b"),
        col("__n").as("__nb"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_ambos"),
        (col("n_ambos").cast("double") / n).as("suporte"),
        conf.as("confianca"),
        (conf / (col("__nb").cast("double") / n)).as("lift"))
  }

  /** Item-item cosine recommendations over implicit feedback (the
    * Sarwar et al. 2001 item-based CF neighborhood, on co-occurrence
    * counts): `cos(i,j) = n_ij / (√n_i·√n_j)` — the lift of
    * [[pairRules]] asks "is this association surprising?", the cosine
    * asks "how strong is it, popularity-normalized?" — the score
    * item-to-item recommenders actually rank by.
    *
    * Same candidate shape as [[pairRules]] (pairs only WITHIN a basket
    * — Σ_b k² with bounded basket size, never catalog²; `minPairs`
    * cuts noise pairs before any metric math), counts exact BIGINTs
    * from combinable aggregations, the cosine a fixed √/÷ chain of
    * correctly-rounded ops. The per-item top-k runs through
    * [[TopK.groupTopK]]'s bounded-heap aggregate (map-side partials carry
    * ≤k rows per item per partition — no window sort over the pair
    * table), ties (score DESC, item ASC) — engine-deterministic.
    *
    * Output: (item_a, posicao 1..k, item_b, cosseno, n_ambos).
    */
  def itemCosineTopK(
      df: DataFrame, basketCol: String, itemCol: String, k: Int,
      minPairs: Long = 1L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val cached = graft.llm.CacheScope.persistTracked(items)
    val itemSup = cached.groupBy(col("__i")).agg(count(lit(1L)).as("__n"))
    val scored = cached.select(col("__b"), col("__i").as("item_a"))
      .join(cached.select(col("__b"), col("__i").as("item_b")), Seq("__b"))
      .filter(col("item_a") =!= col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1L)).as("n_ambos"))
      .filter(col("n_ambos") >= minPairs)
      .join(broadcast(itemSup.select(col("__i").as("item_a"),
        col("__n").as("__na"))), Seq("item_a"))
      .join(broadcast(itemSup.select(col("__i").as("item_b"),
        col("__n").as("__nb"))), Seq("item_b"))
      .withColumn("cosseno", col("n_ambos").cast("double") /
        (sqrt(col("__na").cast("double")) *
          sqrt(col("__nb").cast("double"))))
      .transform(graft.llm.CacheScope.persistTracked)
    TopK.groupTopK(scored, "item_a", "cosseno", "item_b", k)
      .join(scored.select("item_a", "item_b", "n_ambos"),
        Seq("item_a", "item_b"))
      .select(col("item_a"), col("posicao"), col("item_b"),
        col("cosseno"), col("n_ambos"))
  }
}
