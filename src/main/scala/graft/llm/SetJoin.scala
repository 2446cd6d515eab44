package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join via prefix filtering — the AllPairs /
  * PPJoin family (Bayardo, Ma & Srikant, WWW'07; Xiao, Wang, Lin & Yu,
  * WWW'08): every pair of documents whose token-shingle SETS have
  * Jaccard ≥ t, over the WHOLE corpus, with no caller-supplied blocking
  * and no approximation.
  *
  * This completes the dedup family's exactness spectrum: MinHash-LSH
  * (row 26) and SimHash (row 27) trade recall for scale; blocked
  * Jaccard (row 28) is exact WITHIN caller-chosen blocks only; the
  * prefix filter is the published technique for exact global joins —
  * candidates come from a provable necessary condition instead of a
  * probabilistic bucket or a domain heuristic.
  *
  * The filter: order every document's shingles by one GLOBAL total
  * order — ascending document frequency, ties on the shingle string
  * (rarest first, the discipline that keeps common shingles out of
  * prefixes) — and keep each document's first
  * `p = |x| − ⌈t·|x|⌉ + 1` shingles as its PREFIX. If J(x,y) ≥ t, the
  * prefixes of x and y must intersect (pigeonhole on the ≥ ⌈t·|x|⌉
  * shared elements — miss the prefix entirely and too few positions
  * remain to reach the bound), so the candidate set = pairs sharing a
  * prefix shingle is a provable SUPERSET of the answer. A length
  * filter (`d·min ≥ n·max` — J ≥ n/d forces |y|/|x| ≥ n/d) prunes
  * before verification; verification is the exact merge-walk
  * intersection with the threshold test in INTEGERS
  * (`d·inter ≥ n·(|a|+|b|−inter)`) — engine-exact, no float compare
  * decides membership.
  *
  * Scale shape: doc-frequency is one map-side-combinable aggregation;
  * the per-doc (df, shingle) sort is window work bounded by DOCUMENT
  * size; candidate generation runs through the shared
  * [[Dedup.tiledPairs]] engine with the prefix shingle as the block
  * key, so even a degenerate corpus (one shingle in every prefix)
  * degrades into bounded parallel tiles, never one quadratic task.
  * Prefix length is ~(1−t)·|x|+1 — higher thresholds scan fewer
  * candidates, the technique's defining property.
  *
  * The threshold is an exact rational `n/d` (e.g. 3/5 for 0.6) so both
  * engines decide the gate with integer arithmetic; the REPORTED
  * jaccard is one IEEE division of exact integers.
  *
  * Output: (id_a < id_b, jaccard DOUBLE) for every qualifying pair,
  * each exactly once.
  */
object SetJoin {

  def jaccardJoinPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      thresholdNum: Int, thresholdDen: Int,
      shingleN: Int = 3,
      maxBlock: Int = Dedup.AdaptiveBlock): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen,
      s"need a threshold in (0,1]: got $thresholdNum/$thresholdDen")
    val n = thresholdNum.toLong
    val d = thresholdDen.toLong

    val sets = CacheScope.persistTracked(
      Spread(docs.select(col(idCol).as("__id"), col(textCol)))
        .select(col("__id"),
          TextAnalysis.shingleSetSorted(
            TextAnalysis.tokens(col(textCol)), shingleN).as("__sh"))
        .filter(size(col("__sh")) > 0)
        .withColumn("__sz", size(col("__sh")).cast("long")))

    // global rarity order WITHOUT a global rank table: the prefix only
    // needs each document's shingles sorted by the shared (df, shingle)
    // total order — a per-doc window, never a vocabulary-wide sort
    val toks = sets.select(col("__id"), col("__sz"),
      explode(col("__sh")).as("__t"))
    val dfreq = toks.groupBy("__t").agg(count(lit(1L)).as("__df"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy(col("__df"), col("__t"))
    // p = sz − ⌈(n/d)·sz⌉ + 1, with the ceiling in exact integer
    // arithmetic (`div`, never the double-typed `/`)
    val prefixLen =
      col("__sz") - expr(s"($n * __sz + ${d - 1}) div $d") + 1
    val prefix = toks.join(dfreq, "__t")
      .withColumn("__pos", row_number().over(win))
      .filter(col("__pos") <= prefixLen)
      .select(col("__id"), col("__t").as("__block"), col("__sz"))

    // candidates: pairs sharing ANY prefix shingle — through the tiled
    // engine so a hot prefix shingle cannot create one quadratic task;
    // normalize pair order, dedup multi-shingle collisions, then the
    // length filter (d·min ≥ n·max) before any set is touched again
    val cand = Dedup.tiledPairs(prefix, Seq("__sz"), maxBlock)
      .select(
        least(col("id_a"), col("id_b")).as("__ida"),
        greatest(col("id_a"), col("id_b")).as("__idb"),
        least(col("__sz_a"), col("__sz_b")).as("__mn"),
        greatest(col("__sz_a"), col("__sz_b")).as("__mx"))
      .filter(lit(d) * col("__mn") >= lit(n) * col("__mx"))
      .select("__ida", "__idb").distinct()

    // exact verification: merge-walk intersection, integer gate, ONE
    // IEEE division for the reported score. The corpus side of both
    // joins is hinted SHUFFLE_HASH so the candidate-pair frame — the
    // side whose volume grows with true duplicate density (24.75M rows
    // at the ×100 rehearsal, each carrying a shingle array after the
    // first join) — STREAMS through the probe instead of being sorted:
    // a sort-merge join would buffer/sort those wide rows and the
    // old-gen pressure of that sort outlives the query (measured: the
    // sf10 adjacent second run was 1.6× SLOWER than its first). The
    // hash build side is corpus/partitions-bounded (|docs|/P shingle
    // arrays), independent of candidate volume — the memory contract a
    // verify stage needs at any duplication level.
    val inter = call_function("sorted_intersect_count",
      col("__sh_a"), col("__sh_b"))
    cand
      .join(sets.select(col("__id").as("__ida"), col("__sh").as("__sh_a"),
        col("__sz").as("__sza")).hint("shuffle_hash"), "__ida")
      .join(sets.select(col("__id").as("__idb"), col("__sh").as("__sh_b"),
        col("__sz").as("__szb")).hint("shuffle_hash"), "__idb")
      .withColumn("__i", inter.cast("long"))
      .filter(lit(d) * col("__i") >=
        lit(n) * (col("__sza") + col("__szb") - col("__i")))
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
        (col("__i").cast("double") /
          (col("__sza") + col("__szb") - col("__i")).cast("double"))
          .as("jaccard"))
  }
}
