package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental-refresh bookkeeping.
  *
  * Reference: before each ETL/load run, `verificar_e_executar` selects
  * metadata rows where the downstream timestamp is missing or older than the
  * upstream one (`timestamp_modificacao_ftp > timestamp_etl_gcs` /
  * `timestamp_etl_gcs > timestamp_load_bd`, with `IS NULL` for
  * never-processed; sm_cloud_run/scripts/verificar_e_executar.py:36-57) —
  * the driver of all incremental work.
  *
  * Spark-first: the same staleness predicate as a scan-level filter over
  * the metadata table — evaluated for a whole partition of work items at
  * once rather than one (uf, período) per HTTP request.
  */
object Incremental {

  /** Rows whose `consumedTs` is missing or older than `producedTs`. */
  def stalePredicate(producedTs: Column, consumedTs: Column): Column =
    consumedTs.isNull || (producedTs > consumedTs)

  /** Work list: metadata rows needing refresh for the given stage. */
  def needsRefresh(meta: DataFrame, producedTs: String, consumedTs: String): DataFrame =
    meta.filter(stalePredicate(col(producedTs), col(consumedTs)))

  /** Incremental maintenance of a materialized keyed count/sum aggregate:
    * fold a delta batch in WITHOUT recomputing from the base table — the
    * only way a 100 TB rollup stays fresh per batch.
    *
    * Shape (the SCD2 broadcast discipline): the delta first reduces to its
    * own partial aggregate (batch-sized); the materialized side LEFT-joins
    * that broadcast and adds measures where keys match — the big table
    * never shuffles; brand-new keys come from the delta aggregate
    * anti-joined against a broadcast-semi-pruned (≤ |delta| rows) slice
    * of existing keys. Sums accumulate in DECIMAL, so folding the delta
    * in is bit-identical to a full recompute under any partitioning/order
    * (a double sum would drift and the maintained view would slowly
    * diverge from its definition).
    *
    * `matAgg` must carry `keys ++ (countCol +: sumCols)`; `delta` is raw
    * rows with the same keys and the pre-aggregation source columns named
    * by `sumCols`.
    */
  def mergeAggregate(
      matAgg: DataFrame, delta: DataFrame, keys: Seq[String],
      countCol: String, sumCols: Map[String, String]): DataFrame = {
    val measures = sumCols.keys.toSeq.sorted
    val deltaAgg = delta.groupBy(keys.map(col): _*).agg(
      count(lit(1L)).as(s"__d_$countCol"),
      measures.map(m =>
        sum(col(m).cast(sumCols(m))).cast(sumCols(m)).as(s"__d_$m")): _*)
    // null-safe key equality throughout: with plain `=` a null-key group
    // existing on BOTH sides would dodge the update join AND the semi/anti
    // pruning — the view would end up with two rows for that group
    def keyEq(right: DataFrame) =
      keys.map(c => matAgg(c) <=> right(c)).reduce(_ && _)
    val updated = matAgg.join(broadcast(deltaAgg), keyEq(deltaAgg), "left")
      .select(keys.map(matAgg(_)) ++ Seq(
        (col(countCol) + coalesce(col(s"__d_$countCol"), lit(0L))).as(countCol)) ++
        measures.map(m =>
          (col(m) + coalesce(col(s"__d_$m"), lit(0).cast(sumCols(m))))
            .cast(sumCols(m)).as(m)): _*)
    val deltaKeys = deltaAgg.select(keys.map(col): _*)
    val existingKeys = matAgg.select(keys.map(col): _*)
      .join(broadcast(deltaKeys),
        keys.map(c => matAgg(c) <=> deltaKeys(c)).reduce(_ && _), "left_semi")
    val fresh = deltaAgg.join(broadcast(existingKeys),
      keys.map(c => deltaAgg(c) <=> existingKeys(c)).reduce(_ && _), "left_anti")
      .select(keys.map(col) ++ Seq(col(s"__d_$countCol").as(countCol)) ++
        measures.map(m => col(s"__d_$m").as(m)): _*)
    updated.unionByName(fresh)
  }

  /** Per-group DISTINCT-count sketches (Apache DataSketches HLL via
    * Spark's `hll_sketch_agg` family) for the measure [[mergeAggregate]]
    * cannot maintain: exact distinct counts don't decompose —
    * `count_distinct(A ∪ B)` is not a function of the two counts, so a
    * materialized exact distinct forces a full base-table recompute per
    * batch. HLL registers merge by max: folding a delta's sketches into
    * the view reaches the SAME register state as sketching the union from
    * scratch, so the maintained view never drifts from its definition —
    * at a bounded relative error (±~1.6 % at the default lgK=12, 2.5 KB
    * per group) instead of an O(100 TB) refresh.
    *
    * `distinctSketch` builds the materialized rollup (one binary sketch
    * column per group, map-side combined);
    */
  def distinctSketch(
      df: DataFrame, keys: Seq[String], valueCol: String,
      sketchCol: String = "distinct_sketch", lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as(sketchCol))

  /** Fold a raw delta batch into a [[distinctSketch]] rollup. Same
    * broadcast discipline as [[mergeAggregate]]: the delta reduces to its
    * own batch-sized sketch rollup first; the materialized side LEFT-joins
    * that broadcast and `hll_union`s sketches where keys match (the view
    * never shuffles); brand-new groups arrive via the anti-joined delta
    * rollup. Null-safe key equality for the same reason as there.
    */
  def mergeDistinctSketch(
      mat: DataFrame, delta: DataFrame, keys: Seq[String], valueCol: String,
      sketchCol: String = "distinct_sketch", lgK: Int = 12): DataFrame = {
    val deltaAgg0 = distinctSketch(delta, keys, valueCol, sketchCol, lgK)
    val deltaAgg = deltaAgg0.select(keys.map(col) :+
      col(sketchCol).as(s"__d_$sketchCol"): _*)
    val updated = mat.join(broadcast(deltaAgg),
        keys.map(c => mat(c) <=> deltaAgg(c)).reduce(_ && _), "left")
      .select(keys.map(mat(_)) :+
        when(col(s"__d_$sketchCol").isNull, mat(sketchCol))
          .otherwise(hll_union(mat(sketchCol), col(s"__d_$sketchCol")))
          .as(sketchCol): _*)
    val deltaKeys = deltaAgg0.select(keys.map(col): _*)
    val existingKeys = mat.select(keys.map(col): _*)
      .join(broadcast(deltaKeys),
        keys.map(c => mat(c) <=> deltaKeys(c)).reduce(_ && _), "left_semi")
    val fresh = deltaAgg0.join(broadcast(existingKeys),
      keys.map(c => deltaAgg0(c) <=> existingKeys(c)).reduce(_ && _), "left_anti")
    updated.unionByName(fresh)
  }

  /** Read a sketch column back as an approximate distinct count. */
  def sketchEstimate(sketch: Column): Column = hll_sketch_estimate(sketch)

  /** Largest 32-bit prime — the portable-md5 hash family's modulus (the
    * same one the MinHash signatures use), so the sketch is reproducible
    * in any engine with md5.
    */
  val CmsMod = 4294967291L

  private def cmsBuckets(key: Column): (Column, Column) = {
    val m = md5(key.cast("string").cast("binary"))
    (conv(substring(m, 1, 8), 16, 10).cast("long"),
      conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  private def cmsProbe(depth: Int, width: Int): Column =
    posexplode(array((0 until depth).map(i =>
      pmod(pmod(col("__h1") + lit(i.toLong) * col("__h2"), lit(CmsMod)),
        lit(width.toLong))): _*))

  /** Mergeable count-min sketch (Cormode & Muthukrishnan 2005) over a key
    * column: `depth` portable-md5 hash rows × `width` buckets in SPARSE
    * relational form `(i, j, c)` — at most depth·width rows of state no
    * matter how many keys stream through, which is the whole point: exact
    * per-key counts need vocabulary-sized state (a shuffle keyed by a
    * 100 TB corpus's n-gram vocabulary), the sketch needs a few thousand
    * rows that build in ONE map-side-combinable aggregation (each scan
    * split emits ≤ depth·width partial rows), merge across
    * shards by `(i,j)` addition, and answer point queries by a broadcast probe ([[cmsEstimate]]).
    *
    * Estimates are one-sided: `est ≥ true count` always (collisions only
    * ADD), with the classic ε·N overestimation bound at e/width. Hashes
    * are the engine-portable md5 family `(h1 + i·h2) mod P mod width`, so
    * an external engine replays the sketch bit-for-bit (the q26/q127
    * discipline applied to frequency state).
    */
  def cmsBuild(df: DataFrame, keyCol: String, depth: Int, width: Int)
      : DataFrame = {
    require(depth >= 1 && width >= 1, s"need depth,width >= 1; got $depth/$width")
    val (h1, h2) = cmsBuckets(col(keyCol))
    df.select(h1.as("__h1"), h2.as("__h2"))
      .select(cmsProbe(depth, width).as(Seq("i", "j")))
      .groupBy("i", "j").agg(count(lit(1L)).as("c"))
  }

  /** Point-estimate the count of every key in `keys`: min over the
    * `depth` probed cells (absent cell = 0). The sketch side is bounded
    * by depth·width rows and BROADCASTS — the probe never shuffles.
    */
  def cmsEstimate(
      sketch: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int, width: Int): DataFrame = {
    val (h1, h2) = cmsBuckets(col(keyCol))
    keys.select(col(keyCol), h1.as("__h1"), h2.as("__h2"))
      .select(col(keyCol), cmsProbe(depth, width).as(Seq("i", "j")))
      .join(broadcast(sketch), Seq("i", "j"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Misra–Gries heavy-hitter summary over a column: ≤ k (item,
    * contagem) rows NO MATTER the vocabulary — the bounded-state
    * frequent-item SET next to [[distinctSketch]] (HLL distincts) and
    * [[cmsBuild]] (point frequencies). Runs as the native
    * `graft_heavy_hitters` TypedImperativeAggregate: map-side partials
    * hold k counters each and MERGE by the Agarwal et al. rule, so the
    * exchange carries ≤ k·partitions rows where the exact q70 form
    * shuffles the whole gram table. Guarantees (spec-pinned): every item
    * with true frequency > N/(k+1) is retained; counters never
    * overcount and undercount ≤ N/(k+1). Counter VALUES are
    * order-dependent (any MG is) — the retained set and bounds are the
    * contract, hence spec-only.
    */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    df.agg(call_function("graft_heavy_hitters", col(itemCol), lit(k))
        .as("__mg"))
      .select(explode(col("__mg")).as("__e"))
      .select(col("__e.item").as("item"), col("__e.contagem").as("contagem"))
  }
}
