package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for ANN (Jégou, Douze & Schmid, TPAMI 2011) — the
  * memory side of the 100 TB similarity story. [[Ivf]] bounds how many
  * vectors a query SCANS; PQ bounds what each scanned vector COSTS: the
  * d-dim float vector (d·8 bytes) compresses to m sub-codes (m bytes at
  * k ≤ 256), and query-time distance is m table lookups instead of d
  * multiplies — the layout FAISS's IVFADC pairs with IVF lists, and the
  * only way a trillion-vector corpus fits a cluster's RAM at all.
  *
  * Reference point: sm-etl-cloud-run has no vector surface; this extends
  * the engine's ANN family (SURVEY rows 42/109/147) to the
  * compressed-residency regime.
  *
  * Exactness stance: ADC distances are APPROXIMATE by construction
  * (that is the trade) → rows-only + recall/error specs, the row-30/42
  * discipline; every number is still DETERMINISTIC (Lloyd fit is the
  * partition-independent [[Kmeans.fit]]; code assignment ties break to
  * the lowest code; the m-term ADC sum accumulates in DECIMAL so no
  * float meets a float in aggregation order).
  *
  * Shape at 100 TB: fit = m small Lloyd fits over ONE persisted sample
  * (sub-slicing is free at scan level); encoding is a stateless
  * projection (m codegen'd argmins per row — the [[Kmeans.nearestCell]]
  * native kernel — over an m·k·(d/m) = k·d literal, the same size as one
  * flat k-means literal); search explodes the code column once (×m), hash
  * joins a BROADCAST query×m×k lookup table and folds ONE combinable
  * per-(query, vector) sum — the corpus never shuffles, never
  * materializes a pair space, and never touches the original floats.
  */
object Pq {

  /** m codebooks of k sub-centroids each, over contiguous `subDim`-wide
    * slices of the vector. `codebooks(s)(j)` = centroid j of sub-space s.
    */
  case class PqModel(m: Int, subDim: Int, codebooks: Seq[Seq[Seq[Double]]]) {
    require(codebooks.length == m && codebooks.forall(_.nonEmpty))
    def k: Int = codebooks.head.length
  }

  private def slicedDouble(v: Column, s: Int, subDim: Int): Column =
    slice(transform(v, _.cast("double")), s * subDim + 1, subDim)

  /** Fit m per-sub-space codebooks on a deterministic hash sample (the
    * [[Ivf.index]] sampling discipline — the fit iterates, so it runs on
    * a persisted sample, never the corpus; a sample under 4·k rows falls
    * back to the whole corpus). Seeds are [[Kmeans.fit]]'s md5-ordered
    * first k rows, sliced per sub-space; the fit is deterministic under
    * any partitioning, on either of two paths with identical codebooks:
    *
    *  - driver-local, when the training set is within
    *    [[Kmeans.localMaxRows]] (about 8 MiB of driver heap for the
    *    full-width rows; 13617 rows at 64 dims): the
    *    gate's one bounded collect brings it to the driver and
    *    [[Kmeans.lloydLocal]] runs once per sub-space. That collect also
    *    answers the 4·k question, so the sample is counted separately
    *    only when the bound sits below 4·k;
    *  - distributed, otherwise: all m sub-spaces train in the SAME Lloyd
    *    rounds. The training set explodes once into (sub, sub-vector)
    *    rows, each round assigns against the per-sub matrix
    *    broadcast-joined in ([[Kmeans.nearestCellCol]] — the
    *    hierarchical-fit discipline) and folds one (sub, cell, dim)
    *    decimal aggregation — `iters` jobs total, independent of m.
    */
  def fit(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, samplePct: Int = 10, iters: Int = 5): PqModel = {
    require(m >= 1 && k >= 1, s"need m>=1, k>=1; got m=$m k=$k")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val subDim = dim / m
    val feat = Spread(corpus).select(col(idCol), col(vecCol))
    val sampled = feat.filter(Curation.pctHash(col(idCol)) < samplePct)
      .transform(CacheScope.persistTracked)
    val train = Kmeans.sampledTrainSet(
      sampled, feat.transform(CacheScope.persistTracked),
      idCol, vecCol, k, minRows = k.toLong * 4L)
    val books = train.local match {
      case Some(local) => fitLocal(local, train.seeds, m, subDim, iters)
      case None => fitDistributed(train.vecs, train.seeds, m, subDim, iters)
    }
    PqModel(m, subDim, books)
  }

  /** Sub-space `s` of every seed vector. */
  private def subSeeds(
      seeds: Seq[Seq[Double]], s: Int, subDim: Int): Seq[Seq[Double]] =
    seeds.map(_.slice(s * subDim, (s + 1) * subDim))

  /** The m codebooks on the driver: one local Lloyd fit per sub-space. */
  private[graft] def fitLocal(
      local: Kmeans.LocalRows, seeds: Seq[Seq[Double]], m: Int, subDim: Int,
      iters: Int): Seq[Seq[Seq[Double]]] =
    (0 until m).map { s =>
      Kmeans.lloydLocal(local.slice(s * subDim, subDim),
        subSeeds(seeds, s, subDim), iters)
    }

  /** The m codebooks as Spark jobs: all sub-spaces in the same rounds,
    * over a [[Kmeans.TrainSet]]'s `(__id, __v)` frame.
    */
  private[graft] def fitDistributed(
      vecs: DataFrame, seeds: Seq[Seq[Double]], m: Int, subDim: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val subs = CacheScope.persistTracked(vecs
      .select(col("__id"), explode(array((0 until m).map { s =>
        struct(lit(s).as("__sub"),
          slice(col("__v"), s * subDim + 1, subDim).as("__v"))
      }: _*)).as("__e"))
      .select(col("__id"), col("__e.__sub").as("__sub"),
        col("__e.__v").as("__v")))
    var books = (0 until m).map(s => subSeeds(seeds, s, subDim))
    for (_ <- 0 until iters) {
      val matrices = books.zipWithIndex
        .map { case (b, s) => (s, b) }.toDF("__sub", "__matrix")
      val sums = subs
        .join(broadcast(matrices), Seq("__sub"))
        .select(col("__sub"),
          Kmeans.nearestCellCol(col("__v"), col("__matrix")).as("__cell"),
          posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy("__sub", "__cell", "__dim")
        .agg(sum(col("__x").cast("decimal(38,12)")).as("__sum"),
          count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
          (r.getDecimal(3), r.getLong(4)))
        .toMap
      books = books.zipWithIndex.map { case (book, s) =>
        Kmeans.update(book,
          (cell, d) => sums.getOrElse((s, cell, d), Kmeans.NoStat))
      }
    }
    books
  }

  /** Encode: (id, codes array<int> of length m) — a stateless projection,
    * one native argmin per sub-space. Ties break to the lowest code
    * ([[Kmeans.nearestCell]] first-minimum), so codes are reproducible
    * under any partitioning.
    */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    corpus.select(col(idCol),
      array((0 until model.m).map { s =>
        Kmeans.nearestCell(
          slicedDouble(col(vecCol), s, model.subDim), model.codebooks(s))
      }: _*).as("codes"))

  /** IVFADC (Jégou et al. §IV — the composition the paper actually
    * ships, and the architecture FAISS's workhorse index implements):
    * [[Ivf]] cell routing bounds HOW MANY vectors a query scans
    * (nProbe cells' worth), the PQ codes bound WHAT EACH COSTS (m
    * lookups, no original floats) — multiplicatively, which is the
    * whole 100 TB ANN budget: scan fraction × bytes-per-vector.
    *
    * Shape: the probe frame (query → nProbe cells, from one broadcast
    * centroid cross) joins the cell-tagged encoded corpus on cell id —
    * shuffle linear in PROBED code rows; ADC then scores only those
    * (query, vector) pairs through a broadcast LUT (joined per query_id,
    * so a vector pays only the queries that probed its cell), one DECIMAL-combinable sum, ADC
    * shortlist, exact refine on the shortlist's original vectors.
    *
    * Query batches larger than `queryTile` are folded in SEQUENTIAL
    * tiles: each tile's ADC pass runs eagerly (per-tile top-k local-
    * checkpointed — tile×k rows) before the next starts, so in-flight
    * state — the queries×m×k broadcast LUT, the (query × probed-code)
    * fold, both rank sorts — is bounded by the TILE, not the batch.
    * The r12 sf10 rehearsal's 10k-query batch left enough old-gen
    * residue that the second adjacent run was SLOWER than the first
    * (115.7 → 142.5 s); a fixed tile bound is the q181 verify-tiling
    * discipline applied to the ADC fold. Cost: the cell-pruned encoded
    * scan repeats per tile (the tiled path persists it), the classic
    * batch/scan trade.
    */
  def ivfAdcTopK(
      idx: Ivf.IvfIndex, model: PqModel, encoded: DataFrame,
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, shortlist: Int,
      queryTile: Int = 4096): DataFrame = {
    require(shortlist >= k, s"need shortlist >= k, got $shortlist < $k")
    require(queryTile >= 1, s"need queryTile >= 1, got $queryTile")
    val spark = queries.sparkSession
    import spark.implicits._
    val qdAll = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), _.cast("double")).as("__qv"))
      .transform(CacheScope.persistTracked)
    val cb = model.codebooks.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, j) => (s, j, c) }
    }.toDF("__sub", "__code", "__cent")
    val cv = corpus.select(col(idCol).as("corpus_id"),
      transform(col(vecCol), _.cast("double")).as("__cv"))

    def oneBatch(qd: DataFrame, encCells: DataFrame): DataFrame = {
      val probeW = Window.partitionBy("query_id")
        .orderBy(col("__pd").asc, col("__cell").asc)
      val probes = qd
        .crossJoin(broadcast(idx.centroids))
        .withColumn("__pd", Kmeans.sqDist(col("__qv"),
          transform(col("__centroid"), _.cast("double"))))
        .withColumn("__pr", row_number().over(probeW))
        .filter(col("__pr") <= nProbe)
        .select("query_id", "__cell")
      val lut = qd.crossJoin(broadcast(cb))
        .select(col("query_id"), col("__sub"), col("__code"),
          Kmeans.sqDist(
            slice(col("__qv"), col("__sub") * model.subDim + 1,
              lit(model.subDim)),
            col("__cent")).as("__d"))
      val cand = encCells
        .join(broadcast(probes), Seq("__cell"))
        .select(col(idCol).as("corpus_id"), col("query_id"),
          posexplode(col("codes")).as(Seq("__sub", "__code")))
        .join(broadcast(lut), Seq("query_id", "__sub", "__code"))
        .groupBy("query_id", "corpus_id")
        .agg(sum(col("__d").cast("decimal(38,12)")).cast("double")
          .as("__adc"))
      val slW = Window.partitionBy("query_id")
        .orderBy(col("__adc").asc, col("corpus_id").asc)
      val short = cand.withColumn("__sr", row_number().over(slW))
        .filter(col("__sr") <= shortlist)
        .select("query_id", "corpus_id")
      val w = Window.partitionBy("query_id")
        .orderBy(col("dist2").asc, col("corpus_id").asc)
      short.join(broadcast(qd), Seq("query_id"))
        .join(cv, Seq("corpus_id"))
        .select(col("query_id"), col("corpus_id"),
          Kmeans.sqDist(col("__qv"), col("__cv")).as("dist2"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
    }

    val assignedCells =
      encoded.join(idx.assigned.select(col(idCol), col("__cell")),
        Seq(idCol))
    val nTiles =
      ((qdAll.count() + queryTile - 1) / queryTile).toInt
    if (nTiles <= 1) oneBatch(qdAll, assignedCells)
    else {
      // deterministic RANK tiling: a hash bucket (the r13 shape) bounds
      // only the AVERAGE tile — skewed or clustered ids can put far
      // more than queryTile queries in one bucket, re-creating the
      // in-flight blowup the tiling exists to prevent. The distributed
      // globalRank (range exchange + offset fold) makes every tile
      // EXACTLY <= queryTile rows; per-tile results checkpoint eagerly
      // so tiles execute one at a time.
      val encCells = CacheScope.persistTracked(assignedCells)
      val ranked = CacheScope.persistTracked(
        graft.operators.Neighborhood
          .globalRank(qdAll, "query_id", col("query_id"))
          .withColumn("__qt",
            ((col("__rank") - 1L) / queryTile).cast("int"))
          .drop("__k", "__rank"))
      (0 until nTiles).map { t =>
        oneBatch(ranked.filter(col("__qt") === t).drop("__qt"), encCells)
          .localCheckpoint(true)
      }.reduce(_.unionByName(_))
    }
  }
}
