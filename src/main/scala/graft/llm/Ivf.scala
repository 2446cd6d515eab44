package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the
  * centroid-partitioned scale path next to the hyperplane-LSH variant in
  * [[Similarity]].
  *
  * Index: [[Kmeans]] centroids (deterministic, partition-independent
  * Lloyd rounds) trained on a deterministic SAMPLE of the corpus; every
  * corpus vector is then assigned to exactly one centroid cell by a
  * scan-level argmin expression (one map-side pass, no shuffle, no model
  * UDF). Query: score the `nProbe` nearest centroids per query (tiny
  * broadcast cross — |centroids| rows), then score corpus vectors only
  * inside the probed cells (equi-join on cell id — shuffle linear in
  * rows, never an all-pairs product) and take the exact-cosine top-k.
  * Recall grows with `nProbe` at proportional candidate cost; the
  * scalatest suite measures it against [[Similarity.bruteForceTopK]].
  *
  * The whole path is engine-deterministic: the same corpus gives the
  * same cells, probes and neighbours under ANY partitioning/executor
  * count (Spark ML's k-means|| seeding is partition-sensitive — re-runs
  * of an index build silently moved ~1/3 of q42's neighbours when the
  * core count changed; see [[Kmeans]]).
  *
  * At 100 TB the index is built ONCE ([[index]] → [[IvfIndex]]) and reused
  * across query batches; cells are written bucketed by cell id and probes
  * prune whole cells at the source.
  */
object Ivf {

  /** Reusable IVF index: the cell-tagged corpus and the centroid table.
    * Build once with [[index]], route any number of query batches through
    * [[ivfTopK]] — re-fitting k-means per query batch would dominate every
    * other cost at scale.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Build the index. K-means TRAINS on a deterministic `samplePct`-percent
    * sample of the corpus (md5 percent-hash of the id — reproducible, no
    * executor RNG state): the fit iterates over its training set, and
    * running it over the full corpus is the dominant cost at scale while
    * adding nothing — sample-estimated centroids converge to the same
    * cells. ASSIGNMENT stays full-corpus and scan-level. Tiny corpora,
    * where the sample holds fewer than 4·`nCells` rows, fall back to
    * fitting on everything (fit cost is irrelevant there).
    *
    * The fit takes one of [[Kmeans]]'s two paths. A training set within
    * [[Kmeans.localMaxRows]] (about 8 MiB of driver heap; 13617 rows at
    * 64 dims) is collected once and every Lloyd round runs on the
    * driver; a larger one runs the rounds as Spark jobs. That bounded
    * collect also answers the 4·`nCells` question, so the sample is
    * counted separately only when the bound sits below 4·`nCells`.
    */
  def index(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, samplePct: Int = 10): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val feat = Spread(corpus).select(col(idCol), col(vecCol))
    // the fit iterates over its training set — persist the (small) sample,
    // never the full corpus
    val sampled = feat.filter(Curation.pctHash(col(idCol)) < samplePct)
      .transform(CacheScope.persistTracked)
    val centroids = Kmeans.fit(
      Kmeans.sampledTrainSet(sampled, feat.transform(CacheScope.persistTracked),
        idCol, vecCol, nCells, minRows = nCells.toLong * 4L),
      iters = 5)
    val assigned = feat.withColumn("__cell",
      Kmeans.nearestCell(
        transform(col(vecCol), _.cast("double")), centroids))
    IvfIndex(assigned,
      centroids.zipWithIndex.map { case (v, i) => (i, v) }
        .toDF("__cell", "__centroid"))
  }

  /** [[index]] for LARGE cell counts through [[Kmeans.fitHierarchical]]:
    * ~kCoarse·kFine total cells, with assignment = coarse argmin over a
    * SMALL literal (kCoarse rows) + fine argmin against the
    * broadcast-joined per-coarse-cell matrix — per-row cost
    * O((kCoarse+kFine)·dim) instead of O(kCoarse·kFine·dim), and no
    * 50 MB centroid literal in any plan. Flat cell id =
    * `coarse·kFine + fine`; the returned [[IvfIndex]] is drop-in for
    * every probe / append / write / semanticDedup path.
    *
    * A coarse cell that trapped no TRAINING row has no fine matrix;
    * corpus rows routed there land in flat cell `coarse·kFine` and that
    * cell's centroid is synthesized from the COARSE centroid, so the
    * probe table covers every populated cell (spec-asserted — a silent
    * gap would make those rows unreachable by any probe).
    *
    * The sample rule is [[index]]'s with 4·kCoarse·kFine rows, and the
    * coarse fit's bounded collect answers it the same way.
    */
  def indexHierarchical(
      corpus: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int, kFine: Int, samplePct: Int = 10): IvfIndex =
    indexHierarchicalFactored(corpus, idCol, vecCol, kCoarse, kFine,
      samplePct).toIvf

  /** The two-level index WITH its factorization kept (coarse matrix +
    * per-coarse fine table): [[ivfTopKHierarchical]] routes queries
    * coarse→fine over it in O((kCoarse + probed·kFine)·dim) per query,
    * where the flattened [[IvfIndex]] pays O(kCoarse·kFine·dim) against
    * the full centroid table. `toIvf` flattens for every existing
    * probe/write/dedup path.
    */
  final case class HierIvfIndex(
      assigned: DataFrame, coarse: Seq[Seq[Double]], fine: DataFrame,
      kFine: Int) {

    /** Flat view: centroid rows per (coarse, fine) cell; coarse cells
      * with no fine matrix get their coarse centroid as the probe row —
      * without it, rows routed there would be unreachable by any probe.
      */
    def toIvf: IvfIndex = {
      val spark = assigned.sparkSession
      import spark.implicits._
      val fineCentroids = fine.select(col("__coarse"),
          posexplode(col("__m")).as(Seq("__fine", "__centroid")))
        .select((col("__coarse") * kFine + col("__fine")).as("__cell"),
          col("__centroid"))
      val coarseDf = coarse.zipWithIndex
        .map { case (v, i) => (i, v) }.toDF("__coarse", "__centroid")
      val orphans = coarseDf
        .join(fine.select("__coarse"), Seq("__coarse"), "left_anti")
        .select((col("__coarse") * kFine).as("__cell"), col("__centroid"))
      IvfIndex(assigned, fineCentroids.unionByName(orphans))
    }
  }

  def indexHierarchicalFactored(
      corpus: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int, kFine: Int, samplePct: Int = 10): HierIvfIndex = {
    val feat = Spread(corpus).select(col(idCol), col(vecCol))
    val sampled = feat.filter(Curation.pctHash(col(idCol)) < samplePct)
      .transform(CacheScope.persistTracked)
    val (coarse, fine) = Kmeans.fitHierarchical(
      Kmeans.sampledTrainSet(sampled, feat.transform(CacheScope.persistTracked),
        idCol, vecCol, kCoarse, minRows = kCoarse.toLong * kFine * 4L),
      kFine, iters = 5)
    val asDouble = transform(col(vecCol), _.cast("double"))
    val assigned = feat
      .withColumn("__coarse", Kmeans.nearestCell(asDouble, coarse))
      .join(broadcast(fine), Seq("__coarse"), "left_outer")
      .withColumn("__cell",
        col("__coarse") * kFine +
          coalesce(Kmeans.nearestCellCol(asDouble, col("__m")), lit(0)))
      .select(col(idCol), col(vecCol), col("__cell"))
    HierIvfIndex(assigned, coarse, fine, kFine)
  }

  /** Persist the FACTORED form: cells partitioned by flat id (the same
    * probe-time pruning layout as [[writeIndex]]), the fine table, the
    * coarse matrix and kFine as tiny side relations — so a loaded index
    * serves [[ivfTopKHierarchical]]'s cheap coarse→fine routing, not
    * just the flattened probe path.
    */
  def writeIndexFactored(idx: HierIvfIndex, path: String): Unit = {
    val spark = idx.assigned.sparkSession
    import spark.implicits._
    idx.assigned.write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$path/cells")
    idx.fine.write.mode("overwrite").parquet(s"$path/fine")
    idx.coarse.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("__coarse", "__cc")
      .write.mode("overwrite").parquet(s"$path/coarse")
    Seq(idx.kFine).toDF("kFine").write.mode("overwrite").parquet(s"$path/meta")
  }

  def readIndexFactored(
      spark: org.apache.spark.sql.SparkSession, path: String): HierIvfIndex = {
    val coarse = spark.read.parquet(s"$path/coarse")
      .orderBy("__coarse").collect()
      .map(r => r.getSeq[Double](1).toSeq).toSeq
    val kFine = spark.read.parquet(s"$path/meta")
      .head().getInt(0)
    HierIvfIndex(
      spark.read.parquet(s"$path/cells"),
      coarse,
      spark.read.parquet(s"$path/fine"),
      kFine)
  }

  /** Hierarchical ANN probing over a factored two-level index: each
    * query ranks the SMALL coarse table first (|q|·kCoarse codegen'd
    * distances), opens its `nProbeCoarse` nearest coarse cells, ranks
    * only THOSE cells' fine centroids (≤ nProbeCoarse·kFine distances —
    * the fine matrices ride the broadcast fine table, never a flat
    * 50k-row centroid relation) and scores corpus vectors in the
    * `nProbeFine` best flat cells. Routing cost per query drops from
    * O(kCoarse·kFine·dim) to O((kCoarse + nProbeCoarse·kFine)·dim) —
    * ~100× at 50k cells with √k probing. Recall: coarse pruning can
    * hide a near fine cell behind a far coarse centroid — the standard
    * two-level IVF trade; the spec proves full-width probing degenerates
    * to the flat path's exact probe set.
    */
  def ivfTopKHierarchical(
      idx: HierIvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbeCoarse: Int, nProbeFine: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val coarseDf = idx.coarse.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("__coarse", "__cc")
    val cW = Window.partitionBy("query_id")
      .orderBy(col("__cd").asc, col("__coarse").asc)
    val probedCoarse = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        Similarity.l2Norm(col(vecCol)).as("__qn"))
      .crossJoin(broadcast(coarseDf))
      .withColumn("__cd", sqDist(col("__qv"), col("__cc")))
      .withColumn("__cr", row_number().over(cW))
      .filter(col("__cr") <= nProbeCoarse)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__coarse"),
        col("__cd"))
    val fW = Window.partitionBy("query_id")
      .orderBy(col("__fd").asc, col("__cell").asc)
    val probes = probedCoarse
      .join(broadcast(idx.fine), Seq("__coarse"), "left_outer")
      .select(col("query_id"), col("__qv"), col("__qn"), col("__coarse"),
        col("__cd"), posexplode_outer(col("__m")).as(Seq("__fine", "__fc")))
      .select(col("query_id"), col("__qv"), col("__qn"),
        (col("__coarse") * idx.kFine + coalesce(col("__fine"), lit(0)))
          .as("__cell"),
        // a matrix-less coarse cell's flat probe row IS the coarse
        // centroid (toIvf's orphan rule) — its distance is __cd, so
        // full-width hierarchical probing equals the flat probe exactly
        coalesce(sqDist(col("__qv"), col("__fc")), col("__cd")).as("__fd"))
      .withColumn("__fr", row_number().over(fW))
      .filter(col("__fr") <= nProbeFine)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
    topKInCells(idx.assigned, probes, idCol, vecCol, k)
  }

  /** Squared euclidean distance between a float vector and a double
    * centroid — ranking-only (cells are a routing structure, not results),
    * so plain double accumulation is fine here. Native codegen'd kernel
    * ([[graft.functions.SqDistDouble]], bit-identical fold order): the HOF
    * form is CodegenFallback and runs once per (query, centroid) — the
    * routing product pins executors once the cell count grows (the
    * recurring §4 HOF lesson).
    */
  private def sqDist(v: Column, centroid: Column): Column = {
    call_function("graft_sqdist", v, centroid)
  }

  /** ANN top-k through a prebuilt (reusable) index. */
  def ivfTopK(
      idx: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    // probe list: nProbe nearest centroids per query (|queries| × |centroids|
    // over a broadcast centroid table — negligible)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("__dist").asc, col("__cell").asc)
    val probes = centroidDistances(idx.centroids, queries, idCol, vecCol)
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
    topKInProbedCells(idx, probes, idCol, vecCol, k)
  }

  /** ANN top-k with a CANDIDATE budget instead of a fixed probe count:
    * each query probes its nearest cells (by centroid distance) until the
    * probed cells together hold at least `minCandidates` corpus vectors.
    * A fixed `nProbe` is blind to cell-population skew — a query landing
    * in tiny cells scores almost nothing (recall collapses) while one in
    * hot cells scores far more than it needs; driving the probe width
    * from the cell histogram (nCells rows, computed once per index and
    * broadcast) equalizes WORK per query, which is the quantity that
    * actually bounds both recall and cost at 100 TB. Deterministic:
    * probes open in (distance, cell id) order, and only the prefix sum of
    * their sizes decides the cut.
    *
    * `minCandidates >= |corpus|` degenerates to exact brute force;
    * `minCandidates = 1` probes exactly the nearest cell per query.
    */
  def ivfTopKAdaptive(
      idx: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, minCandidates: Long): DataFrame =
    topKInProbedCells(
      idx, adaptiveProbes(idx, queries, idCol, vecCol, minCandidates),
      idCol, vecCol, k)

  /** The adaptive probe frame: one row per (query, probed cell), cut at
    * the candidate budget. Package-visible so the spec can assert budget
    * coverage and minimality per query.
    */
  private[graft] def adaptiveProbes(
      idx: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      minCandidates: Long): DataFrame = {
    require(minCandidates >= 1L, "minCandidates must be at least 1")
    // nCells-row histogram; left join keeps empty cells probe-able at
    // zero candidate cost
    val sizes = idx.assigned.groupBy("__cell").agg(count(lit(1L)).as("__n"))
    val withSizes = idx.centroids.join(sizes, Seq("__cell"), "left_outer")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("__dist").asc, col("__cell").asc)
    // exclusive prefix sum of probed-cell sizes: keep every probe that
    // opens while the budget is still unmet — the crossing probe stays,
    // everything after it is cut
    val prior = sum(col("__n"))
      .over(probeW.rowsBetween(Window.unboundedPreceding, -1))
    centroidDistances(withSizes, queries, idCol, vecCol)
      .withColumn("__prior", coalesce(prior, lit(0L)))
      .filter(col("__prior") < minCandidates)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__cell"))
  }

  /** Per-(query, centroid) squared distances over a broadcast centroid
    * table — the |queries| × nCells routing product both probe policies
    * share.
    */
  private def centroidDistances(
      centroids: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        Similarity.l2Norm(col(vecCol)).as("__qn"))
      .crossJoin(broadcast(centroids))
      .withColumn("__dist", sqDist(col("__qv"), col("__centroid")))

  /** Exact-cosine top-k restricted to each query's probed cells: corpus
    * vectors join the (tiny, broadcast) probe frame on cell id — shuffle
    * linear in probed rows, never an all-pairs product.
    */
  private def topKInProbedCells(
      idx: IvfIndex, probes: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame =
    topKInCells(idx.assigned, probes, idCol, vecCol, k)

  private def topKInCells(
      assigned: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val cells = assigned.select(
      col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      Similarity.l2Norm(col(vecCol)).as("__cn"), col("__cell"))
    val scored = cells.join(broadcast(probes), Seq("__cell"))
      .select(col("query_id"), col("corpus_id"),
        (Similarity.dotDecimal(col("__qv"), col("__cv")).cast("double") /
          (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Convenience: build the (sampled-fit) index and query it in one call.
    * Long-lived users should build the index once and reuse it.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      samplePct: Int = 10): DataFrame =
    ivfTopK(index(corpus, idCol, vecCol, nCells, samplePct),
      queries, idCol, vecCol, k, nProbe)

  /** Incremental append: assign `newVectors` to the EXISTING centroids
    * (the same scan-level argmin the build uses — no refit, no shuffle)
    * and union them into the cell-tagged corpus. The routing structure is
    * unchanged, so every prior query's probe set still resolves; recall
    * degrades only as far as the new data drifts from the trained
    * centroid geometry — the standard IVF trade (FAISS `add` after
    * `train`), and exactly what a daily embedding delta wants instead of
    * re-fitting 100 TB. Refit (rebuild via [[index]]) when drift
    * accumulates.
    */
  def append(
      idx: IvfIndex, newVectors: DataFrame, idCol: String,
      vecCol: String): IvfIndex = {
    val assignedNew = assignToExisting(idx, newVectors, idCol, vecCol)
    IvfIndex(idx.assigned.unionByName(assignedNew), idx.centroids)
  }

  /** [[append]] against a PERSISTED index: the delta is assigned with the
    * stored centroids and appended into the cell-partitioned layout —
    * new files land inside existing `__cell=` partitions, so probe-time
    * partition pruning keeps working; the centroid table is untouched.
    */
  def appendIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, idCol: String, vecCol: String): Unit = {
    val idx = readIndex(spark, path)
    assignToExisting(idx, newVectors, idCol, vecCol)
      .write.mode("append").partitionBy("__cell").parquet(s"$path/cells")
  }

  /** Cell-assign a delta with an index's centroids (collected — nCells
    * rows — and reused through the same codegen'd argmin as the build).
    */
  private def assignToExisting(
      idx: IvfIndex, newVectors: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val centroidSeq: Seq[Seq[Double]] = idx.centroids
      .orderBy("__cell")
      .collect()
      .map(r => r.getSeq[Double](1).toSeq)
      .toSeq
    Spread(newVectors).select(col(idCol), col(vecCol))
      .withColumn("__cell",
        Kmeans.nearestCell(
          transform(col(vecCol), _.cast("double")), centroidSeq))
  }

  /** Persist the index with the cell-tagged corpus PARTITIONED BY cell id:
    * a probe filters on `__cell`, and against the loaded index that filter
    * is a partition filter — Spark prunes every unprobed cell's files at
    * the SCAN (statically, or via dynamic partition pruning when the probe
    * set is a runtime join), so query cost is proportional to the probed
    * fraction of the corpus, not the corpus. This is the on-disk shape a
    * 100 TB embedding store needs; the in-memory [[IvfIndex]] is for
    * batch-session reuse.
    */
  def writeIndex(idx: IvfIndex, path: String): Unit = {
    idx.assigned.write.mode("overwrite").partitionBy("__cell").parquet(s"$path/cells")
    idx.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted index; `ivfTopK` over it prunes unprobed cells at
    * the parquet scan.
    */
  def readIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/cells"),
      spark.read.parquet(s"$path/centroids"))
}
