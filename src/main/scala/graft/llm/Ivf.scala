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
  * across query batches.
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
    * [[ivfTopK]] and [[Dedup.semanticDedup]].
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
      kCoarse: Int, kFine: Int, samplePct: Int = 10): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
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
    // centroid rows per (coarse, fine) cell; a coarse cell with no fine
    // matrix gets its coarse centroid as the probe row — without it, rows
    // routed there would be unreachable by any probe
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
    topKInCells(idx.assigned, probes, idCol, vecCol, k)
  }

  /** Per-(query, centroid) squared distances over a broadcast centroid
    * table — the |queries| × nCells routing product of [[ivfTopK]].
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
}
