package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{NearestCellOps, VectorOps}
import graft.plans.Gates

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
  *
  * The one-shot [[ivfTopK]] (corpus and queries in one call) takes one of
  * two paths with bit-identical rows and schema (IvfLocalSpec):
  *
  *  - DRIVER-LOCAL, when the corpus and the query batch together fit
  *    [[Gates.driverLocalRows]] at [[heldRowBytes]] (about 8 MiB of held
  *    heap; 10810 rows at 64 dims). A one-row job reads the vector
  *    width off the query batch, then one bounded collect brings the
  *    corpus with its Spark-computed sample hash and seed key, and one
  *    more the query batch. The fit ([[Kmeans.lloydLocal]]), the cell
  *    assignment ([[NearestCellOps.nearest]]), the nProbe routing
  *    ([[VectorOps.sqDistDouble]]) and the exact-cosine scoring
  *    ([[VectorOps.dotDecimal]]) run on the driver with the kernels the
  *    distributed plan runs, and the result is a one-partition frame of
  *    at most |queries|·k rows. When routing leaves more candidate pairs
  *    than [[Gates.DriverScoreMaxPairs]], the driver-fitted cells go to
  *    the distributed query plan instead; nothing is fitted twice. Any
  *    input this path does not model exactly takes the distributed path
  *    (see [[localTopK]]).
  *  - DISTRIBUTED, otherwise: [[index]], then the prebuilt-index
  *    [[ivfTopK]].
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
    val feat = Spread(corpus).select(col(idCol), col(vecCol))
    // the fit iterates over its training set — persist the (small) sample,
    // never the full corpus
    val sampled = feat.filter(Curation.pctHash(col(idCol)) < samplePct)
      .transform(CacheScope.persistTracked)
    val centroids = Kmeans.fit(
      Kmeans.sampledTrainSet(sampled, feat.transform(CacheScope.persistTracked),
        idCol, vecCol, nCells, minRows = nCells.toLong * 4L),
      FitIters)
    indexWith(feat, vecCol, centroids)
  }

  /** Lloyd rounds of every IVF fit. */
  private val FitIters = 5

  /** The index over fitted `centroids`: every row of `feat` tagged with its
    * nearest cell, and the centroid table.
    */
  private def indexWith(
      feat: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): IvfIndex = {
    val spark = feat.sparkSession
    import spark.implicits._
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
      kFine, FitIters)
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

  /** Build the (sampled-fit) index and query it in one call: on the
    * driver when [[localTopK]] takes it, else [[index]] and the
    * prebuilt-index [[ivfTopK]]. Long-lived users should build the index
    * once and reuse it.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      samplePct: Int = 10): DataFrame =
    localTopK(corpus, queries, idCol, vecCol, k, nCells, nProbe, samplePct)
      .getOrElse(ivfTopK(index(corpus, idCol, vecCol, nCells, samplePct),
        queries, idCol, vecCol, k, nProbe))

  /** Heap one row held by [[localTopK]] takes: [[Kmeans.heldRowBytes]] for
    * its vector as doubles, plus about 160 bytes for the boxed id, the
    * two hash keys and the row objects.
    */
  private[graft] def heldRowBytes(dim: Int): Long = Kmeans.heldRowBytes(dim) + 160

  /** A corpus or query row on the driver: its id (the column's own boxed
    * value), its vector cast to doubles, and for corpus rows the sample
    * hash and the md5 seed key.
    */
  private final case class Held(
      id: Any, v: UnsafeArrayData, pct: Long = 0L, seedKey: String = null) {
    def key: Long = id.asInstanceOf[Number].longValue
  }

  /** Up to `maxRows` rows of `df` on the driver, in one collect of at most
    * `maxRows + 1` rows; None when it holds more, or a row this path does
    * not model: a null id or vector, a vector not `dim` wide, or a null,
    * NaN or infinite element. With `keyed`, each row also carries
    * Spark's [[Curation.pctHash]] and md5 seed key of its id. The rows
    * stay the engine's own: a collect that overflows the bound converts
    * none of them.
    */
  private def collectHeld(
      df: DataFrame, idCol: String, vecCol: String, dim: Int, maxRows: Int,
      keyed: Boolean): Option[Array[Held]] = {
    val id = col(idCol)
    val keys =
      if (keyed) Seq(Curation.pctHash(id), md5(id.cast("string").cast("binary")))
      else Nil
    // a vector of another width comes over as null: the collect stays
    // bounded by `dim`, and the row declines
    val vec = when(size(col(vecCol)) === dim, col(vecCol))
    val qe = df.select(id +: vec +: keys: _*).limit(maxRows + 1).queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    if (rows.length > maxRows) return None
    val Seq(idType, vecType) = qe.analyzed.output.take(2).map(_.dataType)
    val isFloat = vecType.asInstanceOf[ArrayType].elementType == FloatType
    val held = rows.map { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) null
      else {
        val a = r.getArray(1)
        val xs = Array.tabulate(dim) { i =>
          if (a.isNullAt(i)) Double.NaN
          else if (isFloat) a.getFloat(i).toDouble
          else a.getDouble(i)
        }
        if (!xs.forall(java.lang.Double.isFinite)) null
        else if (keyed) Held(r.get(0, idType), UnsafeArrayData.fromPrimitiveArray(xs),
          r.getLong(2), r.getUTF8String(3).toString)
        else Held(r.get(0, idType), UnsafeArrayData.fromPrimitiveArray(xs))
      }
    }
    if (held.contains(null)) None else Some(held)
  }

  /** The one-shot [[ivfTopK]] on the driver, with the distributed path's
    * semantics:
    *
    *  - the training set is the rows with `pctHash < samplePct`, or every
    *    row when that sample holds fewer than 4·`nCells` rows;
    *  - seeds are the first `nCells` training rows by (md5 key, id);
    *  - [[FitIters]] rounds of [[Kmeans.lloydLocal]];
    *  - each corpus row goes to its [[NearestCellOps.nearest]] cell;
    *  - each query probes its `nProbe` nearest cells by
    *    ([[VectorOps.sqDistDouble]] asc, cell asc);
    *  - cosine = `dotDecimal(q, c).toDouble / (‖q‖·‖c‖)`, with each norm
    *    `sqrt(dotDecimal(v, v).toDouble)` as [[Similarity.l2Norm]];
    *  - rank = row number by (cosine desc, corpus id asc), at most `k`.
    *
    * Doubles compare as Spark orders them. None, for the distributed
    * path, when the corpus and queries together pass the driver-local
    * gate, or on an input this path does not model exactly: a non-integral
    * id type or a vector column not of float or double, fewer than one
    * cell, an empty query batch, a row [[collectHeld]] declines, or
    * duplicate query ids (their probes would share one window). Past
    * routing, a pair count over [[Gates.DriverScoreMaxPairs]], a null dot
    * product or a zero denominator (an ANSI divide error in the
    * distributed plan) hand the driver-fitted cells to the distributed
    * query plan.
    */
  private[graft] def localTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, nProbe: Int, samplePct: Int): Option[DataFrame] = {
    val (cId, qId) = (corpus.schema(idCol), queries.schema(idCol))
    def integral(t: DataType) =
      Seq(ByteType, ShortType, IntegerType, LongType).contains(t)
    def vectors(df: DataFrame) = df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (nCells < 1 || !integral(cId.dataType) || !integral(qId.dataType) ||
        !vectors(corpus) || !vectors(queries)) return None
    // the width comes from the query batch: a batch the caller cached is
    // built here once, and the distributed path reads it back on a decline
    val width = queries.select(size(col(vecCol))).limit(1).collect()
    if (width.isEmpty || width(0).isNullAt(0) || width(0).getInt(0) < 1)
      return None
    val dim = width(0).getInt(0)
    val bound = Gates.driverLocalRows(heldRowBytes(dim))
    val held = for {
      docs <- collectHeld(corpus, idCol, vecCol, dim, bound, keyed = true)
      qs <- collectHeld(queries, idCol, vecCol, dim, bound - docs.length,
        keyed = false)
      if qs.map(_.key).distinct.length == qs.length
    } yield (docs, qs)
    held.map { case (docs, qs) =>
      val centroids = fitLocal(docs, nCells, samplePct)
      val matrix = new GenericArrayData(
        centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c.toArray)))
      val cells =
        docs.indices.groupBy(i => NearestCellOps.nearest(docs(i).v, matrix))
      // every centroid is `dim` wide, as every held vector: no null distance
      val probes = qs.map { q =>
        centroids.indices
          .map(c => (VectorOps.sqDistDouble(q.v, matrix.getArray(c), false, false)
            .doubleValue, c))
          .sortWith { case ((d1, c1), (d2, c2)) =>
            // Spark's order: -0.0 equals 0.0, unlike java.lang.Double.compare
            val o = SQLOrderingUtil.compareDoubles(d1, d2)
            o < 0 || (o == 0 && c1 < c2)
          }
          .take(nProbe).map(_._2)
      }
      val pairs =
        probes.iterator.flatten.map(c => cells.get(c).fold(0L)(_.size.toLong)).sum
      val scored =
        if (Gates.scoreOnDriver(pairs)) scoreLocal(docs, qs, cells, probes, k)
        else None
      scored.fold(
        ivfTopK(indexWith(Spread(corpus).select(col(idCol), col(vecCol)),
          vecCol, centroids), queries, idCol, vecCol, k, nProbe)) { rows =>
        val schema = StructType(Seq(
          StructField("query_id", qId.dataType, qId.nullable, qId.metadata),
          StructField("corpus_id", cId.dataType, cId.nullable, cId.metadata),
          StructField("cosine", DoubleType),
          StructField("rank", LongType, nullable = false)))
        corpus.sparkSession.createDataFrame(rows.asJava, schema).coalesce(1)
      }
    }
  }

  /** [[index]]'s sampled fit over rows already on the driver. */
  private def fitLocal(
      docs: Array[Held], nCells: Int, samplePct: Int): Seq[Seq[Double]] = {
    val sample = docs.filter(_.pct < samplePct)
    val train = if (sample.length >= nCells.toLong * 4L) sample else docs
    val seeds = train.sortWith { (a, b) =>
      val o = a.seedKey.compareTo(b.seedKey)
      o < 0 || (o == 0 && a.key < b.key)
    }.take(nCells).map(_.v.toDoubleArray.toSeq).toSeq
    val noNulls = new Array[java.util.BitSet](train.length)
    Kmeans.lloydLocal(
      Kmeans.LocalRows(train.length, train.map(_.v), noNulls), seeds, FitIters)
  }

  /** Exact-cosine top-`k` of each query over its probed cells' rows, as
    * `(query_id, corpus_id, cosine, rank)` rows; None on a null dot
    * product or a zero denominator.
    */
  private def scoreLocal(
      docs: Array[Held], qs: Array[Held], cells: Map[Int, IndexedSeq[Int]],
      probes: Array[IndexedSeq[Int]], k: Int): Option[Seq[Row]] = {
    def norm(v: UnsafeArrayData): Double =
      Option(VectorOps.dotDecimal(v, v, false, false))
        .fold(Double.NaN)(d => math.sqrt(d.toDouble))
    val docNorms = docs.map(d => norm(d.v))
    val out = Seq.newBuilder[Row]
    var modeled = true
    for ((q, probed) <- qs.lazyZip(probes) if modeled) {
      val qn = norm(q.v)
      val cands = for (c <- probed; i <- cells.getOrElse(c, Nil)) yield {
        val den = qn * docNorms(i)
        val dot = VectorOps.dotDecimal(q.v, docs(i).v, false, false)
        // NaN: a null norm; zero: a divide error in the distributed plan
        if (dot == null || den.isNaN || den == 0.0) modeled = false
        (if (modeled) dot.toDouble / den else Double.NaN, i)
      }
      val top = cands.sortWith { case ((c1, i1), (c2, i2)) =>
        val o = SQLOrderingUtil.compareDoubles(c2, c1)
        o < 0 || (o == 0 && docs(i1).key < docs(i2).key)
      }.take(k)
      for (((cos, i), r) <- top.zipWithIndex)
        out += Row(q.id, docs(i).id, cos, r + 1L)
    }
    if (modeled) Some(out.result()) else None
  }
}
