package graft.llm

import java.math.{BigDecimal => JBigDecimal}
import java.util.BitSet

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  SpecificInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType}

import graft.functions.{DecimalOps, NearestCellOps}
import graft.plans.Gates

/** Deterministic, partition-INDEPENDENT Lloyd k-means — the cell-routing
  * fit behind [[Ivf]].
  *
  * Spark ML's `KMeans` seeds k-means|| from per-partition samples, so the
  * fitted centroids (and every ANN result routed through them) change
  * with the partition layout — re-running the same index build on a
  * different executor count silently returns different neighbours. At
  * 100 TB, "the same job gives the same answer" is an operational
  * property (idempotent re-runs, auditable retrievals), so this fit is
  * engine-deterministic end to end:
  *
  *  - seeds: the `k` rows with the smallest `(md5(id), id)` — a uniform
  *    deterministic draw, independent of partitioning (TakeOrdered, no
  *    RNG state);
  *  - assignment: squared-distance argmin with FIRST-minimum (lowest
  *    cell) tie-break through the native [[NearestCellOps.nearest]]
  *    kernel — per-row IEEE arithmetic is identical everywhere;
  *  - update: per-cell per-dimension means accumulate through
  *    `DECIMAL(38,12)` sums — exact and order-independent where a double
  *    sum would drift with partitioning and flip borderline assignments
  *    next round; the mean is `sum.doubleValue / n`, where `n` counts
  *    null elements too; empty cells keep their previous centroid.
  *
  * Iteration count is FIXED (routing cells don't need convergence, they
  * need stability). The rounds run on one of two paths, with
  * bit-identical centroids (KmeansSpec):
  *
  *  - DRIVER-LOCAL, when the training set is small. After the seed
  *    collect gives the vector width, one bounded collect of at most
  *    [[localMaxRows]] + 1 rows probes the training set. If it holds at
  *    most [[localMaxRows]] rows — about 8 MiB of held heap
  *    ([[Gates.DriverLocalMaxBytes]]; 13617 rows at 64 dims) — every
  *    round runs on the driver: the same nearest-cell kernel on the
  *    engine's `ArrayData`, and `BigDecimal` sums of each element cast to
  *    `DECIMAL(38,12)` by the engine's own [[Cast]] expression. The whole
  *    fit is two collects (seeds, probe) instead of one more per round:
  *    at small scale each round is fixed cost — a shuffle, an adaptive
  *    re-plan and two job launches for kilobytes of state.
  *  - DISTRIBUTED, otherwise: each round assigns per row as a scan-level
  *    expression over a centroid array LITERAL (no shuffle touches the
  *    corpus) and reduces through one map-side-combinable aggregation
  *    over (cell, dim) keys — k·dim result rows to the driver, the same
  *    tiny driver surface every k-means maintains.
  */
object Kmeans {

  /** Heap one held row of `dim` doubles takes: the doubles, its null-bitmap
    * words, and about 96 bytes of array object and headers. Measured at
    * dim 64: about 620 bytes per held row (8.1 MiB at the bound), plus
    * about 1.9 KB per row of external rows while the collect runs (25
    * MiB at the bound).
    */
  private[graft] def heldRowBytes(dim: Int): Long =
    8L * dim + 8L * ((dim + 63) / 64) + 96

  /** The most training rows the driver-local path takes for `dim`-wide
    * vectors: [[Gates.driverLocalRows]] at [[heldRowBytes]]. The cell
    * count plays no part: on a 4-core VM, five driver rounds beat five
    * distributed ones at every size measured around the bound (64 dims;
    * 2000 rows at k = 16 to 1024, 16000 rows at k = 16 to 256: 0.3–5 s on
    * the driver against 2–90 s distributed).
    */
  private[graft] def localMaxRows(dim: Int): Int =
    Gates.driverLocalRows(heldRowBytes(dim))

  /** Squared euclidean distance between two double-array columns. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Nearest-centroid cell id (0-based) for a double-array column against
    * a centroid literal — first minimum wins, so ties break to the lowest
    * cell deterministically. Native codegen'd kernel
    * ([[graft.functions.NearestCell]]): the HOF form (`transform` over the
    * centroid literal) evaluates k·dim interpreted lambdas per row and its
    * cost grows with the cell count — it pinned every executor once cells
    * scaled with the corpus.
    */
  def nearestCell(v: Column, centroids: Seq[Seq[Double]]): Column = {
    call_function("graft_nearest_cell", v, typedlit(centroids))
  }

  /** Training rows held on the driver: the non-null vectors as doubles (a
    * null element reads 0.0, as the kernel reads it in a scan) and, per
    * vector, the positions of its null elements (null when it has none).
    * `rows` counts null vectors too — it is the training set's exact row
    * count.
    */
  private[graft] final case class LocalRows(
      rows: Int, vecs: Array[UnsafeArrayData], nulls: Array[BitSet]) {

    /** The sub-vectors `[from, from + width)`, clipped at each row's end
      * as Spark's `slice` clips them.
      */
    def slice(from: Int, width: Int): LocalRows =
      LocalRows(rows,
        vecs.map(v => UnsafeArrayData.fromPrimitiveArray(
          v.toDoubleArray.slice(from, from + width))),
        nulls.map(n => if (n == null) null else n.get(from, from + width)))
  }

  /** A training set ready for either Lloyd path: its `(__id, __v)` frame
    * (`__v` the vector cast to doubles), its md5 seeds, the gate bound it
    * was probed against, and its rows when the gate admitted them.
    */
  private[graft] final case class TrainSet(
      vecs: DataFrame, seeds: Seq[Seq[Double]], maxRows: Int,
      local: Option[LocalRows])

  /** Seed `df` for `k` cells and probe it against the driver-local gate:
    * the seed collect, then one collect of at most `maxRows + 1` rows.
    */
  private[graft] def trainSet(
      df: DataFrame, idCol: String, vecCol: String, k: Int): TrainSet = {
    require(k >= 1, s"need k>=1; got k=$k")
    val vecs = df.select(
      col(idCol).as("__id"),
      transform(col(vecCol), _.cast("double")).as("__v"))
    val seeds = vecs
      .orderBy(md5(col("__id").cast("string").cast("binary")), col("__id"))
      .limit(k)
      .select("__v").collect().map(_.getSeq[Double](0).toSeq).toSeq
    seeds.headOption match {
      case None => // no rows at all: nothing to probe
        TrainSet(vecs, seeds, 0, Some(LocalRows(0, Array.empty, Array.empty)))
      case Some(seed) =>
        val maxRows = localMaxRows(seed.length)
        TrainSet(vecs, seeds, maxRows, collectAtMost(vecs, maxRows))
    }
  }

  /** [[trainSet]] over `sample` when it holds at least `minRows` rows,
    * else over `fallback` — the sampled-fit rule of [[Ivf.index]] and
    * [[Pq.fit]]. The gate's probe answers the size question where it
    * can: a sample the driver took is counted exactly, and one that
    * overflowed the probe holds more than `maxRows` rows. Only when
    * `maxRows` sits below `minRows - 1` does `sample.count()` run.
    */
  private[graft] def sampledTrainSet(
      sample: DataFrame, fallback: => DataFrame, idCol: String,
      vecCol: String, k: Int, minRows: Long): TrainSet = {
    val t = trainSet(sample, idCol, vecCol, k)
    val enough = t.local match {
      case Some(local) => local.rows >= minRows
      case None => t.maxRows + 1L >= minRows || sample.count() >= minRows
    }
    if (enough) t else trainSet(fallback, idCol, vecCol, k)
  }

  /** Up to `maxRows` rows of a `(__id, __v)` frame on the driver; None
    * when the frame holds more.
    */
  private def collectAtMost(vecs: DataFrame, maxRows: Int): Option[LocalRows] = {
    val got = vecs.select("__v").limit(maxRows + 1).collect()
    if (got.length > maxRows) None
    else {
      val kept = got.filterNot(_.isNullAt(0)) // posexplode skips null vectors
        .map(_.getSeq[java.lang.Double](0))
      Some(LocalRows(got.length,
        kept.map(v => UnsafeArrayData.fromPrimitiveArray(
          v.map(x => if (x == null) 0.0 else x.doubleValue).toArray)),
        kept.map { v =>
          if (!v.contains(null)) null
          else {
            val n = new BitSet(v.length)
            for (d <- v.indices if v(d) == null) n.set(d)
            n
          }
        }))
    }
  }

  /** The engine's own `cast(x as decimal(38,12))` of one double — the
    * [[Cast]] expression the distributed reduce evaluates per element,
    * under the session's evaluation mode. Null where the cast is null.
    * [[DecimalOps.castUnscaled]] decides almost every coordinate; the
    * rest take the `Cast` itself.
    */
  private final class DecimalCast {
    private val in = new SpecificInternalRow(Seq(DoubleType))
    private val cast =
      Cast(BoundReference(0, DoubleType, nullable = false), DecimalType(38, 12))

    def apply(x: Double): JBigDecimal = {
      val u = DecimalOps.castUnscaled(x, 38, 12)
      if (u != DecimalOps.Undecided) return JBigDecimal.valueOf(u, 12)
      in.setDouble(0, x)
      cast.eval(in) match {
        case d: Decimal => d.toJavaBigDecimal
        case _ => null
      }
    }
  }

  /** One Lloyd update from per-(cell, dim) decimal sums and counts
    * (`stat(cell, d)`): the mean is `sum.doubleValue / n`. A cell with no
    * row keeps its previous centroid; so does a coordinate that no row of
    * its cell holds a non-null value for.
    */
  private[graft] def update(
      old: Seq[Seq[Double]], stat: (Int, Int) => (JBigDecimal, Long))
      : Seq[Seq[Double]] =
    old.zipWithIndex.map { case (c, cell) =>
      if (c.isEmpty || stat(cell, 0)._2 == 0L) c
      else c.indices.map { d =>
        val (s, n) = stat(cell, d)
        if (s == null) c(d) else s.doubleValue / n
      }
    }

  /** The (sum, count) of a (cell, dim) key no row reached. */
  private[graft] val NoStat: (JBigDecimal, Long) = (null, 0L)

  /** Fit `k` centroids over `iters` Lloyd rounds on `df(vecCol)` (any
    * numeric array column). Returns the centroid matrix, identical under
    * any partitioning of `df`, on either path.
    */
  def fit(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 1, s"need k>=1, iters>=1; got k=$k iters=$iters")
    fit(trainSet(df, idCol, vecCol, k), iters)
  }

  /** [[fit]] over a probed training set: driver-local when the gate
    * admitted its rows, distributed otherwise.
    */
  private[graft] def fit(t: TrainSet, iters: Int): Seq[Seq[Double]] =
    t.local match {
      case Some(local) => lloydLocal(local, t.seeds, iters)
      case None => lloydDistributed(t.vecs, t.seeds, iters)
    }

  /** Lloyd rounds on the driver. */
  private[graft] def lloydLocal(
      local: LocalRows, init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    val toDecimal = new DecimalCast
    var centroids = init
    for (_ <- 0 until iters) {
      val matrix: ArrayData = new GenericArrayData(
        centroids.map(c => UnsafeArrayData.fromPrimitiveArray(c.toArray)))
      val sums = centroids.map(c => new Array[JBigDecimal](c.length)).toArray
      val counts = centroids.map(c => new Array[Long](c.length)).toArray
      for (i <- local.vecs.indices) {
        val (x, nulls) = (local.vecs(i), local.nulls(i))
        val cell = NearestCellOps.nearest(x, matrix)
        // -1: every distance overflowed — the distributed reduce never
        // reads that key either
        if (cell >= 0) {
          val (s, n) = (sums(cell), counts(cell))
          for (d <- 0 until math.min(s.length, x.numElements())) {
            n(d) += 1
            if (nulls == null || !nulls.get(d)) {
              val dec = toDecimal(x.getDouble(d))
              if (dec != null) s(d) = if (s(d) == null) dec else s(d).add(dec)
            }
          }
        }
      }
      centroids = update(centroids, (cell, d) => (sums(cell)(d), counts(cell)(d)))
    }
    centroids
  }

  /** Lloyd rounds as Spark jobs: one (cell, dim) aggregation per round. */
  private[graft] def lloydDistributed(
      vecs: DataFrame, init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    var centroids = init
    for (_ <- 0 until iters) {
      val sums = vecs
        .select(nearestCell(col("__v"), centroids).as("__cell"),
          posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy("__cell", "__dim")
        .agg(
          sum(col("__x").cast("decimal(38,12)")).as("__sum"),
          count(lit(1)).as("__n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getDecimal(2), r.getLong(3)))
        .toMap
      centroids = update(centroids, (cell, d) => sums.getOrElse((cell, d), NoStat))
    }
    centroids
  }

  /** [[nearestCell]] against a NON-LITERAL centroid-matrix column — the
    * hierarchical fit joins per-coarse-cell matrices in from a DataFrame;
    * a flat plan literal at 50k cells would be a ~50 MB constant
    * serialized with every task.
    */
  def nearestCellCol(v: Column, matrix: Column): Column = {
    call_function("graft_nearest_cell", v, matrix)
  }

  /** Two-level Lloyd fit for LARGE cell counts — the 50k-cell IVF shape
    * ([[Ivf.indexHierarchical]]). A flat fit at k cells costs O(k·dim)
    * per row per round AND carries the whole centroid matrix as a plan
    * literal; both stop scaling somewhere in the low thousands of cells.
    * Here `kCoarse` coarse cells route rows first (O(kCoarse·dim)
    * scan-level argmin over a small literal), then EVERY coarse cell's
    * `kFine` fine centroids are fitted simultaneously — one broadcastable
    * join plus one map-side-combinable aggregation per round, with the
    * fine state living in a DATAFRAME of kCoarse (kFine×dim)-matrices
    * that is joined per round and NEVER collected to the driver or
    * inlined as a literal. Per-row assignment costs
    * O((kCoarse+kFine)·dim); at kCoarse = kFine = √k that is 2√k/k of
    * the flat cost (≈1/110 at 50k cells), and no driver structure ever
    * holds k·dim doubles. The coarse fit is a [[fit]] and takes the
    * driver-local path under the same gate.
    *
    * Same determinism discipline as [[fit]]: md5 seeds, first-minimum
    * tie-break, DECIMAL(38,12) mean accumulation (order-independent),
    * empty cells keep their previous centroid — identical output under
    * any partitioning/executor count (spec-proven).
    *
    * Returns the coarse matrix and the fine table `(__coarse, __m)`.
    * Flat cell id = `coarse·kFine + fine` ([[Ivf.indexHierarchical]]).
    */
  def fitHierarchical(
      df: DataFrame, idCol: String, vecCol: String,
      kCoarse: Int, kFine: Int, iters: Int = 5)
      : (Seq[Seq[Double]], DataFrame) = {
    require(kCoarse >= 1 && kFine >= 1 && iters >= 1,
      s"need kCoarse,kFine,iters >= 1; got $kCoarse/$kFine/$iters")
    fitHierarchical(trainSet(df, idCol, vecCol, kCoarse), kFine, iters)
  }

  /** [[fitHierarchical]] over a training set probed for the coarse fit. */
  private[graft] def fitHierarchical(
      t: TrainSet, kFine: Int, iters: Int): (Seq[Seq[Double]], DataFrame) = {
    require(kFine >= 1 && iters >= 1,
      s"need kFine,iters >= 1; got $kFine/$iters")
    val coarse = fit(t, iters)
    // coarse routing is FIXED across the fine rounds: assign once and
    // persist partitioned by coarse cell, so every round's matrix join
    // reuses the layout instead of re-shuffling the training set
    val assigned = t.vecs
      .withColumn("__coarse", nearestCell(col("__v"), coarse))
      .repartition(col("__coarse"))
      .transform(CacheScope.persistTracked)
    // seeds: per coarse cell, the kFine rows with the smallest
    // (md5(id), id) — the same deterministic draw as the flat fit
    val seedW = Window.partitionBy("__coarse")
      .orderBy(md5(col("__id").cast("string").cast("binary")), col("__id"))
    var fine = assigned
      .withColumn("__r", row_number().over(seedW))
      .filter(col("__r") <= kFine)
      .groupBy("__coarse")
      .agg(transform(
        array_sort(collect_list(struct(col("__r"), col("__v")))),
        s => s.getField("__v")).as("__m"))
      .transform(CacheScope.persistTracked)
    fine.count()
    for (_ <- 0 until iters) {
      val routed = assigned.join(fine, Seq("__coarse"))
        .select(col("__coarse"),
          nearestCellCol(col("__v"), col("__m")).as("__fine"),
          posexplode(col("__v")).as(Seq("__dim", "__x")))
      val means = routed.groupBy("__coarse", "__fine", "__dim")
        .agg((sum(col("__x").cast("decimal(38,12)")) / count(lit(1)))
          .cast("double").as("__c"))
      // rebuild the matrices; empty fine cells keep their previous rows
      val next = fine
        .select(col("__coarse"),
          posexplode(col("__m")).as(Seq("__fine", "__old")))
        .select(col("__coarse"), col("__fine"),
          posexplode(col("__old")).as(Seq("__dim", "__oldx")))
        .join(means, Seq("__coarse", "__fine", "__dim"), "left_outer")
        .select(col("__coarse"), col("__fine"), col("__dim"),
          coalesce(col("__c"), col("__oldx")).as("__x"))
        .groupBy("__coarse", "__fine")
        .agg(transform(
          array_sort(collect_list(struct(col("__dim"), col("__x")))),
          s => s.getField("__x")).as("__vc"))
        .groupBy("__coarse")
        .agg(transform(
          array_sort(collect_list(struct(col("__fine"), col("__vc")))),
          s => s.getField("__vc")).as("__m"))
        .transform(CacheScope.persistTracked)
      next.count() // materialize: cuts the per-round recompute chain
      fine = next
    }
    (coarse, fine)
  }
}
