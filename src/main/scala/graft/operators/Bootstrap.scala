package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Poisson bootstrap confidence intervals for grouped means (Chamandy,
  * Muralidharan, Najmi & Naidu 2012, "Estimating uncertainty for
  * massive data streams" — THE bootstrap that works in one pass at
  * scale): the classical multinomial resample needs n draws over the
  * whole dataset per replicate, but for large n the per-row resample
  * multiplicity converges to Poisson(1), so replicate b can weight each
  * row INDEPENDENTLY by w ~ Poisson(1) — one scan computes every
  * replicate, the aggregation is map-side combinable, and the shuffle
  * carries |groups|·B cells, never rows.
  *
  * Determinism (both engines replay bit-for-bit): the per-(row, b)
  * weight inverts the Poisson(1) CDF on the md5 dyadic uniform (the
  * PrioritySample hash salted with b) against DRIVER-computed
  * threshold literals c_m = e⁻¹·Σ_{j≤m} 1/j! — the transcendental is
  * evaluated once on the driver and INTERPOLATED into both plans, so
  * libm never runs in either engine; weights cap at 9 — the whole
  * residual tail P(w ≥ 9) ≈ 1.1e-6 rides the w = 9 bucket, so the
  * only misassigned mass is P(w ≥ 10) ≈ 1e-7; the cap is part of the
  * deterministic contract, stated, not a silent approximation. Replicate means divide DECIMAL sums once;
  * the CI bounds are EXACT order statistics of the replicate means
  * (rank windows tie-broken by replicate index, never an interpolated
  * quantile).
  *
  * Replicates whose total weight is 0 (possible for tiny groups) are
  * dropped from the rank — `b_validos` reports how many survived.
  * Output: one row per group — n, media (the full-sample decimal
  * mean), b_validos, ic_inferior, ic_superior.
  */
object Bootstrap {

  /** Poisson(1) CDF thresholds c_0..c_8, driver-evaluated. */
  private[graft] val PoissonCdf: Seq[Double] = {
    val inv = math.exp(-1.0)
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L)
    fact.scanLeft(0.0) { (acc, f) => acc + inv / f }.tail
  }

  private def uniform(seed: Column): Column =
    (conv(substring(md5(seed.cast("binary")), 1, 12), 16, 10)
      .cast("long").cast("double") + lit(0.5)) / lit(281474976710656.0)

  /** The weight CASE over a uniform column — exposed so the oracle
    * generator interpolates the SAME threshold literals.
    */
  private def poissonWeight(u: Column): Column =
    PoissonCdf.zipWithIndex.foldRight(lit(9): Column) {
      case ((c, m), rest) => when(u <= lit(c), lit(m)).otherwise(rest)
    }

  def bootstrapMeanCi(
      df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String, b: Int = 100, alpha: Double = 0.05): DataFrame = {
    require(b >= 4, s"need b >= 4 replicates, got $b")
    require(alpha > 0 && alpha < 1, s"need alpha in (0,1), got $alpha")
    val g = groupCols.map(col)
    // Spread: the ×B explode multiplies PER-ROW CPU (B md5 inversions per
    // input row), so a byte-sized single-split scan serializes the whole
    // weight stage on one task (guide §2.5 input skew / §6 split sizing —
    // measured 30.5 s at sf0.1 with orders.parquet arriving as one split;
    // ~1/cores of that once spread). No-op on an already-wide scan.
    val base = graft.llm.Spread(df
      .filter(col(valueCol).isNotNull)
      .select(g :+ col(idCol).as("__id") :+
        col(valueCol).cast("double").as("__x"): _*))
    val point = base.groupBy(g: _*).agg(
      count(lit(1L)).as("n"),
      (sum(col("__x").cast("decimal(38,12)")).cast("double") /
        count(lit(1L)).cast("double")).as("media"))
    val cells = base
      .withColumn("__b", explode(sequence(lit(1), lit(b))))
      .withColumn("__w", poissonWeight(
        uniform(concat_ws(":", col("__id"), col("__b")))))
      .groupBy(g :+ col("__b"): _*)
      .agg(sum(col("__w").cast("long")).as("__sw"),
        sum((col("__w").cast("double") * col("__x"))
          .cast("decimal(38,12)")).cast("decimal(38,12)").as("__swx"))
    // Pin the |groups|·B replicate cells: `rep` feeds BOTH the rank
    // window and (through the window-to-aggregate rewrite of the
    // per-group count) a second consumer — unpersisted, the second
    // consumer RECOMPUTES the whole ×B explode + md5 weight stage
    // (measured: the duplicated subtree was ~half of q235's 30 s wall
    // at sf0.1; guide §2.4 — share one computation, the frame is
    // |groups|·B rows, trivial state).
    val rep = graft.llm.CacheScope.persistTracked(cells
      .filter(col("__sw") > 0L))
      .withColumn("__m",
        col("__swx").cast("double") / col("__sw").cast("double"))
    val wRank = Window.partitionBy(g: _*)
      .orderBy(col("__m").asc, col("__b").asc)
    val wAll = Window.partitionBy(g: _*)
    val ranked = rep
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("__bv", count(lit(1L)).over(wAll))
      .withColumn("__lo",
        ceil(col("__bv").cast("double") * lit(alpha / 2.0)).cast("long"))
      .withColumn("__hi",
        ceil(col("__bv").cast("double") * lit(1.0 - alpha / 2.0))
          .cast("long"))
    val ci = ranked
      .filter(col("__rk") === col("__lo") || col("__rk") === col("__hi"))
      .groupBy(g: _*)
      .agg(max(col("__bv")).as("b_validos"),
        min(when(col("__rk") === col("__lo"), col("__m")))
          .as("ic_inferior"),
        max(when(col("__rk") === col("__hi"), col("__m")))
          .as("ic_superior"))
    point.join(ci, groupCols)
  }
}
