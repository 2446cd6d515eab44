package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped statistical model fitting as single aggregations.
  *
  * Reference analogue: the reference's report pipelines reduce per-UF /
  * per-municipality indicator series to summary rows
  * (sisab_resolutividade_por_condicao.py's per-group percentages); the
  * natural next question a health-indicator consumer asks — "which way is
  * this trending?" — is a per-group line fit, re-expressed here the
  * Spark-first way.
  */
object Stats {

  /** Per-group ordinary-least-squares line fit `y = a + b·x` from the
    * four classical sufficient statistics — ONE map-side-combinable
    * aggregation over the scan (Σx, Σy, Σxy, Σx² accumulate in DECIMAL,
    * so the result is identical under any partitioning; a double sum
    * would drift and make the fitted slope depend on the cluster
    * layout). The closed form then runs per GROUP ROW:
    * `b = (n·Σxy − Σx·Σy) / (n·Σx² − Σx²₍sum₎)`, `a = (Σy − b·Σx)/n`,
    * every step an IEEE correctly-rounded double op over exact sums —
    * SQL-replayable bit-for-bit.
    *
    * At 100 TB this is the ONLY shape a grouped regression can take:
    * sufficient statistics are a partial aggregate (tiny state per
    * group); anything that materializes per-group vectors (e.g.
    * collect_list into a solver) caps at executor memory.
    *
    * Degenerate groups — n < 2 or zero x-variance — yield null slope
    * and intercept. Output: group cols + (n, inclinacao, intercepto).
    */
  def groupLinearFit(
      df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("decimal(38,12)")
    val y = col(yCol).cast("decimal(38,12)")
    val agg = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1L)).as("n"),
      sum(x).cast("decimal(38,12)").as("__sx"),
      sum(y).cast("decimal(38,12)").as("__sy"),
      sum((col(xCol).cast("double") * col(yCol).cast("double"))
        .cast("decimal(38,12)")).cast("decimal(38,12)").as("__sxy"),
      sum((col(xCol).cast("double") * col(xCol).cast("double"))
        .cast("decimal(38,12)")).cast("decimal(38,12)").as("__sxx"))
    val n = col("n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val sxy = col("__sxy").cast("double")
    val sxx = col("__sxx").cast("double")
    val denom = n * sxx - sx * sx
    val b = (n * sxy - sx * sy) / denom
    agg.select(groupCols.map(col) ++ Seq(
      col("n"),
      when(col("n") >= 2 && denom =!= 0.0, b).as("inclinacao"),
      when(col("n") >= 2 && denom =!= 0.0, (sy - b * sx) / n)
        .as("intercepto")): _*)
  }

  /** Per-group z-score anomaly detection: μ and population σ from EXACT
    * DECIMAL sufficient statistics (Σx, Σx² — one combinable
    * aggregation, the q137/154 discipline), the tiny per-group stats
    * table broadcast back onto the scan (the fact table never
    * shuffles), and a row flagged when `|x − μ| > z·σ`. Every step is
    * IEEE correctly-rounded arithmetic over exact sums (σ via
    * `√max(Σx²/n − μ², 0)` — the max guards the tiny negative rounding
    * residue of a constant series) — SQL-replayable bit-for-bit, and
    * the flags are identical under any partitioning (a double-summed μ
    * would flip borderline rows with the cluster layout).
    * Null-group rows pass THROUGH (null-safe left stats join below) —
    * never silently dropped.
    */
  def zScoreFlags(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      zThresh: Double = 3.0): DataFrame = {
    val k = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val agg = df.groupBy(k: _*).agg(
      count(lit(1L)).as("__n"),
      sum(x.cast("decimal(38,12)")).cast("decimal(38,12)").as("__sx"),
      sum((x * x).cast("decimal(38,12)")).cast("decimal(38,12)").as("__sxx"))
    val n = col("__n").cast("double")
    val mu = col("__sx").cast("double") / n
    val sigma = sqrt(greatest(
      col("__sxx").cast("double") / n - mu * mu, lit(0.0)))
    val stats = agg.select(k ++ Seq(mu.as("media"), sigma.as("desvio")): _*)
    joinGroupStats(df, stats, groupCols)
      .withColumn("z_score",
        when(col("desvio") > 0.0, abs(x - col("media")) / col("desvio"))
          .otherwise(lit(0.0)))
      .withColumn("atipico", col("z_score") > zThresh)
  }

  /** Null-safe LEFT broadcast join of a per-group stats table back onto
    * the scan. Plain `join(stats, groupCols)` silently DROPS every row
    * whose group key is null (groupBy keeps the null group, equi-join
    * keys never match it) — the fit side has a row for the null group,
    * so `<=>` matches it and a left join guarantees no input row is
    * ever lost by a flagging/encoding operator.
    */
  private def joinGroupStats(
      df: DataFrame, stats: DataFrame, groupCols: Seq[String]): DataFrame = {
    val renamed = stats.select(stats.columns.map { c =>
      if (groupCols.contains(c)) col(c).as(s"__gj_$c") else col(c)
    }: _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__gj_$c"))
      .reduce(_ && _)
    df.join(broadcast(renamed), cond, "left")
      .drop(groupCols.map(c => s"__gj_$c"): _*)
  }

  /** Distributed "count strictly below each distinct value" — the
    * scale-safe rank map behind [[spearmanCorr]] / [[kruskalWallis]],
    * replacing `Window.orderBy` with no partitioning (Spark's "Moving
    * all data to a single partition" trap: one task sorts the whole
    * distinct-value table, corpus-sized for a continuous column).
    *
    * Engine: the repo's deterministic 256-bucket decomposition (the
    * quantileBinFit / ppsSample discipline). bucket =
    * width_bucket(v, min, max) is a PURE FUNCTION of the value and two
    * order-insensitive aggregates, so separate evaluations agree by
    * construction — a repartitionByRange engine was built first and
    * measured WRONG (range boundaries are SAMPLED per evaluation; the
    * offsets' evaluation disagreed with the main side's, giving
    * piecewise-constant rank errors on lineitem prices), and pinning
    * its shuffle with a cache fixed correctness but cost ~2x wall at
    * sf0.1–sf1. Here every auxiliary pass (bounds, per-bucket totals)
    * runs over the CALLER-CACHED raw rows as a map-side-combinable
    * aggregate — the distinct collapse itself is consumed exactly once,
    * by the windowed main side, so nothing new needs a cache. The
    * SmallFold offset fold walks ≤256 buckets. Worst-case value skew
    * (everything in one bucket) degrades to the single-partition sort
    * this replaces; typical spread keeps each window task ~1/256 of
    * the distinct table.
    *
    * It handles MULTIPLE labeled columns in one pass: `counts` holds one
    * row per (column label `__c`, distinct value `__v`) with its multiplicity
    * `__cnt`, and the result adds `__below` = Σ __cnt over same-`__c`
    * rows with strictly smaller `__v` — ONE bounds aggregate, ONE
    * SmallFold offset fold and ONE per-(__c,__bk) window serve every
    * column (spearmanCorr folds a whole pair list's rank maps through a
    * single call where the round-14 engine paid the full stack per
    * column per pair — 6 folds and 6 persisted counts tables for
    * q193's three pairs).
    *
    * Non-finite guard (the round-14 silent-NaN regression): bounds are
    * computed over FINITE values only — one NaN input used to make
    * `max()` return NaN, width_bucket then returned null for EVERY row
    * and the inner `__bk` join silently dropped the whole column.
    * Non-finite values never reach width_bucket: −Inf maps to bucket 0,
    * +Inf to 256 (width_bucket's own out-of-range buckets, ordered
    * correctly around the finite range) and NaN to a sentinel bucket
    * 257 AFTER everything else — exactly where a plain `orderBy(v)`
    * ranks NaN in both Spark and DuckDB (greatest, equal to itself).
    *
    * `counts` must be persisted by the caller (bounds, bucket totals
    * and the windowed main side are three consumers).
    */
  private[graft] def belowFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vd = col("__v").cast("double")
    val finite =
      when(!isnan(vd) && abs(vd) =!= lit(Double.PositiveInfinity), vd)
    val bounds = counts.groupBy("__c").agg(
      min(finite).as("__pslo"), max(finite).as("__pshi"))
    val bucketOf =
      when(isnan(vd), lit(257L))
        .when(vd === lit(Double.PositiveInfinity), lit(256L))
        .when(vd === lit(Double.NegativeInfinity), lit(0L))
        .when(col("__pshi") > col("__pslo"),
          expr("width_bucket(CAST(__v AS DOUBLE), " +
            "__pslo, __pshi, 255)")).otherwise(lit(1L))
    val bucketed = counts.join(broadcast(bounds), Seq("__c"))
      .withColumn("__bk", bucketOf)
      .drop("__pslo", "__pshi")
    val offsets = SmallFold.cumBefore(
      bucketed.groupBy("__c", "__bk").agg(sum(col("__cnt")).as("__pc")),
      "__bk", "__pc", parts = Seq("__c"), out = "__poff")
    val wLoc = Window.partitionBy("__c", "__bk").orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .join(broadcast(offsets), Seq("__c", "__bk"))
      .withColumn("__below",
        col("__poff") + coalesce(sum(col("__cnt")).over(wLoc), lit(0L)))
      .select(col("__c"), col("__v"), col("__cnt"), col("__below"))
  }

  /** ABC / Pareto classification: rank each group's members by value,
    * accumulate their share of the group total, and label the classic
    * A/B/C bands (top ~80 % of value, next ~15 %, tail) — the
    * prioritization table every operational report ends in ("which
    * municipalities carry 80 % of the volume?").
    *
    * Exactness: cumulative and total sums accumulate in DECIMAL (the
    * running sum must not depend on partitioning), the share is ONE
    * double division, band predicates compare those exact doubles —
    * SQL-replayable bit-for-bit. Shape: one ranking window + one total
    * window per group — a per-group sort bounded by GROUP size; ABC runs
    * over grouped AGGREGATES (members per group ≤ entity cardinality),
    * not raw events — callers aggregate first (the q137 discipline), so
    * the sorted partition is the entity list, never the fact table.
    *
    * Input contract: one row per (group, member) with the member's
    * aggregated value. Output adds (share_acumulada, classe).
    */
  def paretoClass(
      df: DataFrame, groupCols: Seq[String], idCol: String,
      valueCol: String, aShare: Double = 0.80,
      bShare: Double = 0.95): DataFrame = {
    require(0 < aShare && aShare <= bShare && bShare <= 1,
      s"need 0 < aShare <= bShare <= 1; got $aShare/$bShare")
    val k = groupCols.map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(k: _*)
      .orderBy(col(valueCol).desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tw = org.apache.spark.sql.expressions.Window.partitionBy(k: _*)
    val share =
      sum(col(valueCol).cast("decimal(38,6)")).over(w).cast("double") /
        sum(col(valueCol).cast("decimal(38,6)")).over(tw).cast("double")
    df.select(k ++ Seq(col(idCol), col(valueCol),
      share.as("share_acumulada"),
      when(share <= aShare, "A").when(share <= bShare, "B").otherwise("C")
        .as("classe")): _*)
  }

  /** Feature-scaler FIT: per-column sufficient statistics for
    * standardization and min-max scaling, in ONE aggregation pass over
    * all columns (the q87 discipline — never a job per column), emitted
    * long-format so the model is a ≤|cols|-row table a training
    * pipeline persists and reuses (the q121/q125 offline-fit /
    * online-apply split applied to numeric features — fitting on train
    * and applying to serve is what prevents train/serve skew).
    *
    * Exactness: sums and sum-of-squares accumulate in DECIMAL(38,6)
    * (order-independent); μ is one IEEE division, σ =
    * `sqrt(max(E[x²]−μ², 0))` with correctly-rounded sqrt (the row-167
    * zScore discipline — the max guards constant-column rounding
    * residue). Output: (coluna, n, media, sigma, vmin, vmax).
    */
  def scalerFit(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "need at least one column")
    val aggs = columns.flatMap { c =>
      val d = col(c).cast("decimal(38,6)")
      Seq(
        count(col(c)).as(s"__n_$c"),
        coalesce(sum(d), lit(0).cast("decimal(38,6)")).as(s"__s_$c"),
        coalesce(sum(d * d), lit(0).cast("decimal(38,6)")).as(s"__q_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = columns.map { c =>
      val n = col(s"__n_$c").cast("double")
      val mean = col(s"__s_$c").cast("double") / n
      val ex2 = col(s"__q_$c").cast("double") / n
      struct(
        lit(c).as("coluna"),
        col(s"__n_$c").as("n"),
        mean.as("media"),
        sqrt(greatest(ex2 - mean * mean, lit(0.0))).as("sigma"),
        col(s"__min_$c").as("vmin"),
        col(s"__max_$c").as("vmax"))
    }
    one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
  }

  /** Feature-scaler APPLY: broadcast the fitted model onto the scan and
    * emit `<col>_z = (x−μ)/σ` and `<col>_mm = (x−min)/(max−min)` per
    * requested column — each two correctly-rounded IEEE ops, so scaled
    * features replay bit-for-bit on any engine. Degenerate columns
    * (σ = 0 or min = max) scale to null rather than ±Inf. STATELESS
    * like [[graft.llm.Curation.applyResample]] — the same call serves a
    * stream.
    */
  def scalerApply(
      df: DataFrame, model: DataFrame, columns: Seq[String]): DataFrame = {
    // ONE aggregated model row for ALL requested columns (the
    // freqEncodeApply `outros` discipline): a filter-then-crossJoin
    // would ANNIHILATE the whole DataFrame to 0 rows whenever the model
    // lacks a requested column (empty broadcast side) — aggregating to
    // a guaranteed single row turns a missing column into null features
    // on every row instead, and one broadcast build replaces |columns|.
    val aggs = columns.flatMap { c =>
      Seq(
        max(when(col("coluna") === c, col("media"))).as(s"__mu_$c"),
        max(when(col("coluna") === c, col("sigma"))).as(s"__sd_$c"),
        max(when(col("coluna") === c, col("vmin"))).as(s"__lo_$c"),
        max(when(col("coluna") === c, col("vmax"))).as(s"__hi_$c"))
    }
    val m = df.crossJoin(broadcast(model.agg(aggs.head, aggs.tail: _*)))
    columns.foldLeft(m) { (d, c) =>
      d.withColumn(s"${c}_z",
          when(col(s"__sd_$c") > 0.0,
            (col(c) - col(s"__mu_$c")) / col(s"__sd_$c")))
        .withColumn(s"${c}_mm",
          when(col(s"__hi_$c") > col(s"__lo_$c"),
            (col(c) - col(s"__lo_$c")) /
              (col(s"__hi_$c") - col(s"__lo_$c"))))
    }.drop(columns.flatMap(c =>
      Seq(s"__mu_$c", s"__sd_$c", s"__lo_$c", s"__hi_$c")): _*)
  }

  /** Quantile-binning FIT: exact bucket edges at ranks
    * `ceil(q·n)` for q = 1/k .. (k−1)/k over a numeric column — the
    * discretization model (equal-population bins) fitted OFFLINE like
    * [[scalerFit]], with the q68 exactness rule: integer-rank order
    * statistics, never interpolated floats (percentile_cont
    * implementations diverge in last-ulp arithmetic).
    *
    * The global cumulative count over distinct values is the q153
    * decomposition, not a global window: `width_bucket` over the
    * column's (min, max) gives 256 ORDER-PREFIX buckets (any monotone
    * bucketing works — it shapes the plan, not the result), so
    * bucket-local window cumsums + a broadcast 256-row exclusive-prefix
    * table reassemble the exact global cumulative with NO
    * single-partition sort at any scale. One value-collapsed count
    * aggregation (the row-180 discipline) + a k−1-row edge table out.
    * Output: (borda_idx 1..k−1, borda) where `borda` is the smallest
    * value whose cumulative count reaches rank ceil(q·n).
    */
  def quantileBinFit(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"need k >= 2 bins, got $k")
    val byValue = df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("__v")).agg(count(lit(1L)).as("__c"))
    val bounds = byValue.agg(
      min(col("__v")).as("__lo"), max(col("__v")).as("__hi"),
      sum(col("__c")).as("__n"))
    val withB = byValue.crossJoin(broadcast(bounds))
      .withColumn("__bk",
        when(col("__hi") > col("__lo"),
          expr("width_bucket(CAST(__v AS DOUBLE), CAST(__lo AS DOUBLE), " +
            "CAST(__hi AS DOUBLE), 255)"))
          .otherwise(lit(1L)))
    val bkTotals = withB.groupBy("__bk").agg(sum(col("__c")).as("__bc"))
    // exclusive prefix over ≤256 buckets — SmallFold, not WindowExec
    val offsets = SmallFold.cumBefore(bkTotals, "__bk", "__bc")
    val wLoc = Window.partitionBy("__bk").orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = withB
      .join(broadcast(offsets), Seq("__bk"))
      .withColumn("__cum", col("__off") + sum(col("__c")).over(wLoc))
      .transform(graft.llm.CacheScope.persistTracked)
    // edge i = smallest v with cum·k >= i·n (pure integer cross-multiply)
    val edges = (1 until k).map { i =>
      cum.filter(col("__cum") * k >= col("__n") * i)
        .agg(lit(i).as("borda_idx"), min(col("__v")).as("borda"))
    }
    edges.reduce(_.unionByName(_))
  }

  /** Quantile-binning APPLY: broadcast the fitted edges, bin =
    * 1 + count of edges strictly below the value (so values on an edge
    * fall in the LOWER bin — deterministic, replayable as a SQL count).
    * Stateless; serves a stream unchanged. Output: input + `bin`.
    */
  def quantileBinApply(
      df: DataFrame, edges: DataFrame, valueCol: String): DataFrame = {
    val e = edges.groupBy()
      .agg(sort_array(collect_list(col("borda"))).as("__edges"))
    df.crossJoin(broadcast(e))
      .withColumn("bin",
        (lit(1) + size(filter(col("__edges"),
          b => b < col(valueCol)))).cast("int"))
      .drop("__edges")
  }

  /** Frequency encoding with rare-category collapse — the categorical
    * twin of [[scalerFit]]/[[scalerApply]]: categories rarer than
    * `minCount` collapse into `__outros__` (unseen categories at apply
    * time land there too — the only leakage-safe default), every kept
    * category carries its fit-corpus count and frequency.
    *
    * Fit = one combinable count + the collapse rule; apply = one
    * broadcast LEFT join (the corpus never shuffles). Frequency is one
    * IEEE division of exact longs. Output of apply: input +
    * `<col>_cat` (collapsed category), `<col>_freq`.
    */
  def freqEncodeFit(
      df: DataFrame, catCol: String, minCount: Long): DataFrame = {
    val counts = df.groupBy(col(catCol).as("categoria"))
      .agg(count(lit(1L)).as("n"))
    val total = counts.agg(sum(col("n")).as("__t"))
    val collapsed = counts
      .withColumn("categoria",
        when(col("n") >= minCount, col("categoria"))
          .otherwise(lit("__outros__")))
      .groupBy("categoria").agg(sum(col("n")).as("n"))
    collapsed.crossJoin(broadcast(total))
      .select(col("categoria"), col("n"),
        (col("n").cast("double") / col("__t").cast("double")).as("freq"))
  }

  def freqEncodeApply(
      df: DataFrame, model: DataFrame, catCol: String): DataFrame = {
    val m = model.select(col("categoria").as("__cat_m"),
      col("n").as("__n_m"), col("freq").as("__f_m"))
    // always ONE row (nulls when no rare bucket exists) — a filtered
    // 0-row side would annihilate the cross join
    val outros = model.agg(
      max(when(col("categoria") === "__outros__", col("freq"))).as("__f_o"))
    df.join(broadcast(m), col(catCol) === col("__cat_m"), "left")
      .crossJoin(broadcast(outros))
      .select(df.columns.map(col) :+
        coalesce(
          when(col("__cat_m") =!= "__outros__", col("__cat_m")),
          lit("__outros__")).as(s"${catCol}_cat") :+
        coalesce(
          when(col("__cat_m") =!= "__outros__", col("__f_m")),
          col("__f_o")).as(s"${catCol}_freq"): _*)
  }

  /** Leave-one-out target encoding — the supervised categorical encoder
    * with the leakage term REMOVED row by row:
    * `enc_i = (Σ_cat y − y_i) / (n_cat − 1)` (null for singleton
    * categories — no other row to borrow from). Plain target encoding
    * leaks each row's own label into its feature; LOO is the standard
    * fix, and it is EXACTLY computable in one pass: per-category sums
    * in DECIMAL(38,6), the per-row subtraction and ONE IEEE division —
    * engine-exact, no folds, no noise term (add one downstream if
    * regularizing).
    *
    * One combinable aggregation + one broadcast join back. Output:
    * input + `<col>_loo`.
    */
  def looTargetEncode(
      df: DataFrame, catCol: String, targetCol: String): DataFrame = {
    val y = col(targetCol).cast("decimal(38,6)")
    val stats = df.groupBy(col(catCol).as("__cat"))
      .agg(sum(y).as("__sy"), count(lit(1L)).as("__nc"))
    // null-safe left join (the joinGroupStats rule): a null category is
    // a real group and its rows must pass through, not silently vanish
    df.join(broadcast(stats), col(catCol) <=> col("__cat"), "left")
      .select(df.columns.map(col) :+
        when(col("__nc") > 1L,
          (col("__sy") - y).cast("double") /
            (col("__nc") - 1L).cast("double"))
          .as(s"${catCol}_loo"): _*)
  }

  /** Distribution-drift report between two snapshots of a categorical /
    * bucketed column — the ML-ops gate that catches a feature's
    * population shifting between a training corpus and today's
    * ingest (the PSI/chi-square family).
    *
    * Per bucket: base and current counts (exact longs from two
    * combinable aggregations), the drift RATIO
    * `(m_i·N) / (n_i·M)` (current share over base share — exact
    * DECIMAL(38,0) products, ONE IEEE division) and the chi-square
    * contribution `(m_i − M·n_i/N)² / (M·n_i/N)` (a fixed
    * correctly-rounded IEEE chain). Deliberately NO total row: a
    * cross-bucket sum of doubles would need a double→decimal cast whose
    * last-ulp behavior differs across engines (the q164 lesson);
    * per-bucket rows are deterministic, and thresholding per bucket is
    * what drift monitors do anyway (a single hot bucket IS the alarm).
    * Buckets absent from one side get count 0 (ratio/chi2 null for
    * zero-base buckets — a NEW category is its own alarm, flagged
    * `nova_categoria`).
    *
    * Output: (bucket, n_base, n_atual, razao, qui2, nova_categoria).
    */
  def driftReport(
      base: DataFrame, current: DataFrame, bucketCol: String): DataFrame =
    driftFromCounts(
      base.groupBy(col(bucketCol).as("bucket"))
        .agg(count(lit(1L)).as("n_base")),
      current.groupBy(col(bucketCol).as("bucket"))
        .agg(count(lit(1L)).as("n_atual")))

  /** [[driftReport]] from pre-aggregated (bucket, n_base) / (bucket,
    * n_atual) tables, for a baseline kept as a persisted fit artifact.
    */
  def driftFromCounts(nb: DataFrame, nc: DataFrame): DataFrame = {
    val joined = nb.join(nc, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_atual"), lit(0L)).as("n_atual"))
    val totals = joined.agg(
      sum(col("n_base")).as("__nt"), sum(col("n_atual")).as("__mt"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    joined.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_base"), col("n_atual"),
        when(col("n_base") > 0L,
          (dec(col("n_atual")) * dec(col("__nt"))).cast("double") /
            (dec(col("n_base")) * dec(col("__mt"))).cast("double"))
          .as("razao"),
        when(col("n_base") > 0L, {
          val exp = col("__mt").cast("double") *
            col("n_base").cast("double") / col("__nt").cast("double")
          (col("n_atual").cast("double") - exp) *
            (col("n_atual").cast("double") - exp) / exp
        }).as("qui2"),
        (col("n_base") === 0L).as("nova_categoria"))
  }

  /** Trend-adjusted robust anomalies — [[groupLinearFit]] and
    * [[madOutliers]] composed: fit each group's OLS trend, take
    * residuals `y − (a + b·x)`, flag residuals that are median/MAD
    * outliers. The detector level-shift and drift CANNOT fool: a
    * steadily growing series flags nothing under this detector while
    * raw z-scores (row 167) would flag both ends, and one wild value
    * cannot drag the trend's robust residual scale.
    *
    * Shape: the fit is one combinable DECIMAL-sufficient-statistics
    * aggregation (row 154), the ≤|groups|-row coefficient table
    * broadcasts back for the residual (a fixed IEEE chain), and the
    * MAD pass reuses row 187's two exact lower-medians. Groups without
    * a fit (n < 2, zero x-variance) pass through unflagged with null
    * residuals. Output: input + `residuo` + `desvio` + `atipico`.
    */
  def trendAnomalies(
      df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String,
      c: Double = 3.0): DataFrame = {
    val fit = groupLinearFit(df, groupCols, xCol, yCol)
      .select(groupCols.map(col) :+ col("inclinacao") :+
        col("intercepto"): _*)
    val withRes = joinGroupStats(df, fit, groupCols)
      .withColumn("residuo",
        when(col("inclinacao").isNotNull,
          col(yCol) - (col("intercepto") +
            col("inclinacao") * col(xCol))))
    val fitted = withRes.filter(col("residuo").isNotNull)
    val flagged = madOutliers(fitted, groupCols, "residuo", c)
    val unfitted = withRes.filter(col("residuo").isNull)
      .withColumn("desvio", lit(null).cast("double"))
      .withColumn("atipico", lit(false))
    flagged.unionByName(unfitted)
      .drop("inclinacao", "intercepto")
  }

  /** Benford first-significant-digit audit — the classic
    * fabricated-figures screen for financial/measurement columns
    * (Benford 1938; the auditor's tool): organic multi-scale data puts
    * digit d first with probability log10(1+1/d), fabricated or
    * constrained data doesn't.
    *
    * The first significant digit comes from the value's STRING image
    * (first char of the digits of |x| — engine-exact; a log10-based
    * extraction would be libm-dependent), counts are one combinable
    * aggregation, and the expected shares are hard LITERALS (log10
    * constants to 12 places — the same doubles on any engine, the
    * calibration-audit discipline of never computing a transcendental
    * in-plan). Output per digit 1..9: observed count, observed share
    * (one IEEE division), expected share, and the ratio (one more
    * division) — a flat razao ≈ 1 column is the pass.
    *
    * Zero/null values carry no first digit and are excluded (reported
    * via the `n` total being smaller than the input).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    // log10(1 + 1/d), d = 1..9, 12 decimal places
    val expected = Seq(0.301029995664, 0.176091259056, 0.124938736608,
      0.096910013008, 0.079181246048, 0.066946789631, 0.057991946978,
      0.051152522447, 0.045757490561)
    val digits = df
      .filter(col(valueCol).isNotNull && col(valueCol) =!= 0.0)
      .select(substring(regexp_replace(
        abs(col(valueCol)).cast("string"), "[^1-9]", ""), 1, 1)
        .as("__d"))
      .filter(col("__d") =!= "")
      .groupBy(col("__d").cast("int").as("digito"))
      .agg(count(lit(1L)).as("observado"))
    val total = digits.agg(sum(col("observado")).as("__n"))
    val exp = expected.zipWithIndex
      .map { case (p, i) => struct(lit(i + 1).as("digito"),
        lit(p).as("esperado")) }
    val expDf = digits.sparkSession.range(1)
      .select(explode(array(exp: _*)).as("__e"))
      .select(col("__e.digito"), col("__e.esperado"))
    expDf.join(digits, Seq("digito"), "left")
      .crossJoin(broadcast(total))
      .select(col("digito"),
        coalesce(col("observado"), lit(0L)).as("observado"),
        (coalesce(col("observado"), lit(0L)).cast("double") /
          col("__n").cast("double")).as("participacao"),
        col("esperado"),
        ((coalesce(col("observado"), lit(0L)).cast("double") /
          col("__n").cast("double")) / col("esperado")).as("razao"))
  }

  /** Robust per-group outlier flags via median/MAD — the
    * heavy-tail-safe twin of [[zScoreFlags]] (one wild value drags a
    * mean and σ; it cannot drag a median): flag rows with
    * `|x − med| > c · MAD`.
    *
    * Two passes of the exact lower-median machinery
    * ([[weightedMedian]] with unit weights — value-collapsed windows,
    * pure DECIMAL halfway tests), medians broadcast back between and
    * after. Every comparison is a fixed correctly-rounded IEEE chain
    * over medians that are ACTUAL data values — engine-exact flags. A
    * group whose MAD is 0 (over half the mass on one value) never
    * flags, the σ=0 rule again.
    *
    * Output: every input row + `desvio` (|x − med|) + `atipico`.
    */
  def madOutliers(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      c: Double = 3.0): DataFrame = {
    val g = groupCols.map(col)
    val med = weightedMedian(df.withColumn("__um", lit(1.0)),
      groupCols, valueCol, "__um")
      .select(g :+ col("mediana_ponderada").as("__med"): _*)
    val dev = joinGroupStats(df, med, groupCols)
      .withColumn("desvio", abs(col(valueCol) - col("__med")))
    val mad = weightedMedian(dev.withColumn("__um", lit(1.0)),
      groupCols, "desvio", "__um")
      .select(g :+ col("mediana_ponderada").as("__mad"): _*)
    joinGroupStats(dev, mad, groupCols)
      .withColumn("atipico",
        col("__mad") > 0.0 && col("desvio") > lit(c) * col("__mad"))
      .drop("__med", "__mad")
  }

  /** Exact per-group WEIGHTED median — the robust center the reference's
    * per-group mean reductions lack: the smallest value whose cumulative
    * weight reaches half the group total (the lower weighted median, the
    * survey-statistics convention; with unit weights it degenerates to
    * the classic lower median).
    *
    * Shape: one window cumsum per group ordered by value (the q68
    * argument — the per-group sort is the price of an EXACT order
    * statistic; `percentile_approx`/KLL is the declared sketch path when
    * the tail precision isn't worth sorting at 100 TB), then one
    * combinable `min` per group over the qualifying rows. Weights
    * accumulate in DECIMAL(38,6) so the halfway test is
    * order-independent and engine-exact: the comparison is
    * `2·cum ≥ total` in DECIMAL — no division, no doubles anywhere.
    *
    * Contract: weights non-negative (zero-weight rows can never qualify
    * — their interval is empty). Ties on value collapse into one
    * cumulative step, so duplicated values cannot make the pick
    * order-dependent. Output: (groupCols…, mediana_ponderada,
    * peso_total). The pick itself stays DECIMAL-exact end-to-end; only
    * the REPORTED total is cast to DOUBLE at the very edge (Spark's
    * BigDecimal→double is correctly rounded) — decimal-typed output
    * columns hash as `Decimal` objects in a pyarrow/pandas reader while
    * an oracle engine renders float64, failing dtype-level compares
    * even when every value agrees (measured, round 9: this operator's
    * DECIMAL(38,6) output was one of exactly three driver hash-reds).
    */
  def weightedMedian(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val wd = col(weightCol).cast("decimal(38,6)")
    // collapse equal values first: the cumulative then steps once per
    // distinct value and the window sort runs on the reduced table
    val byValue = df.groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(sum(wd).as("__w"))
    val win = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(g: _*)
    val cum = byValue
      .withColumn("__cum", sum(col("__w")).over(win))
      .withColumn("__tot", sum(col("__w")).over(tot))
    cum.filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(g: _*)
      .agg(min(col("__v")).as("mediana_ponderada"),
        min(col("__tot")).cast("double").as("peso_total"))
  }

  /** EXACT ROC-AUC per group — the ranking-quality metric that closes
    * the in-engine classifier loop (train row 138, apply row 122,
    * calibration row 151): the probability a random positive scores
    * above a random negative, ties at half credit (the Mann–Whitney U
    * statistic normalized — Hanley & McNeil 1982).
    *
    * EXACT because it never touches a trapezoid or a float threshold
    * sweep: scores collapse to (group, score) counts first (the row-180
    * value-collapse discipline — the window walks DISTINCT scores, not
    * rows), one per-group cumulative counts negatives strictly below
    * each score, and
    * `U₂ = Σ_s pos_s·(2·negBelow_s + neg_s)` accumulates in exact
    * LONGs — twice the U statistic, so tie half-credits stay integral.
    * `auc = U₂ / (2·nPos·nNeg)` is the single IEEE division in the
    * whole computation — engine-exact, replayable by any SQL engine.
    * Degenerate groups (no positives or no negatives) report null.
    *
    * Shape: one combinable aggregation to (group, score) counts, one
    * bounded window over distinct scores, one combinable roll-up —
    * corpus-linear, per-group sort bounded by DISTINCT score count
    * (integer margins / calibrated buckets keep it tiny at any corpus
    * size). Output: (groupCols…, n_pos, n_neg, auc).
    *
    * NULL-score convention: a null score carries no ranking information,
    * so null-scored rows are DROPPED before the collapse (they count in
    * neither n_pos nor n_neg). Without the explicit filter the two
    * engines would silently diverge — Spark's default ASC sort puts
    * NULLs FIRST while DuckDB puts them LAST — and a null group would be
    * treated as a real lowest/highest score. [[prCurve]] applies the
    * same rule, so the pair stays consistent under any sort direction.
    */
  def rocAuc(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val byScore = df.filter(col(scoreCol).isNotNull)
      .groupBy(g :+ col(scoreCol).as("__s"): _*)
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__n"))
    val win = Window.partitionBy(g: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBelow = byScore.withColumn("__nb",
      coalesce(sum(col("__n")).over(win), lit(0L)))
    withBelow.groupBy(g: _*)
      .agg(
        sum(col("__p")).as("n_pos"),
        sum(col("__n")).as("n_neg"),
        sum(col("__p") * (lit(2L) * col("__nb") + col("__n"))).as("__u2"))
      .withColumn("auc",
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("__u2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg")).cast("double")))
      .drop("__u2")
  }

  /** Exact precision-recall curve — the threshold-picking companion of
    * [[rocAuc]] (AUC ranks a model; PICKING the operating threshold for
    * a quality filter needs the curve itself, and under class imbalance
    * — rare good documents in a raw crawl — PR is the standard lens
    * where ROC flatters).
    *
    * One output row per (group, distinct score): predictions = "score ≥
    * this threshold", with exact BIGINT tp/fp/fn and the three ratios
    * each as ONE IEEE division of exact integers (f1's closed form
    * `2tp/(2tp+fp+fn)` keeps even the harmonic mean single-division —
    * no float ever meets a float).
    *
    * Shape at 100 TB: rows collapse FIRST to per-(group, score) pos/neg
    * counts (one map-side-combinable aggregation — the row-180
    * value-collapse); both cumulatives walk the COLLAPSED table, rows
    * per group = distinct scores, never input rows.
    *
    * NULL-score rows are dropped before the collapse — same convention
    * as [[rocAuc]] (a null score is not a threshold and must not form a
    * curve point; engines also disagree on where NULL sorts).
    */
  def prCurve(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val byScore = df.filter(col(scoreCol).isNotNull)
      .groupBy(g :+ col(scoreCol).as("limiar"): _*)
      .agg(
        sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__n"))
    val wDesc = Window.partitionBy(g: _*).orderBy(col("limiar").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(g: _*)
    byScore
      .withColumn("tp", sum(col("__p")).over(wDesc))
      .withColumn("fp", sum(col("__n")).over(wDesc))
      .withColumn("fn", sum(col("__p")).over(wAll) - col("tp"))
      .select(g ++ Seq(col("limiar"), col("tp"), col("fp"), col("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precisao"),
        when(col("tp") + col("fn") > 0L,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("revocacao"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") > 0L,
          (lit(2L) * col("tp")).cast("double") /
            (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1")): _*)
  }

  /** Best single-feature split by weighted Gini impurity — the CART
    * decision stump (Breiman et al. 1984), the one-level tree every
    * boosted ensemble and every "which feature splits the labels best"
    * EDA question starts from (the axis-aligned sibling of row 204's
    * chi-squared ranking: chi2 ranks tokens, the stump picks the
    * numeric cut).
    *
    * Minimizing weighted Gini `(n_L·G_L + n_R·G_R)/n` is maximizing
    * `F(t) = S_L/n_L + S_R/n_R` with `S = Σ_c (class count)²` — so the
    * engine keeps S and n EXACT (DECIMAL(38,0) squares of window
    * cumulatives) and ranks by the double `F = (S_L·n_R + S_R·n_L) /
    * (n_L·n_R)`: numerator and denominator are exact integer products,
    * the score is ONE IEEE division, and equal scores break on the
    * smaller threshold — the argmax is engine-deterministic (the q181
    * discipline: no accumulated float ever decides). Headroom: the
    * numerator is ≤ 2·|classes|·n³ — inside DECIMAL(38,0)/HUGEINT for
    * any per-fit n ≤ ~10¹² rows; beyond that, pre-bin (row 189's
    * quantile bins) — documented wall.
    *
    * Shape at 100 TB: the corpus collapses to (value, class) counts in
    * ONE combinable aggregation per feature; the candidate grid is
    * distinct-values × classes (never corpus-scale), the cumulative is
    * one window per class over DISTINCT values, and the argmax window
    * walks candidate thresholds only. Splits are `x ≤ t` at every
    * distinct value except the last (an empty right side is not a
    * split).
    *
    * Output: one row per feature — (atributo, limiar, n_esq, n_dir,
    * gini_esq, gini_dir, pontuacao), pontuacao = the maximized F.
    */
  def giniStump(
      df: DataFrame, featureCols: Seq[String], labelCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(featureCols.nonEmpty, "need at least one feature")
    val dec = "decimal(19,0)"
    val wide = "decimal(38,0)"
    featureCols.map { f =>
      val counts = df
        .select(col(f).cast("double").as("limiar"),
          col(labelCol).cast("string").as("__c"))
        .filter(col("limiar").isNotNull && col("__c").isNotNull)
        .groupBy("limiar", "__c").agg(count(lit(1L)).as("__n"))
      val vals = counts.select("limiar").distinct()
      val classes = counts.groupBy("__c").agg(sum(col("__n")).as("__tot"))
      // per-class cumulative over DISTINCT thresholds. CONTRACT: this
      // window is one task per class over the distinct-value grid —
      // bounded for the discrete/binned features this operator is for;
      // a raw continuous feature must be pre-binned first (row 189's
      // quantileBinFit — the same pre-bin the DECIMAL headroom wall in
      // the scaladoc already mandates at large n).
      val wCum = Window.partitionBy(col("__c")).orderBy(col("limiar"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val grid = vals.crossJoin(broadcast(classes))
        .join(counts, Seq("limiar", "__c"), "left")
        .na.fill(0L, Seq("__n"))
        .withColumn("__cum", sum(col("__n")).over(wCum))
      val byThresh = grid.groupBy("limiar").agg(
        sum(col("__cum")).as("n_esq"),
        sum(col("__cum").cast(dec) * col("__cum").cast(dec)).as("__sl"),
        sum((col("__tot") - col("__cum")).cast(dec) *
          (col("__tot") - col("__cum")).cast(dec)).as("__sr"),
        sum(col("__tot")).as("__ntot"))
      byThresh
        .withColumn("n_dir", col("__ntot") - col("n_esq"))
        .filter(col("n_dir") > 0L)
        .withColumn("pontuacao",
          (col("__sl").cast(wide) * col("n_dir").cast(dec) +
            col("__sr").cast(wide) * col("n_esq").cast(dec))
            .cast("double") /
          (col("n_esq").cast(dec) * col("n_dir").cast(dec)).cast("double"))
        .withColumn("gini_esq",
          (col("n_esq").cast(dec) * col("n_esq").cast(dec) - col("__sl"))
            .cast("double") /
          (col("n_esq").cast(dec) * col("n_esq").cast(dec)).cast("double"))
        .withColumn("gini_dir",
          (col("n_dir").cast(dec) * col("n_dir").cast(dec) - col("__sr"))
            .cast("double") /
          (col("n_dir").cast(dec) * col("n_dir").cast(dec)).cast("double"))
        // argmax via TakeOrdered (a distributed top-1, never a global
        // row_number window): same total order — equal scores break on
        // the unique threshold — so the selected row is unchanged
        .orderBy(col("pontuacao").desc, col("limiar").asc)
        .limit(1)
        .select(lit(f).as("atributo"), col("limiar"), col("n_esq"),
          col("n_dir"), col("gini_esq"), col("gini_dir"), col("pontuacao"))
    }.reduce(_.unionByName(_))
  }

  /** Spearman rank correlation with tie-averaged ranks (Spearman 1904)
    * — the monotonic-association screen run before any linear model:
    * robust to outliers and to any monotone transform, which Pearson on
    * raw values is not. Where most engines surface it as an
    * approximate two-pass float routine, this one is ENGINE-EXACT:
    * tie-averaged ranks are half-integers, so the engine works in
    * DOUBLED ranks — `r₂ = 2·(count below) + (count equal) + 1`, an
    * integer — and Pearson-on-ranks reduces to exact DECIMAL(38,0)
    * sufficient statistics with a fixed `num / (sqrt(dx)·sqrt(dy))`
    * IEEE edge (sqrt/÷/× each correctly rounded → bit-identical in any
    * engine). Headroom: n·Σr₂² ≤ 4n⁴ → n ≤ ~3·10⁹ rows per fit inside
    * 38 digits — documented wall (beyond it, sample or pre-bin).
    *
    * Shape at 100 TB: ranks depend only on the VALUE, so each column
    * collapses to its distinct values (one combinable count + one
    * cumulative window over distinct values — never a corpus-wide rank
    * sort); rows join the small value→rank maps back and ONE
    * combinable aggregation produces every statistic. Pairs with a
    * constant column report null rho.
    *
    * Fixed-overhead discipline (the round-14 lesson — q193's three
    * pairs paid 9 persists and 6 offset folds, ×9 wall at sf0.1): one
    * cheap null-census action first; every pair whose two columns are
    * null-free (the overwhelmingly common case — Spearman's pairwise
    * deletion only differs when a null exists) shares ONE persisted
    * projection, ONE labeled multi-column rank engine pass
    * ([[belowFromCounts]]), |columns| (not 2·|pairs|) rank joins onto
    * one annotated frame, and ONE final aggregation computing every
    * pair's sufficient statistics together. Pairs with nulls fall back
    * to a per-pair frame with the pairwise-complete filter — identical
    * semantics, same arithmetic.
    *
    * Output: one row per pair — (coluna_x, coluna_y, n, rho).
    */
  def spearmanCorr(
      df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "need at least one column pair")
    val d19 = "decimal(19,0)"

    // Rank-annotate `base0` (columns __v_<c>, already pairwise-complete
    // for every pair in `gpairs`) and emit one result row per pair from
    // ONE aggregation. Doubled tie-averaged ranks r2 = 2·below+equal+1
    // keep every statistic an exact DECIMAL(38,0) sum — bit-identical
    // to the round-14 per-pair engine.
    def statsFor(
        base0: DataFrame, gcols: Seq[String],
        gpairs: Seq[(String, String)]): DataFrame = {
      val base = graft.llm.CacheScope.persistTracked(base0)
      val longForm = base.select(explode(array(gcols.map(c =>
        struct(lit(c).as("__c"), col(s"__v_$c").as("__v"))): _*)).as("__e"))
        .select(col("__e.__c").as("__c"), col("__e.__v").as("__v"))
      val counts = graft.llm.CacheScope.persistTracked(
        longForm.groupBy("__c", "__v").agg(count(lit(1L)).as("__cnt")))
      val rmap = graft.llm.CacheScope.persistTracked(
        belowFromCounts(counts).select(col("__c"), col("__v"),
          (lit(2L) * col("__below") + col("__cnt") + lit(1L)).as("__r2")))
      val ranked = gcols.foldLeft(base) { (acc, c) =>
        acc.join(rmap.filter(col("__c") === c)
          .select(col("__v").as(s"__v_$c"), col("__r2").as(s"__r_$c")),
          Seq(s"__v_$c"))
      }
      val aggs = (count(lit(1L)).as("__n") +:
        gcols.flatMap(c => Seq(
          sum(col(s"__r_$c").cast(d19)).as(s"__s_$c"),
          sum(col(s"__r_$c").cast(d19) * col(s"__r_$c").cast(d19))
            .as(s"__q_$c")))) ++
        gpairs.zipWithIndex.map { case ((a, b), i) =>
          sum(col(s"__r_$a").cast(d19) * col(s"__r_$b").cast(d19))
            .as(s"__p_$i") }
      val one = ranked.agg(aggs.head, aggs.tail: _*)
      val rows = gpairs.zipWithIndex.map { case ((xc, yc), i) =>
        val n = col("__n").cast(d19)
        val dx = n * col(s"__q_$xc") - col(s"__s_$xc") * col(s"__s_$xc")
        val dy = n * col(s"__q_$yc") - col(s"__s_$yc") * col(s"__s_$yc")
        val num = n * col(s"__p_$i") - col(s"__s_$xc") * col(s"__s_$yc")
        struct(
          lit(xc).as("coluna_x"), lit(yc).as("coluna_y"),
          col("__n").as("n"),
          when(dx > 0 && dy > 0,
            num.cast("double") /
              (sqrt(dx.cast("double")) * sqrt(dy.cast("double"))))
            .as("rho"))
      }
      one.select(explode(array(rows: _*)).as("__r")).select(col("__r.*"))
    }

    val cols = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
    // One combinable pass: which columns are null-free after the
    // numeric cast? (count() skips nulls; NaN is non-null and ranks
    // through the engine's sentinel bucket.)
    val census = df.agg(count(lit(1L)).as("__all"),
      cols.map(c => count(col(c).cast("double")).as(s"__nn_$c")): _*).head()
    val total = census.getAs[Long]("__all")
    val nullFree =
      cols.filter(c => census.getAs[Long](s"__nn_$c") == total).toSet
    val (shared, perPair) = pairs.partition { case (a, b) =>
      nullFree(a) && nullFree(b) }
    val sharedOut =
      if (shared.isEmpty) Nil
      else {
        val sCols = shared.flatMap { case (a, b) => Seq(a, b) }.distinct
        Seq(statsFor(
          df.select(sCols.map(c =>
            col(c).cast("double").as(s"__v_$c")): _*),
          sCols, shared))
      }
    val perPairOut = perPair.map { case (xc, yc) =>
      val gcols = Seq(xc, yc).distinct
      statsFor(
        df.select(gcols.map(c =>
          col(c).cast("double").as(s"__v_$c")): _*)
          .filter(gcols.map(c => col(s"__v_$c").isNotNull).reduce(_ && _)),
        gcols, Seq((xc, yc)))
    }
    (sharedOut ++ perPairOut).reduce(_.unionByName(_))
  }

  /** Two-proportion z-test (the A/B experiment readout): pooled
    * standard error, `z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b))` —
    * the first statistic every conversion experiment ships.
    *
    * Counts are exact BIGINTs from ONE combinable conditional
    * aggregation over the scan (never a pass per arm); every reported
    * rate is ONE IEEE division and z is a FIXED parenthesization of
    * correctly-rounded ops from those exact counts (the row-205
    * discipline) — engine-identical under any partitioning. Degenerate
    * designs (an empty arm, or a pooled rate of exactly 0/1, where the
    * null model has zero variance) report null z.
    *
    * Output: one row — (n_a, x_a, n_b, x_b, taxa_a, taxa_b, z).
    */
  def proportionZTest(
      df: DataFrame, armCol: String, successCol: String,
      armA: String, armB: String): DataFrame = {
    val counts = df.filter(col(armCol).isin(armA, armB))
      .agg(
        sum(when(col(armCol) === armA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(armCol) === armA && col(successCol), 1L)
          .otherwise(0L)).as("x_a"),
        sum(when(col(armCol) === armB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(armCol) === armB && col(successCol), 1L)
          .otherwise(0L)).as("x_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val pa = col("x_a").cast("double") / na
    val pb = col("x_b").cast("double") / nb
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    counts.select(
      col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      when(col("n_a") > 0L, pa).as("taxa_a"),
      when(col("n_b") > 0L, pb).as("taxa_b"),
      when(col("n_a") > 0L && col("n_b") > 0L &&
          col("x_a") + col("x_b") > 0L &&
          col("x_a") + col("x_b") < col("n_a") + col("n_b"),
        (pa - pb) /
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)))
        .as("z"))
  }

  /** Kruskal–Wallis H test (Kruskal & Wallis 1952) with the tie
    * correction — "do these k groups draw from the same distribution?"
    * on ranks: the nonparametric ANOVA, the 3-plus-group generalization
    * of the Mann–Whitney machinery row 198's AUC already carries.
    *
    * Same doubled-rank discipline as row 209: tie-averaged ranks as the
    * exact integer `2·below + equal + 1` from a distinct-value
    * collapse, per-group rank sums exact DECIMAL, the tie term
    * `ΣT = Σ(t³−t)` exact from the same collapse. With doubled ranks
    * `H = 3·(Σ_g R₂g²/n_g)/(n(n+1)) − 3(n+1)` — each group's
    * `R₂g²` is an EXACT DECIMAL(38,0) product followed by ONE IEEE
    * division, and the k per-group doubles combine in a DETERMINISTIC
    * left fold over groups sorted by key (k is test-statistic-small by
    * contract; a fixed order replays op-for-op in any engine — DuckDB:
    * `list_reduce(list(… ORDER BY g), …)`). The edge is a fixed
    * parenthesization; `H_corr = H/(1 − ΣT/(n³−n))`, null when every
    * value ties (zero variance). Headroom: R₂g ≤ 2n² must fit
    * DECIMAL(19,0) and R₂g² DECIMAL(38,0) → n ≤ ~2·10⁹ rows per fit —
    * documented wall (a DECIMAL(38,18) accumulator burned 18 of those
    * digits on sub-ulp precision and overflowed at n = 6·10⁶,
    * measured at sf1).
    *
    * Shape at 100 TB: one distinct-value collapse + one cumulative
    * window over distinct values (never a corpus-wide rank sort), one
    * row join back through the value→rank map, ONE combinable per-group
    * aggregation; groups, not rows, reach the final fold. Output: one
    * row per group — (grupo, n_grupo, posto_medio, gl, h, h_corr).
    */
  def kruskalWallis(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val base = df
      .select(col(groupCol).cast("string").as("__g"),
        col(valueCol).cast("double").as("__v"))
      .filter(col("__g").isNotNull && col("__v").isNotNull)
      .transform(graft.llm.CacheScope.persistTracked)
    // distinct-value collapse, persisted ONCE and consumed three ways:
    // the rank map's bounds/offsets/window (belowFromCounts) and the
    // tie aggregation — which needs only the multiplicities, so it
    // reads the counts directly instead of forcing a second persisted
    // layer on top of the rank map (the round-14 shape: base + counts
    // + ranks = 3 persists per call; now 2, and the rank map itself is
    // consumed exactly once, by the per-group join below)
    val counts = graft.llm.CacheScope.persistTracked(
      base.groupBy(col("__v")).agg(count(lit(1L)).as("__cnt"))
        .withColumn("__c", lit("v")))
    val ranks = belowFromCounts(counts)
      .select(col("__v"), col("__cnt"),
        (lit(2L) * col("__below") + col("__cnt") + lit(1L)).as("__r2"))
    // persisted: consumed by BOTH the cross-group total fold and the
    // final select — without the pin, the base⋈ranks shuffle AND the
    // whole rank-map derivation execute twice (measured: the pin is
    // nearly half of q195's sf0.1 wall). ≤|groups| rows — trivial state.
    // persisted: consumed by BOTH the cross-group total fold and the
    // final select — without the pin, the base⋈ranks shuffle AND the
    // whole rank-map derivation execute twice (measured: the pin is
    // nearly half of q195's sf0.1 wall). ≤|groups| rows — trivial state.
    // The tie term rides the SAME aggregation: a joined row whose value
    // has multiplicity t contributes t²−1, and Σ_rows (t²−1) =
    // Σ_values t·(t²−1) = Σ(t³−t) exactly (integer DECIMAL) — so the
    // round-14 separate ties pass over the counts cache disappears.
    val perGroup = graft.llm.CacheScope.persistTracked(
      base.join(ranks, Seq("__v"))
        .groupBy("__g").agg(
          count(lit(1L)).as("n_grupo"),
          sum(col("__r2").cast(d19)).as("__rg2"),
          sum(col("__cnt").cast(d19) * col("__cnt").cast(d19) - lit(1L))
            .as("__tg")))
    // Σ_g Rg²/n_g: each term is EXACT integer __rg2² (decimal(38,0) —
    // the headroom wall is __rg2 ≤ 10¹⁹, i.e. N ≤ ~2·10⁹ rows; the
    // previous decimal(38,18) accumulator burned 18 of those digits on
    // sub-ulp precision and overflowed at N = 6·10⁶) cast to double
    // (integer→double is correctly rounded in every engine) with ONE
    // IEEE division; the cross-group sum is a deterministic LEFT FOLD
    // over groups sorted by key — k is test-statistic-small by
    // contract, and the fixed order makes the double chain replayable
    // op-for-op (DuckDB: list_reduce over list(… ORDER BY g)).
    val term = ((col("__rg2") * col("__rg2")).cast("double") /
      col("n_grupo").cast("double"))
    val tot = perGroup.agg(
      sum(col("n_grupo")).as("__n"),
      count(lit(1L)).as("__k"),
      sum(col("__tg")).as("__st"),
      aggregate(
        array_sort(collect_list(struct(col("__g"), term.as("__t")))),
        lit(0.0), (acc, x) => acc + x.getField("__t")).as("__s2sum"))
    val nd = col("__n").cast("double")
    val h = (lit(3.0) * col("__s2sum")) /
      (nd * (nd + lit(1.0))) - lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) -
      col("__st").cast("double") / (nd * nd * nd - nd)
    perGroup
      .crossJoin(broadcast(tot))
      .select(col("__g").as("grupo"), col("n_grupo"),
        (col("__rg2").cast("double") /
          (lit(2.0) * col("n_grupo").cast("double"))).as("posto_medio"),
        (col("__k") - 1L).as("gl"),
        h.as("h"),
        when(col("__st") < col("__n").cast(d19) * col("__n").cast(d19) *
            col("__n").cast(d19) - col("__n").cast(d19), h / corr)
          .as("h_corr"))
  }

  /** Two-sample Kolmogorov–Smirnov test per group — the
    * distribution-DIFFERENCE companion of the drift report (row 186
    * compares binned histograms; KS is the binning-free exact form —
    * the supremum gap between the two empirical CDFs) and of
    * [[kruskalWallis]] (which detects LOCATION shifts; KS also catches
    * equal-median shape/variance divergence). The training-data read:
    * "did this source's quality-score distribution move between
    * snapshots" without choosing bins.
    *
    * Exactness (the row-180 value-collapse discipline): rows collapse
    * to per-(group, distinct value) counts of each sample, both ECDFs
    * walk the collapsed table as cumulative sums over the value order,
    * and the supremum is `max |ca·nb − cb·na|` — pure BIGINT (the ECDF
    * gap at each step scaled by na·nb; the supremum over all x is
    * attained at a step point evaluated AFTER its step, which the
    * row-inclusive cumulative gives). `d` is that integer over na·nb in
    * ONE IEEE division; the Numerical-Recipes significance scale
    * `lambda = (√ne + 0.12 + 0.11/√ne)·d`, ne = na·nb/(na+nb), is a
    * fixed parenthesization over already-final doubles. Headroom:
    * na·nb ≤ 9·10¹⁸ per group (BIGINT) → ~3·10⁹ rows per side —
    * documented wall, the [[kruskalWallis]] fallback discipline.
    * Null-value rows are dropped (the rocAuc NULL convention — Spark
    * and DuckDB sort NULLs to opposite ends); a group with an empty
    * side emits null `d` (no distribution to compare).
    *
    * Shape at 100 TB: one map-side-combinable collapse to distinct
    * values, one cumulative window over DISTINCT VALUES per group
    * (never a corpus-wide row sort), one combinable per-group max —
    * groups × distinct values bound every post-collapse stage. Output:
    * one row per group — (grupo…, n_a, n_b, d_num, d, ks_lambda).
    */
  /** Chi-squared independence test + Cramér's V per group (Cramér 1946
    * §21.9 — "are these two categorical columns associated, and how
    * strongly": the contingency-table generalization of the χ² FEATURE
    * test (row 204, which scores one token against one class) to whole
    * column pairs, with V as the [0,1] effect size χ² alone can't give).
    *
    * Integer discipline: per-cell χ² term = (n·n_ab − n_a·n_b)² /
    * (n·n_a·n_b) — the numerator is an EXACT DECIMAL(38,0) square of a
    * BIGINT (headroom n ≤ 3·10⁹ rows per group), the denominator an
    * exact BIGINT product cast once; each cell is ONE IEEE division and
    * the cross-cell sum is the deterministic left fold over cells sorted
    * by (a, b) — cell count is category²-bounded by contract (the
    * kruskalWallis "test-statistic-small" rule). V = √(χ²/(n·min(r−1,
    * c−1))); single-category sides (dof 0) emit null χ²/V.
    *
    * Shape at 100 TB: one combinable (group, a, b) count, two combinable
    * margin re-aggregations of THAT table, the full r×c grid from the
    * margin product (category²-bounded — zero-observed cells must
    * contribute (0−E)²/E, see below) and one fold — raw rows are
    * touched exactly once.
    */
  def cramersV(
      df: DataFrame, groupCols: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val d38 = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(g :+ col(aCol).cast("string").as("__a") :+
        col(bCol).cast("string").as("__b"): _*)
      .agg(count(lit(1L)).as("__nab"))
      .transform(graft.llm.CacheScope.persistTracked)
    val rowM = cells.groupBy(g :+ col("__a"): _*)
      .agg(sum(col("__nab")).as("__na"))
    val colM = cells.groupBy(g :+ col("__b"): _*)
      .agg(sum(col("__nab")).as("__nb"))
    val tot = cells.groupBy(g: _*).agg(
      sum(col("__nab")).as("__n"),
      count_distinct(col("__a")).as("__r"),
      count_distinct(col("__b")).as("__c"))
    val term = {
      val num = (col("__n") * col("__nab") - col("__na") * col("__nb"))
        .cast(d38)
      (num * num).cast("double") /
        (col("__n").cast(d38) * col("__na") * col("__nb")).cast("double")
    }
    // the FULL r×c grid, not just observed cells: a zero-observed cell
    // still contributes (0 − E)²/E — folding observed cells only would
    // systematically understate χ² exactly when association is strongest
    val folded = rowM
      .join(colM, groupCols)
      .join(cells, groupCols :+ "__a" :+ "__b", "left")
      .withColumn("__nab", coalesce(col("__nab"), lit(0L)))
      .join(broadcast(tot), groupCols)
      .groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        max(col("__r")).as("r"),
        max(col("__c")).as("c"),
        aggregate(
          array_sort(collect_list(
            struct(col("__a"), col("__b"), term.as("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t")).as("__chi2"))
    val dof = (col("r") - 1L) * (col("c") - 1L)
    val minSide = least(col("r") - 1L, col("c") - 1L)
    folded.select(g ++ Seq(
      col("n"), col("r"), col("c"), dof.as("gl"),
      when(dof > 0L, col("__chi2")).as("chi2"),
      when(dof > 0L,
        sqrt(col("__chi2") /
          (col("n").cast("double") * minSide.cast("double"))))
        .as("cramers_v")): _*)
  }

  /** Exact decile lift / cumulative-gains table per group (the
    * campaign-targeting readout next to [[rocAuc]]/[[prCurve]]: AUC
    * ranks the model, PR picks a threshold, the lift table answers the
    * operator's actual question — "if I contact the top 20% by score,
    * what fraction of converters do I capture, and how much better than
    * random is that?").
    *
    * Rows rank by the DETERMINISTIC total order (score DESC, id ASC —
    * ids unique by contract, so ties never float between buckets);
    * bucket = floor((rank−1)·buckets/n)+1, exact integers. Per-bucket
    * and cumulative counts are BIGINT; capture, response rate and lift
    * are single IEEE divisions of exact integers (lift's closed form
    * `cum_events·n / (cum_rows·total_events)` keeps it one division).
    *
    * Shape: ONE per-group sort (the exact form's honest cost — a lift
    * table is a ranking artifact; the approximate path at 100 TB
    * composes the quantile-binning fit (row 189) on the score) + one
    * combinable per-bucket aggregation + a buckets-sized cumulative
    * window. Output: one row per (group…, decil).
    */
  def liftTable(
      df: DataFrame, groupCols: Seq[String], idCol: String,
      scoreCol: String, labelCol: String, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "need at least one group column")
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val g = groupCols.map(col)
    val wRank = Window.partitionBy(g: _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    val wAll = Window.partitionBy(g: _*)
    val ranked = df
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .withColumn("__rk", row_number().over(wRank).cast("long"))
      .withColumn("__n", count(lit(1L)).over(wAll))
      // exact integer division — Column `/` on longs is IEEE double
      // division, which decides bucket membership by a float truncation
      // once (rk-1)·buckets nears 2^53; `div` keeps the gate integral
      // at any scale (the theilSen/no-float-decides-membership rule)
      .withColumn("decil",
        expr(s"((__rk - 1) * $buckets) div __n") + 1L)
    val perBucket = ranked.groupBy(g :+ col("decil"): _*).agg(
      count(lit(1L)).as("n_linhas"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("n_eventos"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("decil"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket
      .withColumn("__cr", sum(col("n_linhas")).over(wCum))
      .withColumn("__ce", sum(col("n_eventos")).over(wCum))
      .withColumn("__tr", sum(col("n_linhas")).over(wAll))
      .withColumn("__te", sum(col("n_eventos")).over(wAll))
      .select(g ++ Seq(col("decil"), col("n_linhas"), col("n_eventos"),
        when(col("__te") > 0L, col("__ce").cast("double") /
          col("__te").cast("double")).as("captura"),
        (col("__ce").cast("double") / col("__cr").cast("double"))
          .as("taxa_acumulada"),
        when(col("__te") > 0L,
          (col("__ce") * col("__tr")).cast("double") /
            (col("__cr") * col("__te")).cast("double")).as("lift")): _*)
  }

  /** Mutual information + normalized MI between two categorical columns
    * per group (Shannon 1948; NMI per Strehl & Ghosh JMLR 2002) — the
    * information-theoretic companion of [[cramersV]]: χ² asks "is the
    * deviation from independence statistically surprising", MI asks "how
    * many nats does knowing A tell you about B" — the quantity feature
    * selectors and clustering comparisons actually rank by.
    *
    * MI = Σ_cells (n_ab/n)·ln(n·n_ab/(n_a·n_b)) — only OBSERVED cells
    * contribute (lim p→0 of p·ln p = 0, unlike the χ² grid), each term
    * built from exact BIGINTs with the ln argument as ONE division of
    * exact integer products (n·n_ab ≤ 9·10¹⁸ headroom), folded in the
    * deterministic (a,b)-sorted order; marginal entropies fold the same
    * way over each margin. NMI = MI/√(H_a·H_b), null when either margin
    * is single-valued (zero entropy). Same two-aggregation shape as
    * [[cramersV]]: raw rows are touched exactly once.
    */
  def mutualInfo(
      df: DataFrame, groupCols: Seq[String], aCol: String,
      bCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val d38 = "decimal(38,0)"
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(g :+ col(aCol).cast("string").as("__a") :+
        col(bCol).cast("string").as("__b"): _*)
      .agg(count(lit(1L)).as("__nab"))
      .transform(graft.llm.CacheScope.persistTracked)
    val rowM = cells.groupBy(g :+ col("__a"): _*)
      .agg(sum(col("__nab")).as("__na"))
    val colM = cells.groupBy(g :+ col("__b"): _*)
      .agg(sum(col("__nab")).as("__nb"))
    val tot = cells.groupBy(g: _*).agg(sum(col("__nab")).as("__n"))
    def entropyOf(margin: DataFrame, keyCol: String, cnt: String) =
      margin.join(broadcast(tot), groupCols)
        .groupBy(g: _*).agg(
          aggregate(
            array_sort(collect_list(struct(col(keyCol),
              (col(cnt).cast("double") *
                log(col(cnt).cast("double"))).as("__clnc")))),
            lit(0.0), (acc, x) => acc + x.getField("__clnc")).as("__s"),
          max(col("__n")).as("__n"))
        .select(g :+ (log(col("__n").cast("double")) -
          col("__s") / col("__n").cast("double")).as(s"__h$cnt"): _*)
    val miTerm = (col("__nab").cast("double") / col("__n").cast("double")) *
      log((col("__n").cast(d38) * col("__nab")).cast("double") /
        (col("__na").cast(d38) * col("__nb")).cast("double"))
    val mi = cells
      .join(rowM, groupCols :+ "__a")
      .join(colM, groupCols :+ "__b")
      .join(broadcast(tot), groupCols)
      .groupBy(g: _*).agg(
        max(col("__n")).as("n"),
        aggregate(
          array_sort(collect_list(
            struct(col("__a"), col("__b"), miTerm.as("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t")).as("mi"))
    mi.join(entropyOf(rowM, "__a", "__na"), groupCols)
      .join(entropyOf(colM, "__b", "__nb"), groupCols)
      .select(g ++ Seq(col("n"), col("mi"),
        col("__h__na").as("h_a"), col("__h__nb").as("h_b"),
        when(col("__h__na") > 0.0 && col("__h__nb") > 0.0,
          col("mi") / sqrt(col("__h__na") * col("__h__nb"))).as("nmi")): _*)
  }

  /** Gini coefficient per group (Gini 1912, the Lorenz-curve inequality
    * index — "how concentrated is spend/volume across customers": the
    * single-number companion of the ABC/Pareto classes of row 164).
    *
    * Exact rank algebra over the VALUE-COLLAPSED table (the row-180
    * discipline): values scale to integers (`scale` decimal digits),
    * collapse to (group, value, count), and the sorted-rank sum
    * `Σ rank_i·x_(i)` folds per distinct value as x·(c·below + c(c+1)/2)
    * — tie-invariant, since equal values contribute the same under any
    * permutation of their ranks. Everything accumulates in
    * DECIMAL(38,0) (headroom x_scaled·n² ≤ 10³⁸); the edge is
    * G = 2S/(n·T) − (n+1)/n with two exact-integer divisions. Negative
    * values are REJECTED rows (Gini is undefined below zero — count
    * reported, not silently dropped); an all-zero or empty group emits
    * null gini.
    *
    * Shape at 100 TB: one combinable collapse, one cumulative window
    * over DISTINCT values per group, one combinable per-group fold.
    */
  def giniIndex(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      scale: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val d38 = "decimal(38,0)"
    val scaled = df
      .filter(col(valueCol).isNotNull)
      .select(g :+
        (col(valueCol).cast(s"decimal(38,$scale)") *
          lit(math.pow(10, scale).toLong)).cast(d38).as("__x"): _*)
    val byValue = scaled
      .groupBy(g :+ col("__x"): _*)
      .agg(count(lit(1L)).as("__c"),
        sum(when(col("__x") < 0L, 1L).otherwise(0L)).as("__neg"))
    val wBelow = Window.partitionBy(g: _*).orderBy(col("__x"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = byValue
      .withColumn("__below",
        coalesce(sum(col("__c")).over(wBelow), lit(0L)))
    // Σ ranks for this value's block = c·below + c(c+1)/2; contribution
    // x · that, all decimal(38,0)
    // c·(c+1) is always even, so `div 2` is exact integer arithmetic at
    // any count; the former `/ 2` routed it through an IEEE double with
    // a silent 2^53 wall inside an all-DECIMAL accumulation
    val contrib = col("__x") *
      (col("__c").cast(d38) * col("__below").cast(d38) +
        expr("(__c * (__c + 1)) div 2").cast(d38))
    val perGroup = cum.groupBy(g: _*).agg(
      sum(col("__c")).as("n"),
      sum(col("__neg")).as("n_negativos"),
      sum(col("__x") * col("__c").cast(d38)).cast(d38).as("__t"),
      sum(contrib).cast(d38).as("__s"))
    val nd = col("n").cast("double")
    perGroup.select(g ++ Seq(
      col("n"),
      (col("__t").cast("double") / lit(math.pow(10, scale)))
        .as("total"),
      when(col("n_negativos") === 0L && col("__t") > 0L,
        lit(2.0) * col("__s").cast("double") /
          (nd * col("__t").cast("double")) -
          (nd + lit(1.0)) / nd).as("gini")): _*)
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013 — "Improving the Sensitivity of Online Controlled
    * Experiments": adjust each unit's metric by its PRE-EXPERIMENT
    * covariate, `y' = y − θ(x − x̄)` with `θ = cov(x,y)/var(x)`, cutting
    * metric variance by the squared pre/post correlation — the standard
    * trick that makes small lifts detectable without more traffic).
    *
    * θ and x̄ fit on the POOLED units (arm-blind, the paper's unbiasedness
    * condition) from EXACT DECIMAL(38,12) sufficient statistics (Σx, Σy,
    * Σxy, Σx², Σy² — ONE combinable aggregation); per-arm means of y and
    * y' then need only (Σy, Σx, n) per arm — a second combinable
    * aggregation over the same scan. The per-arm adjusted mean folds
    * algebraically: mean(y') = ȳ_arm − θ(x̄_arm − x̄), so no per-row
    * adjusted column ever materializes. Output: one row per
    * (group…, arm) — n, media_y, media_y_adj, plus the pooled theta and
    * the pooled variance-reduction factor 1 − ρ² (var(y')/var(y)),
    * broadcast onto every arm row. Zero-variance x (θ undefined) emits
    * null adjusted columns.
    */
  def cupedAdjust(
      df: DataFrame, groupCols: Seq[String], armCol: String,
      yCol: String, xPreCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val d38 = "decimal(38,12)"
    val x = col(xPreCol).cast("double")
    val y = col(yCol).cast("double")
    val base = df.filter(col(xPreCol).isNotNull && col(yCol).isNotNull &&
        col(armCol).isNotNull)
      .transform(graft.llm.CacheScope.persistTracked)
    val pooled = base.groupBy(g: _*).agg(
      count(lit(1L)).as("__n"),
      sum(x.cast(d38)).cast(d38).as("__sx"),
      sum(y.cast(d38)).cast(d38).as("__sy"),
      sum((x * y).cast(d38)).cast(d38).as("__sxy"),
      sum((x * x).cast(d38)).cast(d38).as("__sxx"),
      sum((y * y).cast(d38)).cast(d38).as("__syy"))
    val n = col("__n").cast("double")
    val sx = col("__sx").cast("double")
    val sy = col("__sy").cast("double")
    val varX = col("__sxx").cast("double") - sx * sx / n
    val varY = col("__syy").cast("double") - sy * sy / n
    val covXY = col("__sxy").cast("double") - sx * sy / n
    val stats = pooled.select(g ++ Seq(
      (sx / n).as("__mx"),
      when(varX > 0.0, covXY / varX).as("theta"),
      when(varX > 0.0 && varY > 0.0,
        lit(1.0) - (covXY * covXY) / (varX * varY))
        .as("fator_variancia")): _*)
    val arms = base.groupBy(g :+ col(armCol).as("braco"): _*).agg(
      count(lit(1L)).as("n"),
      sum(y.cast(d38)).cast(d38).as("__asy"),
      sum(x.cast(d38)).cast(d38).as("__asx"))
    val an = col("n").cast("double")
    val my = col("__asy").cast("double") / an
    val mx = col("__asx").cast("double") / an
    arms.join(broadcast(stats), groupCols)
      .select(g ++ Seq(col("braco"), col("n"),
        my.as("media_y"),
        (my - col("theta") * (mx - col("__mx"))).as("media_y_adj"),
        col("theta"), col("fator_variancia")): _*)
  }

  /** Welch's unequal-variance two-sample t-test per group (Welch 1947 —
    * the A/B-comparison staple [[kruskalWallis]] and [[ksTest]] bracket:
    * KW ranks k groups, KS compares whole shapes; Welch answers "did the
    * MEAN move, without assuming equal variances" — the default t-test
    * recommendation since Ruxton 2006).
    *
    * Exactness: sufficient statistics are EXACT DECIMAL(38,12) sums
    * (Σx, Σx² per side — ONE combinable aggregation, the q137/q150
    * discipline; a double sum would make borderline t values
    * partitioning-dependent). The double edge is a fixed
    * parenthesization: mean = Σx/n; s² = max((Σx² − Σx·Σx/n)/(n−1), 0)
    * (the max guards the constant-series rounding residue);
    * t = (mā − m̄b)/√(s²a/na + s²b/nb); Welch–Satterthwaite
    * df = (s²a/na + s²b/nb)² / ((s²a/na)²/(na−1) + (s²b/nb)²/(nb−1)).
    * Null-value/-sample rows drop ([[rocAuc]]'s convention); t and gl
    * are null when either side has n < 2 or both variances are zero.
    *
    * Shape at 100 TB: one map-side-combinable aggregation — six
    * conditional sums — then per-group scalar algebra; nothing after
    * the agg sees more than one row per group.
    */
  def welchTTest(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      sampleACol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val x = col(valueCol).cast("double")
    val d38 = "decimal(38,12)"
    val isA = col(sampleACol)
    val agg = df
      .filter(col(valueCol).isNotNull && col(sampleACol).isNotNull)
      .groupBy(g: _*).agg(
        sum(when(isA, 1L).otherwise(0L)).as("n_a"),
        sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
        sum(when(isA, x.cast(d38)).otherwise(lit(0).cast(d38)))
          .cast(d38).as("__sa"),
        sum(when(isA, (x * x).cast(d38)).otherwise(lit(0).cast(d38)))
          .cast(d38).as("__saa"),
        sum(when(!isA, x.cast(d38)).otherwise(lit(0).cast(d38)))
          .cast(d38).as("__sb"),
        sum(when(!isA, (x * x).cast(d38)).otherwise(lit(0).cast(d38)))
          .cast(d38).as("__sbb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val sa = col("__sa").cast("double")
    val sb = col("__sb").cast("double")
    val ma = sa / na
    val mb = sb / nb
    val s2a = greatest(
      (col("__saa").cast("double") - sa * sa / na) / (na - lit(1.0)),
      lit(0.0))
    val s2b = greatest(
      (col("__sbb").cast("double") - sb * sb / nb) / (nb - lit(1.0)),
      lit(0.0))
    val va = s2a / na
    val vb = s2b / nb
    val ok = col("n_a") >= 2L && col("n_b") >= 2L && (va + vb) > 0.0
    agg.select(g ++ Seq(
      col("n_a"), col("n_b"),
      when(col("n_a") > 0L, ma).as("media_a"),
      when(col("n_b") > 0L, mb).as("media_b"),
      when(ok, (ma - mb) / sqrt(va + vb)).as("t"),
      when(ok, (va + vb) * (va + vb) /
        (va * va / (na - lit(1.0)) + vb * vb / (nb - lit(1.0))))
        .as("gl")): _*)
  }

  def ksTest(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      sampleACol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val byValue = df
      .filter(col(valueCol).isNotNull && col(sampleACol).isNotNull)
      .groupBy(g :+ col(valueCol).as("__v"): _*)
      .agg(
        sum(when(col(sampleACol), 1L).otherwise(0L)).as("__a"),
        sum(when(col(sampleACol), 0L).otherwise(1L)).as("__b"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(g: _*)
    val cum = byValue
      .withColumn("__ca", sum(col("__a")).over(wCum))
      .withColumn("__cb", sum(col("__b")).over(wCum))
      .withColumn("__na", sum(col("__a")).over(wAll))
      .withColumn("__nb", sum(col("__b")).over(wAll))
    val perGroup = cum.groupBy(g: _*).agg(
      max(col("__na")).as("n_a"),
      max(col("__nb")).as("n_b"),
      max(abs(col("__ca") * col("__nb") - col("__cb") * col("__na")))
        .as("d_num"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val d = col("d_num").cast("double") / (nad * nbd)
    val ne = nad * nbd / (nad + nbd)
    perGroup.select(
      g ++ Seq(
        col("n_a"), col("n_b"), col("d_num"),
        when(col("n_a") > 0L && col("n_b") > 0L, d).as("d"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          (sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * d)
          .as("ks_lambda")): _*)
  }

  /** Split-conformal prediction intervals (Vovk 2005; Lei et al. JASA
    * 2018 — the distribution-free coverage guarantee every deployed
    * regressor should ship with): the calibration set's absolute
    * residuals |y − ŷ| yield q̂ = the ⌈(n+1)(1−α)⌉-th smallest residual
    * (an EXACT order statistic, not an interpolated quantile — the
    * finite-sample guarantee is stated for exactly this rank), and
    * every scored row gets [ŷ − q̂, ŷ + q̂] with P(y ∈ interval) ≥ 1−α
    * under exchangeability.
    *
    * Shape: one rank window over the CALIBRATION set only (bounded by
    * the calibration sample, never the apply scan), the 1-row q̂
    * broadcast onto the apply side — the offline-fit/online-apply
    * discipline of rows 185/189. Rank ties on the residual break by
    * the id column so the selected order statistic is engine-
    * deterministic. Fails loudly when (n+1)(1−α) > n (calibration too
    * small for the requested coverage — the silent-∞ alternative hides
    * a meaningless interval).
    *
    * Output: apply rows (idCol, pred, y, lo, hi, coberto) — coberto
    * (y inside the interval) makes the empirical coverage one
    * aggregation away.
    */
  def conformalIntervals(
      calib: DataFrame, apply: DataFrame, idCol: String,
      predCol: String, actualCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"need alpha in (0,1), got $alpha")
    val res = graft.llm.CacheScope.persistTracked(calib
      .filter(col(predCol).isNotNull && col(actualCol).isNotNull)
      .select(col(idCol).as("__id"),
        abs(col(actualCol).cast("double") - col(predCol).cast("double"))
          .as("__r")))
    // exact (residual, id) rank through SNM's distributed globalRank
    // (range exchange + local row_number + broadcast offset fold) — a
    // single-partition rank window here scales with the calibration
    // set, which callers may cut as a fixed FRACTION of the corpus
    val ranked = Neighborhood.globalRank(res, "__id", col("__r"))
      .withColumnRenamed("__rank", "__rk")
      .crossJoin(broadcast(res.agg(count(lit(1L)).as("__n"))))
    // rank = ceil((n+1)(1-alpha)) decided in integer arithmetic:
    // ceil(m·(1-alpha)) = m - floor(m·alpha) only for integral alpha·m —
    // stay with the double ceil but compare as long (both engines
    // evaluate the identical IEEE product and ceil)
    val withTarget = ranked.withColumn("__target",
      ceil((col("__n") + 1L).cast("double") * lit(1.0 - alpha))
        .cast("long"))
    // the selected row is rank least(target, n) so the frame is never
    // empty — when target > n the projection RAISES instead of letting
    // an empty join silently emit zero intervals (an empty qhat would
    // also be pruned whole by AQE's empty-relation propagation, taking
    // any side-channel assertion with it)
    val qhat = withTarget
      .filter(col("__rk") === least(col("__target"), col("__n")))
      .select(
        when(col("__target") > col("__n"),
          raise_error(concat(
            lit(s"conformal: calibration too small for alpha=$alpha"),
            lit(" — need ceil((n+1)(1-alpha)) <= n, got target="),
            col("__target"), lit(" with n="), col("__n"))))
          .otherwise(col("__r")).as("__qhat"),
        col("__n").as("__ncal"))
    apply
      .filter(col(predCol).isNotNull)
      .join(broadcast(qhat))
      .select(col(idCol), col(predCol).cast("double").as("pred"),
        col(actualCol).cast("double").as("observado"),
        (col(predCol).cast("double") - col("__qhat")).as("lo"),
        (col(predCol).cast("double") + col("__qhat")).as("hi"),
        (col(actualCol).cast("double") >=
          col(predCol).cast("double") - col("__qhat") &&
          col(actualCol).cast("double") <=
            col(predCol).cast("double") + col("__qhat")).as("coberto"))
  }

  /** Off-policy evaluation by inverse-propensity scoring (Horvitz &
    * Thompson 1952; SNIPS per Swaminathan & Joachims NeurIPS 2015) —
    * "what would this other policy have earned on the traffic we
    * already logged": for a deterministic target policy π, V̂_IPS =
    * (1/n)·Σ 1{a_i = π(x_i)}·r_i / p̂(a_i|x_i) and the self-normalized
    * V̂_SNIPS divides by Σ of the same weights instead of n (trading a
    * little bias for much less variance — the estimator actually used).
    *
    * Both the behavior propensities p̂(a|x) and the greedy target
    * policy π(x) = argmax_a average-reward(x, a) are fit from the log
    * itself in the SAME plan: one (context, action) aggregation
    * (combinable counts + DECIMAL reward sums), a context-level
    * rollup, and an argmax window ordered (reward desc, action asc) so
    * ties are engine-deterministic. Estimates divide exact decimal
    * sums ONCE per output cell.
    *
    * Scale: everything after the first aggregation is bounded by
    * |contexts| × |actions|; the per-row weighting joins the propensity
    * table back BROADCAST. Output: one row per context — n, acao_alvo,
    * v_ips, v_snips.
    */
  def ipsPolicyValue(
      log: DataFrame, contextCol: String, actionCol: String,
      rewardCol: String): DataFrame = {
    val ca = log
      .filter(col(actionCol).isNotNull && col(rewardCol).isNotNull)
      .select(col(contextCol).as("__x"), col(actionCol).as("__a"),
        col(rewardCol).cast("double").as("__r"))
      .transform(graft.llm.CacheScope.persistTracked)
    val cells = ca.groupBy("__x", "__a").agg(
      count(lit(1L)).as("__nc"),
      sum(col("__r").cast("decimal(38,12)")).cast("decimal(38,12)")
        .as("__sr"))
    val wCtx = org.apache.spark.sql.expressions.Window.partitionBy("__x")
    val wArg = org.apache.spark.sql.expressions.Window.partitionBy("__x").orderBy(
      (col("__sr").cast("double") / col("__nc").cast("double")).desc,
      col("__a").asc)
    val fitted = cells
      .withColumn("__nx", sum(col("__nc")).over(wCtx))
      .withColumn("__pi", row_number().over(wArg))
      .select(col("__x"), col("__a"),
        (col("__nc").cast("double") / col("__nx").cast("double"))
          .as("__p"),
        (col("__pi") === 1).as("__alvo"))
    val weighted = ca.join(broadcast(fitted), Seq("__x", "__a"))
      .select(col("__x"), col("__a"),
        when(col("__alvo"), col("__r") / col("__p")).otherwise(lit(0.0))
          .as("__wr"),
        when(col("__alvo"), lit(1.0) / col("__p")).otherwise(lit(0.0))
          .as("__w"))
    val target = fitted.filter(col("__alvo"))
      .select(col("__x"), col("__a").as("acao_alvo"))
    weighted.groupBy("__x").agg(
        count(lit(1L)).as("n"),
        sum(col("__wr").cast("decimal(38,12)")).cast("decimal(38,12)")
          .as("__swr"),
        sum(col("__w").cast("decimal(38,12)")).cast("decimal(38,12)")
          .as("__sw"))
      .join(target, Seq("__x"))
      .select(col("__x").as("contexto"), col("acao_alvo"), col("n"),
        (col("__swr").cast("double") / col("n").cast("double"))
          .as("v_ips"),
        when(col("__sw") > lit(0).cast("decimal(38,12)"),
          col("__swr").cast("double") / col("__sw").cast("double"))
          .otherwise(lit(0.0)).as("v_snips"))
  }
}
