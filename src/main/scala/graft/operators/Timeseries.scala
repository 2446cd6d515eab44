package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped time-series normalization.
  *
  * Reference analogue: the reference's per-competencia report tables
  * (sisab_*: one row per municipality per AAAAMM) silently SKIP months
  * with no reported rows, and its trailing-13-months rollup
  * (datasus_ftp_metadados — q22 here) walks whatever months exist. A
  * time-series consumer needs the month PRESENT (absent ≠ unreported ≠
  * zero) — the calendar gap-fill below is that normalization,
  * re-expressed Spark-first.
  */
object Timeseries {

  /** Calendar gap-fill + forward-fill for grouped MONTHLY series: for
    * every group, every month between that group's first and last
    * observation exists in the output, with the actual value, a
    * presence flag and the forward-carried value (`last` observation on
    * or before the month).
    *
    * Shape: per-group (min, max) bounds from ONE combinable
    * aggregation; `sequence()` explodes each group's own calendar —
    * output rows = Σ group-spans, never groups × global calendar; the
    * actuals LEFT-join back on (group, month); the carried value is ONE
    * `last(_, ignoreNulls)` running window per group — the only
    * per-group sort, bounded by the group's calendar length, never by
    * the corpus. Input contract: one row per (group, month).
    */
  def gapFillMonthly(
      df: DataFrame, keyCols: Seq[String], monthCol: String,
      valueCol: String): DataFrame = {
    val k = keyCols.map(col)
    val bounds = df.groupBy(k: _*)
      .agg(min(col(monthCol)).as("__mn"), max(col(monthCol)).as("__mx"))
    val cal = bounds.select(k :+
      explode(sequence(col("__mn"), col("__mx"),
        expr("interval 1 month"))).as(monthCol): _*)
    val w = Window.partitionBy(k: _*).orderBy(col(monthCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(df, keyCols :+ monthCol, "left")
      .select(k ++ Seq(col(monthCol),
        col(valueCol),
        col(valueCol).isNotNull.as("presente"),
        last(col(valueCol), ignoreNulls = true).over(w)
          .as("valor_carregado")): _*)
  }

  /** Cohort retention matrix: entities grouped by their FIRST active
    * month (the cohort), activity counted per (cohort, month offset) —
    * the standard behavioral-retention table, and the longitudinal
    * question the reference's per-competencia municipality panels exist
    * to answer ("of the municipalities that first reported in month X,
    * how many still report at X+k?").
    *
    * Shape: cohorts are one combinable min-aggregation per entity; the
    * join back is entity-keyed (both sides shuffle ONCE on the entity —
    * no window, no per-entity sort); the matrix is one exact
    * count-distinct aggregation over (cohort, offset) — cells, not
    * entities, reach the driver. `months_between` on month-truncated
    * dates is exactly integral, so the offset is engine-exact.
    *
    * Input contract: (entity, month) activity rows; duplicates are fine
    * (the count is distinct). Output: (cohorte, offset_meses,
    * entidades_ativas).
    */
  def cohortRetention(
      df: DataFrame, entityCol: String, monthCol: String): DataFrame = {
    val cohorts = df.groupBy(col(entityCol))
      .agg(min(col(monthCol)).as("cohorte"))
    df.join(cohorts, Seq(entityCol))
      .select(col("cohorte"),
        months_between(col(monthCol), col("cohorte")).cast("int")
          .as("offset_meses"),
        col(entityCol))
      .groupBy("cohorte", "offset_meses")
      .agg(count_distinct(col(entityCol)).as("entidades_ativas"))
  }

  /** Recency-weighted (exponentially decayed) per-entity score — the
    * engagement/freshness feature every behavioral model consumes:
    * `score(e) = Σ value · 2^(−age_weeks)` at a reference day, halving
    * per elapsed week — shaped for cross-engine report surfaces: every
    * term is an exact 64-bit integer and the ONLY floating-point step is one final
    * correctly-rounded division — so the output is a plain DOUBLE that
    * hashes identically in every reader (float64 everywhere), with no
    * decimal column in sight.
    *
    * How: values are fixed-point with ≤ `valueScale` decimal places
    * (the caller's contract — behavioral `value` columns are
    * currency/counter-shaped), so `round(value·10^s)` is an exact
    * long; the week-w weight is carried as the integer `2^(18−w)`
    * (zero beyond 18 weeks, week clamped at 0 for future-dated rows);
    * term products and the per-entity sum stay in BIGINT (exact below
    * 2⁶³ — at 10^4-scaled values and 2¹⁸ weights that is ~3.5·10⁹
    * events per entity before overflow, far past any per-entity
    * volume); the score is `sum / (10^s·2^18)` — long→double is
    * correctly rounded in every engine, the divisor is exactly
    * representable, and one IEEE division is correctly rounded
    * everywhere. Null values contribute nothing (score 0 if all null).
    * One combinable aggregation; the corpus never shuffles twice.
    */
  def decayedScoreScaled(
      df: DataFrame, entityCol: String, dayCol: String, valueCol: String,
      refDay: String, valueScale: Int = 2): DataFrame = {
    require(valueScale >= 0 && valueScale <= 6,
      s"valueScale must be in [0,6], got $valueScale")
    val maxW = 18
    val sFac = math.pow(10.0, valueScale).toLong
    val denom = (sFac * (1L << maxW)).toDouble // exact: 10^s * 2^18 < 2^53
    val ageDays = datediff(lit(refDay).cast("date"), col(dayCol))
    val weeks = greatest(
      floor(ageDays.cast("double") / 7.0).cast("int"), lit(0))
    val vScaled = round(col(valueCol) * lit(sFac.toDouble)).cast("long")
    val term = when(col("__wk") > maxW, lit(0L))
      .otherwise(vScaled * expr(s"shiftleft(1L, $maxW - __wk)"))
    df.withColumn("__wk", weeks)
      .groupBy(col(entityCol))
      .agg(
        count(lit(1L)).as("atividade"),
        (coalesce(sum(term), lit(0L)).cast("double") / lit(denom))
          .as("score_decaido"))
  }

  /** Exact rolling active-entity counts (DAU/WAU-class): distinct
    * entities per day and per trailing `window` days — the engagement
    * panel every event pipeline reports.
    *
    * Distinct counts do NOT decompose over sliding windows (yesterday's
    * users ∪ today's ≠ sum), so the trailing count CANNOT be a windowed
    * sum of dailies. The exact decomposition used here: dedup activity
    * to (entity, day) FIRST (one combinable aggregation — volume drops
    * to entity-days), then each (entity, day) contributes to the
    * `window` trailing windows ending on day..day+window−1 — a
    * scan-level `sequence` explode (constant ×window fan-out of the
    * DEDUPED rows, not the raw events) and a second distinct count per
    * window end. Days with zero activity are absent; window ends beyond
    * the last active day are clipped by the inner join with the daily
    * side. The sketch alternative for huge windows is row 108's
    * mergeable HLL.
    *
    * Output: (dia, ativos_dia, ativos_janela).
    */
  def rollingActive(
      df: DataFrame, entityCol: String, dayCol: String,
      window: Int = 7): DataFrame = {
    require(window >= 1, s"need window >= 1, got $window")
    val ed = df.select(col(entityCol).as("__e"), col(dayCol).as("__d"))
      .distinct()
      .transform(graft.llm.CacheScope.persistTracked)
    val daily = ed.groupBy(col("__d").as("dia"))
      .agg(count_distinct(col("__e")).as("ativos_dia"))
    val windowed = ed
      .select(col("__e"),
        explode(sequence(col("__d"), date_add(col("__d"), window - 1)))
          .as("dia"))
      .groupBy("dia")
      .agg(count_distinct(col("__e")).as("ativos_janela"))
    daily.join(windowed, Seq("dia"))
  }

  /** Kaplan–Meier survival estimation (Kaplan & Meier, JASA 1958) with
    * right-censoring — time-to-conversion/churn curves, the standard
    * answer to "what fraction of a cohort converts within t days" when
    * the observation window cuts some subjects off (naively dropping
    * the unconverted biases the curve optimistic; KM keeps them at risk
    * until their censoring time).
    *
    * Input: one row per subject — `groupCols` (cohort), `durCol`
    * (integer duration), `eventCol` (true = the event happened at dur,
    * false = censored at dur). Estimator, per cohort, at each distinct
    * EVENT time t with d_t events and n_t subjects still at risk
    * (dur ≥ t — censoring at t counts as at-risk for t's deaths, the
    * standard convention): `S(t) = Π_{t' ≤ t} (1 − d_{t'}/n_{t'})`.
    *
    * Shape at 100 TB: subjects collapse to the per-(cohort, dur)
    * d/arrival counts FIRST (one map-side-combinable aggregation), so
    * every window below walks the COLLAPSED time table — rows per
    * cohort = distinct durations, bounded by the observation window,
    * never by subjects (the row-180 value-collapse discipline). At-risk
    * = one reverse running sum; the survival product is the
    * exact-rational-per-factor form: each factor (n−d)/n is ONE IEEE
    * division of exact BIGINTs, its ln one more op, the cumulative sum
    * runs in DECIMAL(38,18) ordered by duration (deterministic), and
    * `exp` at the edge — both engines agree to ln/exp's final-ulp
    * licence, absorbed by the gate's 9-digit float normalization.
    *
    * Output: (groupCols, dur, em_risco, eventos, sobrevivencia) — one
    * row per cohort × distinct event time.
    */
  def kaplanMeier(
      df: DataFrame, groupCols: Seq[String], durCol: String,
      eventCol: String): DataFrame = {
    val k = groupCols.map(col)
    val coll = df
      .groupBy(k :+ col(durCol).as("dur"): _*)
      .agg(sum(when(col(eventCol), 1L).otherwise(0L)).as("eventos"),
        count(lit(1L)).as("__a"))
    val wRisk = Window.partitionBy(k: _*).orderBy(col("dur").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.partitionBy(k: _*).orderBy(col("dur").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    coll
      .withColumn("em_risco", sum(col("__a")).over(wRisk))
      // a time where EVERY at-risk subject converts zeroes the curve —
      // ln(0) must never reach the decimal accumulator, and every later
      // time inherits the exact 0 via the cumulative flag
      .withColumn("__l", when(col("em_risco") === col("eventos"),
          lit(0L).cast("decimal(38,18)"))
        .otherwise(log((col("em_risco") - col("eventos")).cast("double") /
          col("em_risco").cast("double")).cast("decimal(38,18)")))
      .withColumn("__z", max(when(col("em_risco") === col("eventos"), 1L)
        .otherwise(0L)).over(wSurv))
      .withColumn("sobrevivencia", when(col("__z") === 1L, lit(0.0))
        .otherwise(exp(sum(col("__l")).over(wSurv).cast("double"))))
      .filter(col("eventos") > 0L)
      .select(k ++ Seq(col("dur"), col("em_risco"), col("eventos"),
        col("sobrevivencia")): _*)
  }

  /** Sample autocorrelation function (Box & Jenkins 1970, the lag-k ACF)
    * over an equally-spaced series — the seasonality/memory fingerprint
    * read before any forecasting or anomaly model is chosen (a weekly
    * cycle shows as a lag-7 spike; white noise shows nothing).
    *
    * `r_k = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) / Σ_{t≤n}(x_t−x̄)²` — but the
    * mean is a division, so the engine never subtracts x̄: both sides
    * scale by n² and expand to EXACT DECIMAL sufficient statistics
    * (`n²·num_k = n²·Σx_t·x_{t+k} − n·S·(Σ_a x + Σ_b x) + m·S²`,
    * `n²·den = n²·Σx² − n·S²`), each a sum of exact decimal products.
    * The edge arithmetic is a FIXED parenthesization of doubles cast
    * once from those exact sums (the row-202 discipline — never a float
    * aggregation), then ONE division: engine-identical under any
    * partitioning.
    *
    * Shape at 100 TB: the input contract is one row per time bucket —
    * the caller collapses the corpus with a combinable aggregation
    * FIRST, so everything here walks distinct buckets (days/hours),
    * never events: one global row_number over the bucket table (tiny by
    * contract), one bounded range self-join (t+1 … t+maxLag → pair
    * volume ≤ maxLag·buckets), one combinable per-lag aggregation.
    * CONTRACT, stated plainly: the series windows here (and in
    * [[cusumChangepoints]] / [[classicalDecomposition]], which share
    * this contract) are single-partition BY DESIGN — an ordered
    * recursion over a calendar-bounded table (a decade of days is
    * ~3.7k rows). WindowExec's single-partition warning on these paths
    * refers to the bucket table, never the corpus; feeding un-bucketed
    * event rows violates the contract and is the caller's bug.
    * Values must be exactly representable at `scale` decimal places
    * (the q164 cast trap — a 2dp money column at scale=2 is exact; a
    * raw float at any scale is not).
    *
    * Output: (defasagem, n_pares, acf) for k = 1 … maxLag.
    */
  def autocorrelation(
      series: DataFrame, timeCol: String, valueCol: String,
      maxLag: Int, scale: Int = 2): DataFrame = {
    require(maxLag >= 1, s"need maxLag >= 1, got $maxLag")
    require(scale >= 0 && scale <= 9, s"need 0 <= scale <= 9, got $scale")
    val dec = s"decimal(18,$scale)"
    val wIdx = Window.orderBy(col(timeCol))
    val idx = series.select(
      row_number().over(wIdx).as("__t"),
      col(valueCol).cast(dec).as("__x"))
    val tot = idx.agg(
      count(lit(1L)).as("__n"),
      sum(col("__x")).as("__s"),
      sum(col("__x") * col("__x")).as("__ss"))
    val a = idx.select(col("__t").as("__ta"), col("__x").as("__xa"))
    val b = idx.select(col("__t").as("__tb"), col("__x").as("__xb"))
    a.join(b, col("__tb") > col("__ta") &&
        col("__tb") <= col("__ta") + maxLag)
      .groupBy((col("__tb") - col("__ta")).cast("long").as("defasagem"))
      .agg(count(lit(1L)).as("n_pares"),
        sum(col("__xa") * col("__xb")).as("__sxy"),
        sum(col("__xa")).as("__sa"),
        sum(col("__xb")).as("__sb"))
      .crossJoin(broadcast(tot))
      // fixed parenthesization, each input one correctly-rounded cast
      // from an exact decimal — mirror the oracle token for token
      .withColumn("__nd", col("__n").cast("double"))
      .withColumn("__md", col("n_pares").cast("double"))
      .withColumn("acf",
        (col("__nd") * col("__nd") * col("__sxy").cast("double") -
          col("__nd") * col("__s").cast("double") *
            (col("__sa").cast("double") + col("__sb").cast("double")) +
          col("__md") * col("__s").cast("double") *
            col("__s").cast("double")) /
        (col("__nd") * col("__nd") * col("__ss").cast("double") -
          col("__nd") * col("__s").cast("double") *
            col("__s").cast("double")))
      .select(col("defasagem"), col("n_pares"), col("acf"))
  }

  /** CUSUM changepoint detection (Page 1954) over an equally-spaced
    * series — the sequential drift alarm: a persistent shift of the
    * mean accumulates in the one-sided statistics long before any
    * single point looks anomalous (which is exactly what the z-score /
    * MAD flags of rows 167/187 cannot see).
    *
    * Recursive form `S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − slack))` is
    * not a SQL window — but its closed form is: `S⁺_t = C_t − min_{j≤t}
    * C_j` with `C_t = Σ_{i≤t}(x_i − μ − slack)` (and the mirrored
    * running-max form for S⁻). The engine works n-SCALED so the
    * in-corpus mean needs no division: `D_t = n·x_t − S − n·slack` is
    * an exact decimal, both cumulations are exact windows, and the
    * reported statistics divide by n ONCE at the edge. The alarm
    * compares n-scaled decimals against n·h — an EXACT integer-style
    * gate, no float decides membership (the q181 discipline).
    *
    * Same input contract and scale story as [[autocorrelation]]: one
    * row per bucket, windows walk buckets, never events. Output: one
    * row per bucket — (time, valor, cusum_alta, cusum_baixa, alarme).
    */
  def cusumChangepoints(
      series: DataFrame, timeCol: String, valueCol: String,
      slack: String, threshold: String, scale: Int = 2): DataFrame = {
    val dec = s"decimal(18,$scale)"
    val wAll = Window.partitionBy(lit(1))
    val wRun = Window.partitionBy(lit(1)).orderBy(col(timeCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series
      .select(col(timeCol), col(valueCol).cast(dec).as("__x"))
      // decimal(10,0) keeps every product inside precision 38 without
      // triggering Spark's promote-then-round scale arithmetic
      .withColumn("__n", count(lit(1L)).over(wAll).cast("decimal(10,0)"))
      .withColumn("__s", sum(col("__x")).over(wAll))
      // n-scaled deviations: exact decimals, no mean division
      .withColumn("__dup", col("__n") * col("__x") - col("__s") -
        col("__n") * lit(slack).cast(dec))
      .withColumn("__ddn", col("__n") * col("__x") - col("__s") +
        col("__n") * lit(slack).cast(dec))
      .withColumn("__cup", sum(col("__dup")).over(wRun))
      .withColumn("__cdn", sum(col("__ddn")).over(wRun))
      .withColumn("__up",
        col("__cup") - least(min(col("__cup")).over(wRun), lit(0).cast(dec)))
      .withColumn("__dn",
        greatest(max(col("__cdn")).over(wRun), lit(0).cast(dec)) -
          col("__cdn"))
      .select(col(timeCol), col("__x").cast("double").as("valor"),
        (col("__up").cast("double") / col("__n").cast("double"))
          .as("cusum_alta"),
        (col("__dn").cast("double") / col("__n").cast("double"))
          .as("cusum_baixa"),
        (col("__up") > col("__n") * lit(threshold).cast(dec) ||
          col("__dn") > col("__n") * lit(threshold).cast(dec))
          .as("alarme"))
  }

  /** Classical additive seasonal decomposition (the moving-average
    * method of Macaulay 1931, the pre-STL textbook form): value =
    * trend + seasonal + residual — the first decomposition read on any
    * operational series, and the normalization behind
    * seasonally-adjusted anomaly flags.
    *
    * trend = centered `period`-point moving average (null where the
    * window is incomplete — edges are NOT fabricated); seasonal = the
    * per-position mean of the detrended series, centered so the
    * seasonal components sum to ~0 over one period; residual = what
    * remains. Determinism: the only aggregations of DOUBLES (the
    * per-position and centering means) accumulate through
    * DECIMAL(38,18) casts (order-independent, the q184 discipline);
    * every division is a single correctly-rounded IEEE op from those
    * sums, and subtraction chains are fixed parenthesizations — the
    * oracle replays token for token.
    *
    * Same contract as [[autocorrelation]]: one row per bucket, values
    * exact at `scale`; all windows walk buckets, never events.
    * `period` must be odd (a centered window of even length needs the
    * 2×period double pass — out of scope). Output: (time, valor,
    * posicao, tendencia, sazonal, residuo).
    */
  def classicalDecomposition(
      series: DataFrame, timeCol: String, valueCol: String,
      period: Int = 7, scale: Int = 2): DataFrame = {
    require(period >= 3 && period % 2 == 1,
      s"need an odd period >= 3, got $period")
    val dec = s"decimal(18,$scale)"
    val half = period / 2
    val wOrd = Window.orderBy(col(timeCol))
    val wTrend = wOrd.rowsBetween(-half, half)
    val base = series
      .select(col(timeCol), col(valueCol).cast(dec).as("__x"))
      .withColumn("posicao",
        ((row_number().over(wOrd) - 1) % period).cast("long"))
      .withColumn("tendencia",
        when(count(lit(1L)).over(wTrend) === period,
          sum(col("__x")).over(wTrend).cast("double") /
            lit(period.toDouble)))
      .withColumn("__detr",
        col("__x").cast("double") - col("tendencia"))
    val porPos = base.groupBy("posicao").agg(
      (sum(col("__detr").cast("decimal(38,18)")).cast("double") /
        count(col("__detr")).cast("double")).as("__s_bruto"))
    val centro = porPos.agg(
      (sum(col("__s_bruto").cast("decimal(38,18)")).cast("double") /
        count(col("__s_bruto")).cast("double")).as("__m"))
    base
      .join(porPos, Seq("posicao"))
      .crossJoin(broadcast(centro))
      .select(col(timeCol), col("__x").cast("double").as("valor"),
        col("posicao"), col("tendencia"),
        (col("__s_bruto") - col("__m")).as("sazonal"),
        (col("__detr") - (col("__s_bruto") - col("__m"))).as("residuo"))
  }

  /** Mann–Kendall trend test per group (Mann 1945 / Kendall 1975 — the
    * nonparametric monotone-trend staple: [[graft.operators.Stats
    * .groupLinearFit]] fits a LINE and its slope moves with outliers;
    * MK asks only "do later points tend to sit higher" and is the
    * standard first question against indicator series like the
    * reference's per-municipality monthly counts).
    *
    * `S = Σ_{i<j} sgn(v_j − v_i)` over the TIME order — pure integer:
    * one within-group pair join over the per-(group, time) COLLAPSED
    * series (duplicate timestamps fold by their exact decimal sum
    * first, so the pair space is CALENDAR²-bounded — ten years of days
    * is 3,650 rows per group no matter how many raw events fold into
    * them — never corpus²). Tie-corrected variance
    * `18·Var = n(n−1)(2n+5) − Σ_k t_k(t_k−1)(2t_k+5)` stays integer
    * (headroom n³ ≤ 9·10¹⁸ → n ≤ 2·10⁶ points per series — the
    * documented wall, far past any calendar); the normal approximation
    * `z = (S ∓ 1)/√(Var)` is one IEEE division over a √ of an exact
    * integer ratio. Output one row per group: (grupo…, n, s, var18
    * exact BIGINT, z, tendencia ∈ alta/baixa/estavel by z vs ±1.96).
    */
  /** Theil–Sen robust slope per group (Theil 1950 / Sen 1968 — the
    * QUANTIFIER next to [[mannKendall]]'s detector: MK says "trending",
    * Theil–Sen says "by how much per unit time", with a 29% breakdown
    * point where row 154's OLS slope follows a single outlier).
    * Slope = MEDIAN of all pairwise slopes (v_j−v_i)/(x_j−x_i);
    * intercept = median over points of (v − slope·x).
    *
    * Shape: the pair space is the [[mannKendall]] one — raw rows
    * collapse to one row per (group, x) by exact decimal sum FIRST, so
    * pairs are CALENDAR²-bounded, never corpus². Both medians are EXACT
    * over value-collapsed tables: distinct values + counts, one
    * cumulative window, and the two middle ranks read back as
    * conditional `min(when(cum ≥ r))` aggregates (combinable — no
    * row_number over the pair set); even counts average the two middle
    * values, one IEEE op. Slopes are doubles computed identically in
    * any engine from identical inputs (one subtraction pair + one
    * division), so the value-collapse groups consistently. `xCol` is
    * NUMERIC by contract (callers convert dates — e.g. datediff from an
    * epoch); groups with a single collapsed point emit null slope.
    */
  def theilSen(
      df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val series = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(g :+ col(xCol).cast("double").as("__x"): _*)
      .agg(sum(col(yCol).cast("decimal(38,12)")).cast("double").as("__v"))
      .transform(graft.llm.CacheScope.persistTracked)
    val a = series.select(
      groupCols.map(cn => col(cn).as(s"__ga_$cn")) ++
        Seq(col("__x").as("__xa"), col("__v").as("__va")): _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__ga_$c"))
      .reduce(_ && _) && col("__x") > col("__xa")
    def medianOf(values: DataFrame, valCol: String, out: String) = {
      val byV = values.groupBy(g :+ col(valCol).as("__mv"): _*)
        .agg(count(lit(1L)).as("__mc"))
      val wCum = Window.partitionBy(g: _*).orderBy(col("__mv"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy(g: _*)
      val cum = byV
        .withColumn("__cum", sum(col("__mc")).over(wCum))
        .withColumn("__tot", sum(col("__mc")).over(wAll))
      // integer middle ranks: Column./ on longs is IEEE division, so
      // floor explicitly (totals are calendar²-bounded, far under 2^53)
      val r1 = floor((col("__tot") + 1L) / 2.0).cast("long")
      val r2 = floor(col("__tot") / 2.0).cast("long") + 1L
      cum.groupBy(g: _*).agg(
        max(col("__tot")).as(s"__n_$out"),
        ((min(when(col("__cum") >= r1, col("__mv"))) +
          min(when(col("__cum") >= r2, col("__mv")))) / 2.0).as(out))
    }
    val slopes = series.join(a, cond)
      .select(g :+ ((col("__v") - col("__va")) / (col("__x") - col("__xa")))
        .as("__s"): _*)
    val slope = medianOf(slopes, "__s", "inclinacao")
    val resid = series
      .join(broadcast(slope), groupCols)
      .select(g :+ (col("__v") - col("inclinacao") * col("__x"))
        .as("__r"): _*)
    val inter = medianOf(resid, "__r", "intercepto")
    series.groupBy(g: _*).agg(count(lit(1L)).as("n"))
      .join(slope, groupCols, "left")
      .join(inter, groupCols, "left")
      .select(g ++ Seq(col("n"),
        col("__n_inclinacao").as("n_pares"),
        col("inclinacao"), col("intercepto")): _*)
  }

  def mannKendall(
      df: DataFrame, groupCols: Seq[String], timeCol: String,
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val g = groupCols.map(col)
    val series = df
      .filter(col(timeCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(g :+ col(timeCol).as("__t"): _*)
      .agg(sum(col(valueCol).cast("decimal(38,12)")).cast("double")
        .as("__v"))
    val a = series.select(
      groupCols.map(cn => col(cn).as(s"__ga_$cn")) ++
        Seq(col("__t").as("__ta"), col("__v").as("__va")): _*)
    val cond = groupCols.map(c => col(c) <=> col(s"__ga_$c"))
      .reduce(_ && _) && col("__t") > col("__ta")
    val s = series.join(a, cond)
      .groupBy(g: _*)
      .agg(sum(signum(col("__v") - col("__va")).cast("long")).as("s"))
    val ties = series.groupBy(g :+ col("__v"): _*)
      .agg(count(lit(1L)).as("__tk"))
      .groupBy(g: _*).agg(
        sum(col("__tk")).as("n"),
        sum(col("__tk") * (col("__tk") - 1L) *
          (lit(2L) * col("__tk") + 5L)).as("__tcorr"))
    val n = col("n")
    val var18 = n * (n - 1L) * (lit(2L) * n + 5L) - col("__tcorr")
    val z = when(col("s") > 0L,
        (col("s") - 1L).cast("double") /
          sqrt(var18.cast("double") / lit(18.0)))
      .when(col("s") < 0L,
        (col("s") + 1L).cast("double") /
          sqrt(var18.cast("double") / lit(18.0)))
      .otherwise(lit(0.0))
    ties.join(s, groupCols, "left")
      .select(g ++ Seq(
        n, coalesce(col("s"), lit(0L)).as("s"),
        var18.as("var18"),
        when(var18 > 0L, z).as("z"),
        when(var18 > 0L,
          when(z > 1.96, "alta").when(z < -1.96, "baixa")
            .otherwise("estavel")).as("tendencia")): _*)
  }
}
