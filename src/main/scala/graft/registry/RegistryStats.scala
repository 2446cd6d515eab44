package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Dbf, HtmlForm, Listing, ParquetSink, ReportCsv, Staging, Tables}
import graft.operators._

/** Statistics: tests (KS/Welch/chi-squared/Kruskal/z), effect and experiment
  * readouts (CUPED, lift, MI, Gini), encodings, outliers, curves.
  *
  * Registry shard of [[SparkEntry]] — entries moved verbatim; see SURVEY.md §2
  * for the operator-row mapping.
  */
private[graft] trait RegistryStats extends RegistryBase {

  protected def queriesStats: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2 row 252 — Mann–Whitney U on open-vs-closed order values (the
    // q201/q203 comparison, now on ranks): doubled tie-averaged ranks
    // from the bucket-decomposed distinct-value collapse, exact
    // DECIMAL U statistics, tie term fused into the same aggregation,
    // one fixed IEEE z edge.
    "q238_mann_whitney" -> { (s, dir) =>
      ordered(operators.Inference.mannWhitneyU(
        Tables.orders(s, dir), "o_orderstatus", "o_totalprice",
        "O", "F"))
    },

    // §2 row 253 — one-way ANOVA F across return-flag groups on
    // extended price (the parametric twin of q195): exact DECIMAL
    // sufficient statistics per group, deterministic sorted fold of
    // the k per-group divisions, fixed F edge.
    "q239_anova_f" -> { (s, dir) =>
      ordered(operators.Inference.anovaF(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice"))
    },

    // §2 row 254 — Jensen–Shannon + Hellinger drift between the same
    // pre/post-1995-06-17 priority distributions as q167's PSI/χ²
    // gate: bounded symmetric distances, per-bucket IEEE contributions
    // decimal-accumulated.
    "q240_js_hellinger" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cut = lit("1995-06-17 00:00:00").cast("timestamp_ntz")
      ordered(operators.Inference.jsHellingerDrift(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        "o_orderpriority"))
    },

    // §2 row 255 — Bradley–Terry strengths over part-brand "duels":
    // within an order, a strictly-earlier ship date beats a different
    // brand; the corpus collapses to the (i,j) match matrix once, 5
    // fixed MM steps run on the broadcast-sized matrix with
    // decimal-accumulated denominators.
    "q241_bradley_terry" -> { (s, dir) =>
      val l = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("m"),
          col("l_shipdate").as("d"))
      val duels = l.as("a").join(l.as("b"),
        col("a.ok") === col("b.ok") && col("a.m") =!= col("b.m") &&
          col("a.d") < col("b.d"))
        .select(col("a.m").as("vencedor"), col("b.m").as("perdedor"))
      ordered(operators.Inference.bradleyTerry(
        duels, "vencedor", "perdedor", iters = 5))
    },

    // §2 row 256 — Cohen's kappa between two deterministic document
    // "raters" (length tercile vs whitespace-token tercile): exact
    // integer marginal-product agreement, one fixed κ edge.
    "q242_cohen_kappa" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        when(length(col("text")) < 400, "curto")
          .when(length(col("text")) < 800, "medio")
          .otherwise("longo").as("rotulo_a"),
        when(llm.TextAnalysis.wsTokenCount(col("text")) < 70L, "curto")
          .when(llm.TextAnalysis.wsTokenCount(col("text")) < 140L, "medio")
          .otherwise("longo").as("rotulo_b"))
      ordered(operators.Inference.cohenKappa(d, "rotulo_a", "rotulo_b"))
    },

    // §2 row 249 — Poisson bootstrap CI (Chamandy et al. 2012): one
    // scan computes all B replicates (per-(row,b) Poisson(1) weights
    // from the md5 dyadic uniform against driver-computed CDF literals
    // — libm never runs in either engine), CI = exact order statistics
    // of the replicate means.
    "q235_bootstrap_ci" -> { (s, dir) =>
      ordered(operators.Bootstrap.bootstrapMeanCi(
        Tables.orders(s, dir), Seq("o_orderpriority"), "o_orderkey",
        "o_totalprice", b = 100, alpha = 0.05))
    },

    // §2 row 250 — exact 1-D Wasserstein-1 drift distance between the
    // pre/post-1995 order-value distributions per priority: integer
    // CDF cross-products × integer value gaps, decimal-summed, two
    // edge divisions.
    "q236_wasserstein" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grupo"),
        (col("o_orderdate") < to_date(lit("1995-01-01"))).as("lado"),
        col("o_totalprice").as("valor"))
      ordered(operators.Wasserstein.wasserstein1d(
        o, Seq("grupo"), "lado", "valor", scale = 2))
    },

    // §2 row 245 — split-conformal prediction intervals (Lei 2018):
    // segment-mean predictor fit on the even-key calibration half, q̂ =
    // the exact ceil((n+1)(1-α)) order statistic of calibration
    // |residuals|, intervals applied to the odd-key half.
    "q231_conformal_interval" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
          col("o_totalprice"))
      val cal = joined.filter(col("o_orderkey") % 2 === 0)
      val fit = cal.groupBy("seg").agg(
        (sum(col("o_totalprice").cast("decimal(38,12)")).cast("double") /
          count(lit(1L)).cast("double")).as("pred"))
      ordered(operators.Stats.conformalIntervals(
        cal.join(fit, Seq("seg")),
        joined.filter(col("o_orderkey") % 2 === 1).join(fit, Seq("seg")),
        "o_orderkey", "pred", "o_totalprice", alpha = 0.1))
    },

    // §2 row 248 — off-policy evaluation (IPS + SNIPS, Horvitz-Thompson
    // / Swaminathan-Joachims): behavior propensities and the greedy
    // target policy fit from the log in the same plan, estimates from
    // exact decimal sums.
    "q234_ips_policy_eval" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .filter(col("event_type") =!= "purchase")
        .select((col("user_id") % 4).as("contexto"),
          col("event_type").as("acao"), col("value").as("recompensa"))
      ordered(operators.Stats.ipsPolicyValue(
        ev, "contexto", "acao", "recompensa"))
    },

    // Per-group trend fitting: OLS slope/intercept of order value over
    // time per market segment — grouped regression as ONE combinable
    // aggregation of exact-DECIMAL sufficient statistics (the only
    // shape grouped model fitting can take at 100 TB; collect-and-solve
    // caps at executor memory). The closed form runs per group ROW in
    // IEEE doubles over the exact sums — DuckDB replays it bit-for-bit.
    "q137_group_linear_fit" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")),
            to_date(lit("1992-01-01"))).as("x"),
          col("o_totalprice").as("y"))
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      ordered(operators.Stats.groupLinearFit(
        o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
        Seq("c_mktsegment"), "x", "y"))
    },

    // ABC/Pareto classification: customers ranked by total spend within
    // their market segment, cumulative DECIMAL share of the segment
    // total, classic A/B/C bands — the prioritization table operational
    // reports end in. Runs over grouped aggregates (entities, not
    // facts), so the per-group sort is entity-bounded. Oracle replays
    // the running share and band cuts bit-for-bit.
    "q147_pareto_abc" -> { (s, dir) =>
      val spend = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
          .as("gasto"))
      ordered(operators.Stats.paretoClass(
        spend, Seq("c_mktsegment"), "o_custkey", "gasto"))
    },

    // Per-group z-score anomaly detection: μ/σ from exact DECIMAL
    // sufficient statistics broadcast back onto the scan (the fact
    // table never shuffles), rows flagged at |x−μ| > 3σ. Flags are
    // partition-independent by construction; the oracle replays the
    // statistics and every flag bit-for-bit.
    "q150_zscore_anomalies" -> { (s, dir) =>
      val e = Tables.events(s, dir).select("event_id", "event_type", "value")
      ordered(operators.Stats.zScoreFlags(e, Seq("event_type"), "value")
        .filter(col("atipico"))
        .select("event_id", "event_type", "value", "media", "desvio",
          "z_score"))
    },

    // Market-basket association rules over order line items (parts
    // bucketed into 100 pseudo-categories so co-occurrence is dense
    // enough to rank): support/confidence/lift per ordered category
    // pair, candidates only WITHIN a basket (never catalog²), rare
    // pairs cut before the metric math. All three metrics are exact
    // integer ratios — the oracle replays every one.
    "q152_basket_rules" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("pedido"),
          pmod(col("l_partkey"), lit(100)).as("categoria"))
      ordered(operators.Basket.pairRules(li, "pedido", "categoria",
        minPairs = 5L))
    },

    // CART decision stump: best Gini split per feature, the argmax
    // decided by one IEEE division of exact DECIMAL(38,0) integer
    // products (ties on the smaller threshold) — the corpus collapses
    // to (value, class) counts first, every window walks distinct
    // values only.
    "q192_gini_stump" -> { (s, dir) =>
      ordered(operators.Stats.giniStump(
        Tables.lineitem(s, dir), Seq("l_quantity", "l_discount"),
        "l_returnflag"))
    },

    // Spearman rank correlation, engine-exact: tie-averaged ranks as
    // doubled integers from distinct-value collapses, DECIMAL(38,0)
    // sufficient statistics, a fixed sqrt/division IEEE edge per pair.
    "q193_spearman" -> { (s, dir) =>
      ordered(operators.Stats.spearmanCorr(
        Tables.lineitem(s, dir), Seq(
          ("l_quantity", "l_extendedprice"),
          ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_discount"))))
    },

    // Two-proportion z-test on per-user conversion (arms by user-id
    // parity): the corpus collapses to one row per user, counts come
    // from ONE conditional aggregation, z is a fixed IEEE chain from
    // exact BIGINTs.
    "q194_ab_test" -> { (s, dir) =>
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(col("event_type") === "purchase" && col("value") > 90.0)
          .as("converteu"))
        .withColumn("braco",
          when(col("user_id") % 2 === 0, "par").otherwise("impar"))
      ordered(operators.Stats.proportionZTest(
        users, "braco", "converteu", "par", "impar"))
    },

    // Kruskal-Wallis H across return-flag groups on extended price:
    // doubled tie-averaged ranks from the distinct-value collapse,
    // exact tie term, per-group divisions folded through
    // DECIMAL(38,18).
    "q195_kruskal_wallis" -> { (s, dir) =>
      ordered(operators.Stats.kruskalWallis(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice"))
    },

    // Item-item cosine recommendations from order co-purchases:
    // within-basket pair counts (never catalog^2), minPairs=2 noise
    // cut, fixed sqrt/division cosine, bounded-heap top-5 per item.
    "q198_item_cosine" -> { (s, dir) =>
      ordered(operators.Basket.itemCosineTopK(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
        k = 5, minPairs = 2L))
    },

    // Two-sample Kolmogorov-Smirnov per order priority: open ('O') vs
    // closed totalprice distributions. D's numerator is a pure-BIGINT
    // max of ECDF gaps scaled by n_a*n_b (the value-collapse
    // discipline), d one IEEE division, the Numerical-Recipes lambda a
    // fixed parenthesization on top.
    "q201_ks_test" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grupo"),
        col("o_totalprice").cast("double").as("valor"),
        (col("o_orderstatus") === "O").as("aberto"))
      ordered(operators.Stats.ksTest(o, Seq("grupo"), "valor", "aberto"))
    },

    // Welch's unequal-variance t-test on the same open-vs-closed
    // totalprice comparison as q201 (KS asks "did the SHAPE move",
    // Welch asks "did the MEAN move") — exact decimal sufficient
    // statistics, fixed-parenthesization double edge.
    "q203_welch_ttest" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grupo"),
        col("o_totalprice").cast("double").as("valor"),
        (col("o_orderstatus") === "O").as("aberto"))
      ordered(operators.Stats.welchTTest(o, Seq("grupo"), "valor", "aberto"))
    },

    // Chi-squared independence + Cramer's V between order priority and
    // status per order-year: integer cell algebra (n*nab - na*nb
    // squared in DECIMAL(38,0)), one IEEE division per cell, the
    // deterministic (a,b)-sorted fold, dof-gated outputs.
    "q207_cramers_v" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        year(col("o_orderdate")).cast("long").as("ano"),
        col("o_orderpriority").as("prioridade"),
        col("o_orderstatus").as("situacao"))
      ordered(operators.Stats.cramersV(
        o, Seq("ano"), "prioridade", "situacao"))
    },

    // Exact decile lift / cumulative gains of the purchase-vs-rest
    // ranking per day (q182 ranks the model, q187 picks the threshold,
    // this answers "contact the top k decils, capture what fraction"):
    // deterministic (score DESC, id ASC) ranking, integer buckets,
    // single-division capture/rate/lift.
    "q215_lift_table" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        to_date(col("ts")).as("dia"), col("event_id"), col("value"),
        (col("event_type") === "purchase").as("compra"))
      ordered(operators.Stats.liftTable(
        ev, Seq("dia"), "event_id", "value", "compra", buckets = 10))
    },

    // Mutual information + NMI on the same priority-x-status pair as
    // q207 (chi2 asks "statistically surprising?", MI asks "how many
    // nats does A tell you about B"): observed-cell terms with exact
    // integer ln arguments, deterministic sorted folds for MI and both
    // marginal entropies.
    "q210_mutual_info" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        year(col("o_orderdate")).cast("long").as("ano"),
        col("o_orderpriority").as("prioridade"),
        col("o_orderstatus").as("situacao"))
      ordered(operators.Stats.mutualInfo(
        o, Seq("ano"), "prioridade", "situacao"))
    },

    // Gini concentration of order totalprice per priority: exact
    // sorted-rank algebra over the value-collapsed cent-scaled table,
    // two integer divisions at the edge.
    "q208_gini" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select(
        col("o_orderpriority").as("grupo"),
        col("o_totalprice").as("valor"))
      ordered(operators.Stats.giniIndex(o, Seq("grupo"), "valor",
        scale = 2))
    },

    // CUPED variance-reduced readout of a deterministic pseudo-
    // experiment: units = customers, y = 1996+ spend, x = pre-1996
    // spend (both exact decimal folds per unit), arms = custkey parity,
    // grouped per market segment; theta/x-bar fit arm-blind.
    "q209_cuped" -> { (s, dir) =>
      val post = sum(when(col("o_orderdate") >= "1996-01-01",
          col("o_totalprice").cast("decimal(38,6)"))
        .otherwise(lit(0).cast("decimal(38,6)")))
      val pre = sum(when(col("o_orderdate") < "1996-01-01",
          col("o_totalprice").cast("decimal(38,6)"))
        .otherwise(lit(0).cast("decimal(38,6)")))
      val perCust = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("id"))
        .agg(post.cast("double").as("y"), pre.cast("double").as("x"))
      val units = perCust.join(
        Tables.customer(s, dir).select(col("c_custkey").as("id"),
          col("c_mktsegment").as("segmento")), Seq("id"))
        .withColumn("braco", col("id") % 2)
      ordered(operators.Stats.cupedAdjust(
        units, Seq("segmento"), "braco", "y", "x"))
    },

    // Exact per-day precision-recall curve of the same purchase-vs-rest
    // ranking as q182: one row per distinct value threshold, integer
    // tp/fp/fn cumulatives over the value-collapsed table, each ratio a
    // single IEEE division (f1 via 2tp/(2tp+fp+fn)).
    "q187_pr_curve" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        to_date(col("ts")).as("dia"), col("value"),
        (col("event_type") === "purchase").as("compra"))
      ordered(operators.Stats.prCurve(ev, Seq("dia"), "value", "compra"))
    },

    // Exact per-day ROC-AUC of "does event value rank purchases above
    // other events": the Mann–Whitney form over value-collapsed score
    // counts — U₂ accumulates in exact longs (ties at half credit stay
    // integral), ONE IEEE division per group. Closes the classifier
    // loop (train q123, apply q109, calibrate q134, EVALUATE here).
    "q182_roc_auc" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(
        to_date(col("ts")).as("dia"), col("value"),
        (col("event_type") === "purchase").as("compra"))
      ordered(operators.Stats.rocAuc(ev, Seq("dia"), "value", "compra"))
    },

    // The decimal canary (ex-q180) RAN its experiment in round 10 and is
    // retired: the driver's gate marked it hash_match:false with
    // rows+schema green, CONFIRMING that DECIMAL output columns are
    // unhashable in the gate (pyarrow Decimal objects vs DuckDB float64).
    // The literal matrix now lives in OperatorSpec ("decimal canary"),
    // and the engine-wide rule — report queries emit only BIGINT/DOUBLE/
    // VARCHAR/DATE/TIMESTAMP/BOOLEAN — is recorded in SURVEY §3.
    // q179 stays as the standing green sentinel for the safe type set.

    // Trend-adjusted robust anomalies: q137's OLS fit + q168's
    // median/MAD outliers composed — residuals from each priority
    // class's price trend, robustly flagged. Drift cannot fool it; a
    // wild value cannot drag it.
    "q175_trend_anomalies" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
        .filter(pmod(col("o_orderkey"), lit(50)) === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1992-01-01").cast("date")).cast("double").as("x"),
          col("o_totalprice").as("y"))
      ordered(operators.Stats.trendAnomalies(
        o, Seq("o_orderpriority"), "x", "y", c = 2.5))
    },

    // Benford first-digit audit over order totals: first significant
    // digit from the value's string image (never a libm log), expected
    // shares as literal constants, one combinable count — the
    // fabricated-figures screen auditors run on financial columns.
    "q174_benford" -> { (s, dir) =>
      ordered(operators.Stats.benfordAudit(
        Tables.orders(s, dir), "o_totalprice"))
    },

    // Quantile binning fit/apply: exact equal-population bucket edges at
    // integer ranks (no interpolated floats), edges broadcast back,
    // edge-valued rows fall in the LOWER bin by the strict-below count.
    "q170_quantile_binning" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val edges = operators.Stats.quantileBinFit(o, "o_totalprice", k = 4)
      ordered(operators.Stats.quantileBinApply(o, edges, "o_totalprice"))
    },

    // Frequency encoding with rare-category collapse: brands under the
    // support floor fold into __outros__ at FIT time (unseen categories
    // land there at apply time too — the leakage-safe default); apply is
    // one broadcast left join.
    "q171_freq_encoding" -> { (s, dir) =>
      val p = Tables.part(s, dir).select("p_partkey", "p_brand")
      val model = operators.Stats.freqEncodeFit(p, "p_brand", minCount = 70L)
      ordered(operators.Stats.freqEncodeApply(p, model, "p_brand"))
    },

    // Leave-one-out target encoding: per-category DECIMAL label sums,
    // each row's own label subtracted before the single IEEE division —
    // the leakage term removed exactly, singletons null.
    "q172_loo_target" -> { (s, dir) =>
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      ordered(operators.Stats.looTargetEncode(c, "c_mktsegment", "c_acctbal"))
    },

    // Distribution-drift report: orders before/after mid-1995 as the
    // base/current snapshots, bucketed by priority — exact counts,
    // exact-product drift ratios, per-bucket chi-square contributions
    // (no cross-bucket double sum: per-bucket IS the alarm).
    "q167_drift_report" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      val cut = lit("1995-06-17 00:00:00").cast("timestamp_ntz")
      ordered(operators.Stats.driftReport(
        o.filter(col("o_orderdate") < cut),
        o.filter(col("o_orderdate") >= cut),
        "o_orderpriority"))
    },

    // Robust per-group outliers via median/MAD (the heavy-tail-safe
    // twin of q150): two exact lower-median passes, medians broadcast
    // back, flags a fixed IEEE chain. Restricted to one order's-worth
    // of groups via pmod to keep output bounded.
    "q168_mad_outliers" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .filter(pmod(col("l_orderkey"), lit(100)) === 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag",
          "l_extendedprice")
      ordered(operators.Stats.madOutliers(
        li, Seq("l_returnflag"), "l_extendedprice", c = 2.0))
    },

    // Feature scaling as offline-fit/online-apply (the train/serve-skew
    // guard): per-column sufficient statistics in ONE pass, model
    // broadcast back, z-score and min-max features each two
    // correctly-rounded IEEE ops. Degenerate columns scale to null.
    "q166_feature_scaling" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      val model = operators.Stats.scalerFit(
        li, Seq("l_quantity", "l_extendedprice"))
      ordered(operators.Stats.scalerApply(
        li, model, Seq("l_quantity", "l_extendedprice")))
    },

    // Exact per-group weighted median: smallest value whose DECIMAL
    // cumulative weight reaches half the group total — equal values
    // collapse before the window so the per-group sort runs on the
    // reduced table, and the halfway test is pure DECIMAL (no division,
    // no doubles).
    "q162_weighted_median" -> { (s, dir) =>
      ordered(operators.Stats.weightedMedian(
        Tables.lineitem(s, dir), Seq("l_returnflag"), "l_extendedprice",
        "l_quantity"))
    },

    // §2 row 236 — one-pass per-group Pearson correlation matrix: all
    // six pairs of the four lineitem measures from ONE combinable
    // DECIMAL(38,12)-sufficient-statistics aggregation, assembled at
    // the edge in IEEE over exact sums (the q137 discipline, squared).
    "q222_corr_matrix" -> { (s, dir) =>
      ordered(operators.CorrMatrix.corrMatrix(
        Tables.lineitem(s, dir), Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))
    },
  )

  private def corrPairSql(a: String, b: String): String =
    s"""SELECT l_returnflag, col_a, col_b, n,
       |  CASE WHEN n >= 2 AND vx > 0.0 AND vy > 0.0
       |    THEN (nd * sxy - sx * sy) / sqrt(vx * vy) END AS corr
       |FROM (
       |  SELECT l_returnflag, '$a' AS col_a, '$b' AS col_b,
       |    COUNT(*) FILTER (WHERE $a IS NOT NULL AND $b IS NOT NULL)
       |      AS n,
       |    CAST(COUNT(*) FILTER (WHERE $a IS NOT NULL
       |      AND $b IS NOT NULL) AS DOUBLE) AS nd,
       |    CAST(SUM(CAST(CASE WHEN $b IS NOT NULL THEN $a END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(CASE WHEN $a IS NOT NULL THEN $b END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL
       |      THEN CAST($a AS DOUBLE) * CAST($b AS DOUBLE) END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(CASE WHEN $b IS NOT NULL
       |      THEN CAST($a AS DOUBLE) * CAST($a AS DOUBLE) END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(CASE WHEN $a IS NOT NULL
       |      THEN CAST($b AS DOUBLE) * CAST($b AS DOUBLE) END
       |      AS DECIMAL(38,12))) AS DOUBLE) AS syy
       |  FROM lineitem GROUP BY 1),
       |LATERAL (SELECT nd * sxx - sx * sx AS vx,
       |  nd * syy - sy * sy AS vy)""".stripMargin

  /** q235's oracle: the Poisson(1) CDF thresholds are the OPERATOR's
    * own driver-computed literals (Bootstrap.PoissonCdf), interpolated
    * with Scala's shortest-roundtrip Double.toString so both engines
    * parse back the identical doubles — the transcendental exp(-1) is
    * evaluated exactly once, on the driver.
    */
  private lazy val bootstrapCiSql: String = {
    val caseW = operators.Bootstrap.PoissonCdf.zipWithIndex
      .map { case (c, m) => s"WHEN u <= $c THEN $m" }
      .mkString(" ")
    val lo = 0.05 / 2.0
    val hi = 1.0 - 0.05 / 2.0
    s"""WITH base AS (
       |  SELECT o_orderpriority AS g, o_orderkey AS id,
       |    CAST(o_totalprice AS DOUBLE) AS x
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |pt AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE) AS media
       |  FROM base GROUP BY g),
       |draws AS (SELECT g, id, x, j,
       |    (CAST(CAST(('0x' || substring(md5(id || ':' || j), 1, 12))
       |      AS BIGINT) AS DOUBLE) + 0.5) / 281474976710656.0 AS u
       |  FROM base CROSS JOIN (SELECT unnest(range(1, 101)) AS j)),
       |wtd AS (SELECT g, j, CASE $caseW ELSE 9 END AS w, x FROM draws),
       |rep AS (SELECT g, j, sum(w) AS sw,
       |    CAST(sum(CAST(CAST(w AS DOUBLE) * x AS DECIMAL(38,12)))
       |      AS DECIMAL(38,12)) AS swx
       |  FROM wtd GROUP BY g, j HAVING sum(w) > 0),
       |mm AS (SELECT g, j,
       |    CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) AS mb FROM rep),
       |rk AS (SELECT g, j, mb,
       |    row_number() OVER (PARTITION BY g ORDER BY mb, j) AS rk,
       |    count(*) OVER (PARTITION BY g) AS bv
       |  FROM mm),
       |ci AS (SELECT g, CAST(max(bv) AS BIGINT) AS b_validos,
       |    min(CASE WHEN rk =
       |      CAST(ceil(CAST(bv AS DOUBLE) * $lo) AS BIGINT)
       |      THEN mb END) AS ic_inferior,
       |    max(CASE WHEN rk =
       |      CAST(ceil(CAST(bv AS DOUBLE) * $hi) AS BIGINT)
       |      THEN mb END) AS ic_superior
       |  FROM rk GROUP BY g)
       |SELECT pt.g AS o_orderpriority, n, media, b_validos,
       |  ic_inferior, ic_superior
       |FROM pt JOIN ci ON pt.g = ci.g
       |ORDER BY ALL NULLS FIRST""".stripMargin
  }

  /** q241's oracle: the fixed MM iteration unrolled — each step is one
    * decimal-accumulated denominator aggregation + one division, so
    * the replay is mechanical (`iters` chained CTE pairs). Every CTE that
    * is read more than once is `MATERIALIZED`: step k reads `p<k-1>`
    * twice, and an inlined chain would repeat the `cmp` self-join about
    * 2^k times.
    */
  private def btOracle(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT g.i AS i,
         |    CAST(sum(CASE WHEN pa.p + pb.p > 0 THEN
         |      CAST(CAST(g.nij AS DOUBLE) / (pa.p + pb.p)
         |        AS DECIMAL(38,12)) END) AS DECIMAL(38,12)) AS den
         |  FROM games g JOIN p${k - 1} pa ON g.i = pa.i
         |    JOIN p${k - 1} pb ON g.j = pb.i GROUP BY 1),
         |p$k AS MATERIALIZED (SELECT fi.i AS i,
         |    CASE WHEN fi.vit2 = 0 THEN 0.0 ELSE
         |      CAST(fi.vit2 AS DOUBLE) / CAST(d$k.den AS DOUBLE) END AS p
         |  FROM fi LEFT JOIN d$k ON fi.i = d$k.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH l AS (SELECT l_orderkey AS ok, p_brand AS m,
       |    l_shipdate AS d FROM lineitem
       |  JOIN part ON l_partkey = p_partkey),
       |cmp AS (SELECT a.m AS w, b.m AS lo FROM l a JOIN l b
       |  ON a.ok = b.ok AND a.m <> b.m AND a.d < b.d),
       |wins AS MATERIALIZED (SELECT w, lo, CAST(count(*) AS BIGINT) AS n FROM cmp
       |  GROUP BY 1, 2),
       |wt AS (SELECT w AS i, CAST(sum(n) AS BIGINT) AS vit
       |  FROM wins GROUP BY 1),
       |lt AS (SELECT lo AS i, CAST(sum(n) AS BIGINT) AS der
       |  FROM wins GROUP BY 1),
       |items AS MATERIALIZED (SELECT coalesce(wt.i, lt.i) AS i,
       |    coalesce(vit, 0) AS vit, coalesce(der, 0) AS der,
       |    coalesce(vit, 0) > 0 AND coalesce(der, 0) > 0 AS fit
       |  FROM wt FULL OUTER JOIN lt ON wt.i = lt.i),
       |f0 AS (SELECT i FROM items WHERE fit),
       |wins2 AS MATERIALIZED (SELECT w, lo, n FROM wins
       |  WHERE w IN (SELECT i FROM f0) AND lo IN (SELECT i FROM f0)),
       |wt2 AS (SELECT w AS i, CAST(sum(n) AS BIGINT) AS vit2
       |  FROM wins2 GROUP BY 1),
       |fi AS MATERIALIZED (SELECT f0.i, coalesce(wt2.vit2, 0) AS vit2
       |  FROM f0 LEFT JOIN wt2 ON f0.i = wt2.i),
       |g0 AS (SELECT w AS i, lo AS j, n FROM wins2
       |  UNION ALL SELECT lo, w, n FROM wins2),
       |games AS MATERIALIZED (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij FROM g0
       |  GROUP BY 1, 2),
       |p0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM fi),
       |$steps,
       |z AS (SELECT CAST(sum(CAST(p AS DECIMAL(38,12)))
       |    AS DECIMAL(38,12)) AS z FROM p$iters)
       |SELECT it.i AS item, it.vit AS vitorias, it.der AS derrotas,
       |  CASE WHEN it.fit AND CAST(z.z AS DOUBLE) > 0 THEN
       |    pf.p / CAST(z.z AS DOUBLE) END AS forca
       |FROM items it LEFT JOIN p$iters pf ON it.i = pf.i, z
       |ORDER BY ALL NULLS FIRST""".stripMargin
  }

  protected def oraclesStats: Map[String, String] = Map(

    // Replays the doubled ranks, the fused tie term and the fixed
    // U / z IEEE chain.
    "q238_mann_whitney" ->
      """WITH b AS (SELECT o_orderstatus = 'O' AS a,
        |    CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderstatus IN ('O', 'F') AND o_totalprice IS NOT NULL),
        |cv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM b
        |  GROUP BY 1),
        |rk AS (SELECT v, cnt, 2 * COALESCE(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r2 FROM cv),
        |ag AS (SELECT
        |    CAST(count(*) FILTER (a) AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (NOT a) AS BIGINT) AS n_b,
        |    sum(CASE WHEN a THEN CAST(r2 AS HUGEINT) ELSE 0 END) AS ra2,
        |    sum(CAST(cnt AS HUGEINT) * cnt - 1) AS st
        |  FROM b JOIN rk USING (v)),
        |u AS (SELECT n_a, n_b,
        |    ra2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS u2a, st
        |  FROM ag)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(u2a AS DOUBLE) / 2.0 END AS u_a,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(2 * CAST(n_a AS HUGEINT) * n_b - u2a AS DOUBLE) / 2.0
        |  END AS u_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(st AS DOUBLE) /
        |        (CAST(n_a + n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) - 1.0))) > 0.0 THEN
        |    (CAST(u2a AS DOUBLE) -
        |      CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
        |    (2.0 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
        |      ((CAST(n_a + n_b AS DOUBLE) + 1.0) - CAST(st AS DOUBLE) /
        |        (CAST(n_a + n_b AS DOUBLE) *
        |          (CAST(n_a + n_b AS DOUBLE) - 1.0)))))
        |  END AS z
        |FROM u ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the exact decimal sufficient statistics, the sorted
    // deterministic fold of per-group divisions and the fixed F edge.
    "q239_anova_f" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(v AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s,
        |    CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DECIMAL(38,12))
        |      AS q
        |  FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(s) AS DECIMAL(38,12)) AS ss,
        |    CAST(sum(q) AS DECIMAL(38,12)) AS qq,
        |    0.0 + list_reduce(
        |      list(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |        CAST(n AS DOUBLE) ORDER BY g),
        |      (acc, x) -> acc + x) AS s2
        |  FROM pg)
        |SELECT n, k,
        |  CASE WHEN n > 0 THEN s2 - CAST(ss AS DOUBLE) *
        |    CAST(ss AS DOUBLE) / CAST(n AS DOUBLE) END AS ss_entre,
        |  CASE WHEN n > 0 THEN CAST(qq AS DOUBLE) - s2 END AS ss_dentro,
        |  CASE WHEN k >= 2 AND n > k AND CAST(qq AS DOUBLE) - s2 > 0.0
        |    THEN ((s2 - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) /
        |      CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1.0)) /
        |      ((CAST(qq AS DOUBLE) - s2) /
        |        (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |  END AS f
        |FROM tot ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the per-bucket proportion contributions and the
    // decimal-accumulated cross-bucket sums.
    "q240_js_hellinger" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT)
        |    AS n_base
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-17'
        |  GROUP BY 1),
        |c AS (
        |  SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT)
        |    AS n_atual
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-17'
        |  GROUP BY 1),
        |j AS (
        |  SELECT coalesce(b.bucket, c.bucket) AS bucket,
        |    coalesce(n_base, 0) AS n_base, coalesce(n_atual, 0) AS n_atual
        |  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket),
        |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS nt,
        |    CAST(sum(n_atual) AS BIGINT) AS mt FROM j),
        |k AS (SELECT n_base, n_atual, nt, mt,
        |    CAST(n_base AS DOUBLE) / CAST(nt AS DOUBLE) AS p,
        |    CAST(n_atual AS DOUBLE) / CAST(mt AS DOUBLE) AS q
        |  FROM j, t),
        |con AS (SELECT nt, mt,
        |    (CASE WHEN n_base > 0 THEN p * log2(p / ((p + q) / 2.0))
        |      ELSE 0.0 END +
        |     CASE WHEN n_atual > 0 THEN q * log2(q / ((p + q) / 2.0))
        |      ELSE 0.0 END) / 2.0 AS jc,
        |    (sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)) AS hc
        |  FROM k),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |    max(nt) AS nt, max(mt) AS mt,
        |    CAST(sum(CAST(jc AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS jsd,
        |    CAST(sum(CAST(hc AS DECIMAL(38,18))) AS DECIMAL(38,18))
        |      AS hd
        |  FROM con)
        |SELECT n_buckets,
        |  CASE WHEN nt > 0 AND mt > 0 THEN CAST(jsd AS DOUBLE) END AS js,
        |  CASE WHEN nt > 0 AND mt > 0 THEN
        |    sqrt(CAST(hd AS DOUBLE) / 2.0) END AS hellinger
        |FROM ag ORDER BY ALL NULLS FIRST""".stripMargin,

    "q241_bradley_terry" -> btOracle(5),

    // Replays the exact integer marginal-product chance agreement and
    // the fixed kappa edge.
    "q242_cohen_kappa" ->
      """WITH d AS (SELECT
        |    CASE WHEN len(text) < 400 THEN 'curto'
        |      WHEN len(text) < 800 THEN 'medio' ELSE 'longo' END AS ra,
        |    CASE WHEN len(string_split_regex(trim(lower(text)), '\s+'))
        |        < 70 THEN 'curto'
        |      WHEN len(string_split_regex(trim(lower(text)), '\s+'))
        |        < 140 THEN 'medio' ELSE 'longo' END AS rb
        |  FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) FILTER (ra = rb) AS BIGINT) AS ag FROM d),
        |ma AS (SELECT ra, CAST(count(*) AS BIGINT) AS na FROM d
        |  GROUP BY 1),
        |mb AS (SELECT rb, CAST(count(*) AS BIGINT) AS nb FROM d
        |  GROUP BY 1),
        |pe AS (SELECT coalesce(sum(CAST(na AS HUGEINT) * nb),
        |    CAST(0 AS HUGEINT)) AS pen
        |  FROM ma JOIN mb ON ma.ra = mb.rb)
        |SELECT n,
        |  CASE WHEN n > 0 THEN CAST(ag AS DOUBLE) / CAST(n AS DOUBLE)
        |    END AS concordancia,
        |  CASE WHEN n > 0 THEN CAST(pen AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * n AS DOUBLE) END AS esperada,
        |  CASE WHEN n > 0 AND CAST(pen AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * n AS DOUBLE) < 1.0 THEN
        |    (CAST(ag AS DOUBLE) / CAST(n AS DOUBLE) -
        |      CAST(pen AS DOUBLE) /
        |        CAST(CAST(n AS HUGEINT) * n AS DOUBLE)) /
        |    (1.0 - CAST(pen AS DOUBLE) /
        |      CAST(CAST(n AS HUGEINT) * n AS DOUBLE))
        |  END AS kappa
        |FROM t, pe ORDER BY ALL NULLS FIRST""".stripMargin,

    "q235_bootstrap_ci" -> bootstrapCiSql,

    "q236_wasserstein" ->
      """WITH base AS (
        |  SELECT o_orderpriority AS grupo,
        |    o_orderdate < DATE '1995-01-01' AS sa,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
        |pv AS (SELECT grupo, v,
        |    sum(CASE WHEN sa THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN sa THEN 0 ELSE 1 END) AS cb
        |  FROM base GROUP BY grupo, v),
        |cum AS (SELECT grupo, v,
        |    sum(ca) OVER (PARTITION BY grupo ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (PARTITION BY grupo ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER (PARTITION BY grupo) AS na,
        |    sum(cb) OVER (PARTITION BY grupo) AS nb,
        |    CAST((lead(v) OVER (PARTITION BY grupo ORDER BY v) - v) * 100
        |      AS BIGINT) AS gapi
        |  FROM pv),
        |agg AS (SELECT grupo, max(na) AS n_a, max(nb) AS n_b,
        |    sum(CASE WHEN gapi IS NOT NULL THEN
        |      CAST(abs(cuma * nb - cumb * na) * gapi AS DECIMAL(38,0))
        |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS s
        |  FROM cum GROUP BY grupo)
        |SELECT grupo, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    CAST(s AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) / 100.0
        |  END AS w1
        |FROM agg ORDER BY ALL NULLS FIRST""".stripMargin,

    "q231_conformal_interval" ->
      """WITH j AS (
        |  SELECT o_orderkey AS k, c_mktsegment AS seg, o_totalprice AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |fit AS (SELECT seg, CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS pred
        |  FROM j WHERE k % 2 = 0 GROUP BY seg),
        |cal AS (SELECT k, abs(CAST(y AS DOUBLE) - pred) AS r
        |  FROM j JOIN fit USING (seg) WHERE k % 2 = 0),
        |rk AS (SELECT r, row_number() OVER (ORDER BY r, k) AS rk,
        |    count(*) OVER () AS n
        |  FROM cal),
        |q AS (SELECT r AS qhat FROM rk
        |  WHERE rk = CAST(ceil(CAST(n + 1 AS DOUBLE) * 0.9) AS BIGINT))
        |SELECT k AS o_orderkey, pred, CAST(y AS DOUBLE) AS observado,
        |  pred - qhat AS lo, pred + qhat AS hi,
        |  (CAST(y AS DOUBLE) >= pred - qhat AND
        |   CAST(y AS DOUBLE) <= pred + qhat) AS coberto
        |FROM j JOIN fit USING (seg) CROSS JOIN q
        |WHERE k % 2 = 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q234_ips_policy_eval" ->
      """WITH lg AS (
        |  SELECT user_id % 4 AS x, event_type AS a, value AS r
        |  FROM events WHERE event_type <> 'purchase'
        |    AND event_type IS NOT NULL AND value IS NOT NULL),
        |cells AS (SELECT x, a, count(*) AS nc,
        |    CAST(sum(CAST(r AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sr
        |  FROM lg GROUP BY x, a),
        |fit AS (SELECT x, a,
        |    CAST(nc AS DOUBLE) /
        |      CAST(sum(nc) OVER (PARTITION BY x) AS DOUBLE) AS p,
        |    row_number() OVER (PARTITION BY x
        |      ORDER BY CAST(sr AS DOUBLE) / CAST(nc AS DOUBLE) DESC,
        |      a ASC) = 1 AS alvo
        |  FROM cells),
        |wtd AS (SELECT lg.x,
        |    CASE WHEN alvo THEN r / p ELSE 0.0 END AS wr,
        |    CASE WHEN alvo THEN 1.0 / p ELSE 0.0 END AS wgt
        |  FROM lg JOIN fit ON lg.x = fit.x AND lg.a = fit.a),
        |agg AS (SELECT x, count(*) AS n,
        |    CAST(sum(CAST(wr AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS swr,
        |    CAST(sum(CAST(wgt AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sw
        |  FROM wtd GROUP BY x),
        |tgt AS (SELECT x, a AS acao_alvo FROM fit WHERE alvo)
        |SELECT agg.x AS contexto, acao_alvo, CAST(n AS BIGINT) AS n,
        |  CAST(swr AS DOUBLE) / CAST(n AS DOUBLE) AS v_ips,
        |  CASE WHEN sw > 0 THEN CAST(swr AS DOUBLE) / CAST(sw AS DOUBLE)
        |       ELSE 0.0 END AS v_snips
        |FROM agg JOIN tgt ON agg.x = tgt.x
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // One select per pair, each replaying the both-non-null guarded
    // DECIMAL sufficient statistics and the identical IEEE assembly.
    "q222_corr_matrix" -> (Seq(
      ("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
      ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
      ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))
      .map { case (a, b) => corrPairSql(a, b) }
      .mkString("", "\nUNION ALL\n", "\nORDER BY ALL NULLS FIRST")),

    // OLS closed form over exact DECIMAL sufficient statistics; the
    // doubles divide in the same order as the Spark expression
    "q137_group_linear_fit" ->
      """WITH j AS (
        |  SELECT c_mktsegment,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS INT) AS x,
        |    o_totalprice AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |agg AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sy,
        |    CAST(sum(CAST(CAST(x AS DOUBLE) * y AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS sxy,
        |    CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
        |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxx
        |  FROM j GROUP BY c_mktsegment),
        |d AS (
        |  SELECT c_mktsegment, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sxx AS DOUBLE) AS sxxd
        |  FROM agg)
        |SELECT c_mktsegment, n,
        |  CASE WHEN n >= 2 AND (nd * sxxd - sxd * sxd) <> 0.0
        |       THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        |  END AS inclinacao,
        |  CASE WHEN n >= 2 AND (nd * sxxd - sxd * sxd) <> 0.0
        |       THEN (syd - ((nd * sxyd - sxd * syd) /
        |                    (nd * sxxd - sxd * sxd)) * sxd) / nd
        |  END AS intercepto
        |FROM d
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q147_pareto_abc" ->
      """WITH spend AS (
        |  SELECT c_mktsegment, o_custkey,
        |    CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
        |      AS DECIMAL(38,6)) AS DOUBLE) AS gasto
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, o_custkey),
        |s AS (
        |  SELECT c_mktsegment, o_custkey, gasto,
        |    CAST(CAST(sum(CAST(gasto AS DECIMAL(38,6))) OVER (
        |      PARTITION BY c_mktsegment ORDER BY gasto DESC, o_custkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(38,6)) AS DOUBLE) /
        |    CAST(CAST(sum(CAST(gasto AS DECIMAL(38,6))) OVER (
        |      PARTITION BY c_mktsegment) AS DECIMAL(38,6)) AS DOUBLE)
        |      AS share_acumulada
        |  FROM spend)
        |SELECT c_mktsegment, o_custkey, gasto, share_acumulada,
        |  CASE WHEN share_acumulada <= 0.8 THEN 'A'
        |       WHEN share_acumulada <= 0.95 THEN 'B'
        |       ELSE 'C' END AS classe
        |FROM s
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q150_zscore_anomalies" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sx,
        |    CAST(sum(CAST(value * value AS DECIMAL(38,12)))
        |      AS DECIMAL(38,12)) AS sxx
        |  FROM events GROUP BY event_type),
        |st AS (
        |  SELECT event_type,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS media,
        |    sqrt(greatest(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS desvio
        |  FROM s)
        |SELECT event_id, event_type, value, media, desvio,
        |  CASE WHEN desvio > 0.0 THEN abs(value - media) / desvio
        |       ELSE 0.0 END AS z_score
        |FROM events JOIN st USING (event_type)
        |WHERE (CASE WHEN desvio > 0.0 THEN abs(value - media) / desvio
        |            ELSE 0.0 END) > 3.0
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q152_basket_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS i
        |  FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS ni
        |        FROM items GROUP BY i),
        |pairs AS (
        |  SELECT a.i AS item_a, b.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ambos
        |  FROM items a JOIN items b ON a.b = b.b AND a.i <> b.i
        |  GROUP BY item_a, item_b
        |  HAVING count(*) >= 5)
        |SELECT item_a, item_b, n_ambos,
        |  CAST(n_ambos AS DOUBLE) / CAST(n AS DOUBLE) AS suporte,
        |  CAST(n_ambos AS DOUBLE) / CAST(sa.ni AS DOUBLE) AS confianca,
        |  (CAST(n_ambos AS DOUBLE) / CAST(sa.ni AS DOUBLE)) /
        |    (CAST(sb.ni AS DOUBLE) / CAST(n AS DOUBLE)) AS lift
        |FROM pairs
        |JOIN sup sa ON pairs.item_a = sa.i
        |JOIN sup sb ON pairs.item_b = sb.i, nb
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the value-collapse, the per-class cumulative grid, the
    // exact HUGEINT products and the (score DESC, threshold ASC) argmax
    // for each feature.
    "q192_gini_stump" ->
      """WITH src AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
        |    CAST(l_discount AS DOUBLE) AS d, l_returnflag AS c
        |  FROM lineitem),
        |cq AS (SELECT q AS limiar, c, CAST(count(*) AS BIGINT) AS n
        |  FROM src WHERE q IS NOT NULL AND c IS NOT NULL GROUP BY 1, 2),
        |gq AS (SELECT v.limiar, cl.c, cl.tot, COALESCE(k.n, 0) AS n
        |  FROM (SELECT DISTINCT limiar FROM cq) v
        |  CROSS JOIN (SELECT c, CAST(sum(n) AS BIGINT) AS tot FROM cq
        |    GROUP BY 1) cl
        |  LEFT JOIN cq k ON k.limiar = v.limiar AND k.c = cl.c),
        |uq AS (SELECT limiar, tot, sum(n) OVER (PARTITION BY c
        |    ORDER BY limiar ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cum FROM gq),
        |tq AS (SELECT limiar, CAST(sum(cum) AS BIGINT) AS n_esq,
        |    sum(CAST(cum AS HUGEINT) * cum) AS sl,
        |    sum(CAST(tot - cum AS HUGEINT) * (tot - cum)) AS sr,
        |    CAST(sum(tot) AS BIGINT) AS ntot
        |  FROM uq GROUP BY 1),
        |sq AS (SELECT 'l_quantity' AS atributo, limiar, n_esq,
        |    ntot - n_esq AS n_dir,
        |    CAST(CAST(n_esq AS HUGEINT) * n_esq - sl AS DOUBLE) /
        |      CAST(CAST(n_esq AS HUGEINT) * n_esq AS DOUBLE) AS gini_esq,
        |    CAST(CAST(ntot - n_esq AS HUGEINT) * (ntot - n_esq) - sr
        |      AS DOUBLE) / CAST(CAST(ntot - n_esq AS HUGEINT) *
        |      (ntot - n_esq) AS DOUBLE) AS gini_dir,
        |    CAST(sl * (ntot - n_esq) + sr * n_esq AS DOUBLE) /
        |      CAST(CAST(n_esq AS HUGEINT) * (ntot - n_esq) AS DOUBLE)
        |      AS pontuacao
        |  FROM tq WHERE ntot - n_esq > 0),
        |bq AS (SELECT * FROM sq ORDER BY pontuacao DESC, limiar ASC
        |  LIMIT 1),
        |cd AS (SELECT d AS limiar, c, CAST(count(*) AS BIGINT) AS n
        |  FROM src WHERE d IS NOT NULL AND c IS NOT NULL GROUP BY 1, 2),
        |gd AS (SELECT v.limiar, cl.c, cl.tot, COALESCE(k.n, 0) AS n
        |  FROM (SELECT DISTINCT limiar FROM cd) v
        |  CROSS JOIN (SELECT c, CAST(sum(n) AS BIGINT) AS tot FROM cd
        |    GROUP BY 1) cl
        |  LEFT JOIN cd k ON k.limiar = v.limiar AND k.c = cl.c),
        |ud AS (SELECT limiar, tot, sum(n) OVER (PARTITION BY c
        |    ORDER BY limiar ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cum FROM gd),
        |td AS (SELECT limiar, CAST(sum(cum) AS BIGINT) AS n_esq,
        |    sum(CAST(cum AS HUGEINT) * cum) AS sl,
        |    sum(CAST(tot - cum AS HUGEINT) * (tot - cum)) AS sr,
        |    CAST(sum(tot) AS BIGINT) AS ntot
        |  FROM ud GROUP BY 1),
        |sd AS (SELECT 'l_discount' AS atributo, limiar, n_esq,
        |    ntot - n_esq AS n_dir,
        |    CAST(CAST(n_esq AS HUGEINT) * n_esq - sl AS DOUBLE) /
        |      CAST(CAST(n_esq AS HUGEINT) * n_esq AS DOUBLE) AS gini_esq,
        |    CAST(CAST(ntot - n_esq AS HUGEINT) * (ntot - n_esq) - sr
        |      AS DOUBLE) / CAST(CAST(ntot - n_esq AS HUGEINT) *
        |      (ntot - n_esq) AS DOUBLE) AS gini_dir,
        |    CAST(sl * (ntot - n_esq) + sr * n_esq AS DOUBLE) /
        |      CAST(CAST(n_esq AS HUGEINT) * (ntot - n_esq) AS DOUBLE)
        |      AS pontuacao
        |  FROM td WHERE ntot - n_esq > 0),
        |bd AS (SELECT * FROM sd ORDER BY pontuacao DESC, limiar ASC
        |  LIMIT 1)
        |SELECT atributo, limiar, n_esq, n_dir, gini_esq, gini_dir,
        |  pontuacao FROM (SELECT * FROM bq UNION ALL SELECT * FROM bd)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the value collapse, both row-inclusive cumulatives, the
    // integer supremum and the two-division edge.
    "q201_ks_test" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grupo,
        |    CAST(o_totalprice AS DOUBLE) AS valor,
        |    (o_orderstatus = 'O') AS aberto
        |  FROM orders),
        |bv AS (
        |  SELECT grupo, valor,
        |    CAST(sum(CASE WHEN aberto THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN aberto THEN 0 ELSE 1 END) AS BIGINT) AS b
        |  FROM o WHERE valor IS NOT NULL AND aberto IS NOT NULL
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT grupo, a, b,
        |    sum(a) OVER (PARTITION BY grupo ORDER BY valor
        |      ROWS UNBOUNDED PRECEDING) AS ca,
        |    sum(b) OVER (PARTITION BY grupo ORDER BY valor
        |      ROWS UNBOUNDED PRECEDING) AS cb,
        |    sum(a) OVER (PARTITION BY grupo) AS na,
        |    sum(b) OVER (PARTITION BY grupo) AS nb
        |  FROM bv),
        |pg AS (
        |  SELECT grupo, CAST(max(na) AS BIGINT) AS n_a,
        |    CAST(max(nb) AS BIGINT) AS n_b,
        |    CAST(max(abs(ca * nb - cb * na)) AS BIGINT) AS d_num
        |  FROM c GROUP BY grupo)
        |SELECT grupo, n_a, n_b, d_num, d,
        |  CASE WHEN d IS NOT NULL
        |    THEN (sqrt(ne) + 0.12 + 0.11 / sqrt(ne)) * d END AS ks_lambda
        |FROM (
        |  SELECT grupo, n_a, n_b, d_num,
        |    CASE WHEN n_a > 0 AND n_b > 0 THEN CAST(d_num AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) END AS d,
        |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
        |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS ne
        |  FROM pg)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the six exact-decimal conditional sums and the fixed
    // double-edge algebra (means, guarded variances, t, Welch df).
    "q203_welch_ttest" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS grupo,
        |    CAST(o_totalprice AS DOUBLE) AS valor,
        |    (o_orderstatus = 'O') AS aberto
        |  FROM orders),
        |ag AS (
        |  SELECT grupo,
        |    CAST(sum(CASE WHEN aberto THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN aberto THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN aberto THEN CAST(valor AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS sa,
        |    sum(CASE WHEN aberto THEN CAST(valor * valor AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS saa,
        |    sum(CASE WHEN NOT aberto THEN CAST(valor AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS sb,
        |    sum(CASE WHEN NOT aberto THEN CAST(valor * valor AS DECIMAL(38,12))
        |      ELSE CAST(0 AS DECIMAL(38,12)) END) AS sbb
        |  FROM o WHERE valor IS NOT NULL AND aberto IS NOT NULL
        |  GROUP BY grupo),
        |alg AS (
        |  SELECT grupo, n_a, n_b,
        |    CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    greatest((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) *
        |        CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE)) /
        |      (CAST(n_a AS DOUBLE) - 1.0), 0.0) / CAST(n_a AS DOUBLE) AS va,
        |    greatest((CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) *
        |        CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |      (CAST(n_b AS DOUBLE) - 1.0), 0.0) / CAST(n_b AS DOUBLE) AS vb
        |  FROM ag)
        |SELECT grupo, n_a, n_b,
        |  CASE WHEN n_a > 0 THEN ma END AS media_a,
        |  CASE WHEN n_b > 0 THEN mb END AS media_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0
        |    THEN (ma - mb) / sqrt(va + vb) END AS t,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va + vb > 0
        |    THEN (va + vb) * (va + vb) /
        |      (va * va / (CAST(n_a AS DOUBLE) - 1.0) +
        |       vb * vb / (CAST(n_b AS DOUBLE) - 1.0)) END AS gl
        |FROM alg
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the cell counts, margins, the DECIMAL(38,0) squared
    // numerator per cell, the (a,b)-sorted fold and the dof gates.
    "q207_cramers_v" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS ano,
        |    o_orderpriority AS a, o_orderstatus AS b
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        |cells AS (SELECT ano, a, b, CAST(count(*) AS BIGINT) AS nab
        |  FROM o GROUP BY 1, 2, 3),
        |rm AS (SELECT ano, a, CAST(sum(nab) AS BIGINT) AS na
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT ano, b, CAST(sum(nab) AS BIGINT) AS nb
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT ano, CAST(sum(nab) AS BIGINT) AS n,
        |    CAST(count(DISTINCT a) AS BIGINT) AS r,
        |    CAST(count(DISTINCT b) AS BIGINT) AS c
        |  FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT rm.ano, a, b, na, nb, coalesce(nab, 0) AS nab
        |  FROM rm JOIN cm USING (ano)
        |  LEFT JOIN cells USING (ano, a, b)),
        |terms AS (
        |  SELECT grid.ano, a, b,
        |    CAST(CAST(n * nab - na * nb AS DECIMAL(38,0)) *
        |      CAST(n * nab - na * nb AS DECIMAL(38,0)) AS DOUBLE) /
        |    CAST(CAST(n AS DECIMAL(38,0)) * na * nb AS DOUBLE) AS t
        |  FROM grid JOIN tot USING (ano)),
        |fold AS (
        |  SELECT ano, 0.0 + list_reduce(list(t ORDER BY a, b),
        |    (acc, x) -> acc + x) AS chi2
        |  FROM terms GROUP BY ano)
        |SELECT tot.ano, n, r, c, (r - 1) * (c - 1) AS gl,
        |  CASE WHEN (r - 1) * (c - 1) > 0 THEN chi2 END AS chi2,
        |  CASE WHEN (r - 1) * (c - 1) > 0 THEN
        |    sqrt(chi2 / (CAST(n AS DOUBLE) *
        |      CAST(least(r - 1, c - 1) AS DOUBLE))) END AS cramers_v
        |FROM tot JOIN fold USING (ano)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the deterministic ranking, the integer bucket formula and
    // the cumulative/total windows.
    "q215_lift_table" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS dia, event_id, value,
        |    (event_type = 'purchase') AS compra
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |r AS (
        |  SELECT dia, compra,
        |    CAST(row_number() OVER (PARTITION BY dia
        |      ORDER BY value DESC, event_id ASC) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY dia) AS BIGINT) AS n
        |  FROM e),
        |b AS (SELECT dia, CAST((rk - 1) * 10 // n AS BIGINT) + 1 AS decil,
        |    compra FROM r),
        |pb AS (SELECT dia, decil, CAST(count(*) AS BIGINT) AS n_linhas,
        |    CAST(sum(CASE WHEN compra THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_eventos
        |  FROM b GROUP BY 1, 2),
        |c AS (SELECT dia, decil, n_linhas, n_eventos,
        |    CAST(sum(n_linhas) OVER (PARTITION BY dia ORDER BY decil
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cr,
        |    CAST(sum(n_eventos) OVER (PARTITION BY dia ORDER BY decil
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ce,
        |    CAST(sum(n_linhas) OVER (PARTITION BY dia) AS BIGINT) AS tr,
        |    CAST(sum(n_eventos) OVER (PARTITION BY dia) AS BIGINT) AS te
        |  FROM pb)
        |SELECT dia, decil, n_linhas, n_eventos,
        |  CASE WHEN te > 0 THEN CAST(ce AS DOUBLE) / CAST(te AS DOUBLE)
        |    END AS captura,
        |  CAST(ce AS DOUBLE) / CAST(cr AS DOUBLE) AS taxa_acumulada,
        |  CASE WHEN te > 0 THEN CAST(ce * tr AS DOUBLE) /
        |    CAST(cr * te AS DOUBLE) END AS lift
        |FROM c
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the observed-cell MI terms with integer ln arguments and
    // the three (a,b)/(a)/(b)-sorted folds.
    "q210_mutual_info" ->
      """WITH o AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS ano,
        |    o_orderpriority AS a, o_orderstatus AS b
        |  FROM orders
        |  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL),
        |cells AS (SELECT ano, a, b, CAST(count(*) AS BIGINT) AS nab
        |  FROM o GROUP BY 1, 2, 3),
        |rm AS (SELECT ano, a, CAST(sum(nab) AS BIGINT) AS na
        |  FROM cells GROUP BY 1, 2),
        |cm AS (SELECT ano, b, CAST(sum(nab) AS BIGINT) AS nb
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT ano, CAST(sum(nab) AS BIGINT) AS n
        |  FROM cells GROUP BY 1),
        |mi AS (
        |  SELECT ano, 0.0 + list_reduce(list(
        |      (CAST(nab AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      ln(CAST(CAST(n AS DECIMAL(38,0)) * nab AS DOUBLE) /
        |         CAST(CAST(na AS DECIMAL(38,0)) * nb AS DOUBLE))
        |      ORDER BY a, b), (acc, x) -> acc + x) AS mi
        |  FROM cells JOIN rm USING (ano, a) JOIN cm USING (ano, b)
        |  JOIN tot USING (ano) GROUP BY ano),
        |ha AS (
        |  SELECT ano, ln(CAST(n AS DOUBLE)) - (0.0 + list_reduce(
        |      list(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE)) ORDER BY a),
        |      (acc, x) -> acc + x)) / CAST(n AS DOUBLE) AS h_a
        |  FROM rm JOIN tot USING (ano) GROUP BY ano, n),
        |hb AS (
        |  SELECT ano, ln(CAST(n AS DOUBLE)) - (0.0 + list_reduce(
        |      list(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)) ORDER BY b),
        |      (acc, x) -> acc + x)) / CAST(n AS DOUBLE) AS h_b
        |  FROM cm JOIN tot USING (ano) GROUP BY ano, n)
        |SELECT tot.ano, n, mi, h_a, h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0 THEN mi / sqrt(h_a * h_b) END AS nmi
        |FROM tot JOIN mi USING (ano) JOIN ha USING (ano) JOIN hb USING (ano)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the cent scaling, value collapse, tie-invariant rank-sum
    // blocks and the two exact-integer divisions.
    "q208_gini" ->
      """WITH v AS (
        |  SELECT o_orderpriority AS grupo,
        |    CAST(CAST(o_totalprice AS DECIMAL(38,2)) * 100
        |      AS DECIMAL(38,0)) AS x
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |bv AS (SELECT grupo, x, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM v GROUP BY 1, 2),
        |cum AS (SELECT grupo, x, c, neg,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY grupo ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS below
        |  FROM bv),
        |pg AS (SELECT grupo, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(neg) AS BIGINT) AS n_neg,
        |    CAST(sum(x * CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t,
        |    CAST(sum(x * (CAST(c AS DECIMAL(38,0)) *
        |        CAST(below AS DECIMAL(38,0)) +
        |        CAST((c * (c + 1)) // 2 AS DECIMAL(38,0))))
        |      AS DECIMAL(38,0)) AS s
        |  FROM cum GROUP BY 1)
        |SELECT grupo, n, CAST(t AS DOUBLE) / 100.0 AS total,
        |  CASE WHEN n_neg = 0 AND t > 0 THEN
        |    2.0 * CAST(s AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)) -
        |    (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) END AS gini
        |FROM pg
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the per-unit decimal folds, the pooled arm-blind
    // sufficient statistics, theta/1-rho2 and the algebraic per-arm
    // adjusted mean.
    "q209_cuped" ->
      """WITH pc AS (
        |  SELECT o_custkey AS id,
        |    CAST(sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(38,6))
        |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS y,
        |    CAST(sum(CASE WHEN o_orderdate < DATE '1996-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(38,6))
        |      ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |u AS (
        |  SELECT c_mktsegment AS segmento, pc.id % 2 AS braco, y, x
        |  FROM pc JOIN customer ON c_custkey = pc.id),
        |pooled AS (
        |  SELECT segmento, CAST(count(*) AS BIGINT) AS pn,
        |    sum(CAST(x AS DECIMAL(38,12))) AS sx,
        |    sum(CAST(y AS DECIMAL(38,12))) AS sy,
        |    sum(CAST(x * y AS DECIMAL(38,12))) AS sxy,
        |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx,
        |    sum(CAST(y * y AS DECIMAL(38,12))) AS syy
        |  FROM u GROUP BY 1),
        |st AS (
        |  SELECT segmento,
        |    CAST(sx AS DOUBLE) / CAST(pn AS DOUBLE) AS mx,
        |    CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |        CAST(sx AS DOUBLE) / CAST(pn AS DOUBLE) > 0 THEN
        |      (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |        CAST(sy AS DOUBLE) / CAST(pn AS DOUBLE)) /
        |      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |        CAST(sx AS DOUBLE) / CAST(pn AS DOUBLE)) END AS theta,
        |    CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |        CAST(sx AS DOUBLE) / CAST(pn AS DOUBLE) > 0
        |      AND CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |        CAST(sy AS DOUBLE) / CAST(pn AS DOUBLE) > 0 THEN
        |      1.0 - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |          CAST(sy AS DOUBLE) / CAST(pn AS DOUBLE)) *
        |        (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
        |          CAST(sy AS DOUBLE) / CAST(pn AS DOUBLE))) /
        |      ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
        |          CAST(sx AS DOUBLE) / CAST(pn AS DOUBLE)) *
        |        (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
        |          CAST(sy AS DOUBLE) / CAST(pn AS DOUBLE)))
        |      END AS fator_variancia
        |  FROM pooled),
        |arms AS (
        |  SELECT segmento, braco, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(y AS DECIMAL(38,12))) AS asy,
        |    sum(CAST(x AS DECIMAL(38,12))) AS asx
        |  FROM u GROUP BY 1, 2)
        |SELECT segmento, braco, n,
        |  CAST(asy AS DOUBLE) / CAST(n AS DOUBLE) AS media_y,
        |  CAST(asy AS DOUBLE) / CAST(n AS DOUBLE) - theta *
        |    (CAST(asx AS DOUBLE) / CAST(n AS DOUBLE) - mx) AS media_y_adj,
        |  theta, fator_variancia
        |FROM arms JOIN st USING (segmento)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the within-basket pairs, the minPairs cut, the fixed
    // cosine chain and the (score DESC, item ASC) per-item top-5.
    "q198_item_cosine" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |  FROM lineitem),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM it
        |  GROUP BY 1),
        |pr AS (SELECT a.i AS item_a, c.i AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ambos
        |  FROM it a JOIN it c ON a.b = c.b AND a.i <> c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item_a, item_b, n_ambos,
        |    CAST(n_ambos AS DOUBLE) / (sqrt(CAST(sa.n AS DOUBLE)) *
        |      sqrt(CAST(sb.n AS DOUBLE))) AS cosseno
        |  FROM pr JOIN sup sa ON sa.i = item_a
        |  JOIN sup sb ON sb.i = item_b),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY item_a
        |    ORDER BY cosseno DESC, item_b ASC) AS posicao FROM sc)
        |SELECT item_a, CAST(posicao AS INT) AS posicao, item_b, cosseno,
        |  n_ambos
        |FROM rk WHERE posicao <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the per-user collapse, the one-pass conditional counts
    // and the fixed pooled-variance IEEE chain.
    "q194_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    max(event_type = 'purchase' AND value > 90.0) AS converteu,
        |    CASE WHEN user_id % 2 = 0 THEN 'par' ELSE 'impar' END
        |      AS braco
        |  FROM events GROUP BY user_id),
        |c AS (SELECT
        |    CAST(count(*) FILTER (braco = 'par') AS BIGINT) AS n_a,
        |    CAST(count(*) FILTER (braco = 'par' AND converteu)
        |      AS BIGINT) AS x_a,
        |    CAST(count(*) FILTER (braco = 'impar') AS BIGINT) AS n_b,
        |    CAST(count(*) FILTER (braco = 'impar' AND converteu)
        |      AS BIGINT) AS x_b
        |  FROM u WHERE braco IN ('par', 'impar'))
        |SELECT n_a, x_a, n_b, x_b,
        |  CASE WHEN n_a > 0 THEN CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |    END AS taxa_a,
        |  CASE WHEN n_b > 0 THEN CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)
        |    END AS taxa_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND x_a + x_b > 0
        |      AND x_a + x_b < n_a + n_b THEN
        |    (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
        |     CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE)) /
        |    sqrt(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) *
        |      (1.0 - CAST(x_a + x_b AS DOUBLE) /
        |        CAST(n_a + n_b AS DOUBLE)) *
        |      (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |  END AS z
        |FROM c
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the doubled ranks, the exact tie term, the per-group
    // divisions through DECIMAL(38,18) and the fixed H / correction
    // edge.
    "q195_kruskal_wallis" ->
      """WITH b AS (SELECT CAST(l_returnflag AS VARCHAR) AS g,
        |    CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
        |  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |cv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM b
        |  GROUP BY 1),
        |rk AS (SELECT v, 2 * COALESCE(sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    + cnt + 1 AS r2,
        |    CAST(cnt AS HUGEINT) * cnt * cnt - cnt AS t FROM cv),
        |pg AS (SELECT g, CAST(count(*) AS BIGINT) AS n_grupo,
        |    sum(CAST(r2 AS HUGEINT)) AS rg2
        |  FROM b JOIN rk USING (v) GROUP BY 1),
        |tt AS (SELECT sum(t) AS st FROM rk),
        |tot AS (SELECT CAST(sum(n_grupo) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS k,
        |    0.0 + list_reduce(
        |      list(CAST(rg2 * rg2 AS DOUBLE) / CAST(n_grupo AS DOUBLE)
        |        ORDER BY g), (acc, x) -> acc + x) AS s2
        |  FROM pg)
        |SELECT g AS grupo, n_grupo,
        |  CAST(rg2 AS DOUBLE) / (2.0 * CAST(n_grupo AS DOUBLE))
        |    AS posto_medio,
        |  k - 1 AS gl,
        |  (3.0 * s2) /
        |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) -
        |    3.0 * (CAST(n AS DOUBLE) + 1.0) AS h,
        |  CASE WHEN st < CAST(n AS HUGEINT) * n * n - n THEN
        |    ((3.0 * s2) /
        |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) -
        |      3.0 * (CAST(n AS DOUBLE) + 1.0)) /
        |    (1.0 - CAST(st AS DOUBLE) /
        |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
        |        CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
        |  END AS h_corr
        |FROM pg, tot, tt
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the doubled tie-averaged ranks from distinct-value
    // collapses, the HUGEINT statistics and the fixed sqrt/÷ edge.
    "q193_spearman" -> spearmanOracle(Seq(
      ("l_quantity", "l_extendedprice"),
      ("l_quantity", "l_discount"),
      ("l_extendedprice", "l_discount"))),

    // Replays the value-collapse, both cumulative directions and the
    // single-division ratios.
    "q187_pr_curve" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS dia, value AS limiar,
        |    (event_type = 'purchase') AS compra FROM events
        |  WHERE value IS NOT NULL),
        |c AS (SELECT dia, limiar,
        |    sum(CASE WHEN compra THEN 1 ELSE 0 END) AS p,
        |    sum(CASE WHEN compra THEN 0 ELSE 1 END) AS n
        |  FROM e GROUP BY 1, 2),
        |k AS (SELECT dia, limiar,
        |    sum(p) OVER wd AS tp, sum(n) OVER wd AS fp,
        |    sum(p) OVER (PARTITION BY dia) - sum(p) OVER wd AS fn
        |  FROM c WINDOW wd AS (PARTITION BY dia ORDER BY limiar DESC
        |    ROWS UNBOUNDED PRECEDING))
        |SELECT dia, limiar, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        |  CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) AS precisao,
        |  CASE WHEN tp + fn > 0 THEN
        |    CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS revocacao,
        |  CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE)
        |    END AS f1
        |FROM k ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the value-collapse, the strictly-below cumulative and the
    // exact U₂ roll-up with its single division.
    "q182_roc_auc" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS dia, value AS s,
        |    (event_type = 'purchase') AS y
        |  FROM events WHERE value IS NOT NULL),
        |bs AS (
        |  SELECT dia, s,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT dia, s, p, n,
        |    coalesce(sum(n) OVER (PARTITION BY dia ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS nb
        |  FROM bs)
        |SELECT dia, CAST(sum(p) AS BIGINT) AS n_pos,
        |  CAST(sum(n) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(p) > 0 AND sum(n) > 0 THEN
        |    CAST(sum(p * (2 * nb + n)) AS DOUBLE) /
        |    CAST(2 * sum(p) * sum(n) AS DOUBLE) END AS auc
        |FROM w GROUP BY dia
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the OLS closed form, the residual chain and both exact
    // lower medians of the MAD pass.
    "q175_trend_anomalies" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(date_diff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
        |    o_totalprice AS y
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |agg AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS sxx
        |  FROM o GROUP BY 1),
        |cf AS (
        |  SELECT o_orderpriority,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS inclinacao,
        |    n, sx, sy
        |  FROM agg),
        |cf2 AS (
        |  SELECT o_orderpriority, inclinacao,
        |    (CAST(sy AS DOUBLE) - inclinacao * CAST(sx AS DOUBLE)) /
        |      CAST(n AS DOUBLE) AS intercepto
        |  FROM cf),
        |r AS (
        |  SELECT o.o_orderkey, o.o_orderpriority, o.x, o.y,
        |    y - (intercepto + inclinacao * x) AS residuo
        |  FROM o JOIN cf2 USING (o_orderpriority)),
        |m1 AS (
        |  SELECT o_orderpriority, v AS med FROM (
        |    SELECT o_orderpriority, v,
        |      SUM(w) OVER (PARTITION BY o_orderpriority ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(w) OVER (PARTITION BY o_orderpriority) AS tot
        |    FROM (SELECT o_orderpriority, residuo AS v,
        |            CAST(count(*) AS DECIMAL(38,6)) AS w
        |          FROM r GROUP BY 1, 2))
        |  WHERE cum * 2 >= tot
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY v) = 1),
        |dev AS (
        |  SELECT r.*, abs(residuo - med) AS desvio
        |  FROM r JOIN m1 USING (o_orderpriority)),
        |m2 AS (
        |  SELECT o_orderpriority, v AS mad FROM (
        |    SELECT o_orderpriority, v,
        |      SUM(w) OVER (PARTITION BY o_orderpriority ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(w) OVER (PARTITION BY o_orderpriority) AS tot
        |    FROM (SELECT o_orderpriority, desvio AS v,
        |            CAST(count(*) AS DECIMAL(38,6)) AS w
        |          FROM dev GROUP BY 1, 2))
        |  WHERE cum * 2 >= tot
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY v) = 1)
        |SELECT dev.o_orderkey, dev.o_orderpriority, dev.x, dev.y,
        |  dev.residuo, dev.desvio,
        |  (mad > 0.0 AND desvio > 2.5 * mad) AS atipico
        |FROM dev JOIN m2 USING (o_orderpriority)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the string-image digit extraction, the counts and the
    // literal expected shares.
    "q174_benford" ->
      """WITH d AS (
        |  SELECT CAST(substring(regexp_replace(
        |    CAST(abs(o_totalprice) AS VARCHAR), '[^1-9]', '', 'g'),
        |    1, 1) AS INT) AS digito
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_totalprice <> 0
        |    AND regexp_replace(CAST(abs(o_totalprice) AS VARCHAR),
        |      '[^1-9]', '', 'g') <> ''),
        |cnt AS (SELECT digito, CAST(count(*) AS BIGINT) AS observado
        |        FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(observado) AS BIGINT) AS n FROM cnt),
        |e AS (SELECT digito, CAST(esperado AS DOUBLE) AS esperado
        |  FROM (VALUES
        |  (1, 0.301029995664), (2, 0.176091259056), (3, 0.124938736608),
        |  (4, 0.096910013008), (5, 0.079181246048), (6, 0.066946789631),
        |  (7, 0.057991946978), (8, 0.051152522447), (9, 0.045757490561))
        |  v(digito, esperado))
        |SELECT e.digito, coalesce(observado, 0) AS observado,
        |  CAST(coalesce(observado, 0) AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS participacao,
        |  esperado,
        |  (CAST(coalesce(observado, 0) AS DOUBLE) / CAST(n AS DOUBLE))
        |    / esperado AS razao
        |FROM e LEFT JOIN cnt USING (digito), t
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the integer-rank edges and the strict-below bin count.
    "q170_quantile_binning" ->
      """WITH bv AS (
        |  SELECT o_totalprice AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |cum AS (
        |  SELECT v, SUM(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
        |    SUM(c) OVER () AS n
        |  FROM bv),
        |edges AS (
        |  SELECT i, min(v) AS borda
        |  FROM cum, LATERAL unnest([1, 2, 3]) e(i)
        |  WHERE cm * 4 >= n * i GROUP BY i)
        |SELECT o_orderkey, o_totalprice,
        |  CAST(1 + (SELECT count(*) FROM edges
        |            WHERE borda < o_totalprice) AS INT) AS bin
        |FROM orders
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the collapse rule, the frequency division and the
    // broadcast-left-join apply.
    "q171_freq_encoding" ->
      """WITH cnt AS (
        |  SELECT p_brand AS categoria, CAST(count(*) AS BIGINT) AS n
        |  FROM part GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cnt),
        |model AS (
        |  SELECT categoria, CAST(sum(n) AS BIGINT) AS n
        |  FROM (SELECT CASE WHEN n >= 70 THEN categoria
        |               ELSE '__outros__' END AS categoria, n FROM cnt)
        |  GROUP BY 1),
        |mf AS (SELECT categoria, n,
        |         CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS freq
        |       FROM model, t)
        |SELECT p_partkey, p_brand,
        |  CASE WHEN mf.categoria IS NOT NULL AND mf.categoria <> '__outros__'
        |       THEN mf.categoria ELSE '__outros__' END AS p_brand_cat,
        |  CASE WHEN mf.categoria IS NOT NULL AND mf.categoria <> '__outros__'
        |       THEN mf.freq
        |       ELSE (SELECT freq FROM mf WHERE categoria = '__outros__') END
        |    AS p_brand_freq
        |FROM part LEFT JOIN mf ON part.p_brand = mf.categoria
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the per-category DECIMAL sums, the own-label subtraction
    // and the single division; singletons null.
    "q172_loo_target" ->
      """WITH st AS (
        |  SELECT c_mktsegment AS cat,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sy,
        |    CAST(count(*) AS BIGINT) AS nc
        |  FROM customer GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, c_acctbal,
        |  CASE WHEN nc > 1 THEN
        |    CAST(sy - CAST(c_acctbal AS DECIMAL(38,6)) AS DOUBLE) /
        |    CAST(nc - 1 AS DOUBLE) END AS c_mktsegment_loo
        |FROM customer JOIN st ON c_mktsegment = st.cat
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays both snapshot counts, the exact-product ratio and the
    // chi-square chain per bucket.
    "q167_drift_report" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT) AS n_base
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1995-06-17'
        |  GROUP BY 1),
        |c AS (
        |  SELECT o_orderpriority AS bucket, CAST(count(*) AS BIGINT) AS n_atual
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-17'
        |  GROUP BY 1),
        |j AS (
        |  SELECT coalesce(b.bucket, c.bucket) AS bucket,
        |    coalesce(n_base, 0) AS n_base, coalesce(n_atual, 0) AS n_atual
        |  FROM b FULL OUTER JOIN c ON b.bucket = c.bucket),
        |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS nt,
        |             CAST(sum(n_atual) AS BIGINT) AS mt FROM j)
        |SELECT bucket, n_base, n_atual,
        |  CASE WHEN n_base > 0 THEN
        |    CAST(CAST(n_atual AS DECIMAL(38,0)) * nt AS DOUBLE) /
        |    CAST(CAST(n_base AS DECIMAL(38,0)) * mt AS DOUBLE) END AS razao,
        |  CASE WHEN n_base > 0 THEN
        |    (CAST(n_atual AS DOUBLE) -
        |      CAST(mt AS DOUBLE) * CAST(n_base AS DOUBLE) / CAST(nt AS DOUBLE)) *
        |    (CAST(n_atual AS DOUBLE) -
        |      CAST(mt AS DOUBLE) * CAST(n_base AS DOUBLE) / CAST(nt AS DOUBLE)) /
        |    (CAST(mt AS DOUBLE) * CAST(n_base AS DOUBLE) / CAST(nt AS DOUBLE))
        |  END AS qui2,
        |  n_base = 0 AS nova_categoria
        |FROM j, t
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays both exact lower medians and the flag chain.
    "q168_mad_outliers" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 100 = 0),
        |m1 AS (
        |  SELECT l_returnflag, v AS med FROM (
        |    SELECT l_returnflag, v,
        |      SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |    FROM (SELECT l_returnflag, l_extendedprice AS v,
        |            CAST(count(*) AS DECIMAL(38,6)) AS w
        |          FROM li GROUP BY 1, 2))
        |  WHERE cum * 2 >= tot
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) = 1),
        |dev AS (
        |  SELECT li.*, abs(l_extendedprice - med) AS desvio
        |  FROM li JOIN m1 USING (l_returnflag)),
        |m2 AS (
        |  SELECT l_returnflag, v AS mad FROM (
        |    SELECT l_returnflag, v,
        |      SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |    FROM (SELECT l_returnflag, desvio AS v,
        |            CAST(count(*) AS DECIMAL(38,6)) AS w
        |          FROM dev GROUP BY 1, 2))
        |  WHERE cum * 2 >= tot
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) = 1)
        |SELECT dev.l_orderkey, dev.l_linenumber, dev.l_returnflag,
        |  dev.l_extendedprice, dev.desvio,
        |  (mad > 0.0 AND desvio > 2.0 * mad) AS atipico
        |FROM dev JOIN m2 USING (l_returnflag)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the one-pass DECIMAL statistics and both transforms.
    "q166_feature_scaling" ->
      """WITH st AS (
        |  SELECT
        |    CAST(count(l_quantity) AS DOUBLE) AS nq,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6)) *
        |      CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS qq,
        |    CAST(min(l_quantity) AS DOUBLE) AS loq,
        |    CAST(max(l_quantity) AS DOUBLE) AS hiq,
        |    CAST(count(l_extendedprice) AS DOUBLE) AS ne,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS se,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)) *
        |      CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS qe,
        |    CAST(min(l_extendedprice) AS DOUBLE) AS loe,
        |    CAST(max(l_extendedprice) AS DOUBLE) AS hie
        |  FROM lineitem),
        |m AS (
        |  SELECT sq / nq AS muq, sqrt(greatest(qq / nq - (sq/nq)*(sq/nq), 0.0)) AS sdq,
        |    loq, hiq,
        |    se / ne AS mue, sqrt(greatest(qe / ne - (se/ne)*(se/ne), 0.0)) AS sde,
        |    loe, hie
        |  FROM st)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CASE WHEN sdq > 0.0 THEN (l_quantity - muq) / sdq END AS l_quantity_z,
        |  CASE WHEN hiq > loq THEN (l_quantity - loq) / (hiq - loq) END
        |    AS l_quantity_mm,
        |  CASE WHEN sde > 0.0 THEN (l_extendedprice - mue) / sde END
        |    AS l_extendedprice_z,
        |  CASE WHEN hie > loe THEN (l_extendedprice - loe) / (hie - loe) END
        |    AS l_extendedprice_mm
        |FROM lineitem, m
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the value-collapse, the DECIMAL cumulative, the 2·cum >=
    // tot test and both aggregates.
    "q162_weighted_median" ->
      """WITH bv AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,6)))
        |      AS DECIMAL(38,6)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, v, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM bv)
        |SELECT l_returnflag, min(v) AS mediana_ponderada,
        |  CAST(CAST(min(tot) AS BIGINT) AS DOUBLE) AS peso_total
        |FROM c WHERE cum * 2 >= tot GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
