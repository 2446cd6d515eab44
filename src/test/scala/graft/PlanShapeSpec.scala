package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** 100 TB scale-safety assertions on the physical plans: filters reach the
  * parquet scan, dimension lookups broadcast, bucketed dedup/ANN paths
  * never degenerate into cartesian products, and hot paths stay inside
  * whole-stage codegen.
  */
class PlanShapeSpec extends SparkSpec {

  test("parquet scan gets pushed filters and pruned columns") {
    val df = Tables.orders(spark, sfDir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_totalprice")
    val plan = planString(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"filter not pushed to scan:\n$plan")
    // pruned to the projected + filtered columns only (3 of 6)
    assert(plan.contains(
      "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      s"columns not pruned at scan:\n$plan")
  }

  test("q08 predicate filter stays a codegen'd scan filter (no UDF, no shuffle)") {
    val plan = planString(SparkEntry.queries("q08_predicate_filter")(spark, sfDir))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    // `*(n)` marks a whole-stage-codegen span; the filter must sit in one
    assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined,
      s"filter not codegen'd:\n$plan")
  }

  test("q09 membership filter uses broadcast joins, never collects the dim") {
    val plan = planString(SparkEntry.queries("q09_semijoin_filter")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q18 period lookup is a month-aligned BroadcastHashJoin (no nested loop)") {
    val plan = planString(SparkEntry.queries("q18_period_range_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"month-aligned period lookup must hash-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"per-row period probing would scale with |periods|:\n$plan")
  }

  test("q44 bucketed range join hash-joins on the month bucket and matches the generic range join") {
    import graft.operators.DimJoins
    val q44 = SparkEntry.queries("q44_bucketed_range_join")(spark, sfDir)
    val plan = planString(q44)
    assert(plan.contains("BroadcastHashJoin"),
      s"bucketed range join must be an equi-join on the month bucket:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bucketed range join degenerated to per-row probing:\n$plan")
    // semantics: identical to the generic nested-loop range join
    val periods = Tables.orders(spark, sfDir).select(
      to_date(date_trunc("MONTH", col("o_orderdate"))).as("m"))
      .distinct()
      .select(
        date_add(col("m"), 14).as("data_inicio"),
        date_add(add_months(col("m"), 1), 13).as("data_fim"),
        date_format(date_add(col("m"), 14), "yyyyMMdd").as("periodo_codigo"))
    val li = Tables.lineitem(spark, sfDir)
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select("l_orderkey", "l_linenumber", "l_shipdate", "periodo_codigo")
      .collect().map(_.toSeq).toSet
    val viaRange = proj(ReferenceForms.periodLookup(
      li, to_date(col("l_shipdate")), periods, "data_inicio", "data_fim"))
    val viaBucketed = proj(DimJoins.periodLookupBucketed(
      li, to_date(col("l_shipdate")), periods, "data_inicio", "data_fim"))
    assert(viaBucketed == viaRange)
  }

  test("month-aligned period lookup equals the range join and hash-joins") {
    import graft.operators.DimJoins
    val periods = Tables.orders(spark, sfDir).select(
      to_date(date_trunc("MONTH", col("o_orderdate"))).as("data_inicio"))
      .distinct()
      .select(col("data_inicio"), last_day(col("data_inicio")).as("data_fim"),
        date_format(col("data_inicio"), "yyyyMM").as("periodo_codigo"))
    val li = Tables.lineitem(spark, sfDir)
    def proj(df: org.apache.spark.sql.DataFrame) = df
      .select("l_orderkey", "l_linenumber", "l_shipdate", "periodo_codigo")
      .collect().map(_.toSeq).toSet
    val viaRange = proj(ReferenceForms.periodLookup(
      li, to_date(col("l_shipdate")), periods, "data_inicio", "data_fim"))
    val aligned = DimJoins.periodLookupMonthAligned(
      li, col("l_shipdate"), periods, "data_inicio")
    assert(proj(aligned) == viaRange)
    assert(planString(aligned).contains("BroadcastHashJoin"),
      "aligned path must hash-join")
  }

  test("q19 geography equi-join is a BroadcastHashJoin") {
    val plan = planString(SparkEntry.queries("q19_geo_equi_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("LSH dedup paths never contain a cartesian product") {
    for (q <- Seq("q26_minhash_lsh", "q27_simhash", "q30_ann_lsh",
        "q117_ingest_gate", "q130_minhash_index_audit")) {
      val plan = planString(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct"), s"$q degenerated to cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q candidate join must be an equi-join on bucket keys:\n$plan")
    }
  }

  test("tiledPairs joins the multi-block salt table by broadcast, not shuffle") {
    // The salt/prune lookup must be a BroadcastHashJoin against the
    // block-counts-derived table: an earlier all-blocks shuffle join
    // tripled shuffled bytes and made the no-skew case ~2.5x slower at
    // sf1. Round 16 made it an INNER join against the multi-row-block
    // set (singleton rows can never emit a pair), so the shape to pin
    // is: broadcast build side, no shuffle join, and no LeftOuter
    // (LeftOuter would mean the pruning path silently fell back while
    // the gate said prune). The pair join itself stays a shuffled
    // equi-join on (block, tile).
    val plan = planString(SparkEntry.queries("q27_simhash")(spark, sfDir))
    val inner = "(?s)BroadcastHashJoin.*Inner.*BuildRight".r
    assert(inner.findFirstIn(plan).isDefined,
      s"multi-block salt lookup must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin LeftOuter") &&
      !plan.contains("ShuffledHashJoin LeftOuter"),
      s"salt lookup degenerated to a shuffle join:\n$plan")
  }

  test("tiledPairs falls back to the hot-only LeftOuter broadcast past " +
      "the multi-block broadcast gate") {
    import graft.llm.Dedup
    // every block holds 4 rows, so pruning would drop none: the gate's
    // drop-fraction floor keeps the multi-block set out of the broadcast
    val keyed = spark.range(0, 400)
      .select(col("id").as("__id"), (col("id") % 100).as("__block"))
    val stats = Dedup.adaptiveMaxBlockStats(
      keyed.groupBy("__block").agg(count(lit(1)).as("__cnt")), 4)
    assert(stats.nMulti == 100L && stats.multiRows == stats.totalRows)
    assert(!graft.plans.Gates.pruneSingletons(stats))
    val plan = planString(Dedup.tiledPairs(keyed, Seq.empty, Dedup.AdaptiveBlock))
    val outer = "(?s)BroadcastHashJoin.*LeftOuter.*BuildRight".r
    assert(outer.findFirstIn(plan).isDefined,
      s"gated-off path must keep the hot-block LeftOuter broadcast:\n$plan")
  }

  test("co-bucketed tables join without any shuffle") {
    import graft.sources.Staging
    // a previous JVM's warehouse dir survives while the in-memory catalog
    // does not — clear both or saveAsTable hits LOCATION_ALREADY_EXISTS
    for (t <- Seq("graft_li_b", "graft_ord_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_suppkey", "l_quantity")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    val bl = Staging.bucketedTable(spark, li, "graft_li_b", "l_orderkey", 4)
    val bo = Staging.bucketedTable(spark, ord, "graft_ord_b", "o_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = bl.join(bo, bl("l_orderkey") === bo("o_orderkey"))
      val plan = planString(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q43 full pipeline: broadcast-only joins, fact side never shuffles") {
    val df = graft.pipelines.Procedures.run(spark, sfDir) // without ordered()
    val plan = planString(df).split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Exchange rangepartitioning"))
    // the only hash exchanges allowed are the tiny dim-prep distincts that
    // live INSIDE broadcast build sides — the fact path itself must fuse
    // into whole-stage codegen with zero shuffles
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(exchanges.forall(c =>
      c.startsWith("s_suppkey") || c.startsWith("data_inicio") ||
        c.startsWith("__graft_dk")),
      s"unexpected fact-side shuffle on $exchanges:\n$plan")
  }

  test("bloom-pruned upsert probes scan-side and matches the plain upsert exactly") {
    import graft.operators.Upsert
    val o = Tables.orders(spark, sfDir)
    val target = o.filter(col("o_orderkey") % 3 =!= 0)
    val incoming = o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val pruned = Upsert.upsertBloomPruned(target, incoming, Seq("o_orderkey"))
    val plan = planString(pruned)
    // the bloom probe must be a Filter ON THE SCAN SIDE (before any join/
    // exchange), i.e. the expression shows up in the executed plan at all —
    // and the negated branch must flow to the union with no join beneath it
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the physical plan:\n$plan")
    assert("""(?s)Filter.*might_contain""".r.findFirstIn(plan).isDefined,
      s"bloom probe not a Filter:\n$plan")
    // identical output to the exact path: false positives only re-route
    // rows through the anti-join, never change the result
    val plain = ReferenceForms.upsert(target, incoming, Seq("o_orderkey"))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet == plain)
  }

  test("Spread floors partitioning for narrow scans and no-ops on wide inputs") {
    val docs = graft.sources.Tables.documents(spark, sfDir) // 1 file, 1 split
    val spreadPartitions = graft.llm.Spread(docs).rdd.getNumPartitions
    assert(spreadPartitions == spark.sparkContext.defaultParallelism,
      s"narrow scan must be repartitioned, got $spreadPartitions")
    val wide = docs.repartition(spark.sparkContext.defaultParallelism * 2)
    assert(graft.llm.Spread(wide).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism * 2,
      "already-wide inputs must not be narrowed")
    // the q26 map side must carry the exchange (the scale fix this pins)
    val plan = planString(SparkEntry.queries("q26_minhash_lsh")(spark, sfDir))
    assert(plan.contains("Exchange RoundRobinPartitioning") ||
      plan.contains("Exchange roundrobin"),
      s"Spread exchange missing from q26's plan:\n$plan")
  }

  test("q22 rollup aggregates partially before the shuffle") {
    val plan = planString(SparkEntry.queries("q22_metadata_rollup")(spark, sfDir))
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      s"expected hash aggregation with map-side partials:\n$plan")
  }

  test("q74 group top-k partial-aggregates under ObjectHashAggregate, no window sort") {
    val plan = planString(SparkEntry.queries("q74_group_topk")(spark, sfDir))
    // partial + final instances: the map side reduces each group to <= k
    // pairs BEFORE the exchange — the whole point vs the window form
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"top-k must not fall back to a full window sort:\n$plan")
  }

  test("q75 ORC re-read pushes the filter and prunes columns at the scan") {
    val rt = graft.sources.Staging.orcRoundtrip(
      spark, Tables.documents(spark, sfDir).select("doc_id", "text", "lang"),
      s"${GraftSession.scratchRoot}/graft-orc-spec/documents")
    val plan = planString(rt.filter(col("lang") === "en").select("doc_id", "lang"))
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"filter not pushed to the ORC scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      s"columns not pruned at the ORC scan (text must not be read):\n$plan")
  }

  test("q76 SCD2 broadcasts the batch on both probes — history never shuffles") {
    import graft.operators.Scd
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"))
    val history = sup.select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"),
      lit("2026-01-01").cast("date").as("valid_from"),
      lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    val incoming = sup.filter(col("s_suppkey") % 3 === 0)
      .withColumn("effective", lit("2026-08-01").cast("date"))
    val plan = planString(Scd.scd2Apply(history, incoming,
      Seq("s_suppkey"), Seq("s_acctbal", "s_nationkey"), "effective"))
    assert(plan.contains("BroadcastHashJoin"), s"batch must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("Exchange hashpartitioning"),
      s"the 100 TB history side must not shuffle:\n$plan")
  }

  test("q93 SCD2 delta bloom-prunes the history scan and never shuffles it") {
    import graft.operators.Scd
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"))
    val history = sup.select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"),
      lit("2026-01-01").cast("date").as("valid_from"),
      lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    val incoming = sup.filter(col("s_suppkey") % 3 === 0)
      .withColumn("effective", lit("2026-08-01").cast("date"))
    val plan = planString(Scd.scd2Delta(history, incoming,
      Seq("s_suppkey"), Seq("s_acctbal", "s_nationkey"), "effective"))
    assert(plan.contains("might_contain"),
      s"history probe must be bloom-pre-filtered at the scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"batch must broadcast:\n$plan")
    // the only permitted exchange is the batch-side key-set distinct
    // (__graft_k_*); the history columns must never hash-partition
    val historyExchanges = "Exchange hashpartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).filterNot(_.contains("__graft_k_")).toSeq
    assert(!plan.contains("SortMergeJoin") && historyExchanges.isEmpty,
      s"the 100 TB history side must not shuffle ($historyExchanges):\n$plan")
  }

  test("q79 partitioned-layout read prunes directories via PartitionFilters") {
    val rt = graft.sources.Staging.bulkLoadRoundtrip(
      spark, Tables.documents(spark, sfDir), "lang",
      s"${GraftSession.scratchRoot}/graft-part-spec/documents")
    val plan = planString(rt.filter(col("lang") === "en").select("doc_id", "lang"))
    assert(plan.contains("PartitionFilters: [isnotnull(lang") &&
      plan.contains("= en)"),
      s"lang filter must prune directories, not scan rows:\n$plan")
    // the partition predicate must NOT degrade to a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      s"partition filter leaked into the data scan:\n$plan")
  }

  test("q88 incremental merge broadcasts the delta — the view side never re-shuffles") {
    import graft.operators.Incremental
    val base = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 3 =!= 0)
    val delta = Tables.orders(spark, sfDir).filter(col("o_orderkey") % 3 === 0)
      .withColumnRenamed("o_totalprice", "total")
    val matAgg = base.groupBy(col("o_custkey")).agg(
      count(lit(1L)).as("pedidos"),
      sum(col("o_totalprice").cast("decimal(28,6)"))
        .cast("decimal(28,6)").as("total"))
    val plan = planString(Incremental.mergeAggregate(
      matAgg, delta, Seq("o_custkey"), "pedidos", Map("total" -> "decimal(28,6)")))
    assert(plan.contains("BroadcastHashJoin"), s"delta must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the materialized view must never shuffle for the merge:\n$plan")
  }

  test("chunkTokens is a scan-level explode — zero shuffles") {
    val plan = planString(graft.llm.Curation.chunkTokens(
      Tables.documents(spark, sfDir).select("doc_id", "text"), "text", 40, 10))
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle — it is per-document work:\n$plan")
    assert(plan.contains("Generate"), s"expected an explode:\n$plan")
  }

  test("token frequency scoring never goes cartesian and combines map-side") {
    val plan = planString(graft.llm.TextAnalysis.tokenFrequencyScore(
      Tables.documents(spark, sfDir), "doc_id", "text"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"vocabulary join must be an equi-join:\n$plan")
    assert(plan.contains("HashAggregate"),
      s"vocabulary counts need map-side partial aggregation:\n$plan")
  }

  test("HTML extraction is scan-level — zero shuffles, no UDF") {
    val plan = planString(Tables.documents(spark, sfDir)
      .select(graft.llm.WebText.extractText(col("text"))))
    assert(!plan.contains("Exchange"),
      s"extraction must be per-page work:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
  }

  test("heavy hitters top-k never globally sorts the gram universe") {
    val df = graft.llm.TextAnalysis.topNgrams(
      Tables.documents(spark, sfDir), "doc_id", "text", n = 3, k = 10)
    val plan = planString(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must use per-partition heaps:\n$plan")
  }

  test("mixture capping broadcasts the rate table; the corpus never shuffles") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val plan = planString(
      graft.llm.Curation.rebalanceToCap(docs, "doc_id", "lang", cap = 10))
    assert(plan.contains("BroadcastHashJoin"),
      s"per-domain rates must broadcast:\n$plan")
    // the only Exchanges allowed feed the tiny rate aggregate, not the
    // corpus scan side: corpus rows flow scan -> broadcast join -> filter
    assert(!plan.contains("SortMergeJoin"),
      s"the 100 TB side must not shuffle for the join:\n$plan")
  }

  test("chunk purge is two shuffles: chunk-text window + per-doc rebuild") {
    val plan = planString(graft.llm.Curation.purgeRepeatedChunks(
      Tables.documents(spark, sfDir).select("doc_id", "text"),
      "doc_id", "text", window = 10))
    // count the FINAL adaptive plan only (toString repeats the initial one)
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(finalPlan).size
    assert(exchanges <= 2, s"expected window + rebuild shuffles only:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"the single-aggregation form needs no join:\n$plan")
  }

  test("q127 sketch estimate never rejoins shingle sets — the exact " +
      "verify does") {
    val est = planString(SparkEntry.queries("q127_minhash_estimate")(spark, sfDir))
    graft.llm.CacheScope.releaseAll()
    // the estimator's verify folds signatures; the shingle merge-walk
    // kernel appearing in its plan would mean text-sized arrays crossed
    // the pair join after all
    assert(!est.contains("sorted_intersect_count"),
      s"sketch path must not touch shingle sets:\n${est.take(4000)}")
    val exact = planString(SparkEntry.queries("q26_minhash_lsh")(spark, sfDir))
    graft.llm.CacheScope.releaseAll()
    assert(exact.contains("sorted_intersect_count"),
      "control: the exact path does run the shingle merge-walk")
  }

  test("q121 DSIR probes the ratio table by broadcast; no SortMergeJoin " +
      "touches the corpus feature stream") {
    val plan = planString(SparkEntry.queries("q121_dsir_select")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket→ratio probe must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"DSIR must never go cartesian:\n$plan")
  }

  test("q122 dictionary tagging broadcasts the phrase table — the corpus " +
      "never shuffles for the match") {
    val plan = planString(SparkEntry.queries("q122_dict_tagging")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"phrase table must be the broadcast build side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle to meet the dictionary:\n$plan")
  }

  test("q159 attribution has no window sort — first/last touch fold in " +
      "the aggregation") {
    val plan = planString(SparkEntry.queries("q159_attribution")(spark, sfDir))
    assert(!plan.contains("Window"),
      s"attribution must not per-conversion window-sort:\n$plan")
    graft.llm.CacheScope.releaseAll()
  }

  test("q172 LOO target encoding probes category stats by broadcast; the " +
      "fact table never shuffles") {
    val plan = planString(SparkEntry.queries("q172_loo_target")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"category stats must be the broadcast build side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"facts must not shuffle for the encoding join:\n$plan")
    graft.llm.CacheScope.releaseAll()
  }

  test("q153 PPS sampling never sorts globally — every window is " +
      "bucket-partitioned or tiny") {
    val plan = planString(SparkEntry.queries("q153_pps_sample")(spark, sfDir))
    // the only unpartitioned window allowed is the 256-row bucket-offset
    // prefix; the corpus-side running sum must be partitioned by bucket
    assert(plan.contains("Window [") || plan.contains("Window"),
      s"expected window operators:\n$plan")
    assert(plan.contains("partitionBy") || plan.contains("__bk"),
      s"corpus cumsum must be bucket-partitioned:\n$plan")
    graft.llm.CacheScope.releaseAll()
  }

  test("trainPerceptron epochs reuse the feature table's doc partitioning " +
      "— weight probes broadcast, corpus exchanges stay constant in epochs") {
    def exchanges(epochs: Int): Int = {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y"))
      val plan = planString(graft.llm.TextAnalysis.trainPerceptron(
        docs, "doc_id", "text", "y", buckets = 64, epochs = epochs))
      graft.llm.CacheScope.releaseAll()
      "Exchange hashpartitioning".r.findAllIn(
        plan.split("== Initial Plan ==").head).size
    }
    val (e2, e4) = (exchanges(2), exchanges(4))
    // each extra epoch may only add bucket-level (≤`buckets`-row)
    // exchanges — gradient + weight-accumulate — never a corpus shuffle;
    // the corpus-sized feature build amortizes across all epochs via the
    // one persisted repartition(__id)
    assert(e4 - e2 <= 2 * 2,
      s"epochs must not re-shuffle the corpus: 2 epochs=$e2, 4 epochs=$e4")
  }
}
