package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Dbf, HtmlForm, Listing, ParquetSink, ReportCsv, Staging, Tables}
import graft.operators._

/** Warehouse operations: SCD/CDC/upsert/diff, layout (bucketing, z-order, bloom,
  * compaction, time travel), windows/top-k, sketches, as-of and interval joins.
  *
  * Registry shard of [[SparkEntry]] — entries moved verbatim; see SURVEY.md §2
  * for the operator-row mapping.
  */
private[graft] trait RegistryWarehouse extends RegistryBase {

  protected def queriesWarehouse: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2 row 44 — NON-month-aligned period lookup (periods run 15th→14th):
    // bucketed range join — periods exploded into overlapped months,
    // BroadcastHashJoin on the month bucket, range kept as residual. The
    // per-row probe count stays constant instead of scaling with |periods|.
    "q44_bucketed_range_join" -> { (s, dir) =>
      val periods = Tables.orders(s, dir).select(
        to_date(date_trunc("MONTH", col("o_orderdate"))).as("m"))
        .distinct()
        .select(
          date_add(col("m"), 14).as("data_inicio"),
          date_add(add_months(col("m"), 1), 13).as("data_fim"),
          date_format(date_add(col("m"), 14), "yyyyMMdd").as("periodo_codigo"))
      val joined = DimJoins.periodLookupBucketed(
        Tables.lineitem(s, dir), to_date(col("l_shipdate")),
        periods, "data_inicio", "data_fim")
      ordered(joined.select(
        col("l_orderkey"), col("l_linenumber"), col("l_shipdate"), col("periodo_codigo")))
    },

    // §2 row 40 — incremental staleness detection (verificar_e_executar):
    // consumed-ts null or older than produced-ts.
    "q40_stale_detect" -> { (s, dir) =>
      val k = col("o_orderkey")
      val meta = Tables.orders(s, dir).select(
        k.as("item_id"),
        col("o_orderdate").as("ts_producao"),
        when(k % 3 === 0, lit(null).cast("timestamp"))
          .when(k % 5 === 0, col("o_orderdate") - expr("INTERVAL 2 DAYS"))
          .otherwise(col("o_orderdate") + expr("INTERVAL 1 DAY")).as("ts_consumo"))
      ordered(Incremental.needsRefresh(meta, "ts_producao", "ts_consumo"))
    },

    // Event-time as-of join: every non-error event picks up the ts/value
    // of the SAME user's latest error at-or-before it (config-at-event
    // lookup). DuckDB's native ASOF LEFT JOIN is the oracle.
    "q61_asof_join" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val dim = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "value")
      val fact = ev.filter(col("event_type") =!= "error")
      ordered(AsOf.asOfJoin(fact, dim, "user_id", "ts", Seq("value"), "cfg_"))
    },

    // JSONL staging roundtrip: the corpus written as distributed JSONL
    // shards (the LLM interchange format) and read back under the
    // explicit schema — values and types must survive exactly.
    "q72_jsonl_roundtrip" -> { (s, dir) =>
      ordered(Staging.jsonlRoundtrip(
        s, Tables.documents(s, dir),
        s"${GraftSession.scratchRoot}/graft-jsonl/documents"))
    },

    // Per-group top-k via the bounded-heap TopKRows aggregate
    // (ObjectHashAggregate with partial merge: the shuffle carries <= k
    // rows per group per map partition, never the whole table like the
    // window row_number form): top-3 customers per nation by balance,
    // ties broken on the smaller custkey.
    "q74_group_topk" -> { (s, dir) =>
      ordered(TopK.groupTopK(
        Tables.customer(s, dir), "c_nationkey", "c_acctbal", "c_custkey",
        k = 3))
    },

    // ORC staging roundtrip (the Hive-lake columnar format): distributed
    // write + explicit-schema re-read, then a filtered pruned read whose
    // predicate reaches the ORC scan (plan-asserted in PlanShapeSpec) —
    // values must survive the format change exactly.
    "q75_orc_roundtrip" -> { (s, dir) =>
      val rt = Staging.orcRoundtrip(s, Tables.documents(s, dir),
        s"${GraftSession.scratchRoot}/graft-orc/documents")
      ordered(rt.filter(col("lang") === "en")
        .select("doc_id", "lang", "source", "n_chars"))
    },

    // SCD type-2 history maintenance: an incoming supplier batch (some
    // changed balances, some no-ops, some brand-new keys) closes the
    // superseded open versions at the effective date and appends new open
    // ones — history never shuffles, both probes broadcast the batch.
    "q76_scd2_history" -> { (s, dir) =>
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"))
      val open = sup.select(
        col("s_suppkey"), col("s_acctbal"), col("s_nationkey"),
        lit("2026-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
      val closedHist = sup.filter(col("s_suppkey") % 4 === 0).select(
        col("s_suppkey"), (col("s_acctbal") - 50).as("s_acctbal"),
        col("s_nationkey"),
        lit("2025-01-01").cast("date").as("valid_from"),
        lit("2026-01-01").cast("date").as("valid_to"),
        lit(false).as("is_current"))
      val history = open.unionByName(closedHist)
      val incoming = sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"), (col("s_acctbal") + 100).as("s_acctbal"),
          col("s_nationkey"))
        .unionByName(sup.filter(col("s_suppkey") % 3 === 1))
        .unionByName(sup.filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") + 10000).as("s_suppkey"),
            (col("s_acctbal") * 2).as("s_acctbal"), col("s_nationkey")))
        .withColumn("effective", lit("2026-08-01").cast("date"))
      ordered(Scd.scd2Apply(history, incoming,
        Seq("s_suppkey"), Seq("s_acctbal", "s_nationkey"), "effective"))
    },

    // Attribution interval join: each click pairs with the same user's
    // purchases within 30 minutes after it — an equi-join on the user key
    // with the time bound as residual predicate (one shuffle per side,
    // pair space bounded per user; never a time-bucket cross product).
    // StreamingSpec runs the watermark-bounded stream-stream twin.
    "q78_interval_join" -> { (s, dir) =>
      ordered(streaming.Events.intervalJoin(
        Tables.events(s, dir), "click", "purchase", boundMinutes = 30))
    },

    // Hive-layout partition pruning: the corpus written partitioned by
    // lang, re-read with a lang filter — the filter must become a
    // PartitionFilter (directory pruning, plan-asserted in
    // PlanShapeSpec), not a row filter over every file.
    "q79_partition_prune" -> { (s, dir) =>
      val rt = Staging.bulkLoadRoundtrip(s, Tables.documents(s, dir), "lang",
        s"${GraftSession.scratchRoot}/graft-part/documents")
      ordered(rt.filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars"))
    },

    // Wide pivot with EXPLICIT values (no extra distinct pass over the
    // corpus): per-user event counts, one column per event type.
    "q81_pivot" -> { (s, dir) =>
      ordered(Rollup.pivotCounts(Tables.events(s, dir), "user_id",
        "event_type", Seq("click", "error", "purchase", "signup", "view")))
    },

    // Explicit skew salting: the fact side scatters each supplier key over
    // 8 deterministic salt groups, the dimension replicates 8×, and the
    // result must equal the plain join exactly (the salt is
    // expression-derived, never rand() — task retries stay idempotent).
    "q82_skew_join" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")
      val dim = Tables.supplier(s, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"), col("s_acctbal"))
      ordered(Skew.saltedJoin(li, dim, "l_suppkey",
        Seq("l_orderkey", "l_linenumber"), salt = 8))
    },

    // OLAP rollup (GROUPING SETS): per-(lang, source) doc counts and char
    // sums with lang-level and grand totals in ONE map-side-combinable
    // pass — the panel's summary views without one job per level.
    "q83_rollup_agg" -> { (s, dir) =>
      ordered(Tables.documents(s, dir)
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1L)).as("docs"), sum(col("n_chars")).as("chars"),
          grouping_id().cast("int").as("nivel")))
    },

    // Small-file compaction: the corpus fragmented into 64 tiny files,
    // rewritten as 4 range-clustered files sorted on doc_id (disjoint
    // min/max ranges -> file skipping; spec asserts the layout). Content
    // must survive identically.
    "q84_compaction" -> { (s, dir) =>
      val root = s"${GraftSession.scratchRoot}/graft-compact"
      val frag = Staging.stageRoundtrip(
        s, Tables.documents(s, dir).repartition(64), s"$root/frag")
      ordered(Staging.compact(s, frag, "doc_id", 4, s"$root/compacted"))
    },

    // Snapshot reconciliation: a rebuilt orders table (every 11th row
    // dropped, every 7th repriced) diffed against the previous snapshot —
    // multiset exceptAll both ways, modified rows surface as one
    // removida + one adicionada.
    "q85_table_diff" -> { (s, dir) =>
      val old = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val neu = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      ordered(Diff.diffSnapshots(old, neu))
    },

    // One-pass long-format profile (nulls planted in lang): counts, exact
    // distincts, min/max per column — one Expand aggregation, one scan.
    "q87_profile" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        when(col("doc_id") % 9 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"),
        col("source"), col("n_chars"))
      ordered(Profile.profile(d, Seq("doc_id", "lang", "source", "n_chars")))
    },

    // Incremental view maintenance: a per-customer count/sum rollup built
    // from 2/3 of orders, then the remaining third folded in as a delta
    // batch — the materialized side never shuffles (broadcast delta
    // aggregate + semi-pruned key slice), and DECIMAL sums make the fold
    // bit-identical to the full recompute the oracle runs.
    "q88_incr_aggregate" -> { (s, dir) =>
      val base = Tables.orders(s, dir).filter(col("o_orderkey") % 3 =!= 0)
      val delta = Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
      val matAgg = base.groupBy(col("o_custkey")).agg(
        count(lit(1L)).as("pedidos"),
        sum(col("o_totalprice").cast("decimal(28,6)"))
          .cast("decimal(28,6)").as("total"))
      val merged = Incremental.mergeAggregate(
        matAgg, delta.withColumnRenamed("o_totalprice", "total"),
        Seq("o_custkey"), "pedidos", Map("total" -> "decimal(28,6)"))
      ordered(merged.select(col("o_custkey"), col("pedidos"),
        col("total").cast("double").as("total")))
    },

    // Anti-entropy checksum: one (rows, order-independent md5-sum) row
    // replaces shipping the table to compare replicas/rebuilds — exact
    // DECIMAL sum of portable per-row hashes, null-sentinel'd columns.
    "q90_table_checksum" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 19 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("l_returnflag"),
        col("l_shipdate"))
      ordered(Diff.tableChecksum(li,
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")))
    },

    // q61's as-of join through the custom Catalyst operator
    // (AsOfJoinNode -> AsOfJoinStrategy -> sort-merge AsOfJoinExec): same
    // semantics and oracle, but one forward merge pass with a single held
    // dim row instead of the union + running-window plan.
    "q91_asof_native" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val dim = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "value")
      val fact = ev.filter(col("event_type") =!= "error")
      ordered(AsOf.asOfJoinNative(fact, dim, Seq("user_id"), "ts", Seq("value"), "cfg_"))
    },

    // Generalized bounded-heap per-group top-k (arbitrary payload types —
    // strings, dates — not just q74's primitive score/id pairs): top-5
    // lineitem rows per return flag. The sort key spans every payload
    // column so exact-duplicate rows are interchangeable and the result
    // is deterministic under any partitioning.
    "q92_group_topk_rows" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      ordered(TopK.groupTopKRows(li, Seq("l_returnflag"),
        Seq(("l_quantity", false), ("l_orderkey", true),
          ("l_linenumber", true), ("l_shipdate", true)), 5))
    },

    // Incremental SCD2 (q76's batch against the same synthetic history)
    // as a DELTA: only the closed and newly-opened versions, never a
    // rewrite of the full history — the only history pass is a
    // bloom+is_current-pruned scan, then broadcast joins.
    "q93_scd2_delta" -> { (s, dir) =>
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_acctbal"), col("s_nationkey"))
      val open = sup.select(
        col("s_suppkey"), col("s_acctbal"), col("s_nationkey"),
        lit("2026-01-01").cast("date").as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
      val closedHist = sup.filter(col("s_suppkey") % 4 === 0).select(
        col("s_suppkey"), (col("s_acctbal") - 50).as("s_acctbal"),
        col("s_nationkey"),
        lit("2025-01-01").cast("date").as("valid_from"),
        lit("2026-01-01").cast("date").as("valid_to"),
        lit(false).as("is_current"))
      val history = open.unionByName(closedHist)
      val incoming = sup.filter(col("s_suppkey") % 3 === 0)
        .select(col("s_suppkey"), (col("s_acctbal") + 100).as("s_acctbal"),
          col("s_nationkey"))
        .unionByName(sup.filter(col("s_suppkey") % 3 === 1))
        .unionByName(sup.filter(col("s_suppkey") % 5 === 0)
          .select((col("s_suppkey") + 10000).as("s_suppkey"),
            (col("s_acctbal") * 2).as("s_acctbal"), col("s_nationkey")))
        .withColumn("effective", lit("2026-08-01").cast("date"))
      ordered(Scd.scd2Delta(history, incoming,
        Seq("s_suppkey"), Seq("s_acctbal", "s_nationkey"), "effective"))
    },

    // Deterministic per-group sampling (k docs per language) through the
    // same bounded heap: "first k by md5(id)" is a uniform-ish,
    // partition-independent, oracle-replayable sample — no full sort, no
    // rand() seed state, map-side capped like every TopKRows use.
    "q94_group_sample" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"))
        .withColumn("h", md5(col("doc_id").cast("string")))
      ordered(TopK.groupTopKRows(docs, Seq("lang"),
        Seq(("h", true), ("doc_id", true)), 3))
    },

    // Full-frame window aggregates (the share-of-group annotation idiom).
    // GraftSession's WindowAggRewrite replans these as a per-group
    // aggregation broadcast-joined back (no full-table sort); the DuckDB
    // oracle computes the WINDOW natively, so the hash check proves the
    // rewrite is value-exact, not merely plausible.
    "q97_window_agg" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")
      ordered(Tables.lineitem(s, dir)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("grp_qty",
          sum(col("l_quantity").cast("decimal(28,3)")).over(w).cast("double"))
        .withColumn("grp_n", count(lit(1L)).over(w)))
    },

    // Z-order (Morton) clustering value over (o_custkey, o_orderkey):
    // exact BIGINT min-max scaling + bit interleave, the multi-column
    // file-pruning layout key. Layout.zorderLayout writes the clustered
    // files; the oracle replays the arithmetic bit-for-bit.
    "q95_zorder" -> { (s, dir) =>
      val ords = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      ordered(Layout.zorderValue(ords, Seq("o_custkey", "o_orderkey")))
    },

    // CDC changelog apply: orders replayed as a change log onto the
    // customer snapshot — the LATEST change per customer wins (o_orderkey
    // is the unique sequence), final status F deletes the row, anything
    // else replaces it with the change's row image. Winner via the
    // bounded-heap TopKRows aggregate; snapshot probed with a broadcast
    // anti join (never shuffled).
    "q98_cdc_apply" -> { (s, dir) =>
      val target = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal")
      val changes = Tables.orders(s, dir).select(
        col("o_custkey").as("c_custkey"),
        concat(lit("upd_"), col("o_orderkey")).as("c_name"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderkey").as("seq"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"))
      ordered(Cdc.applyChangelog(target, changes, Seq("c_custkey"), "seq", "op"))
    },

    // Mergeable count-min frequency sketch (Cormode–Muthukrishnan) over
    // token bigrams: ≤ depth·width (4×256) rows of state no matter the
    // corpus size — exact n-gram counts need vocabulary-sized state; the
    // sketch builds in ONE combinable aggregation and merges across
    // shards by cell addition (spec-proven equal to the whole-corpus
    // build). Heavy hitters = broadcast-probe estimates (min over 4
    // cells) joined to exact counts: est ≥ cnt always, collisions only
    // add. The portable-md5 hash family keeps the sketch replayable in
    // any engine — the oracle rebuilds every cell and probe bit-for-bit.
    "q132_countmin_bigrams" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val bigrams = docs
        .select(llm.TextAnalysis.tokens(col("text")).as("__toks"))
        .select(explode(llm.TextAnalysis.shingles(col("__toks"), 2))
          .as("bigram"))
      val sketch = operators.Incremental.cmsBuild(
        bigrams, "bigram", depth = 4, width = 256)
      val exact = bigrams.groupBy("bigram").agg(count(lit(1L)).as("cnt"))
      ordered(operators.Incremental
        .cmsEstimate(sketch, exact, "bigram", depth = 4, width = 256)
        .join(exact, "bigram")
        .filter(col("est") >= 50)
        .select(col("bigram"), col("cnt"), col("est")))
    },

    // Contiguous dense ids in a total order WITHOUT the global-window
    // single-partition collapse: range-repartition + per-partition sort
    // + the two-phase zipWithIndex offset — ids are a pure function of
    // the total order, identical under any partitioning. Oracle: the
    // naive row_number()-1 (fine for DuckDB, the exact plan Spark must
    // NOT use at 100 TB).
    "q148_contiguous_ids" -> { (s, dir) =>
      val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
      ordered(operators.Ids.contiguousIds(o, Seq(("o_orderkey", true))))
    },

    // Misra–Gries heavy hitters GRADED end-to-end: the native bounded-
    // state aggregate proposes candidates (k=28 counters against a
    // 31-token vocabulary — eviction pressure is real), an exact recount
    // confirms, and the integer guard `cnt·(k+1) > N` keeps exactly the
    // over-threshold set. The oracle computes that set directly — if MG
    // ever dropped a guaranteed item, the join would LOSE a row and the
    // compare goes red, so the retention guarantee itself is what's
    // graded. Two scans by design (sketch pass + confirm pass): at
    // 100 TB the candidate set (≤k rows) is what makes the second pass
    // a cheap semi-joined recount instead of a full vocabulary sort.
    "q177_mg_confirm" -> { (s, dir) =>
      val k = 28
      val toks = Tables.documents(s, dir)
        .select(explode(llm.TextAnalysis.tokens(col("text"))).as("item"))
      val cand = operators.Incremental.heavyHitters(toks, "item", k)
        .select(col("item"))
      val exact = toks.groupBy("item").agg(count(lit(1L)).as("ocorrencias"))
      val total = toks.agg(count(lit(1L)).as("__n"))
      ordered(cand.join(exact, "item")
        .crossJoin(broadcast(total))
        .filter(col("ocorrencias") * (k + 1) > col("__n"))
        .select(col("item"), col("ocorrencias")))
    },

    // Versioned layout + time travel GRADED: three deterministic commits
    // into a fresh table dir, then a version-2 read — the oracle replays
    // v2's defining transform straight against the source table, so the
    // layout's snapshot isolation (v3 must not leak into a v2 read) is
    // what's hash-checked.
    "q178_time_travel" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .select("doc_id", "lang", "source", "n_chars")
      val tdir = scratchDir("graft-timetravel") + "/tabela"
      sources.Versioned.commitVersion(
        base.filter(col("doc_id") % 2 === 0), tdir) // v1
      sources.Versioned.commitVersion(
        base.filter(col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") + lit(1L)), tdir) // v2
      sources.Versioned.commitVersion(
        base.filter(col("doc_id") % 5 === 0), tdir) // v3 (head)
      ordered(sources.Versioned.readVersion(s, tdir, Some(2)))
    },

    // Revenue per priority THROUGH the co-bucketed catalog tables
    // (write both sides bucketed+sorted on the join key, join with no
    // shuffle on either side — PlanShapeSpec proves the zero-Exchange
    // plan; this query grades the RESULT against the plain-join oracle).
    "q212_bucketed_join" -> { (s, dir) =>
      val li = sources.Staging.bucketedTable(s,
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice"),
        "graft_q212_li", "l_orderkey", 8)
      val o = sources.Staging.bucketedTable(s,
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        "graft_q212_ord", "o_orderkey", 8)
      ordered(li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority").as("prioridade"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(38,6)")).cast("double")
            .as("receita"),
          count(lit(1L)).as("n_itens")))
    },

    // Bloom file-skipping manifest, GRADED the q212 way (r11 VERDICT
    // #2): the manifest changes WHICH FILES are opened, never the
    // result. Orders land range-clustered on o_custkey, a per-file
    // Bloom manifest is written in one aggregation pass, and the point
    // lookup reads ONLY bloom-matching files (file names collected,
    // bloom bytes never reach the driver) — the answer is graded
    // against the plain full-scan oracle. The real IN predicate still
    // applies after pruning (manifest pruning is sound, not complete).
    "q216_bloom_pruned_read" -> { (s, dir) =>
      val root = s"${GraftSession.scratchRoot}/graft-q216"
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(8, col("o_custkey"))
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite").parquet(root)
      operators.Layout.writeBloomManifest(s, root, "o_custkey")
      val keys = Seq(7L, 42L, 99L, 123L)
      ordered(operators.Layout.bloomPrunedRead(s, root, "o_custkey", keys)
        .filter(col("o_custkey").isin(keys: _*))
        .groupBy("o_custkey")
        .agg(count(lit(1L)).as("n_pedidos"),
          sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .as("total")))
    },

    // Z-order compaction + unified manifest, GRADED (r11 VERDICT #2):
    // one zorderCompact rewrite (curve clustering, compaction and the
    // per-key bloom+bounds manifest sharing a single shuffle), then the
    // combined range+point manifest-pruned read — bounding boxes prune
    // the o_orderkey RANGE on curve-compact files, blooms prune the
    // o_custkey POINT probes, zero parquet footers opened. Result is
    // graded against the plain-scan oracle (layout never changes the
    // answer); the real predicate applies after pruning.
    "q217_zorder_manifest_read" -> { (s, dir) =>
      val root = s"${GraftSession.scratchRoot}/graft-q217"
      val ords = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      operators.Layout.zorderCompact(
        s, ords, Seq("o_custkey", "o_orderkey"), 8, root)
      val keys = Seq(7L, 42L, 99L, 123L)
      ordered(operators.Layout.manifestPrunedRead(s, root,
          ranges = Map("o_orderkey" -> (100L, 5000L)),
          points = Map("o_custkey" -> keys))
        .filter(col("o_orderkey").between(100L, 5000L) &&
          col("o_custkey").isin(keys: _*))
        .groupBy("o_orderstatus")
        .agg(count(lit(1L)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .as("total")))
    },

    // Pre-join skew/cost diagnostics: per-side key counts, hottest keys
    // (per-partition heaps, no global sort) and the EXACT join output
    // cardinality sum(c_l*c_r) — the report the q146 wedge join should
    // be sized from before it runs. Diagnoses the lineitem×lineitem
    // self-join on l_partkey (the co-purchase pair volume).
    "q163_join_diagnostics" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      ordered(operators.Profile.joinDiagnostics(
        li, li, "l_partkey", "l_partkey", topK = 5))
    },

    // SCD2 point-in-time lookup: which dimension version was true when
    // the fact happened — ONE native as-of pass (history keyed on
    // valid_from), then already-expired matches nulled so history gaps
    // yield nulls instead of stale versions. Customers %10==0 have no
    // second version: their post-1995 orders exercise the gap path.
    "q158_scd2_lookup" -> { (s, dir) =>
      val cust = Tables.customer(s, dir)
      // o_orderdate reads as TIMESTAMP_NTZ from parquet; the synthetic
      // versions match that type so the as-of sides agree
      val v1 = cust.select(col("c_custkey"),
        concat(lit("OLD:"), col("c_mktsegment")).as("segmento"),
        lit("1992-01-01 00:00:00").cast("timestamp_ntz").as("valid_from"),
        lit("1995-06-17 00:00:00").cast("timestamp_ntz").as("valid_to"))
      val v2 = cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0)
        .select(col("c_custkey"), col("c_mktsegment").as("segmento"),
          lit("1995-06-17 00:00:00").cast("timestamp_ntz").as("valid_from"),
          lit(null).cast("timestamp_ntz").as("valid_to"))
      val facts = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_orderdate"))
      ordered(operators.Scd.scd2Lookup(
        facts, v1.unionByName(v2), Seq("c_custkey"), "o_orderdate",
        Seq("segmento")))
    },

    // Changelog extraction (q98's inverse): two full snapshots reduce
    // through multiset exceptAll FIRST, so the insert/delete/update
    // classification join runs at churn volume, never table volume —
    // the "generate a change feed from full reloads" path full-dump
    // sources (the reference's FTP extracts) need.
    "q157_cdc_extract" -> { (s, dir) =>
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val oldSnap = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val newSnap = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(3)) === 0,
            col("o_totalprice") + 1.0).otherwise(col("o_totalprice")))
      ordered(operators.Cdc.extractChangelog(
        oldSnap, newSnap, Seq("o_orderkey")))
    },

    // Declarative data-contract validation (the reference's validar_pa
    // generalized to a dbt-test-style suite): all row-local checks fold
    // into ONE conditional-count scan, uniqueness is one combinable
    // groupBy, referential integrity one broadcast left-join pass
    // counting probes and misses together. One report row per check.
    "q155_expectations" -> { (s, dir) =>
      import operators.Expectations._
      ordered(operators.Expectations.validate(Tables.orders(s, dir), Seq(
        NotNull("o_custkey"),
        Accepted("o_orderstatus", Seq("F", "O")),
        InRange("o_totalprice", 1000.0, 300000.0),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", Tables.customer(s, dir), "c_custkey"))))
    },

    // §2 row 237 — schema-evolution lake reads: batch 1 predates
    // o_totalprice, batch 2 has it; mergeSchema fuses the footers at
    // planning time and readEvolved fills the pre-column vintage with
    // the declared default (a partition-value predicate). Graded
    // against the plain UNION-ALL-with-defaults oracle.
    "q223_schema_evolution" -> { (s, dir) =>
      val root = s"${GraftSession.scratchRoot}/graft-q223"
      val o = Tables.orders(s, dir)
      sources.Evolution.writeBatch(
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_orderstatus"), root, 1)
      sources.Evolution.writeBatch(
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice"), root, 2)
      ordered(sources.Evolution.readEvolved(s, root,
          Map("o_totalprice" -> (2, 0.0)))
        .groupBy(col("o_orderstatus").as("situacao"),
          col("batch").cast("long").as("lote"))
        .agg(count(lit(1L)).as("n"),
          sum(col("o_totalprice").cast("decimal(38,6)")).cast("double")
            .as("total")))
    },
  )

  protected def oraclesWarehouse: Map[String, String] = Map(

    "q223_schema_evolution" ->
      """WITH ev AS (
        |  SELECT o_orderstatus, 0.0 AS o_totalprice, 1 AS lote
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice, 2 AS lote
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderstatus AS situacao, CAST(lote AS BIGINT) AS lote,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total
        |FROM ev GROUP BY 1, 2
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q44_bucketed_range_join" ->
      """SELECT l_orderkey, l_linenumber, l_shipdate, p.periodo_codigo
        |FROM lineitem l LEFT JOIN (
        |  SELECT DISTINCT
        |    CAST(date_trunc('month', o_orderdate) AS DATE) + 14 AS data_inicio,
        |    CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE) + 13
        |      AS data_fim,
        |    strftime(CAST(date_trunc('month', o_orderdate) AS DATE) + 14, '%Y%m%d')
        |      AS periodo_codigo
        |  FROM orders) p
        |ON CAST(l_shipdate AS DATE) >= p.data_inicio
        |  AND CAST(l_shipdate AS DATE) <= p.data_fim
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q40_stale_detect" ->
      """SELECT * FROM (
        |  SELECT o_orderkey AS item_id, o_orderdate AS ts_producao,
        |    CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |         WHEN o_orderkey % 5 = 0 THEN o_orderdate - INTERVAL 2 DAY
        |         ELSE o_orderdate + INTERVAL 1 DAY END AS ts_consumo
        |  FROM orders)
        |WHERE ts_consumo IS NULL OR ts_producao > ts_consumo
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union-merge
    // as-of implementation (same at-or-before, latest-dim-row semantics).
    "q61_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, ts, user_id, event_type, value FROM events),
        |dim AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'error'),
        |fact AS (SELECT * FROM ev WHERE event_type <> 'error')
        |SELECT f.event_id, f.ts, f.user_id, f.event_type, f.value,
        |  d.ts AS cfg_ts, d.value AS cfg_value
        |FROM fact f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts >= d.ts
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // A faithful JSONL roundtrip returns the table unchanged.
    "q72_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The bounded-heap aggregate must agree with the ANSI window form:
    // rank by (balance DESC, custkey ASC) within each nation, keep 3.
    "q74_group_topk" ->
      """SELECT c_nationkey, CAST(rn AS INT) AS posicao,
        |  c_custkey, c_acctbal
        |FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // A faithful ORC roundtrip returns the filtered projection unchanged.
    "q75_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en'
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // SCD2 replay: close matched-and-changed open rows at the effective
    // date, append new versions for changed attrs and brand-new keys.
    "q76_scd2_history" ->
      """WITH sup AS (SELECT s_suppkey, s_acctbal, s_nationkey FROM supplier),
        |hist AS (
        |  SELECT s_suppkey, s_acctbal, s_nationkey,
        |    DATE '2026-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    TRUE AS is_current
        |  FROM sup
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal - 50, s_nationkey,
        |    DATE '2025-01-01', DATE '2026-01-01', FALSE
        |  FROM sup WHERE s_suppkey % 4 = 0),
        |incoming AS (
        |  SELECT s_suppkey, s_acctbal + 100 AS s_acctbal, s_nationkey
        |  FROM sup WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal, s_nationkey
        |  FROM sup WHERE s_suppkey % 3 = 1
        |  UNION ALL
        |  SELECT s_suppkey + 10000, s_acctbal * 2, s_nationkey
        |  FROM sup WHERE s_suppkey % 5 = 0),
        |cur AS (SELECT * FROM hist WHERE is_current),
        |hist_out AS (
        |  SELECT h.s_suppkey, h.s_acctbal, h.s_nationkey, h.valid_from,
        |    CASE WHEN h.is_current AND i.s_suppkey IS NOT NULL
        |              AND (h.s_acctbal IS DISTINCT FROM i.s_acctbal
        |                   OR h.s_nationkey IS DISTINCT FROM i.s_nationkey)
        |         THEN DATE '2026-08-01' ELSE h.valid_to END AS valid_to,
        |    CASE WHEN h.is_current AND i.s_suppkey IS NOT NULL
        |              AND (h.s_acctbal IS DISTINCT FROM i.s_acctbal
        |                   OR h.s_nationkey IS DISTINCT FROM i.s_nationkey)
        |         THEN FALSE ELSE h.is_current END AS is_current
        |  FROM hist h LEFT JOIN incoming i ON h.s_suppkey = i.s_suppkey),
        |new_rows AS (
        |  SELECT i.s_suppkey, i.s_acctbal, i.s_nationkey,
        |    DATE '2026-08-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    TRUE AS is_current
        |  FROM incoming i LEFT JOIN cur c ON i.s_suppkey = c.s_suppkey
        |  WHERE c.s_suppkey IS NULL
        |     OR i.s_acctbal IS DISTINCT FROM c.s_acctbal
        |     OR i.s_nationkey IS DISTINCT FROM c.s_nationkey)
        |SELECT * FROM hist_out UNION ALL SELECT * FROM new_rows
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same-user click→purchase pairs within [0, 30] minutes.
    "q78_interval_join" ->
      """SELECT c.user_id, c.event_id AS gatilho_id, p.event_id AS conversao_id,
        |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS atraso_s
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) - epoch_us(c.ts) >= 0
        |  AND epoch_us(p.ts) - epoch_us(c.ts) <= 30 * 60 * 1000000
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // A pruned partitioned read returns the filtered projection unchanged.
    "q79_partition_prune" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en'
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Conditional counts reproduce the explicit-values pivot.
    "q81_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The salted join must equal the plain join.
    "q82_skew_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, l.l_quantity,
        |  s.s_name, s.s_acctbal
        |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // ROLLUP grouping sets with the (lang, source) grouping bit vector.
    "q83_rollup_agg" ->
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  CAST(GROUPING(lang, source) AS INT) AS nivel
        |FROM documents
        |GROUP BY ROLLUP(lang, source)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Compaction only changes layout; content is the identity.
    "q84_compaction" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // EXCEPT ALL both ways reproduces the multiset snapshot diff.
    "q85_table_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |neu AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 11 <> 0)
        |SELECT *, 'adicionada' AS mudanca
        |FROM (SELECT * FROM neu EXCEPT ALL SELECT * FROM old)
        |UNION ALL
        |SELECT *, 'removida'
        |FROM (SELECT * FROM old EXCEPT ALL SELECT * FROM neu)
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Per-column UNION ALL replays the one-pass profile.
    "q87_profile" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN NULL ELSE lang END AS lang,
        |    source, n_chars
        |  FROM documents)
        |SELECT 'doc_id' AS coluna, CAST(count(doc_id) AS BIGINT) AS nao_nulos,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS distintos,
        |  CAST(min(doc_id) AS VARCHAR) AS minimo,
        |  CAST(max(doc_id) AS VARCHAR) AS maximo FROM d
        |UNION ALL
        |SELECT 'lang', CAST(count(lang) AS BIGINT),
        |  CAST(count(DISTINCT lang) AS BIGINT),
        |  CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM d
        |UNION ALL
        |SELECT 'source', CAST(count(source) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT),
        |  CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM d
        |UNION ALL
        |SELECT 'n_chars', CAST(count(n_chars) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT),
        |  CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM d
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The folded view must equal the from-scratch aggregate.
    "q88_incr_aggregate" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS pedidos,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DECIMAL(28,6))
        |    AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The checksum is a plain commutative sum — SQL replays it directly:
    // per-column md5 tokens (null → 32 'n's), row digest over their
    // concatenation, two 32-bit halves recombined into a 64-bit addend.
    "q90_table_checksum" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_orderkey % 19 = 0 THEN NULL ELSE l_returnflag END
        |      AS l_returnflag,
        |    l_shipdate
        |  FROM lineitem),
        |h AS (
        |  SELECT md5(
        |    coalesce(md5(CAST(l_orderkey AS VARCHAR)), repeat('n', 32)) ||
        |    coalesce(md5(CAST(l_linenumber AS VARCHAR)), repeat('n', 32)) ||
        |    coalesce(md5(l_returnflag), repeat('n', 32)) ||
        |    coalesce(md5(CAST(l_shipdate AS VARCHAR)), repeat('n', 32)))
        |    AS d
        |  FROM li)
        |SELECT CAST(count(*) AS BIGINT) AS linhas,
        |  CAST(sum(
        |    CAST(CAST(('0x' || substring(d, 1, 8)) AS BIGINT) AS HUGEINT)
        |      * 4294967296 +
        |    CAST(CAST(('0x' || substring(d, 9, 8)) AS BIGINT) AS HUGEINT))
        |    AS VARCHAR) AS soma_verificacao
        |FROM h
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q91_asof_native" ->
      """WITH ev AS (
        |  SELECT event_id, ts, user_id, event_type, value FROM events),
        |dim AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'error'),
        |fact AS (SELECT * FROM ev WHERE event_type <> 'error')
        |SELECT f.event_id, f.ts, f.user_id, f.event_type, f.value,
        |  d.ts AS cfg_ts, d.value AS cfg_value
        |FROM fact f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.ts >= d.ts
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q92_group_topk_rows" ->
      """WITH ranked AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity, l_shipdate,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity DESC, l_orderkey, l_linenumber, l_shipdate)
        |      AS INTEGER) AS posicao
        |  FROM lineitem)
        |SELECT * FROM ranked WHERE posicao <= 5
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q93_scd2_delta" ->
      """WITH sup AS (SELECT s_suppkey, s_acctbal, s_nationkey FROM supplier),
        |hist AS (
        |  SELECT s_suppkey, s_acctbal, s_nationkey,
        |    DATE '2026-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to,
        |    TRUE AS is_current
        |  FROM sup
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal - 50, s_nationkey,
        |    DATE '2025-01-01', DATE '2026-01-01', FALSE
        |  FROM sup WHERE s_suppkey % 4 = 0),
        |incoming AS (
        |  SELECT s_suppkey, s_acctbal + 100 AS s_acctbal, s_nationkey
        |  FROM sup WHERE s_suppkey % 3 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_acctbal, s_nationkey
        |  FROM sup WHERE s_suppkey % 3 = 1
        |  UNION ALL
        |  SELECT s_suppkey + 10000, s_acctbal * 2, s_nationkey
        |  FROM sup WHERE s_suppkey % 5 = 0),
        |cur AS (SELECT * FROM hist WHERE is_current),
        |m AS (
        |  SELECT i.s_suppkey, i.s_acctbal AS in_acctbal,
        |    i.s_nationkey AS in_nationkey, c.s_acctbal AS cur_acctbal,
        |    c.s_nationkey AS cur_nationkey, c.valid_from AS cur_valid_from,
        |    c.s_suppkey IS NOT NULL AS has_cur,
        |    (c.s_suppkey IS NOT NULL AND
        |      (c.s_acctbal IS DISTINCT FROM i.s_acctbal
        |       OR c.s_nationkey IS DISTINCT FROM i.s_nationkey)) AS mudou
        |  FROM incoming i LEFT JOIN cur c ON i.s_suppkey = c.s_suppkey)
        |SELECT s_suppkey, cur_acctbal AS s_acctbal,
        |  cur_nationkey AS s_nationkey, cur_valid_from AS valid_from,
        |  DATE '2026-08-01' AS valid_to, FALSE AS is_current,
        |  'fechar' AS acao
        |FROM m WHERE mudou
        |UNION ALL
        |SELECT s_suppkey, in_acctbal, in_nationkey, DATE '2026-08-01',
        |  CAST(NULL AS DATE), TRUE, 'abrir'
        |FROM m WHERE NOT has_cur OR mudou
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q94_group_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY h, doc_id) AS INTEGER) AS posicao
        |  FROM d)
        |SELECT * FROM ranked WHERE posicao <= 3
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q95_zorder" -> zorderOracle,

    "q97_window_agg" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,3)))
        |    OVER (PARTITION BY l_suppkey) AS DOUBLE) AS grp_qty,
        |  count(*) OVER (PARTITION BY l_suppkey) AS grp_n
        |FROM lineitem ORDER BY ALL NULLS FIRST""".stripMargin,

    "q98_cdc_apply" ->
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey,
        |         'upd_' || o_orderkey AS c_name,
        |         o_totalprice AS c_acctbal,
        |         o_orderkey AS seq,
        |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        |  FROM orders),
        |w AS (
        |  SELECT * FROM (
        |    SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
        |                                    ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        |SELECT c_custkey, c_name, c_acctbal FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.c_custkey = c.c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal FROM w WHERE op <> 'D'
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // the sketch replayed cell-for-cell: same md5 h1/h2 split as q127,
    // rows i=0..3 via a cross-joined range, j = ((h1+i·h2) mod P) mod 256
    "q132_countmin_bigrams" ->
      """WITH tk AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT unnest([tk[i] || ' ' || tk[i+1]
        |                 for i in range(1, len(tk))]) AS bigram
        |  FROM tk),
        |h AS (
        |  SELECT bigram,
        |    CAST(('0x' || substring(md5(bigram), 1, 8)) AS BIGINT) AS h1,
        |    CAST(('0x' || substring(md5(bigram), 9, 8)) AS BIGINT) AS h2
        |  FROM bg),
        |cells AS (
        |  SELECT u.i, ((h1 + u.i * h2) % 4294967291) % 256 AS j
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS i) u),
        |sketch AS (
        |  SELECT i, j, CAST(count(*) AS BIGINT) AS c
        |  FROM cells GROUP BY i, j),
        |exact AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM bg GROUP BY bigram),
        |probes AS (
        |  SELECT e.bigram, u.i,
        |    ((CAST(('0x' || substring(md5(e.bigram), 1, 8)) AS BIGINT) +
        |      u.i * CAST(('0x' || substring(md5(e.bigram), 9, 8)) AS BIGINT))
        |     % 4294967291) % 256 AS j
        |  FROM exact e CROSS JOIN (SELECT unnest(range(0, 4)) AS i) u),
        |est AS (
        |  SELECT bigram, min(coalesce(c, 0)) AS est
        |  FROM probes p LEFT JOIN sketch s ON p.i = s.i AND p.j = s.j
        |  GROUP BY bigram)
        |SELECT bigram, cnt, est
        |FROM est JOIN exact USING (bigram)
        |WHERE est >= 50
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    "q148_contiguous_ids" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS seq_id
        |FROM orders ORDER BY ALL NULLS FIRST""".stripMargin,

    // One row per declared expectation: row-local checks from one
    // conditional-count pass, uniqueness from grouped counts, RI from a
    // left join over non-null FKs.
    "q155_expectations" ->
      """WITH loc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_nn,
        |    CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND o_orderstatus NOT IN ('F','O') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_av,
        |    CAST(sum(CASE WHEN o_totalprice IS NOT NULL
        |      AND (o_totalprice < 1000.0 OR o_totalprice > 300000.0)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS v_ir
        |  FROM orders),
        |uq AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0)
        |      AS BIGINT) AS v,
        |    CAST(coalesce(sum(n), 0) AS BIGINT) AS total
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)),
        |ri AS (
        |  SELECT
        |    CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN 1
        |      ELSE 0 END), 0) AS BIGINT) AS v,
        |    CAST(count(*) AS BIGINT) AS total
        |  FROM orders o
        |  LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |  WHERE o.o_custkey IS NOT NULL)
        |SELECT 'not_null:o_custkey' AS verificacao, v_nn AS violacoes,
        |  total FROM loc
        |UNION ALL SELECT 'accepted_values:o_orderstatus', v_av, total
        |  FROM loc
        |UNION ALL SELECT 'in_range:o_totalprice', v_ir, total FROM loc
        |UNION ALL SELECT 'unique:o_orderkey', v, total FROM uq
        |UNION ALL SELECT 'ref_integrity:o_custkey', v, total FROM ri
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Computes the over-threshold token set DIRECTLY (no sketch): any
    // guaranteed item the MG candidate pass dropped would surface as a
    // missing row on the Spark side.
    "q177_mg_confirm" ->
      """WITH t AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS item
        |  FROM documents),
        |c AS (SELECT item, CAST(count(*) AS BIGINT) AS ocorrencias
        |      FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT item, ocorrencias FROM c, n WHERE ocorrencias * 29 > n
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays version 2's defining transform straight off the source
    // table — the snapshot the time-travel read must reproduce exactly.
    "q178_time_travel" ->
      """SELECT doc_id, lang, source,
        |  CAST(n_chars + 1 AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The bucketed layout changes the PLAN, never the answer: the
    // oracle is the plain join + decimal-summed rollup.
    "q212_bucketed_join" ->
      """SELECT o_orderpriority AS prioridade,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
        |    AS DECIMAL(38,6)) AS DOUBLE) AS receita,
        |  CAST(count(*) AS BIGINT) AS n_itens
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // The layout contract: pruning changes which files are opened,
    // never the answer — the oracle is the plain full-scan query.
    "q216_bloom_pruned_read" ->
      """SELECT o_custkey, count(*) AS n_pedidos,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
        |    AS DECIMAL(38,6)) AS DOUBLE) AS total
        |FROM orders WHERE o_custkey IN (7, 42, 99, 123)
        |GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Same contract for the combined range+point manifest read.
    "q217_zorder_manifest_read" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
        |    AS DECIMAL(38,6)) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 5000
        |  AND o_custkey IN (7, 42, 99, 123)
        |GROUP BY 1
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays per-side counts, the top-5 hottest keys with the
    // (count DESC, key ASC) tie-break, and the exact product-sum join
    // cardinality.
    "q163_join_diagnostics" ->
      """WITH cl AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS chave,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1),
        |summ AS (
        |  SELECT 'linhas_esq' AS metrica, CAST(NULL AS VARCHAR) AS chave,
        |    CAST(sum(c) AS BIGINT) AS valor FROM cl
        |  UNION ALL
        |  SELECT 'chaves_esq', NULL, CAST(count(*) AS BIGINT) FROM cl
        |  UNION ALL
        |  SELECT 'linhas_dir', NULL, CAST(sum(c) AS BIGINT) FROM cl
        |  UNION ALL
        |  SELECT 'chaves_dir', NULL, CAST(count(*) AS BIGINT) FROM cl
        |  UNION ALL
        |  SELECT 'linhas_juncao', NULL,
        |    CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT) FROM cl),
        |hot AS (
        |  SELECT chave, c FROM cl ORDER BY c DESC, chave LIMIT 5)
        |SELECT metrica, chave, valor FROM summ
        |UNION ALL
        |SELECT 'quente_esq', chave, c FROM hot
        |UNION ALL
        |SELECT 'quente_dir', chave, c FROM hot
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays the synthetic two-version history, DuckDB's native ASOF
    // LEFT JOIN on valid_from, and the expiry null-out for gap keys.
    "q158_scd2_lookup" ->
      """WITH v1 AS (
        |  SELECT c_custkey, 'OLD:' || c_mktsegment AS segmento,
        |    TIMESTAMP '1992-01-01' AS valid_from,
        |    TIMESTAMP '1995-06-17' AS valid_to
        |  FROM customer),
        |v2 AS (
        |  SELECT c_custkey, c_mktsegment AS segmento,
        |    TIMESTAMP '1995-06-17' AS valid_from,
        |    CAST(NULL AS TIMESTAMP) AS valid_to
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |hist AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
        |f AS (SELECT o_orderkey, o_custkey AS c_custkey, o_orderdate
        |      FROM orders)
        |SELECT f.o_orderkey, f.c_custkey, f.o_orderdate,
        |  CASE WHEN h.valid_to IS NOT NULL AND f.o_orderdate >= h.valid_to
        |       THEN NULL ELSE h.segmento END AS dim_segmento
        |FROM f ASOF LEFT JOIN hist h
        |  ON f.c_custkey = h.c_custkey AND f.o_orderdate >= h.valid_from
        |ORDER BY ALL NULLS FIRST""".stripMargin,

    // Replays both snapshot derivations, the two EXCEPT ALL reductions
    // and the churn-volume classification join.
    "q157_cdc_extract" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders),
        |oldt AS (SELECT * FROM base WHERE o_orderkey % 10 <> 0),
        |newt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 7 <> 0),
        |rem AS (
        |  SELECT o_orderkey, 1 AS was FROM
        |    (SELECT * FROM oldt EXCEPT ALL SELECT * FROM newt)),
        |add_ AS (
        |  SELECT *, 1 AS isnew FROM
        |    (SELECT * FROM newt EXCEPT ALL SELECT * FROM oldt))
        |SELECT coalesce(rem.o_orderkey, add_.o_orderkey) AS o_orderkey,
        |  CASE WHEN rem.was IS NULL THEN 'I'
        |       WHEN add_.isnew IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  add_.o_custkey, add_.o_orderstatus, add_.o_totalprice
        |FROM rem FULL OUTER JOIN add_ ON rem.o_orderkey = add_.o_orderkey
        |ORDER BY ALL NULLS FIRST""".stripMargin,
  )
}
