package graft

/** Print the executed plan of named queries (plan-audit loop). Args
  * containing `=` are session conf sets applied in order (the SpotBench
  * A/B convention), so a pinned/unpinned plan pair comes from one main.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()
    for (arg <- args) {
      if (arg.contains("=")) {
        val Array(k, v) = arg.split("=", 2)
        spark.conf.set(k, v)
        println(s"EXPLAIN-CONF $k=$v")
      } else {
        println(s"===== $arg =====")
        SparkEntry.queries(arg)(spark, sfDir).explain("formatted")
        llm.CacheScope.releaseAll()
      }
    }
    spark.stop()
  }
}

/** Time named queries with the noop sink. Args containing `=` are session
  * conf sets applied IN ORDER, so one invocation can A/B an optimizer
  * toggle: `SpotBench q92
  * spark.sql.optimizer.excludedRules=graft.plans.WindowTopKRewrite q92`.
  * `probe:` names run perf-probe VARIANTS of graded queries (degraded or
  * alternative internals) that must stay outside the graded contract.
  */
object SpotBench {

  /** q183's corpus, verbatim (customer names + planted one-deletion
    * variants) — shared by the stage-decomposition probes below.
    */
  private def q183Corpus(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val c = graft.sources.Tables.customer(s, dir).select(
      col("c_custkey"), lower(trim(col("c_name"))).as("nome"))
    val variants = c.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        concat(substring(col("nome"), 1, 12),
          substring(col("nome"), 14, 100000)).as("nome"))
    c.unionByName(variants)
  }

  /** q27's simhash signature frame (__id, __v0..__v3) over its graded
    * corpus (documents + planted first-token-dropped variants) — the
    * shared signature stage of the three decomposition probes below,
    * factored so the probes cannot drift from each other (they are
    * meant to DECOMPOSE one pipeline, not three).
    */
  private def q27Signatures(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(s, dir).select("doc_id", "text")
    val variants = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text",
        concat_ws(" ", slice(llm.TextAnalysis.tokens(col("text")), 2, 100000)))
    // delegates to the production signature stage (round-15: the
    // distinct-text collapse lives INSIDE it, so the probes keep
    // decomposing the real pipeline rather than a stale copy)
    llm.Dedup.simhashSignaturesPortable(
      docs.unionByName(variants), "doc_id", "text")
  }

  /** q241's graded corpus with a configurable MM iteration count — the
    * scaling probes (q241_bt1/bt3) share it. */
  private def q241Duels(
      s: org.apache.spark.sql.SparkSession, dir: String,
      iters: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.sources.Tables
    val l = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("m"),
        col("l_shipdate").as("d"))
    val duels = l.as("a").join(l.as("b"),
      col("a.ok") === col("b.ok") && col("a.m") =!= col("b.m") &&
        col("a.d") < col("b.d"))
      .select(col("a.m").as("vencedor"), col("b.m").as("perdedor"))
    graft.operators.Inference.bradleyTerry(
      duels, "vencedor", "perdedor", iters = iters)
  }

  /** The banded block explode over a (persisted) signature frame — the
    * candidate-keying stage shared by q27_pairs_only / q27_cand_stream.
    */
  private def q27Keyed(
      sh: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    sh.select(col("__id") +:
      (0 until 4).map(j => col(s"__v$j")) :+
      explode(array((0 until 4).map { j =>
        lit(j.toLong * 65536L) + col(s"__v$j")
      }: _*)).as("__block"): _*)
  }

  /** Perf-probe variants — same inputs as their graded twins, internals
    * deliberately altered for attribution experiments.
    */
  private val probes: Map[String,
      (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    // q27 with skew tiling DISABLED (maxBlock = Int.MaxValue → every
    // block takes the plain self-join path): isolates tiledPairs'
    // salting/explode overhead from the inherent pair-scoring cost
    "q27_no_tiling" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.sources.Tables
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          concat_ws(" ", slice(llm.TextAnalysis.tokens(col("text")), 2, 100000)))
      llm.Dedup.simhashPairsPortable(
        docs.unionByName(variants), "doc_id", "text", maxHamming = 3,
        maxBlock = Int.MaxValue)
    },
    // q241 stage decomposition: the brand-duel corpus collapse alone
    // (self-join + win-count aggregation), so the full query's residual
    // is the MM iteration tail on the 25-item matrix.
    "q241_duels_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.sources.Tables
      val l = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("m"),
          col("l_shipdate").as("d"))
      l.as("a").join(l.as("b"),
        col("a.ok") === col("b.ok") && col("a.m") =!= col("b.m") &&
          col("a.d") < col("b.d"))
        .select(col("a.m").as("vencedor"), col("b.m").as("perdedor"))
        .groupBy("vencedor", "perdedor").agg(count(lit(1L)).as("n"))
    },
    // q241 iteration-count scaling probes (is the MM tail linear in k,
    // or a per-step plan pathology?)
    "q241_bt1" -> { (s, dir) => q241Duels(s, dir, 1) },
    "q241_bt3" -> { (s, dir) => q241Duels(s, dir, 3) },
    // q183 stage decomposition (round-14 positional channels): (a) the
    // class collapse alone, (b) + both distance-1 channels producing
    // class pairs (pre-expansion), so the full query's residual is the
    // exact channel + the two output-bound expansion joins.
    "q183_classes_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      q183Corpus(s, dir)
        .select(col("nome").as("__s")).filter(col("__s").isNotNull)
        .distinct()
        .agg(count(lit(1L)).as("n"))
    },
    "q183_cand_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val classes = llm.CacheScope.persistTracked(
        q183Corpus(s, dir)
          .select(col("nome").as("__s")).filter(col("__s").isNotNull)
          .distinct())
      val deletable = classes.filter(length(col("__s")) > 0)
      val subKeyed = deletable.select(col("__s").as("__id"),
          posexplode(expr(
            "transform(sequence(1, length(__s)), i -> " +
              "concat(substring(__s, 1, i-1), " +
              "substring(__s, i+1, 2147483647)))")))
        .select(col("__id"),
          concat_ws("\u0000", col("pos").cast("string"), col("col"))
            .as("__block"))
      val subPairs = llm.Dedup
        .tiledPairs(subKeyed, Seq.empty, llm.Dedup.AdaptiveBlock,
          cache = false)
        .select(col("id_a").as("__cka"), col("id_b").as("__ckb"))
      val indelPairs = deletable.select(col("__s").as("__cka"),
          explode(array_distinct(expr(
            "transform(sequence(1, length(__s)), i -> " +
              "concat(substring(__s, 1, i-1), " +
              "substring(__s, i+1, 2147483647)))"))).as("__v"))
        .join(classes.select(col("__s").as("__v"), col("__s").as("__ckb")),
          Seq("__v"))
        .select(col("__cka"), col("__ckb"))
      subPairs.unionByName(indelPairs).agg(count(lit(1L)).as("n"))
    },
    // q27 stage decomposition: simhash cost split into (a) the
    // signature aggregation alone, (b) + banded block explode +
    // tiledPairs candidate generation (hamming/distinct dropped), so
    // the graded query's residual is hamming verify + pair distinct.
    "q27_sig_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      q27Signatures(s, dir).agg(count(lit(1L)).as("n"))
    },
    "q27_pairs_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val sh = llm.CacheScope.persistTracked(q27Signatures(s, dir))
      llm.Dedup.tiledPairs(q27Keyed(sh), (0 until 4).map(j => s"__v$j"),
          llm.Dedup.AdaptiveBlock, cache = false)
        .agg(count(lit(1L)).as("n"))
    },
    // q161's layers in isolation: the co-purchase edge construction
    // (order-blocked self-join + distinct) vs one degree aggregation —
    // locates the sf10 16 GiB OOM between the query's input side and
    // the peel loop.
    "q161_edges_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ps = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      ps.select(col("o"), col("p").as("p1"))
        .join(ps.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .select(col("p1").as("src"), col("p2").as("dst")).distinct()
        .agg(count(lit(1L)).as("n"))
    },
    "q161_edges_degrees" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ps = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val e = ps.select(col("o"), col("p").as("p1"))
        .join(ps.select(col("o"), col("p").as("p2")), Seq("o"))
        .filter(col("p1") < col("p2"))
        .select(col("p1").as("a"), col("p2").as("b")).distinct()
      e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1L)).as("grau"))
        .agg(count(lit(1L)).as("n"))
    },
    // q27's full pipeline with the answer AGGREGATED instead of
    // globally sorted (the q186_engine discipline): at sf10 the answer
    // is ~2.46B pairs (×100 replication squares every group expansion
    // — measured count:q27_simhash this round), so the graded query's
    // determinism sort times the answer's own volume; this probe times
    // the ENGINE (signatures, banding, hamming verify, expansion) with
    // the output streamed into one combinable aggregate.
    "q27_engine" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      SparkEntry.queries("q27_simhash")(s, dir)
        .groupBy("hamming")
        .agg(count(lit(1L)).as("n"),
          // cast each id BEFORE adding: long + long can overflow before
          // a post-add cast widens (ADVICE r15; probe-only checksum)
          sum(col("id_a").cast("decimal(38,0)") +
            col("id_b").cast("decimal(38,0)"))
            .as("soma"))
    },
    // q27's raw candidate stream (tiledPairs output, payload carried,
    // hamming NOT yet filtered) — for `count:` cardinality attribution
    "q27_cand_stream" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val sh = llm.CacheScope.persistTracked(q27Signatures(s, dir))
      llm.Dedup.tiledPairs(q27Keyed(sh), (0 until 4).map(j => s"__v$j"),
        llm.Dedup.AdaptiveBlock, cache = false)
    },
    // q235's B-aggregation-columns twin (bit-identical output): the
    // explode-form fans the scan ×B before the combinable aggregate;
    // this probe pays 2·B buffer slots + B md5 calls per row instead.
    "q235_cols_form" -> { (s, dir) =>
      operators.Bootstrap.bootstrapMeanCiCols(
        graft.sources.Tables.orders(s, dir), Seq("o_orderpriority"),
        "o_orderkey", "o_totalprice", b = 100, alpha = 0.05)
    },
    // q195's rank map in isolation, new (valueBelow 256-bucket) vs old
    // (partition-less window) — the r14 A/B for the distinct-value
    // cumulative engine swap
    "q195_rank_new" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val base = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_returnflag").cast("string").as("__g"),
          col("l_extendedprice").cast("double").as("__v"))
        .filter(col("__g").isNotNull && col("__v").isNotNull)
        .transform(llm.CacheScope.persistTracked)
      operators.Stats.valueBelow(base, "__v")
        .agg(count(lit(1L)).as("n"), sum(col("__below")).as("s"))
    },
    "q195_rank_old" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val base = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_returnflag").cast("string").as("__g"),
          col("l_extendedprice").cast("double").as("__v"))
        .filter(col("__g").isNotNull && col("__v").isNotNull)
        .transform(llm.CacheScope.persistTracked)
      val wBelow = Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy("__v").agg(count(lit(1L)).as("__cnt"))
        .withColumn("__below",
          coalesce(sum(col("__cnt")).over(wBelow), lit(0L)))
        .agg(count(lit(1L)).as("n"), sum(col("__below")).as("s"))
    },
    // q186's full pipeline with the answer AGGREGATED instead of
    // globally sorted: at sf10 the answer is ~2.6B scored pairs (the
    // x100 replica cross-product is the true result volume), and the
    // graded query's determinism sort is not what a production consumer
    // would do with it - this probe times the ENGINE (candidates,
    // expansion, broadcast attr joins, scoring) with the output
    // streamed into one combinable aggregate.
    "q186_engine" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      SparkEntry.queries("q186_fellegi_sunter")(s, dir)
        .groupBy("classificacao")
        .agg(count(lit(1L)).as("n"),
          sum(col("pontuacao").cast("decimal(38,12)")).as("soma"))
    },
    // q186's candidate layer in the r12 (join-back) shape: bare-id
    // candidate pairs distinct'd, then two joins to recover strings —
    // the A/B control for payload-carry at maxDist=2, where the variant
    // table is ~170× rows and the payload bytes are not free.
    "q186_cand_oldshape" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.customer(s, dir).select(
        col("c_custkey").as("id"), lower(trim(col("c_name"))).as("nome"),
        col("c_nationkey").as("nacao"))
      val v = c.filter(col("id") % 7 === 0).select(
        (col("id") + 10000000L).as("id"),
        concat(substring(col("nome"), 1, 12),
          substring(col("nome"), 14, 100000)).as("nome"),
        col("nacao"))
      val all = c.unionByName(v)
      val strs = llm.CacheScope.persistTracked(llm.Spread(
        all.select(col("id").as("__id"), col("nome").as("__s"),
            col("nacao").cast("string").as("__st"))
          .filter(col("__s").isNotNull && col("__st").isNotNull))
        .withColumn("__len", length(col("__s")).cast("long")))
      var variants = strs.select(col("__id"), col("__st"),
        col("__s").as("__v"))
      for (_ <- 1 to 2) {
        variants = variants.select(col("__id"), col("__st"), explode(expr(
          "case when length(__v) = 0 then array(__v) else " +
            "array_union(array(__v), transform(sequence(1, length(__v)), " +
            "i -> concat(substring(__v, 1, i-1), " +
            "substring(__v, i+1, 2147483647)))) end")).as("__v"))
      }
      val keyed = variants.select(col("__id"),
          concat_ws("\u0000", col("__st"), col("__v")).as("__block"))
        .distinct()
      val cand = llm.Dedup.tiledPairs(keyed, Seq.empty, llm.Dedup.AdaptiveBlock)
        .select(least(col("id_a"), col("id_b")).as("__ida"),
          greatest(col("id_a"), col("id_b")).as("__idb"))
        .distinct()
      cand
        .join(strs.select(col("__id").as("__ida"), col("__s").as("__sa"),
          col("__len").as("__la")), "__ida")
        .join(strs.select(col("__id").as("__idb"), col("__s").as("__sb"),
          col("__len").as("__lb")), "__idb")
        .filter(abs(col("__la") - col("__lb")) <= 2)
        .select(col("__ida"), col("__idb"),
          levenshtein(col("__sa"), col("__sb"), 2).cast("long").as("dist"))
        .filter(col("dist") >= 0L && col("dist") <= 2L)
        .agg(count(lit(1L)).as("n"))
    },
    // the same candidate layer through the CURRENT payload-carry core
    "q186_cand_newshape" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val c = graft.sources.Tables.customer(s, dir).select(
        col("c_custkey").as("id"), lower(trim(col("c_name"))).as("nome"),
        col("c_nationkey").as("nacao"))
      val v = c.filter(col("id") % 7 === 0).select(
        (col("id") + 10000000L).as("id"),
        concat(substring(col("nome"), 1, 12),
          substring(col("nome"), 14, 100000)).as("nome"),
        col("nacao"))
      operators.Linkage.editJoinDeletesOn(
          c.unionByName(v), "id", "nome", "nacao", maxDist = 2)
        .agg(count(lit(1L)).as("n"))
    },
    // q183 verify-stage A/B #1: carry (string, len) through tiledPairs
    // as payload so the verify stage needs NO joins back to the corpus —
    // pairs arrive with both strings attached.
    "q183_payload" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val rec = q183Corpus(s, dir)
      val strs = rec.select(col("c_custkey").as("__id"),
        col("nome").as("__s"), length(col("nome")).cast("long").as("__len"))
      val variants = strs.select(col("__id"), col("__s"), col("__len"),
          col("__s").as("__v"))
        .select(col("__id"), col("__s"), col("__len"), explode(expr(
          "case when length(__v) = 0 then array(__v) else " +
            "array_union(array(__v), transform(sequence(1, length(__v)), " +
            "i -> concat(substring(__v, 1, i-1), " +
            "substring(__v, i+1, 2147483647)))) end")).as("__v"))
      val keyed = variants
        .select(col("__id"), col("__s"), col("__len"),
          col("__v").as("__block"))
        .distinct()
      llm.Dedup.tiledPairs(keyed, Seq("__s", "__len"),
          llm.Dedup.AdaptiveBlock)
        .filter(abs(col("__len_a") - col("__len_b")) <= 1)
        .select(
          least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          levenshtein(col("__s_a"), col("__s_b"), 1).cast("long")
            .as("dist"))
        .filter(col("dist") >= 0L && col("dist") <= 1L)
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    },
    // q183 verify-stage A/B #2: keep the candidate→corpus joins but
    // force SHUFFLE_HASH (no sort of the big pair side — the q181 cure).
    "q183_shash" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val rec = q183Corpus(s, dir)
      val strs = rec.select(col("c_custkey").as("__id"),
        col("nome").as("__s"), length(col("nome")).cast("long").as("__len"))
      val variants = strs.select(col("__id"), col("__s").as("__v"))
        .select(col("__id"), explode(expr(
          "case when length(__v) = 0 then array(__v) else " +
            "array_union(array(__v), transform(sequence(1, length(__v)), " +
            "i -> concat(substring(__v, 1, i-1), " +
            "substring(__v, i+1, 2147483647)))) end")).as("__v"))
      val keyed = variants.select(col("__id"), col("__v").as("__block"))
        .distinct()
      val cand = llm.Dedup.tiledPairs(keyed, Seq.empty,
          llm.Dedup.AdaptiveBlock)
        .select(least(col("id_a"), col("id_b")).as("__ida"),
          greatest(col("id_a"), col("id_b")).as("__idb"))
        .distinct()
      cand
        .join(strs.select(col("__id").as("__ida"), col("__s").as("__sa"),
          col("__len").as("__la")).hint("shuffle_hash"), "__ida")
        .join(strs.select(col("__id").as("__idb"), col("__s").as("__sb"),
          col("__len").as("__lb")).hint("shuffle_hash"), "__idb")
        .filter(abs(col("__la") - col("__lb")) <= 1)
        .select(col("__ida").as("id_a"), col("__idb").as("id_b"),
          levenshtein(col("__sa"), col("__sb"), 1).cast("long").as("dist"))
        .filter(col("dist") >= 0L && col("dist") <= 1L)
        .orderBy(col("id_a"), col("id_b"))
    },
    // IVF fit+route probes: flat vs two-level at the same TOTAL cell
    // count — the measurement behind Dedup.FlatCellLimit. Each probe
    // builds the index (k-means fit) and routes the whole corpus
    // (assignment argmin), the two costs the threshold trades: flat
    // pays O(cells·dim) per routed row with the centroid matrix as a
    // plan literal; hierarchical pays O((√cells+√cells)·dim) with
    // centroids in joined DataFrames.
    "ivf_flat_256" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 256)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_256" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 16, kFine = 16)
        .assigned.groupBy("__cell").count()
    },
    "ivf_flat_1024" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 1024)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_1024" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 32, kFine = 32)
        .assigned.groupBy("__cell").count()
    },
    "ivf_flat_4096" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 4096)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_4096" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 64, kFine = 64)
        .assigned.groupBy("__cell").count()
    },
    // q146's wedge stage ALONE (ordering filter applied, closing join
    // dropped, wedges counted): attributes the query's cost between
    // O(E^1.5) pair generation and the closing probe
    "q146_wedges_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.sources.Tables
      val ps = Tables.lineitem(s, dir).filter(col("l_partkey") % 20 === 0)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
        .distinct()
      val und = ps.select(col("p"), col("sup").as("s1"))
        .join(ps.select(col("p"), col("sup").as("s2")), Seq("p"))
        .filter(col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      val deg = und.select(col("a").as("__v"))
        .unionByName(und.select(col("b").as("__v")))
        .groupBy("__v").agg(count(lit(1L)).as("__deg"))
      val withDeg = und
        .join(deg.select(col("__v").as("a"), col("__deg").as("__da")), Seq("a"))
        .join(deg.select(col("__v").as("b"), col("__deg").as("__db")), Seq("b"))
      val aFirst = col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b"))
      val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("__dw"))
      val wedge = oriented.select(col("u"), col("w").as("x"), col("__dw").as("__dx"))
        .join(oriented.select(col("u"), col("w").as("y"), col("__dw").as("__dy")),
          Seq("u"))
        .filter(col("__dx") < col("__dy") ||
          (col("__dx") === col("__dy") && col("x") < col("y")))
      wedge.agg(count(lit(1L)).as("wedges"))
    },
    // q146 through the closing probe but WITHOUT the per-vertex
    // explode+count: isolates the probe from the credit aggregation
    "q146_probe_only" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      import graft.sources.Tables
      val ps = Tables.lineitem(s, dir).filter(col("l_partkey") % 20 === 0)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sup"))
        .distinct()
      val und = ps.select(col("p"), col("sup").as("s1"))
        .join(ps.select(col("p"), col("sup").as("s2")), Seq("p"))
        .filter(col("s1") < col("s2"))
        .select(col("s1").as("a"), col("s2").as("b")).distinct()
      val deg = und.select(col("a").as("__v"))
        .unionByName(und.select(col("b").as("__v")))
        .groupBy("__v").agg(count(lit(1L)).as("__deg"))
      val withDeg = und
        .join(deg.select(col("__v").as("a"), col("__deg").as("__da")), Seq("a"))
        .join(deg.select(col("__v").as("b"), col("__deg").as("__db")), Seq("b"))
      val aFirst = col("__da") < col("__db") ||
        (col("__da") === col("__db") && col("a") < col("b"))
      val oriented = withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("__db")).otherwise(col("__da")).as("__dw"))
        .transform(llm.CacheScope.persistTracked)
      val wedge = oriented.select(col("u"), col("w").as("x"), col("__dw").as("__dx"))
        .join(oriented.select(col("u"), col("w").as("y"), col("__dw").as("__dy")),
          Seq("u"))
        .filter(col("__dx") < col("__dy") ||
          (col("__dx") === col("__dy") && col("x") < col("y")))
      val close = oriented.select(
        xxhash64(col("u"), col("w")).as("__ck"),
        col("u").as("__cx"), col("w").as("__cy"))
      wedge.withColumn("__ck", xxhash64(col("x"), col("y")))
        .join(broadcast(close), Seq("__ck"))
        .filter(col("__cx") === col("x") && col("__cy") === col("y"))
        .agg(count(lit(1L)).as("triangles"))
    },
    // q206's 100 TB shape measured honestly, split the way a long-lived
    // corpus actually runs: fit/encode/index ONCE to a persisted
    // cell-partitioned encoded table (+ codebook/centroid tables), then
    // the query path alone against the stored artifacts — the rehearsal
    // curve the graded q206 (in-query fit) can't show.
    "pq_persist_build" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      val base = s"/tmp/graft-pqidx-${new java.io.File(dir).getName}"
      val model = llm.Pq.fit(emb, "vec_id", "embedding", m = 8, k = 16,
        samplePct = 30)
      val idx = llm.Ivf.index(emb, "vec_id", "embedding", nCells = 16,
        samplePct = 30)
      llm.Pq.encode(emb, "vec_id", "embedding", model)
        .join(idx.assigned.select("vec_id", "__cell"), Seq("vec_id"))
        .write.mode("overwrite").partitionBy("__cell")
        .parquet(s"$base/encoded")
      idx.centroids.write.mode("overwrite").parquet(s"$base/centroids")
      val cb = model.codebooks.zipWithIndex.flatMap { case (cents, sub) =>
        cents.zipWithIndex.map { case (c, j) => (sub, j, c) } }
      import s.implicits._
      cb.toDF("__sub", "__code", "__cent")
        .write.mode("overwrite").parquet(s"$base/codebook")
      s.read.parquet(s"$base/encoded").groupBy().count()
    },
    "pq_persist_query" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val base = s"/tmp/graft-pqidx-${new java.io.File(dir).getName}"
      val emb = graft.sources.Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") % 200 === 0)
      val enc = s.read.parquet(s"$base/encoded")
      val idx = llm.Ivf.IvfIndex(
        enc.select(col("vec_id"), col("__cell")),
        s.read.parquet(s"$base/centroids"))
      // bounded collect: the codebook is m·k = 128 rows by construction
      val rows = s.read.parquet(s"$base/codebook")
        .orderBy("__sub", "__code").collect()
      val m = rows.map(_.getInt(0)).max + 1
      val codebooks = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toSeq).toSeq)
      val model = llm.Pq.PqModel(m, codebooks.head.head.length, codebooks)
      llm.Pq.ivfAdcTopK(idx, model, enc.select("vec_id", "codes"), emb, q,
        "vec_id", "embedding", k = 10, nProbe = 6, shortlist = 100)
    })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    for (arg <- args) {
      if (arg.contains("=")) {
        val Array(k, v) = arg.split("=", 2)
        spark.conf.set(k, v)
        println(s"SPOT-CONF $k=$v")
      } else if (arg.startsWith("count:")) {
        // cardinality probe: row count instead of a timed noop write —
        // for attributing stage costs to data volume
        val name = arg.stripPrefix("count:")
        val q = if (name.startsWith("probe:")) probes(name.stripPrefix("probe:"))
          else SparkEntry.queries(name)
        val n = q(spark, sfDir).count()
        llm.CacheScope.releaseAll(blocking = true)
        System.gc()
        println(s"SPOT-COUNT $name $n")
      } else {
        val q = if (arg.startsWith("probe:")) probes(arg.stripPrefix("probe:"))
          else SparkEntry.queries(arg)
        val t0 = System.nanoTime()
        q(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // blocking, same rationale as Bench: an async unpersist leaves
        // the previous run's blocks resident into the next timed run
        llm.CacheScope.releaseAll(blocking = true)
        // untimed heap compaction between queries, same as Bench: without
        // it a heavy query's old-gen pressure inflates every later timing
        // in the session (measured ×3 on q45 right after a q27 run) and
        // A/B comparisons read order effects, not code
        System.gc()
        println(f"SPOT $arg $sec%.2f s")
      }
    }
    spark.stop()
  }
}
