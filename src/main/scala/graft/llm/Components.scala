package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Gates

/** Connected components over a near-duplicate PAIR list — the step that
  * turns pairwise dedup output ([[Dedup.simhashPairs]],
  * [[Dedup.minhashNearDups]], …) into duplicate CLUSTERS so a pipeline can
  * keep one canonical document per group. The reference deduplicates by
  * exact conflict keys only (load upserts); transitive near-dup grouping
  * is the corpus-curation generalization.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", 2014) — converges to
  * every node directly attached to its component minimum in
  * O(log n) rounds on pathological chains, O(1) on the shallow families
  * near-dup graphs actually produce. Implemented in pure aggregate-join
  * form: the per-node neighborhood minimum is a `groupBy(min)` joined back
  * to the edge list, NEVER a `collect_list` — a converging component
  * funnels its whole membership into one hub node, and materializing that
  * neighborhood as an array would put an O(|component|) row in one task
  * (the all-docs-identical corpus would OOM). Aggregate + join keeps every
  * step map-side-combinable and shuffle-bounded by the edge count.
  *
  * Each iteration `localCheckpoint`s its (deduplicated, normalized) edge
  * set: one star round references its input FOUR times (symmetrize ×2,
  * neighborhood min, re-attach join), so without lineage truncation the
  * logical plan grows ~16× per round and analysis alone OOMs the driver
  * by iteration ~6 — persist caches data but does NOT truncate the plan.
  * Old checkpoint blocks are reclaimed by Spark's ContextCleaner as the
  * previous iteration's reference drops. (On a real cluster with
  * executor-loss tolerance requirements, swap in reliable `checkpoint()`
  * with a checkpoint dir — same shape.) Convergence is checked EXACTLY
  * (anti-join emptiness, not a count/fingerprint heuristic), one cheap
  * driver action per round — this is an iterative fixpoint algorithm; the
  * loop is the semantics, not a driver-side crutch.
  */
object Components {

  /** (doc, cluster) for every doc appearing in `pairs`: `cluster` is the
    * smallest doc id transitively connected to `doc`. Docs absent from
    * `pairs` are their own singleton clusters — union them in from the
    * corpus table (see q52) since the pair list cannot know about them.
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 50): DataFrame = {
    val init = pairs
      .select(
        least(col(aCol), col(bCol)).cast("long").as("__lo"),
        greatest(col(aCol), col(bCol)).cast("long").as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .distinct()

    // One star round: group the SYMMETRIC neighbor list by node, take the
    // neighborhood min, and re-attach the kept neighbors to it.
    //   large star keeps v > u (far side collapses onto the min)
    //   small star keeps v < u AND u itself (near side + self collapse)
    def star(und: DataFrame, large: Boolean): DataFrame = {
      val sym = und.select(col("__lo").as("__u"), col("__hi").as("__v"))
        .unionAll(und.select(col("__hi").as("__u"), col("__lo").as("__v")))
      val m = sym.groupBy("__u")
        .agg(least(min(col("__v")), col("__u")).as("__m"))
      val kept = sym.join(m, "__u")
        .filter(if (large) col("__v") > col("__u") else col("__v") < col("__u"))
        .select(col("__v"), col("__m"))
      val edges = if (large) kept else kept.unionAll(m.select(col("__u").as("__v"), col("__m")))
      edges
        .filter(col("__v") =!= col("__m")) // __m <= __v by construction
        .select(col("__m").as("__lo"), col("__v").as("__hi"))
        .distinct()
    }

    // Lazy checkpoints: the convergence count() is the materializing
    // action, so each round runs ONE job for compute+checkpoint+count
    // (plus the anti-join equality probe only when the counts tie —
    // usually just the final round; && short-circuits it otherwise).
    var und = init.localCheckpoint(false)
    var undCount = und.count()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = star(star(und, large = true), large = false).localCheckpoint(false)
      val nextCount = next.count()
      // exact fixpoint test: identical edge SETS (both are distinct)
      converged = nextCount == undCount &&
        next.join(und, Seq("__lo", "__hi"), "left_anti").isEmpty
      Roll.free(und) // next is materialized and the probe is done
      und = next
      undCount = nextCount
      iter += 1
    }
    // The final labeling below assumes the star fixpoint was reached —
    // on a non-converged edge set it would silently return wrong cluster
    // ids, so an exhausted iteration budget must fail loudly.
    require(converged,
      s"connected components did not converge in $maxIter star rounds")

    // At the fixpoint every component is a star around its min, so the
    // label is one neighborhood min away for every member (and the hub
    // itself labels with its own id).
    val sym = und.select(col("__lo").as("__u"), col("__hi").as("__v"))
      .unionAll(und.select(col("__hi").as("__u"), col("__lo").as("__v")))
    sym.groupBy("__u")
      .agg(least(min(col("__v")), col("__u")).as("cluster_id"))
      .select(col("__u").as("doc_id"), col("cluster_id"))
  }

  /** Survivorship policy over near-dup clusters: cluster the pair list
    * with [[connectedComponents]], then keep the BEST-scored document of
    * each cluster (ties → smallest id) instead of the blind lowest-id
    * rule — production curation keeps the highest-quality copy of a
    * duplicate family, not an arbitrary one. Documents in no pair are
    * their own singleton cluster and always survive.
    *
    * The winner is ONE map-side-combinable aggregation — `max` over a
    * `(score, −id)` struct (lexicographic struct ordering = argmax with
    * the id tiebreak) — which also folds the cluster size; no window sort
    * over the corpus, no second pass. The labels table is bounded by the
    * pair participants, not the corpus, and joins the scored corpus on id.
    *
    * `scored` must carry (idCol, scoreCol). Output: one row per cluster —
    * cluster_id, idCol (the kept doc), scoreCol, `membros`.
    */
  def keepBestPerCluster(
      pairs: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val labels = connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("doc_id", idCol)
    val labeled = scored.join(labels, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
    labeled.groupBy("cluster_id")
      .agg(
        count(lit(1)).as("membros"),
        max(struct(col(scoreCol), (-col(idCol)).as("__negid"))).as("__w"))
      .select(
        col("cluster_id"),
        (-col(s"__w.__negid")).as(idCol),
        col(s"__w.$scoreCol").as(scoreCol),
        col("membros"))
  }

  /** PageRank (damping `d`, a FIXED number of power iterations) over a
    * directed edge list — the graph-centrality signal web-scale curation
    * actually uses (Common Crawl publishes per-host harmonic/PageRank
    * centrality; crawl frequency and quality priors weight by it).
    *
    * Per iteration: every node sends `rank/outdeg` along its out-edges
    * (ONE join of the rank table with the edge list + one combinable sum
    * per destination — shuffle linear in |E|, state linear in |V|);
    * DANGLING mass (nodes without out-edges) redistributes uniformly via
    * one scalar aggregate cross-joined back — the classical correction,
    * so total mass is conserved every round. Rank-mass sums accumulate
    * in DECIMAL(38,18): order-independent, so ranks are identical under
    * any partitioning AND SQL-replayable — the oracle unrolls the
    * iterations as CTEs (the q123 perceptron discipline for iterative
    * fitting). `localCheckpoint` per round cuts the iterative lineage
    * exactly as [[connectedComponents]] does.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 3, damping: Double = 0.85): DataFrame = {
    require(iters >= 1 && damping > 0 && damping < 1,
      s"need iters >= 1 and 0 < damping < 1; got $iters/$damping")
    // persisted PRE-PARTITIONED on the join key: every iteration's
    // contribution join requires clustering on __s, and an edge table
    // cached in the distinct's (__s, __d) layout re-exchanged ALL of E
    // per iteration — hash(__s) satisfies the join's distribution, so
    // the per-iteration shuffle drops to the |V|-row rank side
    // (guide §2.4: two operations keyed the same way share one exchange)
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .distinct()
      .repartition(col("__s"))
      .transform(CacheScope.persistTracked)
    val nodes = e.select(col("__s").as("__n"))
      .unionByName(e.select(col("__d").as("__n"))).distinct()
    val outdeg = e.groupBy(col("__s").as("__n")).agg(count(lit(1L)).as("__out"))
    val base = nodes.join(outdeg, Seq("__n"), "left")
      .select(col("__n"), coalesce(col("__out"), lit(0L)).as("__out"))
      .transform(CacheScope.persistTracked)
    val nCount = base.count()
    val zeroDec = lit(0).cast("decimal(38,18)")
    var ranks = base.select(col("__n"), col("__out"),
      (lit(1.0) / nCount).as("__r"))
    for (_ <- 0 until iters) {
      val dangling = ranks.filter(col("__out") === 0L)
        .agg(coalesce(sum(col("__r").cast("decimal(38,18)")), zeroDec)
          .as("__dang"))
      val contrib = ranks.filter(col("__out") > 0L)
        .join(e, col("__n") === col("__s"))
        .select(col("__d").as("__n"),
          (col("__r") / col("__out").cast("double"))
            .cast("decimal(38,18)").as("__c"))
        .groupBy("__n").agg(sum(col("__c")).cast("decimal(38,18)").as("__in"))
      val next = base
        .join(contrib, Seq("__n"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("__n"), col("__out"),
          (lit((1.0 - damping) / nCount) + lit(damping) *
            (coalesce(col("__in"), zeroDec).cast("double") +
              col("__dang").cast("double") / nCount)).as("__r"))
        .localCheckpoint()
      Roll.free(ranks) // superseded round's blocks — residency stays ≤ 2
      ranks = next
    }
    ranks.select(col("__n").as("vertice"), col("__r").as("rank"))
  }

  /** k-core decomposition — the maximal subgraph where every vertex keeps
    * degree ≥ k after all weaker vertices peel away (Seidman 1983).
    * Fourth member of the graph suite: components find WHO connects,
    * PageRank WHO matters, triangles WHERE it's locally dense, the
    * k-core WHICH region is globally cohesive — the standard spam-farm /
    * tight-community / nucleus extraction over the same edge lists.
    *
    * Iterative peeling: each round is ONE combinable degree aggregation
    * + two broadcast-or-shuffle semi-joins restricting edges to
    * surviving endpoints — shuffle volume linear in the remaining edge
    * count, no per-vertex state beyond the degree table. Cascades are
    * the point (a vertex can start above k and fall below as neighbors
    * peel), so the loop runs to an EXACT fixpoint — no vertex below k
    * remains — checked with one cheap count action per round, the CC
    * discipline: the loop IS the semantics. `localCheckpoint` per round
    * truncates the self-referencing lineage. Rounds are bounded by the
    * peeling depth (pathological chains: O(V); real graphs: a handful) —
    * `maxIter` guards the pathology and fails loudly rather than
    * returning a non-core.
    *
    * Memory contract (the r12 sf10 lesson — 29M edges OOM'd a 16 GiB
    * driver): each round FREES the previous round's checkpoint blocks
    * via [[graft.llm.Roll.free]] once the new frontier is materialized,
    * so residency is ≤ 2 edge snapshots, not rounds × edges; and past
    * `spillEdges` rows the round checkpoints DISK_ONLY — the frontier
    * streams from local disk instead of competing with the peel's own
    * shuffles for the unified pool. Degree aggregation reads the
    * checkpoint once per round either way; the spill trades that scan
    * against not owning ~rounds × |E| of storage memory.
    *
    * Not SQL-expressible (the fixpoint is not monotone-recursive), so
    * the graded query is rows-only; the spec pins K4-with-pendants and a
    * cascading peel by hand. Output: (vertice, grau_core) for the
    * vertices of the k-core with their degree inside it.
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 50, spillEdges: Long = 16000000L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    // the INITIAL snapshot checkpoints DISK_ONLY unconditionally: it
    // materializes concurrently with the caller's edge construction
    // (often a join + distinct — the heaviest execution-memory stage of
    // the whole operator), and a MEMORY_AND_DISK store would pin the
    // protected storage half of the unified pool exactly when execution
    // needs it (measured at sf10/16 GiB: construction alone completes,
    // construction + memory checkpoint dies UNABLE_TO_ACQUIRE in the
    // distinct's aggregate pages)
    var e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val storage =
      if (e.count() > spillEdges)
        org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def degrees(ed: DataFrame): DataFrame =
      ed.select(col("a").as("v")).unionByName(ed.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1L)).as("grau"))
    // INCREMENTAL degree maintenance (round 16, guide §1.2 step 1 /
    // §2.3): the old loop re-aggregated ALL degrees from the full edge
    // snapshot every round — O(rounds × |E|) shuffle for a peel whose
    // per-round change is only the weak frontier (measured at sf0.1:
    // 10 rounds × 2.2M-row degree scans while the edge set shrank 1.20M
    // → 1.08M). Here the degree table updates by SUBTRACTING each
    // round's removed-edge endpoint counts — per-round shuffle is
    // O(|edges touching the frontier|), the removal joins build against
    // the small WEAK side (anti-join) instead of the |V|-row strong
    // side, and total work is O(|E| + Σ frontier) — the textbook peel.
    // Every round still checkpoints the shrunken edge set (lineage) and
    // the final degrees are re-derived from the SURVIVING edges alone,
    // so results are bit-identical to the recompute form (spec-pinned:
    // ComponentsSpec's "kCore incremental degree maintenance matches a
    // brute-force peel" cross-checks a pseudo-random graph).
    // the degree table is EAGERLY localCheckpoint'd (not just persisted)
    // each round: its incremental plan references the previous round's
    // table, so persist alone would chain the logical plans across
    // rounds AND make an evicted block replay through freed checkpoint
    // RDDs — the exact lineage trap the e-snapshot discipline exists for
    val degStorage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var deg = degrees(e).localCheckpoint(true, degStorage)
    var it = 0
    var done = false
    while (!done) {
      if (it >= maxIter) {
        Roll.free(deg)
        Roll.free(e) // don't leak the round's checkpoint blocks on throw
        throw new IllegalArgumentException(
          s"requirement failed: k-core did not converge in $maxIter rounds (pathological chain?)")
      }
      val weak = deg.filter(col("grau") < k)
      // ONE action serves as convergence probe AND broadcast gate: the
      // checkpointed degree table is a LogicalRDD with no size stats, so
      // without an explicit hint every frontier join planned a FULL
      // shuffle of the edge snapshot (profiled at sf0.1: 4 × 1.1M-row
      // exchanges per round — worse than the recompute it replaced).
      // The frontier is usually tiny (it is the peel's per-round
      // change); past the gate (an adversarial first round can hold
      // most of V) fall back to the planner's shuffle join.
      val weakCount = weak.count()
      if (weakCount == 0L) { done = true }
      else {
        val hint = Gates.broadcastIfAtMost(weakCount, Gates.FrontierBroadcastMax)
        val weakV = weak.select(col("v"))
        // edges with ≥1 weak endpoint leave the graph; each survivor
        // endpoint of a leaving edge loses one degree
        val next = e
          .join(hint(weakV.withColumnRenamed("v", "a")), Seq("a"), "left_anti")
          .join(hint(weakV.withColumnRenamed("v", "b")), Seq("b"), "left_anti")
          .localCheckpoint(true, storage)
        // a SURVIVOR loses one degree per edge that pairs it with a weak
        // endpoint: two semi-joins of the (checkpoint-cached) edge set
        // against the small weak frontier, endpoint counts combined.
        // Contributions landing on weak vertices are moot — the weak
        // rows leave the degree table in the same step.
        val delta = e
          .join(hint(weakV.withColumnRenamed("v", "a")), Seq("a"), "left_semi")
          .select(col("b").as("v"))
          .unionByName(e
            .join(hint(weakV.withColumnRenamed("v", "b")), Seq("b"), "left_semi")
            .select(col("a").as("v")))
          .groupBy("v").agg(count(lit(1L)).as("__d"))
        val nextDeg = deg
          // fresh attribute for the anti probe: weakV descends from deg
          // itself, and a same-exprId using-join trips the self-join
          // ambiguity check
          .join(hint(weakV.select(col("v").as("__wv"))),
            col("v") === col("__wv"), "left_anti")
          .join(delta, Seq("v"), "left")
          .select(col("v"),
            (col("grau") - coalesce(col("__d"), lit(0L))).as("grau"))
          // a survivor whose every edge left has grau 0 — identical to
          // absent in the recompute form; drop it so the loop never
          // spins a round on degree-0 ghosts
          .filter(col("grau") > 0L)
          .localCheckpoint(true, degStorage) // materializes before the frees
        Roll.free(deg)
        Roll.free(e)
        deg = nextDeg
        e = next
        it += 1
      }
    }
    // at the fixpoint the maintained table IS degrees(e) (spec-pinned);
    // reading it avoids one final full-edge aggregation
    val out = deg
      .select(col("v").as("vertice"), col("grau").as("grau_core"))
    Roll.free(e)
    out
  }

  /** Exact per-vertex triangle counting — the clustering-coefficient
    * numerator, the third member of the graph-analytics trio next to
    * [[connectedComponents]] and [[pageRank]] (dense local triangles =
    * tightly-knit near-dup/citation neighborhoods).
    *
    * Canonicalize edges to an undirected set, then orient every edge
    * from its (degree, id)-smaller endpoint to the larger — the
    * compact-forward / Chiba–Nishizeki discipline. Wedges form only at
    * a vertex's OUT-neighbors, and because hubs sit at the top of the
    * degree order they RECEIVE edges instead of generating wedges:
    * per-vertex out-degree is O(√E) amortized, so total wedge volume is
    * O(E^1.5) instead of the naive id-order form's Σ_v deg(v)² (which a
    * single hub turns quadratic — the skew lever at 100 TB). Each
    * triangle {p,q,r} with degree-ranks p≺q≺r is generated exactly once
    * as the wedge (q ← p → r) closed by the oriented edge q→r; the
    * per-vertex counts are orientation-independent, so any id-order
    * replay (the oracle's) agrees bit-for-bit. AQE's skew split covers
    * residual out-degree imbalance.
    *
    * Closing strategies, chosen by vertex type:
    *
    * - Integral vertices (the common case) close by ADJACENCY
    *   INTERSECTION: out-neighbor lists per vertex (provably ≤ √(2E)
    *   entries each under the degree orientation, so the collect is
    *   bounded), broadcast onto the oriented edge stream, and the
    *   native `sorted_intersect_longs` merge walk emits each edge's
    *   common out-neighbors — exactly the triangles whose two
    *   lowest-rank vertices are that edge. The per-pair work is a
    *   sequential walk over two cache-resident arrays instead of an
    *   O(E^1.5) stream of random hash-map probes; at sf1 on the dense
    *   co-supply graph (2.9M edges, 875M wedges, 355M triangles) this
    *   replaced a 46 s probe stage with a 12 s merge stage.
    * - Other vertex types (or `broadcastClose = false`) use the wedge
    *   self-join closed against the oriented edge list, the probe key
    *   packed into ONE xxhash64 long so the broadcast builds Spark's
    *   dense LongHashedRelation (collisions killed by an exact (x, y)
    *   filter after the join). `broadcastClose = false` shuffles the
    *   closing join instead — the fallback for graphs whose edge list
    *   exceeds executor memory (at that scale the wedge side wants 2-D
    *   tiling regardless — the q26 hot-bucket discipline).
    *
    * Output: (vertice, triangulos) for every vertex in ≥ 1 triangle.
    */
  def triangleCount(
      edges: DataFrame, srcCol: String, dstCol: String,
      broadcastClose: Boolean = true): DataFrame = {
    val vType = edges.schema(edges.schema.fieldIndex(srcCol)).dataType
    val integral = vType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b")) // drops self-loops
      .distinct()
      .transform(CacheScope.persistTracked)
    val deg = und.select(col("a").as("__v"))
      .unionByName(und.select(col("b").as("__v")))
      .groupBy("__v").agg(count(lit(1L)).as("__deg"))
    // (degree, id) is a total order; orient low → high. The two degree
    // joins touch |E| rows against a |V|-row build side (broadcast under
    // AQE for any realistic vertex count).
    val withDeg = und
      .join(deg.select(col("__v").as("a"), col("__deg").as("__da")), Seq("a"))
      .join(deg.select(col("__v").as("b"), col("__deg").as("__db")), Seq("b"))
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("w"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dw"))
      .transform(CacheScope.persistTracked)
    if (integral && broadcastClose) {
      // adjacency-intersection close: one broadcast adjacency table
      // (≤ √(2E) longs per row under the degree orientation), two
      // broadcast probes on the |E|-row edge stream, the merge-walk
      // intersection exploded straight into the credit aggregation —
      // zero shuffles after the orientation persist
      val o = oriented.select(
        col("u").cast("long").as("u"), col("w").cast("long").as("w"))
      val adj = o.groupBy(col("u").as("__v"))
        .agg(sort_array(collect_list(col("w"))).as("__nbrs"))
      val tri = o
        .join(broadcast(adj.select(col("__v").as("u"), col("__nbrs").as("__ap"))),
          Seq("u"))
        .join(broadcast(adj.select(col("__v").as("w"), col("__nbrs").as("__aq"))),
          Seq("w"))
        .select(col("u"), col("w"),
          explode(call_function("sorted_intersect_longs",
            col("__ap"), col("__aq"))).as("__r"))
      tri.select(explode(array(col("u"), col("w"), col("__r"))).as("vertice"))
        .groupBy("vertice").agg(count(lit(1L)).as("triangulos"))
        .select(col("vertice").cast(vType).as("vertice"), col("triangulos"))
    } else {
      // ordered out-neighbor pairs (x ≺ y) at the low-rank center, closed
      // by the oriented edge x→y (which exists iff {x,y} is an edge, since
      // the orientation is a function of the same total order). The probe
      // key is packed into ONE xxhash64 long: a single-long-keyed
      // broadcast builds Spark's dense LongHashedRelation instead of the
      // UnsafeRow-keyed map a (x, y) composite forces; collisions are
      // killed by the exact (x, y) equality filter after the join, so
      // results stay exact for any vertex type.
      val wedge = oriented.select(col("u"), col("w").as("x"), col("__dw").as("__dx"))
        .join(oriented.select(col("u"), col("w").as("y"), col("__dw").as("__dy")),
          Seq("u"))
        .filter(col("__dx") < col("__dy") ||
          (col("__dx") === col("__dy") && col("x") < col("y")))
      val close = oriented.select(
        xxhash64(col("u"), col("w")).as("__ck"),
        col("u").as("__cx"), col("w").as("__cy"))
      val tri = wedge
        .withColumn("__ck", xxhash64(col("x"), col("y")))
        .join(if (broadcastClose) broadcast(close) else close, Seq("__ck"))
        .filter(col("__cx") === col("x") && col("__cy") === col("y"))
        .select(col("u"), col("x"), col("y"))
      tri.select(explode(array(col("u"), col("x"), col("y"))).as("vertice"))
        .groupBy("vertice").agg(count(lit(1L)).as("triangulos"))
    }
  }

  /** Multi-source BFS hop levels — the k-hop neighborhood / blast-radius
    * query over the same edge lists the rest of the graph suite reads
    * (components say WHO connects, this says HOW FAR: "every part within
    * 3 hops of the recalled batch", "accounts within 2 hops of a known
    * fraud seed").
    *
    * Frontier expansion, the canonical distributed BFS: each round is
    * ONE equi-join of the current frontier against the adjacency list +
    * one anti-join against the visited set — shuffle volume linear in
    * the edges LEAVING the frontier, per-vertex state is exactly one
    * (vertice, nivel) row, and `localCheckpoint` per round truncates the
    * self-referencing lineage (the CC discipline). Rounds = `maxDepth`,
    * a caller-owned bound: hop queries are depth-bounded by meaning
    * ("within k hops"), so the fixpoint race of unbounded shortest-path
    * never arises and the oracle can replay the semantics with a
    * depth-capped recursive CTE.
    *
    * Edges are treated as undirected; seeds report nivel 0 whether or
    * not they touch an edge. Output: (vertice, nivel) — the minimum hop
    * count from any seed, for every vertex within `maxDepth` hops.
    */
  def bfsLevels(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"need maxDepth >= 0, got $maxDepth")
    val e = edges.select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .filter(col("__a") =!= col("__b"))
    val adj = e
      .unionByName(e.select(col("__b").as("__a"), col("__a").as("__b")))
      .distinct()
      .transform(CacheScope.persistTracked)
    var levels = seeds.select(col(seedCol).as("vertice")).distinct()
      .withColumn("nivel", lit(0L))
      .localCheckpoint()
    var frontier = levels.select("vertice")
    var prevNext: Option[DataFrame] = None
    var depth = 0
    while (depth < maxDepth && !frontier.isEmpty) {
      val next = frontier.join(adj, col("vertice") === col("__a"))
        .select(col("__b").as("vertice")).distinct()
        .join(levels.select("vertice"), Seq("vertice"), "left_anti")
        .withColumn("nivel", lit(depth + 1L))
        .localCheckpoint()
      val grown = levels.unionByName(next).localCheckpoint()
      // superseded snapshots: the old cumulative levels, and the
      // PREVIOUS round's frontier (this round's `next` stays live — it
      // is the frontier the next round's join reads)
      Roll.free(levels)
      prevNext.foreach(Roll.free)
      prevNext = Some(next)
      levels = grown
      frontier = next.select("vertice")
      depth += 1
    }
    levels
  }
}
