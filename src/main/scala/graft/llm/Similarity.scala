package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — corpus × broadcast(query set),
  * scored with pure array expressions. Scale path: random-hyperplane LSH
  * buckets so each query only scores its bucket's corpus rows (bucket join,
  * never a full cross product).
  *
  * Determinism: dot products and squared norms accumulate through
  * `DECIMAL(38,18)` (exact, order-independent) and only then become doubles,
  * so ranking is bit-identical across engines and partitionings — float
  * summation order can never reorder a top-k.
  */
object Similarity {

  /** Σ aᵢ·bᵢ through decimal — order-independent exact accumulation.
    * Backed by the native [[graft.functions.VectorDotDecimal]] expression
    * (one static call per pair, no intermediate Decimal array), resolved
    * by name in the analyzing session, which needs
    * [[graft.functions.GraftExtensions]]. Bit-identical to the
    * `aggregate(zip_with(…cast(decimal(38,18))…))` fold (FunctionsSpec
    * compares the DECIMAL values). The kernel keeps the sum in one long
    * and decides each product's `Cast` rounding from the double's
    * round-trip interval, with no `Double.toString` unless the interval
    * straddles a rounding boundary ([[graft.functions.DecimalOps]]).
    */
  def dotDecimal(a: Column, b: Column): Column =
    call_function("vector_dot_decimal", a, b)

  /** Σ aᵢ·bᵢ in plain double — fast screen, NOT deterministic across
    * summation orders; use only as a pre-filter with a safety margin before
    * [[dotDecimal]] rescoring (64-term FP error ≤ ~1e-13). Backed by the
    * native codegen'd [[graft.functions.VectorDotDouble]]: the higher-order
    * fold form is CodegenFallback (interpreted), which is catastrophic when
    * the screen runs per candidate pair inside a join condition
    * (FunctionsSpec holds the two forms equal).
    */
  def dotDouble(a: Column, b: Column): Column =
    call_function("vector_dot_double", a, b)

  /** ‖v‖ as a double (exact decimal sum of squares, then sqrt). */
  def l2Norm(v: Column): Column = sqrt(dotDecimal(v, v).cast("double"))

  /** cos(a,b) — both norms must be nonzero. */
  def cosine(a: Column, b: Column): Column =
    dotDecimal(a, b).cast("double") / (l2Norm(a) * l2Norm(b))

  /** Brute-force cosine top-k: every (query, corpus) pair via
    * broadcast(queries) — the corpus never shuffles — then a per-query
    * window top-k. O(|corpus|·|queries|·dim) map-side work.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // Norms are per-vector, so compute them once per side before the
    // pair join — per-pair work is then a single dot product. Spread keeps
    // the corpus-side pair scoring parallel even when the corpus parquet is
    // a single byte-split.
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn")))
    val scored = Spread(corpus)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        l2Norm(col(vecCol)).as("__cn"))
      .join(q)
      .select(col("query_id"), col("corpus_id"),
        (dotDecimal(col("__qv"), col("__cv")).cast("double") /
          (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * query vector, the `k` most-similar corpus vectors with a DIFFERENT
    * label — the near-misses that teach a bi-encoder its decision
    * boundary (in-batch random negatives are mostly easy; hard negatives
    * are mined exactly like this, e.g. ANCE/DPR-style).
    *
    * Same shape as [[bruteForceTopK]] (broadcast queries, corpus never
    * shuffles for the scoring, per-query top-k window) with the
    * cross-label predicate applied BEFORE any dot product is computed —
    * same-label pairs never cost a multiplication. Swap the corpus side
    * for an [[graft.llm.Ivf]] index at production scale; the contract
    * (cross-label, exact cosine, deterministic ties) is this operator.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(labelCol).as("__ql"),
      col(vecCol).as("__qv"), l2Norm(col(vecCol)).as("__qn")))
    val scored = Spread(corpus)
      .select(col(idCol).as("corpus_id"), col(labelCol).as("__cl"),
        col(vecCol).as("__cv"), l2Norm(col(vecCol)).as("__cn"))
      .join(q, col("__ql") =!= col("__cl"))
      .select(col("query_id"), col("corpus_id"),
        (dotDecimal(col("__qv"), col("__cv")).cast("double") /
          (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane component g(plane, dim) ∈
    * (-1, 1): a hash of the coordinates, scaled. Reproducible everywhere —
    * no RNG state shipped to executors.
    */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2001L)) - 1000L).cast("double") / 1000.0

  /** Random-hyperplane signature: bit per plane = sign of ⟨v, g(plane,·)⟩.
    * Returns an int bucket in [0, 2^planes).
    */
  def lshBucket(v: Column, planes: Int): Column =
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, i) => x.cast("double") * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN: queries and corpus hash to hyperplane buckets; each
    * query scores only corpus rows in its bucket (equi-join on bucket id,
    * shuffle is linear in rows), then per-query top-k re-rank by exact
    * cosine. Recall < 1 by construction; the scalatest suite measures it
    * against `bruteForceTopK`.
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 8): DataFrame = {
    val cb = Spread(corpus).select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"),
      lshBucket(col(vecCol), planes).as("__bucket"))
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn"),
      lshBucket(col(vecCol), planes).as("__qbucket")))
    val scored = cb.join(qb, col("__bucket") === col("__qbucket"))
      .select(col("query_id"), col("corpus_id"),
        (dotDecimal(col("__qv"), col("__cv")).cast("double") /
          (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Symmetric per-vector int8 quantization — the storage-scale compression
    * step for large embedding stores (4× smaller than float32, exact
    * reconstruction bound |error| ≤ scale/2 per component). Appends
    * `escala` = max|vᵢ|/127 (floored at 1e-12 so zero vectors quantize to
    * zeros instead of dividing by zero) and `q` = round-half-up quantized
    * ints in [−127, 127] (the max-element formula cannot exceed 127, so no
    * clamp). Rounding is `floor(x/escala + 0.5)` — floor is exact in IEEE
    * doubles, so any engine reproduces the same ints bit-for-bit, unlike
    * `round()` whose half-even/half-up convention varies.
    *
    * Pure array expressions (one linear pass) — fine for an export/ingest
    * path; the hot ANN scoring paths stay on the native codegen'd dot
    * products, not on quantized values.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val x2d = (x: Column) => x.cast("double")
    val escala = greatest(
      aggregate(col(vecCol), lit(0.0d), (acc, x) => greatest(acc, abs(x2d(x)))),
      lit(1e-12)) / 127.0
    // The scale column MUST be a persisted branch point: the quantization
    // lambda references it per ELEMENT, and CollapseProject would inline
    // the max-abs aggregate into that reference (SURVEY §4) — turning the
    // linear pass into O(dim²) per row.
    val withScale = CacheScope.persistTracked(df.withColumn("escala", escala))
    withScale.withColumn("q",
      transform(col(vecCol), x => floor(x2d(x) / col("escala") + 0.5).cast("int")))
  }

  /** Per-group embedding centroid (mean pooling): one row per
    * (group, dimension position) with the exact mean of that coordinate —
    * the class-prototype / chunk→document pooling step of an embedding
    * pipeline, and SemDeDup's cluster-centroid input.
    *
    * Shape: `posexplode` fans each vector into (position, value) rows at
    * scan level, then ONE map-side-combinable groupBy on
    * (group, position) — |groups|·dim result rows, shuffle carries only
    * the partial decimal sums. Per-coordinate sums accumulate in
    * DECIMAL(38,18) (exact, order-independent — SURVEY §4) with a single
    * IEEE division at the end, so the result is bit-identical under any
    * partitioning and to the DuckDB oracle.
    */
  def groupCentroid(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("posicao", "__v")))
      .groupBy(col(groupCol), col("posicao").cast("int").as("posicao"))
      // float → DOUBLE first: the widening is binary-exact in every
      // engine, while direct float→decimal conversions differ (Spark
      // shortest-repr vs binary rounding) — SURVEY §4 / the q38 pattern
      .agg((sum(col("__v").cast("double").cast("decimal(38,18)")).cast("double") /
        count(lit(1)).cast("double")).as("valor"))

  /** Embedding-space outlier filter: score every vector by its cosine to
    * its OWN group's centroid and flag the ones below `minCos` — the
    * prototype-distance quality gate of embedding pipelines (mislabeled /
    * off-topic / garbage-encoding detection; the per-cluster analogue of
    * SemDeDup's "far from every centroid" residue).
    *
    * Shape: the centroid table is [[groupCentroid]]'s one combinable
    * aggregation (|groups|·dim rows), folded back into |groups| vectors
    * and BROADCAST — the corpus never shuffles; the cosine is scan-level
    * (native decimal-dot kernel, codegen'd). Every sum is
    * DECIMAL(38,18)-exact, so scores and flags are bit-identical under
    * any partitioning and to the SQL oracle.
    */
  def centroidOutliers(
      df: DataFrame, idCol: String, vecCol: String, groupCol: String,
      minCos: Double): DataFrame = {
    // the centroid NORM is per-group — fold it into the broadcast table
    // once instead of re-running the decimal dot per corpus row (same
    // bits: identical expression over identical data)
    val cvec = groupCentroid(df, groupCol, vecCol)
      .groupBy(groupCol).agg(
        transform(
          array_sort(collect_list(struct(col("posicao"), col("valor")))),
          s => s.getField("valor")).as("__cvec"))
      .withColumn("__cnorm", l2Norm(col("__cvec")))
    // Spread: the per-row decimal dot is CPU-bound and a small parquet
    // arrives as one byte-split — keep the scoring parallel
    Spread(df).join(broadcast(cvec), Seq(groupCol))
      .withColumn("cos_centroide",
        dotDecimal(col(vecCol), col("__cvec")).cast("double") /
          (l2Norm(col(vecCol)) * col("__cnorm")))
      .select(col(idCol), col(groupCol), col("cos_centroide"),
        (col("cos_centroide") < minCos).as("atipico"))
  }

  /** Johnson–Lindenstrauss random projection with Rademacher ±1 signs
    * (Achlioptas 2001's database-friendly projections — ±1 entries
    * satisfy the JL lemma) derived from portable md5 of (input dim,
    * output dim): there is NO stored projection matrix, the map is
    * identical on any engine and across any ingest batch. `outDims` =
    * O(ln n / ε²) preserves pairwise distances within 1±ε — the cheap
    * screen in front of exact cosine at 100 TB (rank candidates in k
    * dims, re-rank survivors in full dimension).
    *
    * Shape: posexplode the vector, fan each element out over the tiny
    * broadcast output-dim table, ONE map-side-combinable DECIMAL
    * aggregation per (id, output dim) — order-independent under any
    * partitioning (a double sum would make the projected space depend on
    * the cluster layout), oracle-exact. Output: flat (id, j, valor).
    */
  /** Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998)
    * diversified re-rank: greedily select `k` results maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)` — the standard
    * de-redundancy step between retrieval and a RAG context window
    * (plain top-k returns near-duplicate passages together and wastes
    * the window; MMR penalizes each candidate by its similarity to what
    * is ALREADY selected).
    *
    * The greedy loop is inherently sequential in k — but k is a
    * CONSTANT (a context window holds a handful of passages), so the
    * engine runs k fixed rounds, each one broadcast join (candidates ×
    * the ≤(t−1)-row selected set per query) plus one bounded-heap
    * argmax per query; every query advances in parallel inside each
    * round and the round count never depends on data size. Cosines run
    * through the exact DECIMAL dot; ties break on ids — deterministic
    * and SQL-replayable (q143's oracle unrolls the rounds as CTEs, the
    * q123/q140 discipline for fixed iteration counts).
    *
    * `candidates` = (query_id, corpus_id, rel) — the output of any
    * retriever ([[bruteForceTopK]] cosine, BM25 scores, fused RRF);
    * `vectors` supplies the candidate embeddings. Output:
    * (query_id, corpus_id, ordem) with ordem = selection order 1..k.
    */
  def mmrSelect(
      candidates: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double): DataFrame = {
    require(k >= 1 && lambda >= 0.0 && lambda <= 1.0,
      s"need k >= 1 and lambda in [0,1]; got $k/$lambda")
    val cand = CacheScope.persistTracked(
      candidates.join(vectors.select(col(idCol).as("corpus_id"),
          col(vecCol).as("__v")), Seq("corpus_id"))
        .withColumn("__n", greatest(l2Norm(col("__v")), lit(1e-12))))
    var selected = graft.operators.TopK.groupTopKRows(
        cand.select(col("query_id"), col("corpus_id"), col("rel")),
        Seq("query_id"), Seq(("rel", false), ("corpus_id", true)), 1)
      .select(col("query_id"), col("corpus_id"), lit(1).as("ordem"))
      .transform(CacheScope.persistTracked)
    for (t <- 2 to k) {
      val selVec = selected.join(
        cand.select(col("query_id"), col("corpus_id"),
          col("__v").as("__sv"), col("__n").as("__sn")),
        Seq("query_id", "corpus_id"))
      val remaining = cand.join(selected.select("query_id", "corpus_id"),
        Seq("query_id", "corpus_id"), "left_anti")
      val scored = remaining.join(
          broadcast(selVec.select(col("query_id"), col("__sv"), col("__sn"))),
          Seq("query_id"))
        .select(col("query_id"), col("corpus_id"), col("rel"),
          (dotDecimal(col("__v"), col("__sv")).cast("double") /
            (col("__n") * col("__sn"))).as("__cos"))
        .groupBy("query_id", "corpus_id", "rel")
        .agg(max(col("__cos")).as("__ms"))
        .select(col("query_id"), col("corpus_id"),
          (lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__ms"))
            .as("__score"))
      val picked = graft.operators.TopK.groupTopKRows(
          scored, Seq("query_id"),
          Seq(("__score", false), ("corpus_id", true)), 1)
        .select(col("query_id"), col("corpus_id"), lit(t).as("ordem"))
      // localCheckpoint, not persist: `selected` feeds THREE places next
      // round (selVec, the anti-join, the union), so a lazy persist
      // nests the whole prior round's plan into each — k rounds of that
      // and the optimizer/codegen pass dominates wall time (measured
      // ~constant ~8-11 s across sf0.001..sf0.1, the round-overhead
      // signature). Eagerly materializing the ≤|queries|·t-row selection
      // truncates lineage to one round like the k-means/BPE loops.
      selected = selected.unionByName(picked)
        .localCheckpoint(true)
    }
    selected
  }

  /** JL-screened exact-cosine top-k — the production two-stage ANN
    * shape: SCREEN every (query, corpus) pair in the `outDims`-dim
    * projected space (vectors are unit-normalized first, so the
    * projected inner product tracks cosine within the JL 1±ε), keep
    * `screen` candidates per query through the bounded-heap top-k, then
    * exact-cosine re-rank ONLY the survivors in full dimension. Pair
    * scoring cost drops dim/outDims× and the exact decimal path touches
    * screen·|queries| vectors instead of |corpus|·|queries|. Both stages
    * are deterministic (DECIMAL-accumulated projections and dots, id
    * tie-breaks), so the ENTIRE two-stage path is oracle-replayable
    * (q139). Recall < 1 is the JL trade — the spec measures it against
    * [[bruteForceTopK]]; self-matches always survive (a unit vector's
    * projected self-dot is its projected squared norm, the maximum the
    * screen can see for that query's direction).
    */
  def screenedTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, outDims: Int = 8, screen: Int = 50): DataFrame = {
    // unit-normalize with a PERSISTED norm branch point (the q54 trap:
    // referenced inside the transform lambda, CollapseProject would
    // inline the decimal dot once per ELEMENT — O(dim²) per row)
    def unit(df: DataFrame) = CacheScope.persistTracked(
      df.select(col(idCol), col(vecCol))
        .withColumn("__nrm", greatest(l2Norm(col(vecCol)), lit(1e-12))))
      .withColumn("__u",
        transform(col(vecCol), _.cast("double") / col("__nrm")))
    val cu = unit(corpus)
    val qu = unit(queries)
    val cp = randomProject(cu, idCol, "__u", outDims)
    val qp = randomProject(qu, idCol, "__u", outDims)
    val dots = cp.join(
        broadcast(qp.select(col(idCol).as("query_id"), col("j"),
          col("valor").as("__qj"))), Seq("j"))
      .select(col("query_id"), col(idCol).as("corpus_id"),
        (col("__qj") * col("valor")).cast("decimal(38,18)").as("__c"))
      .groupBy("query_id", "corpus_id")
      .agg(sum(col("__c")).cast("double").as("__screen"))
    val cands = graft.operators.TopK.groupTopKRows(
        dots, Seq("query_id"),
        Seq(("__screen", false), ("corpus_id", true)), screen)
      .select("query_id", "corpus_id")
    // exact re-rank: candidates broadcast INTO the corpus scan (the
    // corpus never shuffles), full-dim decimal cosine, per-query window
    val scored = Spread(cu)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"),
        col("__nrm").as("__cn"))
      .join(broadcast(cands), Seq("corpus_id"))
      .join(broadcast(qu.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), col("__nrm").as("__qn"))), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        (dotDecimal(col("__qv"), col("__cv")).cast("double") /
          (col("__qn") * col("__cn"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  def randomProject(
      df: DataFrame, idCol: String, vecCol: String, outDims: Int): DataFrame = {
    require(outDims >= 1, s"need outDims >= 1, got $outDims")
    val spark = df.sparkSession
    import spark.implicits._
    val dims = (0 until outDims).toDF("j")
    val sign = when(
      conv(substring(md5(concat(col("__i").cast("string"), lit(":"),
        col("j").cast("string")).cast("binary")), 1, 8), 16, 10)
        .cast("long") % 2 === 0, 1.0).otherwise(-1.0)
    Spread(df).select(col(idCol), posexplode(col(vecCol)).as(Seq("__i", "__x")))
      .crossJoin(broadcast(dims))
      .select(col(idCol), col("j"),
        (col("__x").cast("double") * sign).cast("decimal(38,18)").as("__c"))
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("__c")).cast("double").as("valor"))
  }

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * audit for an ASSIGNED corpus (IVF cells, k-means labels, any
    * taxonomy): per point, a = distance to the OWN cluster's centroid,
    * b = the nearest OTHER centroid's distance, s = (b − a)/max(a, b)
    * (Rousseeuw 1987's silhouette with the O(n²) pairwise means
    * replaced by centroid distances — the standard large-n form, e.g.
    * scikit-learn's "simplified silhouette"; exact pairwise silhouette
    * at corpus scale is a different operator's contract).
    *
    * Shape: centroids via [[groupCentroid]] (one combinable decimal
    * aggregation), folded to |clusters| vectors and BROADCAST; each
    * point scores against all k centroids at scan level — the corpus
    * never shuffles, the per-cluster rollup is map-side combinable.
    * Determinism: squared distances accumulate per-dimension products
    * in DECIMAL(38,18) (order-free), b's argmin is a decimal MIN (no
    * float decides which centroid is nearest), a/b take ONE sqrt each
    * (IEEE-correctly-rounded), s is one subtraction + one division,
    * and the per-cluster mean sums s through DECIMAL casts.
    *
    * Output: one row per cluster — n, silhueta_media; zero-distance
    * points (exactly on both centroids) contribute s = 0.
    */
  def simplifiedSilhouette(
      df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val pts = df.filter(col(labelCol).isNotNull && col(vecCol).isNotNull)
    val cvec = groupCentroid(pts, labelCol, vecCol)
      .groupBy(labelCol).agg(
        transform(
          array_sort(collect_list(struct(col("posicao"), col("valor")))),
          s => s.getField("valor")).as("__cvec"))
      .select(col(labelCol).as("__cl"), col("__cvec"))
    def sq2(v: Column, c: Column): Column = aggregate(
      zip_with(v, c, (x, y) => {
        val d = x.cast("double") - y
        (d * d).cast("decimal(38,18)")
      }),
      lit(0).cast("decimal(38,18)"),
      (acc, t) => (acc + t).cast("decimal(38,18)"))
    val scored = Spread(pts)
      .select(col(idCol).as("__id"), col(labelCol).as("__l"),
        col(vecCol).as("__v"))
      .crossJoin(broadcast(cvec))
      .select(col("__id"), col("__l"), col("__cl"),
        sq2(col("__v"), col("__cvec")).as("__d2"))
    val own = scored.filter(col("__l") === col("__cl"))
      .select(col("__id"), col("__l"), col("__d2").as("__a2"))
    val other = scored.filter(col("__l") =!= col("__cl"))
      .groupBy("__id").agg(min(col("__d2")).as("__b2"))
    own.join(other, Seq("__id"))
      .select(col("__l"),
        sqrt(col("__a2").cast("double")).as("__a"),
        sqrt(col("__b2").cast("double")).as("__b"))
      .withColumn("__s",
        when(greatest(col("__a"), col("__b")) > 0.0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)))
      .groupBy(col("__l").as("cluster"))
      .agg(count(lit(1L)).as("n"),
        (sum(col("__s").cast("decimal(38,18)")).cast("double") /
          count(lit(1L)).cast("double")).as("silhueta_media"))
  }
}
