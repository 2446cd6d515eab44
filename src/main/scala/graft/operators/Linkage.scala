package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.Gates

/** Blocked fuzzy record linkage — the classic ETL entity-resolution step.
  *
  * Reference analogue: the reference resolves entities through exact
  * de-para alias tables (`operators.Renames`, etl/scnes_vinculos.py's
  * code maps) — which handles KNOWN aliases; typo'd near-duplicates
  * (mis-keyed establishment/municipality names) need fuzzy matching, the
  * record-linkage generalization re-expressed here Spark-first.
  */
object Linkage {

  /** Fuzzy near-match pairs: `(id_a < id_b, dist)` for every pair whose
    * normalized names are within EXACT Levenshtein distance `maxDist`,
    * with candidates formed only inside cheap BLOCKS — multi-pass: one
    * pass per caller-supplied key expression over the normalized name, a
    * pair is a candidate if ANY pass collides (the standard
    * union-of-blocking-keys discipline; recall is bounded by how well
    * the keys cover the possible edit positions — the documented
    * record-linkage trade).
    *
    * Never corpus² — STRUCTURALLY: each pass is an equi-join on its
    * key, and the within-key pair space runs through the shared
    * skew-tiling engine ([[graft.llm.Dedup.tiledPairs]] — the q26/q28
    * discipline): a block of n rows is split into ceil(n/maxBlock) salt
    * groups covered by (i,j) grid tiles, so one task's pair work is
    * capped at ~maxBlock² NO MATTER how badly the caller's key choice
    * saturates (measured before the bound: a suffix-4 key took the
    * sf0.1→sf1 step to ×16.4 wall-time at ×10 data, quadratic inside
    * hot blocks; the tiling makes a saturated key cost parallelizable
    * tiles instead of one quadratic task). Output is provably identical
    * to the plain per-key self-join (spec-pinned). Keys should still be
    * chosen SELECTIVE for the data (suffix n-grams for id-like names,
    * phonetic codes for human names — `soundex()` composes directly);
    * the bound is the safety net, not the plan.
    *
    * Verification is one BANDED Levenshtein DP per candidate (Spark's
    * thresholded `levenshtein(l, r, k)` — O(k·L) per pair, bails with
    * -1 past the threshold): emitted distances are the exact DP values,
    * so the oracle's plain-levenshtein replay matches row-for-row.
    *
    * `maxBlock`: per-tile row cap; default [[graft.llm.Dedup.AdaptiveBlock]]
    * sizes tiles from the measured Σn² block volume and the session's
    * parallelism.
    */
  def fuzzyPairs(
      df: DataFrame, idCol: String, nameCol: String, maxDist: Int,
      blockKeys: Seq[Column => Column],
      maxBlock: Int = graft.llm.Dedup.AdaptiveBlock): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    require(blockKeys.nonEmpty, "need at least one blocking key")
    val keyed = df.select(col(idCol).as("__id"),
        lower(trim(col(nameCol))).as("__nm"))
      .select(col("__id"), col("__nm"),
        posexplode(array(blockKeys.map(k => k(col("__nm"))): _*))
          .as(Seq("__pass", "__key")))
      .filter(col("__key").isNotNull && col("__key") =!= "")
      // one tiling block per (pass, key): passes never cross-collide
      .select(col("__id"),
        concat_ws(" ", col("__pass").cast("string"), col("__key"))
          .as("__block"),
        col("__nm"))
    // tiledPairs emits each unordered pair exactly once per block it
    // shares, UN-ordered on off-diagonal tiles — normalize to id_a<id_b
    // (carrying each id's own name along) before the multi-pass dedup
    val cand = graft.llm.Dedup.tiledPairs(keyed, Seq("__nm"), maxBlock)
      .select(
        when(col("id_a") < col("id_b"), col("id_a")).otherwise(col("id_b"))
          .as("__lo"),
        when(col("id_a") < col("id_b"), col("id_b")).otherwise(col("id_a"))
          .as("__hi"),
        when(col("id_a") < col("id_b"), col("__nm_a")).otherwise(col("__nm_b"))
          .as("__nm_lo"),
        when(col("id_a") < col("id_b"), col("__nm_b")).otherwise(col("__nm_a"))
          .as("__nm_hi"))
      .distinct()
    cand.select(col("__lo").as("id_a"), col("__hi").as("id_b"),
        // banded DP — exact for emitted rows, -1 past the threshold
        levenshtein(col("__nm_lo"), col("__nm_hi"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 0L && col("dist") <= maxDist)
  }

  /** [[fuzzyPairs]] with Jaro–Winkler verification — the SIMILARITY
    * scorer census-style name linkage actually uses where edit distance
    * is the wrong metric: Levenshtein charges a first-character typo
    * and a last-character typo identically, while human-name key errors
    * cluster in suffixes and matches share prefixes (Winkler 1990's
    * motivation). Same candidate discipline — multi-pass caller-supplied
    * blocking keys, within-key pair space through the shared
    * [[graft.llm.Dedup.tiledPairs]] skew engine, multi-pass dedup — with
    * verification ONE native [[graft.functions.JaroWinkler]] call per
    * candidate (codegen'd; DuckDB's independent `jaro_winkler_similarity`
    * implementation is the oracle, so the kernel itself is
    * cross-engine-checked, not replayed).
    *
    * Output: `(id_a < id_b, sim)` for every blocked pair with
    * `sim >= minSim`, each exactly once. Contract: ids unique;
    * normalization is lower/trim (same as [[fuzzyPairs]]).
    */
  def jaroWinklerPairs(
      df: DataFrame, idCol: String, nameCol: String, minSim: Double,
      blockKeys: Seq[Column => Column],
      maxBlock: Int = graft.llm.Dedup.AdaptiveBlock): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0, s"need 0 <= minSim <= 1, got $minSim")
    require(blockKeys.nonEmpty, "need at least one blocking key")
    val keyed = df.select(col(idCol).as("__id"),
        lower(trim(col(nameCol))).as("__nm"))
      .select(col("__id"), col("__nm"),
        posexplode(array(blockKeys.map(k => k(col("__nm"))): _*))
          .as(Seq("__pass", "__key")))
      .filter(col("__key").isNotNull && col("__key") =!= "")
      .select(col("__id"),
        concat_ws(" ", col("__pass").cast("string"), col("__key"))
          .as("__block"),
        col("__nm"))
    val cand = graft.llm.Dedup.tiledPairs(keyed, Seq("__nm"), maxBlock)
      .select(
        when(col("id_a") < col("id_b"), col("id_a")).otherwise(col("id_b"))
          .as("__lo"),
        when(col("id_a") < col("id_b"), col("id_b")).otherwise(col("id_a"))
          .as("__hi"),
        when(col("id_a") < col("id_b"), col("__nm_a")).otherwise(col("__nm_b"))
          .as("__nm_lo"),
        when(col("id_a") < col("id_b"), col("__nm_b")).otherwise(col("__nm_a"))
          .as("__nm_hi"))
      .distinct()
    cand.select(col("__lo").as("id_a"), col("__hi").as("id_b"),
        call_function("jaro_winkler", col("__nm_lo"), col("__nm_hi"))
          .as("sim"))
      .filter(col("sim") >= minSim)
  }

  /** Fellegi–Sunter probabilistic record-linkage scoring (Fellegi &
    * Sunter, JASA 1969) — the decision layer ABOVE the candidate
    * generators ([[fuzzyPairs]], [[editJoinDeletes]]): a candidate pair
    * is described by a vector of per-field AGREEMENT booleans, each
    * field contributes `ln(m/u)` on agreement and `ln((1−m)/(1−u))` on
    * disagreement (m = P(agree | match), u = P(agree | non-match)),
    * and the summed log-likelihood ratio classifies against the two
    * thresholds — "match" / "possivel" / "nao_match", the classic
    * three-way decision rule.
    *
    * m/u are the supervised estimates from `labeled` (same agreement
    * columns + a boolean label), Laplace-smoothed so a perfectly
    * discriminating field cannot produce ln(0): m = (a+1)/(n+2).
    *
    * Exactness: each weight is ONE IEEE division of exact integer
    * PRODUCTS ((a+1)·(n'+2) etc.) followed by one ln, the per-pair
    * score is a FIXED left-associated sum of |fields| doubles (never a
    * float aggregation), and the thresholds compare against scores
    * whose cross-engine divergence is final-ulp — absorbed by the
    * gate's 9-digit float normalization.
    *
    * Shape at 100 TB: weights are ONE aggregation over the labeled
    * set → a single broadcast row; scoring is a stateless projection
    * over the candidate pairs — serves a stream.
    */
  def fellegiSunterScore(
      cand: DataFrame, labeled: DataFrame, fields: Seq[String],
      labelCol: String, upper: Double, lower: Double): DataFrame = {
    require(fields.nonEmpty, "need at least one agreement field")
    require(upper >= lower, s"need upper >= lower, got $upper < $lower")
    val aggs =
      sum(when(col(labelCol), 1L).otherwise(0L)).as("__nm") +:
      sum(when(!col(labelCol), 1L).otherwise(0L)).as("__nu") +:
      fields.flatMap(f => Seq(
        sum(when(col(labelCol) && col(f), 1L).otherwise(0L)).as(s"__m_$f"),
        sum(when(!col(labelCol) && col(f), 1L).otherwise(0L)).as(s"__u_$f")))
    val weights = labeled.agg(aggs.head, aggs.tail: _*)
      .select(fields.flatMap { f =>
        val (m, u) = (col(s"__m_$f"), col(s"__u_$f"))
        val (nm, nu) = (col("__nm"), col("__nu"))
        Seq(
          log(((m + 1L) * (nu + 2L)).cast("double") /
            ((u + 1L) * (nm + 2L)).cast("double")).as(s"__wa_$f"),
          log(((nm + 1L - m) * (nu + 2L)).cast("double") /
            ((nu + 1L - u) * (nm + 2L)).cast("double")).as(s"__wd_$f"))
      }: _*)
    val score = fields
      .map(f => when(col(f), col(s"__wa_$f")).otherwise(col(s"__wd_$f")))
      .reduce(_ + _)
    cand.crossJoin(broadcast(weights))
      .withColumn("pontuacao", score)
      .withColumn("classificacao",
        when(col("pontuacao") >= upper, "match")
          .when(col("pontuacao") <= lower, "nao_match")
          .otherwise("possivel"))
      .drop(fields.flatMap(f => Seq(s"__wa_$f", s"__wd_$f")): _*)
  }

  /** EXACT edit-distance self-join via DELETION neighborhoods (FastSS —
    * Bocek et al., TR 2007, popularized as SymSpell) — every pair
    * within Levenshtein distance `maxDist`, over the whole corpus, with
    * NO caller-chosen blocking keys and NO recall loss: where
    * [[fuzzyPairs]]' recall is bounded by how well the caller's keys
    * cover the edit positions, this join's candidate condition is a
    * THEOREM. It is the string-similarity counterpart of the set join's
    * prefix filter (`llm.SetJoin`).
    *
    * The filter: if `ed(a,b) ≤ d`, an optimal alignment's matched
    * subsequence is reachable from `a` by deleting its s+del aligned-out
    * positions and from `b` by deleting its s+ins positions — both
    * counts ≤ d — so the ≤d-deletion neighborhoods `U_d(a)` and
    * `U_d(b)` INTERSECT. Candidates = pairs sharing any neighborhood
    * variant; verification is one exact Levenshtein per candidate (the
    * converse does not hold — "ab"/"ba" share "a" at distance 2 — which
    * is fine: the filter must only be complete). Degenerate short
    * strings need no special path: any `|s| ≤ d` string's neighborhood
    * contains "", so the short slice pairs through the "" block
    * automatically.
    *
    * WHY deletions and not q-gram counting (Gravano VLDB'01, Ukkonen's
    * bound): the count filter's candidate step collides every pair
    * sharing ONE gram — on low-gram-entropy corpora (id-like names
    * sharing a literal prefix) universal grams put the whole corpus in
    * one block and candidate volume degenerates to n² (measured on this
    * engine before replacement: 260 s solo at sf0.1, ~n²·15 pair
    * instances, vs the whole 180-query bench at 286 s). Deletion
    * variants are length-(≥L−d) SUBSTRINGS-with-gaps of the original —
    * a block holds only strings genuinely within 2d of each other
    * modulo the shared variant, so block mass tracks the true near-dup
    * density, not gram entropy.
    *
    * Shape: variant generation is d chained explodes, O(C(L,d)) rows
    * per string (n·(L+1) at d=1 — the small-d linkage regime this
    * operator contracts; for d ≥ 3 on long strings the neighborhood is
    * combinatorial and a partition-filter family is the right tool).
    * Blocks run through the shared [[graft.llm.Dedup.tiledPairs]]
    * engine — a duplicated-literal corpus (k copies of one name = a
    * k-member block of genuine distance-0 pairs) costs bounded tiles,
    * never one quadratic task. Candidates dedup once, join their
    * strings back, pass the `|L_a−L_b| ≤ d` length filter, then one
    * BANDED exact DP each (Spark's thresholded `levenshtein(l, r, k)`
    * — O(d·L) per candidate, emitted values exact).
    *
    * Output: (id_a < id_b, dist) for every pair with dist ≤ maxDist,
    * each exactly once. Contract: ids unique; normalization
    * (lower/trim) is the caller's choice, applied before the call.
    */
  /** Optional `strata`: a key expression over the string column that
    * RESTRICTS the join to equal-key pairs (pairs across strata are not
    * candidates and not emitted). Within a stratum the deletion-variant
    * condition is still the complete FastSS filter, so the output is
    * EXACTLY "all pairs with equal strata key and dist ≤ maxDist" —
    * the same result set as a blocked [[fuzzyPairs]] pass on that key,
    * but with candidates bounded by true near-dup density instead of
    * key-collision volume (a saturated blocking key costs block²
    * candidates there; here only variant-sharing rows inside the
    * stratum ever meet). Null/empty strata rows pair with nothing —
    * the [[fuzzyPairs]] key discipline.
    */
  def editJoinDeletes(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int,
      maxBlock: Int = graft.llm.Dedup.AdaptiveBlock,
      strata: Option[Column => Column] = None): DataFrame =
    editJoinCore(
      df.select(col(idCol).as("__id"), col(strCol).as("__s"))
        .filter(col("__s").isNotNull)
        .transform(d => strata match {
          case Some(k) => d.withColumn("__st", k(col("__s")))
            .filter(col("__st").isNotNull && col("__st") =!= "")
          case None => d.withColumn("__st", lit(""))
        }),
      maxDist, maxBlock)

  /** [[editJoinDeletes]] stratified by an ARBITRARY column of `df`
    * (not an expression over the string): the record-linkage form where
    * the stratum is a structured attribute — nation, region, source —
    * rather than a slice of the name itself. Same contract: output is
    * EXACTLY "all pairs with equal (non-null, non-empty) strata value
    * and Levenshtein ≤ maxDist", the deletion-neighborhood filter stays
    * the complete FastSS theorem inside each stratum, candidates track
    * true near-dup density instead of blocking-key collision volume.
    */
  def editJoinDeletesOn(
      df: DataFrame, idCol: String, strCol: String, strataCol: String,
      maxDist: Int,
      maxBlock: Int = graft.llm.Dedup.AdaptiveBlock): DataFrame =
    editJoinCore(
      df.select(col(idCol).as("__id"), col(strCol).as("__s"),
          col(strataCol).cast("string").as("__st"))
        .filter(col("__s").isNotNull &&
          col("__st").isNotNull && col("__st") =!= ""),
      maxDist, maxBlock)

  /** Shared FastSS core over a pre-projected (__id, __s, __st) frame.
    *
    * Round-14 shape, BOTH distance regimes: identical (stratum, string)
    * rows collapse to one CLASS before any candidate work (the q27/q227
    * representative discipline), the within-class pairs are emitted
    * directly as the dist-0 channel, the cross-class distance-[1,d]
    * pairs are found on the DISTINCT-class table, and two output-bound
    * equi-joins expand class pairs to member id pairs at the end. On a
    * replicated corpus (gen_scale's verbatim xk) the candidate stage is
    * sf-INVARIANT — only the expansion (the true answer's own volume)
    * grows; the r13 shape ran variants per MEMBER row and its sf10
    * shuffle exhausted 75 GB of disk on the maxDist = 2 member corpus.
    *
    * Cross-class channel, switched on the distance bound:
    *
    *   - maxDist <= 1: [[positionalClassPairs]] — position-keyed
    *     channels where the deletion filter sharpens from complete to
    *     EXACT and the verification DP disappears (see its scaladoc).
    *
    *   - maxDist >= 2: [[deletionClassPairs]] — position-less
    *     <=d-deletion neighborhoods (~ len²/2 variants per class),
    *     bare-class-key candidates + distinct + two joins back to the
    *     class table, one BANDED exact DP per survivor (Spark's
    *     thresholded `levenshtein(l, r, k)`, O(d·L), bails with -1 past
    *     the threshold — emitted distances are the exact DP values, so
    *     the oracle replay matches).
    */
  private def editJoinCore(
      strsIn: DataFrame, maxDist: Int, maxBlock: Int): DataFrame = {
    require(maxDist >= 0, s"need maxDist >= 0, got $maxDist")
    // class key = (stratum, string) — NUL-joined, opaque to the engine
    val members = graft.llm.CacheScope.persistTracked(
      graft.llm.Spread(strsIn)
        .withColumn("__len", length(col("__s")).cast("long"))
        .withColumn("__ck", concat_ws("\u0000", col("__st"), col("__s"))))
    // the zero channel's tiling stats (Σ class-size²) are the
    // replication signal gating the class-pair expansion pins below
    val (zeroRaw, zeroVolume) = graft.llm.Dedup.tiledPairsStats(
        members.select(col("__id"), col("__ck").as("__block")),
        Seq.empty, maxBlock, cache = false)
    val zero = zeroRaw
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        lit(0L).as("dist"))
    if (maxDist == 0) return zero
    val classes = graft.llm.CacheScope.persistTracked(
      members.select("__st", "__s", "__len", "__ck").distinct())
    val classPairs =
      if (maxDist <= 1) positionalClassPairs(classes, maxBlock)
      else deletionClassPairs(classes, maxDist, maxBlock)
    // class pairs are sf-invariant-small while each member join
    // multiplies them by a class's replica count (the answer's own
    // volume): pin both expansions to the session's shuffle width so
    // AQE's byte-based coalescing cannot fold the output-bound work
    // into one task (round 15 — the trap thread-dumped on q27's sf10
    // run applies to every representative-collapse expansion). Gated
    // on the zero channel's observed Σ class-size²: with no
    // replication the expansions do not expand and the pin would only
    // add exchanges.
    val xpin = Gates.widthPin(zeroVolume)
    val one = xpin(classPairs, col("__cka"))
      .join(members.select(col("__ck").as("__cka"),
        col("__id").as("__ia")), "__cka")
      .transform(df => xpin(df, col("__ckb")))
      .join(members.select(col("__ck").as("__ckb"),
        col("__id").as("__ib")), "__ckb")
      .select(
        least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"),
        col("dist"))
    zero.unionByName(one)
  }

  /** maxDist = 1 cross-class channels: POSITION-KEYED FastSS (round 14
    * — the sf10 cure for q183). At d = 1 the deletion filter sharpens
    * from complete to EXACT, so verification disappears — no
    * Levenshtein DP runs anywhere on this path:
    *
    *   - '''substitution''' — a = b except at exactly one position i.
    *     Then delete(a,i) = delete(b,i): both land in block
    *     (stratum, i, variant). CONVERSELY any two distinct members of
    *     that block are the variant with one char inserted at the SAME
    *     i, so they agree outside i and differ at i — every block pair
    *     is a true distance-1 pair, emitted exactly once (deleting any
    *     j != i keeps the differing char, so the pair collides in no
    *     other block). Position-keying is what kills the r13 sf10
    *     blowup: a position-LESS block collided every string reaching
    *     the variant from ANY position (~alphabet x length members on
    *     id-like corpora — >60 GB of spilled candidates at sf10), while
    *     a (position, variant) block holds at most |alphabet| strings.
    *   - '''indel''' — |a| = |b| + 1 and b = delete(a, i): a's variant
    *     EQUALS b, a plain (stratum, variant) JOIN (stratum, string)
    *     equi-join whose every hit is a true distance-1 pair;
    *     array_distinct over each class's variants makes each pair hit
    *     once ("aab"->"ab" from two positions is one variant row).
    *
    * The channels are DISJOINT from each other (equal-length unequal
    * strings / length gap 1) and from the caller's dist-0 class pairs
    * (distinct classes differ), so no cross-channel dedup is needed.
    * Completeness at d = 1 is case arithmetic: ed <= 1 means equal,
    * one substitution, or one indel — each case has its channel.
    */
  private def positionalClassPairs(
      classes: DataFrame, maxBlock: Int): DataFrame = {
    // strings with at least one deletion variant (len > 0); the empty
    // string still pairs through the caller's dist-0 channel and as
    // the indel join's right side ("" is the variant of every
    // single-char string)
    val deletable = classes.filter(col("__len") > 0)
    val subKeyed = deletable.select(col("__ck").as("__id"), col("__st"),
        posexplode(expr(
          "transform(sequence(1, length(__s)), i -> " +
            "concat(substring(__s, 1, i-1), " +
            "substring(__s, i+1, 2147483647)))")))
      .select(col("__id"), concat_ws("\u0000",
        col("__st"), col("pos").cast("string"), col("col")).as("__block"))
    val subPairs = graft.llm.Dedup
      .tiledPairs(subKeyed, Seq.empty, maxBlock, cache = false)
      .select(col("id_a").as("__cka"), col("id_b").as("__ckb"))
    val indelPairs = deletable.select(col("__st"), col("__ck").as("__cka"),
        explode(array_distinct(expr(
          "transform(sequence(1, length(__s)), i -> " +
            "concat(substring(__s, 1, i-1), " +
            "substring(__s, i+1, 2147483647)))"))).as("__v"))
      .join(classes.select(col("__st"), col("__s").as("__v"),
        col("__ck").as("__ckb")), Seq("__st", "__v"))
      .select(col("__cka"), col("__ckb"))
    subPairs.unionByName(indelPairs).withColumn("dist", lit(1L))
  }

  /** maxDist >= 2 cross-class channel: position-less <=d-deletion
    * neighborhoods over the DISTINCT-class table — d rounds of
    * explode(self U one-char deletions), distinct per class key, block
    * collisions through the shared tiling engine, then one banded
    * exact DP per candidate pair. Candidates are bare class keys
    * (payload bytes would dominate the d >= 2 variant shuffle —
    * measured 34.6 s join-back vs 82.1 s payload-carry at sf1 in r13);
    * the two string-recovery joins probe the cached class table, which
    * is sf-invariant under replication.
    */
  private def deletionClassPairs(
      classes: DataFrame, maxDist: Int, maxBlock: Int): DataFrame = {
    // sequence(1,0) would step BACKWARD (Spark's sign-inferred step) —
    // guard the empty string explicitly.
    var variants = classes.select(
      col("__ck"), col("__st"), col("__s").as("__v"))
    for (_ <- 1 to maxDist) {
      variants = variants.select(
        col("__ck"), col("__st"), explode(expr(
          "case when length(__v) = 0 then array(__v) else " +
            "array_union(array(__v), transform(sequence(1, length(__v)), " +
            "i -> concat(substring(__v, 1, i-1), " +
            "substring(__v, i+1, 2147483647)))) end")).as("__v"))
    }
    // stratum is part of the block identity: variants collide only
    // within equal strata. The block key is HASHED (guide §2.3 —
    // shuffle narrower types): the ~L²/2 variant rows per class carry
    // an 8-byte xxhash64 instead of the ~20-byte stratum+variant
    // string through the distinct and the tile self-join. Safe HERE
    // (unlike the d<=1 channels and the dist-0 channel, which emit
    // pairs unverified): every candidate passes the exact banded
    // Levenshtein below, so a hash collision costs one wasted DP row,
    // never a wrong pair.
    val keyed = variants.select(col("__ck").as("__id"),
      xxhash64(col("__st"), col("__v")).as("__block")).distinct()
    val cand = graft.llm.Dedup.tiledPairs(keyed, Seq.empty, maxBlock)
      .select(
        least(col("id_a"), col("id_b")).as("__cka"),
        greatest(col("id_a"), col("id_b")).as("__ckb"))
      .distinct()
    // the class table is sf-invariant under replication (distinct
    // strings only) — broadcast both string-recovery probes so the
    // candidate stream never shuffles for them (ADVICE r14; same
    // rationale as the Fellegi–Sunter attribute probes): at sf10 the
    // stream-side shuffle is the disk-filling term. SIZE-GUARDED
    // (round 16, VERDICT item 4): "distinct strings" is only small
    // under replication — a mostly-unique corpus has distinct ≈ corpus,
    // and two unconditional copies of it would hit Spark's 8 GB /
    // 512M-row broadcast hard cap and the driver heap (the
    // RegistryLinkGraph q186 attrs ceiling, made a runtime gate here).
    // The count is one aggregation over the already-persisted class
    // cache the recovery probes materialize anyway.
    val hint = Gates.broadcastIfAtMost(
      classes.count(), Gates.RecoveryBroadcastMaxClasses)
    cand
      .join(hint(classes.select(col("__ck").as("__cka"),
        col("__s").as("__sa"), col("__len").as("__la"),
        col("__st").as("__sta"))), "__cka")
      .join(hint(classes.select(col("__ck").as("__ckb"),
        col("__s").as("__sb"), col("__len").as("__lb"),
        col("__st").as("__stb"))), "__ckb")
      // stratum equality re-checked on the RECOVERED rows: the 8-byte
      // block key is xxhash64(__st, __v), so a cross-stratum 64-bit
      // collision between strings within maxDist would otherwise emit
      // a wrong cross-stratum pair (ADVICE r15 — the "never a wrong
      // pair" claim held only same-stratum). One string equality per
      // candidate, no extra shuffle.
      .filter(col("__sta") === col("__stb") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("__cka"), col("__ckb"),
        levenshtein(col("__sa"), col("__sb"), maxDist).cast("long")
          .as("dist"))
      .filter(col("dist") >= 1L && col("dist") <= maxDist)
  }
}
