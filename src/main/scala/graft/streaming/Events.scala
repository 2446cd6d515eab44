package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators over the `events` table: tumbling-window
  * aggregation, gap-based sessionization, interval joins, funnels, paths
  * and attribution, each a batch DataFrame the oracle checks.
  */
object Events {

  /** Epoch-aligned tumbling-window aggregate (count + exact decimal sum). */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("janela"), col("event_type"))
      .agg(
        count(lit(1L)).as("eventos"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("valor_total"))
      .select(
        col("janela.start").as("janela_inicio"),
        col("janela.end").as("janela_fim"),
        col("event_type"), col("eventos"), col("valor_total"))

  /** Gap-based sessionization as window expressions: a session breaks when
    * the gap to the previous event (per user, ordered by ts then event_id
    * for determinism) exceeds `gapMinutes`.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val prevTs = lag(col("ts"), 1).over(byUser)
    val novo = when(
      prevTs.isNull || unix_micros(col("ts")) - unix_micros(prevTs) > gapUs, 1)
      .otherwise(0)
    events
      .withColumn("__novo", novo)
      .withColumn("sessao",
        sum(col("__novo")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sessao"))
      .agg(
        count(lit(1L)).as("eventos"),
        min(col("ts")).as("inicio"),
        max(col("ts")).as("fim"))
  }

  /** Ingestion dedup: one event per key set, keeping the earliest
    * (ts, event_id). A single `groupBy` with map-side-combining `min_by` —
    * no window over the full table, no second shuffle.
    */
  def ingestDedup(events: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = events.columns.toSeq
    events.groupBy(keys.map(col): _*)
      .agg(min_by(struct(cols.map(col): _*), struct(col("ts"), col("event_id")))
        .as("__graft_r"))
      .select(cols.map(c => col(s"__graft_r.$c").as(c)): _*)
  }

  /** Gap sessionization via Spark's NATIVE `session_window` operator — the
    * idiomatic Spark form next to the window/cumsum [[sessionize]]: no
    * running ordinal, sessions identified by their (user, start) instead.
    * Boundary semantics match [[sessionize]]: a new session starts only
    * when the gap EXCEEDS the threshold (exactly-gap spacing merges —
    * verified empirically in `StreamingSpec`).
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("__w"))
      .agg(
        count(lit(1L)).as("eventos"),
        min(col("ts")).as("inicio"),
        max(col("ts")).as("fim"))
      .select(col("user_id"), col("eventos"), col("inicio"), col("fim"))

  /** Attribution interval join (batch): every `leftType` event pairs with
    * the SAME user's `rightType` events at most `boundMinutes` after it
    * (inclusive both ends — a simultaneous conversion counts). The plan is
    * one equi-join on `user_id` with the time bound as a residual
    * predicate: both sides shuffle ONCE on the user key and each key's
    * pair space is bounded by that user's own activity — never a
    * time-bucket cross product. Emits the trigger/conversion ids and the
    * delay in whole seconds.
    */
  def intervalJoin(
      events: DataFrame, leftType: String, rightType: String,
      boundMinutes: Int): DataFrame = {
    val l = events.filter(col("event_type") === leftType).select(
      col("user_id"), col("event_id").as("gatilho_id"), col("ts").as("gatilho_ts"))
    val r = events.filter(col("event_type") === rightType).select(
      col("user_id"), col("event_id").as("conversao_id"), col("ts").as("conversao_ts"))
    val delayUs = unix_micros(col("conversao_ts")) - unix_micros(col("gatilho_ts"))
    l.join(r, Seq("user_id"))
      .filter(delayUs >= 0L && delayUs <= boundMinutes.toLong * 60L * 1000000L)
      .select(col("user_id"), col("gatilho_id"), col("conversao_id"),
        // `/` on longs is true division in Spark; whole seconds want floor
        floor(delayUs / 1000000L).cast("long").as("atraso_s"))
  }

  /** Per-user rolling aggregate over the trailing `n` events (ordered by
    * ts then event_id for determinism): moving event count and
    * decimal-exact moving mean of `value` — the feature-engineering
    * window every behavioral pipeline computes. ONE window shuffle+sort
    * on the user key; the frame is row-bounded so state per row is O(n).
    * The mean accumulates through DECIMAL(28,6) (exact, identical in any
    * engine/order — SURVEY §4) with a single IEEE division.
    */
  def rollingAgg(events: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(n - 1), 0)
    events.select(
      col("user_id"), col("event_id"), col("ts"),
      count(lit(1L)).over(w).as("eventos_janela"),
      (sum(col("value").cast("decimal(28,6)")).over(w).cast("double") /
        count(lit(1L)).over(w).cast("double")).as("media_movel"))
  }

  /** Ordered funnel: how deep each user got through `stages` IN ORDER
    * (first event of stage i+1 at-or-after the first event of stage i).
    * One map-side-combinable aggregation — per-user first-timestamps per
    * stage via conditional `min`, depth folded from the ordering chain;
    * no window, no self-join, one shuffle on the user key.
    */
  def funnelDepth(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val firsts = events.groupBy(col("user_id")).agg(
      min(when(col("event_type") === stages.head, col("ts"))).as(s"ts_0"),
      stages.tail.zipWithIndex.map { case (s, i) =>
        min(when(col("event_type") === s, col("ts"))).as(s"ts_${i + 1}")
      }: _*)
    // depth = length of the prefix with non-null, non-decreasing firsts
    val depth = stages.indices.tail.foldLeft(
      when(col("ts_0").isNotNull, 1).otherwise(0)) { (d, i) =>
      when(d === i && col(s"ts_$i").isNotNull &&
        col(s"ts_$i") >= col(s"ts_${i - 1}"), i + 1).otherwise(d)
    }
    firsts.select(col("user_id"), depth.cast("int").as("etapas"))
  }

  /** Time-constrained funnel — [[funnelDepth]] with per-step conversion
    * WINDOWS: stage i+1 only counts if its first qualifying event lands
    * within `within` of the stage-i time. The product-analytics form
    * every "converted within 48h" report needs; the unconstrained
    * funnel (row 86) over-credits users who convert weeks later.
    *
    * Shape: stage times resolve iteratively — k−1 fixed rounds (the
    * PageRank/MMR discipline: round count is the FUNNEL length, never
    * data), each ONE user-keyed join of the per-user stage-time table
    * (≤ |users| rows) against that stage's events plus ONE combinable
    * min aggregation. A null prior stage nulls the join condition, so
    * later stages stay null without special-casing. Exact timestamps;
    * `etapas` = length of the satisfied prefix.
    *
    * Output: (user_id, ts_0 .. ts_{k−1}, etapas) for users who reached
    * stage 0.
    */
  def funnelWithin(
      events: DataFrame, stages: Seq[String], within: String): DataFrame = {
    require(stages.size >= 2, s"need >= 2 stages, got ${stages.size}")
    val ev = events.select(col("user_id"), col("ts"), col("event_type"))
    var cur = ev.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("ts")).as("ts_0"))
    stages.indices.tail.foreach { i =>
      val e = ev.filter(col("event_type") === stages(i))
        .select(col("user_id").as("__u"), col("ts").as("__t"))
      val prev = col(s"ts_${i - 1}")
      cur = cur.join(e,
          col("user_id") === col("__u") &&
            col("__t") >= prev &&
            col("__t") <= prev + expr(s"INTERVAL $within"),
          "left")
        .groupBy(col("user_id") +:
          (0 until i).map(j => col(s"ts_$j")): _*)
        .agg(min(col("__t")).as(s"ts_$i"))
    }
    val depth = stages.indices.tail.foldLeft(lit(1)) { (d, i) =>
      when(col(s"ts_$i").isNotNull, i + 1).otherwise(d)
    }
    // a null stage i forces null at i+1 (the join condition nulls), so
    // the max non-null index IS the prefix length
    cur.withColumn("etapas", depth.cast("int"))
  }

  /** First-order event transition matrix — the Markov "what happens
    * after X" table (page-path analysis, funnel leak hunting): counts
    * and conditional probabilities of each (event_type → next
    * event_type) transition within a user's ordered stream.
    *
    * Shape: one per-user `lead` window ordered by (ts, event_id) —
    * per-user bounded, the [[rollingAgg]] cost argument — then one
    * combinable count per (from, to) pair and a broadcast of the
    * ≤|types|-row totals back onto the ≤|types|²-row matrix. Each
    * probability is ONE correctly-rounded IEEE division of exact longs
    * (the q65 discipline), so the whole matrix replays bit-for-bit.
    *
    * Output: (de, para, transicoes, probabilidade).
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
    val cnt = pairs
      .groupBy(col("event_type").as("de"), col("__next").as("para"))
      .agg(count(lit(1L)).as("transicoes"))
    val totals = cnt.groupBy("de").agg(sum(col("transicoes")).as("__tot"))
    cnt.join(broadcast(totals), Seq("de"))
      .select(col("de"), col("para"), col("transicoes"),
        (col("transicoes").cast("double") / col("__tot").cast("double"))
          .as("probabilidade"))
  }

  /** Most-common opening paths — the "how do journeys start" table next
    * to [[transitionMatrix]]'s one-step view: each user's FIRST `steps`
    * events (by time) joined into a path string, ranked by how many
    * users share it.
    *
    * Shape: the per-user earliest-k selection runs through the
    * bounded-heap TopKRows aggregate — map-side partials cap the
    * exchange at k rows/user/partition, nothing sorts the event stream
    * (the row-93 argument; a window `row_number` form would sort every
    * user's whole history). The path assembly collects ≤ `steps`
    * position-tagged rows per user (bounded array, not a neighborhood),
    * and the final ranking is `orderBy().limit()` →
    * TakeOrderedAndProject with (count DESC, path ASC) ties.
    *
    * Output: (caminho, usuarios) — top `topN` paths.
    */
  def commonPaths(
      events: DataFrame, steps: Int = 3, topN: Int = 10): DataFrame = {
    require(steps >= 1 && topN >= 1, s"need steps,topN >= 1; got $steps/$topN")
    val first = graft.operators.TopK.groupTopKRows(
      events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type")),
      Seq("user_id"), Seq(("ts", true), ("event_id", true)), steps,
      posCol = "__pos")
    val paths = first.groupBy("user_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__pos"), col("event_type")))),
          s => s.getField("event_type")),
        ">").as("caminho"))
    paths.groupBy("caminho").agg(count(lit(1L)).as("usuarios"))
      .orderBy(col("usuarios").desc, col("caminho"))
      .limit(topN)
  }

  /** First/last-touch conversion attribution — which touchpoint
    * (view/click) gets credit for each conversion, the question every
    * event pipeline's marketing/funnel consumer asks next after
    * [[funnelDepth]].
    *
    * Shape: ONE user-keyed interval join (conversions × touches bounded
    * by the lookback window — per-user pair space, the [[intervalJoin]]
    * argument) and ONE combinable aggregation per conversion: first and
    * last touch fall out of `min`/`max` over (ts, id, type) STRUCTS
    * (field-by-field ordering — deterministic ties by event id), so no
    * per-conversion window sort exists anywhere. A LEFT join keeps
    * unattributed conversions (no touch in the window) with null credit
    * and `n_toques = 0`.
    *
    * `lookback` is an interval literal ("3 days"). Touches strictly
    * BEFORE the conversion instant count; the conversion's own instant
    * does not (a same-instant touch is not a cause).
    */
  def attribution(
      events: DataFrame, convType: String, touchTypes: Seq[String],
      lookback: String): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val conv = events.filter(col("event_type") === convType)
      .select(col("event_id").as("conversao_id"), col("user_id"),
        col("ts").as("__cts"))
    val touch = events.filter(col("event_type").isInCollection(touchTypes))
      .select(col("user_id").as("__tuid"), col("ts").as("__tts"),
        col("event_id").as("__tid"), col("event_type").as("__ttype"))
    conv.join(touch,
        col("user_id") === col("__tuid") &&
          col("__tts") < col("__cts") &&
          col("__tts") >= col("__cts") - expr(s"INTERVAL $lookback"),
        "left")
      .groupBy("conversao_id", "user_id")
      .agg(
        count(col("__tid")).as("n_toques"),
        min(struct(col("__tts"), col("__tid"), col("__ttype"))).as("__first"),
        max(struct(col("__tts"), col("__tid"), col("__ttype"))).as("__last"))
      .select(col("conversao_id"), col("user_id"), col("n_toques"),
        col("__first.__tid").as("primeiro_id"),
        col("__first.__ttype").as("primeiro_tipo"),
        col("__last.__tid").as("ultimo_id"),
        col("__last.__ttype").as("ultimo_tipo"))
  }
}
