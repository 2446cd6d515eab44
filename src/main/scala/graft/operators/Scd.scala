package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 history maintenance.
  *
  * Reference analogue: the metadata upsert keeps only the LATEST state of
  * each key (`upsert_dados_no_postgres`,
  * sm_cloud_run/utilitarios/bd_utilitarios.py:262) — type-2 is the
  * standard warehouse extension that keeps every prior version with its
  * validity interval, which the panel's period-dimension joins
  * (`periodo_por_data`) then query by date.
  *
  * Spark-first shape: the incoming batch is tiny relative to a 100 TB
  * dimension history, so BOTH probes broadcast the batch side — the
  * history table is never shuffled:
  *   1. history LEFT-joins broadcast(incoming) to close open rows whose
  *      attributes changed (valid_to = the batch effective date);
  *   2. incoming LEFT-joins a broadcast of the CURRENT rows for its own
  *      keys (a broadcast-semi-pruned slice of the history, ≤ |batch|
  *      rows) to decide which batch rows become new open versions
  *      (changed attributes or brand-new keys; identical rows are no-ops).
  * The result is one `unionByName` of the two branches — same columns,
  * deterministic, SQL-reproducible.
  */
object Scd {

  /** Apply `incoming` (keys + attrs + `effectiveCol` date) to the type-2
    * `history` (keys + attrs + `valid_from`/`valid_to`/`is_current`).
    * Returns the full new history.
    *
    * `incoming` must hold AT MOST ONE row per key (a batch is one
    * snapshot instant — dedupe first, e.g. [[Rollup]]/`min_by`, if the
    * source can repeat keys): a duplicated key would fan out the close
    * join and insert conflicting open versions.
    */
  def scd2Apply(
      history: DataFrame, incoming: DataFrame,
      keyCols: Seq[String], attrCols: Seq[String],
      effectiveCol: String): DataFrame = {

    val inKeyed = incoming.select(
      (keyCols.map(col) :+ col(effectiveCol).as("__eff")) ++
        attrCols.map(c => col(c).as(s"__in_$c")): _*)

    // attribute change under null-safe equality; prefixes name the two
    // sides ("" = the unprefixed history columns)
    def changed(aPrefix: String, bPrefix: String) =
      attrCols.map(c => !(col(s"$aPrefix$c") <=> col(s"$bPrefix$c"))).reduce(_ || _)

    // 1. pass through / close open rows that a changed batch row supersedes
    // (__eff is the match indicator: non-null iff the key is in the batch —
    // a batch row's effective date must never be null)
    val closing = col("is_current") && col("__eff").isNotNull && changed("", "__in_")
    val historyOut = history.join(broadcast(inKeyed), keyCols, "left")
      .select(
        (keyCols.map(col) ++ attrCols.map(col)) :+
          col("valid_from") :+
          when(closing, col("__eff")).otherwise(col("valid_to")).as("valid_to") :+
          when(closing, lit(false)).otherwise(col("is_current")).as("is_current"): _*)

    // 2. new open versions from the batch: changed attrs or brand-new key.
    // Current rows for the batch's keys only — a broadcast-semi prune of
    // the history down to ≤ |batch| rows, then itself broadcast.
    val currentForBatch = history.filter(col("is_current"))
      .join(broadcast(inKeyed.select(keyCols.map(col): _*)), keyCols, "left_semi")
      .select(keyCols.map(col) ++
        attrCols.map(c => col(c).as(s"__cur_$c")) :+ lit(true).as("__has_cur"): _*)
    val newRows = inKeyed.join(broadcast(currentForBatch), keyCols, "left")
      .filter(col("__has_cur").isNull || changed("__in_", "__cur_"))
      .select(
        (keyCols.map(col) ++
          attrCols.map(c => col(s"__in_$c").as(c))) :+
          col("__eff").as("valid_from") :+
          lit(null).cast(historyOut.schema("valid_to").dataType).as("valid_to") :+
          lit(true).as("is_current"): _*)

    historyOut.unionByName(newRows)
  }

  /** Incremental SCD2: the DELTA a batch induces instead of the rewritten
    * full history — [[scd2Apply]] re-emits every history row, which at a
    * 100 TB dimension means rewriting 100 TB per batch; a merge-capable
    * sink only needs the changed rows. Output schema = history's columns
    * plus `acao`: `'fechar'` rows are the previously-open versions now
    * closed (`valid_to` = batch effective date, `is_current` = false) and
    * `'abrir'` rows are the new open versions (changed attributes or
    * brand-new keys). Unchanged batch rows are no-ops and emit nothing.
    *
    * Scale shape: the ONLY pass over the history is a scan filtered by
    * `is_current` AND a Bloom filter built from the batch's key hashes —
    * both evaluated scan-side before any exchange, so bloom-negative
    * history rows (virtually all of them) are dropped at the source and
    * the surviving sliver is exact-semi-pruned to ≤ |batch| rows and
    * broadcast. The history is never shuffled and never rewritten.
    *
    * Same contract as [[scd2Apply]]: `incoming` holds at most one row per
    * key. False positives from `fpp` only route extra rows through the
    * exact semi-join; they never change the result.
    */
  def scd2Delta(
      history: DataFrame, incoming: DataFrame,
      keyCols: Seq[String], attrCols: Seq[String],
      effectiveCol: String, fpp: Double = 0.01): DataFrame = {
    val inKeyed = incoming.select(
      (keyCols.map(col) :+ col(effectiveCol).as("__eff")) ++
        attrCols.map(c => col(c).as(s"__in_$c")): _*)

    def keyHash(df: DataFrame) = xxhash64(keyCols.map(df(_)): _*)
    val hashed = incoming.select(keyHash(incoming).as("__graft_kh"))
    val expected = math.max(hashed.count(), 1L)
    val bloom = hashed.stat.bloomFilter("__graft_kh", expected, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val might = call_function("graft_might_contain", lit(bytes), keyHash(history))

    // bloom-positive current rows, exact-pruned to the batch's keys, then
    // broadcast: ≤ |batch| rows regardless of history size
    val inKeySet = incoming
      .select(keyCols.map(k => col(k).as(s"__graft_k_$k")): _*).distinct()
    val candidates = history.filter(col("is_current") && might)
    val semiCond = keyCols.map(k => candidates(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
    val candSlim = candidates.join(broadcast(inKeySet), semiCond, "left_semi")
      .select(keyCols.map(col) ++
        attrCols.map(c => col(c).as(s"__cur_$c")) :+
        col("valid_from").as("__cur_valid_from") :+ lit(true).as("__has_cur"): _*)

    val matched = inKeyed.join(broadcast(candSlim), keyCols, "left")
    val changed = attrCols.map(c => !(col(s"__in_$c") <=> col(s"__cur_$c"))).reduce(_ || _)
    val validToType = history.schema("valid_to").dataType

    val closes = matched.filter(col("__has_cur").isNotNull && changed)
      .select(
        (keyCols.map(col) ++ attrCols.map(c => col(s"__cur_$c").as(c))) :+
          col("__cur_valid_from").as("valid_from") :+
          col("__eff").cast(validToType).as("valid_to") :+
          lit(false).as("is_current") :+ lit("fechar").as("acao"): _*)
    val opens = matched.filter(col("__has_cur").isNull || changed)
      .select(
        (keyCols.map(col) ++ attrCols.map(c => col(s"__in_$c").as(c))) :+
          col("__eff").as("valid_from") :+
          lit(null).cast(validToType).as("valid_to") :+
          lit(true).as("is_current") :+ lit("abrir").as("acao"): _*)

    closes.unionByName(opens)
  }

  /** Point-in-time dimension lookup against an SCD2 history — "which
    * version of this dimension row was true when the fact happened", the
    * query a versioned history (row 76) exists to answer and the
    * warehouse generalization of the reference's period-dimension joins.
    *
    * Runs as ONE pass of the native as-of operator (row 92): the history
    * keyed on `valid_from` is the dim side of a backward as-of on
    * (keyCols, tsCol) — latest version opened at-or-before the fact —
    * then matches whose `valid_to` has already passed are nulled out, so
    * HISTORY GAPS (a key deleted for a period and later re-inserted)
    * yield nulls instead of leaking the stale version. Inherits the
    * operator's planner contracts: sorts elide on bucketed-sorted
    * inputs, the fact-side partitioning is reusable downstream, one held
    * dim row of state per key.
    *
    * Output: every fact row + `prefix`-ed payload columns (null when no
    * version was valid at the fact's ts).
    */
  def scd2Lookup(
      fact: DataFrame, history: DataFrame, keyCols: Seq[String],
      tsCol: String, payloadCols: Seq[String],
      prefix: String = "dim_"): DataFrame = {
    val dim = history.withColumn(tsCol, col("valid_from"))
    val joined = AsOf.asOfJoinNative(
      fact, dim, keyCols, tsCol, payloadCols :+ "valid_to", prefix)
    val invalid = col(s"${prefix}valid_to").isNotNull &&
      col(tsCol) >= col(s"${prefix}valid_to")
    payloadCols.foldLeft(joined) { (d, c) =>
      d.withColumn(s"$prefix$c",
        when(invalid, lit(null).cast(joined.schema(s"$prefix$c").dataType))
          .otherwise(col(s"$prefix$c")))
    }.drop(s"${prefix}valid_to", s"$prefix$tsCol")
  }
}
