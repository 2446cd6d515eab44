package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plain forms of native functions and operators: the composed Spark
  * expressions and joins each kernel or fast path replaces, kept as the
  * references the specs check them against and as documentation of the
  * algorithms.
  */
object ReferenceForms {

  /** Canonical Roman numeral regex (the strict form `roman.fromRoman`
    * accepts; invalid forms like `IIII` are passed through unchanged).
    */
  private val RomanRe = "^M{0,4}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})$"

  private def charValue(ch: Column): Column =
    when(ch === "I", 1).when(ch === "V", 5).when(ch === "X", 10)
      .when(ch === "L", 50).when(ch === "C", 100).when(ch === "D", 500)
      .when(ch === "M", 1000).otherwise(0)

  /** [[graft.operators.Strings.romanToInt]] as higher-order functions:
    * the subtractive rule over the char array.
    */
  def romanToIntExpr(c: Column): Column = {
    val chars = split(c, "")
    val n = size(chars)
    val vals = transform(chars, charValue _)
    val signed = transform(sequence(lit(1), n), i => {
      val v = element_at(vals, i)
      val next = when(i < n, element_at(vals, i + 1)).otherwise(lit(0))
      when(v < next, negate(v)).otherwise(v)
    })
    val total = aggregate(signed, lit(0), (acc, x) => acc + x)
    when(c.isNull, lit(null).cast("string"))
      .when(length(c) > 0 && c.rlike(RomanRe), total.cast("string"))
      .otherwise(c)
  }

  /** [[graft.llm.Similarity.dotDecimal]] as a `DECIMAL(38,18)` fold. */
  def dotDecimalExpr(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") * y.cast("double")).cast("decimal(38,18)")),
      lit(0).cast("decimal(38,18)"),
      (acc, v) => (acc + v).cast("decimal(38,18)"))

  /** [[graft.llm.Similarity.dotDouble]] as a left-to-right double fold. */
  def dotDoubleExpr(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** [[graft.llm.TextAnalysis.shingleSetSorted]] before sorting: the
    * distinct word n-grams in first-seen order.
    */
  def shingleSet(toks: Column, n: Int): Column =
    array_distinct(graft.llm.TextAnalysis.shingles(toks, n))

  /** [[graft.operators.Upsert.upsertBloomPruned]] without the Bloom
    * pre-filter: drop target rows whose key is in the incoming batch
    * (null-safe), then append the batch.
    */
  def upsert(target: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    // renamed key set: no ambiguous self-join when both sides share lineage
    val incomingKeys = incoming
      .select(keys.map(k => col(k).as(s"__graft_k_$k")): _*).distinct()
    val cond = keys.map(k => target(k) <=> col(s"__graft_k_$k")).reduce(_ && _)
    target.join(incomingKeys, cond, "left_anti").unionByName(incoming)
  }

  /** [[graft.operators.Timeseries.decayedScoreScaled]] as a DECIMAL sum:
    * the weight `1/2^w` is exact at scale 18 for w <= 18 (0 beyond), each
    * term an exact DECIMAL(18,6) x DECIMAL(19,18) product, and the score
    * stays DECIMAL(38,24). Future-dated rows clamp to week 0.
    */
  def decayedScore(
      df: DataFrame, entityCol: String, dayCol: String, valueCol: String,
      refDay: String): DataFrame = {
    val ageDays = datediff(lit(refDay).cast("date"), col(dayCol))
    val weeks = greatest(
      floor(ageDays.cast("double") / 7.0).cast("int"), lit(0))
    val weight = when(col("__wk") > 18, lit(0.0))
      .otherwise(lit(1.0) / expr("shiftleft(1L, __wk)").cast("double"))
      .cast("decimal(19,18)")
    df.withColumn("__wk", weeks)
      .groupBy(col(entityCol))
      .agg(
        count(lit(1L)).as("atividade"),
        sum(col(valueCol).cast("decimal(18,6)") * weight)
          .cast("decimal(38,24)").as("score_decaido"))
  }

  /** The period-dim range lookup that
    * [[graft.operators.DimJoins.periodLookupBucketed]] and
    * [[graft.operators.DimJoins.periodLookupMonthAligned]] replace: a
    * broadcast nested-loop left join on `start <= dateExpr <= end`.
    */
  def periodLookup(
      fact: DataFrame, dateExpr: Column,
      periods: DataFrame, startCol: String, endCol: String): DataFrame =
    fact.join(
      broadcast(periods),
      dateExpr >= periods(startCol) && dateExpr <= periods(endCol),
      "left")

  /** The one-column form of [[graft.operators.Stats.belowFromCounts]]:
    * one row per distinct non-null numeric `v` of the persisted `base`,
    * as (__v, __cnt, __below). The distinct collapse is persisted
    * through CacheScope, since the engine reads it three times.
    */
  def valueBelow(base: DataFrame, v: String): DataFrame = {
    val counts = graft.llm.CacheScope.persistTracked(
      base.groupBy(col(v).as("__v")).agg(count(lit(1L)).as("__cnt"))
        .withColumn("__c", lit("v")))
    graft.operators.Stats.belowFromCounts(counts).drop("__c")
  }
}
