package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String-shaping operators.
  *
  * Reference: service codes split positionally `cod[:3]` / `cod[3:]`
  * (sm_cloud_run/etl/siasus_procedimentos_ambulatoriais.py:314-325) and
  * health-region codes written as Roman numerals normalized to integers
  * (`_romano_para_inteiro`, sm_cloud_run/etl/scnes_vinculos.py:99-105).
  */
object Strings {

  /** First `n` chars (null passthrough, like `cod[:n]`). */
  def slicePrefix(c: Column, n: Int): Column = substring(c, 1, n)

  /** Chars from position `n` (0-based, like `cod[n:]`). */
  def sliceFrom(c: Column, n: Int): Column = substring(c, n + 1, Int.MaxValue)

  /** Canonical Roman numeral regex (the strict form `roman.fromRoman`
    * accepts; invalid forms like `IIII` are passed through unchanged).
    */
  private val RomanRe = "^M{0,4}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})$"

  private def charValue(ch: Column): Column =
    when(ch === "I", 1).when(ch === "V", 5).when(ch === "X", 10)
      .when(ch === "L", 50).when(ch === "C", 100).when(ch === "D", 500)
      .when(ch === "M", 1000).otherwise(0)

  /** Roman numeral → its integer value as a string; non-Roman input passes
    * through unchanged; null stays null. Backed by the native codegen'd
    * [[graft.functions.RomanToInt]] expression (single static call per row,
    * no per-row array materialization); the analyzing session needs
    * [[graft.functions.GraftExtensions]].
    */
  def romanToInt(c: Column): Column = call_function("roman_to_int", c)

  /** Pure-expression form of [[romanToInt]] (subtractive rule over the char
    * array via higher-order functions) — same semantics, kept as the
    * reference FunctionsSpec checks the native expression against and as
    * documentation of the algorithm.
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

  /** Inverse helper for tests/data construction: 1..39 → Roman numeral. */
  def intToRoman(c: Column): Column = {
    val tens = array(lit(""), lit("X"), lit("XX"), lit("XXX"))
    val ones = array(lit(""), lit("I"), lit("II"), lit("III"), lit("IV"),
      lit("V"), lit("VI"), lit("VII"), lit("VIII"), lit("IX"))
    concat(element_at(tens, (c.cast("int") / 10).cast("int") + 1),
      element_at(ones, (c.cast("int") % 10) + 1))
  }
}
