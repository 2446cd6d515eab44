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

  /** Roman numeral → its integer value as a string; non-Roman input passes
    * through unchanged; null stays null. Backed by the native codegen'd
    * [[graft.functions.RomanToInt]] expression (single static call per row,
    * no per-row array materialization); the analyzing session needs
    * [[graft.functions.GraftExtensions]]. FunctionsSpec holds it to the
    * higher-order-function form of the same rule.
    */
  def romanToInt(c: Column): Column = call_function("roman_to_int", c)

  /** Inverse helper for tests/data construction: 1..39 → Roman numeral. */
  def intToRoman(c: Column): Column = {
    val tens = array(lit(""), lit("X"), lit("XX"), lit("XXX"))
    val ones = array(lit(""), lit("I"), lit("II"), lit("III"), lit("IV"),
      lit("V"), lit("VI"), lit("VII"), lit("VIII"), lit("IX"))
    concat(element_at(tens, (c.cast("int") / 10).cast("int") + 1),
      element_at(ones, (c.cast("int") % 10) + 1))
  }
}
