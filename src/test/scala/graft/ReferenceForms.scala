package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-expression forms of native functions: the composed Spark
  * expressions each kernel replaces, kept as the references FunctionsSpec
  * checks the native expressions against and as documentation of the
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
}
