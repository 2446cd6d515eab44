package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for Roman-numeral normalization — the
  * codegen'd fast path behind [[graft.operators.Strings.romanToInt]].
  *
  * Reference semantics (`_romano_para_inteiro`,
  * sm_cloud_run/etl/scnes_vinculos.py:99-105): strict-form numerals map to
  * their integer value (as a string); anything else — including the
  * non-canonical `IIII` the strict parser rejects — passes through
  * unchanged; null stays null.
  *
  * A single per-row static call on UTF8String, no array materialization —
  * versus the pure-expression form (split → transform ×2 → aggregate) this
  * stays inside whole-stage codegen with zero allocations per row beyond
  * the result.
  */
case class RomanToInt(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def dataType: DataType = child.dataType
  override def prettyName: String = "roman_to_int"

  override def nullSafeEval(input: Any): Any =
    RomanOps.convert(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RomanOps.convert($c)")

  override protected def withNewChildInternal(newChild: Expression): RomanToInt =
    copy(child = newChild)
}

/** Static kernel (separate object so codegen sees a Java static call). */
object RomanOps {
  private val Strict =
    "^M{0,4}(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})$".r.pattern

  private def value(c: Char): Int = c match {
    case 'I' => 1; case 'V' => 5; case 'X' => 10; case 'L' => 50
    case 'C' => 100; case 'D' => 500; case 'M' => 1000; case _ => 0
  }

  def convert(s: UTF8String): UTF8String = {
    if (s == null) return null
    val str = s.toString
    if (str.isEmpty || !Strict.matcher(str).matches()) return s
    var total = 0
    var prev = 0
    var i = str.length - 1
    while (i >= 0) {
      val v = value(str.charAt(i))
      total = if (v < prev) total - v else total + v
      prev = v
      i -= 1
    }
    UTF8String.fromString(total.toString)
  }
}
