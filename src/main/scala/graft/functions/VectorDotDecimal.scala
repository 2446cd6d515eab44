package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Σ aᵢ·bᵢ accumulated through `DECIMAL(38,18)` — the hot inner loop
  * of cosine scoring (q29/q38/q42), as one tight per-pair static call.
  *
  * Bit-identical to the expression form
  * `aggregate(zip_with(a, b, (x,y) => (x*y).cast(decimal(38,18))), 0, +)`:
  * each product is rounded exactly as `Cast` rounds it (HALF_UP of the
  * value of `Double.toString`), and each step of the fold rounds to scale
  * 17 as Spark's decimal addition does — so swapping it in cannot change
  * any oracle-checked result. What it removes is the per-pair 64-element
  * Decimal array materialization, the per-step expression interpretation
  * and, for most products, the `Double.toString` parse itself: the sum
  * runs in one scale-17 long, and a product's rounding is decided from
  * its round-trip interval (see [[DecimalOps]] and [[VectorOps.dotDecimal]]).
  *
  * Mismatched lengths or null elements yield null (zip_with semantics).
  * Non-finite products and decimal overflow also yield null — deliberately
  * more forgiving than the ANSI-mode Cast in the expression form, which
  * throws: one poisoned embedding must not abort a corpus-scale job.
  */
case class VectorDotDecimal(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DecimalType(38, 18)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_dot_decimal"

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotDecimal(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  // NOT defineCodeGen: the kernel returns null for mismatched lengths /
  // null or non-finite elements, so ev.isNull must be derived from the
  // result (defineCodeGen would leave it false and NPE downstream).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = graft.functions.VectorOps.dotDecimal(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDotDecimal =
    copy(left = newLeft, right = newRight)
}

/** Static kernel (separate object so codegen sees a Java static call). */
object VectorOps {

  /** Plain-double dot product — left-to-right, same order as the
    * `aggregate` fold it replaces. Boxed so null can signal zip_with's
    * mismatched-length/null-element semantics.
    */
  def dotDouble(
      a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      sum += x * y
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  /** Plain-double squared euclidean distance — left-to-right, the same
    * fold order as the `aggregate` expression it replaces ([[SqDistDouble]]).
    */
  def sqDistDouble(
      a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      sum += d * d
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  /** Σ aᵢ·bᵢ as the `DECIMAL(38,18)` fold of [[VectorDotDecimal]], in one
    * long: the fold's running sum has scale 17 (see [[dotDecimalExact]]),
    * so each step is `A' = rhu17(A + rhu18(S))` for S the value of
    * `Double.toString(p)`, a monotone function of S. [[DecimalOps.foldScale17]]
    * evaluates it at both ends of the product's round-trip interval and
    * keeps it when they agree; otherwise it reads `Double.toString(p)`'s
    * digits into a long. Bit-identical to [[dotDecimalExact]], which it
    * restarts on only when |sum| passes `Long.MaxValue / 10` at scale 17
    * (≈ 9.2) or a product does not fit a long at scale 18.
    */
  def dotDecimal(
      a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Decimal = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads → null product → null sum
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val p = x * y
      if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) return null
      acc = DecimalOps.foldScale17(acc, p)
      if (acc == DecimalOps.Undecided) return dotDecimalExact(a, b, aFloat, bFloat)
      i += 1
    }
    Decimal(acc * 10, 38, 18)
  }

  /** The reference fold, one `BigDecimal` step per product: what
    * [[dotDecimal]] restarts on when its long overflows.
    */
  private[graft] def dotDecimalExact(
      a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Decimal = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var sum = java.math.BigDecimal.ZERO
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      val p = x * y
      // Cast(double -> decimal) yields null for NaN/Infinity — mirror it
      // (BigDecimal.valueOf would throw NumberFormatException instead).
      if (java.lang.Double.isNaN(p) || java.lang.Double.isInfinite(p)) return null
      // Per-product: Spark Cast(double -> decimal(38,18)) is the double's
      // shortest decimal representation (BigDecimal.valueOf) padded to
      // scale 18 (verified element-by-element against Cast output).
      val d = java.math.BigDecimal.valueOf(p)
        .setScale(18, java.math.RoundingMode.HALF_UP)
      // Per-step: Add(decimal(38,18), decimal(38,18)) needs precision 39,
      // so Spark's precision-loss rule types the result decimal(38,17) —
      // every addition in the fold rounds to scale 17 (HALF_UP) before the
      // cast back to (38,18) pads a zero. Replicate bit-for-bit: the
      // expression form is what every oracle hash was verified against.
      sum = sum.add(d).setScale(17, java.math.RoundingMode.HALF_UP)
      // CheckOverflow runs per step in the expression chain; the (38,18)
      // cast needs one more digit than the scale-17 value (×10 pad).
      if (sum.precision + 1 > 38) return null
      i += 1
    }
    Decimal(sum.setScale(18), 38, 18)
  }
}

/** Registration descriptor + imperative registrar (same pattern as
  * roman_to_int).
  */
object VectorDotDecimal {
  private[functions] val descriptor = (
    FunctionIdentifier("vector_dot_decimal"),
    new ExpressionInfo(classOf[VectorDotDecimal].getName, "vector_dot_decimal"),
    (children: Seq[Expression]) =>
      VectorDotDecimal(children.head, children(1)): Expression,
  )
}
