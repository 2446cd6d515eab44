package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, EvalMode, Expression, GenericInternalRow,
  LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType}

/** Exact double → DECIMAL without `Double.toString`.
  *
  * Spark casts a double `d` to `DECIMAL(p,s)` by parsing
  * `Double.toString(d)` into a `BigDecimal` S and rounding S HALF_UP to
  * scale s. Every aggregated double in the engine goes through DECIMAL
  * (the determinism discipline), so that parse is a large share of CPU
  * wherever doubles are summed.
  *
  * The kernel never builds S. `Double.toString(d)` parses back to `d`, so
  * S lies in the closed interval [lo, hi] of reals that round to `d`
  * (half a gap either side; the gap below a power of two is half the gap
  * above). Both ends are dyadic: `L·2^-k` for integers L < 2^55. HALF_UP
  * rounding is monotone, so when `rhu(lo·10^s)` equals `rhu(hi·10^s)` it
  * is also `rhu(S·10^s)`, whatever digits the JDK printed. Each end is
  * one 55×60-bit product and one shifted add in 128-bit integer
  * arithmetic. When the ends disagree (S sits near a rounding tie at
  * scale s, as 2.675 does at scale 2), when s > 18, when `d` is NaN or
  * infinite, or when the result does not fit, the caller takes the JDK
  * path unchanged: the result is bit-identical either way, on JDK 17 and
  * on the JDK 19+ `Double.toString` alike, because only the round-trip
  * contract is used.
  */
object DecimalOps {

  /** "Not decided here": the caller must take the JDK path. No decided
    * value is ever `Long.MinValue`.
    */
  final val Undecided: Long = Long.MinValue

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** The unscaled value of Spark's `Cast(d AS DECIMAL(p,s))`, that is
    * `rhu(S·10^s)` for S = the value of `Double.toString(d)`, or
    * [[Undecided]] — also when it would not fit `p` digits, which the
    * JDK path turns into null or an ANSI error.
    */
  def castUnscaled(d: Double, p: Int, s: Int): Long = {
    if (s < 0 || s > 18 || java.lang.Double.isNaN(d) ||
        java.lang.Double.isInfinite(d)) return Undecided
    if (d == 0.0) return 0L // ±0.0: Double.toString gives "0.0" / "-0.0"
    val bits = java.lang.Double.doubleToRawLongBits(d)
    val u = endHalfUp(bits, s, upper = false)
    if (u == Undecided || u != endHalfUp(bits, s, upper = true) ||
        (p <= 18 && u >= Pow10(p))) Undecided
    else if (bits < 0) -u
    else u
  }

  /** `rhu(|e|·10^s)` for the lower (`upper = false`) or upper end `e` of
    * the round-trip interval of the finite, nonzero double with raw
    * `bits`, by magnitude; [[Undecided]] when it needs more than 63 bits.
    */
  private def endHalfUp(bits: Long, s: Int, upper: Boolean): Long = {
    val biased = ((bits >>> 52) & 0x7ff).toInt
    val frac = bits & ((1L << 52) - 1)
    // |d| = m·2^e
    val m = if (biased == 0) frac else frac | (1L << 52)
    val e = if (biased == 0) -1074 else biased - 1075
    // lower end (2m-1)·2^(e-1), or (4m-1)·2^(e-2) just above a power of
    // two (the gap below it is half the gap above); upper end (2m+1)·2^(e-1)
    if (!upper && frac == 0 && biased > 1) shiftHalfUp(4 * m - 1, Pow10(s), 2 - e)
    else shiftHalfUp(if (upper) 2 * m + 1 else 2 * m - 1, Pow10(s), 1 - e)
  }

  /** `rhu(n·p / 2^k)` for 0 < n < 2^55 and 0 < p < 2^60, in 128 bits;
    * [[Undecided]] for k ≤ 0 (then the interval spans several integers at
    * any scale, so its ends cannot agree) or a result past 63 bits.
    */
  private def shiftHalfUp(n: Long, p: Long, k: Int): Long = {
    if (k <= 0) return Undecided
    if (k >= 116) return 0L // n·p < 2^115 ≤ 2^(k-1): below one half
    var hi = Math.multiplyHigh(n, p)
    var lo = n * p
    if (k <= 64) {
      val half = 1L << (k - 1)
      val sum = lo + half
      if (java.lang.Long.compareUnsigned(sum, lo) < 0) hi += 1
      lo = sum
    } else hi += 1L << (k - 65)
    val r =
      if (k < 64) {
        if ((hi >>> k) != 0) return Undecided
        (hi << (64 - k)) | (lo >>> k)
      } else hi >>> (k - 64)
    if (r < 0) Undecided else r
  }

  /** `rhu(S·10^s)` for S = the value of `Double.toString(d)`, read from
    * its digits without building a `BigDecimal`; [[Undecided]] when it
    * does not fit a long. `d` must be finite.
    */
  private def digitsHalfUp(d: Double, s: Int): Long = {
    val str = java.lang.Double.toString(d)
    var mant = 0L
    var fracDigits = 0
    var inFrac = false
    var i = if (str.charAt(0) == '-') 1 else 0
    var exp = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '.') inFrac = true
      else if (c == 'E') {
        exp = Integer.parseInt(str, i + 1, str.length, 10)
        i = str.length
      } else {
        if (mant > (Long.MaxValue - 9) / 10) return Undecided
        mant = mant * 10 + (c - '0')
        if (inFrac) fracDigits += 1
      }
      i += 1
    }
    // S = mant·10^(exp - fracDigits)
    val t = exp - fracDigits + s
    val r =
      if (t >= 0) {
        if (t > 18 || mant > Long.MaxValue / Pow10(t)) return Undecided
        mant * Pow10(t)
      } else if (t < -18) {
        // mant < 2^63 < 10^19: below one half unless t = -19 and the
        // leading digit is 5 or more
        if (t == -19 && mant >= 5 * Pow10(18)) 1L else 0L
      } else {
        val div = Pow10(-t)
        val q = mant / div
        if (2 * (mant % div) >= div) q + 1 else q
      }
    if (d < 0) -r else r
  }

  /** One step of the `DECIMAL(38,18)` dot-product fold over a scale-17
    * accumulator: `rhu17(A + rhu18(S))` for S the value of
    * `Double.toString(p)` (see [[VectorOps.dotDecimal]]), or
    * [[Undecided]] when the new accumulator leaves `±MaxFold`.
    */
  def foldScale17(acc: Long, p: Double): Long = {
    if (p == 0.0) return acc
    val bits = java.lang.Double.doubleToRawLongBits(p)
    val lo = endHalfUp(bits, 18, upper = false)
    if (lo != Undecided) {
      val hi = endHalfUp(bits, 18, upper = true)
      if (hi != Undecided) {
        // the step is monotone in S: equal at both ends of the interval
        // means equal at S
        val a = addScale17(acc, if (bits < 0) -lo else lo)
        if (lo == hi || a == addScale17(acc, if (bits < 0) -hi else hi)) return a
      }
    }
    val n = digitsHalfUp(p, 18)
    if (n == Undecided) Undecided else addScale17(acc, n)
  }

  /** Largest scale-17 accumulator the fold keeps in a long: ten times it
    * (the scale-18 result) still fits.
    */
  private final val MaxFold = Long.MaxValue / 10

  /** `rhu17(A·10^-17 + N·10^-18)` as a scale-17 long, or [[Undecided]]. */
  private def addScale17(acc: Long, n: Long): Long = {
    val a10 = acc * 10
    val t = a10 + n
    if (((a10 ^ t) & (n ^ t)) < 0) return Undecided
    val q = t / 10
    val r = t % 10
    val a = if (r >= 5) q + 1 else if (r <= -5) q - 1 else q
    if (a > MaxFold || a < -MaxFold) Undecided else a
  }
}

/** `Cast(child AS DECIMAL(p,s))` for a double child through the
  * [[DecimalOps]] fast path — the node [[graft.plans.ExactDecimalCast]]
  * puts in place of every such `Cast`. The child is evaluated once; when
  * the kernel cannot decide, the value goes to the original `Cast`
  * (same target, time zone, evaluation mode and origin), so nulls, ANSI
  * error classes and their query context are Spark's own.
  */
case class DoubleToDecimal(
    child: Expression, dataType: DecimalType, evalMode: EvalMode.Value,
    timeZoneId: Option[String]) extends UnaryExpression {

  /** The `Cast` this node replaces, over `input`, carrying this node's
    * origin (and so the cast's query context).
    */
  private def castOf(input: Expression): Cast =
    CurrentOrigin.withOrigin(origin)(Cast(input, dataType, timeZoneId, evalMode))

  @transient private lazy val asCast = castOf(child)
  @transient private lazy val fallback =
    castOf(BoundReference(0, DoubleType, nullable = false))

  override def nullable: Boolean = asCast.nullable
  override def sql: String = asCast.sql
  override def toString: String = s"exact_cast($child as ${dataType.simpleString})"

  override protected def nullSafeEval(input: Any): Any = {
    val u = DecimalOps.castUnscaled(
      input.asInstanceOf[Double], dataType.precision, dataType.scale)
    if (u != DecimalOps.Undecided) Decimal(u, dataType.precision, dataType.scale)
    else fallback.eval(new GenericInternalRow(Array[Any](input)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (p, s) = (dataType.precision, dataType.scale)
    // the fallback reads the double from a field, so Cast's code stays
    // valid when codegen splits it into its own method
    val in = ctx.addMutableState("double", "exactCastIn")
    val cast = castOf(CastInput(in)).genCode(ctx)
    val c = child.genCode(ctx)
    val u = ctx.freshName("unscaled")
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  long $u = graft.functions.DecimalOps.castUnscaled(${c.value}, $p, $s);
      |  if ($u != ${DecimalOps.Undecided}L) {
      |    ${ev.value} = org.apache.spark.sql.types.Decimal.apply($u, $p, $s);
      |  } else {
      |    $in = ${c.value};
      |    ${cast.code}
      |    ${ev.isNull} = ${cast.isNull};
      |    ${ev.value} = ${cast.value};
      |  }
      |}
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): DoubleToDecimal =
    copy(child = newChild)
}

/** The double a [[DoubleToDecimal]] hands its fallback `Cast` in
  * generated code: a read of the class field `field`. Never evaluated
  * interpreted, never part of a plan.
  */
private case class CastInput(field: String) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    throw new UnsupportedOperationException("CastInput is codegen-only")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    ExprCode(code"", FalseLiteral, JavaCode.variable(field, DoubleType))
}
