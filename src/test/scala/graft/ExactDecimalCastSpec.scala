package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.DoubleToDecimal
import graft.plans.ExactDecimalCast

/** ExactDecimalCast must not move a single value: for every precision and
  * scale the engine casts doubles to, rule-on equals rule-off (Spark's own
  * `Cast`) value for value, null for null and error class for error
  * class, under whole-stage codegen and interpreted evaluation alike.
  */
class ExactDecimalCastSpec extends SparkSpec {

  import spark.implicits._

  private val types = Seq((10, 0), (18, 2), (18, 6), (19, 18), (28, 2), (28, 3),
    (28, 6), (38, 0), (38, 6), (38, 12), (38, 18), (38, 24))

  /** Ties, signed zeros, subnormals, powers of two and their neighbours,
    * values past every precision, and seeded doubles of every magnitude.
    */
  private lazy val input: DataFrame = {
    val rnd = new scala.util.Random(7)
    val ties = Seq(2.675, 1.005, 0.125, 0.5, 1.5, 2.5, 0.045, 1.0000005,
      0.1 + 0.2, 123456789.125, 9999999999.5, 99999999.995)
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, 3 * Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, 1e-300, 1e-19, 5e-19, 5e-25,
      1e9, 1e10, 1e17, 1e18, 1e19, 1e20, 1e28, 1e38, 1e40, Double.MaxValue)
    val pow2 = (-80 to 70 by 3).flatMap { k =>
      val x = math.pow(2, k)
      Seq(x, Math.nextDown(x), Math.nextUp(x))
    }
    val random = Seq.fill(1500) {
      rnd.nextInt(4) match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => (rnd.nextInt(2000000) - 1000000) / 100.0 // money
        case 2 => math.pow(10, rnd.nextDouble() * 30 - 15)
        case _ => rnd.nextInt(200000) * 5 / math.pow(10, rnd.nextInt(25)) // ties
      }
    }
    val xs = (ties ++ edges ++ pow2 ++ random).flatMap(x => Seq(x, -x))
      .filterNot(_.isNaN) ++ Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val dir = java.nio.file.Files.createTempDirectory("graft-exact-cast").toString
    xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def decimal(p: Int, s: Int) = s"decimal($p,$s)"

  /** `body` once with whole-stage codegen and once fully interpreted. */
  private def bothEvalModes[T](body: => T): Seq[T] = {
    val codegen = body
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try Seq(codegen, body)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  private def collect(cols: Seq[Column]): Seq[Row] =
    input.select(col("id") +: cols: _*).orderBy("id").collect().toSeq

  /** The rows of `cols` with the rule on and with it off, per eval mode. */
  private def onOff(cols: Seq[Column]): Seq[(Seq[Row], Seq[Row])] =
    bothEvalModes((collect(cols), withRuleExcluded(ExactDecimalCast)(collect(cols))))

  private def assertSame(what: String, cols: Seq[Column]): Unit =
    for (((on, off), mode) <- onOff(cols).zip(Seq("codegen", "interpreted"))) {
      assert(on.size == off.size)
      for ((a, b) <- on.zip(off)) assert(a == b, s"$what ($mode): rule on $a, off $b")
    }

  test("try_cast: rule on equals rule off at every (p,s), null for null") {
    assertSame("try_cast", types.map { case (p, s) =>
      expr(s"try_cast(x AS ${decimal(p, s)})").as(s"d_${p}_$s") })
  }

  test("non-ANSI cast: overflow, NaN and infinities are null either way") {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try assertSame("legacy cast", types.map { case (p, s) =>
      col("x").cast(decimal(p, s)).as(s"d_${p}_$s") })
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("ANSI cast: rule on equals rule off on every value that fits") {
    assertSame("ansi cast", types.map { case (p, s) =>
      val t = decimal(p, s)
      when(expr(s"try_cast(x AS $t)").isNotNull, col("x").cast(t)).as(s"d_${p}_$s")
    })
  }

  test("ANSI cast: NaN, infinities and overflow fail with the same error either way") {
    def outcome(x: Double, t: String): Either[(String, String), Seq[Row]] = {
      val rows = input.filter(col("x") === x).select(col("x").cast(t))
      try Right(rows.collect().toSeq)
      catch {
        case e: SparkThrowable => Left((e.getCondition, e.getMessageParameters.toString))
        case e: Exception => e.getCause match {
          case t: SparkThrowable => Left((t.getCondition, t.getMessageParameters.toString))
          case _ => throw e
        }
      }
    }
    for ((p, s) <- types; x <- Seq(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 1e40, -1e40)) {
      val t = decimal(p, s)
      for (Seq(on, off) <- bothEvalModes(
          Seq(outcome(x, t), withRuleExcluded(ExactDecimalCast)(outcome(x, t))))) {
        assert(on == off, s"cast($x AS $t): rule on $on, off $off")
      }
    }
    // a value that fits no listed precision really is an error here
    assert(outcome(1e40, decimal(38, 0)).isLeft)
  }

  test("no double→decimal Cast survives optimization; the rewrite is idempotent") {
    val df = input.groupBy((col("id") % 3).as("g")).agg(
      sum(col("x").cast(decimal(28, 2))).as("s"),
      max(expr("try_cast(x AS decimal(38,12))")).as("m"))
      .filter(col("s").isNotNull)
    def doubleToDecimalCasts(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      plan.flatMap(_.expressions.flatMap(_.collect {
        case c: Cast if c.child.dataType == DoubleType && c.dataType.isInstanceOf[DecimalType] => c
      }))
    val optimized = df.queryExecution.optimizedPlan
    assert(doubleToDecimalCasts(optimized).isEmpty, optimized.treeString)
    assert(optimized.flatMap(_.expressions.flatMap(_.collect {
      case d: DoubleToDecimal => d })).size == 2, optimized.treeString)
    assert(ExactDecimalCast(optimized).fastEquals(optimized))
    withRuleExcluded(ExactDecimalCast) {
      val off = input.groupBy((col("id") % 3).as("g"))
        .agg(sum(col("x").cast(decimal(28, 2))).as("s"))
      assert(doubleToDecimalCasts(off.queryExecution.optimizedPlan).nonEmpty)
    }
  }
}
