package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Pins the bucket-decomposed rank-map engine behind spearman/kruskal
  * (`Stats.belowFromCounts`, one column at a time through
  * `ReferenceForms.valueBelow`) to the single-partition window oracle — including
  * on real data, where the round-14 repartitionByRange prototype
  * produced piecewise-constant rank errors from per-evaluation boundary
  * sampling.
  */
class PrefixSumProbeSpec extends SparkSpec {
  import spark.implicits._

  private def check(base: org.apache.spark.sql.DataFrame): Unit = {
    val cached = graft.llm.CacheScope.persistTracked(base)
    val got = ReferenceForms.valueBelow(cached, "__v")
      .select("__v", "__below")
    val counts = cached.groupBy("__v").agg(count(lit(1L)).as("__cnt"))
    val wBelow = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = counts.withColumn("__below",
      coalesce(sum(col("__cnt")).over(wBelow), lit(0L)))
      .select("__v", "__below")
    // key by raw bits: Scala's Map[Double, _] can never look a NaN key
    // back up (primitive == is IEEE), doubleToLongBits canonicalizes it
    def byBits(rows: Array[(Double, Long)]): Map[Long, Long] =
      rows.map { case (v, x) =>
        java.lang.Double.doubleToLongBits(v) -> x }.toMap
    val a = byBits(got.as[(Double, Long)].collect())
    val b = byBits(want.as[(Double, Long)].collect())
    val bad = b.iterator.filter { case (v, x) => a.get(v) != Some(x) }
      .take(5).toList
    assert(a.size == b.size, s"sizes ${a.size} vs ${b.size}")
    assert(bad.isEmpty,
      s"first mismatches: $bad vs ${bad.map(x => a.get(x._1))}")
  }

  test("valueBelow equals the single-partition window on unique doubles") {
    check(spark.range(0, 100000)
      .select((hash(col("id")).cast("double") / 7.0).as("__v")))
  }

  test("valueBelow equals the window on the q195 shape (lineitem price)") {
    // prefer the denser sf0.01 corpus when provisioned (the round-14
    // boundary-sampling bug only reproduced on real-data density), fall
    // back to the standard spec dataset so the suite stays portable
    val dir =
      if (new java.io.File("/root/testdata/sf0.01").isDirectory)
        "/root/testdata/sf0.01"
      else sfDir
    check(graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").cast("double").as("__v"))
      .filter(col("__v").isNotNull))
  }

  test("valueBelow ranks NaN last and infinities at the range ends") {
    // the round-14 engine silently DROPPED every row when one NaN
    // poisoned max(): pin the non-finite contract — -Inf below all
    // finite values, +Inf above them, NaN above +Inf (the Spark/DuckDB
    // orderBy placement), nothing lost
    check(spark.range(0, 5000)
      .select((hash(col("id")).cast("double") / 13.0).as("__v"))
      .union(spark.sql(
        "SELECT v FROM VALUES (double('NaN')), (double('NaN')), " +
          "(double('Infinity')), (double('-Infinity')), (0.0D) AS t(v)")))
  }
}
