package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{
  BROADCAST, RepartitionByExpression, ResolvedHint}
import org.apache.spark.sql.functions.col

import graft.llm.Dedup.BlockStats
import graft.plans.Gates

/** [[Gates]]: every adaptive plan gate keeps its threshold and flips
  * exactly at it. Plain boundary checks on the helpers; the frames here
  * are only analyzed, never run.
  */
class GatesSpec extends SparkSpec {

  test("every gate keeps its threshold") {
    assert(Gates.PinWidthMinPairs == 16777216.0)
    assert(Gates.MultiBlockBroadcastMax == 4194304L)
    assert(Gates.PruneMinDropFraction == 0.25)
    assert(Gates.TileBudgetFactor == 4.0)
    assert(Gates.RecoveryBroadcastMaxClasses == 33554432L)
    assert(Gates.FrontierBroadcastMax == 4194304L)
    assert(Gates.DriverLocalMaxBytes == 8388608L)
    assert(Gates.DriverScoreMaxPairs == 131072L)
  }

  test("driver-local rows flip at 8 MiB of held bytes") {
    assert(Gates.driverLocalRows(616) == 13617) // 13617·616 ≤ 2^23 < 13618·616
    assert(Gates.driverLocalRows(1L << 23) == 1)
    assert(Gates.driverLocalRows((1L << 23) + 1) == 0)
  }

  test("driver-side IVF scoring flips at 2^17 candidate pairs") {
    assert(Gates.scoreOnDriver(1L << 17))
    assert(!Gates.scoreOnDriver((1L << 17) + 1))
  }

  test("width pin flips at 2^24 pairs") {
    assert(!Gates.pinWidth(16777215.0))
    assert(Gates.pinWidth(16777216.0))
    assert(!Gates.pinWidth(-1.0)) // fixed maxBlock: pair volume unknown
  }

  test("width pin repartitions to the shuffle width only when pinned") {
    val df = spark.range(10).toDF("k")
    def widths(volume: Double) = Gates.widthPin(volume)(df, col("k"))
      .queryExecution.analyzed
      .collect { case r: RepartitionByExpression => r.optNumPartitions }
    assert(widths(16777215.0).isEmpty)
    assert(widths(16777216.0) ==
      Seq(Some(spark.conf.get("spark.sql.shuffle.partitions").toInt)))
  }

  private def stats(nMulti: Long, totalRows: Long, multiRows: Long) =
    BlockStats(256, 0.0, nMulti, totalRows, multiRows)

  test("singleton pruning flips at 2^22 multi-row blocks") {
    // half the rows are singletons, so the drop-fraction gate passes
    val n = 1L << 22
    assert(Gates.pruneSingletons(stats(n, 4 * n, 2 * n)))
    assert(!Gates.pruneSingletons(stats(n + 1, 4 * n, 2 * n + 2)))
  }

  test("singleton pruning flips at a 0.25 dropped-row fraction") {
    assert(Gates.pruneSingletons(stats(10L, 100L, 75L))) // drops 25%
    assert(!Gates.pruneSingletons(stats(10L, 100L, 76L))) // drops 24%
    assert(!Gates.pruneSingletons(stats(-1L, -1L, -1L))) // stats unknown
    assert(!Gates.pruneSingletons(stats(0L, 0L, 0L))) // empty input
  }

  private def broadcasts(hint: DataFrame => DataFrame): Boolean =
    hint(spark.range(1).toDF("v")).queryExecution.analyzed
      .collect { case h: ResolvedHint => h.hints.strategy }
      .contains(Some(BROADCAST))

  test("Linkage recovery broadcast flips at 2^25 classes") {
    val max = Gates.RecoveryBroadcastMaxClasses
    assert(broadcasts(Gates.broadcastIfAtMost(1L << 25, max)))
    assert(!broadcasts(Gates.broadcastIfAtMost((1L << 25) + 1, max)))
  }

  test("k-core frontier broadcast flips at 2^22 rows") {
    val max = Gates.FrontierBroadcastMax
    assert(broadcasts(Gates.broadcastIfAtMost(1L << 22, max)))
    assert(!broadcasts(Gates.broadcastIfAtMost((1L << 22) + 1, max)))
  }
}
