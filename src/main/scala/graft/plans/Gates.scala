package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

import graft.llm.Dedup.BlockStats

/** The engine's adaptive plan gates, in one place. Each gate decides a
  * plan choice from what the query observes at runtime (a pair volume, a
  * block census, a row count) against a fixed threshold; none is a
  * session setting. GatesSpec pins every threshold and its boundary.
  */
object Gates {

  /** Width pin: pair volume Σn² at or above which a pair-producing join
    * (the tile self-join, a representative → member expansion) is
    * explicitly repartitioned to the session's shuffle width, so AQE's
    * byte-based coalescing cannot fold output-bound work into one task.
    * Below it the extra exchanges cost more than they save (measured
    * +2..3 s on q27/q183 at sf0.1). */
  val PinWidthMinPairs: Double = (1L << 24).toDouble

  /** Singleton-block pruning broadcasts the multi-row block set only up
    * to this many blocks (~100 MB framed). */
  val MultiBlockBroadcastMax: Long = 1L << 22

  /** Pruning must drop at least this fraction of the rows (the one-row
    * blocks) to pay for broadcasting the multi-row block set; on dense
    * blockings (q227) it dropped almost nothing and ran 4.9 → 11.3 s. */
  val PruneMinDropFraction: Double = 0.25

  /** Tile side = k·√(W/P): a block is hot only when its own pair space
    * exceeds k² fair task shares (see `Dedup.adaptiveMaxBlockStats`). */
  val TileBudgetFactor: Double = 4.0

  /** Linkage's string-recovery probes broadcast the class table only up
    * to this many classes (low-GB framed). */
  val RecoveryBroadcastMaxClasses: Long = 1L << 25

  /** k-core's weak frontier is broadcast only up to this many rows
    * (2^22 longs ≈ tens of MB); an adversarial first peel round can put
    * most of V below k. */
  val FrontierBroadcastMax: Long = 1L << 22

  /** Driver-local gate: the rows an operator holds on the driver for a
    * whole driver-side computation take at most about this many bytes of
    * heap. The collect that brings them there briefly holds Spark's
    * external rows too — boxed values, about 3 times the held bytes.
    * `Kmeans`'s Lloyd rounds and `Ivf`'s one-shot build+query gate on it.
    */
  val DriverLocalMaxBytes: Long = 8L << 20

  /** Driver-side IVF scoring runs at most this many (query, corpus)
    * candidate pairs; past it the driver-fitted cells go to the
    * distributed scoring plan. Measured on a 4-core VM (local[4], sf0.1
    * embeddings: 2000 64-d float vectors, 16 cells, 32 to 512 queries,
    * nProbe 4 and 16, median of 5 warm runs each): the one-shot query
    * costs 0.31 s + 6.2 µs per pair scored on the driver's one thread,
    * and 0.93 s + 2.2 µs per pair handed to the distributed plan. The
    * lines meet near 1.55·10^5 pairs (driver ahead at 72820 pairs, 0.74
    * against 1.20 s; behind at 256000, 2.25 against 1.57 s). */
  val DriverScoreMaxPairs: Long = 1L << 17

  /** The most rows of `rowBytes` held bytes each that fit
    * [[DriverLocalMaxBytes]]. */
  def driverLocalRows(rowBytes: Long): Int = (DriverLocalMaxBytes / rowBytes).toInt

  /** Score `pairs` candidate pairs on the driver. */
  def scoreOnDriver(pairs: Long): Boolean = pairs <= DriverScoreMaxPairs

  def pinWidth(volume: Double): Boolean = volume >= PinWidthMinPairs

  /** Prune one-row blocks when the multi-row set fits a broadcast and the
    * prune drops enough rows. Unknown stats (−1, fixed-maxBlock callers)
    * never prune. */
  def pruneSingletons(stats: BlockStats): Boolean =
    stats.nMulti >= 0L && stats.nMulti <= MultiBlockBroadcastMax &&
      stats.totalRows > 0L &&
      (stats.totalRows - stats.multiRows).toDouble >=
        PruneMinDropFraction * stats.totalRows

  def broadcastIfAtMost(n: Long, max: Long): DataFrame => DataFrame =
    if (n <= max) broadcast(_) else identity

  /** Key-repartition to the session's shuffle width when `volume` passes
    * [[pinWidth]]; a no-op otherwise. */
  def widthPin(volume: Double): (DataFrame, Column) => DataFrame =
    if (pinWidth(volume))
      (df, c) => df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, c)
    else (df, _) => df
}
