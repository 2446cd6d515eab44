package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-column file pruning.
  *
  * A single-column range layout ([[graft.sources.Staging.compact]]) gives
  * perfect min/max pruning on ONE key and none on the others; at 100 TB a
  * second frequent filter column means either full scans or a duplicated
  * copy. Interleaving the bits of several keys' normalized values orders
  * rows along a space-filling curve, so every file's bounding box is
  * compact in EVERY interleaved dimension at once — parquet min/max (or a
  * lake manifest) then prunes files for filters on any of them. This is
  * the standard lakehouse `OPTIMIZE ... ZORDER BY` layout, built here
  * from plain expressions.
  *
  * Everything is integer-exact and engine-portable: each key is min-max
  * scaled to `bits` bits in DECIMAL(38,0) arithmetic (exact for ANY
  * BIGINT domain — epoch-micros spans included; a long×long product
  * would overflow past 2^63 and a double quotient loses floor exactness
  * past 2^53), then bit-interleaved with shift/and/sum — no hash, no
  * RNG, no UDF, fully codegen'd, reproducible by an ANSI SQL oracle.
  */
object Layout {

  /** Min-max scale an integral column onto [0, 2^bits): exact
    * floor((v - mn) * (2^bits - 1) / (mx - mn)) computed in
    * DECIMAL(38,0). The widest possible product is span(<2^64) ×
    * (2^bits - 1 ≤ 2^16) < 2^80 ≈ 1.2e24, well inside 38 digits; the
    * remainder is subtracted before dividing so the decimal division's
    * quotient is an exact small integer (no rounding to floor away).
    * Null values scale to 0 (they sort first, as in a plain layout).
    */
  def scaleToBits(c: Column, mn: Column, mx: Column, bits: Int): Column = {
    val dec = "decimal(38,0)"
    val span = mx.cast(dec) - mn.cast(dec)
    val prod = (c.cast(dec) - mn.cast(dec)) * lit((1L << bits) - 1).cast(dec)
    val scaled = ((prod - prod % span) / span).cast("long")
    coalesce(when(span <= 0, lit(0L)).otherwise(scaled), lit(0L))
  }

  /** Interleave already-scaled `bits`-bit values: bit i of column j lands
    * at position i * n + j of the Morton value.
    */
  def interleaveBits(scaled: Seq[Column], bits: Int): Column = {
    require(scaled.nonEmpty && scaled.size * bits <= 62,
      s"${scaled.size} cols x $bits bits overflows a BIGINT Morton value")
    val n = scaled.size
    val terms = for {
      i <- 0 until bits
      (s, j) <- scaled.zipWithIndex
    } yield shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ + _)
  }

  /** The Morton value of `cols` (integral columns), each min-max scaled to
    * `bits` bits against the column's own global min/max (one tiny stats
    * aggregate, broadcast — never collected per row).
    */
  def zorderValue(df: DataFrame, cols: Seq[String], bits: Int = 16): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val withStats = df.crossJoin(broadcast(stats))
    val scaled = cols.map(c =>
      scaleToBits(col(c), col(s"__mn_$c"), col(s"__mx_$c"), bits))
    withStats
      .withColumn("zorder", interleaveBits(scaled, bits))
      .drop(cols.flatMap(c => Seq(s"__mn_$c", s"__mx_$c")): _*)
  }

  /** Z-order-aware compaction: ONE call unifies the three layout levers —
    * small-file compaction ([[graft.sources.Staging.compact]]),
    * multi-column Morton-curve clustering and the Bloom
    * file-skipping manifest ([[writeBloomManifests]]). The table is
    * rewritten into `nFiles` Morton-range-disjoint files (compact
    * bounding boxes in EVERY clustered dimension → min/max prunes RANGE
    * predicates on any of them) and a per-file Bloom manifest over each
    * clustering key is computed in one extra scan of the just-written
    * (page-cache-warm) files — one bloom column per key in a single
    * aggregation pass, so POINT lookups on any key prune files without
    * opening a footer. Compacting and clustering share the same shuffle:
    * at 100 TB this halves the rewrite cost of running the levers
    * separately, and keeps them consistent (a manifest can never describe
    * a pre-compaction layout).
    */
  def zorderCompact(
      spark: SparkSession, df: DataFrame, cols: Seq[String], nFiles: Int,
      path: String, bits: Int = 16, fpp: Double = 0.001): DataFrame = {
    zorderValue(df, cols, bits)
      .repartitionByRange(nFiles, col("zorder"))
      .sortWithinPartitions("zorder")
      .write.mode("overwrite").parquet(path)
    writeBloomManifests(spark, path, cols, fpp)
    spark.read.parquet(path)
  }

  /** Per-file Bloom manifest over `keyCol`, written to
    * `path/_graft_manifest` (underscore-prefixed → invisible to normal
    * parquet reads): one row per data file with its row count and a Bloom
    * filter of the file's key hashes — one distributed aggregation pass,
    * never a job per file. Each file's filter is sized for ITS OWN row
    * count ([[graft.functions.SizedBloom]] reads the per-file count
    * joined back onto the scan), so a skewed file-size distribution
    * doesn't multiply manifest bytes the way a largest-file-sized
    * `BloomFilterAggregate` literal would.
    *
    * Min/max footer stats (what curve clustering and `compact` exploit) prune
    * RANGE predicates; a Bloom manifest prunes POINT lookups on columns
    * with no clustering at all — the lake-manifest trick (Delta/Iceberg
    * file skipping) without opening a single parquet footer.
    */
  def writeBloomManifest(
      spark: SparkSession, path: String, keyCol: String,
      fpp: Double = 0.001): DataFrame =
    writeManifest(spark, path, Seq(keyCol), fpp, _ => "bloom")

  /** Multi-key Bloom manifest: one bloom column PER key
    * (`bloom_<key>`), all computed in the SAME single scan+aggregation
    * pass over the table — adding a probe key costs one more aggregate
    * buffer, not another pass over 100 TB.
    */
  def writeBloomManifests(
      spark: SparkSession, path: String, keyCols: Seq[String],
      fpp: Double = 0.001): DataFrame =
    writeManifest(spark, path, keyCols, fpp, k => s"bloom_$k")

  private def writeManifest(
      spark: SparkSession, path: String, keyCols: Seq[String],
      fpp: Double, bloomName: String => String): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.graft.Shims

    val keyed = spark.read.parquet(path)
      .select(keyCols.map(col) :+ input_file_name().as("arquivo"): _*)
    val counts = keyed.groupBy("arquivo").agg(count(lit(1L)).as("linhas"))
    val bloomAggs = keyCols.map { k =>
      Shims.column(
        graft.functions.SizedBloom(
          XxHash64(Seq(UnresolvedAttribute.quoted(k)), 42L),
          UnresolvedAttribute.quoted("linhas"),
          Literal(fpp)).toAggregateExpression()).as(bloomName(k))
    }
    // per-key bounding boxes ride along in the SAME pass: range predicates
    // prune on mn/mx, point lookups on the bloom — one manifest, no
    // parquet footer ever opened for either
    val boundsAggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"mn_$k"), max(col(k)).as(s"mx_$k")))
    val manifest = keyed.join(broadcast(counts), "arquivo")
      .groupBy("arquivo")
      .agg(max("linhas").as("linhas"), bloomAggs ++ boundsAggs: _*)
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_manifest")
    manifest
  }

  /** Read only the files whose manifest Bloom might contain one of
    * `keys`. The probe is DISTRIBUTED: the manifest scan filters rows
    * executor-side with [[graft.functions.BloomMightContainAny]] against
    * the (tiny, literal) probe-hash array, and only the matching file
    * NAMES are collected — bloom bytes never reach the driver, so the
    * lookup survives a 10^6-file table whose manifest blooms total
    * gigabytes. Probe keys are hashed with the data's actual key TYPE
    * (an `Int` literal probing a BIGINT column would otherwise hash
    * differently and silently bloom-miss every file). False positives
    * only cost an extra file read; callers still apply the actual
    * predicate to the returned frame.
    */
  def bloomPrunedRead(
      spark: SparkSession, path: String, keyCol: String,
      keys: Seq[Any]): DataFrame = {
    val manifest = spark.read.parquet(s"$path/_graft_manifest")
    prunedByManifest(spark, path,
      manifest.filter(bloomProbeExpr(spark, path, manifest.columns, keyCol, keys)))
  }

  /** Combined range + point manifest pruning in ONE manifest read: keep
    * only files whose per-key bounding box intersects every `ranges`
    * predicate (inclusive lo..hi) AND whose bloom might contain one of
    * every `points` key list. On a [[zorderCompact]] table this is the
    * full lakehouse file-skipping combo — curve-clustered bounding boxes
    * make the range side selective on EVERY clustered dimension, blooms
    * make the point side exact-ish — with zero parquet footers opened and
    * bloom bytes never leaving the executors. Callers still apply the
    * real predicate to the returned frame (manifest pruning is sound,
    * never complete).
    */
  def manifestPrunedRead(
      spark: SparkSession, path: String,
      ranges: Map[String, (Any, Any)] = Map.empty,
      points: Map[String, Seq[Any]] = Map.empty): DataFrame = {
    require(ranges.nonEmpty || points.nonEmpty,
      "manifestPrunedRead needs at least one range or point predicate")
    val manifest = spark.read.parquet(s"$path/_graft_manifest")
    val rangeConds = ranges.toSeq.map { case (k, (lo, hi)) =>
      require(manifest.columns.contains(s"mn_$k"),
        s"manifest at $path has no min/max bounds for '$k' " +
          "(re-write it with a current writeBloomManifests)")
      col(s"mx_$k") >= lit(lo) && col(s"mn_$k") <= lit(hi)
    }
    val pointConds = points.toSeq.map { case (k, vs) =>
      bloomProbeExpr(spark, path, manifest.columns, k, vs)
    }
    prunedByManifest(spark, path,
      manifest.filter((rangeConds ++ pointConds).reduce(_ && _)))
  }

  /** The key columns a table's `_graft_manifest` describes, recovered
    * from its `mn_<key>` bounds columns (every manifest writer records
    * bounds for each key) — or Nil when the table carries no manifest.
    * Lets a rewrite step learn what to refresh without the caller
    * re-stating the keys.
    */
  def manifestKeys(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path, "_graft_manifest")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Nil
    else spark.read.parquet(p.toString).schema.fieldNames.toSeq
      .filter(_.startsWith("mn_")).map(_.stripPrefix("mn_"))
  }

  /** Executor-side bloom membership test for `keys` against `keyCol`'s
    * manifest bloom column, with each probe key cast to the DATA's key
    * type before hashing (an `Int` probe on a BIGINT column would
    * otherwise hash differently and silently miss every file).
    */
  private def bloomProbeExpr(
      spark: SparkSession, path: String, manifestCols: Seq[String],
      keyCol: String, keys: Seq[Any]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, XxHash64}
    import org.apache.spark.sql.graft.Shims
    import org.apache.spark.sql.types.{ArrayType, LongType}

    val keyType = spark.read.parquet(path).schema(keyCol).dataType
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val hashes = keys.map { v =>
      val l = Literal(v)
      val typed: Expression =
        if (l.dataType == keyType) l else Cast(l, keyType, Option(zone))
      XxHash64(Seq(typed), 42L).eval(null).asInstanceOf[Long]
    }
    // single-key manifests name their column `bloom`; multi-key manifests
    // ([[writeBloomManifests]]/[[zorderCompact]]) name one per key
    val bloomCol =
      if (manifestCols.contains(s"bloom_$keyCol")) s"bloom_$keyCol"
      else if (manifestCols.contains("bloom")) "bloom"
      else throw new IllegalArgumentException(
        s"manifest at $path has no bloom column for '$keyCol' " +
          s"(columns: ${manifestCols.mkString(", ")})")
    Shims.column(graft.functions.BloomMightContainAny(
      UnresolvedAttribute.quoted(bloomCol),
      Literal.create(hashes, ArrayType(LongType, containsNull = false))))
  }

  /** Collect only the matching file NAMES (bloom/bounds bytes stay on
    * executors) and read those files.
    */
  private def prunedByManifest(
      spark: SparkSession, path: String, matching: DataFrame): DataFrame = {
    val files = matching.select("arquivo").collect().map(_.getString(0)).toSeq
    if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
    else spark.read.parquet(files: _*)
  }
}
