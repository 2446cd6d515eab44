package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned table layout with time travel — the lakehouse read
  * discipline (Delta/Iceberg's core idea) on plain parquet directories:
  * every commit writes a NEW immutable version directory and then flips
  * a single head pointer, so
  *
  *  - readers see atomic snapshots: a reader that resolved the head
  *    before a commit keeps reading the old, untouched directory — no
  *    torn reads, no partial files, ever (the staged-swap upsert's
  *    guarantee made durable across versions);
  *  - any past version stays queryable (`readVersion(Some(n))`) —
  *    reproducing last week's training run reads last week's corpus;
  *  - a FAILED commit (data written, head never flipped) leaves an
  *    orphan directory that no reader ever resolves — crash-safety by
  *    ordering, not by locks.
  *
  * The head flip is a temp-file write + rename on the table's
  * filesystem — atomic on POSIX and HDFS-class stores; on S3-class
  * stores swap the rename for a conditional put, same protocol.
  * Single-writer discipline assumed (the reference's job model);
  * concurrent writers need a CAS on the head, out of scope.
  */
object Versioned {

  private val HeadFile = "_graft_head"

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionDir(tableDir: String, v: Int): String =
    f"$tableDir/v$v%05d"

  /** Current head version, if any commit completed. */
  def headVersion(spark: SparkSession, tableDir: String): Option[Int] = {
    val f = fs(spark, tableDir)
    val head = new Path(tableDir, HeadFile)
    if (!f.exists(head)) None
    else {
      val in = f.open(head)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        Some(s.toInt)
      } finally in.close()
    }
  }

  /** Version recorded in the in-flight flip marker (`_graft_head.tmp`),
    * if one survives a crash. The marker is written AFTER its version's
    * data directory is complete, so its content is always a safe base
    * for the next version number — even though no reader ever resolved
    * it.
    */
  private def tmpVersion(spark: SparkSession, tableDir: String): Option[Int] = {
    val f = fs(spark, tableDir)
    val tmp = new Path(tableDir, s"$HeadFile.tmp")
    if (!f.exists(tmp)) None
    else {
      val in = f.open(tmp)
      try {
        scala.util.Try(
          scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        ).toOption
      } finally in.close()
    }
  }

  /** Commit `df` as the next version: data directory first, head flip
    * last. Returns the committed version number. Single-writer
    * discipline assumed (see object doc).
    *
    * Crash-recovery ladder for the next version number: the head file
    * if present; else the flip marker (`.tmp`) a crash may have left
    * between its create and the rename — WITHOUT this fallback a crash
    * inside the flip would restart numbering at v1 and silently clobber
    * every committed version's directory; else 1 (a data directory with
    * neither head nor marker is an orphan no reader ever resolved, and
    * committing over it is the documented recovery).
    */
  def commitVersion(df: DataFrame, tableDir: String): Int = {
    val spark = df.sparkSession
    val v = headVersion(spark, tableDir)
      .orElse(tmpVersion(spark, tableDir))
      .getOrElse(0) + 1
    // overwrite, not errorifexists: a directory at v can only be the
    // orphan of a FAILED commit (the head never pointed at it, no reader
    // ever resolved it), and crash recovery must be able to commit right
    // over it — refusing would wedge the table after every crash
    df.write.mode("overwrite").parquet(versionDir(tableDir, v))
    val f = fs(spark, tableDir)
    val tmp = new Path(tableDir, s"$HeadFile.tmp")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    // rename-over FIRST (atomic clobbering rename on POSIX/HDFS-class
    // stores — readers never observe a missing head); only where the FS
    // refuses to clobber, fall back to delete-then-rename, whose
    // delete→rename window is covered by the `.tmp` recovery above
    val head = new Path(tableDir, HeadFile)
    if (!f.rename(tmp, head)) {
      if (f.exists(head)) f.delete(head, false)
      require(f.rename(tmp, head), s"head flip failed for $tableDir")
    }
    v
  }

  /** Read a specific version, or the head when `version` is None. Fails
    * loudly on a version that was never committed (an orphan data dir
    * from a failed commit is NOT readable through this API — the head
    * never pointed at it).
    */
  def readVersion(
      spark: SparkSession, tableDir: String,
      version: Option[Int] = None): DataFrame = {
    val head = headVersion(spark, tableDir).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $tableDir"))
    val v = version.getOrElse(head)
    require(v >= 1 && v <= head,
      s"version $v was never committed (head is $head)")
    spark.read.parquet(versionDir(tableDir, v))
  }
}
