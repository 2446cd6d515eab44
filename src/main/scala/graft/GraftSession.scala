package graft

import org.apache.spark.sql.SparkSession

/** Session factory: one place for the engine's Spark configuration so the
  * driver mains, tests and downstream users get identical semantics.
  *
  *  - `shuffle.partitions` sized to the local core count (never the 200
  *    default — partition count is a deploy-time knob, not a code constant)
  *  - AQE on: runtime coalescing + skew-join splitting at scale
  *  - UTC session timezone (all reference timestamps are zone-fixed)
  *  - nanosecond parquet timestamps read as raw longs (normalized in
  *    [[graft.sources.Tables.events]])
  *  - [[graft.functions.GraftExtensions]] injected: the only way the
  *    native functions, the as-of strategy and the optimizer rules get
  *    into a session
  */
object GraftSession {

  /** Per-JVM-unique scratch root for every directory the engine writes
    * outside the caller's control (warehouse, staged swaps, DBF dumps).
    * Concurrent graft JVMs — a verify dump overlapping a bench retry — must
    * not race on a shared fixed path: q06's staged-swap `renameTo` fails if
    * another process re-creates the live dir mid-swap. Removed on JVM exit.
    */
  lazy val scratchRoot: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scratch-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }))
    dir.toString
  }

  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$scratchRoot/warehouse")
      .config("spark.ui.enabled", "false")

  def create(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
