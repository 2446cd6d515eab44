package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table catalog over a scale-factor directory.
  *
  * All engine queries read their inputs through here so the scan always
  * benefits from parquet column pruning / predicate pushdown (filters are
  * declared downstream as Catalyst expressions, never lambdas).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
  )

  /** Each table's inferred schema, by path, with the [[Stamp]] it was
    * inferred under: inferring a parquet schema runs a Spark job that
    * reads the footers, a fixed cost of every read of every table.
    */
  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  /** What the inferred schema depends on: each leaf file's path, length
    * and modification time, and the session's parquet reader settings.
    */
  private type Stamp = (Seq[(String, Long, Long)], Seq[(String, String)])

  private def stamp(spark: SparkSession, path: String): Option[Stamp] = Try {
    val p = new Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(p, true)
    val leaves = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (leaves.sorted, conf.sorted)
  }.toOption

  /** The parquet table `name` under `dir`. The first read of a path infers
    * its schema; later reads of unchanged files under the same reader
    * settings reuse it and run no job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    stamp(spark, path) match {
      case Some(st) =>
        Option(schemas.get(path)).filter(_._1 == st) match {
          case Some((_, schema)) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(path, (st, df.schema))
            df
        }
      case None => spark.read.parquet(path) // missing path: Spark's own error
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** events.ts is nanosecond-precision parquet, which Spark's vectorized
    * reader rejects (PARQUET_TYPE_ILLEGAL). Sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so it arrives as raw ns
    * since epoch; normalize here to a µs timestamp (integer `div`, no
    * double round-trip — ns epochs overflow double precision).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // naive (NTZ) parquet timestamps — e.g. files written by engines that
      // don't adjust to UTC — normalize to the session-zone TIMESTAMP the
      // event operators expect (session zone is pinned to UTC)
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
