package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.operators.Upsert

/** Pluggable load targets for the reference's database-load layer.
  *
  * Reference loads with chunked COPY + delete-conflicts + row-wise upsert
  * against Postgres (`carregar_dataframe`/`postgresql_copiar_dados`/
  * `deletar_conflitos`, sm_cloud_run/utilitarios/bd_utilitarios.py:85-283).
  * Spark-first that becomes a [[Sink]]: the TRANSFORM side stays one
  * declarative plan, and only the final materialization differs by target —
  * parquet directories ([[ParquetSink]]) or any JDBC database
  * ([[JdbcSink]]). Upsert semantics match [[Upsert.upsertBloomPruned]]:
  * incoming wins on key conflict.
  */
trait Sink {

  /** Replace the target table with `df`. */
  def overwrite(df: DataFrame, table: String): Unit

  /** Append `df` to the target table (the COPY-batch analog; distributed —
    * every write partition loads in parallel).
    */
  def append(df: DataFrame, table: String): Unit

  /** Read the target table back as a DataFrame. */
  def read(spark: SparkSession, table: String): DataFrame

  /** Upsert `incoming` on `keys`: delete conflicting target rows, load the
    * batch. Incoming wins on conflict, exactly [[Upsert.upsertBloomPruned]].
    */
  def upsert(spark: SparkSession, incoming: DataFrame, table: String, keys: Seq[String]): Unit
}

/** Parquet-directory sink: `root/<table>` per table, optional chunk-column
  * directory partitioning (the reference's `passo` COPY chunking as write
  * parallelism). Upsert is an anti-join merge staged to a sibling directory
  * and swapped in — parquet can't delete rows in place, and overwriting a
  * directory that is also the scan source would corrupt the read.
  */
final class ParquetSink(root: String, chunkCol: Option[String] = None) extends Sink {

  private def path(table: String) = s"$root/$table"

  /** Each table's schema as this sink last wrote it, in the form a
    * parquet read gives it back: every field nullable, the chunk column
    * last. Reading with it skips the schema-inference job a plain
    * `spark.read.parquet` runs over the footers. A table this sink did
    * not write, or appended to with another schema, is inferred as
    * before. The chunk column reads back as the type written, where
    * inference would type it from the directory names.
    */
  private val written = new ConcurrentHashMap[String, StructType]()

  private def readBack(schema: StructType, part: Option[String]): StructType = {
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(
        s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other => other
    }
    val (chunk, data) = schema.fields.partition(f => part.contains(f.name))
    nullable(StructType(data ++ chunk)).asInstanceOf[StructType]
  }

  private def write(df: DataFrame, table: String, mode: SaveMode): Unit = {
    val w = df.write.mode(mode)
    val part = chunkCol.filter(df.columns.contains)
    val schema = readBack(df.schema, part)
    // an append keeps the schema only when it writes the same one; a
    // write that fails part-way leaves the table to inference
    val known = mode == SaveMode.Overwrite || written.get(table) == schema
    written.remove(table)
    part.fold(w)(w.partitionBy(_)).parquet(path(table))
    if (known) written.put(table, schema)
  }

  def overwrite(df: DataFrame, table: String): Unit = write(df, table, SaveMode.Overwrite)

  def append(df: DataFrame, table: String): Unit = write(df, table, SaveMode.Append)

  def read(spark: SparkSession, table: String): DataFrame =
    Option(written.get(table)).fold(spark.read)(spark.read.schema(_)).parquet(path(table))

  def upsert(spark: SparkSession, incoming: DataFrame, table: String, keys: Seq[String]): Unit =
    // Bloom-pruned merge: bloom-negative target rows stream scan→write
    // without touching the anti-join (see Upsert.upsertBloomPruned).
    stagedRewrite(spark, table)(Upsert.upsertBloomPruned(_, incoming, keys))

  /** Rewrite the table through `transform`, staged to a sibling directory
    * and swapped in (parquet can't mutate in place, and overwriting the
    * directory a plan is scanning would corrupt the read).
    */
  private def stagedRewrite(spark: SparkSession, table: String)(
      transform: DataFrame => DataFrame): Unit = {
    val staging = s"${table}__graft_staging"
    write(transform(read(spark, table)), staging, SaveMode.Overwrite)
    val (live, tmp) = (new java.io.File(path(table)), new java.io.File(path(staging)))
    val staged = Option(written.remove(staging))
    written.remove(table)
    import scala.reflect.io.Directory
    new Directory(live).deleteRecursively()
    // Distinguish "couldn't clear the live dir" (a lingering handle or a
    // concurrent writer) from a failed rename — a bare renameTo=false hides
    // which side broke.
    require(!live.exists(), s"could not clear live dir ${path(table)} for swap")
    require(tmp.renameTo(live), s"staging swap failed for ${path(table)}")
    staged.foreach(written.put(table, _)) // what the staging write wrote
  }
}

/** JDBC sink for any database Spark has a dialect for (Postgres, Derby,
  * …). Writes are distributed `df.write.jdbc` batch inserts (`batchsize`
  * rows per round trip ≈ the reference's `passo`); upsert is the
  * reference's delete-conflicts + COPY shape — batched DELETEs of the
  * incoming key set, then a distributed append — which touches only the
  * incoming rows instead of rewriting the whole target (the right trade at
  * a 100 TB target table).
  */
final class JdbcSink(
    url: String, properties: java.util.Properties,
    batchSize: Int = 10000,
    writerOptions: Map[String, String] = Map.empty) extends Sink {

  private def writer(df: DataFrame) =
    df.write.option("batchsize", batchSize.toString).options(writerOptions)

  def overwrite(df: DataFrame, table: String): Unit =
    writer(df).mode(SaveMode.Overwrite).jdbc(url, table, properties)

  def append(df: DataFrame, table: String): Unit =
    writer(df).mode(SaveMode.Append).jdbc(url, table, properties)

  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(url, table, properties)

  /** NOT atomic across the two phases: the batched DELETEs and the
    * distributed append run on separate connections (one per executor
    * task), so a reader can observe the keys-deleted-not-yet-reinserted
    * window — unlike the reference, whose single-connection
    * DELETE+COPY shares one transaction. A distributed write cannot share
    * one DB transaction; the operation IS idempotent (re-running the same
    * upsert converges), and exactly-once visibility, where required, comes
    * from loading into a staging table and swapping with one
    * `ALTER/RENAME` on the target DB.
    */
  def upsert(spark: SparkSession, incoming: DataFrame, table: String, keys: Seq[String]): Unit = {
    batchDelete(table, keys, incoming)
    append(incoming, table)
  }

  /** Distributed batched DELETE of `keyRows`' key set — one connection per
    * partition, `batchSize` statements per round trip (the reference's
    * `deletar_conflitos` shape).
    */
  private def batchDelete(table: String, keys: Seq[String], keyRows: DataFrame): Unit = {
    val (u, props, bs) = (url, properties, batchSize) // don't close over `this`
    // Spark's JDBC writer creates columns with dialect-quoted (case-exact)
    // identifiers — the DELETE must quote the same way or case-folding
    // databases (Derby, Postgres) won't resolve them.
    val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(u).quoteIdentifier(_)
    val delete =
      s"DELETE FROM $table WHERE ${keys.map(k => s"${quote(k)} = ?").mkString(" AND ")}"
    val deleteOne: Iterator[org.apache.spark.sql.Row] => Unit = { rows =>
      val conn = java.sql.DriverManager.getConnection(u, props)
      try {
        val st = conn.prepareStatement(delete)
        var n = 0
        rows.foreach { r =>
          (0 until keys.length).foreach(i => st.setObject(i + 1, r.get(i)))
          st.addBatch()
          n += 1
          if (n % bs == 0) st.executeBatch()
        }
        st.executeBatch()
      } finally conn.close()
    }
    keyRows.select(keys.head, keys.tail: _*).distinct().foreachPartition(deleteOne)
  }

  /** Single-connection transactional upsert — the reference's atomicity
    * (DELETE + COPY sharing one transaction,
    * sm_cloud_run/utilitarios/bd_utilitarios.py:262): the incoming batch
    * is collected to the driver and the batched DELETEs + INSERTs run on
    * ONE connection with autocommit off, committed once — any failure
    * rolls back BOTH phases, so a reader never observes the
    * deleted-but-not-reinserted window and a failed load leaves the
    * target untouched. The price is driver-side materialization and one
    * connection's throughput: right for dimension/metadata tables, wrong
    * for fact volume — `maxRows` refuses batches that belong on the
    * distributed [[upsert]] (idempotent; exactly-once visibility at scale
    * comes from a staging table + RENAME on the target DB).
    */
  def upsertTransactional(
      spark: SparkSession, incoming: DataFrame, table: String,
      keys: Seq[String], maxRows: Int = 100000): Unit = {
    val rows = incoming.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"transactional upsert is the modest-batch path (> $maxRows rows): " +
        "use the distributed upsert() for fact volume")
    val schema = incoming.schema
    val quote = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(_)
    val deleteSql =
      s"DELETE FROM $table WHERE ${keys.map(k => s"${quote(k)} = ?").mkString(" AND ")}"
    val insertSql =
      s"INSERT INTO $table (${schema.fieldNames.map(quote).mkString(", ")}) " +
        s"VALUES (${Seq.fill(schema.length)("?").mkString(", ")})"
    val keyIdx = keys.map(schema.fieldIndex)
    val conn = java.sql.DriverManager.getConnection(url, properties)
    try {
      conn.setAutoCommit(false)
      try {
        val del = conn.prepareStatement(deleteSql)
        val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
        var n = 0
        rows.foreach { r =>
          val key = keyIdx.map(r.get)
          if (seen.add(key)) {
            key.zipWithIndex.foreach { case (v, i) => del.setObject(i + 1, v) }
            del.addBatch()
            n += 1
            if (n % batchSize == 0) del.executeBatch()
          }
        }
        del.executeBatch()
        val ins = conn.prepareStatement(insertSql)
        var m = 0
        rows.foreach { r =>
          schema.indices.foreach { i =>
            val v = r.get(i)
            if (v == null) ins.setNull(i + 1, sqlTypeOf(schema(i).dataType))
            else ins.setObject(i + 1, v)
          }
          ins.addBatch()
          m += 1
          if (m % batchSize == 0) ins.executeBatch()
        }
        ins.executeBatch()
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      }
    } finally conn.close()
  }

  /** JDBC type for `setNull` — some drivers (Derby) reject
    * `Types.NULL` and need the column's own type.
    */
  private def sqlTypeOf(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType => java.sql.Types.INTEGER
      case ShortType => java.sql.Types.SMALLINT
      case ByteType => java.sql.Types.TINYINT
      case DoubleType => java.sql.Types.DOUBLE
      case FloatType => java.sql.Types.REAL
      case BooleanType => java.sql.Types.BOOLEAN
      case StringType => java.sql.Types.VARCHAR
      case TimestampType => java.sql.Types.TIMESTAMP
      case DateType => java.sql.Types.DATE
      case BinaryType => java.sql.Types.BINARY
      case _: DecimalType => java.sql.Types.DECIMAL
      case _ => java.sql.Types.OTHER
    }
  }
}
