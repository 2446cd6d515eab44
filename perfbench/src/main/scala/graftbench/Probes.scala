package graftbench

import graft.sources.{Dbf, JdbcSink, ParquetSink, PkImplode, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Direct calls into two layers, on the workload's own input tables.
  *
  *  - `functions`: each scalar native function evaluated over a fixed,
  *    cached probe column ([[ProbeRows]] rows); reported as rows per second.
  *  - `sources`: a parquet scan, a `ParquetSink` and a Derby `JdbcSink`
  *    upsert, a DBC write and read, and PKWare implode/explode.
  *
  * Every timing is the median of three repetitions.
  */
final class Probes(spark: SparkSession, dir: String) {
  val ProbeRows = 100000L
  private val scratch = s"${graft.GraftSession.scratchRoot}/perfbench-probes"
  private val mb = 1024.0 * 1024.0

  /** Median of three timings of `body`, each after an untimed `prepare`. */
  private def median3(body: => Unit, prepare: => Unit = ()): Double =
    (1 to 3).map { _ =>
      prepare
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Native scalar functions and the SQL that exercises each. */
  val functionExprs: Seq[(String, String)] = Seq(
    "roman_to_int" -> "roman_to_int(roman)",
    "jaro_winkler" -> "jaro_winkler(text40, text40b)",
    "nfc_normalize" -> "nfc_normalize(text)",
    "word_shingles" -> "word_shingles(toks, 2)",
    "word_shingles_all" -> "word_shingles_all(toks, 2)",
    "sorted_intersect_count" -> "sorted_intersect_count(set_a, set_b)",
    "sorted_intersect_longs" -> "sorted_intersect_longs(ids_a, ids_b)",
    "vector_dot_double" -> "vector_dot_double(embedding, embedding_b)",
    "graft_sqdist" -> "graft_sqdist(embedding, embedding_b)",
  )

  def functions(): Seq[(String, Double)] = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val (nd, ne) = (docs.count(), emb.count())
    val base = spark.range(ProbeRows).toDF("id")
      .join(docs, col("id") % nd === col("doc_id"))
      .join(emb, col("id") % ne === col("vec_id"))
      .selectExpr("id", "text", "substr(text, 1, 40) AS text40", "substr(text, 3, 40) AS text40b",
        "split(text, ' ') AS toks", "embedding", "reverse(embedding) AS embedding_b",
        "array_sort(array_distinct(slice(split(text, ' '), 1, 24))) AS set_a",
        "array_sort(array_distinct(slice(split(text, ' '), 9, 24))) AS set_b",
        "array_sort(array_distinct(transform(slice(split(text, ' '), 1, 24), x -> xxhash64(x)))) AS ids_a",
        "array_sort(array_distinct(transform(slice(split(text, ' '), 9, 24), x -> xxhash64(x)))) AS ids_b",
        "element_at(array('XIV', 'MCMXCIV', 'DCCCXC', 'LXXVII', 'MMXXVI'), CAST(id % 5 + 1 AS INT)) AS roman")
      .persist()
    base.count()
    try functionExprs.map { case (name, e) =>
      s"functions.${name}_rows_per_s" -> ProbeRows / median3(noop(base.selectExpr(s"$e AS r")))
    } finally base.unpersist(blocking = true)
  }

  def sources(): Seq[(String, Double)] = {
    val lineitemMb = new java.io.File(s"$dir/lineitem.parquet").length / mb
    val scan = lineitemMb / median3(noop(Tables.lineitem(spark, dir)))

    // at most 150,000 orders, so the probe's work is the same from sf0.1 up
    val orders = Tables.orders(spark, dir).filter(col("o_orderkey") < 150000)
    val psink = new ParquetSink(s"$scratch/parquet")
    val incoming = orders.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
    val parquetUpsert = median3(psink.upsert(spark, incoming, "orders", Seq("o_orderkey")),
      prepare = psink.overwrite(orders.filter(col("o_orderkey") % 3 =!= 0), "orders"))

    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val jsink = new JdbcSink(s"jdbc:derby:$scratch/derby;create=true", props)
    val cust = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_acctbal")
      .filter(col("c_custkey") < 2000).coalesce(1)
    val custUpd = cust.filter(col("c_custkey") % 2 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + 1.0)
    jsink.overwrite(cust, "customer")
    val jdbcUpsert = median3(jsink.upsert(spark, custUpd, "customer", Seq("c_custkey")))

    val docs = Tables.documents(spark, dir).select(
      col("doc_id").cast("string").as("DOC_ID"), col("lang").as("LANG"),
      col("source").as("SOURCE"), col("n_chars").cast("string").as("N_CHARS"))
    val dbcDir = s"$scratch/dbc"
    val dbcWrite = median3(Dbf.writeDbc(docs, dbcDir))
    val dbcRead = median3(noop(Dbf.readDbc(spark, dbcDir)))

    val rows = docs.collect().toSeq.map(_.toSeq.map(v => String.valueOf(v)))
    val raw = Dbf.toDbfBytes(docs.columns.toSeq, rows)
    var packed = Array.emptyByteArray
    val implode = raw.length / mb / median3 { packed = PkImplode.implode(raw) }
    val explode = raw.length / mb / median3 { PkImplode.explode(packed) }
    Seq(
      "sources.scan_mb_per_s" -> scan,
      "sources.parquet_upsert_s" -> parquetUpsert,
      "sources.jdbc_upsert_s" -> jdbcUpsert,
      "sources.dbc_write_s" -> dbcWrite,
      "sources.dbc_read_s" -> dbcRead,
      "sources.implode_mb_per_s" -> implode,
      "sources.explode_mb_per_s" -> explode)
  }

  def all(): Seq[(String, Double)] = functions() ++ sources()
}
