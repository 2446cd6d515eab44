package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert
import graft.sources.{JdbcSink, ParquetSink, Sink}

/** Sink contract tests: the parquet impl and the JDBC impl (against the
  * embedded Derby that ships on Spark's classpath) must behave identically
  * — overwrite, append, and the delete-conflicts upsert where incoming wins
  * on key.
  */
class SinkSpec extends SparkSpec {

  import spark.implicits._

  private def derbySink(
      db: String, writerOptions: Map[String, String] = Map.empty): JdbcSink = {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toFile
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    new JdbcSink(s"jdbc:derby:${dir.getAbsolutePath}/$db;create=true", props,
      batchSize = 2, // tiny batch: exercises the executeBatch flush mid-stream
      writerOptions = writerOptions)
  }

  private def parquetSink(): ParquetSink =
    new ParquetSink(java.nio.file.Files.createTempDirectory("graft-psink").toString)

  private def contractCheck(sink: Sink, table: String): Unit = {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    val incoming = Seq((2L, "b2", 99.0), (4L, "d", 40.0)).toDF("k", "tag", "v")

    sink.overwrite(target, table)
    assert(sink.read(spark, table).count() == 3)

    sink.append(Seq((5L, "e", 50.0)).toDF("k", "tag", "v"), table)
    assert(sink.read(spark, table).count() == 4)

    sink.overwrite(target, table) // reset, then upsert: incoming wins on k
    sink.upsert(spark, incoming, table, Seq("k"))
    val got = sink.read(spark, table).as[(Long, String, Double)].collect().toSet
    assert(got == Set(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("ParquetSink honors the sink contract") {
    contractCheck(parquetSink(), "t_contract")
  }

  test("JdbcSink (embedded Derby) honors the sink contract") {
    contractCheck(derbySink("contract"), "t_contract")
  }

  test("JdbcSink upsert equals the in-plan Upsert.upsert merge") {
    val sink = derbySink("merge")
    val target = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "v")
    val incoming = Seq((2L, 20.0), (4L, 40.0), (9L, 90.0)).toDF("k", "v")
    sink.overwrite(target, "t_merge")
    sink.upsert(spark, incoming, "t_merge", Seq("k"))
    val viaSink = sink.read(spark, "t_merge")
      .as[(Long, Double)].collect().toSet
    val viaPlan = ReferenceForms.upsert(target, incoming, Seq("k"))
      .as[(Long, Double)].collect().toSet
    assert(viaSink == viaPlan)
  }

  test("JdbcSink transactional upsert commits atomically and matches the distributed path") {
    val sink = derbySink("txn")
    val target = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "v")
    val incoming = Seq((2L, 20.0), (4L, 40.0), (9L, 90.0)).toDF("k", "v")
    sink.overwrite(target, "t_txn")
    sink.upsertTransactional(spark, incoming, "t_txn", Seq("k"))
    val viaSink = sink.read(spark, "t_txn").as[(Long, Double)].collect().toSet
    val viaPlan = ReferenceForms.upsert(target, incoming, Seq("k"))
      .as[(Long, Double)].collect().toSet
    assert(viaSink == viaPlan)
    // batch cap: fact-scale batches are refused, not silently collected
    intercept[IllegalArgumentException] {
      sink.upsertTransactional(spark, incoming, "t_txn", Seq("k"), maxRows = 2)
    }
  }

  test("JdbcSink transactional upsert rolls back wholesale on failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft-derby").toFile
    val url = s"jdbc:derby:${dir.getAbsolutePath}/rb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val sink = new JdbcSink(url, props, batchSize = 2)
    // a PRIMARY KEY so a duplicate-key incoming batch fails mid-INSERT
    val ddl = java.sql.DriverManager.getConnection(url, props)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE t_rb (\"k\" BIGINT PRIMARY KEY, \"v\" DOUBLE)")
    } finally ddl.close()
    sink.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), "t_rb")
    // key 2 would be deleted, then the duplicated key 9 violates the PK —
    // the rollback must restore the DELETE too, not just stop inserting
    val poisoned = Seq((2L, 20.0), (9L, 90.0), (9L, 91.0)).toDF("k", "v")
    intercept[java.sql.SQLException] {
      sink.upsertTransactional(spark, poisoned, "t_rb", Seq("k"))
    }
    val got = sink.read(spark, "t_rb").as[(Long, Double)].collect().toSet
    assert(got == Set((1L, 1.0), (2L, 2.0)),
      s"failed transactional upsert must leave the target untouched, got $got")
  }

  test("streaming foreachBatch upserts into a Sink idempotently") {
    // The stream-into-warehouse pattern: each micro-batch upserts on key
    // through the Sink trait. Replayed batches (at-least-once delivery)
    // must not duplicate rows — upsert makes the write idempotent.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val sink = parquetSink()
    sink.overwrite(Seq((1L, "old"), (2L, "old")).toDF("k", "v"), "t_stream")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.upsert(spark, batch, "t_stream", Seq("k"))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-sink-ckpt").toString)
      .start()
    try {
      mem.addData(Seq((2L, "new"), (3L, "new")))
      q.processAllAvailable()
      val once = sink.read(spark, "t_stream").as[(Long, String)].collect().toSet
      assert(once == Set((1L, "old"), (2L, "new"), (3L, "new")))
      // replay the same rows (a second delivery) — still the same target
      mem.addData(Seq((2L, "new"), (3L, "new")))
      q.processAllAvailable()
      val twice = sink.read(spark, "t_stream").as[(Long, String)].collect().toSet
      assert(twice == once, "replayed batch must be idempotent")
    } finally q.stop()
  }

  test("JdbcSink composite-key upsert deletes exactly the conflicting rows") {
    // Derby's default StringType mapping is CLOB, which is not comparable
    // in a WHERE clause — createTableColumnTypes is the standard writer
    // knob for key-typed string columns.
    val sink = derbySink("composite",
      Map("createTableColumnTypes" -> "k2 VARCHAR(32)"))
    val target = Seq((1L, "x", 1.0), (1L, "y", 2.0), (2L, "x", 3.0))
      .toDF("k1", "k2", "v")
    val incoming = Seq((1L, "y", 99.0)).toDF("k1", "k2", "v")
    sink.overwrite(target, "t_comp")
    sink.upsert(spark, incoming, "t_comp", Seq("k1", "k2"))
    val got = sink.read(spark, "t_comp").as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "x", 1.0), (1L, "y", 99.0), (2L, "x", 3.0)))
  }

  test("ParquetSink reads back with the schema it wrote, as inference types it") {
    val root = java.nio.file.Files.createTempDirectory("graft-psink").toString
    def inferred(table: String) = spark.read.parquet(s"$root/$table").schema
    val df = Seq((3, 1L, "a", 1.5), (5, 2L, null, 2.5)).toDF("chunk", "k", "tag", "v")
      .withColumn("nested", struct(col("k"), array(col("v")), map(col("k"), col("v"))))
    val plain = new ParquetSink(root)
    plain.overwrite(df, "t_plain")
    assert(plain.read(spark, "t_plain").schema == inferred("t_plain"))
    // the chunk column is written first and read back last
    val chunked = new ParquetSink(root, Some("chunk"))
    chunked.overwrite(df, "t_chunked")
    assert(chunked.read(spark, "t_chunked").schema == inferred("t_chunked"))
    assert(chunked.read(spark, "t_chunked").columns.last == "chunk")
    // q06's upsert: staged to a sibling directory and swapped in
    val o = graft.sources.Tables.orders(spark, sfDir)
    val upserted = new ParquetSink(root)
    upserted.overwrite(o.filter(col("o_orderkey") % 3 =!= 0), "t_upsert")
    upserted.upsert(spark, o.filter(col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0), "t_upsert", Seq("o_orderkey"))
    assert(upserted.read(spark, "t_upsert").schema == inferred("t_upsert"))
    // an append of another schema leaves the table to inference
    plain.append(df.withColumn("extra", lit(1)), "t_plain")
    assert(plain.read(spark, "t_plain").schema == inferred("t_plain"))
    // reading a table this sink wrote runs no schema-inference job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      chunked.read(spark, "t_chunked")
      org.apache.spark.ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
