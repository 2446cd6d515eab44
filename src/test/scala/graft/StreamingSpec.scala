package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Events

/** Batch operators fed by Structured Streaming: foreachBatch drives the
  * sinks and the postings index through MemoryStream with the batch
  * results; the event-window operators are checked against each other.
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val sample = Seq(
    (1L, ts("2026-01-01 10:05:00"), 7L, "view", 1.5),
    (2L, ts("2026-01-01 10:40:00"), 7L, "view", 2.5),
    (3L, ts("2026-01-01 11:10:00"), 7L, "buy", 10.0),
    (4L, ts("2026-01-01 10:20:00"), 8L, "view", 0.5),
    (5L, ts("2026-01-01 13:00:00"), 8L, "view", 3.0),
  )

  test("native session_window: batch matches the cumsum form") {
    // the sample includes an EXACTLY-30min spacing (user 7, 10:40 -> 11:10):
    // both forms merge it, pinning the boundary semantics to strictly->
    val df = sample.toDF("event_id", "ts", "user_id", "event_type", "value")
    val viaNative = Events.sessionWindowAgg(df)
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    val viaCumsum = Events.sessionize(df)
      .select("user_id", "eventos", "inicio", "fim")
      .as[(Long, Long, Timestamp, Timestamp)].collect().toSet
    assert(viaNative == viaCumsum, s"native $viaNative\ncumsum $viaCumsum")
  }

  test("foreachBatch drives the upsert sink: last write per key wins") {
    import graft.sources.ParquetSink
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val sink = new ParquetSink(
      java.nio.file.Files.createTempDirectory("graft-psink-stream").toString)
    val q = mem.toDF.toDF("k", "v").writeStream
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // the standard streaming-merge pattern: seed the target on the
        // first micro-batch, delete-conflicts upsert on every later one
        if (batchId == 0L) sink.overwrite(batch, "t")
        else sink.upsert(batch.sparkSession, batch, "t", Seq("k"))
      }.start()
    try {
      mem.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      mem.addData(Seq((2L, "b2"), (3L, "c")))
      q.processAllAvailable()
      val got = sink.read(spark, "t").as[(Long, String)].collect().toSet
      assert(got == Set((1L, "a"), (2L, "b2"), (3L, "c")), s"got $got")
    } finally q.stop()
  }

  test("postings/bm25 accept streaming inputs: plan construction does " +
      "not throw, and micro-batches score bit-identically via the index") {
    import graft.llm.Retrieval
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "spark joins shuffle rows"),
      (2L, "broadcast joins skip the shuffle"),
      (3L, "window functions sort rows")).toDF("doc_id", "text")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-postidx-stream").toString
    Retrieval.writePostingsIndex(docs, "doc_id", "text", idxDir)
    val index = Retrieval.readPostingsIndex(spark, idxDir)

    // the r9 gap: `postings` wrapped its input in Spread, whose df.rdd
    // partition probe THROWS on a streaming plan — the gate must let a
    // streaming postings build through as a valid streaming aggregation
    val memDocs = MemoryStream[(Long, String)]
    val streamPost = Retrieval.postings(
      memDocs.toDF.toDF("doc_id", "text"), "doc_id", "text")
    assert(streamPost.isStreaming,
      "postings over a stream must stay a streaming plan")

    // micro-batch scoring through the persisted index equals the batch
    // call on the same queries
    val memQ = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)]
    val q = memQ.toDF.toDF("query_id", "text").writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= Retrieval
          .bm25TopKIndexed(index, batch, "query_id", "text", k = 2)
          .select("query_id", "doc_id", "posicao")
          .as[(Long, Long, Int)].collect()
        ()
      }.start()
    try {
      memQ.addData((10L, "shuffle joins"))
      q.processAllAvailable()
      memQ.addData((11L, "window sort"))
      q.processAllAvailable()
    } finally q.stop()
    val batchWant = Retrieval.bm25TopKIndexed(
        index,
        Seq((10L, "shuffle joins"), (11L, "window sort"))
          .toDF("query_id", "text"),
        "query_id", "text", k = 2)
      .select("query_id", "doc_id", "posicao")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.toSet == batchWant, s"stream ${got.toSet} vs batch $batchWant")
  }
}
