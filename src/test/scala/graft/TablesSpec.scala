package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.Tables

/** Tables infers each input table's parquet schema once: inference is a
  * Spark job per read, a fixed cost of every query.
  */
class TablesSpec extends SparkSpec {

  import spark.implicits._

  /** Jobs started while `body` runs, and its result. */
  private def jobs[T](body: => T): (Int, T) = {
    val group = "tables-schema-memo"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "Tables read")
      val out = body
      spark.sparkContext.clearJobGroup()
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (started.get, out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second read runs no job and returns the same schema; a rewritten file re-infers") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/region.parquet"
    Seq((0L, "AFRICA"), (1L, "AMERICA")).toDF("r_regionkey", "r_name")
      .write.parquet(path)
    val (inferJobs, first) = jobs(Tables.region(spark, dir))
    assert(inferJobs > 0, "the first read infers the schema with a job")
    val (memoJobs, second) = jobs(Tables.region(spark, dir))
    assert(memoJobs == 0, s"the second read ran $memoJobs jobs")
    assert(second.schema == first.schema)
    assert(second.orderBy("r_regionkey").collect().toSeq ==
      first.orderBy("r_regionkey").collect().toSeq)

    Seq((0L, "AFRICA", "x")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(path)
    val (reinferJobs, third) = jobs(Tables.region(spark, dir))
    assert(reinferJobs > 0, "a rewritten file must be inferred again")
    assert(third.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(third.as[(Long, String, String)].collect().toSeq == Seq((0L, "AFRICA", "x")))
  }
}
