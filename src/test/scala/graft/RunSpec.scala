package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.llm.CacheScope
import graft.sources.Tables

/** [[Run.once]]: timing, the Left for a throw, and the release that runs
  * either way.
  */
class RunSpec extends SparkSpec {

  /** A tracked (persisted) frame over the fixture's orders table. */
  private def trackedOrders(): DataFrame =
    CacheScope.persistTracked(Tables.orders(spark, sfDir).select("o_orderkey"))

  test("a query that persists a tracked frame returns Right and the frame is released") {
    var tracked: DataFrame = null
    val r = Run.once("persists", {
      tracked = trackedOrders()
      tracked.groupBy().count()
    }) { df =>
      assert(tracked.storageLevel === StorageLevel.MEMORY_AND_DISK)
      df.collect().head.getLong(0)
    }
    val (n, sec) = r.toOption.get
    assert(n > 0)
    assert(sec > 0)
    assert(tracked.storageLevel === StorageLevel.NONE)
  }

  test("a throw while building, while executing, or without a message returns Left and still releases") {
    def failing(build: DataFrame => DataFrame, expect: String => Boolean): Unit = {
      var tracked: DataFrame = null
      val r = Run.once("fails", { tracked = trackedOrders(); build(tracked) })(Run.noop)
      assert(r.left.exists(expect), r)
      assert(tracked.storageLevel === StorageLevel.NONE)
    }
    failing(_ => throw new IllegalStateException("boom while building"),
      _ == "boom while building")
    failing(_.select(raise_error(lit("boom while executing"))),
      _.contains("boom while executing"))
    failing(_ => throw new IllegalStateException(),
      _ == "java.lang.IllegalStateException")
  }

  test("the session still runs a query after a failure") {
    assert(Run.once("fails", throw new RuntimeException("first"))(Run.noop).isLeft)
    val r = Run.once("after", Tables.orders(spark, sfDir))(_.count())
    assert(r.map(_._1) === Right(Tables.orders(spark, sfDir).count()))
  }
}
