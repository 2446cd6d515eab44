package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{Ivf, Kmeans, Pq}
import graft.plans.Gates
import graft.sources.Tables

/** [[Kmeans]]'s two Lloyd paths — driver-local and distributed — fit
  * bit-identical centroids, and [[Pq]]'s identical codebooks, under any
  * partitioning; the gate picks between them at [[Kmeans.localMaxRows]].
  */
class KmeansSpec extends SparkSpec {

  import spark.implicits._

  private val Iters = 5

  /** Raw bits: `==` on doubles would equate 0.0 and -0.0. */
  private def bits(c: Seq[Seq[Double]]): Seq[Seq[Long]] =
    c.map(_.map(java.lang.Double.doubleToRawLongBits))

  /** 2-d points listed in seed order: row i gets the id of md5 rank i, so
    * the first k rows listed are the fit's k seeds. With k = 3 the seeds
    * are (7,9), (4,6), (4,6): the duplicate seed is an exact distance tie
    * that leaves cell 2 empty in round 1, and cell 1 loses every row in
    * round 2 (asserted below). One vector is null; two have a null
    * element, which reads 0.0 in the distance and is counted but not
    * summed in the mean.
    */
  private def edgeCases: DataFrame = {
    val points: Seq[Seq[java.lang.Double]] = Seq(
      Seq(7.0, 9.0), Seq(4.0, 6.0), Seq(4.0, 6.0), Seq(4.0, 8.0),
      Seq(3.0, 6.0), Seq(9.0, 4.0), Seq(5.0, 7.0),
      Seq(null, 7.0), Seq(8.0, null), null)
    val ids = spark.range(points.length)
      .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      .as[Long].collect()
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.toSeq.zip(points).map { case (id, p) => Row(id, p) }),
      schema)
  }

  /** Fit `df` at 1, 3 and 7 partitions on both paths; all six agree. */
  private def assertPathsAgree(df: DataFrame, k: Int): Seq[Seq[Double]] = {
    val fits = Seq(1, 3, 7).flatMap { parts =>
      val t = Kmeans.trainSet(df.repartition(parts), "id", "v", k)
      assert(t.local.isDefined, s"gate must admit the set at $parts partitions")
      Seq(Kmeans.lloydLocal(t.local.get, t.seeds, Iters),
        Kmeans.lloydDistributed(t.vecs, t.seeds, Iters))
    }
    fits.tail.foreach(f => assert(bits(f) == bits(fits.head)))
    fits.head
  }

  private def cellCounts(df: DataFrame, centroids: Seq[Seq[Double]]): Map[Int, Long] =
    df.filter(col("v").isNotNull)
      .groupBy(Kmeans.nearestCell(col("v"), centroids).as("c")).count()
      .as[(Int, Long)].collect().toMap

  test("local and distributed Lloyd agree bit-for-bit on ties, nulls and an emptying cell") {
    val df = edgeCases
    val t = Kmeans.trainSet(df, "id", "v", 3)
    assert(t.seeds == Seq(Seq(7.0, 9.0), Seq(4.0, 6.0), Seq(4.0, 6.0)))
    val round1 = cellCounts(df, t.seeds)
    assert(round1.getOrElse(1, 0L) > 0L && !round1.contains(2),
      s"premise: tie sends every (4,6) row to cell 1, none to 2: $round1")
    val round2 = cellCounts(df, Kmeans.lloydLocal(t.local.get, t.seeds, 1))
    assert(!round2.contains(1), s"premise: cell 1 empties in round 2: $round2")
    val fitted = assertPathsAgree(df, k = 3)
    assert(bits(Kmeans.fit(df, "id", "v", k = 3, iters = Iters)) == bits(fitted))
    // null vectors count towards the training set's rows, not its vectors
    assert(t.local.get.rows == 10 && t.local.get.vecs.length == 9)
  }

  test("local and distributed Lloyd agree when k reaches the distinct points") {
    // a null vector cannot be a seed, so this set drops it; 9 rows, 8
    // distinct points, k = 12: every row seeds a cell, the duplicate
    // seeds' cells stay empty
    val df = edgeCases.filter(col("v").isNotNull)
    val fitted = assertPathsAgree(df, k = 12)
    assert(fitted.length == 9)
  }

  test("local and distributed Lloyd agree on sf embeddings") {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id").as("id"),
      col("embedding").as("v"))
    assert(assertPathsAgree(emb, k = 8).length == 8)
  }

  test("Pq.fit codebooks are identical on both paths at 1, 3 and 7 partitions") {
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id").as("id"),
      col("embedding").as("v"))
    def books(df: DataFrame, m: Int, subDim: Int, k: Int) =
      Seq(1, 3, 7).flatMap { parts =>
        val t = Kmeans.trainSet(df.repartition(parts), "id", "v", k)
        assert(t.local.isDefined)
        Seq(Pq.fitLocal(t.local.get, t.seeds, m, subDim, Iters),
          Pq.fitDistributed(t.vecs, t.seeds, m, subDim, Iters))
      }.map(_.map(bits))
    val onEmb = books(emb, m = 8, subDim = 8, k = 16)
    onEmb.tail.foreach(b => assert(b == onEmb.head))
    val onEdges = books(edgeCases, m = 2, subDim = 1, k = 3)
    onEdges.tail.foreach(b => assert(b == onEdges.head))
    // and the public fit (sampled, gated) lands on the same codebooks
    val model = Pq.fit(emb, "id", "v", m = 8, k = 16, samplePct = 100)
    assert(model.codebooks.map(bits) == onEmb.head)
  }

  test("gate: driver-local up to localMaxRows rows, distributed one row past it") {
    // Gates.DriverLocalMaxBytes (8 MiB) over (8·dim + 8·ceil(dim/64) +
    // 96) bytes per held row; k plays no part
    assert(Kmeans.localMaxRows(64) == 13617)
    assert(Kmeans.localMaxRows(65536) == 15)
    for (dim <- Seq(64, 65536))
      assert(Kmeans.localMaxRows(dim) == Gates.driverLocalRows(Kmeans.heldRowBytes(dim)))
    def probe(rows: Long, k: Int, dim: Int) = Kmeans.trainSet(
      spark.range(rows).select(col("id"),
        array_repeat(col("id").cast("double"), dim).as("v")),
      "id", "v", k)
    for ((k, dim, bound) <- Seq((4096, 64, 13617), (1, 65536, 15))) {
      val at = probe(bound, k, dim)
      assert(at.maxRows == bound && at.local.map(_.rows).contains(bound))
      val past = probe(bound + 1L, k, dim)
      assert(past.maxRows == bound && past.local.isEmpty)
    }
  }

  test("Ivf.index over sf0.01 embeddings runs a pinned number of actions") {
    // driver-local Lloyd: a seed and a probe collect on the 10% sample
    // (under 4·16 rows, so it falls back), then on the full corpus. No
    // action per round and no separate sample count: the distributed
    // rounds alone would add 5 collects at iters = 5. Actions are counted
    // as distinct SQL executions, so the shuffle-map jobs adaptive
    // execution submits under an action do not move the figure.
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    assume(new java.io.File(sf001).isDirectory, s"$sf001 not generated")
    val emb = Tables.embeddings(spark, sf001).cache()
    emb.count()
    val group = "kmeans-job-guard"
    val actions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          actions.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .getOrElse(s"job ${e.jobId}"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "Ivf.index action count")
      Ivf.index(emb, "vec_id", "embedding", nCells = 16)
      spark.sparkContext.clearJobGroup()
      ListenerDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.llm.CacheScope.releaseAll()
      emb.unpersist()
    }
    assert(actions.size == 4, s"Ivf.index ran ${actions.size} actions: $actions")
  }
}
