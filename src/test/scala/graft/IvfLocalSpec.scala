package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.{CacheScope, Ivf}
import graft.plans.Gates
import graft.sources.Tables

/** The one-shot [[Ivf.ivfTopK]]'s driver-local path returns the rows and
  * schema of the distributed path (the prebuilt-index [[Ivf.ivfTopK]]
  * over [[Ivf.index]]) bit for bit, and declines to it on every input it
  * does not model.
  */
class IvfLocalSpec extends SparkSpec {

  import spark.implicits._

  /** The schema and the rows, cosine as raw bits (`==` on doubles would
    * equate 0.0 and -0.0), or the root cause's class when it throws.
    */
  private def outcome(df: => DataFrame)
      : Either[String, (StructType, Seq[(Long, Long, Option[Long], Long)])] =
    try {
      val d = df
      val rows = d.collect().map { r =>
        (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          if (r.isNullAt(2)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
          r.getLong(3))
      }
      Right((d.schema, rows.sorted.toSeq))
    } catch {
      case e: Exception =>
        var c: Throwable = e
        while (c.getCause != null) c = c.getCause
        Left(c.getClass.getName)
    } finally CacheScope.releaseAll()

  private def distributed(
      corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, samplePct: Int = 10) =
    outcome(Ivf.ivfTopK(Ivf.index(corpus, "id", "v", nCells, samplePct),
      queries, "id", "v", k, nProbe))

  /** The local path's frame: one partition over the driver's rows. */
  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, false, _: LocalRelation) => true
    case _ => false
  }

  /** The one-shot path runs on the driver and equals the distributed one. */
  private def sameOnDriver(
      corpus: DataFrame, queries: DataFrame, k: Int, nCells: Int,
      nProbe: Int, samplePct: Int = 10): Unit = {
    val local = Ivf.localTopK(corpus, queries, "id", "v", k, nCells, nProbe, samplePct)
    assert(local.exists(isLocal), "the driver-local path must take this input")
    val got = outcome(local.get)
    assert(got.isRight, s"driver-local path failed: $got")
    assert(got.toOption.get._2.nonEmpty)
    assert(got == distributed(corpus, queries, k, nCells, nProbe, samplePct))
  }

  /** The one-shot path leaves the driver (`handOff`: after a driver fit)
    * and equals the distributed one, rows or error.
    */
  private def declines(
      corpus: DataFrame, queries: DataFrame, k: Int = 3, nCells: Int = 2,
      nProbe: Int = 2, handOff: Boolean = false): Unit = {
    val local = Ivf.localTopK(corpus, queries, "id", "v", k, nCells, nProbe, 10)
    if (handOff) assert(local.exists(df => !isLocal(df)))
    else assert(local.isEmpty, "the driver-local path must decline this input")
    CacheScope.releaseAll()
    assert(outcome(Ivf.ivfTopK(corpus, queries, "id", "v", k, nCells, nProbe)) ==
      distributed(corpus, queries, k, nCells, nProbe))
  }

  private def vectors(rows: (Long, Seq[Float])*): DataFrame = rows.toDF("id", "v")

  /** `n` rows of `dim` floats in [-1, 1), a fixed function of the id. */
  private def synthetic(n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id"),
      transform(array_repeat(lit(0), dim), (_, i) =>
        (pmod(xxhash64(col("id"), i), lit(2000L)) / 1000.0 - 1.0).cast("float"))
        .as("v"))

  private val sf01 = s"${new java.io.File(sfDir).getParent}/sf0.1"

  test("q42's inputs at sf0.1: driver-local equals distributed bit for bit") {
    assume(new java.io.File(sf01).isDirectory, s"$sf01 not generated")
    val emb = Tables.embeddings(spark, sf01).withColumnRenamed("vec_id", "id")
      .withColumnRenamed("embedding", "v")
    sameOnDriver(emb, emb.orderBy("id").limit(32), k = 10, nCells = 16, nProbe = 4)
    sameOnDriver(emb, emb.filter(col("id") % 100 === 0), k = 5, nCells = 8, nProbe = 4)
  }

  test("cosine ties rank by corpus id") {
    // five distinct directions, each held by eight ids
    val base = Seq(Seq(1f, 0f, 0f), Seq(0f, 1f, 0f), Seq(1f, 1f, 0f),
      Seq(0f, 1f, 1f), Seq(2f, -1f, 3f))
    val corpus = vectors((0L until 40L).map(i => (i, base((i % 5).toInt))): _*)
    sameOnDriver(corpus, corpus.filter(col("id") < 7), k = 11, nCells = 4, nProbe = 2)
  }

  test("duplicate corpus ids are scored as separate rows") {
    // the 3 seeds (md5 order) are unique ids; every later id appears
    // twice with different vectors
    val ids = spark.range(20).orderBy(md5(col("id").cast("string").cast("binary")))
      .as[Long].collect().toSeq
    val rows = ids.zipWithIndex.flatMap { case (id, r) =>
      val v = Seq(r.toFloat, (r % 3).toFloat, 1f)
      if (r < 3) Seq((id, v)) else Seq((id, v), (id, v.map(_ * -0.5f)))
    }
    val queries = vectors(rows.take(5).zipWithIndex.map { case ((_, v), i) => (1000L + i, v) }: _*)
    sameOnDriver(vectors(rows: _*), queries, k = 6, nCells = 3, nProbe = 2, samplePct = 100)
  }

  test("a cosine that is -0.0 in plain doubles ranks as the decimal 0.0") {
    // q·c is -0.0 + -0.0 in IEEE doubles; the DECIMAL fold makes it 0,
    // so these cosines tie at 0.0 with the orthogonal rows and rank by id
    val corpus = vectors(
      (1L, Seq(-0.0f, 1f)), (2L, Seq(0f, 1f)), (3L, Seq(-0.0f, 2f)),
      (4L, Seq(1f, 0f)), (5L, Seq(-1f, 0.5f)), (6L, Seq(0.5f, -0.0f)))
    val queries = vectors((10L, Seq(1f, -0.0f)), (11L, Seq(-0.0f, -1f)))
    sameOnDriver(corpus, queries, k = 6, nCells = 2, nProbe = 2)
  }

  test("subnormal floats") {
    val tiny = Float.MinPositiveValue
    val corpus = vectors((0L until 24L).map { i =>
      (i, Seq(1f + i, tiny * i, 1e-40f, -tiny, (i % 4).toFloat))
    }: _*)
    val queries = vectors((100L, Seq(tiny, 1f, tiny, 1e-39f, 2f)),
      (101L, Seq(3f, -tiny, 0f, 1e-41f, 0.5f)))
    sameOnDriver(corpus, queries, k = 5, nCells = 3, nProbe = 2)
  }

  test("a sample under 4·nCells rows trains on every row") {
    val corpus = synthetic(20, 6)
    sameOnDriver(corpus, corpus.filter(col("id") % 4 === 0), k = 4, nCells = 8, nProbe = 3)
  }

  test("more cells than distinct vectors") {
    val corpus = vectors((0L until 12L).map(i =>
      (i, Seq(Seq(1f, 2f), Seq(-3f, 1f), Seq(0.5f, 0.5f))((i % 3).toInt))): _*)
    sameOnDriver(corpus, corpus.limit(4), k = 5, nCells = 6, nProbe = 4)
  }

  test("integer ids and double vectors keep their types") {
    val corpus = synthetic(30, 4).select(col("id").cast("int").as("id"),
      col("v").cast("array<double>").as("v"))
    sameOnDriver(corpus, corpus.filter(col("id") % 7 === 0), k = 3, nCells = 2, nProbe = 1)
  }

  test("declines: a corpus past the driver-local gate") {
    // 64-d rows: the gate holds 10810; one more row leaves the driver
    val bound = Gates.driverLocalRows(Ivf.heldRowBytes(64))
    assert(bound == 10810)
    val corpus = synthetic(bound + 1L, 64).cache()
    try declines(corpus, corpus.filter(col("id") % 2000 === 0), k = 5, nCells = 4)
    finally corpus.unpersist()
    // and a corpus that fits, with queries that take it past the gate
    val small = synthetic(14, 65536) // 15 rows at 65536 dims
    assert(Gates.driverLocalRows(Ivf.heldRowBytes(65536)) == 15)
    assert(Ivf.localTopK(small, small.limit(2), "id", "v", 2, 1, 1, 10).isEmpty)
  }

  private val ok = Seq[java.lang.Float](1f, 2f, 3f)
  private def boxed(rows: (java.lang.Long, Seq[java.lang.Float])*): DataFrame =
    rows.toDF("id", "v")
  private def base: Seq[(java.lang.Long, Seq[java.lang.Float])] =
    (1L to 8L).map(i => (java.lang.Long.valueOf(i), ok.map(x => java.lang.Float.valueOf(x * i))))

  test("declines: a null id") {
    val corpus = boxed(base :+ ((null, ok)): _*)
    declines(corpus, boxed(base.take(2): _*))
    declines(boxed(base: _*), boxed(base.take(2) :+ ((null, ok)): _*))
  }

  test("declines: an id type that is not integral") {
    val corpus = boxed(base: _*).select(col("id").cast("string").as("id"), col("v"))
    declines(corpus, corpus.limit(2))
  }

  test("declines: a null vector, a null element, ragged vectors") {
    for (bad <- Seq[Seq[java.lang.Float]](null, Seq(1f, null, 3f), Seq(1f, 2f))) {
      declines(boxed(base :+ ((java.lang.Long.valueOf(99L), bad)): _*), boxed(base.take(2): _*))
      declines(boxed(base: _*), boxed(base.take(2) :+ ((java.lang.Long.valueOf(99L), bad)): _*))
    }
  }

  test("declines: a NaN or infinite element") {
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)) {
      val row = (java.lang.Long.valueOf(99L), Seq[java.lang.Float](1f, bad, 3f))
      declines(boxed(base :+ row: _*), boxed(base.take(2): _*))
      declines(boxed(base: _*), boxed(base.take(2) :+ row: _*))
    }
  }

  test("declines: duplicate query ids") {
    declines(boxed(base: _*), boxed(base.take(2) :+ base.head: _*))
  }

  test("hands off: a zero norm (a zero denominator), a null dot product") {
    val zero = (java.lang.Long.valueOf(99L), Seq[java.lang.Float](0f, 0f, 0f))
    declines(boxed(base :+ zero: _*), boxed(base.take(2): _*), nProbe = 2,
      handOff = true)
    declines(boxed(base: _*), boxed(base.take(2) :+ zero: _*), handOff = true)
    // 1e19² overflows DECIMAL(38,18): a null dot product and a null norm
    val huge = (java.lang.Long.valueOf(98L), Seq[java.lang.Float](1e19f, 1f, 1f))
    declines(boxed(base :+ huge: _*), boxed(base.take(2): _*), handOff = true)
  }

  test("hands off: more candidate pairs than the scoring crossover") {
    // 600 rows × 250 queries, every cell probed: 150000 pairs
    val corpus = synthetic(600, 8)
    val queries = synthetic(250, 8).select((col("id") + 5000).as("id"), col("v"))
    assert(!Gates.scoreOnDriver(600L * 250))
    declines(corpus, queries, k = 2, nCells = 2, nProbe = 2, handOff = true)
  }

  /** Distinct SQL executions (or jobs outside one) that `body` starts. */
  private def actions(body: => Unit): Int = {
    val group = "ivf-local-job-guard"
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(e.properties.getProperty("spark.sql.execution.id"))
            .getOrElse(s"job ${e.jobId}"))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "Ivf.ivfTopK action count")
      body
      spark.sparkContext.clearJobGroup()
      ListenerDrain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      CacheScope.releaseAll()
    }
    seen.size
  }

  test("the one-shot ivfTopK at sf0.01 runs a pinned number of actions") {
    // the width probe, the corpus collect and the query-batch collect;
    // the caller's own action is the only job after them
    val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"
    assume(new java.io.File(sf001).isDirectory, s"$sf001 not generated")
    val emb = Tables.embeddings(spark, sf001).cache()
    emb.count()
    try {
      val queries = emb.orderBy("vec_id").limit(32).cache()
      queries.count()
      var out: DataFrame = null
      assert(actions {
        out = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 10)
      } == 3)
      assert(isLocal(out))
      assert(actions(out.collect()) == 1)
      queries.unpersist()
    } finally emb.unpersist()
  }

  test("one row past the gate: the distributed actions plus the two probes") {
    // the one-row width probe and the bounded collect that overflows
    val corpus = synthetic(Gates.driverLocalRows(Ivf.heldRowBytes(64)) + 1L, 64).cache()
    corpus.count()
    try {
      val queries = corpus.filter(col("id") < 8)
      val oneShot = actions(Ivf.ivfTopK(corpus, queries, "id", "v", 5, nCells = 16))
      val today = actions(Ivf.ivfTopK(Ivf.index(corpus, "id", "v", nCells = 16),
        queries, "id", "v", 5, nProbe = 4))
      assert(oneShot == today + 2, s"one-shot $oneShot, distributed $today")
    } finally corpus.unpersist()
  }
}
