package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  test("cosine: identity = 1, orthogonal = 0, exact") {
    val df = Seq((
      Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f), Seq(0.0f, 0.0f, 1.0f),
      Seq(0.0f, 1.0f, 0.0f),
    )).toDF("a", "a2", "ez", "ey")
    val (self, ortho) = df.select(
      Similarity.cosine(col("a"), col("a2")),
      Similarity.cosine(col("ez"), col("ey"))).as[(Double, Double)].head()
    assert(math.abs(self - 1.0) < 1e-12)
    assert(ortho == 0.0)
  }

  test("brute-force top-k ranks self first for every query") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val top1 = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty && top1.forall { case (q, c) => q == c })
  }

  test("ANN always finds self and never scores outside its bucket universe") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", 10, planes = 4)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Long)].collect()
    val qids = queries.select("vec_id").as[Long].collect().toSet
    assert(qids.forall(q => ann.exists { case (qq, cc, r) => qq == q && cc == q && r == 1L }),
      "self must be rank 1 in its own bucket")
  }

  test("IVF ANN: self always found, recall beats single-probe at nProbe=4") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val k = 5
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ivf = graft.llm.Ivf.ivfTopK(
        emb, queries, "vec_id", "embedding", k, nCells = 8, nProbe = 4)
      .select("query_id", "corpus_id", "rank").as[(Long, Long, Long)].collect()
    val qids = queries.select("vec_id").as[Long].collect().toSet
    assert(qids.forall(q => ivf.exists { case (qq, cc, r) => qq == q && cc == q && r == 1L }),
      "every query's own cell must contain itself at rank 1")
    val recall = truth.count(ivf.map(t => (t._1, t._2)).toSet.contains).toDouble / truth.size
    assert(recall >= 0.4, s"IVF recall@$k = $recall")
  }

  test("IVF index: sampled fit assigns EVERY corpus row and the handle is reusable") {
    val emb = Tables.embeddings(spark, sfDir)
    val idx = graft.llm.Ivf.index(emb, "vec_id", "embedding", nCells = 8)
    assert(idx.assigned.count() == emb.count(), "every corpus vector gets a cell")
    val cells = idx.assigned.select("__cell").distinct().as[Int].collect()
    assert(cells.forall(c => c >= 0 && c < 8))
    // Reuse: a query batch through the prebuilt index must match the
    // one-shot convenience path with identical parameters (fixed seed +
    // deterministic sample → bit-identical centroids, no re-fit needed).
    val q = emb.filter(col("vec_id") % 100 === 0)
    // cosine as raw bits: the one-shot path may score on the driver
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id", "cosine", "rank")
        .as[(Long, Long, Double, Long)].collect()
        .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3), r._4))
        .sorted.toSeq
    val viaIndex = rows(graft.llm.Ivf.ivfTopK(idx, q, "vec_id", "embedding", 5, nProbe = 4))
    val oneShot = rows(graft.llm.Ivf.ivfTopK(
      emb, q, "vec_id", "embedding", 5, nCells = 8, nProbe = 4))
    assert(viaIndex == oneShot, "prebuilt-index results equal the one-shot path")
  }

  test("deterministic k-means is partition-independent bit-for-bit") {
    val emb = Tables.embeddings(spark, sfDir)
    def fitAt(parts: Int) = graft.llm.Kmeans.fit(
      emb.repartition(parts), "vec_id", "embedding", k = 8, iters = 5)
    val a = fitAt(3)
    val b = fitAt(17)
    assert(a == b, "centroids must not depend on the partition layout")
    // and the full ANN path inherits it: same neighbours either way
    import spark.implicits._
    val q = emb.filter(col("vec_id") % 100 === 0)
    def ann(parts: Int) = graft.llm.Ivf.ivfTopK(
        graft.llm.Ivf.index(emb.repartition(parts), "vec_id", "embedding", 8),
        q, "vec_id", "embedding", 5, nProbe = 4)
      .select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(ann(3) == ann(17), "ANN results must not depend on partitioning")
  }

  test("quantizeInt8: values in [-127,127], error bounded by escala/2, zero vector safe") {
    val df = Seq(
      (1L, Array(1.0f, -2.5f, 0.1f, 127.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // degenerate: must not divide by 0
      (3L, Array(-1e-3f, 1e-3f, 5e-4f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.llm.Similarity.quantizeInt8(df, "embedding")
      .select("vec_id", "escala", "q", "embedding")
      .as[(Long, Double, Array[Int], Array[Float])].collect().sortBy(_._1)
    graft.llm.CacheScope.releaseAll()
    out.foreach { case (_, escala, q, e) =>
      assert(q.forall(v => v >= -127 && v <= 127))
      q.lazyZip(e).foreach { (qi, xi) =>
        assert(math.abs(qi * escala - xi) <= escala / 2 + 1e-12,
          s"reconstruction error above escala/2 for $xi at scale $escala")
      }
    }
    assert(out(1)._3.toSeq == Seq(0, 0, 0, 0)) // zero vector -> zero codes
    assert(out(0)._3(3) == 127) // max element hits the top code exactly
  }

  test("ANN recall against brute force is substantial at 2 planes") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val k = 5
    val truth = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, queries, "vec_id", "embedding", k, planes = 2)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val recall = truth.count(ann.contains).toDouble / truth.size
    assert(recall >= 0.3, s"ANN recall@$k = $recall")
  }

  test("hardNegatives = per-query brute force over the cross-label corpus") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val got = Similarity.hardNegatives(emb, queries, "vec_id", "embedding",
        "label", k = 3)
      .select("query_id", "corpus_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    // no negative may share its query's label
    val labels = emb.select("vec_id", "label").as[(Long, Int)].collect().toMap
    got.foreach { case (q, c, _) =>
      assert(labels(q) != labels(c), s"same-label pair ($q, $c) returned")
    }
    // per query, identical to brute force over the label-filtered corpus
    queries.select("vec_id", "label").as[(Long, Int)].collect().foreach {
      case (qid, qlabel) =>
        val want = Similarity.bruteForceTopK(
            emb.filter(col("label") =!= qlabel),
            emb.filter(col("vec_id") === qid), "vec_id", "embedding", k = 3)
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Long)].collect().toSet
        assert(got.filter(_._1 == qid) == want, s"query $qid mismatch")
    }
  }

  test("centroidOutliers flags the planted anti-aligned vector only") {
    // 9 tightly-clustered vectors around (1,0) plus ONE pointing the
    // other way: the flipped vector scores negative against the group
    // centroid, the cluster scores near 1 (its own small pull of the
    // centroid toward the outlier is not enough to flip any sign).
    val rows = (0 until 9).map { i =>
      (i.toLong, "g", Array(1.0f, 0.01f * i))
    } :+ (99L, "g", Array(-1.0f, 0.0f))
    val df = rows.toDF("vec_id", "grp", "embedding")
    val got = Similarity.centroidOutliers(df, "vec_id", "embedding", "grp",
        minCos = 0.0)
      .select("vec_id", "atipico").as[(Long, Boolean)].collect().toMap
    assert(got(99L), "anti-aligned vector must be flagged")
    (0 until 9).foreach(i => assert(!got(i.toLong), s"vector $i wrongly flagged"))
    // deterministic under repartitioning (decimal sums are order-free)
    val got7 = Similarity.centroidOutliers(df.repartition(7), "vec_id",
        "embedding", "grp", minCos = 0.0)
      .select("vec_id", "cos_centroide").as[(Long, Double)].collect().toMap
    val got1 = Similarity.centroidOutliers(df.coalesce(1), "vec_id",
        "embedding", "grp", minCos = 0.0)
      .select("vec_id", "cos_centroide").as[(Long, Double)].collect().toMap
    assert(got7 == got1, "scores must be bit-identical across partitionings")
  }

  test("hierarchical k-means/IVF: partition-independent, probe table " +
      "covers every populated cell, drop-in for ivfTopK") {
    import graft.llm.{Ivf, Kmeans}
    val emb = Tables.embeddings(spark, sfDir)
    def fitAt(parts: Int) = {
      val (coarse, fine) = Kmeans.fitHierarchical(
        emb.repartition(parts), "vec_id", "embedding", kCoarse = 3, kFine = 3)
      val fineRows = fine
        .as[(Int, Seq[Seq[Double]])].collect().sortBy(_._1).toSeq
      graft.llm.CacheScope.releaseAll()
      (coarse, fineRows)
    }
    val a = fitAt(3)
    val b = fitAt(17)
    assert(a == b,
      "hierarchical centroids must not depend on the partition layout")

    val idx = Ivf.indexHierarchical(
      emb, "vec_id", "embedding", kCoarse = 3, kFine = 3)
    // every populated cell must be probe-able: a flat cell holding corpus
    // rows but missing from the centroid table would make those rows
    // unreachable by ANY probe
    val orphanCells = idx.assigned.select("__cell").distinct()
      .join(idx.centroids.select("__cell"), Seq("__cell"), "left_anti")
      .as[Int].collect()
    assert(orphanCells.isEmpty,
      s"populated cells missing from the probe table: ${orphanCells.toSeq}")
    // drop-in: the standard probe path ranks self first with a wide probe
    val q = emb.filter(col("vec_id") % 100 === 0)
    val top1 = Ivf.ivfTopK(idx, q, "vec_id", "embedding", k = 1, nProbe = 9)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    graft.llm.CacheScope.releaseAll()
    assert(top1.nonEmpty && top1.forall { case (qq, c) => qq == c },
      "full-width probes over the hierarchical index must rank self first")
  }

  test("screenedTopK: self always survives the screen, recall against " +
      "brute force is substantial, widening the screen converges to exact") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.orderBy("vec_id").limit(32)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10))
    graft.llm.CacheScope.releaseAll()
    val screened = Similarity.screenedTopK(
      emb, q, "vec_id", "embedding", k = 10, outDims = 8, screen = 50)
    val got = pairs(screened)
    graft.llm.CacheScope.releaseAll()
    val self = screened.filter(col("rank") === 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(self.nonEmpty && self.forall { case (a, b) => a == b },
      "the screen must never lose the self match")
    val recall = (exact & got).size.toDouble / exact.size
    info(f"JL screen recall@10 (outDims=8, screen=50): $recall%.3f")
    assert(recall >= 0.2, f"recall collapsed: $recall%.3f")
    // widening the screen to the corpus degenerates to exact brute force
    val n = emb.count().toInt
    val wide = pairs(Similarity.screenedTopK(
      emb, q, "vec_id", "embedding", k = 10, outDims = 8, screen = n))
    graft.llm.CacheScope.releaseAll()
    assert(wide == exact, "screen >= |corpus| must equal brute force")
  }

  test("mmrSelect: a redundant high-rel candidate is deferred below an " +
      "orthogonal lower-rel one; lambda = 1 degenerates to plain top-k") {
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.99f, 0.141f)), // near-duplicate of 10
      (12L, Array(0.0f, 1.0f)),    // orthogonal
    ).toDF("vec_id", "embedding")
    val cand = Seq(
      (1L, 10L, 0.90), (1L, 11L, 0.89), (1L, 12L, 0.50),
    ).toDF("query_id", "corpus_id", "rel")
    val mmr = graft.llm.Similarity
      .mmrSelect(cand, vecs, "vec_id", "embedding", k = 3, lambda = 0.7)
      .as[(Long, Long, Int)].collect().sortBy(_._3).map(_._2).toSeq
    graft.llm.CacheScope.releaseAll()
    assert(mmr == Seq(10L, 12L, 11L),
      s"diversification must promote the orthogonal doc, got $mmr")
    val plain = graft.llm.Similarity
      .mmrSelect(cand, vecs, "vec_id", "embedding", k = 3, lambda = 1.0)
      .as[(Long, Long, Int)].collect().sortBy(_._3).map(_._2).toSeq
    graft.llm.CacheScope.releaseAll()
    assert(plain == Seq(10L, 11L, 12L),
      s"lambda = 1 must reduce to relevance order, got $plain")
  }

  test("randomProject: values equal an independent JVM md5-sign replay; " +
      "partition-independent") {
    val df = Seq((1L, Array(1.0f, -2.0f, 3.5f)), (2L, Array(0.5f, 0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    def run(parts: Int) = Similarity
      .randomProject(df.repartition(parts), "vec_id", "embedding", 4)
      .as[(Long, Int, Double)].collect().toSet
    val got = run(2)
    assert(got == run(7), "projection must not depend on partitioning")
    // independent replay: sign(i,j) from the first 8 md5 hex chars of
    // "i:j" (mod 2), value = decimal-accumulated signed sum
    def sign(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$i:$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
    val vecs = Map(1L -> Seq(1.0f, -2.0f, 3.5f), 2L -> Seq(0.5f, 0.0f, -1.0f))
    got.foreach { case (id, j, valor) =>
      val want = vecs(id).zipWithIndex.map { case (x, i) =>
        java.math.BigDecimal.valueOf(x.toDouble * sign(i, j))
          .setScale(18, java.math.RoundingMode.HALF_UP)
      }.reduce(_ add _)
      assert(math.abs(valor - want.doubleValue) < 1e-12,
        s"($id,$j): got $valor want $want")
    }
  }

  test("PQ ADC: codes deterministic and m-wide, recall vs exact L2, " +
      "compression never touches the original floats") {
    import graft.llm.{Kmeans, Pq}
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val k = 5
    val model = Pq.fit(emb, "vec_id", "embedding", m = 8, k = 16,
      samplePct = 30)
    assert(model.m * model.subDim == 64 && model.k == 16)
    def codesOf() = Pq.encode(emb, "vec_id", "embedding", model)
      .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    val enc1 = codesOf()
    assert(enc1 == codesOf(), "codes must be partition-independent")
    assert(enc1.forall(_._2.length == 8))
    assert(enc1.forall(_._2.forall(c => c >= 0 && c < 16)))
    // exact L2 truth (ADC approximates SQUARED L2, not cosine)
    val qd = queries.select(col("vec_id").as("query_id"),
      transform(col("embedding"), _.cast("double")).as("__qv"))
    val truthW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d").asc, col("corpus_id").asc)
    val truth = emb.select(col("vec_id").as("corpus_id"),
        transform(col("embedding"), _.cast("double")).as("__cv"))
      .crossJoin(broadcast(qd))
      .select(col("query_id"), col("corpus_id"),
        Kmeans.sqDist(col("__qv"), col("__cv")).as("d"))
      .withColumn("r", row_number().over(truthW)).filter(col("r") <= k)
      .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
    // IVFADC: cell routing on top of the codes — candidates only from
    // probed cells, ADC shortlist, exact refine; measured 0.76 (it scans
    // nProbe/nCells of the corpus)
    val idx = graft.llm.Ivf.index(emb, "vec_id", "embedding", nCells = 8)
    val ivfadc = Pq.ivfAdcTopK(
        idx, model, Pq.encode(emb, "vec_id", "embedding", model), emb,
        queries, "vec_id", "embedding", k, nProbe = 4, shortlist = 100)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    assert(ivfadc.length == ivfadc.distinct.length)
    val ivfadcRecall = truth.count(ivfadc.toSet.contains).toDouble / truth.size
    assert(ivfadcRecall >= 0.55, s"IVFADC recall@$k = $ivfadcRecall")
    graft.llm.CacheScope.releaseAll()
  }
}
