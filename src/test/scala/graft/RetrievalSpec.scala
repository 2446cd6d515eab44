package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** BM25 keyword retrieval ([[graft.llm.Retrieval]]): postings exactness,
  * self-retrieval on the real corpus, and the plan contracts (broadcast
  * candidate generation, bounded-heap ranking).
  */
class RetrievalSpec extends SparkSpec {

  import spark.implicits._

  test("postings carry exact term frequencies and document lengths") {
    val docs = Seq((1L, "a b A"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.llm.Retrieval.postings(docs, "doc_id", "text")
      .as[(String, Long, Int, Long)].collect().toSet
    // lowercased: "A" folds into "a"'s tf
    assert(got == Set(
      ("a", 1L, 3, 2L), ("b", 1L, 3, 1L),
      ("b", 2L, 2, 1L), ("c", 2L, 2, 1L)))
  }

  test("bm25 scores equal an independent bit-exact replay on a hand corpus") {
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry apple date"), (4L, "date egg"), (5L, "egg fig banana"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "apple banana"), (200L, "egg")).toDF("doc_id", "text")
    val got = graft.llm.Retrieval.bm25TopK(
        docs, queries, "doc_id", "text", k = 3, maxDfFraction = 1.0)
      .as[(Long, Long, Double, Int)].collect().toSet
    graft.llm.CacheScope.releaseAll()

    // independent replay with the SAME IEEE op tree the operator builds —
    // every step correctly rounded, so equality is bit-exact, not approx
    val corpus = Map(
      1L -> Seq("apple", "banana", "apple"), 2L -> Seq("banana", "cherry"),
      3L -> Seq("cherry", "apple", "date"), 4L -> Seq("date", "egg"),
      5L -> Seq("egg", "fig", "banana"))
    val n = corpus.size.toDouble
    val avgdl = corpus.values.map(_.size).sum.toDouble / n
    val dfOf = corpus.values.flatMap(_.distinct).groupBy(identity)
      .view.mapValues(_.size.toDouble).toMap
    val k1p1 = 1.2 + 1.0
    def contrib(term: String, doc: Long): BigDecimal = {
      val tf = corpus(doc).count(_ == term).toDouble
      val dl = corpus(doc).size.toDouble
      val df = dfOf(term)
      val idf = (n - df + 0.5) / (df + 0.5)
      val tfw = tf * k1p1 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      BigDecimal(idf * tfw).setScale(18, scala.math.BigDecimal.RoundingMode.HALF_UP)
    }
    def expected(qid: Long, terms: Seq[String], k: Int): Seq[(Long, Long, Double, Int)] = {
      val scored = corpus.keys.toSeq
        .map(d => d -> terms.filter(corpus(d).contains)
          .map(t => contrib(t, d)).sum.toDouble)
        .filter(_._2 != 0.0)
      scored.sortBy { case (d, s) => (-s, d) }.take(k).zipWithIndex
        .map { case ((d, s), i) => (qid, d, s, i + 1) }
    }
    val want = (expected(100L, Seq("apple", "banana"), 3) ++
      expected(200L, Seq("egg"), 3)).toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("bm25 over the corpus: deterministic, contiguous ranks, non-increasing scores") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val queries = docs.orderBy("doc_id").limit(8)
    def run(parts: Int): Seq[(Long, Long, Double, Int)] = {
      val r = graft.llm.Retrieval.bm25TopK(
          docs.repartition(parts), queries, "doc_id", "text", k = 5,
          maxDfFraction = 1.0)
        .as[(Long, Long, Double, Int)].collect().sortBy(t => (t._1, t._4)).toSeq
      graft.llm.CacheScope.releaseAll()
      r
    }
    val got = run(3)
    assert(got.map(_._1).distinct.size == 8, "every query retrieves")
    got.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._4) == (1 to rows.size), s"query $q ranks not contiguous")
      val scores = rows.sortBy(_._4).map(_._3)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q scores not non-increasing: $scores")
    }
    // partition-independent bit-for-bit (decimal sums + IEEE-only ops)
    assert(got == run(17), "results must not depend on the partition layout")
  }

  test("bm25 plan: broadcast candidate joins, heap ranking, no corpus sort-merge") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val queries = docs.orderBy("doc_id").limit(4)
    val df = graft.llm.Retrieval.bm25TopK(docs, queries, "doc_id", "text", k = 3)
    val plan = planString(df)
    graft.llm.CacheScope.releaseAll()
    assert(plan.contains("BroadcastHashJoin"), s"candidate join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must never shuffle for a retrieval join:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"ranking not heap-bounded:\n$plan")
  }

  test("near-stopword cap is applied BELOW the candidate join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def joinsDeep(p: SparkPlan): Seq[BroadcastHashJoinExec] = p match {
      case a: AdaptiveSparkPlanExec => joinsDeep(a.executedPlan)
      case q: QueryStageExec => joinsDeep(q.plan)
      case b: BroadcastHashJoinExec => b +: b.children.flatMap(joinsDeep)
      case other => other.children.flatMap(joinsDeep)
    }
    // "the" is in all 10 docs (df=10 > 0.5·10); "rare" only in doc 10.
    // A query containing both must stream ONLY "rare"'s posting through
    // the candidate join — the capped term is dropped from the broadcast
    // side before the join, not filtered after it.
    val docs = ((1L to 9L).map(i => (i, s"the filler$i")) :+ (10L, "the rare"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "the rare")).toDF("doc_id", "text")
    val df = graft.llm.Retrieval.bm25TopK(
      docs, queries, "doc_id", "text", k = 5, maxDfFraction = 0.5)
    val got = df.as[(Long, Long, Double, Int)].collect().toSeq
    // behavioral: only the "rare" posting scores; no "the"-only doc appears
    assert(got.map(_._2) == Seq(10L), s"capped term leaked into scoring: $got")
    // positional: the ONLY join allowed to carry corpus-volume rows is the
    // df count feed (10 "the" + 1 "rare" postings = 11). The candidate
    // join and the qterms⋈kept join must stay at the kept-term volume —
    // were the cap applied above the candidate join (the old shape), a
    // second join would emit 11 rows here and this assertion fails.
    df.collect()
    val bigJoins = joinsDeep(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).filter(_ > 5L)
    graft.llm.CacheScope.releaseAll()
    assert(bigJoins.size == 1,
      s"exactly one corpus-volume join (the df feed) allowed, got $bigJoins")
  }

  test("hybrid fusion recalls docs each single retriever misses") {
    // Planted corpus: doc 1 is the LEXICAL hit (shares query terms, its
    // embedding points away from the query); doc 2 is the DENSE hit
    // (embedding nearly parallel to the query, zero shared tokens). Each
    // retriever alone recalls 1 of the 2 relevant docs; the fusion's
    // top-2 holds both. k0=60 keeps contributions rank-dominated — with
    // a tiny k0 (≈1) a rank-1-vs-rank-2 gap could outweigh a doc
    // appearing in BOTH lists, which is the knob's sensitivity.
    val docs = Seq(
      (1L, "apple orchard harvest", Seq(0.0, 1.0)),
      (2L, "zzz qqq www", Seq(0.99, 0.1)),
      (3L, "noise alpha beta", Seq(0.7, 0.7)),
      (4L, "noise gamma delta", Seq(-1.0, 0.2)))
      .toDF("doc_id", "text", "embedding")
    val queries = Seq((100L, "apple harvest", Seq(1.0, 0.0)))
      .toDF("doc_id", "text", "embedding")
    val relevant = Set(1L, 2L)
    def recallAt2(rows: Seq[Long]): Double =
      rows.take(2).count(relevant).toDouble / relevant.size
    val bm25 = graft.llm.Retrieval.bm25TopK(
      docs.select("doc_id", "text"), queries.select("doc_id", "text"),
      "doc_id", "text", k = 2, maxDfFraction = 1.0)
    val lexTop = bm25.orderBy("posicao").select("doc_id").as[Long].collect().toSeq
    val dense = graft.llm.Similarity.bruteForceTopK(
        docs.select("doc_id", "embedding"), queries.select("doc_id", "embedding"),
        "doc_id", "embedding", k = 2)
      .select(col("query_id"), col("corpus_id").as("doc_id"),
        col("rank").as("posicao"))
    val denTop = dense.orderBy("posicao").select("doc_id").as[Long].collect().toSeq
    val fused = graft.llm.Retrieval.rrfFuse(
        Seq(bm25.select("query_id", "doc_id", "posicao"), dense), k = 2)
      .orderBy("posicao").select("doc_id").as[Long].collect().toSeq
    graft.llm.CacheScope.releaseAll()
    val (rLex, rDen, rFused) = (recallAt2(lexTop), recallAt2(denTop), recallAt2(fused))
    assert(rLex == 0.5 && rDen == 0.5,
      s"planting broken: lex=$lexTop dense=$denTop")
    assert(rFused >= math.max(rLex, rDen) && rFused == 1.0,
      s"fusion must recall both planted docs: $fused")
  }

  test("rrfFuse sums reciprocal ranks bit-exactly and re-ranks") {
    // two hand rankings: doc 10 is rank 1 lexically and rank 3 densely,
    // doc 20 only lexical, doc 30 only dense
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "posicao")
    val den = Seq((1L, 30L, 1), (1L, 10L, 3)).toDF("query_id", "doc_id", "posicao")
    val got = graft.llm.Retrieval.rrfFuse(Seq(lex, den), k = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    def c(r: Int): BigDecimal =
      BigDecimal(1.0 / (60.0 + r.toDouble)).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    val s10 = (c(1) + c(3)).toDouble // both retrievers
    val s20 = c(2).toDouble
    val s30 = c(1).toDouble
    // fused order: doc 10 (two contributions) > doc 30 (rank-1 dense) >
    // doc 20 (rank-2 lexical); scores replayed through the same
    // decimal-sum path the operator uses
    assert(got == Seq(
      (1L, 10L, s10, 1), (1L, 30L, s30, 2), (1L, 20L, s20, 3)))
  }

  test("rrfFuse weights rescale contributions and can flip the ranking") {
    val lex = Seq((1L, 10L, 1)).toDF("query_id", "doc_id", "posicao")
    val den = Seq((1L, 20L, 1)).toDF("query_id", "doc_id", "posicao")
    // equal ranks: doc 10 wins only through the lexical retriever's weight
    val got = graft.llm.Retrieval.rrfFuse(
        Seq(lex, den), k = 2, weights = Seq(2.0, 1.0))
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq
    def c(w: Double, r: Int): Double =
      BigDecimal(w * (1.0 / (60.0 + r.toDouble)))
        .setScale(18, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq((1L, 10L, c(2.0, 1), 1), (1L, 20L, c(1.0, 1), 2)))
    // weight 1.0 is the bit-exact identity of the unweighted form
    val w1 = graft.llm.Retrieval.rrfFuse(
      Seq(lex, den), k = 2, weights = Seq(1.0, 1.0)).collect().toSet
    val w0 = graft.llm.Retrieval.rrfFuse(Seq(lex, den), k = 2).collect().toSet
    assert(w1 == w0)
  }

  test("rrfFuse is independent of retriever and partition order") {
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 10L, 1))
      .toDF("query_id", "doc_id", "posicao")
    val den = Seq((1L, 10L, 2), (2L, 20L, 1))
      .toDF("query_id", "doc_id", "posicao")
    val a = graft.llm.Retrieval.rrfFuse(Seq(lex, den), k = 5).collect().toSet
    val b = graft.llm.Retrieval.rrfFuse(
      Seq(den.repartition(7), lex.repartition(3)), k = 5).collect().toSet
    assert(a == b, "fusion must not depend on input order or layout")
  }

  test("log-idf variant retrieves for every query (ranking-quality path)") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val queries = docs.orderBy("doc_id").limit(4)
    val got = graft.llm.Retrieval.bm25TopK(
        docs, queries, "doc_id", "text", k = 5, maxDfFraction = 1.0,
        logIdf = true)
      .select("query_id", "doc_id").as[(Long, Long)].collect()
    graft.llm.CacheScope.releaseAll()
    val qids = queries.select("doc_id").as[Long].collect().toSet
    assert(got.map(_._1).toSet == qids && got.nonEmpty,
      "every query retrieves under log idf")
  }

  test("persisted postings index: write+append scores bit-identical to " +
      "from-scratch bm25; the scoring plan reads only the index") {
    import graft.llm.Retrieval
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val queries = docs.orderBy("doc_id").limit(8)
      .as[(Long, String)].collect().toSeq.toDF("doc_id", "text")
    val inline = Retrieval
      .bm25TopK(docs, queries, "doc_id", "text", 5, maxDfFraction = 1.0)
      .select("query_id", "doc_id", "score", "posicao")
      .as[(Long, Long, Double, Int)].collect().toSet
    graft.llm.CacheScope.releaseAll()
    val dir = java.nio.file.Files
      .createTempDirectory("graft-postidx").toString
    Retrieval.writePostingsIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
    Retrieval.appendPostingsIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
    val indexed = Retrieval.bm25TopKIndexed(
      Retrieval.readPostingsIndex(spark, dir), queries, "doc_id", "text", 5,
      maxDfFraction = 1.0)
    val scans = indexed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq(s"non-file relation: ${r.relation}")
        }
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("graft-postidx")),
      s"the indexed query must scan ONLY the postings index, got $scans")
    val got = indexed.select("query_id", "doc_id", "score", "posicao")
      .as[(Long, Long, Double, Int)].collect().toSet
    graft.llm.CacheScope.releaseAll()
    assert(got == inline,
      "two-append indexed scores must equal the from-scratch path exactly")
  }

  test("evalRanking: exact recall and reciprocal rank per query, " +
      "unranked queries score zero") {
    val ranking = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),
    ).toDF("query_id", "doc_id", "posicao")
    val rel = Seq(
      (1L, 11L), (1L, 99L), (2L, 20L), (2L, 21L), (3L, 5L),
    ).toDF("query_id", "doc_id")
    val got = graft.llm.Retrieval.evalRanking(ranking, rel, k = 5)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L, 0.5, 0.5)), s"q1: ${got(1L)}")
    assert(got(2L) == ((2L, 2L, 2L, 1.0, 1.0)), s"q2: ${got(2L)}")
    assert(got(3L) == ((3L, 1L, 0L, 0.0, 0.0)), s"q3: ${got(3L)}")
  }

  test("evalAveragePrecision: precision at each hit rank in order, " +
      "no-hit queries score zero") {
    val ranking = Seq(
      // q1: hits at ranks 1 and 3 -> apsum = 1/1 + 2/3, n_rel 3
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3), (1L, 13L, 4), (1L, 14L, 5),
      // q2: ranked but no hits
      (2L, 20L, 1), (2L, 21L, 2),
    ).toDF("query_id", "doc_id", "posicao")
    val rel = Seq(
      (1L, 10L), (1L, 12L), (1L, 99L), (2L, 5L), (3L, 6L),
    ).toDF("query_id", "doc_id")
    val got = graft.llm.Retrieval.evalAveragePrecision(ranking, rel, k = 5)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val want1 = (1.0 + 2.0 / 3.0) / 3.0
    assert(got(1L)._2 == 3L && got(1L)._3 == 2L &&
      math.abs(got(1L)._4 - want1) < 1e-15, s"q1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 0L, 0.0)), s"q2: ${got(2L)}")
    assert(got(3L) == ((3L, 1L, 0L, 0.0)), s"q3: ${got(3L)}")
  }

  test("tfidf lnc.ltc scores equal a hand computation; no-overlap docs " +
      "never surface") {
    // d1="a b a", d2="b c", d3="c c c"; query="a b":
    //   post: d1{a:2,b:1} d2{b:1,c:1} d3{c:3}; N=3; df(a)=1 df(b)=2
    //   dnorm: √5, √2, 3; wq(a)=1·(3/1)=3, wq(b)=1·(3/2)=1.5
    //   qnorm=√11.25; dot(d1)=2·3+1·1.5=7.5, dot(d2)=1·1.5
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val q = Seq((100L, "a b")).toDF("doc_id", "text")
    val got = graft.llm.Retrieval
      .tfidfTopK(docs, q, "doc_id", "text", k = 5, maxDfFraction = 1.0)
      .select("query_id", "doc_id", "score", "posicao")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    graft.llm.CacheScope.releaseAll()
    val qn = math.sqrt(11.25)
    val want = Seq(
      (100L, 1L, 7.5 / (qn * math.sqrt(5.0)), 1),
      (100L, 2L, 1.5 / (qn * math.sqrt(2.0)), 2))
    assert(got.length == 2, s"doc 3 shares no term with the query: $got")
    got.zip(want).foreach { case ((gq, gd, gs, gp), (wq2, wd, ws, wp)) =>
      assert(gq == wq2 && gd == wd && gp == wp, s"ranking mismatch: $got")
      assert(math.abs(gs - ws) < 1e-12, s"score mismatch: got $gs want $ws")
    }
    // cosine bound: every score in (0, 1] — equality only for an
    // identical DIRECTION, which idf-weighted queries rarely hit
    assert(got.forall(r => r._3 > 0 && r._3 <= 1.0 + 1e-12))
  }

  test("tfidf over the corpus: deterministic, contiguous ranks, " +
      "cosine in (0,1]") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val queries = docs.orderBy("doc_id").limit(8)
    def run() = graft.llm.Retrieval
      .tfidfTopK(docs, queries, "doc_id", "text", k = 5, maxDfFraction = 1.0)
      .select("query_id", "doc_id", "score", "posicao")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    val a = run(); graft.llm.CacheScope.releaseAll()
    val b = run(); graft.llm.CacheScope.releaseAll()
    assert(a == b, "tfidf must be bit-deterministic across runs")
    assert(a.nonEmpty)
    a.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4) == (1 to rows.length), "ranks contiguous")
      assert(rows.sliding(2).forall {
        case Seq(x, y) => x._3 >= y._3; case _ => true
      }, "scores non-increasing in rank")
    }
    assert(a.forall(r => r._3 > 0 && r._3 <= 1.0 + 1e-12),
      "cosine scores must lie in (0, 1]")
  }

  test("prfExpand recovers vocabulary-mismatch docs the plain ranking " +
      "cannot reach") {
    val docs = Seq(
      (1L, "car engine wheel"),
      (2L, "car engine"),
      (3L, "engine wheel piston"),  // relevant, shares NO query term
      (4L, "banana fruit"))
      .toDF("doc_id", "text")
    val queries = Seq((100L, "car")).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = {
      val r = df.select("doc_id").as[Long].collect().toSet
      graft.llm.CacheScope.releaseAll()
      r
    }
    val plain = ids(graft.llm.Retrieval.bm25TopK(
      docs, queries, "doc_id", "text", k = 4, maxDfFraction = 1.0))
    assert(!plain.contains(3L), "plain BM25 cannot see doc 3 (no shared term)")
    val prf = ids(graft.llm.Retrieval.prfExpand(
      docs, queries, "doc_id", "text", k = 4, kDocs = 2, mTerms = 2))
    assert(prf.contains(3L),
      s"feedback terms from docs 1-2 must recover doc 3, got $prf")
    assert(!prf.contains(4L), "off-topic doc must stay unreachable")
  }

  test("phraseSearch: overlapping occurrences counted, repeated-term " +
      "phrases need every offset, absent phrases emit nothing") {
    val docs = Seq(
      (1L, "a b a b a"),   // "a b" at 0 and 2; "b a" at 1 and 3
      (2L, "a a a"),       // "a a" at 0 and 1 (overlap); never "a b"
      (3L, "x y z"))
      .toDF("doc_id", "text")
    val phrases = Seq("a b", "a a", "b a b a", "q z").toDF("frase")
    val got = graft.llm.Retrieval.phraseSearch(docs, "doc_id", "text", phrases, "frase")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("a b", 1L, 2L),
      ("a a", 2L, 2L),
      ("b a b a", 1L, 1L)), s"got $got")
  }
}
