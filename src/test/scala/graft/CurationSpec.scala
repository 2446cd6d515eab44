package graft

import org.apache.spark.sql.functions._

import graft.llm.Curation
import graft.sources.Tables

class CurationSpec extends SparkSpec {

  import spark.implicits._

  test("stratified sample is deterministic and respects per-stratum rates") {
    val docs = Tables.documents(spark, sfDir)
    def run() = Curation.stratifiedSample(
        docs, "doc_id", "lang", Map("en" -> 30), defaultRate = 70)
      .select("doc_id").as[Long].collect().toSet
    val a = run()
    assert(a == run(), "same doc must always be in or out")
    val byLang = Curation.stratifiedSample(
        docs, "doc_id", "lang", Map("en" -> 30), defaultRate = 70)
      .groupBy("lang").count()
      .join(docs.groupBy("lang").agg(count(lit(1)).as("total")), "lang")
      .select(col("lang"), (col("count") * 100.0 / col("total")).as("pct"))
      .as[(String, Double)].collect().toMap
    byLang.foreach { case (lang, pct) =>
      val want = if (lang == "en") 30.0 else 70.0
      assert(math.abs(pct - want) < 15.0, s"$lang sampled at $pct%, wanted ~$want%")
    }
  }

  test("packSequences assigns contiguous id-ordered bins per group") {
    val docs = Seq(
      (1L, "g", 1000L), (2L, "g", 1000L), (3L, "g", 1000L), (4L, "g", 1000L),
      (10L, "h", 5000L), (11L, "h", 100L),
    ).toDF("doc_id", "grp", "toks")
    val packed = Curation.packSequences(docs, "doc_id", "grp", "toks", 2048L)
      .select("doc_id", "bin").as[(Long, Long)].collect().toMap
    // g: offsets 0,1000,2000,3000 -> bins 0,0,0(straddles; starts <2048),1
    assert(packed(1L) == 0 && packed(2L) == 0 && packed(3L) == 0 && packed(4L) == 1)
    // h: offsets 0,5000 -> bins 0,2 (big doc spans two whole budgets)
    assert(packed(10L) == 0 && packed(11L) == 2)
    // bins are contiguous runs in id order within a group
    val gBins = Seq(1L, 2L, 3L, 4L).map(packed)
    assert(gBins == gBins.sorted)
  }

  test("chunkTokens covers every token with the right overlap and tail") {
    // 10 tokens, window 4, overlap 1 -> stride 3 -> starts at 0,3,6: the
    // last window [g h i j] already reaches the end, so exactly 3 chunks —
    // every token covered, boundary tokens repeated by the overlap.
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "x")).toDF("id", "text")
    val got = Curation.chunkTokens(df, "text", window = 4, overlap = 1)
      .select("id", "chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Long, Int, String, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, "a b c d", 4), (1L, 1, "d e f g", 4), (1L, 2, "g h i j", 4),
      (2L, 0, "x", 1)))
    // short tail: 9 tokens -> starts 0,3,6 with the last chunk 3 long
    val tail = Curation.chunkTokens(
        Seq((3L, "a b c d e f g h i")).toDF("id", "text"), "text", 4, 1)
      .select("chunk_idx", "chunk_tokens").as[(Int, Int)].collect().sortBy(_._1).toSeq
    assert(tail == Seq((0, 4), (1, 4), (2, 3)))
    intercept[IllegalArgumentException] {
      Curation.chunkTokens(df, "text", window = 4, overlap = 4)
    }
  }

  test("packingStats sums tokens and fill per bin") {
    val docs = Seq((1L, "g", 1024L), (2L, "g", 1024L), (3L, "g", 512L))
      .toDF("doc_id", "grp", "toks")
    val stats = Curation.packingStats(
        Curation.packSequences(docs, "doc_id", "grp", "toks", 2048L),
        "grp", "toks", 2048L)
      .as[(String, Long, Long, Long, Double)].collect().sortBy(_._2).toSeq
    assert(stats == Seq(("g", 0L, 2L, 2048L, 1.0), ("g", 1L, 1L, 512L, 0.25)))
  }

  test("decontaminate counts shared shingles against the benchmark only") {
    // benchmark doc: trigrams {a b c, b c d}; corpus doc 1 shares "a b c"
    // (once, though it contains the window twice -> distinct per doc);
    // doc 2 shares both; doc 3 shares none
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c x a b c"), // "a b c" twice but distinct-per-doc
      (2L, "z a b c d"),
      (3L, "p q r s")).toDF("doc_id", "text")
    val got = Curation.decontaminate(corpus, bench, "doc_id", "text", n = 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1L, true), (2L, 2L, true), (3L, 0L, false)))
  }

  test("shard assignment is deterministic, in range, and partitions the corpus") {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("toks", lit(10L))
    val stats = Curation.shardStats(docs, "doc_id", "toks", nShards = 16)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(stats.map(_._1).toSet.subsetOf((0L until 16L).toSet))
    assert(stats.map(_._2).sum == docs.count(), "every doc in exactly one shard")
    // same hash on a rerun (the whole point vs rand()/partition-id)
    val again = Curation.shardStats(docs, "doc_id", "toks", nShards = 16)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(stats.sortBy(_._1) == again.sortBy(_._1))
  }

  test("dropBlockedDomains extracts domains and anti-joins the blocklist") {
    val docs = Seq(
      (1L, "https://spam.example/a"),
      (2L, "http://ok.example/b?q=1"),
      (3L, "https://ok.example/c"),
      (4L, "not a url")).toDF("doc_id", "url")
    val bl = Seq("spam.example").toDF("dominio")
    val got = Curation.dropBlockedDomains(docs, "url", bl)
      .select("doc_id", "dominio")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // the unparseable row extracts '' which is not blocked -> kept
    assert(got == Seq((2L, "ok.example"), (3L, "ok.example"), (4L, "")))
  }

  test("redactPii masks all three kinds globally and counts from the source") {
    import graft.llm.Privacy
    val df = Seq(
      (1L, "mail a@b.io and c.d+x@e.org end"),
      (2L, "tel (11) 98765-4321 e (21) 1234-5678"),
      (3L, "ip 10.0.3.1 e 192.168.0.255"),
      (4L, "limpo")).toDF("id", "texto")
    val got = Privacy.redactPii(df, "texto")
      .select("id", "texto_limpo", "n_emails", "n_telefones", "n_ips")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "mail <EMAIL> and <EMAIL> end", 2L, 0L, 0L),
      (2L, "tel <TELEFONE> e <TELEFONE>", 0L, 2L, 0L),
      (3L, "ip <IP> e <IP>", 0L, 0L, 2L),
      (4L, "limpo", 0L, 0L, 0L)))
  }

  test("rebalanceToCap caps heavy domains and keeps light ones whole") {
    val docs = ((0L until 40L).map(i => (i, "heavy")) ++
      Seq((100L, "light"), (101L, "light"))).toDF("doc_id", "dom")
    val got = Curation.rebalanceToCap(docs, "doc_id", "dom", cap = 10L)
    val rates = got.select("dom", "taxa_pct").distinct()
      .as[(String, Long)].collect().toMap
    assert(rates.get("light").forall(_ == 100L))
    assert(rates("heavy") == 25L, "floor(100*10/40)")
    val kept = got.select("doc_id").as[Long].collect().toSet
    assert(Set(100L, 101L).subsetOf(kept), "uncapped domain keeps everything")
    val again = Curation.rebalanceToCap(docs, "doc_id", "dom", cap = 10L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == again, "same doc always in or out")
  }

  test("quantileFilter trims by exact integer-rank discrete quantiles") {
    val df = (1L to 20L).map(v => (v, "g", v)).toDF("id", "grp", "v")
    val got = Curation.quantileFilter(df, "v", "grp", 0.1, 0.9)
    // n=20: lo = value at rank ceil(2)=2, hi at rank ceil(18)=18
    val vs = got.select("v").as[Long].collect().sorted.toSeq
    assert(vs == (2L to 18L), s"kept $vs")
    val bounds = got.select("lo", "hi").distinct().as[(Long, Long)].head()
    assert(bounds == ((2L, 18L)))
    // singleton group: both ranks clamp to 1 -> the row survives
    val one = Curation.quantileFilter(
      Seq((9L, "h", 42L)).toDF("id", "grp", "v"), "v", "grp", 0.05, 0.95)
    assert(one.count() == 1)
  }

  test("quantileFilterApprox tracks the exact bounds without a window sort") {
    val df = (1L to 1000L).map(v => (v, "g", v)).toDF("id", "grp", "v")
    val approx = Curation.quantileFilterApprox(df, "v", "grp", 0.1, 0.9)
    val (lo, hi) = approx.select("lo", "hi").distinct().as[(Long, Long)].head()
    // exact integer-rank bounds are 100 and 900; the sketch at accuracy
    // 10000 over 1000 distinct values must land within ±1 rank
    assert(math.abs(lo - 100L) <= 1 && math.abs(hi - 900L) <= 1, s"($lo, $hi)")
    approx.collect()
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the sketch path must not sort groups:\n$plan")
  }

  test("purgeRepeatedChunks keeps only the globally-first chunk occurrence") {
    val docs = Seq(
      (1L, "a b c d"), // chunks [a b] [c d] — both first
      (2L, "a b x y"), // [a b] repeated from doc 1, [x y] unique
      (3L, "c d"), //      [c d] repeated from doc 1 -> emptied
    ).toDF("doc_id", "texto")
    val got = Curation.purgeRepeatedChunks(docs, "doc_id", "texto", window = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d", 2L, 0L),
      (2L, "x y", 2L, 1L),
      (3L, "", 1L, 1L)))
  }

  test("purgeFrequentSpans drops every instance of over-threshold spans") {
    val docs = Seq(
      (1L, "a b c d"), // [a b] in docs 1,2,3 (> maxDocs=2) -> dropped; [c d] kept
      (2L, "a b x y"),
      (3L, "a b"), //      emptied: its only span is the frequent one
      (4L, "c d"), //      [c d] appears in docs 1,4 (= 2, not over) -> kept
    ).toDF("doc_id", "texto")
    val got = Curation.purgeFrequentSpans(
        docs, "doc_id", "texto", window = 2, maxDocs = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    // contrast with purgeRepeatedChunks: doc 1's FIRST instance of [a b]
    // is dropped too — a span frequent enough to be boilerplate is noise
    // in its first document as well
    assert(got == Seq(
      (1L, "c d", 2L, 1L),
      (2L, "x y", 2L, 1L),
      (3L, "", 1L, 1L),
      (4L, "c d", 1L, 0L)))
  }

  test("sliding span purge catches boilerplate fixed chunking misses") {
    import graft.llm.Curation
    // the same 5-token boilerplate at offsets 0 / 1 / 2 — fixed
    // window-5 chunking sees three DIFFERENT alignment-dependent spans
    // (each in one doc), sliding stride-1 windows see one span in 3 docs
    val bp = "visit our great site now"
    // context tokens are doc-UNIQUE so the only cross-doc span is the
    // boilerplate itself (a shared continuation would legitimately widen
    // the frequent region)
    val docs = Seq(
      (1L, s"$bp a1 b1 c1 d1 e1"),
      (2L, s"p2 $bp a2 b2 c2 d2"),
      (3L, s"p3 q3 $bp a3 b3 c3"))
      .toDF("doc_id", "text")
    val fixed = Curation.purgeFrequentSpans(docs, "doc_id", "text",
        window = 5, maxDocs = 2)
      .select("doc_id", "n_removidos").as[(Long, Long)].collect().toMap
    assert(fixed.values.forall(_ == 0L),
      s"fixed chunking must MISS the straddling boilerplate: $fixed")
    val slid = Curation.purgeFrequentSpansSliding(docs, "doc_id", "text",
        window = 5, stride = 1, maxDocs = 2)
      .select("doc_id", "texto_limpo", "n_removidos")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(slid.map(_._3) == Seq(5L, 5L, 5L),
      s"sliding must drop exactly the 5 boilerplate tokens per doc: $slid")
    assert(slid.forall(r => !r._2.contains("visit") && !r._2.contains("site")))
    assert(slid.head._2 == "a1 b1 c1 d1 e1")
    // a doc shorter than the window is exempt, never crashes
    val short = Curation.purgeFrequentSpansSliding(
        Seq((9L, "tiny doc")).toDF("doc_id", "text"),
        "doc_id", "text", window = 5, stride = 2, maxDocs = 1)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(short == Seq((9L, "tiny doc", 2L, 0L)))
  }

  test("temperatureResample flattens the mixture deterministically") {
    val docs = Tables.documents(spark, sfDir)
    val out = Curation.temperatureResample(
      docs.select("doc_id", "lang"), "doc_id", "lang", targetFraction = 0.5)
    val probs = out.select("lang", "p_keep").distinct()
      .as[(String, Double)].collect().toMap
    val counts = docs.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // sqrt-flattening: keep probability must be anti-monotone in the
    // natural count — head languages downsampled harder
    val ordered = counts.toSeq.sortBy(-_._2).map { case (l, _) => probs(l) }
    assert(ordered == ordered.sorted, s"p_keep not anti-monotone: $probs")
    assert(probs.values.forall(p => p > 0 && p <= 1.0))
    // determinism: the same rows survive a re-run
    val a = out.select("doc_id").as[Long].collect().toSet
    val b = Curation.temperatureResample(
        docs.select("doc_id", "lang"), "doc_id", "lang", targetFraction = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    // volume lands near the target (md5-uniform noise allowed)
    val total = counts.values.sum.toDouble
    assert(math.abs(a.size / total - 0.5) < 0.1,
      s"kept ${a.size} of $total, wanted ~50%")
  }

  test("applyResample on a stream equals the batch filter (offline-fit weights)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val ref = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val probs = Curation.keepProbabilities(ref, "lang", targetFraction = 0.5)
    val rows = ref.as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.length / 2)

    val mem = MemoryStream[(Long, String)]
    val streamed = Curation.applyResample(
      mem.toDF.toDF("doc_id", "lang"), "doc_id", "lang", probs)
    val q = streamed.writeStream
      .format("memory").queryName("resample_stream").outputMode("append").start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val got = spark.table("resample_stream")
        .select("doc_id").as[Long].collect().toSet
      val want = Curation.applyResample(ref, "doc_id", "lang", probs)
        .select("doc_id").as[Long].collect().toSet
      assert(got == want,
        "stream apply must keep exactly the batch-kept rows")
      assert(want.nonEmpty && want.size < rows.length)
    } finally q.stop()
  }

  test("TextCuration chains dedup, quality, purge and resample in one plan") {
    import graft.pipelines.TextCuration
    val docs = Tables.documents(spark, sfDir)
    val out = TextCuration.run(docs, "doc_id", "text", "lang",
        minQuality = 0.19, spanWindow = 5, spanMaxDocs = 2,
        targetFraction = 0.5)
      .select("doc_id", "qualidade", "n_removidos", "p_keep")
      .as[(Long, Double, Long, Double)].collect()
    assert(out.nonEmpty)
    assert(out.forall(_._2 >= 0.19), "quality floor leaked")
    assert(out.forall(r => r._3 >= 0 && r._4 > 0 && r._4 <= 1.0))
    val ids = out.map(_._1).toSet
    assert(ids.size == out.length, "dedup must leave doc_id unique")
    val total = docs.count()
    assert(ids.size < total, "the chain must actually filter")
  }

  test("TextCuration fuzzy stage drops planted near-dups, keeps originals") {
    import graft.pipelines.TextCuration
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    // q26-style plants: drop-first-token variants at id+1000000 survive
    // EXACT dedup (different text) but are near-dups of their originals
    val variants = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text",
        concat_ws(" ", slice(llm.TextAnalysis.tokens(col("text")), 2, 100000)))
    def ids(fuzzy: Option[Double]): Set[Long] = {
      val r = TextCuration.run(docs.unionByName(variants), "doc_id", "text",
          "lang", minQuality = 0.19, spanWindow = 5, spanMaxDocs = 2,
          targetFraction = 0.5, fuzzyThreshold = fuzzy)
        .select("doc_id").as[Long].collect().toSet
      graft.llm.CacheScope.releaseAll()
      r
    }
    val without = ids(None)
    val withFuzzy = ids(Some(0.5))
    // some planted variant survives the no-fuzzy chain, none survives the
    // fuzzy one (the variant is always the GREATER id of its pair)
    assert(without.exists(_ >= 1000000L), "plants must survive exact dedup")
    assert(!withFuzzy.exists(_ >= 1000000L), "fuzzy stage must drop plants")
    // NOT a subset check: removing docs upstream shifts the resample's
    // per-language counts and p_keep, so downstream survivorship is not
    // monotone — only the plants' removal is invariant
  }

  test("kAnonymize drops equivalence classes smaller than k") {
    import graft.llm.Privacy
    val df = Seq(
      (1L, "en", 0L), (2L, "en", 0L), (3L, "en", 0L),
      (4L, "pt", 0L), (5L, "pt", 1L),
    ).toDF("id", "lang", "faixa")
    val got = Privacy.kAnonymize(df, Seq("lang", "faixa"), k = 3)
      .select("id", "grupo_n").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L)))
    intercept[IllegalArgumentException] {
      Privacy.kAnonymize(df, Seq.empty, k = 3)
    }
  }

  test("normalizeText composes NFC, strips controls, collapses whitespace") {
    import graft.llm.Privacy
    val decomposed = "cafe" + "́"
    val df = Seq((1L, s"  $decomposed  x\t\ty  ")).toDF("id", "texto")
    val got = df.select(Privacy.normalizeText(col("texto"))).as[String].head()
    assert(got == "café x y")
  }

  test("spanCorrupt: sentinels number in order and input+target round-trip " +
      "to the original text") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 100)
    val out = Curation.spanCorrupt(docs, "doc_id", "text",
        blockLen = 5, maskPct = 15)
      .join(docs, "doc_id")
      .select("doc_id", "entrada", "alvo", "n_mascarados", "text")
      .as[(Long, String, String, Long, String)].collect()
    assert(out.exists(_._4 > 0) && out.exists(_._4 == 0),
      "need both masked and untouched docs at 15%")
    out.foreach { case (id, entrada, alvo, nMasked, text) =>
      val spans = "<extra_id_(\\d+)> ((?:(?!<extra_id_)\\S+ ?)+)".r
        .findAllMatchIn(alvo)
        .map(m => m.group(1).toInt -> m.group(2).trim).toMap
      assert(spans.size == nMasked, s"doc $id sentinel count")
      assert(spans.keys.toSeq.sorted == (0 until nMasked.toInt),
        s"doc $id sentinels must number 0..${nMasked - 1} in order")
      val rebuilt = "<extra_id_(\\d+)>".r.replaceAllIn(entrada,
        m => java.util.regex.Matcher.quoteReplacement(spans(m.group(1).toInt)))
      val original = text.trim.toLowerCase.split("\\s+").mkString(" ")
      assert(rebuilt == original, s"doc $id round-trip failed")
    }
  }

  test("epochOrder: fixed shards, per-epoch reshuffle, dense positions") {
    val docs = Tables.documents(spark, sfDir).select("doc_id")
    def run(e: Int) = Curation.epochOrder(docs, "doc_id", e, nShards = 8)
      .select("doc_id", "shard", "posicao")
      .as[(Long, Long, Long)].collect()
    val e0 = run(0)
    val e1 = run(1)
    // shard membership is epoch-independent
    assert(e0.map(r => r._1 -> r._2).toMap == e1.map(r => r._1 -> r._2).toMap)
    // positions are a dense 1..n permutation within every shard
    e0.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $s positions not dense")
    }
    // the order actually reshuffles between epochs
    val moved = e0.map(r => (r._1, r._3)).toMap
    assert(e1.count(r => moved(r._1) != r._3) > e1.length / 2,
      "epoch 1 must reorder most documents")
    // deterministic replay
    assert(run(0).toSeq == e0.toSeq)
  }

  test("mixturePlan water-fills: allocations sum to budget, whole sources " +
      "below the level, capped at a common λ") {
    val docs = Seq(
      ("a", 100L), ("b", 500L), ("c", 2000L), ("d", 9000L), ("e", 9000L),
    ).toDF("src", "toks")
    val plan = Curation.mixturePlan(docs, "src", col("toks"), budget = 5000L)
      .select("src", "tokens_disponiveis", "inteiro", "tokens_alocados", "taxa")
      .as[(String, Long, Boolean, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // level λ: a(100) + b(500) whole -> λ = (5000-600)/3 = 1466.67 < 2000 ✓
    assert(plan("a")._3 && plan("b")._3, "small sources taken whole")
    assert(!plan("c")._3 && !plan("d")._3 && !plan("e")._3)
    val lam = (5000.0 - 600.0) / 3.0
    Seq("c", "d", "e").foreach { s =>
      assert(math.abs(plan(s)._4 - lam) < 1e-9, s"capped $s at λ")
      assert(math.abs(plan(s)._5 - lam / plan(s)._2) < 1e-12)
    }
    assert(math.abs(plan.values.map(_._4).sum - 5000.0) < 1e-6,
      "allocations must sum to the budget")
    // budget >= total -> everything whole at rate 1
    val all = Curation.mixturePlan(docs, "src", col("toks"), budget = 50000L)
      .select("inteiro", "taxa").as[(Boolean, Double)].collect()
    assert(all.forall(r => r._1 && r._2 == 1.0))
  }

  test("TextCuration.runFull drops benchmark-contaminated docs and masks PII") {
    import graft.pipelines.TextCuration
    // Corpus where the chain's earlier stages are no-ops (all unique,
    // all high quality, no frequent spans at maxDocs=50), isolating the
    // two release gates.
    val base = "the of and a to in or for with on at by from up about into"
    val docs = (0L until 30L).map { i =>
      val pii = if (i % 3 == 0) s" contato$i@exemplo.com 10.0.0.$i" else ""
      (i, s"$base unico$i marcador$i fim$i$pii", "pt")
    }.toDF("doc_id", "text", "lang")
    // eval suite = doc 5's first 6 tokens -> doc 5 shares a 5-gram
    val bench = Seq("the of and a to in").toDF("text")
    val out = TextCuration.runFull(docs, "doc_id", "text", "lang",
      minQuality = 0.0, spanWindow = 5, spanMaxDocs = 50,
      targetFraction = 1.0, benchmark = bench, decontamN = 5)
    val rows = out.select("doc_id", "texto_limpo", "n_emails", "n_ips")
      .as[(Long, String, Long, Long)].collect()
    graft.llm.CacheScope.releaseAll()
    // every doc starts with the benchmark 5-gram -> ALL are contaminated;
    // that proves the gate but leaves nothing to check redaction on, so
    // re-run with a benchmark that hits nothing
    assert(rows.isEmpty, "all docs share the bench 5-gram -> all dropped")
    val out2 = TextCuration.runFull(docs, "doc_id", "text", "lang",
      minQuality = 0.0, spanWindow = 5, spanMaxDocs = 50,
      targetFraction = 1.0,
      benchmark = Seq("zzz yyy xxx www vvv").toDF("text"), decontamN = 5)
    val rows2 = out2.select("doc_id", "texto_limpo", "n_emails", "n_ips")
      .as[(Long, String, Long, Long)].collect()
    graft.llm.CacheScope.releaseAll()
    assert(rows2.length == 30, "nothing contaminated, nothing else filters")
    rows2.foreach { case (id, texto, nEmails, nIps) =>
      if (id % 3 == 0) {
        assert(nEmails == 1 && nIps == 1, s"doc $id PII counts")
        assert(texto.contains("<EMAIL>") && texto.contains("<IP>"))
        assert(!texto.contains("@exemplo.com"), s"doc $id leaked an email")
      } else assert(nEmails == 0 && nIps == 0)
    }
  }

  test("leakageSafeSplit keeps same-group near-dup pairs on one side; " +
      "doc-level split leaks") {
    // Near-dup pairs cluster within a site: 40 sites, each with a page and
    // its near-identical twin. Group-level assignment can never straddle
    // them; a doc-id hash split does.
    val docs = (0L until 40L).flatMap { site =>
      Seq((site * 2, s"site$site"), (site * 2 + 1, s"site$site"))
    }.toDF("doc_id", "source")
    val pairs = (0L until 40L).map(s => (s * 2, s * 2 + 1))
      .toDF("id_a", "id_b")
    // (pairs, pairs whose two docs land on different sides)
    def leakage(split: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val side = split.select("doc_id", "split")
      val both = pairs
        .join(side.toDF("id_a", "split_a"), "id_a")
        .join(side.toDF("id_b", "split_b"), "id_b")
      (both.count(), both.filter(col("split_a") =!= col("split_b")).count())
    }

    val byGroup = Curation.leakageSafeSplit(docs, "source", valPct = 30)
    val (nPairs, leakedGroup) = leakage(byGroup)
    assert(nPairs == 40L && leakedGroup == 0L,
      s"group split must never straddle a same-site pair, leaked $leakedGroup")

    // both sides non-empty (the hash actually splits)
    val sides = byGroup.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(sides.keySet == Set("train", "val") && sides.values.forall(_ > 0))

    // determinism + salt sensitivity
    val again = Curation.leakageSafeSplit(docs, "source", valPct = 30)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again == byGroup.select("doc_id", "split")
      .as[(Long, String)].collect().toSet)

    // the CONTROL: hashing the doc id splits twins apart
    val byDoc = docs.withColumn("split",
      when(Curation.pctHash(col("doc_id")) < 30, "val").otherwise("train"))
    val (_, leakedDoc) = leakage(byDoc)
    assert(leakedDoc > 0L,
      "doc-level split on this corpus should strand at least one twin pair")
  }

  test("dsirScore ranks target-like raw docs above out-of-domain ones") {
    // Target distribution: alpha/beta prose. Raw pool: half target-like,
    // half from a disjoint vocabulary — DSIR must put the in-domain half
    // above 1 (selected) and the out-of-domain half below.
    val target = (0L until 20L)
      .map(i => (i, "alpha beta alpha gamma beta alpha"))
      .toDF("doc_id", "text")
    val raw = ((100L until 110L).map(i => (i, "alpha beta gamma alpha beta")) ++
      (200L until 210L).map(i => (i, "zeta yota kappa zeta yota kappa")) :+
      ((300L, " "))) // featureless: tokens of blank text filter out
      .toDF("doc_id", "text")

    val out = Curation.dsirScore(target, raw, "doc_id", "text", buckets = 256)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap

    assert(out.size == 21, s"every raw doc scored once, got ${out.size}")
    val inDomain = (100L until 110L).map(out(_))
    val outDomain = (200L until 210L).map(out(_))
    assert(inDomain.forall(_._4), "in-domain raw docs must be selected")
    assert(outDomain.forall(!_._4), "out-of-domain docs must not be selected")
    assert(inDomain.map(_._3).min > outDomain.map(_._3).max,
      "every in-domain score must clear every out-of-domain score")

    // featureless doc: 0 features, score 0, not selected
    assert(out(300L) == ((300L, 0L, 0.0, false)))

    // deterministic replay (no RNG state anywhere)
    val again = Curation.dsirScore(target, raw, "doc_id", "text", buckets = 256)
      .as[(Long, Long, Double, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("ppsSample: uniform weights hit the target count with multiplicity 1; " +
      "a heavy row owns proportionally many points; zero weights never " +
      "selected; deterministic under repartition") {
    val uniform = (1L to 100L).map(i => (i, 5.0)).toDF("id", "w")
    val u = Curation.ppsSample(uniform, "id", "w", n = 10)
      .as[(Long, Double, Long)].collect()
    assert(u.length == 10 && u.forall(_._3 == 1L),
      s"uniform weights: want 10 singleton picks, got ${u.toSeq}")

    // one row carries 60% of the mass -> ~6 of 10 points land on it;
    // total points telescope to floor(W·n/W) which the double boundary
    // can leave at n-1 (documented tail)
    val heavy = ((1L to 40L).map(i => (i, 1.0)) :+ (99L, 60.0))
      .toDF("id", "w")
    val h = Curation.ppsSample(heavy, "id", "w", n = 10)
      .as[(Long, Double, Long)].collect()
    val heavyPick = h.find(_._1 == 99L)
    assert(heavyPick.exists(_._3 >= 5L),
      s"heavy row must own >= 5 of the 10 points, got $heavyPick")
    val totalPoints = h.map(_._3).sum
    assert(totalPoints == 10L || totalPoints == 9L,
      s"points must telescope to n (n-1 at the float boundary), got $totalPoints")

    val withZero = ((1L to 50L).map(i => (i, 2.0)) ++
      Seq((900L, 0.0), (901L, 0.0))).toDF("id", "w")
    val z = Curation.ppsSample(withZero, "id", "w", n = 8)
      .as[(Long, Double, Long)].collect()
    assert(!z.exists(r => r._1 == 900L || r._1 == 901L),
      "zero-weight rows own an empty interval and must never be selected")

    val again = Curation.ppsSample(heavy.repartition(7), "id", "w", n = 10)
      .as[(Long, Double, Long)].collect()
    assert(h.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq,
      "selection must be a pure function of (id, weight), not partitioning")
  }

  test("canonicalUrl: all seven rules, individually and combined; " +
      "dedup keeps the smallest id per canonical form") {
    val cases = Seq(
      // combined: case+port+www+slash+tracking+reorder+fragment
      ("HTTP://WWW.Site.com:80/a/?utm_source=x&b=2&a=1#frag",
        "http://site.com/a?a=1&b=2"),
      ("https://site.com/a?a=1&b=2", "https://site.com/a?a=1&b=2"),
      ("https://site.com:443/", "https://site.com"),
      // port drop is SCHEME-AWARE: non-default ports are different
      // origins and must survive canonicalization
      ("https://site.com:80/x", "https://site.com:80/x"),
      ("http://site.com:443/x", "http://site.com:443/x"),
      ("https://site.com/x//", "https://site.com/x"),
      ("https://site.com/x?ref=tw", "https://site.com/x"),
      ("https://site.com/x?gclid=1&z=9&y=8", "https://site.com/x?y=8&z=9"),
      // path/query case is PRESERVED (significant on most servers)
      ("https://site.com/CaseSig?Q=V", "https://site.com/CaseSig?Q=V"))
    val got = cases.map(_._1).zipWithIndex.map { case (u, i) => (i, u) }
      .toDF("i", "u")
      .select(col("i"), Curation.canonicalUrl(col("u")).as("c"))
      .as[(Int, String)].collect().sortBy(_._1).map(_._2).toSeq
    cases.map(_._2).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(g == want, s"case $i: got $g want $want")
    }
    val dd = Curation.dedupByCanonicalUrl(
      Seq((7L, "https://site.com/a?b=2&a=1"),
        (3L, "HTTPS://WWW.site.com/a/?a=1&b=2#x"),
        (9L, "https://other.com/z"))
        .toDF("id", "url"), "id", "url")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dd == Seq(
      ("https://other.com/z", 9L, 1L),
      ("https://site.com/a?a=1&b=2", 3L, 2L)), s"got $dd")
  }

  test("dedupExactSubstrings keeps the globally FIRST occurrence, cuts " +
      "later cross-doc and within-doc copies, exempts short docs") {
    val docs = Seq(
      (1L, "a b c d e"),         // owns "a b c"/"b c d" first occurrences
      (2L, "x y a b c d z"),     // re-uses them at offsets 2/3
      (3L, "m n o m n o"),       // within-doc repeat of "m n o"
      (4L, "t u"))               // shorter than window: exempt
      .toDF("doc_id", "text")
    val got = Curation.dedupExactSubstrings(
        docs, "doc_id", "text", window = 3, stride = 1)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      // first occurrences survive untouched
      (1L, "a b c d e", 5L, 0L),
      // covered = union of "a b c"@2 and "b c d"@3 -> positions 2..5
      (2L, "x y z", 7L, 4L),
      // "m n o"@3 is rn 2 -> positions 3..5 cut, first copy stays
      (3L, "m n o", 6L, 3L),
      (4L, "t u", 2L, 0L)), s"got $got")
    // keep-first vs the sliding PURGE-ALL variant: boilerplate purge
    // (maxDocs=1) would also erase doc 1's original copy; dedup must not
    val purged = Curation.purgeFrequentSpansSliding(
        docs, "doc_id", "text", window = 3, stride = 1, maxDocs = 1)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(purged.head._2 == "e",
      s"purge-all erases the first copy too (sanity): $purged")
  }
}
