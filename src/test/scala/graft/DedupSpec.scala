package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, TextAnalysis}
import graft.sources.Tables

class DedupSpec extends SparkSpec {

  import spark.implicits._

  test("exactDedup keeps exactly the min-id row per duplicate text") {
    val df = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"),
      (10L, "alpha beta"), (4L, "delta"),
    ).toDF("id", "text")
    val out = Dedup.exactDedup(df, "text", "id")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "alpha beta"), (3L, "gamma"), (4L, "delta")))
  }

  test("jaccard matches hand computation") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 2.0 / 4.0) < 1e-12)
  }

  test("portable minhash-LSH recall >= 0.9 on planted near-duplicates") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val variants = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text",
        concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 2, 100000)))
    val planted = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id")).as[Long].collect().toSet
    val pairs = Dedup.minhashNearDups(
        docs.unionByName(variants), "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val found = planted.count(id => pairs.contains((id, id + 1000000)))
    val recall = found.toDouble / planted.size
    assert(recall >= 0.9, s"recall $recall over ${planted.size} planted pairs")
  }

  test("portable minhash signature matches an independent JVM md5 replay") {
    // Replays the full hash family (md5 words, (h1 + s*h2) mod p, banding)
    // in plain Scala and checks the emitted pair+jaccard agrees — the
    // portable path's arithmetic is verified against something that shares
    // no code with Catalyst or DuckDB.
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingleSet(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").toSeq
      if (toks.size < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    def sig(sh: Set[String]): Seq[Long] = {
      val words = sh.toSeq.map { s =>
        val m = md5Hex(s)
        (java.lang.Long.parseLong(m.substring(0, 8), 16),
          java.lang.Long.parseLong(m.substring(8, 16), 16))
      }
      (0 until 20).map(k =>
        words.map { case (h1, h2) => (h1 + k * h2) % 4294967291L }.min)
    }
    val ta = "spark scans parquet files fast and well today"
    val tb = "spark scans parquet files fast and well"
    val (sa, sb) = (shingleSet(ta), shingleSet(tb))
    val expectJ = (sa & sb).size.toDouble / (sa | sb).size
    val shareBand = (0 until 5).exists(b =>
      sig(sa).slice(b * 4, b * 4 + 4) == sig(sb).slice(b * 4, b * 4 + 4))
    val out = Dedup.minhashNearDups(
        Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
        "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(shareBand, "planted pair must share a band under the JVM replay")
    assert(out.length == 1 && out.head._1 == 1L && out.head._2 == 2L)
    assert(math.abs(out.head._3 - expectJ) < 1e-12)
  }

  test("portable simhash: identical docs collide at hamming 0; disjoint docs don't pair") {
    val docs = Seq(
      (1L, "spark scans parquet files fast and well"),
      (2L, "spark scans parquet files fast and well"),
      (3L, "completely different words entirely here now"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("portable simhash chunk values match an independent JVM md5 replay") {
    // Independent Scala replay of the 4x16-bit chunk construction: for two
    // identical single-doc corpora the emitted hamming must be 0, and a
    // one-token change must move only the bits the replay predicts.
    def chunks(text: String): Seq[Int] = {
      val toks = text.trim.toLowerCase.split("\\s+").distinct.toSeq
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = toks.map(t =>
        md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      (0 until 4).map { j =>
        val cs = hs.map(m => Integer.parseInt(m.substring(j * 4, j * 4 + 4), 16))
        (0 until 16).map { b =>
          val s = cs.map(c => if ((c & (1 << b)) != 0) 1 else -1).sum
          if (s > 0) 1 << b else 0
        }.sum
      }
    }
    val (ta, tb) = ("alpha beta gamma delta", "alpha beta gamma zeta")
    val expected = chunks(ta).zip(chunks(tb))
      .map { case (x, y) => java.lang.Long.bitCount((x ^ y).toLong) }.sum
    val out = Dedup.simhashPairs(
        Seq((1L, ta), (2L, tb)).toDF("doc_id", "text"),
        "doc_id", "text", maxHamming = 64)
      .as[(Long, Long, Int)].collect()
    if (chunks(ta).zip(chunks(tb)).exists { case (x, y) => x == y })
      assert(out.length == 1 && out.head._3 == expected)
    else assert(out.isEmpty) // no shared chunk: blocked, by design
  }

  test("simhash tiling on a planted hot bucket matches the unsalted join") {
    // 40 identical docs collapse into ONE bucket in all 4 bands (planted
    // saturation of the 16-bit chunk keyspace); cap 8 forces 5 salt groups
    // per band. The tiled output must equal the huge-cap (effectively
    // unsalted) run pair-for-pair.
    val hot = (0 until 40).map(i => (i.toLong, "spark scans parquet files fast"))
    val cold = Seq(
      (900L, "totally different content entirely"),
      (901L, "another unrelated text corpus now"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    def run(cap: Int) = Dedup.simhashPairs(
        docs, "doc_id", "text", maxHamming = 3, maxBlock = cap)
      .as[(Long, Long, Int)].collect().sortBy(p => (p._1, p._2)).toSeq
    val tiled = run(8)
    assert(tiled == run(1000000),
      "tiled output must equal the unsalted join exactly")
    assert(tiled.count(p => p._1 < 40L && p._2 < 40L) == 40 * 39 / 2,
      "every planted identical pair emitted exactly once at hamming 0")
    assert(tiled.map(p => (p._1, p._2)).distinct.length == tiled.length,
      "tiling must not duplicate pairs")
  }

  test("adaptive block sizing: uniform data untiled, planted skew tiled, output identical") {
    // uniform: 64 blocks of 8 rows — W = 64·8² = 4096 pair-units; even at
    // parallelism 4 the 256 floor exceeds every block, so S = 1 everywhere
    // (zero replication waste, unlike a static cap below 8)
    val uniformCounts = (0 until 64).map(b => (b.toString, 8L))
      .toDF("__block", "__cnt")
    val effU = Dedup.adaptiveMaxBlockStats(uniformCounts, parallelism = 4).effBlock
    assert(effU >= 8 && effU == 256, s"uniform data must not tile, got $effU")
    // planted skew: a 2M-row hot block — W ≈ 4·10¹²; √(W/32) ≈ 354k hits
    // the 32768 per-task cap, so the hot block tiles into ~62 salt groups
    val skewCounts = Seq(("hot", 2000000L), ("cold", 10L)).toDF("__block", "__cnt")
    val effS = Dedup.adaptiveMaxBlockStats(skewCounts, parallelism = 32).effBlock
    assert(effS == 32768, s"skewed data must tile at the cap, got $effS")
    // end-to-end: the adaptive default must emit exactly the pairs the
    // effectively-unsalted run does
    val docs = ((0 until 60).map(i =>
        (i.toLong, s"the quick fox number $i jumps over dog ${i % 7}")) ++
      Seq((900L, "calm river flows south"), (901L, "calm river flows north")))
      .toDF("doc_id", "text")
    val adaptive = Dedup.blockedJaccard(docs, "doc_id", "text",
        maxBlock = Dedup.AdaptiveBlock)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val plain = Dedup.blockedJaccard(docs, "doc_id", "text", maxBlock = 1000000)
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    assert(adaptive == plain && adaptive.nonEmpty)
  }

  test("blockedJaccard tiling on a planted hot block matches the unsalted join") {
    // 60 docs share the block key "the quick" (a planted Zipf-hot block);
    // cap 8 forces S = ceil(60/8) = 8 salt groups and 36 pair tiles. The
    // tiled join must emit each pair exactly once with the same score as
    // the effectively-unsalted (huge-cap) run.
    val hot = (0 until 60).map(i =>
      (i.toLong, s"the quick fox number $i jumps over dog ${i % 7}"))
    val cold = Seq((900L, "calm river flows south"), (901L, "calm river flows north"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val tiled = Dedup.blockedJaccard(docs, "doc_id", "text", maxBlock = 8)
      .as[(Long, Long, Double)].collect()
    val plain = Dedup.blockedJaccard(docs, "doc_id", "text", maxBlock = 1000000)
      .as[(Long, Long, Double)].collect()
    assert(tiled.length == tiled.map(p => (p._1, p._2)).distinct.length,
      "tiling must not duplicate pairs")
    assert(tiled.sortBy(p => (p._1, p._2)).toSeq == plain.sortBy(p => (p._1, p._2)).toSeq,
      "tiled output must equal the unsalted join exactly")
    assert(tiled.length == 60 * 59 / 2 + 1) // hot-block pairs + the cold pair
  }

  test("embeddingNearDups tiling on a hot label block matches the untiled join") {
    // one label holds 40 vectors (planted skew); cap 8 forces 5 salt
    // groups — output must equal the effectively-untiled run exactly
    val hot = (0 until 40).map { i =>
      val base = Seq(1.0f + (i % 4), 2.0f, 3.0f + (i % 3))
      (i.toLong, 0, if (i % 2 == 0) base else base.map(_ * 2.0f))
    }
    val df = (hot :+ ((900L, 1, Seq(9.0f, 1.0f, 1.0f)))).toDF("vec_id", "label", "embedding")
    def run(cap: Int) = Dedup.embeddingNearDups(
        df, "vec_id", "embedding", "label", 0.999, maxBlock = cap)
      .as[(Long, Long, Int, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val tiled = run(8)
    val plain = run(1000000)
    assert(tiled == plain, s"tiled ${tiled.size} != plain ${plain.size}")
    assert(tiled.nonEmpty, "planted co-directional pairs must be found")
  }

  test("embedding near-dup finds planted co-directional vectors only") {
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 2.0f)),
      (2L, 0, Seq(2.0f, 0.0f, 4.0f)),   // same direction as 1
      (3L, 0, Seq(-1.0f, 5.0f, 0.0f)),  // far from 1 and 2
      (4L, 1, Seq(1.0f, 0.0f, 2.0f)),   // same direction as 1 but other block
    ).toDF("vec_id", "label", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", "label", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("semanticDedup keeps one representative per planted duplicate group") {
    // two duplicate directions (scaled copies = cosine 1) among distinct
    // fillers; nCells exceeds what the data supports? no — keep cells
    // small so same-direction vectors share a cell
    val df = (Seq(
      (1L, Seq(1.0f, 0.0f, 2.0f)),
      (5L, Seq(2.0f, 0.0f, 4.0f)), //  dup of 1
      (9L, Seq(3.0f, 0.0f, 6.0f)), //  dup of 1
      (2L, Seq(0.0f, 7.0f, 0.1f)),
      (6L, Seq(0.0f, 14.0f, 0.2f)), // dup of 2
      (3L, Seq(5.0f, -5.0f, 1.0f)), // singleton
    ) ++ (20L until 40L).map(i =>
      (i, Seq(i.toFloat, (i % 7).toFloat - 3.0f, -i.toFloat))))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(
      df, "vec_id", "embedding", nCells = 2, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(5L) && !kept.contains(9L),
      s"group {1,5,9} must keep exactly its min id: $kept")
    assert(kept.contains(2L) && !kept.contains(6L),
      s"group {2,6} must keep exactly its min id: $kept")
    assert(kept.contains(3L), "singletons survive")
    // deterministic: the same call keeps the same set
    val again = Dedup.semanticDedup(
      df, "vec_id", "embedding", nCells = 2, threshold = 0.999)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == again)

    // a prebuilt index reproduces the one-shot result without re-fitting
    val idx = Dedup.semanticDedupIndex(df, "vec_id", "embedding", nCells = 2)
    val viaIdx = Dedup.semanticDedup(
      df, idx, "vec_id", "embedding", threshold = 0.999, maxBlock = 1000)
      .select("vec_id").as[Long].collect().toSet
    assert(viaIdx == kept)
  }

  test("containment catches engulfed prefixes that Jaccard-LSH misses") {
    // prefix variants: ~30% of each source doc → Jaccard ≈ 0.3 against
    // the source (below any sane near-dup threshold), containment 1.0
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val toks = TextAnalysis.tokens(col("text"))
    val variants = docs.filter(col("doc_id") % 5 === 0 && size(toks) >= 20)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text",
        concat_ws(" ", slice(toks, lit(1), (size(toks) * 3 / 10).cast("int"))))
    val planted = variants.select("doc_id").as[Long].collect().toSet
    assert(planted.nonEmpty)
    val corpus = docs.unionByName(variants)

    // bottomK is the candidate-recall knob: P(source and prefix share no
    // bottom hash) ≈ (1 − |A|/|B|)^k. At k=32 with ratio ~0.3 that is
    // ~1e-5 — every planted pair must surface; at the default k=8 (~6%
    // per-pair miss) recall must still clear 0.8.
    def caughtAt(k: Int): Set[Long] = Dedup.containmentNearDups(
        corpus, "doc_id", "text", threshold = 0.9, bottomK = k)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .collect { case (a, b) if planted.contains(b) && b - 1000000 == a => b }
      .toSet
    assert(caughtAt(32) == planted)
    assert(caughtAt(8).size >= (planted.size * 0.8).toInt)
    // a prefix is a strict shingle subset: score exactly 1.0
    val scores = Dedup.containmentNearDups(corpus, "doc_id", "text", 0.9,
        bottomK = 32)
      .filter(col("id_b") - 1000000 === col("id_a"))
      .select("contencao").as[Double].collect()
    assert(scores.forall(_ >= 0.999))

    // the Jaccard path at the same strictness finds NONE of them
    val byJaccard = Dedup.minhashNearDups(
        corpus, "doc_id", "text", threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val jaccardCaught = byJaccard.collect {
      case (a, b) if planted.contains(b) && b - 1000000 == a => b
    }.toSet
    assert(jaccardCaught.isEmpty)
  }

  test("ingestGate: exact copies and near-dups blocked, fresh docs kept") {
    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    val toks = llm.TextAnalysis.tokens(col("text"))
    val exactCopies = corpus.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"), col("text"))
    val nearDups = corpus.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, 2, 100000)).as("text"))
    val fresh = (0L until 5L).map(i =>
        (2000000L + i, s"frase inedita numero $i sem par no corpus existente"))
      .toDF("doc_id", "text")
    val batch = exactCopies.unionByName(nearDups).unionByName(fresh)
    val got = Dedup.ingestGate(batch, corpus, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id", "exato", "n_quase_dups", "mantido")
      .as[(Long, Boolean, Long, Boolean)].collect()
    graft.llm.CacheScope.releaseAll()
    val byId = got.map(r => r._1 -> r).toMap
    got.filter(_._1 >= 3000000L).foreach { case (id, exato, _, mantido) =>
      assert(exato && !mantido, s"exact copy $id must be blocked")
    }
    // drop-first-token variants keep high Jaccard -> near-dup blocked;
    // LSH banding can miss individual pairs, so require the bulk
    val near = got.filter(r => r._1 >= 1000000L && r._1 < 2000000L)
    val caught = near.count(r => r._3 > 0 && !r._4)
    assert(caught >= (near.length * 0.8).toInt,
      s"only $caught/${near.length} near-dups blocked")
    (0L until 5L).foreach { i =>
      val r = byId(2000000L + i)
      assert(!r._2 && r._3 == 0L && r._4, s"fresh doc ${r._1} must be kept")
    }
  }

  test("dHash56 is resolution-invariant; hammingNearDups finds the " +
      "one-block edit, not unrelated patterns") {
    import graft.llm.Multimodal
    def hashes(rows: Seq[(Long, String, Int)], px: Int): Map[Long, Long] = {
      val src = rows.toDF("doc_id", "seed", "delta")
      val blobbed = Multimodal.encodePatternPng(src, "seed", "delta",
        "payload", px = px)
      Multimodal.decodeBatches(blobbed, "payload",
          kernel = Multimodal.dHash56, decodedSchema = Multimodal.DHashSchema)
        .select("doc_id", "dhash").as[(Long, Long)].collect().toMap
    }
    val base = (1L to 10L).map(i => (i, i.toString, 0))
    val h2 = hashes(base, px = 2)
    // perceptual property: the SAME pattern at 3x resolution hashes
    // identically (dHash is a structure hash, not a byte hash)
    val h3 = hashes(base, px = 3)
    assert(h2 == h3, "dHash must be invariant to resolution")
    // distinct md5 patterns land far apart
    val dists = for (a <- 1L to 10L; b <- a + 1 to 10L)
      yield java.lang.Long.bitCount(h2(a) ^ h2(b))
    assert(dists.min > 4, s"unrelated patterns must be far apart, got $dists")

    // one-block edit: ≤ 2 bits move (the two comparisons block (0,0)
    // touches... it touches only (0,0)-(1,0) in the 7-per-row scheme)
    val withEdit = hashes(base :+ ((101L, "1", 8)), px = 2)
    val pairs = graft.llm.Dedup.hammingNearDups(
      withEdit.toSeq.toDF("doc_id", "dhash"), "doc_id", "dhash", maxDist = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 101L)),
      s"only the planted edit pair is a near-dup, got $pairs")
    assert(pairs.head._3 <= 1L, "a one-block edit moves at most one bit")
  }

  test("estimatedJaccardPairs tracks the exact verify: high-similarity " +
      "pairs survive the sketch at a slack threshold") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 300)
    val toks = llm.TextAnalysis.tokens(col("text"))
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, 2, 100000)).as("text")))
    val exact = Dedup.minhashNearDups(corpus, "doc_id", "text", 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    graft.llm.CacheScope.releaseAll()
    val est = Dedup.estimatedJaccardPairs(corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect()
    graft.llm.CacheScope.releaseAll()
    val estPairs = est.map(e => (e._1, e._2)).toSet
    assert(exact.nonEmpty, "plants must produce exact pairs")
    assert(exact.subsetOf(estPairs),
      s"sketch at 0.5 must not lose exact>=0.7 pairs; missing ${exact -- estPairs}")
    assert(est.forall(e => e._3 >= 0.5 && e._3 <= 1.0))
  }

  test("audioHash56 is tempo-invariant; the re-mastered first segment " +
      "stays a near-dup") {
    import graft.llm.Multimodal
    def hashes(rows: Seq[(Long, String, Int)], segFrames: Int) = {
      val blobbed = Multimodal.encodeWavPattern(
        rows.toDF("doc_id", "seed", "delta"), "seed", "delta", "payload",
        segFrames = segFrames)
      Multimodal.decodeBatches(blobbed, "payload",
          kernel = Multimodal.audioHash56,
          decodedSchema = Multimodal.AudioHashSchema)
        .select("doc_id", "ahash").as[(Long, Long)].collect().toMap
    }
    val base = (1L to 8L).map(i => (i, i.toString, 0))
    val h8 = hashes(base, segFrames = 8)
    // the SAME envelope at 2x duration hashes identically
    assert(h8 == hashes(base, segFrames = 16),
      "envelope hash must be tempo/duration-invariant")
    // distinct envelopes land far apart; the delta edit moves <= 1 bit
    val dists = for (a <- 1L to 8L; b <- a + 1 to 8L)
      yield java.lang.Long.bitCount(h8(a) ^ h8(b))
    assert(dists.min > 4, s"unrelated envelopes must be far apart: $dists")
    val withEdit = hashes(base :+ ((101L, "1", 777)), segFrames = 8)
    assert(java.lang.Long.bitCount(withEdit(1L) ^ withEdit(101L)) <= 1)
  }

  test("frameDHashes + videoNearDups: the per-frame-edited variant wins " +
      "the frame vote; unrelated videos never pair") {
    import graft.llm.Multimodal
    val src = ((1L to 10L).map(i => (i, i.toString, 0)) :+ ((101L, "1", 8)))
      .toDF("doc_id", "seed", "delta")
    val hashed = Multimodal.frameHashesAvi(
      Multimodal.encodeAviPattern(src, "seed", "delta", "payload", nFrames = 4),
      "payload", stride = 1)
      .select("doc_id", "frame_indice", "dhash")
    val pairs = Dedup.videoNearDups(hashed, "doc_id", "frame_indice",
        "dhash", maxDist = 4, minFrames = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 101L, 4L)),
      s"all 4 one-block-edited frames must vote for the planted pair, got $pairs")
    // a stricter vote than the video has frames can never pass
    assert(Dedup.videoNearDups(hashed, "doc_id", "frame_indice", "dhash",
      maxDist = 4, minFrames = 5).isEmpty)
  }

  test("signature index: the persisted audit equals the from-scratch " +
      "estimator and the audit plan reads no text") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 300)
    val toks = llm.TextAnalysis.tokens(col("text"))
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, 2, 100000)).as("text")))
    val fromScratch = Dedup.estimatedJaccardPairs(corpus, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    graft.llm.CacheScope.releaseAll()

    val dir = java.nio.file.Files
      .createTempDirectory("graft-sigindex").toString
    Dedup.writeSignatureIndex(corpus, "doc_id", "text", dir)
    graft.llm.CacheScope.releaseAll()

    val audit = Dedup.estimatedJaccardPairsIndexed(
      Dedup.readSignatureIndex(spark, dir), 0.5)
    val scans = audit.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.toString)
          case _ => Seq(s"non-file relation: ${r.relation}")
        }
    }.flatten
    assert(scans.nonEmpty && scans.forall(_.contains("graft-sigindex")),
      s"the audit must scan ONLY the signature index, got $scans")
    assert(audit.as[(Long, Long, Double)].collect().toSet == fromScratch,
      "persisted audit must replay the from-scratch estimator exactly")
  }

  test("crossModalConsistency: pairs only within exact-text groups, " +
      "image distance splits true duplicates from mismatches") {
    val df = Seq(
      (1L, "same caption", 0x7FL), // vs 2: dist 2 (consistent duplicate)
      (2L, "same caption", 0x7CL),
      (3L, "same caption", 0x0L),  // vs 1: dist 7, vs 2: dist 5 (mismatch)
      (4L, "other caption", 0x7FL), // different text: never paired
    ).toDF("doc_id", "text", "dhash")
    val got = Dedup.crossModalConsistency(df, "doc_id", "text", "dhash", 4)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 2L, 2L, true),
      (1L, 3L, 7L, false),
      (2L, 3L, 5L, false)), s"got $got")
  }

  test("content-defined chunking: chunks reassemble the doc, an inserted " +
      "prefix re-synchronizes, fixed-offset chunking would not") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .filter(col("doc_id") < 120)
    val prefixed = docs
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(lit("prefixo deslocador inserido aqui "), col("text")).as("text"))
    val both = docs.unionByName(prefixed)
    val chunks = Dedup.cdcChunks(both, "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_hash")
      .as[(Long, Long, String, String)].collect()

    // losslessness: chunk texts in order reassemble the token stream
    val reassembled = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> cs.sortBy(_._2).map(_._3).mkString(" ")
    }
    val want = both
      .select(col("doc_id"), concat_ws(" ",
        graft.llm.TextAnalysis.tokens(col("text"))).as("t"))
      .as[(Long, String)].collect().toMap
    assert(reassembled == want, "chunks must reassemble every document")

    // re-synchronization: each prefixed twin shares at least half of the
    // ORIGINAL's chunks by content hash (a fixed-offset chunker shares
    // none once every offset shifts by the prefix length)
    val byDoc = chunks.groupBy(_._1)
      .map { case (id, cs) => id -> cs.map(_._4).toSet }
    val origIds = byDoc.keySet.filter(_ < 1000000)
    assert(origIds.nonEmpty)
    val resync = origIds.count { id =>
      byDoc.get(id + 1000000).exists { twin =>
        val orig = byDoc(id)
        (orig & twin).size * 2 >= orig.size
      }
    }
    assert(resync * 10 >= origIds.size * 8,
      s"only $resync/${origIds.size} twins re-synchronized to >=half shared")

    // determinism under partitioning
    val again = Dedup.cdcChunks(both.repartition(17), "doc_id", "text")
      .select("doc_id", "chunk_idx", "chunk_hash")
      .as[(Long, Long, String)].collect().toSet
    assert(again == chunks.map(c => (c._1, c._2, c._4)).toSet)

    // shared stats mark every twin-covered doc as partially duplicated
    val stats = Dedup.cdcSharedStats(
        Dedup.cdcChunks(both, "doc_id", "text"), "doc_id")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    origIds.foreach { id =>
      val (_, n, shared, frac) = stats(id)
      assert(n >= 1 && shared >= 0 && frac >= 0.0 && frac <= 1.0)
    }
    assert(stats.values.exists(_._3 > 0), "plants must share chunks")
  }

  test("SetJoin.jaccardJoinPrefix: hand pairs with the boundary EXACTLY " +
      "at threshold kept; unrelated docs produce nothing") {
    import graft.llm.SetJoin
    val docs = Seq(
      (1L, "a b c d e f"), // shingles {abc,bcd,cde,def}
      (2L, "a b c d e f"), // identical -> J = 1
      (3L, "a b c d e g"), // inter 3 of union 5 -> J = 0.6 = threshold
      (4L, "x y z w v u")) // disjoint
      .toDF("doc_id", "text")
    val got = SetJoin.jaccardJoinPrefix(docs, "doc_id", "text", 3, 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0), (1L, 3L, 0.6), (2L, 3L, 0.6)),
      s"got $got")
  }

  test("SetJoin.jaccardJoinPrefix: EQUALS the brute-force all-pairs join " +
      "on real docs — the prefix filter provably loses nothing") {
    import graft.llm.SetJoin
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text").filter(col("doc_id") % 11 === 0)
    val variants = base.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(col("text"), lit(" zz9")))
    val docs = base.unionByName(variants)
    val got = SetJoin.jaccardJoinPrefix(docs, "doc_id", "text", 3, 5)
      .as[(Long, Long, Double)].collect().toSet
    // brute force: every pair, no filter of any kind
    val sets = docs.select(col("doc_id"),
      graft.llm.TextAnalysis.shingleSetSorted(
        graft.llm.TextAnalysis.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sets.select(col("doc_id").as("ia"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("ib"), col("sh").as("sb"))
    val inter = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val brute = a.join(b, col("ia") < col("ib"))
      .withColumn("i", inter)
      .withColumn("u", size(col("sa")) + size(col("sb")) - col("i"))
      .filter(lit(5L) * col("i") >= lit(3L) * col("u"))
      .select(col("ia"), col("ib"),
        (col("i").cast("double") / col("u").cast("double")).as("j"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute,
      s"prefix join ${got.size} pairs vs brute ${brute.size}")
    assert(brute.nonEmpty, "planted variants must qualify")
  }
}
