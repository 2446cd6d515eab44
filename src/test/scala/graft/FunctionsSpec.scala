package graft

import org.apache.spark.sql.functions._

import graft.operators.Strings

class FunctionsSpec extends SparkSpec {

  import spark.implicits._

  private val cases =
    Seq("XIV", "IX", "MCMXCIV", "XL", "IIII", "VX", "ABC", "", "I", "MMMM")

  test("native roman_to_int matches the pure-expression form on all cases") {
    val df = cases.toDF("r")
    val native = df.select(Strings.romanToInt(col("r"))).as[String].collect().toSeq
    val pure = df.select(ReferenceForms.romanToIntExpr(col("r"))).as[String].collect().toSeq
    assert(native == pure)
    assert(native == Seq("14", "9", "1994", "40", "IIII", "VX", "ABC", "", "1", "4000"))
  }

  test("native roman_to_int handles null") {
    val out = Seq(Option.empty[String]).toDF("r")
      .select(Strings.romanToInt(col("r"))).as[Option[String]].head()
    assert(out.isEmpty)
  }

  test("roman_to_int is registered for SQL text users") {
    val out = spark.sql("SELECT roman_to_int('MMXXVI')").as[String].head()
    assert(out == "2026")
  }

  test("native vector_dot_decimal is bit-identical to the expression form") {
    // the reference runs Spark's own Cast: ExactDecimalCast would put the
    // kernel's interval test inside the expression form as well
    withRuleExcluded(graft.plans.ExactDecimalCast) {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.limit(7).select(col("embedding").as("b")))
    val out = pairs.select(
      graft.llm.Similarity.dotDecimal(col("a"), col("b")).as("nat"),
      ReferenceForms.dotDecimalExpr(col("a"), col("b")).as("hof"))
    assert(out.schema.map(_.dataType).distinct == Seq(
      org.apache.spark.sql.types.DecimalType(38, 18)))
    assert(out.filter(!(col("nat") <=> col("hof"))).isEmpty,
      "native and expression dot products diverged")
    // Edge semantics (mismatched lengths, NaN, Infinity, null element) must
    // hold in the CODEGEN path too — go through parquet so
    // ConvertToLocalRelation can't fold into interpreted eval.
    val edgeDir = java.nio.file.Files.createTempDirectory("graft-dot-edge").toString
    Seq(
      (1L, Seq(1.0f, 2.0f), Seq(1.0f)),          // length mismatch
      (3L, Seq(1.0e9f, 0f), Seq(1.0e9f, 0f)),    // big but fits decimal(38,18)
      (4L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),    // plain
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(edgeDir)
    val edge = spark.read.parquet(edgeDir)
    val rows = edge.select(col("id"),
      graft.llm.Similarity.dotDecimal(col("a"), col("b")).as("nat"),
      ReferenceForms.dotDecimalExpr(col("a"), col("b")).as("hof"))
      .orderBy("id")
      .as[(Long, Option[java.math.BigDecimal], Option[java.math.BigDecimal])]
      .collect().toSeq
    assert(rows.map(r => (r._1, r._2)) == rows.map(r => (r._1, r._3)),
      s"codegen path diverged from expression form: $rows")
    assert(rows(0)._2.isEmpty, "length mismatch must be null")
    assert(rows(1)._2.exists(_.compareTo(new java.math.BigDecimal("1.0E18")) == 0))
    assert(rows(2)._2.exists(_.compareTo(java.math.BigDecimal.valueOf(11)) == 0))
    // NaN: the native kernel yields null (a poisoned embedding must not
    // kill the job) where the ANSI-mode Cast in the expression form throws.
    val nanDir = java.nio.file.Files.createTempDirectory("graft-dot-nan").toString
    Seq((2L, Seq(Float.NaN, 1.0f), Seq(1.0f, 1.0f)))
      .toDF("id", "a", "b").write.mode("overwrite").parquet(nanDir)
    val nan = spark.read.parquet(nanDir).select(
      graft.llm.Similarity.dotDecimal(col("a"), col("b")))
      .as[Option[java.math.BigDecimal]].head()
    assert(nan.isEmpty, "NaN product must be null, not a crash")
    }
  }

  test("vector_dot_decimal's long fold equals its BigDecimal loop (seeded, driver-only)") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(20261018)
    def value(d: org.apache.spark.sql.types.Decimal) = Option(d).map(_.toJavaBigDecimal)
    def same(a: UnsafeArrayData, b: UnsafeArrayData, fa: Boolean, fb: Boolean): Unit = {
      val fast = value(VectorOps.dotDecimal(a, b, fa, fb))
      val exact = value(VectorOps.dotDecimalExact(a, b, fa, fb))
      def elems(v: UnsafeArrayData, f: Boolean) =
        (0 until v.numElements()).map(i => if (f) v.getFloat(i).toDouble else v.getDouble(i))
      assert(fast == exact, s"fold diverged: $fast vs $exact on ${elems(a, fa)} · ${elems(b, fb)}")
    }
    def doubles(xs: Seq[Double]) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    def floats(xs: Seq[Float]) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    // magnitudes 1e-6 .. 1e3, either sign
    def scaled(): Double =
      math.pow(10, rnd.nextDouble() * 9 - 6) * (if (rnd.nextBoolean()) 1 else -1)
    for (_ <- 0 until 3000) {
      val dim = 1 + rnd.nextInt(96)
      val s = math.pow(10, rnd.nextInt(5) - 3)
      same(floats(Seq.fill(dim)((rnd.nextGaussian() * s).toFloat)),
        floats(Seq.fill(dim)((rnd.nextGaussian() * s).toFloat)), true, true)
      same(doubles(Seq.fill(dim)(scaled())), doubles(Seq.fill(dim)(scaled())), false, false)
      same(floats(Seq.fill(dim)(scaled().toFloat)), doubles(Seq.fill(dim)(scaled())), true, false)
    }
    // products on a power-of-two boundary, just below and above it
    val pow2 = (-70 to 3).flatMap { k =>
      val x = math.pow(2, k)
      Seq(x, Math.nextDown(x), Math.nextUp(x), -x)
    }
    same(doubles(pow2), doubles(pow2.map(_ => 1.0)), false, false)
    for (_ <- 0 until 200) {
      val xs = Seq.fill(64)(pow2(rnd.nextInt(pow2.size)))
      same(doubles(xs), doubles(Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else 0.5)), false, false)
    }
    // HALF_UP ties at scale 18 and at the fold's scale 17
    val ties = Seq(5e-19, 1.5e-18, 2.5e-18, -2.5e-18, 5e-18, 1.5e-17, -2.5e-17, 2.675, 1.005)
    same(doubles(ties), doubles(ties.map(_ => 1.0)), false, false)
    same(doubles(ties.reverse), doubles(ties.map(_ => -1.0)), false, false)
    // subnormal products: operands and results
    val tiny = Seq(Double.MinPositiveValue, 3 * Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Math.nextDown(java.lang.Double.MIN_NORMAL), 1e-160)
    same(doubles(tiny), doubles(Seq(1.0, -1.0, 1.0, 1.0, 1e-160)), false, false)
    same(floats(Seq(Float.MinPositiveValue, 1e-38f)), floats(Seq(1.0f, 1e-3f)), true, true)
    // sums past the 64-bit accumulator: the restart on the BigDecimal loop
    same(doubles(Seq.fill(64)(3.0)), doubles(Seq.fill(64)(3.0)), false, false)
    same(doubles(Seq(9.5, -9.5, 9.0)), doubles(Seq(1.0, 1.0, 1.0)), false, false)
    same(doubles(Seq(1e10, 1.0)), doubles(Seq(1e10, 1.0)), false, false)
    same(doubles(Seq(5.0, 4.0, -8.0)), doubles(Seq(1.0, 1.0, 1.0)), false, false)
    same(doubles(Seq(1e19, 1e19)), doubles(Seq(1e19, 1e19)), false, false) // past DECIMAL(38,18)
    for (_ <- 0 until 300) {
      same(doubles(Seq.fill(32)(rnd.nextGaussian() * 3)),
        doubles(Seq.fill(32)(rnd.nextGaussian() * 3)), false, false)
    }
    // null edges: NaN and infinite products, mismatched lengths
    assert(VectorOps.dotDecimal(doubles(Seq(Double.NaN)), doubles(Seq(1.0)), false, false) == null)
    assert(VectorOps.dotDecimal(doubles(Seq(1e200)), doubles(Seq(1e200)), false, false) == null)
    assert(VectorOps.dotDecimal(doubles(Seq(1.0, 2.0)), doubles(Seq(1.0)), false, false) == null)
  }

  test("native vector_dot_double is bit-identical to the expression form") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(emb.limit(7).select(col("embedding").as("b")))
    val out = pairs.select(
      graft.llm.Similarity.dotDouble(col("a"), col("b")).as("nat"),
      ReferenceForms.dotDoubleExpr(col("a"), col("b")).as("hof"))
    assert(out.filter(!(col("nat") <=> col("hof"))).isEmpty,
      "native and expression double dot products diverged")
    // codegen-path edge semantics via parquet (no local-relation folding)
    val edgeDir = java.nio.file.Files.createTempDirectory("graft-dotd-edge").toString
    Seq(
      (1L, Seq(1.0f, 2.0f), Seq(1.0f)),       // length mismatch -> null
      (2L, Seq(Float.NaN, 1.0f), Seq(1.0f, 1.0f)), // NaN propagates
      (3L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)), // plain
    ).toDF("id", "a", "b").write.mode("overwrite").parquet(edgeDir)
    val rows = spark.read.parquet(edgeDir).select(col("id"),
      graft.llm.Similarity.dotDouble(col("a"), col("b")).as("nat"),
      ReferenceForms.dotDoubleExpr(col("a"), col("b")).as("hof"))
      .orderBy("id")
      .as[(Long, Option[Double], Option[Double])].collect().toSeq
    assert(rows.map(r => (r._1, r._2.map(_.isNaN))) == rows.map(r => (r._1, r._3.map(_.isNaN))))
    assert(rows.filterNot(_._2.exists(_.isNaN)).map(r => (r._1, r._2)) ==
      rows.filterNot(_._3.exists(_.isNaN)).map(r => (r._1, r._3)))
    assert(rows(0)._2.isEmpty, "length mismatch must be null")
    assert(rows(1)._2.exists(_.isNaN), "NaN must propagate like the fold")
    assert(rows(2)._2.contains(11.0))
  }

  test("sorted_intersect_count equals size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.tabulate(200) { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(40)}")
        .distinct.sorted
      (i.toLong, arr(), arr())
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-sic").toString
    rows.toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir).select(
        call_function("sorted_intersect_count", col("a"), col("b")).as("nat"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .filter(!(col("nat") <=> col("ref")))
    assert(out.isEmpty, s"diverged: ${out.collect().toSeq}")
    // empty arrays
    val e = Seq((Seq.empty[String], Seq("x"))).toDF("a", "b")
      .select(call_function("sorted_intersect_count", col("a"), col("b")))
      .as[Long].head()
    assert(e == 0L)
  }

  test("native word_shingles equals sort_array(array_distinct(transform-shingles))") {
    val rnd = new scala.util.Random(7)
    val texts = Seq("", "one", "one two", "a a a a a", "x y z x y z x y") ++
      Seq.tabulate(100)(_ =>
        Seq.fill(rnd.nextInt(25))(s"w${rnd.nextInt(8)}").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft-shingle").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text").write.mode("overwrite").parquet(dir)
    val toks = graft.llm.TextAnalysis.tokens(col("text"))
    val out = spark.read.parquet(dir).select(
        graft.llm.TextAnalysis.shingleSetSorted(toks, 3).as("nat"),
        sort_array(ReferenceForms.shingleSet(toks, 3)).as("ref"))
      .filter(!(col("nat") <=> col("ref")))
    assert(out.isEmpty, s"diverged: ${out.collect().toSeq.take(3)}")
  }

  test("native word_shingles_all keeps multiplicity in document order") {
    val toks = graft.llm.TextAnalysis.tokens(col("text"))
    val got = Seq((1L, "a b a b a"), (2L, "x"), (3L, ""))
      .toDF("id", "text")
      .select(col("id"), call_function("word_shingles_all", toks, lit(2)).as("sh"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Seq("a b", "b a", "a b", "b a")), // duplicates kept, in order
      (2L, Seq.empty),
      (3L, Seq.empty)))
  }

  test("native nfc_normalize composes decomposed sequences; no-op stays identical") {
    val got = Seq((1L, "café"), (2L, "plain"), (3L, null))
      .toDF("id", "s")
      .select(col("id"), call_function("nfc_normalize", col("s")).as("n"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "café"), (2L, "plain"), (3L, null)))
  }

  test("ngramRepetition counts top/dup grams exactly") {
    import spark.implicits._
    // doc 1: "a a a b" -> top token a=3/4, top bigram "a a"=2/3, no dup tri
    // doc 2: "x y x y x y" -> trigrams: "x y x"x2, "y x y"x2 -> dup 4/4
    // doc 3: one token -> bigram/trigram fractions guard to 0
    val docs = Seq((1L, "a a a b"), (2L, "x y x y x y"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.ngramRepetition(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 4L, 3L, 2L, 0L, 0.75, 2.0 / 3, 0.0),
      (2L, 6L, 3L, 3L, 4L, 0.5, 0.6, 1.0),
      (3L, 1L, 1L, 0L, 0L, 1.0, 0.0, 0.0)))
  }

  test("tokenFrequencyScore computes corpus-relative frequencies exactly") {
    import spark.implicits._
    // corpus: "a" appears 4 times, "b" 2, "c" 1
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "b a")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.tokenFrequencyScore(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 10L, 10.0 / 3), // a(4) b(2) a(4)
      (2L, 2L, 1L, 5L, 2.5), // a(4) c(1)
      (3L, 2L, 2L, 6L, 3.0))) // b(2) a(4)
  }

  test("bigramLmScore smooths transitions against corpus counts exactly") {
    import spark.implicits._
    // unigrams: a=3 b=2 z=1 -> V=3; bigrams: "a b"=2, "b a"=1
    // p(b|a) = (2+1)/(3+3) = 0.5; p(a|b) = (1+1)/(2+3) = 0.4
    val docs = Seq((1L, "a b a"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) == Seq((1L, 2L), (2L, 1L), (3L, 0L)))
    assert(math.abs(got(0)._3 - 0.45) < 1e-15, s"doc 1 mean(0.5, 0.4): $got")
    assert(math.abs(got(1)._3 - 0.5) < 1e-15)
    assert(got(2)._3 == 0.0, "no bigrams -> score 0")
  }

  test("bigramLmCrossScore fits on the reference, scores the target, " +
      "unseen grams hit the smoothing floor") {
    import spark.implicits._
    // reference: unigrams a=3 b=2 z=1 -> V=3; bigrams "a b"=2, "b a"=1
    val ref = Seq((1L, "a b a"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val tgt = Seq(
      (10L, "a b"),    // seen bigram: p = (2+1)/(3+3) = 0.5
      (11L, "b z"),    // unseen bigram, seen w1: p = (0+1)/(2+3) = 0.2
      (12L, "q q"),    // fully out-of-vocab: p = (0+1)/(0+3) = 1/3
      (13L, "a"),      // no bigrams -> 0
    ).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .bigramLmCrossScore(ref, tgt, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    graft.llm.CacheScope.releaseAll()
    assert(got.map(r => (r._1, r._2)) ==
      Seq((10L, 1L), (11L, 1L), (12L, 1L), (13L, 0L)))
    assert(math.abs(got(0)._3 - 0.5) < 1e-15)
    assert(math.abs(got(1)._3 - 0.2) < 1e-15)
    assert(math.abs(got(2)._3 - 1.0 / 3.0) < 1e-15)
    assert(got(3)._3 == 0.0)
    // in-domain text outranks out-of-domain under the reference model
    assert(got(0)._3 > got(1)._3)
  }

  test("tagByDictionary matches contiguous phrases, counts multiplicity") {
    import spark.implicits._
    val dict = Seq(("hash join", "joins"), ("join", "joins"), ("scan", "scans"))
      .toDF("frase", "etiqueta")
    val docs = Seq(
      (1L, "hash join beats scan but join hash is no phrase"),
      (2L, "scan scan scan"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis
      .tagByDictionary(docs, dict, "doc_id", "text", maxN = 2)
      .as[(Long, String, Long, Long)].collect().toSet
    // doc 1: 'hash join' (1, contiguous only — 'join hash' must NOT hit)
    // + unigram 'join' ×2 → joins: 3 matches over 2 distinct phrases
    assert(got == Set(
      (1L, "joins", 3L, 2L),
      (1L, "scans", 1L, 1L),
      (2L, "scans", 3L, 1L)))
  }

  test("trainPerceptron equals a single-node replay and separates a " +
      "planted corpus") {
    import spark.implicits._
    val rows = Seq(
      (1L, "good great good fine", 1L), (2L, "great good nice fine", 1L),
      (3L, "bad awful bad poor", -1L), (4L, "awful bad worse poor", -1L),
      (5L, "nice fine great", 1L), (6L, "worse poor awful", -1L))
    val docs = rows.toDF("doc_id", "text", "y")
    val buckets = 256
    val got = graft.llm.TextAnalysis
      .trainPerceptron(docs, "doc_id", "text", "y", buckets, epochs = 3)
      .as[(Long, Long)].collect().toMap

    // single-node replay: same features (unigrams + bigrams, md5
    // bucket), same full-batch integer updates
    def bucket(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    val fc = rows.map { case (id, text, y) =>
      val tk = text.trim.toLowerCase.split("\\s+").toSeq
      val grams = tk ++ tk.sliding(2).filter(_.size == 2).map(_.mkString(" "))
      (id, y, grams.filter(_.nonEmpty).groupBy(bucket).map {
        case (b, gs) => b -> gs.size.toLong
      })
    }
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    for (_ <- 1 to 3) {
      val miss = fc.filter { case (_, y, c) =>
        y * c.map { case (b, n) => n * w(b) }.sum <= 0L
      }
      val grad = miss.flatMap { case (_, y, c) =>
        c.map { case (b, n) => b -> y * n }
      }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sum }
      w = w ++ grad.map { case (b, g) => b -> (w(b) + g) }
    }
    assert(got == w.filter { case _ => true }.toMap,
      s"distributed training must replay the single-node algebra")

    // the fitted model separates the planted train set
    val margins = fc.map { case (id, y, c) =>
      (id, y, c.map { case (b, n) => n * got.getOrElse(b, 0L) }.sum)
    }
    assert(margins.forall { case (_, y, m) => y * m > 0L },
      s"3 epochs must separate the disjoint-vocab corpus, got $margins")
  }

  test("topNgrams returns the exact top-k with lexicographic tie-break") {
    import spark.implicits._
    val docs = Seq((1L, "x y x y x"), (2L, "x y q")).toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.topNgrams(docs, "doc_id", "text", n = 2, k = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("x y", 3L, 2L), ("y x", 2L, 1L)))
    // ties cut deterministically: three grams at count 1, k=2 keeps the
    // lexicographically smallest two
    val tied = Seq((1L, "b c"), (2L, "a b"), (3L, "c a")).toDF("doc_id", "text")
    val cut = graft.llm.TextAnalysis.topNgrams(tied, "doc_id", "text", n = 2, k = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(cut == Seq(("a b", 1L, 1L), ("b c", 1L, 1L)))
  }

  test("graft_top_k_by equals the window row_number form, ties on smaller id") {
    import org.apache.spark.sql.expressions.Window
    val li = graft.sources.Tables.lineitem(spark, sfDir)
      // quantities repeat heavily -> real score ties across every group
      .select(col("l_suppkey"), col("l_quantity"), col("l_orderkey"))
    val got = graft.operators.TopK
      .groupTopK(li, "l_suppkey", "l_quantity", "l_orderkey", k = 5)
      .as[(Long, Int, Long, Double)].collect().toSet
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_quantity").desc, col("l_orderkey"))
    val want = li.withColumn("posicao", row_number().over(w))
      .filter(col("posicao") <= 5)
      .select(col("l_suppkey"), col("posicao"),
        col("l_orderkey"), col("l_quantity").cast("double"))
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("graft_top_k_by survives partial/merge across many partitions") {
    // 1 group, 1000 rows over 8 partitions: merge path must keep the
    // global top-3, not a per-partition artifact. A null-score and a
    // NaN-score row are dropped, not ranked (NaN sorts above every real
    // score).
    val df = spark.range(1000).repartition(8)
      .select(lit(1L).as("g"), (col("id") % 10).cast("double").as("s"), col("id"))
      .unionByName(spark.range(2000, 2002)
        .select(lit(1L).as("g"),
          when(col("id") === 2000L, lit(Double.NaN)).as("s"), col("id")))
    val got = graft.operators.TopK.groupTopK(df, "g", "s", "id", k = 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    // score 9.0 at ids 9, 19, 29 — the three smallest ids at the max score
    assert(got == Set((1L, 1, 9L, 9.0), (1L, 2, 19L, 9.0), (1L, 3, 29L, 9.0)))
  }

  test("native expression stays inside whole-stage codegen") {
    // parquet-backed input so ConvertToLocalRelation can't fold the project
    val df = graft.sources.Tables.nation(spark, sfDir)
      .select(Strings.romanToInt(Strings.intToRoman(col("n_nationkey") + 1)).as("v"))
    val plan = planString(df)
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"expected codegen'd project:\n$plan")
  }

  test("graft_sqdist equals the zip_with/aggregate fold bit-for-bit and " +
      "mirrors its null semantics") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.5f, -3.0f), Seq(0.5, 2.5, 1.0)),
      (Seq(0.1f, 0.2f, 0.3f), Seq(0.30000001, 0.2, 0.1)),
    ).toDF("v", "c")
    val hof = df.select(aggregate(
      zip_with(col("v"), col("c"), (x, y) => {
        val d = x.cast("double") - y; d * d
      }), lit(0.0), (a, x) => a + x)).as[Double].collect().toSeq
    val native = df.select(call_function("graft_sqdist", col("v"), col("c")))
      .as[Double].collect().toSeq
    assert(native == hof, "kernel must replay the fold bit-for-bit")
    // mismatched lengths → null, like zip_with's null padding
    val mm = Seq((Seq(1.0f, 2.0f), Seq(1.0)))
      .toDF("v", "c")
      .select(call_function("graft_sqdist", col("v"), col("c")))
      .as[Option[Double]].head()
    assert(mm.isEmpty, "length mismatch must yield null")
  }

  test("calibrationAudit bins by sign, digit count and leading digit " +
      "with exact rates and mean margins") {
    import spark.implicits._
    val scored = Seq(
      (1L, 250L, 1L), (2L, 290L, -1L), (3L, 30L, 1L),
      (4L, -7L, -1L), (5L, 0L, 1L), (6L, -7000L, -1L),
    ).toDF("doc_id", "margem_milli", "y")
    val got = graft.llm.TextAnalysis
      .calibrationAudit(scored, "margem_milli", "y")
      .as[(Int, Int, Int, Long, Long, Double, Double)].collect().toSet
    val want = Set(
      (1, 3, 2, 2L, 1L, 0.5, 270.0),  // 250, 290
      (1, 2, 3, 1L, 1L, 1.0, 30.0),   // 30
      (-1, 1, 7, 1L, 0L, 0.0, -7.0),  // -7
      (-1, 4, 7, 1L, 0L, 0.0, -7000.0),
      (0, 0, 0, 1L, 1L, 1.0, 0.0))
    assert(got == want, s"got $got")
  }

  test("graft_heavy_hitters: Misra-Gries guarantees — every item above " +
      "N/(k+1) retained, counters never overcount, undercount bounded; " +
      "merged shard summaries keep the same bounds") {
    import spark.implicits._
    import graft.operators.Incremental
    // N = 1200: "hot"×500, "warm"×300, 400 distinct singletons
    // k = 9 -> error bound N/(k+1) = 120
    val words = Seq.fill(500)("hot") ++ Seq.fill(300)("warm") ++
      (1 to 400).map(i => s"rare$i")
    // seven partitions: the aggregate merges seven shard summaries
    val df = words.toDF("w").repartition(7)
    val got = Incremental.heavyHitters(df, "w", k = 9)
      .as[(String, Long)].collect().toMap
    assert(got.size <= 9, s"at most k counters, got ${got.size}")
    assert(got.contains("hot") && got.contains("warm"),
      s"items above N/(k+1) must be retained: $got")
    assert(got("hot") <= 500L && got("hot") >= 500L - 120L,
      s"hot miscounted: ${got("hot")}")
    assert(got("warm") <= 300L && got("warm") >= 300L - 120L,
      s"warm miscounted: ${got("warm")}")
  }

  test("graft_heavy_hitters: a FOLDABLE non-literal k (2+3, a cast) " +
      "works, and k <= 0 fails at ANALYSIS, not on executors") {
    import spark.implicits._
    val df = (Seq.fill(10)("a") ++ Seq.fill(2)("b")).toDF("w")
    // constant-folded arithmetic and casts pass analysis AND execute —
    // the k extraction must eval() the folded expression, not
    // pattern-match Literal only
    val viaExpr = df.selectExpr("graft_heavy_hitters(w, 2 + 3) AS mg")
      .selectExpr("explode(mg) AS e").selectExpr("e.item", "e.contagem")
      .as[(String, Long)].collect().toMap
    assert(viaExpr.contains("a"), s"got $viaExpr")
    val viaCast = df
      .selectExpr("graft_heavy_hitters(w, CAST('5' AS INT)) AS mg")
      .selectExpr("size(mg)").as[Int].head()
    assert(viaCast >= 1)
    // non-positive k: rejected when the plan is analyzed on the driver
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("graft_heavy_hitters(w, 0) AS mg").collect()
    }
    assert(e.getMessage.contains("k > 0"), e.getMessage)
  }

  test("collocations: exact PMI-ratio lift by hand; support cut drops " +
      "rare pairs before the metric") {
    import spark.implicits._
    val docs = Seq(
      (1L, "new york"), (2L, "new york"), (3L, "new haven"), (4L, "old york"))
      .toDF("doc_id", "text")
    // unigrams: new=3 york=3 haven=1 old=1, N=8; bigrams: B=4
    // lift(new york) = (2 * 8^2) / (4 * 3 * 3) = 128/36
    val got = graft.llm.TextAnalysis.collocations(
        docs, "doc_id", "text", minCount = 2L)
      .as[(String, String, Long, Long, Long, Double)].collect().toList
    assert(got == List(("new", "york", 2L, 3L, 3L, 128.0 / 36.0)),
      s"got $got")
  }

  test("textRankKeywords: the co-occurrence hub outranks leaf tokens, " +
      "k bounds the list, self-pairs and empties never form edges") {
    import graft.llm.TextAnalysis.textRankKeywords
    // 'hub' is adjacent to every other token; 'hub hub' adds no edge
    val docs = Seq("hub alfa", "hub beta", "hub gama", "hub hub", " ")
      .toDF("text")
    val got = textRankKeywords(docs, "text", iters = 3, k = 2)
      .as[(String, Double)].collect()
    assert(got.length == 2 && got.head._1 == "hub", s"got ${got.toSeq}")
    assert(got.head._2 > got(1)._2, s"got ${got.toSeq}")
    // leaves tie exactly; the tie-break keeps the lexicographic first
    assert(got(1)._1 == "alfa", s"got ${got.toSeq}")
    graft.llm.CacheScope.releaseAll()
  }

  test("vocabCoverage: token vs type OOV from a hand vocabulary, " +
      "empty docs report zeros with null rate") {
    import graft.llm.TextAnalysis.vocabCoverage
    val docs = Seq(
      (1L, "um dois dois tres"), // tres OOV: 1/4 tokens, 1/3 types
      (2L, "um um um um"),       // fully covered
      (3L, "zz zz yy"),          // fully OOV: 3 tokens, 2 types
      (4L, "  "))                // no tokens at all
      .toDF("doc_id", "text")
    val vocab = Seq("um", "dois", "quatro").toDF("termo")
    val got = vocabCoverage(docs, "doc_id", "text", vocab, "termo")
      .as[(Long, Long, Long, Long, Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 1L, 3L, 1L, Some(0.25))), s"got $got")
    assert(got(2L) == ((2L, 4L, 0L, 1L, 0L, Some(0.0))), s"got $got")
    assert(got(3L) == ((3L, 3L, 3L, 2L, 2L, Some(1.0))), s"got $got")
    assert(got(4L) == ((4L, 0L, 0L, 0L, 0L, None)), s"got $got")
  }

  test("chiSquaredFeatures: hand 2x2 table, absence association " +
      "surfaces, and the integer gate keeps the exact-threshold row") {
    import graft.llm.TextAnalysis.chiSquaredFeatures
    // 4 docs: 'alpha' only in class x (perfect); 'beta' in all (no
    // signal, den=0 → dropped); 'gama' only in class y docs
    val docs = Seq(
      (1L, "alpha beta gap", "x"), (2L, "alpha beta gap", "x"),
      (3L, "beta gama", "y"), (4L, "beta gama", "y"))
      .toDF("doc_id", "text", "classe")
    val got = chiSquaredFeatures(docs, "doc_id", "text", "classe",
        minDf = 1L, threshNum = 4L, threshDen = 1L)
      .as[(String, String, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    // alpha vs x: a=2 b=0 c=0 d=2 → chi2 = 4*(4-0)^2/(2*2*2*2) = 4.0 —
    // exactly the threshold, the integer gate must KEEP it (>=)
    assert(got(("x", "alpha")) == ((2L, 0L, 0L, 2L, 4.0)))
    // alpha vs y is the ABSENCE association: a=0 b=2 c=2 d=0 → 4.0
    assert(got(("y", "alpha")) == ((0L, 2L, 2L, 0L, 4.0)))
    assert(got.contains(("y", "gama")) && got.contains(("x", "gama")))
    // beta is in every doc: dropped by the zero-marginal guard
    assert(!got.keySet.exists(_._2 == "beta"), s"got ${got.keySet}")
  }

  test("naiveBayes fit+apply matches a hand posterior, separates " +
      "disjoint vocab, and prior-only docs take the majority class") {
    import graft.llm.TextAnalysis.{naiveBayesFit, naiveBayesApply}
    val train = Seq(
      (1L, "sim bom otimo", "pos"), (2L, "bom bom legal", "pos"),
      (3L, "ruim pessimo nao", "neg"), (4L, "pos extra doc", "pos"))
      .toDF("doc_id", "text", "classe")
    val model = naiveBayesFit(train, "doc_id", "text", "classe")
    val applied = naiveBayesApply(Seq(
        (10L, "bom bom otimo"), (11L, "ruim pessimo"), (12L, "")).toDF(
        "doc_id", "text"), "doc_id", "text", model)
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(applied(10L)._1 == "pos")
    assert(applied(11L)._1 == "neg")
    // zero tokens → prior-only; pos has 3/4 of train docs
    assert(applied(12L)._1 == "pos")
    assert(math.abs(applied(12L)._2 - math.log(3.0 / 4.0)) < 1e-12)
    // hand posterior for doc 11 under neg: V = 10 distinct train
    // tokens, N_neg = 3, both tokens count 1 → score = ln(1/4)
    // - 2*ln(3+10) + ln(2) + ln(2)
    val hand = math.log(1.0 / 4.0) - 2.0 * math.log(13.0) +
      2.0 * math.log(2.0)
    assert(math.abs(applied(11L)._2 - hand) < 1e-12, s"got ${applied(11L)}")
  }

  test("native jaro_winkler matches DuckDB's independent kernel on " +
      "pinned cases (boost threshold, window, transpositions, edges)") {
    // expected values are DuckDB jaro_winkler_similarity outputs,
    // probed verbatim — the oracle kernel this expression contracts to
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),  // one transposition
      ("dixon", "dicksonx", 0.8133333333333332), // prefix-2 boost
      ("jellyfish", "smellyfish", 0.8962962962962964), // no prefix
      ("duane", "dwayne", 0.8400000000000001),   // prefix-1 boost
      ("aaa", "aaaa", 0.9416666666666667),       // prefix capped by len
      ("ab", "ax", 0.6666666666666666),          // jaro <= 0.7: NO boost
      ("ab", "ba", 0.0),                         // window 0: no matches
      ("abcd", "dcba", 0.5),
      ("crate", "trace", 0.7333333333333334),    // boost region, prefix 0
      ("abc", "abc", 1.0),
      ("", "", 0.0),                             // DuckDB's empty rule
      ("a", "", 0.0))
    val got = pinned.zipWithIndex
      .map { case ((a, b, _), i) => (i.toLong, a, b) }
      .toDF("i", "a", "b")
      .select(col("i"), call_function("jaro_winkler", col("a"), col("b")).as("s"))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2).toSeq
    pinned.map(_._3).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(math.abs(g - want) < 1e-12, s"case $i: got $g want $want")
    }
    // interpreted path (no codegen) agrees with the kernel; null in, null out
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.JaroWinklerOps.similarity(
      UTF8String.fromString("martha"), UTF8String.fromString("marhta"))
      == 0.9611111111111111)
    val n = Seq((1L, "x", null: String)).toDF("i", "a", "b")
      .select(call_function("jaro_winkler", col("a"), col("b")))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("jaro_winkler non-BMP contract: UTF-16 code units, surrogate " +
      "pairs count as two positions (pinned divergence from code-point " +
      "and UTF-8-byte walks)") {
    // U+1D54F / U+1D550 share the high surrogate \uD835: under the
    // contracted UTF-16-unit walk each string is TWO units, position 0
    // matches, so jaro = (1/2 + 1/2 + 1)/3 = 2/3. A code-point walk
    // sees two distinct 1-char strings (window 0, no match -> 0.0);
    // DuckDB's UTF-8 byte walk is a third convention (4-byte sequences
    // sharing 3 bytes). Non-BMP input must NOT expect cross-engine
    // agreement — q202's pipeline normalizes to ASCII before the call.
    val astral = Seq(
      (0L, "𝕏", "𝕐", 2.0 / 3.0),
      // identical astral strings still score exactly 1
      (1L, "𝕏", "𝕏", 1.0),
      // BMP + astral mix: "a𝕏" vs "a𝕐" = 3 units, window 0, units 0,1
      // match in place -> jaro = (2/3+2/3+1)/3 = 7/9; jaro > 0.7 and
      // prefix-2 (unit-wise) boost applies: 7/9 + 2*0.1*(2/9)
      (2L, "a𝕏", "a𝕐",
        7.0 / 9.0 + 2 * 0.1 * (1.0 - 7.0 / 9.0)))
    val got = astral.map(c => (c._1, c._2, c._3)).toDF("i", "a", "b")
      .select(col("i"),
        call_function("jaro_winkler", col("a"), col("b")).as("s"))
      .as[(Long, Double)].collect().sortBy(_._1).map(_._2).toSeq
    astral.map(_._4).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(math.abs(g - want) < 1e-12, s"astral case $i: got $g want $want")
    }
  }

  test("lexicalDiversity: hand entropy/TTR/hapax, empty doc returns " +
      "n=0 with null ratios, blank tokens never count") {
    val docs = Seq(
      (1L, "a a b"),       // n=3 types=2 hapax=1
      (2L, "x x x x"),     // zero entropy, TTR 1/4
      (3L, "   "),         // whitespace-only -> n=0
      (4L, "um dois tres")) // all hapax -> entropy ln(3)
      .toDF("doc_id", "text")
    val got = graft.llm.TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val d1 = got(1L)
    assert((d1._2, d1._3, d1._4) == ((3L, 2L, 1L)))
    assert(math.abs(d1._5.get - 2.0 / 3.0) < 1e-15)
    assert(math.abs(d1._6.get - 1.0 / 3.0) < 1e-15)
    assert(math.abs(d1._7.get -
      (math.log(3.0) - 2.0 * math.log(2.0) / 3.0)) < 1e-12)
    val d2 = got(2L)
    assert((d2._2, d2._3, d2._7.get) == ((4L, 1L,
      math.log(4.0) - 4.0 * math.log(4.0) / 4.0)))
    assert(got(3L) == ((3L, 0L, 0L, 0L, None, None, None)))
    assert(math.abs(got(4L)._7.get - math.log(3.0)) < 1e-12)
  }
}
