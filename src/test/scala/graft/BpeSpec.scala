package graft

import org.apache.spark.sql.functions._

import graft.llm.Bpe
import graft.sources.Tables

class BpeSpec extends SparkSpec {

  import spark.implicits._

  test("canonical Sennrich corpus learns the textbook merge sequence") {
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).toDF("text")
    val got = Bpe.train(docs, "text", numMerges = 6)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0, "e", "s", 9L), (1, "es", "t", 9L), (2, "est", "</w>", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L), (5, "e", "w", 6L)))
  }

  /** Independent single-node BPE replay over word counts. Mirrors the
    * engine's Unicode semantics exactly: initial symbols are CODE
    * POINTS (a supplementary-plane symbol is ONE symbol, never two
    * surrogate halves — `toCharArray` would split it), and merge-pair
    * ties break in CODE-POINT order — Spark's UTF8String binary
    * ordering — not Java's UTF-16-unit compareTo (the two diverge for
    * supplementary-plane symbols).
    */
  private def replay(
      words: Seq[(String, Long)], numMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    def cps(w: String): Vector[String] =
      w.codePoints().toArray.toVector
        .map(cp => new String(Character.toChars(cp)))
    var vocab: Map[Vector[String], Long] = words
      .map { case (w, n) => (cps(w) :+ Bpe.EndOfWord) -> n }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    def cpLt(a: String, b: String): Boolean = {
      val (ai, bi) = (a.codePoints().toArray, b.codePoints().toArray)
      val n = math.min(ai.length, bi.length)
      var i = 0
      while (i < n) { if (ai(i) != bi(i)) return ai(i) < bi(i); i += 1 }
      ai.length < bi.length
    }
    val want = Seq.newBuilder[(Int, String, String, Long)]
    var stop = false
    for (i <- 0 until numMerges if !stop) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- vocab; j <- 0 until syms.length - 1)
        pairs((syms(j), syms(j + 1))) =
          pairs.getOrElse((syms(j), syms(j + 1)), 0L) + n
      if (pairs.isEmpty) stop = true
      else {
        val ((l, r), f) = pairs.toSeq
          .sortWith { case (((a1, b1), c1), ((a2, b2), c2)) =>
            if (c1 != c2) c1 > c2
            else if (a1 != a2) cpLt(a1, a2)
            else cpLt(b1, b2)
          }.head
        if (f < 2L) stop = true // train's minFreq default
        else {
          want += ((i, l, r, f))
          vocab = vocab.toSeq.map { case (syms, n) =>
            val out = Vector.newBuilder[String]
            var k = 0
            while (k < syms.length) {
              if (k < syms.length - 1 && syms(k) == l && syms(k + 1) == r) {
                out += (l + r); k += 2
              } else { out += syms(k); k += 1 }
            }
            out.result() -> n
          }.groupBy(_._1).map { case (k2, vs) => k2 -> vs.map(_._2).sum }
        }
      }
    }
    want.result()
  }

  test("merge table equals an independent single-node replay on real docs") {
    val docs = Tables.documents(spark, sfDir).select("text")
    val got = Bpe.train(docs, "text", numMerges = 10)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val words = docs.select(explode(
        llm.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toSeq
    assert(got == replay(words, 10))
  }

  test("supplementary-plane symbols: one code point = one symbol, " +
      "engine and replay agree beyond the BMP") {
    // U+1D552 and U+1F600 are outside the BMP: two UTF-16 units each.
    // A UTF-16-unit replay would split them into surrogate halves, and
    // the U+FFEF-vs-U+1D552 tie below is the ORDER-DISCRIMINATING case:
    // UTF-16 unit order says 0xD835 < 0xFFEF (supplementary first),
    // code-point order says 0xFFEF < 0x1D552 (BMP first) - the engine's
    // UTF8String binary ordering is code-point order.
    val sup1 = new String(Character.toChars(0x1D552))
    val sup2 = new String(Character.toChars(0x1F600))
    val bmpHi = new String(Character.toChars(0xFFEF))
    val docs = (Seq.fill(4)(sup1 + "b") ++ Seq.fill(4)(bmpHi + "b") ++
      Seq.fill(3)(sup2 + "b")).toDF("text")
    val got = Bpe.train(docs, "text", numMerges = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val words = docs.select(explode(
        llm.TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toSeq
    assert(got == replay(words, 3), s"got $got vs ${replay(words, 3)}")
    // merge 0 is (b,</w>) at 11; merge 1 ties U+FFEF with U+1D552 at
    // freq 4 and must break toward the BMP symbol (code-point order)
    assert(got(1)._2 == bmpHi,
      s"tie must break in code-point order, got '${got(1)._2}'")
    // and supplementary symbols stay WHOLE code points throughout
    assert(got.forall(m => !m._2.exists(Character.isSurrogate) ||
      m._2.codePointCount(0, m._2.length) < m._2.length),
      s"surrogate halves leaked into symbols: $got")
  }

  test("minFreq stops the loop before degenerate merges") {
    val docs = Seq("a b").toDF("text")
    // every pair occurs once — below the default minFreq of 2
    val got = Bpe.train(docs, "text", numMerges = 5).collect()
    assert(got.isEmpty)
  }
}
