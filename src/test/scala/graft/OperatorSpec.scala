package graft

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.ReportCsv
import graft.llm.Multimodal

class OperatorSpec extends SparkSpec {

  import spark.implicits._

  test("romanToInt: strict numerals convert, invalid forms pass through") {
    val df = Seq("XIV", "IX", "MCMXCIV", "IIII", "ABC", "").toDF("r")
    val out = df.select(Strings.romanToInt(col("r"))).as[String].collect().toSeq
    assert(out == Seq("14", "9", "1994", "IIII", "ABC", ""))
  }

  test("parseAaaammdd tolerates blank-padded digit groups, nulls junk") {
    val df = Seq("20260801", "2026 8 1", "ABCDEFGH").toDF("d")
    val out = df.select(Dates.parseAaaammdd(col("d")).cast("string"))
      .as[String].collect().toSeq
    assert(out == Seq("2026-08-01 00:00:00", "2026-08-01 00:00:00", null))
  }

  test("null rules: empty / all-zero / all-nine / sentinel") {
    val df = Seq(("", "000", "9999", "999")).toDF("a", "b", "c", "d")
    val out = df.select(
      NullRules.emptyToNull(col("a")), NullRules.allZerosToNull(col("b")),
      NullRules.allNinesToNull(col("c")), NullRules.sentinelToNull(col("d"), "999"))
      .as[(Option[String], Option[String], Option[String], Option[String])].head()
    assert(out == (None, None, None, None))
  }

  test("decimal-comma report numerals parse exactly") {
    val df = Seq("1.234.567,89", "0,50", "12", "1.000").toDF("v")
    val out = df.select(ReportCsv.parseDecimalComma(col("v"))).as[Double].collect().toSeq
    assert(out == Seq(1234567.89, 0.5, 12.0, 1000.0))
  }

  test("upsert: incoming wins on key, non-conflicting target survives") {
    val target = Seq((1L, "old"), (2L, "keep")).toDF("k", "v")
    val incoming = Seq((1L, "new"), (3L, "ins")).toDF("k", "v")
    val out = Upsert.upsertBloomPruned(target, incoming, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "new"), (2L, "keep"), (3L, "ins")))
  }

  test("trimColumnNames strips header whitespace and keeps every cell") {
    val df = Seq((1, "x", 2.5)).toDF(" cod_mun ", "uf\t", "valor")
    val out = Renames.trimColumnNames(df)
    assert(out.columns.toSeq == Seq("cod_mun", "uf", "valor"))
    assert(out.as[(Int, String, Double)].collect().toSeq == Seq((1, "x", 2.5)))
  }

  test("staleness predicate: null or older consumed timestamp needs refresh") {
    val df = Seq(
      (1L, "2026-01-02 00:00:00", "2026-01-01 00:00:00"), // stale
      (2L, "2026-01-02 00:00:00", null),                  // never consumed
      (3L, "2026-01-02 00:00:00", "2026-01-03 00:00:00"), // fresh
    ).toDF("id", "p", "c")
      .select(col("id"), col("p").cast("timestamp").as("p"), col("c").cast("timestamp").as("c"))
    val out = Incremental.needsRefresh(df, "p", "c").select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L))
  }

  test("melt keeps empty cells as zero and parses PT competences") {
    val wide = Seq((1L, Some(5L), None: Option[Long])).toDF("id", "JAN/2026", "DEZ/2025")
    val long = graft.sources.ReportCsv.meltReport(
      wide, Seq("id"), Seq("JAN/2026", "DEZ/2025"), "competencia", "qtd")
      .withColumn("inicio",
        graft.sources.ReportCsv.parsePtCompetencia(col("competencia")).cast("string"))
    val out = long.select("competencia", "qtd", "inicio")
      .as[(String, Int, String)].collect().toSet
    assert(out == Set(("JAN/2026", 5, "2026-01-01"), ("DEZ/2025", 0, "2025-12-01")))
  }

  test("salted join equals the plain join and spreads the hot key") {
    val fact = graft.sources.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_linenumber", "l_quantity")
    val dim = graft.sources.Tables.supplier(spark, sfDir)
      .select("s_suppkey", "s_name")
    val plain = fact.join(dim, fact("l_suppkey") === dim("s_suppkey"))
      .drop("s_suppkey").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(
      fact.withColumnRenamed("l_suppkey", "s_suppkey"), dim, "s_suppkey",
      Seq("l_orderkey", "l_linenumber"), salt = 8)
    val saltedRows = salted
      .select("l_orderkey", "s_suppkey", "l_linenumber", "l_quantity", "s_name")
    val plainRows = fact.join(dim, fact("l_suppkey") === dim("s_suppkey"))
      .select(fact("l_orderkey"), dim("s_suppkey"), fact("l_linenumber"),
        fact("l_quantity"), dim("s_name"))
    assert(saltedRows.collect().map(_.toSeq).toSet ==
      plainRows.collect().map(_.toSeq).toSet)
    assert(!salted.columns.contains("__graft_salt"))
  }

  test("multimodal decode harness appends the decoded schema deterministically") {
    val df = Multimodal.withBlob(
      Seq((1L, "some payload"), (2L, "other payload")).toDF("id", "text"),
      "text", "payload")
    val decoded = Multimodal.decodeBatches(df, "payload", batchSize = 1)
    assert(decoded.columns.toSeq ==
      Seq("id", "text", "payload", "alt_px", "larg_px", "canais", "recursos"))
    val twice = Multimodal.decodeBatches(df, "payload", batchSize = 64)
    assert(decoded.drop("payload").collect().map(_.toSeq).toSet ==
      twice.drop("payload").collect().map(_.toSeq).toSet)
    // injectable kernel: swap the stub for a constant decoder
    val fixed = Multimodal.decodeBatches(df, "payload",
      kernel = _.map(_ => org.apache.spark.sql.Row(1, 2, 3, Array(0.5f))))
    assert(fixed.select("alt_px").as[Int].collect().toSeq == Seq(1, 1))
    // batch shape is real: one kernel call sees the whole partition batch
    val batchSizes = Multimodal.decodeBatches(
        df.coalesce(1), "payload", batchSize = 64,
        kernel = b => b.map(_ => org.apache.spark.sql.Row(b.length, 0, 0, Array.empty[Float])))
      .select("alt_px").as[Int].collect().toSeq
    assert(batchSizes == Seq(2, 2), s"kernel saw $batchSizes")
  }

  test("listing parse extracts fields from LIST lines; malformed lines go empty") {
    val df = Seq(
      "03-17-24 09:15AM 123456 PASP2403.dbc",
      "03-17-24  09:15AM    77 name with spaces.dbc",
      "total 42",          // malformed: no date
      "",                  // malformed: empty
    ).toDF("linha")
    val out = graft.sources.Listing.parseLines(df, "linha")
      .select("data_modificacao", "hora", "tamanho", "nome_completo")
      .as[(String, String, Option[Long], String)].collect().toSeq
    assert(out(0) == (("03-17-24", "09:15AM", Some(123456L), "PASP2403.dbc")))
    assert(out(1) == (("03-17-24", "09:15AM", Some(77L), "name with spaces.dbc")))
    assert(out(2) == (("", "", None, "")) && out(3) == (("", "", None, "")))
  }

  test("decodeImage reads hand-built PNG and BMP payloads exactly") {
    // Hand-built 3x2 image with per-pixel distinct colors: the kernel must
    // report true dimensions, 3 RGB components, and the exact channel means.
    import java.awt.image.BufferedImage
    val img = new BufferedImage(3, 2, BufferedImage.TYPE_INT_RGB)
    val px = Seq(
      (0, 0, 10, 20, 30), (1, 0, 40, 50, 60), (2, 0, 70, 80, 90),
      (0, 1, 100, 110, 120), (1, 1, 130, 140, 150), (2, 1, 160, 170, 180))
    px.foreach { case (x, y, r, g, b) => img.setRGB(x, y, (r << 16) | (g << 8) | b) }
    def bytes(fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val meanR = px.map(_._3).sum / 6.0f
    val meanG = px.map(_._4).sum / 6.0f
    val meanB = px.map(_._5).sum / 6.0f
    for (fmt <- Seq("png", "bmp")) {
      val row = Multimodal.decodeImage(Seq(bytes(fmt))).head
      assert(row.getInt(0) == 2 && row.getInt(1) == 3 && row.getInt(2) == 3, s"$fmt: $row")
      val feats = row.get(3).asInstanceOf[Array[Float]]
      assert(feats.take(3).toSeq == Seq(meanR, meanG, meanB), s"$fmt: ${feats.toSeq}")
    }
    // corrupt payloads fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeImage(Seq(Array[Byte](1, 2, 3)))
    }
  }

  test("encodePng -> decodeImage round-trips dimensions and solid color through Spark") {
    val src = Seq((1L, 5, 3, 200, 100, 50), (2L, 1, 1, 0, 255, 7))
      .toDF("id", "larg", "alt", "r", "g", "b")
    val out = Multimodal.decodeBatches(
        Multimodal.encodePng(src, "larg", "alt", "r", "g", "b", "payload"),
        "payload", kernel = Multimodal.decodeImage)
      .select("id", "alt_px", "larg_px", "canais", "recursos")
      .as[(Long, Int, Int, Int, Array[Float])].collect().sortBy(_._1)
    assert(out(0)._2 == 3 && out(0)._3 == 5 && out(0)._4 == 3)
    assert(out(0)._5.take(3).toSeq == Seq(200f, 100f, 50f))
    assert(out(1)._2 == 1 && out(1)._3 == 1 && out(1)._5.take(3).toSeq == Seq(0f, 255f, 7f))
  }

  test("decodeWav reads a hand-built RIFF/PCM payload exactly") {
    // Assembled byte-by-byte (with a junk chunk before fmt , odd-sized to
    // exercise word-aligned skipping) so the PARSER is tested against the
    // format, not against our own encoder.
    val bb = java.nio.ByteBuffer.allocate(200).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(0).put("WAVE".getBytes("US-ASCII"))
    bb.put("junk".getBytes("US-ASCII")).putInt(3).put(Array[Byte](9, 9, 9, 0)) // pad
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(44100).putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(12) // 6 samples = 3 stereo frames
    Seq(1000, -1000, 32767, -32768, 0, 5).foreach(v => bb.putShort(v.toShort))
    val row = Multimodal.decodeWav(Seq(java.util.Arrays.copyOf(bb.array(), bb.position()))).head
    assert(row.getInt(0) == 44100 && row.getInt(1) == 2 && row.getInt(2) == 16)
    assert(row.getLong(3) == 3) // frames, not samples
    assert(row.getInt(4) == 32768) // |−32768|
    assert(row.getDouble(5) == (1000 + 1000 + 32767 + 32768 + 0 + 5) / 6.0)
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(Seq("notaRIFFfileatall_padding_padding_padding_pad".getBytes))
    }
  }

  test("decodeWav handles 8-bit unsigned PCM") {
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(0).put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    bb.put("data".getBytes("US-ASCII")).putInt(4)
    Seq(128, 0, 255, 178).foreach(v => bb.put(v.toByte)) // centered at 128
    val row = Multimodal.decodeWav(Seq(java.util.Arrays.copyOf(bb.array(), bb.position()))).head
    assert(row.getInt(0) == 8000 && row.getInt(1) == 1 && row.getInt(2) == 8)
    assert(row.getLong(3) == 4 && row.getInt(4) == 128)
    assert(row.getDouble(5) == (0 + 128 + 127 + 50) / 4.0)
  }

  test("decodeAviFrames walks a hand-built RIFF-AVI and decodes sampled frames") {
    // Assembled byte-by-byte — 2x1 px, 3 frames, row padding (3*2=6 -> 8
    // bytes/row), an extra junk chunk inside movi — so the PARSER is
    // tested against the format, not against our own encoder.
    val bb = java.nio.ByteBuffer.allocate(512).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = { bb.put(s.getBytes("US-ASCII")); () }
    cc("RIFF"); bb.putInt(0); cc("AVI ")
    cc("LIST"); bb.putInt(4 + 8 + 56); cc("hdrl")
    cc("avih"); bb.putInt(56)
    bb.putInt(40000).putInt(0).putInt(0).putInt(0).putInt(3).putInt(0)
      .putInt(1).putInt(0).putInt(2).putInt(1) // width=2 height=1
      .putInt(0).putInt(0).putInt(0).putInt(0)
    val frameSize = 8 // one padded row
    cc("LIST"); bb.putInt(4 + 8 + 3 + 1 + 3 * (8 + frameSize)); cc("movi")
    cc("junk"); bb.putInt(3); bb.put(Array[Byte](1, 2, 3, 0)) // odd size + pad
    // frames: BGR px0, BGR px1, 2 pad bytes
    Seq((10, 20, 30), (40, 50, 60), (70, 80, 90)).foreach { case (b, g, r) =>
      cc("00db"); bb.putInt(frameSize)
      bb.put(b.toByte).put(g.toByte).put(r.toByte)
      bb.put((b + 2).toByte).put((g + 2).toByte).put((r + 2).toByte)
      bb.put(0.toByte).put(0.toByte)
    }
    val payload = java.util.Arrays.copyOf(bb.array(), bb.position())
    val got = Multimodal.decodeAviFrames(2)(payload)
    assert(got.map(_.getInt(0)) == Seq(0, 2)) // stride 2 of 3 frames
    val f0 = got.head
    assert(f0.getInt(1) == 1 && f0.getInt(2) == 2) // h, w
    assert(f0.getDouble(3) == 31.0 && f0.getDouble(4) == 21.0 && f0.getDouble(5) == 11.0)
    intercept[IllegalArgumentException] {
      Multimodal.decodeAviFrames(1)("RIFFxxxxWAVEnot_an_avi_container".getBytes)
    }
  }

  test("encodeAvi -> sampleFramesAvi round-trips frame-shifted colors through Spark") {
    val src = Seq((1L, 3, 2, 5, 250, 10, 100)) // 5 frames: sampled 0,2,4
      .toDF("id", "larg", "alt", "quadros", "r", "g", "b")
    val out = Multimodal.sampleFramesAvi(
        Multimodal.encodeAvi(src, "larg", "alt", "quadros", "r", "g", "b", "payload"),
        "payload", stride = 2)
      .select("id", "frame_indice", "alt_px", "larg_px", "media_r", "media_g", "media_b")
      .as[(Long, Int, Int, Int, Double, Double, Double)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == Seq(0, 2, 4))
    assert(out.forall(r => r._3 == 2 && r._4 == 3))
    // color shifts by frame index, mod 256 (250 + 4 wraps to 254... not yet;
    // wraps only past 255 — fourth sampled value 250+6 would)
    assert(out.map(r => (r._5, r._6, r._7)).toSeq ==
      Seq((250.0, 10.0, 100.0), (252.0, 12.0, 102.0), (254.0, 14.0, 104.0)))
  }

  test("encodeAviMjpeg -> sampleFramesAvi really decodes JPEG frames") {
    // dimensions are exact through JPEG; solid-color means are near the
    // encoded color (DC-only blocks — small quantization shift allowed)
    val src = Seq((1L, 4, 3, 5, 180, 60, 200))
      .toDF("id", "larg", "alt", "quadros", "r", "g", "b")
    val out = Multimodal.sampleFramesAvi(
        Multimodal.encodeAviMjpeg(src, "larg", "alt", "quadros", "r", "g", "b", "payload"),
        "payload", stride = 2)
      .select("id", "frame_indice", "alt_px", "larg_px", "media_r", "media_g", "media_b")
      .as[(Long, Int, Int, Int, Double, Double, Double)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == Seq(0, 2, 4))
    assert(out.forall(r => r._3 == 3 && r._4 == 4))
    out.foreach { r =>
      val f = r._2
      assert(math.abs(r._5 - (180 + f)) <= 8, s"media_r off for frame $f: ${r._5}")
      assert(math.abs(r._6 - (60 + f)) <= 8, s"media_g off for frame $f: ${r._6}")
      assert(math.abs(r._7 - (200 + f)) <= 8, s"media_b off for frame $f: ${r._7}")
    }
  }

  test("encodeWav -> decodeWav round-trips the square wave through Spark") {
    val src = Seq((1L, 16000, 120, 1, 9000, 3), (2L, 8000, 75, 2, 1, 1))
      .toDF("id", "taxa", "quadros", "can", "amp", "meio")
    val out = Multimodal.decodeBatches(
        Multimodal.encodeWav(src, "taxa", "quadros", "can", "amp", "meio", "payload"),
        "payload", kernel = Multimodal.decodeWav,
        decodedSchema = Multimodal.DecodedAudioSchema)
      .select("id", "taxa_hz", "canais", "bits", "n_amostras", "pico", "media_abs")
      .as[(Long, Int, Int, Int, Long, Int, Double)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 16000, 1, 16, 120L, 9000, 9000.0)))
    assert(out(1) == ((2L, 8000, 2, 16, 75L, 1, 1.0)))
  }

  test("asOfJoin attaches the latest at-or-before dim row per key") {
    import graft.operators.AsOf
    val dim = Seq(
      (1L, 10L, "v10"), (1L, 20L, "v20"),
      (2L, 15L, "w15")).toDF("k", "t", "payload")
    val fact = Seq(
      (100L, 1L, 5L),   // before any dim row -> null
      (101L, 1L, 10L),  // exactly at a dim ts -> inclusive match
      (102L, 1L, 19L),  // between -> earlier row
      (103L, 1L, 25L),  // after both -> latest
      (104L, 2L, 99L),  // other key sees only its own dim
      (105L, 3L, 50L))  // key with no dim rows at all
      .toDF("id", "k", "t")
    val got = AsOf.asOfJoin(fact, dim, "k", "t", Seq("payload"))
      .select("id", "asof_t", "asof_payload")
      .as[(Long, Option[Long], Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (100L, None, None),
      (101L, Some(10L), Some("v10")),
      (102L, Some(10L), Some("v10")),
      (103L, Some(20L), Some("v20")),
      (104L, Some(15L), Some("w15")),
      (105L, None, None)))
  }

  test("RIFF walkers fail loudly on corrupt (high-bit) chunk sizes instead of looping") {
    // hand-build a RIFF/WAVE whose first chunk declares size 0xFFFFFFF0:
    // as a signed Int that is negative and, unguarded, stops the chunk
    // walk advancing — the decoder must throw, not hang
    val p = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    p.put("RIFF".getBytes("US-ASCII")).putInt(56).put("WAVE".getBytes("US-ASCII"))
    p.put("fmt ".getBytes("US-ASCII")).putInt(0xFFFFFFF0)
    val wav = p.array()
    val e = intercept[IllegalArgumentException] {
      graft.llm.Multimodal.decodeWav(Seq(wav))
    }
    assert(e.getMessage.contains("corrupt RIFF chunk size"))
    val avi = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avi.put("RIFF".getBytes("US-ASCII")).putInt(56).put("AVI ".getBytes("US-ASCII"))
    avi.put("avih".getBytes("US-ASCII")).putInt(0xFFFFFFF0)
    val e2 = intercept[IllegalArgumentException] {
      graft.llm.Multimodal.decodeAviFrames(1)(avi.array())
    }
    assert(e2.getMessage.contains("corrupt RIFF chunk size"))
  }

  test("HtmlForm extracts ViewState in either attribute order and explodes options") {
    import graft.sources.HtmlForm
    val pages = Seq(
      (1L, """<form><input id="javax.faces.ViewState" value="abc"/>""" +
        """<select id="uf"><option value="12">AC</option>""" +
        """<option value="27">AL</option></select></form>"""),
      (2L, """<form><input value="xyz" id="javax.faces.ViewState"/>""" + // value first
        """<select id="uf"></select></form>"""), // empty select -> no rows
      (3L, """<form>no state, no select</form>"""),
      // real pretty-printed pages: multi-line tags, extra attributes, id
      // not the first attribute — the regexes must stay tolerant
      (4L, "<form>\n  <input type=\"hidden\"\n    id=\"javax.faces.ViewState\"\n" +
        "    value=\"mlv\"/>\n  <select class=\"s\" id=\"uf\" size=\"1\">\n" +
        "    <option class=\"o\" value=\"35\">SP</option>\n  </select>\n</form>"))
      .toDF("id", "html")
    val vs = pages.withColumn("vs", HtmlForm.viewState(col("html")))
      .select("id", "vs").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(vs == Seq((1L, "abc"), (2L, "xyz"), (3L, ""), (4L, "mlv")))
    val opts = HtmlForm.selectOptions(pages, "html", "uf")
      .select("id", "opcao_codigo", "opcao_descricao")
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(opts == Seq((1L, "12", "AC"), (1L, "27", "AL"), (4L, "35", "SP")))
  }

  test("readDelimited ingests the report dialect (ISO-8859-1, semicolons)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toFile
    val f = new java.io.File(dir, "report.csv")
    val w = new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), "ISO-8859-1")
    w.write("Ibge;Municipio;valor\n120020;Cruzeiro do Sul;1.234,56\n")
    w.write("355030;São Paulo;7,00\n")
    w.close()
    val df = graft.sources.ReportCsv.readDelimited(spark, f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("Ibge", "Municipio", "valor"))
    val out = df
      .withColumn("v", graft.sources.ReportCsv.parseDecimalComma(col("valor")))
      .select("Municipio", "v").as[(String, Double)].collect().toSet
    assert(out == Set(("Cruzeiro do Sul", 1234.56), ("São Paulo", 7.0)))
  }

  test("deleteConflicts drops exactly the tagged rows") {
    val target = Seq((1L, "A"), (2L, "B"), (3L, null: String)).toDF("k", "tag")
    val kept = Upsert.deleteConflicts(target, "tag", lit("A"))
      .select("k").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    val keptNull = Upsert.deleteConflicts(target, "tag", lit(null).cast("string"))
      .select("k").as[Long].collect().toSet
    assert(keptNull == Set(1L, 2L))
  }

  test("surrogateId distinguishes null-shifted and separator-bearing keys") {
    val df = Seq(
      (Option("a"), Option.empty[String], Option("b")),
      (Option("a"), Option("b"), Option.empty[String]),
      (Option("a|b"), Option.empty[String], Option.empty[String]),
      (Option("a\\"), Option("b|c"), Option.empty[String]),
      (Option("a|b\\"), Option("c"), Option.empty[String]),
    ).toDF("x", "y", "z")
    val ids = df.select(Ids.surrogateId(Seq(col("x"), col("y"), col("z"))))
      .as[String].collect().toSeq
    assert(ids.distinct.length == 5, s"collision: $ids")
  }

  test("mergeAggregate equals the full recompute, including null-key groups") {
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(
        count(lit(1L)).as("n"),
        sum(col("v").cast("decimal(28,6)")).cast("decimal(28,6)").as("total"))
    val base = Seq(Option(1L) -> 4.0, Option(1L) -> 6.0, (None: Option[Long]) -> 5.0)
      .toDF("k", "v")
    val delta = Seq(Option(1L) -> 1.0, (None: Option[Long]) -> 2.0, Option(2L) -> 3.0)
      .toDF("k", "v")
    val merged = Incremental.mergeAggregate(
      agg(base), delta.withColumnRenamed("v", "total"),
      Seq("k"), "n", Map("total" -> "decimal(28,6)"))
    val full = agg(base.unionByName(delta))
    assert(merged.collect().map(_.toSeq).toSet == full.collect().map(_.toSeq).toSet,
      "folded view must equal from-scratch aggregate (null keys must merge, not duplicate)")
  }

  test("mergeDistinctSketch folds a delta to the recomputed sketch state, bounded error") {
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 =!= 0)
    val mat = Incremental.distinctSketch(a, Seq("lang"), "doc_id")
    def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("lang"),
          Incremental.sketchEstimate(col("distinct_sketch")).cast("long").as("est"))
        .as[(String, Long)].collect().toMap
    val merged = estimates(Incremental.mergeDistinctSketch(mat, b, Seq("lang"), "doc_id"))
    // register-max merging is associative: folding the delta in reaches the
    // same estimates as sketching everything from scratch
    val full = estimates(Incremental.distinctSketch(docs, Seq("lang"), "doc_id"))
    assert(merged == full, s"merged $merged != recomputed $full")
    // and the estimates track the exact distinct counts within HLL error
    val exact = docs.groupBy("lang").agg(count_distinct(col("doc_id")).as("n"))
      .as[(String, Long)].collect().toMap
    assert(exact.keySet == merged.keySet)
    exact.foreach { case (lang, n) =>
      assert(math.abs(merged(lang) - n) <= math.max(2L, (n * 0.05).toLong),
        s"$lang: estimate ${merged(lang)} vs exact $n")
    }
    // a group only the delta has must arrive through the anti-join path
    val withNew = Incremental.mergeDistinctSketch(
      mat, b.withColumn("lang", lit("zz")), Seq("lang"), "doc_id")
    assert(withNew.filter(col("lang") === "zz").count() == 1)
  }

  test("compaction rewrites into nFiles disjoint-range files, content intact") {
    import graft.sources.{Staging, Tables}
    val root = s"${GraftSession.scratchRoot}/graft-compact-spec"
    val frag = Staging.stageRoundtrip(
      spark, Tables.documents(spark, sfDir).repartition(16), s"$root/frag")
    val out = Staging.compact(spark, frag, "doc_id", 3, s"$root/out")
    assert(out.count() == frag.count())
    val files = new java.io.File(s"$root/out").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3, s"expected 3 compacted files, got ${files.length}")
    // range clustering: per-file doc_id ranges must not overlap — that is
    // what lets a key-filtered read skip whole files on min/max stats
    val ranges = files.toSeq.map { f =>
      val r = spark.read.parquet(f.getPath)
        .agg(min(col("doc_id")), max(col("doc_id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $ranges")
      case _ =>
    }
  }

  test("zorder interleave is the exact Morton curve on a known grid") {
    import graft.operators.Layout
    // 4-bit 2-d Morton values of a few hand-computed points
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (15L, 15L))
      .toDF("x", "y")
    val got = df.select(Layout.interleaveBits(Seq(col("x"), col("y")), 4))
      .as[Long].collect().toSeq
    // bit i of x -> position 2i, bit i of y -> position 2i+1
    assert(got == Seq(0L, 1L, 2L, 3L, 14L, 255L))
  }

  test("zorderCompact: curve clustering + per-key bloom manifests in one call") {
    import graft.operators.Layout
    val root = s"${GraftSession.scratchRoot}/graft-zorder-compact"
    // uniform 64x64 grid: every (x, y) cell once → 16 files of one
    // 16x16 curve box each
    val grid = spark.range(64L * 64L).select(
      (col("id") / 64).cast("long").as("x"), (col("id") % 64).as("y"))
    val out = Layout.zorderCompact(spark, grid, Seq("x", "y"), 16, root)
    assert(out.count() == 4096)
    val totalFiles = new java.io.File(root).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(totalFiles == 16)
    // the manifest carries one bloom AND one bounding box per clustering
    // key, all from ONE pass
    val mf = spark.read.parquet(s"$root/_graft_manifest")
    assert(mf.columns.toSet == Set("arquivo", "linhas", "bloom_x", "bloom_y",
      "mn_x", "mx_x", "mn_y", "mx_y"))
    assert(mf.agg(sum("linhas")).head().getLong(0) == 4096)
    // combined range+point pruning from one manifest read: the
    // intersection reads no more files than either predicate alone, and
    // the result matches the full scan under the real predicate
    val combo = Layout.manifestPrunedRead(spark, root,
      ranges = Map("x" -> (0L, 15L)), points = Map("y" -> Seq(7L)))
    val comboFiles = combo.select(input_file_name()).distinct().count()
    val rangeOnly = Layout.manifestPrunedRead(spark, root, ranges = Map("x" -> (0L, 15L)))
      .select(input_file_name()).distinct().count()
    val pointOnly = Layout.bloomPrunedRead(spark, root, "y", Seq(7L))
      .select(input_file_name()).distinct().count()
    assert(comboFiles <= math.min(rangeOnly, pointOnly) && comboFiles < totalFiles,
      s"combo read $comboFiles files (range $rangeOnly, point $pointOnly, total $totalFiles)")
    val comboGot = combo.filter(col("x") <= 15L && col("y") === 7L)
      .select("x", "y").as[(Long, Long)].collect().toSet
    val fullGot = spark.read.parquet(root).filter(col("x") <= 15L && col("y") === 7L)
      .select("x", "y").as[(Long, Long)].collect().toSet
    assert(comboGot == fullGot && comboGot.nonEmpty)
    // point probes on EITHER clustered column bloom-prune most files and
    // agree with the full scan — the multi-column promise of the layout
    for (k <- Seq("x", "y")) {
      val pruned = Layout.bloomPrunedRead(spark, root, k, Seq(7L))
      val prunedFiles = pruned.select(input_file_name()).distinct().count()
      assert(prunedFiles <= totalFiles / 2,
        s"$k probe read $prunedFiles of $totalFiles files")
      val got = pruned.filter(col(k) === 7L).count()
      assert(got == 64, s"$k=7 must keep its full 64-row slice, got $got")
    }
  }

  test("bloom manifest prunes point lookups to the owning files") {
    import graft.operators.Layout
    import graft.sources.{Staging, Tables}
    val root = s"${GraftSession.scratchRoot}/graft-bloom-manifest"
    // range-cluster docs into 8 files so each doc_id lives in exactly one
    Staging.compact(spark,
      Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id", 8, root)
    Layout.writeBloomManifest(spark, root, "doc_id")
    val totalFiles = new java.io.File(root).listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(totalFiles == 8)

    val probe = Tables.documents(spark, sfDir)
      .select("doc_id").orderBy("doc_id").limit(1)
      .as[Long].head() // an existing key, owned by one file
    val pruned = Layout.bloomPrunedRead(spark, root, "doc_id", Seq(probe))
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    assert(prunedFiles <= totalFiles / 2,
      s"bloom should skip most files, read $prunedFiles of $totalFiles")
    // correctness: pruned read + predicate == full read + predicate
    val got = pruned.filter(col("doc_id") === probe).collect().toSeq
    val want = spark.read.parquet(root).filter(col("doc_id") === probe).collect().toSeq
    assert(got == want && got.nonEmpty)
    // absent key: provably-empty result either way
    assert(Layout.bloomPrunedRead(spark, root, "doc_id", Seq(-12345L))
      .filter(col("doc_id") === -12345L).isEmpty)
  }

  test("bloom manifest probe stays flat at a 10,000-entry manifest") {
    import graft.operators.Layout
    import graft.sources.{Staging, Tables}
    import scala.jdk.CollectionConverters._
    val root = s"${GraftSession.scratchRoot}/graft-bloom-manifest-10k"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    Staging.compact(spark, docs, "doc_id", 4, root)
    Layout.writeBloomManifest(spark, root, "doc_id")
    val probe = docs.select(min(col("doc_id"))).as[Long].head()

    // pruning result against the REAL 4-file manifest — the 10k-entry
    // probe must reproduce it exactly
    val matched = Layout.bloomPrunedRead(spark, root, "doc_id", Seq(probe))
      .select(input_file_name()).distinct().as[String].collect().toSet
    val m = spark.read.parquet(s"$root/_graft_manifest")
    val schema = m.schema
    val mRows = m.collect().toSeq
    // donor: a file whose bloom provably does NOT match the probe, so
    // the 10k fake entries cloned from it can never match either — the
    // scale test is deterministic, not subject to bloom FPP luck
    val donorRow = mRows.find(r => !matched.contains(r.getAs[String]("arquivo")))
      .getOrElse(fail("need at least one non-matching file as donor"))
    val aIdx = schema.fieldIndex("arquivo")
    val fakeRows = (0 until 10000).map { i =>
      org.apache.spark.sql.Row.fromSeq(
        donorRow.toSeq.updated(aIdx, s"/nonexistent/fake_$i.parquet"))
    }
    spark.createDataFrame((mRows ++ fakeRows).asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$root/_graft_manifest")

    // probe the 10,004-entry manifest: bloom bytes are filtered
    // executor-side, only matching NAMES reach the driver, so the probe
    // stays sub-minute and the driver footprint is the name list
    val t0 = System.nanoTime()
    val pruned = Layout.bloomPrunedRead(spark, root, "doc_id", Seq(probe))
    val files = pruned.select(input_file_name()).distinct().as[String].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(files == matched,
      s"10k-entry manifest must prune identically: $files vs $matched")
    assert(pruned.filter(col("doc_id") === probe).count() ==
      docs.filter(col("doc_id") === probe).count())
    assert(secs < 60.0, s"manifest probe took $secs s at 10k entries")
  }

  test("compact refreshes an existing bloom manifest for the rewritten files") {
    import graft.operators.Layout
    import graft.sources.{Staging, Tables}
    val base = s"${GraftSession.scratchRoot}/graft-compact-manifest"
    val root = s"$base/tbl"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
    Staging.compact(spark, docs, "doc_id", 8, root)
    Layout.writeBloomManifest(spark, root, "doc_id")
    assert(Layout.manifestKeys(spark, root) == Seq("doc_id"))

    // rewrite the destination from fresh input: the old manifest describes
    // 8 files this compaction deletes — it must come back describing the 4
    // new ones, without the caller re-stating the keys
    val frag = Staging.stageRoundtrip(spark, docs.repartition(16), s"$base/frag")
    Staging.compact(spark, frag, "doc_id", 4, root)
    val manifest = spark.read.parquet(s"$root/_graft_manifest")
    assert(manifest.count() == 4, "manifest must describe the 4 new files")
    val live = new java.io.File(root).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val described = manifest.select("arquivo").as[String].collect()
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(described.subsetOf(live), s"manifest names dead files: ${described -- live}")

    val probe = docs.select(min(col("doc_id"))).as[Long].head()
    val pruned = Layout.bloomPrunedRead(spark, root, "doc_id", Seq(probe))
    assert(pruned.select(input_file_name()).distinct().count() <= 2,
      "refreshed bloom should prune to the owning file(s)")
    assert(pruned.filter(col("doc_id") === probe).count() ==
      docs.filter(col("doc_id") === probe).count())
  }

  test("applyChangelog: latest change wins — deletes drop, upserts insert or replace") {
    import graft.operators.Cdc
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "b2", 21.0, 1L, "U"), (2L, "dead", 0.0, 2L, "D"), // delete after update → gone
      (3L, "dead", 0.0, 1L, "D"), (3L, "c2", 33.0, 2L, "U"), // update after delete → restored
      (4L, "d", 40.0, 1L, "I"))                              // insert of a missing key
      .toDF("k", "name", "bal", "seq", "op")
    val got = Cdc.applyChangelog(target, changes, Seq("k"), "seq", "op")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10.0), (3L, "c2", 33.0), (4L, "d", 40.0)))
    // plan contracts: winner per key through the bounded-heap aggregate
    // (map-side capped), target probed by a broadcast anti join (the
    // snapshot side must never shuffle)
    val plan = planString(Cdc.applyChangelog(target, changes, Seq("k"), "seq", "op"))
    assert(plan.contains("ObjectHashAggregate"), s"winner not heap-aggregated:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"target not probed via broadcast anti join:\n$plan")
    assert(!plan.contains("Window"), s"changelog must not window-sort:\n$plan")
  }

  test("extractChangelog labels churn I/U/D at change volume; applying " +
      "the extracted log to the old snapshot rebuilds the new one") {
    import graft.operators.Cdc
    val oldSnap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val newSnap = Seq((1L, "a", 10.0), (2L, "b2", 21.0), (4L, "d", 40.0))
      .toDF("k", "name", "bal")
    val log = Cdc.extractChangelog(oldSnap, newSnap, Seq("k"))
    val got = log.as[(Long, String, Option[String], Option[Double])]
      .collect().toSet
    assert(got == Set(
      (2L, "U", Some("b2"), Some(21.0)),
      (3L, "D", None, None),
      (4L, "I", Some("d"), Some(40.0))), s"got $got")
    // roundtrip: old + extracted log == new (unchanged rows pass through)
    val rebuilt = Cdc.applyChangelog(
        oldSnap, log.withColumn("seq", lit(1L)), Seq("k"), "seq", "op")
      .as[(Long, String, Double)].collect().toSet
    val want = newSnap.as[(Long, String, Double)].collect().toSet
    assert(rebuilt == want, s"roundtrip broke: $rebuilt vs $want")
  }

  test("Versioned: commits are atomic snapshots, time travel reads old " +
      "versions, orphan dirs are unreachable") {
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft-versioned")
      .toString + "/tabela"
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "val")
    val b = Seq((1L, "a2"), (3L, "c")).toDF("id", "val")
    assert(Versioned.commitVersion(a, dir) == 1)
    assert(Versioned.commitVersion(b, dir) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSet
    assert(rows(Versioned.readVersion(spark, dir)) == Set((1L, "a2"), (3L, "c")),
      "head must read the latest commit")
    assert(rows(Versioned.readVersion(spark, dir, Some(1))) ==
      Set((1L, "a"), (2L, "b")), "time travel must read version 1 unchanged")

    // an orphan data dir (failed commit: data written, head never
    // flipped) must not be reachable through the read API
    a.write.parquet(s"$dir/v00003")
    assert(rows(Versioned.readVersion(spark, dir)) == Set((1L, "a2"), (3L, "c")),
      "head must ignore the orphan")
    intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, dir, Some(3))
    }

    // crash recovery: the next commit takes v3, clobbering the orphan
    // (it was never visible), and the head flips to it
    assert(Versioned.commitVersion(a, dir) == 3)
    assert(rows(Versioned.readVersion(spark, dir)) == Set((1L, "a"), (2L, "b")),
      "recovered commit must be readable at the head")
  }

  test("Versioned: a crash inside the head flip (head deleted, marker " +
      "left) must NOT restart numbering at v1 and clobber history") {
    import graft.sources.Versioned
    val dir = java.nio.file.Files.createTempDirectory("graft-versioned-cr")
      .toString + "/tabela"
    val a = Seq((1L, "a")).toDF("id", "val")
    val b = Seq((2L, "b")).toDF("id", "val")
    assert(Versioned.commitVersion(a, dir) == 1)
    assert(Versioned.commitVersion(b, dir) == 2)
    // simulate the delete->rename crash window: head gone, marker (its
    // content = the version whose data dir is complete) still present
    val headF = new java.io.File(dir, "_graft_head")
    val tmpF = new java.io.File(dir, "_graft_head.tmp")
    java.nio.file.Files.write(tmpF.toPath, "2".getBytes("UTF-8"))
    assert(headF.delete(), "test setup: head removal")
    assert(Versioned.headVersion(spark, dir).isEmpty,
      "crash state: readers see no committed head (documented)")
    // recovery: next commit must take v3 (marker + 1), not v1
    assert(Versioned.commitVersion(a, dir) == 3,
      "commit must resume past the marker version")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSet
    assert(rows(Versioned.readVersion(spark, dir, Some(1))) == Set((1L, "a")),
      "v1 data must survive the crashed flip untouched")
    assert(rows(Versioned.readVersion(spark, dir, Some(2))) == Set((2L, "b")),
      "v2 data must survive the crashed flip untouched")
    assert(rows(Versioned.readVersion(spark, dir)) == Set((1L, "a")))
  }

  test("funnelWithin: stage windows enforced; a late conversion does not " +
      "credit; a null stage nulls everything after it") {
    import graft.streaming.Events
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 7: full funnel inside windows
      (1L, t("2024-01-01 00:00:00"), 7L, "view", 0.0),
      (2L, t("2024-01-02 00:00:00"), 7L, "click", 0.0),
      (3L, t("2024-01-03 00:00:00"), 7L, "purchase", 0.0),
      // user 8: click too late (3 days after view) -> depth 1, and the
      // purchase after it must NOT count either
      (4L, t("2024-01-01 00:00:00"), 8L, "view", 0.0),
      (5L, t("2024-01-04 12:00:00"), 8L, "click", 0.0),
      (6L, t("2024-01-05 00:00:00"), 8L, "purchase", 0.0),
      // user 9: purchase BEFORE the click does not count -> depth 2
      (7L, t("2024-01-01 00:00:00"), 9L, "view", 0.0),
      (8L, t("2024-01-02 00:00:00"), 9L, "purchase", 0.0),
      (9L, t("2024-01-02 12:00:00"), 9L, "click", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.funnelWithin(ev, Seq("view", "click", "purchase"),
        "2 days")
      .select("user_id", "etapas").as[(Long, Int)].collect().toMap
    assert(got == Map(7L -> 3, 8L -> 1, 9L -> 2), s"got $got")
  }

  test("trendAnomalies: a drifting series flags nothing; one planted " +
      "spike off the trend flags exactly once") {
    import graft.operators.Stats
    // g: exact line y = 10 + 2x with one +50 spike at x = 5
    // h: exact steep drift y = 3x — residuals 0, MAD 0, never flags
    val rows = (0 to 9).map(i =>
        ("g", i.toDouble, 10.0 + 2 * i + (if (i == 5) 50.0 else 0.0))) ++
      (0 to 9).map(i => ("h", i.toDouble, 3.0 * i))
    val df = rows.toDF("grp", "x", "y")
    val got = Stats.trendAnomalies(df, Seq("grp"), "x", "y", c = 3.0)
      .select("grp", "x", "atipico").as[(String, Double, Boolean)]
      .collect().toSet
    assert(got.count(_._3) == 1 && got.contains(("g", 5.0, true)),
      s"exactly the planted spike must flag: $got")
    assert(!got.exists(r => r._1 == "h" && r._3),
      "a clean drifting series must never flag")
  }

  test("benfordAudit: first significant digit from any rendering; zeros " +
      "and nulls excluded; all nine digits reported") {
    import graft.operators.Stats
    val df = Seq(Some(1.5), Some(0.042), Some(900.0), Some(-23.7),
      Some(0.0), None).toDF("v")
    val got = Stats.benfordAudit(df, "v")
      .select("digito", "observado", "participacao")
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) == Seq(
      (1, 1L), (2, 1L), (3, 0L), (4, 1L), (5, 0L), (6, 0L), (7, 0L),
      (8, 0L), (9, 1L)), s"got $got")
    assert(got.forall(r => r._3 == r._2.toDouble / 4.0),
      "shares over the 4 countable values")
  }

  test("commonPaths: first-k events in time order, short journeys kept, " +
      "deterministic top-N ties") {
    import graft.streaming.Events
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(1), 7L, "view", 0.0), (2L, t(2), 7L, "click", 0.0),
      (3L, t(3), 7L, "buy", 0.0), (4L, t(4), 7L, "view", 0.0), // 4th dropped
      (5L, t(1), 8L, "view", 0.0), (6L, t(2), 8L, "click", 0.0),
      (7L, t(3), 8L, "buy", 0.0),
      (8L, t(1), 9L, "view", 0.0)) // short journey: 1-step path
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.commonPaths(ev, steps = 3, topN = 10)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("view>click>buy", 2L), ("view", 1L)), s"got $got")
  }

  test("quantileBin fit/apply: integer-rank edges by hand; edge values " +
      "fall in the lower bin") {
    import graft.operators.Stats
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val edges = Stats.quantileBinFit(df, "v", k = 4)
      .as[(Int, Double)].collect().sortBy(_._1).toSeq
    assert(edges == Seq((1, 2.0), (2, 4.0), (3, 6.0)), s"got $edges")
    val bins = Stats.quantileBinApply(df, Stats.quantileBinFit(df, "v", 4), "v")
      .as[(Double, Int)].collect().toMap
    assert(bins == Map(1.0 -> 1, 2.0 -> 1, 3.0 -> 2, 4.0 -> 2,
      5.0 -> 3, 6.0 -> 3, 7.0 -> 4, 8.0 -> 4), s"got $bins")
  }

  test("freqEncode: rare categories collapse at fit; unseen categories " +
      "land in __outros__ at apply") {
    import graft.operators.Stats
    val fit = Seq("a", "a", "a", "b").toDF("cat")
    val model = Stats.freqEncodeFit(fit, "cat", minCount = 2L)
    val m = model.as[(String, Long, Double)].collect().toSet
    assert(m == Set(("a", 3L, 0.75), ("__outros__", 1L, 0.25)), s"got $m")
    val apply = Seq("a", "b", "z").toDF("cat") // z never seen at fit
    val got = Stats.freqEncodeApply(apply, model, "cat")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(
      ("a", "a", 0.75), ("b", "__outros__", 0.25), ("z", "__outros__", 0.25)),
      s"got $got")
  }

  test("looTargetEncode: own label subtracted exactly; singletons null") {
    import graft.operators.Stats
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("solo", 7.0))
      .toDF("cat", "y")
    val got = Stats.looTargetEncode(df, "cat", "y")
      .as[(String, Double, Option[Double])].collect().toSet
    assert(got == Set(
      ("g", 1.0, Some(2.5)), ("g", 2.0, Some(2.0)), ("g", 3.0, Some(1.5)),
      ("solo", 7.0, None)), s"got $got")
  }

  test("driftReport: exact ratios and chi-square by hand; new categories " +
      "flagged, no cross-bucket total") {
    import graft.operators.Stats
    val base = (Seq.fill(4)("A") ++ Seq.fill(6)("B")).toDF("b")
    val cur = (Seq.fill(8)("A") ++ Seq.fill(2)("B") ++ Seq.fill(5)("C"))
      .toDF("b")
    val got = Stats.driftReport(base, cur, "b")
      .as[(String, Long, Long, Option[Double], Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("A") == ("A", 4L, 8L, Some(80.0 / 60.0), Some(4.0 / 6.0), false),
      s"got ${got("A")}")
    assert(got("B") == ("B", 6L, 2L, Some(20.0 / 90.0),
      Some((2.0 - 9.0) * (2.0 - 9.0) / 9.0), false), s"got ${got("B")}")
    assert(got("C") == ("C", 0L, 5L, None, None, true), s"got ${got("C")}")
  }

  test("madOutliers: one wild value cannot drag the median; MAD=0 groups " +
      "never flag") {
    import graft.operators.Stats
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 100.0),
      ("z", 5.0), ("z", 5.0), ("z", 5.0), ("z", 9.0)).toDF("grp", "x")
    val got = Stats.madOutliers(df, Seq("grp"), "x", c = 2.0)
      .as[(String, Double, Double, Boolean)].collect().toSet
    // g: med=2 (lower), devs (1,0,1,98), mad=1 -> only 100 flags
    // z: med=5, devs (0,0,0,4), mad=0 -> nothing flags, not even 9
    assert(got == Set(
      ("g", 1.0, 1.0, false), ("g", 2.0, 0.0, false), ("g", 3.0, 1.0, false),
      ("g", 100.0, 98.0, true),
      ("z", 5.0, 0.0, false), ("z", 5.0, 0.0, false), ("z", 5.0, 0.0, false),
      ("z", 9.0, 4.0, false)), s"got $got")
  }

  test("decayedScore: per-week halving exact in decimal; beyond the " +
      "18-week floor contributes zero") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val act = Seq(
      (1L, d("2024-01-31"), 8.0),  // age 1d  -> week 0 -> weight 1
      (1L, d("2024-01-20"), 8.0),  // age 12d -> week 1 -> weight 1/2
      (2L, d("2020-01-01"), 99.0)) // age >18 weeks -> weight 0
      .toDF("u", "dia", "v")
    val got = ReferenceForms.decayedScore(act, "u", "dia", "v", "2024-02-01")
      .select(col("u"), col("atividade"), col("score_decaido").cast("double"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 12.0), (2L, 1L, 0.0)), s"got $got")
  }

  test("decayedScoreScaled: same semantics as the decimal form through " +
      "exact scaled integers; future-dated rows clamp to week 0, not a " +
      "masked negative shift") {
    import graft.operators.Timeseries
    def d(s: String) = java.sql.Date.valueOf(s)
    val act = Seq(
      (1L, d("2024-01-31"), 8.25),  // week 0 -> weight 1
      (1L, d("2024-01-20"), 8.5),   // week 1 -> weight 1/2
      (2L, d("2020-01-01"), 99.0),  // > 18 weeks -> weight 0
      (3L, d("2024-03-01"), 4.0))   // FUTURE -> clamp to week 0, weight 1
      .toDF("u", "dia", "v")
    val got = Timeseries.decayedScoreScaled(
      act, "u", "dia", "v", "2024-02-01", valueScale = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, 2L, 8.25 + 4.25), (2L, 1L, 0.0), (3L, 1L, 4.0)), s"got $got")
    // the decimal form agrees and clamps the same way (no Long.MIN_VALUE
    // weight)
    val dec = ReferenceForms.decayedScore(act, "u", "dia", "v", "2024-02-01")
      .select(col("u"), col("score_decaido").cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(dec == got.map(r => r._1 -> r._3).toMap, s"decimal form $dec")
  }

  test("transitionMatrix: counts per ordered (from, to) pair and exact " +
      "conditional probabilities") {
    import graft.streaming.Events
    def t(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, t(1), 7L, "A", 0.0), (2L, t(2), 7L, "B", 0.0), (3L, t(3), 7L, "A", 0.0),
      (4L, t(1), 8L, "A", 0.0), (5L, t(2), 8L, "B", 0.0),
      (6L, t(1), 9L, "A", 0.0), (7L, t(2), 9L, "A", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.transitionMatrix(ev)
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("A", "B", 2L, 2.0 / 3.0),
      ("A", "A", 1L, 1.0 / 3.0),
      ("B", "A", 1L, 1.0)), s"got $got")
  }

  test("scaler fit/apply: z-score and min-max by hand; constant columns " +
      "scale to null, not infinity") {
    import graft.operators.Stats
    val df = Seq((1L, 0.0, 7.0), (2L, 10.0, 7.0)).toDF("id", "x", "c")
    val model = Stats.scalerFit(df, Seq("x", "c"))
    val fit = model.as[(String, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(fit("x") == ("x", 2L, 5.0, 5.0, 0.0, 10.0), s"got ${fit("x")}")
    assert(fit("c")._4 == 0.0, "constant column must fit sigma 0")
    val out = Stats.scalerApply(df, model, Seq("x", "c"))
      .select(col("id"), col("x_z"), col("x_mm"), col("c_z"), col("c_mm"))
      .as[(Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().toSet
    assert(out == Set(
      (1L, Some(-1.0), Some(0.0), None, None),
      (2L, Some(1.0), Some(1.0), None, None)), s"got $out")

    // a model MISSING a requested column must yield null features on
    // every row — never annihilate the DataFrame through an empty
    // broadcast side (the r9 ADVICE hazard)
    val partial = Stats.scalerApply(df, model.filter(col("coluna") === "x"),
        Seq("x", "c"))
      .select(col("id"), col("x_z"), col("c_z"), col("c_mm"))
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSet
    assert(partial == Set(
      (1L, Some(-1.0), None, None), (2L, Some(1.0), None, None)),
      s"rows must survive a missing model column: $partial")
  }

  test("joinDiagnostics: exact product-sum cardinality, hottest keys, " +
      "per-side totals") {
    val l = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val r = Seq("a", "a", "c", "c", "c", "c", "d").toDF("k")
    val got = Profile.joinDiagnostics(l, r, "k", "k", topK = 2)
      .as[(String, Option[String], Long)].collect().toSet
    assert(got == Set(
      ("linhas_esq", None, 6L), ("chaves_esq", None, 3L),
      ("linhas_dir", None, 7L), ("chaves_dir", None, 3L),
      ("linhas_juncao", None, 3L * 2 + 1L * 4),  // a: 3*2, c: 1*4, b/d: 0
      ("quente_esq", Some("a"), 3L), ("quente_esq", Some("b"), 2L),
      ("quente_dir", Some("c"), 4L), ("quente_dir", Some("a"), 2L)),
      s"got ${got.toSeq.sortBy(_._1)}")
  }

  test("weightedMedian: lower weighted median by hand; unit weights " +
      "degenerate to the classic lower median; zero weights never pick") {
    import graft.operators.Stats
    val w = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 3.0),
      ("g", 4.0, 1.0)).toDF("grp", "v", "w")
    val got = Stats.weightedMedian(w, Seq("grp"), "v", "w")
      .select(col("grp"), col("mediana_ponderada"),
        col("peso_total").cast("double"))
      .as[(String, Double, Double)].collect().toList
    assert(got == List(("g", 3.0, 6.0)), s"got $got") // cum at 3 is 5, 2*5>=6

    val unit = Seq(("u", 1.0, 1.0), ("u", 2.0, 1.0), ("u", 3.0, 1.0),
      ("u", 4.0, 1.0)).toDF("grp", "v", "w")
    val lower = Stats.weightedMedian(unit, Seq("grp"), "v", "w")
      .select("mediana_ponderada").as[Double].head()
    assert(lower == 2.0, s"unit weights must give the lower median, got $lower")

    val zero = Seq(("z", 0.0, 0.0), ("z", 9.0, 1.0)).toDF("grp", "v", "w")
    val zm = Stats.weightedMedian(zero, Seq("grp"), "v", "w")
      .select("mediana_ponderada").as[Double].head()
    assert(zm == 9.0, s"zero-weight value must never be picked, got $zm")
  }

  test("attribution: first/last touch inside the lookback, same-instant " +
      "touches excluded, unattributed conversions kept with zero touches") {
    import graft.streaming.Events
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, t("2024-01-01 10:00:00"), 7L, "view", 0.0),
      (2L, t("2024-01-02 09:00:00"), 7L, "click", 0.0),
      (3L, t("2024-01-02 12:00:00"), 7L, "purchase", 9.0), // conv: first=1 last=2
      (4L, t("2023-12-01 00:00:00"), 8L, "view", 0.0),     // outside lookback
      (5L, t("2024-01-05 00:00:00"), 8L, "purchase", 1.0), // conv: nothing in window
      (6L, t("2024-01-06 00:00:00"), 9L, "view", 0.0),
      (7L, t("2024-01-06 00:00:00"), 9L, "purchase", 1.0)) // same instant: no credit
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.attribution(events, "purchase", Seq("view", "click"),
        lookback = "2 days")
      .as[(Long, Long, Long, Option[Long], Option[String], Option[Long],
        Option[String])].collect().toSet
    assert(got == Set(
      (3L, 7L, 2L, Some(1L), Some("view"), Some(2L), Some("click")),
      (5L, 8L, 0L, None, None, None, None),
      (7L, 9L, 0L, None, None, None, None)), s"got $got")
  }

  test("rollingActive: trailing window counts distinct entities, not " +
      "summed dailies; zero-activity days absent") {
    import graft.operators.Timeseries
    def d(s: String) = java.sql.Date.valueOf(s)
    // user 1 active on days 1 and 2 (must count ONCE in the window),
    // user 2 only day 1, user 3 only day 8 (outside day 2's window)
    val act = Seq(
      (1L, d("2024-01-01")), (1L, d("2024-01-02")), (1L, d("2024-01-01")),
      (2L, d("2024-01-01")), (3L, d("2024-01-08")))
      .toDF("u", "dia")
    val got = Timeseries.rollingActive(act, "u", "dia", window = 7)
      .as[(java.sql.Date, Long, Long)].collect()
      .map(r => (r._1.toString, r._2, r._3)).toSet
    assert(got == Set(
      ("2024-01-01", 2L, 2L),
      ("2024-01-02", 1L, 2L),   // window [27th..2nd]: users 1,2 -> 2, NOT 3
      ("2024-01-08", 1L, 2L)),  // window [2nd..8th]: users 1,3
      s"got $got")
  }

  test("scd2Lookup: version valid at fact time; boundary goes to the new " +
      "version; gaps and pre-history facts yield null") {
    import graft.operators.Scd
    val hist = Seq(
      (1L, "a1", 10L, Some(20L)), (1L, "a2", 20L, None),
      (2L, "b1", 10L, Some(20L))) // key 2 closed at 20, never reopened
      .toDF("k", "attr", "valid_from", "valid_to")
    val facts = Seq((101L, 1L, 5L), (102L, 1L, 15L), (103L, 1L, 20L),
      (104L, 1L, 99L), (105L, 2L, 15L), (106L, 2L, 25L))
      .toDF("fid", "k", "ts")
    val got = Scd.scd2Lookup(facts, hist, Seq("k"), "ts", Seq("attr"))
      .as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (101L, 1L, 5L, None),          // before any version
      (102L, 1L, 15L, Some("a1")),
      (103L, 1L, 20L, Some("a2")),   // boundary: new version opens AT 20
      (104L, 1L, 99L, Some("a2")),
      (105L, 2L, 15L, Some("b1")),
      (106L, 2L, 25L, None)),        // history gap: expired, no successor
      s"got $got")
  }

  test("scd2Delta emits exactly the changes scd2Apply makes") {
    import graft.operators.Scd
    val history = Seq(
      (1L, Some(10.0), "2026-01-01", None, true),             // attr changes
      (2L, Some(20.0), "2026-01-01", None, true),             // identical: no-op
      (3L, Option.empty[Double], "2026-01-01", None, true),   // null == null: no-op
      (4L, Some(40.0), "2026-01-01", None, true),             // not in batch
      (6L, Some(60.0), "2026-01-01", None, true),             // value -> null: change
      (1L, Some(5.0), "2025-01-01", Some("2026-01-01"), false)) // closed: untouched
      .toDF("k", "saldo", "vf", "vt", "is_current")
      .select(col("k"), col("saldo"), col("vf").cast("date").as("valid_from"),
        col("vt").cast("date").as("valid_to"), col("is_current"))
    val incoming = Seq(
      (1L, Some(11.0)), (2L, Some(20.0)), (3L, Option.empty[Double]),
      (5L, Some(50.0)), (6L, Option.empty[Double]))
      .toDF("k", "saldo")
      .withColumn("effective", lit("2026-08-01").cast("date"))

    val delta = Scd.scd2Delta(history, incoming, Seq("k"), Seq("saldo"), "effective")
    val fechar = delta.filter(col("acao") === "fechar").drop("acao")
    val abrir = delta.filter(col("acao") === "abrir").drop("acao")
    // changed keys 1 and 6 close; 1, 6 and new key 5 open; 2/3 are no-ops
    assert(fechar.select("k").as[Long].collect().toSet == Set(1L, 6L))
    assert(abrir.select("k").as[Long].collect().toSet == Set(1L, 5L, 6L))

    // applying the delta to the history reproduces scd2Apply exactly
    val closedKeys = fechar.select("k").as[Long].collect().toSeq
    val untouched = history.filter(
      !(col("is_current") && col("k").isin(closedKeys: _*)))
    val reconstructed = untouched.unionByName(fechar).unionByName(abrir)
      .collect().toSet
    val full = Scd.scd2Apply(history, incoming, Seq("k"), Seq("saldo"), "effective")
      .collect().toSet
    assert(reconstructed == full)
  }

  test("run ledger: worklist reasons cascade") {
    def ts(s: String) = s"$s 00:00:00"
    val catalog = Seq(
      ("a", ts("2026-01-05"), 100L), // latest ok run AFTER produced → no work
      ("b", ts("2026-01-05"), 200L), // latest ok run BEFORE produced → stale
      ("c", ts("2026-01-05"), 300L), // latest run failed → falha_anterior
      ("d", ts("2026-01-05"), 400L), // no runs at all → nunca_executado
    ).toDF("job", "produzido_em", "tamanho")
      .withColumn("produzido_em", col("produzido_em").cast("timestamp"))
    val ledger = Seq(
      // job a: an old failure superseded by a fresh success
      ("a", 1L, "erro", ts("2026-01-02"), 0L),
      ("a", 2L, "ok", ts("2026-01-06"), 10L),
      // job b: succeeded, but before the source was produced
      ("b", 1L, "ok", ts("2026-01-04"), 20L),
      // job c: a success superseded by a failure
      ("c", 1L, "ok", ts("2026-01-06"), 30L),
      ("c", 2L, "erro", ts("2026-01-07"), 0L),
    ).toDF("job", "seq", "status", "fim", "linhas")
      .withColumn("fim", col("fim").cast("timestamp"))

    val work = RunLog.dispatchWorklist(catalog, ledger, Seq("job"),
      "produzido_em", "seq", "status", "fim")
    val motivos = work.select("job", "motivo").as[(String, String)].collect().toMap
    assert(motivos == Map(
      "b" -> "desatualizado", "c" -> "falha_anterior", "d" -> "nunca_executado"))
    // worklist keeps the catalog row plus the folded latest-run columns
    assert(work.filter(col("job") === "c")
      .select("ultima_execucao", "ultimo_status")
      .as[(Long, String)].head() == (2L, "erro"))
  }

  test("gapFillMonthly: missing months appear with carried values; " +
      "spans are per group") {
    val df = Seq(
      ("a", "1992-01-01", 5.0), ("a", "1992-04-01", 9.0),
      ("b", "1995-06-01", 2.0),
    ).toDF("g", "mes", "valor")
      .withColumn("mes", to_date(col("mes")))
    val got = Timeseries.gapFillMonthly(df, Seq("g"), "mes", "valor")
      .select(col("g"), date_format(col("mes"), "yyyy-MM").as("m"),
        col("valor"), col("presente"), col("valor_carregado"))
      .as[(String, String, Option[Double], Boolean, Double)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      ("a", "1992-01", Some(5.0), true, 5.0),
      ("a", "1992-02", None, false, 5.0),
      ("a", "1992-03", None, false, 5.0),
      ("a", "1992-04", Some(9.0), true, 9.0),
      ("b", "1995-06", Some(2.0), true, 2.0)), s"got $got")
  }

  test("pairRules: support/confidence/lift exact, within-basket dups " +
      "count once, minPairs cuts") {
    val tx = Seq(
      (1L, "x"), (1L, "x"), (1L, "y"), // duplicate x counts once
      (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"),
      (4L, "y"),
    ).toDF("b", "i")
    val got = Basket.pairRules(tx, "b", "i")
      .select("item_a", "item_b", "n_ambos", "suporte", "confianca", "lift")
      .as[(String, String, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got(("x", "y")) == ((2L, 0.5, 2.0 / 3, (2.0 / 3) / (3.0 / 4))),
      s"x->y: ${got(("x", "y"))}")
    assert(got(("z", "x")) == ((1L, 0.25, 1.0, 1.0 / (3.0 / 4))))
    val cut = Basket.pairRules(tx, "b", "i", minPairs = 2L)
      .select("item_a", "item_b").as[(String, String)].collect().toSet
    assert(cut == Set(("x", "y"), ("y", "x")), "minPairs must cut rare pairs")
  }

  test("zScoreFlags: exact mean/sigma, outliers flagged, constant series " +
      "never flag") {
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 1.0), ("a", 3L, 1.0), ("a", 4L, 1.0),
      ("a", 5L, 100.0),
      ("c", 9L, 7.0), ("c", 10L, 7.0), // constant: sigma = 0
    ).toDF("g", "id", "v")
    val got = Stats.zScoreFlags(df, Seq("g"), "v", zThresh = 1.5)
      .select("g", "id", "media", "desvio", "z_score", "atipico")
      .as[(String, Long, Double, Double, Double, Boolean)].collect()
      .map(r => r._2 -> r).toMap
    val mu = 104.0 / 5
    val sd = math.sqrt((4 * 1.0 + 100.0 * 100.0) / 5 - mu * mu)
    assert(math.abs(got(5L)._3 - mu) < 1e-12)
    assert(math.abs(got(5L)._4 - sd) < 1e-12)
    assert(got(5L)._6, "the planted outlier must flag")
    assert(!got(1L)._6 && math.abs(got(1L)._5 - (mu - 1.0) / sd) < 1e-12)
    assert(!got(9L)._6 && got(9L)._5 == 0.0,
      "constant series: sigma 0, z 0, never flagged")
  }

  test("zScoreFlags/madOutliers/looTargetEncode: null-group rows pass " +
      "through with their own group's stats — never silently dropped") {
    val df = Seq(
      (Some("a"), 1L, 1.0), (Some("a"), 2L, 3.0),
      (None, 3L, 4.0), (None, 4L, 5.0), (None, 5L, 6.0), (None, 6L, 50.0),
    ).toDF("g", "id", "v")
    val z = Stats.zScoreFlags(df, Seq("g"), "v", zThresh = 1.0)
    assert(z.count() == 6, "zScoreFlags lost rows with a null group key")
    val zn = z.filter(col("g").isNull)
      .select("id", "atipico").as[(Long, Boolean)].collect().toMap
    assert(zn(6L) && !zn(3L),
      s"null group must get its own mean/sigma and flag its outlier: $zn")
    // null group: median 5, deviations {1,0,1,45}, MAD 1 -> 50 flags
    val m = Stats.madOutliers(df, Seq("g"), "v", c = 2.0)
    assert(m.count() == 6, "madOutliers lost rows with a null group key")
    assert(m.filter(col("g").isNull && col("id") === 6L)
      .select("atipico").as[Boolean].head(),
      "null group's MAD outlier must flag")
    val loo = Stats.looTargetEncode(df.withColumnRenamed("v", "y"), "g", "y")
    assert(loo.count() == 6, "looTargetEncode lost null-category rows")
    val l3 = loo.filter(col("id") === 3L).select("g_loo")
      .as[Option[Double]].head()
    assert(l3.contains((5.0 + 6.0 + 50.0) / 3),
      s"null category must LOO-encode from its own group: $l3")
  }

  test("rocAuc: Mann–Whitney by hand with ties at half credit; perfect " +
      "separation gives 1.0; degenerate groups report null") {
    // group a: pos {3,2}, neg {1,2} -> U = 1+1+1+0.5 = 3.5, AUC = 0.875
    // group b: pos {9,8}, neg {1,2} -> perfect separation, AUC = 1
    // group c: all positive -> null
    val df = Seq(
      ("a", Some(3.0), true), ("a", Some(2.0), true),
      ("a", Some(1.0), false), ("a", Some(2.0), false),
      // null scores carry no ranking information: dropped BEFORE the
      // collapse (not sorted first as Spark would, nor last as DuckDB
      // would) — group-a counts and AUC must be unchanged by these
      ("a", None, true), ("a", None, false),
      ("b", Some(9.0), true), ("b", Some(8.0), true),
      ("b", Some(1.0), false), ("b", Some(2.0), false),
      ("c", Some(5.0), true), ("c", Some(6.0), true),
    ).toDF("g", "s", "y")
    val got = Stats.rocAuc(df, Seq("g"), "s", "y")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 2L, 2L, Some(0.875))), s"got ${got("a")}")
    assert(got("b") == (("b", 2L, 2L, Some(1.0))), s"got ${got("b")}")
    assert(got("c") == (("c", 2L, 0L, None)), s"got ${got("c")}")
    // anti-learner sanity: inverted scores give 1 - AUC
    val inv = Stats.rocAuc(
        df.withColumn("s", -col("s")), Seq("g"), "s", "y")
      .filter(col("g") === "a").select("auc").as[Double].head()
    assert(inv == 1.0 - 0.875, s"got $inv")
  }

  test("erasureReport: per-table touch counts from one broadcast probe") {
    val t1 = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val t2 = Seq(2L, 2L, 9L).toDF("fk")
    val keys = Seq(2L, 4L, 77L).toDF("id")
    val got = graft.llm.Privacy.erasureReport(
        Seq(("t1", t1, "id"), ("t2", t2, "fk")), keys, "id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("t1", 5L, 2L, 3L), ("t2", 3L, 2L, 1L)), s"got $got")
  }

  test("paretoClass: cumulative shares and A/B/C bands are exact") {
    val df = Seq(
      ("g", 1L, 50.0), ("g", 2L, 30.0), ("g", 3L, 15.0), ("g", 4L, 5.0),
      ("h", 9L, 7.0),
    ).toDF("seg", "id", "v")
    val got = Stats.paretoClass(df, Seq("seg"), "id", "v")
      .as[(String, Long, Double, Double, String)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5))).toMap
    assert(got(("g", 1L)) == ((0.5, "A")))
    assert(got(("g", 2L)) == ((0.8, "A")))
    assert(got(("g", 3L)) == ((0.95, "B")))
    assert(got(("g", 4L)) == ((1.0, "C")))
    assert(got(("h", 9L)) == ((1.0, "C")), "a sole member is the whole tail")
  }

  test("contiguousIds: dense 0..n-1 in total order, identical under any " +
      "partitioning, no global-window single partition") {
    val df = graft.sources.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey")
    def ids(parts: Int) = Ids
      .contiguousIds(df.repartition(parts), Seq(("o_orderkey", true)))
      .select("o_orderkey", "seq_id").as[(Long, Long)].collect().sortBy(_._2)
    val a = ids(3)
    assert(a.map(_._2).toSeq == (0L until a.length).toSeq, "dense 0..n-1")
    assert(a.map(_._1).toSeq == a.map(_._1).sorted.toSeq,
      "ids must follow the total order")
    assert(ids(17).toSeq == a.toSeq, "partition-independent")
  }

  test("kaplanMeier: hand curve with censoring between event times, " +
      "and total conversion zeroes the tail exactly") {
    // cohort A: events at t=1 (2 of 5 at risk), censor at t=2,
    // event at t=3 (1 of 2 at risk), censor at t=4
    // S(1) = 3/5; S(3) = 3/5 * 1/2 = 0.3
    val a = Seq((1, true), (1, true), (2, false), (3, true), (4, false))
      .map { case (d, e) => ("A", d.toLong, e) }
    // cohort B: at t=2 both remaining subjects convert -> S(2) = 0.0
    // exactly (not exp of a -inf ln), and t=1's factor still applies
    val b = Seq((1, true), (2, true), (2, true))
      .map { case (d, e) => ("B", d.toLong, e) }
    val df = (a ++ b).toDF("coorte", "dur", "converteu")
    val got = Timeseries.kaplanMeier(df, Seq("coorte"), "dur", "converteu")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    val expA1 = ("A", 1L, 5L, 2L, 3.0 / 5.0)
    val expA3 = ("A", 3L, 2L, 1L,
      math.exp(math.log(3.0 / 5.0) + math.log(1.0 / 2.0)))
    val expB1 = ("B", 1L, 3L, 1L, 2.0 / 3.0)
    val expB2 = ("B", 2L, 2L, 2L, 0.0)
    assert(got.map(r => (r._1, r._2, r._3, r._4)) ==
      Set(expA1, expA3, expB1, expB2).map(r => (r._1, r._2, r._3, r._4)))
    val byKey = got.map(r => (r._1, r._2) -> r._5).toMap
    assert(math.abs(byKey(("A", 1L)) - expA1._5) < 1e-15)
    assert(math.abs(byKey(("A", 3L)) - expA3._5) < 1e-15)
    assert(byKey(("B", 2L)) == 0.0, "total conversion must be exact 0")
  }

  test("cohortRetention: offsets anchor at each entity's first month, " +
      "duplicates count once") {
    val df = Seq(
      (1L, "1992-01-01"), (1L, "1992-03-01"), (1L, "1992-03-01"), // dup row
      (2L, "1992-01-01"),
      (3L, "1992-03-01"), (3L, "1992-04-01"),
    ).toDF("e", "mes").withColumn("mes", to_date(col("mes")))
    val got = Timeseries.cohortRetention(df, "e", "mes")
      .select(date_format(col("cohorte"), "yyyy-MM"), col("offset_meses"),
        col("entidades_ativas"))
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(
      ("1992-01", 0, 2L), // entities 1 and 2 enter in January
      ("1992-01", 2, 1L), // only entity 1 is active two months later
      ("1992-03", 0, 1L), // entity 3's own cohort
      ("1992-03", 1, 1L)), s"got $got")
  }

  test("fuzzyPairs: multi-pass prefix+suffix blocking catches edits " +
      "either key alone would lose; distance bound is exact") {
    val people = Seq(
      (1L, "Maria Silva"),
      (2L, "Maria Silvq"),   // substitution at the END: escapes suffix-4
      (3L, "Mqria Silva"),   // substitution at the FRONT: escapes prefix-4
      (4L, "Maria  Silva"),  // inserted space mid-name: both keys intact
      (5L, "Joana Prado"),   // unrelated: shares no block
    ).toDF("id", "nome")
    val keys: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(nm => substring(nm, 1, 4), nm => substring(nm, -4, 4))
    val got = Linkage.fuzzyPairs(people, "id", "nome", maxDist = 1, keys)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L)),
      s"got $got") // (3,4) is distance 2 (sub + insert) — correctly excluded
    // single-pass SUFFIX blocking loses the end-substitution pair —
    // exactly the coverage gap the multi-pass union exists to close
    val suffixOnly = Linkage.fuzzyPairs(people, "id", "nome", 1,
        Seq(nm => substring(nm, -4, 4)))
      .as[(Long, Long, Long)].collect().toSet
    assert(!suffixOnly.contains((1L, 2L, 1L)) && suffixOnly.contains((1L, 3L, 1L)))
  }

  test("fuzzyPairs: tiling a saturated block (maxBlock far below the " +
      "block size) emits the EXACT pair set of the untiled join") {
    // 60 names that all share both blocking keys (prefix-4 and suffix-4
    // are constant) — the degenerate hot block that went quadratic in
    // one task before the bound. Edits sit mid-name so distances vary.
    val hot = (0 until 60).map { i =>
      (i.toLong, s"Banco d$i Brasil")
    }.toDF("id", "nome")
    val keys: Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
      Seq(nm => substring(nm, 1, 4), nm => substring(nm, -4, 4))
    val tiled = Linkage.fuzzyPairs(hot, "id", "nome", maxDist = 2, keys,
        maxBlock = 5)
      .as[(Long, Long, Long)].collect().toSet
    val plain = Linkage.fuzzyPairs(hot, "id", "nome", maxDist = 2, keys,
        maxBlock = 1000000)
      .as[(Long, Long, Long)].collect().toSet
    assert(tiled == plain, s"tiled ${tiled.size} vs plain ${plain.size}")
    assert(plain.nonEmpty, "the hot block must produce near pairs")
    // single-digit ids differ by one substitution -> distance 1 pairs exist
    assert(plain.contains((0L, 1L, 1L)), s"got ${plain.take(5)}")
  }

  test("editJoinDeletes: EQUALS brute-force all-pairs Levenshtein on real " +
      "names; short strings sharing no character still pair") {
    // real data slice with planted distance-1 variants
    val base = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 9 === 0)
      .select(col("c_custkey").as("id"),
        lower(trim(col("c_name"))).as("nm"))
    val variants = base.filter(col("id") % 2 === 0)
      .select((col("id") + 1000000L).as("id"),
        concat(substring(col("nm"), 1, 10),
          substring(col("nm"), 12, 100000)).as("nm"))
    val df = base.unionByName(variants)
    val got = Linkage.editJoinDeletes(df, "id", "nm", maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    val a = df.select(col("id").as("ia"), col("nm").as("na"))
    val b = df.select(col("id").as("ib"), col("nm").as("nb"))
    val brute = a.join(b, col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("na"), col("nb")).cast("long"))
      .filter(col("d") <= 1)
      .select("ia", "ib", "d").as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"deletes ${got.size} vs brute ${brute.size}")
    assert(brute.nonEmpty, "planted variants must pair")

    // short strings sharing nothing: "ab" vs "cd" at d=2 — both
    // neighborhoods contain "", so the empty-variant block pairs them
    // with no special path
    val short = Seq((1L, "ab"), (2L, "cd"), (3L, "abxyzw"))
      .toDF("id", "nm")
    val sp = Linkage.editJoinDeletes(short, "id", "nm", maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(sp == Set((1L, 2L, 2L)), s"got $sp")
  }

  test("editJoinDeletes with strata EQUALS the fuzzyPairs pass on the " +
      "same key (q142's re-expression is output-identical)") {
    // the q142 shape in miniature: id-like names, planted deletions
    // before the suffix, suffix-4 as the restriction key
    val base = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey"), col("c_name"))
    val variants = base.filter(col("c_custkey") % 7 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        concat(substring(col("c_name"), 1, 12),
          substring(col("c_name"), 14, 100000)).as("c_name"))
    val df = base.unionByName(variants)
    val blocked = Linkage.fuzzyPairs(df, "c_custkey", "c_name",
        maxDist = 1, blockKeys = Seq(nm => substring(nm, -4, 4)))
      .as[(Long, Long, Long)].collect().toSet
    val strat = Linkage.editJoinDeletes(
        df.select(col("c_custkey"), lower(trim(col("c_name"))).as("nm")),
        "c_custkey", "nm", maxDist = 1,
        strata = Some(nm => substring(nm, -4, 4)))
      .as[(Long, Long, Long)].collect().toSet
    assert(strat == blocked,
      s"strata ${strat.size} vs blocked ${blocked.size}")
    assert(blocked.nonEmpty, "planted variants must pair")
    // cross-strata distance-1 pairs exist in this id-dense corpus and
    // must be EXCLUDED by the stratum (they're what the unrestricted
    // join adds back)
    val full = Linkage.editJoinDeletes(
        df.select(col("c_custkey"), lower(trim(col("c_name"))).as("nm")),
        "c_custkey", "nm", maxDist = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(full.size > strat.size,
      s"expected cross-strata pairs, full ${full.size} strat ${strat.size}")
  }

  test("prCurve: hand curve with cross-class score ties and the " +
      "no-positives null branch") {
    // group A scores desc: 3.0 -> (2 pos), 2.0 -> (1 pos, 1 neg tied),
    // 1.0 -> (1 neg); R = 3
    val a = Seq((3.0, true), (3.0, true), (2.0, true), (2.0, false),
      (1.0, false)).map { case (sc, y) => ("A", sc, y) }
    val b = Seq((5.0, false), (4.0, false)).map {
      case (sc, y) => ("B", sc, y) }
    val got = Stats.prCurve((a ++ b).toDF("g", "s", "y"), Seq("g"),
        "s", "y")
      .as[(String, Double, Long, Long, Long,
        Double, Option[Double], Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7, r._8)))
      .toMap
    assert(got(("A", 3.0)) == ((2L, 0L, 1L, 1.0, Some(2.0 / 3.0),
      Some(4.0 / 5.0))))
    assert(got(("A", 2.0)) == ((3L, 1L, 0L, 3.0 / 4.0, Some(1.0),
      Some(6.0 / 7.0))))
    assert(got(("A", 1.0)) == ((3L, 2L, 0L, 3.0 / 5.0, Some(1.0),
      Some(6.0 / 8.0))))
    // no positives: precision 0, recall null, f1 defined (0)
    assert(got(("B", 5.0)) == ((0L, 1L, 0L, 0.0, None, Some(0.0))))
    assert(got(("B", 4.0)) == ((0L, 2L, 0L, 0.0, None, Some(0.0))))
  }

  test("fellegiSunterScore: hand m/u weights, smoothing, and the " +
      "three-way decision") {
    // labeled: 2 matches (both agree on f1; one agrees on f2),
    // 2 non-matches (none agree on f1; one agrees on f2)
    val labeled = Seq(
      (true, true, true), (true, true, false),
      (false, false, true), (false, false, false))
      .toDF("eh_par", "f1", "f2")
    // m1=(2+1)/4, u1=(0+1)/4 → wa1=ln(3); wd1=ln((2+1-2)/(2+1-0))=ln(1/3)
    // m2=(1+1)/4, u2=(1+1)/4 → wa2=ln(1)=0; wd2=ln(2/2)=0
    val cand = Seq(
      (1L, 2L, true, true), (3L, 4L, true, false),
      (5L, 6L, false, true))
      .toDF("id_a", "id_b", "f1", "f2")
    val got = Linkage.fellegiSunterScore(cand, labeled, Seq("f1", "f2"),
        "eh_par", upper = 1.0, lower = -1.0)
      .select("id_a", "pontuacao", "classificacao")
      .as[(Long, Double, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val ln3 = math.log(3.0)
    assert(math.abs(got(1L)._1 - ln3) < 1e-15 && got(1L)._2 == "match")
    assert(math.abs(got(3L)._1 - ln3) < 1e-15 && got(3L)._2 == "match")
    assert(math.abs(got(5L)._1 + ln3) < 1e-15 &&
      got(5L)._2 == "nao_match", s"got ${got(5L)}")
  }

  test("groupLinearFit: exact line recovered, degenerate groups yield " +
      "null coefficients") {
    val df = Seq(
      ("a", 0, 1.0), ("a", 1, 3.0), ("a", 2, 5.0), // y = 1 + 2x exactly
      ("b", 7, 9.0),                               // n < 2
      ("c", 4, 1.0), ("c", 4, 9.0),                // zero x-variance
    ).toDF("g", "x", "y")
    val got = Stats.groupLinearFit(df, Seq("g"), "x", "y")
      .as[(String, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("a")._2 == 3L && got("a")._3.contains(2.0) &&
      got("a")._4.contains(1.0), s"exact fit: ${got("a")}")
    assert(got("b")._3.isEmpty && got("b")._4.isEmpty, "n<2 must be null")
    assert(got("c")._3.isEmpty && got("c")._4.isEmpty,
      "zero x-variance must be null")
  }

  test("count-min sketch: est >= exact everywhere, split-and-merge equals " +
      "the whole build exactly, state bounded by depth*width") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text")
    val toks = docs
      .select(col("doc_id"), graft.llm.TextAnalysis.tokens(col("text")).as("__t"))
      .select(col("doc_id"), explode(col("__t")).as("w"))
    val (d, w) = (4, 64) // narrow width: force real collisions on 31 keys
    val whole = Incremental.cmsBuild(toks, "w", d, w)
    assert(whole.count() <= d.toLong * w,
      "sketch state must stay within depth*width cells")
    val exact = toks.groupBy("w").agg(count(lit(1L)).as("cnt"))
    val est = Incremental.cmsEstimate(whole, exact, "w", d, w)
      .join(exact, "w").select("w", "est", "cnt")
      .as[(String, Long, Long)].collect()
    assert(est.nonEmpty && est.forall { case (_, e, c) => e >= c },
      "count-min estimates are one-sided: never below the true count")
    // mergeability — shard sketches add cell-wise to the whole-corpus
    // build EXACTLY, not approximately
    val a = Incremental.cmsBuild(toks.filter(col("doc_id") % 2 === 0), "w", d, w)
    val b = Incremental.cmsBuild(toks.filter(col("doc_id") % 2 === 1), "w", d, w)
    val merged = a.unionByName(b).groupBy("i", "j").agg(sum(col("c")).as("c"))
      .as[(Int, Long, Long)].collect().toSet
    val direct = whole.as[(Int, Long, Long)].collect().toSet
    assert(merged == direct,
      "merging shard sketches must equal the whole-corpus build cell-for-cell")
  }

  test("Expectations.validate counts every planted violation exactly; " +
      "null FKs are NotNull's job, not RefIntegrity's") {
    import Expectations._
    val facts = Seq(
      (1L, Option(10L), Option("F"), Option(50.0)),   // clean
      (2L, Option(10L), Option("X"), Option(50.0)),   // bad status
      (2L, Option(99L), Option("O"), Option(500.0)),  // dup key + dangling FK + range
      (3L, None, Option("F"), None),                  // null FK (NotNull, not RI)
      (4L, Option(11L), None, Option(-1.0)))          // null status ok; range
      .toDF("id", "fk", "status", "preco")
    val dim = Seq(10L, 11L).toDF("k")
    val got = Expectations.validate(facts, Seq(
        NotNull("fk"),
        Accepted("status", Seq("F", "O")),
        InRange("preco", 0.0, 100.0),
        Unique(Seq("id")),
        RefIntegrity("fk", dim, "k")))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("not_null:fk", 1L, 5L),
      ("accepted_values:status", 1L, 5L),
      ("in_range:preco", 2L, 5L),
      ("unique:id", 1L, 5L),
      ("ref_integrity:fk", 1L, 4L)), s"got $got")
  }

  test("autocorrelation: hand ACF of 1..4 is exact at every lag") {
    val df = Seq((1, "1.00"), (2, "2.00"), (3, "3.00"), (4, "4.00"))
      .toDF("t", "x").withColumn("x", col("x").cast("decimal(18,2)"))
    val got = Timeseries.autocorrelation(df, "t", "x", maxLag = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // x̄ = 2.5, den = 5: r1 = 1.25/5, r2 = -1.5/5, r3 = -2.25/5 — all
    // arithmetic stays in exactly-representable doubles, compare ==
    assert(got == Map(1L -> ((3L, 0.25)), 2L -> ((2L, -0.3)),
      3L -> ((1L, -0.45))), s"got $got")
  }

  test("cusumChangepoints: closed form equals the recursive CUSUM and " +
      "the alarm gate fires on both sides") {
    // mean 12; slack 1: S+ = 0,0,0,1,2,3 and S- = 1,2,3,0,0,0 by the
    // textbook recursion; threshold 2.5 alarms at t=3 (low) and t=6
    val df = Seq((1, 10), (2, 10), (3, 10), (4, 14), (5, 14), (6, 14))
      .toDF("t", "x")
    val got = Timeseries
      .cusumChangepoints(df, "t", "x", slack = "1", threshold = "2.5")
      .select(col("t"), col("cusum_alta"), col("cusum_baixa"),
        col("alarme"))
      .as[(Int, Double, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, 0.0, 1.0, false), (2, 0.0, 2.0, false), (3, 0.0, 3.0, true),
      (4, 1.0, 0.0, false), (5, 2.0, 0.0, false), (6, 3.0, 0.0, true)),
      s"got $got")
  }

  test("giniStump: hand Gini argmax per feature, exact-tie broken on " +
      "the smaller threshold, empty right side never a candidate") {
    // feature x: t=1 and t=2 score the SAME F = 4.5 -> tie-break keeps
    // t=1; feature y separates perfectly at t=1 -> F = 6, gini 0/0
    val df = Seq(
      (1.0, 1.0, "a"), (1.0, 1.0, "a"), (2.0, 1.0, "a"),
      (2.0, 9.0, "b"), (3.0, 9.0, "b"), (3.0, 9.0, "b"))
      .toDF("x", "y", "rotulo")
    val got = Stats.giniStump(df, Seq("x", "y"), "rotulo")
      .as[(String, Double, Long, Long, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("x") == (("x", 1.0, 2L, 4L, 0.0, 0.375, 4.5)), s"got $got")
    assert(got("y") == (("y", 1.0, 3L, 3L, 0.0, 0.0, 6.0)), s"got $got")
  }

  test("spearmanCorr: tie-averaged doubled ranks match the hand " +
      "Pearson-on-ranks, symmetric, constant column yields null") {
    val df = Seq((1.0, 10.0, 1.0, 1.0, 5.0), (2.0, 20.0, 2.0, 1.0, 5.0),
      (2.0, 30.0, 2.0, 2.0, 5.0), (3.0, 40.0, 3.0, 2.0, 5.0))
      .toDF("a", "b", "x", "y", "k")
    val got = Stats.spearmanCorr(df,
      Seq(("a", "b"), ("b", "a"), ("x", "y"), ("a", "k")))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // a is monotone in b but with one tie: doubled ranks a=[2,5,5,8],
    // b=[2,4,6,8] -> rho = 72/(sqrt(72)*sqrt(80)); x/y is the classic
    // half-tied table -> 48/(sqrt(72)*sqrt(64)) = 1/sqrt(2)
    assert(got(("a", "b")) ==
      ((4L, Some(72.0 / (math.sqrt(72.0) * math.sqrt(80.0))))), s"got $got")
    assert(got(("b", "a"))._2 == got(("a", "b"))._2, s"got $got")
    assert(got(("x", "y")) ==
      ((4L, Some(48.0 / (math.sqrt(72.0) * math.sqrt(64.0))))), s"got $got")
    assert(got(("a", "k")) == ((4L, None)), s"got $got")
    graft.llm.CacheScope.releaseAll()
  }

  test("proportionZTest: hand z from exact counts, degenerate pooled " +
      "rates report null") {
    val df = Seq(("a", true), ("a", true), ("a", true), ("a", false),
      ("b", true), ("b", false), ("b", false), ("b", false),
      ("c", true)) // arm c must be ignored
      .toDF("braco", "sucesso")
    val got = Stats.proportionZTest(df, "braco", "sucesso", "a", "b")
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    val z = (0.75 - 0.25) /
      math.sqrt(0.5 * (1.0 - 0.5) * (1.0 / 4.0 + 1.0 / 4.0))
    assert(got == ((4L, 3L, 4L, 1L, Some(0.75), Some(0.25), Some(z))),
      s"got $got")
    // every trial succeeds -> zero pooled variance -> null z
    val allWin = Seq(("a", true), ("b", true)).toDF("braco", "sucesso")
    val g2 = Stats.proportionZTest(allWin, "braco", "sucesso", "a", "b")
      .select("z").as[Option[Double]].collect().head
    assert(g2.isEmpty, s"got $g2")
  }

  test("kruskalWallis: hand H with and without ties, all-tied data " +
      "reports null corrected H") {
    // no ties: A={1,2} B={3,4} -> H = 2.4, correction is identity
    val a = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0))
      .toDF("g", "v")
    val h0 = 3.0 * 116.0 / (4.0 * (4.0 + 1.0)) - 3.0 * (4.0 + 1.0)
    val got = Stats.kruskalWallis(a, "g", "v")
      .as[(String, Long, Double, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 2L, 1.5, 1L, h0, Some(h0))), s"got $got")
    assert(got("B") == (("B", 2L, 3.5, 1L, h0, Some(h0))), s"got $got")
    // full ties inside each group: sumT = 12 -> H/0.8 = 3.0 exactly
    val b = Seq(("A", 1.0), ("A", 1.0), ("B", 2.0), ("B", 2.0))
      .toDF("g", "v")
    val hc = Stats.kruskalWallis(b, "g", "v")
      .select("h_corr").as[Option[Double]].collect().toSet
    assert(hc == Set(Some(h0 / 0.8)), s"got $hc")
    // every value identical -> zero rank variance -> null corrected H
    val c = Seq(("A", 5.0), ("A", 5.0), ("B", 5.0)).toDF("g", "v")
    val nc = Stats.kruskalWallis(c, "g", "v")
      .select("h_corr").as[Option[Double]].collect().toSet
    assert(nc == Set(None), s"got $nc")
    graft.llm.CacheScope.releaseAll()
  }

  test("classicalDecomposition: hand 3-period decomposition — centered " +
      "trend with null edges, seasonal sums to ~0, value recomposes") {
    val df = Seq((1, 3), (2, 1), (3, 2), (4, 4), (5, 5)).toDF("t", "x")
    val got = Timeseries
      .classicalDecomposition(df, "t", "x", period = 3, scale = 0)
      .as[(Int, Double, Long, Option[Double], Option[Double],
        Option[Double])].collect().sortBy(_._1)
    // positions cycle 0,1,2,0,1; trend = exact centered means
    assert(got.map(r => (r._1, r._2, r._3, r._4)) === Seq(
      (1, 3.0, 0L, None), (2, 1.0, 1L, Some(6.0 / 3.0)),
      (3, 2.0, 2L, Some(7.0 / 3.0)), (4, 4.0, 0L, Some(11.0 / 3.0)),
      (5, 5.0, 1L, None)), s"got ${got.toSeq}")
    // seasonal components over one period center to ~0, and for every
    // interior row value = trend + seasonal + residual
    val seas = got.map(_._5.get)
    assert(math.abs(seas(0) + seas(1) + seas(2)) < 1e-12,
      s"got ${seas.toSeq}")
    for (r <- got if r._4.isDefined) {
      assert(math.abs(r._2 - (r._4.get + r._5.get + r._6.get)) < 1e-12,
        s"row $r does not recompose")
    }
    // edge rows: no trend -> no residual, but seasonal still reported
    assert(got(0)._6.isEmpty && got(4)._6.isEmpty)
  }

  test("itemCosineTopK: hand cosines, popularity normalization, " +
      "per-item ranking with bounded k") {
    val df = Seq((1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30),
      (4, 20), (5, 30)).toDF("cesta", "item")
    val got = Basket.itemCosineTopK(df, "cesta", "item", k = 2)
      .as[(Long, Int, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val c12 = 2.0 / (math.sqrt(3.0) * math.sqrt(3.0))
    val c13 = 1.0 / (math.sqrt(3.0) * math.sqrt(2.0))
    assert(got((10L, 1)) == ((20L, c12, 2L)), s"got $got")
    assert(got((10L, 2)) == ((30L, c13, 1L)), s"got $got")
    assert(got((20L, 1)) == ((10L, c12, 2L)), s"got $got")
    assert(got((30L, 1)) == ((10L, c13, 1L)), s"got $got")
    assert(got.size == 4, s"got $got")
    graft.llm.CacheScope.releaseAll()
  }

  test("decimal canary: the four DECIMAL shapes stay exact in-engine " +
      "(retired driver query q180 — decimals are BANNED from report " +
      "output, see SURVEY §3)") {
    // The round-10 driver run confirmed DECIMAL output columns are
    // unhashable in the correctness gate (pyarrow Decimal objects vs
    // DuckDB float64, equal values). This spec pins the SPARK side of
    // that experiment: the literal matrix round-trips exactly through
    // Spark's BigDecimal path, so any future red on a decimal-typed
    // column is a representation problem at the gate, never a value bug.
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(12345.67 AS DECIMAL(18,2)), CAST(42 AS DECIMAL(38,0)),
        |   CAST(1234.5 AS DECIMAL(38,6)),
        |   CAST(0.25 AS DECIMAL(38,24))),
        |  (CAST(-0.01 AS DECIMAL(18,2)), CAST(0 AS DECIMAL(38,0)),
        |   CAST(-7 AS DECIMAL(38,6)),
        |   CAST(0.000003814697265625 AS DECIMAL(38,24)))
        |AS t(c_dec_18_2, c_dec_38_0, c_dec_38_6, c_dec_38_24)""".stripMargin)
    val types = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(types("c_dec_18_2") == "DECIMAL(18,2)")
    assert(types("c_dec_38_0") == "DECIMAL(38,0)")
    assert(types("c_dec_38_6") == "DECIMAL(38,6)")
    assert(types("c_dec_38_24") == "DECIMAL(38,24)")
    val rows = df.orderBy("c_dec_38_0").collect()
    assert(rows.length == 2)
    assert(rows(1).getDecimal(0).toPlainString == "12345.67")
    assert(rows(1).getDecimal(3).toPlainString ==
      "0.250000000000000000000000")
    assert(rows(0).getDecimal(3).toPlainString ==
      "0.000003814697265625000000")
  }

  test("ksTest: hand D on a 3v3 case, identical samples at zero, " +
      "one-sided group null, null values dropped") {
    import spark.implicits._
    val df = Seq(
      // group g: A = {1,2,3}, B = {2,3,4} -> sup gap at v<2: D = 1/3
      ("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true),
      ("g", 2.0, false), ("g", 3.0, false), ("g", 4.0, false),
      // group i: identical samples -> D = 0
      ("i", 5.0, true), ("i", 5.0, false),
      // group h: only sample A -> d/lambda null
      ("h", 7.0, true),
      // null values never count
      ("g", Double.NaN, true))
      .toDF("grupo", "valor", "aberto")
      .withColumn("valor",
        when(isnan(col("valor")), lit(null)).otherwise(col("valor")))
    val got = Stats.ksTest(df, Seq("grupo"), "valor", "aberto")
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val (na, nb, dnum, d, lam) = got("g")
    assert((na, nb, dnum) == (3L, 3L, 3L))
    assert(d.contains(1.0 / 3.0))
    val ne = 9.0 / 6.0
    val wantLam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) / 3.0
    assert(math.abs(lam.get - wantLam) < 1e-12)
    assert(got("i") == ((1L, 1L, 0L, Some(0.0), Some(0.0))))
    val h = got("h")
    assert((h._1, h._2, h._4, h._5) == ((1L, 0L, None, None)))
  }

  test("welchTTest: hand t and Welch-Satterthwaite df, degenerate sides null") {
    import spark.implicits._
    val df = Seq(
      // A = {1,2,3,4}: m=2.5 s2=5/3; B = {2,4,6,8}: m=5 s2=20/3
      // t = -2.5/sqrt(5/12+5/3) = -sqrt(12)/2; df = 75/17
      ("g", 1.0, true), ("g", 2.0, true), ("g", 3.0, true), ("g", 4.0, true),
      ("g", 2.0, false), ("g", 4.0, false), ("g", 6.0, false), ("g", 8.0, false),
      // zero variance BOTH sides -> t/gl null, means still real
      ("z", 3.0, true), ("z", 3.0, true), ("z", 4.0, false), ("z", 4.0, false),
      // n=1 side -> null
      ("u", 1.0, true), ("u", 2.0, false), ("u", 3.0, false))
      .toDF("grupo", "valor", "aberto")
    val got = Stats.welchTTest(df, Seq("grupo"), "valor", "aberto")
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val g = got("g")
    assert((g._2, g._3) == ((4L, 4L)))
    assert(g._4.contains(2.5) && g._5.contains(5.0))
    assert(math.abs(g._6.get - (-math.sqrt(12.0) / 2.0)) < 1e-12)
    assert(math.abs(g._7.get - 75.0 / 17.0) < 1e-12)
    val z = got("z")
    assert(z._4.contains(3.0) && z._5.contains(4.0) && z._6.isEmpty && z._7.isEmpty)
    assert(got("u")._6.isEmpty && got("u")._7.isEmpty)
  }

  test("mannKendall: monotone series hit +/-1.96, constants null out, " +
      "duplicate timestamps collapse first") {
    import spark.implicits._
    import java.sql.Date
    def d(i: Int) = Date.valueOf(f"2026-01-${i}%02d")
    val rows =
      (1 to 5).map(i => ("up", d(i), i.toDouble)) ++
      (1 to 5).map(i => ("down", d(i), (10 - i).toDouble)) ++
      (1 to 5).map(i => ("flat", d(i), 7.0)) ++
      // dup: day 1 holds 1.0 split across two rows -> collapses to 1.0
      Seq(("dup", d(1), 0.5), ("dup", d(1), 0.5),
        ("dup", d(2), 2.0), ("dup", d(3), 3.0))
    val got = Timeseries.mannKendall(
        rows.toDF("grupo", "dia", "valor"), Seq("grupo"), "dia", "valor")
      .as[(String, Long, Long, Long, Option[Double], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    // up: S=10, var18 = 5*4*15 = 300 -> z = 9/sqrt(300/18) = 2.2045
    val up = got("up")
    assert((up._2, up._3, up._4) == ((5L, 10L, 300L)))
    assert(math.abs(up._5.get - 9.0 / math.sqrt(300.0 / 18.0)) < 1e-12)
    assert(up._6.contains("alta"))
    assert(got("down")._3 == -10L && got("down")._6.contains("baixa"))
    // flat: every pair ties -> S=0, tie term cancels var18 to 0 -> null z
    val fl = got("flat")
    assert((fl._3, fl._4, fl._5, fl._6) == ((0L, 0L, None, None)))
    // dup days collapse before pairing: n=3 strictly rising -> S=3
    assert((got("dup")._2, got("dup")._3) == ((3L, 3L)))
  }

  test("liftTable: top-decile capture/lift by hand, ties broken by id, " +
      "cumulative rates exact") {
    import spark.implicits._
    // scores 10..1, ids 1..10, events at the two TOP scores; 5 buckets
    // of 2 rows each -> bucket 1 captures both events, lift = 5
    val df = (1 to 10).map(i =>
      ("g", i.toLong, (11 - i).toDouble, i <= 2))
      .toDF("grupo", "id", "score", "evento")
    val got = Stats.liftTable(df, Seq("grupo"), "id", "score", "evento",
        buckets = 5)
      .as[(String, Long, Long, Long, Option[Double], Double, Option[Double])]
      .collect().map(r => r._2 -> r).toMap
    assert(got(1L) == (("g", 1L, 2L, 2L, Some(1.0), 1.0, Some(5.0))))
    val b3 = got(3L)
    assert(b3._4 == 0L && b3._5.contains(1.0))
    assert(math.abs(b3._6 - 1.0 / 3.0) < 1e-15)
    assert(math.abs(b3._7.get - 10.0 / 6.0) < 1e-15)
    // deterministic tie split: equal scores order by id ASC across the
    // bucket boundary — the event at id 2 lands in bucket 1, id 3 in 2
    val tied = Seq(("t", 1L, 9.0, false), ("t", 2L, 5.0, true),
      ("t", 3L, 5.0, false), ("t", 4L, 1.0, false))
      .toDF("grupo", "id", "score", "evento")
    val tg = Stats.liftTable(tied, Seq("grupo"), "id", "score", "evento",
        buckets = 2)
      .as[(String, Long, Long, Long, Option[Double], Double, Option[Double])]
      .collect().map(r => r._2 -> r).toMap
    assert(tg(1L)._4 == 1L && tg(2L)._4 == 0L, s"got $tg")
  }

  test("theilSen: hand slope/intercept medians, outlier-robust where " +
      "OLS is not, single-point group nulls out") {
    import spark.implicits._
    val rows =
      // g: (1,1),(2,2),(3,10) -> slopes {1, 4.5, 8} median 4.5;
      // residuals v-4.5x = {-3.5,-7,-3.5} median -3.5
      Seq(("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", 3.0, 10.0)) ++
      // r: perfect line y=x with ONE wild outlier at x=5 -> TS slope
      // stays 1 (median of 10 pairwise slopes), OLS would not
      Seq(("r", 1.0, 1.0), ("r", 2.0, 2.0), ("r", 3.0, 3.0),
        ("r", 4.0, 4.0), ("r", 5.0, 100.0)) ++
      Seq(("solo", 7.0, 3.0))
    val got = Timeseries.theilSen(
        rows.toDF("grupo", "x", "v"), Seq("grupo"), "x", "v")
      .as[(String, Long, Option[Long], Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val g = got("g")
    assert((g._2, g._3) == ((3L, Some(3L))))
    assert(g._4.contains(4.5) && g._5.contains(-3.5), s"g: $g")
    val r = got("r")
    assert(r._4.contains(1.0), s"TS slope must shrug the outlier: $r")
    assert(r._5.contains(0.0), s"intercept of the clean line: $r")
    assert(got("solo")._3.isEmpty && got("solo")._4.isEmpty)
  }

  test("cramersV: perfect association = 1 (zero-observed cells counted), " +
      "independence = 0, single-category side null") {
    import spark.implicits._
    val df = Seq(
      // g: a == b always -> V = 1, and chi2 = 4 ONLY if the two
      // zero-observed cells contribute their (0-E)^2/E
      ("g", "x", "x"), ("g", "x", "x"), ("g", "y", "y"), ("g", "y", "y"),
      // i: uniform independent 2x2 -> chi2 = 0
      ("i", "x", "x"), ("i", "x", "y"), ("i", "y", "x"), ("i", "y", "y"),
      // s: one-category a side -> dof 0 -> nulls
      ("s", "x", "p"), ("s", "x", "q"))
      .toDF("grupo", "a", "b")
    val got = Stats.cramersV(df, Seq("grupo"), "a", "b")
      .as[(String, Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val g = got("g")
    assert((g._2, g._3, g._4, g._5) == ((4L, 2L, 2L, 1L)))
    assert(math.abs(g._6.get - 4.0) < 1e-12, s"chi2 ${g._6}")
    assert(math.abs(g._7.get - 1.0) < 1e-12)
    assert(got("i")._6.contains(0.0) && got("i")._7.contains(0.0))
    assert(got("s")._6.isEmpty && got("s")._7.isEmpty)
  }

  test("mutualInfo: perfect association = ln 2 with NMI 1, independence " +
      "= 0, single-valued margin nulls NMI only") {
    import spark.implicits._
    val df = Seq(
      ("g", "x", "x"), ("g", "x", "x"), ("g", "y", "y"), ("g", "y", "y"),
      ("i", "x", "x"), ("i", "x", "y"), ("i", "y", "x"), ("i", "y", "y"),
      ("s", "x", "p"), ("s", "x", "q"))
      .toDF("grupo", "a", "b")
    val got = Stats.mutualInfo(df, Seq("grupo"), "a", "b")
      .as[(String, Long, Double, Double, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    val g = got("g")
    assert(math.abs(g._3 - math.log(2.0)) < 1e-12)
    assert(math.abs(g._4 - math.log(2.0)) < 1e-12 &&
      math.abs(g._5 - math.log(2.0)) < 1e-12)
    assert(math.abs(g._6.get - 1.0) < 1e-12)
    assert(got("i")._3 == 0.0 && got("i")._6.contains(0.0))
    val s = got("s")
    assert(s._3 == 0.0 && s._4 == 0.0 && s._6.isEmpty,
      "zero-entropy margin: MI 0, NMI undefined")
  }

  test("giniIndex: equality = 0, one-owner = (n-1)/n, negatives null out") {
    import spark.implicits._
    val df = Seq(
      ("eq", 5.0), ("eq", 5.0), ("eq", 5.0),
      ("uno", 0.0), ("uno", 0.0), ("uno", 10.0),
      ("neg", -1.0), ("neg", 5.0))
      .toDF("grupo", "valor")
    val got = Stats.giniIndex(df, Seq("grupo"), "valor", scale = 2)
      .as[(String, Long, Double, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("eq")._3 == 15.0 && got("eq")._4.contains(0.0))
    assert(math.abs(got("uno")._4.get - 2.0 / 3.0) < 1e-12)
    assert(got("neg")._4.isEmpty, "negative values must null gini, not lie")
  }

  test("cupedAdjust: exact linear covariate fully de-biases arm means, " +
      "variance factor hits 0, zero-variance x nulls out") {
    import spark.implicits._
    val df = Seq(
      // y = 3x exactly -> theta 3, both adjusted means = 7.5, 1-rho2 = 0
      ("g", 0L, 1.0, 3.0), ("g", 0L, 2.0, 6.0),
      ("g", 1L, 3.0, 9.0), ("g", 1L, 4.0, 12.0),
      // constant x -> theta undefined -> null adjusted
      ("c", 0L, 2.0, 1.0), ("c", 1L, 2.0, 5.0))
      .toDF("grupo", "braco", "x", "y")
    val got = Stats.cupedAdjust(df, Seq("grupo"), "braco", "y", "x")
      .as[(String, Long, Long, Double, Option[Double], Option[Double],
        Option[Double])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val a = got(("g", 0L)); val b = got(("g", 1L))
    assert(a._4 == 4.5 && b._4 == 10.5)
    assert(math.abs(a._5.get - 7.5) < 1e-12 && math.abs(b._5.get - 7.5) < 1e-12)
    assert(a._6.contains(3.0) && math.abs(a._7.get) < 1e-12)
    assert(got(("c", 0L))._5.isEmpty && got(("c", 0L))._6.isEmpty)
  }
}
