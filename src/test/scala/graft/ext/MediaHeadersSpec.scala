package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Codec-free container-header parsing: the synthesized PNG/JPEG/WAV/AVI
  * headers must round-trip through BOTH parsers — the pure-Column
  * hex/substring/conv parser (what the `media_dims` oracle replays in
  * DuckDB) and the JVM byte parser behind the mapPartitions decode seam —
  * and the two must agree row-for-row. */
class MediaHeadersSpec extends SparkSuite {

  private lazy val docs =
    graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
  private lazy val media = Multimodal.mediaWithHeaders(docs)

  private lazy val parsed: Array[Row] = Multimodal
    .withHeaderMeta(media.select("media_id", "kind", "payload"),
      hex(col("payload")))
    .orderBy("media_id")
    .collect()

  private def optInt(r: Row, field: String): Option[Int] =
    if (r.isNullAt(r.fieldIndex(field))) None else Some(r.getAs[Int](field))

  test("Column parser round-trips every synthesized header field") {
    assert(parsed.nonEmpty)
    val formats = parsed.map(_.getAs[String]("format")).toSet
    assert(formats === Set("png", "jpeg", "webp", "gif", "wav", "avi"))
    parsed.foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (1 + id % 1024).toInt
      val h = (1 + (id * 7) % 1024).toInt
      r.getAs[String]("format") match {
        case "png" | "jpeg" | "webp" | "gif" =>
          assert(id % 3 === 0)
          assert(optInt(r, "width") === Some(w), s"media $id width")
          assert(optInt(r, "height") === Some(h), s"media $id height")
          assert(optInt(r, "n_frames") === Some(1))
          assert(optInt(r, "sample_rate") === None)
        case "wav" =>
          assert(id % 3 === 1)
          assert(optInt(r, "width") === None)
          assert(optInt(r, "sample_rate") === Some((8000 + (id % 8) * 4000).toInt))
          assert(optInt(r, "channels") === Some((1 + id % 2).toInt))
        case "avi" =>
          assert(id % 3 === 2)
          assert(optInt(r, "width") === Some(w))
          assert(optInt(r, "height") === Some(h))
          assert(optInt(r, "n_frames") === Some((1 + id % 32).toInt))
        case f => fail(s"unexpected format $f for media $id")
      }
    }
  }

  test("JVM HeaderCodec agrees with the Column parser row-for-row") {
    parsed.foreach { r =>
      val m = Multimodal.HeaderCodec.parse(r.getAs[Array[Byte]]("payload"))
      val id = r.getAs[Long]("media_id")
      assert(m.format === r.getAs[String]("format"), s"media $id format")
      assert(m.width === optInt(r, "width"), s"media $id width")
      assert(m.height === optInt(r, "height"), s"media $id height")
      // the Column parser reports n_frames=1 for stills; the JVM parser
      // reports the same through frames()
      assert(m.sampleRate === optInt(r, "sample_rate"), s"media $id rate")
      assert(m.channels === optInt(r, "channels"), s"media $id channels")
      assert(m.nFrames === optInt(r, "n_frames"), s"media $id n_frames")
      // the decode-seam helper additionally defaults frame-less known
      // formats (wav) to 1 frame for the feature pipeline
      val nf = Multimodal.HeaderCodec.frames(r.getAs[Array[Byte]]("payload"))
      assert(nf === optInt(r, "n_frames").orElse(Some(1)), s"media $id frames()")
    }
  }

  test("JPEG segment walk survives the planted FF C0 decoy where a " +
      "naive substring search would misparse") {
    val jpeg = parsed.find(_.getAs[String]("format") == "jpeg").get
    val hx = jpeg.getAs[Array[Byte]]("payload")
      .map("%02X".format(_)).mkString
    val naive = hx.indexOf("FFC0")
    // the decoy FF C0 sits inside the DQT payload (0-based hex offset 50),
    // BEFORE the real SOF0 at offset 56 — instr-style parsing reads dims
    // out of quantization-table bytes
    assert(naive === 50, "decoy is the first FFC0 occurrence")
    val naiveWidth = Integer.parseInt(hx.substring(naive + 14, naive + 18), 16)
    assert(optInt(jpeg, "width").get !== naiveWidth,
      "naive parse yields wrong dims; the walk does not")
  }

  test("both parsers agree at the walk bound: SOF found as the 9th " +
      "segment, not as the 10th") {
    import spark.implicits._
    // 4-byte COM filler segments (marker FFFE, len 4)
    def jpegWithPreamble(fillers: Int): String =
      "FFD8" + ("FFFE00040000" * fillers) +
        "FFC0" + "0011" + "08" + "0064" + "0032" + "03011100021101031101"
    val at9 = jpegWithPreamble(8)  // SOF is segment 9: last inspected
    val at10 = jpegWithPreamble(9) // SOF is segment 10: out of reach
    val out = Multimodal.withHeaderMeta(
      Seq(at9, at10).toDF("hx"), col("hx"))
      .select(col("hx"), col("width"), col("height")).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(out(at9) === Some(50), "Column parser reads segment 9")
    assert(out(at10) === None, "Column parser stops before segment 10")
    def jvm(hx: String) = Multimodal.HeaderCodec.parse(
      hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    assert(jvm(at9).width === Some(50), "JVM parser reads segment 9 too")
    assert(jvm(at10).width === None, "JVM parser stops identically")
  }

  test("planted WebP (VP8X) and GIF headers parse to exact dims in both " +
      "parsers") {
    import spark.implicits._
    // VP8X canvas 639×479 (stored as width−1 = 0x27E, height−1 = 0x1DE,
    // 24-bit LE) and GIF89a 320×200 (LE16), both with a short body
    val webp = "52494646" + "24000000" + "57454250" + "56503858" +
      "0A000000" + "00" + "000000" + "7E0200" + "DE0100" + "AABBCCDD"
    val gif = "474946383961" + "4001" + "C800" + "F70000" + "AABBCCDDEEFF" +
      "00112233445566778899"
    val out = Multimodal.withHeaderMeta(
      Seq(webp, gif).toDF("hx"), col("hx"))
      .select("hx", "format", "width", "height", "n_frames").collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(out(webp) === (("webp", 639, 479, 1)))
    assert(out(gif) === (("gif", 320, 200, 1)))
    def jvm(hx: String) = Multimodal.HeaderCodec.parse(
      hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    assert(jvm(webp) === Multimodal.HeaderCodec.Meta(
      "webp", Some(639), Some(479), Some(1), None, None))
    assert(jvm(gif) === Multimodal.HeaderCodec.Meta(
      "gif", Some(320), Some(200), Some(1), None, None))
  }

  test("RIFF fields are not trusted past the fourCC guards: a JUNK chunk " +
      "before 'fmt ' (WAV) or a non-hdrl LIST (AVI) parses as unknown, " +
      "not garbage (ADVICE r6)") {
    import spark.implicits._
    // legal WAV layout with a 4-byte JUNK chunk before 'fmt ' — fixed-
    // offset reads would report the JUNK bytes as sample_rate
    val junkWav = "52494646" + "28000000" + "57415645" +
      "4A554E4B" + "04000000" + "DEADBEEF" + // JUNK chunk
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0200" + "1000" + "64617461" + "00000000"
    // AVI whose first LIST is 'INFO', not 'hdrl' — avih is elsewhere
    val infoAvi = "52494646" + "30000000" + "41564920" + "4C495354" +
      "08000000" + "494E464F" + "AABBCCDD" +
      "4C495354" + "08000000" + "6864726C" + "00000000" + "0000000000000000"
    val out = Multimodal.withHeaderMeta(
      Seq(junkWav, infoAvi).toDF("hx"), col("hx"))
      .select("hx", "format").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out(junkWav) === "unknown")
    assert(out(infoAvi) === "unknown")
    def jvm(hx: String) = Multimodal.HeaderCodec.parse(
      hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    assert(jvm(junkWav).format === "unknown")
    assert(jvm(infoAvi).format === "unknown")
  }

  test("truncated and garbage payloads never throw, and the two parsers " +
      "CLASSIFY identically (signature present = recognized, fields " +
      "best-effort)") {
    val garbage = Seq[Array[Byte]](
      null,
      Array[Byte](),
      "plain text payload, no container header".getBytes("UTF-8"),
      "RIFF1234WAV".getBytes("UTF-8")) // truncated RIFF: no WAVE tag
    garbage.foreach { p =>
      val m = Multimodal.HeaderCodec.parse(p)
      assert(m.format === "unknown", s"payload ${Option(p).map(_.length)}")
    }
    // bare SOI classifies as jpeg in BOTH parsers (signature present),
    // with no dims — the aligned-classification contract
    val soi = Multimodal.HeaderCodec.parse(
      Array[Byte](0xff.toByte, 0xd8.toByte))
    assert(soi.format === "jpeg" && soi.width === None)
    // a VP8X WebP cut before its height bytes still classifies as webp
    // in both parsers (the Column twin keys on the same fourCCs)
    val cutWebp = "52494646" + "24000000" + "57454250" + "56503858" +
      "0A000000" + "00000000" + "7E02"
    val jvmCut = Multimodal.HeaderCodec.parse(
      cutWebp.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
    assert(jvmCut.format === "webp")
    assert(jvmCut.height === None, "no height bytes at all")
    import spark.implicits._
    val hxs = Seq("", "FFD8", "5249464631323334574156",
      "706C61696E2074657874", cutWebp)
    val out = Multimodal.withHeaderMeta(hxs.toDF("hx"), col("hx"))
      .select(col("hx"), col("format")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("") === "unknown")
    assert(out("FFD8") === "jpeg")
    assert(out("5249464631323334574156") === "unknown")
    assert(out("706C61696E2074657874") === "unknown")
    assert(out(cutWebp) === "webp")
  }

  test("extractFeatures and resize consume the parsed dims") {
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    feats.foreach { r =>
      val id = r.getAs[Long]("media_id")
      if (id % 3 == 0)
        assert(r.getAs[Int]("width") === (1 + id % 1024).toInt)
      if (id % 3 == 1) { // wav: no spatial dims
        assert(r.getAs[Int]("width") === 0)
        assert(r.getAs[Int]("n_frames") === 1)
      }
      if (id % 3 == 2)
        assert(r.getAs[Int]("n_frames") === (1 + id % 32).toInt)
    }
    val resized = Multimodal.resize(media, maxDim = 256).collect()
    resized.foreach { r =>
      if (r.getAs[String]("kind") == "audio") {
        assert(r.getAs[Int]("width") === 0, "0-dim audio passes through")
        assert(r.getAs[Double]("scale") === 1.0)
      } else {
        assert(r.getAs[Int]("width") <= 256 && r.getAs[Int]("width") >= 1)
      }
    }
  }

  test("BmpCodec decodes a hand-built 24-bpp BMP exactly: bottom-up rows " +
      "undone, row padding stripped, B,G,R order mapped to 0xRRGGBB") {
    // 2×2 image, rowSize = ceil(6/4)·4 = 8 → 2 pad bytes per row.
    // Image pixels (top-down): (0,0)=red, (1,0)=green, (0,1)=blue,
    // (1,1)=white. File stores the BOTTOM row first.
    def le(v: Int, n: Int): Seq[Int] = (0 until n).map(i => (v >> (8 * i)) & 0xff)
    val header = Seq('B'.toInt, 'M'.toInt) ++ le(54 + 16, 4) ++ le(0, 4) ++
      le(54, 4) ++ le(40, 4) ++ le(2, 4) ++ le(2, 4) ++ le(1, 2) ++
      le(24, 2) ++ le(0, 4) ++ le(16, 4) ++ le(2835, 4) ++ le(2835, 4) ++
      le(0, 4) ++ le(0, 4)
    val bottomRow = Seq(0xff, 0, 0, 0xff, 0xff, 0xff, 0xde, 0xad) // blue, white, pad
    val topRow = Seq(0, 0, 0xff, 0, 0xff, 0, 0, 0)                // red, green, pad
    val bytes = (header ++ bottomRow ++ topRow).map(_.toByte).toArray
    val Some((w, h, px)) = Multimodal.BmpCodec.decode(bytes)
    assert((w, h) === ((2, 2)))
    assert(px.toSeq === Seq(0xff0000, 0x00ff00, 0x0000ff, 0xffffff))
    // non-conforming inputs return None, never garbage
    assert(Multimodal.BmpCodec.decode(null).isEmpty)
    assert(Multimodal.BmpCodec.decode(bytes.take(53)).isEmpty, "truncated header")
    assert(Multimodal.BmpCodec.decode(bytes.dropRight(1)).isEmpty, "truncated pixels")
    val wrongBpp = bytes.clone(); wrongBpp(28) = 32
    assert(Multimodal.BmpCodec.decode(wrongBpp).isEmpty, "32 bpp rejected")
    val compressed = bytes.clone(); compressed(30) = 1
    assert(Multimodal.BmpCodec.decode(compressed).isEmpty, "BI_RLE8 rejected")
  }

  test("BmpCodec.encode is decode's exact inverse, and bmpResizeFeatures " +
      "picks the nearest-neighbor source pixels the formula predicts") {
    // round-trip: arbitrary pixels, odd width (padding exercised)
    val w = 5; val h = 3
    val px = Array.tabulate(w * h)(i => (i * 2654435761L & 0xffffff).toInt)
    val Some((w2, h2, px2)) =
      Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(w, h, px))
    assert((w2, h2) === ((w, h)))
    assert(px2.toSeq === px.toSeq)
    // resample: a 16×2 image fits 8×8 by halving width (s = 0.5,
    // tw = 8, th = max(1, round(2·0.5)) = 1); source x = x'·16/8 = 2x',
    // source y = y'·2/1 = 0 — the formula's exact floor-division picks
    val doc = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
      .where(col("doc_id") === 15L) // w = 15%16+1 = 16, h = 105%12+1 = 10
    val feats = Multimodal.bmpFeatures(Multimodal.mediaBmp(doc)).head()
    assert(feats.getAs[Int]("width") === 16 && feats.getAs[Int]("height") === 10)
    val rs = Multimodal.bmpResizeFeatures(Multimodal.mediaBmp(doc)).head()
    // s = 8/16 = 0.5 → tw 8, th max(1, round(10·0.5)) = 5
    assert(rs.getAs[Int]("width") === 8 && rs.getAs[Int]("height") === 5)
    // spot-check the checksum against a direct formula evaluation
    val id = 15L
    var ck = 0L
    for (y <- 0 until 5; x <- 0 until 8) {
      val sx = x * 16 / 8; val sy = y * 10 / 5
      val r = (9 * id + 13 * sx + sy) % 256
      val g = (5 * id + sx + 11 * sy) % 256
      val b = (id + 3 * sx + 7 * sy) % 256
      ck += (y * 8 + x + 1).toLong * (r + 2 * g + 3 * b)
    }
    assert(rs.getAs[Long]("checksum") === ck)
  }

  test("mediaBmp synthesizes conforming files and bmpFeatures' decode " +
      "matches a direct formula evaluation") {
    val feats = Multimodal.bmpFeatures(Multimodal.mediaBmp(docs))
      .orderBy("media_id").collect()
    val nDocs = docs.count()
    assert(feats.length === nDocs, "every synthesized BMP must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 16 + 1).toInt
      val h = (id * 7 % 12 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sr = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val red = (9 * id + 13 * x + y) % 256
        val g = (5 * id + x + 11 * y) % 256
        val b = (id + 3 * x + 7 * y) % 256
        sr += red
        ck += (y * w + x + 1).toLong * (red + 2 * g + 3 * b)
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("decodeRle8 walks the full escape grammar on a hand-built " +
      "stream: runs, absolute mode with word padding, delta background, " +
      "early EOF, rejections") {
    // 4x3 image, palette: idx 0 -> black, 1 -> red, 2 -> green, 3 -> blue
    def bmp(data: Array[Int]): Array[Byte] = {
      val pal = Array(
        0, 0, 0, 0, /*1*/ 0, 0, 0xff, 0, /*2*/ 0, 0xff, 0, 0,
        /*3*/ 0xff, 0, 0, 0) // stored B,G,R,0
      val b = new Array[Byte](54 + 16 + data.length)
      def putLe(off: Int, v: Int, n: Int): Unit = {
        var i = 0
        while (i < n) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
      }
      b(0) = 'B'.toByte; b(1) = 'M'.toByte
      putLe(2, b.length, 4); putLe(10, 54 + 16, 4); putLe(14, 40, 4)
      putLe(18, 4, 4); putLe(22, 3, 4); putLe(26, 1, 2); putLe(28, 8, 2)
      putLe(30, 1, 4); putLe(34, data.length, 4); putLe(46, 4, 4)
      pal.zipWithIndex.foreach { case (v, i) => b(54 + i) = v.toByte }
      data.zipWithIndex.foreach { case (v, i) => b(70 + i) = v.toByte }
      b
    }
    val red = 0xff0000; val green = 0x00ff00; val blue = 0x0000ff
    // stored row 0 (image row 2): run of 4 red; EOL
    // stored row 1 (image row 1): absolute mode 3 indices (2,3,2) + pad,
    //   then run 1 blue; EOL
    // stored row 2 (image row 0): delta (2,0) skips two (background),
    //   run 2 green; EOF
    val data = Array(
      4, 1, 0, 0,
      0, 3, 2, 3, 2, 0 /*pad*/, 1, 3, 0, 0,
      0, 2, 2, 0, 2, 2, 0, 1)
    val Some((w, h, px)) = Multimodal.BmpCodec.decodeRle8(bmp(data))
    assert((w, h) === (4, 3))
    assert(px.toSeq === Seq(
      0, 0, green, green,          // image row 0: delta-skipped bg, then 2 green
      green, blue, green, blue,    // image row 1: abs(2,3,2) + run 1 blue
      red, red, red, red))         // image row 2: run of 4 red
    // early EOF: everything after stays background (palette[0])
    val Some((_, _, px2)) = Multimodal.BmpCodec.decodeRle8(
      bmp(Array(2, 1, 0, 1)))
    assert(px2.toSeq === Seq(0, 0, 0, 0, 0, 0, 0, 0, red, red, 0, 0))
    // rejections: truncated stream (no EOF), run overflowing the row
    // boundary, out-of-range palette index
    assert(Multimodal.BmpCodec.decodeRle8(bmp(Array(4, 1, 0, 0))).isEmpty,
      "stream without EOF must be rejected")
    assert(Multimodal.BmpCodec.decodeRle8(bmp(Array(5, 1, 0, 1))).isEmpty,
      "run past the row end must be rejected")
    assert(Multimodal.BmpCodec.decodeRle8(bmp(Array(1, 9, 0, 1))).isEmpty,
      "index beyond biClrUsed must be rejected")
    assert(Multimodal.BmpCodec.decodeRle8(null).isEmpty)
  }

  test("mediaBmpRle synthesizes conforming RLE8 streams and " +
      "bmpRleFeatures' decode matches a direct formula evaluation") {
    val feats = Multimodal.bmpRleFeatures(Multimodal.mediaBmpRle(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized RLE8 must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 14 + 2).toInt
      val h = (id * 3 % 10 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sr = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = (3 * id + 5 * (x / 4) + 11 * y) % 256
        val red = (7 * idx) % 256
        val g = (5 * idx) % 256
        val b = (3 * idx) % 256
        sr += red
        ck += (y * w + x + 1).toLong * (red + 2 * g + 3 * b)
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("mediaAviDib synthesizes conforming AVIs and aviFeatures' nested " +
      "LIST walk + frame decode matches a direct formula evaluation") {
    val feats = Multimodal.aviFeatures(Multimodal.mediaAviDib(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized AVI must decode")
    feats.take(40).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 8 + 1).toInt
      val h = (id * 3 % 6 + 1).toInt
      val nf = (id % 5 + 2).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[Long]("n_frames") === nf.toLong)
      var luma = 0L; var ck = 0L
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
        val b = (id + f + 3 * x + 7 * y) % 256
        val g = (5 * id + 2 * f + x + 11 * y) % 256
        val red = (9 * id + 3 * f + 13 * x + y) % 256
        luma += 299 * red + 587 * g + 114 * b
        ck += (f + 1).toLong * (y * w + x + 1) * (red + 2 * g + 3 * b)
      }
      assert(r.getAs[Long]("luma_milli") === luma, s"luma mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
    // rejections on the decoder directly: truncated payload; compressed
    // strf (biCompression != 0) must refuse rather than decode garbage
    val one = Multimodal.mediaAviDib(docs.limit(1))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.AviCodec.decodeDib(one.dropRight(1)).isEmpty)
    val compressed = one.clone()
    // strf payload starts after RIFF(12) + LIST hdrl hdr(12) + avih(64)
    // + LIST strl hdr(12) + strh(64) + strf hdr(8); compression at +16
    compressed(12 + 12 + 64 + 12 + 64 + 8 + 16) = 1
    assert(Multimodal.AviCodec.decodeDib(compressed).isEmpty,
      "compressed frames must be rejected")
    assert(Multimodal.AviCodec.decodeDib(null).isEmpty)
  }

  test("sceneCuts fires on the planted midpoint jumps and stays quiet " +
      "on smooth drift") {
    val cuts = Multimodal.sceneCuts(Multimodal.mediaAviScenes(docs),
      threshold = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    val odd = cuts.filter(_._1 % 2 == 1).values
    val even = cuts.filter(_._1 % 2 == 0).values
    assert(odd.forall(_._1 == 0L),
      "smooth (odd-id) videos must report zero cuts")
    val fired = even.count(_._1 >= 1L)
    info(s"even-id videos with a detected cut: $fired / ${even.size}")
    // flat videos (1×1 etc.) legitimately can't show a visual jump; the
    // majority of planted jumps must fire
    assert(fired * 2 > even.size, "most planted scene jumps must fire")
    assert(even.count(_._1 == 1L) === fired,
      "a single planted jump must yield exactly one cut when detected")
  }

  test("mediaAviMjpeg synthesizes conforming Motion-JPEG AVIs: the MJPG " +
      "fourcc dispatch routes every 00dc chunk through the full JPEG " +
      "entropy decode and matches the DC-chain formula") {
    val feats = Multimodal.aviFeatures(Multimodal.mediaAviMjpeg(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized MJPEG must decode")
    feats.take(40).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val wb = (id % 3 + 1).toInt; val hb = (2 - id % 2).toInt
      val nf = (id % 5 + 2).toInt
      val w = 8 * wb; val h = 8 * hb
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[Long]("n_frames") === nf.toLong)
      // DC prediction chain: block j value = 128 + cumsum(diff), negated
      // from the midpoint frame on even ids
      val s = new Array[Int](wb * hb)
      var acc = 0
      for (j <- 0 until wb * hb) {
        val mag = (8 + (id * 7 + j * 3) % 8).toInt
        acc += (if ((id + j) % 2 == 0) mag else -mag)
        s(j) = acc
      }
      var luma = 0L; var ck = 0L
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
        val inv = id % 2 == 0 && f >= nf / 2
        val v = 128 + (if (inv) -s((y / 8) * wb + x / 8) else s((y / 8) * wb + x / 8))
        luma += 1000L * v
        ck += (f + 1).toLong * (y * w + x + 1) * (6L * v)
      }
      assert(r.getAs[Long]("luma_milli") === luma, s"luma mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
    // the strict decodeDib must still REJECT compressed streams — only
    // the dispatching decodeFrames upgrade accepts MJPG
    val one = Multimodal.mediaAviMjpeg(docs.limit(1))
      .collect().head.getAs[Array[Byte]]("payload")
    assert(Multimodal.AviCodec.decodeDib(one).isEmpty,
      "decodeDib must reject the MJPG fourcc")
    assert(Multimodal.AviCodec.decodeFrames(one).isDefined)
    assert(Multimodal.AviCodec.decodeFrames(one.dropRight(1)).isEmpty,
      "a truncated final frame must poison the whole video")
  }

  test("mediaAviAv interleaves PCM audio beside DIB video in one RIFF: " +
      "decodeAv demuxes both streams, attaches strf headers by hdrl " +
      "order, and the cross-modal checksum pins the interleaving") {
    val feats = Multimodal.avFeatures(Multimodal.mediaAviAv(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized A/V must decode")
    feats.take(30).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 8 + 1).toInt; val h = (id * 3 % 6 + 1).toInt
      val nf = (id % 5 + 2).toInt; val spf = (id % 7 + 3).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      assert(r.getAs[Long]("n_frames") === nf.toLong)
      assert(r.getAs[Long]("n_samples") === (nf * spf).toLong)
      var luma = 0L; var ck = 0L
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w) {
        val b = (id + f + 3 * x + 7 * y) % 256
        val g = (5 * id + 2 * f + x + 11 * y) % 256
        val red = (9 * id + 3 * f + 13 * x + y) % 256
        luma += 299 * red + 587 * g + 114 * b
        ck += (f + 1).toLong * (y * w + x + 1) * (red + 2 * g + 3 * b)
      }
      assert(r.getAs[Long]("luma_milli") === luma)
      assert(r.getAs[Long]("checksum") === ck)
      var sAbs = 0L; var sSq = 0L; var avCk = 0L
      for (k <- 0 until nf * spf) {
        val s = ((3 * id + 17 * k) % 65536) - 32768
        sAbs += math.abs(s); sSq += s * s
        avCk += (k / spf + 1) * math.abs(s)
      }
      assert(r.getAs[Long]("sum_abs") === sAbs, s"audio sum for $id")
      assert(r.getAs[Long]("sum_sq") === sSq)
      assert(r.getAs[Long]("av_checksum") === avCk,
        s"interleaving checksum for $id")
    }
    // pick a payload with >= 2 differing audio chunks and byte-swap two
    // '01wb' chunks: same sample MULTISET, different interleaving — only
    // av_checksum may move, and it MUST
    val one = Multimodal.mediaAviAv(docs.where(col("doc_id") === 1))
      .collect().head.getAs[Array[Byte]]("payload")
    val base = Multimodal.AviCodec.decodeAv(one).get
    assert(base._4.length >= 2 && !base._4(0).sameElements(base._4(1)))
    def findChunk(p: Array[Byte], from: Int): Int = {
      var i = from
      while (!(p(i) == '0' && p(i + 1) == '1' && p(i + 2) == 'w' &&
        p(i + 3) == 'b')) i += 1
      i
    }
    val c1 = findChunk(one, 12)
    val c2 = findChunk(one, c1 + 4)
    val spf1 = (1 % 7 + 3) * 2 + 8 // bytes incl. header for doc 1
    val swapped = one.clone()
    Array.copy(one, c2, swapped, c1, spf1)
    Array.copy(one, c1, swapped, c2, spf1)
    val sw = Multimodal.AviCodec.decodeAv(swapped).get
    assert(sw._4(0).sameElements(base._4(1)) && sw._4(1).sameElements(base._4(0)),
      "chunk order must follow FILE order")
    // rejections: stereo audio strf, odd-size 01wb, truncation
    assert(Multimodal.AviCodec.decodeAv(one.dropRight(1)).isEmpty)
    val stereo = one.clone()
    // audio strf payload starts after RIFF(12) + hdrl LIST hdr(12) +
    // avih(64) + strlV(8+116) + strlA hdr(12) + strh(64) + strf hdr(8);
    // channels at +2
    val strfAOff = 12 + 12 + 64 + 124 + 12 + 64 + 8
    stereo(strfAOff + 2) = 2
    assert(Multimodal.AviCodec.decodeAv(stereo).isEmpty,
      "stereo must reject, not decode garbage")
  }

  test("decodeAv rejects a THIRD stream: its chunks would be silently " +
      "dropped, the same strictness the single-stream walk enforces") {
    // minimal hand-rolled RIFF: the walk attaches strf headers by file
    // order and does not require strh/LIST framing, so top-level chunks
    // suffice to drive the stream-count logic
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val sz = payload.length
      id.getBytes("US-ASCII") ++
        Array[Byte](sz.toByte, (sz >> 8).toByte, (sz >> 16).toByte,
          (sz >> 24).toByte) ++ payload ++
        (if (sz % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    }
    val strfV = {
      val p = new Array[Byte](40)
      p(4) = 1; p(8) = 1 // w = h = 1
      p(14) = 24 // bpp, comp stays 0 (BI_RGB)
      chunk("strf", p)
    }
    val strfA = {
      val p = new Array[Byte](16)
      p(0) = 1; p(2) = 1; p(14) = 16 // PCM, mono, 16-bit
      chunk("strf", p)
    }
    val frame = chunk("00db", Array[Byte](10, 20, 30, 0)) // 1x1, row pad 4
    val audio = chunk("01wb", Array[Byte](42, 0))
    def riff(body: Array[Byte]): Array[Byte] = {
      val sz = body.length + 4
      "RIFF".getBytes("US-ASCII") ++
        Array[Byte](sz.toByte, (sz >> 8).toByte, (sz >> 16).toByte,
          (sz >> 24).toByte) ++ "AVI ".getBytes("US-ASCII") ++ body
    }
    val twoStreams = riff(strfV ++ strfA ++ frame ++ audio)
    val got = Multimodal.AviCodec.decodeAv(twoStreams)
    assert(got.nonEmpty, "the 2-stream control must decode")
    val (w, h, fs, as) = got.get
    assert(w === 1 && h === 1 && fs.length === 1 && as.length === 1)
    assert(fs(0)(0) === ((30 << 16) | (20 << 8) | 10) && as(0)(0) === 42)
    val threeStreams = riff(strfV ++ strfA ++ strfA ++ frame ++ audio)
    assert(Multimodal.AviCodec.decodeAv(threeStreams).isEmpty,
      "a third strf must reject: its '02wb' data would be dropped")
  }

  test("sceneCuts through the COMPRESSED path: every even-id MJPEG video " +
      "fires its single midpoint negative-film jump, odd ids stay quiet") {
    val cuts = Multimodal.sceneCuts(Multimodal.mediaAviMjpeg(docs),
      threshold = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(cuts.nonEmpty)
    cuts.foreach { case (id, (n, _)) =>
      if (id % 2 == 1) assert(n === 0L, s"static video $id must report 0 cuts")
      // even ids always have hb = 2 (hb = 2 - id%2), so >= 2 blocks whose
      // adjacent DC sums differ — the 128+S -> 128-S reflection moves
      // every sampled cell off the frame mean on at least one side
      else assert(n === 1L, s"planted jump in video $id must fire exactly once")
    }
  }

  test("MJPEG round-trip: real JpegCodec.encode frames through the muxer " +
      "and the composed container decode — dims exact, lossy bound per " +
      "channel, frame order preserved, odd chunk sizes word-padded") {
    val w = 19; val h = 13
    // per-frame +12 ramp on a %200 base: never wraps (max 235), so frame
    // means increase by 12·w·h = 2964 — far beyond the ±3/px lossy bound,
    // making decode ORDER mean-distinguishable
    val frames = (0 until 4).map { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        (((x * 37 + y * 11) % 200 + f * 12) << 16) |
          (((x * 5 + y * 29) % 200 + f * 12) << 8) |
          ((x * 13 + y * 3) % 200 + f * 12)
      }
    }
    val raw = frames.map(Multimodal.JpegCodec.encode(w, h, _))
    // flip frame 1's byte parity with a COM segment (skipped by the
    // marker walk) so the fixture always exercises the RIFF pad rule
    // whatever parity the encoder happens to emit
    val jpegs = raw.zipWithIndex.map { case (j, i) =>
      if (i == 1)
        j.take(2) ++ Array(0xff.toByte, 0xfe.toByte, 0, 3, 7).map(_.toByte) ++
          j.drop(2)
      else j
    }
    assert(jpegs.exists(_.length % 2 == 1),
      "fixture must exercise the RIFF odd-size pad rule")
    val avi = Multimodal.AviCodec.encodeMjpeg(w, h, jpegs)
    val got = Multimodal.AviCodec.decodeFrames(avi)
    assert(got.isDefined, "conforming mux must decode")
    val (gw, gh, gfs) = got.get
    assert(gw === w && gh === h && gfs.length === frames.length)
    for (f <- frames.indices) {
      var worst = 0
      for (i <- 0 until w * h; s <- 0 to 16 by 8) {
        val d = math.abs(((frames(f)(i) >> s) & 0xff) - ((gfs(f)(i) >> s) & 0xff))
        worst = math.max(worst, d)
      }
      assert(worst <= 3, s"frame $f max channel error $worst exceeds lossy bound")
    }
    // frame ORDER: the +12/frame ramp keeps means strictly increasing,
    // so a swapped decode order would invert a mean pair
    val means = gfs.map(px => px.map(p => (p >> 8) & 0xff).map(_.toLong).sum).toSeq
    assert(means === means.sorted, "decoded frame order must match mux order")
    // mutation fuzz over the COMPOSED container: a corrupted MJPEG AVI
    // must return (Some or None), never throw — either layer may be hit
    val rnd = new scala.util.Random(77)
    var trial = 0
    while (trial < 400) {
      val m = avi.clone
      val flips = 1 + rnd.nextInt(4)
      var i = 0
      while (i < flips) {
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        i += 1
      }
      Multimodal.AviCodec.decodeFrames(m)
      trial += 1
    }
    // and over the TWO-STREAM demux: corrupted A/V files likewise
    val av = Multimodal.mediaAviAv(docs.limit(1))
      .collect().head.getAs[Array[Byte]]("payload")
    trial = 0
    while (trial < 400) {
      val m = av.clone
      val flips = 1 + rnd.nextInt(4)
      var i = 0
      while (i < flips) {
        m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
        i += 1
      }
      Multimodal.AviCodec.decodeAv(m)
      trial += 1
    }
  }

  test("WavCodec decodes a hand-built PCM file through a chunk walk: " +
      "JUNK skipped with word padding, stereo/truncation/float rejected") {
    def wav(chunks: Array[Byte]): Array[Byte] = {
      val b = new Array[Byte](12 + chunks.length)
      "RIFF".getBytes.copyToArray(b, 0)
      val sz = 4 + chunks.length
      (0 until 4).foreach(i => b(4 + i) = ((sz >> (8 * i)) & 0xff).toByte)
      "WAVE".getBytes.copyToArray(b, 8)
      chunks.copyToArray(b, 12)
      b
    }
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val b = new Array[Byte](8 + payload.length + (payload.length & 1))
      id.getBytes.copyToArray(b, 0)
      (0 until 4).foreach(i =>
        b(4 + i) = ((payload.length >> (8 * i)) & 0xff).toByte)
      payload.copyToArray(b, 8)
      b // zero pad byte included when payload length is odd
    }
    def fmt(codec: Int, ch: Int, bits: Int): Array[Byte] = {
      val p = new Array[Byte](16)
      p(0) = codec.toByte; p(2) = ch.toByte
      p(4) = 0x40; p(5) = 0x1f // 8000 LE
      p(14) = bits.toByte
      p
    }
    // samples: 1, -1, 2 → LE bytes; one strict crossing at (−1 → ... )
    val data = Array[Byte](1, 0, -1, -1, 2, 0)
    // odd-sized JUNK (3 bytes, padded to 4) before fmt — a fixed-offset
    // parser reads garbage; the walk must land on fmt and data exactly
    val good = wav(chunk("JUNK", Array[Byte](9, 9, 9)) ++
      chunk("fmt ", fmt(1, 1, 16)) ++ chunk("data", data))
    val Some((rate, s)) = Multimodal.WavCodec.decodePcm16(good)
    assert(rate === 8000)
    assert(s.toSeq === Seq(1, -1, 2))
    assert(Multimodal.WavCodec.decodePcm16(
      wav(chunk("fmt ", fmt(1, 2, 16)) ++ chunk("data", data))).isEmpty,
      "stereo rejected")
    assert(Multimodal.WavCodec.decodePcm16(
      wav(chunk("fmt ", fmt(3, 1, 16)) ++ chunk("data", data))).isEmpty,
      "float codec rejected")
    assert(Multimodal.WavCodec.decodePcm16(
      wav(chunk("data", data) ++ chunk("fmt ", fmt(1, 1, 16)))).isEmpty,
      "data before fmt rejected")
    assert(Multimodal.WavCodec.decodePcm16(good.dropRight(1)).isEmpty,
      "truncated chunk rejected")
    assert(Multimodal.WavCodec.decodePcm16(null).isEmpty)
  }

  test("mediaWavPcm synthesizes conforming PCM (JUNK included) and " +
      "wavFeatures matches a direct formula evaluation") {
    val feats = Multimodal.wavFeatures(Multimodal.mediaWavPcm(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized WAV must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val n = (id % 200 + 50).toInt
      val vs = (0 until n).map(i => ((3 * id + 17 * i) % 65536 - 32768).toInt)
      assert(r.getAs[Int]("sample_rate") === 8000)
      assert(r.getAs[Long]("n_samples") === n.toLong)
      assert(r.getAs[Long]("sum_abs") === vs.map(v => math.abs(v.toLong)).sum)
      assert(r.getAs[Long]("max_abs") === vs.map(v => math.abs(v.toLong)).max)
      assert(r.getAs[Long]("sum_sq") === vs.map(v => v.toLong * v).sum)
      assert(r.getAs[Long]("zero_crossings") ===
        vs.sliding(2).count(p => p(0).toLong * p(1) < 0).toLong)
    }
  }

  test("mediaPhashPairs: planted exact copies pair at hamming 0; the " +
      "one-pixel perturbed class is caught; all pairs inside the " +
      "pigeonhole bound") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val pairs = Multimodal.mediaPhashPairs(
      Multimodal.mediaBmpNearDups(docs), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val dupIds = docs.where(pmod(col("doc_id"), lit(25)) === 0)
      .select("doc_id").collect().map(_.getLong(0))
    assert(dupIds.nonEmpty)
    dupIds.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 100000000000L && p._3 == 0),
        s"exact copy of $id must pair at hamming 0")
    }
    val perturbedCaught = dupIds.count(id =>
      pairs.exists(p => p._1 == id && p._2 == id + 200000000000L))
    info(s"perturbed copies caught: $perturbedCaught / ${dupIds.length}")
    assert(perturbedCaught > 0,
      "the one-pixel perturbation must be catchable at pixel level")
    assert(pairs.forall(_._3 <= 3))
  }

  test("PgmCodec decodes hand-built P5/P6 exactly: tokenized header, " +
      "comment skipping, one-whitespace raster boundary, rejections") {
    // P5 2x2 with a comment line; first raster byte is 0x0A — a decoder
    // that eats header whitespace greedily shifts the whole raster
    val p5 = "P5\n# hi\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0x0a, 1, 2, 3)
    val Some((w, h, px)) = Multimodal.PgmCodec.decode(p5)
    assert((w, h) === (2, 2))
    assert(px.map(_ & 0xff).toSeq === Seq(0x0a, 1, 2, 3)) // gray = b channel
    assert(px(0) === ((0x0a << 16) | (0x0a << 8) | 0x0a))
    // P6 1x2 RGB
    val p6 = "P6\n1 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](10, 20, 30, 40, 50, 60)
    val Some((w6, h6, px6)) = Multimodal.PgmCodec.decode(p6)
    assert((w6, h6) === (1, 2))
    assert(px6.toSeq === Seq((10 << 16) | (20 << 8) | 30,
      (40 << 16) | (50 << 8) | 60))
    // rejections: null, truncated raster, bad magic, maxval > 255
    assert(Multimodal.PgmCodec.decode(null).isEmpty)
    assert(Multimodal.PgmCodec.decode(p5.dropRight(1)).isEmpty,
      "truncated raster")
    assert(Multimodal.PgmCodec.decode(
      "P4\n2 2\n255\n0000".getBytes("US-ASCII")).isEmpty, "P4 rejected")
    assert(Multimodal.PgmCodec.decode(
      ("P5\n2 2\n65535\n" + "00000000").getBytes("US-ASCII")).isEmpty,
      "16-bit maxval rejected")
    // round trip (value equality — Arrays compare by reference)
    val gray = Array(0, 0x7f7f7f, 0xffffff, 0x0a0a0a)
    val Some((rw, rh, rpx)) =
      Multimodal.PgmCodec.decode(Multimodal.PgmCodec.encode(2, 2, gray))
    assert((rw, rh) === (2, 2) && rpx.toSeq === gray.toSeq)
  }

  test("mediaPgm synthesizes conforming files (comments included) and " +
      "pgmFeatures' decode matches a direct formula evaluation") {
    val feats = Multimodal.pgmFeatures(Multimodal.mediaPgm(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized PGM must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 13 + 1).toInt
      val h = (id * 5 % 11 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sv = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (3 * id + 5 * x + 11 * y) % 256
        sv += v; ck += (y * w + x + 1).toLong * 6 * v
      }
      assert(r.getAs[Long]("sum_r") === sv, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("luma_milli") === 1000 * sv)
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("PngCodec decodes a real-deflate file exactly and rejects " +
      "non-conforming streams (adler, truncation, color type, filter)") {
    val px = Array.tabulate(5 * 4)(i => (i * 37 + 11) * 131 & 0xffffff)
    val file = Multimodal.PngCodec.encode(5, 4, px)
    assert(Multimodal.PngCodec.decode(file)
      .exists { case (w, h, p) => w == 5 && h == 4 && p.sameElements(px) })

    // adler corruption: flip a byte INSIDE the deflate payload — the
    // JDK Inflater's own integrity check must reject it (either a
    // DataFormatException we map to None, or a checksum failure)
    val idatStart = 8 + 25 + 8 // sig + IHDR chunk + IDAT len/type
    val corrupt = file.clone
    corrupt(idatStart + 6) = (corrupt(idatStart + 6) ^ 0x5a).toByte
    assert(Multimodal.PngCodec.decode(corrupt).isEmpty)

    // truncation anywhere must be None, never a throw
    (1 until file.length by 7).foreach { k =>
      assert(Multimodal.PngCodec.decode(file.take(k)).isEmpty)
    }

    // unsupported color type (grayscale = 0) rejects at the header
    val gray = file.clone
    gray(8 + 8 + 9) = 0 // IHDR color-type byte
    assert(Multimodal.PngCodec.decode(gray).isEmpty)
  }

  test("mediaPng synthesizes conforming stored-block streams (adler " +
      "included) and pngFeatures' decode matches the raw formula") {
    val feats = Multimodal.pngFeatures(Multimodal.mediaPng(docs))
      .orderBy("media_id").collect()
    // every synthesized file must pass Inflater's adler32 AND the filter
    // walk — a single miscomputed checksum or filter byte drops its row
    assert(feats.length === docs.count(), "every synthesized PNG must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 7 + 1).toInt
      val h = (id * 3 % 6 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rr = (7 * id + 5 * x + 11 * y) % 256
        val gg = (3 * id + 13 * x + 2 * y) % 256
        val bb = (id + x + 17 * y) % 256
        sr += rr; sg += gg; sb += bb
        ck += (y * w + x + 1).toLong * (rr + 2 * gg + 3 * bb)
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("sum_g") === sg, s"sum_g mismatch for $id")
      assert(r.getAs[Long]("sum_b") === sb, s"sum_b mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("GifCodec decodes a real multi-width LZW stream exactly (KwKwK " +
      "and width bumps included) and rejects non-conforming files") {
    // 600 px of repetitive indices: the dictionary passes the first
    // width bump (9-bit codes) and the run pattern hits the KwKwK case
    val idxs = Array.tabulate(600)(i => (i / 3) % 16)
    val palette = Array.tabulate(128)(i =>
      (((i * 7) % 256) << 16) | (((i * 5) % 256) << 8) | ((i * 3) % 256))
    val file = Multimodal.GifCodec.encode(30, 20, idxs)
    assert(Multimodal.GifCodec.decode(file)
      .exists { case (w, h, px) =>
        w == 30 && h == 20 && px.sameElements(idxs.map(palette))
      })

    // truncation anywhere is None, never a throw
    (1 until file.length by 23).foreach { k =>
      assert(Multimodal.GifCodec.decode(file.take(k)).isEmpty)
    }
    // a DETERMINISTIC bad-dictionary-reference: a tiny all-8-bit-code
    // stream ([clear, 5, 5, end]) with its first data code corrupted to
    // 254 — not a root (< 128), beyond the dictionary → must be None
    val tiny = Multimodal.GifCodec.encode(2, 1, Array(5, 5))
    val dataAt = 6 + 7 + 128 * 3 + 10 + 1 + 1 // header+LSD+GCT+desc+min+len
    assert((tiny(dataAt) & 0xff) === 0x80, "expected the leading CLEAR")
    val corrupt = tiny.clone
    corrupt(dataAt + 1) = 0xfe.toByte
    assert(Multimodal.GifCodec.decode(corrupt).isEmpty)
    // interlaced images are explicitly unsupported
    val inter = file.clone
    inter(6 + 7 + 128 * 3 + 9) = 0x40.toByte
    assert(Multimodal.GifCodec.decode(inter).isEmpty)
  }

  test("GifCodec width-bump parity at dictionary-size boundaries: END " +
      "after exactly 126 added entries must read at the bumped width") {
    // 127 distinct literals -> 126 encoder entries -> the decoder bumps
    // to 9-bit reads right before END (the boundary the lag rule does
    // NOT cover, since the final data code adds no encoder entry)
    val palette = Array.tabulate(128)(i =>
      (((i * 7) % 256) << 16) | (((i * 5) % 256) << 8) | ((i * 3) % 256))
    for (n <- Seq(126, 127, 128, 201)) {
      val idxs = Array.tabulate(n)(_ % 127)
      val got = Multimodal.GifCodec.decode(
        Multimodal.GifCodec.encode(n, 1, idxs))
      assert(got.exists { case (w, h, px) =>
        w == n && h == 1 && px.sameElements(idxs.map(palette))
      }, s"boundary round-trip failed at n=$n")
    }
  }

  test("mediaGif synthesizes conforming all-literal LZW streams and " +
      "gifFeatures' decode matches the index-formula palette arithmetic") {
    val feats = Multimodal.gifFeatures(Multimodal.mediaGif(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized GIF must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 9 + 1).toInt
      val h = (id * 7 % 5 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sr = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val idx = (3 * id + 5 * x + 11 * y) % 128
        val rr = (7 * idx) % 256; val gg = (5 * idx) % 256
        val bb = (3 * idx) % 256
        sr += rr
        ck += (y * w + x + 1).toLong * (rr + 2 * gg + 3 * bb)
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("JpegCodec round-trips a real encoded file within the lossy bound: " +
      "dims exact, every channel within ±3 (all-1 quantizers leave only " +
      "float DCT/IDCT + color-convert rounding)") {
    val w = 19; val h = 13 // deliberately NOT multiples of 8: edge pad
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((x * 37 + y * 11) % 256) << 16) |
        (((x * 5 + y * 29) % 256) << 8) | ((x * 13 + y * 3) % 256)
    }
    val file = Multimodal.JpegCodec.encode(w, h, px)
    val got = Multimodal.JpegCodec.decode(file)
    assert(got.isDefined, "conforming encode must decode")
    val (gw, gh, gpx) = got.get
    assert(gw === w && gh === h)
    var worst = 0
    for (i <- px.indices; s <- 0 to 16 by 8) {
      val d = math.abs(((px(i) >> s) & 0xff) - ((gpx(i) >> s) & 0xff))
      worst = math.max(worst, d)
    }
    assert(worst <= 3, s"max channel error $worst exceeds the lossy bound")
  }

  test("JpegCodec restart markers: a DRI-2 stream resyncs at every RSTn " +
      "and resets the DC prediction chain (same lossy bound)") {
    val w = 33; val h = 17 // 5x3 MCUs -> 7 restart markers
    val px = Array.tabulate(w * h)(i => (i * 2654435761L & 0xffffff).toInt)
    val file = Multimodal.JpegCodec.encode(w, h, px, restartInterval = 2)
    // the stream must actually contain RST markers, not just a DRI
    assert(file.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) >= 0xd0 && (s(1) & 0xff) <= 0xd7))
    val got = Multimodal.JpegCodec.decode(file)
    assert(got.isDefined)
    val (gw, gh, gpx) = got.get
    assert(gw === w && gh === h)
    // hash-noise blocks round all 64 coefficients, so the reconstruction
    // bound is wider than the smooth gradient's ±3
    for (i <- px.indices; s <- 0 to 16 by 8) {
      val d = math.abs(((px(i) >> s) & 0xff) - ((gpx(i) >> s) & 0xff))
      assert(d <= 5, s"pixel $i channel $s error $d")
    }
  }

  test("JpegCodec 4:2:0: subsampled encode decodes through the chroma " +
      "upsampling path — exact-chroma content within the float band, a " +
      "gentle gradient within the averaging bound") {
    // grayscale content: Cb = Cr = 128 everywhere, so 2x2 averaging is
    // exact and only the float DCT/IDCT + color rounding band remains
    val w = 21; val h = 11 // not multiples of 16: edge-replicated MCUs
    val gray = Array.tabulate(w * h) { i =>
      val v = (i * 7) % 256; (v << 16) | (v << 8) | v
    }
    val f = Multimodal.JpegCodec.encode(w, h, gray, subsample420 = true)
    // the SOF must really declare 2x2 luma sampling (byte 82 in the
    // encoder's fixed segment layout: SOI+DQT then SOF comp 1 HV)
    assert((f(82) & 0xff) === 0x22, "SOF0 must declare 4:2:0")
    val got = Multimodal.JpegCodec.decode(f)
    assert(got.isDefined, "4:2:0 stream must decode")
    val (gw, gh, gpx) = got.get
    assert(gw === w && gh === h)
    for (i <- gray.indices; s <- 0 to 16 by 8) {
      val d = math.abs(((gray(i) >> s) & 0xff) - ((gpx(i) >> s) & 0xff))
      assert(d <= 3, s"gray pixel $i channel $s error $d")
    }
    // gentle color gradient: chroma slope ~1/px, so subsampling itself
    // costs a few counts on top of the float band
    val grad = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      ((100 + 2 * x) << 16) | ((80 + 2 * y) << 8) | 120
    }
    val f2 = Multimodal.JpegCodec.encode(w, h, grad, subsample420 = true)
    val (g2w, g2h, g2px) = Multimodal.JpegCodec.decode(f2).get
    assert(g2w === w && g2h === h)
    for (i <- grad.indices; s <- 0 to 16 by 8) {
      val d = math.abs(((grad(i) >> s) & 0xff) - ((g2px(i) >> s) & 0xff))
      assert(d <= 6, s"gradient pixel $i channel $s error $d")
    }
    // and 4:2:0 composes with restart markers
    val f3 = Multimodal.JpegCodec.encode(w, h, grad,
      restartInterval = 1, subsample420 = true)
    assert(Multimodal.JpegCodec.decode(f3).exists(_._1 == w))
    // 4:2:2 (2,1) and 4:4:0 (1,2): the one-axis upsampling paths,
    // same bounds (gray exact-chroma, gradient within averaging)
    for ((lh, lv) <- Seq((2, 1), (1, 2))) {
      val fg = Multimodal.JpegCodec.encode(w, h, gray, lumaH = lh, lumaV = lv)
      val (g1w, g1h, g1px) = Multimodal.JpegCodec.decode(fg).get
      assert(g1w === w && g1h === h)
      for (i <- gray.indices; s <- 0 to 16 by 8) {
        val d = math.abs(((gray(i) >> s) & 0xff) - ((g1px(i) >> s) & 0xff))
        assert(d <= 3, s"($lh,$lv) gray pixel $i channel $s error $d")
      }
      val fgr = Multimodal.JpegCodec.encode(w, h, grad, lumaH = lh, lumaV = lv)
      val (g2w2, g2h2, g2px2) = Multimodal.JpegCodec.decode(fgr).get
      assert(g2w2 === w && g2h2 === h)
      for (i <- grad.indices; s <- 0 to 16 by 8) {
        val d = math.abs(((grad(i) >> s) & 0xff) - ((g2px2(i) >> s) & 0xff))
        assert(d <= 6, s"($lh,$lv) gradient pixel $i channel $s error $d")
      }
    }
  }

  test("JpegCodec progressive (SOF2): multi-scan spectral selection " +
      "decodes bit-identically to the baseline file of the same image") {
    val w = 21; val h = 13 // partial edge blocks
    for (img <- Seq(
      // gradient: AC bands sparse, EOBRUN runs long
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((40 + 3 * x + 2 * y) << 16) | ((60 + 2 * x + 4 * y) << 8) |
          (90 + x + y)
      },
      // noise: every band dense, ZRL and long coefficient runs
      Array.tabulate(w * h)(i => (i * 2654435761L >> 13 & 0xffffff).toInt))) {
      val prog = Multimodal.JpegCodec.encodeProgressive(w, h, img)
      val base = Multimodal.JpegCodec.encode(w, h, img)
      // both pipelines share fdct/quant/idct, so the decoded pixels
      // must agree EXACTLY — a scan-assembly bug shows as a pixel diff
      val dp = Multimodal.JpegCodec.decode(prog)
      val db = Multimodal.JpegCodec.decode(base)
      assert(dp.isDefined, "progressive stream must decode")
      assert(db.isDefined)
      assert(dp.get._1 === w && dp.get._2 === h)
      assert(dp.get._3.sameElements(db.get._3),
        "progressive and baseline decodes must be bit-identical")
      // and within the lossy bound of the original
      for (i <- img.indices; s <- 0 to 16 by 8) {
        val d = math.abs(((img(i) >> s) & 0xff) - ((dp.get._3(i) >> s) & 0xff))
        assert(d <= 5, s"pixel $i channel $s error $d")
      }
      // truncation anywhere is None, never a throw (scan boundaries,
      // mid-DHT, mid-entropy-data all covered by the stride)
      (1 until prog.length by 7).foreach { k =>
        assert(Multimodal.JpegCodec.decode(prog.take(k)).isEmpty)
      }
      // SUCCESSIVE APPROXIMATION: point-transformed first passes +
      // refinement scans (DC raw bits, AC G.1.2.3 correction bits) must
      // reconstruct the very same coefficients — still bit-identical
      val sa = Multimodal.JpegCodec.encodeProgressive(w, h, img,
        successive = true)
      val dsa = Multimodal.JpegCodec.decode(sa)
      assert(dsa.isDefined, "successive-approximation stream must decode")
      assert(dsa.get._3.sameElements(db.get._3),
        "successive approximation must reconstruct identically")
      (1 until sa.length by 11).foreach { k =>
        assert(Multimodal.JpegCodec.decode(sa.take(k)).isEmpty)
      }
    }
  }

  test("JpegCodec rejects non-conforming and out-of-envelope streams " +
      "(truncation never throws; progressive is None, not misdecoded)") {
    val px = Array.tabulate(16 * 8)(i => (i * 37 + 11) * 131 & 0xffffff)
    val file = Multimodal.JpegCodec.encode(16, 8, px)
    // truncation anywhere is None, never a throw
    (1 until file.length by 5).foreach { k =>
      assert(Multimodal.JpegCodec.decode(file.take(k)).isEmpty)
    }
    // progressive (SOF2) must reject at the header, not misdecode:
    // SOF0 is the first FFC0 after SOI+DQT in the encoder's layout
    var sof = 2
    while (!((file(sof) & 0xff) == 0xff && (file(sof + 1) & 0xff) == 0xc0))
      sof += 1
    val prog = file.clone
    prog(sof + 1) = 0xc2.toByte
    assert(Multimodal.JpegCodec.decode(prog).isEmpty)
    // entropy garbage: zero out the scan so the Huffman walk derails
    // into an invalid code/length — must be None, never a throw
    val mangled = file.clone
    var i = file.length - 20
    while (i < file.length - 2) { mangled(i) = 0x55.toByte; i += 1 }
    assert(Multimodal.JpegCodec.decode(mangled).isEmpty ||
      Multimodal.JpegCodec.decode(mangled).isDefined) // just: never throws
    // null/garbage/bare-SOI
    assert(Multimodal.JpegCodec.decode(null).isEmpty)
    assert(Multimodal.JpegCodec.decode(Array[Byte]()).isEmpty)
    assert(Multimodal.JpegCodec.decode(
      "not a jpeg at all".getBytes("UTF-8")).isEmpty)
  }

  test("Vp8lCodec round-trips EXACTLY (lossless): full code-length-coded " +
      "trees on noise, LZ77 runs + color cache + subtract-green on runs") {
    // noise image: no runs, all-literal, full trees with 17/18 zero-runs
    val w1 = 13; val h1 = 9
    val noise = Array.tabulate(w1 * h1)(i =>
      ((i * 2654435761L >> 7) & 0xffffff).toInt)
    val f1 = Multimodal.Vp8lCodec.encode(w1, h1, noise)
    assert(Multimodal.Vp8lCodec.decode(f1)
      .exists { case (w, h, px) =>
        w == w1 && h == h1 && px.sameElements(noise) },
      "noise round-trip")

    // runs image: long same-color spans -> dist-1 backrefs (length
    // prefix codes with extra bits), plus cache hits on revisited
    // colors, plus the subtract-green inverse
    val w2 = 40; val h2 = 11
    val runs = Array.tabulate(w2 * h2) { i =>
      val band = (i / 17) % 5
      Seq(0x102030, 0xa0b0c0, 0x102030, 0x445566, 0xa0b0c0)(band)
    }
    for (cacheBits <- Seq(0, 4); sg <- Seq(false, true)) {
      val f = Multimodal.Vp8lCodec.encode(w2, h2, runs,
        cacheBits = cacheBits, subtractGreen = sg)
      assert(Multimodal.Vp8lCodec.decode(f)
        .exists { case (w, h, px) =>
          w == w2 && h == h2 && px.sameElements(runs) },
        s"runs round-trip cacheBits=$cacheBits subtractGreen=$sg")
    }
    // the runs file must actually be smaller than all-literal coding
    val fLit = Multimodal.Vp8lCodec.encode(w2, h2, noise.take(1) ++
      Array.tabulate(w2 * h2 - 1)(i => (i * 7919) & 0xffffff))
    val fRuns = Multimodal.Vp8lCodec.encode(w2, h2, runs)
    assert(fRuns.length < fLit.length, "backrefs must compress the runs")
  }

  test("Vp8lCodec color-indexing: palette sizes across every packing " +
      "width round-trip exactly (delta-coded palette sub-image + " +
      "bit-packed index unpacking)") {
    // palette sizes straddling all four widthBits regimes: 2 colors
    // (8 px/byte), 3-4 (4 px/byte), 5-16 (2 px/byte), 17+ (1 px/byte)
    for (nColors <- Seq(2, 3, 4, 7, 16, 17, 200)) {
      val w = 23; val h = 5 // w not a multiple of any pack factor
      val colors = Array.tabulate(nColors)(i =>
        (((i * 37 + 11) % 256) << 16) | (((i * 73 + 5) % 256) << 8) |
          ((i * 151 + 2) % 256))
      val px = Array.tabulate(w * h)(i => colors((i * 7 + i / w) % nColors))
      val f = Multimodal.Vp8lCodec.encode(w, h, px, usePalette = true)
      assert(Multimodal.Vp8lCodec.decode(f)
        .exists { case (gw, gh, gpx) =>
          gw == w && gh == h && gpx.sameElements(px) },
        s"palette round-trip failed at $nColors colors")
    }
    // at enough pixels, packing must actually compress: an alternating
    // 2-color image packs to a CONSTANT byte (0x55) the index image
    // then run-length-codes, while literal coding pays ~3 bits/px
    val w2 = 64; val h2 = 16
    val alt = Array.tabulate(w2 * h2)(i => if (i % 2 == 0) 0x102030 else 0xa0b0c0)
    val fPal = Multimodal.Vp8lCodec.encode(w2, h2, alt, usePalette = true)
    val fLit2 = Multimodal.Vp8lCodec.encode(w2, h2, alt)
    assert(fPal.length < fLit2.length,
      s"palette must compress the 2-color image: ${fPal.length} vs ${fLit2.length}")
    // palette + color cache compose
    val pxc = Array.tabulate(40 * 3)(i => Seq(0x112233, 0x445566, 0x778899)(i % 3))
    val fc = Multimodal.Vp8lCodec.encode(40, 3, pxc,
      cacheBits = 2, usePalette = true)
    assert(Multimodal.Vp8lCodec.decode(fc)
      .exists { case (gw, gh, gpx) =>
        gw == 40 && gh == 3 && gpx.sameElements(pxc) })
  }

  test("Vp8lCodec predictor transform: per-tile best-of-14 spatial " +
      "prediction round-trips exactly, alone and composed with " +
      "subtract-green + cache, and actually compresses gradients") {
    // smooth gradient: spatial predictors should leave near-zero
    // residuals; 4x4 tiles over 19x9 = multiple tiles incl. partials
    val w = 19; val h = 9
    val grad = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      ((40 + 3 * x + 2 * y) << 16) | ((60 + 2 * x + 4 * y) << 8) |
        (90 + x + y)
    }
    for (sg <- Seq(false, true); cb <- Seq(0, 3)) {
      val f = Multimodal.Vp8lCodec.encode(w, h, grad,
        cacheBits = cb, subtractGreen = sg, usePredictor = true)
      assert(Multimodal.Vp8lCodec.decode(f)
        .exists { case (gw, gh, gpx) =>
          gw == w && gh == h && gpx.sameElements(grad) },
        s"predictor round-trip failed sg=$sg cacheBits=$cb")
    }
    // prediction must beat literal coding on the gradient
    val fPred = Multimodal.Vp8lCodec.encode(w, h, grad, usePredictor = true)
    val fLit = Multimodal.Vp8lCodec.encode(w, h, grad)
    assert(fPred.length < fLit.length,
      s"prediction must compress the gradient: ${fPred.length} vs ${fLit.length}")
    // noise (predictors can't help, the mode search must still be
    // exact) and hard edges (Select/clamp modes in play): both exact
    val noise = Array.tabulate(w * h)(i =>
      ((i * 2654435761L >> 9) & 0xffffff).toInt)
    assert(Multimodal.Vp8lCodec.decode(
      Multimodal.Vp8lCodec.encode(w, h, noise, usePredictor = true))
      .exists(_._3.sameElements(noise)))
    val edges = Array.tabulate(w * h) { i =>
      if ((i % w) < 10 ^ (i / w) < 5) 0xf0f0f0 else 0x101010
    }
    assert(Multimodal.Vp8lCodec.decode(
      Multimodal.Vp8lCodec.encode(w, h, edges, usePredictor = true))
      .exists(_._3.sameElements(edges)))
  }

  test("Vp8lCodec color transform: per-tile signed cross-channel elements " +
      "round-trip exactly, alone and in the full SG+color+predictor chain") {
    // channel-correlated content: red and blue track green, the
    // relationship the cross-channel elements exist to strip
    val w = 19; val h = 9
    val corr = Array.tabulate(w * h) { i =>
      val g = (i * 11) % 256
      val r = (g + 40 + (i % 3)) % 256
      val b = (g + (r >> 1) + 7) % 256
      (r << 16) | (g << 8) | b
    }
    val f = Multimodal.Vp8lCodec.encode(w, h, corr, useColorXf = true)
    assert(Multimodal.Vp8lCodec.decode(f)
      .exists { case (gw, gh, gpx) =>
        gw == w && gh == h && gpx.sameElements(corr) },
      "color-transform round-trip")
    // the FULL transform chain the spec allows together, plus cache:
    // subtract-green, color transform, predictor (stream order = the
    // forward application order; inverses run reversed)
    val grad = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      ((40 + 3 * x + 2 * y) << 16) | ((60 + 2 * x + 4 * y) << 8) |
        (90 + x + y)
    }
    for (img <- Seq(corr, grad)) {
      val fc = Multimodal.Vp8lCodec.encode(w, h, img, cacheBits = 3,
        subtractGreen = true, usePredictor = true, useColorXf = true)
      assert(Multimodal.Vp8lCodec.decode(fc)
        .exists { case (gw, gh, gpx) =>
          gw == w && gh == h && gpx.sameElements(img) },
        "full-chain round-trip")
    }
    // noise stays exact through the element search
    val noise = Array.tabulate(w * h)(i =>
      ((i * 2654435761L >> 11) & 0xffffff).toInt)
    assert(Multimodal.Vp8lCodec.decode(
      Multimodal.Vp8lCodec.encode(w, h, noise, useColorXf = true))
      .exists(_._3.sameElements(noise)))
  }

  test("Vp8lCodec meta prefix groups: two tree sets split by tile column " +
      "(the entropy image as its own recursive stream) round-trip exactly") {
    // left half dark/narrow palette, right half bright/wide: per-group
    // trees actually differ, so a group-lookup regression misdecodes
    val w = 22; val h = 10
    val px = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      if (x < 11) ((x * 3) << 16) | ((y * 5) << 8) | 20
      else (((200 + x * 7) % 256) << 16) | (((150 + y * 11) % 256) << 8) |
        ((128 + x * y) % 256)
    }
    for (cb <- Seq(0, 3)) {
      val f = Multimodal.Vp8lCodec.encode(w, h, px,
        cacheBits = cb, useMetaGroups = true)
      assert(Multimodal.Vp8lCodec.decode(f)
        .exists { case (gw, gh, gpx) =>
          gw == w && gh == h && gpx.sameElements(px) },
        s"meta-group round-trip failed cacheBits=$cb")
    }
    // composes with the transform chain
    val fAll = Multimodal.Vp8lCodec.encode(w, h, px, cacheBits = 3,
      subtractGreen = true, usePredictor = true, useColorXf = true,
      useMetaGroups = true)
    assert(Multimodal.Vp8lCodec.decode(fAll)
      .exists { case (gw, gh, gpx) =>
        gw == w && gh == h && gpx.sameElements(px) },
      "meta-group + full-chain round-trip failed")
  }

  test("Vp8lCodec rejects non-conforming and out-of-envelope streams " +
      "(truncation never throws; unsupported transform is None)") {
    val px = Array.tabulate(24)(i => (i * 37 + 11) * 131 & 0xffffff)
    val file = Multimodal.Vp8lCodec.encode(8, 3, px)
    (1 until file.length by 3).foreach { k =>
      assert(Multimodal.Vp8lCodec.decode(file.take(k)).isEmpty)
    }
    assert(Multimodal.Vp8lCodec.decode(null).isEmpty)
    assert(Multimodal.Vp8lCodec.decode(Array[Byte]()).isEmpty)
    assert(Multimodal.Vp8lCodec.decode(
      "RIFFxxxxWEBPnope".getBytes("US-ASCII")).isEmpty)
    // flip the version bits (last 3 of the 32-bit header after 0x2f):
    // byte 20+1+3 holds them in its top bits
    val vers = file.clone
    vers(24) = (vers(24) | 0xe0).toByte
    assert(Multimodal.Vp8lCodec.decode(vers).isEmpty, "version != 0")
  }

  test("mutation fuzz: randomly corrupted JPEG (baseline, progressive, " +
      "SA) and VP8L (full-chain) streams never throw — a hostile row " +
      "must be a missing row, not a dead executor task") {
    val w = 14; val h = 9
    val img = Array.tabulate(w * h)(i => (i * 2654435761L >> 5 & 0xffffff).toInt)
    val files = Seq(
      Multimodal.JpegCodec.encode(w, h, img),
      Multimodal.JpegCodec.encodeProgressive(w, h, img),
      Multimodal.JpegCodec.encodeProgressive(w, h, img, successive = true),
      Multimodal.Vp8lCodec.encode(w, h, img, cacheBits = 3,
        subtractGreen = true, usePredictor = true, useColorXf = true,
        useMetaGroups = true),
      Multimodal.Vp8lCodec.encode(w, h, img, usePalette = false))
    val rnd = new scala.util.Random(42)
    files.foreach { f =>
      var trial = 0
      while (trial < 400) {
        val m = f.clone
        val flips = 1 + rnd.nextInt(4)
        var i = 0
        while (i < flips) {
          m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
          i += 1
        }
        // decode must RETURN (Some or None), never throw: both codecs
        // route every malformed path through the Bail/None contract
        if (f(3) == 'F'.toByte || (f(0) & 0xff) == 0x52) // RIFF => VP8L
          Multimodal.Vp8lCodec.decode(m)
        else Multimodal.JpegCodec.decode(m)
        trial += 1
      }
    }
  }

  test("mediaWebpl synthesizes conforming simple-code VP8L streams and " +
      "webplFeatures' decode matches the two-value palette formula") {
    val feats = Multimodal.webplFeatures(Multimodal.mediaWebpl(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized WebP must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val w = (id % 5 + 1).toInt
      val h = (id * 3 % 4 + 1).toInt
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val rr = (3 * id + 29 * ((id + 7 * x + y) % 2)) % 256
        val gg = (7 * id + 13 * ((id + 3 * x + 5 * y) % 2)) % 256
        val bb = (11 * id + 71 * ((id + x + 4 * y) % 2)) % 256
        sr += rr; sg += gg; sb += bb
        ck += (y * w + x + 1).toLong * (rr + 2 * gg + 3 * bb)
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("sum_g") === sg, s"sum_g mismatch for $id")
      assert(r.getAs[Long]("sum_b") === sb, s"sum_b mismatch for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }

  test("mediaJpeg synthesizes conforming DC-only baseline streams and " +
      "jpegFeatures' decode matches the cumulative-diff formula") {
    val feats = Multimodal.jpegFeatures(Multimodal.mediaJpeg(docs))
      .orderBy("media_id").collect()
    assert(feats.length === docs.count(), "every synthesized JPEG must decode")
    feats.take(50).foreach { r =>
      val id = r.getAs[Long]("media_id")
      val wb = (id % 3 + 1).toInt; val hb = (id * 5 % 2 + 1).toInt
      val w = 8 * wb; val h = 8 * hb
      assert(r.getAs[Int]("width") === w && r.getAs[Int]("height") === h)
      // per-block value: DC prediction chain = cumulative diff sum + 128
      val v = new Array[Long](wb * hb)
      var dc = 0L
      for (i <- 0 until wb * hb) {
        val mag = 8 + (id * 7 + i * 3) % 8
        dc += (if ((id + i) % 2 == 0) mag else -mag)
        v(i) = dc + 128
      }
      var sr = 0L; var ck = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val gv = v((y / 8) * wb + (x / 8))
        sr += gv
        ck += (y * w + x + 1).toLong * 6L * gv
      }
      assert(r.getAs[Long]("sum_r") === sr, s"sum_r mismatch for $id")
      assert(r.getAs[Long]("sum_g") === sr, s"sum_g mismatch for $id")
      assert(r.getAs[Long]("luma_milli") === sr * 1000, s"luma for $id")
      assert(r.getAs[Long]("checksum") === ck, s"checksum mismatch for $id")
    }
  }
}
