package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The Spark-side plumbing here is real and tested — schema, partition-wise
  * batch processing (`mapPartitions` over a typed `Dataset`, the Scala
  * analog of `mapInPandas` batches), deterministic output shape. Pixel
  * decode is REAL for every format decodable without an external codec
  * library: 24-bpp BMP ([[BmpCodec]], decode→resample→re-encode→decode
  * chain), RLE8 BMP (a genuine run-length stream), binary netpbm P5/P6
  * ([[PgmCodec]]), PNG ([[PngCodec]] — chunk walk + the JDK's own zlib
  * inflate + five-filter unfiltering), and GIF ([[GifCodec]] — full
  * variable-width LZW, implemented from the arithmetic), and baseline
  * JPEG ([[JpegCodec]] — canonical Huffman entropy decode, dequant,
  * 8×8 inverse DCT, YCbCr→RGB, implemented from the T.81 arithmetic).
  * Header/dimension parsing is real for PNG/JPEG/WebP/GIF/WAV/AVI
  * ([[HeaderCodec]], the lightweight dims path that needs no pixels).
  * Content embeddings are derived from DECODED PIXELS for every format
  * above ([[decodeImage]] → [[pixelEmbeddingVec]]); [[FakeCodec]]'s
  * remaining remit is payloads no codec claims.
  *
  * ==Lossy WebP (VP8) — REAL since r15, conformance-proved==
  * VP8 (lossy WebP intra keyframes, RFC 6386) was the last undecodable
  * format: its entropy decode rides ~3,100 NORMATIVE constants that
  * live in the spec, not the stream, and a from-memory transcription
  * would silently misdecode while round-tripping cleanly against its
  * own encoder. r15 executed the ground-truth plan this note used to
  * describe: the tables were recovered from the system libwebp's
  * `.rodata` by STRUCTURAL signature (tools/vp8_extract_tables.py →
  * [[Vp8Tables]]), and [[Vp8Codec]] (bool decoder, keyframe modes,
  * tokens, dequant, WHT/iDCT, all 14 predictors, normal+simple loop
  * filter) is accepted only because it reproduces libwebp's own
  * `WebPDecodeYUV` BIT-FOR-BIT on 51 libwebp-encoded fixtures
  * (content×size×quality) plus 34 hand-crafted streams covering what
  * libwebp's encoder never emits — multi-partition, simple filter, LF
  * deltas, per-segment quantizers (Vp8ConformanceSpec;
  * tools/vp8_craft.py, whose from-scratch bool ENCODER's streams
  * libwebp itself accepts, pinning the header layout from both sides).
  * The differential harness also surfaced the one non-obvious fact:
  * libwebp's `.rodata` B-mode probability table rows follow its
  * INTERNAL mode numbering (RD=4, VR=5, LD=6), permuted at load into
  * the RFC's (see [[Vp8Codec]].bModeProbsRfc).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      kind: String,                // "image" | "audio" | "video"
      payload: Array[Byte],
      source: String,
      declared_bytes: Long)

  /** Extracted features: fixed-shape per kind. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** ======== STUB — deterministic fake codec ========
    * Replace with a real decoder at the marked points; everything else
    * (schema, batching, partitioning) is production-shaped. */
  object FakeCodec {
    private def mix(bytes: Array[Byte], seed: Long): Long = {
      var h = seed
      var i = 0
      // a null payload (undecodable/missing media) hashes like an empty
      // one — the codec seam must never throw on a single bad row
      if (bytes == null) return h
      while (i < bytes.length) { h = h * 6364136223846793005L + bytes(i); i += 1 }
      h
    }
    /** STUB for image decode (would return real pixel dims). */
    def dims(payload: Array[Byte]): (Int, Int) = {
      val h = mix(payload, 0x9e3779b97f4a7c15L)
      (64 + math.floorMod(h, 512).toInt, 64 + math.floorMod(h >> 16, 512).toInt)
    }
    /** STUB for video frame sampling (would demux + sample). */
    def frameCount(payload: Array[Byte], kind: String): Int =
      if (kind == "video") 1 + math.floorMod(mix(payload, 77L), 32).toInt
      else 1
    /** STUB for the embedding model (would run a real encoder). */
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = mix(payload, 0xc2b2ae3d27d4eb4fL)
      var i = 0
      while (i < dim) {
        h = h * 6364136223846793005L + 1442695040888963407L
        out(i) = ((h >>> 11).toFloat / (1L << 53).toFloat) - 0.5f
        i += 1
      }
      out
    }
  }

  // ============== codec-free container-header metadata (NOT stubbed) ====
  //
  // Media width/height/frame-count/sample-rate live at fixed (or
  // walkable) offsets in the container HEADER — no codec needed to read
  // them. PNG IHDR puts dims at byte 16; JPEG requires a marker-segment
  // walk to the SOFn frame header; RIFF (WAV/AVI) keys fixed little-endian
  // fields. Everything below parses those bytes two independent ways:
  //  * [[withHeaderMeta]] — pure Column expressions over hex(payload)
  //    (substring + conv), fully reproducible in DuckDB → the `media_dims`
  //    query carries a FULL oracle that re-parses the same hex in SQL;
  //  * [[HeaderCodec]] — a plain-JVM byte parser for the mapPartitions
  //    decode seam, so [[extractFeatures]]/[[resize]] report REAL parsed
  //    dims (FakeCodec remains only for the embedding stub and unknown
  //    formats).
  // A spec pins that the two parsers agree row-for-row on the fixture.

  /** PNG signature, hex. */
  val PngSigHex = "89504E470D0A1A0A"
  /** Minimal JFIF APP0 segment (16-byte payload), hex. */
  private val JfifApp0Hex = "FFE00010" + "4A46494600" + "0101" + "00" + "0001" + "0001" + "0000"
  /** A DQT segment whose PAYLOAD contains the bytes FF C0 — a decoy: an
    * `instr(hx, 'FFC0')`-style parser would misread dims from inside this
    * table; only a real segment walk survives it. */
  private val DqtDecoyHex = "FFDB" + "0006" + "00FFC0FF"

  /** Synthesize a media table WITH genuine container headers from the
    * `documents` fixture: PNG, baseline-JFIF JPEG, VP8X WebP or GIF89a
    * for images (split by doc_id mod 12 within the image class), WAV for
    * audio, RIFF/AVI with a full `avih` main header for video; the
    * document text rides behind the header as the opaque body. The
    * header fields (dims, frame count, sample rate, channels) are
    * deterministic functions of doc_id, so an oracle can verify the
    * synth→parse round trip end-to-end. */
  def mediaWithHeaders(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(1024)) + 1).cast("int")
    val h = (pmod(id * 7, lit(1024)) + 1).cast("int")
    val nf = (pmod(id, lit(32)) + 1).cast("int")
    val sr = (pmod(id, lit(8)) * 4000 + 8000).cast("int")
    val ch = (pmod(id, lit(2)) + 1).cast("int")
    def be32(c: Column) = lpad(conv(c.cast("long"), 10, 16), 8, "0")
    def be16(c: Column) = lpad(conv(c.cast("long"), 10, 16), 4, "0")
    def le24(c: Column) = {
      val b = lpad(conv(c.cast("long"), 10, 16), 6, "0")
      concat(substring(b, 5, 2), substring(b, 3, 2), substring(b, 1, 2))
    }
    val body = hex(col("text").cast("binary"))
    val bodyBytes = (length(body) / 2).cast("int")
    // PNG: sig + IHDR(len 13: w,h,bit 8,color 6,comp/filter/interlace 0) + CRC
    val png = concat(
      lit(PngSigHex + "0000000D" + "49484452"), be32(w), be32(h),
      lit("0806000000" + "00000000"), body)
    // JPEG: SOI + APP0(JFIF) + DQT decoy + SOF0(prec 8, h, w, 3 comps) + EOI
    val jpeg = concat(
      lit("FFD8" + JfifApp0Hex + DqtDecoyHex + "FFC0" + "0011" + "08"),
      be16(h), be16(w), lit("03" + "011100" + "021101" + "031101"),
      body, lit("FFD9"))
    // WAV: RIFF/WAVE + fmt(PCM, channels, rate, derived byte-rate) + data
    val wav = concat(
      lit("52494646"), le32(bodyBytes + 36), lit("57415645" + "666D7420"),
      le32(lit(16)), le16(lit(1)), le16(ch), le32(sr), le32(sr * ch * 2),
      le16(ch * 2), le16(lit(16)), lit("64617461"), le32(bodyBytes), body)
    // AVI: RIFF/AVI + LIST hdrl + avih(56-byte MainAVIHeader: µs/frame,
    // totalFrames at struct offset 16, dwWidth/dwHeight at 32/36)
    val avi = concat(
      lit("52494646"), le32(bodyBytes + 80), lit("41564920" + "4C495354"),
      le32(lit(68)), lit("6864726C" + "61766968"), le32(lit(56)),
      lit("35820000" + "00000000" + "00000000" + "00000000"), le32(nf),
      lit("00000000" + "01000000" + "00000000"), le32(w), le32(h),
      lit("00000000" + "00000000" + "00000000" + "00000000"), body)
    // WebP: RIFF/WEBP + VP8X extended header (10-byte payload: flags,
    // reserved, then canvas width−1 / height−1 as 24-bit LE fields)
    val webp = concat(
      lit("52494646"), le32(bodyBytes + 22), lit("57454250" + "56503858"),
      le32(lit(10)), lit("00" + "000000"), le24(w - 1), le24(h - 1), body)
    // GIF89a: signature + logical screen descriptor (width/height LE16
    // at bytes 6/8, then packed/background/aspect bytes)
    val gif = concat(
      lit("474946383961"), le16(w), le16(h), lit("F7" + "00" + "00"), body)
    val hx = when(pmod(id, lit(12)) === 0, png)
      .when(pmod(id, lit(12)) === 6, webp)
      .when(pmod(id, lit(12)) === 9, gif)
      .when(pmod(id, lit(3)) === 0, jpeg)
      .when(pmod(id, lit(3)) === 1, wav)
      .otherwise(avi)
    docs.select(
      id.as("media_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(id, lit(3)) + 1).cast("int")).as("kind"),
      unhex(hx).as("payload"),
      col("source"),
      (length(hx) / 2).cast("long").as("declared_bytes"))
  }

  /** Append parsed container-header metadata columns — format, width,
    * height, n_frames, sample_rate, channels — to `df`, computed from
    * `hxExpr` (the hex of the payload) with pure substring/conv
    * expressions (codegen'd, no UDF, no codec). Fields a format doesn't
    * define are null; unrecognized payloads parse as ('unknown', nulls).
    *
    * The JPEG SOFn marker-segment walk runs as 8 CHAINED PROJECTIONS
    * (depth 8 ≫ any baseline JFIF preamble), one freeze-step per
    * projection, so each step's cursor is a materialized attribute: a
    * single recursive expression would inline the cursor arithmetic ~5×
    * per level — ~5⁸ expression nodes — and overflow Janino (observed;
    * same family as the interpreted-lambda inlining trap, but at codegen
    * size). The DuckDB oracle replays the identical chain as CTEs p1..p8
    * with the same freeze semantics. `instr`-style SOF scanning is NOT
    * equivalent — FF C0 can legally occur inside an earlier segment's
    * payload (the synth plants exactly that decoy in a DQT table). */
  def withHeaderMeta(df: DataFrame, hxExpr: Column): DataFrame = {
    val hx = col("__hm_hx")
    val pos = col("__hm_pos")
    def hex2int(c: Column) = conv(c, 16, 10).cast("int")
    def le16at(p: Int) =
      hex2int(concat(substring(hx, p + 2, 2), substring(hx, p, 2)))
    def le32at(p: Int) =
      hex2int(concat(substring(hx, p + 6, 2), substring(hx, p + 4, 2),
        substring(hx, p + 2, 2), substring(hx, p, 2)))
    val start = df.withColumn("__hm_hx", hxExpr).withColumn("__hm_pos", lit(5))
    val walked = (1 to 8).foldLeft(start) { (d, _) =>
      val marker = hx.substr(pos, lit(4))
      val len = conv(hx.substr(pos + 4, lit(4)), 16, 10).cast("int")
      // freeze at SOF (or wherever the guards stop); otherwise advance by
      // the segment's declared length (marker 2B + len bytes)
      d.withColumn("__hm_pos",
        when(marker.isin("FFC0", "FFC1", "FFC2"), pos)
          .when(marker.startsWith("FF") && length(hx) >= pos + 7,
            pos + 4 + len * 2)
          .otherwise(pos))
    }
    def le24at(p: Int) =
      hex2int(concat(substring(hx, p + 4, 2), substring(hx, p + 2, 2),
        substring(hx, p, 2)))
    val isPng = substring(hx, 1, 16) === lit(PngSigHex)
    val isJpeg = substring(hx, 1, 4) === lit("FFD8")
    val isRiff = substring(hx, 1, 8) === lit("52494646")
    // RIFF fields are only trusted when the expected chunk fourCCs sit at
    // the assumed offsets ('fmt ' for WAV; LIST+hdrl+avih for AVI; VP8X
    // for WebP) — a legal file with a JUNK/LIST chunk first parses as
    // 'unknown' instead of yielding garbage fields (ADVICE r6).
    val isWav = isRiff && substring(hx, 17, 8) === lit("57415645") &&
      substring(hx, 25, 8) === lit("666D7420")
    val isAvi = isRiff && substring(hx, 17, 8) === lit("41564920") &&
      substring(hx, 25, 8) === lit("4C495354") &&
      substring(hx, 41, 8) === lit("6864726C") &&
      substring(hx, 49, 8) === lit("61766968")
    val isWebp = isRiff && substring(hx, 17, 8) === lit("57454250") &&
      substring(hx, 25, 8) === lit("56503858")
    val isGif =
      substring(hx, 1, 12).isin("474946383761", "474946383961")
    val atSof = hx.substr(pos, lit(4)).isin("FFC0", "FFC1", "FFC2")
    walked
      .withColumn("format",
        when(isPng, "png").when(isJpeg, "jpeg").when(isWav, "wav")
          .when(isAvi, "avi").when(isWebp, "webp").when(isGif, "gif")
          .otherwise("unknown"))
      .withColumn("width",
        when(isPng, hex2int(substring(hx, 33, 8)))
          .when(isJpeg && atSof, hex2int(hx.substr(pos + 14, lit(4))))
          .when(isAvi, le32at(129))
          // VP8X carries canvas width−1 / height−1 as 24-bit LE
          .when(isWebp, le24at(49) + 1)
          .when(isGif, le16at(13)))
      .withColumn("height",
        when(isPng, hex2int(substring(hx, 41, 8)))
          .when(isJpeg && atSof, hex2int(hx.substr(pos + 10, lit(4))))
          .when(isAvi, le32at(137))
          .when(isWebp, le24at(55) + 1)
          .when(isGif, le16at(17)))
      // GIF/WebP animation frame counts need a full block walk; the
      // header-level contract reports the still image (1), like PNG
      .withColumn("n_frames",
        when(isAvi, le32at(97))
          .when(isPng || isJpeg || isWebp || isGif, lit(1)))
      .withColumn("sample_rate", when(isWav, le32at(49)))
      .withColumn("channels", when(isWav, le16at(45)))
      .drop("__hm_hx", "__hm_pos")
  }

  /** Plain-JVM twin of [[withHeaderMeta]] for the mapPartitions decode
    * seam ([[extractFeatures]]/[[resize]]): same formats, same offsets,
    * same 8-step JPEG walk, same unknown fallback — MediaHeadersSpec pins
    * byte-for-byte agreement with the Column parser on the fixture. */
  object HeaderCodec {
    final case class Meta(
        format: String,
        width: Option[Int], height: Option[Int], nFrames: Option[Int],
        sampleRate: Option[Int], channels: Option[Int])
    val Unknown = Meta("unknown", None, None, None, None, None)

    private def be(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
      v
    }
    private def le(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
      v
    }
    private def tag(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")
    private val PngSig =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    // CLASSIFICATION matches the Column twin byte-for-byte: a format is
    // recognized when its signature/fourCC bytes are present, however
    // short the payload (the Column parser classifies on the same
    // substrings). Fixed-offset FIELDS read whatever bytes exist — the
    // exact value a hex-substring read yields on a truncated header
    // (missing high bytes contribute nothing); a field with no bytes at
    // all is None (the substring is empty → conv is null). The one
    // residual asymmetry: JPEG dims inside a truncated SOF segment stay
    // None here where the Column twin reads the partial hex.
    def parse(p: Array[Byte]): Meta = {
      if (p == null) return Unknown
      def tagIs(off: Int, t: String) =
        p.length >= off + 4 && tag(p, off) == t
      def beOpt(off: Int, n: Int): Option[Int] =
        if (p.length <= off) None else Some(be(p, off, math.min(n, p.length - off)))
      def leOpt(off: Int, n: Int): Option[Int] =
        if (p.length <= off) None else Some(le(p, off, math.min(n, p.length - off)))
      if (p.length >= 8 && p.take(8).sameElements(PngSig))
        Meta("png", beOpt(16, 4), beOpt(20, 4), Some(1), None, None)
      else if (p.length >= 6 && {
        val s = new String(p, 0, 6, "US-ASCII")
        s == "GIF89a" || s == "GIF87a"
      })
        Meta("gif", leOpt(6, 2), leOpt(8, 2), Some(1), None, None)
      else if (p.length >= 2 && (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) {
        // marker-segment walk, same bound as the Column twin: at most 8
        // ADVANCES, so segments 1..9 are INSPECTED — the Column form is
        // 8 advance steps plus a final at-SOF check, and a check-bounded
        // loop here would stop one segment short of it
        var pos = 2; var advances = 0
        var dims: Option[(Int, Int)] = None
        var stop = false
        while (!stop && pos + 3 < p.length && (p(pos) & 0xff) == 0xff) {
          val m = p(pos + 1) & 0xff
          if (m == 0xc0 || m == 0xc1 || m == 0xc2) {
            if (pos + 8 < p.length)
              dims = Some((be(p, pos + 7, 2), be(p, pos + 5, 2)))
            stop = true // found (or truncated) SOF either way
          } else if (advances >= 8) stop = true
          else { pos += 2 + be(p, pos + 2, 2); advances += 1 }
        }
        Meta("jpeg", dims.map(_._1), dims.map(_._2), Some(1), None, None)
      // RIFF fields only trusted behind the expected fourCCs at the
      // assumed offsets — same guards as the Column twin (ADVICE r6)
      } else if (tagIs(0, "RIFF") && tagIs(8, "WAVE") && tagIs(12, "fmt "))
        Meta("wav", None, None, None, leOpt(24, 4), leOpt(22, 2))
      else if (tagIs(0, "RIFF") && tagIs(8, "AVI ") && tagIs(12, "LIST") &&
          tagIs(20, "hdrl") && tagIs(24, "avih"))
        Meta("avi", leOpt(64, 4), leOpt(68, 4), leOpt(48, 4), None, None)
      else if (tagIs(0, "RIFF") && tagIs(8, "WEBP") && tagIs(12, "VP8X"))
        Meta("webp", leOpt(24, 3).map(_ + 1), leOpt(27, 3).map(_ + 1),
          Some(1), None, None)
      else Unknown
    }

    /** Spatial dims where the format defines them; (0,0) for audio-only
      * containers (WAV); None only for unrecognized payloads. */
    def dims(p: Array[Byte]): Option[(Int, Int)] = parse(p) match {
      case Meta("wav", _, _, _, _, _)            => Some((0, 0))
      case Meta(_, Some(w), Some(h), _, _, _)    => Some((w, h))
      case _                                     => None
    }

    def frames(p: Array[Byte]): Option[Int] = parse(p) match {
      case Meta("unknown", _, _, _, _, _) => None
      case m                              => Some(m.nFrames.getOrElse(1))
    }
  }

  /** Synthesize a media table from the `documents` fixture (payload = text
    * bytes) — the environment has no binary fixtures; the schema is the
    * real contract. */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      col("source"),
      col("n_chars").cast("long").as("declared_bytes"))

  /** Decode + featurize, batched per partition (the `mapInPandas` shape:
    * one iterator pass per partition, no per-row JVM round trips beyond the
    * codec call). Dims and frame counts come from the REAL header parse
    * ([[HeaderCodec]]) when the container is recognized — genuinely
    * correct, no codec — with the [[FakeCodec]] stub only for unrecognized
    * payloads and for the embedding vector (the one stage that truly needs
    * a model/codec this environment lacks). Deterministic given payloads. */
  /** Fixed-shape features per media row. `realDecode = true` (the
    * default, what a production caller gets) derives the embedding from
    * DECODED PIXELS via [[decodeImage]]/[[pixelEmbeddingVec]] whenever a
    * codec claims the payload, leaving [[FakeCodec.features]] only for
    * truly-unknown formats. The `media_features` query pins
    * `realDecode = false`: its [[mediaWithHeaders]] payloads are
    * genuine-header + document-text hybrids whose BODIES are not pixel
    * data — a text body can even accidentally satisfy a lenient decoder
    * (a ',' is GIF's image-separator byte) — so that query's LCG-replay
    * oracle intentionally measures the stub seam on undecodable rows. */
  def extractFeatures(media: DataFrame, featureDim: Int = 8,
      realDecode: Boolean = true): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.map { r =>
        val decoded = if (realDecode) decodeImage(r.payload) else None
        val (w, h) = decoded.map(d => (d._2, d._3))
          .orElse(HeaderCodec.dims(r.payload))
          .getOrElse(FakeCodec.dims(r.payload))
        MediaFeatures(
          r.media_id, r.kind, w, h,
          HeaderCodec.frames(r.payload)
            .getOrElse(FakeCodec.frameCount(r.payload, r.kind)),
          decoded.map(d => pixelEmbeddingVec(d._2, d._3, d._4, featureDim))
            .getOrElse(FakeCodec.features(r.payload, featureDim)))
      }
    }.toDF()
  }

  /** A resized media row: original + target dims, preserved aspect ratio. */
  case class ResizedMedia(
      media_id: Long,
      kind: String,
      orig_width: Int,
      orig_height: Int,
      width: Int,
      height: Int,
      scale: Double,
      payload: Array[Byte])

  /** Resize stage: fit every image/video frame inside `maxDim`×`maxDim`
    * preserving aspect ratio (no upscaling). The geometry (scale factor,
    * rounded target dims) is the real contract a training pipeline keys
    * on; the pixel resample itself is part of the STUBBED codec — here the
    * payload passes through untouched where a real decoder would re-encode.
    * Audio rows pass through with scale 1 (nothing spatial to resize). */
  def resize(media: DataFrame, maxDim: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRecord].mapPartitions { rows =>
      rows.map { r =>
        val (w, h) = HeaderCodec.dims(r.payload)
          .getOrElse(FakeCodec.dims(r.payload))
        // audio (and any spatially dimension-less container, parsed as
        // 0×0) passes through untouched at scale 1
        val s =
          if (r.kind == "audio" || w <= 0 || h <= 0) 1.0
          else math.min(1.0, maxDim.toDouble / math.max(w, h))
        // STUB: a real codec would resample pixels here; geometry is real
        ResizedMedia(
          r.media_id, r.kind, w, h,
          if (s >= 1.0) w else math.max(1, math.round(w * s).toInt),
          if (s >= 1.0) h else math.max(1, math.round(h * s).toInt),
          s, r.payload)
      }
    }.toDF()
  }

  /** Frame sampling for videos: every k-th fake frame index — STUB for the
    * demux step; the explode shape (one row per sampled frame) is the real
    * downstream contract. */
  def sampleFrames(features: DataFrame, everyK: Int = 4): DataFrame =
    features
      .where(col("kind") === "video")
      .select(
        col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1,
          lit(everyK))).as("frame_idx"))

  // ------------------------------------------------ real pixel decode: BMP
  //
  // One genuinely-REAL pixel path end-to-end (VERDICT r10 item 5): 24-bpp
  // uncompressed BITMAPINFOHEADER BMP needs no codec library — the pixel
  // array is plain bytes behind a 54-byte header, plus two quirks a fake
  // decoder would get wrong and a real one must honor: rows are stored
  // BOTTOM-UP, padded to 4-byte boundaries, and samples are ordered
  // B,G,R. [[mediaBmp]] synthesizes conforming files whose pixel values
  // are a deterministic function of (doc_id, x, y); [[BmpCodec]] decodes
  // the BYTES back (never the formula); the `media_features_bmp` oracle
  // has DuckDB compute the features straight from the formula — so a
  // decoder that misreads the data offset, forgets row padding, scans
  // top-down, or swaps channels produces different sums and a red row.

  /** Synthesize a 24-bpp uncompressed BMP per document: w = id%16+1,
    * h = (7·id)%12+1, pixel (x, y) channels
    * B = (id + 3x + 7y) % 256, G = (5·id + x + 11y) % 256,
    * R = (9·id + 13x + y) % 256 with (x, y) in IMAGE coordinates
    * (top-left origin); the file stores rows bottom-up with 4-byte row
    * padding per the format. Pure hex Column expressions (the
    * [[mediaWithHeaders]] idiom); images are ≤ 16×12 so the interpreted
    * per-pixel lambdas stay trivially cheap. */
  def mediaBmp(docs: DataFrame): DataFrame = mediaBmpImpl(docs, perturb00 = false)

  /** [[mediaBmp]] with pixel (0, 0)'s B channel shifted by +16 (mod 256)
    * — the "one pixel touched" near-duplicate a perceptual hash must
    * still match ([[mediaPhashPairs]]'s planted case). */
  def mediaBmpPerturbed(docs: DataFrame): DataFrame =
    mediaBmpImpl(docs, perturb00 = true)

  private def mediaBmpImpl(docs0: DataFrame, perturb00: Boolean): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(16)) + 1).cast("int")
    val h = (pmod(id * 7, lit(12)) + 1).cast("int")
    val rowSize = (floor((w * 3 + 3) / lit(4)) * 4).cast("int")
    val pad = rowSize - w * 3
    // stored row i holds image row y = h - 1 - i (bottom-up)
    val pixelHex = array_join(
      transform(sequence(lit(0), h - 1), { i =>
        val y = h - 1 - i
        concat(
          array_join(
            transform(sequence(lit(0), w - 1), { x =>
              val bump =
                if (perturb00)
                  when(x === 0 && y === lit(0), lit(16)).otherwise(lit(0))
                else lit(0)
              concat(
                hexByte(id + x * 3 + y * 7 + bump),
                hexByte(id * 5 + x + y * 11),
                hexByte(id * 9 + x * 13 + y))
            }), ""),
          lit("000000").substr(lit(1), pad * 2)) // pad ∈ 0..3 zero bytes
      }), "")
    val hx = concat(
      lit("424D"), le32(rowSize * h + 54), lit("00000000"), le32(lit(54)),
      le32(lit(40)), le32(w), le32(h), le16(lit(1)), le16(lit(24)),
      le32(lit(0)), le32(rowSize * h), le32(lit(2835)), le32(lit(2835)),
      le32(lit(0)), le32(lit(0)), pixelHex)
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  /** REAL 24-bpp BMP decoder — pure byte arithmetic, no codec library.
    * Validates the BM signature, BITMAPINFOHEADER size, 24 bpp,
    * BI_RGB (no compression), positive dims, and that the file actually
    * contains `dataOffset + rowSize·h` bytes; returns None otherwise
    * (truncated or non-conforming input must fail loudly as a missing
    * row, not decode garbage). Output pixels are row-major TOP-DOWN
    * (r, g, b) triples packed `0xRRGGBB` — the decoder undoes the
    * bottom-up storage and strips row padding. */
  object BmpCodec {
    private def le(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
      v
    }
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 54) return None
      if ((p(0) & 0xff) != 'B' || (p(1) & 0xff) != 'M') return None
      val dataOffset = le(p, 10, 4)
      val hdrSize = le(p, 14, 4)
      val w = le(p, 18, 4)
      val h = le(p, 22, 4)
      val bpp = le(p, 28, 2)
      val compression = le(p, 30, 4)
      if (hdrSize < 40 || bpp != 24 || compression != 0) return None
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
      val rowSize = ((3 * w + 3) / 4) * 4
      if (dataOffset < 54 || p.length.toLong < dataOffset.toLong + rowSize.toLong * h)
        return None
      val out = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val base = dataOffset + (h - 1 - y) * rowSize // stored bottom-up
        var x = 0
        while (x < w) {
          val b = p(base + 3 * x) & 0xff
          val g = p(base + 3 * x + 1) & 0xff
          val r = p(base + 3 * x + 2) & 0xff
          out(y * w + x) = (r << 16) | (g << 8) | b
          x += 1
        }
        y += 1
      }
      Some((w, h, out))
    }

    /** REAL RLE8 decompressor — the compressed-BMP path (BI_RLE8:
      * 8-bit palette indices, run-length encoded). Walks the escape
      * grammar: `n idx` (n>0) = encoded run; `00 00` = end of line;
      * `00 01` = end of bitmap; `00 02 dx dy` = delta (skipped pixels
      * keep palette[0], the defined background); `00 n` (n≥3) =
      * absolute mode, n raw indices padded to a word boundary. Indices
      * resolve through the BGRA palette; rows are stored bottom-up.
      * Returns top-down `0xRRGGBB` pixels; None on any overrun,
      * truncation, or out-of-range index — compressed garbage must
      * surface as a missing row, never as pixels. */
    def decodeRle8(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 54) return None
      if ((p(0) & 0xff) != 'B' || (p(1) & 0xff) != 'M') return None
      val dataOffset = le(p, 10, 4)
      val hdrSize = le(p, 14, 4)
      val w = le(p, 18, 4)
      val h = le(p, 22, 4)
      val bpp = le(p, 28, 2)
      val compression = le(p, 30, 4)
      if (hdrSize < 40 || bpp != 8 || compression != 1) return None
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
      val clrUsed = le(p, 46, 4)
      val nColors = if (clrUsed == 0) 256 else clrUsed
      if (nColors < 1 || nColors > 256) return None
      // LONG arithmetic on header-supplied offsets: a hostile dataOffset
      // or hdrSize near 2^31 must reject, not wrap the bounds checks
      // into an ArrayIndexOutOfBounds (the BmpCodec.decode hardening)
      if (hdrSize < 0 || dataOffset < 0 || dataOffset > p.length) return None
      val palOffL = 14L + hdrSize
      if (p.length.toLong < palOffL + 4L * nColors ||
          dataOffset.toLong < palOffL + 4L * nColors)
        return None
      val palOff = palOffL.toInt // validated ≤ p.length above
      val palette = new Array[Int](nColors)
      var c = 0
      while (c < nColors) {
        val b = p(palOff + 4 * c) & 0xff
        val g = p(palOff + 4 * c + 1) & 0xff
        val r = p(palOff + 4 * c + 2) & 0xff
        palette(c) = (r << 16) | (g << 8) | b
        c += 1
      }
      val out = Array.fill(w * h)(palette(0))
      var i = dataOffset
      var x = 0
      var row = 0 // stored row index; image y = h - 1 - row
      def put(idx: Int): Boolean = {
        if (x >= w || row >= h || idx >= nColors) return false
        out((h - 1 - row) * w + x) = palette(idx)
        x += 1
        true
      }
      while (true) {
        if (i + 1 >= p.length) return None // ran off the stream
        val b1 = p(i) & 0xff
        val b2 = p(i + 1) & 0xff
        i += 2
        if (b1 > 0) { // encoded run
          var n = b1
          while (n > 0) { if (!put(b2)) return None; n -= 1 }
        } else b2 match {
          case 0 => x = 0; row += 1 // end of line
          case 1 => return Some((w, h, out)) // end of bitmap
          case 2 => // delta: skipped pixels keep the background
            if (i + 1 >= p.length) return None
            x += p(i) & 0xff
            row += p(i + 1) & 0xff
            if (x > w || row > h) return None
            i += 2
          case n => // absolute mode: n raw indices, word-aligned
            if (i + n > p.length) return None
            var j = 0
            while (j < n) { if (!put(p(i + j) & 0xff)) return None; j += 1 }
            i += n + (n & 1) // pad to word boundary
        }
      }
      None // unreachable
    }

    /** Encode (w, h, top-down `0xRRGGBB` pixels) as a conforming 24-bpp
      * BMP — the exact inverse of [[decode]] (bottom-up rows, 4-byte
      * padding, B,G,R order); decode(encode(w, h, px)) round-trips
      * bit-for-bit (spec-pinned). */
    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      require(px.length == w * h, "pixel array must be w*h")
      val rowSize = ((3 * w + 3) / 4) * 4
      val size = 54 + rowSize * h
      val b = new Array[Byte](size)
      def putLe(off: Int, v: Int, n: Int): Unit = {
        var i = 0
        while (i < n) { b(off + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
      }
      b(0) = 'B'.toByte; b(1) = 'M'.toByte
      putLe(2, size, 4); putLe(10, 54, 4); putLe(14, 40, 4)
      putLe(18, w, 4); putLe(22, h, 4); putLe(26, 1, 2); putLe(28, 24, 2)
      putLe(34, rowSize * h, 4); putLe(38, 2835, 4); putLe(42, 2835, 4)
      var y = 0
      while (y < h) {
        val base = 54 + (h - 1 - y) * rowSize
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          b(base + 3 * x) = (p & 0xff).toByte
          b(base + 3 * x + 1) = ((p >> 8) & 0xff).toByte
          b(base + 3 * x + 2) = ((p >> 16) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      b
    }
  }

  /** Pixel-level features decoded from REAL image bytes. All-integer
    * aggregates (no float divergence risk): per-channel sums, a
    * BT.601 luma sum in milli-units, and a position-weighted checksum
    * `Σ (y·w + x + 1)·(r + 2g + 3b)` that pins row order (bottom-up
    * undone), padding (a decoder reading pad bytes shifts every later
    * pixel), and channel order (B,G,R storage vs r,g,b output). */
  case class BmpFeatures(
      media_id: Long, width: Int, height: Int, n_px: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      luma_milli: Long, checksum: Long)

  /** The ONE pixel featurization both BMP queries share — a change to
    * the feature definition (luma coefficients, checksum weights) lands
    * in `media_features_bmp` and `media_resize_bmp` together or not at
    * all. */
  private def featurize(id: Long, w: Int, h: Int, px: Array[Int]): BmpFeatures = {
    var sr = 0L; var sg = 0L; var sb = 0L; var luma = 0L; var ck = 0L
    var i = 0
    while (i < px.length) {
      val r = (px(i) >> 16) & 0xff
      val g = (px(i) >> 8) & 0xff
      val b = px(i) & 0xff
      sr += r; sg += g; sb += b
      luma += 299L * r + 587L * g + 114L * b
      ck += (i + 1).toLong * (r + 2L * g + 3L * b)
      i += 1
    }
    BmpFeatures(id, w, h, w.toLong * h, sr, sg, sb, luma, ck)
  }

  /** Decode + featurize the BMP table ([[mediaBmp]] shape: media_id,
    * payload) partition-wise — the same mapPartitions codec seam as
    * [[extractFeatures]], but with the decode step REAL. Non-conforming
    * payloads are dropped (a decode regression surfaces as a row-count
    * mismatch against the oracle). */
  def bmpFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          BmpCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  /** REAL pixel resampling end-to-end (closing the "geometry-only"
    * caveat on [[resize]] for the BMP path): decode the source bytes →
    * nearest-neighbor resample to fit 8×8 (no upscaling;
    * the [[resize]] scale/rounding contract: `max(1, round(dim·s))`) →
    * RE-ENCODE as a conforming BMP → DECODE the re-encoded bytes →
    * feature the re-decoded pixels. The features thus pin the whole
    * decode→resample→encode→decode chain: a wrong source-pixel mapping,
    * a broken encoder, or an asymmetric decode all change the sums.
    * Nearest-neighbor uses pure integer arithmetic — source (x, y) =
    * (x'·w ÷ w', y'·h ÷ h') with floor division — so DuckDB replays it
    * exactly from the synth formula. Non-conforming payloads drop (row
    * count pins it). */
  def bmpResizeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          BmpCodec.decode(payload).flatMap { case (w, h, px) =>
            val s = math.min(1.0, 8.0 / math.max(w, h))
            val tw = if (s >= 1.0) w else math.max(1, math.round(w * s).toInt)
            val th = if (s >= 1.0) h else math.max(1, math.round(h * s).toInt)
            val out = new Array[Int](tw * th)
            var y = 0
            while (y < th) {
              var x = 0
              while (x < tw) {
                out(y * tw + x) = px((y * h / th) * w + (x * w / tw))
                x += 1
              }
              y += 1
            }
            BmpCodec.decode(BmpCodec.encode(tw, th, out)).map {
              case (w2, h2, px2) => featurize(id, w2, h2, px2)
            }
          }
        }
      }.toDF()
  }

  // ------------------------------------- real pixel decode: RLE8 BMP
  //
  // The first COMPRESSED format decoded for real (r11 residual gap 1):
  // BI_RLE8 is 8-bit paletted BMP with run-length encoding — a decoder
  // must walk a genuine compression stream (encoded runs, escape codes
  // for end-of-line / end-of-bitmap / absolute mode with word padding),
  // resolve indices through the 1024-byte BGRA palette, and still undo
  // the bottom-up row order. No codec library involved: the format is
  // bytes + arithmetic. [[mediaBmpRle]] synthesizes conforming streams
  // whose runs follow a deterministic formula; [[BmpCodec.decodeRle8]]
  // decompresses the BYTES; the `media_features_rle` oracle recomputes
  // the features from the formula — a wrong run count, palette stride,
  // escape handling, or row direction is a red row.

  /** Synthesize a BI_RLE8 BMP per document: w = id%14+2, h = (3·id)%10+1,
    * palette entry i = (R,G,B) = ((7i)%256, (5i)%256, (3i)%256) (stored
    * B,G,R,0), pixel INDEX at (x, y) = (3·id + 5·⌊x/4⌋ + 11·y) % 256 —
    * constant over runs of 4, so the RLE genuinely compresses. Each
    * stored row (bottom-up) is encoded as (runLen, index) pairs + EOL;
    * the stream ends with EOF. Pure Column expressions. */
  def mediaBmpRle(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(14)) + 2).cast("int")
    val h = (pmod(id * 3, lit(10)) + 1).cast("int")
    val nRuns = floor((w + 3) / lit(4)).cast("int")
    // palette: 256 × (B,G,R,0) — same deterministic table for every doc,
    // so it's a Scala-computed literal, not 256 interpreted lambda evals
    // per row (measured 3.2 → 1.1 s at sf0.1)
    val paletteHex = lit((0 until 256).map(i =>
      f"${(i * 3) % 256}%02X${(i * 5) % 256}%02X${(i * 7) % 256}%02X00")
      .mkString)
    // stored row i (bottom-up) encodes image row y = h - 1 - i
    val dataHex = concat(array_join(
      transform(sequence(lit(0), h - 1), { i =>
        val y = h - 1 - i
        concat(
          array_join(
            transform(sequence(lit(0), nRuns - 1), { r =>
              val runLen = least(lit(4), w - r * 4)
              concat(hexByte(runLen), hexByte(id * 3 + r * 5 + y * 11))
            }), ""),
          lit("0000")) // end-of-line escape
      }), ""),
      lit("0001")) // end-of-bitmap escape
    val dataBytes = h * (nRuns * 2 + 2) + 2
    val dataOffset = lit(54 + 1024)
    val hx = concat(
      lit("424D"), le32(dataOffset + dataBytes), lit("00000000"),
      le32(dataOffset),
      le32(lit(40)), le32(w), le32(h), le16(lit(1)), le16(lit(8)),
      le32(lit(1)) /* BI_RLE8 */, le32(dataBytes), le32(lit(2835)),
      le32(lit(2835)), le32(lit(256)), le32(lit(0)),
      paletteHex, dataHex)
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  /** Decode + featurize the RLE8 table — the [[bmpFeatures]] contract
    * over the compressed path. */
  def bmpRleFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          BmpCodec.decodeRle8(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  // ------------------------------- real video decode: AVI with DIB frames
  //
  // The video modality's REAL decode path, completing the triad (images:
  // BMP/RLE8/netpbm/aHash; audio: PCM WAV): AVI containing UNCOMPRESSED
  // 24-bpp DIB frames needs no codec either — the container is nested
  // RIFF LISTs (hdrl → strl → strf BITMAPINFOHEADER for geometry, movi →
  // `00db` chunks for the raw frames) and each frame is the BMP pixel
  // array (bottom-up rows, 4-byte padding, B,G,R) without the file
  // header. A fake decoder fails on the nesting (frame geometry lives
  // two LISTs deep, not at a fixed offset) and on frame ORDER, which the
  // (f+1)-weighted checksum pins.

  /** Shared RIFF/AVI wrapper — ONE copy of the RIFF size ledger (the
    * nested strl/hdrl/movi sizes and the total) for every synth family
    * (DIB and MJPEG), so a framing tweak cannot silently diverge them.
    * `frameChunkHex(f)` returns one complete `00db`/`00dc` chunk
    * (tag + size + body) of `frameBytes` body bytes (must be even —
    * both families' sizes are even by construction, so no pad byte);
    * `handlerHex` / `compressionHex` are the strh fccHandler and strf
    * biCompression fourccs as 8 hex chars in FILE byte order. */
  private def aviWrap(docs: DataFrame, w: Column, h: Column, nf: Column,
      frameBytes: Column, handlerHex: String, compressionHex: String,
      frameChunkHex: Column => Column): DataFrame = {
    val id = col("doc_id")
    def zeros(n: Int) = lit("00" * n)
    // strh: fccType 'vids', the family's handler fourcc, rest zero (56)
    val strh = concat(lit("73747268"), le32(lit(56)),
      lit("76696473"), lit(handlerHex), zeros(48))
    val strf = concat(lit("73747266"), le32(lit(40)),
      le32(lit(40)), le32(w), le32(h), le16(lit(1)), le16(lit(24)),
      lit(compressionHex), le32(frameBytes), zeros(16))
    val strl = concat(lit("4C495354"), le32(lit(4 + 64 + 48)),
      lit("7374726C"), strh, strf)
    val avih = concat(lit("61766968"), le32(lit(56)),
      le32(lit(100000)), le32(lit(0)), le32(lit(0)), le32(lit(0)),
      le32(nf), le32(lit(0)), le32(lit(1)), le32(lit(0)),
      le32(w), le32(h), zeros(16))
    val hdrl = concat(lit("4C495354"), le32(lit(4 + 64 + 124)),
      lit("6864726C"), avih, strl)
    val frames = array_join(
      transform(sequence(lit(0), nf - 1), frameChunkHex), "")
    val movi = concat(lit("4C495354"),
      le32(nf * (frameBytes + 8) + 4), lit("6D6F7669"), frames)
    val hx = concat(
      lit("52494646"),
      le32(lit(4 + 8 + 4 + 64 + 124) + nf * (frameBytes + 8) + 12),
      lit("41564920"), hdrl, movi)
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  /** Shared AVI/DIB container builder over [[aviWrap]]: uncompressed
    * 24-bpp bottom-up padded frames in `00db` chunks. `hMul` varies the
    * height formula; `pixelHex(id, nf, f, x, y)` returns the
    * 6-hex-char B,G,R cell. */
  private def aviContainer(docs0: DataFrame, hMul: Int,
      pixelHex: (Column, Column, Column, Column, Column) => Column): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(8)) + 1).cast("int")
    val h = (pmod(id * hMul, lit(6)) + 1).cast("int")
    val nf = (pmod(id, lit(5)) + 2).cast("int")
    val rowSize = (floor((w * 3 + 3) / lit(4)) * 4).cast("int")
    val pad = rowSize - w * 3
    val frameBytes = rowSize * h
    aviWrap(docs, w, h, nf, frameBytes,
      handlerHex = "44494220", compressionHex = "00000000", // 'DIB ', BI_RGB
      frameChunkHex = { f =>
        concat(lit("30306462"), le32(frameBytes), array_join(
          transform(sequence(lit(0), h - 1), { i =>
            val y = h - 1 - i // stored bottom-up
            concat(
              array_join(
                transform(sequence(lit(0), w - 1), { x =>
                  pixelHex(id, nf, f, x, y)
                }), ""),
              lit("000000").substr(lit(1), pad * 2))
          }), ""))
      })
  }

  /** Two-hex-char byte of `c` mod 256 — the media synthesizers' cell
    * encoder. */
  private def hexByte(c: Column): Column =
    lpad(conv(pmod(c, lit(256)), 10, 16), 2, "0")

  /** Hex of integer column `c` as a little-endian 4-byte field — the RIFF,
    * BMP and WAV synthesizers' header encoder. */
  private def le32(c: Column): Column = {
    val b = lpad(conv(c.cast("long"), 10, 16), 8, "0")
    concat(substring(b, 7, 2), substring(b, 5, 2),
      substring(b, 3, 2), substring(b, 1, 2))
  }

  /** Little-endian 2-byte twin of [[le32]]. */
  private def le16(c: Column): Column = {
    val b = lpad(conv(c.cast("long"), 10, 16), 4, "0")
    concat(substring(b, 3, 2), substring(b, 1, 2))
  }

  /** Synthesize an uncompressed-DIB AVI per document: w = id%8+1,
    * h = (3·id)%6+1, nf = id%5+2 frames; frame f pixel (x, y) channels
    * B = (id + f + 3x + 7y) % 256, G = (5·id + 2f + x + 11y) % 256,
    * R = (9·id + 3f + 13x + y) % 256. Conforming hdrl (avih + strl with
    * `vids`/`DIB ` strh and a BITMAPINFOHEADER strf) + movi with one
    * `00db` chunk per frame. */
  def mediaAviDib(docs: DataFrame): DataFrame =
    aviContainer(docs, hMul = 3, (id, _, f, x, y) =>
      concat(
        hexByte(id + f + x * 3 + y * 7),
        hexByte(id * 5 + f * 2 + x + y * 11),
        hexByte(id * 9 + f * 3 + x * 13 + y)))

  // ---------------------- real A/V demux: interleaved audio in the AVI
  //
  // Real-world AVIs interleave an AUDIO stream ('01wb' PCM chunks)
  // between the video frames — the same container carries both
  // modalities, and a demuxer must route chunks by STREAM NUMBER and
  // associate strf headers with their streams by hdrl ORDER (the first
  // strf describes stream 0, the second stream 1), not by chunk
  // adjacency. [[mediaAviAv]] synthesizes conforming two-stream files;
  // [[AviCodec.decodeAv]] demuxes both; [[avFeatures]]' cross-modal
  // checksum ((f+1)-weighted per-CHUNK audio sums) pins the
  // interleaving — a demuxer that concatenates audio in the wrong
  // order, or attaches chunk f to the wrong frame, is a red row.

  /** Synthesize an interleaved audio+video AVI per document: the
    * [[mediaAviDib]] video formula (w = id%8+1, h = (3·id)%6+1,
    * nf = id%5+2, 24-bpp DIB `00db` chunks) plus a mono 16-bit 8 kHz
    * PCM stream in `01wb` chunks, spf = id%7+3 samples per chunk,
    * chunk f carrying GLOBAL samples f·spf … (f+1)·spf−1 with the
    * [[mediaWavPcm]] value formula s(k) = ((3·id + 17·k) mod 65536) −
    * 32768. Two strl LISTs ride hdrl (vids 'DIB ' then auds PCM
    * WAVEFORMATEX). */
  def mediaAviAv(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(8)) + 1).cast("int")
    val h = (pmod(id * 3, lit(6)) + 1).cast("int")
    val nf = (pmod(id, lit(5)) + 2).cast("int")
    val spf = (pmod(id, lit(7)) + 3).cast("int")
    val rowSize = (floor((w * 3 + 3) / lit(4)) * 4).cast("int")
    val pad = rowSize - w * 3
    val frameBytes = rowSize * h
    val audioBytes = spf * 2
    def zeros(n: Int) = lit("00" * n)
    val strhV = concat(lit("73747268"), le32(lit(56)),
      lit("76696473"), lit("44494220"), zeros(48))
    val strfV = concat(lit("73747266"), le32(lit(40)),
      le32(lit(40)), le32(w), le32(h), le16(lit(1)), le16(lit(24)),
      le32(lit(0)), le32(frameBytes), zeros(16))
    val strlV = concat(lit("4C495354"), le32(lit(4 + 64 + 48)),
      lit("7374726C"), strhV, strfV)
    val strhA = concat(lit("73747268"), le32(lit(56)),
      lit("61756473"), zeros(4), zeros(48)) // 'auds', no handler fourcc
    // WAVEFORMATEX: PCM (1), mono, 8 kHz, 16000 B/s, align 2, 16 bits
    val strfA = concat(lit("73747266"), le32(lit(16)),
      le16(lit(1)), le16(lit(1)), le32(lit(8000)), le32(lit(16000)),
      le16(lit(2)), le16(lit(16)))
    val strlA = concat(lit("4C495354"), le32(lit(4 + 64 + 24)),
      lit("7374726C"), strhA, strfA)
    val avih = concat(lit("61766968"), le32(lit(56)),
      le32(lit(100000)), le32(lit(0)), le32(lit(0)), le32(lit(0)),
      le32(nf), le32(lit(0)), le32(lit(2)), le32(lit(0)), // 2 streams
      le32(w), le32(h), zeros(16))
    val hdrl = concat(lit("4C495354"), le32(lit(4 + 64 + 124 + 100)),
      lit("6864726C"), avih, strlV, strlA)
    val frames = array_join(
      transform(sequence(lit(0), nf - 1), { f =>
        val video = concat(lit("30306462"), le32(frameBytes), array_join(
          transform(sequence(lit(0), h - 1), { i =>
            val y = h - 1 - i // stored bottom-up
            concat(
              array_join(
                transform(sequence(lit(0), w - 1), { x =>
                  concat(
                    hexByte(id + f + x * 3 + y * 7),
                    hexByte(id * 5 + f * 2 + x + y * 11),
                    hexByte(id * 9 + f * 3 + x * 13 + y))
                }), ""),
              lit("000000").substr(lit(1), pad * 2))
          }), ""))
        val audio = concat(lit("30317762"), le32(audioBytes), array_join(
          transform(sequence(lit(0), spf - 1), { k =>
            // two's-complement int16 little-endian of the global sample:
            // value v = m - 32768 for m = (3id+17k) mod 65536 stores as
            // (v + 2^16) mod 2^16 = (m + 32768) mod 2^16
            le16(pmod(pmod(id * 3 + (f * spf + k) * 17, lit(65536))
              + 32768, lit(65536)))
          }), ""))
        concat(video, audio)
      }), "")
    val moviBody = nf * (frameBytes + 8 + audioBytes + 8)
    val movi = concat(lit("4C495354"),
      le32(moviBody + 4), lit("6D6F7669"), frames)
    val hx = concat(
      lit("52494646"),
      le32(lit(4 + 8 + 4 + 64 + 124 + 100) + moviBody + 12),
      lit("41564920"), hdrl, movi)
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  /** REAL AVI/DIB decoder: RIFF walk → hdrl LIST → strl LIST → strf
    * geometry (validated 24-bpp BI_RGB), then every `00db`/`00dc` movi
    * chunk decoded exactly as a BMP pixel array (bottom-up undone,
    * padding stripped, B,G,R → 0xRRGGBB). Returns top-down frames in
    * stream order; None on truncation, missing geometry, or an
    * out-of-scope format. */
  object AviCodec {
    private def le(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
      v
    }
    private def tag(b: Array[Byte], off: Int): String =
      new String(b.slice(off, off + 4), "US-ASCII")

    /** 'MJPG' as the strf biCompression little-endian dword. */
    private val MJPG = 0x47504a4d

    def decodeDib(p: Array[Byte]): Option[(Int, Int, Array[Array[Int]])] =
      walk(p, allowMjpeg = false, withAudio = false).map(r => (r._1, r._2, r._3))

    /** [[decodeDib]] plus Motion JPEG: strf biCompression 'MJPG'
      * dispatches every movi frame chunk through [[JpegCodec.decode]]
      * (each `00dc` chunk is a complete baseline JPEG interchange
      * file), with the decoded dims validated against the container
      * geometry. Uncompressed 24-bpp BI_RGB still takes the DIB path,
      * so every existing AVI consumer upgrades by switching here. */
    def decodeFrames(p: Array[Byte]): Option[(Int, Int, Array[Array[Int]])] =
      walk(p, allowMjpeg = true, withAudio = false).map(r => (r._1, r._2, r._3))

    /** First video frame only — the thumbnail path ([[decodeImage]]'s
      * AVI arm): stops the walk at the first decoded frame instead of
      * materializing every frame to then keep frame 0. Deliberately
      * LENIENT about anything after that frame (a tail truncation the
      * strict decoders reject is invisible here) — acceptable for a
      * thumbnail, never used by the feature/scene oracles. */
    def decodeFirstFrame(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
      walk(p, allowMjpeg = true, withAudio = false, maxFrames = 1)
        .map(r => (r._1, r._2, r._3(0)))

    /** Two-stream A/V demux: video frames exactly as [[decodeFrames]]
      * (DIB or Motion-JPEG) PLUS the interleaved `01wb` PCM audio,
      * returned as per-CHUNK sample arrays so a consumer can pin the
      * interleaving. strf headers attach to streams by hdrl ORDER: the
      * first describes stream 0 (video), the second stream 1 (audio,
      * WAVEFORMATEX — PCM/mono/16-bit validated, anything else None).
      * Returns (w, h, frames, audioChunks); None on any malformation. */
    def decodeAv(p: Array[Byte])
    : Option[(Int, Int, Array[Array[Int]], Array[Array[Int]])] =
      walk(p, allowMjpeg = true, withAudio = true)

    /** ONE copy of the RIFF walk for every decode entry point (the
      * synth side keeps its single ledger in [[aviWrap]] for the same
      * reason): chunk iteration, LIST recursion, the strf-by-hdrl-order
      * stream attachment, the bottom-up DIB row decode, the MJPG
      * dispatch, and the PCM chunk decode all live here once.
      * `withAudio = false` REJECTS a second strf (single-stream
      * decoders must not silently ignore an audio stream they would
      * drop); `maxFrames` stops the walk early for the thumbnail path. */
    private def walk(p: Array[Byte], allowMjpeg: Boolean,
        withAudio: Boolean, maxFrames: Int = Int.MaxValue)
    : Option[(Int, Int, Array[Array[Int]], Array[Array[Int]])] = {
      if (p == null || p.length < 24) return None
      if (tag(p, 0) != "RIFF" || tag(p, 8) != "AVI ") return None
      var w = -1; var h = -1
      var mjpeg = false
      var strfSeen = 0
      var audioOk = false
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      val audio = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
      // iterate chunks in [from, to); recurse into LISTs; stop early
      // once maxFrames frames have decoded (every recursion level
      // checks, so the unwind is natural)
      def walkRange(from: Int, to: Int): Boolean = {
        var i = from
        while (i + 8 <= to && frames.length < maxFrames) {
          val id = tag(p, i)
          val size = le(p, i + 4, 4)
          // long bound: a size near 2^31 must reject, not wrap
          if (size < 0 || i.toLong + 8 + size > to) return false
          if (id == "LIST") {
            if (size < 4) return false
            if (!walkRange(i + 12, i + 8 + size)) return false
          } else if (id == "strf") {
            // hdrl ORDER attaches headers to streams
            if (strfSeen == 0) {
              if (size < 40) return false
              val bpp = le(p, i + 8 + 14, 2)
              val comp = le(p, i + 8 + 16, 4)
              if (comp == MJPG && allowMjpeg) mjpeg = true
              else if (bpp != 24 || comp != 0) return false
              w = le(p, i + 8 + 4, 4)
              h = le(p, i + 8 + 8, 4)
              if (w <= 0 || h <= 0 || w > (1 << 16) || h > (1 << 16))
                return false
            } else {
              if (!withAudio) return false // a stream we would drop
              // same strictness one stream up: a THIRD stream's chunks
              // ('02wb'/'02dc') would be silently ignored below, so a
              // 3-stream file must reject, not decode partially
              if (strfSeen >= 2) return false
              if (size < 16) return false
              val fmt = le(p, i + 8, 2); val ch = le(p, i + 8 + 2, 2)
              val bits = le(p, i + 8 + 14, 2)
              if (fmt != 1 || ch != 1 || bits != 16) return false
              audioOk = true
            }
            strfSeen += 1
          } else if (id == "00db" || id == "00dc") {
            if (w < 0) return false // geometry must precede frames
            if (mjpeg) {
              // a frame that fails to decode or disagrees with the
              // container geometry poisons the whole video — consistent
              // with the DIB path's strictness, never a partial decode
              JpegCodec.decode(
                java.util.Arrays.copyOfRange(p, i + 8, i + 8 + size)) match {
                case Some((fw, fh, px)) if fw == w && fh == h => frames += px
                case _ => return false
              }
            } else {
              val rowSize = ((3 * w + 3) / 4) * 4
              // long product: rowSize·h can exceed 2^31 at the dim bound
              if (size.toLong != rowSize.toLong * h) return false
              val out = new Array[Int](w * h)
              var y = 0
              while (y < h) {
                val base = i + 8 + (h - 1 - y) * rowSize
                var x = 0
                while (x < w) {
                  val bb = p(base + 3 * x) & 0xff
                  val g = p(base + 3 * x + 1) & 0xff
                  val r = p(base + 3 * x + 2) & 0xff
                  out(y * w + x) = (r << 16) | (g << 8) | bb
                  x += 1
                }
                y += 1
              }
              frames += out
            }
          } else if (id == "01wb" && withAudio) {
            if (!audioOk || (size & 1) == 1) return false
            val out = new Array[Int](size / 2)
            var k = 0
            while (k < out.length) {
              // little-endian two's-complement int16
              out(k) = (le(p, i + 8 + 2 * k, 2) << 16) >> 16
              k += 1
            }
            audio += out
          }
          i += 8 + size + (size & 1)
        }
        true
      }
      if (!walkRange(12, p.length)) return None
      if (w < 0 || frames.isEmpty || (withAudio && !audioOk)) None
      else Some((w, h, frames.toArray, audio.toArray))
    }

    /** Byte-level MJPEG muxer — wraps already-encoded JPEG frames in
      * the same RIFF ledger the synth families emit ('MJPG' strh
      * handler + strf biCompression, one `00dc` chunk per frame,
      * odd-sized chunks word-padded per the RIFF rule). Exists so the
      * round-trip spec can drive REAL [[JpegCodec.encode]] output —
      * whose sizes vary per frame and are frequently odd — through the
      * composed container decode. */
    def encodeMjpeg(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def le32w(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      def le16w(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      val moviBody = frames.map(f => 8 + f.length + (f.length & 1)).sum
      ascii("RIFF"); le32w(4 + 8 + 4 + 64 + 124 + 12 + moviBody); ascii("AVI ")
      ascii("LIST"); le32w(4 + 64 + 124); ascii("hdrl")
      ascii("avih"); le32w(56)
      le32w(100000); le32w(0); le32w(0); le32w(0)
      le32w(frames.length); le32w(0); le32w(1); le32w(0)
      le32w(w); le32w(h); (0 until 16).foreach(_ => out.write(0))
      ascii("LIST"); le32w(4 + 64 + 48); ascii("strl")
      ascii("strh"); le32w(56); ascii("vids"); ascii("MJPG")
      (0 until 48).foreach(_ => out.write(0))
      ascii("strf"); le32w(40)
      le32w(40); le32w(w); le32w(h); le16w(1); le16w(24)
      ascii("MJPG"); le32w(frames.map(_.length).maxOption.getOrElse(0))
      (0 until 16).foreach(_ => out.write(0))
      ascii("LIST"); le32w(4 + moviBody); ascii("movi")
      frames.foreach { f =>
        ascii("00dc"); le32w(f.length); out.write(f)
        if ((f.length & 1) == 1) out.write(0) // RIFF word padding
      }
      out.toByteArray
    }
  }

  /** [[mediaAviDib]]'s container with SCENE semantics: frames are
    * STATIC per scene (no per-frame drift — drift wraps mod 256 at
    * scattered pixels, which is itself a visual change and would blur
    * the planted signal), and even-id videos INVERT every channel from
    * the midpoint frame on (255 − v: a negative-film jump that reverses
    * the luma ordering, so the hash flips wherever a cell sat away from
    * the mean — a uniform additive bump would wrap whole channel
    * windows uniformly and often leave the hash untouched). Odd-id
    * videos are one static scene. */
  def mediaAviScenes(docs: DataFrame): DataFrame =
    aviContainer(docs, hMul = 5, (id, nf, f, x, y) => {
      val scene2 = pmod(id, lit(2)) === 0 && f >= floor(nf / 2)
      def ch(base: Column) =
        when(scene2, lit(255) - pmod(base, lit(256)))
          .otherwise(pmod(base, lit(256)))
      concat(
        hexByte(ch(id + x * 3 + y * 7)),
        hexByte(ch(id * 5 + x + y * 11)),
        hexByte(ch(id * 9 + x * 13 + y)))
    })

  // ----------------------- real video decode: MJPEG (JPEG frames in AVI)
  //
  // Real-world AVI video is never uncompressed: the ubiquitous
  // self-contained form is Motion JPEG — every `00dc` chunk a complete
  // baseline JPEG interchange file. The container walk and the frame
  // codec both already exist; this tier COMPOSES them ([[AviCodec]]'s
  // nested LIST walk dispatching on strf biCompression → [[JpegCodec]]
  // per chunk), so a decoder that gets either layer wrong — the RIFF
  // ledger, the MJPG fourcc dispatch, or any step of the T.81 entropy
  // decode — is a red row against the formula oracle.

  /** Synthesize a Motion-JPEG AVI per document: grayscale baseline
    * JPEG frames (the [[mediaJpeg]] DC-only construction — wb = id%3+1,
    * hb = 2 − id%2 blocks (evens are guaranteed ≥ 2 blocks, so the
    * planted scene jump below is never aHash-blind on a single flat
    * tile), Q0 = 8 so block pixel = Σdiff + 128 exactly, one-entry
    * Huffman tables so the scan is byte-aligned
    * two-byte blocks) in `00dc` chunks behind an 'MJPG' strh handler
    * and strf biCompression. nf = id%5+2 frames with SCENE semantics:
    * block i's base diff = ±(8 + (7·id+3·i)%8), sign + iff (id+i)%2=0;
    * even-id videos NEGATE every diff from the midpoint frame on
    * (block value reflects 128+S → 128−S, a negative-film jump exactly
    * analogous to [[mediaAviScenes]]' inversion), odd-id videos are one
    * static scene. |ΣS| ≤ 6·15 = 90 keeps every value in [38, 218] —
    * no clamping, so the oracle replay is integer-exact. */
  def mediaAviMjpeg(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val wb = (pmod(id, lit(3)) + 1).cast("int")
    val hb = (lit(2) - pmod(id, lit(2))).cast("int")
    val nf = (pmod(id, lit(5)) + 2).cast("int")
    val nb = wb * hb
    val frameBytes = lit(140) + nb * 2 // fixed segments + 2-byte blocks
    def be16h(c: Column) = lpad(conv(c.cast("long"), 10, 16), 4, "0")
    aviWrap(docs, wb * 8, hb * 8, nf, frameBytes,
      handlerHex = "4D4A5047", compressionHex = "4D4A5047", // 'MJPG' ×2
      frameChunkHex = { f =>
        val inv = pmod(id, lit(2)) === 0 && f >= floor(nf / 2)
        val scanHex = array_join(transform(sequence(lit(0), nb - 1), i => {
          val mag = pmod(id * 7 + i * 3, lit(8)) + 8
          val pos = pmod(id + i, lit(2)) === 0 // base sign, pre-inversion
          val diff = when(when(inv, !pos).otherwise(pos), mag).otherwise(-mag)
          // category-4 magnitude bits: positive v → v (1000..1111),
          // negative v → v + 2^4 - 1 (0000..0111) — the EXTEND inverse
          val bitsVal = when(diff > 0, diff).otherwise(diff + 15)
          concat(lpad(conv(bitsVal.cast("long"), 10, 16), 2, "0"), lit("00"))
        }), "")
        concat(lit("30306463"), le32(frameBytes), // '00dc'
          lit("FFD8"), // SOI
          // DQT: 8-bit table 0, Q0 = 8, the 63 unused AC quantizers = 1
          lit("FFDB0043" + "00" + "08" + "01" * 63),
          // SOF0: precision 8, 1 component (id 1, sampling 1x1, table 0)
          lit("FFC0000B08"), be16h(hb * 8), be16h(wb * 8),
          lit("010111" + "00"),
          // DHT DC 0: one code of length 4 → symbol 4 (category 4)
          lit("FFC40014" + "00" + "00000001" + "00" * 12 + "04"),
          // DHT AC 0: one code of length 8 → symbol 0x00 (EOB)
          lit("FFC40014" + "10" + "00" * 7 + "01" + "00" * 8 + "00"),
          // SOS: 1 component, tables 0/0, Ss=0 Se=63 AhAl=0
          lit("FFDA0008" + "01" + "0100" + "00" + "3F" + "00"),
          scanHex,
          lit("FFD9")) // EOI
      })
  }

  /** JVM twin of [[mediaAviMjpeg]]'s per-frame JPEG (same bytes the
    * Column synth emits): DC-only baseline JPEG, one 8×8-tile block
    * grid, single length-4 DC code (category 4) + single EOB code, so
    * each block's entropy data is exactly two bytes. Kept byte-
    * compatible so the MP4 family reuses the AVI family's oracle. */
  private def dcOnlyJpeg(id: Long, wb: Int, hb: Int, f: Int,
    nf: Int): Array[Byte] = {
    val nb = wb * hb
    val out = new java.io.ByteArrayOutputStream(140 + nb * 2)
    def hex(s: String): Unit = {
      var i = 0
      while (i < s.length) {
        out.write(Integer.parseInt(s.substring(i, i + 2), 16)); i += 2
      }
    }
    hex("FFD8")
    hex("FFDB0043" + "00" + "08" + "01" * 63)
    hex("FFC0000B08")
    val h = hb * 8; val w = wb * 8
    out.write(h >> 8); out.write(h & 0xff)
    out.write(w >> 8); out.write(w & 0xff)
    hex("010111" + "00")
    hex("FFC40014" + "00" + "00000001" + "00" * 12 + "04")
    hex("FFC40014" + "10" + "00" * 7 + "01" + "00" * 8 + "00")
    hex("FFDA0008" + "01" + "0100" + "00" + "3F" + "00")
    val inv = id % 2 == 0 && f >= nf / 2
    var i = 0
    while (i < nb) {
      val mag = ((id * 7 + i * 3) % 8 + 8).toInt
      val pos = (id + i) % 2 == 0
      val diff = if (if (inv) !pos else pos) mag else -mag
      out.write(if (diff > 0) diff else diff + 15)
      out.write(0)
      i += 1
    }
    hex("FFD9")
    out.toByteArray
  }

  /** The [[mediaAviMjpeg]] videos re-containered as MP4 (ISO-BMFF):
    * same dims, frame count, and FRAME BYTES (the [[dcOnlyJpeg]] twin),
    * muxed by [[Mp4Codec.encodeMjpeg]]'s full-stbl ledger — which is
    * why `media_video_features_mp4` rides the AVI family's oracle
    * verbatim. */
  def mediaMp4Mjpeg(docs0: DataFrame): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val wb = (id % 3 + 1).toInt
        val hb = (2 - id % 2).toInt
        val nf = (id % 5 + 2).toInt
        val jpegs = (0 until nf).map(f => dcOnlyJpeg(id, wb, hb, f, nf))
        (id, Mp4Codec.encodeMjpeg(wb * 8, hb * 8, jpegs))
      }
    }.toDF("media_id", "payload")
  }

  /** Pure-Column MP4 dims over [[mediaMp4Mjpeg]]'s files — the
    * `media_dims` capability for ISO-BMFF. [[Mp4Codec.encodeMjpeg]]'s
    * layout is deterministic given the mdat size, so the moov base is
    * COMPUTED from the mdat box header and every later field sits at a
    * fixed offset from it: tkhd's 16.16 width/height at moov+208/212,
    * frame count from mvhd duration ÷ the 40-tick frame duration at
    * moov+32. No UDF, codegen'd, same hex/substring/conv idiom as
    * [[withHeaderMeta]]; Mp4DimsSpec pins agreement with the real JVM
    * box walk. */
  def mp4Dims(media: DataFrame): DataFrame = {
    val hx = hex(col("payload"))
    def be32At(byteOff: Column): Column =
      conv(substring(hx, (byteOff * 2 + 1).cast("int"), lit(8)), 16, 10)
        .cast("long")
    def be16At(byteOff: Column): Column =
      conv(substring(hx, (byteOff * 2 + 1).cast("int"), lit(4)), 16, 10)
        .cast("int")
    val mdatSz = be32At(lit(24L))
    val base = lit(24L) + mdatSz // byte offset of moov
    media.select(col("media_id"),
      be16At(base + 208).as("width"),
      be16At(base + 212).as("height"),
      (be32At(base + 32) / 40).cast("long").as("n_frames"))
  }

  /** [[aviFeatures]]' contract through the MP4 box walk + sample-table
    * resolution ([[Mp4Codec.decodeFrames]]). */
  def mp4Features(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Mp4Codec.decodeFrames(payload).map { case (w, h, fs) =>
            var luma = 0L; var ck = 0L
            var f = 0
            while (f < fs.length) {
              val px = fs(f)
              var i = 0
              while (i < px.length) {
                val r = (px(i) >> 16) & 0xff
                val g = (px(i) >> 8) & 0xff
                val b = px(i) & 0xff
                luma += 299L * r + 587L * g + 114L * b
                ck += (f + 1).toLong * (i + 1) * (r + 2L * g + 3L * b)
                i += 1
              }
              f += 1
            }
            VideoFeatures(id, w, h, fs.length.toLong, luma, ck)
          }
        }
      }.toDF()
  }

  /** The [[mediaAviAv]] contract re-containered as a TWO-TRAK MP4:
    * [[dcOnlyJpeg]] video frames + the SAME per-chunk PCM formula
    * (sample k = ((3·id + 17·k) mod 65536) − 32768, spf = id%7+3,
    * chunk f = samples [f·spf, (f+1)·spf)), interleaved in mdat by
    * [[Mp4Codec.encodeMjpegAv]]. */
  def mediaMp4Av(docs0: DataFrame): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val wb = (id % 3 + 1).toInt
        val hb = (2 - id % 2).toInt
        val nf = (id % 5 + 2).toInt
        val spf = (id % 7 + 3).toInt
        val jpegs = (0 until nf).map(f => dcOnlyJpeg(id, wb, hb, f, nf))
        val audio = (0 until nf).map { f =>
          Array.tabulate(spf) { j =>
            val k = f * spf + j
            ((3 * id + 17 * k) % 65536 - 32768).toInt
          }
        }
        (id, Mp4Codec.encodeMjpegAv(wb * 8, hb * 8, jpegs, audio))
      }
    }.toDF("media_id", "payload")
  }

  /** [[avFeatures]]' contract through the MP4 two-trak walk
    * ([[Mp4Codec.decodeAv]]) — same cross-modal (f+1)-weighted
    * checksum, pinning the stsc/stco chunk association instead of the
    * AVI walk's physical chunk order. */
  def mp4AvFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Mp4Codec.decodeAv(payload).map { case (w, h, fs, as) =>
            var luma = 0L; var ck = 0L
            var f = 0
            while (f < fs.length) {
              val px = fs(f)
              var i = 0
              while (i < px.length) {
                val r = (px(i) >> 16) & 0xff
                val g = (px(i) >> 8) & 0xff
                val b = px(i) & 0xff
                luma += 299L * r + 587L * g + 114L * b
                ck += (f + 1).toLong * (i + 1) * (r + 2L * g + 3L * b)
                i += 1
              }
              f += 1
            }
            var sa = 0L; var sq = 0L; var avCk = 0L; var ns = 0L
            var c = 0
            while (c < as.length) {
              var j = 0
              var chunkAbs = 0L
              while (j < as(c).length) {
                val s = as(c)(j).toLong
                sa += math.abs(s); sq += s * s
                chunkAbs += math.abs(s)
                j += 1
              }
              avCk += (c + 1).toLong * chunkAbs
              ns += as(c).length
              c += 1
            }
            AvFeatures(id, w, h, fs.length.toLong, ns, luma, ck, sa, sq, avCk)
          }
        }
      }.toDF()
  }

  /** Shot-boundary detection over decoded frames: per-frame [[aHash64]],
    * a cut wherever adjacent frames' hamming exceeds `threshold` — the
    * standard perceptual-hash shot detector, over the REAL decode chain
    * ([[AviCodec.decodeFrames]]: DIB and Motion-JPEG containers alike).
    * Output per video: (media_id, n_frames, n_cuts, max_adj_hamming). */
  case class SceneCuts(
      media_id: Long, n_frames: Long, n_cuts: Long, max_adj_hamming: Int)

  def sceneCuts(media: DataFrame, threshold: Int = 12): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AviCodec.decodeFrames(payload).map { case (w, h, fs) =>
            val fps = fs.map(aHash64(w, h, _))
            var cuts = 0L; var mx = 0
            var f = 1
            while (f < fps.length) {
              val d = java.lang.Long.bitCount(fps(f - 1) ^ fps(f))
              if (d > threshold) cuts += 1
              if (d > mx) mx = d
              f += 1
            }
            SceneCuts(id, fps.length.toLong, cuts, mx)
          }
        }
      }.toDF()
  }

  /** Combined A/V features over the two-stream demux — all integer:
    * the video luma sum + (f+1)-weighted checksum (frame order), the
    * audio Σ|s| and Σs² over ALL samples, and the cross-modal
    * `av_checksum` = Σ_chunk (f+1)·Σ|s within chunk f| — which only
    * comes out right when audio chunk f really is the f-th interleaved
    * chunk, pinning the demuxer's A/V association. */
  case class AvFeatures(
      media_id: Long, width: Int, height: Int, n_frames: Long,
      n_samples: Long, luma_milli: Long, checksum: Long,
      sum_abs: Long, sum_sq: Long, av_checksum: Long)

  def avFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AviCodec.decodeAv(payload).map { case (w, h, fs, au) =>
            var luma = 0L; var ck = 0L
            var f = 0
            while (f < fs.length) {
              val px = fs(f)
              var i = 0
              while (i < px.length) {
                val r = (px(i) >> 16) & 0xff
                val g = (px(i) >> 8) & 0xff
                val b = px(i) & 0xff
                luma += 299L * r + 587L * g + 114L * b
                ck += (f + 1).toLong * (i + 1) * (r + 2L * g + 3L * b)
                i += 1
              }
              f += 1
            }
            var sAbs = 0L; var sSq = 0L; var avCk = 0L; var n = 0L
            var c = 0
            while (c < au.length) {
              var k = 0
              var chunkAbs = 0L
              while (k < au(c).length) {
                val v = au(c)(k).toLong
                chunkAbs += math.abs(v); sSq += v * v
                k += 1; n += 1
              }
              sAbs += chunkAbs
              avCk += (c + 1).toLong * chunkAbs
              c += 1
            }
            AvFeatures(id, w, h, fs.length.toLong, n, luma, ck, sAbs, sSq, avCk)
          }
        }
      }.toDF()
  }

  /** Per-video features over decoded frames ([[AviCodec.decodeFrames]]:
    * DIB and Motion-JPEG containers alike) — all integer: the luma sum
    * across frames and an (f+1)·(pos)·(r+2g+3b) checksum that pins frame
    * ORDER, row order, padding, and channel order at once. */
  case class VideoFeatures(
      media_id: Long, width: Int, height: Int, n_frames: Long,
      luma_milli: Long, checksum: Long)

  def aviFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AviCodec.decodeFrames(payload).map { case (w, h, fs) =>
            var luma = 0L; var ck = 0L
            var f = 0
            while (f < fs.length) {
              val px = fs(f)
              var i = 0
              while (i < px.length) {
                val r = (px(i) >> 16) & 0xff
                val g = (px(i) >> 8) & 0xff
                val b = px(i) & 0xff
                luma += 299L * r + 587L * g + 114L * b
                ck += (f + 1).toLong * (i + 1) * (r + 2L * g + 3L * b)
                i += 1
              }
              f += 1
            }
            VideoFeatures(id, w, h, fs.length.toLong, luma, ck)
          }
        }
      }.toDF()
  }

  // ------------------------------------------ real audio decode: PCM WAV
  //
  // The audio modality's REAL decode path (the image tier has BMP/RLE8/
  // netpbm; WAV-contained PCM needs no codec library either — samples
  // are little-endian int16 behind a RIFF chunk walk). The walk has the
  // quirks a fake decoder gets wrong: chunks must be discovered by
  // iteration (a JUNK chunk before `fmt ` shifts everything), odd-sized
  // chunks are word-padded, and only PCM/mono/16-bit is in scope —
  // anything else must reject, not decode garbage.

  /** Synthesize a PCM WAV per document: n = id%200+50 mono 16-bit
    * samples at 8 kHz, sample i = ((3·id + 17·i) mod 65536) − 32768 —
    * full-range signed, stored two's-complement little-endian. Docs with
    * id ≡ 0 (mod 4) carry a 4-byte JUNK chunk before `fmt `, so chunk
    * iteration (not fixed offsets) rides the hashed oracle. */
  def mediaWavPcm(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val n = (pmod(id, lit(200)) + 50).cast("int")
    // stored uint16 of the signed sample = (u + 32768) mod 65536 where
    // u = (3·id + 17·i) mod 65536 is the pre-shift phase
    val samplesHex = array_join(
      transform(sequence(lit(0), n - 1), { i =>
        val u = pmod(id * 3 + i * 17 + 32768, lit(65536))
        concat(hexByte(u), hexByte(floor(u / 256)))
      }), "")
    val junk = when(pmod(id, lit(4)) === 0, lit("4A554E4B" + "04000000" + "00000000"))
      .otherwise(lit("")) // "JUNK" + size 4 + 4 payload bytes
    val junkBytes = when(pmod(id, lit(4)) === 0, lit(12)).otherwise(lit(0))
    val dataBytes = n * 2
    val hx = concat(
      lit("52494646"), le32(dataBytes + 36 + junkBytes), lit("57415645"),
      junk,
      lit("666D7420"), le32(lit(16)), le16(lit(1)), le16(lit(1)),
      le32(lit(8000)), le32(lit(16000)), le16(lit(2)), le16(lit(16)),
      lit("64617461"), le32(dataBytes), samplesHex)
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  /** REAL PCM WAV decoder: RIFF/WAVE signature, chunk ITERATION (unknown
    * chunks skipped with word padding), `fmt ` validated PCM/mono/16-bit,
    * `data` decoded as little-endian int16. None on truncation, a missing
    * chunk, or an out-of-scope format. */
  object WavCodec {
    private def le(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
      v
    }
    private def tag(b: Array[Byte], off: Int): String =
      new String(b.slice(off, off + 4), "US-ASCII")

    def decodePcm16(p: Array[Byte]): Option[(Int, Array[Int])] = {
      if (p == null || p.length < 44) return None
      if (tag(p, 0) != "RIFF" || tag(p, 8) != "WAVE") return None
      var i = 12
      var rate = -1
      var fmtOk = false
      var samples: Array[Int] = null
      while (i + 8 <= p.length) {
        val id = tag(p, i)
        val size = le(p, i + 4, 4)
        // long bound: a chunk size near 2^31 must reject, not wrap
        if (size < 0 || i.toLong + 8 + size > p.length) return None
        id match {
          case "fmt " =>
            if (fmtOk) return None // reject a second fmt: no last-one-wins
            if (size < 16) return None
            val codec = le(p, i + 8, 2)
            val channels = le(p, i + 10, 2)
            val bits = le(p, i + 22, 2)
            if (codec != 1 || channels != 1 || bits != 16) return None
            rate = le(p, i + 12, 4)
            // a hostile 4-byte rate >= 2^31 reads back negative from the
            // int accumulator; reject like the BMP/PNG/GIF paths do
            if (rate <= 0) return None
            fmtOk = true
          case "data" =>
            if (!fmtOk) return None // fmt must precede data
            if (samples != null) return None // reject a second data chunk
            if (size % 2 != 0) return None
            val out = new Array[Int](size / 2)
            var j = 0
            while (j < out.length) {
              val u = le(p, i + 8 + 2 * j, 2)
              out(j) = if (u >= 32768) u - 65536 else u
              j += 1
            }
            samples = out
          case _ => () // JUNK/LIST/etc: skip
        }
        i += 8 + size + (size & 1) // odd chunks are word-padded
      }
      if (fmtOk && samples != null) Some((rate, samples)) else None
    }
  }

  // ------------------------------------ real audio decode: IMA-ADPCM
  //
  // Real-world WAV/AVI audio is rarely raw PCM (VERDICT r15 task 8);
  // IMA/DVI ADPCM (WAV format tag 0x0011) is the classic 4-bit
  // compressed form. Unlike VP8, its normative tables are SMALL and in
  // every public spec restatement: the 89-entry step-size table and the
  // 8-entry index-adjust table; the per-nibble arithmetic is
  // diff = step>>3 (+ step>>2 | step>>1 | step per magnitude bit),
  // sign bit subtracts, predictor clamps to int16, index clamps to
  // 0..88. Fully verifiable WITHOUT a ground-truth library: the
  // encoder mirrors the decoder's reconstruction exactly (the property
  // tested), and the `media_audio_features_adpcm` oracle replays the
  // whole recurrence as a recursive CTE.
  object AdpcmCodec {
    private[graft] val stepTable: Array[Int] = Array(
      7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
      34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
      143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
      494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
      1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
      4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
      11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
      27086, 29794, 32767)
    private[graft] val indexTable: Array[Int] =
      Array(-1, -1, -1, -1, 2, 4, 6, 8)

    /** One nibble through the decoder recurrence: returns the new
      * (predictor, index). */
    @inline private def stepOne(pred: Int, idx: Int, n: Int): (Int, Int) = {
      val step = stepTable(idx)
      var diff = step >> 3
      if ((n & 1) != 0) diff += step >> 2
      if ((n & 2) != 0) diff += step >> 1
      if ((n & 4) != 0) diff += step
      val p0 = if ((n & 8) != 0) pred - diff else pred + diff
      val p = if (p0 < -32768) -32768 else if (p0 > 32767) 32767 else p0
      val i0 = idx + indexTable(n & 7)
      (p, if (i0 < 0) 0 else if (i0 > 88) 88 else i0)
    }

    /** Decode an IMA-ADPCM WAV (format 0x0011, mono, 4-bit): RIFF walk
      * with the house strictness (fmt-before-data, single chunks,
      * word padding), per-block 4-byte headers (int16 predictor — the
      * block's FIRST sample — plus the step index), low nibble first.
      * samplesPerBlock must agree with blockAlign. None otherwise. */
    def decode(p: Array[Byte]): Option[(Int, Array[Int])] = {
      if (p == null || p.length < 48) return None
      def le(off: Int, n: Int): Int = {
        var v = 0; var i = n - 1
        while (i >= 0) { v = (v << 8) | (p(off + i) & 0xff); i -= 1 }
        v
      }
      def tag(off: Int) = new String(p.slice(off, off + 4), "US-ASCII")
      if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
      var i = 12
      var rate = -1; var blockAlign = -1; var spb = -1
      var fmtOk = false
      var samples: Array[Int] = null
      while (i + 8 <= p.length) {
        val id = tag(i)
        val size = le(i + 4, 4)
        if (size < 0 || i.toLong + 8 + size > p.length) return None
        id match {
          case "fmt " =>
            if (fmtOk) return None
            if (size < 20) return None // needs the cbSize extension
            if (le(i + 8, 2) != 0x11 || le(i + 10, 2) != 1 ||
              le(i + 22, 2) != 4) return None // IMA, mono, 4-bit
            rate = le(i + 12, 4)
            blockAlign = le(i + 20, 2)
            if (rate <= 0 || blockAlign < 5) return None
            if (le(i + 24, 2) < 2) return None // cbSize
            spb = le(i + 26, 2)
            // header sample + two nibbles per data byte, exactly
            if (spb != 2 * (blockAlign - 4) + 1) return None
            fmtOk = true
          case "data" =>
            if (!fmtOk) return None
            if (samples != null) return None
            if (size % blockAlign != 0) return None
            val nBlocks = size / blockAlign
            val out = new Array[Int](nBlocks * spb)
            var b = 0
            while (b < nBlocks) {
              val base = i + 8 + b * blockAlign
              val u = le(base, 2)
              var pred = if (u >= 32768) u - 65536 else u
              var idx = le(base + 2, 1)
              if (idx > 88 || (p(base + 3) & 0xff) != 0) return None
              var o = b * spb
              out(o) = pred; o += 1
              var j = 0
              while (j < blockAlign - 4) {
                val byte = p(base + 4 + j) & 0xff
                val (p1, i1) = stepOne(pred, idx, byte & 0xf) // low first
                out(o) = p1; o += 1
                val (p2, i2) = stepOne(p1, i1, byte >> 4)
                out(o) = p2; o += 1
                pred = p2; idx = i2
                j += 1
              }
              b += 1
            }
            samples = out
          case _ => ()
        }
        i += 8 + size + (size & 1)
      }
      if (fmtOk && samples != null) Some((rate, samples)) else None
    }

    /** REAL IMA-ADPCM encoder (the standard magnitude-bit quantizer),
      * mirroring the decoder's reconstruction exactly — so
      * decode(encode(x)) equals the encoder's own predicted signal
      * BIT-FOR-BIT (the round-trip property; the recurrence is lossy
      * against x but deterministic against itself). */
    def encode(samples: Array[Int], rate: Int,
      blockAlign: Int): Array[Byte] = {
      require(blockAlign >= 5 && rate > 0)
      val spb = 2 * (blockAlign - 4) + 1
      require(samples.nonEmpty && samples.length % spb == 0)
      val nBlocks = samples.length / spb
      val data = new Array[Byte](nBlocks * blockAlign)
      var idx = 0
      var b = 0
      while (b < nBlocks) {
        val base = b * blockAlign
        var pred = samples(b * spb)
        data(base) = (pred & 0xff).toByte
        data(base + 1) = ((pred >> 8) & 0xff).toByte
        data(base + 2) = idx.toByte
        data(base + 3) = 0
        var j = 0
        while (j < blockAlign - 4) {
          var byte = 0
          var half = 0
          while (half < 2) {
            val s = samples(b * spb + 1 + 2 * j + half)
            val step = stepTable(idx)
            var diff = s - pred
            var nib = 0
            if (diff < 0) { nib = 8; diff = -diff }
            if (diff >= step) { nib |= 4; diff -= step }
            if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
            if (diff >= (step >> 2)) nib |= 1
            val (p1, i1) = stepOne(pred, idx, nib)
            pred = p1; idx = i1
            byte |= (nib << (4 * half)) // low nibble first
            half += 1
          }
          data(base + 4 + j) = byte.toByte
          j += 1
        }
        b += 1
      }
      wrapWav(rate, blockAlign, spb, data)
    }

    private[ext] def wrapWav(rate: Int, blockAlign: Int, spb: Int,
      data: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer
        .allocate(12 + 8 + 20 + 8 + data.length + (data.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII"))
        .putInt(4 + 28 + 8 + data.length + (data.length & 1))
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(20)
        .putShort(0x11).putShort(1).putInt(rate)
        .putInt(rate * blockAlign / spb) // nominal byte rate
        .putShort(blockAlign.toShort).putShort(4)
        .putShort(2).putShort(spb.toShort)
        .put("data".getBytes("US-ASCII")).putInt(data.length)
        .put(data)
      out.array()
    }
  }

  /** Synthesize an IMA-ADPCM WAV per document: blockAlign 12 → 17
    * samples/block, id%3+1 blocks, block b seeded with predictor
    * ((31·id + 911·b) mod 65536) − 32768 and step index (id + 7·b)
    * mod 89, data NIBBLES n(b,j) = (id + 3·b + 5·j) mod 16 — the
    * decoded signal is then exactly the normative recurrence the
    * DuckDB oracle replays as a recursive CTE. */
  def mediaWavAdpcm(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val nb = (id % 3 + 1).toInt
        val blockAlign = 12
        val data = new Array[Byte](nb * blockAlign)
        var b = 0
        while (b < nb) {
          val base = b * blockAlign
          val pred = ((31 * id + 911 * b) % 65536 - 32768).toInt
          data(base) = (pred & 0xff).toByte
          data(base + 1) = ((pred >> 8) & 0xff).toByte
          data(base + 2) = ((id + 7 * b) % 89).toByte
          data(base + 3) = 0
          var j = 0
          while (j < 16) {
            val n = ((id + 3 * b + 5 * j) % 16).toInt
            if (j % 2 == 0) data(base + 4 + j / 2) = n.toByte
            else data(base + 4 + j / 2) =
              (data(base + 4 + j / 2) | (n << 4)).toByte
            j += 1
          }
          b += 1
        }
        (id, AdpcmCodec.wrapWav(8000, blockAlign, 17, data))
      }
    }.toDF("media_id", "payload")
  }

  /** [[wavFeatures]]' contract through the ADPCM recurrence. */
  def adpcmFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          AdpcmCodec.decode(payload).map { case (rate, s) =>
            var sa = 0L; var mx = 0L; var sq = 0L; var zc = 0L
            var j = 0
            while (j < s.length) {
              val a = math.abs(s(j).toLong)
              sa += a; if (a > mx) mx = a; sq += a * a
              if (j > 0 && s(j - 1).toLong * s(j) < 0) zc += 1
              j += 1
            }
            WavFeatures(id, rate, s.length.toLong, sa, mx, sq, zc)
          }
        }
      }.toDF()
  }

  /** Integer-exact audio features per decoded clip: sample count, Σ|s|,
    * max |s|, Σs² (the RMS numerator, exact in a long), and strict
    * zero crossings (sign product < 0). */
  case class WavFeatures(
      media_id: Long, sample_rate: Int, n_samples: Long,
      sum_abs: Long, max_abs: Long, sum_sq: Long, zero_crossings: Long)

  /** Decode + featurize the PCM table — the same mapPartitions codec
    * seam as the image paths. */
  def wavFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          WavCodec.decodePcm16(payload).map { case (rate, s) =>
            var sa = 0L; var mx = 0L; var sq = 0L; var zc = 0L
            var j = 0
            while (j < s.length) {
              val a = math.abs(s(j).toLong)
              sa += a; if (a > mx) mx = a; sq += a * a
              if (j > 0 && s(j - 1).toLong * s(j) < 0) zc += 1
              j += 1
            }
            WavFeatures(id, rate, s.length.toLong, sa, mx, sq, zc)
          }
        }
      }.toDF()
  }

  // -------------------------------------- perceptual-hash media near-dup
  //
  // The pixel-level near-dup gate ([[mediaNearDup]] is BYTE-level — it
  // catches re-muxed copies but not "same image, one pixel touched"):
  // average-hash over the REAL decode chain. Canonical 8×8 nearest-
  // neighbor resample (up- or down-sampling — a perceptual hash needs a
  // FIXED grid for comparability, unlike [[resize]]'s no-upscale
  // contract) → BT.601 luma per cell → each bit = cell luma above the
  // image mean (strict, integer form: l·64 > Σl — no float mean) → the
  // 64-bit fingerprint rides the SAME banded hamming join as the
  // SimHash family. Everything integer, everything replayed by the
  // DuckDB oracle from the synth formula — resample indices, luma
  // weights, threshold and banding included.

  /** [[mediaBmp]] plus planted duplicate classes for every 25th doc: an
    * exact byte copy (media_id + 10^11 — hamming 0, the identical-fp
    * collapse path) and a one-pixel perturbed copy (media_id + 2·10^11 —
    * offsets far above any realistic doc_id, so a planted id can never
    * collide with a real document at larger fixtures —
    * the near-dup a perceptual hash exists to catch). */
  def mediaBmpNearDups(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val planted = docs.where(pmod(col("doc_id"), lit(25)) === 0)
    mediaBmp(docs)
      .unionByName(mediaBmp(planted)
        .select((col("media_id") + 100000000000L).as("media_id"), col("payload")))
      .unionByName(mediaBmpPerturbed(planted)
        .select((col("media_id") + 200000000000L).as("media_id"), col("payload")))
  }

  /** aHash of decoded pixels: bit i (= qy·8 + qx) set iff the sampled
    * cell's luma strictly exceeds the 64-cell mean. */
  private def aHash64(w: Int, h: Int, px: Array[Int]): Long = {
    val lum = new Array[Long](64)
    var s = 0L
    var qy = 0
    while (qy < 8) {
      var qx = 0
      while (qx < 8) {
        val p = px((qy * h / 8) * w + (qx * w / 8))
        val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
          114L * (p & 0xff)
        lum(qy * 8 + qx) = l
        s += l
        qx += 1
      }
      qy += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (lum(i) * 64L > s) fp |= (1L << i); i += 1 }
    fp
  }

  /** Perceptual near-dup pairs over a BMP media table: real decode →
    * [[aHash64]] → the shared banded hamming self-join
    * ([[graft.ext.Dedup.hammingPairs64]]: pigeonhole-complete at
    * maxHamming ≤ 3, identical-fp groups collapsed before banding).
    * Output (doc_a, doc_b, hamming). */
  def mediaPhashPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val fps = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          BmpCodec.decode(payload).map { case (w, h, px) =>
            (id, aHash64(w, h, px))
          }
        }
      }.toDF("doc_id", "fp")
    graft.ext.Dedup.hammingPairs64(fps, maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  // ----------------------------------------- real pixel decode: netpbm PGM
  //
  // A SECOND real pixel format (VERDICT r11 item 7): binary PGM (P5) is
  // uncompressed grayscale behind an ASCII header — no codec library
  // needed, and the format has its own quirks a fake decoder gets wrong:
  // the header is whitespace-TOKENIZED (not fixed-offset), may contain
  // `#` comment lines that must be skipped, and exactly ONE whitespace
  // byte separates the maxval from the raster (a pixel whose value
  // happens to be 0x0A must NOT be eaten as header whitespace).
  // [[mediaPgm]] synthesizes conforming files (a third of them carrying
  // a comment line, so comment handling rides the hashed oracle);
  // [[PgmCodec]] decodes the BYTES back; the `media_features_pgm` oracle
  // recomputes the features from the synth formula in DuckDB.

  /** Synthesize a binary PGM (P5) per document: w = id%13+1,
    * h = (5·id)%11+1, pixel (x, y) value v = (3·id + 5x + 11y) % 256,
    * rows stored top-down (the format has no padding and no flip).
    * Docs with id ≡ 0 (mod 3) carry a `# c<id>` comment line between the
    * magic and the dims — a decoder that doesn't skip comments loses
    * every third row. Pure Column expressions (the [[mediaBmp]] idiom);
    * `hex(string)` is the UTF-8 header bytes. */
  def mediaPgm(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(13)) + 1).cast("int")
    val h = (pmod(id * 5, lit(11)) + 1).cast("int")
    val header = concat(
      lit("P5\n"),
      when(pmod(id, lit(3)) === 0, concat(lit("# c"), id.cast("string"), lit("\n")))
        .otherwise(lit("")),
      w.cast("string"), lit(" "), h.cast("string"), lit("\n255\n"))
    val pixelHex = array_join(
      transform(sequence(lit(0), h - 1), { y =>
        array_join(
          transform(sequence(lit(0), w - 1), { x =>
            hexByte(id * 3 + x * 5 + y * 11)
          }), "")
      }), "")
    docs.select(id.as("media_id"),
      unhex(concat(hex(header), pixelHex)).as("payload"))
  }

  /** REAL netpbm decoder (binary P5 grayscale and P6 RGB) — pure byte
    * arithmetic. Tokenizes the ASCII header (whitespace-separated, `#`
    * comments skipped to end-of-line), validates magic / positive
    * bounded dims / maxval ∈ [1, 255] / raster length, and reads the
    * raster after exactly one whitespace byte. Returns row-major
    * top-down pixels packed `0xRRGGBB` (gray replicates v into all
    * three channels, so [[featurize]] applies unchanged); None for
    * non-conforming bytes (truncation must surface as a missing row,
    * never garbage). */
  object PgmCodec {
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 8) return None
      if ((p(0) & 0xff) != 'P') return None
      val isP5 = (p(1) & 0xff) == '5'
      val isP6 = (p(1) & 0xff) == '6'
      if (!isP5 && !isP6) return None
      var i = 2
      def isWs(b: Int) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
      // next ASCII-decimal token, skipping whitespace and # comments
      def token(): Int = {
        while (i < p.length &&
            (isWs(p(i) & 0xff) || (p(i) & 0xff) == '#')) {
          if ((p(i) & 0xff) == '#')
            while (i < p.length && (p(i) & 0xff) != '\n') i += 1
          else i += 1
        }
        var v = -1
        while (i < p.length && (p(i) & 0xff) >= '0' && (p(i) & 0xff) <= '9') {
          val d = (p(i) & 0xff) - '0'
          v = (if (v < 0) 0 else v) * 10 + d
          if (v > (1 << 20)) return -1
          i += 1
        }
        v
      }
      val w = token(); val h = token(); val maxval = token()
      if (w <= 0 || h <= 0 || w > (1 << 20) || h > (1 << 20)) return None
      if (maxval <= 0 || maxval > 255) return None
      // exactly ONE whitespace byte before the raster — a raster byte
      // that looks like whitespace must not be consumed
      if (i >= p.length || !isWs(p(i) & 0xff)) return None
      i += 1
      val ch = if (isP6) 3 else 1
      if (p.length.toLong < i.toLong + ch.toLong * w * h) return None
      val out = new Array[Int](w * h)
      var j = 0
      while (j < w * h) {
        if (isP6) {
          val r = p(i + 3 * j) & 0xff
          val g = p(i + 3 * j + 1) & 0xff
          val b = p(i + 3 * j + 2) & 0xff
          out(j) = (r << 16) | (g << 8) | b
        } else {
          val v = p(i + j) & 0xff
          out(j) = (v << 16) | (v << 8) | v
        }
        j += 1
      }
      Some((w, h, out))
    }

    /** Encode top-down gray pixels (each `0xRRGGBB` with r=g=b; the red
      * channel is written) as a minimal conforming P5 —
      * decode(encode(w, h, px)) round-trips (spec-pinned). */
    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      require(px.length == w * h, "pixel array must be w*h")
      val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
      val b = new Array[Byte](header.length + w * h)
      System.arraycopy(header, 0, b, 0, header.length)
      var j = 0
      while (j < w * h) {
        b(header.length + j) = ((px(j) >> 16) & 0xff).toByte
        j += 1
      }
      b
    }
  }

  /** Decode + featurize the PGM table — same mapPartitions codec seam
    * and same [[BmpFeatures]] output contract as [[bmpFeatures]], so the
    * two real-decode paths stay interchangeable downstream. */
  def pgmFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          PgmCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  // -------------------------------------- real pixel decode: PNG (inflate)
  //
  // PNG needs NO external codec library either: IDAT is a zlib stream —
  // and zlib lives in the JDK (`java.util.zip.Inflater`) — followed by
  // pure-arithmetic per-row unfiltering (None/Sub/Up/Average/Paeth).
  // [[PngCodec.decode]] walks the chunk grammar, inflates the
  // concatenated IDATs, and undoes all five filter types; Inflater
  // enforces the stream's OWN adler32 integrity check. Chunk CRC32s are
  // intentionally not validated (documented: corruption robustness is
  // the fuzz property's remit; [[PngCodec.encode]] writes REAL CRCs and
  // real deflate so the spec round-trips fully-conforming files).
  // [[mediaPng]] synthesizes conforming streams as pure Column
  // expressions — zlib STORED blocks (a legal DEFLATE mode needing no
  // compressor) with a formula-computed adler32 and a per-row filter
  // cycling through all five types, so every filter's arithmetic rides
  // the hashed oracle; its chunk CRCs are zeroed (the one liberty, noted
  // here, that keeps synthesis Column-pure).

  /** Synthesize an 8-bit RGB PNG per document: w = id%7+1,
    * h = (3·id)%6+1, channel formulas R=(7id+5x+11y)%256,
    * G=(3id+13x+2y)%256, B=(id+x+17y)%256, row filter = (y+id)%5.
    * The byte stream builds ONCE as an array of ints (filter byte +
    * filtered channel bytes, the real filter arithmetic including the
    * Paeth predictor) and feeds both the hex payload and the adler32
    * weighted sums — one source of truth. */
  def mediaPng(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(7)) + 1).cast("int")
    val h = (pmod(id * 3, lit(6)) + 1).cast("int")
    def be32(c: Column) = lpad(conv(c.cast("long"), 10, 16), 8, "0")
    // raw channel value at (x, y); channel c in {0=R, 1=G, 2=B}
    def raw(x: Column, y: Column, c: Int): Column = c match {
      case 0 => pmod(id * 7 + x * 5 + y * 11, lit(256))
      case 1 => pmod(id * 3 + x * 13 + y * 2, lit(256))
      case 2 => pmod(id + x + y * 17, lit(256))
    }
    // filtered byte: PNG's byte-level predictors with edge zeroing
    // ("left" is the same channel one pixel back — bpp = 3)
    def fb(x: Column, y: Column, c: Int, f: Column): Column = {
      val v = raw(x, y, c)
      val l = when(x > 0, raw(x - 1, y, c)).otherwise(lit(0))
      val u = when(y > 0, raw(x, y - 1, c)).otherwise(lit(0))
      val ul = when(x > 0 && y > 0, raw(x - 1, y - 1, c)).otherwise(lit(0))
      val pa = abs(u - ul); val pb = abs(l - ul)
      val pc = abs(l + u - ul * 2)
      val paeth = when(pa <= pb && pa <= pc, l)
        .otherwise(when(pb <= pc, u).otherwise(ul))
      val pred = when(f === 0, lit(0))
        .when(f === 1, l)
        .when(f === 2, u)
        .when(f === 3, shiftright((l + u).cast("long"), 1))
        .otherwise(paeth)
      pmod(v - pred + lit(256), lit(256)).cast("long")
    }
    val bytesArr = flatten(transform(sequence(lit(0), h - 1), y => {
      val f = pmod(y + id, lit(5))
      concat(array(f.cast("long")),
        flatten(transform(sequence(lit(0), w - 1), x =>
          array(fb(x, y, 0, f), fb(x, y, 1, f), fb(x, y, 2, f)))))
    }))
    // projection boundary: the filtered stream is consumed THREE times
    // (both adler sums and the hex render) — materialize it once per
    // row behind an alias (non-cheap + read 3×, so CollapseProject
    // keeps the boundary; inlining it ran the full filter tree three
    // times inside interpreted lambdas: 32 s → ~2 s at sf0.1)
    val staged = docs.select(col("doc_id").as("media_id"),
      w.as("png_w"), h.as("png_h"), bytesArr.as("bts"))
    val bts = col("bts")
    val n = size(bts)
    // adler32 over the filtered stream: s1 = 1 + Σb, s2 = Σ s1-prefixes
    // = n + Σ (n-i+1)·b_i, both mod 65521 — exact integer Columns
    val s1 = pmod(lit(1L) + aggregate(bts, lit(0L), _ + _), lit(65521L))
    val s2 = pmod(n.cast("long") + aggregate(
      zip_with(bts, sequence(lit(1), n),
        (b, i) => ((n.cast("long") - i) + 1L) * b),
      lit(0L), _ + _), lit(65521L))
    val dataHex = array_join(transform(bts, b => hexByte(b)), "")
    // IDAT payload: zlib hdr (78 01) + one final STORED block
    // (01, LEN le16, ~LEN le16) + filtered bytes + adler32 be32
    val idatLen = n + 11
    val png = concat(
      lit("89504E470D0A1A0A"),
      be32(lit(13)), lit("49484452"), be32(col("png_w")), be32(col("png_h")),
      lit("0802000000"), lit("00000000"), // 8-bit RGB; CRC zeroed (above)
      be32(idatLen), lit("49444154"),
      lit("7801"), lit("01"), le16(n), le16(lit(65535) - n),
      dataHex, be32(s2 * 65536L + s1), lit("00000000"), // IDAT CRC zeroed
      be32(lit(0)), lit("49454E44"), lit("AE426082")) // IEND (real CRC)
    staged.select(col("media_id"), unhex(png).as("payload"))
  }

  object PngCodec {
    private def be(b: Array[Byte], off: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
      v
    }

    /** Decode an 8-bit RGB (color type 2, non-interlaced) PNG: signature,
      * chunk walk (ancillary chunks skipped; sizes read as LONGS so a
      * hostile length rejects instead of wrapping a bounds check), IDAT
      * concatenation, JDK inflate (the stream's adler32 IS verified by
      * Inflater), and full five-filter unfiltering. Returns top-down
      * `0xRRGGBB` pixels; None on anything non-conforming — garbage must
      * surface as a missing row, never a task-killing throw. */
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 45) return None
      val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      var i = 0
      while (i < 8) { if ((p(i) & 0xff) != sig(i)) return None; i += 1 }
      var off = 8L
      var w = 0; var h = 0; var sawIhdr = false; var sawIend = false
      val idat = new java.io.ByteArrayOutputStream()
      while (off + 8 <= p.length && !sawIend) {
        val len = be(p, off.toInt, 4)
        if (len < 0 || len > (1L << 24)) return None
        if (off + 12 + len > p.length) return None
        val typ = new String(p, off.toInt + 4, 4, "US-ASCII")
        typ match {
          case "IHDR" =>
            if (len != 13 || sawIhdr) return None
            val d = off.toInt + 8
            w = be(p, d, 4).toInt; h = be(p, d + 4, 4).toInt
            // bit depth 8, color 2 (RGB), compression/filter/interlace 0
            if ((p(d + 8) & 0xff) != 8 || (p(d + 9) & 0xff) != 2 ||
              p(d + 10) != 0 || p(d + 11) != 0 || p(d + 12) != 0) return None
            if (w <= 0 || h <= 0 || w > (1 << 12) || h > (1 << 12)) return None
            sawIhdr = true
          case "IDAT" =>
            if (!sawIhdr) return None
            idat.write(p, off.toInt + 8, len.toInt)
          case "IEND" => sawIend = true
          case _ => () // ancillary chunk — skipped (CRCs not validated)
        }
        off += 12 + len
      }
      if (!sawIhdr || !sawIend) return None
      val stride = 1 + 3 * w
      val total = h.toLong * stride
      if (total > (1L << 26)) return None
      val rawBytes = new Array[Byte](total.toInt)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var got = 0
        while (got < rawBytes.length && !inf.finished()) {
          val k = inf.inflate(rawBytes, got, rawBytes.length - got)
          if (k == 0 && (inf.needsInput() || inf.needsDictionary()))
            return None // truncated or preset-dictionary stream
          got += k
        }
        // finished() only turns true once the final block AND the adler32
        // trailer verified — a stream with more pixels than IHDR admits,
        // or a checksum mismatch, lands here as None
        if (got < rawBytes.length || !inf.finished()) return None
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      // unfilter: all five predictors, byte-level with bpp = 3
      val px = new Array[Int](w * h)
      val cur = new Array[Int](3 * w)
      val prev = new Array[Int](3 * w)
      var y = 0
      while (y < h) {
        val f = rawBytes(y * stride) & 0xff
        if (f > 4) return None
        var j = 0
        while (j < 3 * w) {
          val v = rawBytes(y * stride + 1 + j) & 0xff
          val l = if (j >= 3) cur(j - 3) else 0
          val u = prev(j)
          val ul = if (j >= 3) prev(j - 3) else 0
          val pred = f match {
            case 0 => 0
            case 1 => l
            case 2 => u
            case 3 => (l + u) >> 1
            case _ =>
              val pa = math.abs(u - ul); val pb = math.abs(l - ul)
              val pc = math.abs(l + u - 2 * ul)
              if (pa <= pb && pa <= pc) l else if (pb <= pc) u else ul
          }
          cur(j) = (v + pred) & 0xff
          j += 1
        }
        var x = 0
        while (x < w) {
          px(y * w + x) =
            (cur(3 * x) << 16) | (cur(3 * x + 1) << 8) | cur(3 * x + 2)
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, 3 * w)
        y += 1
      }
      Some((w, h, px))
    }

    /** Encode with the REAL machinery — java.util.zip Deflater (actual
      * compression, not stored blocks) and real chunk CRC32s — applying
      * filter `y % 5` per row, so the spec round-trips fully-conforming
      * files through [[decode]]. */
    def encode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
      require(w > 0 && h > 0 && px.length == w * h)
      val stride = 1 + 3 * w
      val raw = new Array[Byte](h * stride)
      val cur = new Array[Int](3 * w); val prev = new Array[Int](3 * w)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = px(y * w + x)
          cur(3 * x) = (v >> 16) & 0xff
          cur(3 * x + 1) = (v >> 8) & 0xff
          cur(3 * x + 2) = v & 0xff
          x += 1
        }
        val f = y % 5
        raw(y * stride) = f.toByte
        var j = 0
        while (j < 3 * w) {
          val l = if (j >= 3) cur(j - 3) else 0
          val u = prev(j)
          val ul = if (j >= 3) prev(j - 3) else 0
          val pred = f match {
            case 0 => 0
            case 1 => l
            case 2 => u
            case 3 => (l + u) >> 1
            case _ =>
              val pa = math.abs(u - ul); val pb = math.abs(l - ul)
              val pc = math.abs(l + u - 2 * ul)
              if (pa <= pb && pa <= pc) l else if (pb <= pc) u else ul
          }
          raw(y * stride + 1 + j) = ((cur(j) - pred) & 0xff).toByte
          j += 1
        }
        System.arraycopy(cur, 0, prev, 0, 3 * w)
        y += 1
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(raw); defl.finish()
      val zbuf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      val out = new java.io.ByteArrayOutputStream()
      def chunk(typ: String, data: Array[Byte]): Unit = {
        def be32(v: Long): Array[Byte] = Array(
          (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
        out.write(be32(data.length))
        val tb = typ.getBytes("US-ASCII")
        out.write(tb); out.write(data)
        val crc = new java.util.zip.CRC32()
        crc.update(tb); crc.update(data)
        out.write(be32(crc.getValue))
      }
      out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte))
      chunk("IHDR", Array[Byte](
        (w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
        (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
        8, 2, 0, 0, 0))
      chunk("IDAT", zbuf.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }
  }

  /** Decode + featurize the PNG table — the [[bmpFeatures]] contract
    * through the inflate path. */
  def pngFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          PngCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  // ------------------------------------------ real pixel decode: GIF (LZW)
  //
  // GIF's LZW is self-contained arithmetic — no codec library needed —
  // so the GIF pixel path is REAL too: [[GifCodec.decode]] implements
  // full variable-width LZW (dynamic dictionary, width growth to 12
  // bits, CLEAR resets, LSB-first bit reader) behind the block grammar
  // (logical screen descriptor, global color table, extension skipping,
  // sub-block reassembly). Synthesis exploits a legal degenerate
  // encoding the way PNG synthesis used stored blocks: with a 7-bit
  // minimum code size the initial code width is 8, and all-literal
  // streams over the <= 45-px synthesized images never add the 126
  // dictionary entries that would force the first width bump — every
  // code is exactly ONE byte, so a conforming compressed stream builds
  // as pure Column hex. The DECODER still runs its real dictionary
  // machinery over it (one entry per literal after the first), and
  // [[GifCodec.encode]] writes genuinely-compressing LZW so the spec
  // round-trips real multi-width streams.

  /** Synthesize an 87a-era-simple GIF per document (89a header, no
    * extensions): w = id%9+1, h = (7·id)%5+1, 128-entry global palette
    * (R,G,B) = ((7i)%256, (5i)%256, (3i)%256), pixel INDEX at (x, y) =
    * (3·id + 5·x + 11·y) % 128, LZW-coded as one leading CLEAR plus a
    * literal root code per pixel (see above). */
  def mediaGif(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(9)) + 1).cast("int")
    val h = (pmod(id * 7, lit(5)) + 1).cast("int")
    // constant 128-entry palette — a Scala-computed literal (the RLE8
    // palette lesson: never 128 interpreted lambda evals per row)
    val paletteHex = lit((0 until 128).map(i =>
      f"${(i * 7) % 256}%02X${(i * 5) % 256}%02X${(i * 3) % 256}%02X")
      .mkString)
    // code stream: CLEAR, then one literal root code per pixel, then END
    // — every code exactly one byte, because images are <= 45 px and the
    // decoder's dictionary (which DOES grow, one entry per literal after
    // the first) stays far below the 126 entries that would force the
    // first width bump. The multi-width machinery is exercised by the
    // real [[GifCodec.encode]] in the spec.
    val codes = concat(
      array(lit(128L)),
      flatten(transform(sequence(lit(0), h - 1), y =>
        transform(sequence(lit(0), w - 1), x =>
          pmod(id * 3 + x * 5 + y * 11, lit(128)).cast("long")))),
      array(lit(129L)))
    // sub-blocks of <= 255 code bytes each (one suffices here; the
    // framing is general anyway)
    val nCodes = size(codes)
    val nBlocks = floor((nCodes.cast("double") - 1) / 255.0).cast("int")
    val blocks = array_join(transform(sequence(lit(0), nBlocks), b => {
      val start = b * 255 + 1
      val len = least(lit(255), nCodes - b * 255)
      concat(hexByte(len),
        array_join(transform(slice(codes, start, len), c => hexByte(c)), ""))
    }), "")
    val hx = concat(
      lit("474946383961"), // "GIF89a"
      le16(w), le16(h), lit("E6"), lit("00"), lit("00"), // LSD: 128-entry GCT
      paletteHex,
      lit("2C"), le16(lit(0)), le16(lit(0)), le16(w), le16(h), lit("00"),
      lit("07"), // LZW minimum code size
      blocks, lit("00"), // block terminator
      lit("3B")) // trailer
    docs.select(id.as("media_id"), unhex(hx).as("payload"))
  }

  object GifCodec {
    private def le(b: Array[Byte], off: Int, n: Int): Int = {
      var v = 0; var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(off + i) & 0xff); i -= 1 }
      v
    }

    /** Decode a non-interlaced single-image GIF: header, logical screen
      * descriptor, global (or local) color table, extension skipping,
      * sub-block reassembly, and FULL variable-width LZW — dynamic
      * dictionary to 4096 entries, width growth 3→12 bits, CLEAR resets,
      * LSB-first bit order. Returns top-down `0xRRGGBB` pixels; None on
      * anything non-conforming (bad codes, wrong pixel count, overruns —
      * long arithmetic on sizes, never a throw). */
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 14) return None
      val hdr = new String(p, 0, 6, "US-ASCII")
      if (hdr != "GIF89a" && hdr != "GIF87a") return None
      var off = 6
      val packed = p(off + 4) & 0xff
      var table: Array[Int] = null
      if ((packed & 0x80) != 0) {
        val sz = 2 << (packed & 7)
        if (off + 7 + 3L * sz > p.length) return None
        table = Array.tabulate(sz)(i =>
          ((p(off + 7 + 3 * i) & 0xff) << 16) |
            ((p(off + 7 + 3 * i + 1) & 0xff) << 8) |
            (p(off + 7 + 3 * i + 2) & 0xff))
        off += 7 + 3 * sz
      } else off += 7
      // skip extension blocks (0x21 label, then sub-blocks until 0)
      while (off < p.length && (p(off) & 0xff) == 0x21) {
        off += 2
        while (off < p.length && (p(off) & 0xff) != 0) {
          off += 1 + (p(off) & 0xff)
          if (off > p.length) return None
        }
        off += 1
      }
      if (off + 10 > p.length || (p(off) & 0xff) != 0x2C) return None
      val w = le(p, off + 5, 2); val h = le(p, off + 7, 2)
      val ipacked = p(off + 9) & 0xff
      if ((ipacked & 0x40) != 0) return None // interlace unsupported
      off += 10
      if ((ipacked & 0x80) != 0) { // local color table wins
        val sz = 2 << (ipacked & 7)
        if (off + 3L * sz > p.length) return None
        table = Array.tabulate(sz)(i =>
          ((p(off + 3 * i) & 0xff) << 16) |
            ((p(off + 3 * i + 1) & 0xff) << 8) |
            (p(off + 3 * i + 2) & 0xff))
        off += 3 * sz
      }
      if (table == null || w <= 0 || h <= 0 ||
        w > (1 << 12) || h > (1 << 12)) return None
      if (off >= p.length) return None
      val minCode = p(off) & 0xff
      if (minCode < 2 || minCode > 8) return None
      off += 1
      // reassemble the code bytes from sub-blocks
      val data = new java.io.ByteArrayOutputStream()
      while (off < p.length && (p(off) & 0xff) != 0) {
        val bl = p(off) & 0xff
        if (off + 1 + bl > p.length) return None
        data.write(p, off + 1, bl)
        off += 1 + bl
      }
      if (off >= p.length) return None // missing block terminator
      val bytes = data.toByteArray
      // ---- LZW ----
      val clear = 1 << minCode
      val end = clear + 1
      val maxTable = 4096
      val prefix = new Array[Int](maxTable)
      val suffix = new Array[Int](maxTable)
      var nextCode = end + 1
      var width = minCode + 1
      val out = new Array[Int](w * h) // palette indices
      var outN = 0
      var bitPos = 0L
      val totalBits = bytes.length.toLong * 8
      def read(): Int = { // LSB-first variable-width code, -1 on EOS
        if (bitPos + width > totalBits) return -1
        var v = 0; var i = 0
        while (i < width) {
          val bp = bitPos + i
          val bit = (bytes((bp >> 3).toInt) >> (bp & 7).toInt) & 1
          v |= bit << i
          i += 1
        }
        bitPos += width
        v
      }
      // emit the string for `code` (walk suffix chain, reversed)
      val stack = new Array[Int](maxTable)
      def emit(code: Int): Int = { // returns first index of the string, -1 bad
        var c = code; var sp = 0
        while (c >= clear) { // dictionary entry (roots are < clear)
          if (sp >= maxTable || c >= nextCode) return -1
          stack(sp) = suffix(c); sp += 1; c = prefix(c)
        }
        val first = c
        if (outN + sp + 1 > out.length) return -2 // too many pixels
        out(outN) = c; outN += 1
        while (sp > 0) { sp -= 1; out(outN) = stack(sp); outN += 1 }
        first
      }
      var prev = -1
      var done = false
      while (!done) {
        val code = read()
        if (code < 0) return None // ran out of bits before END
        if (code == clear) {
          nextCode = end + 1; width = minCode + 1; prev = -1
        } else if (code == end) {
          done = true
        } else if (prev == -1) {
          if (code >= clear) return None // first code must be a root
          if (outN >= out.length) return None
          out(outN) = code; outN += 1
          prev = code
        } else {
          var first = 0
          if (code < nextCode) {
            first = emit(code)
          } else if (code == nextCode) {
            // the KwKwK case: string = prev's string + its first char
            val probe = emit(prev)
            if (probe < 0) return None
            if (outN >= out.length) return None
            out(outN) = probe; outN += 1
            first = probe
          } else return None
          if (first < 0) return None
          if (nextCode < maxTable) {
            prefix(nextCode) = prev; suffix(nextCode) = first
            nextCode += 1
            if (nextCode == (1 << width) && width < 12) width += 1
          }
          prev = code
        }
      }
      if (outN != w * h) return None
      val px = new Array[Int](w * h)
      var i = 0
      while (i < px.length) {
        val idx = out(i)
        if (idx >= table.length) return None
        px(i) = table(idx); i += 1
      }
      Some((w, h, px))
    }

    /** REAL compressing LZW encoder (dictionary growth, width bumps,
      * CLEAR on a full table, LSB-first bit writer, sub-block framing) —
      * the spec round-trips genuinely multi-width streams through
      * [[decode]]. `px` are palette indices against the 128-entry
      * synthesis palette. */
    def encode(w: Int, h: Int, idxs: Array[Int]): Array[Byte] = {
      require(w > 0 && h > 0 && idxs.length == w * h)
      require(idxs.forall(i => i >= 0 && i < 128))
      val minCode = 7
      val clear = 1 << minCode; val end = clear + 1
      val bits = new java.io.ByteArrayOutputStream()
      var cur = 0L; var curBits = 0
      var width = minCode + 1
      def put(code: Int): Unit = {
        cur |= code.toLong << curBits; curBits += width
        while (curBits >= 8) {
          bits.write((cur & 0xff).toInt); cur >>= 8; curBits -= 8
        }
      }
      val dict = new java.util.HashMap[Long, Integer]()
      var nextCode = end + 1
      put(clear)
      var prev = idxs(0)
      var i = 1
      while (i < idxs.length) {
        val k = (prev.toLong << 32) | idxs(i)
        val hit = dict.get(k)
        if (hit != null) {
          prev = hit
        } else {
          put(prev)
          if (nextCode < 4096) {
            dict.put(k, nextCode)
            nextCode += 1
            // the decoder's dictionary LAGS the encoder's by one entry
            // (it adds after reading the NEXT code), so the encoder
            // bumps one entry later than the decoder's == (1<<width)
            // rule: at nextCode == (1<<width) + 1
            if (nextCode > (1 << width) && width < 12) width += 1
          } else {
            put(clear)
            dict.clear(); nextCode = end + 1; width = minCode + 1
          }
          prev = idxs(i)
        }
        i += 1
      }
      put(prev)
      // the final data code adds NO encoder entry, so the one-entry lag
      // that justifies the late bump rule above vanishes exactly here:
      // the decoder adds an entry for this code and applies ITS bump
      // rule (== 1<<width) before reading END — mirror it, or END is
      // written at the pre-bump width at nextCode boundaries (256/512/…)
      // and the decoder's wider read overruns the stream
      if (nextCode == (1 << width) && width < 12) width += 1
      put(end)
      if (curBits > 0) bits.write((cur & 0xff).toInt)
      val code = bits.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write("GIF89a".getBytes("US-ASCII"))
      le16(w); le16(h); out.write(0xE6); out.write(0); out.write(0)
      (0 until 128).foreach { i =>
        out.write((i * 7) % 256); out.write((i * 5) % 256); out.write((i * 3) % 256)
      }
      out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
      out.write(minCode)
      var o = 0
      while (o < code.length) {
        val n = math.min(255, code.length - o)
        out.write(n); out.write(code, o, n); o += n
      }
      out.write(0); out.write(0x3B)
      out.toByteArray
    }
  }

  /** Decode + featurize the GIF table — the [[bmpFeatures]] contract
    * through the LZW path. */
  def gifFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          GifCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  // -------------------------------- real pixel decode: JPEG (baseline DCT)
  //
  // Baseline JPEG needs no codec library either — the whole pipeline is
  // published arithmetic (ITU T.81): marker/segment walk, DQT/DHT table
  // building (canonical Huffman via the BITS/HUFFVAL procedure), the
  // MCU-interleaved entropy decode (DC prediction + EXTEND, run-length
  // AC with ZRL/EOB, 0xFF00 byte unstuffing, DRI/RSTn restart resync),
  // dequantization, the 8×8 inverse DCT, level shift, and YCbCr→RGB.
  // [[JpegCodec.decode]] implements exactly the baseline interchange
  // subset: SOF0, 8-bit samples, 1 or 3 components, sampling factors
  // 1..2 (4:4:4 / 4:2:2 / 4:2:0); progressive (SOF2), extended (SOF1+),
  // arithmetic coding, and 12-bit precision reject as None — honestly
  // out of scope, not silently misdecoded. [[JpegCodec.encode]] is a
  // REAL encoder — forward DCT, quantization, the public Annex K
  // luminance Huffman tables written as real DHT segments, byte
  // stuffing, optional restart markers — so the spec round-trips fully
  // conforming files through a DIFFERENT table/shape than synthesis
  // uses. JPEG is lossy by nature: the round-trip property is
  // dims-exact + bounded per-channel error (all-1 quant tables leave
  // only float DCT/IDCT and color-convert rounding).
  //
  // Synthesis ([[mediaJpeg]]) keeps the oracle EXACT the way PNG's
  // stored blocks did: every block carries ONLY a DC coefficient (EOB
  // immediately), and a DC-only block inverse-transforms to a flat 8×8
  // tile of clamp(round(dc·Q0/8)+128) — with Q0 = 8 that is exactly
  // dc + 128, integer arithmetic DuckDB replays as a cumulative sum
  // over the per-block diff formula (DC is differentially coded, so the
  // oracle's window sum IS the DC prediction chain). One-entry custom
  // Huffman tables make each block's entropy coding exactly two bytes
  // (4-bit DC category code 0000 + 4 magnitude bits, then the 8-bit
  // EOB code 00000000) — byte-aligned and never 0xFF, so the scan is a
  // pure Column concat with no stuffing. A wrong Huffman walk, EXTEND,
  // prediction chain, dequant, IDCT constant, or level shift on the
  // decode side is a red row against the formula.

  /** Synthesize a grayscale baseline JPEG per document: wb = id%3+1 and
    * hb = (5·id)%2+1 blocks (so w = 8·wb, h = 8·hb), block i's DC diff
    * = ±(8 + (7·id+3·i)%8) with sign + iff (id+i)%2=0, quantizer Q0 = 8
    * ⇒ block pixel value = Σdiff + 128 exactly. */
  def mediaJpeg(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val wb = (pmod(id, lit(3)) + 1).cast("int")
    val hb = (pmod(id * 5, lit(2)) + 1).cast("int")
    def be16h(c: Column) = lpad(conv(c.cast("long"), 10, 16), 4, "0")
    val nb = wb * hb
    val scanHex = array_join(transform(sequence(lit(0), nb - 1), i => {
      val mag = pmod(id * 7 + i * 3, lit(8)) + 8
      val diff = when(pmod(id + i, lit(2)) === 0, mag).otherwise(-mag)
      // category-4 magnitude bits: positive v → v (1000..1111),
      // negative v → v + 2^4 - 1 (0000..0111) — the EXTEND inverse
      val bitsVal = when(diff > 0, diff).otherwise(diff + 15)
      concat(lpad(conv(bitsVal.cast("long"), 10, 16), 2, "0"), lit("00"))
    }), "")
    val jpg = concat(
      lit("FFD8"), // SOI
      // DQT: 8-bit table 0, Q0 = 8, the 63 unused AC quantizers = 1
      lit("FFDB0043" + "00" + "08" + "01" * 63),
      // SOF0: precision 8, 1 component (id 1, sampling 1x1, table 0)
      lit("FFC0000B08"), be16h(hb * 8), be16h(wb * 8), lit("010111" + "00"),
      // DHT DC 0: one code of length 4 → symbol 4 (category 4), code 0000
      lit("FFC40014" + "00" + "00000001" + "00" * 12 + "04"),
      // DHT AC 0: one code of length 8 → symbol 0x00 (EOB), code 00000000
      lit("FFC40014" + "10" + "00" * 7 + "01" + "00" * 8 + "00"),
      // SOS: 1 component, tables 0/0, Ss=0 Se=63 AhAl=0
      lit("FFDA0008" + "01" + "0100" + "00" + "3F" + "00"),
      scanHex,
      lit("FFD9")) // EOI
    docs.select(col("doc_id").as("media_id"), unhex(jpg).as("payload"))
  }

  object JpegCodec {
    /** zigzag scan position k → natural (row-major) position. */
    private val zigzag: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10,
      17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34,
      27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36,
      29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46,
      53, 60, 61, 54, 47, 55, 62, 63)

    // basis(u)(x) = C(u)/2 · cos((2x+1)uπ/16): one separable pass; two
    // passes give the DCT's 1/4 normalization (same table serves the
    // forward transform by summing over the spatial index instead).
    private val basis: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
      val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }

    /** Internal bail-out for the entropy decoder: control flow only,
      * always caught inside [[decode]] — never escapes (ControlThrowable
      * so the NonFatal backstop can never shadow it). */
    private object Bail extends scala.util.control.ControlThrowable

    /** Canonical Huffman decode tables per T.81 F.2.2.3. */
    private final class Huff(bits: Array[Int], val huffval: Array[Int]) {
      val maxcode = new Array[Int](17)
      val mincode = new Array[Int](17)
      val valptr = new Array[Int](17)
      locally {
        var code = 0; var k = 0; var l = 1
        while (l <= 16) {
          if (bits(l - 1) == 0) maxcode(l) = -1
          else {
            valptr(l) = k
            mincode(l) = code
            code += bits(l - 1); k += bits(l - 1)
            maxcode(l) = code - 1
          }
          code <<= 1
          l += 1
        }
      }
    }

    /** MSB-first reader over entropy-coded data: un-stuffs 0xFF00,
      * bails on any marker mid-read, truncation, or an overlong code. */
    private final class BitReader(p: Array[Byte], var pos: Int) {
      private var acc = 0
      private var cnt = 0
      def bit(): Int = {
        if (cnt == 0) {
          if (pos >= p.length) throw Bail
          val b = p(pos) & 0xff; pos += 1
          if (b == 0xff) {
            if (pos >= p.length) throw Bail
            if ((p(pos) & 0xff) != 0) throw Bail // marker inside data
            pos += 1 // stuffed zero
          }
          acc = b; cnt = 8
        }
        cnt -= 1
        (acc >> cnt) & 1
      }
      def bits(n: Int): Int = {
        var v = 0; var i = 0
        while (i < n) { v = (v << 1) | bit(); i += 1 }
        v
      }
      /** Byte-align and consume the expected RSTm marker. */
      def restart(m: Int): Unit = {
        cnt = 0
        if (pos + 2 > p.length) throw Bail
        if ((p(pos) & 0xff) != 0xff ||
          (p(pos + 1) & 0xff) != (0xd0 + m)) throw Bail
        pos += 2
      }
      def decodeHuff(t: Huff): Int = {
        var code = bit()
        var l = 1
        while (code > t.maxcode(l)) {
          if (l >= 16) throw Bail
          code = (code << 1) | bit()
          l += 1
        }
        val idx = t.valptr(l) + code - t.mincode(l)
        if (idx < 0 || idx >= t.huffval.length) throw Bail
        t.huffval(idx)
      }
    }

    private def extend(v: Int, t: Int): Int =
      if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

    /** In-place dequantized-coefficient → clamped level-shifted pixel
      * 8×8 inverse DCT (direct separable float form — exact for the
      * DC-only oracle path; an AAN fixed-point ladder would be the
      * throughput upgrade if decode ever dominates a profile). */
    private def idct(coef: Array[Int], tmp: Array[Double]): Unit = {
      var v = 0
      while (v < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) { s += basis(u)(x) * coef(v * 8 + u); u += 1 }
          tmp(v * 8 + x) = s
          x += 1
        }
        v += 1
      }
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var s = 0.0
          var vv = 0
          while (vv < 8) { s += basis(vv)(y) * tmp(vv * 8 + x); vv += 1 }
          val t = math.round(s).toInt + 128
          coef(y * 8 + x) = if (t < 0) 0 else if (t > 255) 255 else t
          x += 1
        }
        y += 1
      }
    }

    private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

    /** Decode a baseline JPEG (SOF0, 8-bit, 1 or 3 components, sampling
      * factors 1..2). Returns top-down `0xRRGGBB` pixels; None on
      * anything non-conforming or out of the supported envelope —
      * garbage must surface as a missing row, never a task-killing
      * throw (the marker walk bounds-checks via the bailing `u8`; the
      * NonFatal catch is the fuzz backstop, not the contract). */
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 4) return None
      try decodeImpl(p)
      catch {
        case Bail => None
        case scala.util.control.NonFatal(_) => None
      }
    }

    private def decodeImpl(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      def u8(i: Int): Int = { if (i < 0 || i >= p.length) throw Bail; p(i) & 0xff }
      def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      if (u8(0) != 0xff || u8(1) != 0xd8) return None
      val qt = Array.ofDim[Int](4, 64)
      val qtSeen = new Array[Boolean](4)
      val dcTab = new Array[Huff](4)
      val acTab = new Array[Huff](4)
      var w = 0; var h = 0
      var compH: Array[Int] = null
      var compV: Array[Int] = null
      var compQ: Array[Int] = null
      var compDc: Array[Int] = null
      var compAc: Array[Int] = null
      var compIds: Array[Int] = null
      var dri = 0
      var off = 2
      var scanAt = -1
      while (scanAt < 0) {
        if (u8(off) != 0xff) return None
        var m = u8(off + 1)
        off += 2
        while (m == 0xff) { m = u8(off); off += 1 } // fill bytes
        // standalone markers (TEM/RSTn/EOI) are malformed before SOS
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) return None
        val len = u16(off)
        if (len < 2 || off.toLong + len > p.length) return None
        val end = off + len
        var q = off + 2
        m match {
          case 0xdb => // DQT: one or more 8-bit tables
            while (q < end) {
              val pqTq = u8(q); q += 1
              val pq = pqTq >> 4; val tq = pqTq & 15
              if (pq != 0 || tq > 3) return None // 12-bit: out of scope
              if (q + 64 > end) return None
              var i = 0
              while (i < 64) {
                qt(tq)(i) = u8(q + i)
                if (qt(tq)(i) == 0) return None
                i += 1
              }
              qtSeen(tq) = true
              q += 64
            }
          case 0xc4 => // DHT: one or more tables
            while (q < end) {
              val tcTh = u8(q); q += 1
              val tc = tcTh >> 4; val th = tcTh & 15
              if (tc > 1 || th > 3) return None
              if (q + 16 > end) return None
              val bits = Array.tabulate(16)(i => u8(q + i))
              q += 16
              val n = bits.sum
              if (n == 0 || n > 256 || q + n > end) return None
              val vals = Array.tabulate(n)(i => u8(q + i))
              q += n
              if (tc == 0) dcTab(th) = new Huff(bits, vals)
              else acTab(th) = new Huff(bits, vals)
            }
          case 0xc0 => // SOF0: baseline sequential
            if (compIds != null) return None
            if (len < 11 || u8(q) != 8) return None
            h = u16(q + 1); w = u16(q + 3)
            val nc = u8(q + 5)
            if (w <= 0 || h <= 0 || w > (1 << 12) || h > (1 << 12)) return None
            if (w.toLong * h > (1L << 26)) return None
            if (nc != 1 && nc != 3) return None
            if (len != 8 + 3 * nc) return None
            compIds = new Array[Int](nc); compH = new Array[Int](nc)
            compV = new Array[Int](nc); compQ = new Array[Int](nc)
            var c = 0
            while (c < nc) {
              compIds(c) = u8(q + 6 + 3 * c)
              val hv = u8(q + 7 + 3 * c)
              compH(c) = hv >> 4; compV(c) = hv & 15
              // factors 1..2 cover 4:4:4 / 4:2:2 / 4:2:0 — the envelope
              if (compH(c) < 1 || compH(c) > 2 ||
                compV(c) < 1 || compV(c) > 2) return None
              compQ(c) = u8(q + 8 + 3 * c)
              if (compQ(c) > 3) return None
              c += 1
            }
          case 0xc2 => // progressive: the multi-scan path owns the file
            if (compIds != null) return None
            return decodeProgressive(p)
          case x if x >= 0xc1 && x <= 0xcf =>
            return None // extended/arithmetic/hierarchical: out of scope
          case 0xdd => // DRI
            if (len != 4) return None
            dri = u16(q)
          case 0xda => // SOS
            if (compIds == null) return None
            val ns = u8(q); q += 1
            // non-interleaved multi-scan is a progressive idiom: reject
            if (ns != compIds.length) return None
            compDc = new Array[Int](ns); compAc = new Array[Int](ns)
            var s = 0
            while (s < ns) {
              val cs = u8(q); val tdta = u8(q + 1); q += 2
              if (cs != compIds(s)) return None // frame order required
              compDc(s) = tdta >> 4; compAc(s) = tdta & 15
              if (compDc(s) > 3 || compAc(s) > 3) return None
              s += 1
            }
            // spectral selection / successive approximation: baseline 0..63/0
            if (u8(q) != 0 || u8(q + 1) != 63 || u8(q + 2) != 0) return None
            scanAt = end
          case x if (x >= 0xe0 && x <= 0xef) || x == 0xfe => () // APPn/COM
          case _ => return None
        }
        off = end
      }
      val nc = compIds.length
      var hmax = 1; var vmax = 1
      var c = 0
      while (c < nc) {
        if (!qtSeen(compQ(c))) return None
        if (dcTab(compDc(c)) == null || acTab(compAc(c)) == null) return None
        hmax = math.max(hmax, compH(c)); vmax = math.max(vmax, compV(c))
        c += 1
      }
      val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
      val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
      val planeW = Array.tabulate(nc)(c => mcusX * compH(c) * 8)
      val planes = Array.tabulate(nc)(c =>
        new Array[Int](planeW(c) * mcusY * compV(c) * 8))
      val br = new BitReader(p, scanAt)
      val pred = new Array[Int](nc)
      val coef = new Array[Int](64)
      val tmp = new Array[Double](64)
      var rst = 0
      var mcu = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (dri > 0 && mcu > 0 && mcu % dri == 0) {
            br.restart(rst); rst = (rst + 1) & 7
            java.util.Arrays.fill(pred, 0)
          }
          c = 0
          while (c < nc) {
            val qtab = qt(compQ(c))
            val dct = dcTab(compDc(c)); val act = acTab(compAc(c))
            var by = 0
            while (by < compV(c)) {
              var bx = 0
              while (bx < compH(c)) {
                java.util.Arrays.fill(coef, 0)
                val t = br.decodeHuff(dct)
                if (t > 11) throw Bail
                val diff = if (t == 0) 0 else extend(br.bits(t), t)
                pred(c) += diff
                coef(0) = pred(c) * qtab(0)
                var k = 1
                var eob = false
                while (k < 64 && !eob) {
                  val rs = br.decodeHuff(act)
                  val r = rs >> 4; val sb = rs & 15
                  if (sb == 0) {
                    if (r == 15) k += 16 else eob = true // ZRL / EOB
                  } else {
                    k += r
                    if (k > 63) throw Bail
                    coef(zigzag(k)) = extend(br.bits(sb), sb) * qtab(k)
                    k += 1
                  }
                }
                idct(coef, tmp)
                val py0 = (my * compV(c) + by) * 8
                val px0 = (mx * compH(c) + bx) * 8
                var yy = 0
                while (yy < 8) {
                  var xx = 0
                  while (xx < 8) {
                    planes(c)((py0 + yy) * planeW(c) + px0 + xx) =
                      coef(yy * 8 + xx)
                    xx += 1
                  }
                  yy += 1
                }
                bx += 1
              }
              by += 1
            }
            c += 1
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
      // trailing grammar: optional fill bytes, then EOI
      var e = br.pos
      while (e < p.length && (p(e) & 0xff) == 0xff &&
        e + 1 < p.length && (p(e + 1) & 0xff) == 0xff) e += 1
      if (e + 2 > p.length || (p(e) & 0xff) != 0xff ||
        (p(e + 1) & 0xff) != 0xd9) return None
      Some((w, h,
        planesToPixels(planes, planeW, nc, compH, compV, hmax, vmax, w, h)))
    }

    /** Upsample (nearest) + color convert + crop — shared by the
      * baseline and progressive paths. */
    private def planesToPixels(planes: Array[Array[Int]],
      planeW: Array[Int], nc: Int, compH: Array[Int], compV: Array[Int],
      hmax: Int, vmax: Int, w: Int, h: Int): Array[Int] = {
      val px = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          if (nc == 1) {
            val v0 = planes(0)(
              (y * compV(0) / vmax) * planeW(0) + x * compH(0) / hmax)
            px(y * w + x) = (v0 << 16) | (v0 << 8) | v0
          } else {
            val yv = planes(0)(
              (y * compV(0) / vmax) * planeW(0) + x * compH(0) / hmax)
            val cb = planes(1)(
              (y * compV(1) / vmax) * planeW(1) + x * compH(1) / hmax) - 128
            val cr = planes(2)(
              (y * compV(2) / vmax) * planeW(2) + x * compH(2) / hmax) - 128
            val r = clamp8(math.round(yv + 1.402 * cr).toInt)
            val g = clamp8(math.round(yv - 0.344136 * cb - 0.714136 * cr).toInt)
            val b = clamp8(math.round(yv + 1.772 * cb).toInt)
            px(y * w + x) = (r << 16) | (g << 8) | b
          }
          x += 1
        }
        y += 1
      }
      px
    }

    /** natural (row-major) position → zigzag index. */
    private val invZigzag: Array[Int] = {
      val a = new Array[Int](64)
      var k = 0
      while (k < 64) { a(zigzag(k)) = k; k += 1 }
      a
    }

    /** Progressive JPEG (SOF2): multi-scan decode — interleaved or
      * single-component DC scans, single-component AC band scans with
      * EOBRUN coding, successive-approximation FIRST passes (Al > 0
      * point transforms), DHT redefinition between scans, DRI/RSTn
      * resync inside scans. Raw coefficients accumulate per component
      * across scans; dequantization + IDCT run once at EOI. Refinement
      * scans (Ah > 0) are the documented phase-2 gap → None. */
    private def decodeProgressive(
      p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      def u8(i: Int): Int =
        { if (i < 0 || i >= p.length) throw Bail; p(i) & 0xff }
      def u16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
      val qt = Array.ofDim[Int](4, 64)
      val qtSeen = new Array[Boolean](4)
      val dcTab = new Array[Huff](4)
      val acTab = new Array[Huff](4)
      var w = 0; var h = 0
      var compIds: Array[Int] = null
      var compH: Array[Int] = null; var compV: Array[Int] = null
      var compQ: Array[Int] = null
      var hmax = 1; var vmax = 1
      var mcusX = 0; var mcusY = 0
      var bwArr: Array[Int] = null; var bhArr: Array[Int] = null
      var coefs: Array[Array[Int]] = null // raw values, natural order
      var sawScan = false
      var dri = 0
      var off = 2
      var sawEoi = false
      while (!sawEoi) {
        if (u8(off) != 0xff) throw Bail
        var m = u8(off + 1)
        off += 2
        while (m == 0xff) { m = u8(off); off += 1 } // fill bytes
        if (m == 0xd9) sawEoi = true
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) throw Bail
        else {
          val len = u16(off)
          if (len < 2 || off.toLong + len > p.length) throw Bail
          val end = off + len
          var q = off + 2
          var nextOff = end
          m match {
            case 0xdb =>
              while (q < end) {
                val pqTq = u8(q); q += 1
                if ((pqTq >> 4) != 0 || (pqTq & 15) > 3) throw Bail
                if (q + 64 > end) throw Bail
                var i = 0
                while (i < 64) {
                  qt(pqTq & 15)(i) = u8(q + i)
                  if (qt(pqTq & 15)(i) == 0) throw Bail
                  i += 1
                }
                qtSeen(pqTq & 15) = true
                q += 64
              }
            case 0xc4 =>
              while (q < end) {
                val tcTh = u8(q); q += 1
                val tc = tcTh >> 4; val th = tcTh & 15
                if (tc > 1 || th > 3) throw Bail
                if (q + 16 > end) throw Bail
                val bits = Array.tabulate(16)(i => u8(q + i))
                q += 16
                val n = bits.sum
                if (n == 0 || n > 256 || q + n > end) throw Bail
                val vals = Array.tabulate(n)(i => u8(q + i))
                q += n
                if (tc == 0) dcTab(th) = new Huff(bits, vals)
                else acTab(th) = new Huff(bits, vals)
              }
            case 0xc2 =>
              if (compIds != null) throw Bail
              if (len < 11 || u8(q) != 8) throw Bail
              h = u16(q + 1); w = u16(q + 3)
              val nc = u8(q + 5)
              if (w <= 0 || h <= 0 || w > (1 << 12) || h > (1 << 12))
                throw Bail
              if (w.toLong * h > (1L << 26)) throw Bail
              if (nc != 1 && nc != 3) throw Bail
              if (len != 8 + 3 * nc) throw Bail
              compIds = new Array[Int](nc); compH = new Array[Int](nc)
              compV = new Array[Int](nc); compQ = new Array[Int](nc)
              var c = 0
              while (c < nc) {
                compIds(c) = u8(q + 6 + 3 * c)
                val hv = u8(q + 7 + 3 * c)
                compH(c) = hv >> 4; compV(c) = hv & 15
                if (compH(c) < 1 || compH(c) > 2 ||
                  compV(c) < 1 || compV(c) > 2) throw Bail
                compQ(c) = u8(q + 8 + 3 * c)
                if (compQ(c) > 3) throw Bail
                hmax = math.max(hmax, compH(c))
                vmax = math.max(vmax, compV(c))
                c += 1
              }
              mcusX = (w + 8 * hmax - 1) / (8 * hmax)
              mcusY = (h + 8 * vmax - 1) / (8 * vmax)
              bwArr = Array.tabulate(nc)(c => mcusX * compH(c))
              bhArr = Array.tabulate(nc)(c => mcusY * compV(c))
              coefs = Array.tabulate(nc)(c =>
                new Array[Int](bwArr(c) * bhArr(c) * 64))
            case 0xdd =>
              if (len != 4) throw Bail
              dri = u16(q)
            case 0xda =>
              if (compIds == null) throw Bail
              val ns = u8(q); q += 1
              if (ns < 1 || ns > compIds.length) throw Bail
              val scomp = new Array[Int](ns)
              val sdc = new Array[Int](ns); val sac = new Array[Int](ns)
              var s = 0
              while (s < ns) {
                val cs = u8(q); val tdta = u8(q + 1); q += 2
                val ci = compIds.indexOf(cs)
                if (ci < 0) throw Bail
                scomp(s) = ci
                sdc(s) = tdta >> 4; sac(s) = tdta & 15
                if (sdc(s) > 3 || sac(s) > 3) throw Bail
                s += 1
              }
              val ss = u8(q); val se = u8(q + 1)
              val ah = u8(q + 2) >> 4; val al = u8(q + 2) & 15
              if (ss > 63 || se > 63 || ss > se || al > 13) throw Bail
              if (ss == 0 && se != 0) throw Bail // DC scans are DC-only
              if (ss > 0 && ns != 1) throw Bail // AC scans: one component
              if (ah != 0 && ah != al + 1) throw Bail // one bit per pass
              val br = new BitReader(p, end)
              val pred = new Array[Int](compIds.length)
              var eobrun = 0
              var rst = 0
              def checkRestart(unit: Int): Unit =
                if (dri > 0 && unit > 0 && unit % dri == 0) {
                  br.restart(rst); rst = (rst + 1) & 7
                  java.util.Arrays.fill(pred, 0); eobrun = 0
                }
              def decodeDc(c: Int, tab: Huff, bx: Int, by: Int): Unit = {
                val at = (by * bwArr(c) + bx) * 64
                if (ah > 0) {
                  // DC refinement: one raw bit per block, no Huffman
                  if (br.bit() == 1) coefs(c)(at) |= 1 << al
                } else {
                  val t = br.decodeHuff(tab)
                  if (t > 11) throw Bail
                  val diff = if (t == 0) 0 else extend(br.bits(t), t)
                  pred(c) += diff
                  coefs(c)(at) = pred(c) << al
                }
              }
              // AC refinement correction: a raw bit per already-nonzero
              // coefficient; a 1 adds 1<<al toward the sign (G.1.2.3)
              def correct(c: Int, at: Int): Unit =
                if (br.bit() == 1 && (coefs(c)(at) & (1 << al)) == 0)
                  coefs(c)(at) +=
                    (if (coefs(c)(at) > 0) 1 << al else -(1 << al))
              if (ss == 0 && ns > 1) {
                // interleaved DC scan: the MCU walk
                var mcu = 0; var my = 0
                while (my < mcusY) {
                  var mx = 0
                  while (mx < mcusX) {
                    checkRestart(mcu)
                    var si = 0
                    while (si < ns) {
                      val c = scomp(si)
                      val tab = dcTab(sdc(si))
                      if (ah == 0 && tab == null) throw Bail
                      var by = 0
                      while (by < compV(c)) {
                        var bx = 0
                        while (bx < compH(c)) {
                          decodeDc(c, tab,
                            mx * compH(c) + bx, my * compV(c) + by)
                          bx += 1
                        }
                        by += 1
                      }
                      si += 1
                    }
                    mcu += 1; mx += 1
                  }
                  my += 1
                }
              } else {
                // single-component scan over the NON-padded block grid
                val c = scomp(0)
                val cw = (w * compH(c) + hmax - 1) / hmax
                val ch = (h * compV(c) + vmax - 1) / vmax
                val bwNI = (cw + 7) / 8; val bhNI = (ch + 7) / 8
                val dTab = if (ss == 0) dcTab(sdc(0)) else null
                val aTab = if (ss > 0) acTab(sac(0)) else null
                if ((ss == 0 && ah == 0 && dTab == null) ||
                  (ss > 0 && aTab == null)) throw Bail
                var unit = 0
                var byi = 0
                while (byi < bhNI) {
                  var bxi = 0
                  while (bxi < bwNI) {
                    checkRestart(unit)
                    val base = (byi * bwArr(c) + bxi) * 64
                    if (ss == 0) decodeDc(c, dTab, bxi, byi)
                    else if (ah == 0) {
                      // AC first pass (possibly point-transformed)
                      if (eobrun > 0) eobrun -= 1
                      else {
                        var k = ss
                        var done = false
                        while (k <= se && !done) {
                          val rs = br.decodeHuff(aTab)
                          val r = rs >> 4; val sb = rs & 15
                          if (sb == 0) {
                            if (r < 15) {
                              eobrun = (1 << r) - 1 +
                                (if (r > 0) br.bits(r) else 0)
                              done = true
                            } else k += 16 // ZRL
                          } else {
                            k += r
                            if (k > se) throw Bail
                            coefs(c)(base + zigzag(k)) =
                              extend(br.bits(sb), sb) << al
                            k += 1
                          }
                        }
                      }
                    } else {
                      // AC refinement (G.1.2.3): new ±1<<al placements
                      // between correction bits for nonzero history
                      var k = ss
                      if (eobrun > 0) {
                        eobrun -= 1
                        while (k <= se) {
                          if (coefs(c)(base + zigzag(k)) != 0)
                            correct(c, base + zigzag(k))
                          k += 1
                        }
                      } else {
                        var done = false
                        while (k <= se && !done) {
                          val rs = br.decodeHuff(aTab)
                          var r = rs >> 4; val sb = rs & 15
                          var newVal = 0
                          if (sb == 0) {
                            if (r < 15) {
                              eobrun = (1 << r) - 1 +
                                (if (r > 0) br.bits(r) else 0)
                              // corrections for the REST of this block
                              while (k <= se) {
                                if (coefs(c)(base + zigzag(k)) != 0)
                                  correct(c, base + zigzag(k))
                                k += 1
                              }
                              done = true
                            } // r == 15: ZRL, advance 15+1 below
                          } else {
                            if (sb != 1) throw Bail // refinement sends ±1
                            newVal =
                              if (br.bit() == 1) 1 << al else -(1 << al)
                          }
                          if (!done) {
                            // skip `r` ZERO-history positions (correcting
                            // nonzero-history ones en route), stop AT the
                            // next zero-history slot, place there
                            var landed = false
                            while (k <= se && !landed) {
                              val at = base + zigzag(k)
                              if (coefs(c)(at) != 0) { correct(c, at); k += 1 }
                              else if (r == 0) landed = true
                              else { r -= 1; k += 1 }
                            }
                            if (landed) {
                              if (newVal != 0)
                                coefs(c)(base + zigzag(k)) = newVal
                              k += 1
                            } else if (newVal != 0) throw Bail
                          }
                        }
                      }
                    }
                    unit += 1; bxi += 1
                  }
                  byi += 1
                }
              }
              sawScan = true
              // resync: pad bits consumed with their byte; fill FFs next
              var e2 = br.pos
              while (e2 + 1 < p.length && (p(e2) & 0xff) == 0xff &&
                (p(e2 + 1) & 0xff) == 0xff) e2 += 1
              nextOff = e2
            case x if (x >= 0xe0 && x <= 0xef) || x == 0xfe => ()
            case _ => throw Bail // SOF0/SOF1/DNL/... inside SOF2: reject
          }
          off = nextOff
        }
      }
      if (coefs == null || !sawScan) throw Bail
      val nc = compIds.length
      var c = 0
      while (c < nc) {
        if (!qtSeen(compQ(c))) throw Bail
        c += 1
      }
      // dequantize + IDCT every block, then the shared upsample tail
      val planeW = Array.tabulate(nc)(c => bwArr(c) * 8)
      val planes = Array.tabulate(nc)(c =>
        new Array[Int](planeW(c) * bhArr(c) * 8))
      val block = new Array[Int](64)
      val tmp = new Array[Double](64)
      c = 0
      while (c < nc) {
        val qtab = qt(compQ(c))
        var by = 0
        while (by < bhArr(c)) {
          var bx = 0
          while (bx < bwArr(c)) {
            val base = (by * bwArr(c) + bx) * 64
            var j = 0
            while (j < 64) {
              block(j) = coefs(c)(base + j) * qtab(invZigzag(j))
              j += 1
            }
            idct(block, tmp)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(c)((by * 8 + yy) * planeW(c) + bx * 8 + xx) =
                  block(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      Some((w, h,
        planesToPixels(planes, planeW, nc, compH, compV, hmax, vmax, w, h)))
    }

    // Annex K luminance Huffman tables (ITU T.81 tables K.3/K.5) — used
    // for ALL components (a legal encoder choice that halves the
    // constants; the tables ride real DHT segments, so decode still
    // exercises full canonical table building).
    private val kDcBits =
      Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
    private val kDcVals = Array.tabulate(12)(identity)
    private val kAcBits =
      Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
    private val kAcVals: Array[Int] =
      ("010203000411051221314106135161072271" + // lengths 2..8
        "14328191a1082342b1c11552d1f02433627282" + // lengths 9..12, 15
        "090a161718191a25262728292a3435363738393a" + // length 16 from here
        "434445464748494a535455565758595a636465666768696a" +
        "737475767778797a838485868788898a92939495969798999a" +
        "a2a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9ca" +
        "d2d3d4d5d6d7d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9fa")
        .grouped(2).map(Integer.parseInt(_, 16)).toArray
    require(kAcVals.length == kAcBits.sum && kDcVals.length == kDcBits.sum,
      "Annex K table transcription: BITS/HUFFVAL counts must agree")

    /** Canonical encode tables: symbol → (code, length). */
    private final class HuffEnc(bits: Array[Int], vals: Array[Int]) {
      val codeOf = new Array[Int](256)
      val lenOf = new Array[Int](256)
      locally {
        var code = 0; var k = 0; var l = 1
        while (l <= 16) {
          var i = 0
          while (i < bits(l - 1)) {
            codeOf(vals(k)) = code; lenOf(vals(k)) = l
            code += 1; k += 1; i += 1
          }
          code <<= 1
          l += 1
        }
      }
    }
    private lazy val kDcEnc = new HuffEnc(kDcBits, kDcVals)
    private lazy val kAcEnc = new HuffEnc(kAcBits, kAcVals)

    private final class BitWriter(out: java.io.ByteArrayOutputStream) {
      private var acc = 0; private var cnt = 0
      def put(code: Int, len: Int): Unit = {
        var i = len - 1
        while (i >= 0) {
          acc = (acc << 1) | ((code >> i) & 1); cnt += 1
          if (cnt == 8) {
            out.write(acc)
            if (acc == 0xff) out.write(0) // byte stuffing
            acc = 0; cnt = 0
          }
          i -= 1
        }
      }
      def flush(): Unit = while (cnt != 0) put(1, 1) // pad with 1s
    }

    private def category(v: Int): Int =
      if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

    /** Encode top-down `0xRRGGBB` pixels as a conforming baseline JPEG:
      * YCbCr 4:4:4 (or 4:2:0 with `subsample420` — Y at 2×2 blocks per
      * MCU, chroma as rounded 2×2-pixel averages, the path that
      * exercises the decoder's upsampling), all-1 quantizers (so
      * round-trip error is only float DCT/IDCT + color rounding — plus
      * the chroma averaging itself under 4:2:0), Annex K Huffman tables
      * in real DHT segments, optional restart markers. */
    def encode(w: Int, h: Int, px: Array[Int],
      restartInterval: Int = 0, subsample420: Boolean = false,
      lumaH: Int = 1, lumaV: Int = 1): Array[Byte] = {
      require(w > 0 && h > 0 && px.length == w * h)
      require(restartInterval >= 0 && restartInterval <= 65535)
      // general luma sampling (1..2 per axis): (2,2) = 4:2:0,
      // (2,1) = 4:2:2, (1,2) = 4:4:0; chroma averages hs x vs groups
      val hs = if (subsample420) 2 else lumaH
      val vs = if (subsample420) 2 else lumaV
      require(hs >= 1 && hs <= 2 && vs >= 1 && vs <= 2)
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
      def seg(m: Int, body: Array[Int]): Unit = {
        marker(m)
        out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
        body.foreach(out.write)
      }
      val yHV = (hs << 4) | vs
      marker(0xd8) // SOI
      seg(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT: table 0, all 1s
      seg(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
        1, yHV, 0, 2, 0x11, 0, 3, 0x11, 0)) // SOF0
      seg(0xc4, Array(0x00) ++ kDcBits ++ kDcVals) // DHT DC 0
      seg(0xc4, Array(0x10) ++ kAcBits ++ kAcVals) // DHT AC 0
      if (restartInterval > 0)
        seg(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
      seg(0xda, Array(3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)) // SOS
      val bw = new BitWriter(out)
      val block = new Array[Double](64)
      val coef = new Array[Int](64)
      val tmp = new Array[Double](64)
      val pred = new Array[Int](3)
      // component value of the (edge-replicated) pixel at (sx, sy)
      def ycc(sx: Int, sy: Int, c: Int): Double = {
        val v = px(math.min(sy, h - 1) * w + math.min(sx, w - 1))
        val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff
        val b = v & 0xff
        c match {
          case 0 => 0.299 * r + 0.587 * g + 0.114 * b
          case 1 => 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
          case _ => 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        }
      }
      // forward DCT + Huffman-emit one block of level-shifted samples
      def emitBlock(sample: (Int, Int) => Double, c: Int): Unit = {
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            block(yy * 8 + xx) = math.round(sample(xx, yy)).toDouble - 128.0
            xx += 1
          }
          yy += 1
        }
        // forward DCT: same basis, summed over the spatial index
        var v2 = 0
        while (v2 < 8) {
          var x2 = 0
          while (x2 < 8) {
            var s = 0.0
            var y2 = 0
            while (y2 < 8) { s += basis(v2)(y2) * block(y2 * 8 + x2); y2 += 1 }
            tmp(v2 * 8 + x2) = s
            x2 += 1
          }
          v2 += 1
        }
        var vv = 0
        while (vv < 8) {
          var uu = 0
          while (uu < 8) {
            var s = 0.0
            var x2 = 0
            while (x2 < 8) { s += basis(uu)(x2) * tmp(vv * 8 + x2); x2 += 1 }
            coef(vv * 8 + uu) = math.round(s).toInt // quantizer = 1
            uu += 1
          }
          vv += 1
        }
        // DC
        val diff = coef(0) - pred(c)
        pred(c) = coef(0)
        val t = category(diff)
        bw.put(kDcEnc.codeOf(t), kDcEnc.lenOf(t))
        if (t > 0)
          bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
        // AC in zigzag order with ZRL/EOB
        var run = 0
        var k = 1
        while (k < 64) {
          val ac = coef(zigzag(k))
          if (ac == 0) run += 1
          else {
            while (run > 15) {
              bw.put(kAcEnc.codeOf(0xf0), kAcEnc.lenOf(0xf0)); run -= 16
            }
            val ts = category(ac)
            val sym = (run << 4) | ts
            bw.put(kAcEnc.codeOf(sym), kAcEnc.lenOf(sym))
            bw.put(if (ac < 0) ac + (1 << ts) - 1 else ac, ts)
            run = 0
          }
          k += 1
        }
        if (run > 0) bw.put(kAcEnc.codeOf(0x00), kAcEnc.lenOf(0x00))
      }
      val mcusX = (w + 8 * hs - 1) / (8 * hs)
      val mcusY = (h + 8 * vs - 1) / (8 * vs)
      var rst = 0
      var mcu = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            bw.flush()
            marker(0xd0 + rst); rst = (rst + 1) & 7
            java.util.Arrays.fill(pred, 0)
          }
          if (hs == 1 && vs == 1) {
            var c = 0
            while (c < 3) {
              emitBlock((xx, yy) => ycc(mx * 8 + xx, my * 8 + yy, c), c)
              c += 1
            }
          } else {
            // interleave order: the hs x vs Y blocks (row-major), Cb,
            // Cr — the same comp-major/by/bx walk the decoder runs
            var by = 0
            while (by < vs) {
              var bx = 0
              while (bx < hs) {
                emitBlock((xx, yy) => ycc(mx * 8 * hs + bx * 8 + xx,
                  my * 8 * vs + by * 8 + yy, 0), 0)
                bx += 1
              }
              by += 1
            }
            var c = 1
            while (c < 3) {
              emitBlock({ (xx, yy) =>
                // chroma sample = rounded average of its hs x vs group
                val sx = (mx * 8 + xx) * hs; val sy = (my * 8 + yy) * vs
                var sum = 0.0
                var j = 0
                while (j < hs * vs) {
                  sum += ycc(sx + j % hs, sy + j / hs, c); j += 1
                }
                sum / (hs * vs)
              }, c)
              c += 1
            }
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
      bw.flush()
      marker(0xd9) // EOI
      out.toByteArray
    }

    /** Encode as a PROGRESSIVE (SOF2) JPEG: one interleaved DC scan
      * then two AC band scans per component (1..5, 6..63 — spectral
      * selection), EOBRUN coding across blocks, per-scan optimal
      * Huffman tables in fresh DHT segments (progressive symbol sets —
      * EOBn runs — are not in the Annex K tables, exactly why real
      * progressive encoders build their own). 4:4:4, all-1 quantizers:
      * the same pipeline as the baseline encoder, so the decoded
      * pixels are bit-identical to decoding the baseline file of the
      * same image (the spec pins that). */
    def encodeProgressive(w: Int, h: Int, px: Array[Int],
      successive: Boolean = false): Array[Byte] = {
      require(w > 0 && h > 0 && px.length == w * h)
      // successive approximation: first passes carry the point-
      // transformed coefficients (Al = 1), refinement scans send the
      // low bit (Ah = 1, Al = 0)
      val al0 = if (successive) 1 else 0
      val out = new java.io.ByteArrayOutputStream()
      def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
      def seg(m: Int, body: Array[Int]): Unit = {
        marker(m)
        out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
        body.foreach(out.write)
      }
      marker(0xd8)
      seg(0xdb, Array(0x00) ++ Array.fill(64)(1))
      seg(0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 3,
        1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0))
      // every coefficient up front (the multi-scan structure revisits
      // blocks, unlike the baseline's single streaming pass)
      val bX = (w + 7) / 8; val bY = (h + 7) / 8
      val block = new Array[Double](64)
      val tmp = new Array[Double](64)
      val coefs = Array.ofDim[Int](3, bX * bY * 64)
      var c = 0
      while (c < 3) {
        var by = 0
        while (by < bY) {
          var bx = 0
          while (bx < bX) {
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val sx = math.min(bx * 8 + xx, w - 1)
                val sy = math.min(by * 8 + yy, h - 1)
                val v = px(sy * w + sx)
                val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff
                val b = v & 0xff
                val s = c match {
                  case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                  case 1 => 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
                  case _ => 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
                }
                block(yy * 8 + xx) = math.round(s).toDouble - 128.0
                xx += 1
              }
              yy += 1
            }
            // the same separable forward DCT as the baseline path
            var v2 = 0
            while (v2 < 8) {
              var x2 = 0
              while (x2 < 8) {
                var s = 0.0
                var y2 = 0
                while (y2 < 8) {
                  s += basis(v2)(y2) * block(y2 * 8 + x2); y2 += 1
                }
                tmp(v2 * 8 + x2) = s
                x2 += 1
              }
              v2 += 1
            }
            val base = ((by * bX) + bx) * 64
            var vv = 0
            while (vv < 8) {
              var uu = 0
              while (uu < 8) {
                var s = 0.0
                var x2 = 0
                while (x2 < 8) {
                  s += basis(uu)(x2) * tmp(vv * 8 + x2); x2 += 1
                }
                coefs(c)(base + vv * 8 + uu) = math.round(s).toInt
                uu += 1
              }
              vv += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      final case class Tok(cls: Int, sym: Int, ev: Int, en: Int)
      def valueBits(v: Int, s: Int): Int =
        if (v < 0) v + (1 << s) - 1 else v
      // per-scan optimal tables: lengths from the histogram (16-bit
      // JPEG cap), HUFFVAL in canonical (length, symbol) order — the
      // same order the decoder's Huff assigns codes in
      def buildTable(freq: Array[Long]): (Array[Int], Array[Int]) = {
        val lens = Vp8lCodec.huffLengths(freq, 16)
        val pairs = lens.zipWithIndex.filter(_._1 > 0)
          .sortBy { case (l, sym) => (l, sym) }
        val bits = new Array[Int](16)
        pairs.foreach { case (l, _) => bits(l - 1) += 1 }
        (bits, pairs.map(_._2))
      }
      // scan 1: interleaved DC (luma table 0, shared chroma table 1)
      val dcToks = scala.collection.mutable.ArrayBuffer.empty[Tok]
      val pred = new Array[Int](3)
      var b = 0
      while (b < bX * bY) {
        var ci = 0
        while (ci < 3) {
          val dc = coefs(ci)(b * 64) >> al0 // ARITHMETIC shift (T.81 DC)
          val diff = dc - pred(ci); pred(ci) = dc
          val t = category(diff)
          dcToks += Tok(if (ci == 0) 0 else 1, t, valueBits(diff, t), t)
          ci += 1
        }
        b += 1
      }
      val dcFreq = Array.fill(2)(new Array[Long](256))
      dcToks.foreach(t => dcFreq(t.cls)(t.sym) += 1)
      val (lb, lv) = buildTable(dcFreq(0))
      val (cbBits, cbVals) = buildTable(dcFreq(1))
      seg(0xc4, Array(0x00) ++ lb ++ lv)
      seg(0xc4, Array(0x01) ++ cbBits ++ cbVals)
      val lEnc = new HuffEnc(lb, lv)
      val cEnc = new HuffEnc(cbBits, cbVals)
      seg(0xda, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, al0))
      val bw1 = new BitWriter(out)
      dcToks.foreach { t =>
        val e = if (t.cls == 0) lEnc else cEnc
        bw1.put(e.codeOf(t.sym), e.lenOf(t.sym))
        if (t.en > 0) bw1.put(t.ev, t.en)
      }
      bw1.flush()
      // AC band scans, one component at a time, EOBRUN across blocks
      for (ci <- 0 until 3; band <- Seq((1, 5), (6, 63))) {
        val (lo, hi) = band
        val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
        var eobrun = 0
        def flushEob(): Unit = while (eobrun > 0) {
          val chunk = math.min(eobrun, 32767)
          val r = 31 - Integer.numberOfLeadingZeros(chunk)
          toks += Tok(0, r << 4, chunk - (1 << r), r)
          eobrun -= chunk
        }
        var bb = 0
        while (bb < bX * bY) {
          val base = bb * 64
          // point transform on AC is sign-magnitude: |v| >> Al
          val nz = (lo to hi)
            .map { k =>
              val v = coefs(ci)(base + zigzag(k))
              (k, if (v < 0) -((-v) >> al0) else v >> al0)
            }
            .filter(_._2 != 0)
          if (nz.isEmpty) eobrun += 1
          else {
            flushEob()
            var prevK = lo - 1
            nz.foreach { case (k, v) =>
              var run = k - prevK - 1
              while (run > 15) { toks += Tok(0, 0xf0, 0, 0); run -= 16 }
              val s = category(v)
              toks += Tok(0, (run << 4) | s, valueBits(v, s), s)
              prevK = k
            }
            if (prevK < hi) eobrun += 1 // trailing zeros: open an EOB run
          }
          bb += 1
        }
        flushEob()
        val freq = new Array[Long](256)
        toks.foreach(t => freq(t.sym) += 1)
        val (ab, av) = buildTable(freq)
        seg(0xc4, Array(0x10) ++ ab ++ av) // AC table 0, redefined per scan
        val aEnc = new HuffEnc(ab, av)
        seg(0xda, Array(1, ci + 1, 0x00, lo, hi, al0))
        val bw = new BitWriter(out)
        toks.foreach { t =>
          bw.put(aEnc.codeOf(t.sym), aEnc.lenOf(t.sym))
          if (t.en > 0) bw.put(t.ev, t.en)
        }
        bw.flush()
      }
      if (successive) {
        // DC refinement (Ah=1, Al=0): one raw bit per block per comp —
        // no Huffman coding at all, just the stuffing-aware writer
        seg(0xda, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x10))
        val bwd = new BitWriter(out)
        var bb = 0
        while (bb < bX * bY) {
          var ci = 0
          while (ci < 3) {
            bwd.put(coefs(ci)(bb * 64) & 1, 1)
            ci += 1
          }
          bb += 1
        }
        bwd.flush()
        // AC refinement per comp/band (G.1.2.3 mirror): newly
        // significant ±1 placements interleaved with buffered
        // correction bits; EOB runs carry their corrections
        sealed trait Op
        final case class Sym(sym: Int, ev: Int, en: Int) extends Op
        final case class Raw(v: Int, n: Int) extends Op
        for (ci <- 0 until 3; band <- Seq((1, 5), (6, 63))) {
          val (lo, hi) = band
          val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
          var eobrun = 0
          val eobBR = scala.collection.mutable.ArrayBuffer.empty[Int]
          def flushEob(): Unit = {
            while (eobrun > 0) {
              val chunk = math.min(eobrun, 32767)
              val r = 31 - Integer.numberOfLeadingZeros(chunk)
              ops += Sym(r << 4, chunk - (1 << r), r)
              eobrun -= chunk
            }
            eobBR.foreach(bit => ops += Raw(bit, 1))
            eobBR.clear()
          }
          var bb2 = 0
          while (bb2 < bX * bY) {
            val base = bb2 * 64
            // EOB = the last newly-significant position in the band
            var eobK = lo - 1
            var k0 = lo
            while (k0 <= hi) {
              if (math.abs(coefs(ci)(base + zigzag(k0))) == 1) eobK = k0
              k0 += 1
            }
            var r = 0
            val br2 = scala.collection.mutable.ArrayBuffer.empty[Int]
            var k = lo
            while (k <= hi) {
              val v = coefs(ci)(base + zigzag(k))
              val a = math.abs(v)
              if (a == 0) r += 1
              else {
                // ZRLs flush at ANY nonzero position (libjpeg's shape —
                // deferring them past a history coefficient would strand
                // its buffered correction bit on the wrong side of the
                // ZRL span and desync the decoder's advance)
                while (r > 15 && k <= eobK) {
                  flushEob()
                  ops += Sym(0xf0, 0, 0) // ZRL
                  r -= 16
                  br2.foreach(bit => ops += Raw(bit, 1)); br2.clear()
                }
                if (a > 1) br2 += (a & 1) // nonzero history: correction
                else {
                  // newly significant (|v| == 1)
                  flushEob()
                  ops += Sym((r << 4) | 1, 0, 0)
                  ops += Raw(if (v > 0) 1 else 0, 1) // sign
                  r = 0
                  br2.foreach(bit => ops += Raw(bit, 1)); br2.clear()
                }
              }
              k += 1
            }
            if (r > 0 || br2.nonEmpty) {
              eobrun += 1
              eobBR ++= br2 // this block's tail corrections ride the run
            }
            bb2 += 1
          }
          flushEob()
          val freq = new Array[Long](256)
          ops.foreach { case Sym(sy, _, _) => freq(sy) += 1; case _ => () }
          // a scan can be pure raw bits (no symbols): give the table one
          // dummy code so the DHT stays well-formed
          if (freq.forall(_ == 0)) freq(0) = 1
          val (ab, av) = buildTable(freq)
          seg(0xc4, Array(0x10) ++ ab ++ av)
          val aEnc = new HuffEnc(ab, av)
          seg(0xda, Array(1, ci + 1, 0x00, lo, hi, 0x10))
          val bw = new BitWriter(out)
          ops.foreach {
            case Sym(sy, ev, en) =>
              bw.put(aEnc.codeOf(sy), aEnc.lenOf(sy))
              if (en > 0) bw.put(ev, en)
            case Raw(v, nb) => bw.put(v, nb)
          }
          bw.flush()
        }
      }
      marker(0xd9)
      out.toByteArray
    }
  }

  /** The [[mediaJpeg]] pixel model (flat 8×8 blocks whose values walk
    * the diff-cumsum formula) through the FULL progressive pipeline:
    * encodeProgressive with successive approximation (point-transformed
    * first passes, DC/AC refinement scans) → multi-scan decode. Flat
    * blocks are DC-only, so the chain is EXACT and the baseline JPEG
    * oracle SQL replays it unchanged. */
  def mediaJpegProg(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val wb = (id % 3 + 1).toInt
        val hb = (id * 5 % 2 + 1).toInt
        val w = 8 * wb; val h = 8 * hb
        val v = new Array[Int](wb * hb)
        var dc = 0L
        var i = 0
        while (i < wb * hb) {
          val mag = 8 + (id * 7 + i * 3) % 8
          dc += (if ((id + i) % 2 == 0) mag else -mag)
          v(i) = (dc + 128).toInt
          i += 1
        }
        val px = Array.tabulate(w * h) { j =>
          val g = v((j / w / 8) * wb + (j % w / 8))
          (g << 16) | (g << 8) | g
        }
        (id, JpegCodec.encodeProgressive(w, h, px, successive = true))
      }
    }.toDF("media_id", "payload")
  }

  /** Decode + featurize the JPEG table — the [[bmpFeatures]] contract
    * through the baseline entropy-decode + IDCT path. */
  def jpegFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          JpegCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  // ----------------------------- real pixel decode: WebP lossless (VP8L)
  //
  // VP8L is the last arithmetic-only image format in the fixture set:
  // an LSB-first bitstream carrying canonical prefix codes (DEFLATE's
  // two-level scheme — code lengths themselves prefix-coded, with the
  // 16/17/18 repeat symbols), LZ77 backreferences with the shared
  // length/distance prefix-value coding, a color cache (multiplicative
  // hash), and ALL FOUR transforms — subtract-green, the per-tile
  // 14-mode spatial predictor, the per-tile signed cross-channel color
  // transform, and color-indexing (delta-coded palette + bit-packed
  // indices), each transform's tile data arriving as its own recursive
  // image stream and inverses applied in reverse stream order — plus
  // meta prefix groups (the entropy image maps tiles to independent
  // tree sets, itself another recursive stream). [[Vp8lCodec.decode]]
  // implements exactly that envelope; the ONE documented out-of-scope
  // corner returns None rather than misdecode: the 2-D
  // close-neighborhood distance map (codes 1..120 — its 120-entry
  // (dx,dy) table is spec data this offline environment cannot
  // re-derive trustworthily, and a wrong table would round-trip
  // silently; our encoder only emits direct distance codes, which
  // express every distance). Lossless means the round-trip property is
  // EXACT, unlike JPEG's bounded-error one.
  //
  // Synthesis ([[mediaWebpl]]) keeps the oracle exact with the format's
  // own degenerate-but-legal corner (the stored-block trick again):
  // simple 2-symbol prefix codes for G/R/B and 1-symbol (zero-bit)
  // codes for alpha and distance make every pixel exactly 3 bits, and
  // the whole stream a pure Column bit-fold. The general machinery the
  // synthesis can't reach — full code-length-coded trees, LZ77 dist-1
  // runs, the color cache, the four transforms — is spec-pinned by
  // [[Vp8lCodec.encode]] round-trips and oracle-gated by the
  // `media_features_webpl_{runs,palette,pred}` encode→decode chains.

  /** Synthesize a VP8L WebP per document: w = id%5+1, h = (3·id)%4+1;
    * per-channel two-value palettes G ∈ {7id, 7id+13}, R ∈ {3id,
    * 3id+29}, B ∈ {11id, 11id+71} (mod 256), selected per pixel by
    * gsel = (id+3x+5y)%2, rsel = (id+7x+y)%2, bsel = (id+x+4y)%2. */
  def mediaWebpl(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val id = col("doc_id")
    val w = (pmod(id, lit(5)) + 1).cast("int")
    val h = (pmod(id * 3, lit(4)) + 1).cast("int")
    // LSB-first bit writer as data: the stream is an array of bit
    // Columns folded into bytes 8 at a time (bit b of byte j = stream
    // bit 8j+b)
    def valBits(v: Column, n: Int): Column =
      array((0 until n).map(k =>
        shiftright(v.cast("long"), k).bitwiseAND(lit(1L))): _*)
    def constBits(bs: Int*): Column = array(bs.map(b => lit(b.toLong)): _*)
    // a simple 2-symbol tree: simple=1, two-symbols=1, 8-bit-first=1,
    // then both symbols as bytes
    def tree2(s0: Column, s1: Column): Column =
      concat(constBits(1, 1, 1), valBits(s0, 8), valBits(s1, 8))
    // a 1-symbol tree (its codes cost ZERO bits per use)
    def tree1(s0: Column): Column =
      concat(constBits(1, 0, 1), valBits(s0, 8))
    val g0 = pmod(id * 7, lit(256)); val g1 = pmod(id * 7 + 13, lit(256))
    val r0 = pmod(id * 3, lit(256)); val r1 = pmod(id * 3 + 29, lit(256))
    val b0 = pmod(id * 11, lit(256)); val b1 = pmod(id * 11 + 71, lit(256))
    val pixelBits = flatten(transform(sequence(lit(0), h - 1), y =>
      flatten(transform(sequence(lit(0), w - 1), x =>
        // green code, then red, then blue (alpha: zero bits)
        array(pmod(id + x * 3 + y * 5, lit(2)).cast("long"),
          pmod(id + x * 7 + y, lit(2)).cast("long"),
          pmod(id + x + y * 4, lit(2)).cast("long"))))))
    val bits = concat(
      valBits(w - 1, 14), valBits(h - 1, 14),
      constBits(0), constBits(0, 0, 0), // alpha-hint, version=0
      constBits(0), // no transforms
      constBits(0), // no color cache
      constBits(0), // no meta prefix groups
      tree2(g0, g1), tree2(r0, r1), tree2(b0, b1),
      tree1(lit(255)), // alpha
      tree1(lit(0)), // distance (unused but mandatory)
      pixelBits)
    // pad to a byte boundary, then fold LSB-first into bytes
    val staged = docs.select(id.as("media_id"), w.as("ww"), h.as("hh"),
      concat(bits, array_repeat(lit(0L),
        (lit(8) - pmod(size(bits), lit(8))).cast("int") % 8)).as("bits"))
    val bs = col("bits")
    val nBytes = (size(bs) / 8).cast("int")
    // byte = fold over bit positions 7..0 (acc·2 + bit): the stream is
    // LSB-first, so bit b of byte j is stream bit 8j+b
    val payloadHex = array_join(
      transform(sequence(lit(0), nBytes - 1), j =>
        lpad(conv(aggregate(sequence(lit(7), lit(0), lit(-1)), lit(0L),
          (acc, b) => acc * 2 +
            element_at(bs, (j * 8 + b + 1).cast("int"))),
          10, 16), 2, "0")), "")
    val vp8lLen = nBytes + 1 // signature byte + bitstream
    val padded = concat(payloadHex,
      when(pmod(vp8lLen, lit(2)) === 1, lit("00")).otherwise(lit(""))) // RIFF word pad
    val riffLen = lit(4) + 8 + vp8lLen + pmod(vp8lLen, lit(2))
    val hx = concat(
      lit("52494646"), le32(riffLen), lit("57454250"), // RIFF....WEBP
      lit("5650384C"), le32(vp8lLen), lit("2F"), // VP8L chunk + signature
      padded)
    staged.select(col("media_id"), unhex(hx).as("payload"))
  }

  object Vp8lCodec {
    /** Internal bail-out: control flow only, caught in [[decode]]. */
    private object Bail extends scala.util.control.ControlThrowable

    /** LSB-first bit reader over the VP8L payload. */
    private final class BitReader(p: Array[Byte], var pos: Int) {
      private var acc = 0L
      private var cnt = 0
      def bit(): Int = {
        if (cnt == 0) {
          if (pos >= p.length) throw Bail
          acc = p(pos) & 0xffL; pos += 1; cnt = 8
        }
        val b = (acc & 1L).toInt
        acc >>= 1; cnt -= 1
        b
      }
      /** n-bit value, LSB first (first bit read is the LSB). */
      def bits(n: Int): Int = {
        var v = 0; var i = 0
        while (i < n) { v |= bit() << i; i += 1 }
        v
      }
    }

    /** Canonical prefix decode tables (JPEG-style mincode/maxcode per
      * length; codes read MSB-first bit by bit — the DEFLATE storage
      * convention VP8L inherits). Lengths up to 15. `pair` overrides the
      * canonical symbol order for SIMPLE two-symbol codes, whose stream
      * order (symbol0 → code 0) is authoritative even when symbol0 is
      * numerically larger. */
    private final class Tree(lengths: Array[Int],
      pair: Array[Int] = null) {
      // a "zero-bit" tree: exactly one symbol in the whole alphabet
      val soleSymbol: Int = {
        var s = -1; var n = 0; var i = 0
        while (i < lengths.length) {
          if (lengths(i) > 0) { s = i; n += 1 }; i += 1
        }
        if (n == 1) s else -1
      }
      val maxcode = Array.fill(16)(-1)
      val mincode = new Array[Int](16)
      val valptr = new Array[Int](16)
      val syms: Array[Int] = {
        val bySym = lengths.zipWithIndex.filter(_._1 > 0)
        // Kraft check: an over-subscribed code set is malformed
        if (bySym.map { case (l, _) => 1L << (15 - l) }.sum > (1L << 15))
          throw Bail
        val ordered =
          if (pair != null) pair
          else bySym.sortBy { case (l, s) => (l, s) }.map(_._2)
        var code = 0; var k = 0
        var l = 1
        while (l <= 15) {
          val n = bySym.count(_._1 == l)
          if (n > 0) {
            valptr(l) = k
            mincode(l) = code
            code += n; k += n
            maxcode(l) = code - 1
          }
          code <<= 1
          l += 1
        }
        ordered
      }
      def decode(br: BitReader): Int = {
        if (soleSymbol >= 0) return soleSymbol // zero-bit code
        var code = br.bit()
        var l = 1
        while (code > maxcode(l)) {
          if (l >= 15) throw Bail
          code = (code << 1) | br.bit()
          l += 1
        }
        val idx = valptr(l) + code - mincode(l)
        if (idx < 0 || idx >= syms.length) throw Bail
        syms(idx)
      }
    }

    /** kOrder for code-length-code lengths (the spec's fixed order). */
    private val clOrder =
      Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

    /** Read one prefix-code tree (simple or code-length-coded). */
    private def readTree(br: BitReader, alphabetSize: Int): Tree = {
      val lengths = new Array[Int](alphabetSize)
      if (br.bit() == 1) { // simple
        val numSymbols = br.bit() + 1
        val first8 = br.bit()
        val s0 = br.bits(if (first8 == 1) 8 else 1)
        if (s0 >= alphabetSize) throw Bail
        if (numSymbols == 1) { lengths(s0) = 1; return new Tree(lengths) }
        val s1 = br.bits(8)
        if (s1 >= alphabetSize || s1 == s0) throw Bail
        lengths(s0) = 1; lengths(s1) = 1
        // stream order is authoritative: symbol0 → code 0 always
        return new Tree(lengths, pair = Array(s0, s1))
      }
      // full: code-length-code lengths in clOrder, then the CL-coded run
      val numCl = 4 + br.bits(4)
      if (numCl > clOrder.length) throw Bail
      val clLengths = new Array[Int](19)
      var i = 0
      while (i < numCl) { clLengths(clOrder(i)) = br.bits(3); i += 1 }
      val clTree = new Tree(clLengths)
      var maxSymbol =
        if (br.bit() == 1) {
          val nbits = 2 + 2 * br.bits(3)
          val m = 2 + br.bits(nbits)
          if (m > alphabetSize) throw Bail
          m
        } else alphabetSize
      var symbol = 0
      var prevLen = 8 // spec: the repeat-previous default before any code
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clTree.decode(br)
        if (cl < 16) {
          lengths(symbol) = cl; symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (repeat, len) = cl match {
            case 16 => (3 + br.bits(2), prevLen)
            case 17 => (3 + br.bits(3), 0)
            case 18 => (11 + br.bits(7), 0)
            case _ => throw Bail
          }
          if (symbol + repeat > alphabetSize) throw Bail
          var r = 0
          while (r < repeat) { lengths(symbol) = len; symbol += 1; r += 1 }
        }
      }
      new Tree(lengths)
    }

    /** The shared length/distance prefix-value decode. */
    private def prefixValue(br: BitReader, code: Int): Int =
      if (code < 4) code + 1
      else {
        val eb = (code - 2) >> 1
        val off = (2 + (code & 1)) << eb
        off + br.bits(eb) + 1
      }

    /** Decode a VP8L (lossless WebP) within the documented envelope:
      * all four transforms and meta prefix groups supported; distances
      * only via direct codes (> 120) — see the section comment for why.
      * Returns top-down `0xRRGGBB`; None on anything non-conforming or
      * out of envelope. */
    def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (p == null || p.length < 21) return None
      try decodeImpl(p)
      catch {
        case Bail => None
        case scala.util.control.NonFatal(_) => None
      }
    }

    private def tag(p: Array[Byte], off: Int): String =
      new String(p, off, 4, "US-ASCII")
    private def le32(p: Array[Byte], off: Int): Long = {
      var v = 0L; var i = 3
      while (i >= 0) { v = (v << 8) | (p(off + i) & 0xffL); i -= 1 }
      v
    }

    private def decodeImpl(p: Array[Byte]): Option[(Int, Int, Array[Int])] = {
      if (tag(p, 0) != "RIFF" || tag(p, 8) != "WEBP") return None
      // chunk walk to VP8L (word-padded sizes, hostile lengths as longs)
      var off = 12L
      var payloadAt = -1L; var payloadLen = 0L
      while (payloadAt < 0 && off + 8 <= p.length) {
        val id = tag(p, off.toInt)
        val size = le32(p, off.toInt + 4)
        if (size < 0 || off + 8 + size > p.length) return None
        if (id == "VP8L") { payloadAt = off + 8; payloadLen = size }
        off += 8 + size + (size & 1)
      }
      if (payloadAt < 0 || payloadLen < 5) return None
      if ((p(payloadAt.toInt) & 0xff) != 0x2f) return None
      // the reader sees EXACTLY the chunk payload: a malformed stream
      // that would run into padding or a following chunk bails instead
      val chunk = java.util.Arrays.copyOfRange(
        p, payloadAt.toInt + 1, (payloadAt + payloadLen).toInt)
      val br = new BitReader(chunk, 0)
      val w = br.bits(14) + 1
      val h = br.bits(14) + 1
      br.bit() // alpha hint (informational)
      if (br.bits(3) != 0) return None // version must be 0
      if (w.toLong * h > (1L << 26)) return None
      // transform list in STREAM order; inverses apply in reverse below
      sealed trait Xf
      case object SubGreen extends Xf
      final case class ColorIndex(palette: Array[Int], widthBits: Int,
        wBefore: Int) extends Xf
      final case class Predictor(modes: Array[Int], sizeBits: Int,
        wAtRead: Int) extends Xf
      final case class ColorXf(elements: Array[Int], sizeBits: Int,
        wAtRead: Int) extends Xf
      var xfs = List.empty[Xf]
      var curW = w
      while (br.bit() == 1) { // transform loop
        br.bits(2) match {
          case 0 => // predictor: per-tile modes as their own image stream
            if (xfs.exists(_.isInstanceOf[Predictor])) throw Bail
            val sizeBits = br.bits(3) + 2
            val tw = (curW + (1 << sizeBits) - 1) >> sizeBits
            val th = (h + (1 << sizeBits) - 1) >> sizeBits
            val modes = decodePixels(br, tw, th, level0 = false)
            xfs ::= Predictor(modes, sizeBits, curW)
          case 1 => // color transform: per-tile cross-channel elements
            if (xfs.exists(_.isInstanceOf[ColorXf])) throw Bail
            val sizeBits = br.bits(3) + 2
            val tw = (curW + (1 << sizeBits) - 1) >> sizeBits
            val th = (h + (1 << sizeBits) - 1) >> sizeBits
            val elements = decodePixels(br, tw, th, level0 = false)
            xfs ::= ColorXf(elements, sizeBits, curW)
          case 2 =>
            if (xfs.exists(_ == SubGreen)) throw Bail // each at most once
            xfs ::= SubGreen
          case 3 => // color-indexing: palette as its own image stream
            if (xfs.exists(_.isInstanceOf[ColorIndex])) throw Bail
            val palSize = br.bits(8) + 1
            val raw = decodePixels(br, palSize, 1, level0 = false)
            val palette = new Array[Int](palSize)
            palette(0) = raw(0)
            var i = 1
            while (i < palSize) {
              palette(i) = addPixels(raw(i), palette(i - 1)) // delta-coded
              i += 1
            }
            val widthBits =
              if (palSize <= 2) 3
              else if (palSize <= 4) 2
              else if (palSize <= 16) 1
              else 0
            xfs ::= ColorIndex(palette, widthBits, curW)
            curW = (curW + (1 << widthBits) - 1) >> widthBits
          case _ => throw Bail // 2-bit codes are exhaustive; unreachable
        }
      }
      var argb = decodePixels(br, curW, h, level0 = true)
      // inverses in reverse stream order (xfs is already reversed by ::)
      xfs.foreach {
        case SubGreen =>
          var i = 0
          while (i < argb.length) {
            val px = argb(i)
            val g = (px >> 8) & 0xff
            val r = ((px >> 16) + g) & 0xff
            val b = (px + g) & 0xff
            argb(i) = (px & 0xff000000) | (r << 16) | (g << 8) | b
            i += 1
          }
        case ColorIndex(palette, widthBits, wBefore) =>
          val packedW = (wBefore + (1 << widthBits) - 1) >> widthBits
          val bitsPer = 8 >> widthBits
          val mask = (1 << widthBits) - 1
          val outPx = new Array[Int](wBefore * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < wBefore) {
              val g = (argb(y * packedW + (x >> widthBits)) >> 8) & 0xff
              val idx = (g >> ((x & mask) * bitsPer)) & ((1 << bitsPer) - 1)
              if (idx >= palette.length) throw Bail
              outPx(y * wBefore + x) = palette(idx)
              x += 1
            }
            y += 1
          }
          argb = outPx
        case Predictor(modes, sizeBits, wAtRead) =>
          // inverses run in reverse-read order, so the image is back at
          // exactly the width this transform was read against
          val ww = wAtRead
          if (argb.length != ww * h) throw Bail
          val tw = (ww + (1 << sizeBits) - 1) >> sizeBits
          var y = 0
          while (y < h) {
            var x = 0
            while (x < ww) {
              val i = y * ww + x
              val pred =
                if (x == 0 && y == 0) 0xff000000
                else if (y == 0) argb(i - 1) // top row: always L
                else if (x == 0) argb(i - ww) // left column: always T
                else {
                  val mode = (modes(
                    (y >> sizeBits) * tw + (x >> sizeBits)) >> 8) & 0xff
                  if (mode > 13) throw Bail
                  val l = argb(i - 1); val t = argb(i - ww)
                  val tl = argb(i - ww - 1)
                  // rightmost column: TR is the leftmost pixel of the
                  // CURRENT row (the contiguous-buffer convention)
                  val tr = if (x == ww - 1) argb(y * ww)
                  else argb(i - ww + 1)
                  predict(mode, l, t, tl, tr)
                }
              argb(i) = addPixels(argb(i), pred)
              x += 1
            }
            y += 1
          }
        case ColorXf(elements, sizeBits, wAtRead) =>
          val ww = wAtRead
          if (argb.length != ww * h) throw Bail
          val tw = (ww + (1 << sizeBits) - 1) >> sizeBits
          var y = 0
          while (y < h) {
            var x = 0
            while (x < ww) {
              val i = y * ww + x
              val cte = elements((y >> sizeBits) * tw + (x >> sizeBits))
              val g2r = (cte << 24) >> 24 // blue field, signed
              val g2b = ((cte >> 8) << 24) >> 24 // green field, signed
              val r2b = ((cte >> 16) << 24) >> 24 // red field, signed
              val px = argb(i)
              val gS = ((px >> 8) << 24) >> 24 // green as int8
              val r = ((px >> 16) + ctDelta(g2r, gS)) & 0xff
              val rS = (r << 24) >> 24
              val b = (px + ctDelta(g2b, gS) + ctDelta(r2b, rS)) & 0xff
              argb(i) = (px & 0xff00ff00) | (r << 16) | b
              x += 1
            }
            y += 1
          }
      }
      // ARGB -> 0xRRGGBB
      val out = new Array[Int](w * h)
      var i = 0
      while (i < out.length) {
        out(i) = argb(i) & 0xffffff
        i += 1
      }
      Some((w, h, out))
    }

    /** The 14 spatial predictors (spec §4.2): componentwise ARGB
      * arithmetic on the already-reconstructed neighbors. */
    private def predict(mode: Int, l: Int, t: Int, tl: Int, tr: Int): Int =
      mode match {
        case 0 => 0xff000000
        case 1 => l
        case 2 => t
        case 3 => tr
        case 4 => tl
        case 5 => avg2(avg2(l, tr), t)
        case 6 => avg2(l, tl)
        case 7 => avg2(l, t)
        case 8 => avg2(tl, t)
        case 9 => avg2(t, tr)
        case 10 => avg2(avg2(l, tl), avg2(t, tr))
        case 11 => // Select: the neighbor closer to the gradient estimate
          var pL = 0; var pT = 0
          var s = 0
          while (s < 32) {
            val lc = (l >>> s) & 0xff; val tc = (t >>> s) & 0xff
            val tlc = (tl >>> s) & 0xff
            val p = lc + tc - tlc
            pL += math.abs(p - lc); pT += math.abs(p - tc)
            s += 8
          }
          if (pL < pT) l else t
        case 12 => // ClampAddSubtractFull
          var out = 0
          var s = 0
          while (s < 32) {
            val v = ((l >>> s) & 0xff) + ((t >>> s) & 0xff) -
              ((tl >>> s) & 0xff)
            out |= (if (v < 0) 0 else if (v > 255) 255 else v) << s
            s += 8
          }
          out
        case _ => // 13: ClampAddSubtractHalf (C-truncating /2 on the delta)
          var out = 0
          var s = 0
          while (s < 32) {
            val ave = (((l >>> s) & 0xff) + ((t >>> s) & 0xff)) >> 1
            val v = ave + (ave - ((tl >>> s) & 0xff)) / 2
            out |= (if (v < 0) 0 else if (v > 255) 255 else v) << s
            s += 8
          }
          out
      }

    /** The color-transform delta: both the element and the channel are
      * SIGNED 8-bit values, product arithmetic-shifted by 5 (spec). */
    private def ctDelta(t: Int, c: Int): Int = (t * c) >> 5

    /** Component-wise floor average. */
    private def avg2(a: Int, b: Int): Int =
      ((((a >>> 24) + (b >>> 24)) >> 1) << 24) |
        (((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) >> 1) << 16) |
        (((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) >> 1) << 8) |
        ((((a & 0xff) + (b & 0xff)) >> 1))

    /** Component-wise byte addition (the palette delta decode). */
    private def addPixels(a: Int, b: Int): Int =
      (((a >>> 24) + (b >>> 24)) & 0xff) << 24 |
        ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff) << 16 |
        ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff) << 8 |
        (((a & 0xff) + (b & 0xff)) & 0xff)

    /** One entropy-coded image stream (the recursive unit: the main
      * image and the palette sub-image both run through here): color
      * cache bit, meta-prefix bit (level0 only — out of scope), the 5
      * trees, and the literal/backref/cache pixel loop. Returns ARGB. */
    private def decodePixels(br: BitReader, w: Int, h: Int,
      level0: Boolean): Array[Int] = {
      if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) throw Bail
      val cacheBits = if (br.bit() == 1) br.bits(4) else 0
      if (cacheBits > 11) throw Bail
      val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
      val cache = new Array[Int](math.max(cacheSize, 1))
      // meta prefix groups (level0 only): the entropy image is its own
      // recursive stream; each tile's (red<<8|green) names the tree SET
      // used for symbols starting inside that tile
      var prefixBits = 0
      var groups: Array[Int] = null
      var groupsW = 0
      var numGroups = 1
      if (level0 && br.bit() == 1) {
        prefixBits = br.bits(3) + 2
        groupsW = (w + (1 << prefixBits) - 1) >> prefixBits
        val th = (h + (1 << prefixBits) - 1) >> prefixBits
        val ei = decodePixels(br, groupsW, th, level0 = false)
        groups = ei.map(px => (px >> 8) & 0xffff)
        numGroups = groups.max + 1
        if (numGroups > 1024) throw Bail // sanity bound on tree sets
      }
      val treeSets = Array.fill(numGroups)(Array(
        readTree(br, 256 + 24 + cacheSize),
        readTree(br, 256), readTree(br, 256), readTree(br, 256),
        readTree(br, 40)))
      val n = w * h
      val argb = new Array[Int](n)
      var pos = 0
      while (pos < n) {
        val set =
          if (groups == null) treeSets(0)
          else treeSets(groups(
            ((pos / w) >> prefixBits) * groupsW + ((pos % w) >> prefixBits)))
        val sym = set(0).decode(br)
        if (sym < 256) {
          val g = sym
          val r = set(1).decode(br)
          val b = set(2).decode(br)
          val a = set(3).decode(br)
          val px = (a << 24) | (r << 16) | (g << 8) | b
          argb(pos) = px
          if (cacheSize > 0)
            cache(((0x1e35a7bd * px) >>> (32 - cacheBits)).toInt) = px
          pos += 1
        } else if (sym < 256 + 24) {
          val length = prefixValue(br, sym - 256)
          val distCode = prefixValue(br, set(4).decode(br))
          // the 2-D close-neighborhood map (codes 1..120) is out of
          // scope — see the section comment; direct codes express
          // every distance
          if (distCode <= 120) throw Bail
          val dist = distCode - 120
          if (dist > pos || pos + length > n) throw Bail
          var i = 0
          while (i < length) {
            val px = argb(pos - dist)
            argb(pos) = px
            if (cacheSize > 0)
              cache(((0x1e35a7bd * px) >>> (32 - cacheBits)).toInt) = px
            pos += 1; i += 1
          }
        } else {
          val idx = sym - 256 - 24
          if (idx >= cacheSize) throw Bail
          argb(pos) = cache(idx)
          pos += 1
        }
      }
      argb
    }

    // ------------------------------------------------------------ encoder

    private final class BitWriter(out: java.io.ByteArrayOutputStream) {
      private var acc = 0; private var cnt = 0
      /** n-bit value, LSB first. */
      def bits(v: Int, n: Int): Unit = {
        var i = 0
        while (i < n) {
          acc |= ((v >> i) & 1) << cnt; cnt += 1
          if (cnt == 8) { out.write(acc); acc = 0; cnt = 0 }
          i += 1
        }
      }
      /** a canonical prefix code, MSB first (the storage convention). */
      def code(c: Int, len: Int): Unit = {
        var i = len - 1
        while (i >= 0) { bits((c >> i) & 1, 1); i -= 1 }
      }
      def flush(): Unit = if (cnt > 0) { out.write(acc); acc = 0; cnt = 0 }
    }

    /** Code lengths for a histogram: plain two-least-merge Huffman with
      * an equal-length fallback if any depth would exceed `maxLen`
      * (valid, just not minimal — decoders accept any canonical set). */
    private[ext] def huffLengths(freq: Array[Long],
      maxLen: Int): Array[Int] = {
      val present = freq.zipWithIndex.filter(_._1 > 0).map(_._2)
      val lengths = new Array[Int](freq.length)
      if (present.isEmpty) return lengths
      if (present.length == 1) { lengths(present(0)) = 1; return lengths }
      // nodes: (weight, depth-tree as symbol list)
      val pq = scala.collection.mutable.PriorityQueue.empty[
        (Long, List[Int])](Ordering.by[(Long, List[Int]), Long](_._1).reverse)
      present.foreach(s => pq.enqueue((freq(s), List(s))))
      val depth = new Array[Int](freq.length)
      while (pq.size > 1) {
        val (w1, l1) = pq.dequeue(); val (w2, l2) = pq.dequeue()
        (l1 ++ l2).foreach(s => depth(s) += 1)
        pq.enqueue((w1 + w2, l1 ++ l2))
      }
      if (depth.max <= maxLen) depth
      else {
        val eq = math.max(1,
          32 - Integer.numberOfLeadingZeros(present.length - 1))
        if (eq > maxLen) throw new IllegalArgumentException(
          s"alphabet too large for $maxLen-bit equal-length fallback")
        present.foreach(s => lengths(s) = eq)
        lengths
      }
    }

    /** Canonical codes from lengths (same rule as [[Tree]]). */
    private[ext] def canonicalCodes(lengths: Array[Int]): Array[Int] = {
      val codes = new Array[Int](lengths.length)
      var code = 0
      var l = 1
      while (l <= 15) {
        var s = 0
        while (s < lengths.length) {
          if (lengths(s) == l) { codes(s) = code; code += 1 }
          s += 1
        }
        code <<= 1
        l += 1
      }
      codes
    }

    /** Write one tree in the FULL (code-length-coded) form: 19 fixed
      * 3-bit CL lengths, then the symbol lengths as literals/0-runs
      * (17/18) — the path that exercises the decoder's whole two-level
      * machinery. CL codes use an equal-length canonical set over the
      * CL symbols actually used. */
    private def writeTree(bw: BitWriter, lengths: Array[Int]): Unit = {
      // tokenize: literal lengths + zero runs (no 16-repeats — simpler,
      // still legal)
      val tokens = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < lengths.length) {
        if (lengths(i) == 0) {
          var run = 0
          while (i < lengths.length && lengths(i) == 0 && run < 138) {
            run += 1; i += 1
          }
          if (run < 3) { var r = 0; while (r < run) { tokens += ((0, 0)); r += 1 } }
          else if (run < 11) tokens += ((17, run - 3))
          else tokens += ((18, run - 11))
        } else { tokens += ((lengths(i), 0)); i += 1 }
      }
      val clFreq = new Array[Long](19)
      tokens.foreach { case (s, _) => clFreq(s) += 1 }
      val used = clFreq.zipWithIndex.filter(_._1 > 0).map(_._2)
      val clLen = new Array[Int](19)
      val eq = math.max(1, 32 - Integer.numberOfLeadingZeros(
        math.max(used.length - 1, 1)))
      used.foreach(s => clLen(s) = eq)
      val clCodes = canonicalCodes(clLen)
      bw.bits(0, 1) // not simple
      bw.bits(19 - 4, 4) // write all 19 CL lengths
      clOrder.foreach(s => bw.bits(clLen(s), 3))
      bw.bits(0, 1) // no max-symbol shortcut: the run covers everything
      // a single-symbol CL tree is ZERO-bit (the decoder never reads a
      // code for it) — only the repeat extras go to the stream then
      val clMulti = used.length > 1
      tokens.foreach {
        case (17, extra) =>
          if (clMulti) bw.code(clCodes(17), clLen(17))
          bw.bits(extra, 3)
        case (18, extra) =>
          if (clMulti) bw.code(clCodes(18), clLen(18))
          bw.bits(extra, 7)
        case (s, _) => if (clMulti) bw.code(clCodes(s), clLen(s))
      }
    }

    private def prefixEncode(v: Int): (Int, Int, Int) =
      if (v <= 4) (v - 1, 0, 0)
      else {
        val x = v - 1
        val hb = 31 - Integer.numberOfLeadingZeros(x)
        val second = (x >> (hb - 1)) & 1
        val code = 2 * hb + second
        val off = (2 + second) << (hb - 1)
        (code, hb - 1, x - off)
      }

    /** Encode top-down `0xRRGGBB` as a conforming VP8L file through the
      * general machinery: full code-length-coded trees, greedy dist-1
      * LZ77 runs (direct distance codes), optional color cache,
      * optional subtract-green, optional color-indexing (`usePalette`:
      * the distinct colors become a delta-coded palette sub-image and
      * the main image carries bit-packed indices — the graphics-image
      * mode). Exact round-trip through [[decode]]. */
    def encode(w: Int, h: Int, px: Array[Int], cacheBits: Int = 0,
      subtractGreen: Boolean = false,
      usePalette: Boolean = false,
      usePredictor: Boolean = false,
      useColorXf: Boolean = false,
      useMetaGroups: Boolean = false): Array[Byte] = {
      require(w > 0 && h > 0 && w <= 16384 && h <= 16384 &&
        px.length == w * h)
      require(cacheBits >= 0 && cacheBits <= 11)
      require(!(usePalette && subtractGreen),
        "compose palette with subtract-green by hand if ever needed")
      require(!(usePalette && (usePredictor || useColorXf)),
        "palette images predict poorly; compose by hand if ever needed")
      val body = new java.io.ByteArrayOutputStream()
      body.write(0x2f)
      val bw = new BitWriter(body)
      bw.bits(w - 1, 14); bw.bits(h - 1, 14)
      bw.bits(0, 1); bw.bits(0, 3)
      if (usePalette) {
        val palette = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
        px.foreach { v =>
          val c = 0xff000000 | v
          if (!palette.contains(c)) palette(c) = palette.size
        }
        require(palette.size <= 256,
          s"palette mode needs <= 256 distinct colors: ${palette.size}")
        val pal = palette.keys.toArray
        bw.bits(1, 1); bw.bits(3, 2) // transform: color-indexing
        bw.bits(pal.length - 1, 8)
        // delta-code the palette and ship it as its own image stream
        val deltas = Array.tabulate(pal.length)(i =>
          if (i == 0) pal(0) else subPixels(pal(i), pal(i - 1)))
        emitImageStream(bw, deltas, cacheBits = 0, level0 = false)
        bw.bits(0, 1) // end of transforms
        val widthBits =
          if (pal.length <= 2) 3
          else if (pal.length <= 4) 2
          else if (pal.length <= 16) 1
          else 0
        val bitsPer = 8 >> widthBits
        val packedW = (w + (1 << widthBits) - 1) >> widthBits
        val idxImg = new Array[Int](packedW * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val idx = palette(0xff000000 | px(y * w + x))
            val cell = y * packedW + (x >> widthBits)
            val sh = (x & ((1 << widthBits) - 1)) * bitsPer
            idxImg(cell) |= idx << sh
            x += 1
          }
          y += 1
        }
        // packed indices ride the GREEN channel of an opaque image
        var j = 0
        while (j < idxImg.length) {
          idxImg(j) = 0xff000000 | (idxImg(j) << 8)
          j += 1
        }
        emitImageStream(bw, idxImg, cacheBits, level0 = true)
      } else {
        if (subtractGreen) { bw.bits(1, 1); bw.bits(2, 2) }
        val argb = new Array[Int](px.length)
        var i = 0
        while (i < px.length) {
          val g = (px(i) >> 8) & 0xff
          var r = (px(i) >> 16) & 0xff
          var b = px(i) & 0xff
          if (subtractGreen) { r = (r - g) & 0xff; b = (b - g) & 0xff }
          argb(i) = (0xff << 24) | (r << 16) | (g << 8) | b
          i += 1
        }
        if (useColorXf) {
          // per-tile greedy cross-channel elements on 4x4 tiles:
          // g2r by red residual cost, then (g2b, r2b) jointly for blue
          val sizeBits = 2
          bw.bits(1, 1); bw.bits(1, 2); bw.bits(sizeBits - 2, 3)
          val tw = (w + 3) >> sizeBits; val th = (h + 3) >> sizeBits
          val cand = Array(-96, -64, -32, 0, 32, 64, 96)
          val ctes = new Array[Int](tw * th)
          def wrapCost(v: Int): Int = { val c = v & 0xff; math.min(c, 256 - c) }
          var ty = 0
          while (ty < th) {
            var tx = 0
            while (tx < tw) {
              val x1 = math.min((tx + 1) << sizeBits, w)
              val y1 = math.min((ty + 1) << sizeBits, h)
              var bestR = 0; var bestRc = Long.MaxValue
              for (t <- cand) {
                var c = 0L
                var y = ty << sizeBits
                while (y < y1) {
                  var x = tx << sizeBits
                  while (x < x1) {
                    val p = argb(y * w + x)
                    val gS = ((p >> 8) << 24) >> 24
                    c += wrapCost(((p >> 16) & 0xff) - ctDelta(t, gS))
                    x += 1
                  }
                  y += 1
                }
                if (c < bestRc) { bestRc = c; bestR = t }
              }
              var bestGB = 0; var bestRB = 0; var bestBc = Long.MaxValue
              for (tg <- cand; tr <- cand) {
                var c = 0L
                var y = ty << sizeBits
                while (y < y1) {
                  var x = tx << sizeBits
                  while (x < x1) {
                    val p = argb(y * w + x)
                    val gS = ((p >> 8) << 24) >> 24
                    val rS = ((p >> 16) << 24) >> 24
                    c += wrapCost((p & 0xff) - ctDelta(tg, gS) - ctDelta(tr, rS))
                    x += 1
                  }
                  y += 1
                }
                if (c < bestBc) { bestBc = c; bestGB = tg; bestRB = tr }
              }
              ctes(ty * tw + tx) = 0xff000000 | ((bestRB & 0xff) << 16) |
                ((bestGB & 0xff) << 8) | (bestR & 0xff)
              // apply the forward transform in place (blue uses the
              // ORIGINAL red — the decoder restores red before blue)
              var y = ty << sizeBits
              while (y < y1) {
                var x = tx << sizeBits
                while (x < x1) {
                  val j = y * w + x
                  val p = argb(j)
                  val gS = ((p >> 8) << 24) >> 24
                  val rS = ((p >> 16) << 24) >> 24
                  val r = (((p >> 16) & 0xff) - ctDelta(bestR, gS)) & 0xff
                  val b = ((p & 0xff) - ctDelta(bestGB, gS) -
                    ctDelta(bestRB, rS)) & 0xff
                  argb(j) = (p & 0xff00ff00) | (r << 16) | b
                  x += 1
                }
                y += 1
              }
              tx += 1
            }
            ty += 1
          }
          emitImageStream(bw, ctes, cacheBits = 0, level0 = false)
        }
        var mainImg = argb
        if (usePredictor) {
          // per-tile best-of-14 spatial prediction on 4x4 tiles (small
          // enough that fixture images span multiple tiles)
          val sizeBits = 2
          bw.bits(1, 1); bw.bits(0, 2); bw.bits(sizeBits - 2, 3)
          val tw = (w + 3) >> sizeBits; val th = (h + 3) >> sizeBits
          def residualFor(x: Int, y: Int, mode: Int): Int = {
            val j = y * w + x
            val pred =
              if (x == 0 && y == 0) 0xff000000
              else if (y == 0) argb(j - 1)
              else if (x == 0) argb(j - w)
              else {
                val l = argb(j - 1); val t = argb(j - w)
                val tl = argb(j - w - 1)
                val tr = if (x == w - 1) argb(y * w) else argb(j - w + 1)
                predict(mode, l, t, tl, tr)
              }
            subPixels(argb(j), pred)
          }
          val modesImg = new Array[Int](tw * th)
          val residuals = new Array[Int](px.length)
          var ty = 0
          while (ty < th) {
            var tx = 0
            while (tx < tw) {
              var best = 0; var bestCost = Long.MaxValue
              var mode = 0
              while (mode < 14) {
                var cost = 0L
                var y = ty << sizeBits
                while (y < math.min((ty + 1) << sizeBits, h)) {
                  var x = tx << sizeBits
                  while (x < math.min((tx + 1) << sizeBits, w)) {
                    val r = residualFor(x, y, mode)
                    var s = 0
                    while (s < 32) {
                      val c = (r >>> s) & 0xff
                      cost += math.min(c, 256 - c) // wrap distance to 0
                      s += 8
                    }
                    x += 1
                  }
                  y += 1
                }
                if (cost < bestCost) { bestCost = cost; best = mode }
                mode += 1
              }
              modesImg(ty * tw + tx) = 0xff000000 | (best << 8)
              var y = ty << sizeBits
              while (y < math.min((ty + 1) << sizeBits, h)) {
                var x = tx << sizeBits
                while (x < math.min((tx + 1) << sizeBits, w)) {
                  residuals(y * w + x) = residualFor(x, y, best)
                  x += 1
                }
                y += 1
              }
              tx += 1
            }
            ty += 1
          }
          emitImageStream(bw, modesImg, cacheBits = 0, level0 = false)
          mainImg = residuals
        }
        bw.bits(0, 1) // end of transforms
        if (useMetaGroups) {
          // two tree sets split by tile column (4x4 tiles): symbols
          // starting in the left half use set 0, the right set 1 — the
          // entropy image ships the split as its own recursive stream
          val pb = 2
          val tw = (w + 3) >> pb; val th = (h + 3) >> pb
          val halfTiles = (tw + 1) / 2
          emitImageStreamGrouped(bw, mainImg, cacheBits, level0 = true,
            numGroups = 2,
            groupAt = pos => if (((pos % w) >> pb) < halfTiles) 0 else 1,
            writeMetaHeader = meta => {
              meta.bits(1, 1); meta.bits(pb - 2, 3)
              val ei = Array.tabulate(tw * th) { t =>
                0xff000000 | ((if (t % tw < halfTiles) 0 else 1) << 8)
              }
              emitImageStream(meta, ei, cacheBits = 0, level0 = false)
            })
        } else emitImageStream(bw, mainImg, cacheBits, level0 = true)
      }
      bw.flush()
      val payload = body.toByteArray
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def le32w(v: Int): Unit = {
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      }
      val padded = payload.length + (payload.length & 1)
      ascii("RIFF"); le32w(4 + 8 + padded); ascii("WEBP")
      ascii("VP8L"); le32w(payload.length)
      out.write(payload)
      if ((payload.length & 1) == 1) out.write(0)
      out.toByteArray
    }

    /** Component-wise byte subtraction (palette delta coding). */
    private def subPixels(a: Int, b: Int): Int =
      (((a >>> 24) - (b >>> 24)) & 0xff) << 24 |
        ((((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff) << 16 |
        ((((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff) << 8 |
        (((a & 0xff) - (b & 0xff)) & 0xff)

    /** Tokenize + build trees + emit ONE image stream of ARGB pixels
      * (cache bit, meta bit when level0, 5 trees, pixel tokens) — the
      * shared unit behind the main image and the palette sub-image. */
    private def emitImageStream(bw: BitWriter, argb: Array[Int],
      cacheBits: Int, level0: Boolean): Unit =
      emitImageStreamGrouped(bw, argb, cacheBits, level0, 1, _ => 0, null)

    /** Per-group canonical codes for one tree set. */
    private final class TreeSet(freqs: Array[Array[Long]]) {
      val lens: Array[Array[Int]] = freqs.map(huffLengths(_, 15))
      val codes: Array[Array[Int]] = lens.map(canonicalCodes)
      val multi: Array[Boolean] = lens.map(_.count(_ > 0) > 1)
      def emit(bw: BitWriter, tree: Int, sym: Int): Unit =
        if (multi(tree)) bw.code(codes(tree)(sym), lens(tree)(sym))
    }

    /** The grouped form behind [[emitImageStream]]: tokens starting in
      * different meta tiles use different tree SETS (`groupAt` maps a
      * pixel position to its group). `writeMetaHeader` writes the meta
      * bit + prefix bits + the entropy image at its stream position;
      * null = single group (meta bit 0). */
    private def emitImageStreamGrouped(bw: BitWriter, argb: Array[Int],
      cacheBits: Int, level0: Boolean, numGroups: Int, groupAt: Int => Int,
      writeMetaHeader: BitWriter => Unit): Unit = {
      val n = argb.length
      val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
      // pass 1: tokenize (literal / cache-hit / dist-1 run) + per-group
      // histograms (the cache and run state are tree-independent, so
      // one tokenization serves every group)
      sealed trait Tok
      case class Lit(px: Int, g: Int) extends Tok
      case class Hit(idx: Int, g: Int) extends Tok
      case class Run(len: Int, g: Int) extends Tok
      val toks = scala.collection.mutable.ArrayBuffer.empty[Tok]
      val cache = new Array[Int](math.max(cacheSize, 1))
      val cacheValid = new Array[Boolean](math.max(cacheSize, 1))
      val gFreq = Array.fill(numGroups)(new Array[Long](256 + 24 + cacheSize))
      val rFreq = Array.fill(numGroups)(new Array[Long](256))
      val bFreq = Array.fill(numGroups)(new Array[Long](256))
      val aFreq = Array.fill(numGroups)(new Array[Long](256))
      val dFreq = Array.fill(numGroups)(new Array[Long](40))
      def insert(v: Int): Unit = if (cacheSize > 0) {
        val idx = ((0x1e35a7bd * v) >>> (32 - cacheBits)).toInt
        cache(idx) = v; cacheValid(idx) = true
      }
      var i = 0
      while (i < n) {
        val v = argb(i)
        val grp = groupAt(i)
        if (i > 0 && v == argb(i - 1)) {
          var len = 0
          // 4096 = the longest length the 24-code prefix alphabet holds
          while (i + len < n && argb(i + len) == argb(i - 1) && len < 4096)
            len += 1
          toks += Run(len, grp)
          val (lc, _, _) = prefixEncode(len)
          gFreq(grp)(256 + lc) += 1
          val (dc, _, _) = prefixEncode(121) // dist 1, direct code
          dFreq(grp)(dc) += 1
          var j = 0
          while (j < len) { insert(argb(i + j)); j += 1 }
          i += len
        } else {
          val idx = if (cacheSize > 0)
            ((0x1e35a7bd * v) >>> (32 - cacheBits)).toInt else 0
          if (cacheSize > 0 && cacheValid(idx) && cache(idx) == v) {
            toks += Hit(idx, grp)
            gFreq(grp)(256 + 24 + idx) += 1
          } else {
            toks += Lit(v, grp)
            gFreq(grp)((v >> 8) & 0xff) += 1
            rFreq(grp)((v >> 16) & 0xff) += 1
            bFreq(grp)(v & 0xff) += 1
            aFreq(grp)((v >>> 24) & 0xff) += 1
          }
          insert(v)
          i += 1
        }
      }
      // pass 2: one tree set per group
      val sets = Array.tabulate(numGroups)(g => new TreeSet(
        Array(gFreq(g), rFreq(g), bFreq(g), aFreq(g), dFreq(g))))
      // pass 3: the stream
      if (cacheSize > 0) { bw.bits(1, 1); bw.bits(cacheBits, 4) }
      else bw.bits(0, 1)
      if (level0) {
        if (writeMetaHeader != null) writeMetaHeader(bw)
        else bw.bits(0, 1) // no meta prefix groups
      }
      sets.foreach { s =>
        writeTree(bw, s.lens(0)); writeTree(bw, s.lens(1))
        writeTree(bw, s.lens(2)); writeTree(bw, s.lens(3))
        writeTree(bw, s.lens(4))
      }
      toks.foreach {
        case Lit(v, grp) =>
          val s = sets(grp)
          s.emit(bw, 0, (v >> 8) & 0xff)
          s.emit(bw, 1, (v >> 16) & 0xff)
          s.emit(bw, 2, v & 0xff)
          s.emit(bw, 3, (v >>> 24) & 0xff)
        case Hit(idx, grp) => sets(grp).emit(bw, 0, 256 + 24 + idx)
        case Run(len, grp) =>
          val s = sets(grp)
          val (lc, leb, lev) = prefixEncode(len)
          s.emit(bw, 0, 256 + lc)
          if (leb > 0) bw.bits(lev, leb)
          val (dc, deb, dev) = prefixEncode(121)
          s.emit(bw, 4, dc)
          if (deb > 0) bw.bits(dev, deb)
      }
    }
  }

  /** Run-rich VP8L files through the REAL encoder (full code-length-
    * coded trees, LZ77 dist-1 backreferences, color cache, subtract-
    * green): per doc, w = id%6+3, h = (7·id)%5+2, pixels in bands of 4
    * identical colors (band = raster_index div 4, color = palette
    * ((id+band)%3) with channel formulas the oracle replays). Encoding
    * is deterministic, decode is lossless, so the decode→featurize
    * output is an exact function of the formula — the whole general
    * machinery rides the hashed oracle, not just the spec round-trip. */
  def mediaWebplRuns(docs0: DataFrame): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 6 + 3).toInt
        val h = (id * 7 % 5 + 2).toInt
        val px = Array.tabulate(w * h) { i =>
          val c = ((id + i / 4) % 3).toInt
          val r = ((id * 5 + c * 77) % 256).toInt
          val g = ((id * 3 + c * 113) % 256).toInt
          val b = ((id * 11 + c * 41) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Vp8lCodec.encode(w, h, px, cacheBits = 4, subtractGreen = true))
      }
    }.toDF("media_id", "payload")
  }

  /** The same run-rich pixel formula, COLOR-INDEXED: ≤3 distinct colors
    * per doc become a delta-coded palette sub-image and a bit-packed
    * index image — the graphics-image VP8L mode. Same oracle as
    * [[mediaWebplRuns]] (lossless decode of the same pixels), entirely
    * different machinery under the hash. */
  def mediaWebplPalette(docs0: DataFrame): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 6 + 3).toInt
        val h = (id * 7 % 5 + 2).toInt
        val px = Array.tabulate(w * h) { i =>
          val c = ((id + i / 4) % 3).toInt
          val r = ((id * 5 + c * 77) % 256).toInt
          val g = ((id * 3 + c * 113) % 256).toInt
          val b = ((id * 11 + c * 41) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Vp8lCodec.encode(w, h, px, usePalette = true))
      }
    }.toDF("media_id", "payload")
  }

  /** Gradient pixels through the FULL transform chain (subtract-green →
    * color transform → predictor, plus a color cache): per doc,
    * w = id%7+4, h = (3·id)%5+3, channels are linear ramps
    * R=(40+3x+2y+id)%256, G=(60+2x+4y+3id)%256, B=(90+x+y+7id)%256 —
    * the content spatial prediction exists for, with channel
    * correlation the color transform strips. Deterministic encode
    * (per-tile searches), lossless decode ⇒ exact oracle. */
  def mediaWebplChain(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 7 + 4).toInt
        val h = (id * 3 % 5 + 3).toInt
        val px = Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val r = ((40 + 3 * x + 2 * y + id) % 256).toInt
          val g = ((60 + 2 * x + 4 * y + 3 * id) % 256).toInt
          val b = ((90 + x + y + 7 * id) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (id, Vp8lCodec.encode(w, h, px, cacheBits = 3,
          subtractGreen = true, usePredictor = true, useColorXf = true))
      }
    }.toDF("media_id", "payload")
  }

  /** Decode + featurize the lossless-WebP table — the [[bmpFeatures]]
    * contract through the VP8L prefix-code path. */
  def webplFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          Vp8lCodec.decode(payload).map { case (w, h, px) =>
            featurize(id, w, h, px)
          }
        }
      }.toDF()
  }

  /** One REAL lossy-WebP (VP8 keyframe) per document, through
    * [[Vp8Codec.encodeDcOnly]]'s arithmetic-coded DC-only family:
    * dims (id%37+1)×((3id)%29+1) — cropping + 1..3×1..2 MB grids —
    * quantizer index id%128 (the full dequant-table range, incl. the
    * chroma-DC 132 clamp), per-MB Y2/U/V DC tokens derived from the id.
    * The family is closed-form by construction, which is what buys the
    * `media_features_vp8` DuckDB oracle; bitstream-level correctness is
    * pinned separately by Vp8ConformanceSpec (bit-exact vs libwebp). */
  def mediaWebpVp8(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 37 + 1).toInt
        val h = ((3 * id) % 29 + 1).toInt
        val qi = (id % 128).toInt
        val n = ((w + 15) / 16) * ((h + 15) / 16)
        val y2 = Array.tabulate(n)(k => ((id + 5 * k) % 23 - 11).toInt)
        val u = Array.tabulate(n)(k => ((3 * id + 7 * k) % 19 - 9).toInt)
        val v = Array.tabulate(n)(k => ((7 * id + 11 * k) % 17 - 8).toInt)
        (id, Vp8Codec.encodeDcOnly(w, h, qi, y2, u, v))
      }
    }.toDF("media_id", "payload")
  }

  /** Decode lossy WebP through the full VP8 path and reduce each file
    * to plane sums — scan-shaped (one mapPartitions, no shuffle until
    * the caller aggregates). */
  def vp8Features(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, p) =>
          Vp8Codec.vp8ChunkOf(p).flatMap(Vp8Codec.decodeYuv).map {
            case (w, h, y, u, v) =>
              var ys = 0L; var i = 0
              while (i < y.length) { ys += y(i) & 0xff; i += 1 }
              var us = 0L; i = 0
              while (i < u.length) { us += u(i) & 0xff; i += 1 }
              var vs = 0L; i = 0
              while (i < v.length) { vs += v(i) & 0xff; i += 1 }
              (id, w, h, ys, us, vs)
          }
        }
      }.toDF("media_id", "width", "height", "y_sum", "u_sum", "v_sum")
  }

  /** One all-keyframe V_VP8 WebM per document: nf = id%4+1 frames,
    * each a [[Vp8Codec.encodeDcOnly]] keyframe with per-frame tokens
    * (the per-MB DC formulas gain a ·f term), muxed by
    * [[WebmCodec.encodeVp8]]. Same dims/quantizer family as
    * `media_features_vp8`, so the closed form extends by one frame
    * dimension. */
  def mediaWebmVp8(docs0: DataFrame): DataFrame = {
    // r19: single-split docs fixture - parallelize before the codec seam
    val docs = TextOps.scanParallel(docs0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val w = (id % 37 + 1).toInt
        val h = ((3 * id) % 29 + 1).toInt
        val qi = (id % 128).toInt
        val nf = (id % 4 + 1).toInt
        val n = ((w + 15) / 16) * ((h + 15) / 16)
        // SimpleBlocks carry the RAW VP8 frame, not the WebP container
        val frames = (0 until nf).map { f =>
          Vp8Codec.vp8ChunkOf(Vp8Codec.encodeDcOnly(w, h, qi,
            Array.tabulate(n)(k => ((id + 5 * k + 13 * f) % 23 - 11).toInt),
            Array.tabulate(n)(k => ((3 * id + 7 * k + 11 * f) % 19 - 9).toInt),
            Array.tabulate(n)(k =>
              ((7 * id + 11 * k + 17 * f) % 17 - 8).toInt))).get
        }
        (id, WebmCodec.encodeVp8(w, h, frames))
      }
    }.toDF("media_id", "payload")
  }

  case class WebmFeatures(
      media_id: Long, width: Int, height: Int, n_frames: Long,
      sum_r: Long, sum_g: Long, sum_b: Long, checksum: Long)

  /** Decode a WebM through the EBML walk + per-keyframe VP8 decode and
    * reduce to RGB channel sums plus the (f+1)-weighted checksum that
    * pins frame ORDER (SimpleBlock sequence). */
  def webmFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          WebmCodec.decodeFrames(payload).map { case (w, h, fs) =>
            var sr = 0L; var sg = 0L; var sb = 0L; var ck = 0L
            var f = 0
            while (f < fs.length) {
              val px = fs(f)
              var i = 0
              while (i < px.length) {
                val r = (px(i) >> 16) & 0xff
                val g = (px(i) >> 8) & 0xff
                val b = px(i) & 0xff
                sr += r; sg += g; sb += b
                ck += (f + 1).toLong * (r + 2L * g + 3L * b)
                i += 1
              }
              f += 1
            }
            WebmFeatures(id, w, h, fs.length.toLong, sr, sg, sb, ck)
          }
        }
      }.toDF()
  }

  // ----------------------------------------------------- byte-level dedup

  /** 64-bit SimHash over the payload's DISTINCT byte 4-grams — media
    * near-dup that needs NO codec (unlike the stubbed decode stages, this
    * operator is genuinely correct in any environment): a re-muxed or
    * metadata-tweaked copy shares most of its byte windows, so its
    * fingerprint lands within a few bits of the original's.
    *
    * Portability (what buys the full DuckDB oracle, as
    * [[Dedup.portableTokenHash]] did for token SimHash): grams are taken
    * over the HEX encoding of the payload — an 8-hex-char substring at
    * every byte offset ≙ one byte 4-gram — because `hex` and `md5` are
    * defined identically in every engine, while raw-byte slicing is not.
    * Each gram string feeds the md5-derived 64-bit hash and the standard
    * SimHash vote. A production variant would hash raw bytes directly
    * (half the scan width); the vote/band/verify pipeline is identical.
    *
    * Distinct grams (the set, not the multiset) keep the per-row cost
    * linear in CONTENT, not in repetition — a zero-padded payload doesn't
    * vote its padding 10⁶ times — and make the fingerprint a pure
    * set-signature both engines reproduce. */
  /** `hx` must be a MATERIALIZED `hex(payload)` column (an attribute, not
    * the inline expression): the gram lambda reads it per element, and
    * higher-order functions run interpreted — an inline hex would re-hex
    * the whole payload for every gram window (the O(n²) trap
    * [[graft.ext.TextAnalysis.bigramTopK]] documents). */
  // ------------------------------ content embeddings from DECODED pixels
  //
  // The embedding stub's remit shrinks (VERDICT r13 item 3): for every
  // format with a real decoder the "embedding model" seam now runs over
  // PIXELS, not payload bytes — a deterministic block-mean-luma grid,
  // the classic thumbnail feature. Byte-level fabrication remains only
  // for truly-unknown payloads (FakeCodec.features, the marked seam a
  // real encoder model plugs into).

  /** Magic-byte dispatch across every real image decoder in this file.
    * Returns (format, w, h, pixels) or None when no codec claims the
    * payload — the seam where [[FakeCodec]] remains. Video containers
    * contribute their FIRST frame (the standard thumbnail-embedding
    * choice). */
  def decodeImage(p: Array[Byte]): Option[(String, Int, Int, Array[Int])] = {
    if (p == null || p.length < 4) return None
    def b(i: Int) = p(i) & 0xff
    def ascii(off: Int, n: Int) = new String(p.slice(off, off + n), "US-ASCII")
    if (b(0) == 'B' && b(1) == 'M')
      BmpCodec.decode(p).map(("bmp", _)).orElse(
        BmpCodec.decodeRle8(p).map(("bmp", _)))
        .map { case (f, (w, h, px)) => (f, w, h, px) }
    else if (b(0) == 'P' && b(1) == '5')
      PgmCodec.decode(p).map { case (w, h, px) => ("pgm", w, h, px) }
    else if (p.length >= 6 && ascii(0, 4) == "GIF8")
      GifCodec.decode(p).map { case (w, h, px) => ("gif", w, h, px) }
    else if (b(0) == 0x89 && p.length >= 8 && ascii(1, 3) == "PNG")
      PngCodec.decode(p).map { case (w, h, px) => ("png", w, h, px) }
    else if (b(0) == 0xff && b(1) == 0xd8)
      JpegCodec.decode(p).map { case (w, h, px) => ("jpeg", w, h, px) }
    else if (p.length >= 12 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "WEBP")
      // lossless (VP8L chunk) first, then lossy (VP8 keyframe, r15):
      // both walk the container themselves, so whichever chunk is
      // present claims the file
      Vp8lCodec.decode(p).map { case (w, h, px) => ("webp", w, h, px) }
        .orElse(Vp8Codec.decode(p).map { case (w, h, px) =>
          ("webp_vp8", w, h, px)
        })
    else if (p.length >= 12 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "AVI ")
      // first-frame walk: the thumbnail path must not entropy-decode
      // every frame of a long video only to keep frame 0
      AviCodec.decodeFirstFrame(p).map { case (w, h, px) => ("avi", w, h, px) }
    else None
  }

  /** `dim`-entry content embedding from decoded pixels: the image is
    * bucketed on a ceil(√dim)-wide grid (gx = x·gw div w), each entry
    * the integer MEAN milli-luma (Σ(299r+587g+114b) div count) of its
    * bucket, 0 for buckets no pixel maps to (tiny images). For a
    * non-square `dim` the grid's trailing cells (index ≥ dim) FOLD
    * into the last entry rather than dropping their pixels — every
    * pixel contributes to exactly one entry at any dim. All-integer
    * values ≤ 255000 — exact in Float and exactly replayable in SQL. */
  private[graft] def pixelEmbeddingVec(
      w: Int, h: Int, px: Array[Int], dim: Int): Array[Float] = {
    val gw = math.ceil(math.sqrt(dim.toDouble)).toInt
    val gh = (dim + gw - 1) / gw
    val sums = new Array[Long](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        val l = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
          114L * (p & 0xff)
        val raw = (y * gh / h) * gw + (x * gw / w)
        val cell = if (raw >= dim) dim - 1 else raw
        sums(cell) += l; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(dim)(i =>
      if (counts(i) == 0) 0f else (sums(i) / counts(i)).toFloat)
  }

  /** Per-media content embedding over the REAL decode dispatch: one row
    * per decodable payload with its format tag, decoded dims, and the
    * `dim`-entry pixel-derived vector (undecodable rows drop — the
    * caller's FakeCodec fallback seam, see [[extractFeatures]]). */
  def mediaEmbedding(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          decodeImage(payload).map { case (fmt, w, h, px) =>
            (id, fmt, w, h, pixelEmbeddingVec(w, h, px, dim))
          }
        }
      }.toDF("media_id", "fmt", "width", "height", "embedding")
  }

  /** The five-real-decode-path media table (BMP, PGM, GIF, PNG, JPEG —
    * ids offset by 10^11·k so the formats coexist): the shared fixture
    * for [[mediaEmbedding]]'s oracle and the [[graft.sinks.MediaSink]]
    * streaming ingest twin, defined ONCE so the batch query and the
    * streamed table can never drift apart byte-wise. */
  def mediaAllFormats(docs0: DataFrame): DataFrame = {
    // r19 optimization: the docs fixture is ONE parquet split at every
    // SF - without a repartition the whole synth+codec chain below
    // runs on a single core (guide §2.5 input skew)
    val docs = TextOps.scanParallel(docs0)
    def off(df: DataFrame, k: Long) = df.select(
      (col("media_id") + lit(k * 100000000000L)).as("media_id"),
      col("payload"))
    off(mediaBmp(docs), 0)
      .unionByName(off(mediaPgm(docs), 1))
      .unionByName(off(mediaGif(docs), 2))
      .unionByName(off(mediaPng(docs), 3))
      .unionByName(off(mediaJpeg(docs), 4))
  }

  def byteSimhash64(hx: Column): Column = {
    val nGrams = (length(hx) / 2 - 3).cast("int")
    val grams = when(nGrams >= 1,
      array_distinct(transform(sequence(lit(1), nGrams),
        i => substr(hx, (i - 1) * 2 + 1, lit(8)))))
      .otherwise(array().cast("array<string>"))
    // md5 materialized in its OWN transform pass: higher-order functions
    // run interpreted (no codegen CSE), so inlining portableTokenHash —
    // which reads the digest twice — would compute every md5 twice
    // (the same trap [[Dedup.simhash64]] documents for token hashing)
    graft.expr.SimHash64(
      transform(transform(grams, g => md5(g)),
        m => shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))))
  }

  /** Media near-dup pairs: byte-4-gram SimHash fingerprints through the
    * same 4×16-bit banding + hamming verify as the token-level
    * [[Dedup.nearDupSimhash]] ([[Dedup.hammingPairs64]]). Payloads shorter
    * than 4 bytes have no grams and never pair. Output: (doc_a, doc_b,
    * hamming) keyed by media_id. */
  def mediaNearDup(media: DataFrame, maxHamming: Int = 8): DataFrame =
    Dedup.hammingPairs64(
      // scanParallel: the gram lambda runs interpreted, so a single-file
      // scan would serialize ~|payload| substr calls per row on one core
      TextOps.scanParallel(media.where(length(col("payload")) >= 4))
        // hex materialized behind its own projection boundary — see
        // byteSimhash64 (the alias is read 3+ times, so CollapseProject
        // keeps the boundary)
        .select(col("media_id").as("doc_id"), hex(col("payload")).as("__hx"))
        .select(col("doc_id"), byteSimhash64(col("__hx")).as("fp")),
      maxHamming)
}
