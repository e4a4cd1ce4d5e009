package graft.ext

/** REAL lossy-WebP (VP8 intra keyframe, RFC 6386) decoder: boolean
  * arithmetic decoder, keyframe mode parse, token/residual decode,
  * dequantization, 4×4 iDCT + WHT, all 14 intra predictors, and the
  * in-loop deblocking filter (normal + simple) — public arithmetic
  * throughout. The ~3,100 normative constants come from [[Vp8Tables]]
  * (recovered from the system libwebp's `.rodata` by structural
  * signature — tools/vp8_extract_tables.py). Correctness bar: the
  * luma/chroma planes this decoder emits are BIT-FOR-BIT identical to
  * libwebp's own `WebPDecodeYUV` on libwebp-encoded fixtures across
  * content/size/quality (Vp8ConformanceSpec over
  * src/test/resources/vp8/fixtures.bin) — the end-to-end check that
  * validates the table recovery (a single wrong probability diverges
  * the arithmetic decoder catastrophically).
  *
  * Closes the scope note at Multimodal.scala's header: VP8 was the one
  * remaining non-real decode path. RGB output goes through the house
  * integer BT.601 conversion (documented at [[yuvToRgb]]) so media
  * queries stay DuckDB-replayable; the conformance claim is on the YUV
  * planes, upstream of any color conversion.
  */
object Vp8Codec {

  // ---- boolean arithmetic decoder (RFC 6386 §7) ----
  // Reads past the partition end as virtual zero bytes (the spec's
  // convention); the MB loops bound total work, so malformed input
  // yields garbage pixels, never a hang.
  private final class BoolDec(p: Array[Byte], start: Int, end: Int) {
    private var range = 255
    private var value =
      ((if (start < end) p(start) & 0xff else 0) << 8) |
        (if (start + 1 < end) p(start + 1) & 0xff else 0)
    private var pos = start + 2
    private var bitCount = 0

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      val ret = if (value >= bigSplit) {
        range -= split; value -= bigSplit; 1
      } else {
        range = split; 0
      }
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) {
          bitCount = 0
          value |= (if (pos < end) p(pos) & 0xff else 0)
          pos += 1
        }
      }
      ret
    }

    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bit(128); i += 1 }
      v
    }

    /** n-bit magnitude then sign bit (header delta fields). */
    def signedLiteral(n: Int): Int = {
      val v = literal(n)
      if (bit(128) == 1) -v else v
    }

    /** flag ? signedLiteral(n) : 0 — the header's delta encoding. */
    def maybeSigned(n: Int): Int =
      if (bit(128) == 1) signedLiteral(n) else 0

    def tree(t: Array[Int], probs: Array[Int], probOff: Int): Int = {
      var i = 0
      while (true) {
        i = t(i + bit(probs(probOff + (i >> 1))))
        if (i <= 0) return -i
      }
      0 // unreachable
    }
  }

  // ---- normative trees (RFC 6386 §8.2, §11.2, §13.2: pure structure,
  // validated end-to-end by the conformance spec) ----
  private val kfYModeTree = Array(-4, 2, 4, 6, -0, -1, -2, -3) // B_PRED=4 first
  private val kfYModeProbs = Array(145, 156, 163, 128)
  private val uvModeTree = Array(-0, 2, -1, 4, -2, -3)
  private val kfUvModeProbs = Array(142, 114, 183)
  private val bModeTree = Array(
    -0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -5, -6, -4, 14, -7, 16, -8, -9)
  private val segTree = Array(2, 4, -0, -1, -2, -3)
  // ymode → implied submode for B_PRED context (DC,V,H,TM → B_DC,B_VE,B_HE,B_TM)
  private val impliedSub = Array(0, 2, 3, 1)
  private val kBands =
    Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  private val zigzag =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  private val catProbs = Array(Vp8Tables.cat1, Vp8Tables.cat2,
    Vp8Tables.cat3, Vp8Tables.cat4, Vp8Tables.cat5, Vp8Tables.cat6)
  private val catBase = Array(5, 7, 11, 19, 35, 67)

  // kfBModeProbs was recovered from libwebp's .rodata, whose INTERNAL
  // B-mode numbering reorders the diagonals (RD=4, VR=5, LD=6) vs the
  // RFC enum this decoder uses (LD=4, RD=5, VR=6) — the table's
  // [above][left] rows follow the library's numbering, so permute it
  // into RFC order once here. Found by differential crafting
  // (tools/vp8_craft.py): all-B_LD/B_RD/B_VR streams desynced while
  // every other submode matched bit-for-bit.
  private val bModeProbsRfc: Array[Int] = {
    val perm = Array(0, 1, 2, 3, 6, 4, 5, 7, 8, 9) // RFC idx -> lib idx
    val src = Vp8Tables.kfBModeProbs
    val out = new Array[Int](900)
    var a = 0
    while (a < 10) {
      var l = 0
      while (l < 10) {
        System.arraycopy(src, (perm(a) * 10 + perm(l)) * 9,
          out, (a * 10 + l) * 9, 9)
        l += 1
      }
      a += 1
    }
    out
  }

  private def clip127(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
  private def clampSC(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** Decode a raw VP8 keyframe bitstream (the 'VP8 ' chunk payload) to
    * cropped YUV planes: (w, h, y[w*h], u[cw*ch], v[cw*ch]) with
    * cw=(w+1)/2, ch=(h+1)/2. None on anything non-conforming. */
  def decodeYuv(p: Array[Byte])
  : Option[(Int, Int, Array[Byte], Array[Byte], Array[Byte])] =
    decodeYuv(p, skipFilter = false)

  /** skipFilter bypasses the in-loop deblocking — debug/conformance
    * triangulation only (pairs with libwebp's bypass_filtering). */
  private[graft] def decodeYuv(p: Array[Byte], skipFilter: Boolean)
  : Option[(Int, Int, Array[Byte], Array[Byte], Array[Byte])] = {
    if (p == null || p.length < 10) return None
    try decodeImpl(p, skipFilter)
    catch { case scala.util.control.NonFatal(_) => None }
  }

  // scalastyle:off method.length cyclomatic.complexity
  private def decodeImpl(p: Array[Byte], skipFilter: Boolean)
  : Option[(Int, Int, Array[Byte], Array[Byte], Array[Byte])] = {
    // uncompressed 10-byte keyframe header (§9.1)
    val tag = (p(0) & 0xff) | ((p(1) & 0xff) << 8) | ((p(2) & 0xff) << 16)
    val keyframe = (tag & 1) == 0
    val firstPartSize = tag >>> 5
    if (!keyframe) return None // WebP lossy is always a keyframe
    if ((p(3) & 0xff) != 0x9d || (p(4) & 0xff) != 0x01 ||
      (p(5) & 0xff) != 0x2a) return None
    val w = ((p(6) & 0xff) | ((p(7) & 0xff) << 8)) & 0x3fff
    val h = ((p(8) & 0xff) | ((p(9) & 0xff) << 8)) & 0x3fff
    if (w == 0 || h == 0) return None
    if (10 + firstPartSize > p.length) return None
    val bd = new BoolDec(p, 10, 10 + firstPartSize)

    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4

    // ---- frame header, first partition (§9.2–§9.11) ----
    bd.literal(1) // color space (0 for all valid streams)
    bd.literal(1) // clamping type (reconstruction clamps regardless)

    // segmentation (§9.3)
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    var segAbsolute = false
    var useSegment = false; var updateMap = false
    val segTreeProbs = Array(255, 255, 255)
    if (bd.bit(128) == 1) {
      useSegment = true
      updateMap = bd.bit(128) == 1
      val updateData = bd.bit(128) == 1
      if (updateData) {
        segAbsolute = bd.bit(128) == 1
        var s = 0
        while (s < 4) { segQuant(s) = bd.maybeSigned(7); s += 1 }
        s = 0
        while (s < 4) { segLf(s) = bd.maybeSigned(6); s += 1 }
      }
      if (updateMap) {
        var i = 0
        while (i < 3) {
          if (bd.bit(128) == 1) segTreeProbs(i) = bd.literal(8)
          i += 1
        }
      }
    }

    // loop filter header (§9.4)
    val simpleFilter = bd.literal(1) == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    val refDelta = new Array[Int](4)
    val modeDelta = new Array[Int](4)
    var lfDeltaEnabled = false
    if (bd.bit(128) == 1) {
      lfDeltaEnabled = true
      if (bd.bit(128) == 1) { // delta update
        var i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) refDelta(i) = bd.signedLiteral(6)
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.bit(128) == 1) modeDelta(i) = bd.signedLiteral(6)
          i += 1
        }
      }
    }

    // token partitions (§9.5)
    val nParts = 1 << bd.literal(2)
    val sizesAt = 10 + firstPartSize
    if (sizesAt + 3 * (nParts - 1) > p.length) return None
    val partStart = new Array[Int](nParts)
    val partEnd = new Array[Int](nParts)
    var off = sizesAt + 3 * (nParts - 1)
    var pi = 0
    while (pi < nParts) {
      val sz = if (pi == nParts - 1) p.length - off
      else (p(sizesAt + 3 * pi) & 0xff) |
        ((p(sizesAt + 3 * pi + 1) & 0xff) << 8) |
        ((p(sizesAt + 3 * pi + 2) & 0xff) << 16)
      if (sz < 0 || off + sz > p.length) return None
      partStart(pi) = off; partEnd(pi) = off + sz
      off += sz
      pi += 1
    }
    val parts = Array.tabulate(nParts)(i =>
      new BoolDec(p, partStart(i), partEnd(i)))

    // quantizer header (§9.6) + per-segment dequant factors (§14.1)
    val yacQi = bd.literal(7)
    val ydcDelta = bd.maybeSigned(4)
    val y2dcDelta = bd.maybeSigned(4)
    val y2acDelta = bd.maybeSigned(4)
    val uvdcDelta = bd.maybeSigned(4)
    val uvacDelta = bd.maybeSigned(4)
    val dcQ = Vp8Tables.dcQLookup; val acQ = Vp8Tables.acQLookup
    val qY1dc = new Array[Int](4); val qY1ac = new Array[Int](4)
    val qY2dc = new Array[Int](4); val qY2ac = new Array[Int](4)
    val qUVdc = new Array[Int](4); val qUVac = new Array[Int](4)
    var s = 0
    while (s < 4) {
      val q = clip127(
        if (!useSegment) yacQi
        else if (segAbsolute) segQuant(s)
        else yacQi + segQuant(s))
      qY1dc(s) = dcQ(clip127(q + ydcDelta))
      qY1ac(s) = acQ(q)
      qY2dc(s) = dcQ(clip127(q + y2dcDelta)) * 2
      qY2ac(s) = math.max(8, acQ(clip127(q + y2acDelta)) * 155 / 100)
      qUVdc(s) = math.min(132, dcQ(clip127(q + uvdcDelta)))
      qUVac(s) = acQ(clip127(q + uvacDelta))
      s += 1
    }

    bd.literal(1) // refresh entropy probs (moot for a single keyframe)

    // token probability updates (§13.4)
    val probs = Vp8Tables.coeffProbs.clone()
    val upd = Vp8Tables.coeffUpdateProbs
    var ti = 0
    while (ti < 1056) {
      if (bd.bit(upd(ti)) == 1) probs(ti) = bd.literal(8)
      ti += 1
    }

    val mbNoSkip = bd.bit(128) == 1
    val skipProb = if (mbNoSkip) bd.literal(8) else 0

    // ---- per-MB mode parse, all in partition 1 (§11) ----
    val nMbs = mbW * mbH
    val ymodes = new Array[Byte](nMbs)
    val uvmodes = new Array[Byte](nMbs)
    val segIds = new Array[Byte](nMbs)
    val skips = new Array[Boolean](nMbs)
    val subModes = new Array[Byte](nMbs * 16)
    val aboveSub = new Array[Int](mbW * 4) // B_DC at frame top
    val leftSub = new Array[Int](4)
    val bmp = bModeProbsRfc
    var mbY = 0
    while (mbY < mbH) {
      java.util.Arrays.fill(leftSub, 0)
      var mbX = 0
      while (mbX < mbW) {
        val mi = mbY * mbW + mbX
        if (useSegment && updateMap)
          segIds(mi) = bd.tree(segTree, segTreeProbs, 0).toByte
        if (mbNoSkip) skips(mi) = bd.bit(skipProb) == 1
        val ym = bd.tree(kfYModeTree, kfYModeProbs, 0)
        ymodes(mi) = ym.toByte
        if (ym == 4) { // B_PRED: 16 submodes with above/left context
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) {
              val a = if (r == 0) aboveSub(mbX * 4 + c) else subModes(mi * 16 + (r - 1) * 4 + c)
              val l = if (c == 0) leftSub(r) else subModes(mi * 16 + r * 4 + c - 1)
              val m = bd.tree(bModeTree, bmp, (a * 10 + l) * 9)
              subModes(mi * 16 + r * 4 + c) = m.toByte
              c += 1
            }
            r += 1
          }
          var i = 0
          while (i < 4) {
            aboveSub(mbX * 4 + i) = subModes(mi * 16 + 12 + i)
            leftSub(i) = subModes(mi * 16 + i * 4 + 3)
            i += 1
          }
        } else {
          val imp = impliedSub(ym)
          var i = 0
          while (i < 4) {
            aboveSub(mbX * 4 + i) = imp; leftSub(i) = imp
            subModes(mi * 16 + i) = 0 // unused
            i += 1
          }
        }
        uvmodes(mi) = bd.tree(uvModeTree, kfUvModeProbs, 0).toByte
        mbX += 1
      }
      mbY += 1
    }

    // ---- reconstruction planes with prediction borders: top row 127,
    // left column 129, corner 127 (the reference's frame-border
    // initialization) ----
    val yW = mbW * 16; val yH = mbH * 16
    val yStride = yW + 8
    val yPl = new Array[Int](yStride * (yH + 1))
    val cW = mbW * 8; val cH = mbH * 8
    val cStride = cW + 8
    val uPl = new Array[Int](cStride * (cH + 1))
    val vPl = new Array[Int](cStride * (cH + 1))
    java.util.Arrays.fill(yPl, 0, yStride, 127)
    java.util.Arrays.fill(uPl, 0, cStride, 127)
    java.util.Arrays.fill(vPl, 0, cStride, 127)
    var r0 = 0
    while (r0 < yH) { yPl((r0 + 1) * yStride) = 129; r0 += 1 }
    r0 = 0
    while (r0 < cH) {
      uPl((r0 + 1) * cStride) = 129; vPl((r0 + 1) * cStride) = 129
      r0 += 1
    }
    @inline def yIx(x: Int, y: Int): Int = (y + 1) * yStride + x + 1
    @inline def cIx(x: Int, y: Int): Int = (y + 1) * cStride + x + 1

    // ---- token decode + reconstruction, row partitions (§13, §14) ----
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val aboveNzY2 = new Array[Int](mbW)
    val leftNzY = new Array[Int](4)
    val leftNzU = new Array[Int](2)
    val leftNzV = new Array[Int](2)
    var leftNzY2 = 0
    val coeffs = new Array[Int](25 * 16) // 16 Y + 4 U + 4 V + Y2 at 24*16
    val hasCoeffs = new Array[Boolean](nMbs)

    // one 4×4 token block; returns 1 if any nonzero. ctx ∈ {0,1,2};
    // dqDC/dqAC are the dequant factors for coeff 0 / 1.. (§13.5)
    def tokenBlock(t: BoolDec, typ: Int, ctx0: Int, first: Int,
      out: Array[Int], outOff: Int, dqDC: Int, dqAC: Int): Int = {
      var n = first; var ctx = ctx0; var skipEob = false; var nz = 0
      while (n < 16) {
        val base = ((typ * 8 + kBands(n)) * 3 + ctx) * 11
        if (!skipEob && t.bit(probs(base)) == 0) return nz
        if (t.bit(probs(base + 1)) == 0) {
          ctx = 0; skipEob = true; n += 1
        } else {
          var v = 0
          if (t.bit(probs(base + 2)) == 0) { v = 1; ctx = 1 }
          else {
            ctx = 2
            if (t.bit(probs(base + 3)) == 0) {
              if (t.bit(probs(base + 4)) == 0) v = 2
              else v = 3 + t.bit(probs(base + 5))
            } else {
              val cat =
                if (t.bit(probs(base + 6)) == 0) t.bit(probs(base + 7))
                else if (t.bit(probs(base + 8)) == 0) 2 + t.bit(probs(base + 9))
                else 4 + t.bit(probs(base + 10))
              val cp = catProbs(cat)
              var extra = 0; var i = 0
              while (i < cp.length) { extra = (extra << 1) | t.bit(cp(i)); i += 1 }
              v = catBase(cat) + extra
            }
          }
          if (t.bit(128) == 1) v = -v
          // the reference stores dequantized coefficients in int16 —
          // truncate identically (reachable only by adversarial token
          // magnitudes at high quantizers)
          out(outOff + zigzag(n)) =
            (v * (if (n == 0) dqDC else dqAC)).toShort.toInt
          nz = 1; skipEob = false; n += 1
        }
      }
      nz
    }

    // inverse WHT (§14.3): Y2 block → the 16 luma DCs
    def iwht(in: Array[Int], off: Int, dcs: Array[Int]): Unit = {
      val t = new Array[Int](16)
      var i = 0
      while (i < 4) {
        val a1 = in(off + i) + in(off + 12 + i)
        val b1 = in(off + 4 + i) + in(off + 8 + i)
        val c1 = in(off + 4 + i) - in(off + 8 + i)
        val d1 = in(off + i) - in(off + 12 + i)
        t(i) = a1 + b1; t(4 + i) = c1 + d1
        t(8 + i) = a1 - b1; t(12 + i) = d1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val a1 = t(4 * i) + t(4 * i + 3)
        val b1 = t(4 * i + 1) + t(4 * i + 2)
        val c1 = t(4 * i + 1) - t(4 * i + 2)
        val d1 = t(4 * i) - t(4 * i + 3)
        dcs(4 * i) = (a1 + b1 + 3) >> 3
        dcs(4 * i + 1) = (c1 + d1 + 3) >> 3
        dcs(4 * i + 2) = (a1 - b1 + 3) >> 3
        dcs(4 * i + 3) = (d1 - c1 + 3) >> 3
        i += 1
      }
    }

    // 4×4 iDCT (§14.4) added into plane at (x, y)
    val idctTmp = new Array[Int](16)
    def idctAdd(in: Array[Int], off: Int, pl: Array[Int], ix: Int,
      stride: Int): Unit = {
      var allZero = true
      var k = 0
      while (k < 16 && allZero) { if (in(off + k) != 0) allZero = false; k += 1 }
      if (allZero) return
      var i = 0
      while (i < 4) {
        val a1 = in(off + i) + in(off + 8 + i)
        val b1 = in(off + i) - in(off + 8 + i)
        val t1 = (in(off + 4 + i) * 35468) >> 16
        val t2 = in(off + 12 + i) + ((in(off + 12 + i) * 20091) >> 16)
        val c1 = t1 - t2
        val t3 = in(off + 4 + i) + ((in(off + 4 + i) * 20091) >> 16)
        val t4 = (in(off + 12 + i) * 35468) >> 16
        val d1 = t3 + t4
        idctTmp(i) = a1 + d1; idctTmp(12 + i) = a1 - d1
        idctTmp(4 + i) = b1 + c1; idctTmp(8 + i) = b1 - c1
        i += 1
      }
      i = 0
      while (i < 4) {
        val a1 = idctTmp(4 * i) + idctTmp(4 * i + 2)
        val b1 = idctTmp(4 * i) - idctTmp(4 * i + 2)
        val t1 = (idctTmp(4 * i + 1) * 35468) >> 16
        val t2 = idctTmp(4 * i + 3) + ((idctTmp(4 * i + 3) * 20091) >> 16)
        val c1 = t1 - t2
        val t3 = idctTmp(4 * i + 1) + ((idctTmp(4 * i + 1) * 20091) >> 16)
        val t4 = (idctTmp(4 * i + 3) * 35468) >> 16
        val d1 = t3 + t4
        val base = ix + i * stride
        pl(base) = clamp255(pl(base) + ((a1 + d1 + 4) >> 3))
        pl(base + 1) = clamp255(pl(base + 1) + ((b1 + c1 + 4) >> 3))
        pl(base + 2) = clamp255(pl(base + 2) + ((b1 - c1 + 4) >> 3))
        pl(base + 3) = clamp255(pl(base + 3) + ((a1 - d1 + 4) >> 3))
        i += 1
      }
    }

    mbY = 0
    while (mbY < mbH) {
      val t = parts(mbY & (nParts - 1))
      java.util.Arrays.fill(leftNzY, 0)
      java.util.Arrays.fill(leftNzU, 0)
      java.util.Arrays.fill(leftNzV, 0)
      leftNzY2 = 0
      var mbX = 0
      while (mbX < mbW) {
        val mi = mbY * mbW + mbX
        val seg = segIds(mi).toInt
        val isB = ymodes(mi) == 4
        val hasY2 = !isB
        java.util.Arrays.fill(coeffs, 0)
        var anyNz = false

        if (skips(mi)) {
          var i = 0
          while (i < 4) { aboveNzY(mbX * 4 + i) = 0; leftNzY(i) = 0; i += 1 }
          i = 0
          while (i < 2) {
            aboveNzU(mbX * 2 + i) = 0; leftNzU(i) = 0
            aboveNzV(mbX * 2 + i) = 0; leftNzV(i) = 0
            i += 1
          }
          if (hasY2) { aboveNzY2(mbX) = 0; leftNzY2 = 0 }
        } else {
          if (hasY2) {
            val nz = tokenBlock(t, 1, aboveNzY2(mbX) + leftNzY2, 0,
              coeffs, 24 * 16, qY2dc(seg), qY2ac(seg))
            aboveNzY2(mbX) = nz; leftNzY2 = nz
            if (nz == 1) anyNz = true
          }
          val yType = if (hasY2) 0 else 3
          val yFirst = if (hasY2) 1 else 0
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) {
              val b = r * 4 + c
              val nz = tokenBlock(t, yType,
                aboveNzY(mbX * 4 + c) + leftNzY(r), yFirst,
                coeffs, b * 16, qY1dc(seg), qY1ac(seg))
              aboveNzY(mbX * 4 + c) = nz; leftNzY(r) = nz
              if (nz == 1) anyNz = true
              c += 1
            }
            r += 1
          }
          var pl = 0
          while (pl < 2) {
            val aNz = if (pl == 0) aboveNzU else aboveNzV
            val lNz = if (pl == 0) leftNzU else leftNzV
            r = 0
            while (r < 2) {
              var c = 0
              while (c < 2) {
                val b = 16 + pl * 4 + r * 2 + c
                val nz = tokenBlock(t, 2, aNz(mbX * 2 + c) + lNz(r), 0,
                  coeffs, b * 16, qUVdc(seg), qUVac(seg))
                aNz(mbX * 2 + c) = nz; lNz(r) = nz
                if (nz == 1) anyNz = true
                c += 1
              }
              r += 1
            }
            pl += 1
          }
        }
        hasCoeffs(mi) = anyNz

        if (hasY2) {
          val dcs = new Array[Int](16)
          iwht(coeffs, 24 * 16, dcs)
          var b = 0
          while (b < 16) { coeffs(b * 16) = dcs(b); b += 1 }
        }

        reconstructMb(mbX, mbY, mbW, mbH, ymodes(mi), uvmodes(mi),
          subModes, mi, coeffs, yPl, yStride, uPl, vPl, cStride,
          yIx(mbX * 16, mbY * 16), cIx(mbX * 8, mbY * 8), idctAdd)
        mbX += 1
      }
      mbY += 1
    }

    // ---- in-loop deblocking filter (§15) ----
    if (filterLevel > 0 && !skipFilter) {
      loopFilter(mbW, mbH, filterLevel, sharpness, simpleFilter,
        useSegment, segAbsolute, segLf, lfDeltaEnabled, refDelta,
        modeDelta, segIds, ymodes, skips, hasCoeffs,
        yPl, yStride, uPl, vPl, cStride)
    }

    // ---- crop to visible dims ----
    val outY = new Array[Byte](w * h)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) { outY(yy * w + xx) = yPl(yIx(xx, yy)).toByte; xx += 1 }
      yy += 1
    }
    val cw = (w + 1) / 2; val ch = (h + 1) / 2
    val outU = new Array[Byte](cw * ch)
    val outV = new Array[Byte](cw * ch)
    yy = 0
    while (yy < ch) {
      var xx = 0
      while (xx < cw) {
        outU(yy * cw + xx) = uPl(cIx(xx, yy)).toByte
        outV(yy * cw + xx) = vPl(cIx(xx, yy)).toByte
        xx += 1
      }
      yy += 1
    }
    Some((w, h, outY, outU, outV))
  }
  // scalastyle:on method.length cyclomatic.complexity

  // ---------------------------------------------------------------
  // intra prediction + residual add for one macroblock (§12)
  // ---------------------------------------------------------------
  private def reconstructMb(mbX: Int, mbY: Int, mbW: Int, mbH: Int,
    ymode: Int, uvmode: Int, subModes: Array[Byte], mi: Int,
    coeffs: Array[Int], yPl: Array[Int], yStride: Int,
    uPl: Array[Int], vPl: Array[Int], cStride: Int,
    yOrigin: Int, cOrigin: Int,
    idctAdd: (Array[Int], Int, Array[Int], Int, Int) => Unit): Unit = {

    // the border row/col supply 127s/129s; DC prediction uses REAL
    // availability, not the border fill:
    val realAbove = mbY > 0
    val realLeft = mbX > 0

    // ---- luma ----
    if (ymode != 4) {
      predictWhole(yPl, yStride, yOrigin, 16, ymode, realAbove, realLeft)
      var b = 0
      while (b < 16) {
        idctAdd(coeffs, b * 16, yPl,
          yOrigin + (b >> 2) * 4 * yStride + (b & 3) * 4, yStride)
        b += 1
      }
    } else {
      // B_PRED: the MB-level top-right 4 samples (§12.3's quirk: right-
      // column subblocks below the top row reuse them, never the
      // current reconstruction)
      val tr = new Array[Int](4)
      var i = 0
      if (mbX == mbW - 1 && mbY > 0) {
        val v = yPl(yOrigin - yStride + 15)
        while (i < 4) { tr(i) = v; i += 1 }
      } else {
        while (i < 4) { tr(i) = yPl(yOrigin - yStride + 16 + i); i += 1 }
      }
      val A = new Array[Int](8); val L = new Array[Int](4)
      var r = 0
      while (r < 4) {
        var c = 0
        while (c < 4) {
          val n = r * 4 + c
          val ox = yOrigin + r * 4 * yStride + c * 4
          var k = 0
          while (k < 4) {
            A(k) = yPl(ox - yStride + k)
            L(k) = yPl(ox - 1 + k * yStride)
            k += 1
          }
          if (c == 3) { A(4) = tr(0); A(5) = tr(1); A(6) = tr(2); A(7) = tr(3) }
          else {
            k = 0
            while (k < 4) { A(k + 4) = yPl(ox - yStride + 4 + k); k += 1 }
          }
          val P = yPl(ox - yStride - 1)
          predictB(yPl, yStride, ox, subModes(mi * 16 + n).toInt, A, L, P)
          idctAdd(coeffs, n * 16, yPl, ox, yStride)
          c += 1
        }
        r += 1
      }
    }

    // ---- chroma ----
    predictWhole(uPl, cStride, cOrigin, 8, uvmode, realAbove, realLeft)
    predictWhole(vPl, cStride, cOrigin, 8, uvmode, realAbove, realLeft)
    var b = 0
    while (b < 4) {
      val ox = (b >> 1) * 4 * cStride + (b & 1) * 4
      idctAdd(coeffs, (16 + b) * 16, uPl, cOrigin + ox, cStride)
      idctAdd(coeffs, (20 + b) * 16, vPl, cOrigin + ox, cStride)
      b += 1
    }
  }

  /** Whole-block DC/V/H/TM prediction for 16×16 luma or 8×8 chroma. */
  private def predictWhole(pl: Array[Int], stride: Int, o: Int, n: Int,
    mode: Int, realAbove: Boolean, realLeft: Boolean): Unit = {
    mode match {
      case 0 => // DC
        var sum = 0; var cnt = 0
        if (realAbove) { var i = 0; while (i < n) { sum += pl(o - stride + i); i += 1 }; cnt += n }
        if (realLeft) { var i = 0; while (i < n) { sum += pl(o - 1 + i * stride); i += 1 }; cnt += n }
        val dc = if (cnt == 0) 128 else (sum + (cnt >> 1)) / cnt
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) { pl(o + r * stride + c) = dc; c += 1 }
          r += 1
        }
      case 1 => // V
        var r = 0
        while (r < n) {
          var c = 0
          while (c < n) { pl(o + r * stride + c) = pl(o - stride + c); c += 1 }
          r += 1
        }
      case 2 => // H
        var r = 0
        while (r < n) {
          val v = pl(o - 1 + r * stride)
          var c = 0
          while (c < n) { pl(o + r * stride + c) = v; c += 1 }
          r += 1
        }
      case _ => // TM
        val p = pl(o - stride - 1)
        var r = 0
        while (r < n) {
          val l = pl(o - 1 + r * stride)
          var c = 0
          while (c < n) {
            pl(o + r * stride + c) = clamp255(l + pl(o - stride + c) - p)
            c += 1
          }
          r += 1
        }
    }
  }

  /** One 4×4 B_PRED subblock, all 10 modes (§12.3). A has 8 samples
    * (above + above-right), L 4 (left), P the above-left corner. */
  // scalastyle:off method.length
  private def predictB(pl: Array[Int], stride: Int, o: Int, mode: Int,
    A: Array[Int], L: Array[Int], P: Int): Unit = {
    @inline def put(r: Int, c: Int, v: Int): Unit = pl(o + r * stride + c) = v
    @inline def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2
    @inline def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
    mode match {
      case 0 => // B_DC
        var sum = 4; var i = 0
        while (i < 4) { sum += A(i) + L(i); i += 1 }
        val dc = sum >> 3
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { put(r, c, dc); c += 1 }; r += 1 }
      case 1 => // B_TM
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { put(r, c, clamp255(L(r) + A(c) - P)); c += 1 }
          r += 1
        }
      case 2 => // B_VE: filtered above, P as left tap
        val v0 = avg3(P, A(0), A(1)); val v1 = avg3(A(0), A(1), A(2))
        val v2 = avg3(A(1), A(2), A(3)); val v3 = avg3(A(2), A(3), A(4))
        var r = 0
        while (r < 4) { put(r, 0, v0); put(r, 1, v1); put(r, 2, v2); put(r, 3, v3); r += 1 }
      case 3 => // B_HE
        val h0 = avg3(P, L(0), L(1)); val h1 = avg3(L(0), L(1), L(2))
        val h2 = avg3(L(1), L(2), L(3)); val h3 = avg3(L(2), L(3), L(3))
        var c = 0
        while (c < 4) { put(0, c, h0); put(1, c, h1); put(2, c, h2); put(3, c, h3); c += 1 }
      case 4 => // B_LD: down-left over A[0..7]
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val k = r + c
            put(r, c,
              if (k == 6) avg3(A(6), A(7), A(7)) else avg3(A(k), A(k + 1), A(k + 2)))
            c += 1
          }
          r += 1
        }
      case 5 => // B_RD: down-right over L3..L0, P, A0..A3
        val e = Array(L(3), L(2), L(1), L(0), P, A(0), A(1), A(2), A(3))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { put(r, c, avg3(e(c - r + 3), e(c - r + 4), e(c - r + 5))); c += 1 }
          r += 1
        }
      case 6 => // B_VR
        put(0, 0, avg2(P, A(0))); put(0, 1, avg2(A(0), A(1)))
        put(0, 2, avg2(A(1), A(2))); put(0, 3, avg2(A(2), A(3)))
        put(1, 0, avg3(L(0), P, A(0))); put(1, 1, avg3(P, A(0), A(1)))
        put(1, 2, avg3(A(0), A(1), A(2))); put(1, 3, avg3(A(1), A(2), A(3)))
        put(2, 0, avg3(P, L(0), L(1)))
        put(2, 1, pl(o)); put(2, 2, pl(o + 1)); put(2, 3, pl(o + 2))
        put(3, 0, avg3(L(0), L(1), L(2)))
        put(3, 1, pl(o + stride)); put(3, 2, pl(o + stride + 1))
        put(3, 3, pl(o + stride + 2))
      case 7 => // B_VL
        put(0, 0, avg2(A(0), A(1))); put(0, 1, avg2(A(1), A(2)))
        put(0, 2, avg2(A(2), A(3))); put(0, 3, avg2(A(3), A(4)))
        put(1, 0, avg3(A(0), A(1), A(2))); put(1, 1, avg3(A(1), A(2), A(3)))
        put(1, 2, avg3(A(2), A(3), A(4))); put(1, 3, avg3(A(3), A(4), A(5)))
        put(2, 0, pl(o + 1)); put(2, 1, pl(o + 2)); put(2, 2, pl(o + 3))
        put(2, 3, avg3(A(4), A(5), A(6)))
        put(3, 0, pl(o + stride + 1)); put(3, 1, pl(o + stride + 2))
        put(3, 2, pl(o + stride + 3)); put(3, 3, avg3(A(5), A(6), A(7)))
      case 8 => // B_HD
        put(0, 0, avg2(P, L(0))); put(0, 1, avg3(L(0), P, A(0)))
        put(0, 2, avg3(P, A(0), A(1))); put(0, 3, avg3(A(0), A(1), A(2)))
        put(1, 0, avg2(L(0), L(1))); put(1, 1, avg3(P, L(0), L(1)))
        put(1, 2, pl(o)); put(1, 3, pl(o + 1))
        put(2, 0, avg2(L(1), L(2))); put(2, 1, avg3(L(0), L(1), L(2)))
        put(2, 2, pl(o + stride)); put(2, 3, pl(o + stride + 1))
        put(3, 0, avg2(L(2), L(3))); put(3, 1, avg3(L(1), L(2), L(3)))
        put(3, 2, pl(o + 2 * stride)); put(3, 3, pl(o + 2 * stride + 1))
      case _ => // B_HU
        put(0, 0, avg2(L(0), L(1))); put(0, 1, avg3(L(0), L(1), L(2)))
        put(0, 2, avg2(L(1), L(2))); put(0, 3, avg3(L(1), L(2), L(3)))
        put(1, 0, pl(o + 2)); put(1, 1, pl(o + 3))
        put(1, 2, avg2(L(2), L(3))); put(1, 3, avg3(L(2), L(3), L(3)))
        put(2, 0, pl(o + stride + 2)); put(2, 1, pl(o + stride + 3))
        put(2, 2, L(3)); put(2, 3, L(3))
        put(3, 0, L(3)); put(3, 1, L(3)); put(3, 2, L(3)); put(3, 3, L(3))
    }
  }
  // scalastyle:on method.length

  // ---------------------------------------------------------------
  // in-loop deblocking filter (§15)
  // ---------------------------------------------------------------
  // scalastyle:off method.length cyclomatic.complexity
  private def loopFilter(mbW: Int, mbH: Int, filterLevel: Int,
    sharpness: Int, simple: Boolean, useSegment: Boolean,
    segAbsolute: Boolean, segLf: Array[Int], lfDelta: Boolean,
    refDelta: Array[Int], modeDelta: Array[Int], segIds: Array[Byte],
    ymodes: Array[Byte], skips: Array[Boolean], hasCoeffs: Array[Boolean],
    yPl: Array[Int], yStride: Int, uPl: Array[Int], vPl: Array[Int],
    cStride: Int): Unit = {

    @inline def u2s(v: Int): Int = v - 128
    @inline def s2u(v: Int): Int = clampSC(v) + 128

    // common adjust (§15.1): used by the simple filter (outer taps
    // always), normal subblock filter (outer taps iff hev), and the
    // hev path of the normal MB-edge filter. Returns F1 for the
    // !hev q1/p1 adjust.
    def adjust(pl: Array[Int], i: Int, step: Int, useOuter: Boolean): Int = {
      val ps1 = u2s(pl(i - 2 * step)); val ps0 = u2s(pl(i - step))
      val qs0 = u2s(pl(i)); val qs1 = u2s(pl(i + step))
      val a = clampSC((if (useOuter) clampSC(ps1 - qs1) else 0) + 3 * (qs0 - ps0))
      val f1 = clampSC(a + 4) >> 3
      val f2 = clampSC(a + 3) >> 3
      pl(i) = s2u(qs0 - f1)
      pl(i - step) = s2u(ps0 + f2)
      f1
    }

    def hev(pl: Array[Int], i: Int, step: Int, thresh: Int): Boolean =
      math.abs(pl(i - 2 * step) - pl(i - step)) > thresh ||
        math.abs(pl(i + step) - pl(i)) > thresh

    def normalMask(pl: Array[Int], i: Int, step: Int, eLim: Int,
      iLim: Int): Boolean =
      math.abs(pl(i - step) - pl(i)) * 2 +
        math.abs(pl(i - 2 * step) - pl(i + step)) / 2 <= eLim &&
        math.abs(pl(i - 4 * step) - pl(i - 3 * step)) <= iLim &&
        math.abs(pl(i - 3 * step) - pl(i - 2 * step)) <= iLim &&
        math.abs(pl(i - 2 * step) - pl(i - step)) <= iLim &&
        math.abs(pl(i + step) - pl(i)) <= iLim &&
        math.abs(pl(i + 2 * step) - pl(i + step)) <= iLim &&
        math.abs(pl(i + 3 * step) - pl(i + 2 * step)) <= iLim

    // normal MB-edge filter (6-tap wide adjust on the !hev path)
    def mbEdge(pl: Array[Int], i: Int, step: Int, eLim: Int, iLim: Int,
      hevT: Int): Unit = {
      if (!normalMask(pl, i, step, eLim, iLim)) return
      if (hev(pl, i, step, hevT)) { adjust(pl, i, step, useOuter = true); () }
      else {
        val ps2 = u2s(pl(i - 3 * step)); val ps1 = u2s(pl(i - 2 * step))
        val ps0 = u2s(pl(i - step)); val qs0 = u2s(pl(i))
        val qs1 = u2s(pl(i + step)); val qs2 = u2s(pl(i + 2 * step))
        val w = clampSC(clampSC(ps1 - qs1) + 3 * (qs0 - ps0))
        var a = clampSC((27 * w + 63) >> 7)
        pl(i) = s2u(qs0 - a); pl(i - step) = s2u(ps0 + a)
        a = clampSC((18 * w + 63) >> 7)
        pl(i + step) = s2u(qs1 - a); pl(i - 2 * step) = s2u(ps1 + a)
        a = clampSC((9 * w + 63) >> 7)
        pl(i + 2 * step) = s2u(qs2 - a); pl(i - 3 * step) = s2u(ps2 + a)
      }
    }

    def subEdge(pl: Array[Int], i: Int, step: Int, eLim: Int, iLim: Int,
      hevT: Int): Unit = {
      if (!normalMask(pl, i, step, eLim, iLim)) return
      val hv = hev(pl, i, step, hevT)
      val f1 = adjust(pl, i, step, useOuter = hv)
      if (!hv) {
        val a = (f1 + 1) >> 1
        pl(i + step) = s2u(u2s(pl(i + step)) - a)
        pl(i - 2 * step) = s2u(u2s(pl(i - 2 * step)) + a)
      }
    }

    def simpleEdge(pl: Array[Int], i: Int, step: Int, eLim: Int): Unit =
      if (math.abs(pl(i - step) - pl(i)) * 2 +
        math.abs(pl(i - 2 * step) - pl(i + step)) / 2 <= eLim) {
        adjust(pl, i, step, useOuter = true); ()
      }

    @inline def yIx(x: Int, y: Int): Int = (y + 1) * yStride + x + 1
    @inline def cIx(x: Int, y: Int): Int = (y + 1) * cStride + x + 1

    var mbY = 0
    while (mbY < mbH) {
      var mbX = 0
      while (mbX < mbW) {
        val mi = mbY * mbW + mbX
        // per-MB filter level (§15.2)
        var level =
          if (!useSegment) filterLevel
          else if (segAbsolute) segLf(segIds(mi).toInt)
          else filterLevel + segLf(segIds(mi).toInt)
        level = if (level < 0) 0 else if (level > 63) level.min(63) else level
        if (lfDelta) {
          level += refDelta(0) // keyframe: intra frame reference
          if (ymodes(mi) == 4) level += modeDelta(0) // B_PRED
          level = if (level < 0) 0 else if (level > 63) 63 else level
        }
        if (level > 0) {
          var interior = level
          if (sharpness > 0) {
            interior >>= (if (sharpness > 4) 2 else 1)
            if (interior > 9 - sharpness) interior = 9 - sharpness
          }
          if (interior < 1) interior = 1
          val hevT =
            if (level >= 40) 2 else if (level >= 15) 1 else 0 // keyframe
          val mbLim = 2 * (level + 2) + interior
          val subLim = 2 * level + interior
          val inner = hasCoeffs(mi) || ymodes(mi) == 4
          val px = mbX * 16; val py = mbY * 16
          val cx = mbX * 8; val cy = mbY * 8

          if (simple) {
            if (mbX > 0) {
              var r = 0
              while (r < 16) { simpleEdge(yPl, yIx(px, py + r), 1, mbLim); r += 1 }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var r = 0
                while (r < 16) { simpleEdge(yPl, yIx(px + e, py + r), 1, subLim); r += 1 }
                e += 4
              }
            }
            if (mbY > 0) {
              var c = 0
              while (c < 16) { simpleEdge(yPl, yIx(px + c, py), yStride, mbLim); c += 1 }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var c = 0
                while (c < 16) { simpleEdge(yPl, yIx(px + c, py + e), yStride, subLim); c += 1 }
                e += 4
              }
            }
          } else {
            if (mbX > 0) {
              var r = 0
              while (r < 16) { mbEdge(yPl, yIx(px, py + r), 1, mbLim, interior, hevT); r += 1 }
              r = 0
              while (r < 8) {
                mbEdge(uPl, cIx(cx, cy + r), 1, mbLim, interior, hevT)
                mbEdge(vPl, cIx(cx, cy + r), 1, mbLim, interior, hevT)
                r += 1
              }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var r = 0
                while (r < 16) { subEdge(yPl, yIx(px + e, py + r), 1, subLim, interior, hevT); r += 1 }
                e += 4
              }
              var r = 0
              while (r < 8) {
                subEdge(uPl, cIx(cx + 4, cy + r), 1, subLim, interior, hevT)
                subEdge(vPl, cIx(cx + 4, cy + r), 1, subLim, interior, hevT)
                r += 1
              }
            }
            if (mbY > 0) {
              var c = 0
              while (c < 16) { mbEdge(yPl, yIx(px + c, py), yStride, mbLim, interior, hevT); c += 1 }
              c = 0
              while (c < 8) {
                mbEdge(uPl, cIx(cx + c, cy), cStride, mbLim, interior, hevT)
                mbEdge(vPl, cIx(cx + c, cy), cStride, mbLim, interior, hevT)
                c += 1
              }
            }
            if (inner) {
              var e = 4
              while (e < 16) {
                var c = 0
                while (c < 16) { subEdge(yPl, yIx(px + c, py + e), yStride, subLim, interior, hevT); c += 1 }
                e += 4
              }
              var c = 0
              while (c < 8) {
                subEdge(uPl, cIx(cx + c, cy + 4), cStride, subLim, interior, hevT)
                subEdge(vPl, cIx(cx + c, cy + 4), cStride, subLim, interior, hevT)
                c += 1
              }
            }
          }
        }
        mbX += 1
      }
      mbY += 1
    }
  }
  // scalastyle:on method.length cyclomatic.complexity

  // ---------------------------------------------------------------
  // WebP container + RGB output
  // ---------------------------------------------------------------

  /** Walk a WebP container to the 'VP8 ' chunk payload (skipping any
    * other chunks), or None. */
  def vp8ChunkOf(p: Array[Byte]): Option[Array[Byte]] = {
    if (p == null || p.length < 20) return None
    def tag(i: Int) = new String(p, i, 4, "US-ASCII")
    def le32(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
      ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
    if (tag(0) != "RIFF" || tag(8) != "WEBP") return None
    var i = 12
    while (i + 8 <= p.length) {
      val sz = le32(i + 4)
      if (sz < 0 || i.toLong + 8 + sz > p.length) return None
      if (tag(i) == "VP8 ")
        return Some(java.util.Arrays.copyOfRange(p, i + 8, i + 8 + sz))
      i += 8 + sz + (sz & 1)
    }
    None
  }

  /** Integer BT.601 limited-range YUV→RGB with nearest-neighbor (co-
    * sited) chroma upsampling — the house conversion for media queries
    * (deterministic and SQL-replayable; the bit-exactness claim vs
    * libwebp is on the YUV planes upstream of this). */
  def yuvToRgb(w: Int, h: Int, y: Array[Byte], u: Array[Byte],
    v: Array[Byte]): Array[Int] = {
    val cw = (w + 1) / 2
    val out = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w) {
        val yy = 298 * ((y(r * w + c) & 0xff) - 16)
        val d = (u((r / 2) * cw + c / 2) & 0xff) - 128
        val e = (v((r / 2) * cw + c / 2) & 0xff) - 128
        val rr = clamp255((yy + 409 * e + 128) >> 8)
        val gg = clamp255((yy - 100 * d - 208 * e + 128) >> 8)
        val bb = clamp255((yy + 516 * d + 128) >> 8)
        out(r * w + c) = (rr << 16) | (gg << 8) | bb
        c += 1
      }
      r += 1
    }
    out
  }

  /** Decode a lossy WebP file to 0xRRGGBB pixels (container walk →
    * VP8 keyframe decode → house YUV→RGB). */
  def decode(p: Array[Byte]): Option[(Int, Int, Array[Int])] =
    vp8ChunkOf(p).flatMap(decodeYuv).map { case (w, h, y, u, v) =>
      (w, h, yuvToRgb(w, h, y, u, v))
    }

  // ---------------------------------------------------------------
  // synth encoder: the DC-only keyframe family the `media_features_vp8`
  // oracle replays in closed form
  // ---------------------------------------------------------------

  /** Arithmetic encoder matching the RFC 6386 bool decoder. BigInt low
    * makes carry propagation exact by construction (invariant:
    * low + range ≤ 2^(nbits+8), so `bytes` emits the fraction whole).
    * Throughput is irrelevant here — files are tiny synth fixtures. */
  private final class BoolEnc {
    private var low = BigInt(0)
    private var rng = 255
    private var nbits = 0
    def put(bit: Int, prob: Int): Unit = {
      val split = 1 + (((rng - 1) * prob) >> 8)
      if (bit != 0) { low += split; rng -= split } else rng = split
      while (rng < 128) { rng <<= 1; low <<= 1; nbits += 1 }
    }
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { put((v >> i) & 1, 128); i -= 1 }
    }
    def bytes: Array[Byte] = {
      val b = nbits + 8
      val nb = (b + 7) / 8
      val raw = (low << (nb * 8 - b)).toByteArray
      val out = new Array[Byte](nb + 2) // +2 decoder lookahead zeros
      val src = if (raw.length > nb) raw.length - nb else 0
      System.arraycopy(raw, src, out, nb - (raw.length - src),
        raw.length - src)
      out
    }
  }

  /** Emit one 4×4 block's tokens (default probabilities). `vals` is
    * natural (row-major) coefficient order. Returns the nz flag. */
  private def tokenEnc(e: BoolEnc, typ: Int, ctx0: Int, first: Int,
    vals: Array[Int]): Int = {
    val probs = Vp8Tables.coeffProbs
    val scan = new Array[Int](16)
    var n = 0
    while (n < 16) { scan(n) = vals(zigzag(n)); n += 1 }
    var last = -1
    n = first
    while (n < 16) { if (scan(n) != 0) last = n; n += 1 }
    var ctx = ctx0; var skipEob = false
    n = first
    while (n < 16) {
      val base = ((typ * 8 + kBands(n)) * 3 + ctx) * 11
      if (n > last) {
        if (!skipEob) e.put(0, probs(base))
        return if (last >= first) 1 else 0
      }
      if (!skipEob) e.put(1, probs(base))
      val v = scan(n)
      if (v == 0) { e.put(0, probs(base + 1)); ctx = 0; skipEob = true }
      else {
        e.put(1, probs(base + 1))
        val a = math.abs(v)
        if (a == 1) { e.put(0, probs(base + 2)); ctx = 1 }
        else {
          e.put(1, probs(base + 2)); ctx = 2
          if (a <= 4) {
            e.put(0, probs(base + 3))
            if (a == 2) e.put(0, probs(base + 4))
            else { e.put(1, probs(base + 4)); e.put(a - 3, probs(base + 5)) }
          } else {
            e.put(1, probs(base + 3))
            var cat = 5
            var c = 0
            while (c < 6) {
              if (a >= catBase(c) &&
                a < catBase(c) + (1 << catProbs(c).length)) { cat = c; c = 6 }
              else c += 1
            }
            if (cat <= 1) { e.put(0, probs(base + 6)); e.put(cat, probs(base + 7)) }
            else if (cat <= 3) {
              e.put(1, probs(base + 6)); e.put(0, probs(base + 8))
              e.put(cat - 2, probs(base + 9))
            } else {
              e.put(1, probs(base + 6)); e.put(1, probs(base + 8))
              e.put(cat - 4, probs(base + 10))
            }
            val cp = catProbs(cat)
            val extra = a - catBase(cat)
            var i = cp.length - 1; var j = 0
            while (i >= 0) { e.put((extra >> i) & 1, cp(j)); i -= 1; j += 1 }
          }
        }
        e.put(if (v < 0) 1 else 0, 128)
        skipEob = false
      }
      n += 1
    }
    if (last >= first) 1 else 0
  }

  /** Encode a REAL (arithmetic-coded, libwebp-decodable) VP8 keyframe
    * in the DC-only family: every MB is DC_PRED 16×16 + DC uv, loop
    * filter off, default probabilities, residuals limited to the Y2 DC
    * (per-MB `y2`) and the chroma DCs (per-MB `u`/`v`, same token in
    * all four 4×4 blocks of the plane). The whole reconstruction is
    * then closed-form — uniform per MB, DC-prediction-chained across
    * MBs — which is exactly what buys `media_features_vp8` its DuckDB
    * oracle. Returns the complete WebP container. */
  def encodeDcOnly(w: Int, h: Int, qi: Int, y2: Array[Int],
    u: Array[Int], v: Array[Int]): Array[Byte] = {
    val mbW = (w + 15) / 16; val mbH = (h + 15) / 16
    require(w > 0 && h > 0 && w < (1 << 14) && h < (1 << 14))
    require(y2.length == mbW * mbH && u.length == mbW * mbH &&
      v.length == mbW * mbH && qi >= 0 && qi < 128)
    val e1 = new BoolEnc
    e1.literal(0, 1); e1.literal(0, 1) // color space, clamping
    e1.put(0, 128) // segmentation off
    e1.literal(0, 1); e1.literal(0, 6); e1.literal(0, 3) // filter off
    e1.put(0, 128) // lf deltas off
    e1.literal(0, 2) // one token partition
    e1.literal(qi, 7)
    var i = 0
    while (i < 5) { e1.put(0, 128); i += 1 } // no quant deltas
    e1.literal(1, 1) // refresh entropy
    i = 0
    while (i < 1056) { e1.put(0, Vp8Tables.coeffUpdateProbs(i)); i += 1 }
    e1.put(0, 128) // mb_no_coeff_skip = 0: no per-MB skip bits
    var k = 0
    while (k < mbW * mbH) {
      e1.put(1, 145); e1.put(0, 156); e1.put(0, 163) // DC_PRED 16x16
      e1.put(0, 142) // DC chroma
      k += 1
    }
    val part1 = e1.bytes

    val e2 = new BoolEnc
    val aY2 = new Array[Int](mbW)
    val aU = new Array[Int](mbW * 2); val aV = new Array[Int](mbW * 2)
    val blockVals = new Array[Int](16)
    var my = 0
    while (my < mbH) {
      var lY2 = 0
      val lU = new Array[Int](2); val lV = new Array[Int](2)
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        java.util.Arrays.fill(blockVals, 0)
        blockVals(0) = y2(mi)
        val nz2 = tokenEnc(e2, 1, aY2(mx) + lY2, 0, blockVals)
        aY2(mx) = nz2; lY2 = nz2
        blockVals(0) = 0
        var b = 0
        while (b < 16) { tokenEnc(e2, 0, 0, 1, blockVals); b += 1 }
        // Y nz trackers stay 0 (no luma AC tokens in this family)
        var pl = 0
        while (pl < 2) {
          val tok = if (pl == 0) u(mi) else v(mi)
          val aC = if (pl == 0) aU else aV
          val lC = if (pl == 0) lU else lV
          blockVals(0) = tok
          var r = 0
          while (r < 2) {
            var c = 0
            while (c < 2) {
              val nz = tokenEnc(e2, 2, aC(mx * 2 + c) + lC(r), 0, blockVals)
              aC(mx * 2 + c) = nz; lC(r) = nz
              c += 1
            }
            r += 1
          }
          blockVals(0) = 0
          pl += 1
        }
        mx += 1
      }
      my += 1
    }
    val part2 = e2.bytes

    val tag = (1 << 4) | (part1.length << 5) // keyframe, show, size
    val hdr = Array[Byte](tag.toByte, (tag >> 8).toByte, (tag >> 16).toByte,
      0x9d.toByte, 0x01, 0x2a,
      (w & 0xff).toByte, ((w >> 8) & 0x3f).toByte,
      (h & 0xff).toByte, ((h >> 8) & 0x3f).toByte)
    val vp8 = hdr ++ part1 ++ part2
    val n = vp8.length
    val pad = if (n % 2 == 1) 1 else 0
    val out = java.nio.ByteBuffer.allocate(12 + 8 + n + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + n + pad)
      .put("WEBP".getBytes("US-ASCII"))
      .put("VP8 ".getBytes("US-ASCII")).putInt(n).put(vp8)
    out.array()
  }
}
