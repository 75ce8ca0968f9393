package graft.multimodal

/** RFC 6386 VP8 keyframe (intra) decoder — the LOSSY WebP codec, the
  * majority profile of real-crawl WebP (`cwebp`'s default output). No
  * media library: the boolean arithmetic decoder, keyframe header
  * (segmentation, filter params, token partitions, quantizers,
  * coefficient-probability updates), intra prediction (all 16x16 and
  * chroma modes plus the ten 4x4 B_PRED modes with the spec's
  * above-right reuse quirk), token-tree coefficient decode,
  * dequantization, inverse DCT/WHT, and the normal+simple loop filters
  * are implemented from the published spec; the default probability
  * tables live in [[Vp8Tables]].
  *
  * Exactness: pinned BYTE-EXACT against the system libwebp's own decode
  * of its own encodes (src/test/resources/vp8 vectors, Vp8Spec) —
  * libwebp is the de-facto display truth for WebP in every browser. The
  * pin covers the raw reconstruction (Y/U/V planes after the loop
  * filter) and the displayed RGBA ([[Vp8Yuv]] mirrors libwebp's fancy
  * chroma upsampling and fixed-point YUV→RGB arithmetic).
  *
  * Intra prediction reads the UNFILTERED reconstruction (the loop
  * filter runs as a whole-frame pass afterwards, raster order, in
  * place — exactly the spec's data flow for a keyframe).
  *
  * Fuzz contract (FuzzSpec): hostile bytes fail by NAME
  * ("media <id>: cause") — never an index error or unbounded loop. The
  * bool decoder tolerates the spec-ambient implicit zero padding at a
  * partition's end but fails by name past a 16-byte margin.
  */
private[graft] object Vp8 {

  import Multimodal.MaxDecodePixels

  private def fail(id: Long, msg: String): Nothing =
    throw new IllegalArgumentException(s"media $id: $msg")

  private def check(ok: Boolean, id: Long, msg: => String): Unit =
    if (!ok) fail(id, msg)

  // ------------------------------------------------------------------
  // boolean arithmetic decoder (RFC 6386 §7.3)
  // ------------------------------------------------------------------

  private[multimodal] final class BoolDec(id: Long, p: Array[Byte],
                                          start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var value = 0
    private var bitCount = 0
    private var zeros = 0
    value = (next() << 8) | next()

    private def next(): Int =
      if (pos < end) { val b = p(pos) & 0xFF; pos += 1; b }
      else {
        // spec-ambient implicit zero padding; a gross overrun is hostile
        zeros += 1
        check(zeros <= 16, id, "VP8 bool decoder ran past its partition")
        0
      }

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      var ret = 0
      if (value >= bigSplit) { ret = 1; range -= split; value -= bigSplit }
      else range = split
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= next() }
      }
      ret
    }

    /** n-bit unsigned literal, MSB first (probability-128 bools). */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }

    /** flag + n-bit magnitude + sign — the header's signed deltas. */
    def signedOpt(n: Int): Int =
      if (bool(128) == 0) 0
      else {
        val mag = literal(n)
        if (bool(128) == 1) -mag else mag
      }

    /** Tree read (§8.2): internal nodes are positive indices, leaves
      * negated values (leaf 0 — DC_PRED/DCT_0 — terminates too). The
      * probability array is indexed at `probOff + (node >> 1)`. */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int): Int = {
      var i = t(bool(probs(probOff)))
      while (i > 0) i = t(i + bool(probs(probOff + (i >> 1))))
      -i
    }
  }

  // ------------------------------------------------------------------
  // trees + small tables (RFC 6386 §8.2, §11.2, §13.2)
  // ------------------------------------------------------------------

  import Vp8Tables.{Bands, BModeTree, CatBase, CatProbs, CoeffTree,
    KfUvModeProb, KfYModeProb, KfYModeTree, UvModeTree, Zigzag}

  private val SegmentTree = Array(2, 4, 0, -1, -2, -3)

  private def clip127(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v
  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ------------------------------------------------------------------
  // frame + header state
  // ------------------------------------------------------------------

  private final class Frame(val w: Int, val h: Int) {
    val mbW: Int = (w + 15) / 16
    val mbH: Int = (h + 15) / 16
    val yStride: Int = mbW * 16
    val uvStride: Int = mbW * 8
    val yPlane = new Array[Byte](yStride * mbH * 16)
    val uPlane = new Array[Byte](uvStride * mbH * 8)
    val vPlane = new Array[Byte](uvStride * mbH * 8)
    val ymode = new Array[Byte](mbW * mbH) // 0..3, 4 = B_PRED
    val uvmode = new Array[Byte](mbW * mbH)
    val bmodes = new Array[Byte](mbW * mbH * 16)
    val segment = new Array[Byte](mbW * mbH)
    val skip = new Array[Boolean](mbW * mbH)
    val hasCoeffs = new Array[Boolean](mbW * mbH)
  }

  private final class Header {
    var segmentationEnabled = false
    var updateMap = false
    var absDelta = false
    val segQuant = new Array[Int](4)
    val segFilter = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    var filterType = 0 // 0 = normal, 1 = simple
    var filterLevel = 0
    var sharpness = 0
    var lfDeltaEnabled = false
    val refLfDelta = new Array[Int](4)
    val modeLfDelta = new Array[Int](4)
    var yacQi = 0
    var y1dcDelta = 0
    var y2dcDelta = 0
    var y2acDelta = 0
    var uvdcDelta = 0
    var uvacDelta = 0
    var noCoeffSkip = false
    var probSkipFalse = 0
    val coeffProbs: Array[Int] = Vp8Tables.CoeffProbs.clone()
  }

  /** Per-segment dequant factors: y1dc y1ac y2dc y2ac uvdc uvac. */
  private def dequantFactors(hdr: Header): Array[Array[Int]] = {
    val out = new Array[Array[Int]](4)
    var s = 0
    while (s < 4) {
      val base =
        if (!hdr.segmentationEnabled) hdr.yacQi
        else if (hdr.absDelta) hdr.segQuant(s)
        else hdr.yacQi + hdr.segQuant(s)
      val q = clip127(base)
      val y1dc = Vp8Tables.DcQLookup(clip127(q + hdr.y1dcDelta))
      val y1ac = Vp8Tables.AcQLookup(q)
      val y2dc = Vp8Tables.DcQLookup(clip127(q + hdr.y2dcDelta)) * 2
      var y2ac = Vp8Tables.AcQLookup(clip127(q + hdr.y2acDelta)) * 155 / 100
      if (y2ac < 8) y2ac = 8
      // the chroma DC index is clamped to 117 (dc_qlookup(117) = 132,
      // the spec's "chroma DC quantizer never exceeds 132")
      val uvdcIdx = { val i = q + hdr.uvdcDelta
        if (i < 0) 0 else if (i > 117) 117 else i }
      val uvdc = Vp8Tables.DcQLookup(uvdcIdx)
      val uvac = Vp8Tables.AcQLookup(clip127(q + hdr.uvacDelta))
      out(s) = Array(y1dc, y1ac, y2dc, y2ac, uvdc, uvac)
      s += 1
    }
    out
  }

  // ------------------------------------------------------------------
  // public entry
  // ------------------------------------------------------------------

  /** Decode the VP8 chunk payload [start, end) → (w, h, y, u, v)
    * planes (y is w*h; u/v are ceil(w/2) * ceil(h/2)), loop-filtered —
    * the displayed reconstruction. */
  def decodeYuv(id: Long, p: Array[Byte], start: Int,
                end: Int): (Int, Int, Array[Byte], Array[Byte], Array[Byte]) = {
    check(end - start >= 10, id, "truncated VP8 frame header")
    val tag = (p(start) & 0xFF) | ((p(start + 1) & 0xFF) << 8) |
      ((p(start + 2) & 0xFF) << 16)
    check((tag & 1) == 0, id, "VP8 interframe without a keyframe (codec VP8)")
    val version = (tag >> 1) & 7
    check(version <= 3, id, s"reserved VP8 version $version")
    val firstPartSize = tag >> 5
    check((p(start + 3) & 0xFF) == 0x9D && (p(start + 4) & 0xFF) == 0x01 &&
      (p(start + 5) & 0xFF) == 0x2A, id, "VP8 keyframe start code missing")
    val w = ((p(start + 6) & 0xFF) | ((p(start + 7) & 0xFF) << 8)) & 0x3FFF
    val h = ((p(start + 8) & 0xFF) | ((p(start + 9) & 0xFF) << 8)) & 0x3FFF
    check(w > 0 && h > 0, id, "VP8 frame with zero dimension")
    check(w.toLong * h <= MaxDecodePixels, id,
      s"VP8 frame ${w}x$h exceeds the decode bound")
    val part0 = start + 10
    check(firstPartSize >= 0 && part0 + firstPartSize <= end, id,
      "truncated VP8 first partition")
    val bd = new BoolDec(id, p, part0, part0 + firstPartSize)

    val hdr = new Header
    bd.literal(1) // color space
    bd.literal(1) // clamping type
    parseSegmentation(bd, hdr)
    hdr.filterType = bd.literal(1)
    hdr.filterLevel = bd.literal(6)
    hdr.sharpness = bd.literal(3)
    parseLfDeltas(bd, hdr)
    val nParts = 1 << bd.literal(2)
    val sizesAt = part0 + firstPartSize
    check(sizesAt + 3 * (nParts - 1) <= end, id,
      "truncated VP8 partition size table")
    val parts = new Array[BoolDec](nParts)
    var off = sizesAt + 3 * (nParts - 1)
    var pi = 0
    while (pi < nParts) {
      val sz =
        if (pi == nParts - 1) end - off
        else (p(sizesAt + 3 * pi) & 0xFF) |
          ((p(sizesAt + 3 * pi + 1) & 0xFF) << 8) |
          ((p(sizesAt + 3 * pi + 2) & 0xFF) << 16)
      check(sz >= 0 && off + sz <= end, id, s"truncated VP8 token partition $pi")
      parts(pi) = new BoolDec(id, p, off, off + sz)
      off += sz
      pi += 1
    }
    hdr.yacQi = bd.literal(7)
    hdr.y1dcDelta = bd.signedOpt(4)
    hdr.y2dcDelta = bd.signedOpt(4)
    hdr.y2acDelta = bd.signedOpt(4)
    hdr.uvdcDelta = bd.signedOpt(4)
    hdr.uvacDelta = bd.signedOpt(4)
    bd.literal(1) // refresh entropy probs (no effect within one keyframe)
    var t = 0
    while (t < 4 * 8 * 3 * 11) {
      if (bd.bool(Vp8Tables.CoeffUpdateProbs(t)) == 1)
        hdr.coeffProbs(t) = bd.literal(8)
      t += 1
    }
    hdr.noCoeffSkip = bd.literal(1) == 1
    if (hdr.noCoeffSkip) hdr.probSkipFalse = bd.literal(8)

    val fr = new Frame(w, h)
    parseModes(bd, hdr, fr)
    decodeAndReconstruct(id, hdr, fr, parts)
    if (hdr.filterLevel > 0) loopFilter(hdr, fr)

    val uw = (w + 1) / 2; val uh = (h + 1) / 2
    val y = new Array[Byte](w * h)
    val u = new Array[Byte](uw * uh)
    val v = new Array[Byte](uw * uh)
    var r = 0
    while (r < h) {
      System.arraycopy(fr.yPlane, r * fr.yStride, y, r * w, w); r += 1
    }
    r = 0
    while (r < uh) {
      System.arraycopy(fr.uPlane, r * fr.uvStride, u, r * uw, uw)
      System.arraycopy(fr.vPlane, r * fr.uvStride, v, r * uw, uw)
      r += 1
    }
    (w, h, y, u, v)
  }

  /** Decode to RGBA as DISPLAYED: [[decodeYuv]] + libwebp's fancy chroma
    * upsampler + its fixed-point YUV→RGB — the arithmetic every browser
    * shows for lossy WebP (pinned byte-exact by the Vp8Spec vectors).
    * Alpha is opaque (the ALPH chunk is a separate named bucket). */
  def decodeRgba(id: Long, p: Array[Byte], start: Int,
                 end: Int): (Int, Int, Array[Byte]) = {
    val (w, h, y, u, v) = decodeYuv(id, p, start, end)
    (w, h, yuvToRgbaFancy(w, h, y, u, v))
  }

  /** Fancy 4:2:0 chroma upsampling + YUV→RGB, mirroring libwebp's exact
    * integer arithmetic: per output pixel the chroma value is
    * ((nn + 3*nf + 3*fn + ff + 8) >> 3 + nn) >> 1 over the four nearest
    * chroma samples (nn nearest, ff farthest; indices edge-clamped), and
    * the colorspace transform is the fixed-point
    * r = clip8((19077*y >> 8) + (26149*v >> 8) - 14234)
    * g = clip8((19077*y >> 8) - (6419*u >> 8) - (13320*v >> 8) + 8708)
    * b = clip8((19077*y >> 8) + (33050*u >> 8) - 17685)
    * with clip8(x) = clamp(x >> 6, 0, 255). */
  private def yuvToRgbaFancy(w: Int, h: Int, y: Array[Byte],
                             u: Array[Byte], v: Array[Byte]): Array[Byte] = {
    val uw = (w + 1) / 2; val uh = (h + 1) / 2
    val out = new Array[Byte](w * h * 4)
    def clip8(x: Int): Int = { val s = x >> 6; if (s < 0) 0 else if (s > 255) 255 else s }
    var j = 0
    while (j < h) {
      val nyr = j >> 1
      val fyr0 = if ((j & 1) == 1) nyr + 1 else nyr - 1
      val fyr = if (fyr0 < 0) 0 else if (fyr0 > uh - 1) uh - 1 else fyr0
      var i = 0
      while (i < w) {
        val nxc = i >> 1
        val fxc0 = if ((i & 1) == 1) nxc + 1 else nxc - 1
        val fxc = if (fxc0 < 0) 0 else if (fxc0 > uw - 1) uw - 1 else fxc0
        def up(c: Array[Byte]): Int = {
          val nn = c(nyr * uw + nxc) & 0xFF
          val nf = c(nyr * uw + fxc) & 0xFF
          val fn = c(fyr * uw + nxc) & 0xFF
          val ff = c(fyr * uw + fxc) & 0xFF
          (((nn + 3 * nf + 3 * fn + ff + 8) >> 3) + nn) >> 1
        }
        val uu = up(u); val vv = up(v)
        val yy = (y(j * w + i) & 0xFF) * 19077 >> 8
        val o = (j * w + i) * 4
        out(o) = clip8(yy + (26149 * vv >> 8) - 14234).toByte
        out(o + 1) = clip8(yy - (6419 * uu >> 8) - (13320 * vv >> 8) + 8708).toByte
        out(o + 2) = clip8(yy + (33050 * uu >> 8) - 17685).toByte
        out(o + 3) = -1 // opaque
        i += 1
      }
      j += 1
    }
    out
  }

  private def parseSegmentation(bd: BoolDec, hdr: Header): Unit = {
    hdr.segmentationEnabled = bd.literal(1) == 1
    if (!hdr.segmentationEnabled) return
    hdr.updateMap = bd.literal(1) == 1
    val updateData = bd.literal(1) == 1
    if (updateData) {
      hdr.absDelta = bd.literal(1) == 1
      var i = 0
      while (i < 4) { hdr.segQuant(i) = bd.signedOpt(7); i += 1 }
      i = 0
      while (i < 4) { hdr.segFilter(i) = bd.signedOpt(6); i += 1 }
    }
    if (hdr.updateMap) {
      var i = 0
      while (i < 3) {
        hdr.segTreeProbs(i) = if (bd.literal(1) == 1) bd.literal(8) else 255
        i += 1
      }
    }
  }

  private def parseLfDeltas(bd: BoolDec, hdr: Header): Unit = {
    hdr.lfDeltaEnabled = bd.literal(1) == 1
    if (hdr.lfDeltaEnabled && bd.literal(1) == 1) {
      var i = 0
      while (i < 4) { hdr.refLfDelta(i) = bd.signedOpt(6); i += 1 }
      i = 0
      while (i < 4) { hdr.modeLfDelta(i) = bd.signedOpt(6); i += 1 }
    }
  }

  // ------------------------------------------------------------------
  // per-MB mode records (first partition, raster order)
  // ------------------------------------------------------------------

  private def parseModes(bd: BoolDec, hdr: Header, fr: Frame): Unit = {
    val mbW = fr.mbW
    var my = 0
    while (my < fr.mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        if (hdr.segmentationEnabled && hdr.updateMap)
          fr.segment(mi) = bd.tree(SegmentTree, hdr.segTreeProbs, 0).toByte
        if (hdr.noCoeffSkip) fr.skip(mi) = bd.bool(hdr.probSkipFalse) == 1
        val ym = bd.tree(KfYModeTree, KfYModeProb, 0)
        fr.ymode(mi) = ym.toByte
        if (ym == 4) { // B_PRED: 16 sub-modes, (above, left)-context probs
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above: Int =
              if (sy > 0) fr.bmodes(mi * 16 + sb - 4)
              else if (my > 0) fr.bmodes((mi - mbW) * 16 + 12 + sx)
              else 0 // B_DC_PRED outside the frame
            val left: Int =
              if (sx > 0) fr.bmodes(mi * 16 + sb - 1)
              else if (mx > 0) fr.bmodes((mi - 1) * 16 + sb + 3)
              else 0
            fr.bmodes(mi * 16 + sb) = bd.tree(BModeTree,
              Vp8Tables.KfBModeProbs, (above * 10 + left) * 9).toByte
            sb += 1
          }
        } else {
          // non-B_PRED keyframe MBs predict sub-modes implicitly: the
          // 16x16 mode maps to the matching B mode for neighbor context
          val mapped = ym match {
            case 0 => 0 // DC -> B_DC
            case 1 => 2 // V  -> B_VE
            case 2 => 3 // H  -> B_HE
            case _ => 1 // TM -> B_TM
          }
          java.util.Arrays.fill(fr.bmodes, mi * 16, mi * 16 + 16,
            mapped.toByte)
        }
        fr.uvmode(mi) = bd.tree(UvModeTree, KfUvModeProb, 0).toByte
        mx += 1
      }
      my += 1
    }
  }

  // ------------------------------------------------------------------
  // coefficient decode + reconstruction (token partitions, MB raster)
  // ------------------------------------------------------------------

  private def decodeAndReconstruct(id: Long, hdr: Header, fr: Frame,
                                   parts: Array[BoolDec]): Unit = {
    val dq = dequantFactors(hdr)
    val mbW = fr.mbW
    // nonzero contexts: 0/1 per neighbor block. Above arrays span the MB
    // row; left arrays reset per row start.
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val aboveNzY2 = new Array[Int](mbW)
    val leftNzY = new Array[Int](4)
    val leftNzU = new Array[Int](2)
    val leftNzV = new Array[Int](2)
    var leftNzY2 = 0
    val coeffs = new Array[Int](25 * 16) // 16 Y + 4 U + 4 V + Y2 at 24
    val nzGrid = new Array[Int](24) // per-block nz of the current MB
    val whtOut = new Array[Int](16)
    var my = 0
    while (my < fr.mbH) {
      java.util.Arrays.fill(leftNzY, 0)
      java.util.Arrays.fill(leftNzU, 0)
      java.util.Arrays.fill(leftNzV, 0)
      leftNzY2 = 0
      val bd = parts(my % parts.length)
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val isB = fr.ymode(mi) == 4
        java.util.Arrays.fill(coeffs, 0)
        var anyNz = false
        if (fr.skip(mi)) {
          // skipped MB: zero every nonzero context; the Y2 context
          // persists across a skipped B_PRED MB (it has no Y2 block)
          var k = 0
          while (k < 4) { aboveNzY(mx * 4 + k) = 0; leftNzY(k) = 0; k += 1 }
          k = 0
          while (k < 2) {
            aboveNzU(mx * 2 + k) = 0; leftNzU(k) = 0
            aboveNzV(mx * 2 + k) = 0; leftNzV(k) = 0
            k += 1
          }
          if (!isB) { aboveNzY2(mx) = 0; leftNzY2 = 0 }
        } else {
          val q = dq(fr.segment(mi))
          var firstCoeff = 0
          if (!isB) {
            val ctx = aboveNzY2(mx) + leftNzY2
            val nz = decodeBlock(bd, hdr, coeffs, 24 * 16, 1, ctx, 0,
              q(2), q(3))
            val b = if (nz > 0) 1 else 0
            aboveNzY2(mx) = b; leftNzY2 = b
            if (b == 1) anyNz = true
            firstCoeff = 1
          }
          val yPlaneType = if (isB) 3 else 0
          var sb = 0
          while (sb < 16) {
            val bx = sb & 3; val by = sb >> 2
            val above = if (by > 0) nzGrid(sb - 4)
              else aboveNzY(mx * 4 + bx)
            val left = if (bx > 0) nzGrid(sb - 1)
              else leftNzY(by)
            val nz = decodeBlock(bd, hdr, coeffs, sb * 16, yPlaneType,
              above + left, firstCoeff, q(0), q(1))
            val b = if (nz > 0) 1 else 0
            nzGrid(sb) = b
            if (b == 1) anyNz = true
            sb += 1
          }
          // fold the 4x4 nz grid back into the row contexts
          var k = 0
          while (k < 4) {
            aboveNzY(mx * 4 + k) = nzGrid(12 + k) // bottom row
            leftNzY(k) = nzGrid(k * 4 + 3) // right column
            k += 1
          }
          // chroma blocks: U (16..19), V (20..23), 2x2 grids
          var pl = 0
          while (pl < 2) {
            val aboveArr = if (pl == 0) aboveNzU else aboveNzV
            val leftArr = if (pl == 0) leftNzU else leftNzV
            var cb = 0
            while (cb < 4) {
              val bx = cb & 1; val by = cb >> 1
              val above = if (by > 0) nzGrid(16 + pl * 4 + cb - 2)
                else aboveArr(mx * 2 + bx)
              val left = if (bx > 0) nzGrid(16 + pl * 4 + cb - 1)
                else leftArr(by)
              val nz = decodeBlock(bd, hdr, coeffs, (16 + pl * 4 + cb) * 16,
                2, above + left, 0, q(4), q(5))
              val b = if (nz > 0) 1 else 0
              nzGrid(16 + pl * 4 + cb) = b
              if (b == 1) anyNz = true
              cb += 1
            }
            var k2 = 0
            while (k2 < 2) {
              aboveArr(mx * 2 + k2) = nzGrid(16 + pl * 4 + 2 + k2)
              leftArr(k2) = nzGrid(16 + pl * 4 + k2 * 2 + 1)
              k2 += 1
            }
            pl += 1
          }
          if (!isB) {
            // distribute the inverse WHT of Y2 into the 16 luma DCs
            inverseWht(coeffs, 24 * 16, whtOut)
            var b = 0
            while (b < 16) { coeffs(b * 16) = whtOut(b); b += 1 }
          }
        }
        fr.hasCoeffs(mi) = anyNz
        reconstructMb(fr, mi, mx, my, coeffs, isB)
        mx += 1
      }
      my += 1
    }
  }

  /** One 4x4 block's tokens → dequantized coefficients in natural order
    * at out[outOff..+16); returns 1 + index of the last nonzero coeff
    * (0 = all zero). */
  private def decodeBlock(bd: BoolDec, hdr: Header, out: Array[Int],
                          outOff: Int, planeType: Int, ctx0: Int,
                          firstCoeff: Int, dcQ: Int, acQ: Int): Int = {
    var n = firstCoeff
    var ctx = ctx0
    var lastNz = 0
    var skipEob = false
    val probs = hdr.coeffProbs
    while (n < 16) {
      val base = ((planeType * 8) + Bands(n)) * 33 + ctx * 11
      val tok =
        if (skipEob) { // after a zero token EOB is structurally impossible
          var i = CoeffTree(2 + bd.bool(probs(base + 1)))
          while (i > 0) i = CoeffTree(i + bd.bool(probs(base + (i >> 1))))
          -i
        } else bd.tree(CoeffTree, probs, base)
      if (tok == 11) return lastNz // EOB
      if (tok == 0) {
        skipEob = true
        ctx = 0
        n += 1
      } else {
        skipEob = false
        val absV =
          if (tok <= 4) tok
          else {
            val cat = tok - 5
            val cp = CatProbs(cat)
            var extra = 0
            var i = 0
            while (i < cp.length) { extra = (extra << 1) | bd.bool(cp(i)); i += 1 }
            CatBase(cat) + extra
          }
        val v = if (bd.bool(128) == 1) -absV else absV
        val pos = Zigzag(n)
        out(outOff + pos) = v * (if (pos == 0) dcQ else acQ)
        lastNz = n + 1
        ctx = if (tok == 1) 1 else 2
        n += 1
      }
    }
    lastNz
  }

  // ------------------------------------------------------------------
  // inverse transforms (RFC 6386 §14.2/14.3, exact integer arithmetic)
  // ------------------------------------------------------------------

  /** Inverse WHT of the Y2 block at in[off..+16) → `out`. */
  private def inverseWht(in: Array[Int], off: Int, out: Array[Int]): Unit = {
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(off + i) + in(off + 12 + i)
      val b1 = in(off + 4 + i) + in(off + 8 + i)
      val c1 = in(off + 4 + i) - in(off + 8 + i)
      val d1 = in(off + i) - in(off + 12 + i)
      tmp(i) = a1 + b1
      tmp(4 + i) = c1 + d1
      tmp(8 + i) = a1 - b1
      tmp(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val a1 = tmp(i * 4) + tmp(i * 4 + 3)
      val b1 = tmp(i * 4 + 1) + tmp(i * 4 + 2)
      val c1 = tmp(i * 4 + 1) - tmp(i * 4 + 2)
      val d1 = tmp(i * 4) - tmp(i * 4 + 3)
      out(i * 4) = (a1 + b1 + 3) >> 3
      out(i * 4 + 1) = (c1 + d1 + 3) >> 3
      out(i * 4 + 2) = (a1 - b1 + 3) >> 3
      out(i * 4 + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  /** Inverse 4x4 DCT of in[off..+16), ADDED into the plane at
    * (px, py), clamped. */
  private def idctAdd(plane: Array[Byte], stride: Int, px: Int, py: Int,
                      in: Array[Int], off: Int): Unit = {
    val c1 = 20091 // cos(pi/8)*sqrt(2) - 1, Q16
    val c2 = 35468 // sin(pi/8)*sqrt(2), Q16
    val tmp = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = in(off + i) + in(off + 8 + i)
      val b1 = in(off + i) - in(off + 8 + i)
      val t1 = ((in(off + 4 + i) * c2) >> 16) -
        (in(off + 12 + i) + ((in(off + 12 + i) * c1) >> 16))
      val t2 = (in(off + 4 + i) + ((in(off + 4 + i) * c1) >> 16)) +
        ((in(off + 12 + i) * c2) >> 16)
      tmp(i) = a1 + t2
      tmp(12 + i) = a1 - t2
      tmp(4 + i) = b1 + t1
      tmp(8 + i) = b1 - t1
      i += 1
    }
    i = 0
    while (i < 4) {
      val a1 = tmp(i * 4) + tmp(i * 4 + 2)
      val b1 = tmp(i * 4) - tmp(i * 4 + 2)
      val t1 = ((tmp(i * 4 + 1) * c2) >> 16) -
        (tmp(i * 4 + 3) + ((tmp(i * 4 + 3) * c1) >> 16))
      val t2 = (tmp(i * 4 + 1) + ((tmp(i * 4 + 1) * c1) >> 16)) +
        ((tmp(i * 4 + 3) * c2) >> 16)
      val row = (py + i) * stride + px
      plane(row) = clamp255((plane(row) & 0xFF) + ((a1 + t2 + 4) >> 3)).toByte
      plane(row + 1) = clamp255((plane(row + 1) & 0xFF) + ((b1 + t1 + 4) >> 3)).toByte
      plane(row + 2) = clamp255((plane(row + 2) & 0xFF) + ((b1 - t1 + 4) >> 3)).toByte
      plane(row + 3) = clamp255((plane(row + 3) & 0xFF) + ((a1 - t2 + 4) >> 3)).toByte
      i += 1
    }
  }

  // ------------------------------------------------------------------
  // intra prediction + reconstruction
  // ------------------------------------------------------------------

  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

  /** Reconstruct one macroblock: intra-predict (16x16 or per-4x4), add
    * residuals. Prediction reads the unfiltered planes directly. */
  private def reconstructMb(fr: Frame, mi: Int, mx: Int, my: Int,
                            coeffs: Array[Int], isB: Boolean): Unit = {
    val ys = fr.yStride
    val y0x = mx * 16; val y0y = my * 16
    if (!isB) {
      predictBlock(fr.yPlane, ys, y0x, y0y, 16, fr.ymode(mi), mx, my)
      var sb = 0
      while (sb < 16) {
        idctAdd(fr.yPlane, ys, y0x + (sb & 3) * 4, y0y + (sb >> 2) * 4,
          coeffs, sb * 16)
        sb += 1
      }
    } else {
      // B_PRED: predict + add per subblock in order (later subblocks
      // read earlier reconstructed pixels)
      // capture the above-right samples ONCE from the MB-above row: the
      // spec reuses them for every right-column subblock below row 0
      val tr = new Array[Int](4)
      var k = 0
      while (k < 4) {
        tr(k) =
          if (my == 0) 127
          // rightmost MB column: REPLICATE the last sample of the above
          // row (not 127) — the reference replicates the frame edge
          else if (mx == fr.mbW - 1)
            fr.yPlane((y0y - 1) * ys + y0x + 15) & 0xFF
          else fr.yPlane((y0y - 1) * ys + y0x + 16 + k) & 0xFF
        k += 1
      }
      var sb = 0
      while (sb < 16) {
        val sx = sb & 3; val sy = sb >> 2
        predict4(fr, mx, my, sx, sy, fr.bmodes(mi * 16 + sb), tr)
        idctAdd(fr.yPlane, ys, y0x + sx * 4, y0y + sy * 4, coeffs, sb * 16)
        sb += 1
      }
    }
    val us = fr.uvStride
    val c0x = mx * 8; val c0y = my * 8
    predictBlock(fr.uPlane, us, c0x, c0y, 8, fr.uvmode(mi), mx, my)
    predictBlock(fr.vPlane, us, c0x, c0y, 8, fr.uvmode(mi), mx, my)
    var cb = 0
    while (cb < 4) {
      val bx = (cb & 1) * 4; val by = (cb >> 1) * 4
      idctAdd(fr.uPlane, us, c0x + bx, c0y + by, coeffs, (16 + cb) * 16)
      idctAdd(fr.vPlane, us, c0x + bx, c0y + by, coeffs, (20 + cb) * 16)
      cb += 1
    }
  }

  /** Whole-block intra prediction (16x16 luma or 8x8 chroma):
    * DC/V/H/TM with the spec's edge defaults (above = 127, left = 129,
    * above-left = 127 on the top row else 129). */
  private def predictBlock(plane: Array[Byte], stride: Int, x0: Int,
                           y0: Int, size: Int, mode: Int, mx: Int,
                           my: Int): Unit = {
    val hasA = my > 0
    val hasL = mx > 0
    def aPx(i: Int): Int =
      if (hasA) plane((y0 - 1) * stride + x0 + i) & 0xFF else 127
    def lPx(i: Int): Int =
      if (hasL) plane((y0 + i) * stride + x0 - 1) & 0xFF else 129
    val tl = if (!hasA) 127 else if (!hasL) 129
      else plane((y0 - 1) * stride + x0 - 1) & 0xFF
    mode match {
      case 0 => // DC
        var sum = 0
        var shift = if (size == 16) 3 else 2
        var dc = 128
        if (hasA && hasL) {
          var i = 0
          while (i < size) { sum += aPx(i) + lPx(i); i += 1 }
          dc = (sum + (1 << (shift + 1))) >> (shift + 2)
        } else if (hasA) {
          var i = 0
          while (i < size) { sum += aPx(i); i += 1 }
          dc = (sum + (1 << shift)) >> (shift + 1)
        } else if (hasL) {
          var i = 0
          while (i < size) { sum += lPx(i); i += 1 }
          dc = (sum + (1 << shift)) >> (shift + 1)
        }
        var r = 0
        while (r < size) {
          java.util.Arrays.fill(plane, (y0 + r) * stride + x0,
            (y0 + r) * stride + x0 + size, dc.toByte)
          r += 1
        }
      case 1 => // V
        var r = 0
        while (r < size) {
          var c = 0
          while (c < size) {
            plane((y0 + r) * stride + x0 + c) = aPx(c).toByte; c += 1
          }
          r += 1
        }
      case 2 => // H
        var r = 0
        while (r < size) {
          java.util.Arrays.fill(plane, (y0 + r) * stride + x0,
            (y0 + r) * stride + x0 + size, lPx(r).toByte)
          r += 1
        }
      case _ => // TM
        var r = 0
        while (r < size) {
          val l = lPx(r)
          var c = 0
          while (c < size) {
            plane((y0 + r) * stride + x0 + c) =
              clamp255(l + aPx(c) - tl).toByte
            c += 1
          }
          r += 1
        }
    }
  }

  /** 4x4 B_PRED prediction of subblock (sx, sy) of MB (mx, my), writing
    * into the luma plane. `trMb` holds the above-right samples captured
    * from the MB-above row (reused for right-column subblocks — the
    * spec's stale-above-right rule). */
  private def predict4(fr: Frame, mx: Int, my: Int, sx: Int, sy: Int,
                       mode: Int, trMb: Array[Int]): Unit = {
    val s = fr.yStride
    val pl = fr.yPlane
    val x0 = mx * 16 + sx * 4
    val y0 = my * 16 + sy * 4
    val hasA = my > 0 || sy > 0
    val hasL = mx > 0 || sx > 0
    // above A[0..7] (incl. above-right), left L[0..3], corner X
    val A = new Array[Int](8)
    var i = 0
    while (i < 4) {
      A(i) = if (hasA) pl((y0 - 1) * s + x0 + i) & 0xFF else 127
      i += 1
    }
    while (i < 8) {
      A(i) =
        if (sx == 3) trMb(i - 4) // right column: the captured MB-above row
        else if (!hasA) 127
        // interior columns: above-right pixels of the row above this
        // subblock (already reconstructed, inside this MB or its above
        // neighbor) — x0 + 7 stays within the macroblock when sx < 3
        else pl((y0 - 1) * s + x0 + i) & 0xFF
      i += 1
    }
    val L = new Array[Int](4)
    i = 0
    while (i < 4) {
      L(i) = if (hasL) pl((y0 + i) * s + x0 - 1) & 0xFF else 129
      i += 1
    }
    val X =
      if (!hasA) 127
      else if (!hasL) 129
      else pl((y0 - 1) * s + x0 - 1) & 0xFF

    @inline def set(c: Int, r: Int, v: Int): Unit =
      pl((y0 + r) * s + x0 + c) = v.toByte

    mode match {
      case 0 => // B_DC: always averages 4 above + 4 left
        var sum = 4
        var k = 0
        while (k < 4) { sum += A(k) + L(k); k += 1 }
        val dc = sum >> 3
        var r = 0
        while (r < 4) { var c = 0; while (c < 4) { set(c, r, dc); c += 1 }; r += 1 }
      case 1 => // B_TM
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { set(c, r, clamp255(L(r) + A(c) - X)); c += 1 }
          r += 1
        }
      case 2 => // B_VE: filtered vertical
        val v0 = avg3(X, A(0), A(1)); val v1 = avg3(A(0), A(1), A(2))
        val v2 = avg3(A(1), A(2), A(3)); val v3 = avg3(A(2), A(3), A(4))
        var r = 0
        while (r < 4) { set(0, r, v0); set(1, r, v1); set(2, r, v2); set(3, r, v3); r += 1 }
      case 3 => // B_HE
        val h0 = avg3(X, L(0), L(1)); val h1 = avg3(L(0), L(1), L(2))
        val h2 = avg3(L(1), L(2), L(3)); val h3 = avg3(L(2), L(3), L(3))
        var c = 0
        while (c < 4) { set(c, 0, h0); set(c, 1, h1); set(c, 2, h2); set(c, 3, h3); c += 1 }
      case 6 => // B_LD (down-left)
        set(0, 0, avg3(A(0), A(1), A(2)))
        val v1 = avg3(A(1), A(2), A(3)); set(1, 0, v1); set(0, 1, v1)
        val v2 = avg3(A(2), A(3), A(4)); set(2, 0, v2); set(1, 1, v2); set(0, 2, v2)
        val v3 = avg3(A(3), A(4), A(5)); set(3, 0, v3); set(2, 1, v3); set(1, 2, v3); set(0, 3, v3)
        val v4 = avg3(A(4), A(5), A(6)); set(3, 1, v4); set(2, 2, v4); set(1, 3, v4)
        val v5 = avg3(A(5), A(6), A(7)); set(3, 2, v5); set(2, 3, v5)
        set(3, 3, avg3(A(6), A(7), A(7)))
      case 4 => // B_RD (down-right)
        set(0, 3, avg3(L(1), L(2), L(3)))
        val v1 = avg3(L(0), L(1), L(2)); set(0, 2, v1); set(1, 3, v1)
        val v2 = avg3(X, L(0), L(1)); set(0, 1, v2); set(1, 2, v2); set(2, 3, v2)
        val v3 = avg3(A(0), X, L(0)); set(0, 0, v3); set(1, 1, v3); set(2, 2, v3); set(3, 3, v3)
        val v4 = avg3(A(1), A(0), X); set(1, 0, v4); set(2, 1, v4); set(3, 2, v4)
        val v5 = avg3(A(2), A(1), A(0)); set(2, 0, v5); set(3, 1, v5)
        set(3, 0, avg3(A(3), A(2), A(1)))
      case 5 => // B_VR (vertical-right)
        val v00 = avg2(X, A(0)); set(0, 0, v00); set(1, 2, v00)
        val v10 = avg2(A(0), A(1)); set(1, 0, v10); set(2, 2, v10)
        val v20 = avg2(A(1), A(2)); set(2, 0, v20); set(3, 2, v20)
        set(3, 0, avg2(A(2), A(3)))
        set(0, 3, avg3(L(2), L(1), L(0)))
        set(0, 2, avg3(L(1), L(0), X))
        val v01 = avg3(L(0), X, A(0)); set(0, 1, v01); set(1, 3, v01)
        val v11 = avg3(X, A(0), A(1)); set(1, 1, v11); set(2, 3, v11)
        val v21 = avg3(A(0), A(1), A(2)); set(2, 1, v21); set(3, 3, v21)
        set(3, 1, avg3(A(1), A(2), A(3)))
      case 7 => // B_VL (vertical-left)
        set(0, 0, avg2(A(0), A(1)))
        set(0, 1, avg3(A(0), A(1), A(2)))
        val v20 = avg2(A(1), A(2)); set(0, 2, v20); set(1, 0, v20)
        val v30 = avg3(A(1), A(2), A(3)); set(0, 3, v30); set(1, 1, v30)
        val v21 = avg2(A(2), A(3)); set(1, 2, v21); set(2, 0, v21)
        val v31 = avg3(A(2), A(3), A(4)); set(1, 3, v31); set(2, 1, v31)
        val v22 = avg2(A(3), A(4)); set(2, 2, v22); set(3, 0, v22)
        val v32 = avg3(A(3), A(4), A(5)); set(2, 3, v32); set(3, 1, v32)
        set(3, 2, avg3(A(4), A(5), A(6)))
        set(3, 3, avg3(A(5), A(6), A(7)))
      case 8 => // B_HD (horizontal-down)
        val v00 = avg2(L(0), X); set(0, 0, v00); set(2, 1, v00)
        val v01 = avg2(L(1), L(0)); set(0, 1, v01); set(2, 2, v01)
        val v02 = avg2(L(2), L(1)); set(0, 2, v02); set(2, 3, v02)
        set(0, 3, avg2(L(3), L(2)))
        set(3, 0, avg3(A(2), A(1), A(0)))
        set(2, 0, avg3(A(1), A(0), X))
        val v10 = avg3(A(0), X, L(0)); set(1, 0, v10); set(3, 1, v10)
        val v11 = avg3(X, L(0), L(1)); set(1, 1, v11); set(3, 2, v11)
        val v12 = avg3(L(0), L(1), L(2)); set(1, 2, v12); set(3, 3, v12)
        set(1, 3, avg3(L(1), L(2), L(3)))
      case _ => // B_HU (horizontal-up)
        set(0, 0, avg2(L(0), L(1)))
        set(1, 0, avg3(L(0), L(1), L(2)))
        val v20 = avg2(L(1), L(2)); set(2, 0, v20); set(0, 1, v20)
        val v30 = avg3(L(1), L(2), L(3)); set(3, 0, v30); set(1, 1, v30)
        val v21 = avg2(L(2), L(3)); set(2, 1, v21); set(0, 2, v21)
        val v31 = avg3(L(2), L(3), L(3)); set(3, 1, v31); set(1, 2, v31)
        val l3 = L(3)
        set(2, 2, l3); set(3, 2, l3)
        set(0, 3, l3); set(1, 3, l3); set(2, 3, l3); set(3, 3, l3)
    }
  }

  // ------------------------------------------------------------------
  // loop filter (RFC 6386 §15) — whole-frame pass, raster order
  // ------------------------------------------------------------------

  private def mbFilterLevel(hdr: Header, fr: Frame, mi: Int): Int = {
    var level =
      if (!hdr.segmentationEnabled) hdr.filterLevel
      else if (hdr.absDelta) hdr.segFilter(fr.segment(mi))
      else hdr.filterLevel + hdr.segFilter(fr.segment(mi))
    if (hdr.lfDeltaEnabled) {
      level += hdr.refLfDelta(0) // intra frame
      if (fr.ymode(mi) == 4) level += hdr.modeLfDelta(0) // B_PRED
    }
    if (level < 0) 0 else if (level > 63) 63 else level
  }

  private def u2s(v: Int): Int = v - 128
  private def sClamp(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v

  /** Common 4-tap adjustment (§15.2): returns the outer-filter value. */
  private def commonAdjust(useOuter: Boolean, pl: Array[Byte], i1: Int,
                           i0: Int, j0: Int, j1: Int): Int = {
    val p1 = u2s(pl(i1) & 0xFF); val p0 = u2s(pl(i0) & 0xFF)
    val q0 = u2s(pl(j0) & 0xFF); val q1 = u2s(pl(j1) & 0xFF)
    var a = sClamp((if (useOuter) sClamp(p1 - q1) else 0) + 3 * (q0 - p0))
    val f = sClamp(a + 4) >> 3
    val e = sClamp(a + 3) >> 3
    pl(j0) = (sClamp(q0 - f) + 128).toByte
    pl(i0) = (sClamp(p0 + e) + 128).toByte
    f
  }

  private def filterMask(limit: Int, interior: Int, pl: Array[Byte],
                         base: Int, step: Int): Boolean = {
    def px(k: Int): Int = pl(base + k * step) & 0xFF
    val p3 = px(-4); val p2 = px(-3); val p1 = px(-2); val p0 = px(-1)
    val q0 = px(0); val q1 = px(1); val q2 = px(2); val q3 = px(3)
    math.abs(p0 - q0) * 2 + math.abs(p1 - q1) / 2 <= limit &&
      math.abs(p3 - p2) <= interior && math.abs(p2 - p1) <= interior &&
      math.abs(p1 - p0) <= interior && math.abs(q1 - q0) <= interior &&
      math.abs(q2 - q1) <= interior && math.abs(q3 - q2) <= interior
  }

  private def hev(thresh: Int, pl: Array[Byte], base: Int, step: Int): Boolean = {
    def px(k: Int): Int = pl(base + k * step) & 0xFF
    math.abs(px(-2) - px(-1)) > thresh || math.abs(px(1) - px(0)) > thresh
  }

  /** Subblock edge filter (§15.3): 4-tap with high-edge-variance test. */
  private def subblockFilter(hevT: Int, interior: Int, edge: Int,
                             pl: Array[Byte], base: Int, step: Int): Unit = {
    if (filterMask(edge, interior, pl, base, step)) {
      val hv = hev(hevT, pl, base, step)
      val f = commonAdjust(hv, pl, base - 2 * step, base - step,
        base, base + step)
      if (!hv) {
        val a = (f + 1) >> 1
        val q1 = u2s(pl(base + step) & 0xFF)
        val p1 = u2s(pl(base - 2 * step) & 0xFF)
        pl(base + step) = (sClamp(q1 - a) + 128).toByte
        pl(base - 2 * step) = (sClamp(p1 + a) + 128).toByte
      }
    }
  }

  /** Macroblock edge filter (§15.3): wider 6-tap smoothing. */
  private def mbEdgeFilter(hevT: Int, interior: Int, edge: Int,
                           pl: Array[Byte], base: Int, step: Int): Unit = {
    if (filterMask(edge, interior, pl, base, step)) {
      if (!hev(hevT, pl, base, step)) {
        val p2 = u2s(pl(base - 3 * step) & 0xFF)
        val p1 = u2s(pl(base - 2 * step) & 0xFF)
        val p0 = u2s(pl(base - step) & 0xFF)
        val q0 = u2s(pl(base) & 0xFF)
        val q1 = u2s(pl(base + step) & 0xFF)
        val q2 = u2s(pl(base + 2 * step) & 0xFF)
        val w = sClamp(sClamp(p1 - q1) + 3 * (q0 - p0))
        var a = sClamp((27 * w + 63) >> 7)
        pl(base) = (sClamp(q0 - a) + 128).toByte
        pl(base - step) = (sClamp(p0 + a) + 128).toByte
        a = sClamp((18 * w + 63) >> 7)
        pl(base + step) = (sClamp(q1 - a) + 128).toByte
        pl(base - 2 * step) = (sClamp(p1 + a) + 128).toByte
        a = sClamp((9 * w + 63) >> 7)
        pl(base + 2 * step) = (sClamp(q2 - a) + 128).toByte
        pl(base - 3 * step) = (sClamp(p2 + a) + 128).toByte
      } else commonAdjust(useOuter = true, pl, base - 2 * step, base - step,
        base, base + step)
    }
  }

  /** Simple-filter edge op (§15.4): luma only, 2-pixel adjustment. */
  private def simpleSegment(edge: Int, pl: Array[Byte], base: Int,
                            step: Int): Unit = {
    def px(k: Int): Int = pl(base + k * step) & 0xFF
    if (math.abs(px(-1) - px(0)) * 2 + math.abs(px(-2) - px(1)) / 2 <= edge)
      commonAdjust(useOuter = true, pl, base - 2 * step, base - step,
        base, base + step)
  }

  private def loopFilter(hdr: Header, fr: Frame): Unit = {
    val ys = fr.yStride; val us = fr.uvStride
    var my = 0
    while (my < fr.mbH) {
      var mx = 0
      while (mx < fr.mbW) {
        val mi = my * fr.mbW + mx
        val level = mbFilterLevel(hdr, fr, mi)
        if (level > 0) {
          var interior = level
          if (hdr.sharpness > 0) {
            interior >>= (if (hdr.sharpness > 4) 2 else 1)
            val cap = 9 - hdr.sharpness
            if (interior > cap) interior = cap
          }
          if (interior < 1) interior = 1
          val hevT = if (level >= 40) 2 else if (level >= 15) 1 else 0
          val mbLim = (level + 2) * 2 + interior
          val subLim = level * 2 + interior
          val inner = fr.hasCoeffs(mi) || fr.ymode(mi) == 4
          val y0x = mx * 16; val y0y = my * 16
          val c0x = mx * 8; val c0y = my * 8
          if (hdr.filterType == 1) { // simple: luma edges only
            if (mx > 0) {
              var r = 0
              while (r < 16) {
                simpleSegment(mbLim, fr.yPlane, (y0y + r) * ys + y0x, 1); r += 1
              }
            }
            if (inner) {
              var c = 4
              while (c < 16) {
                var r = 0
                while (r < 16) {
                  simpleSegment(subLim, fr.yPlane, (y0y + r) * ys + y0x + c, 1)
                  r += 1
                }
                c += 4
              }
            }
            if (my > 0) {
              var c = 0
              while (c < 16) {
                simpleSegment(mbLim, fr.yPlane, y0y * ys + y0x + c, ys); c += 1
              }
            }
            if (inner) {
              var rr = 4
              while (rr < 16) {
                var c = 0
                while (c < 16) {
                  simpleSegment(subLim, fr.yPlane, (y0y + rr) * ys + y0x + c, ys)
                  c += 1
                }
                rr += 4
              }
            }
          } else { // normal filter: y + chroma
            if (mx > 0) {
              var r = 0
              while (r < 16) {
                mbEdgeFilter(hevT, interior, mbLim, fr.yPlane,
                  (y0y + r) * ys + y0x, 1)
                r += 1
              }
              r = 0
              while (r < 8) {
                mbEdgeFilter(hevT, interior, mbLim, fr.uPlane,
                  (c0y + r) * us + c0x, 1)
                mbEdgeFilter(hevT, interior, mbLim, fr.vPlane,
                  (c0y + r) * us + c0x, 1)
                r += 1
              }
            }
            if (inner) {
              var c = 4
              while (c < 16) {
                var r = 0
                while (r < 16) {
                  subblockFilter(hevT, interior, subLim, fr.yPlane,
                    (y0y + r) * ys + y0x + c, 1)
                  r += 1
                }
                c += 4
              }
              var r = 0
              while (r < 8) {
                subblockFilter(hevT, interior, subLim, fr.uPlane,
                  (c0y + r) * us + c0x + 4, 1)
                subblockFilter(hevT, interior, subLim, fr.vPlane,
                  (c0y + r) * us + c0x + 4, 1)
                r += 1
              }
            }
            if (my > 0) {
              var c = 0
              while (c < 16) {
                mbEdgeFilter(hevT, interior, mbLim, fr.yPlane,
                  y0y * ys + y0x + c, ys)
                c += 1
              }
              c = 0
              while (c < 8) {
                mbEdgeFilter(hevT, interior, mbLim, fr.uPlane,
                  c0y * us + c0x + c, us)
                mbEdgeFilter(hevT, interior, mbLim, fr.vPlane,
                  c0y * us + c0x + c, us)
                c += 1
              }
            }
            if (inner) {
              var rr = 4
              while (rr < 16) {
                var c = 0
                while (c < 16) {
                  subblockFilter(hevT, interior, subLim, fr.yPlane,
                    (y0y + rr) * ys + y0x + c, ys)
                  c += 1
                }
                rr += 4
              }
              var c = 0
              while (c < 8) {
                subblockFilter(hevT, interior, subLim, fr.uPlane,
                  (c0y + 4) * us + c0x + c, us)
                subblockFilter(hevT, interior, subLim, fr.vPlane,
                  (c0y + 4) * us + c0x + c, us)
                c += 1
              }
            }
          }
        }
        mx += 1
      }
      my += 1
    }
  }
}
