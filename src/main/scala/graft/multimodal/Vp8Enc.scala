package graft.multimodal

import scala.collection.mutable.ArrayBuffer

import Multimodal.Containers

/** Minimal RFC 6386 VP8 keyframe ENCODER — the fixture half of the VP8
  * story (the [[Webp.encodeLossless]] pattern): emits spec-conformant
  * keyframe bitstreams with no segmentation, loop filter level 0, one
  * token partition, default probabilities, and caller-chosen intra
  * modes + quantized coefficients per block. Used by specs and oracle
  * fixtures (exactly-quantizing coefficients make the decode replay
  * closed-form) and by the dev cross-pin against the system libwebp.
  */
private[graft] object Vp8Enc {

  // ------------------------------------------------------------------
  // boolean arithmetic encoder (RFC 6386 §7.3)
  // ------------------------------------------------------------------

  final class BoolEnc {
    private val out = ArrayBuffer.empty[Int]
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24

    private def carry(): Unit = {
      var i = out.length - 1
      while (i >= 0 && out(i) == 255) { out(i) = 0; i -= 1 }
      require(i >= 0, "bool encoder carry underflow")
      out(i) += 1
    }

    def bool(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & (1L << 31)) != 0) carry()
        bottom = (bottom << 1) & 0xFFFFFFFFL
        bitCount -= 1
        if (bitCount == 0) {
          out += ((bottom >> 24) & 0xFF).toInt
          bottom &= 0xFFFFFF
          bitCount = 8
        }
      }
    }

    /** n-bit unsigned literal, MSB first. */
    def literal(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }

    /** Write the tree path for `value` (leaves negated, leaf 0 legal). */
    def tree(t: Array[Int], probs: Array[Int], probOff: Int, value: Int,
             startIdx: Int = 0): Unit = {
      // walk the tree to find the path to -value
      val path = ArrayBuffer.empty[(Int, Int)] // (probIdx, bit)
      def walk(i: Int): Boolean = {
        var b = 0
        while (b < 2) {
          val nxt = t(i + b)
          if (nxt == -value && (nxt <= 0)) {
            path += ((i >> 1, b)); return true
          }
          if (nxt > 0) {
            path += ((i >> 1, b))
            if (walk(nxt)) return true
            path.remove(path.length - 1)
          }
          b += 1
        }
        false
      }
      require(walk(startIdx), s"value $value not in tree")
      path.foreach { case (pi, b) => bool(probs(probOff + pi), b) }
    }

    def bytes: Array[Byte] = {
      val o = out.map(_.toByte).toArray
      o
    }

    def flush(): Unit = {
      var i = 0
      while (i < 32) {
        if ((bottom & (1L << 31)) != 0) carry()
        bottom = (bottom << 1) & 0xFFFFFFFFL
        bitCount -= 1
        if (bitCount == 0) {
          out += ((bottom >> 24) & 0xFF).toInt
          bottom &= 0xFFFFFF
          bitCount = 8
        }
        i += 1
      }
    }
  }

  import Vp8Tables.{Bands, BModeTree, CatBase, CatProbs, CoeffTree,
    KfUvModeProb, KfYModeProb, KfYModeTree, UvModeTree, Zigzag}

  /** One macroblock's encode spec: 16x16 y mode (0..3) or B_PRED via
    * `bmodes` (16 entries, non-null), uv mode, and QUANTIZED (divided)
    * coefficient levels in NATURAL order per block: y2 (16, ignored for
    * B_PRED), y (16x16), u (4x16), v (4x16). */
  final case class MbSpec(ymode: Int, bmodes: Array[Int], uvmode: Int,
                          y2: Array[Int], y: Array[Array[Int]],
                          u: Array[Array[Int]], v: Array[Array[Int]])

  /** Encode a keyframe: header (no segmentation, one partition, default
    * probs, qi, and the given loop-filter params — level 0 disables
    * filtering, the fixture default), modes, tokens. Returns the VP8
    * chunk payload. */
  def encodeFrame(w: Int, h: Int, qi: Int, mbs: Array[MbSpec],
                  filterType: Int = 0, filterLevel: Int = 0,
                  sharpness: Int = 0): Array[Byte] = {
    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    require(mbs.length == mbW * mbH, "one MbSpec per macroblock")

    // ---- first partition: header + modes ----
    val p1 = new BoolEnc
    p1.literal(0, 1) // color space
    p1.literal(0, 1) // clamping
    p1.literal(0, 1) // segmentation disabled
    p1.literal(filterType, 1)
    p1.literal(filterLevel, 6)
    p1.literal(sharpness, 3)
    p1.literal(0, 1) // lf delta disabled
    p1.literal(0, 2) // 1 token partition
    p1.literal(qi, 7) // y_ac_qi
    p1.literal(0, 1); p1.literal(0, 1); p1.literal(0, 1)
    p1.literal(0, 1); p1.literal(0, 1) // no quant deltas
    p1.literal(1, 1) // refresh entropy probs
    var t = 0
    while (t < 4 * 8 * 3 * 11) { // no coeff prob updates
      p1.bool(Vp8Tables.CoeffUpdateProbs(t), 0)
      t += 1
    }
    p1.literal(0, 1) // mb_no_coeff_skip = 0 (no per-MB skip flags)

    // mode records with the same neighbor contexts the decoder derives
    val bmodeGrid = new Array[Byte](mbW * mbH * 16)
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val spec = mbs(mi)
        p1.tree(KfYModeTree, KfYModeProb, 0,
          if (spec.bmodes != null) 4 else spec.ymode)
        if (spec.bmodes != null) {
          var sb = 0
          while (sb < 16) {
            val sx = sb & 3; val sy = sb >> 2
            val above: Int =
              if (sy > 0) bmodeGrid(mi * 16 + sb - 4)
              else if (my > 0) bmodeGrid((mi - mbW) * 16 + 12 + sx)
              else 0
            val left: Int =
              if (sx > 0) bmodeGrid(mi * 16 + sb - 1)
              else if (mx > 0) bmodeGrid((mi - 1) * 16 + sb + 3)
              else 0
            p1.tree(BModeTree, Vp8Tables.KfBModeProbs,
              (above * 10 + left) * 9, spec.bmodes(sb))
            bmodeGrid(mi * 16 + sb) = spec.bmodes(sb).toByte
            sb += 1
          }
        } else {
          val mapped = spec.ymode match {
            case 0 => 0; case 1 => 2; case 2 => 3; case _ => 1
          }
          java.util.Arrays.fill(bmodeGrid, mi * 16, mi * 16 + 16,
            mapped.toByte)
        }
        p1.tree(UvModeTree, KfUvModeProb, 0, spec.uvmode)
        mx += 1
      }
      my += 1
    }
    p1.flush()
    val part1 = p1.bytes

    // ---- token partition ----
    val p2 = new BoolEnc
    val probs = Vp8Tables.CoeffProbs
    val aboveNzY = new Array[Int](mbW * 4)
    val aboveNzU = new Array[Int](mbW * 2)
    val aboveNzV = new Array[Int](mbW * 2)
    val aboveNzY2 = new Array[Int](mbW)
    val leftNzY = new Array[Int](4)
    val leftNzU = new Array[Int](2)
    val leftNzV = new Array[Int](2)
    var leftNzY2 = 0
    val nzGrid = new Array[Int](24)

    def encodeBlock(levels: Array[Int], planeType: Int, ctx0: Int,
                    firstCoeff: Int): Int = {
      // scan-order levels from natural order
      val scan = Array.tabulate(16)(n => levels(Zigzag(n)))
      var last = 15
      while (last >= firstCoeff && scan(last) == 0) last -= 1
      var n = firstCoeff
      var ctx = ctx0
      var skipEob = false
      while (n <= last) {
        val base = ((planeType * 8) + Bands(n)) * 33 + ctx * 11
        val v = scan(n)
        val absV = math.abs(v)
        val tok =
          if (absV == 0) 0
          else if (absV <= 4) absV
          else if (absV < CatBase(1)) 5
          else if (absV < CatBase(2)) 6
          else if (absV < CatBase(3)) 7
          else if (absV < CatBase(4)) 8
          else if (absV < CatBase(5)) 9
          else 10
        if (skipEob)
          p2.tree(CoeffTree, probsSlice(probs, base), 0, tokenLeaf(tok), 2)
        else p2.tree(CoeffTree, probsSlice(probs, base), 0, tokenLeaf(tok))
        if (tok == 0) { skipEob = true; ctx = 0 }
        else {
          skipEob = false
          if (tok >= 5) {
            val cat = tok - 5
            val extra = absV - CatBase(cat)
            val cp = CatProbs(cat)
            var i = cp.length - 1
            var k = 0
            while (i >= 0) { p2.bool(cp(k), (extra >> i) & 1); i -= 1; k += 1 }
          }
          p2.bool(128, if (v < 0) 1 else 0)
          ctx = if (tok == 1) 1 else 2
        }
        n += 1
      }
      if (last < 15) { // EOB (only codable when the previous token ≠ zero)
        require(last < firstCoeff || scan(last) != 0, "EOB cannot follow a zero")
        val ctxEob = ctx
        val base = ((planeType * 8) + Bands(n)) * 33 + ctxEob * 11
        p2.tree(CoeffTree, probsSlice(probs, base), 0, 11)
      }
      if (last >= firstCoeff) 1 else 0
    }

    my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftNzY, 0)
      java.util.Arrays.fill(leftNzU, 0)
      java.util.Arrays.fill(leftNzV, 0)
      leftNzY2 = 0
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val spec = mbs(mi)
        val isB = spec.bmodes != null
        var firstCoeff = 0
        if (!isB) {
          val ctx = aboveNzY2(mx) + leftNzY2
          val nz = encodeBlock(spec.y2, 1, ctx, 0)
          aboveNzY2(mx) = nz; leftNzY2 = nz
          firstCoeff = 1
        }
        val yPlaneType = if (isB) 3 else 0
        var sb = 0
        while (sb < 16) {
          val bx = sb & 3; val by = sb >> 2
          val above = if (by > 0) nzGrid(sb - 4) else aboveNzY(mx * 4 + bx)
          val left = if (bx > 0) nzGrid(sb - 1) else leftNzY(by)
          nzGrid(sb) = encodeBlock(spec.y(sb), yPlaneType, above + left,
            firstCoeff)
          sb += 1
        }
        var k = 0
        while (k < 4) {
          aboveNzY(mx * 4 + k) = nzGrid(12 + k)
          leftNzY(k) = nzGrid(k * 4 + 3)
          k += 1
        }
        var pl = 0
        while (pl < 2) {
          val blocks = if (pl == 0) spec.u else spec.v
          val aboveArr = if (pl == 0) aboveNzU else aboveNzV
          val leftArr = if (pl == 0) leftNzU else leftNzV
          var cb = 0
          while (cb < 4) {
            val bx = cb & 1; val by = cb >> 1
            val above = if (by > 0) nzGrid(16 + pl * 4 + cb - 2)
              else aboveArr(mx * 2 + bx)
            val left = if (bx > 0) nzGrid(16 + pl * 4 + cb - 1)
              else leftArr(by)
            nzGrid(16 + pl * 4 + cb) = encodeBlock(blocks(cb), 2,
              above + left, 0)
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
        mx += 1
      }
      my += 1
    }
    p2.flush()
    val part2 = p2.bytes

    // ---- frame tag (keyframe, version 0, shown) + start code + dims ----
    val out = new java.io.ByteArrayOutputStream()
    val tag = (part1.length << 5) | (1 << 4) | (0 << 1) | 0
    out.write(tag & 0xFF); out.write((tag >> 8) & 0xFF)
    out.write((tag >> 16) & 0xFF)
    out.write(0x9D); out.write(0x01); out.write(0x2A)
    out.write(w & 0xFF); out.write((w >> 8) & 0x3F)
    out.write(h & 0xFF); out.write((h >> 8) & 0x3F)
    out.write(part1, 0, part1.length)
    out.write(part2, 0, part2.length)
    out.toByteArray
  }

  private def tokenLeaf(tok: Int): Int = tok

  private def probsSlice(flat: Array[Int], base: Int): Array[Int] = {
    val o = new Array[Int](11)
    System.arraycopy(flat, base, o, 0, 11)
    o
  }

  /** Exactly-quantizing LOSSY WebP: one uniform luma value per
    * macroblock (`mbLuma`, MB raster order), neutral chroma (128). At
    * qi = 0 with 16x16 DC_PRED everywhere, each MB's residual r rides
    * the Y2 block as level 8r (y2dc quant 8 → WHT DC 64r → per-block
    * DC 8r → pixels (8r+4)>>3 = r, exact for BOTH signs), so the LOSSY
    * pipeline reconstructs the planted values bit-exactly and a fixture
    * replays closed-form — the VP8L/PNG oracle discipline carried into
    * a lossy codec. Prediction chain: pred(0,0) = 128, top row = left
    * value, left column = above value, interior = (above+left+1)>>1. */
  def encodeUniformGrayWebp(w: Int, h: Int, mbLuma: Array[Int]): Array[Byte] = {
    val mbW = (w + 15) / 16
    val mbH = (h + 15) / 16
    require(mbLuma.length == mbW * mbH, "one luma value per macroblock")
    require(mbLuma.forall(v => v >= 0 && v <= 255), "luma out of range")
    val zeroBlocks = Array.fill(4)(Array.fill(16)(0))
    val mbs = new Array[MbSpec](mbW * mbH)
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val mi = my * mbW + mx
        val v = mbLuma(mi)
        val pred =
          if (mx == 0 && my == 0) 128
          else if (my == 0) mbLuma(mi - 1)
          else if (mx == 0) mbLuma(mi - mbW)
          else (mbLuma(mi - mbW) + mbLuma(mi - 1) + 1) >> 1
        val r = v - pred
        val y2 = Array.fill(16)(0)
        y2(0) = 8 * r
        mbs(mi) = MbSpec(0, null, 0, y2,
          Array.fill(16)(Array.fill(16)(0)), zeroBlocks, zeroBlocks)
        mx += 1
      }
      my += 1
    }
    wrapWebp(encodeFrame(w, h, 0, mbs))
  }

  /** Exactly-quantizing lossy WebP at 4x4-CELL granularity: one uniform
    * luma value per 4x4 pixel cell (`cells`, (w/4)x(h/4) raster),
    * neutral chroma. Every macroblock is B_PRED with all-B_DC
    * sub-modes at qi = 0: a cell's residual r rides its own DC level 2r
    * (y1dc quant 4 → pixels (8r+4)>>3 = r, exact both signs), and B_DC
    * prediction is a closed form over the uniform neighbor cells:
    * pred(0,0) = 128 (the 127/129 synthetic edges), top row =
    * (128 + left)>>1, left column = (above + 130)>>1, interior =
    * (above + left + 1)>>1. The planted grid therefore reconstructs
    * bit-exactly through the LOSSY pipeline and aligns with the 8x8
    * dHash/block-mean grids at w = h = 32. */
  def encodeCellGrayWebp(w: Int, h: Int, cells: Array[Int]): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0, "cell-grid fixtures use whole MBs")
    val cw = w / 4; val ch = h / 4
    require(cells.length == cw * ch, "one luma value per 4x4 cell")
    require(cells.forall(v => v >= 0 && v <= 255), "luma out of range")
    def pred(cx: Int, cy: Int): Int =
      if (cx == 0 && cy == 0) 128
      else if (cy == 0) (128 + cells(cx - 1)) >> 1
      else if (cx == 0) (cells((cy - 1) * cw) + 130) >> 1
      else (cells((cy - 1) * cw + cx) + cells(cy * cw + cx - 1) + 1) >> 1
    val zeroBlocks = Array.fill(4)(Array.fill(16)(0))
    val allDc = Array.fill(16)(0)
    val mbW = w / 16; val mbH = h / 16
    val mbs = new Array[MbSpec](mbW * mbH)
    var my = 0
    while (my < mbH) {
      var mx = 0
      while (mx < mbW) {
        val y = Array.tabulate(16) { sb =>
          val cx = mx * 4 + (sb & 3); val cy = my * 4 + (sb >> 2)
          val r = cells(cy * cw + cx) - pred(cx, cy)
          val lv = Array.fill(16)(0)
          lv(0) = 2 * r
          lv
        }
        mbs(my * mbW + mx) = MbSpec(4, allDc, 0, Array.fill(16)(0), y,
          zeroBlocks, zeroBlocks)
        mx += 1
      }
      my += 1
    }
    wrapWebp(encodeFrame(w, h, 0, mbs))
  }

  /** VP8X-extended wrap with a REAL ALPH chunk ahead of the VP8 chunk —
    * the separately-coded alpha plane layout, decodable end to end
    * ([[Webp.decodeAlph]]). `alpha` defaults to a planted deterministic
    * plane; `filter` (0-3) and `compress` pick the ALPH encoding. */
  def wrapWebpAlpha(vp8: Array[Byte], w: Int, h: Int,
                    alpha: Array[Int] = null, filter: Int = 0,
                    compress: Boolean = false): Array[Byte] = {
    val plane =
      if (alpha != null) alpha
      else Array.tabulate(w * h)(i => (i * 7 + 40) % 256)
    Webp.webpFile(Webp.vp8xChunk(0x10, w, h), // alpha flag
      Containers.riffChunk("ALPH", Webp.encodeAlph(w, h, plane, filter, compress)),
      Containers.riffChunk("VP8 ", vp8))
  }

  /** The VP8 chunk payload inside a [[wrapWebp]] container (fixture
    * plumbing for re-wrapping). */
  def vp8Payload(webp: Array[Byte]): Array[Byte] = {
    var off = 12
    while (off + 8 <= webp.length) {
      val fourcc = new String(webp, off, 4, "US-ASCII")
      val size = (webp(off + 4) & 0xFF) | ((webp(off + 5) & 0xFF) << 8) |
        ((webp(off + 6) & 0xFF) << 16) | ((webp(off + 7) & 0xFF) << 24)
      if (fourcc == "VP8 ")
        return java.util.Arrays.copyOfRange(webp, off + 8, off + 8 + size)
      off += 8 + size + (size & 1)
    }
    throw new IllegalArgumentException("no VP8 chunk")
  }

  /** The DISPLAYED gray of a [[encodeUniformGrayWebp]] luma value: the
    * fixed-point YUV→RGB at neutral chroma gives R = B = clip((yy -
    * 1160) >> 6), G = clip((yy - 1161) >> 6) with yy = 19077*y >> 8;
    * the dedup/census surfaces then read (R + G + B) / 3. Every step is
    * integer floor arithmetic, so oracles replay it verbatim. */
  def displayedGray(y: Int): Int = {
    val yy = (19077 * y) >> 8
    def clip(x: Int): Int = { val s = x >> 6; if (s < 0) 0 else if (s > 255) 255 else s }
    val r = clip(yy - 1160)
    val g = clip(yy - 1161)
    (2 * r + g) / 3
  }

  /** RIFF-wrap a VP8 chunk payload into a complete WebP file. */
  def wrapWebp(vp8: Array[Byte]): Array[Byte] =
    Webp.webpFile(Containers.riffChunk("VP8 ", vp8))
}
