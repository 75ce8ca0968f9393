package graft.multimodal

/** REAL baseline JPEG codec — no media library: baseline sequential DCT
  * JPEG (ITU-T T.81) is Huffman coding + dequantization + an 8×8 inverse
  * DCT + a level shift, all public integer/float math, exactly like the
  * zlib/LZW/RIFF walks this package already carries. Web-crawl image
  * corpora are overwhelmingly JPEG, and every pixel-level operator
  * (perceptual dedup, crop search, quality gates, descriptors,
  * boilerplate) was blind to the format while it stayed header-only.
  *
  * Decoder profile (restrictions FAIL FAST by name, the package
  * contract): baseline sequential (SOF0) and progressive (SOF2 — see
  * [[Jpeg.decodeRgb]]'s multi-scan path), 8-bit samples, 8-bit
  * quantization tables, 1 (grayscale) or 3 (YCbCr) components, sampling
  * factors 1 to 4 per axis per component under T.81 B.2.2's
  * 10-blocks-per-MCU bound — which covers 4:4:4 (1×1), the web-dominant
  * 4:2:0 (luma 2×2), 4:2:2 (2×1), 4:4:0 (1×2), DV-lineage 4:1:1 (4×1)
  * and 3:1:1, and their transposes — interleaved scans, optional
  * restart intervals. Subsampled chroma upsamples by SAMPLE REPLICATION
  * (nearest-neighbor: display pixel (x, y) reads component sample
  * (x·Hᵢ/Hmax, y·Vᵢ/Vmax), floor arithmetic) — the portable choice;
  * interpolating upsamplers differ legally between decoders, so
  * cross-decoder pinning uses constant chroma planes, which every
  * upsampler preserves. Arithmetic coding, 12-bit precision, and
  * factors beyond 4 are named errors — measured scope statements,
  * counted by the decode-health census rather than silent.
  *
  * Exactness contract: the IDCT is the textbook separable 8-point
  * float transform with round-half-up, then +128 level shift and a
  * 0..255 clamp. A DC-ONLY block (all AC coefficients zero) therefore
  * decodes to the CLOSED FORM clamp(round(dc·q00/8) + 128) — with
  * q00 = 8 that is exactly dc + 128 — so fixtures planted through
  * [[Jpeg.encodeGrayBlocks]] replay arithmetically in an external SQL
  * oracle (the PNG-census pattern), while general-coefficient decodes
  * are pinned against JDK ImageIO within a small rounding tolerance in
  * spec (decoders may legally differ in IDCT rounding; JpegSpec pins
  * the bound).
  *
  * The encoder is spec-complete output (real DQT/DHT/SOF0/SOS segments,
  * canonical Huffman tables, byte stuffing, restart markers, EOI):
  * files open in any viewer and in ImageIO. Fixture Huffman tables are
  * GENERATED canonical codes (12 DC categories at 4 bits, all 162 AC
  * run/size symbols at 8 bits — a legal incomplete code per T.81), so
  * the decoder's canonical-code reconstruction is exercised rather than
  * assumed.
  *
  * Untrusted-bytes contract (the streaming-ingest path): every segment
  * length and buffer bound is checked in Long arithmetic, every failure
  * is a named IllegalArgumentException ("media <id>: cause"), loops are
  * bounded by the declared MCU count, and decoded allocations respect
  * [[Multimodal.MaxDecodePixels]]. FuzzSpec drives hostile bytes at it.
  */
private[graft] object Jpeg {

  /** Zigzag scan order: zigzag(k) = raster index of the k-th scanned
    * coefficient (T.81 figure A.6 — public constant). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** cos((2x+1)·u·π/16) · (u == 0 ? 1/√2 : 1) — the separable IDCT
    * basis including the C(u) normalization. */
  private val Basis: Array[Double] = {
    val b = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        b(u * 8 + x) = cu * math.cos((2 * x + 1) * u * math.Pi / 16.0)
        x += 1
      }
      u += 1
    }
    b
  }

  /** One canonical Huffman table: decode by walking code lengths 1..16
    * with the standard min/max-code arrays (T.81 F.2.2.3). */
  private final class HuffTable(id: Long, bits: Array[Int], vals: Array[Byte]) {
    // minCode(l), maxCode(l) (exclusive of none: -1 when empty), valPtr(l)
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
      require(k == vals.length,
        s"media $id: DHT counts ($k) disagree with symbol bytes (${vals.length})")
    }
    /** Read one symbol from the bit reader (≤ 16 bounded steps). */
    def decode(r: BitReader): Int = {
      var code = r.readBit()
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l))
          return vals(valPtr(l) + code - minCode(l)) & 0xFF
        code = (code << 1) | r.readBit()
        l += 1
      }
      throw new IllegalArgumentException(
        s"media $id: invalid Huffman code in entropy stream")
    }
  }

  /** Bit reader over the entropy-coded segment: 0xFF00 unstuffs to a data
    * 0xFF; a restart marker (FFD0–FFD7) halts reads until [[restart]]
    * consumes it; any other marker means the stream ended early. */
  private final class BitReader(id: Long, p: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var cur = 0
    private var nbits = 0
    private var atMarker = -1 // low nibble of a pending RSTn, or -1

    /** Byte position after the last byte consumed (progressive scans use
      * it to resume the segment walk once a scan's units are decoded). */
    def bytePos: Int = pos

    private def fillByte(): Int = {
      if (atMarker >= 0)
        throw new IllegalArgumentException(
          s"media $id: entropy data continues across an unconsumed restart marker")
      require(pos < end, s"media $id: truncated entropy stream")
      val b = p(pos) & 0xFF
      pos += 1
      if (b == 0xFF) {
        require(pos < end, s"media $id: truncated entropy stream at 0xFF")
        val m = p(pos) & 0xFF
        pos += 1
        if (m == 0x00) 0xFF // stuffed data byte
        else if (m >= 0xD0 && m <= 0xD7) {
          atMarker = m - 0xD0
          -1 // caller must consume via restart()
        } else throw new IllegalArgumentException(
          s"media $id: unexpected marker 0x${m.toHexString} inside entropy data")
      } else b
    }

    def readBit(): Int = {
      if (nbits == 0) {
        val b = fillByte()
        require(b >= 0, s"media $id: bits requested across a restart boundary")
        cur = b; nbits = 8
      }
      nbits -= 1
      (cur >> nbits) & 1
    }

    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | readBit(); i += 1 }
      v
    }

    /** Byte-align and consume the expected restart marker `m` (mod 8). */
    def restart(m: Int): Unit = {
      nbits = 0
      if (atMarker < 0) { // marker not yet met: it must be next in the bytes
        val b = fillByte()
        require(b < 0, s"media $id: expected restart marker, found data byte")
      }
      require(atMarker == (m & 7),
        s"media $id: restart marker out of order (RST$atMarker, " +
          s"expected RST${m & 7})")
      atMarker = -1
    }
  }

  /** EXTEND (T.81 F.2.2.1): map `v` read in `s` bits to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Parse the DQT (`m` = 0xDB) or DHT (0xC4) segment whose length field
    * is at `i` into `quant` (natural order) or `huffDc`/`huffAc`; either
    * segment may carry several tables. Returns the segment length. */
  private def tableSegment(id: Long, p: Array[Byte], m: Int, i: Int,
                           quant: Array[Array[Int]], huffDc: Array[HuffTable],
                           huffAc: Array[HuffTable]): Int = {
    def u8(off: Int): Int = { require(off < p.length,
      s"media $id: truncated JPEG at offset $off"); p(off) & 0xFF }
    val len = (u8(i) << 8) | u8(i + 1)
    require(i.toLong + len <= p.length,
      s"media $id: truncated ${if (m == 0xDB) "DQT" else "DHT"}")
    var q = i + 2
    val endQ = i + len
    while (q < endQ) {
      if (m == 0xDB) {
        val pq = u8(q) >> 4
        val tq = u8(q) & 0x0F
        require(pq == 0,
          s"media $id: only 8-bit quantization tables supported (Pq=$pq)")
        require(tq < 4, s"media $id: bad DQT table id $tq")
        require(q.toLong + 1 + 64 <= endQ, s"media $id: truncated DQT table")
        val tbl = new Array[Int](64)
        var k = 0
        while (k < 64) { tbl(Zigzag(k)) = u8(q + 1 + k); k += 1 }
        quant(tq) = tbl
        q += 65
      } else {
        val tc = u8(q) >> 4
        val th = u8(q) & 0x0F
        require(tc <= 1, s"media $id: bad DHT class $tc")
        require(th < 4, s"media $id: bad DHT table id $th")
        require(q.toLong + 17 <= endQ, s"media $id: truncated DHT counts")
        val bits = Array.tabulate(16)(l => u8(q + 1 + l))
        val n = bits.sum
        require(n <= 256 && q.toLong + 17 + n <= endQ,
          s"media $id: truncated DHT symbols")
        val vals = new Array[Byte](n)
        System.arraycopy(p, q + 17, vals, 0, n)
        val tab = new HuffTable(id, bits, vals)
        if (tc == 0) huffDc(th) = tab else huffAc(th) = tab
        q += 17 + n
      }
    }
    len
  }

  /** Decode one baseline JPEG to row-major RGB triples (the
    * [[Multimodal.decodeAviRgb]] frame layout): (width, height, rgb).
    * Grayscale replicates Y into all three channels; color applies the
    * JFIF YCbCr→RGB transform (doubles, round-half-up, clamp). */
  def decodeRgb(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(p.length >= 4 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8,
      s"media $id: not a JPEG (missing SOI)")
    def u8(off: Int): Int = { require(off < p.length,
      s"media $id: truncated JPEG at offset $off"); p(off) & 0xFF }
    def u16(off: Int): Int = (u8(off) << 8) | u8(off + 1)

    val quant = new Array[Array[Int]](4) // id -> 64 values, NATURAL order
    val huffDc = new Array[HuffTable](4)
    val huffAc = new Array[HuffTable](4)
    var restartInterval = 0
    // frame state
    var w = 0; var h = 0; var nComp = 0
    val compId = new Array[Int](3) // SOF0 component identifier (for SOS Cs)
    val compH = new Array[Int](3) // horizontal sampling factor (1 or 2)
    val compV = new Array[Int](3) // vertical sampling factor (1 or 2)
    val compQ = new Array[Int](3) // quant table id per component
    val compDcT = new Array[Int](3)
    val compAcT = new Array[Int](3)
    var scanStart = -1
    var progressive = false
    var sosSegAt = -1 // progressive: offset of the first SOS 0xFF marker

    var i = 2
    while (scanStart < 0) {
      // a spec-legal run of 0xFF fill bytes may precede any marker
      require(u8(i) == 0xFF, s"media $id: expected marker, got 0x${u8(i).toHexString}")
      while (u8(i + 1) == 0xFF) i += 1
      val m = u8(i + 1)
      i += 2
      m match {
        case 0xD9 =>
          throw new IllegalArgumentException(s"media $id: EOI before SOS")
        case 0xDB | 0xC4 => // DQT / DHT — either may carry several tables
          i += tableSegment(id, p, m, i, quant, huffDc, huffAc)
        case 0xC0 | 0xC2 => // SOF0 baseline / SOF2 progressive (same layout)
          progressive = m == 0xC2
          val len = u16(i)
          require(i.toLong + len <= p.length && len >= 8, s"media $id: truncated SOF0")
          require(u8(i + 2) == 8,
            s"media $id: only 8-bit precision supported (got ${u8(i + 2)})")
          h = u16(i + 3); w = u16(i + 5)
          require(w > 0 && h > 0, s"media $id: bad SOF0 dimensions ${w}x$h")
          require(w.toLong * h <= Multimodal.MaxDecodePixels,
            s"media $id: ${w}x$h exceeds the ${Multimodal.MaxDecodePixels}" +
              "-pixel decode bound")
          nComp = u8(i + 7)
          require(nComp == 1 || nComp == 3,
            s"media $id: only 1 or 3 components supported (got $nComp)")
          require(len >= 8 + 3 * nComp, s"media $id: truncated SOF0 components")
          var c = 0
          while (c < nComp) {
            compId(c) = u8(i + 8 + 3 * c)
            val hv = u8(i + 9 + 3 * c)
            compH(c) = hv >> 4
            compV(c) = hv & 0x0F
            require(compH(c) >= 1 && compH(c) <= 4 &&
              compV(c) >= 1 && compV(c) <= 4,
              s"media $id: only sampling factors 1 to 4 supported " +
                s"(component $c has H=${compH(c)} V=${compV(c)})")
            compQ(c) = u8(i + 10 + 3 * c)
            require(compQ(c) < 4, s"media $id: bad quant table id ${compQ(c)}")
            c += 1
          }
          // T.81 B.2.2: at most 10 data units per MCU in an interleaved
          // scan — the spec's own bound on sampling-factor products
          require(nComp == 1 ||
            (0 until nComp).map(k => compH(k) * compV(k)).sum <= 10,
            s"media $id: sampling factors exceed the 10-blocks-per-MCU " +
              "bound (T.81 B.2.2)")
          i += len
        case sof if sof >= 0xC1 && sof <= 0xCF && sof != 0xC4 && sof != 0xC8 &&
          sof != 0xCC =>
          throw new IllegalArgumentException(
            s"media $id: non-baseline SOF marker 0x${sof.toHexString} out of scope")
        case 0xDD => // DRI
          val len = u16(i)
          require(len == 4 && i.toLong + len <= p.length, s"media $id: bad DRI")
          restartInterval = u16(i + 2)
          i += len
        case 0xDA if progressive => // first SOS: the scan loop takes over
          require(nComp > 0, s"media $id: SOS before SOF")
          sosSegAt = i - 2
          scanStart = i // any value >= 0 exits the header walk
        case 0xDA => // SOS
          val len = u16(i)
          require(i.toLong + len <= p.length, s"media $id: truncated SOS")
          require(nComp > 0, s"media $id: SOS before SOF0")
          val ns = u8(i + 2)
          require(ns == nComp,
            s"media $id: only one interleaved scan supported " +
              s"(scan has $ns of $nComp components)")
          var c = 0
          while (c < ns) {
            // T.81 B.2.3 mandates scan components in frame-header order;
            // verify the component selector by NAME rather than decoding
            // a non-conformant file with swapped tables/planes
            val cs = u8(i + 3 + 2 * c)
            require(cs == compId(c),
              s"media $id: SOS component selector $cs out of frame order " +
                s"(expected component id ${compId(c)} at scan position $c)")
            val tda = u8(i + 4 + 2 * c)
            compDcT(c) = tda >> 4
            compAcT(c) = tda & 0x0F
            require(compDcT(c) < 4 && compAcT(c) < 4,
              s"media $id: bad SOS entropy table ids " +
                s"(Td=${compDcT(c)} Ta=${compAcT(c)})")
            c += 1
          }
          val ss = u8(i + 3 + 2 * ns)
          val se = u8(i + 4 + 2 * ns)
          val ahl = u8(i + 5 + 2 * ns)
          require(ss == 0 && se == 63 && ahl == 0,
            s"media $id: spectral selection/successive approximation " +
              s"(Ss=$ss Se=$se AhAl=$ahl) out of scope — baseline only")
          scanStart = i + len
        case 0x01 | _ if m == 0x01 || (m >= 0xD0 && m <= 0xD7) =>
          () // standalone markers: no length field
        case _ => // APPn, COM, everything else: skip by length
          val len = u16(i)
          require(len >= 2 && i.toLong + len <= p.length,
            s"media $id: truncated segment 0x${m.toHexString}")
          i += len
      }
    }

    if (progressive)
      return decodeProgressive(id, p, w, h, nComp, compId, compH, compV,
        compQ, quant, huffDc, huffAc, restartInterval, sosSegAt)

    var c = 0
    while (c < nComp) {
      require(quant(compQ(c)) != null, s"media $id: missing quant table ${compQ(c)}")
      require(huffDc(compDcT(c)) != null, s"media $id: missing DC table ${compDcT(c)}")
      require(huffAc(compAcT(c)) != null, s"media $id: missing AC table ${compAcT(c)}")
      c += 1
    }

    // A single-component scan is NON-interleaved (T.81 A.2.2): its data
    // units are the component's own block grid and sampling factors play
    // no role — normalize to 1×1 so the one MCU walk covers both cases.
    if (nComp == 1) { compH(0) = 1; compV(0) = 1 }
    var hMax = 1; var vMax = 1
    c = 0
    while (c < nComp) {
      if (compH(c) > hMax) hMax = compH(c)
      if (compV(c) > vMax) vMax = compV(c)
      c += 1
    }
    // MCU grid over hMax·8 × vMax·8 display tiles; component c contributes
    // compH(c)×compV(c) blocks per MCU into its own (mcuW·Hᵢ) × (mcuH·Vᵢ)
    // block plane (T.81 A.2.3 interleaved data ordering).
    val mcuW = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (h + 8 * vMax - 1) / (8 * vMax)
    val planeBw = Array.tabulate(nComp)(c => mcuW * compH(c)) // blocks across
    val planes = Array.tabulate(nComp)(c =>
      new Array[Byte](planeBw(c) * 8 * mcuH * compV(c) * 8))

    // entropy data runs to the EOI marker (scan backwards not needed: the
    // BitReader stops at any non-RST marker; give it the payload tail)
    val reader = new BitReader(id, p, scanStart, p.length)
    val pred = new Array[Int](3)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)

    // Decode one data unit of component `cc` into block position (bx, by)
    // of its plane: Huffman + dequant + separable IDCT + level shift.
    def decodeBlock(cc: Int, bx: Int, by: Int): Unit = {
      java.util.Arrays.fill(coef, 0)
      val q = quant(compQ(cc))
      // DC
      val s = huffDc(compDcT(cc)).decode(reader)
      require(s <= 11, s"media $id: DC category $s out of range")
      pred(cc) += extend(reader.readBits(s), s)
      coef(0) = pred(cc) * q(0)
      // AC
      var k = 1
      while (k < 64) {
        val rs = huffAc(compAcT(cc)).decode(reader)
        val r = rs >> 4
        val sz = rs & 0x0F
        if (sz == 0) {
          if (r == 15) k += 16 // ZRL
          else k = 64 // EOB
        } else {
          k += r
          require(k < 64, s"media $id: AC run past coefficient 63")
          require(sz <= 10, s"media $id: AC size $sz out of range")
          val natural = Zigzag(k)
          coef(natural) = extend(reader.readBits(sz), sz) * q(natural)
          k += 1
        }
      }
      idctToPlane(coef, planes(cc), planeBw(cc) * 8, bx, by, tmp)
    }

    var mcu = 0
    val nMcu = mcuW * mcuH
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        reader.restart(mcu / restartInterval - 1)
        pred(0) = 0; pred(1) = 0; pred(2) = 0
      }
      val bx = mcu % mcuW
      val by = mcu / mcuW
      c = 0
      while (c < nComp) {
        var v = 0
        while (v < compV(c)) {
          var hh = 0
          while (hh < compH(c)) {
            decodeBlock(c, bx * compH(c) + hh, by * compV(c) + v)
            hh += 1
          }
          v += 1
        }
        c += 1
      }
      mcu += 1
    }

    (w, h, assembleRgb(w, h, nComp, compH, compV, hMax, vMax, planeBw, planes))
  }

  /** Separable IDCT of one dequantized 8×8 coefficient block into block
    * position (bx, by) of a byte plane: rows then columns against
    * [[Basis]], 2-D normalization 1/4, round-half-up, +128 level shift,
    * 0..255 clamp. `tmp` is a caller-provided 64-slot scratch. */
  private def idctToPlane(coef: Array[Int], plane: Array[Byte], strideP: Int,
                          bx: Int, by: Int, tmp: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0.0
        var u = 0
        while (u < 8) { acc += coef(y * 8 + u) * Basis(u * 8 + x); u += 1 }
        tmp(y * 8 + x) = acc
        x += 1
      }
      y += 1
    }
    var x = 0
    while (x < 8) {
      var yy = 0
      while (yy < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) { acc += tmp(v * 8 + x) * Basis(v * 8 + yy); v += 1 }
        val px = math.floor(acc / 4.0 + 0.5).toInt + 128
        val clamped = if (px < 0) 0 else if (px > 255) 255 else px
        plane((by * 8 + yy) * strideP + bx * 8 + x) = clamped.toByte
        yy += 1
      }
      x += 1
    }
  }

  /** Assemble decoded component byte planes to row-major RGB, cropping
    * the MCU padding to the declared dimensions; display pixel (x, y)
    * reads component sample (x·Hᵢ/hMax, y·Vᵢ/vMax) — sample replication
    * for subsampled chroma (scaladoc contract). Grayscale replicates Y;
    * color applies the JFIF YCbCr→RGB transform (doubles, round-half-up,
    * clamp; Cb=Cr=128 makes R=G=B=Y EXACT — the fixture replay path). */
  private def assembleRgb(w: Int, h: Int, nComp: Int, compH: Array[Int],
                          compV: Array[Int], hMax: Int, vMax: Int,
                          planeBw: Array[Int],
                          planes: Array[Array[Byte]]): Array[Byte] = {
    val rgb = new Array[Byte](3 * w * h)
    if (nComp == 1) {
      val yP = planes(0)
      val strideP = planeBw(0) * 8
      var yy = 0
      while (yy < h) {
        var x = 0
        while (x < w) {
          val v = yP(yy * strideP + x)
          val o = 3 * (yy * w + x)
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
          x += 1
        }
        yy += 1
      }
    } else {
      val yP = planes(0); val cbP = planes(1); val crP = planes(2)
      val strideY = planeBw(0) * 8
      val strideCb = planeBw(1) * 8
      val strideCr = planeBw(2) * 8
      var yy = 0
      while (yy < h) {
        var x = 0
        while (x < w) {
          val o = 3 * (yy * w + x)
          val yv = yP((yy * compV(0) / vMax) * strideY +
            x * compH(0) / hMax) & 0xFF
          val cb = (cbP((yy * compV(1) / vMax) * strideCb +
            x * compH(1) / hMax) & 0xFF) - 128
          val cr = (crP((yy * compV(2) / vMax) * strideCr +
            x * compH(2) / hMax) & 0xFF) - 128
          def cl(v: Double): Byte = {
            val r = math.floor(v + 0.5).toInt
            (if (r < 0) 0 else if (r > 255) 255 else r).toByte
          }
          rgb(o) = cl(yv + 1.402 * cr)
          rgb(o + 1) = cl(yv - 0.344136 * cb - 0.714136 * cr)
          rgb(o + 2) = cl(yv + 1.772 * cb)
          x += 1
        }
        yy += 1
      }
    }
    rgb
  }

  /** Progressive (SOF2) decode — the second-most-common web JPEG layout:
    * the image's quantized coefficients accumulate across SEVERAL scans
    * (T.81 annex G) — DC first/refinement scans (interleaved or single-
    * component), AC spectral-selection bands (single-component only, as
    * the spec mandates) with End-Of-Band run coding, and successive-
    * approximation refinement scans that sharpen one bit per pass —
    * then one dequantize + IDCT at the end. DQT/DHT/DRI segments may be
    * redefined BETWEEN scans (several encoders do); restart markers
    * reset both DC predictors and the EOB run. Scope: the same 1-or-2
    * sampling factors as baseline; a tighter pixel bound (coefficients
    * for the WHOLE image stay resident as ints — 4 bytes/px/component —
    * so the named decode bound is MaxDecodePixels/4). */
  private def decodeProgressive(id: Long, p: Array[Byte], w: Int, h: Int,
                                nComp: Int, compId: Array[Int],
                                compH: Array[Int], compV: Array[Int],
                                compQ: Array[Int], quant: Array[Array[Int]],
                                huffDc: Array[HuffTable],
                                huffAc: Array[HuffTable],
                                restartInterval0: Int,
                                sosSegAt: Int): (Int, Int, Array[Byte]) = {
    def u8(off: Int): Int = { require(off < p.length,
      s"media $id: truncated JPEG at offset $off"); p(off) & 0xFF }
    def u16(off: Int): Int = (u8(off) << 8) | u8(off + 1)
    require(w.toLong * h <= Multimodal.MaxDecodePixels / 4,
      s"media $id: ${w}x$h exceeds the ${Multimodal.MaxDecodePixels / 4}" +
        "-pixel progressive decode bound (whole-image coefficients resident)")
    if (nComp == 1) { compH(0) = 1; compV(0) = 1 }
    var hMax = 1; var vMax = 1
    var c = 0
    while (c < nComp) {
      if (compH(c) > hMax) hMax = compH(c)
      if (compV(c) > vMax) vMax = compV(c)
      c += 1
    }
    val mcuW = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (h + 8 * vMax - 1) / (8 * vMax)
    val planeBw = Array.tabulate(nComp)(c => mcuW * compH(c))
    val planeBh = Array.tabulate(nComp)(c => mcuH * compV(c))
    // raw (not yet dequantized) coefficients, natural order per block
    val coefs = Array.tabulate(nComp)(c =>
      new Array[Int](planeBw(c) * planeBh(c) * 64))
    // non-interleaved unit grid of comp c (T.81 A.2.2: ceil over the
    // component's OWN sample dims, not the MCU-padded plane)
    def nbW(c: Int): Int = (((w * compH(c) + hMax - 1) / hMax) + 7) / 8
    def nbH(c: Int): Int = (((h * compV(c) + vMax - 1) / vMax) + 7) / 8

    var restartInterval = restartInterval0
    val dcSeen = new Array[Boolean](3)
    var i = sosSegAt
    var sawEoi = false
    while (!sawEoi) {
      require(u8(i) == 0xFF, s"media $id: expected marker, got 0x${u8(i).toHexString}")
      while (u8(i + 1) == 0xFF) i += 1
      val m = u8(i + 1)
      i += 2
      m match {
        case 0xD9 => sawEoi = true
        case 0xDB | 0xC4 => // DQT / DHT between scans
          i += tableSegment(id, p, m, i, quant, huffDc, huffAc)
        case 0xDD =>
          val len = u16(i)
          require(len == 4 && i.toLong + len <= p.length, s"media $id: bad DRI")
          restartInterval = u16(i + 2)
          i += len
        case 0xC0 | 0xC2 =>
          throw new IllegalArgumentException(
            s"media $id: second SOF marker inside a progressive stream")
        case 0x01 | _ if m == 0x01 || (m >= 0xD0 && m <= 0xD7) => ()
        case 0xDA =>
          val len = u16(i)
          require(i.toLong + len <= p.length && len >= 6,
            s"media $id: truncated SOS")
          val ns = u8(i + 2)
          require(ns >= 1 && ns <= nComp, s"media $id: bad scan component count $ns")
          require(len >= 6 + 2 * ns, s"media $id: truncated SOS components")
          val scanComp = new Array[Int](ns)
          val scanDcT = new Array[Int](ns)
          val scanAcT = new Array[Int](ns)
          var sc = 0
          while (sc < ns) {
            val cs = u8(i + 3 + 2 * sc)
            val idx = (0 until nComp).find(compId(_) == cs).getOrElse(
              throw new IllegalArgumentException(
                s"media $id: SOS selects unknown component id $cs"))
            scanComp(sc) = idx
            val tda = u8(i + 4 + 2 * sc)
            scanDcT(sc) = tda >> 4
            scanAcT(sc) = tda & 0x0F
            require(scanDcT(sc) < 4 && scanAcT(sc) < 4,
              s"media $id: bad SOS entropy table ids")
            sc += 1
          }
          val ss = u8(i + 3 + 2 * ns)
          val se = u8(i + 4 + 2 * ns)
          val ahal = u8(i + 5 + 2 * ns)
          val ah = ahal >> 4
          val al = ahal & 0x0F
          require(al <= 13 && (ah == 0 || ah == al + 1),
            s"media $id: invalid successive approximation Ah=$ah Al=$al")
          i += len
          val r = new BitReader(id, p, i, p.length)
          if (ss == 0) { // DC scan (first or refinement)
            require(se == 0,
              s"media $id: progressive DC scan must have Se=0 (got $se)")
            if (ah == 0) scanComp.foreach(dcSeen(_) = true)
            else scanComp.foreach(ci => require(dcSeen(ci),
              s"media $id: DC refinement before the first DC scan"))
            decodeDcScan(id, r, scanComp, scanDcT, huffDc, coefs, planeBw,
              nComp, ns, mcuW, mcuH, compH, compV, nbW, nbH, ah, al,
              restartInterval)
          } else { // AC scan: single component, a spectral band
            require(ns == 1,
              s"media $id: progressive AC scans must be single-component")
            require(se >= ss && se <= 63,
              s"media $id: bad spectral band Ss=$ss Se=$se")
            val ci = scanComp(0)
            require(dcSeen(ci),
              s"media $id: AC scan before the component's first DC scan")
            val tab = huffAc(scanAcT(0))
            require(tab != null, s"media $id: missing AC table ${scanAcT(0)}")
            decodeAcScan(id, r, tab, coefs(ci), planeBw(ci), nbW(ci), nbH(ci),
              ss, se, ah, al, restartInterval)
          }
          // resume the segment walk at the next marker after the
          // entropy-coded data (skip stuffed 0xFF00 and RSTn bytes)
          i = r.bytePos
          var scanning = true
          while (scanning) {
            require(i + 1 < p.length, s"media $id: truncated after scan")
            if (u8(i) != 0xFF) i += 1
            else {
              val nm = u8(i + 1)
              if (nm == 0x00 || nm == 0xFF || (nm >= 0xD0 && nm <= 0xD7)) i += 1
              else scanning = false
            }
          }
        case _ =>
          val len = u16(i)
          require(len >= 2 && i.toLong + len <= p.length,
            s"media $id: truncated segment 0x${m.toHexString}")
          i += len
      }
    }

    // one dequantize + IDCT pass over every block of every plane
    val planes = Array.tabulate(nComp)(c =>
      new Array[Byte](planeBw(c) * 8 * planeBh(c) * 8))
    val tmp = new Array[Double](64)
    val blk = new Array[Int](64)
    c = 0
    while (c < nComp) {
      val q = quant(compQ(c))
      require(q != null, s"media $id: missing quant table ${compQ(c)}")
      val cf = coefs(c)
      var b = 0
      val nb = planeBw(c) * planeBh(c)
      while (b < nb) {
        var k = 0
        while (k < 64) { blk(k) = cf(b * 64 + k) * q(k); k += 1 }
        idctToPlane(blk, planes(c), planeBw(c) * 8, b % planeBw(c),
          b / planeBw(c), tmp)
        b += 1
      }
      c += 1
    }
    (w, h, assembleRgb(w, h, nComp, compH, compV, hMax, vMax, planeBw, planes))
  }

  /** One progressive DC scan: first scans Huffman-decode predictor diffs
    * (shifted left by Al); refinement scans append one raw bit per block
    * at position Al. Interleaved (all components, MCU order) or
    * non-interleaved (one component, its own block grid). */
  private def decodeDcScan(id: Long, r: BitReader, scanComp: Array[Int],
                           scanDcT: Array[Int], huffDc: Array[HuffTable],
                           coefs: Array[Array[Int]], planeBw: Array[Int],
                           nComp: Int, ns: Int, mcuW: Int, mcuH: Int,
                           compH: Array[Int], compV: Array[Int],
                           nbW: Int => Int, nbH: Int => Int,
                           ah: Int, al: Int, restartInterval: Int): Unit = {
    val pred = new Array[Int](3)
    def one(sc: Int, bx: Int, by: Int): Unit = {
      val ci = scanComp(sc)
      val off = (by * planeBw(ci) + bx) * 64
      if (ah == 0) {
        val tab = huffDc(scanDcT(sc))
        require(tab != null, s"media $id: missing DC table ${scanDcT(sc)}")
        val s = tab.decode(r)
        require(s <= 11, s"media $id: DC category $s out of range")
        pred(ci) += extend(r.readBits(s), s)
        coefs(ci)(off) = pred(ci) << al
      } else if (r.readBit() == 1) coefs(ci)(off) |= 1 << al
    }
    if (ns > 1) { // interleaved: the spec's MCU order over ALL scan comps
      require(ns == nComp,
        s"media $id: interleaved progressive DC scans must carry every " +
          s"component (got $ns of $nComp)")
      var mcu = 0
      val nMcu = mcuW * mcuH
      while (mcu < nMcu) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          r.restart(mcu / restartInterval - 1)
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        val bx = mcu % mcuW
        val by = mcu / mcuW
        var sc = 0
        while (sc < ns) {
          val ci = scanComp(sc)
          var v = 0
          while (v < compV(ci)) {
            var hh = 0
            while (hh < compH(ci)) {
              one(sc, bx * compH(ci) + hh, by * compV(ci) + v)
              hh += 1
            }
            v += 1
          }
          sc += 1
        }
        mcu += 1
      }
    } else { // non-interleaved: the component's own block grid
      val ci = scanComp(0)
      val bw = nbW(ci)
      val nUnits = bw * nbH(ci)
      var u = 0
      while (u < nUnits) {
        if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
          r.restart(u / restartInterval - 1)
          pred(0) = 0; pred(1) = 0; pred(2) = 0
        }
        one(0, u % bw, u / bw)
        u += 1
      }
    }
  }

  /** One progressive AC scan over a spectral band [ss, se] of one
    * component: first scans (Ah=0) decode run/size symbols with
    * End-Of-Band runs; refinement scans (Ah=Al+1) run the T.81 G.1.2.3
    * correction-bit algorithm — one raw bit per already-nonzero
    * coefficient, ±1<<Al insertions for newly nonzero ones. */
  private def decodeAcScan(id: Long, r: BitReader, tab: HuffTable,
                           coef: Array[Int], planeBwC: Int, bw: Int, bh: Int,
                           ss: Int, se: Int, ah: Int, al: Int,
                           restartInterval: Int): Unit = {
    var eobrun = 0
    val p1 = 1 << al
    val m1 = -1 << al
    def first(off: Int): Unit = {
      var k = ss
      if (eobrun > 0) { eobrun -= 1; return }
      while (k <= se) {
        val rs = tab.decode(r)
        val run = rs >> 4
        val s = rs & 0x0F
        if (s == 0) {
          if (run == 15) k += 16 // ZRL
          else {
            eobrun = (1 << run) - 1
            if (run > 0) eobrun += r.readBits(run).toInt
            return
          }
        } else {
          k += run
          require(k <= se, s"media $id: AC run past the spectral band")
          require(s <= 10, s"media $id: AC size $s out of range")
          coef(off + Zigzag(k)) = extend(r.readBits(s).toInt, s) << al
          k += 1
        }
      }
    }
    def refine(off: Int): Unit = {
      var k = ss
      if (eobrun == 0) {
        var done = false
        while (k <= se && !done) {
          val rs = tab.decode(r)
          var run = rs >> 4
          val s = rs & 0x0F
          var newVal = 0
          if (s == 0) {
            if (run < 15) {
              eobrun = 1 << run
              if (run > 0) eobrun += r.readBits(run).toInt
              done = true
            }
            // run == 15: skip 16 zero-history coefficients below
          } else {
            require(s == 1, s"media $id: AC refinement size $s must be 1")
            newVal = if (r.readBit() == 1) p1 else m1
          }
          if (!done) {
            var placed = false
            while (k <= se && !placed) {
              val z = off + Zigzag(k)
              if (coef(z) != 0) {
                if (r.readBit() == 1 && (coef(z) & p1) == 0)
                  coef(z) += (if (coef(z) >= 0) p1 else m1)
              } else {
                if (run == 0) {
                  if (newVal != 0) coef(z) = newVal
                  placed = true
                } else run -= 1
              }
              k += 1
            }
            require(placed || k > se,
              s"media $id: AC refinement run past the spectral band")
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) {
          val z = off + Zigzag(k)
          if (coef(z) != 0) {
            if (r.readBit() == 1 && (coef(z) & p1) == 0)
              coef(z) += (if (coef(z) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
    }
    val nUnits = bw * bh
    var u = 0
    while (u < nUnits) {
      if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
        r.restart(u / restartInterval - 1)
        eobrun = 0
      }
      val off = ((u / bw) * planeBwC + (u % bw)) * 64
      if (ah == 0) first(off) else refine(off)
      u += 1
    }
  }

  // ------------------------------------------------------------------
  // EXIF orientation (tag 274): parse + apply. Real crawls are full of
  // camera JPEGs whose pixels are STORED rotated with an orientation tag
  // saying how to display them — byte-identical content under different
  // orientations otherwise defeats position-sensitive operators (crop
  // search, boilerplate, quadrant stats). The perceptual complement is
  // the canonical dihedral hash (MediaDedup.imageCanonicalHash), which
  // needs no metadata at all.
  // ------------------------------------------------------------------

  /** EXIF orientation (1–8) from the first APP1 Exif segment's IFD0, or
    * 0 when absent/undeclared/malformed — metadata DEGRADES, it never
    * throws (the [[Multimodal.binaryMediaMeta]] null policy): hostile
    * bytes on this path surface in the pixel decoder's named failures,
    * not in a tag reader. Supports both TIFF byte orders. */
  def exifOrientation(p: Array[Byte]): Int = {
    def u8(off: Int): Int =
      if (off >= 0 && off < p.length) p(off) & 0xFF else -1
    def u16be(off: Int): Int = {
      val a = u8(off); val b = u8(off + 1)
      if (a < 0 || b < 0) -1 else (a << 8) | b
    }
    if (u8(0) != 0xFF || u8(1) != 0xD8) return 0
    var i = 2
    var guard = 0
    while (guard < 64) {
      guard += 1
      if (u8(i) != 0xFF) return 0
      while (u8(i + 1) == 0xFF) i += 1
      val m = u8(i + 1)
      i += 2
      if (m < 0 || m == 0xD9 || m == 0xDA) return 0 // EOI / SOS: no EXIF
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) () // standalone
      else {
        val len = u16be(i)
        if (len < 2 || i.toLong + len > p.length) return 0
        if (m == 0xE1 && len >= 2 + 6 + 8 && u8(i + 2) == 'E' &&
          u8(i + 3) == 'x' && u8(i + 4) == 'i' && u8(i + 5) == 'f' &&
          u8(i + 6) == 0 && u8(i + 7) == 0)
          return tiffOrientation(p, i + 8, i + len)
        i += len
      }
    }
    0
  }

  /** Tag 274 from a raw TIFF block at [t, end) — the carrier-agnostic
    * core behind [[exifOrientation]] (JPEG APP1) and
    * [[Webp.exifOrientation]] (the EXIF chunk). Same degrade-to-0
    * contract: NEVER throws. */
  private[multimodal] def tiffOrientation(p: Array[Byte], t: Int,
                                          end: Int): Int = {
    def u8(off: Int): Int =
      if (off >= 0 && off < p.length) p(off) & 0xFF else -1
    val little = u8(t) == 'I' && u8(t + 1) == 'I'
    val big = u8(t) == 'M' && u8(t + 1) == 'M'
    if (!little && !big) return 0
    def u16t(off: Int): Int = {
      val a = u8(off); val b = u8(off + 1)
      if (a < 0 || b < 0 || off + 1 >= end) -1
      else if (little) a | (b << 8) else (a << 8) | b
    }
    def u32t(off: Int): Long = {
      val a = u16t(off); val b = u16t(off + 2)
      if (a < 0 || b < 0) -1L
      else if (little) a.toLong | (b.toLong << 16)
      else (a.toLong << 16) | b.toLong
    }
    if (u16t(t + 2) != 42) return 0
    val ifd = u32t(t + 4)
    if (ifd < 0 || t + ifd + 2 > end) return 0
    val base = (t + ifd).toInt
    val n = u16t(base)
    if (n < 0 || n > 512) return 0
    var e = 0
    while (e < n) {
      val eo = base + 2 + 12 * e
      if (eo + 12 > end) return 0
      if (u16t(eo) == 0x0112 && u16t(eo + 2) == 3 &&
        u32t(eo + 4) == 1L) {
        val v = u16t(eo + 8)
        return if (v >= 1 && v <= 8) v else 0
      }
      e += 1
    }
    0
  }

  /** The EXIF tag-274 source-coordinate table (the published
    * semantics): the STORED pixel (sx, sy) that displayed pixel (x, y)
    * shows under orientation `o` (1–8), for a stored `w`×`h` image —
    * the displayed dims swap for 5–8. */
  def orientSource(o: Int, w: Int, h: Int, x: Int, y: Int): (Int, Int) =
    o match {
      case 1 => (x, y)
      case 2 => (w - 1 - x, y)
      case 3 => (w - 1 - x, h - 1 - y)
      case 4 => (x, h - 1 - y)
      case 5 => (y, x)
      case 6 => (y, h - 1 - x)
      case 7 => (w - 1 - y, h - 1 - x)
      case _ => (w - 1 - y, x) // 8
    }

  /** Apply orientation `o` to a decoded `w`×`h` image of `bpp`-byte
    * interleaved pixels: the image as displayed, with its dims. */
  private[multimodal] def orientPixels(w: Int, h: Int, px: Array[Byte],
                                       bpp: Int,
                                       o: Int): (Int, Int, Array[Byte]) = {
    val swap = o >= 5
    val dw = if (swap) h else w
    val dh = if (swap) w else h
    val out = new Array[Byte](bpp * dw * dh)
    var y = 0
    while (y < dh) {
      var x = 0
      while (x < dw) {
        val (sx, sy) = orientSource(o, w, h, x, y)
        System.arraycopy(px, bpp * (sy * w + sx), out, bpp * (y * dw + x), bpp)
        x += 1
      }
      y += 1
    }
    (dw, dh, out)
  }

  /** Decode + APPLY the EXIF orientation: returns the image AS DISPLAYED
    * (dims swap for orientations 5–8). Orientation 0 (absent) and 1 are
    * the identity. The source-coordinate table is the published EXIF
    * tag-274 semantics ([[orientSource]]). */
  def decodeRgbOriented(id: Long, p: Array[Byte]): (Int, Int, Int, Array[Byte]) = {
    val (w, h, rgb) = decodeRgb(id, p)
    val o = exifOrientation(p)
    if (o <= 1) return (w, h, o, rgb)
    val (dw, dh, out) = orientPixels(w, h, rgb, 3, o)
    (dw, dh, o, out)
  }

  /** Inject an APP1 Exif segment declaring `orientation` right after the
    * SOI of an encoded JPEG (fixture side): "Exif\0\0" + a minimal TIFF
    * body (II byte order, IFD0 with the single SHORT tag 274). */
  /** A minimal TIFF block declaring `orientation` (II byte order, IFD0
    * with the single SHORT tag 274) — shared by the JPEG APP1 and WebP
    * EXIF-chunk fixture writers. */
  private[multimodal] def exifTiffBody(orientation: Int): Array[Byte] = {
    require(orientation >= 1 && orientation <= 8, s"orientation $orientation")
    val tiff = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { tiff.write(v & 0xFF); tiff.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16(v >>> 16) }
    tiff.write('I'); tiff.write('I'); le16(42); le32(8) // header, IFD0 at 8
    le16(1) // one entry
    le16(0x0112); le16(3); le32(1); le16(orientation); le16(0) // tag 274
    le32(0) // no next IFD
    tiff.toByteArray
  }

  def withExif(jpeg: Array[Byte], orientation: Int): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xFF) == 0xFF &&
      (jpeg(1) & 0xFF) == 0xD8, "not a JPEG")
    val body = exifTiffBody(orientation)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8)
    out.write(0xFF); out.write(0xE1)
    val len = 2 + 6 + body.length
    out.write((len >> 8) & 0xFF); out.write(len & 0xFF)
    out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
    out.write(body, 0, body.length)
    out.write(jpeg, 2, jpeg.length - 2)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Encoder (fixture side): spec-complete baseline JPEG output.
  // ------------------------------------------------------------------

  /** Canonical fixture Huffman spec: (bits[16], symbols). */
  private def dcTableSpec: (Array[Int], Array[Byte]) = {
    // 12 DC categories, all at code length 4 (12 ≤ 16 codes of length 4;
    // the all-ones code stays unused — a legal incomplete canonical code)
    val bits = new Array[Int](16)
    bits(3) = 12
    (bits, Array.tabulate(12)(_.toByte))
  }

  private def acTableSpec: (Array[Int], Array[Byte]) = {
    // all 162 AC symbols (EOB, ZRL, run 0..15 × size 1..10) at length 8
    val syms = scala.collection.mutable.ArrayBuffer[Byte](0x00, 0xF0.toByte)
    for (r <- 0 until 16; s <- 1 to 10) syms += ((r << 4) | s).toByte
    val bits = new Array[Int](16)
    bits(7) = syms.length
    (bits, syms.toArray)
  }

  /** symbol -> (code, length) for a canonical spec. */
  private def canonical(spec: (Array[Int], Array[Byte])): Map[Int, (Int, Int)] = {
    val (bits, vals) = spec
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var j = 0
      while (j < bits(l - 1)) {
        out += (vals(k) & 0xFF) -> ((code, l))
        code += 1; k += 1; j += 1
      }
      code <<= 1
      l += 1
    }
    out.result()
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var cur = 0
    private var nbits = 0
    def write(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        cur = (cur << 1) | ((code >> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.write(cur)
          if (cur == 0xFF) out.write(0x00) // byte stuffing
          cur = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** Pad to a byte boundary with 1-bits (T.81 convention). */
    def align(): Unit = if (nbits > 0) write((1 << (8 - nbits)) - 1, 8 - nbits)
  }

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a > 0) { a >>= 1; s += 1 }
    s
  }

  /** Quantization tables the fixtures plant: q(0,0) = 8 makes the DC-only
    * closed form clamp(dc + 128) — dequantized DC·8, IDCT divides by 8. */
  private val FixtureQuant: Array[Int] = {
    val q = Array.fill(64)(16)
    q(0) = 8
    q
  }

  /** The header segments both fixture encoders write: SOI, JFIF APP0,
    * the fixture DQT, the frame header (`sofMarker` C0 baseline / C2
    * progressive, one HV sampling byte per component in `hv`), the DC +
    * AC DHT, and DRI when `restartInterval` > 0. */
  private def writeHeaders(out: java.io.ByteArrayOutputStream, sofMarker: Int,
                           width: Int, height: Int, hv: Array[Int],
                           restartInterval: Int): Unit = {
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    // SOI + JFIF APP0
    u8(0xFF); u8(0xD8)
    u8(0xFF); u8(0xE0); u16(16)
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    // DQT (table 0, natural order re-zigzagged on write)
    u8(0xFF); u8(0xDB); u16(2 + 65); u8(0x00)
    var k = 0
    while (k < 64) { u8(FixtureQuant(Zigzag(k))); k += 1 }
    u8(0xFF); u8(sofMarker); u16(8 + 3 * hv.length); u8(8)
    u16(height); u16(width); u8(hv.length)
    var c = 0
    while (c < hv.length) { u8(c + 1); u8(hv(c)); u8(0); c += 1 }
    // DHT: DC table 0 + AC table 0
    val dcSpec = dcTableSpec
    val acSpec = acTableSpec
    u8(0xFF); u8(0xC4)
    u16(2 + (1 + 16 + dcSpec._2.length) + (1 + 16 + acSpec._2.length))
    u8(0x00); dcSpec._1.foreach(u8); out.write(dcSpec._2)
    u8(0x10); acSpec._1.foreach(u8); out.write(acSpec._2)
    if (restartInterval > 0) { u8(0xFF); u8(0xDD); u16(4); u16(restartInterval) }
  }

  /** One DC difference: its category's Huffman code, then the magnitude
    * bits (one's-complement for negatives). */
  private def writeDcDiff(bw: BitWriter, dcCodes: Map[Int, (Int, Int)],
                          diff: Int): Unit = {
    val s = category(diff)
    val (dcCode, dcLen) = dcCodes(s)
    bw.write(dcCode, dcLen)
    if (s > 0)
      bw.write(if (diff < 0) diff + (1 << s) - 1 else diff, s)
  }

  /** One nonzero AC coefficient `v` after `run` zeros: a ZRL code per 16
    * zeros, then the (run, size) code and the magnitude bits. */
  private def writeAc(bw: BitWriter, acCodes: Map[Int, (Int, Int)],
                      run0: Int, v: Int): Unit = {
    var run = run0
    while (run > 15) {
      val (zc, zl) = acCodes(0xF0); bw.write(zc, zl); run -= 16
    }
    val sz = category(v)
    require(sz <= 10, s"AC coefficient $v too large for the fixture table")
    val (code, len) = acCodes((run << 4) | sz)
    bw.write(code, len)
    bw.write(if (v < 0) v + (1 << sz) - 1 else v, sz)
  }

  /** Byte-align the entropy stream and write the RSTn marker that closes
    * the n-th restart interval. */
  private def writeRestart(bw: BitWriter, out: java.io.ByteArrayOutputStream,
                           n: Int): Unit = {
    bw.align()
    out.write(0xFF); out.write(0xD0 + ((n - 1) & 7))
  }

  /** Encode a baseline JPEG whose 8×8 blocks carry the given QUANTIZED
    * coefficient arrays (zigzag-independent: input is natural row-major
    * order, 64 per block per component). `blocks(c)` holds component
    * `c`'s blocks in ITS OWN block-grid raster order — (mcuW·Hᵢ) ×
    * (mcuH·Vᵢ) blocks where the MCU grid is ceil-divided by 8·Hmax /
    * 8·Vmax. Components: 1 (grayscale) or 3 (YCbCr). `sampling` gives
    * the per-component HV byte (0x11/0x21/0x12/0x22; null = all 1×1 —
    * the grid is then exactly ceil(w/8) × ceil(h/8), the legacy layout).
    * All components share the fixture quant table and the generated
    * canonical Huffman tables. `restartInterval` > 0 plants DRI + RSTn
    * markers. */
  def encodeBlocks(width: Int, height: Int, blocks: Array[Array[Array[Int]]],
                   restartInterval: Int = 0,
                   sampling: Array[Int] = null): Array[Byte] = {
    val nComp = blocks.length
    require(nComp == 1 || nComp == 3, "1 or 3 components")
    val hv = if (sampling == null) Array.fill(nComp)(0x11) else sampling
    require(hv.length == nComp, "one HV byte per component")
    val cH = hv.map(_ >> 4)
    val cV = hv.map(_ & 0x0F)
    require(cH.forall(v => v >= 1 && v <= 4) && cV.forall(v => v >= 1 && v <= 4),
      "sampling factors must be 1 to 4")
    require(nComp == 1 || (0 until nComp).map(k => cH(k) * cV(k)).sum <= 10,
      "sampling factors exceed the 10-blocks-per-MCU bound")
    val hMax = cH.max
    val vMax = cV.max
    val mcuW = (width + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (height + 8 * vMax - 1) / (8 * vMax)
    var cc = 0
    while (cc < nComp) {
      require(blocks(cc).length == mcuW * cH(cc) * mcuH * cV(cc),
        s"component $cc needs ${mcuW * cH(cc)} x ${mcuH * cV(cc)} blocks, " +
          s"got ${blocks(cc).length}")
      cc += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    writeHeaders(out, 0xC0, width, height, hv, restartInterval) // SOF0
    // SOS
    u8(0xFF); u8(0xDA); u16(6 + 2 * nComp); u8(nComp)
    var c = 0
    while (c < nComp) { u8(c + 1); u8(0x00); c += 1 }
    u8(0); u8(63); u8(0)
    // entropy-coded data
    val dcCodes = canonical(dcTableSpec)
    val acCodes = canonical(acTableSpec)
    val bwrt = new BitWriter(out)
    val pred = new Array[Int](3)
    def encodeOne(cc: Int, blk: Array[Int]): Unit = {
      writeDcDiff(bwrt, dcCodes, blk(0) - pred(cc))
      pred(cc) = blk(0)
      // AC run-lengths over zigzag order
      var run = 0
      var kk = 1
      while (kk < 64) {
        val v = blk(Zigzag(kk))
        if (v == 0) run += 1
        else {
          writeAc(bwrt, acCodes, run, v)
          run = 0
        }
        kk += 1
      }
      if (run > 0) { val (ec, el) = acCodes(0x00); bwrt.write(ec, el) }
    }
    var mcu = 0
    val nMcu = mcuW * mcuH
    while (mcu < nMcu) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        writeRestart(bwrt, out, mcu / restartInterval)
        pred(0) = 0; pred(1) = 0; pred(2) = 0
      }
      val bx = mcu % mcuW
      val by = mcu / mcuW
      c = 0
      while (c < nComp) {
        var v = 0
        while (v < cV(c)) {
          var hh = 0
          while (hh < cH(c)) {
            encodeOne(c, blocks(c)(
              (by * cV(c) + v) * (mcuW * cH(c)) + bx * cH(c) + hh))
            hh += 1
          }
          v += 1
        }
        c += 1
      }
      mcu += 1
    }
    bwrt.align()
    u8(0xFF); u8(0xD9) // EOI
    out.toByteArray
  }

  /** A DC-only coefficient block that decodes to the constant `value`
    * (dc = value − 128 under q00 = 8). */
  private def dcBlock(value: Int, what: String): Array[Int] = {
    require(value >= 0 && value <= 255, s"$what $value out of range")
    val blk = new Array[Int](64)
    blk(0) = value - 128
    blk
  }

  /** Encode a grayscale DC-ONLY baseline JPEG: block (bx, by) decodes to
    * the CONSTANT gray `grays(by*bw+bx)` exactly (dc = gray − 128 with
    * q00 = 8 ⇒ clamp(round(dc·8/8) + 128) = gray). `color = true` wraps
    * the same luma in a 3-component YCbCr frame with both chroma planes
    * planted at 128 (DC 0), which the JFIF transform maps back to
    * R=G=B=Y exactly — so the closed form survives the color path too. */
  def encodeGrayBlocks(width: Int, height: Int, grays: Array[Int],
                       color: Boolean = false,
                       restartInterval: Int = 0): Array[Byte] = {
    val bw = (width + 7) / 8
    val bh = (height + 7) / 8
    require(grays.length == bw * bh, s"need $bw x $bh block grays")
    val luma = grays.map(dcBlock(_, "gray"))
    val comps =
      if (color) Array(luma, Array.fill(bw * bh)(new Array[Int](64)),
        Array.fill(bw * bh)(new Array[Int](64)))
      else Array(luma)
    encodeBlocks(width, height, comps, restartInterval)
  }

  /** Encode a PROGRESSIVE (SOF2) JPEG whose 8×8 blocks carry the given
    * QUANTIZED coefficients (natural row-major order, the
    * [[encodeBlocks]] layout at 1×1 sampling) — the spectral-selection
    * profile: one interleaved first DC scan (Ss=0, Se=0, Ah=Al=0), then
    * per component per `bands` entry a single-component AC scan over
    * that coefficient band, End-Of-Band coded per block (the fixture
    * Huffman alphabet carries EOB runs of length 1). Al = 0 everywhere,
    * so the COEFFICIENT values round-trip exactly and a DC-only input
    * decodes to the same closed form as its baseline twin — the
    * oracle-replay path for the progressive decoder; successive-
    * approximation scripts are exercised against ImageIO-written files
    * in spec. */
  def encodeProgressive(width: Int, height: Int,
                        blocks: Array[Array[Array[Int]]],
                        bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
                        restartInterval: Int = 0): Array[Byte] = {
    val nComp = blocks.length
    require(nComp == 1 || nComp == 3, "1 or 3 components")
    require(bands.nonEmpty && bands.head._1 == 1 &&
      bands.last._2 == 63 &&
      bands.sliding(2).forall(w => w.length < 2 || w(1)._1 == w(0)._2 + 1) &&
      bands.forall(b => b._1 <= b._2),
      "bands must partition 1..63 in order")
    val bw = (width + 7) / 8
    val bh = (height + 7) / 8
    require(blocks.forall(_.length == bw * bh),
      s"need $bw x $bh coefficient blocks per component")
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xFF)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    // SOF2: identical layout to SOF0, progressive marker
    writeHeaders(out, 0xC2, width, height, Array.fill(nComp)(0x11),
      restartInterval)
    val dcCodes = canonical(dcTableSpec)
    val acCodes = canonical(acTableSpec)
    // first DC scan: interleaved, Ss=0 Se=0 Ah=0 Al=0
    u8(0xFF); u8(0xDA); u16(6 + 2 * nComp); u8(nComp)
    var c = 0
    while (c < nComp) { u8(c + 1); u8(0x00); c += 1 }
    u8(0); u8(0); u8(0)
    val bwrt = new BitWriter(out)
    val pred = new Array[Int](3)
    var mcu = 0
    while (mcu < bw * bh) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        writeRestart(bwrt, out, mcu / restartInterval)
        pred(0) = 0; pred(1) = 0; pred(2) = 0
      }
      c = 0
      while (c < nComp) {
        writeDcDiff(bwrt, dcCodes, blocks(c)(mcu)(0) - pred(c))
        pred(c) = blocks(c)(mcu)(0)
        c += 1
      }
      mcu += 1
    }
    bwrt.align()
    // per component, per band: a single-component AC scan
    c = 0
    while (c < nComp) {
      bands.foreach { case (ss, se) =>
        u8(0xFF); u8(0xDA); u16(8); u8(1)
        u8(c + 1); u8(0x00)
        u8(ss); u8(se); u8(0)
        val bws = new BitWriter(out)
        var b = 0
        while (b < bw * bh) {
          if (restartInterval > 0 && b > 0 && b % restartInterval == 0)
            writeRestart(bws, out, b / restartInterval)
          val blk = blocks(c)(b)
          var run = 0
          var kk = ss
          var emitted = false
          while (kk <= se) {
            val v = blk(Zigzag(kk))
            if (v == 0) run += 1
            else {
              writeAc(bws, acCodes, run, v)
              run = 0
              emitted = true
            }
            kk += 1
          }
          if (run > 0 || !emitted) {
            val (ec, el) = acCodes(0x00); bws.write(ec, el) // EOB (run 1)
          }
          b += 1
        }
        bws.align()
      }
      c += 1
    }
    u8(0xFF); u8(0xD9)
    out.toByteArray
  }

  /** Encode a 4:2:0 (luma 2×2, chroma 1×1) baseline YCbCr JPEG whose
    * luma 8×8 block (bx, by) decodes to the CONSTANT gray
    * `grays(by·2·mcuW + bx)` exactly (DC-only, the q00 = 8 closed form —
    * the luma grid is (2·mcuW) × (2·mcuH) blocks over the 16×16 MCU
    * grid), and whose chroma planes carry PER-MCU constants (`cbs`/`crs`,
    * one value per 16×16 MCU in MCU raster order; null = all 128, which
    * the JFIF transform maps back to R=G=B=Y exactly). Non-null chroma
    * replicates to the whole MCU under the decoder's sample-replication
    * upsampling, so every pixel's (Y, Cb, Cr) triple — and therefore the
    * rounded RGB — stays a closed form. */
  def encodeGray420(width: Int, height: Int, grays: Array[Int],
                    cbs: Array[Int] = null, crs: Array[Int] = null,
                    restartInterval: Int = 0): Array[Byte] = {
    val mcuW = (width + 15) / 16
    val mcuH = (height + 15) / 16
    require(grays.length == 4 * mcuW * mcuH,
      s"need ${2 * mcuW} x ${2 * mcuH} luma block grays")
    val luma = grays.map(dcBlock(_, "gray"))
    def chroma(vals: Array[Int]): Array[Array[Int]] =
      if (vals == null) Array.fill(mcuW * mcuH)(new Array[Int](64))
      else {
        require(vals.length == mcuW * mcuH, s"need $mcuW x $mcuH chroma values")
        vals.map(dcBlock(_, "chroma"))
      }
    encodeBlocks(width, height, Array(luma, chroma(cbs), chroma(crs)),
      restartInterval, Array(0x22, 0x11, 0x11))
  }

  /** YCbCr fixture with an ARBITRARY luma sampling factor (the
    * [[encodeGray420]] pattern generalized to H/V in 1..4 — 4:1:1,
    * 3:1:1, vertical variants): DC-only luma blocks from `grays`
    * (block-grid row-major over the mcuW·H × mcuH·V luma plane),
    * neutral chroma (Cb=Cr=128 makes R=G=B=Y exact — the closed-form
    * replay path). */
  def encodeGraySampled(width: Int, height: Int, grays: Array[Int],
                        hvLuma: Int,
                        restartInterval: Int = 0): Array[Byte] = {
    val hL = hvLuma >> 4; val vL = hvLuma & 0x0F
    val mcuW = (width + 8 * hL - 1) / (8 * hL)
    val mcuH = (height + 8 * vL - 1) / (8 * vL)
    require(grays.length == mcuW * hL * mcuH * vL,
      s"need ${mcuW * hL} x ${mcuH * vL} luma block grays, " +
        s"got ${grays.length}")
    val luma = grays.map(dcBlock(_, "gray"))
    def neutral = Array.fill(mcuW * mcuH)(new Array[Int](64))
    encodeBlocks(width, height, Array(luma, neutral, neutral),
      restartInterval, Array(hvLuma, 0x11, 0x11))
  }
}
