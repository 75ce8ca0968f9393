package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** WebP container walk + REAL VP8L (lossless) pixel decode — no media
  * library. The container is RIFF (chunk fourcc + LE32 size, word
  * aligned); the lossless bitstream is the public VP8L spec (RFC 9649):
  * an LSB-first bit stream carrying canonical prefix codes (Deflate-style
  * code-length codes), an LZ77 layer with a 120-entry close-neighborhood
  * distance mapping, an optional color cache, optional meta prefix-code
  * tiling, and up to four invertible transforms (predictor / cross-color /
  * subtract-green / color-indexing with sub-byte pixel bundling).
  *
  * Lossless ⇒ decode is EXACT, so planted fixtures replay closed-form
  * (the PNG/GIF discipline). Lossy "VP8 " stills and ANMF frames — the
  * MAJORITY crawl profile — decode through the [[Vp8]] RFC 6386
  * keyframe decoder (pinned byte-exact against the system libwebp),
  * including the separately-coded ALPH alpha plane (raw or
  * VP8L-compressed, all three prediction filters) — every WebP still
  * profile now decodes to pixels.
  *
  * The encoder half ([[encodeLossless]]) exists for fixtures: it emits
  * spec-conformant bitstreams across the transform/cache/LZ77 matrix so
  * every decoder path is earned against real bytes (the JDK has no WebP
  * codec to cross-pin against, unlike PNG/GIF/JPEG — exactness instead
  * comes from closed-form planted pixels and round-trip symmetry).
  *
  * Fuzz contract (FuzzSpec): every exit on hostile bytes is a NAMED
  * IllegalArgumentException ("media <id>: cause") — never an index
  * error, an unnamed overflow, or an unbounded loop/allocation.
  */
private[graft] object Webp {

  import Multimodal.{Containers, MaxDecodePixels}

  private def fail(id: Long, msg: String): Nothing =
    throw new IllegalArgumentException(s"media $id: $msg")

  private def check(ok: Boolean, id: Long, msg: => String): Unit =
    if (!ok) fail(id, msg)

  def isWebp(p: Array[Byte]): Boolean =
    p.length >= 12 && p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte && p(3) == 'F'.toByte && p(8) == 'W'.toByte &&
      p(9) == 'E'.toByte && p(10) == 'B'.toByte && p(11) == 'P'.toByte

  private def le32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xFFL) | ((p(off + 1) & 0xFFL) << 8) |
      ((p(off + 2) & 0xFFL) << 16) | ((p(off + 3) & 0xFFL) << 24)

  /** RIFF chunk walk → the still image's RGBA pixels. VP8L (lossless),
    * "VP8 " (lossy keyframe, [[Vp8]] — the majority real-crawl
    * profile), and ALPH+VP8 (lossy with the separately-coded alpha
    * plane — [[decodeAlph]]) all decode for real; ANIM/ANMF (animated)
    * is the video surface's job and fails by name here. VP8X (extended
    * layout) is canvas metadata; the image chunk follows it. */
  def decodeWebpRgba(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) = {
    check(isWebp(p), id, "not a WebP RIFF container")
    var off = 12
    var chunks = 0
    var alphAt = -1
    var alphEnd = -1
    while (off + 8 <= p.length) {
      chunks += 1
      check(chunks <= 64, id, "WebP chunk walk exceeded 64 chunks")
      val fourcc = new String(p, off, 4, "US-ASCII")
      val size = le32(p, off + 4)
      check(off + 8 + size <= p.length, id, s"truncated WebP chunk $fourcc")
      fourcc match {
        case "VP8L" =>
          return decodeVp8l(id, p, off + 8, (off + 8 + size).toInt)
        case "VP8 " =>
          val (w, h, rgba) = Vp8.decodeRgba(id, p, off + 8,
            (off + 8 + size).toInt)
          if (alphAt >= 0) {
            val alpha = decodeAlph(id, p, alphAt, alphEnd, w, h)
            var i = 0
            while (i < w * h) { rgba(4 * i + 3) = alpha(i); i += 1 }
          }
          return (w, h, rgba)
        case "ALPH" =>
          alphAt = off + 8
          alphEnd = (off + 8 + size).toInt
        case "ANIM" | "ANMF" =>
          fail(id, "animated WebP is not a still image (codec ANIM)")
        case _ => () // VP8X canvas header, ICCP/EXIF/XMP: skipped
      }
      off += (8 + size + (size & 1)).toInt
    }
    fail(id, "WebP container without an image chunk")
  }

  /** ALPH chunk payload [start, end) → the w*h alpha plane (container
    * spec layout): header byte = reserved(2) | preprocessing(2) |
    * filtering(2) | compression(2); compression 0 = raw bytes, 1 = a
    * HEADERLESS top-level VP8L image stream whose GREEN channel carries
    * the (filtered) alpha values; filtering 1/2/3 = horizontal /
    * vertical / gradient prediction, reversed additively mod 256 with
    * the row-0/col-0 fallbacks and the clipped gradient predictor.
    * Preprocessing (level reduction) is an encoder-side lossy step —
    * nothing to invert. Hostile layouts fail by name. */
  private[multimodal] def decodeAlph(id: Long, p: Array[Byte], start: Int,
                                     end: Int, w: Int,
                                     h: Int): Array[Byte] = {
    check(end - start >= 1, id, "truncated ALPH chunk")
    val hdr = p(start) & 0xFF
    check((hdr >> 6) == 0, id, s"reserved ALPH header bits ${hdr >> 6}")
    val filter = (hdr >> 2) & 3
    val comp = hdr & 3
    check(comp <= 1, id, s"reserved ALPH compression method $comp")
    val plane = new Array[Byte](w * h)
    if (comp == 0) {
      check(end - start - 1 >= w * h, id, "truncated raw ALPH plane")
      System.arraycopy(p, start + 1, plane, 0, w * h)
    } else {
      val br = new BitReader(id, p, start + 1, end)
      val argb = decodeImageStream(id, br, w, h, level0 = true)
      var i = 0
      while (i < w * h) { plane(i) = ((argb(i) >> 8) & 0xFF).toByte; i += 1 }
    }
    if (filter != 0) unfilterAlpha(plane, w, h, filter)
    plane
  }

  /** In-place inverse alpha filtering (additive mod 256): horizontal
    * (left; row-0 fallback above), vertical (above; row 0 horizontal),
    * gradient (clip(left + above − above-left); row 0 horizontal). */
  private def unfilterAlpha(plane: Array[Byte], w: Int, h: Int,
                            filter: Int): Unit = {
    def horizRow(y: Int): Unit = {
      var pred = if (y == 0) 0 else plane((y - 1) * w) & 0xFF
      var x = 0
      while (x < w) {
        val v = (pred + plane(y * w + x)) & 0xFF
        plane(y * w + x) = v.toByte
        pred = v
        x += 1
      }
    }
    filter match {
      case 1 =>
        var y = 0
        while (y < h) { horizRow(y); y += 1 }
      case 2 =>
        horizRow(0)
        var y = 1
        while (y < h) {
          var x = 0
          while (x < w) {
            plane(y * w + x) =
              (((plane((y - 1) * w + x) & 0xFF) +
                (plane(y * w + x) & 0xFF)) & 0xFF).toByte
            x += 1
          }
          y += 1
        }
      case _ => // gradient
        horizRow(0)
        var y = 1
        while (y < h) {
          var left = plane((y - 1) * w) & 0xFF
          var topLeft = left
          var x = 0
          while (x < w) {
            val top = plane((y - 1) * w + x) & 0xFF
            val g = left + top - topLeft
            val pred = if (g < 0) 0 else if (g > 255) 255 else g
            left = ((plane(y * w + x) & 0xFF) + pred) & 0xFF
            plane(y * w + x) = left.toByte
            topLeft = top
            x += 1
          }
          y += 1
        }
    }
  }

  /** Fixture/encoder side of [[decodeAlph]]: forward-filter the plane
    * and emit the ALPH payload (raw or as a headerless VP8L stream). */
  private[multimodal] def encodeAlph(w: Int, h: Int, alpha: Array[Int],
                                     filter: Int,
                                     compress: Boolean): Array[Byte] = {
    require(alpha.length == w * h && alpha.forall(v => v >= 0 && v <= 255))
    require(filter >= 0 && filter <= 3)
    // forward filter: residual = value - pred (mod 256), preds from the
    // ORIGINAL plane (reconstruction is exact, so decoder preds match)
    val res = new Array[Int](w * h)
    def horizPred(x: Int, y: Int): Int =
      if (x > 0) alpha(y * w + x - 1)
      else if (y > 0) alpha((y - 1) * w) else 0
    var i = 0
    while (i < w * h) {
      val x = i % w; val y = i / w
      val pred = filter match {
        case 0 => 0
        case 1 => horizPred(x, y)
        case 2 => if (y == 0) horizPred(x, y) else alpha((y - 1) * w + x)
        case _ =>
          if (y == 0) horizPred(x, y)
          else {
            val left = if (x > 0) alpha(y * w + x - 1) else alpha((y - 1) * w)
            val top = alpha((y - 1) * w + x)
            val tl = if (x > 0) alpha((y - 1) * w + x - 1) else alpha((y - 1) * w)
            val g = left + top - tl
            if (g < 0) 0 else if (g > 255) 255 else g
          }
      }
      res(i) = (alpha(i) - pred) & 0xFF
      i += 1
    }
    val hdrByte = ((filter & 3) << 2) | (if (compress) 1 else 0)
    val body: Array[Byte] =
      if (!compress) res.map(_.toByte)
      else encodeAlphaStream(w, res)
    Array(hdrByte.toByte) ++ body
  }

  /** A HEADERLESS top-level VP8L image stream (the ALPH "lossless"
    * payload layout — no signature/dims): no transforms, no cache, one
    * prefix-code group, values in the green channel. */
  private def encodeAlphaStream(w: Int, green: Array[Int]): Array[Byte] = {
    val bw = new BitWriter
    val px = Array.tabulate(green.length)(i =>
      0xFF000000 | ((green(i) & 0xFF) << 8))
    bw.write(0, 1) // end of transforms
    bw.write(0, 1) // no color cache
    bw.write(0, 1) // no meta prefix codes
    writeEntropyBody(bw, px, w, 0, lz77 = false, 1, _ => 0)
    bw.bytes
  }

  // ------------------------------------------------------------------
  // bit reader — LSB-first within each byte, per the VP8L spec
  // ------------------------------------------------------------------

  private final class BitReader(id: Long, p: Array[Byte], start: Int,
                                end: Int) {
    private var pos = start
    private var bit = 0

    def readBits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        if (pos >= end) fail(id, "truncated VP8L bitstream")
        if (((p(pos) >> bit) & 1) != 0) v |= 1 << i
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        i += 1
      }
      v
    }
  }

  // ------------------------------------------------------------------
  // canonical prefix codes (Deflate-style assignment; codes read MSB-
  // first off the LSB-first bit stream, one bit at a time)
  // ------------------------------------------------------------------

  private val MaxCodeLength = 15

  private sealed trait SymbolCode { def read(br: BitReader): Int }

  /** Simple 2-symbol code: bit 0 ↔ the FIRST listed symbol regardless of
    * symbol order (the spec's explicit mapping, not canonical order). */
  private final class PairCode(s0: Int, s1: Int) extends SymbolCode {
    def read(br: BitReader): Int = if (br.readBits(1) == 0) s0 else s1
  }

  private final class PrefixCode(id: Long, lengths: Array[Int])
      extends SymbolCode {
    private var single = -1 // 0-bit code when exactly one symbol is used
    private val count = new Array[Int](MaxCodeLength + 1)
    private val firstCode = new Array[Int](MaxCodeLength + 1)
    private val firstIdx = new Array[Int](MaxCodeLength + 1)
    private var syms: Array[Int] = null
    private var maxLen = 0

    {
      var used = 0
      var lastSym = -1
      var i = 0
      while (i < lengths.length) {
        val l = lengths(i)
        check(l >= 0 && l <= MaxCodeLength, id, s"prefix code length $l")
        if (l > 0) { used += 1; lastSym = i; count(l) += 1; if (l > maxLen) maxLen = l }
        i += 1
      }
      check(used > 0, id, "empty VP8L prefix code")
      if (used == 1) single = lastSym
      else {
        // canonical first codes; completeness (Kraft equality) enforced —
        // an over/under-subscribed code on hostile bytes must fail by name
        var code = 0
        var idx = 0
        var l = 1
        while (l <= maxLen) {
          code = (code + count(l - 1)) << 1
          firstCode(l) = code
          firstIdx(l) = idx
          check(code + count(l) <= (1 << l), id,
            "over-subscribed VP8L prefix code")
          idx += count(l)
          l += 1
        }
        check(firstCode(maxLen) + count(maxLen) == (1 << maxLen), id,
          "incomplete VP8L prefix code")
        syms = new Array[Int](used)
        val next = new Array[Int](MaxCodeLength + 1)
        i = 0
        while (i < lengths.length) {
          val len = lengths(i)
          if (len > 0) { syms(firstIdx(len) + next(len)) = i; next(len) += 1 }
          i += 1
        }
      }
    }

    def read(br: BitReader): Int = {
      if (single >= 0) return single
      var code = 0
      var len = 0
      while (len < maxLen) {
        code = (code << 1) | br.readBits(1)
        len += 1
        if (count(len) > 0 && code >= firstCode(len) &&
          code - firstCode(len) < count(len))
          return syms(firstIdx(len) + (code - firstCode(len)))
      }
      fail(id, "invalid VP8L prefix code word")
    }
  }

  /** Deflate-style code-length-code symbol order (VP8L spec). */
  private val ClcOrder =
    Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

  /** One prefix code off the stream: the simple (1–2 symbol) form, or
    * code lengths carried by a code-length code with repeat runs and the
    * optional max_symbol cap. */
  private def readPrefixCode(id: Long, br: BitReader,
                             alphabetSize: Int): SymbolCode = {
    val lengths = new Array[Int](alphabetSize)
    if (br.readBits(1) == 1) { // simple code
      val numSymbols = br.readBits(1) + 1
      val first8 = br.readBits(1) == 1
      val s0 = if (first8) br.readBits(8) else br.readBits(1)
      check(s0 < alphabetSize, id, s"simple prefix symbol $s0 outside the " +
        s"$alphabetSize-symbol alphabet")
      if (numSymbols == 1) {
        lengths(s0) = 1
        new PrefixCode(id, lengths) // single symbol → 0-bit code
      } else {
        val s1 = br.readBits(8)
        check(s1 < alphabetSize && s1 != s0, id,
          s"invalid second simple prefix symbol $s1")
        new PairCode(s0, s1)
      }
    } else {
      val clcLengths = new Array[Int](19)
      val n = 4 + br.readBits(4)
      var i = 0
      while (i < n) { clcLengths(ClcOrder(i)) = br.readBits(3); i += 1 }
      val clc = new PrefixCode(id, clcLengths)
      var maxSymbol =
        if (br.readBits(1) == 1) {
          val nbits = 2 + 2 * br.readBits(3)
          val ms = 2 + br.readBits(nbits)
          check(ms <= alphabetSize, id,
            s"VP8L max_symbol $ms exceeds the $alphabetSize-symbol alphabet")
          ms
        } else alphabetSize
      var symbol = 0
      var prevLen = 8
      while (symbol < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clc.read(br)
        if (cl < 16) {
          lengths(symbol) = cl
          symbol += 1
          if (cl != 0) prevLen = cl
        } else {
          val (repeat, value) = cl match {
            case 16 => (3 + br.readBits(2), prevLen)
            case 17 => (3 + br.readBits(3), 0)
            case _ => (11 + br.readBits(7), 0)
          }
          check(symbol + repeat <= alphabetSize, id,
            "VP8L code-length repeat overruns the alphabet")
          var r = 0
          while (r < repeat) { lengths(symbol) = value; symbol += 1; r += 1 }
        }
      }
      new PrefixCode(id, lengths)
    }
  }

  // ------------------------------------------------------------------
  // LZ77 prefix scheme + the close-neighborhood distance mapping
  // ------------------------------------------------------------------

  /** Length/distance prefix decode: codes 0–3 are the values 1–4; above
    * that each code carries (prefix−2)>>1 extra bits. */
  private def lz77Value(br: BitReader, prefixCode: Int): Int =
    if (prefixCode < 4) prefixCode + 1
    else {
      val extra = (prefixCode - 2) >> 1
      val offset = (2 + (prefixCode & 1)) << extra
      offset + br.readBits(extra) + 1
    }

  /** The 120-entry (dx, dy) close-neighborhood distance map (VP8L spec
    * order): distance codes 1..120 address nearby pixels of the CURRENT
    * scan width; codes above 120 are direct distances minus 120. */
  private val DistMap: Array[(Int, Int)] = Array(
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7))

  /** Color-cache slot of an ARGB value (spec multiplier, uint32 wrap). */
  private def cacheIndex(argb: Int, bits: Int): Int =
    (0x1e35a7bd * argb) >>> (32 - bits)

  // per-channel mod-256 add of two packed ARGB values (two-lane trick)
  private def addPixels(a: Int, b: Int): Int = {
    val lo = (a & 0x00FF00FF) + (b & 0x00FF00FF)
    val hi = ((a >>> 8) & 0x00FF00FF) + ((b >>> 8) & 0x00FF00FF)
    ((hi & 0x00FF00FF) << 8) | (lo & 0x00FF00FF)
  }

  // per-channel mod-256 subtract (encoder side of addPixels)
  private def subPixels(a: Int, b: Int): Int = {
    val lo = (a & 0x00FF00FF) + 0x01000100 - (b & 0x00FF00FF)
    val hi = ((a >>> 8) & 0x00FF00FF) + 0x01000100 - ((b >>> 8) & 0x00FF00FF)
    ((hi & 0x00FF00FF) << 8) | (lo & 0x00FF00FF)
  }

  private def divUp(a: Int, b: Int): Int = (a + b - 1) / b

  // ------------------------------------------------------------------
  // VP8L image stream
  // ------------------------------------------------------------------

  private final case class Transform(typ: Int, bits: Int, data: Array[Int],
                                     subW: Int, appliedW: Int)

  /** VP8L chunk payload → (w, h, RGBA bytes). */
  private def decodeVp8l(id: Long, p: Array[Byte], start: Int,
                         end: Int): (Int, Int, Array[Byte]) = {
    check(end - start >= 5, id, "truncated VP8L chunk")
    check((p(start) & 0xFF) == 0x2F, id,
      s"bad VP8L signature byte 0x${(p(start) & 0xFF).toHexString}")
    val br = new BitReader(id, p, start + 1, end)
    val w = br.readBits(14) + 1
    val h = br.readBits(14) + 1
    br.readBits(1) // alpha-is-used hint
    val version = br.readBits(3)
    check(version == 0, id, s"unsupported VP8L version $version")
    check(w.toLong * h <= MaxDecodePixels, id,
      s"${w}x$h exceeds the $MaxDecodePixels-pixel decode bound")
    val argb = decodeImageStream(id, br, w, h, level0 = true)
    val out = new Array[Byte](4 * w * h)
    var i = 0
    while (i < argb.length) {
      val px = argb(i)
      out(4 * i) = ((px >> 16) & 0xFF).toByte
      out(4 * i + 1) = ((px >> 8) & 0xFF).toByte
      out(4 * i + 2) = (px & 0xFF).toByte
      out(4 * i + 3) = ((px >>> 24) & 0xFF).toByte
      i += 1
    }
    (w, h, out)
  }

  /** One spatially-coded image stream (the ARGB image at level 0; the
    * transform/entropy/palette sub-images below it — no transforms, no
    * meta codes). Returns packed ARGB pixels at the stream's FINAL
    * width (inverse transforms re-expand color-indexed bundling). */
  private def decodeImageStream(id: Long, br: BitReader, w: Int, h: Int,
                                level0: Boolean): Array[Int] = {
    var curW = w
    val transforms = ArrayBuffer.empty[Transform]
    if (level0) {
      var seen = 0
      while (br.readBits(1) == 1) {
        val t = br.readBits(2)
        check((seen & (1 << t)) == 0, id, s"repeated VP8L transform $t")
        seen |= 1 << t
        t match {
          case 0 | 1 => // predictor / cross-color: tiled sub-image
            val bits = br.readBits(3) + 2
            val tw = divUp(curW, 1 << bits)
            val th = divUp(h, 1 << bits)
            val img = decodeImageStream(id, br, tw, th, level0 = false)
            transforms += Transform(t, bits, img, tw, curW)
          case 2 => // subtract-green: no data
            transforms += Transform(2, 0, null, 0, curW)
          case _ => // color indexing: palette + sub-byte pixel bundling
            val n = br.readBits(8) + 1
            val raw = decodeImageStream(id, br, n, 1, level0 = false)
            val pal = new Array[Int](n)
            var prev = 0
            var i = 0
            while (i < n) { prev = addPixels(prev, raw(i)); pal(i) = prev; i += 1 }
            val packBits =
              if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0
            transforms += Transform(3, packBits, pal, n, curW)
            curW = divUp(curW, 1 << packBits)
        }
      }
    }
    val cacheBits =
      if (br.readBits(1) == 1) {
        val b = br.readBits(4)
        check(b >= 1 && b <= 11, id, s"invalid VP8L color-cache size $b")
        b
      } else 0
    // meta prefix codes: ARGB-image role only
    var metaBits = 0
    var entropyImg: Array[Int] = null
    var entropyW = 0
    var numGroups = 1
    if (level0 && br.readBits(1) == 1) {
      metaBits = br.readBits(3) + 2
      entropyW = divUp(curW, 1 << metaBits)
      val eh = divUp(h, 1 << metaBits)
      entropyImg = decodeImageStream(id, br, entropyW, eh, level0 = false)
      var mx = 0
      var i = 0
      while (i < entropyImg.length) {
        val m = (entropyImg(i) >> 8) & 0xFFFF
        if (m > mx) mx = m
        i += 1
      }
      numGroups = mx + 1
    }
    val greenAlphabet = 256 + 24 + (if (cacheBits > 0) 1 << cacheBits else 0)
    val green = new Array[SymbolCode](numGroups)
    val red = new Array[SymbolCode](numGroups)
    val blue = new Array[SymbolCode](numGroups)
    val alpha = new Array[SymbolCode](numGroups)
    val dist = new Array[SymbolCode](numGroups)
    var g = 0
    while (g < numGroups) {
      green(g) = readPrefixCode(id, br, greenAlphabet)
      red(g) = readPrefixCode(id, br, 256)
      blue(g) = readPrefixCode(id, br, 256)
      alpha(g) = readPrefixCode(id, br, 256)
      dist(g) = readPrefixCode(id, br, 40)
      g += 1
    }
    check(curW.toLong * h <= MaxDecodePixels, id,
      s"${curW}x$h exceeds the $MaxDecodePixels-pixel decode bound")
    val n = curW * h
    val out = new Array[Int](n)
    val cache = if (cacheBits > 0) new Array[Int](1 << cacheBits) else null
    var pos = 0
    while (pos < n) {
      val x = pos % curW
      val grp =
        if (entropyImg == null) 0
        else {
          val y = pos / curW
          (entropyImg((y >> metaBits) * entropyW + (x >> metaBits)) >> 8) & 0xFFFF
        }
      val s = green(grp).read(br)
      if (s < 256) { // literal: G, then R, B, A
        val r = red(grp).read(br)
        val b = blue(grp).read(br)
        val a = alpha(grp).read(br)
        val px = (a << 24) | (r << 16) | (s << 8) | b
        out(pos) = px
        if (cache != null) cache(cacheIndex(px, cacheBits)) = px
        pos += 1
      } else if (s < 280) { // LZ77 backward reference
        val length = lz77Value(br, s - 256)
        val distCode = lz77Value(br, dist(grp).read(br))
        val d =
          if (distCode > 120) distCode - 120
          else {
            val (dx, dy) = DistMap(distCode - 1)
            math.max(dy * curW + dx, 1)
          }
        check(d <= pos, id, s"VP8L back-reference distance $d at pixel $pos")
        check(length <= n - pos, id,
          s"VP8L back-reference length $length overruns the image")
        var k = 0
        while (k < length) {
          val px = out(pos - d)
          out(pos) = px
          if (cache != null) cache(cacheIndex(px, cacheBits)) = px
          pos += 1
          k += 1
        }
      } else { // color-cache reference
        val idx = s - 280
        check(cache != null && idx < cache.length, id,
          "VP8L color-cache reference without a cache")
        out(pos) = cache(idx)
        pos += 1
      }
    }
    // inverse transforms, reverse of read order
    var img = out
    var iw = curW
    var ti = transforms.length - 1
    while (ti >= 0) {
      val tf = transforms(ti)
      tf.typ match {
        case 3 => img = inverseColorIndex(img, iw, h, tf); iw = tf.appliedW
        case 2 => inverseSubtractGreen(img)
        case 1 => inverseColorTransform(img, iw, h, tf)
        case 0 => inversePredictor(id, img, iw, h, tf)
      }
      ti -= 1
    }
    img
  }

  // ------------------------------------------------------------------
  // inverse transforms
  // ------------------------------------------------------------------

  /** Color-indexing inverse: unbundle sub-byte indices from the GREEN
    * channel (low bits = leftmost pixel) and map through the delta-summed
    * palette; out-of-range indices are 0x00000000 per spec. */
  private def inverseColorIndex(img: Array[Int], packedW: Int, h: Int,
                                tf: Transform): Array[Int] = {
    val origW = tf.appliedW
    val pal = tf.data
    val packBits = tf.bits
    val idxBits = 8 >> packBits
    val perByte = 1 << packBits
    val mask = (1 << idxBits) - 1
    val out = new Array[Int](origW * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < origW) {
        val packed = (img(y * packedW + (x >> packBits)) >> 8) & 0xFF
        val idx = (packed >> ((x & (perByte - 1)) * idxBits)) & mask
        out(y * origW + x) = if (idx < pal.length) pal(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }

  private def inverseSubtractGreen(img: Array[Int]): Unit = {
    var i = 0
    while (i < img.length) {
      val px = img(i)
      val g = (px >> 8) & 0xFF
      val r = ((px >> 16) + g) & 0xFF
      val b = (px + g) & 0xFF
      img(i) = (px & 0xFF00FF00) | (r << 16) | b
      i += 1
    }
  }

  /** Signed-multiply color-transform delta: both operands as int8, the
    * product arithmetic-shifted right 5 (spec). */
  private def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5

  private def inverseColorTransform(img: Array[Int], w: Int, h: Int,
                                    tf: Transform): Unit = {
    val bits = tf.bits
    val tw = tf.subW
    var y = 0
    while (y < h) {
      val rowTile = (y >> bits) * tw
      var x = 0
      while (x < w) {
        val cte = tf.data(rowTile + (x >> bits))
        val g2r = cte & 0xFF // blue channel of the transform pixel
        val g2b = (cte >> 8) & 0xFF // green channel
        val r2b = (cte >> 16) & 0xFF // red channel
        val px = img(y * w + x)
        val g = (px >> 8) & 0xFF
        val tr = ((px >> 16) & 0xFF) + ctDelta(g2r, g)
        var tb = (px & 0xFF) + ctDelta(g2b, g)
        tb += ctDelta(r2b, tr & 0xFF)
        img(y * w + x) = (px & 0xFF00FF00) | ((tr & 0xFF) << 16) | (tb & 0xFF)
        x += 1
      }
      y += 1
    }
  }

  // per-channel floor average of packed pixels
  private def avg2(a: Int, b: Int): Int =
    (((a ^ b) & 0xFEFEFEFE) >>> 1) + (a & b)

  private def clamp255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(a: Int, b: Int, c: Int): Int = {
    var out = 0
    var sh = 0
    while (sh < 32) {
      val v = ((a >>> sh) & 0xFF) + ((b >>> sh) & 0xFF) - ((c >>> sh) & 0xFF)
      out |= clamp255(v) << sh
      sh += 8
    }
    out
  }

  private def clampAddSubtractHalf(ab: Int, c: Int): Int = {
    var out = 0
    var sh = 0
    while (sh < 32) {
      val a = (ab >>> sh) & 0xFF
      val v = a + (a - ((c >>> sh) & 0xFF)) / 2
      out |= clamp255(v) << sh
      sh += 8
    }
    out
  }

  /** Mode-11 Select: predict L if the L-plane of the gradient estimate is
    * closer, else T — with the simplification |p−L| = |T−TL| per channel
    * (RFC 9649; ties go to T). */
  private def select(l: Int, t: Int, tl: Int): Int = {
    var pL = 0
    var pT = 0
    var sh = 0
    while (sh < 32) {
      pL += math.abs(((t >>> sh) & 0xFF) - ((tl >>> sh) & 0xFF))
      pT += math.abs(((l >>> sh) & 0xFF) - ((tl >>> sh) & 0xFF))
      sh += 8
    }
    if (pL < pT) l else t
  }

  /** The 14 spatial predictors over already-reconstructed neighbors. The
    * flat-buffer TR quirk is spec behavior: for the rightmost column the
    * top-right neighbor is the FIRST pixel of the current row (buffer
    * position pos−w+1), already decoded in raster order. */
  private def predict(mode: Int, img: Array[Int], pos: Int, w: Int): Int = {
    val l = img(pos - 1)
    val t = img(pos - w)
    lazy val tl = img(pos - w - 1)
    lazy val tr = img(pos - w + 1)
    mode match {
      case 0 => 0xFF000000
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
      case 11 => select(l, t, tl)
      case 12 => clampAddSubtractFull(l, t, tl)
      case _ => clampAddSubtractHalf(avg2(l, t), tl)
    }
  }

  // ==================================================================
  // encoder — fixture side. Spec-conformant VP8L across the transform /
  // cache / LZ77 / meta matrix so every decoder path above is earned
  // against real bytes.
  // ==================================================================

  private final class BitWriter {
    private val buf = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nbits = 0

    def write(v: Int, n: Int): Unit = {
      var i = 0
      while (i < n) {
        if (((v >> i) & 1) != 0) cur |= 1 << nbits
        nbits += 1
        if (nbits == 8) { buf.write(cur); cur = 0; nbits = 0 }
        i += 1
      }
    }

    def bytes: Array[Byte] = {
      if (nbits > 0) { buf.write(cur); cur = 0; nbits = 0 }
      buf.toByteArray
    }
  }

  /** Depth-limited Huffman code lengths over a frequency histogram (the
    * classic halve-and-rebuild trick caps the depth; Huffman trees are
    * always Kraft-complete, which the decoder enforces). */
  private def huffmanLengths(freq0: Array[Long], maxLen: Int): Array[Int] = {
    val n = freq0.length
    val lengths = new Array[Int](n)
    var freq = freq0.clone()
    var done = false
    while (!done) {
      val used = (0 until n).filter(freq(_) > 0)
      require(used.size >= 2, "huffmanLengths needs >= 2 used symbols")
      // (weight, tiebreak, members) — tiebreak keeps the build deterministic
      val pq = scala.collection.mutable.PriorityQueue.empty[
        (Long, Int, List[Int])](Ordering.by(t => (-t._1, -t._2)))
      var tie = 0
      used.foreach { s => pq.enqueue((freq(s), tie, List(s))); tie += 1 }
      java.util.Arrays.fill(lengths, 0)
      while (pq.size > 1) {
        val a = pq.dequeue()
        val b = pq.dequeue()
        (a._3 ++ b._3).foreach(s => lengths(s) += 1)
        pq.enqueue((a._1 + b._1, tie, a._3 ++ b._3))
        tie += 1
      }
      if (lengths.max <= maxLen) done = true
      else freq = freq.map(f => if (f > 0) (f + 1) / 2 else 0L)
    }
    lengths
  }

  /** Canonical code values for a length assignment (RFC 1951 order:
    * shorter first, ties by symbol). */
  private def canonicalCodes(lengths: Array[Int]): Array[Int] = {
    val maxLen = lengths.max
    val count = new Array[Int](maxLen + 1)
    lengths.foreach(l => if (l > 0) count(l) += 1)
    val nextCode = new Array[Int](maxLen + 1)
    var code = 0
    var l = 1
    while (l <= maxLen) {
      code = (code + count(l - 1)) << 1
      nextCode(l) = code
      l += 1
    }
    val codes = new Array[Int](lengths.length)
    var i = 0
    while (i < lengths.length) {
      if (lengths(i) > 0) { codes(i) = nextCode(lengths(i)); nextCode(lengths(i)) += 1 }
      i += 1
    }
    codes
  }

  /** Emit a code word MSB-first into the LSB-first stream. */
  private def writeCode(bw: BitWriter, code: Int, len: Int): Unit =
    if (len > 0) bw.write(Integer.reverse(code) >>> (32 - len), len)

  /** An encoder-side prefix code: lengths + canonical code values. */
  private final class WCode(val lengths: Array[Int]) {
    private val codes = canonicalCodes(lengths)
    def emit(bw: BitWriter, sym: Int): Unit =
      writeCode(bw, codes(sym), lengths(sym))
  }

  /** Build + serialize one prefix code for a histogram. Single-symbol
    * histograms with a small symbol use the simple form; otherwise the
    * full code-length-code path with the max_symbol cap. */
  private def writePrefixCode(bw: BitWriter, freq: Array[Long]): WCode = {
    val used = freq.indices.filter(freq(_) > 0)
    require(used.nonEmpty, "writePrefixCode: empty histogram")
    if (used.size == 1 && used.head <= 255) {
      val s = used.head
      bw.write(1, 1) // simple
      bw.write(0, 1) // one symbol
      if (s <= 1) { bw.write(0, 1); bw.write(s, 1) }
      else { bw.write(1, 1); bw.write(s, 8) }
      val l = new Array[Int](freq.length)
      l(s) = 0 // 0-bit code: emit writes nothing
      new WCode(l)
    } else if (used.size == 2 && used(1) <= 255) {
      val (s0, s1) = (used(0), used(1))
      bw.write(1, 1) // simple
      bw.write(1, 1) // two symbols
      if (s0 <= 1) { bw.write(0, 1); bw.write(s0, 1) }
      else { bw.write(1, 1); bw.write(s0, 8) }
      bw.write(s1, 8)
      // listed order == ascending order here, so canonical emit matches
      val l = new Array[Int](freq.length)
      l(s0) = 1; l(s1) = 1
      new WCode(l)
    } else {
      val lengths = huffmanLengths(freq, MaxCodeLength)
      bw.write(0, 1)
      val limit = lengths.lastIndexWhere(_ > 0) + 1
      // code-length code over the truncated sequence (no repeat codes:
      // zeros inside the sequence are emitted as symbol 0)
      val clcFreq = new Array[Long](19)
      var i = 0
      while (i < limit) { clcFreq(lengths(i)) += 1; i += 1 }
      // one distinct length value (e.g. 256 near-uniform symbols → every
      // length 8) → a 1-entry code-length code. The STREAM declares the
      // single symbol at length 1, but a single-used-symbol prefix code
      // reads as 0 BITS (spec: the decoder returns the symbol without
      // consuming input), so the emit side must write nothing per entry —
      // emitting the declared 1-bit codes desynced the stream (found by
      // the q276 uniform-histogram content)
      val singleClc = clcFreq.count(_ > 0) == 1
      val clcLengths =
        if (singleClc) {
          val l = new Array[Int](19)
          l(clcFreq.indexWhere(_ > 0)) = 1
          l
        } else huffmanLengths(clcFreq, 7)
      bw.write(19 - 4, 4) // num_code_lengths = 19: all CLC slots present
      i = 0
      while (i < 19) { bw.write(clcLengths(ClcOrder(i)), 3); i += 1 }
      // max_symbol cap: exactly `limit` length entries follow
      bw.write(1, 1)
      var k = 0
      while ((limit - 2) >= (1 << (2 + 2 * k))) k += 1
      require(k <= 7, "writePrefixCode: max_symbol cap overflow")
      bw.write(k, 3)
      bw.write(limit - 2, 2 + 2 * k)
      val clc =
        if (singleClc) new WCode(new Array[Int](19)) // 0-bit emits
        else new WCode(clcLengths)
      i = 0
      while (i < limit) { clc.emit(bw, lengths(i)); i += 1 }
      new WCode(lengths)
    }
  }

  /** Inverse of [[lz77Value]]: value → (prefix code, extra-bits value,
    * extra-bit count). Linear scan over the 40-code table. */
  private def lz77Prefix(v: Int): (Int, Int, Int) = {
    if (v <= 4) return (v - 1, 0, 0)
    var code = 4
    while (code < 40) {
      val extra = (code - 2) >> 1
      val lo = ((2 + (code & 1)) << extra) + 1
      if (v >= lo && v <= lo + (1 << extra) - 1) return (code, v - lo, extra)
      code += 1
    }
    throw new IllegalArgumentException(s"lz77Prefix: value $v out of range")
  }

  // token stream: literals, back-references, cache hits
  private sealed trait Tok
  private final case class TLit(px: Int) extends Tok
  private final case class TCopy(len: Int, dist: Int) extends Tok
  private final case class TCache(idx: Int) extends Tok

  /** Tokenize a pixel stream, mirroring the decoder's cache inserts
    * exactly (literal + every copied pixel). Greedy LZ77 over the two
    * fixture-relevant distances (1 = previous pixel, w = pixel above),
    * cache hits before literals when enabled. */
  private def tokenize(px: Array[Int], w: Int, cacheBits: Int,
                       lz77: Boolean): ArrayBuffer[Tok] = {
    val toks = ArrayBuffer.empty[Tok]
    val cache = if (cacheBits > 0) new Array[Int](1 << cacheBits) else null
    val seen = if (cacheBits > 0) new Array[Boolean](1 << cacheBits) else null
    def insert(v: Int): Unit =
      if (cache != null) {
        val i = cacheIndex(v, cacheBits)
        cache(i) = v
        seen(i) = true
      }
    var pos = 0
    val n = px.length
    while (pos < n) {
      var emitted = false
      if (lz77) {
        var bestLen = 0
        var bestDist = 0
        def tryDist(d: Int): Unit = if (d >= 1 && pos >= d) {
          var l = 0
          while (pos + l < n && l < 4096 && px(pos + l) == px(pos + l - d)) l += 1
          if (l > bestLen) { bestLen = l; bestDist = d }
        }
        tryDist(1)
        if (w > 1) tryDist(w)
        if (bestLen >= 4) {
          toks += TCopy(bestLen, bestDist)
          var k = 0
          while (k < bestLen) { insert(px(pos + k)); k += 1 }
          pos += bestLen
          emitted = true
        }
      }
      if (!emitted) {
        val v = px(pos)
        if (cache != null && seen(cacheIndex(v, cacheBits)) &&
          cache(cacheIndex(v, cacheBits)) == v) {
          toks += TCache(cacheIndex(v, cacheBits))
        } else {
          toks += TLit(v)
        }
        insert(v)
        pos += 1
      }
    }
    toks
  }

  /** Distance → distance code: the two neighborhood entries the fixtures
    * exercise map through the table (code 2 = distance 1, code 1 = the
    * pixel above); everything else is direct (+120). */
  private def distToCode(dist: Int, w: Int): Int =
    if (dist == w && w >= 1) 1
    else if (dist == 1) 2
    else dist + 120

  /** A sub-image stream (transform data / entropy image / palette):
    * cache off, one group, literals only. */
  private def writeSubImage(bw: BitWriter, px: Array[Int], w: Int): Unit = {
    bw.write(0, 1) // no color cache
    writeEntropyBody(bw, px, w, cacheBits = 0, lz77 = false,
      numGroups = 1, groupOf = _ => 0)
  }

  /** Encoder options for [[encodeLossless]] — one knob per decoder path. */
  final case class LosslessOptions(
      subtractGreen: Boolean = false,
      palette: Boolean = false,
      predictorMode: Int = -1, predictorBits: Int = 3,
      colorTransform: Option[(Int, Int, Int)] = None, // (g2r, g2b, r2b)
      colorBits: Int = 5,
      cacheBits: Int = 0,
      lz77: Boolean = false,
      metaBits: Int = 0) // >0: two-group checkerboard meta prefix tiling

  /** Spec-conformant VP8L encode of packed ARGB pixels → a complete
    * RIFF/WEBP container. Forward transforms apply in the order written
    * (the decoder inverts them in reverse): color-indexing, then
    * subtract-green / cross-color, then predictor residuals. */
  def encodeLossless(w: Int, h: Int, argb0: Array[Int],
                     opts: LosslessOptions = LosslessOptions()): Array[Byte] = {
    require(w >= 1 && h >= 1 && argb0.length == w * h,
      "encodeLossless: bad dimensions")
    val bw = new BitWriter
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1) // alpha hint
    bw.write(0, 3) // version
    var px = argb0.clone()
    var curW = w
    // --- transforms, forward-application order == stream order ---
    if (opts.palette) {
      val distinct = ArrayBuffer.empty[Int]
      px.foreach(v => if (!distinct.contains(v)) distinct += v)
      require(distinct.size <= 256, "encodeLossless: > 256 palette colors")
      val n = distinct.size
      bw.write(1, 1); bw.write(3, 2)
      bw.write(n - 1, 8)
      val deltas = new Array[Int](n)
      var prev = 0
      var i = 0
      while (i < n) { deltas(i) = subPixels(distinct(i), prev); prev = distinct(i); i += 1 }
      writeSubImage(bw, deltas, n)
      val packBits = if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0
      val idxBits = 8 >> packBits
      val packedW = divUp(curW, 1 << packBits)
      val packed = new Array[Int](packedW * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < curW) {
          val idx = distinct.indexOf(px(y * curW + x))
          val slot = y * packedW + (x >> packBits)
          val sh = (x & ((1 << packBits) - 1)) * idxBits
          packed(slot) |= (idx << sh) << 8 // into the green channel
          x += 1
        }
        y += 1
      }
      px = packed
      curW = packedW
    }
    if (opts.subtractGreen) {
      bw.write(1, 1); bw.write(2, 2)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        val g = (v >> 8) & 0xFF
        val r = (((v >> 16) & 0xFF) - g) & 0xFF
        val b = ((v & 0xFF) - g) & 0xFF
        px(i) = (v & 0xFF00FF00) | (r << 16) | b
        i += 1
      }
    }
    opts.colorTransform.foreach { case (g2r, g2b, r2b) =>
      val bits = opts.colorBits
      bw.write(1, 1); bw.write(1, 2)
      bw.write(bits - 2, 3)
      val tw = divUp(curW, 1 << bits)
      val th = divUp(h, 1 << bits)
      val cte = 0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8) | (g2r & 0xFF)
      writeSubImage(bw, Array.fill(tw * th)(cte), tw)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        val g = (v >> 8) & 0xFF
        val r = (v >> 16) & 0xFF
        val b = v & 0xFF
        val sr = (r - ctDelta(g2r, g)) & 0xFF
        val sb = (b - ctDelta(g2b, g) - ctDelta(r2b, r)) & 0xFF
        px(i) = (v & 0xFF00FF00) | (sr << 16) | sb
        i += 1
      }
    }
    if (opts.predictorMode >= 0) {
      val bits = opts.predictorBits
      bw.write(1, 1); bw.write(0, 2)
      bw.write(bits - 2, 3)
      val tw = divUp(curW, 1 << bits)
      val th = divUp(h, 1 << bits)
      writeSubImage(bw,
        Array.fill(tw * th)(0xFF000000 | (opts.predictorMode << 8)), tw)
      // residuals against the ORIGINAL pixels (the decoder reconstructs
      // originals progressively, so predictions see original neighbors)
      val res = new Array[Int](px.length)
      var pos = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < curW) {
          val pred =
            if (x == 0 && y == 0) 0xFF000000
            else if (y == 0) px(pos - 1)
            else if (x == 0) px(pos - curW)
            else predict(opts.predictorMode, px, pos, curW)
          res(pos) = subPixels(px(pos), pred)
          x += 1
          pos += 1
        }
        y += 1
      }
      px = res
    }
    bw.write(0, 1) // end of transforms
    // --- entropy-coded ARGB image ---
    if (opts.metaBits > 0) {
      // cache bit first, then the meta bit + entropy image (decoder order)
      if (opts.cacheBits > 0) { bw.write(1, 1); bw.write(opts.cacheBits, 4) }
      else bw.write(0, 1)
      bw.write(1, 1)
      bw.write(opts.metaBits - 2, 3)
      val ew = divUp(curW, 1 << opts.metaBits)
      val eh = divUp(h, 1 << opts.metaBits)
      // two-group checkerboard: meta index = (tx + ty) & 1, in green
      val entropy = Array.tabulate(ew * eh) { i =>
        0xFF000000 | ((((i % ew) + (i / ew)) & 1) << 8)
      }
      writeSubImage(bw, entropy, ew)
      val mb = opts.metaBits
      val groupOf = (pos: Int) => {
        val x = pos % curW
        val y = pos / curW
        ((x >> mb) + (y >> mb)) & 1
      }
      // replicate writeEntropyStream's tail (codes + tokens) without
      // re-writing the cache/meta bits: inline with numGroups = 2
      writeEntropyBody(bw, px, curW, opts.cacheBits, opts.lz77, 2, groupOf)
    } else {
      if (opts.cacheBits > 0) { bw.write(1, 1); bw.write(opts.cacheBits, 4) }
      else bw.write(0, 1)
      bw.write(0, 1) // no meta prefix codes
      writeEntropyBody(bw, px, curW, opts.cacheBits, opts.lz77, 1, _ => 0)
    }
    webpFile(Containers.riffChunk("VP8L", bw.bytes))
  }

  /** The codes + token tail of an entropy stream (cache/meta bits already
    * written by the caller). */
  private def writeEntropyBody(bw: BitWriter, px: Array[Int], w: Int,
                               cacheBits: Int, lz77: Boolean,
                               numGroups: Int, groupOf: Int => Int): Unit = {
    val toks = tokenize(px, w, cacheBits, lz77)
    val greenAlphabet = 256 + 24 + (if (cacheBits > 0) 1 << cacheBits else 0)
    val gf = Array.fill(numGroups)(new Array[Long](greenAlphabet))
    val rf = Array.fill(numGroups)(new Array[Long](256))
    val bf = Array.fill(numGroups)(new Array[Long](256))
    val af = Array.fill(numGroups)(new Array[Long](256))
    val df = Array.fill(numGroups)(new Array[Long](40))
    var pos = 0
    toks.foreach { t =>
      val g = groupOf(pos)
      t match {
        case TLit(v) =>
          gf(g)((v >> 8) & 0xFF) += 1
          rf(g)((v >> 16) & 0xFF) += 1
          bf(g)(v & 0xFF) += 1
          af(g)((v >>> 24) & 0xFF) += 1
          pos += 1
        case TCopy(len, d) =>
          gf(g)(256 + lz77Prefix(len)._1) += 1
          df(g)(lz77Prefix(distToCode(d, w))._1) += 1
          pos += len
        case TCache(idx) =>
          gf(g)(280 + idx) += 1
          pos += 1
      }
    }
    (0 until numGroups).foreach { g =>
      Seq(gf(g), rf(g), bf(g), af(g), df(g)).foreach { f =>
        if (f.forall(_ == 0L)) f(0) = 1
      }
    }
    val codes = (0 until numGroups).map { g =>
      (writePrefixCode(bw, gf(g)), writePrefixCode(bw, rf(g)),
        writePrefixCode(bw, bf(g)), writePrefixCode(bw, af(g)),
        writePrefixCode(bw, df(g)))
    }
    pos = 0
    toks.foreach { t =>
      val (cg, cr, cb, ca, cd) = codes(groupOf(pos))
      t match {
        case TLit(v) =>
          cg.emit(bw, (v >> 8) & 0xFF)
          cr.emit(bw, (v >> 16) & 0xFF)
          cb.emit(bw, v & 0xFF)
          ca.emit(bw, (v >>> 24) & 0xFF)
          pos += 1
        case TCopy(len, d) =>
          val (lp, lv, ln) = lz77Prefix(len)
          cg.emit(bw, 256 + lp)
          bw.write(lv, ln)
          val (dp, dv, dn) = lz77Prefix(distToCode(d, w))
          cd.emit(bw, dp)
          bw.write(dv, dn)
          pos += len
        case TCache(idx) =>
          cg.emit(bw, 280 + idx)
          pos += 1
      }
    }
  }

  /** A complete WebP file: the RIFF/WEBP header over its (already
    * word-aligned) chunks. */
  private[multimodal] def webpFile(chunks: Array[Byte]*): Array[Byte] =
    Containers.riffList("RIFF", "WEBP", chunks: _*)

  /** 24-bit little-endian fields, three bytes each. */
  private def le24s(vs: Int*): Array[Byte] =
    vs.flatMap(v => Seq(v.toByte, (v >> 8).toByte, (v >> 16).toByte)).toArray

  /** The VP8X extended-format chunk: the feature flags byte (RFC 9649:
    * Rsv(2) ICC Alpha Exif XMP Animation Rsv), three reserved bytes and
    * the canvas dims as 24-bit minus-one fields. */
  private[multimodal] def vp8xChunk(flags: Int, w: Int, h: Int): Array[Byte] =
    Containers.riffChunk("VP8X",
      Array[Byte](flags.toByte, 0, 0, 0) ++ le24s(w - 1, h - 1))

  /** Re-wrap an encoded lossless WebP inside a VP8X extended container
    * (canvas dims as 24-bit minus-one fields) — the layout real encoders
    * emit when any extended feature is present. */
  def wrapVp8x(webp: Array[Byte], w: Int, h: Int): Array[Byte] =
    webpFile(vp8xChunk(0, w, h), // no feature flags
      java.util.Arrays.copyOfRange(webp, 12, webp.length))

  /** A minimal LOSSY VP8 keyframe header (frame tag + start code + dims)
    * over an undecodable body — the fixture for the named lossy census
    * bucket and the header-only dimension walk. */
  def lossyVp8Stub(w: Int, h: Int, bodyLen: Int): Array[Byte] = {
    val payload = new Array[Byte](10 + bodyLen)
    // frame tag: keyframe (bit 0 = 0), version 0, show_frame, part size 0
    payload(0) = 0x10.toByte; payload(1) = 0; payload(2) = 0
    payload(3) = 0x9D.toByte; payload(4) = 0x01; payload(5) = 0x2A.toByte
    payload(6) = (w & 0xFF).toByte; payload(7) = ((w >> 8) & 0x3F).toByte
    payload(8) = (h & 0xFF).toByte; payload(9) = ((h >> 8) & 0x3F).toByte
    var i = 0
    while (i < bodyLen) { payload(10 + i) = ((i * 37 + 11) & 0xFF).toByte; i += 1 }
    webpFile(Containers.riffChunk("VP8 ", payload))
  }

  // ------------------------------------------------------------------
  // EXIF orientation — the EXIF chunk carries a raw TIFF block
  // ------------------------------------------------------------------

  /** EXIF orientation (1–8) from the container's EXIF chunk, or 0 when
    * absent/undeclared/malformed — the [[Jpeg.exifOrientation]] contract
    * (metadata DEGRADES, never throws; hostile bytes surface in the
    * pixel decoder's named failures). The chunk payload is a raw TIFF
    * block; some writers prefix "Exif\0\0" — both accepted. */
  def exifOrientation(p: Array[Byte]): Int = {
    if (!isWebp(p)) return 0
    var off = 12L
    var chunks = 0
    while (off + 8 <= p.length && chunks < 64) {
      chunks += 1
      val size = le32(p, off.toInt + 4)
      if (off + 8 + size > p.length) return 0
      if (p(off.toInt) == 'E'.toByte && p(off.toInt + 1) == 'X'.toByte &&
        p(off.toInt + 2) == 'I'.toByte && p(off.toInt + 3) == 'F'.toByte) {
        var t = off.toInt + 8
        val end = (off + 8 + size).toInt
        if (end - t >= 6 && p(t) == 'E'.toByte && p(t + 1) == 'x'.toByte &&
          p(t + 2) == 'i'.toByte && p(t + 3) == 'f'.toByte &&
          p(t + 4) == 0 && p(t + 5) == 0) t += 6
        return Jpeg.tiffOrientation(p, t, end)
      }
      off += 8 + size + (size & 1)
    }
    0
  }

  /** Apply an EXIF orientation to decoded RGBA — the displayed image
    * (dims swap for 5–8); 0/1 are the identity. Same published
    * source-coordinate table as [[Jpeg.decodeRgbOriented]], over 4
    * channels. */
  def orientRgba(w: Int, h: Int, rgba: Array[Byte],
                 o: Int): (Int, Int, Array[Byte]) =
    if (o <= 1) (w, h, rgba) else Jpeg.orientPixels(w, h, rgba, 4, o)

  /** Fixture side: re-wrap a still WebP in a VP8X extended container
    * (EXIF flag) with an EXIF chunk declaring `orientation` after the
    * image chunk — the layout real camera-pipeline WebPs carry. */
  def withExif(webp: Array[Byte], w: Int, h: Int,
               orientation: Int): Array[Byte] =
    webpFile(vp8xChunk(0x08, w, h), // EXIF flag
      java.util.Arrays.copyOfRange(webp, 12, webp.length),
      Containers.riffChunk("EXIF", Jpeg.exifTiffBody(orientation)))

  // ------------------------------------------------------------------
  // animated WebP — VP8X(ANIM) + ANIM + ANMF chunks, VP8L frame payloads
  // ------------------------------------------------------------------

  /** VP8X extended container with the Animation flag set (RFC 9649: the
    * VP8X flags byte is Rsv(2) ICC Alpha Exif XMP Animation Rsv, so
    * Animation = 0x02). */
  def hasAnim(p: Array[Byte]): Boolean =
    isWebp(p) && p.length >= 21 && p(12) == 'V'.toByte &&
      p(13) == 'P'.toByte && p(14) == '8'.toByte && p(15) == 'X'.toByte &&
      (p(20) & 0x02) != 0

  /** Composited animated-WebP decode → one presented canvas-sized RGB
    * frame per ANMF (the [[Multimodal.decodeVideoRgb]] layout, mirroring
    * the composited-GIF walk): each frame is a VP8L-coded rect placed at
    * its (x, y) offset, BLENDED onto the canvas (alpha-blend method 0:
    * src·a + dst·(255−a), round-half-up — exact for the a ∈ {0, 255}
    * fixtures and deterministic in between) or REPLACING the rect
    * (method 1, no-blend: the src composited over the ANIM background,
    * so a fully-transparent no-blend pixel restores background — the GIF
    * transparency analogue); after presentation the disposal bit
    * optionally restores the rect to the ANIM background color (the GIF
    * disposal-2 analogue). Canvas starts at the ANIM background. Lossy
    * VP8 frame payloads fail by the same name as still lossy WebP; total
    * presented volume is bounded like the GIF walk. */
  def decodeAnimFrames(id: Long, p: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    check(hasAnim(p), id, "not an animated WebP (no VP8X ANIM flag)")
    check(p.length >= 30, id, "truncated VP8X header")
    // 24-bit minus-one canvas fields — read EXACTLY 3 bytes (a 4-byte
    // read walked past a 30-byte truncation; the fuzz battery found it)
    def le24(off: Int): Int = (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8) |
      ((p(off + 2) & 0xFF) << 16)
    val cw = le24(24) + 1
    val ch = le24(27) + 1
    check(cw.toLong * ch <= MaxDecodePixels, id,
      s"${cw}x$ch exceeds the $MaxDecodePixels-pixel decode bound")
    var bgR = 0; var bgG = 0; var bgB = 0
    var sawAnim = false
    val frames = ArrayBuffer.empty[Array[Byte]]
    val canvas = new Array[Byte](3 * cw * ch)
    var off = 12L
    var chunks = 0
    while (off + 8 <= p.length) {
      chunks += 1
      check(chunks <= 1024, id, "WebP chunk walk exceeded 1024 chunks")
      val fourcc = new String(p, off.toInt, 4, "US-ASCII")
      val size = le32(p, off.toInt + 4)
      check(off + 8 + size <= p.length, id, s"truncated WebP chunk $fourcc")
      val body = off.toInt + 8
      fourcc match {
        case "ANIM" =>
          check(size >= 6, id, "ANIM chunk too short")
          // background color is stored B, G, R, A
          bgB = p(body) & 0xFF; bgG = p(body + 1) & 0xFF
          bgR = p(body + 2) & 0xFF
          var k = 0
          while (k < canvas.length) {
            canvas(k) = bgR.toByte; canvas(k + 1) = bgG.toByte
            canvas(k + 2) = bgB.toByte
            k += 3
          }
          sawAnim = true
        case "ANMF" =>
          check(sawAnim, id, "ANMF frame before the ANIM header")
          check(size >= 24, id, "ANMF chunk too short")
          val fx = ((le32(p, body) & 0xFFFFFF) * 2).toInt
          val fy = ((le32(p, body + 3) & 0xFFFFFF) * 2).toInt
          val fw = (le32(p, body + 6) & 0xFFFFFF).toInt + 1
          val fh = (le32(p, body + 9) & 0xFFFFFF).toInt + 1
          val flags = p(body + 15) & 0xFF
          val noBlend = (flags & 0x02) != 0
          val dispose = (flags & 0x01) != 0
          check(fx + fw <= cw && fy + fh <= ch, id,
            s"ANMF frame ${frames.length} rect ${fw}x$fh at ($fx, $fy) " +
              s"exceeds the ${cw}x$ch canvas")
          check(cw.toLong * ch * (frames.length + 1) <= MaxDecodePixels, id,
            s"WebP animation exceeds the $MaxDecodePixels-pixel decode bound")
          // frame data: optional ALPH chunk, then the VP8L/VP8 chunk
          var fOff = body + 16L
          val fEnd = body + size
          var rgba: Array[Byte] = null
          var frameAlphAt = -1
          var frameAlphEnd = -1
          while (rgba == null && fOff + 8 <= fEnd) {
            val ffcc = new String(p, fOff.toInt, 4, "US-ASCII")
            val fsize = le32(p, fOff.toInt + 4)
            check(fOff + 8 + fsize <= fEnd, id,
              s"truncated ANMF sub-chunk $ffcc")
            ffcc match {
              case "VP8L" =>
                val (dw, dh, px) = decodeVp8l(id, p, fOff.toInt + 8,
                  (fOff + 8 + fsize).toInt)
                check(dw == fw && dh == fh, id,
                  s"ANMF frame is ${dw}x$dh, header declares ${fw}x$fh")
                rgba = px
              case "VP8 " =>
                // lossy keyframe frames decode for real (Vp8), with the
                // separately-coded alpha plane applied when present
                val (dw, dh, px) = Vp8.decodeRgba(id, p, fOff.toInt + 8,
                  (fOff + 8 + fsize).toInt)
                check(dw == fw && dh == fh, id,
                  s"ANMF frame is ${dw}x$dh, header declares ${fw}x$fh")
                if (frameAlphAt >= 0) {
                  val alpha = decodeAlph(id, p, frameAlphAt, frameAlphEnd,
                    dw, dh)
                  var i = 0
                  while (i < dw * dh) { px(4 * i + 3) = alpha(i); i += 1 }
                }
                rgba = px
              case "ALPH" =>
                frameAlphAt = (fOff + 8).toInt
                frameAlphEnd = (fOff + 8 + fsize).toInt
                fOff += 8 + fsize + (fsize & 1)
              case _ => fOff += 8 + fsize + (fsize & 1)
            }
          }
          check(rgba != null, id,
            s"ANMF frame ${frames.length} carries no image chunk")
          var y = 0
          while (y < fh) {
            var x = 0
            while (x < fw) {
              val si = 4 * (y * fw + x)
              val a = rgba(si + 3) & 0xFF
              val o = 3 * ((fy + y) * cw + (fx + x))
              if (noBlend) {
                // replace: src over the ANIM background
                canvas(o) = ((((rgba(si) & 0xFF) * a + bgR * (255 - a)) + 127) / 255).toByte
                canvas(o + 1) = ((((rgba(si + 1) & 0xFF) * a + bgG * (255 - a)) + 127) / 255).toByte
                canvas(o + 2) = ((((rgba(si + 2) & 0xFF) * a + bgB * (255 - a)) + 127) / 255).toByte
              } else if (a > 0) {
                // alpha-blend onto the current canvas
                canvas(o) = ((((rgba(si) & 0xFF) * a + (canvas(o) & 0xFF) * (255 - a)) + 127) / 255).toByte
                canvas(o + 1) = ((((rgba(si + 1) & 0xFF) * a + (canvas(o + 1) & 0xFF) * (255 - a)) + 127) / 255).toByte
                canvas(o + 2) = ((((rgba(si + 2) & 0xFF) * a + (canvas(o + 2) & 0xFF) * (255 - a)) + 127) / 255).toByte
              }
              x += 1
            }
            y += 1
          }
          frames += canvas.clone() // the presented frame
          if (dispose) { // restore the rect to the ANIM background
            var yy = 0
            while (yy < fh) {
              var xx = 0
              while (xx < fw) {
                val o = 3 * ((fy + yy) * cw + (fx + xx))
                canvas(o) = bgR.toByte; canvas(o + 1) = bgG.toByte
                canvas(o + 2) = bgB.toByte
                xx += 1
              }
              yy += 1
            }
          }
        case _ => () // VP8X (already read), ICCP/EXIF/XMP: skipped
      }
      off += 8 + size + (size & 1)
    }
    check(frames.nonEmpty, id, "animated WebP without an ANMF frame")
    (cw, ch, frames.toArray)
  }

  /** One animated-WebP frame spec for [[encodeAnimated]]: rect placement
    * (x and y must be even — the format stores them halved), packed ARGB
    * pixels, the blend/dispose flag bits, and a duration. */
  final case class AnimFrameSpec(x: Int, y: Int, w: Int, h: Int,
                                 argb: Array[Int], noBlend: Boolean = true,
                                 dispose: Boolean = false,
                                 durationMs: Int = 40)

  /** Real animated-WebP container: VP8X (ANIM [+ALPHA] flags, canvas
    * dims) + ANIM (background BGRA, loop count) + one ANMF per frame
    * wrapping a genuine [[encodeLossless]] VP8L stream. */
  def encodeAnimated(cw: Int, ch: Int, bgArgb: Int,
                     frames: Seq[AnimFrameSpec], loops: Int = 0): Array[Byte] = {
    require(cw >= 1 && ch >= 1 && frames.nonEmpty, "encodeAnimated: bad args")
    val hasAlpha = frames.exists(_.argb.exists(px => (px >>> 24) != 0xFF))
    val anim = Array(bgArgb & 0xFF, // B
      (bgArgb >> 8) & 0xFF, // G
      (bgArgb >> 16) & 0xFF, // R
      (bgArgb >>> 24) & 0xFF, // A
      loops & 0xFF, (loops >> 8) & 0xFF).map(_.toByte)
    val anmfs = frames.map { f =>
      require(f.x % 2 == 0 && f.y % 2 == 0,
        "encodeAnimated: frame offsets must be even")
      require(f.x + f.w <= cw && f.y + f.h <= ch,
        "encodeAnimated: frame rect exceeds the canvas")
      val inner = encodeLossless(f.w, f.h, f.argb)
      val vp8l = java.util.Arrays.copyOfRange(inner, 12, inner.length)
      Containers.riffChunk("ANMF",
        le24s(f.x / 2, f.y / 2, f.w - 1, f.h - 1, f.durationMs) ++
          Array(((if (f.noBlend) 0x02 else 0) | (if (f.dispose) 1 else 0)).toByte) ++
          vp8l)
    }
    webpFile(vp8xChunk(0x02 | (if (hasAlpha) 0x10 else 0), cw, ch) +:
      Containers.riffChunk("ANIM", anim) +: anmfs: _*)
  }

  private def inversePredictor(id: Long, img: Array[Int], w: Int, h: Int,
                               tf: Transform): Unit = {
    val bits = tf.bits
    val tw = tf.subW
    var pos = 0
    var y = 0
    while (y < h) {
      val rowTile = (y >> bits) * tw
      var x = 0
      while (x < w) {
        val pred =
          if (x == 0 && y == 0) 0xFF000000
          else if (y == 0) img(pos - 1) // top row: forced L
          else if (x == 0) img(pos - w) // left column: forced T
          else {
            val mode = (tf.data(rowTile + (x >> bits)) >> 8) & 0xFF
            check(mode <= 13, id, s"invalid VP8L predictor mode $mode")
            predict(mode, img, pos, w)
          }
        img(pos) = addPixels(img(pos), pred)
        x += 1
        pos += 1
      }
      y += 1
    }
  }
}
