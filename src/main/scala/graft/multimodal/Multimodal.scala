package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata.
  *
  * Two processing paths, both real:
  *  - [[binaryMediaMeta]] — container-format detection and header metadata
  *    (dimensions, frame counts, sample rates) parsed from the ACTUAL byte
  *    layouts of PNG / GIF / JPEG / WAV / AVI with pure Spark expressions
  *    (`substring`/`hex`/`conv` over BinaryType — whole-stage codegen, no
  *    JVM object iteration, scales like any projection). This works on
  *    genuine files: the offsets are the published container specs.
  *  - [[decode]]/[[extractFeatures]] — typed `mapPartitions` (the Scala
  *    analogue of arrow-batched pandas UDFs: an iterator of rows per
  *    partition, never a driver collect) for the work that genuinely needs
  *    a codec body. Header parsing in [[decode]] is real ([[Containers]]).
  *    PIXEL and SAMPLE decoding are REAL for the formats the JDK alone can
  *    carry: [[pngPixelStats]] inflates and unfilters genuine PNG IDAT
  *    streams (PNG's zlib IS `java.util.zip`; all five scanline filters),
  *    and [[wavSampleStats]] reads PCM16 WAV samples (PCM needs no codec).
  *    [[extractFeatures]] serves REAL classical content descriptors per
  *    modality; only a LEARNED embedding model remains out of scope (no
  *    model weights exist in this environment) — a real model body-swaps
  *    the dispatch inside its `mapPartitions`.
  *
  * Synthetic fixtures ([[syntheticMediaFromDocs]]) emit spec-correct PNG /
  * WAV / AVI containers (header layouts byte-for-byte real, CRCs zeroed,
  * bodies fake), so every parser above is exercised against the real
  * offsets and an external oracle can recompute the planted values.
  */
object Multimodal {

  /** Upper bound on decoded pixels per image/frame (64 Mpx ≈ 256 MB of
    * RGBA): hostile headers can declare dimensions up to 2^31, and
    * without a named bound the buffer math overflows into an unnamed
    * NegativeArraySizeException or an allocation the executor cannot
    * survive. Real corpus assets sit orders of magnitude below this. */
  private[graft] val MaxDecodePixels: Long = 1L << 26

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            width: Int, height: Int, n_frames: Int)

  final case class DecodedFrame(media_id: Long, frame_idx: Int, width: Int,
                                height: Int, n_pixel_bytes: Long)

  final case class MediaFeature(media_id: Long, embedding: Array[Float])

  /** Exact per-channel pixel census of one decoded image. */
  final case class PixelStats(media_id: Long, width: Int, height: Int,
                              n_pixels: Long, sum_r: Long, sum_g: Long,
                              sum_b: Long, sum_a: Long)

  /** Exact census of one decoded PCM16 audio clip. */
  final case class SampleStats(media_id: Long, channels: Int,
                               sample_rate: Int, n_samples: Long,
                               sum_abs: Long, peak: Long)

  /** Exact census of one LZW-decoded GIF frame: palette-mapped channel
    * sums plus the raw index sum (sensitive to every expansion step). */
  final case class GifStats(media_id: Long, width: Int, height: Int,
                            n_pixels: Long, sum_r: Long, sum_g: Long,
                            sum_b: Long, sum_idx: Long)

  /** Exact per-channel census of one Huffman-decoded baseline JPEG (no
    * alpha — JPEG is opaque by format). */
  final case class JpegStats(media_id: Long, width: Int, height: Int,
                             n_pixels: Long, sum_r: Long, sum_g: Long,
                             sum_b: Long)

  /** Exact per-channel census of ONE decoded AVI video frame — the video
    * twin of [[PixelStats]], keyed by (media_id, frame_idx). */
  final case class VideoFrameStats(media_id: Long, frame_idx: Int,
                                   width: Int, height: Int, n_pixels: Long,
                                   sum_r: Long, sum_g: Long, sum_b: Long)

  /** Real container-header layouts (public format specs), JVM side.
    * Builders emit the exact byte offsets the specs publish; the parser
    * dispatches on magic bytes. CRC fields are zeroed (nothing here
    * validates checksums — header geometry is the contract). */
  private[graft] object Containers {
    val PngHeaderLen = 33 // 8 signature + 25 IHDR chunk (len|type|13 data|crc)
    val WavHeaderLen = 44 // canonical RIFF/WAVE PCM preamble
    val AviHeaderLen = 88 // RIFF/AVI LIST hdrl + avih chunk (56-byte data)
    val JpegHeaderLen = 44 // SOI + APP0(JFIF) + fill byte + SOF0(1 comp) + SOS
    val JpegOverhead = JpegHeaderLen + 2 // + trailing EOI

    /** The 256-entry grayscale identity ramp: index v is gray v. */
    val GrayRamp: Array[Byte] = Array.tabulate(256 * 3)(b => (b / 3).toByte)

    /** The 64-entry gray palette in steps of 4 (index i is gray 4i + 1). */
    val Ramp64: Array[Byte] =
      Array.tabulate(64 * 3)(b => (((b / 3) * 4 + 1) % 256).toByte)

    /** The 8-byte PNG signature every PNG writer leads with. */
    private val PngSignature =
      Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    /** The 13-byte IHDR body: dims, bit depth, color type, compression 0,
      * filter 0, interlace method. */
    private def pngIhdr(width: Int, height: Int, bitDepth: Int,
                        colorType: Int, interlace: Int): Array[Byte] =
      ByteBuffer.allocate(13).putInt(width).putInt(height)
        .put(bitDepth.toByte).put(colorType.toByte).put(0.toByte).put(0.toByte)
        .put(interlace.toByte).array()

    /** zlib-deflate `raw` with the JDK's default settings — the PNG IDAT
      * and TIFF Deflate codec (PNG's zlib IS `java.util.zip`). */
    private[multimodal] def deflate(raw: Array[Byte]): Array[Byte] = {
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val z = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) z.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      z.toByteArray
    }

    /** PNG: signature, then IHDR — width BE at offset 16, height BE at 20. */
    def png(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(PngHeaderLen + body.length)
      bb.put(PngSignature)
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.put(pngIhdr(width, height, 8, 6, 0))
      bb.putInt(0) // CRC (unvalidated)
      bb.put(body).array()
    }

    /** A spec-complete PNG chunk: length + type + data + CRC32 over
      * type||data (the real checksum — [[pngFull]] images open in any
      * viewer). */
    private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt)
        .array()
    }

    /** SPEC-COMPLETE PNG with real pixel data ([[pngTyped]] at color type
      * 6): 8-bit RGBA IHDR, scanlines (filter byte + pixels) deflated into
      * one IDAT via `java.util.zip` (PNG's zlib IS the JDK's), valid CRC32
      * on every chunk, IEND. Pixel byte i (row-major, RGBA interleaved)
      * comes from `px(i)` (low 8 bits taken). `filterType` applies one of
      * the five spec filters to every scanline — the ENCODER side of
      * [[Multimodal.pngPixelStats]]'s unfilter pass, so round-trip specs
      * can pin all five. */
    def pngFull(width: Int, height: Int, px: Int => Int,
                filterType: Int = 0): Array[Byte] =
      pngTyped(width, height, 6, px, filterType = filterType)

    /** Filter one image's scanlines into the PNG raw layout (one filter
      * byte + stride per row). `sample(row, i)` returns the i-th raw
      * channel byte of that scanline; `channels` drives the filter's
      * pixel width. Shared by [[pngTyped]]'s sequential and ADAM7
      * paths. */
    private def pngFilterRows(width: Int, height: Int, channels: Int,
                              sample: (Int, Int) => Int,
                              filterType: Int): Array[Byte] = {
      val stride = width * channels
      val raw = new Array[Byte](height * (1 + stride))
      val prior = new Array[Int](stride)
      val cur = new Array[Int](stride)
      var y = 0
      while (y < height) {
        val base = y * (1 + stride)
        raw(base) = filterType.toByte
        var x = 0
        while (x < stride) { cur(x) = sample(y, x) & 0xFF; x += 1 }
        x = 0
        while (x < stride) {
          val a = if (x >= channels) cur(x - channels) else 0
          val b = if (y > 0) prior(x) else 0
          val c = if (y > 0 && x >= channels) prior(x - channels) else 0
          val pred = filterType match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 => paeth(a, b, c)
          }
          raw(base + 1 + x) = ((cur(x) - pred) & 0xFF).toByte
          x += 1
        }
        System.arraycopy(cur, 0, prior, 0, stride)
        y += 1
      }
      raw
    }

    /** Spec-complete PNG across the 8-bit COLOR-TYPE matrix — 0 gray,
      * 2 RGB, 3 palette (optional tRNS alpha), 4 gray+alpha, 6 RGBA —
      * optionally ADAM7-interlaced (pass-ordered scanlines, each pass
      * filtered independently): the encoder side of the general decoder.
      * `sample(k)` returns the k-th raw channel byte in row-major
      * scanline order (channels-per-pixel set by the color type). */
    def pngTyped(width: Int, height: Int, colorType: Int, sample: Int => Int,
                 palette: Array[Byte] = null, trns: Array[Byte] = null,
                 filterType: Int = 0, interlaced: Boolean = false,
                 bitDepth: Int = 8): Array[Byte] = {
      require(width > 0 && height > 0, "pngTyped needs positive dimensions")
      require(filterType >= 0 && filterType <= 4, "PNG filter type is 0..4")
      val channels = colorType match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case other => throw new IllegalArgumentException(
          s"PNG color type $other")
      }
      require(bitDepth == 8 || ((colorType == 0 || colorType == 3) &&
        (bitDepth == 1 || bitDepth == 2 || bitDepth == 4)) ||
        (bitDepth == 16 && colorType != 3),
        s"bit depth $bitDepth incompatible with color type $colorType")
      require((colorType == 3) == (palette != null),
        "palette iff color type 3")
      require(trns == null || colorType == 3, "tRNS only with a palette")
      // per-pixel `sample` stride: 16-bit feeds raw big-endian byte
      // pairs, 8-bit one byte per channel, sub-byte one value per pixel
      val bytesPerPx = if (bitDepth == 16) 2 * channels else channels
      // one pass's filtered rows; `at(y, px, ch)` is a raw channel value
      // in the pass's own pixel coordinates (sub-byte depths pack
      // MSB-first into scanline bytes, filter bpp = 1 per spec)
      def passRows(pw: Int, ph: Int, at: (Int, Int, Int) => Int): Array[Byte] =
        if (bitDepth == 8)
          pngFilterRows(pw, ph, channels,
            (y, i) => at(y, i / channels, i % channels), filterType)
        else if (bitDepth == 16)
          // `at` supplies RAW bytes: ch indexes the 2·channels bytes of
          // a pixel (big-endian sample pairs)
          pngFilterRows(pw, ph, 2 * channels,
            (y, i) => at(y, i / (2 * channels), i % (2 * channels)),
            filterType)
        else {
          val perByte = 8 / bitDepth
          val rowB = (pw * bitDepth + 7) / 8
          pngFilterRows(rowB, ph, 1, (y, i) => {
            var b = 0
            var bit = 0
            while (bit < perByte) {
              val px = i * perByte + bit
              val v = if (px < pw) at(y, px, 0) & ((1 << bitDepth) - 1) else 0
              b = (b << bitDepth) | v
              bit += 1
            }
            b
          }, filterType)
        }
      val raw: Array[Byte] =
        if (!interlaced)
          passRows(width, height, (y, px, ch) =>
            sample((y * width + px) * bytesPerPx + ch))
        else {
          val outRaw = new java.io.ByteArrayOutputStream()
          val passes = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
            (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
          passes.foreach { case (x0, y0, dxp, dyp) =>
            val pw = if (width > x0) (width - x0 + dxp - 1) / dxp else 0
            val ph = if (height > y0) (height - y0 + dyp - 1) / dyp else 0
            if (pw > 0 && ph > 0)
              outRaw.write(passRows(pw, ph, (j, px, ch) =>
                sample(((y0 + j * dyp) * width + (x0 + px * dxp))
                  * bytesPerPx + ch)))
          }
          outRaw.toByteArray
        }
      val ihdr = pngIhdr(width, height, bitDepth, colorType,
        if (interlaced) 1 else 0)
      PngSignature ++ pngChunk("IHDR", ihdr) ++
        (if (palette != null) pngChunk("PLTE", palette)
        else Array.emptyByteArray) ++
        (if (trns != null) pngChunk("tRNS", trns) else Array.emptyByteArray) ++
        pngChunk("IDAT", deflate(raw)) ++
        pngChunk("IEND", Array.emptyByteArray)
    }

    /** One APNG frame: a `w`x`h` RGBA rect presented at (`x`, `y`);
      * `px(i)` supplies the i-th RGBA byte of the rect (row-major,
      * interleaved — the [[pngFull]] convention). `dispose` 0 none /
      * 1 background / 2 previous; `blend` 0 source / 1 over. */
    final case class ApngFrameSpec(x: Int, y: Int, w: Int, h: Int,
                                   px: Int => Int, dispose: Int = 0,
                                   blend: Int = 0, filterType: Int = 0)

    /** SPEC-COMPLETE APNG (the PNG animation extension, now folded into
      * the W3C PNG spec third edition): 8-bit RGBA IHDR, acTL frame
      * count, frame 0 as fcTL + IDAT (the default image participating
      * in the animation), later frames as fcTL + fdAT with the SHARED
      * sequence counter fcTL and fdAT both consume, real CRC32 on every
      * chunk. Frame rows go through the same scanline filters as
      * [[pngFull]]. The first frame must cover the whole canvas, per
      * spec. */
    def pngAnimated(width: Int, height: Int,
                    frames: Seq[ApngFrameSpec]): Array[Byte] = {
      require(frames.nonEmpty, "pngAnimated needs at least one frame")
      val f0 = frames.head
      require(f0.x == 0 && f0.y == 0 && f0.w == width && f0.h == height,
        "the first APNG frame must cover the whole canvas, per spec")
      frames.foreach { f =>
        require(f.x >= 0 && f.y >= 0 && f.x + f.w <= width &&
          f.y + f.h <= height, "APNG frame rect exceeds the canvas")
        require(f.dispose >= 0 && f.dispose <= 2 &&
          (f.blend == 0 || f.blend == 1), "bad dispose/blend op")
      }
      def frameData(f: ApngFrameSpec): Array[Byte] =
        deflate(pngFilterRows(f.w, f.h, 4,
          (y, i) => f.px(y * f.w * 4 + i), f.filterType))
      def fctl(seq: Int, f: ApngFrameSpec): Array[Byte] =
        ByteBuffer.allocate(26).putInt(seq).putInt(f.w).putInt(f.h)
          .putInt(f.x).putInt(f.y)
          .putShort(1.toShort).putShort(10.toShort) // 1/10 s delay
          .put(f.dispose.toByte).put(f.blend.toByte).array()
      val actl = ByteBuffer.allocate(8).putInt(frames.length).putInt(0)
        .array()
      val out = new java.io.ByteArrayOutputStream()
      out.write(PngSignature)
      out.write(pngChunk("IHDR", pngIhdr(width, height, 8, 6, 0)))
      out.write(pngChunk("acTL", actl))
      var seq = 0
      out.write(pngChunk("fcTL", fctl(seq, f0))); seq += 1
      out.write(pngChunk("IDAT", frameData(f0)))
      frames.drop(1).foreach { f =>
        out.write(pngChunk("fcTL", fctl(seq, f))); seq += 1
        val data = frameData(f)
        val fdat = new Array[Byte](4 + data.length)
        ByteBuffer.wrap(fdat).putInt(seq).put(data)
        seq += 1
        out.write(pngChunk("fdAT", fdat))
      }
      out.write(pngChunk("IEND", Array.emptyByteArray))
      out.toByteArray
    }

    /** GIF-variant LZW compress (GIF89a spec, Appendix F): variable-width
      * codes starting at minCodeSize+1 bits, LSB-first bit packing, CLEAR
      * = 2^min and EOI = CLEAR+1 reserved, dictionary grown one entry per
      * emitted data code, code width bumped when the largest defined code
      * fills the current width, CLEAR emitted and the table rebuilt when
      * the 12-bit space (4096) is exhausted. The ENCODER side of
      * [[Multimodal.decodeOneGif]]'s expansion — round-trip spec-pinned
      * and cross-validated against the JDK's own ImageIO GIF reader. */
    def lzwEncode(indices: Array[Int], minCodeSize: Int): Array[Byte] = {
      require(minCodeSize >= 2 && minCodeSize <= 8, "GIF LZW min code size is 2..8")
      val clear = 1 << minCodeSize
      val eoi = clear + 1
      val out = new java.io.ByteArrayOutputStream()
      var bitBuf = 0
      var bitCnt = 0
      var codeSize = minCodeSize + 1
      def emit(code: Int): Unit = {
        bitBuf |= code << bitCnt
        bitCnt += codeSize
        while (bitCnt >= 8) {
          out.write(bitBuf & 0xFF); bitBuf >>>= 8; bitCnt -= 8
        }
      }
      var dict = new java.util.HashMap[Long, Integer]()
      var next = eoi + 1
      emit(clear)
      if (indices.nonEmpty) {
        var cur = indices(0)
        var i = 1
        while (i < indices.length) {
          val s = indices(i)
          val key = (cur.toLong << 16) | s.toLong
          val hit = dict.get(key)
          if (hit != null) cur = hit.intValue()
          else {
            emit(cur)
            dict.put(key, Integer.valueOf(next)); next += 1
            // the decoder's counter runs one behind: it creates this entry
            // only when it processes the NEXT code, so its width bump at
            // (next == 1<<size) is our (next-1 == 1<<size)
            if (next - 1 == (1 << codeSize) && codeSize < 12) codeSize += 1
            if (next == 4096) { // 12-bit space exhausted: rebuild
              emit(clear)
              dict = new java.util.HashMap[Long, Integer]()
              next = eoi + 1
              codeSize = minCodeSize + 1
            }
            cur = s
          }
          i += 1
        }
        emit(cur)
        // the decoder adds one entry after processing this final code too,
        // and that add can bump ITS width before it reads EOI — mirror it.
        // (When the final code is the first after a CLEAR the decoder adds
        // nothing, but then next == eoi+1 < 1<<codeSize, so this cannot
        // spuriously fire for minCodeSize >= 2.)
        if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
      }
      emit(eoi)
      if (bitCnt > 0) out.write(bitBuf & 0xFF)
      out.toByteArray
    }

    /** Stream-order rows for an INTERLACED GIF (GIF89a appendix E): the
      * encoder's inverse of the decoder's de-interlace — natural rows
      * emitted in four-pass order. */
    private def gifInterlaceRows(indices: Array[Int], w: Int,
                                 h: Int): Array[Int] = {
      val out = new Array[Int](indices.length)
      var s = 0
      def pass(start: Int, step: Int): Unit = {
        var y = start
        while (y < h) {
          System.arraycopy(indices, y * w, out, s * w, w)
          s += 1
          y += step
        }
      }
      pass(0, 8); pass(4, 8); pass(2, 4); pass(1, 2)
      out
    }

    /** Color-table size bits of a GIF palette (3·2^(n+1) RGB bytes). */
    private def gifTableBits(palette: Array[Byte]): Int = {
      val nColors = palette.length / 3
      require(nColors >= 2 &&
        nColors == (1 << (Integer.numberOfTrailingZeros(nColors))) &&
        palette.length % 3 == 0,
        "palette must hold a power-of-two color count >= 2")
      Integer.numberOfTrailingZeros(nColors) - 1
    }

    private def gifLe16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    }

    /** GIF89a header + logical screen descriptor; `globalPalette` null
      * declares no global color table. */
    private def gifHeader(out: java.io.ByteArrayOutputStream, width: Int,
                          height: Int, globalPalette: Array[Byte],
                          bgIndex: Int): Unit = {
      out.write("GIF89a".getBytes("US-ASCII"))
      gifLe16(out, width); gifLe16(out, height)
      out.write((if (globalPalette == null) 0
        else 0x80 | gifTableBits(globalPalette)) | (7 << 4))
      out.write(bgIndex); out.write(0) // background index, aspect ratio
      if (globalPalette != null) out.write(globalPalette)
    }

    /** One GIF frame: a Graphic Control Extension (disposal, delay,
      * transparent index; −1 = opaque), the image descriptor for the
      * rect (`localPalette` null = none), and the [[lzwEncode]]'d
      * `natural` row-major indices split into ≤126-byte data sub-blocks
      * (exercises sub-block reassembly), stream-ordered per GIF89a
      * appendix E when `interlaced`. */
    private def gifFrame(out: java.io.ByteArrayOutputStream, left: Int,
                         top: Int, w: Int, h: Int, natural: Array[Int],
                         minCodeSize: Int, delay: Int, disposal: Int,
                         transparentIdx: Int, interlaced: Boolean,
                         localPalette: Array[Byte]): Unit = {
      out.write(0x21); out.write(0xF9); out.write(4)
      out.write((disposal << 2) | (if (transparentIdx >= 0) 1 else 0))
      gifLe16(out, delay)
      out.write(math.max(0, transparentIdx)); out.write(0)
      out.write(0x2C)
      gifLe16(out, left); gifLe16(out, top); gifLe16(out, w); gifLe16(out, h)
      out.write((if (localPalette == null) 0
        else 0x80 | gifTableBits(localPalette)) |
        (if (interlaced) 0x40 else 0))
      if (localPalette != null) out.write(localPalette)
      out.write(minCodeSize)
      val data = lzwEncode(
        if (interlaced) gifInterlaceRows(natural, w, h) else natural,
        minCodeSize)
      var off = 0
      while (off < data.length) {
        val n = math.min(126, data.length - off)
        out.write(n); out.write(data, off, n)
        off += n
      }
      out.write(0) // sub-block terminator
    }

    /** SPEC-COMPLETE GIF89a with real LZW-compressed pixel data: header,
      * logical screen descriptor, GLOBAL color table (`palette`: 3·2^(n+1)
      * RGB bytes), a Graphic Control Extension (exercises the extension
      * skip every real decoder needs), image descriptor, [[lzwEncode]]'d
      * indices split into ≤126-byte data sub-blocks (exercises sub-block
      * reassembly), trailer. `idx(k)` supplies the palette index of pixel
      * k (row-major). */
    def gifFull(width: Int, height: Int, idx: Int => Int,
                palette: Array[Byte], minCodeSize: Int = 6,
                interlaced: Boolean = false,
                localTable: Boolean = false): Array[Byte] = {
      require(width > 0 && height > 0, "gifFull needs positive dimensions")
      val out = new java.io.ByteArrayOutputStream()
      // localTable = true exercises the no-GCT layout: the palette moves
      // to the image descriptor and the header declares no global table
      gifHeader(out, width, height, if (localTable) null else palette, 0)
      gifFrame(out, 0, 0, width, height, Array.tabulate(width * height)(idx),
        minCodeSize, 0, 0, -1, interlaced, if (localTable) palette else null)
      out.write(0x3B) // trailer
      out.toByteArray
    }

    /** Animated GIF89a: header + global color table, then PER FRAME a
      * Graphic Control Extension, a FULL-FRAME image descriptor, and its
      * own [[lzwEncode]]'d index stream in ≤126-byte sub-blocks — the
      * restricted profile [[Multimodal.decodeGifFrames]] accepts.
      * `idx(f, k)` supplies frame f's palette index at pixel k. */
    def gifAnimated(width: Int, height: Int, nFrames: Int,
                    idx: (Int, Int) => Int, palette: Array[Byte],
                    minCodeSize: Int = 6, interlaced: Boolean = false,
                    localPalette: Int => Array[Byte] = null): Array[Byte] = {
      require(width > 0 && height > 0 && nFrames > 0,
        "gifAnimated needs positive dimensions and frame count")
      val out = new java.io.ByteArrayOutputStream()
      // localPalette != null exercises the no-GCT layout: every frame
      // carries its OWN color table in the image descriptor
      gifHeader(out, width, height, if (localPalette == null) palette else null,
        0)
      for (f <- 0 until nFrames)
        gifFrame(out, 0, 0, width, height,
          Array.tabulate(width * height)(k => idx(f, k)), minCodeSize, 4, 0,
          -1, interlaced, if (localPalette == null) null else localPalette(f))
      out.write(0x3B)
      out.toByteArray
    }

    /** One partial-frame spec for [[gifAnimatedPartial]]: rect placement,
      * per-pixel palette index (k raster over the rect), the frame's GIF
      * disposal method, and its transparent index (−1 = opaque). */
    final case class GifFrameSpec(left: Int, top: Int, w: Int, h: Int,
                                  idx: Int => Int, disposal: Int = 0,
                                  transparentIdx: Int = -1)

    /** Real-crawl animated GIF89a: partial-frame rects, each with its
      * own Graphic Control Extension carrying a disposal method and an
      * optional transparent index, over a global palette with a declared
      * background index — the fixture side of the compositing decoder
      * ([[Multimodal.decodeGifComposited]]). */
    def gifAnimatedPartial(width: Int, height: Int,
                           frames: Seq[GifFrameSpec], palette: Array[Byte],
                           bgIndex: Int = 0,
                           minCodeSize: Int = 6): Array[Byte] = {
      require(width > 0 && height > 0 && frames.nonEmpty,
        "gifAnimatedPartial needs positive dims and frames")
      val out = new java.io.ByteArrayOutputStream()
      gifHeader(out, width, height, palette, bgIndex)
      frames.foreach { f =>
        require(f.left >= 0 && f.top >= 0 && f.w > 0 && f.h > 0 &&
          f.left + f.w <= width && f.top + f.h <= height,
          s"frame rect ${f.w}x${f.h}@(${f.left},${f.top}) must fit the screen")
        require(f.disposal >= 0 && f.disposal <= 3, "disposal 0..3")
        gifFrame(out, f.left, f.top, f.w, f.h, Array.tabulate(f.w * f.h)(f.idx),
          minCodeSize, 4, f.disposal, f.transparentIdx, false, null)
      }
      out.write(0x3B)
      out.toByteArray
    }

    /** The Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
      * the linear estimate a + b − c, ties in a, b, c order. */
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }

    /** Little-endian bytes of a fixed-size header record. */
    private def leBytes(n: Int)(fill: ByteBuffer => Unit): Array[Byte] = {
      val bb = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      fill(bb)
      bb.array()
    }

    /** A RIFF chunk: fourcc, little-endian u32 size, payload, and a zero
      * pad byte when the size is odd (RIFF chunks are word-aligned). */
    private[multimodal] def riffChunk(fourcc: String,
                                      payload: Array[Byte]): Array[Byte] =
      ByteBuffer.allocate(8 + payload.length + (payload.length & 1))
        .order(ByteOrder.LITTLE_ENDIAN)
        .put(fourcc.getBytes("US-ASCII")).putInt(payload.length).put(payload)
        .array()

    /** A RIFF list chunk (`RIFF` or `LIST`): the form/list type fourcc,
      * then the given sub-chunks. */
    private[multimodal] def riffList(fourcc: String, listType: String,
                                     chunks: Array[Byte]*): Array[Byte] =
      riffChunk(fourcc,
        Array.concat(listType.getBytes("US-ASCII") +: chunks: _*))

    /** RIFF/WAVE framing shared by every WAV writer: a `fmt ` chunk (the
      * 16-byte WAVEFORMAT core, then `fmtExt`, the codec's extension
      * bytes) and the `data` chunk over `body` (no pad byte after it). */
    private def wavFile(fmtTag: Int, channels: Int, sampleRate: Int,
                        byteRate: Int, blockAlign: Int, bits: Int,
                        fmtExt: Array[Byte], body: Array[Byte]): Array[Byte] = {
      val fmtLen = 16 + fmtExt.length
      val bb = ByteBuffer.allocate(20 + fmtLen + 8 + body.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(12 + fmtLen + 8 + body.length)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
      bb.putShort(fmtTag.toShort).putShort(channels.toShort).putInt(sampleRate)
      bb.putInt(byteRate)
      bb.putShort(blockAlign.toShort)
      bb.putShort(bits.toShort)
      bb.put(fmtExt)
      bb.put("data".getBytes("US-ASCII")).putInt(body.length)
      bb.put(body).array()
    }

    /** WAV: RIFF/WAVE with PCM fmt chunk — channels LE u16 at offset 22,
      * sample rate LE u32 at 24; `bits` picks the PCM depth (8 unsigned /
      * 16 / 24 signed LE), `body` is raw sample bytes at that depth. */
    def wav(channels: Int, sampleRate: Int, body: Array[Byte],
            bits: Int = 16): Array[Byte] = {
      require(bits == 8 || bits == 16 || bits == 24, s"PCM bits $bits")
      wavTyped(channels, sampleRate, body, bits)
    }

    /** WAV beyond canonical PCM — the other two real-crawl fmt layouts:
      * `fmtTag` 3 writes an IEEE-float fmt chunk (bits must be 32, body
      * is raw float32 LE), and `extensible = true` wraps either tag in a
      * 40-byte WAVE_FORMAT_EXTENSIBLE fmt chunk (tag 0xFFFE, cbSize 22,
      * wValidBitsPerSample = bits, zero channel mask, the real format
      * tag in the leading two bytes of the standard ksmedia SubFormat
      * GUID) — what DAW exports and Windows capture stacks emit. */
    def wavTyped(channels: Int, sampleRate: Int, body: Array[Byte],
                 bits: Int, fmtTag: Int = 1,
                 extensible: Boolean = false): Array[Byte] = {
      require(fmtTag == 1 || fmtTag == 3 || fmtTag == 6 || fmtTag == 7,
        s"fmt tag $fmtTag")
      require(fmtTag match {
        case 3 => bits == 32
        case 6 | 7 => bits == 8
        case _ => bits == 8 || bits == 16 || bits == 24 || bits == 32
      }, s"bits $bits for fmt tag $fmtTag")
      val ext =
        if (!extensible) Array.emptyByteArray
        else leBytes(24) { bb =>
          bb.putShort(22.toShort) // cbSize
          bb.putShort(bits.toShort) // wValidBitsPerSample
          bb.putInt(0) // dwChannelMask
          bb.putShort(fmtTag.toShort) // SubFormat GUID: real tag first
          bb.put(Array(0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00,
            0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71).map(_.toByte))
        }
      wavFile(if (extensible) 0xFFFE else fmtTag, channels, sampleRate,
        sampleRate * channels * (bits / 8), channels * (bits / 8), bits, ext,
        body)
    }

    /** IMA ADPCM WAV (fmt tag 0x11): the 20-byte fmt chunk (bits 4,
      * cbSize 2, wSamplesPerBlock) over raw block `body` bytes — each
      * block is a 4-byte header per channel (predictor i16 LE, step
      * index u8, reserved) followed by 4-byte nibble groups round-robin
      * per channel. */
    def wavIma(channels: Int, sampleRate: Int, blockAlign: Int,
               samplesPerBlock: Int, body: Array[Byte]): Array[Byte] =
      wavFile(0x11, channels, sampleRate,
        sampleRate * blockAlign / samplesPerBlock, // avg byte rate
        blockAlign, 4,
        leBytes(4)(_.putShort(2.toShort).putShort(samplesPerBlock.toShort)),
        body)

    /** Sun AU (.snd): the 24-byte big-endian header over raw body bytes
      * (encoding 1 u-law / 2 signed PCM8 / 3 PCM16 BE). */
    def au(channels: Int, sampleRate: Int, encoding: Int,
           body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(24 + body.length) // BE by default
      bb.put(".snd".getBytes("US-ASCII"))
      bb.putInt(24).putInt(body.length).putInt(encoding)
      bb.putInt(sampleRate).putInt(channels)
      bb.put(body).array()
    }

    /** AIFF: FORM/AIFF with a COMM chunk (sample rate written as a REAL
      * 80-bit IEEE extended float) and an SSND chunk over big-endian
      * signed PCM `body` bytes at the declared depth. */
    def aiff(channels: Int, sampleRate: Int, bits: Int,
             body: Array[Byte]): Array[Byte] = {
      require(bits == 8 || bits == 16, s"AIFF bits $bits")
      require(sampleRate > 0, "positive sample rate")
      val frames = body.length / (channels * (bits / 8))
      val bb = ByteBuffer.allocate(12 + 26 + 16 + body.length)
      bb.put("FORM".getBytes("US-ASCII"))
      bb.putInt(4 + 26 + 16 + body.length)
      bb.put("AIFF".getBytes("US-ASCII"))
      bb.put("COMM".getBytes("US-ASCII")).putInt(18)
      bb.putShort(channels.toShort).putInt(frames).putShort(bits.toShort)
      // 80-bit extended: exponent 16383 + floor(log2 rate), mantissa
      // left-justified with the explicit integer bit
      val n = 63 - java.lang.Long.numberOfLeadingZeros(sampleRate.toLong)
      bb.putShort((16383 + n).toShort)
      bb.putLong(sampleRate.toLong << (63 - n))
      bb.put("SSND".getBytes("US-ASCII")).putInt(8 + body.length)
      bb.putInt(0).putInt(0) // offset, blockSize
      bb.put(body).array()
    }

    /** avih, the AVI main header chunk (56-byte data). It leads hdrl in
      * every AVI writer, so dwTotalFrames sits at file offset 48 and
      * dwWidth/dwHeight at 64/68. */
    private def aviMainHeader(width: Int, height: Int, frames: Int,
                              streams: Int): Array[Byte] =
      leBytes(64) { bb =>
        bb.put("avih".getBytes("US-ASCII")).putInt(56)
        bb.putInt(33367) // dwMicroSecPerFrame (~30fps)
        bb.putInt(0).putInt(0).putInt(0) // maxBytesPerSec, padding, flags
        bb.putInt(frames) // dwTotalFrames
        bb.putInt(0).putInt(streams).putInt(0) // initialFrames, streams, bufferSize
        bb.putInt(width).putInt(height)
        bb.putInt(0).putInt(0).putInt(0).putInt(0) // dwReserved[4]
      }

    /** AVI: RIFF/AVI LIST hdrl + avih — dwTotalFrames LE u32 at offset 48,
      * dwWidth at 64, dwHeight at 68. */
    def avi(width: Int, height: Int, frames: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(AviHeaderLen + body.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(80 + body.length)
      bb.put("AVI ".getBytes("US-ASCII"))
      bb.put("LIST".getBytes("US-ASCII")).putInt(68)
      bb.put("hdrl".getBytes("US-ASCII"))
      bb.put(aviMainHeader(width, height, frames, 1))
      bb.put(body).array()
    }

    /** One AVI stream header list: the strh fields that vary by stream
      * (type, handler fourcc, rate, length, buffer and sample size, the
      * rcFrame right/bottom corner) and the strf format body. */
    private final case class AviStream(fccType: String, handler: Array[Byte],
                                       rate: Int, length: Int,
                                       bufferSize: Int, sampleSize: Int,
                                       rcRight: Int, rcBottom: Int,
                                       format: Array[Byte])

    private def aviStrl(s: AviStream): Array[Byte] = {
      val strh = leBytes(56) { bb =>
        bb.put(s.fccType.getBytes("US-ASCII")).put(s.handler)
        bb.putInt(0) // dwFlags
        bb.putShort(0.toShort).putShort(0.toShort) // wPriority, wLanguage
        bb.putInt(0).putInt(1).putInt(s.rate).putInt(0) // initialFrames, scale, rate, start
        bb.putInt(s.length) // dwLength (frames for video, samples for audio)
        bb.putInt(s.bufferSize).putInt(0).putInt(s.sampleSize) // bufferSize, quality, sampleSize
        bb.putShort(0.toShort).putShort(0.toShort) // rcFrame left, top
        bb.putShort(s.rcRight.toShort).putShort(s.rcBottom.toShort) // rcFrame right, bottom
      }
      riffList("LIST", "strl", riffChunk("strh", strh),
        riffChunk("strf", s.format))
    }

    /** The video stream of every full AVI writer: a 'vids' strh with the
      * given handler and a 24-bit BITMAPINFOHEADER strf. */
    private def aviVideoStream(width: Int, height: Int, frames: Int,
                               handler: String, compression: Int,
                               sizeImage: Int, bufferSize: Int): AviStream =
      AviStream("vids", handler.getBytes("US-ASCII"), 30, frames, bufferSize,
        0, width, height, leBytes(40) { bb =>
          bb.putInt(40).putInt(width).putInt(height) // biSize, biWidth, biHeight
          bb.putShort(1.toShort).putShort(24.toShort) // biPlanes, biBitCount
          bb.putInt(compression).putInt(sizeImage) // biCompression, biSizeImage
          bb.putInt(0).putInt(0).putInt(0).putInt(0) // pels/meter, clrUsed, clrImportant
        })

    /** A complete RIFF/AVI: LIST hdrl (avih first, then one strl per
      * stream) followed by LIST movi holding the given chunks. */
    private def aviFile(width: Int, height: Int, frames: Int,
                        streams: Seq[AviStream],
                        movi: Seq[Array[Byte]]): Array[Byte] =
      riffList("RIFF", "AVI ",
        riffList("LIST", "hdrl",
          aviMainHeader(width, height, frames, streams.length) +:
            streams.map(aviStrl): _*),
        riffList("LIST", "movi", movi: _*))

    /** One uncompressed DIB frame: BOTTOM-UP rows of BGR triples, each row
      * padded to a 4-byte boundary. */
    private def dibFrame(width: Int, height: Int, f: Int,
                         px: (Int, Int, Int, Int) => Int): Array[Byte] = {
      val rowSize = ((3 * width + 3) / 4) * 4
      val bb = ByteBuffer.allocate(rowSize * height)
      var row = height - 1 // DIB rows are stored bottom-up
      while (row >= 0) {
        var x = 0
        while (x < width) {
          bb.put((px(f, x, row, 2) & 0xFF).toByte) // B
          bb.put((px(f, x, row, 1) & 0xFF).toByte) // G
          bb.put((px(f, x, row, 0) & 0xFF).toByte) // R
          x += 1
        }
        bb.position(bb.position() + rowSize - 3 * width) // zero row padding
        row -= 1
      }
      bb.array()
    }

    /** FULL AVI: the header-only [[avi]] builder extended to a complete
      * RIFF structure carrying REAL uncompressed video frames — LIST hdrl
      * (avih, then LIST strl with a 'vids'/DIB strh and a BITMAPINFOHEADER
      * strf, biBitCount 24 / biCompression BI_RGB) followed by LIST movi
      * holding one '00db' chunk per frame. Frame data is the Windows DIB
      * convention the AVI spec inherits: BOTTOM-UP rows of BGR triples,
      * each row padded to a 4-byte boundary — pure integer layout, so an
      * oracle can recompute every decoded pixel arithmetically. avih stays
      * first in hdrl, so the fixed header offsets [[avi]] publishes
      * (dwTotalFrames at 48, dwWidth/dwHeight at 64/68) hold here too and
      * [[Multimodal.binaryMediaMeta]]'s expression walk reads both layouts.
      * `px(frame, x, y, channel)` returns the 0–255 value of channel
      * 0=R / 1=G / 2=B. */
    def aviFull(width: Int, height: Int, frames: Int,
                px: (Int, Int, Int, Int) => Int): Array[Byte] = {
      val frameBytes = ((3 * width + 3) / 4) * 4 * height
      aviFile(width, height, frames,
        Seq(aviVideoStream(width, height, frames, "DIB ", 0, frameBytes,
          frameBytes)),
        (0 until frames).map(f =>
          riffChunk("00db", dibFrame(width, height, f, px))))
    }

    /** The WAVE registry's seven standard MS ADPCM coefficient pairs. */
    val MsAdpcmCoefs: Array[(Int, Int)] = Array(
      (256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
      (460, -208), (392, -232))

    /** MS ADPCM WAV (fmt tag 2): fmt chunk with cbSize 4 + 4·nCoef
      * (wSamplesPerBlock, wNumCoef, then the coefficient pairs) over
      * raw block `body` bytes — each block is a per-channel header
      * (predictor index u8, iDelta i16, sample1 i16, sample2 i16,
      * channel-interleaved) then nibble bytes, HIGH nibble first,
      * channels alternating per nibble. */
    def wavMsAdpcm(channels: Int, sampleRate: Int, blockAlign: Int,
                   samplesPerBlock: Int, body: Array[Byte],
                   coefs: Array[(Int, Int)] = MsAdpcmCoefs): Array[Byte] =
      wavFile(2, channels, sampleRate,
        sampleRate * blockAlign / samplesPerBlock, blockAlign, 4,
        leBytes(6 + 4 * coefs.length) { bb =>
          bb.putShort((4 + 4 * coefs.length).toShort) // cbSize
          bb.putShort(samplesPerBlock.toShort).putShort(coefs.length.toShort)
          coefs.foreach { case (a, b) =>
            bb.putShort(a.toShort).putShort(b.toShort)
          }
        }, body)

    /** AVI with BOTH streams — DIB video plus a PCM16 soundtrack: the
      * [[aviFull]] structure extended with a second strl (an 'auds'
      * strh and a 16-byte WAVEFORMATEX strf) and a '01wb' movi chunk
      * carrying the interleaved little-endian samples (stream 1 = the
      * second strl, per the AVI chunk-naming rule). The fixture side of
      * the soundtrack surface: pair it with a WAV of the same samples
      * and the audio operators collide contour-for-contour. */
    def aviWithAudio(width: Int, height: Int, frames: Int,
                     px: (Int, Int, Int, Int) => Int,
                     audioChannels: Int, audioRate: Int,
                     pcm16: Array[Short]): Array[Byte] = {
      val frameBytes = ((3 * width + 3) / 4) * 4 * height
      val audioBytes = 2 * pcm16.length
      val audio = AviStream("auds", new Array[Byte](4), // no handler fourcc
        audioRate, pcm16.length / audioChannels, // dwLength in samples
        audioBytes, 2 * audioChannels, 0, 0, leBytes(16) { bb =>
          bb.putShort(1.toShort).putShort(audioChannels.toShort)
          bb.putInt(audioRate).putInt(audioRate * 2 * audioChannels)
          bb.putShort((2 * audioChannels).toShort).putShort(16.toShort)
        })
      // movi: frames then the soundtrack chunk
      aviFile(width, height, frames,
        Seq(aviVideoStream(width, height, frames, "DIB ", 0, frameBytes,
          frameBytes), audio),
        (0 until frames).map(f =>
          riffChunk("00db", dibFrame(width, height, f, px))) :+
          riffChunk("01wb", leBytes(audioBytes)(bb => pcm16.foreach(bb.putShort))))
    }

    /** MJPEG AVI: [[aviFull]]'s RIFF structure with the video stream
      * declared MJPG ('vids'/'MJPG' strh, biCompression 'MJPG' strf) and
      * LIST movi carrying one '00dc' chunk per frame, each a COMPLETE
      * baseline JPEG (word-aligned per RIFF — odd JPEG lengths get a pad
      * byte). The fixture side of the compressed-video surface: pair an
      * uncompressed [[aviFull]] with an MJPEG re-encode of the same
      * DC-only content and the two collide frame-for-frame. */
    def aviMjpeg(width: Int, height: Int,
                 frameJpegs: Array[Array[Byte]]): Array[Byte] =
      aviFile(width, height, frameJpegs.length,
        Seq(aviVideoStream(width, height, frameJpegs.length, "MJPG",
          0x47504A4D, // biCompression 'MJPG'
          0, // biSizeImage (per-frame, varies)
          frameJpegs.map(_.length).max)),
        frameJpegs.toSeq.map(riffChunk("00dc", _)))

    /** JPEG frame dimensions via a real SOF-marker walk (dimensions sit in
      * a variable-position Start-Of-Frame segment, not a fixed offset).
      * Walks the segment chain from offset 2: every non-standalone marker
      * carries a big-endian u16 length; SOFn (C0–CF minus DHT C4 / JPG C8 /
      * DAC CC) holds height at +5 and width at +7. The spec permits any
      * number of 0xFF FILL bytes before a marker id — a second 0xFF is
      * consumed one byte at a time, never misread as a marker with a length
      * field. Returns (0, 0) if no SOF precedes SOS/EOI.
      * [[Multimodal.binaryMediaMeta]] runs the same walk as a bounded
      * unrolled pure expression. */
    def jpegDims(p: Array[Byte]): (Int, Int) = {
      def u16(off: Int): Int = ((p(off) & 0xFF) << 8) | (p(off + 1) & 0xFF)
      var i = 2
      while (i + 3 < p.length && (p(i) & 0xFF) == 0xFF) {
        val m = p(i + 1) & 0xFF
        if (m == 0xFF) {
          i += 1 // fill byte: the next byte may still be the marker id
        } else if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          if (i + 8 < p.length) return (u16(i + 7), u16(i + 5))
          return (0, 0)
        } else if (m == 0xD9 || m == 0xDA) {
          return (0, 0) // EOI / SOS before any SOF
        } else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) {
          i += 2 // standalone marker, no length field
        } else {
          i += 2 + u16(i + 2)
        }
      }
      (0, 0)
    }

    /** Entropy-body start: the segment walk of [[jpegDims]] continued to the
      * SOS marker — returns the offset just past the SOS segment (where
      * entropy-coded data begins), or 0 if no SOS is found (caller treats
      * the whole payload as body). On the [[jpeg]] fixture this is exactly
      * [[JpegHeaderLen]]; on a real JFIF it is whatever the header chain
      * adds up to. */
    def jpegBodyStart(p: Array[Byte]): Int = {
      def u16(off: Int): Int = ((p(off) & 0xFF) << 8) | (p(off + 1) & 0xFF)
      var i = 2
      while (i + 3 < p.length && (p(i) & 0xFF) == 0xFF) {
        val m = p(i + 1) & 0xFF
        if (m == 0xFF) i += 1 // fill byte
        else if (m == 0xDA) { // SOS: header ends after its length-counted segment
          val end = i + 2 + u16(i + 2)
          return if (end <= p.length) end else 0
        } else if (m == 0xD9) return 0 // EOI before any SOS
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2 // standalone
        else i += 2 + u16(i + 2)
      }
      0
    }

    /** FULL-decode baseline-JPEG fixture builder: DC-only blocks with the
      * exact closed-form constants — delegates to
      * [[Jpeg.encodeGrayBlocks]] (the pixel-complete sibling of the
      * header-only [[jpeg]] below). */
    def jpegGray(width: Int, height: Int, grays: Array[Int],
                 color: Boolean = false, restartInterval: Int = 0): Array[Byte] =
      Jpeg.encodeGrayBlocks(width, height, grays, color, restartInterval)

    /** Minimal spec-correct baseline JPEG: SOI, JFIF APP0, one FILL byte
      * (legal padding — exercises the fill-byte path both parsers must
      * survive), SOF0 declaring the planted dimensions (8-bit, 1
      * component), SOS, entropy body, EOI. */
    def jpeg(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(JpegOverhead + body.length)
      bb.put(Array(0xFF, 0xD8).map(_.toByte)) // SOI
      bb.put(Array(0xFF, 0xE0).map(_.toByte)).putShort(16.toShort) // APP0
      bb.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      bb.put(1.toByte).put(1.toByte).put(0.toByte) // version 1.1, units 0
      bb.putShort(1.toShort).putShort(1.toShort) // aspect 1:1
      bb.put(0.toByte).put(0.toByte) // no thumbnail
      bb.put(0xFF.toByte) // fill byte before the next marker (spec-legal)
      bb.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(11.toShort) // SOF0
      bb.put(8.toByte).putShort(height.toShort).putShort(width.toShort)
      bb.put(1.toByte) // 1 component
      bb.put(1.toByte).put(0x11.toByte).put(0.toByte)
      bb.put(Array(0xFF, 0xDA).map(_.toByte)).putShort(8.toShort) // SOS
      bb.put(1.toByte).put(1.toByte).put(0.toByte)
      bb.put(0.toByte).put(0x3F.toByte).put(0.toByte)
      bb.put(body)
      bb.put(Array(0xFF, 0xD9).map(_.toByte)).array() // EOI
    }

    /** Magic-dispatch header parse: (format, width, height, frames, headerLen).
      * Frame count: AVI's dwTotalFrames; single-frame for the rest. Magic
      * checks require the FULL fixed header (a container truncated inside
      * its header is "unknown", never a negative body); WAV walks the RIFF
      * chunk chain to the `data` chunk, so non-canonical orders (LIST INFO
      * before fmt, extension chunks) yield the true body offset instead of
      * the canonical-44 guess. */
    def decodeHeader(p: Array[Byte]): (String, Int, Int, Int, Int) = {
      def be(off: Int, len: Int): Long =
        (0 until len).foldLeft(0L)((a, i) => (a << 8) | (p(off + i) & 0xFFL))
      def le(off: Int, len: Int): Long =
        (0 until len).foldLeft(0L)((a, i) => a | ((p(off + i) & 0xFFL) << (8 * i)))
      def ascii(off: Int, len: Int) = new String(p, off, len, "US-ASCII")
      if (p.length >= PngHeaderLen && be(0, 8) == 0x89504E470D0A1A0AL)
        ("png", be(16, 4).toInt, be(20, 4).toInt, 1, PngHeaderLen)
      else if (p.length >= WavHeaderLen && ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE") {
        // RIFF chunk walk to the data chunk (chunks are word-aligned).
        // Sizes are UNSIGNED u32 and the payload is untrusted: a size like
        // 0xFFFFFFF8 read as a signed Int would advance the cursor by zero
        // or negative (infinite loop / negative index). Keep the size a
        // Long, track the offset as a Long, and bail to the canonical-44
        // fallback unless the next offset strictly increases.
        var off = 12L
        var dataStart = -1L
        var ok = true
        while (ok && dataStart < 0 && off + 8 <= p.length) {
          val sz = le(off.toInt + 4, 4) // u32, always >= 0 as a Long
          if (ascii(off.toInt, 4) == "data") dataStart = off + 8
          else {
            val next = off + 8 + sz + (sz & 1L)
            if (next <= off) ok = false else off = next
          }
        }
        ("wav", 0, 0, 1, if (dataStart >= 0) dataStart.toInt else WavHeaderLen)
      } else if (p.length >= AviHeaderLen && ascii(0, 4) == "RIFF" && ascii(8, 4) == "AVI ")
        ("avi", le(64, 4).toInt, le(68, 4).toInt, le(48, 4).toInt, AviHeaderLen)
      else if (p.length >= 30 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "WEBP") {
        // WebP: dims come from whichever image/extended chunk leads —
        // VP8L packs 14-bit minus-one fields after the signature byte,
        // lossy VP8 carries them LE16 behind the 9D 01 2A start code,
        // VP8X stores the canvas as 24-bit minus-one fields
        ascii(12, 4) match {
          case "VP8L" if (p(20) & 0xFF) == 0x2F =>
            val v = le(21, 4)
            ("webp", ((v & 0x3FFF) + 1).toInt,
              (((v >> 14) & 0x3FFF) + 1).toInt, 1, 21)
          case "VP8 " if (p(23) & 0xFF) == 0x9D && (p(24) & 0xFF) == 0x01 &&
            (p(25) & 0xFF) == 0x2A =>
            ("webp", (le(26, 2) & 0x3FFF).toInt, (le(28, 2) & 0x3FFF).toInt,
              1, 20)
          case "VP8X" =>
            ("webp", (le(24, 3) + 1).toInt, (le(27, 3) + 1).toInt, 1, 20)
          case _ => ("webp", 0, 0, 1, 20)
        }
      }
      else if (p.length >= 4 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8 &&
        (p(2) & 0xFF) == 0xFF) {
        val (w, h) = jpegDims(p) // real SOF scan; entropy data stays "body"
        ("jpeg", w, h, 1, jpegBodyStart(p)) // headerLen = SOS-segment end
      } else ("unknown", 0, 0, 1, 0)
    }

  }

  /** One fixture row per document: `row(doc_id)` over the documents
    * table — the shape every per-id `synthetic*` builder shares. */
  private[multimodal] def perDocId(docs: DataFrame)
                                  (row: Long => MediaRow): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].map(row)
  }

  /** Deterministic media fixtures derived from the documents table — REAL
    * container bytes (image / WAV audio / AVI video by doc_id mod 3; the
    * image class splits PNG / baseline JPEG by doc_id parity, the JPEG with
    * a spec-legal fill byte before its SOF so both marker walks earn their
    * keep; text becomes the body; dimensions derive from n_chars so
    * oracles can recompute every parsed value). */
  def syntheticMediaFromDocs(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("n_chars")).as[(Long, String, Long)]
      .map { case (id, text, nChars) =>
        val width = (16 + (nChars % 64) * 4).toInt
        val height = (16 + ((nChars * 7) % 48) * 4).toInt
        val frames = (1 + (id % 5)).toInt
        val body = text.getBytes("UTF-8")
        (id % 3) match {
          case 0 if id % 2 == 1 =>
            MediaRow(id, "image", Containers.jpeg(width, height, body),
              width, height, 1)
          case 0 => MediaRow(id, "image", Containers.png(width, height, body),
            width, height, 1)
          case 1 => MediaRow(id, "audio",
            Containers.wav(1 + (id % 2).toInt, (8000 + (id % 5) * 8000).toInt, body),
            0, 0, 1)
          case _ => MediaRow(id, "video", Containers.avi(width, height, frames, body),
            width, height, frames)
        }
      }
  }

  private def beUint(bin: Column, pos: Int, len: Int): Column =
    conv(hex(substring(bin, pos, len)), 16, 10).cast("long")

  /** Little-endian unsigned int: per-byte hex re-ordered high-to-low. */
  private def leUint(bin: Column, pos: Int, len: Int): Column =
    conv(concat((0 until len).reverse.map(i =>
      hex(substring(bin, pos + i, 1))): _*), 16, 10).cast("long")

  /** The JPEG SOF walk of [[Containers.jpegDims]] as a BOUNDED pure
    * expression: a `(pos, w, h, done)` accumulator folded over
    * `sequence(1, maxSegments)` — ONE small lambda tree evaluated up to
    * `maxSegments` times per row (a syntactic unroll would nest the
    * position expression into every byte read of the next level:
    * exponential tree growth, measured as an analyzer OOM at depth 12).
    * Each step consumes a fill byte (+1), a standalone marker (+2) or a
    * length-carrying segment (+2+len); an SOFn marker latches (w, h) and
    * sets done; SOS/EOI/malformed latches nulls. Byte reads use dynamic
    * 1-based `Column.substr` offsets; reads past the payload end hex to ""
    * and fail the FF guard, so truncation degrades to null, never an
    * error. Real JFIF headers reach SOF within ~5 segments; 12 is
    * headroom. This is the one deliberate HOF lambda on a query path: it
    * runs only on jpeg-magic rows and replaces an exponential codegen
    * tree, the documented exception to the codegen-first rule. */
  private def jpegSof(p: Column, maxSegments: Int = 12): Column = {
    val nullLong = lit(null).cast("long")
    val init = struct(lit(3L).as("pos"), nullLong.as("w"), nullLong.as("h"),
      lit(false).as("done")) // 1-based: first marker follows the 2-byte SOI
    val folded = aggregate(
      sequence(lit(1), lit(maxSegments)), init,
      (acc, _) => {
        val pos = acc.getField("pos")
        val ff = hex(p.substr(pos, lit(1))) === "FF"
        val mk = hex(p.substr(pos + 1, lit(1)))
        val segLen = conv(hex(p.substr(pos + 2, lit(2))), 16, 10).cast("long")
        val h = conv(hex(p.substr(pos + 5, lit(2))), 16, 10).cast("long")
        val w = conv(hex(p.substr(pos + 7, lit(2))), 16, 10).cast("long")
        val next = when(mk === "FF", pos + 1) // fill byte before the marker
          .when(mk.isin("01", "D0", "D1", "D2", "D3", "D4", "D5", "D6", "D7"),
            pos + 2) // standalone, no length field
          .otherwise(pos + 2 + segLen)
        when(acc.getField("done"), acc)
          .when(!ff || mk.isin("D9", "DA"), // malformed / EOI / SOS first
            struct(pos.as("pos"), nullLong.as("w"), nullLong.as("h"),
              lit(true).as("done")))
          .when(mk.isin("C0", "C1", "C2", "C3", "C5", "C6", "C7", "C9", "CA",
            "CB", "CD", "CE", "CF"),
            struct(pos.as("pos"), w.as("w"), h.as("h"), lit(true).as("done")))
          .otherwise(struct(next.as("pos"), nullLong.as("w"), nullLong.as("h"),
            lit(false).as("done")))
      })
    struct(folded.getField("w").as("w"), folded.getField("h").as("h"))
  }

  /** TIFF ImageWidth/ImageLength (tags 256/257) as a BOUNDED pure
    * expression: the IFD-0 entry walk for BOTH byte orders (II and MM),
    * SHORT or LONG value cells, up to `maxEntries` entries folded the
    * [[jpegSof]] way (real TIFFs carry ~10–20 IFD-0 entries; beyond the
    * bound the dims stay null and the typed path still decodes). */
  private def tiffDimsExpr(p: Column, maxEntries: Int = 32): Column = {
    val isBe = hex(p.substr(lit(1), lit(2))) === "4D4D"
    def u16(pos: Column): Column =
      when(isBe, conv(hex(p.substr(pos, lit(2))), 16, 10))
        .otherwise(conv(concat(hex(p.substr(pos + 1, lit(1))),
          hex(p.substr(pos, lit(1)))), 16, 10)).cast("long")
    def u32(pos: Column): Column =
      when(isBe, conv(hex(p.substr(pos, lit(4))), 16, 10))
        .otherwise(conv(concat(hex(p.substr(pos + 3, lit(1))),
          hex(p.substr(pos + 2, lit(1))), hex(p.substr(pos + 1, lit(1))),
          hex(p.substr(pos, lit(1)))), 16, 10)).cast("long")
    val ifd = u32(lit(5)) + 1 // 0-based header offset -> 1-based substr pos
    val n = least(u16(ifd), lit(maxEntries.toLong))
    val init = struct(lit(null).cast("long").as("w"),
      lit(null).cast("long").as("h"))
    aggregate(
      sequence(lit(0L), lit(maxEntries - 1L)), init,
      (acc, k) => {
        val e = ifd + 2 + lit(12L) * k
        val tag = u16(e)
        // SHORT values sit left-justified in the 4-byte cell; LONG fills it
        val v = when(u16(e + 2) === 3, u16(e + 8)).otherwise(u32(e + 8))
        when(k >= n, acc).otherwise(struct(
          when(tag === 256, v).otherwise(acc.getField("w")).as("w"),
          when(tag === 257, v).otherwise(acc.getField("h")).as("h")))
      })
  }

  /** Container metadata from raw bytes with PURE Spark expressions — the
    * scale path (codegen projection; no typed iteration, no UDF). Detects
    * PNG / GIF / JPEG / WAV / AVI / WebP / BMP / TIFF / MP4 / MP3 / Ogg
    * by magic bytes and reads the published fixed-offset header fields:
    *  - png: IHDR width/height (big-endian u32 at offsets 16/20)
    *  - gif: logical-screen width/height (little-endian u16 at 6/8)
    *  - wav: channels (LE u16 at 22), sample rate (LE u32 at 24) — GUARDED
    *    on the canonical "fmt " tag at offset 12: RIFF permits other chunk
    *    orders (a LIST INFO before fmt), and fixed offsets into such a file
    *    would read garbage, so non-canonical WAVs yield nulls here (the
    *    typed path, [[Containers.decodeHeader]], walks the chunk chain)
    *  - avi: dwTotalFrames (LE u32 at 48), dwWidth/dwHeight (LE u32 at 64/68)
    *  - jpeg: detected by FF D8 FF; dimensions via [[jpegSof]] — the SOF
    *    marker walk as a bounded unrolled expression (null if no SOF inside
    *    the first 12 segments; real JFIF headers reach it in ~5).
    *  - bmp: width LE i32 at 18, height SIGNED LE i32 at 22 (negative =
    *    top-down; the magnitude is reported)
    *  - tiff: ImageWidth/ImageLength via [[tiffDimsExpr]] — the IFD-0
    *    entry walk as a bounded expression, both byte orders
    * Unknown magic → format "unknown", all fields null. Appends columns
    * (format, img_width, img_height, n_frames, sample_rate, channels). */
  def binaryMediaMeta(media: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    val isPng = hex(substring(p, 1, 8)) === "89504E470D0A1A0A"
    val isGif = hex(substring(p, 1, 6)).isin("474946383761", "474946383961")
    val isJpeg = hex(substring(p, 1, 3)) === "FFD8FF"
    val isRiff = hex(substring(p, 1, 4)) === "52494646"
    val isWav = isRiff && hex(substring(p, 9, 4)) === "57415645"
    val isAvi = isRiff && hex(substring(p, 9, 4)) === "41564920"
    val isWebp = isRiff && hex(substring(p, 9, 4)) === "57454250"
    // WebP sub-layouts by leading chunk fourcc: VP8L (lossless, 14-bit
    // minus-one dims packed after the 0x2F signature), VP8 (lossy,
    // LE16 dims behind the 9D 01 2A keyframe start code), VP8X
    // (extended: 24-bit minus-one canvas fields)
    val isVp8l = isWebp && hex(substring(p, 13, 4)) === "5650384C" &&
      hex(substring(p, 21, 1)) === "2F"
    val isVp8 = isWebp && hex(substring(p, 13, 4)) === "56503820" &&
      hex(substring(p, 24, 3)) === "9D012A"
    val isVp8x = isWebp && hex(substring(p, 13, 4)) === "56503858"
    val vp8lBits = leUint(p, 22, 4)
    val vp8lW = vp8lBits.bitwiseAND(lit(0x3FFFL)) + 1
    val vp8lH = shiftright(vp8lBits, 14).bitwiseAND(lit(0x3FFFL)) + 1
    val vp8W = leUint(p, 27, 2).bitwiseAND(lit(0x3FFFL))
    val vp8H = leUint(p, 29, 2).bitwiseAND(lit(0x3FFFL))
    val vp8xW = leUint(p, 25, 3) + 1
    val vp8xH = leUint(p, 28, 3) + 1
    val isBmp = hex(substring(p, 1, 2)) === "424D"
    val isTiff = hex(substring(p, 1, 4)).isin("49492A00", "4D4D002A")
    // crawl-majority containers: ISO BMFF (ftyp box at offset 4), MPEG
    // audio (ID3v2 tag, or a frame sync with non-reserved version/layer
    // bits), Ogg ("OggS"). Dims/duration need the ContainerMeta box/page
    // WALK (variable offsets); what IS fixed-offset parses here: the MP3
    // frame header when the sync leads the payload, and the Ogg
    // identification header when (as real encoders emit) it is the sole
    // packet of a single-segment first page.
    // same disjunction as ContainerMeta.isMp4 ("ftyp" | legacy
    // moov-first QuickTime) so the SQL scan and the typed walk classify
    // one payload the same way; HEIF still-image brands (heic/heix,
    // avif/avis) split out FIRST so routing telemetry does not call
    // still images "video containers" (ContainerMeta.heifFormat twin)
    val isMp4 = hex(substring(p, 5, 4)).isin("66747970", "6D6F6F76")
    val brandHex = hex(substring(p, 9, 4))
    val isHeic = isMp4 && brandHex.isin("68656963", "68656978")
    val isAvif = isMp4 && brandHex.isin("61766966", "61766973")
    val mp3B1 = leUint(p, 2, 1)
    val mp3Sync = leUint(p, 1, 1) === 255 &&
      mp3B1.bitwiseAND(lit(0xE0L)) === 0xE0L &&
      shiftright(mp3B1, 3).bitwiseAND(lit(3L)) =!= 1L &&
      shiftright(mp3B1, 1).bitwiseAND(lit(3L)) =!= 0L
    val isMp3 = hex(substring(p, 1, 3)) === "494433" || mp3Sync
    val isOgg = hex(substring(p, 1, 4)) === "4F676753"
    val mp3Ver = shiftright(mp3B1, 3).bitwiseAND(lit(3L))
    val mp3SrIdx = shiftright(leUint(p, 3, 1), 2).bitwiseAND(lit(3L))
    val mp3Sr = when(mp3Ver === 3L,
        when(mp3SrIdx === 0L, 44100).when(mp3SrIdx === 1L, 48000)
          .when(mp3SrIdx === 2L, 32000))
      .when(mp3Ver === 2L,
        when(mp3SrIdx === 0L, 22050).when(mp3SrIdx === 1L, 24000)
          .when(mp3SrIdx === 2L, 16000))
      .when(mp3Ver === 0L,
        when(mp3SrIdx === 0L, 11025).when(mp3SrIdx === 1L, 12000)
          .when(mp3SrIdx === 2L, 8000))
    val mp3Ch = when(shiftright(leUint(p, 4, 1), 6) === 3L, 1).otherwise(2)
    val oggOnePacket = isOgg && leUint(p, 27, 1) === 1L
    val isVorbisId = oggOnePacket &&
      hex(substring(p, 29, 7)) === "01766F72626973"
    val isOpusId = oggOnePacket &&
      hex(substring(p, 29, 8)) === "4F70757348656164"
    val wavFmtOk = hex(substring(p, 13, 4)) === "666D7420" // "fmt "
    // BMP height is SIGNED (negative = top-down rows): undo two's
    // complement, the display height is the magnitude either way
    val bmpHRaw = leUint(p, 23, 4)
    val bmpH = when(bmpHRaw > 2147483647L, lit(4294967296L) - bmpHRaw)
      .otherwise(bmpHRaw)
    media
      .withColumn("__sof", when(isJpeg, jpegSof(p)))
      .withColumn("__tiff", when(isTiff, tiffDimsExpr(p)))
      .withColumn("format",
        when(isPng, "png").when(isGif, "gif").when(isJpeg, "jpeg")
          .when(isWav, "wav").when(isAvi, "avi").when(isWebp, "webp")
          .when(isBmp, "bmp").when(isTiff, "tiff")
          .when(isHeic, "heic").when(isAvif, "avif").when(isMp4, "mp4")
          .when(isOgg, "ogg").when(isMp3, "mp3").otherwise("unknown"))
      .withColumn("img_width",
        when(isPng, beUint(p, 17, 4)).when(isGif, leUint(p, 7, 2))
          .when(isJpeg, col("__sof").getField("w"))
          .when(isAvi, leUint(p, 65, 4))
          .when(isVp8l, vp8lW).when(isVp8, vp8W).when(isVp8x, vp8xW)
          .when(isBmp, leUint(p, 19, 4))
          .when(isTiff, col("__tiff").getField("w")).cast("int"))
      .withColumn("img_height",
        when(isPng, beUint(p, 21, 4)).when(isGif, leUint(p, 9, 2))
          .when(isJpeg, col("__sof").getField("h"))
          .when(isAvi, leUint(p, 69, 4))
          .when(isVp8l, vp8lH).when(isVp8, vp8H).when(isVp8x, vp8xH)
          .when(isBmp, bmpH)
          .when(isTiff, col("__tiff").getField("h")).cast("int"))
      .withColumn("n_frames",
        when(isAvi, leUint(p, 49, 4))
          .when(isPng || isGif || isWav || isJpeg || isBmp || isTiff ||
            isVp8l || isVp8, lit(1L)).cast("long"))
      .withColumn("sample_rate",
        when(isWav && wavFmtOk, leUint(p, 25, 4))
          .when(mp3Sync, mp3Sr)
          .when(isVorbisId || isOpusId, leUint(p, 41, 4)).cast("int"))
      .withColumn("channels",
        when(isWav && wavFmtOk, leUint(p, 23, 2))
          .when(mp3Sync, mp3Ch)
          .when(isVorbisId, leUint(p, 40, 1))
          .when(isOpusId, leUint(p, 38, 1)).cast("int"))
      .drop("__sof", "__tiff")
  }

  /** Decode pass: batch-iterate each partition, parse REAL container
    * headers, emit one row per frame (AVI) or one row (PNG/WAV). Pure
    * partition-local map — no shuffle, scales with input splits. */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        val (fmt, w, h, frames, headerLen) = Containers.decodeHeader(m.payload)
        val n = m.payload.length
        // JPEG bodies end at the EOI trailer, not the payload end — without
        // this the typed path and mediaStats' expression path disagree by
        // exactly the 2 trailer bytes on jpeg rows only
        val trailer = if (fmt == "jpeg" && n >= 2 &&
          (m.payload(n - 2) & 0xFF) == 0xFF && (m.payload(n - 1) & 0xFF) == 0xD9) 2 else 0
        // clamp: a payload that ends exactly at (or inside) its header has
        // an empty body, never a negative one
        val body = math.max(0, n - headerLen - trailer)
        (0 until frames).iterator.map { f =>
          DecodedFrame(m.media_id, f, w, h, body.toLong)
        }
      }
    }
  }

  /** REAL PNG pixel decode — no media library: PNG's compression is zlib,
    * which IS `java.util.zip`. Walks the chunk chain (IHDR geometry,
    * concatenated IDAT), inflates, reverses all five scanline filters
    * (None/Sub/Up/Average/Paeth — RFC 2083 §6), and reduces each image to
    * its exact per-channel pixel sums (longs — no float accumulation, so
    * the census replays arithmetically for planted pixel formulas).
    * Supports the full 8-bit COLOR-TYPE matrix (gray, RGB, palette with
    * optional tRNS alpha, gray+alpha, RGBA) and ADAM7 interlacing (each
    * pass filtered independently, pixels scattered to the pass grid);
    * other bit depths fail fast by name. Pure partition-local map;
    * decompression memory is one image at a time per task. */
  def pngPixelStats(media: Dataset[MediaRow]): Dataset[PixelStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodeOnePng(m.media_id, m.payload)))
  }

  /** Full PNG decode to reconstructed RGBA bytes (row-major, 4 bytes per
    * pixel) — the chunk walk, IDAT inflate, and filter reversal shared by
    * the census ([[decodeOnePng]]), the perceptual hash
    * ([[MediaDedup.imageDHash]]), and the real [[resize]]. One image's
    * pixels live at a time per task — the inherent decode granularity. */
  private[graft] def decodePngRgba(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) = {
    def be(off: Int): Int =
      ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
        ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
    require(p.length >= 8 &&
      java.util.Arrays.equals(p.slice(0, 8),
        Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)),
      s"media $id: not a PNG signature")
    var off = 8
    var w = 0; var h = 0
    var colorType = -1
    var depth = 8
    var interlaced = false
    var palette: Array[Byte] = null
    var trns: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && off + 8 <= p.length) {
      val len = be(off)
      val typ = new String(p, off + 4, 4, "US-ASCII")
      val dataOff = off + 8
      // a chunk length >= 2^31 reads as a NEGATIVE Int: without this
      // guard it passes the truncation check and walks the offset
      // backwards — an infinite loop on hostile bytes (the ingest path
      // decodes untrusted crawl payloads; every exit must be named)
      require(len >= 0, s"media $id: negative $typ chunk length $len")
      // bounds in LONG: a positive length near 2^31 overflows the Int sum
      // negative, slips past the check, and crashes unnamed downstream
      require(dataOff.toLong + len + 4 <= p.length,
        s"media $id: truncated $typ chunk")
      typ match {
        case "IHDR" =>
          w = be(dataOff); h = be(dataOff + 4)
          depth = p(dataOff + 8) & 0xFF
          colorType = p(dataOff + 9) & 0xFF
          require(colorType == 0 || colorType == 2 || colorType == 3 ||
            colorType == 4 || colorType == 6,
            s"media $id: invalid PNG color type $colorType")
          // sub-byte depths exist only for single-sample pixels (gray,
          // palette) per spec; 16-bit reduces to its high byte (the
          // spec-sanctioned 8-bit view) for every non-palette type
          require(depth == 8 ||
            ((colorType == 0 || colorType == 3) &&
              (depth == 1 || depth == 2 || depth == 4)) ||
            (depth == 16 && colorType != 3),
            s"media $id: unsupported channel depth $depth for " +
              s"color type $colorType")
          require((p(dataOff + 10) & 0xFF) == 0 && (p(dataOff + 11) & 0xFF) == 0,
            s"media $id: nonstandard PNG compression/filter method")
          val il = p(dataOff + 12) & 0xFF
          require(il <= 1, s"media $id: invalid PNG interlace method $il")
          interlaced = il == 1
        case "PLTE" =>
          require(len > 0 && len % 3 == 0 && len <= 256 * 3,
            s"media $id: bad PLTE chunk length $len")
          palette = java.util.Arrays.copyOfRange(p, dataOff, dataOff + len)
        case "tRNS" =>
          require(colorType == 3,
            s"media $id: tRNS only supported for palette PNGs " +
              s"(color type $colorType)")
          require(len <= 256, s"media $id: bad tRNS chunk length $len")
          trns = java.util.Arrays.copyOfRange(p, dataOff, dataOff + len)
        case "IDAT" => idat.write(p, dataOff, len)
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped, per spec
      }
      off = dataOff + len + 4
    }
    require(w > 0 && h > 0, s"media $id: missing or empty IHDR")
    // hostile IHDR dims (up to 2^31) would overflow the buffer size into
    // an unnamed NegativeArraySizeException/OOM — bound the product
    require(w.toLong * h <= MaxDecodePixels,
      s"media $id: ${w}x$h exceeds the $MaxDecodePixels-pixel decode bound")
    require(colorType != 3 || palette != null,
      s"media $id: palette PNG without a PLTE chunk")
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case _ => 4
    }
    // ADAM7 pass geometry (one full pass when non-interlaced); empty
    // passes contribute no scanlines, per spec
    val passes: Seq[(Int, Int, Int, Int)] =
      if (!interlaced) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    val passDims = passes.map { case (x0, y0, dx, dy) =>
      (if (w > x0) (w - x0 + dx - 1) / dx else 0,
        if (h > y0) (h - y0 + dy - 1) / dy else 0)
    }
    // scanline byte width: sub-byte depths pack MSB-first (gray/palette
    // only, one channel), 8/16-bit are channels·depth/8 bytes per pixel
    def rowBytes(pw: Int): Int = (pw * channels * depth + 7) / 8
    val rawLen = passDims.map { case (pw, ph) =>
      if (pw > 0 && ph > 0) ph.toLong * (1 + rowBytes(pw).toLong) else 0L
    }.sum
    val raw = new Array[Byte](rawLen.toInt)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    var filled = 0
    while (filled < raw.length && !inflater.finished()) {
      // corrupt zlib bytes surface as a checked DataFormatException —
      // name it; and demand PROGRESS each round (n == 0 while unfinished,
      // e.g. a preset-dictionary demand, would spin forever on hostile
      // input under the old needsInput-only check)
      val n =
        try inflater.inflate(raw, filled, raw.length - filled)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"media $id: corrupt IDAT zlib stream (${e.getMessage})")
        }
      require(n > 0 || inflater.finished(),
        s"media $id: truncated IDAT stream")
      filled += n
    }
    inflater.end()
    require(filled == raw.length,
      s"media $id: IDAT decoded to $filled bytes, expected ${raw.length}")
    // unfilter each pass independently (filters run within a pass) and
    // scatter its pixels to the RGBA output at the pass's grid positions
    val out = new Array[Byte](4 * w * h)
    var rawOff = 0
    passes.zip(passDims).foreach { case ((x0, y0, dx, dy), (pw, ph)) =>
      if (pw > 0 && ph > 0) {
        val stride = rowBytes(pw)
        // filter pixel width in BYTES: max(1, channels·depth/8) per spec
        val bpp = math.max(1, channels * depth / 8)
        val prior = new Array[Int](stride)
        val cur = new Array[Int](stride)
        var j = 0
        while (j < ph) {
          val base = rawOff + j * (1 + stride)
          val f = raw(base) & 0xFF
          require(f <= 4, s"media $id: invalid scanline filter $f")
          var x = 0
          while (x < stride) {
            val rawV = raw(base + 1 + x) & 0xFF
            val a = if (x >= bpp) cur(x - bpp) else 0
            val b = if (j > 0) prior(x) else 0
            val c = if (j > 0 && x >= bpp) prior(x - bpp) else 0
            val pred = f match {
              case 0 => 0
              case 1 => a
              case 2 => b
              case 3 => (a + b) / 2
              case 4 => Containers.paeth(a, b, c)
            }
            cur(x) = (rawV + pred) & 0xFF
            x += 1
          }
          // channel accessor across depths: 8-bit direct, 16-bit the
          // HIGH byte (big-endian per spec — the sanctioned reduction),
          // sub-byte MSB-first bit unpacking scaled by 255/(2^d − 1)
          def chv(px: Int, ch: Int): Int =
            if (depth == 8) cur(px * channels + ch)
            else if (depth == 16) cur(2 * (px * channels + ch))
            else ((cur((px * depth) / 8) >>
              (8 - depth - (px * depth) % 8)) & ((1 << depth) - 1)) *
              (255 / ((1 << depth) - 1))
          var px = 0
          while (px < pw) {
            val o = 4 * ((y0 + j * dy) * w + (x0 + px * dx))
            colorType match {
              case 0 =>
                val g = chv(px, 0).toByte
                out(o) = g; out(o + 1) = g; out(o + 2) = g
                out(o + 3) = 255.toByte
              case 2 =>
                out(o) = chv(px, 0).toByte
                out(o + 1) = chv(px, 1).toByte
                out(o + 2) = chv(px, 2).toByte
                out(o + 3) = 255.toByte
              case 3 =>
                val idx =
                  if (depth == 8) cur(px)
                  else (cur((px * depth) / 8) >>
                    (8 - depth - (px * depth) % 8)) & ((1 << depth) - 1)
                require(3 * idx + 2 < palette.length,
                  s"media $id: pixel index $idx outside the " +
                    s"${palette.length / 3}-entry palette")
                out(o) = palette(3 * idx)
                out(o + 1) = palette(3 * idx + 1)
                out(o + 2) = palette(3 * idx + 2)
                out(o + 3) =
                  if (trns != null && idx < trns.length) trns(idx)
                  else 255.toByte
              case 4 =>
                val g = chv(px, 0).toByte
                out(o) = g; out(o + 1) = g; out(o + 2) = g
                out(o + 3) = chv(px, 1).toByte
              case _ =>
                out(o) = chv(px, 0).toByte
                out(o + 1) = chv(px, 1).toByte
                out(o + 2) = chv(px, 2).toByte
                out(o + 3) = chv(px, 3).toByte
            }
            px += 1
          }
          System.arraycopy(cur, 0, prior, 0, stride)
          j += 1
        }
        rawOff += ph * (1 + stride)
      }
    }
    (w, h, out)
  }

  /** Format-blind STILL-image RGBA dispatch — every raster format that
    * decodes to one (w, h, RGBA) frame, keyed by magic: PNG (zlib +
    * filters), BMP (padded bottom-up BGR rows), TIFF (IFD + strips),
    * WebP VP8L (prefix codes + LZ77 + transforms). JPEG and GIF keep
    * their dedicated walks (EXIF orientation / palette indices) at the
    * consumer. One seam = new formats join dHash dedup, crop search,
    * quality gates, descriptors, and the boilerplate census with zero
    * operator changes. */
  private[graft] def decodeStillRgba(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) =
    if (Raster.isBmp(p)) Raster.decodeBmpRgba(id, p)
    else if (Raster.isTiff(p)) Raster.decodeTiffRgba(id, p)
    else if (Webp.isWebp(p)) {
      // decode AS DISPLAYED (the q263 JPEG lesson): WebP carries EXIF in
      // its own chunk, and position-sensitive consumers must see the
      // pixels a viewer does; identity for untagged payloads, so every
      // existing WebP row is byte-identical
      val (w, h, rgba) = Webp.decodeWebpRgba(id, p)
      Webp.orientRgba(w, h, rgba, Webp.exifOrientation(p))
    } else decodePngRgba(id, p)

  private[graft] def decodeOnePng(id: Long, p: Array[Byte]): PixelStats = {
    val (w, h, px) = decodePngRgba(id, p)
    var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
    var i = 0
    while (i < px.length) {
      sr += px(i) & 0xFF; sg += px(i + 1) & 0xFF
      sb += px(i + 2) & 0xFF; sa += px(i + 3) & 0xFF
      i += 4
    }
    PixelStats(id, w, h, w.toLong * h, sr, sg, sb, sa)
  }

  /** REAL WAV sample decode — PCM needs no codec at all: walk the RIFF
    * chunk chain (`fmt ` for channels/rate/bit depth, `data` for the
    * samples), read little-endian int16 samples, and reduce to the exact
    * census (count, |sum|, peak) in long arithmetic. Fails fast on
    * non-PCM or non-16-bit clips with the offending values named. */
  /** IMA/DVI ADPCM quantizer step table (89 entries) and index
    * adaptation table — the published constants every IMA decoder
    * shares (IMA ADPCM reference algorithm / dvi_adpcm). */
  private val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val ImaIndexTable: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** MS ADPCM delta-adaptation table (one entry per 4-bit code) — the
    * published constants from the WAVE format registry. */
  private val MsAdaptTable: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  def wavSampleStats(media: Dataset[MediaRow]): Dataset[SampleStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodeOneWav(m.media_id, m.payload)))
  }

  /** Shared PCM16 RIFF core: walk the chunk chain and return (channels,
    * sample_rate, every data-chunk int16 sample concatenated in stream
    * order — odd trailing bytes ignored per chunk). The single WAV decode
    * behind the census ([[decodeOneWav]]) and the audio
    * fingerprint/descriptor ([[MediaDedup.audioFingerprint]]), so the
    * chunk-walk subtleties (word alignment, multiple data chunks,
    * non-canonical chunk orders) live in exactly one place. */
  private[graft] def pcm16Samples(id: Long, p: Array[Byte]): (Int, Int, Array[Short]) = {
    // FORMAT-BLIND audio sample decode, dispatched on magic (the
    // foreachDecodedPixel pattern): FLAC payloads decode through the
    // real Rice/fixed-predictor walk ([[Flac.decode]] — lossless, so a
    // FLAC re-encode of a WAV clip yields the SAME samples and every
    // downstream operator — contour dedup, quality, containment,
    // descriptors — is cross-format for free); anything else takes the
    // RIFF/WAVE chunk walk below.
    if (p.length >= 4 && p(0) == 'f' && p(1) == 'L' && p(2) == 'a' && p(3) == 'C') {
      val (channels, rate, samples) = Flac.decode(id, p)
      val sh = new Array[Short](samples.length)
      var i = 0
      while (i < samples.length) { sh(i) = samples(i).toShort; i += 1 }
      return (channels, rate, sh)
    }
    if (p.length >= 4 && p(0) == '.' && p(1) == 's' && p(2) == 'n' &&
      p(3) == 'd') return decodeAu(id, p)
    if (p.length >= 12 && p(0) == 'F' && p(1) == 'O' && p(2) == 'R' &&
      p(3) == 'M' && p(8) == 'A' && p(9) == 'I' && p(10) == 'F' &&
      p(11) == 'F') return decodeAiff(id, p)
    // an AVI on the AUDIO surface means its soundtrack: extract the
    // 'auds' stream's PCM through the RIFF walk
    if (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
      p(3) == 'F' && p(8) == 'A' && p(9) == 'V' && p(10) == 'I')
      return decodeAviAudio(id, p)
    def le16(off: Int): Int = (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    def tag(off: Int): String = new String(p, off, 4, "US-ASCII")
    require(p.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"media $id: not a RIFF/WAVE container")
    var off = 12
    var channels = 0; var rate = 0; var bits = 0
    var fmtTag = 1
    var blockAlign = 0; var samplesPerBlock = 0 // ADPCM geometry
    var msCoef: Array[(Int, Int)] = null // MS ADPCM coefficient pairs
    var sawData = false
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    while (off + 8 <= p.length) {
      val t = tag(off); val len = le32(off + 4); val dataOff = off + 8
      // see decodePngRgba: a >= 2^31 length reads negative and would walk
      // the offset backwards forever on hostile bytes
      require(len >= 0, s"media $id: negative $t chunk length $len")
      // Long bound: see decodePngRgba — an Int sum overflows near 2^31
      require(dataOff.toLong + len <= p.length, s"media $id: truncated $t chunk")
      t match {
        case "fmt " =>
          // WAVE_FORMAT_EXTENSIBLE (0xFFFE) wraps the REAL format tag in
          // the first two bytes of the 16-byte SubFormat GUID at fmt
          // offset 24 (the rest is the fixed ksmedia.h tail, verified by
          // name — a nonstandard GUID means an unknown codec, not PCM)
          var tagV = le16(dataOff)
          if (tagV == 0xFFFE) {
            require(len >= 40,
              s"media $id: extensible fmt chunk too short ($len bytes)")
            val guidTail = Array(0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00,
              0xAA, 0x00, 0x38, 0x9B, 0x71)
            var gi = 0
            while (gi < 12) {
              require((p(dataOff + 28 + gi) & 0xFF) == guidTail(gi),
                s"media $id: nonstandard extensible SubFormat GUID")
              gi += 1
            }
            tagV = le16(dataOff + 24)
          }
          require(tagV == 1 || tagV == 2 || tagV == 3 || tagV == 6 ||
            tagV == 7 || tagV == 0x11,
            s"media $id: only PCM (1), MS ADPCM (2), IEEE float (3), " +
              s"A-law (6), u-law (7) or IMA ADPCM (17) WAV supported, " +
              s"got format $tagV")
          fmtTag = tagV
          channels = le16(dataOff + 2); rate = le32(dataOff + 4)
          bits = le16(dataOff + 14)
          tagV match {
            case 3 => require(bits == 32,
              s"media $id: only 32-bit IEEE float supported, got $bits")
            case 6 | 7 => require(bits == 8,
              s"media $id: G.711 samples are 8-bit, got $bits")
            case 0x11 =>
              require(bits == 4,
                s"media $id: IMA ADPCM samples are 4-bit, got $bits")
              require(channels == 1 || channels == 2,
                s"media $id: IMA ADPCM supports 1 or 2 channels, " +
                  s"got $channels")
              blockAlign = le16(dataOff + 12)
              require(len >= 20, s"media $id: IMA ADPCM fmt chunk too short")
              samplesPerBlock = le16(dataOff + 18)
              // the block layout fixes samples/block: the header sample
              // plus two nibbles per data byte, split across channels
              val expect = 1 + (blockAlign - 4 * channels) * 2 / channels
              require(blockAlign > 4 * channels &&
                (blockAlign - 4 * channels) % (4 * channels) == 0 &&
                samplesPerBlock == expect,
                s"media $id: IMA ADPCM geometry mismatch (block align " +
                  s"$blockAlign declares $samplesPerBlock samples/block, " +
                  s"layout yields $expect)")
            case 2 =>
              require(bits == 4,
                s"media $id: MS ADPCM samples are 4-bit, got $bits")
              require(channels == 1 || channels == 2,
                s"media $id: MS ADPCM supports 1 or 2 channels, " +
                  s"got $channels")
              blockAlign = le16(dataOff + 12)
              require(len >= 22, s"media $id: MS ADPCM fmt chunk too short")
              samplesPerBlock = le16(dataOff + 18)
              val nCoef = le16(dataOff + 20)
              require(nCoef >= 1 && nCoef <= 64 &&
                len >= 22 + 4 * nCoef,
                s"media $id: implausible MS ADPCM coefficient count $nCoef")
              msCoef = Array.tabulate(nCoef) { k =>
                (le16(dataOff + 22 + 4 * k).toShort.toInt,
                  le16(dataOff + 24 + 4 * k).toShort.toInt)
              }
              // two header samples plus two nibbles per data byte
              val expectMs = 2 + (blockAlign - 7 * channels) * 2 / channels
              require(blockAlign > 7 * channels &&
                samplesPerBlock == expectMs,
                s"media $id: MS ADPCM geometry mismatch (block align " +
                  s"$blockAlign declares $samplesPerBlock samples/block, " +
                  s"layout yields $expectMs)")
            case _ =>
              require(bits == 8 || bits == 16 || bits == 24 || bits == 32,
                s"media $id: only 8/16/24/32-bit PCM supported, got $bits")
          }
        case "data" =>
          sawData = true
          spans += ((dataOff, len)) // parsed after the walk: depth known
        case _ => ()
      }
      off = dataOff + len + (len & 1) // RIFF chunks are word-aligned
    }
    require(channels > 0 && sawData,
      s"media $id: missing fmt or data chunk")
    // decode every data chunk at the declared depth, normalized to int16
    // (the documented DETERMINISTIC conversions: unsigned 8-bit maps
    // (u − 128) · 256, 24/32-bit keep their top 16 bits via arithmetic
    // shift, IEEE float scales by 32768 with round-half-even and clamps
    // to the int16 range — NaN maps to 0 by definition so hostile
    // payloads stay deterministic — and the G.711 companded bytes expand
    // through the published segment/mantissa closed forms); trailing
    // bytes that do not fill a sample are ignored per chunk, as before
    val samples = new scala.collection.mutable.ArrayBuilder.ofShort
    spans.foreach { case (dataOff, len) =>
      var i = dataOff
      if (fmtTag == 2) { // MS ADPCM: predicted blocks over coef pairs
        var blockOff = dataOff
        while (blockOff + 7 * channels <= dataOff + len) {
          val blockEnd = math.min(blockOff + blockAlign, dataOff + len)
          val c1 = new Array[Int](channels); val c2 = new Array[Int](channels)
          val delta = new Array[Int](channels)
          val s1 = new Array[Int](channels); val s2 = new Array[Int](channels)
          val chBuf = Array.ofDim[Short](channels, samplesPerBlock)
          var c = 0
          while (c < channels) {
            val predIdx = p(blockOff + c) & 0xFF
            require(predIdx < msCoef.length,
              s"media $id: MS ADPCM predictor index $predIdx beyond the " +
                s"${msCoef.length} declared coefficient pairs")
            c1(c) = msCoef(predIdx)._1; c2(c) = msCoef(predIdx)._2
            val db = blockOff + channels + 2 * c
            delta(c) = ((p(db) & 0xFF) | (p(db + 1).toInt << 8)).toShort.toInt
            val s1b = blockOff + 3 * channels + 2 * c
            s1(c) = ((p(s1b) & 0xFF) | (p(s1b + 1).toInt << 8)).toShort.toInt
            val s2b = blockOff + 5 * channels + 2 * c
            s2(c) = ((p(s2b) & 0xFF) | (p(s2b + 1).toInt << 8)).toShort.toInt
            // the header carries the two OLDEST samples: sample2 plays
            // first, sample1 second
            chBuf(c)(0) = s2(c).toShort
            chBuf(c)(1) = s1(c).toShort
            c += 1
          }
          val fill = Array.fill(channels)(2)
          var g = blockOff + 7 * channels
          var nIdx = 0 // nibble counter: channels alternate per nibble
          while (g < blockEnd) {
            val byte = p(g) & 0xFF
            var half = 0
            while (half < 2) {
              val n = if (half == 0) byte >> 4 else byte & 0xF // HIGH first
              val c2i = nIdx % channels
              if (fill(c2i) < samplesPerBlock) {
                // prediction >> 8: the floor convention (libsndfile's);
                // truncating implementations differ only on negative
                // sums, which the exact-quantizing fixtures never reach
                val pred = (s1(c2i) * c1(c2i) + s2(c2i) * c2(c2i)) >> 8
                val signed = if (n >= 8) n - 16 else n
                val sample = math.max(-32768,
                  math.min(32767, pred + signed * delta(c2i)))
                s2(c2i) = s1(c2i); s1(c2i) = sample
                delta(c2i) = math.max(16,
                  (MsAdaptTable(n) * delta(c2i)) >> 8)
                chBuf(c2i)(fill(c2i)) = sample.toShort
                fill(c2i) += 1
              }
              nIdx += 1
              half += 1
            }
            g += 1
          }
          val produced = fill.min
          var s = 0
          while (s < produced) {
            var cc = 0
            while (cc < channels) { samples += chBuf(cc)(s); cc += 1 }
            s += 1
          }
          blockOff += blockAlign
        }
      } else if (fmtTag == 0x11) { // IMA/DVI ADPCM: block-structured nibbles
        var blockOff = dataOff
        while (blockOff + 4 * channels <= dataOff + len) {
          val blockEnd = math.min(blockOff + blockAlign, dataOff + len)
          val pred = new Array[Int](channels)
          val index = new Array[Int](channels)
          val chBuf = Array.ofDim[Short](channels, samplesPerBlock)
          var c = 0
          while (c < channels) {
            val hb = blockOff + 4 * c
            pred(c) = ((p(hb) & 0xFF) | (p(hb + 1).toInt << 8)).toShort.toInt
            index(c) = p(hb + 2) & 0xFF
            require(index(c) <= 88,
              s"media $id: IMA ADPCM step index ${index(c)} out of range")
            chBuf(c)(0) = pred(c).toShort
            c += 1
          }
          // data: 4-byte nibble groups round-robin per channel, low
          // nibble first within each byte
          val fill = Array.fill(channels)(1)
          var g = blockOff + 4 * channels
          while (g < blockEnd) {
            val c2 = ((g - blockOff - 4 * channels) / 4) % channels
            var b = 0
            while (b < 4 && g + b < blockEnd) {
              val byte = p(g + b) & 0xFF
              var half = 0
              while (half < 2) {
                val n = if (half == 0) byte & 0xF else byte >> 4
                if (fill(c2) < samplesPerBlock) {
                  val step = ImaStepTable(index(c2))
                  var diff = step >> 3
                  if ((n & 1) != 0) diff += step >> 2
                  if ((n & 2) != 0) diff += step >> 1
                  if ((n & 4) != 0) diff += step
                  pred(c2) = math.max(-32768,
                    math.min(32767,
                      pred(c2) + (if ((n & 8) != 0) -diff else diff)))
                  index(c2) = math.max(0,
                    math.min(88, index(c2) + ImaIndexTable(n & 7)))
                  chBuf(c2)(fill(c2)) = pred(c2).toShort
                  fill(c2) += 1
                }
                half += 1
              }
              b += 1
            }
            g += 4
          }
          // interleave the channels in sample order; a hostile short
          // block emits only the samples its bytes produced
          val produced = fill.min
          var s = 0
          while (s < produced) {
            var cc = 0
            while (cc < channels) { samples += chBuf(cc)(s); cc += 1 }
            s += 1
          }
          blockOff += blockAlign
        }
      } else if (fmtTag == 7) { // G.711 u-law: invert, then segment expansion
        while (i < dataOff + len) {
          samples += ulawExpand(p(i))
          i += 1
        }
      } else if (fmtTag == 6) { // G.711 A-law: XOR 0x55, segmented
        while (i < dataOff + len) {
          val a = (p(i) & 0xFF) ^ 0x55
          val seg = (a >> 4) & 7
          val mag =
            if (seg == 0) ((a & 0xF) << 4) + 8
            else (((a & 0xF) << 4) + 0x108) << (seg - 1)
          // MSB SET means positive in A-law, the inverse of u-law
          samples += (if ((a & 0x80) != 0) mag else -mag).toShort
          i += 1
        }
      } else if (fmtTag == 3) {
        while (i + 3 < dataOff + len) {
          val v = java.lang.Float.intBitsToFloat(le32(i))
          val s =
            if (java.lang.Float.isNaN(v)) 0
            else math.max(-32768L, math.min(32767L,
              math.rint(v.toDouble * 32768.0).toLong)).toInt
          samples += s.toShort
          i += 4
        }
      } else bits match {
        case 16 =>
          while (i + 1 < dataOff + len) { samples += le16(i).toShort; i += 2 }
        case 8 =>
          while (i < dataOff + len) {
            samples += (((p(i) & 0xFF) - 128) << 8).toShort
            i += 1
          }
        case 24 =>
          while (i + 2 < dataOff + len) {
            val v = (p(i) & 0xFF) | ((p(i + 1) & 0xFF) << 8) |
              (p(i + 2).toInt << 16)
            samples += (v >> 8).toShort
            i += 3
          }
        case _ => // 32-bit signed little-endian int PCM
          while (i + 3 < dataOff + len) {
            samples += (le32(i) >> 16).toShort
            i += 4
          }
      }
    }
    (channels, rate, samples.result())
  }

  /** G.711 u-law segment expansion (shared by the WAV fmt-7 branch and
    * the AU container, whose default encoding it is). */
  private def ulawExpand(b: Byte): Short = {
    val u = ~b & 0xFF
    val mag = (((u & 0xF) << 3) + 0x84) << ((u >> 4) & 7)
    (if ((u & 0x80) != 0) 0x84 - mag else mag - 0x84).toShort
  }

  /** Sun AU (.snd) decode — the oldest crawl audio container, a pure
    * big-endian fixed header: magic, data offset, data size (may be
    * 0xFFFFFFFF = "to EOF" per spec), encoding (1 u-law / 2 linear
    * PCM8 SIGNED — unlike WAV's unsigned 8-bit — / 3 linear PCM16 BE),
    * sample rate, channels. Everything else fails by name. */
  private[graft] def decodeAu(id: Long, p: Array[Byte]): (Int, Int, Array[Short]) = {
    def be32(off: Int): Int = {
      require(off + 4 <= p.length, s"media $id: truncated AU header")
      ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
        ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
    }
    val dataOff = be32(4)
    val dataSize = be32(8)
    val enc = be32(12)
    val rate = be32(16)
    val channels = be32(20)
    require(dataOff >= 24 && dataOff <= p.length,
      s"media $id: AU data offset $dataOff out of bounds")
    require(channels >= 1 && channels <= 64 && rate > 0,
      s"media $id: implausible AU header (channels $channels, rate $rate)")
    require(enc == 1 || enc == 2 || enc == 3,
      s"media $id: only AU encodings 1 (u-law), 2 (PCM8) and 3 (PCM16) " +
        s"supported, got $enc")
    // -1 means "data runs to EOF", per the original Sun header
    val end =
      if (dataSize == -1) p.length
      else {
        require(dataSize >= 0 && dataOff.toLong + dataSize <= p.length,
          s"media $id: truncated AU data ($dataSize bytes at $dataOff)")
        dataOff + dataSize
      }
    val samples = new scala.collection.mutable.ArrayBuilder.ofShort
    var i = dataOff
    enc match {
      case 1 => while (i < end) { samples += ulawExpand(p(i)); i += 1 }
      case 2 => // SIGNED 8-bit linear, scaled to int16
        while (i < end) { samples += (p(i).toInt << 8).toShort; i += 1 }
      case _ => // 16-bit BIG-endian linear
        while (i + 1 < end) {
          samples += (((p(i) & 0xFF) << 8) | (p(i + 1) & 0xFF)).toShort
          i += 2
        }
    }
    (channels, rate, samples.result())
  }

  /** AIFF decode — the IFF-structured Apple-era container: FORM/AIFF,
    * COMM (channels, frame count, sample size, and the sample rate as
    * an 80-bit IEEE extended float — parsed exactly for the integer
    * rates real files carry), SSND (offset/blockSize preamble, then
    * interleaved BIG-endian signed PCM). 8- and 16-bit samples; IFF
    * chunks are word-aligned like RIFF's. */
  private[graft] def decodeAiff(id: Long, p: Array[Byte]): (Int, Int, Array[Short]) = {
    def be16(off: Int): Int = ((p(off) & 0xFF) << 8) | (p(off + 1) & 0xFF)
    def be32(off: Int): Int = (be16(off) << 16) | be16(off + 2)
    var off = 12
    var channels = 0; var bits = 0; var rate = 0
    var frames = -1
    var sawData = false
    val samples = new scala.collection.mutable.ArrayBuilder.ofShort
    while (off + 8 <= p.length) {
      val typ = new String(p, off, 4, "US-ASCII")
      val len = be32(off + 4)
      val dataOff = off + 8
      require(len >= 0, s"media $id: negative AIFF $typ chunk length $len")
      require(dataOff.toLong + len <= p.length,
        s"media $id: truncated AIFF $typ chunk")
      typ match {
        case "COMM" =>
          require(len >= 18, s"media $id: short AIFF COMM chunk ($len)")
          channels = be16(dataOff)
          frames = be32(dataOff + 2)
          bits = be16(dataOff + 6)
          require(bits == 8 || bits == 16,
            s"media $id: only 8/16-bit AIFF samples supported, got $bits")
          // 80-bit IEEE extended: sign(1) exponent(15) mantissa(64 with
          // an EXPLICIT integer bit); value = mant · 2^(exp − 16383 − 63)
          val exp = be16(dataOff + 8) & 0x7FFF
          var mant = 0L
          var k = 0
          while (k < 8) {
            mant = (mant << 8) | (p(dataOff + 10 + k) & 0xFF)
            k += 1
          }
          val shift = exp - 16383 - 63
          require(mant != 0 && shift >= -63 && shift <= 30,
            s"media $id: implausible AIFF sample rate " +
              s"(exp $exp, mantissa $mant)")
          // fractional rates (the NTSC 44055.94… family) fail by name
          // rather than silently truncating to an integer: every
          // mantissa bit below the shift point must be zero
          require(shift >= 0 || (mant & ((1L << -shift) - 1)) == 0,
            s"media $id: fractional AIFF sample rate not supported " +
              s"(exp $exp, mantissa $mant)")
          rate = (if (shift >= 0) mant << shift else mant >>> -shift).toInt
          require(rate > 0, s"media $id: AIFF sample rate parsed to $rate")
        case "SSND" =>
          require(channels > 0, s"media $id: AIFF SSND before COMM")
          require(len >= 8, s"media $id: short AIFF SSND chunk ($len)")
          val pad = be32(dataOff) // offset field: bytes to skip
          require(pad >= 0 && pad <= len - 8,
            s"media $id: AIFF SSND offset $pad out of bounds")
          sawData = true
          var i = dataOff + 8 + pad
          val end = dataOff + len
          if (bits == 16)
            while (i + 1 < end) { samples += be16(i).toShort; i += 2 }
          else // 8-bit AIFF is SIGNED, unlike WAV
            while (i < end) { samples += (p(i).toInt << 8).toShort; i += 1 }
        case _ => ()
      }
      off = dataOff + len + (len & 1) // IFF chunks are word-aligned
    }
    require(channels > 0 && sawData,
      s"media $id: missing AIFF COMM or SSND chunk")
    (channels, rate, samples.result())
  }

  private[graft] def decodeOneWav(id: Long, p: Array[Byte]): SampleStats = {
    val (channels, rate, samples) = pcm16Samples(id, p)
    var sumAbs = 0L; var peak = 0L
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i).toInt).toLong
      sumAbs += a
      if (a > peak) peak = a
      i += 1
    }
    SampleStats(id, channels, rate, samples.length.toLong, sumAbs, peak)
  }

  /** REAL AVI frame decode — no media library needed: AVI's uncompressed
    * ('DIB ') video frames are pure integer byte layout, exactly like the
    * container walk itself, and its dominant COMPRESSED codec (MJPG —
    * Motion JPEG, one baseline JPEG per frame) is a composition with
    * [[Jpeg.decodeRgb]]. Walks the RIFF chunk chain (word-aligned, LIST
    * recursion into hdrl/strl/movi), reads avih geometry, validates the
    * strf BITMAPINFOHEADER (24-bit BI_RGB, or MJPG — anything else fails
    * fast with a named cause), and decodes each movi frame chunk: '00db'
    * from the DIB convention (BOTTOM-UP rows of BGR triples, rows padded
    * to 4 bytes) into row-major top-down RGB, '00dc' through the baseline
    * JPEG decoder with frame dims verified against avih. Returns (width,
    * height, one RGB byte array per frame) — ALL frames of one payload
    * are resident at once (the consumers need the whole clip), so the
    * TOTAL decoded volume is bounded by name before each frame decodes:
    * a few-KB DC-only MJPG chunk at large declared dims would otherwise
    * amplify to gigabytes and die as an unnamed OOM (the same bound the
    * GIF animation walk applies per presented frame). */
  private[graft] def decodeAviRgb(id: Long, p: Array[Byte]): (Int, Int, Array[Array[Byte]]) = {
    def le16(off: Int): Int = (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    def tag(off: Int): String = new String(p, off, 4, "US-ASCII")
    require(p.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      s"media $id: not a RIFF/AVI container")
    var w = 0; var h = 0; var declared = -1
    var sawStrf = false
    var isMjpeg = false
    var curFcc: String = null // the current strl's strh fccType
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    // LISTs nest but their children are contiguous chunks, so one linear
    // walk that DESCENDS into the lists it knows (hdrl/strl/movi) and
    // skips the rest whole covers the shallow AVI tree
    var off = 12
    while (off + 8 <= p.length) {
      val t = tag(off); val len = le32(off + 4); val dataOff = off + 8
      // see decodePngRgba: a >= 2^31 length reads negative and would walk
      // the offset backwards forever on hostile bytes
      require(len >= 0, s"media $id: negative $t chunk length $len")
      // Long bound: see decodePngRgba — an Int sum overflows near 2^31
      require(dataOff.toLong + len <= p.length, s"media $id: truncated $t chunk")
      if (t == "LIST") {
        require(len >= 4, s"media $id: LIST chunk too short for a type ($len)")
        val ltype = tag(dataOff)
        if (ltype == "hdrl" || ltype == "strl" || ltype == "movi")
          off = dataOff + 4 // descend: children start right after the type
        else off = dataOff + len + (len & 1)
      } else {
        t match {
          case "avih" =>
            require(len >= 56, s"media $id: avih chunk too short ($len)")
            declared = le32(dataOff + 16) // dwTotalFrames
            w = le32(dataOff + 32); h = le32(dataOff + 36)
            require(w > 0 && h > 0, s"media $id: bad avih dims ${w}x$h")
            require(w.toLong * h <= MaxDecodePixels,
              s"media $id: ${w}x$h exceeds the $MaxDecodePixels-pixel " +
                "decode bound")
          case "strh" =>
            require(len >= 4, s"media $id: strh chunk too short ($len)")
            curFcc = tag(dataOff) // vids / auds / txts…
          case "strf" if curFcc == "auds" =>
            () // the audio stream's WAVEFORMATEX: decodeAviAudio's job
          case "strf" =>
            require(len >= 40, s"media $id: strf BITMAPINFOHEADER too short")
            val bitCount = le16(dataOff + 14)
            val compression = le32(dataOff + 16)
            // 0x47504A4D = 'MJPG' little-endian: Motion JPEG — one
            // baseline JPEG per '##dc' chunk, decoded by [[Jpeg.decodeRgb]]
            isMjpeg = compression == 0x47504A4D
            require(compression == 0 || isMjpeg,
              s"media $id: only BI_RGB (uncompressed) or MJPG frames " +
                s"supported, got compression $compression")
            require(isMjpeg || bitCount == 24,
              s"media $id: only 24-bit DIB frames supported, got $bitCount")
            sawStrf = true
          case fcc if fcc.length == 4 && fcc(0).isDigit && fcc(1).isDigit &&
            fcc.endsWith("dc") =>
            require(sawStrf, s"media $id: frame chunk before strf header")
            require(isMjpeg,
              s"media $id: compressed video chunk '$fcc' without an MJPG " +
                "strf out of scope (only MJPG '##dc' and DIB '##db' decode)")
            require(w.toLong * h * (frames.length + 1) <= MaxDecodePixels,
              s"media $id: AVI decoded volume exceeds the " +
                s"$MaxDecodePixels-pixel decode bound")
            val (fw, fh, rgb) = Jpeg.decodeRgb(id,
              java.util.Arrays.copyOfRange(p, dataOff, dataOff + len))
            require(fw == w && fh == h,
              s"media $id: MJPG frame is ${fw}x$fh, avih declares ${w}x$h")
            frames += rgb
          case fcc if fcc.length == 4 && fcc(0).isDigit && fcc(1).isDigit &&
            fcc.endsWith("db") =>
            require(sawStrf, s"media $id: frame chunk before strf header")
            require(!isMjpeg,
              s"media $id: uncompressed '##db' chunk inside an MJPG stream")
            require(w.toLong * h * (frames.length + 1) <= MaxDecodePixels,
              s"media $id: AVI decoded volume exceeds the " +
                s"$MaxDecodePixels-pixel decode bound")
            val rowSize = ((3 * w + 3) / 4) * 4
            require(len == rowSize * h,
              s"media $id: frame chunk size $len != expected ${rowSize * h}")
            val rgb = new Array[Byte](3 * w * h)
            var y = 0
            while (y < h) {
              val srcRow = dataOff + (h - 1 - y) * rowSize // bottom-up
              var x = 0
              while (x < w) {
                rgb(3 * (y * w + x)) = p(srcRow + 3 * x + 2) // R
                rgb(3 * (y * w + x) + 1) = p(srcRow + 3 * x + 1) // G
                rgb(3 * (y * w + x) + 2) = p(srcRow + 3 * x) // B
                x += 1
              }
              y += 1
            }
            frames += rgb
          case _ => () // strh, idx1, JUNK… — geometry already validated
        }
        off = dataOff + len + (len & 1) // RIFF chunks are word-aligned
      }
    }
    require(declared >= 0, s"media $id: missing avih header")
    require(frames.nonEmpty, s"media $id: no video frame chunks")
    require(frames.length == declared,
      s"media $id: avih declares $declared frames, movi carries ${frames.length}")
    (w, h, frames.toArray)
  }

  /** AVI AUDIO-track extraction — the soundtrack side of the container:
    * the same shallow RIFF walk as [[decodeAviRgb]], but it reads the
    * 'auds' stream's strf (a WAVEFORMATEX — PCM tag 1 only, 8/16-bit)
    * and collects that stream's 'NNwb' movi chunks, where NN is the
    * stream's POSITION among the strl lists (the AVI chunk-naming rule —
    * an audio-first file uses '00wb'). Samples normalize to int16
    * exactly like the WAV walk, so the WHOLE audio surface (contours,
    * dedup, quality, ingest) consumes AVI soundtracks through the one
    * [[pcm16Samples]] dispatch: a WAV re-encode of an AVI's soundtrack
    * collides contour-for-contour. */
  private[graft] def decodeAviAudio(id: Long, p: Array[Byte]): (Int, Int, Array[Short]) = {
    def le16(off: Int): Int = (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    def tag(off: Int): String = new String(p, off, 4, "US-ASCII")
    require(p.length >= 12 && tag(0) == "RIFF" && tag(8) == "AVI ",
      s"media $id: not a RIFF/AVI container")
    var curFcc: String = null
    var streamIdx = -1
    var audioStream = -1
    var channels = 0; var rate = 0; var bits = 0
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var off = 12
    while (off + 8 <= p.length) {
      val t = tag(off); val len = le32(off + 4); val dataOff = off + 8
      require(len >= 0, s"media $id: negative $t chunk length $len")
      require(dataOff.toLong + len <= p.length, s"media $id: truncated $t chunk")
      if (t == "LIST") {
        require(len >= 4, s"media $id: LIST chunk too short for a type ($len)")
        val ltype = tag(dataOff)
        if (ltype == "hdrl" || ltype == "strl" || ltype == "movi")
          off = dataOff + 4
        else off = dataOff + len + (len & 1)
      } else {
        t match {
          case "strh" =>
            require(len >= 4, s"media $id: strh chunk too short ($len)")
            curFcc = tag(dataOff)
            streamIdx += 1
            if (curFcc == "auds") {
              require(audioStream < 0,
                s"media $id: multiple AVI audio streams out of scope")
              audioStream = streamIdx
            }
          case "strf" if curFcc == "auds" =>
            require(len >= 16, s"media $id: auds strf WAVEFORMATEX too short")
            val fmtTag = le16(dataOff)
            require(fmtTag == 1,
              s"media $id: only PCM AVI audio supported, got format $fmtTag")
            channels = le16(dataOff + 2); rate = le32(dataOff + 4)
            bits = le16(dataOff + 14)
            require(bits == 8 || bits == 16,
              s"media $id: only 8/16-bit AVI audio supported, got $bits")
            require(channels >= 1 && rate > 0,
              s"media $id: implausible AVI audio header " +
                s"(channels $channels, rate $rate)")
          case fcc if fcc.length == 4 && fcc(0).isDigit && fcc(1).isDigit &&
            fcc.endsWith("wb") =>
            if (audioStream >= 0 &&
              (fcc(0) - '0') * 10 + (fcc(1) - '0') == audioStream)
              spans += ((dataOff, len))
          case _ => ()
        }
        off = dataOff + len + (len & 1)
      }
    }
    require(audioStream >= 0 && channels > 0,
      s"media $id: no PCM audio stream in the AVI")
    require(spans.nonEmpty, s"media $id: no audio data chunks")
    val samples = new scala.collection.mutable.ArrayBuilder.ofShort
    spans.foreach { case (dataOff, len) =>
      var i = dataOff
      if (bits == 16)
        while (i + 1 < dataOff + len) { samples += le16(i).toShort; i += 2 }
      else
        while (i < dataOff + len) {
          samples += (((p(i) & 0xFF) - 128) << 8).toShort
          i += 1
        }
    }
    (channels, rate, samples.result())
  }

  /** One raw animated-GIF frame before compositing: rect placement,
    * de-interlaced palette indices, effective palette, and the preceding
    * Graphic Control Extension's disposal method + transparent index
    * (−1 when the transparency flag is unset). */
  private[graft] final case class GifRawFrame(left: Int, top: Int, w: Int,
                                              h: Int, indices: Array[Int],
                                              palette: Array[Byte],
                                              nColors: Int, disposal: Int,
                                              transparentIdx: Int)

  /** The single animated-GIF block walk: logical screen, background
    * color index, and every image block as a [[GifRawFrame]] — interlace
    * undone, each frame's EFFECTIVE palette resolved (local table when
    * present, else global), GCE disposal/transparency captured. The two
    * consumers are [[decodeGifFrames]] (index-exact census contract,
    * full-frame profile) and [[decodeGifComposited]] (RGB canvas
    * compositing — the real-crawl animation profile). */
  private def decodeGifAnim(id: Long, p: Array[Byte])
      : (Int, Int, Int, Array[Byte], Array[GifRawFrame]) = {
    def u8(off: Int): Int = p(off) & 0xFF
    def le16(off: Int): Int = u8(off) | (u8(off + 1) << 8)
    require(p.length >= 13 &&
      new String(p, 0, 6, "US-ASCII").matches("GIF8[79]a"),
      s"media $id: not a GIF signature")
    val sw = le16(6); val sh = le16(8)
    require(sw > 0 && sh > 0 && sw.toLong * sh <= MaxDecodePixels,
      s"media $id: bad GIF screen dims ${sw}x$sh")
    val packed = u8(10)
    val hasGct = (packed & 0x80) != 0
    val gctColors = if (hasGct) 1 << ((packed & 7) + 1) else 0
    val bgIndex = u8(11)
    val gctOff = 13
    var off = gctOff + 3 * gctColors
    require(off <= p.length, s"media $id: truncated global color table")
    def guard(need: Int, what: String): Unit =
      require(off + need <= p.length, s"media $id: truncated GIF ($what)")
    val frames = scala.collection.mutable.ArrayBuffer.empty[GifRawFrame]
    // GCE state applies to the NEXT image block only (GIF89a spec)
    var disposal = 0
    var transparentIdx = -1
    var done = false
    while (!done) {
      guard(1, "block introducer")
      u8(off) match {
        case 0x21 => // extension
          guard(2, "extension label")
          val label = u8(off + 1)
          if (label == 0xF9) { // Graphic Control Extension
            guard(7, "graphic control extension")
            require(u8(off + 2) == 4, s"media $id: bad GCE block size")
            val gpacked = u8(off + 3)
            disposal = (gpacked >> 2) & 0x7
            require(disposal <= 3,
              s"media $id: reserved GIF disposal method $disposal")
            transparentIdx = if ((gpacked & 1) != 0) u8(off + 6) else -1
          }
          off += 2
          while ({ guard(1, "extension sub-block"); u8(off) != 0 }) {
            guard(1 + u8(off), "extension sub-block"); off += 1 + u8(off)
          }
          off += 1
        case 0x2C => // image descriptor
          guard(11, "image descriptor")
          val left = le16(off + 1); val top = le16(off + 3)
          val w = le16(off + 5); val h = le16(off + 7)
          require(w > 0 && h > 0 && w.toLong * h <= MaxDecodePixels,
            s"media $id: bad GIF frame dims ${w}x$h")
          require(left + w <= sw && top + h <= sh,
            s"media $id: GIF frame ${frames.length} rect ${w}x$h at " +
              s"($left, $top) exceeds the ${sw}x$sh screen")
          // bound TOTAL decoded volume: an animation's presented frames
          // are screen-sized each
          require(sw.toLong * sh * (frames.length + 1) <= MaxDecodePixels,
            s"media $id: GIF animation exceeds the $MaxDecodePixels-pixel " +
              "decode bound")
          val ipacked = u8(off + 9)
          val interlaced = (ipacked & 0x40) != 0
          off += 10
          var palOff = gctOff
          var nColors = gctColors
          if ((ipacked & 0x80) != 0) { // local color table
            nColors = 1 << ((ipacked & 7) + 1)
            palOff = off
            guard(3 * nColors, "local color table")
            off += 3 * nColors
          }
          require(nColors > 0, s"media $id: GIF frame ${frames.length} " +
            "carries neither a global nor a local color table")
          guard(1, "LZW min code size")
          val minCodeSize = u8(off)
          require(minCodeSize >= 2 && minCodeSize <= 8,
            s"media $id: invalid LZW min code size $minCodeSize")
          off += 1
          val data = new java.io.ByteArrayOutputStream()
          while ({ guard(1, "image data sub-block"); u8(off) != 0 }) {
            val n = u8(off)
            guard(1 + n, "image data sub-block")
            data.write(p, off + 1, n)
            off += 1 + n
          }
          off += 1 // sub-block terminator
          val raw = lzwDecode(id, data.toByteArray, minCodeSize, w * h)
          var k = 0
          while (k < raw.length) {
            require(raw(k) < nColors, s"media $id: pixel index " +
              s"${raw(k)} outside the $nColors-color palette")
            k += 1
          }
          frames += GifRawFrame(left, top, w, h,
            if (interlaced) gifDeinterlace(raw, w, h) else raw,
            java.util.Arrays.copyOfRange(p, palOff, palOff + 3 * nColors),
            nColors, disposal, transparentIdx)
          disposal = 0
          transparentIdx = -1
        case 0x3B => done = true // trailer
        case b => throw new IllegalArgumentException(
          s"media $id: unexpected GIF block 0x${b.toHexString}")
      }
    }
    require(frames.nonEmpty, s"media $id: GIF carries no image blocks")
    val bg = new Array[Byte](3)
    if (hasGct && bgIndex < gctColors)
      System.arraycopy(p, gctOff + 3 * bgIndex, bg, 0, 3)
    (sw, sh, bgIndex, bg, frames.toArray)
  }

  /** ALL frames of an animated GIF under the INDEX-exact census contract:
    * every frame must be FULL-FRAME at (0, 0) with the logical-screen
    * dims and carry no transparency (partial-frame compositing has no
    * per-frame index representation — [[decodeGifComposited]] is the
    * RGB-level decoder for that profile). Returns (width, height, one
    * palette-index array per frame, one effective palette per frame, one
    * color count per frame). */
  private[graft] def decodeGifFrames(id: Long, p: Array[Byte])
      : (Int, Int, Array[Array[Int]], Array[Array[Byte]], Array[Int]) = {
    val (sw, sh, _, _, raw) = decodeGifAnim(id, p)
    raw.zipWithIndex.foreach { case (f, i) =>
      require(f.left == 0 && f.top == 0 && f.w == sw && f.h == sh,
        s"media $id: the index-census contract needs full-frame GIF " +
          s"animation (frame $i is ${f.w}x${f.h} at (${f.left}, ${f.top}), " +
          s"screen is ${sw}x$sh) — use the composited RGB decode")
      require(f.transparentIdx < 0,
        s"media $id: the index-census contract needs opaque frames " +
          s"(frame $i declares transparent index ${f.transparentIdx}) — " +
          "use the composited RGB decode")
    }
    (sw, sh, raw.map(_.indices), raw.map(_.palette), raw.map(_.nColors))
  }

  /** COMPOSITED animated-GIF decode — the real-crawl profile: frames are
    * partial RECTS presented onto a persistent canvas, the preceding
    * GCE's transparent index punches through to what is already there,
    * and its disposal method runs after presentation — 0/1 keep the
    * canvas, 2 restores the frame's rect to the BACKGROUND color (the
    * global table's background entry; black without one), 3 restores the
    * canvas to its pre-frame state. Returns (width, height, one
    * presented screen-sized RGB array per frame) — the
    * [[decodeVideoRgb]] layout, so every frame-level video operator
    * handles real animations unchanged. */
  private[graft] def decodeGifComposited(id: Long, p: Array[Byte])
      : (Int, Int, Array[Array[Byte]]) = {
    val (sw, sh, _, bg, raw) = decodeGifAnim(id, p)
    val canvas = new Array[Byte](3 * sw * sh)
    var k = 0
    while (k < canvas.length) { // background-initialized canvas
      canvas(k) = bg(k % 3)
      k += 1
    }
    val out = new Array[Array[Byte]](raw.length)
    var fi = 0
    while (fi < raw.length) {
      val f = raw(fi)
      val saved = if (f.disposal == 3) canvas.clone() else null
      var y = 0
      while (y < f.h) {
        var x = 0
        while (x < f.w) {
          val idx = f.indices(y * f.w + x)
          if (idx != f.transparentIdx) {
            val o = 3 * ((f.top + y) * sw + (f.left + x))
            canvas(o) = f.palette(3 * idx)
            canvas(o + 1) = f.palette(3 * idx + 1)
            canvas(o + 2) = f.palette(3 * idx + 2)
          }
          x += 1
        }
        y += 1
      }
      out(fi) = canvas.clone() // the presented frame
      f.disposal match {
        case 2 => // restore the rect to background
          var yy = 0
          while (yy < f.h) {
            var xx = 0
            while (xx < f.w) {
              val o = 3 * ((f.top + yy) * sw + (f.left + xx))
              canvas(o) = bg(0); canvas(o + 1) = bg(1); canvas(o + 2) = bg(2)
              xx += 1
            }
            yy += 1
          }
        case 3 => System.arraycopy(saved, 0, canvas, 0, canvas.length)
        case _ => ()
      }
      fi += 1
    }
    (sw, sh, out)
  }

  private[graft] def isPng(p: Array[Byte]): Boolean =
    p.length >= 8 && (p(0) & 0xFF) == 0x89 && p(1) == 'P'.toByte &&
      p(2) == 'N'.toByte && p(3) == 'G'.toByte

  /** True iff the PNG is animated: an acTL chunk BEFORE the first IDAT,
    * per the APNG spec (an acTL after IDAT must be ignored). Bounded
    * header walk — every iteration advances at least 12 bytes. */
  private[graft] def hasApng(p: Array[Byte]): Boolean = {
    if (!isPng(p)) return false
    def be(off: Int): Int =
      ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
        ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
    var off = 8
    while (off + 8 <= p.length) {
      val len = be(off)
      if (len < 0 || off.toLong + 8 + len + 4 > p.length) return false
      val typ = new String(p, off + 4, 4, "US-ASCII")
      if (typ == "acTL") return true
      if (typ == "IDAT" || typ == "IEND") return false
      off += 8 + len + 4
    }
    false
  }

  /** COMPOSITED APNG decode — the PNG animation extension (acTL frame
    * count, fcTL frame controls, fdAT frame data; one sequence counter
    * shared by fcTL and fdAT, validated by name): each frame's rect is
    * a full PNG image stream, so every frame REUSES [[decodePngRgba]]
    * verbatim — any color type, bit depth, filter, or interlace an APNG
    * author used — via a synthesized per-frame PNG (the original IHDR
    * with the rect's dims patched in, PLTE/tRNS carried over, the
    * frame's data as IDAT). Canvas algebra per spec: RGBA canvas starts
    * fully transparent; blend 0 REPLACES the rect, blend 1 alpha-
    * composites OVER it (the deterministic integer form; fixtures plant
    * 0/255 alphas so the oracle replay is exact); dispose 0 keeps,
    * 1 clears the rect to transparent, 2 restores the pre-frame rect
    * (treated as 1 on the first frame, per spec). Presented frames emit
    * straight RGB — transparent pixels read as the canvas's zeroed
    * channels (black), matching the transparent-init contract. Total
    * decoded volume bounded by w·h·(frames+1) before any frame decodes
    * (the GIF/WebP animation bound). */
  private[graft] def decodeApngFrames(id: Long, p: Array[Byte])
      : (Int, Int, Array[Array[Byte]]) = {
    def be(off: Int): Int =
      ((p(off) & 0xFF) << 24) | ((p(off + 1) & 0xFF) << 16) |
        ((p(off + 2) & 0xFF) << 8) | (p(off + 3) & 0xFF)
    require(isPng(p), s"media $id: not a PNG signature")
    final case class Fctl(fw: Int, fh: Int, fx: Int, fy: Int,
                          dispose: Int, blend: Int)
    var ihdr: Array[Byte] = null
    var plte: Array[Byte] = null
    var trns: Array[Byte] = null
    var numFrames = -1
    val fctls = scala.collection.mutable.ArrayBuffer.empty[Fctl]
    val data = scala.collection.mutable.ArrayBuffer
      .empty[java.io.ByteArrayOutputStream]
    var expectedSeq = 0
    var sawIdat = false
    var sawFdat = false
    var off = 8
    var done = false
    while (!done && off + 8 <= p.length) {
      val len = be(off)
      val typ = new String(p, off + 4, 4, "US-ASCII")
      val dataOff = off + 8
      // hostile-length guards: see decodePngRgba
      require(len >= 0, s"media $id: negative $typ chunk length $len")
      require(dataOff.toLong + len + 4 <= p.length,
        s"media $id: truncated $typ chunk")
      typ match {
        case "IHDR" =>
          require(len == 13, s"media $id: bad IHDR length $len")
          ihdr = java.util.Arrays.copyOfRange(p, dataOff, dataOff + 13)
        case "PLTE" =>
          plte = java.util.Arrays.copyOfRange(p, dataOff, dataOff + len)
        case "tRNS" =>
          trns = java.util.Arrays.copyOfRange(p, dataOff, dataOff + len)
        case "acTL" =>
          require(len == 8, s"media $id: bad acTL length $len")
          require(!sawIdat, s"media $id: acTL after IDAT")
          numFrames = be(dataOff)
        case "fcTL" =>
          require(len == 26, s"media $id: bad fcTL length $len")
          require(be(dataOff) == expectedSeq,
            s"media $id: APNG sequence number ${be(dataOff)}, " +
              s"expected $expectedSeq")
          expectedSeq += 1
          fctls += Fctl(be(dataOff + 4), be(dataOff + 8), be(dataOff + 12),
            be(dataOff + 16), p(dataOff + 24) & 0xFF, p(dataOff + 25) & 0xFF)
          data += new java.io.ByteArrayOutputStream()
        case "IDAT" =>
          // the default image is frame 0 of the animation ONLY when an
          // fcTL precedes it; a bare IDAT is a non-animated poster image
          // and contributes no frame. An IDAT arriving after ANY fdAT
          // (even with one fcTL seen — the bare-poster-then-fdAT
          // layout) is a malformed interleaving: reject by name here
          // instead of letting late poster bytes corrupt frame 0's
          // stream and surface as a downstream zlib error
          require(fctls.length <= 1 && !sawFdat,
            s"media $id: IDAT after fdAT frames")
          sawIdat = true
          if (fctls.length == 1) data(0).write(p, dataOff, len)
        case "fdAT" =>
          require(len >= 4, s"media $id: bad fdAT length $len")
          sawFdat = true
          require(fctls.nonEmpty, s"media $id: fdAT before any fcTL")
          require(be(dataOff) == expectedSeq,
            s"media $id: APNG sequence number ${be(dataOff)}, " +
              s"expected $expectedSeq")
          expectedSeq += 1
          data(fctls.length - 1).write(p, dataOff + 4, len - 4)
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped
      }
      off = dataOff + len + 4
    }
    require(ihdr != null, s"media $id: missing IHDR")
    require(numFrames >= 1, s"media $id: not an animated PNG (no acTL)")
    require(fctls.length == numFrames,
      s"media $id: acTL declares $numFrames frames, found ${fctls.length}")
    def ihdrBe(o: Int): Int =
      ((ihdr(o) & 0xFF) << 24) | ((ihdr(o + 1) & 0xFF) << 16) |
        ((ihdr(o + 2) & 0xFF) << 8) | (ihdr(o + 3) & 0xFF)
    val w = ihdrBe(0); val h = ihdrBe(4)
    require(w > 0 && h > 0, s"media $id: bad APNG canvas ${w}x$h")
    require(w.toLong * h * (numFrames + 1) <= MaxDecodePixels,
      s"media $id: APNG exceeds the $MaxDecodePixels-pixel decode bound")
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)
    // synthesize one standalone PNG per frame (decodePngRgba ignores
    // chunk CRCs, so zeroed CRC cells are fine)
    def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](12 + body.length)
      out(0) = (body.length >> 24).toByte; out(1) = (body.length >> 16).toByte
      out(2) = (body.length >> 8).toByte; out(3) = body.length.toByte
      typ.getBytes("US-ASCII").copyToArray(out, 4)
      body.copyToArray(out, 8)
      out
    }
    val canvas = new Array[Byte](4 * w * h)
    val frames = new Array[Array[Byte]](numFrames)
    var fi = 0
    while (fi < numFrames) {
      val f = fctls(fi)
      require(f.fw > 0 && f.fh > 0 && f.fx >= 0 && f.fy >= 0 &&
        f.fx.toLong + f.fw <= w && f.fy.toLong + f.fh <= h,
        s"media $id: APNG frame $fi rect ${f.fw}x${f.fh} at " +
          s"(${f.fx}, ${f.fy}) exceeds the ${w}x$h canvas")
      require(f.dispose <= 2 && f.blend <= 1,
        s"media $id: APNG frame $fi dispose ${f.dispose} / blend " +
          s"${f.blend} out of range")
      val fh2 = ihdr.clone()
      fh2(0) = (f.fw >> 24).toByte; fh2(1) = (f.fw >> 16).toByte
      fh2(2) = (f.fw >> 8).toByte; fh2(3) = f.fw.toByte
      fh2(4) = (f.fh >> 24).toByte; fh2(5) = (f.fh >> 16).toByte
      fh2(6) = (f.fh >> 8).toByte; fh2(7) = f.fh.toByte
      val one = new java.io.ByteArrayOutputStream()
      one.write(sig)
      one.write(chunk("IHDR", fh2))
      if (plte != null) one.write(chunk("PLTE", plte))
      if (trns != null) one.write(chunk("tRNS", trns))
      one.write(chunk("IDAT", data(fi).toByteArray))
      one.write(chunk("IEND", Array.emptyByteArray))
      val (dw, dh, rgba) = decodePngRgba(id, one.toByteArray)
      require(dw == f.fw && dh == f.fh,
        s"media $id: APNG frame $fi decoded ${dw}x$dh, fcTL declares " +
          s"${f.fw}x${f.fh}")
      // dispose 2 on the first frame degrades to 1, per spec
      val dispose = if (fi == 0 && f.dispose == 2) 1 else f.dispose
      val saved =
        if (dispose == 2) {
          val s = new Array[Byte](4 * f.fw * f.fh)
          var y = 0
          while (y < f.fh) {
            System.arraycopy(canvas, 4 * ((f.fy + y) * w + f.fx),
              s, 4 * y * f.fw, 4 * f.fw)
            y += 1
          }
          s
        } else null
      var y = 0
      while (y < f.fh) {
        var x = 0
        while (x < f.fw) {
          val s = 4 * (y * f.fw + x)
          val d = 4 * ((f.fy + y) * w + (f.fx + x))
          val sa = rgba(s + 3) & 0xFF
          if (f.blend == 0 || sa == 255) {
            canvas(d) = rgba(s); canvas(d + 1) = rgba(s + 1)
            canvas(d + 2) = rgba(s + 2); canvas(d + 3) = rgba(s + 3)
          } else if (sa > 0) {
            // deterministic integer OVER: out = src + dst·(255−sa)/255
            // on straight channels weighted by alpha
            val da = canvas(d + 3) & 0xFF
            val oa = sa + da * (255 - sa) / 255
            var c = 0
            while (c < 3) {
              val sv = rgba(s + c) & 0xFF
              val dv = canvas(d + c) & 0xFF
              canvas(d + c) =
                (if (oa == 0) 0
                else (sv * sa * 255 + dv * da * (255 - sa)) / (oa * 255))
                  .toByte
              c += 1
            }
            canvas(d + 3) = oa.toByte
          } // sa == 0 under OVER: keep the destination
          x += 1
        }
        y += 1
      }
      // presented frame: straight RGB snapshot
      val rgb = new Array[Byte](3 * w * h)
      var k = 0
      while (k < w * h) {
        rgb(3 * k) = canvas(4 * k); rgb(3 * k + 1) = canvas(4 * k + 1)
        rgb(3 * k + 2) = canvas(4 * k + 2)
        k += 1
      }
      frames(fi) = rgb
      dispose match {
        case 1 => // clear the rect to fully transparent
          var yy = 0
          while (yy < f.fh) {
            java.util.Arrays.fill(canvas, 4 * ((f.fy + yy) * w + f.fx),
              4 * ((f.fy + yy) * w + f.fx + f.fw), 0.toByte)
            yy += 1
          }
        case 2 =>
          var yy = 0
          while (yy < f.fh) {
            System.arraycopy(saved, 4 * yy * f.fw, canvas,
              4 * ((f.fy + yy) * w + f.fx), 4 * f.fw)
            yy += 1
          }
        case _ => ()
      }
      fi += 1
    }
    (w, h, frames)
  }

  /** FORMAT-BLIND video decode: RIFF/AVI payloads take [[decodeAviRgb]];
    * GIF payloads take the COMPOSITED animation decode
    * ([[decodeGifComposited]] — partial-frame rects, disposal methods,
    * transparency; a full-frame opaque animation composites to exactly
    * its per-frame palette map); ANIMATED WebP takes the ANMF
    * compositing walk ([[Webp.decodeAnimFrames]] — the same canvas
    * algebra with the format's blend/dispose flags), ANIMATED PNG takes
    * the fcTL/fdAT compositing walk ([[decodeApngFrames]] — each frame
    * through the full still-PNG decoder), and a STILL WebP is a
    * one-frame video (its RGB channels) — so an animated-WebP, APNG, or
    * animated-GIF re-encode of an AVI carries pixel-identical frames and
    * every frame-level video operator (hashing, dedup, shots, quality)
    * works across all four container boundaries, including on
    * real-crawl partial-frame animations. */
  private[graft] def decodeVideoRgb(id: Long, p: Array[Byte])
      : (Int, Int, Array[Array[Byte]]) =
    if (p.length >= 3 && p(0) == 'G'.toByte && p(1) == 'I'.toByte &&
        p(2) == 'F'.toByte)
      decodeGifComposited(id, p)
    else if (hasApng(p)) decodeApngFrames(id, p)
    else if (Webp.hasAnim(p)) Webp.decodeAnimFrames(id, p)
    else if (Webp.isWebp(p)) {
      val (w, h, rgba) = Webp.decodeWebpRgba(id, p)
      val rgb = new Array[Byte](3 * w * h)
      var k = 0
      while (k < w * h) {
        rgb(3 * k) = rgba(4 * k); rgb(3 * k + 1) = rgba(4 * k + 1)
        rgb(3 * k + 2) = rgba(4 * k + 2)
        k += 1
      }
      (w, h, Array(rgb))
    } else decodeAviRgb(id, p)

  /** Per-frame census over REAL AVI frame decode, with REAL frame
    * sampling: only every `everyN`-th frame (frame_idx % everyN == 0) is
    * reduced — the video path's cost-control knob, applied to decoded
    * pixels rather than header rows (compare [[sampleFrames]]). Pure
    * partition-local map, no shuffle. */
  def aviFrameStats(media: Dataset[MediaRow], everyN: Int = 1): Dataset[VideoFrameStats] = {
    require(everyN >= 1, "everyN must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (w, h, frames) = decodeAviRgb(m.media_id, m.payload)
      frames.iterator.zipWithIndex.collect {
        case (rgb, f) if f % everyN == 0 =>
          var sr = 0L; var sg = 0L; var sb = 0L
          var i = 0
          while (i < rgb.length) {
            sr += rgb(i) & 0xFF; sg += rgb(i + 1) & 0xFF; sb += rgb(i + 2) & 0xFF
            i += 3
          }
          VideoFrameStats(m.media_id, f, w, h, w.toLong * h, sr, sg, sb)
      }
    })
  }

  /** Per-frame quadrant gray sums — the POSITION-SENSITIVE video census:
    * compositing bugs (a rect placed wrong, a disposal method skipped, a
    * transparent index painted) move pixels between quadrants, which
    * per-frame channel sums can be blind to. */
  final case class VideoFrameQuadrants(media_id: Long, frame_idx: Int,
                                       q_tl: Long, q_tr: Long,
                                       q_bl: Long, q_br: Long)

  /** Format-blind per-frame quadrant census over [[decodeVideoRgb]]
    * (AVI, MJPEG, animated GIF incl. partial-frame compositing), with
    * the everyN sampling knob. Partition-local map. */
  def videoFrameQuadrants(media: Dataset[MediaRow],
                          everyN: Int = 1): Dataset[VideoFrameQuadrants] = {
    require(everyN >= 1, "everyN must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (w, h, frames) = decodeVideoRgb(m.media_id, m.payload)
      frames.iterator.zipWithIndex.collect {
        case (rgb, f) if f % everyN == 0 =>
          val q = new Array[Long](4)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val k = 3 * (y * w + x)
              val g = ((rgb(k) & 0xFF) + (rgb(k + 1) & 0xFF) +
                (rgb(k + 2) & 0xFF)) / 3
              q((if (y < h / 2) 0 else 2) + (if (x < w / 2) 0 else 1)) += g
              x += 1
            }
            y += 1
          }
          VideoFrameQuadrants(m.media_id, f, q(0), q(1), q(2), q(3))
      }
    })
  }

  /** COMPOSITED animated-GIF fixtures — the real-crawl animation shape:
    * a full base frame, then a centered partial rect whose every third
    * diagonal pixel is TRANSPARENT (the underlying canvas must show
    * through), then an opaque top-right rect overlapping the second.
    * The base frame's disposal alternates by id parity — 2 (restore to
    * background) on even ids, 1 (keep) on odd — so both disposal
    * semantics land in the oracle. Identity-ramp grayscale palette;
    * every value replays arithmetically. */
  def syntheticCompositedGifMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      import Containers.GifFrameSpec
      def idx0(k: Int) = ((id * 23 + (k % 16) * 3 + (k / 16) * 5) % 64).toInt
      def idx1(k: Int) = {
        val lx = k % 8; val ly = k / 8
        if ((lx + ly) % 3 == 0) 63
        else ((id * 7 + lx * 5 + ly * 3) % 63).toInt
      }
      def idx2(k: Int) = ((id * 11 + (k % 8) * 7 + (k / 8) * 9) % 64).toInt
      val payload = Containers.gifAnimatedPartial(16, 16, Seq(
        GifFrameSpec(0, 0, 16, 16, idx0,
          disposal = if (id % 2 == 0) 2 else 1),
        GifFrameSpec(4, 4, 8, 8, idx1, disposal = 0, transparentIdx = 63),
        GifFrameSpec(8, 0, 8, 8, idx2)), Containers.Ramp64, bgIndex = 0)
      MediaRow(id, "video", payload, 16, 16, 3)
    }

  /** COMPOSITED APNG fixtures — the q267 canvas story in PNG's
    * vocabulary: a full opaque base (dispose NONE on even ids,
    * BACKGROUND — clear to transparent — on odd), a centered partial
    * rect blended OVER with every third diagonal pixel fully TRANSPARENT
    * (the canvas shows through; after an odd id's background disposal
    * that is transparent black) and dispose PREVIOUS (the pre-frame rect
    * restores after presentation), then an opaque top-right SOURCE rect.
    * All alphas 0/255 so the integer OVER is exact and the oracle
    * replays the canvas algebra pixel-by-pixel. */
  def syntheticApngMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      import Containers.ApngFrameSpec
      def g0(x: Int, y: Int): Int = (((id * 23 + x * 3 + y * 5) % 64) * 4 + 1).toInt
      def g1(lx: Int, ly: Int): Int = (((id * 7 + lx * 5 + ly * 3) % 63) * 4 + 1).toInt
      def g2(lx: Int, ly: Int): Int = (((id * 11 + lx * 7 + ly * 9) % 64) * 4 + 1).toInt
      val base = ApngFrameSpec(0, 0, 16, 16, { i =>
        val k = i / 4
        if (i % 4 == 3) 255 else g0(k % 16, k / 16)
      }, dispose = if (id % 2 == 0) 0 else 1, filterType = (id % 5).toInt)
      val pierced = ApngFrameSpec(4, 4, 8, 8, { i =>
        val k = i / 4; val lx = k % 8; val ly = k / 8
        if ((lx + ly) % 3 == 0) 0 // fully transparent: punches through
        else if (i % 4 == 3) 255
        else g1(lx, ly)
      }, dispose = 2, blend = 1, filterType = ((id + 2) % 5).toInt)
      val topRight = ApngFrameSpec(8, 0, 8, 8, { i =>
        val k = i / 4
        if (i % 4 == 3) 255 else g2(k % 8, k / 8)
      })
      MediaRow(id, "video",
        Containers.pngAnimated(16, 16, Seq(base, pierced, topRight)),
        16, 16, 3)
    }

  /** Deterministic FULL-decode video fixtures: every doc becomes a
    * complete AVI whose frame f's channel-c pixel at (x, y) is the closed
    * form (doc_id·31 + f·19 + x·7 + y·13 + c·91) mod 256 — an external
    * oracle recomputes every per-frame channel census ARITHMETICALLY
    * while the engine earns it through the real RIFF walk + DIB
    * reassembly. Dimensions/frame counts stay small — the contract is the
    * codec, not the byte volume. */
  def syntheticVideoMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val w = (5 + id % 9).toInt
      val h = (4 + (id * 3) % 7).toInt
      val nf = (2 + id % 4).toInt
      val payload = Containers.aviFull(w, h, nf,
        (f, x, y, c) => ((id * 31 + f * 19 + x * 7 + y * 13 + c * 91) % 256).toInt)
      MediaRow(id, "video", payload, w, h, nf)
    }

  /** REAL GIF pixel decode — LZW is pure integer code-table expansion, no
    * codec library needed: walk the GIF89a block structure (logical screen
    * descriptor, global color table, extension skip, image descriptor,
    * data sub-block reassembly), expand the variable-width LSB-first LZW
    * stream (CLEAR resets, EOI, the KwKwK code==next case, 12-bit table
    * cap), map indices through the palette, and reduce to the exact
    * channel + index census. Single-frame layouts decode in full:
    * interlaced streams de-interlace (a four-pass row permutation) and a
    * local color table, when present, is the frame's effective palette;
    * a frame with no table anywhere fails by name. JPEG pixels decode
    * through [[Jpeg.decodeRgb]] (baseline sequential Huffman + IDCT);
    * see [[jpegPixelStats]]. */
  def gifPixelStats(media: Dataset[MediaRow]): Dataset[GifStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodeOneGif(m.media_id, m.payload)))
  }

  /** Full GIF decode to LZW-expanded palette indices plus the global color
    * table: (width, height, indices, palette bytes at 3·index, nColors) —
    * shared by the census ([[decodeOneGif]]) and the perceptual hash
    * ([[MediaDedup.imageDHash]]'s GIF branch). */
  /** Undo GIF interlacing (GIF89a appendix E): the LZW stream stores rows
    * in four passes (rows 0,8,16,… then 4,12,… then 2,6,… then 1,3,…);
    * remap them to natural top-down order. Pure row permutation. */
  private def gifDeinterlace(src: Array[Int], w: Int, h: Int): Array[Int] = {
    val out = new Array[Int](src.length)
    var s = 0
    def pass(start: Int, step: Int): Unit = {
      var y = start
      while (y < h) {
        System.arraycopy(src, s * w, out, y * w, w)
        s += 1
        y += step
      }
    }
    pass(0, 8); pass(4, 8); pass(2, 4); pass(1, 2)
    out
  }

  private[graft] def decodeGifIdx(id: Long, p: Array[Byte])
      : (Int, Int, Array[Int], Array[Byte], Int) = {
    def u8(off: Int): Int = p(off) & 0xFF
    def le16(off: Int): Int = u8(off) | (u8(off + 1) << 8)
    require(p.length >= 13 &&
      new String(p, 0, 6, "US-ASCII").matches("GIF8[79]a"),
      s"media $id: not a GIF signature")
    val packed = u8(10)
    val hasGct = (packed & 0x80) != 0
    val gctColors = if (hasGct) 1 << ((packed & 7) + 1) else 0
    val gctOff = 13
    var off = gctOff + 3 * gctColors
    require(off <= p.length, s"media $id: truncated global color table")
    // block walk: skip extensions, land on the first image descriptor.
    // Every read is bounds-guarded: a payload truncated mid-block must
    // fail with a named cause, never an index error (the MediaIngest
    // streaming path feeds untrusted crawl bytes through here)
    def guard(need: Int, what: String): Unit =
      require(off + need <= p.length, s"media $id: truncated GIF ($what)")
    while ({ guard(1, "block introducer"); u8(off) == 0x21 }) {
      off += 2 // introducer + label
      while ({ guard(1, "extension sub-block"); u8(off) != 0 }) {
        guard(1 + u8(off), "extension sub-block"); off += 1 + u8(off)
      }
      off += 1 // terminator
    }
    require(u8(off) == 0x2C,
      s"media $id: expected an image descriptor, got 0x${u8(off).toHexString}")
    guard(11, "image descriptor")
    val w = le16(off + 5); val h = le16(off + 7)
    require(w > 0 && h > 0 && w.toLong * h <= MaxDecodePixels,
      s"media $id: bad GIF frame dims ${w}x$h")
    val ipacked = u8(off + 9)
    val interlaced = (ipacked & 0x40) != 0
    off += 10
    // effective palette: the frame's LOCAL color table when present
    // (stored right after the descriptor), else the global one
    var palOff = gctOff
    var nColors = gctColors
    if ((ipacked & 0x80) != 0) {
      nColors = 1 << ((ipacked & 7) + 1)
      palOff = off
      guard(3 * nColors, "local color table")
      off += 3 * nColors
    }
    require(nColors > 0,
      s"media $id: GIF frame carries neither a global nor a local color table")
    guard(1, "LZW min code size")
    val minCodeSize = u8(off)
    require(minCodeSize >= 2 && minCodeSize <= 8,
      s"media $id: invalid LZW min code size $minCodeSize")
    // reassemble the data sub-blocks
    off += 1
    val data = new java.io.ByteArrayOutputStream()
    while ({ guard(1, "image data sub-block"); u8(off) != 0 }) {
      val n = u8(off)
      guard(1 + n, "image data sub-block")
      data.write(p, off + 1, n)
      off += 1 + n
    }
    val raw = lzwDecode(id, data.toByteArray, minCodeSize, w * h)
    var k = 0
    while (k < raw.length) {
      require(raw(k) < nColors, s"media $id: pixel index ${raw(k)} " +
        s"outside the $nColors-color palette")
      k += 1
    }
    val indices = if (interlaced) gifDeinterlace(raw, w, h) else raw
    (w, h, indices, java.util.Arrays.copyOfRange(p, palOff, palOff + 3 * nColors),
      nColors)
  }

  private[graft] def decodeOneGif(id: Long, p: Array[Byte]): GifStats = {
    val (w, h, indices, palette, _) = decodeGifIdx(id, p)
    var sr = 0L; var sg = 0L; var sb = 0L; var si = 0L
    var k = 0
    while (k < indices.length) {
      val idx = indices(k)
      sr += palette(3 * idx) & 0xFF; sg += palette(3 * idx + 1) & 0xFF
      sb += palette(3 * idx + 2) & 0xFF; si += idx
      k += 1
    }
    GifStats(id, w, h, w.toLong * h, sr, sg, sb, si)
  }

  /** GIF-variant LZW expansion (the decoder mirror of
    * [[Containers.lzwEncode]]): prefix-linked table (each entry = prior
    * code + one byte — O(1) per entry, strings materialized by walking the
    * chain), width bumps at table-fill, adds capped at the 12-bit space
    * until a CLEAR rebuilds. */
  private[graft] def lzwDecode(id: Long, data: Array[Byte], minCodeSize: Int,
                        nPixels: Int): Array[Int] = {
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Int](4096)
    val out = new Array[Int](nPixels)
    var outN = 0
    var codeSize = minCodeSize + 1
    var next = eoi + 1
    var prev = -1
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    val stack = new Array[Int](4097)
    def firstOf(code: Int): Int = {
      var c = code
      while (c >= clear) c = prefix(c)
      c
    }
    def emit(code: Int, extra: Int): Unit = {
      // walk the prefix chain onto a stack, then unwind in pixel order
      var depth = 0
      if (extra >= 0) { stack(depth) = extra; depth += 1 }
      var c = code
      while (c >= clear) {
        stack(depth) = suffix(c); depth += 1; c = prefix(c)
      }
      stack(depth) = c; depth += 1
      while (depth > 0) {
        depth -= 1
        require(outN < nPixels,
          s"media $id: LZW stream decodes past $nPixels pixels")
        out(outN) = stack(depth); outN += 1
      }
    }
    var done = false
    while (!done) {
      while (bitCnt < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xFFL) << bitCnt
        bitCnt += 8; pos += 1
      }
      require(bitCnt >= codeSize, s"media $id: truncated LZW stream")
      val code = (bitBuf & ((1L << codeSize) - 1)).toInt
      bitBuf >>>= codeSize; bitCnt -= codeSize
      if (code == clear) {
        next = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else if (prev == -1) {
        require(code < clear, s"media $id: first code after CLEAR must be " +
          s"a literal, got $code")
        emit(code, -1)
        prev = code
      } else {
        require(code <= next, s"media $id: LZW code $code beyond table $next")
        if (code == next) emit(prev, firstOf(prev)) // the KwKwK case
        else emit(code, -1)
        if (next < 4096) {
          prefix(next) = prev
          suffix(next) = if (code == next) firstOf(prev) else firstOf(code)
          next += 1
          if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
        }
        prev = code
      }
    }
    require(outN == nPixels,
      s"media $id: LZW stream decoded to $outN pixels, expected $nPixels")
    out
  }

  /** Deterministic GIF fixtures: every doc becomes a single-frame 64-color
    * GIF whose pixel INDEX k is the closed form (doc_id·13 + k/7) mod 64
    * (runs of 7 — exercises LZW run folding and the KwKwK case) and whose
    * palette entry j is ((j·5+7) mod 256, (j·11+3) mod 256, (j·23+1) mod
    * 256) — so an oracle recomputes the full palette-mapped census
    * ARITHMETICALLY while the engine earns it through real LZW
    * expansion. */
  def syntheticGifMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val palette = Array.tabulate(64 * 3) { b =>
      val j = b / 3
      (b % 3 match {
        case 0 => (j * 5 + 7) % 256
        case 1 => (j * 11 + 3) % 256
        case _ => (j * 23 + 1) % 256
      }).toByte
    }
    docs.select(col("doc_id")).as[Long].map { id =>
      val w = (10 + id % 11).toInt
      val h = (8 + (id * 3) % 7).toInt
      val payload = Containers.gifFull(w, h,
        k => ((id * 13 + k / 7) % 64).toInt, palette)
      MediaRow(id, "image", payload, w, h, 1)
    }
  }

  /** REAL baseline JPEG pixel decode — Huffman + dequant + IDCT via
    * [[Jpeg.decodeRgb]] — reduced to the exact per-channel sums (longs,
    * no float accumulation in the census). Pure partition-local map: one
    * image's pixels live at a time per task. */
  def jpegPixelStats(media: Dataset[MediaRow]): Dataset[JpegStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => decodeOneJpeg(m.media_id, m.payload)))
  }

  private[graft] def decodeOneJpeg(id: Long, p: Array[Byte]): JpegStats = {
    val (w, h, rgb) = Jpeg.decodeRgb(id, p)
    var sr = 0L; var sg = 0L; var sb = 0L
    var k = 0
    while (k < rgb.length) {
      sr += rgb(k) & 0xFF; sg += rgb(k + 1) & 0xFF; sb += rgb(k + 2) & 0xFF
      k += 3
    }
    JpegStats(id, w, h, w.toLong * h, sr, sg, sb)
  }

  /** Orientation-sensitive census of one EXIF-oriented JPEG: quadrant
    * gray sums of the image AS DISPLAYED — plain channel sums are
    * transform-invariant and would let a broken orientation path pass,
    * quadrants are not. */
  final case class OrientedQuadrants(media_id: Long, width: Int, height: Int,
                                     orientation: Int, q_tl: Long, q_tr: Long,
                                     q_bl: Long, q_br: Long)

  /** Decode JPEGs, parse the EXIF orientation tag (APP1/TIFF walk), APPLY
    * it, and reduce to displayed-quadrant gray sums. */
  def jpegOrientedQuadrants(media: Dataset[MediaRow]): Dataset[OrientedQuadrants] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, o, rgb) = Jpeg.decodeRgbOriented(m.media_id, m.payload)
      val q = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val k = 3 * (y * w + x)
          val g = ((rgb(k) & 0xFF) + (rgb(k + 1) & 0xFF) + (rgb(k + 2) & 0xFF)) / 3
          q((if (y < h / 2) 0 else 2) + (if (x < w / 2) 0 else 1)) += g
          x += 1
        }
        y += 1
      }
      OrientedQuadrants(m.media_id, w, h, o, q(0), q(1), q(2), q(3))
    })
  }

  /** EXIF-oriented JPEG fixtures: 64×48 DC-only grayscale (8×6 block
    * grid, per-item quadratic cell values) with a REAL APP1 Exif segment
    * declaring orientation 1 + (doc_id mod 8) — every orientation
    * appears, including the four dimension-swapping ones. The closed
    * form + the published tag-274 source-coordinate table replay the
    * displayed quadrants arithmetically. */
  def syntheticExifJpegMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      def cell(bx: Int, by: Int): Int =
        ((id * 41 + bx * bx * (5 + id % 13) + by * by * (3 + id % 11) +
          bx * by * (7 + id % 5)) % 256).toInt
      val grays = Array.tabulate(48)(c => cell(c % 8, c / 8))
      val payload = Jpeg.withExif(
        Jpeg.encodeGrayBlocks(64, 48, grays), (1 + id % 8).toInt)
      MediaRow(id, "image", payload, 64, 48, 1)
    }

  /** Deterministic baseline-JPEG fixtures: every doc becomes a DC-only
    * JPEG (all AC coefficients zero) whose 8×8 block k decodes to the
    * CONSTANT gray (doc_id·31 + k·(7 + doc_id mod 13)) mod 256 — exact by
    * the q00 = 8 closed form ([[Jpeg.encodeGrayBlocks]]) — so an external
    * oracle recomputes the census ARITHMETICALLY while the engine earns
    * it through real Huffman decode + IDCT. Even ids take the 3-component
    * YCbCr wrap (chroma planted at 128 — also exact), odd ids stay
    * grayscale; every 5th id plants restart markers. The per-item
    * MULTIPLICATIVE block coefficient keeps fixtures degeneracy-free. */
  def syntheticJpegMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (8 * (1 + nChars % 3)).toInt
        val h = (8 * (1 + (nChars * 7) % 2)).toInt
        val nBlocks = (w / 8) * (h / 8)
        val grays = Array.tabulate(nBlocks)(k =>
          ((id * 31 + k * (7 + id % 13)) % 256).toInt)
        val payload = Containers.jpegGray(w, h, grays,
          color = id % 2 == 0, restartInterval = if (id % 5 == 0) 2 else 0)
        MediaRow(id, "image", payload, w, h, 1)
      }
  }

  /** Ordered failure-message markers → stable telemetry cause buckets:
    * the package's named-failure contract turned into countable keys.
    * First match wins; anything unrecognized lands in "other" (still
    * counted — no silent truncation of the census itself). */
  private val HealthCauses: Seq[(String, String)] = Seq(
    "non-baseline SOF" -> "unsupported_coding",
    "progressive" -> "malformed_progressive",
    "sampling" -> "unsupported_sampling",
    "precision" -> "unsupported_depth",
    "only 16-bit" -> "unsupported_depth",
    "only 24-bit" -> "unsupported_depth",
    "only 8-bit" -> "unsupported_depth",
    "channels supported" -> "unsupported_channels",
    "decode bound" -> "decode_bound",
    "truncated" -> "truncated",
    "CRC" -> "crc_mismatch",
    "MJPG" -> "unsupported_codec",
    "animated WebP" -> "unsupported_codec",
    "metadata-only" -> "unsupported_codec",
    "BI_RLE4 BMP" -> "unsupported_coding",
    "BI_RLE8 requires" -> "unsupported_coding",
    "BI_RLE4 requires" -> "unsupported_coding",
    "bit counts" -> "unsupported_depth",
    "TIFF compression" -> "unsupported_coding",
    "TIFF predictor" -> "unsupported_coding",
    "planar configuration" -> "unsupported_coding",
    "neither a global nor a local color table" -> "no_color_table",
    // corrupt entropy streams behind a valid header — a real crawl
    // failure mode distinct from scope restrictions (ordered after
    // "truncated" so short payloads keep their more specific bucket)
    "corrupt" -> "corrupt_stream",
    "LZW" -> "corrupt_stream",
    "PackBits" -> "corrupt_stream")

  /** Corpus format-coverage health: attempt the FULL pixel/sample decode
    * for every item and aggregate outcomes by format and NAMED cause —
    * (format, outcome, cause, n_items). Every remaining scope
    * restriction (arithmetic coding, sampling factors beyond 4, 12-bit JPEG,
    * >8-channel audio, non-MJPG AVI codecs) becomes a MEASURED row
    * instead of a silent fallback to header-only: a curation run can
    * report exactly what fraction of its corpus each blind spot costs.
    * Each format's attempt is the decoder the OPERATOR SURFACE actually
    * consumes — GIF takes the COMPOSITED animation decode
    * ([[decodeGifComposited]], what [[decodeVideoRgb]] routes through),
    * so real-crawl partial-frame animations count as decoded, matching
    * what dedup/crop/quality would do with them; the stricter
    * index-census contract ([[decodeGifFrames]]) is an opt-in profile,
    * not a corpus blind spot. The aggregate is |formats × causes|-bounded
    * — never corpus-shaped. */
  def mediaDecodeHealth(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val p = m.payload
      val fmt =
        if (p.length >= 4 && (p(0) & 0xFF) == 0x89 && p(1) == 'P'.toByte &&
          p(2) == 'N'.toByte && p(3) == 'G'.toByte) "png"
        else if (p.length >= 3 && p(0) == 'G'.toByte && p(1) == 'I'.toByte &&
          p(2) == 'F'.toByte) "gif"
        else if (p.length >= 2 && (p(0) & 0xFF) == 0xFF &&
          (p(1) & 0xFF) == 0xD8) "jpeg"
        else if (Webp.isWebp(p)) "webp"
        else if (p.length >= 12 && p(0) == 'R'.toByte && p(1) == 'I'.toByte &&
          p(2) == 'F'.toByte && p(3) == 'F'.toByte)
          (if (p(8) == 'W'.toByte) "wav" else "avi")
        else if (p.length >= 4 && p(0) == 'f'.toByte && p(1) == 'L'.toByte &&
          p(2) == 'a'.toByte && p(3) == 'C'.toByte) "flac"
        else if (p.length >= 4 && p(0) == '.'.toByte && p(1) == 's'.toByte &&
          p(2) == 'n'.toByte && p(3) == 'd'.toByte) "au"
        else if (p.length >= 12 && p(0) == 'F'.toByte && p(1) == 'O'.toByte &&
          p(2) == 'R'.toByte && p(3) == 'M'.toByte && p(8) == 'A'.toByte &&
          p(9) == 'I'.toByte && p(10) == 'F'.toByte && p(11) == 'F'.toByte)
          "aiff"
        else if (Raster.isBmp(p)) "bmp"
        else if (Raster.isTiff(p)) "tiff"
        else if (ContainerMeta.heifFormat(p).isDefined)
          ContainerMeta.heifFormat(p).get
        else if (ContainerMeta.isMp4(p)) "mp4"
        else if (ContainerMeta.isOgg(p)) "ogg"
        else if (ContainerMeta.isMp3(p)) "mp3"
        else "unknown"
      if (fmt == "unknown") (fmt, "skipped", "unknown_magic")
      else
        try {
          fmt match {
            // animated WebP takes the frame-compositing decode the VIDEO
            // surface consumes (the partial-frame-GIF lesson: the census
            // measures the operator-surface truth, and stills reject
            // animations by name either way)
            case "webp" if Webp.hasAnim(p) => Webp.decodeAnimFrames(m.media_id, p)
            // animated PNG likewise takes the compositing walk the video
            // surface consumes
            case "png" if hasApng(p) => decodeApngFrames(m.media_id, p)
            case "png" | "bmp" | "tiff" | "webp" => decodeStillRgba(m.media_id, p)
            case "gif" => decodeGifComposited(m.media_id, p)
            case "jpeg" => Jpeg.decodeRgb(m.media_id, p)
            case "wav" | "flac" | "au" | "aiff" => pcm16Samples(m.media_id, p)
            // the crawl-majority containers have no sample decoder here;
            // run the REAL metadata walk (hostile payloads land their own
            // named causes) and report the codec as evidence
            case "heic" | "avif" =>
              // HEIF stills: the REAL meta/iprp/ipco walk runs (hostile
              // payloads land their own named causes), then the named
              // image-container bucket with the brand as evidence
              val dims = ContainerMeta.heifDims(m.media_id, p)
              throw new IllegalArgumentException(s"media ${m.media_id}: " +
                s"HEIF still image is metadata-only " +
                s"(brand ${ContainerMeta.ftypBrand(p)}, dims " +
                dims.map { case (w, h) => s"${w}x$h" }.getOrElse("unknown") +
                ")")
            case "mp4" =>
              val meta = ContainerMeta.mp4Meta(m.media_id, p)
              val codec = meta.tracks.map(_.codec).filter(_.nonEmpty)
                .headOption.getOrElse("none")
              throw new IllegalArgumentException(s"media ${m.media_id}: " +
                s"MP4 is metadata-only (codec $codec)")
            case "mp3" =>
              val meta = ContainerMeta.mp3Meta(m.media_id, p)
              throw new IllegalArgumentException(s"media ${m.media_id}: " +
                s"MPEG audio is metadata-only (codec ${meta.version}-L${meta.layer})")
            case "ogg" =>
              val meta = ContainerMeta.oggMeta(m.media_id, p)
              throw new IllegalArgumentException(s"media ${m.media_id}: " +
                s"Ogg is metadata-only (codec ${meta.codec})")
            case _ => decodeAviRgb(m.media_id, p)
          }
          (fmt, "decoded", "none")
        } catch {
          case e: IllegalArgumentException =>
            val msg = if (e.getMessage == null) "" else e.getMessage
            val cause = HealthCauses.collectFirst {
              case (marker, key) if msg.contains(marker) => key
            }.getOrElse("other")
            (fmt, "skipped", cause)
        }
    }).toDF("format", "outcome", "cause")
      .groupBy(col("format"), col("outcome"), col("cause"))
      .agg(count(lit(1)).as("n_items"))
  }

  /** Mixed-health fixtures: thirty deterministic corpus cases
    * cycling by doc_id — decodable PNG / 4:2:0 JPEG / interlaced GIF /
    * stereo FLAC / MJPEG AVI / PARTIAL-FRAME animated GIF (disposal +
    * transparency — must land `decoded` now that the census attempts the
    * composited decode, the operator-surface truth) / lossless VP8L WebP
    * / ANIMATED WebP (the ANMF compositing walk) / LOSSY VP8 WebP (the
    * RFC 6386 keyframe decoder) / ALPH-wrapped lossy WebP (the decoded
    * alpha plane) / float32 WAV / G.711 u-law WAV / LZW+predictor TIFF /
    * composited APNG / BI_RLE8 BMP / Sun AU / AIFF / IMA + MS ADPCM WAV
    * — every former named bucket the
    * format work has since closed is MEASURED as `decoded` — alongside
    * the named out-of-scope shapes (arithmetic-coded JPEG,
    * sampling-factor-5 JPEG, truncated PNG, a non-MJPG compressed AVI,
    * unknown magic, JPEG-in-TIFF, HEIC/AVIF image containers, and the
    * crawl-majority metadata-only containers — MP4/avc1, MP3,
    * Ogg/vorbis — whose REAL [[ContainerMeta]] walks run before the
    * named `unsupported_codec` verdict so the census reports the codec
    * as evidence), each planted by patching a REAL encoder's output so
    * the failure path is the real parser, not a synthetic throw. */
  def syntheticHealthMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      def sofPatch(jpeg: Array[Byte], at: Int, value: Int): Array[Byte] = {
        val out = jpeg.clone()
        val sof = out.indices.find(i => (out(i) & 0xFF) == 0xFF &&
          i + 1 < out.length && (out(i + 1) & 0xFF) == 0xC0).get
        out(sof + at) = value.toByte
        out
      }
      val grayJpeg =
        Jpeg.encodeGrayBlocks(16, 16, Array.tabulate(4)(k => (40 + 50 * k) % 256))
      val payload: Array[Byte] = (id % 30) match {
        case 0 => Containers.pngFull(6, 5, i => ((id * 31 + i) % 256).toInt)
        case 1 => Jpeg.encodeGray420(16, 16, Array.tabulate(4)(k =>
          ((id * 37 + k * 11) % 256).toInt))
        case 2 => sofPatch(grayJpeg, 1, 0xC9) // SOF9: arithmetic coding
        case 3 => Containers.gifFull(16, 16,
          k => ((id * 7 + k) % 16).toInt,
          Array.tabulate(16 * 3)(b => ((b / 3) * 16).toByte),
          minCodeSize = 4, interlaced = true)
        case 4 => Flac.encode(Array.tabulate(2 * 300)(i =>
          ((id * 23 + i * 7) % 4096 - 2048).toInt), channels = 2,
          stereoMode = 10)
        case 5 => // chop into the IDAT (merely dropping IEND is tolerated)
          Containers.pngFull(6, 5, i => ((id * 31 + i) % 256).toInt)
            .dropRight(20)
        case 6 => sofPatch(grayJpeg, 11, 0x55) // sampling factor 5x5
          // (factors 1-4 now decode — q289 — so the named bucket moved
          // to the first genuinely-out-of-spec factor)
        case 7 => Containers.aviMjpeg(16, 16, Array(grayJpeg))
        case 8 => Array.tabulate[Byte](16)(i => (id + i).toByte)
        case 10 => // real-crawl partial-frame animation: decodable via the
          // COMPOSITED path the operator surface uses (was `skipped /
          // partial_frame_gif` when the census attempted the index-census
          // contract — the telemetry must measure the real blind spots)
          Containers.gifAnimatedPartial(12, 10, Seq(
            Containers.GifFrameSpec(0, 0, 12, 10,
              k => ((id * 5 + k) % 16).toInt),
            Containers.GifFrameSpec(3, 2, 6, 5,
              k => ((id * 7 + k * 3) % 16).toInt,
              disposal = 2, transparentIdx = 1),
            Containers.GifFrameSpec(1, 1, 4, 4,
              k => ((id * 11 + k) % 16).toInt, disposal = 3)),
            Array.tabulate(16 * 3)(b => ((b / 3) * 16 + 2).toByte))
        case 11 => // lossless VP8L WebP: decodes for real
          Webp.encodeLossless(8, 6, Array.tabulate(48) { k =>
            val v = ((id * 17 + k * 5) % 256).toInt
            0xFF000000 | (v << 16) | (v << 8) | v
          })
        case 12 => // lossy VP8: the dominant crawl profile — now DECODED
          // for real through the RFC 6386 keyframe path (Vp8)
          Vp8Enc.encodeCellGrayWebp(32, 32, Array.tabulate(64) { k =>
            (((k % 8) * (k % 8) * (7 + id % 11) + (k / 8) * 5 + id * 13)
              % 54 * 4 + 16).toInt
          })
        case 13 => // animated WebP: decodable via the ANMF compositing
          // walk the video surface uses (was a named unsupported_codec
          // bucket before the walk existed — the partial-frame-GIF
          // telemetry lesson again)
          Webp.encodeAnimated(8, 6, 0xFF000000 | 0x101010, Seq(
            Webp.AnimFrameSpec(0, 0, 8, 6, Array.tabulate(48) { k =>
              val v = ((id * 13 + k * 7) % 256).toInt
              0xFF000000 | (v << 16) | (v << 8) | v
            }),
            Webp.AnimFrameSpec(2, 2, 4, 2, Array.tabulate(8) { k =>
              val v = ((id * 19 + k * 11) % 256).toInt
              0xFF000000 | (v << 16) | (v << 8) | v
            }, noBlend = false, dispose = true)))
        case 14 => // MP4/avc1: full box walk, then the named codec bucket
          ContainerMeta.mp4Stub("isom", 1000, 5000 + (id % 900) * 10,
            Seq(ContainerMeta.TrackMeta("vide", "avc1",
              (320 + (id % 5) * 16).toInt, (240 + (id % 7) * 16).toInt, 0, 0)))
        case 15 => // MP3 (ID3-tagged on odd ids): frame header parsed for real
          ContainerMeta.mp3Stub(3, 1, 9, (id % 3).toInt, mono = id % 2 == 0,
            id3Size = if (id % 2 == 1) 64 + (id % 37).toInt else 0)
        case 16 => // Ogg/vorbis: page walk + id header, then the named bucket
          ContainerMeta.oggVorbisStub((1 + id % 2).toInt,
            (8000 + (id % 5) * 8000).toInt)
        case 17 => // HEIC: ISO BMFF brand evidence — an IMAGE bucket (the
          // meta/iprp/ipco/ispe walk runs for real), not a video misroute
          ContainerMeta.heifStub("heic",
            (640 + (id % 5) * 32).toInt, (480 + (id % 7) * 24).toInt)
        case 18 => // AVIF: same ISO BMFF layout under the AV1 brand
          ContainerMeta.heifStub("avif",
            (512 + (id % 3) * 64).toInt, (384 + (id % 4) * 48).toInt)
        case 19 => // ALPH-wrapped lossy WebP: the separately-coded alpha
          // plane DECODES too (raw/VP8L-compressed + all three filters),
          // cycled here so the census keeps the whole matrix green
          Vp8Enc.wrapWebpAlpha(Vp8Enc.vp8Payload(
            Vp8Enc.encodeCellGrayWebp(32, 32, Array.tabulate(64)(k =>
              ((k * 7 + id) % 54 * 4 + 16).toInt))), 32, 32,
            alpha = Array.tabulate(32 * 32)(i => ((i * 11 + id) % 256).toInt),
            filter = (id % 4).toInt, compress = id % 2 == 0)
        case 20 => { // float32 WAV: decodes through the fmt-tag walk
          val bb = ByteBuffer.allocate(4 * 64).order(ByteOrder.LITTLE_ENDIAN)
          var s = 0
          while (s < 64) {
            bb.putFloat((((id * 23 + s * 7) % 4096) - 2048).toInt / 32768.0f)
            s += 1
          }
          Containers.wavTyped(1, 16000, bb.array(), 32, fmtTag = 3,
            extensible = id % 2 == 0)
        }
        case 21 => // G.711 u-law telephony clip: decodes
          Containers.wavTyped(1, 8000,
            Array.tabulate(80)(s => ((id * 29 + s * 13) % 256).toByte), 8,
            fmtTag = 7)
        case 22 => // LZW + predictor TIFF (the scanner default): decodes
          Raster.tiff(12, 9, 1, 1, k => ((id * 13 + k * 5) % 251).toInt,
            rowsPerStrip = 4, compression = 5, predictor = 2)
        case 23 => // composited APNG: decodes via the fcTL/fdAT walk
          Containers.pngAnimated(8, 6, Seq(
            Containers.ApngFrameSpec(0, 0, 8, 6, { i =>
              if (i % 4 == 3) 255 else ((id * 17 + i) % 256).toInt
            }, dispose = (id % 2).toInt),
            Containers.ApngFrameSpec(2, 1, 4, 3, { i =>
              if ((i / 4) % 3 == 0) 0
              else if (i % 4 == 3) 255 else ((id * 19 + i) % 256).toInt
            }, blend = 1)))
        case 24 => // BI_RLE8 BMP: decodes through the run-length walk
          Raster.bmp8Rle(10, 8, k => ((id * 7 + (k / 3)) % 251).toInt,
            Containers.GrayRamp)
        case 25 => // JPEG-in-TIFF: a named scope restriction
          {
            val t = Raster.tiff(8, 6, 1, 1, k => ((id + k) % 251).toInt)
            val n = (t(8) & 0xFF) | ((t(9) & 0xFF) << 8)
            val at = (0 until n).map(k => 10 + 12 * k).find(e =>
              ((t(e) & 0xFF) | ((t(e + 1) & 0xFF) << 8)) == 259).get
            t(at + 8) = 7
            t
          }
        case 26 => // Sun AU (u-law): decodes through the container walk
          Containers.au(1, 8000, 1,
            Array.tabulate(64)(s => ((id * 37 + s * 11) % 256).toByte))
        case 27 => // AIFF PCM16 BE with the 80-bit extended rate: decodes
          {
            val b = new Array[Byte](2 * 60)
            var s = 0
            while (s < 60) {
              val v = ((id * 23 + s * 7) % 4096 - 2048).toInt
              b(2 * s) = ((v >> 8) & 0xFF).toByte
              b(2 * s + 1) = (v & 0xFF).toByte
              s += 1
            }
            Containers.aiff(1, 44100, 16, b)
          }
        case 28 => // IMA ADPCM WAV: decodes through the block walk
          {
            val b = new Array[Byte](24) // two 12-byte blocks
            val p0 = ((id * 23) % 4096 - 2048).toInt
            b(0) = (p0 & 0xFF).toByte; b(1) = ((p0 >> 8) & 0xFF).toByte
            val p1 = ((id * 23 + 131) % 4096 - 2048).toInt
            b(12) = (p1 & 0xFF).toByte; b(13) = ((p1 >> 8) & 0xFF).toByte
            Containers.wavIma(1, 8000, 12, 17, b)
          }
        case 29 => // MS ADPCM WAV: decodes through the predicted blocks
          {
            val b = new Array[Byte](12)
            val p0 = ((id * 31) % 4096 - 2048).toInt
            b(0) = 0; b(1) = 16; b(2) = 0
            b(3) = (p0 & 0xFF).toByte; b(4) = ((p0 >> 8) & 0xFF).toByte
            b(5) = (p0 & 0xFF).toByte; b(6) = ((p0 >> 8) & 0xFF).toByte
            Containers.wavMsAdpcm(1, 8000, 12, 12, b)
          }
        case _ => // a compressed chunk under a DIB (non-MJPG) strf
          val avi = Containers.aviFull(6, 5, 1,
            (_, x, y, _) => (x * 7 + y * 13) % 256)
          val out = avi.clone()
          val movi = out.indices.find(i => out(i) == '0'.toByte &&
            out(i + 1) == '0'.toByte && out(i + 2) == 'd'.toByte &&
            out(i + 3) == 'b'.toByte).get
          out(movi + 3) = 'c'.toByte
          out
      }
      MediaRow(id, "mixed", payload, 0, 0, 1)
    }

  /** One row per payload from the [[ContainerMeta]] walks — nullable
    * fields where a format has no such concept (image dims for MP3,
    * duration for Ogg). `codec` carries the evidence a curation pipeline
    * filters on: the stsd sample-entry fourcc (avc1/hev1/mp4a/…), the
    * MPEG version+layer, or the Ogg identification codec. */
  final case class ContainerMetaRow(media_id: Long, format: String,
      codec: String, width: Option[Int], height: Option[Int],
      duration_ms: Option[Long], sample_rate: Option[Int],
      channels: Option[Int], bitrate_kbps: Option[Int],
      n_tracks: Option[Int])

  /** Metadata census over the crawl-majority containers (MP4/MOV, MPEG
    * audio, Ogg) — the walk parses geometry/timing/codec from published
    * header layouts WITHOUT decoding a single sample, so it runs at scan
    * speed: a pure partition-local `mapPartitions` (no shuffle), each
    * walk touching only the header boxes/pages of its payload. At 100 TB
    * this is the operator that turns "42% of the crawl is unknown_magic"
    * into "31% is avc1 video we can route to the video pipeline". MP4
    * reports the video track's dims + the audio track's channels/rate
    * when both exist; MP3 reports the first frame header; Ogg reports
    * the identification header. */
  def containerMediaMeta(media: Dataset[MediaRow]): Dataset[ContainerMetaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val id = m.media_id; val p = m.payload
        val heif = ContainerMeta.heifFormat(p)
        if (heif.isDefined) {
          // HEIF stills ride ISO BMFF but live under meta, not moov: an
          // IMAGE row (brand as codec evidence, ispe dims) — not a
          // "video container" misroute
          val dims = ContainerMeta.heifDims(id, p)
          ContainerMetaRow(id, heif.get, ContainerMeta.ftypBrand(p),
            dims.map(_._1), dims.map(_._2), None, None, None, None, None)
        } else if (ContainerMeta.isMp4(p)) {
          val meta = ContainerMeta.mp4Meta(id, p)
          val video = meta.tracks.find(_.handler == "vide")
          val audio = meta.tracks.find(_.handler == "soun")
          val codec = video.orElse(meta.tracks.headOption).map(_.codec)
            .filter(_.nonEmpty).getOrElse("none")
          ContainerMetaRow(id, "mp4", codec,
            video.map(_.width), video.map(_.height), Some(meta.durationMs),
            audio.map(_.sampleRate), audio.map(_.channels), None,
            Some(meta.tracks.size))
        } else if (ContainerMeta.isOgg(p)) {
          val meta = ContainerMeta.oggMeta(id, p)
          ContainerMetaRow(id, "ogg", meta.codec, None, None, None,
            Some(meta.sampleRate), Some(meta.channels), None, None)
        } else if (ContainerMeta.isMp3(p)) {
          val meta = ContainerMeta.mp3Meta(id, p)
          ContainerMetaRow(id, "mp3", s"${meta.version}-L${meta.layer}",
            None, None, None, Some(meta.sampleRate), Some(meta.channels),
            Some(meta.bitrateKbps), None)
        } else
          ContainerMetaRow(id, "unknown", "none", None, None, None, None,
            None, None, None)
      }
    }
  }

  final case class AudioTagRow(media_id: Long, frame_id: String,
                               value: String)

  final case class ContainerTagRow(media_id: Long, format: String,
                                   field: String, value: String)

  /** ID3v2 frame ids → the unified curation field vocabulary. */
  private val Id3Fields = Map("TIT2" -> "title", "TPE1" -> "artist",
    "TALB" -> "album", "TCON" -> "genre", "TDRC" -> "date",
    "TYER" -> "date")

  /** Unified text-metadata extraction across the three majority audio/
    * video containers — the labels curation pipelines filter on, under
    * ONE field vocabulary (title/artist/album/date/genre): MP4 walks
    * moov→udta→meta→ilst (©nam/©ART/©alb UTF-8 `data` atoms), Ogg
    * reassembles the comment-header packet across pages (Vorbis comment
    * block behind 0x03"vorbis" or "OpusTags"; field names are
    * case-insensitive per spec), MP3 maps ID3v2 text frames. One row
    * per tag in container order; untagged payloads contribute nothing
    * (absence is data). Partition-local flatMap over header bytes only
    * — scan speed, no shuffle. */
  def containerTextTags(media: Dataset[MediaRow]): Dataset[ContainerTagRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val id = m.media_id; val p = m.payload
      if (ContainerMeta.isMp4(p))
        ContainerMeta.mp4TextTags(id, p).map { case (f, v) =>
          ContainerTagRow(id, "mp4", f, v)
        }
      else if (ContainerMeta.isOgg(p))
        ContainerMeta.oggTextComments(id, p).map { case (f, v) =>
          ContainerTagRow(id, "ogg",
            f.toLowerCase(java.util.Locale.ROOT), v)
        }
      else if (ContainerMeta.isMp3(p))
        ContainerMeta.id3TextFrames(id, p).map { case (f, v) =>
          ContainerTagRow(id, "mp3",
            Id3Fields.getOrElse(f, f.toLowerCase(java.util.Locale.ROOT)), v)
        }
      else Seq.empty
    })
  }

  /** Tagged-container fixtures cycling the four labeled shapes by
    * doc_id mod 4 — an ilst-tagged MP4, a Vorbis stream whose comment
    * header carries mixed-case field names (earning the spec's
    * case-insensitivity) and, on ids divisible by 7, a >255-byte
    * comment packet SPANNING two Ogg pages (earning the RFC 3533
    * cross-page reassembly), an OpusTags stream, and an ID3v2-tagged
    * MP3 exercising extended headers (ids divisible by 5) and
    * unsynchronisation (ids divisible by 3). Every field/value is a
    * closed form of doc_id, so the oracle replays all four walks. */
  def syntheticTaggedContainerMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val payload: Array[Byte] = (id % 4) match {
        case 0 =>
          ContainerMeta.mp4Stub("mp42", 600, 600 + (id * 11) % 6000,
            Seq(ContainerMeta.TrackMeta("vide", "avc1",
              (320 + (id % 5) * 16).toInt, (240 + (id % 7) * 16).toInt, 0, 0)),
            tags = Seq(
              "title" -> s"mv-title-${(id * 7) % 1000}",
              "artist" -> s"mv-artist-${(id * 13) % 100}") ++
              (if (id % 3 == 0) Seq("album" -> s"mv-album-${(id * 11) % 50}")
               else Seq.empty))
        case 1 =>
          val long = id % 7 == 0
          ContainerMeta.oggVorbisTaggedStub((1 + id % 2).toInt, 44100,
            Seq(
              "Title" -> s"og-title-${(id * 7) % 1000}",
              "ARTIST" -> s"og-artist-${(id * 13) % 100}") ++
              (if (id % 5 == 0) Seq("genre" -> s"og-genre-${(id * 3) % 20}")
               else Seq.empty) ++
              (if (long) Seq("DESCRIPTION" -> "x" * (256 + (id % 40)).toInt)
               else Seq.empty),
            spanPages = long)
        case 2 =>
          ContainerMeta.oggOpusTaggedStub(2, 48000, Seq(
            "TITLE" -> s"op-title-${(id * 7) % 1000}",
            "ALBUM" -> s"op-album-${(id * 11) % 50}"))
        case _ =>
          ContainerMeta.mp3StubTagged(Seq(
            "TIT2" -> s"id3-title-${(id * 7) % 1000}",
            "TPE1" -> s"id3-artist-${(id * 13) % 100}"),
            v4 = id % 2 == 0, extHeader = id % 5 == 0, unsync = id % 3 == 0)
      }
      MediaRow(id, "container", payload, 0, 0, 1)
    }

  /** ID3v2 text-frame extraction over audio payloads — the metadata
    * curation pipelines filter and label audio on (title, artist,
    * album, …). One row per text frame in frame order; payloads without
    * a tag contribute nothing (absence is data). Partition-local
    * flatMap over header bytes only — scan speed, no shuffle. */
  def audioTagMeta(media: Dataset[MediaRow]): Dataset[AudioTagRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      ContainerMeta.id3TextFrames(m.media_id, m.payload).map {
        case (fid, v) => AudioTagRow(m.media_id, fid, v)
      }
    })
  }

  /** ID3-tagged MP3 fixtures: every doc carries TIT2 + TPE1 (and TALB
    * on every 3rd), planted as closed forms of doc_id, inside a real
    * ID3v2.4 (even ids) or v2.3 (odd ids) tag — so BOTH frame-size
    * layouts parse — with the declared text encoding cycling latin-1 /
    * UTF-16+BOM / UTF-16BE per frame (ASCII content, so every charset
    * round-trips the same string) and zero-padding after the last frame
    * on every 5th doc (the legal layout real taggers emit). */
  def syntheticTaggedAudioMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val frames = Seq(
        "TIT2" -> s"title-${(id * 7) % 1000}",
        "TPE1" -> s"artist-${(id * 13) % 100}") ++
        (if (id % 3 == 0) Seq("TALB" -> s"album-${(id * 11) % 50}")
         else Seq.empty)
      val payload = ContainerMeta.mp3StubTagged(frames, v4 = id % 2 == 0,
        padding = if (id % 5 == 0) 32 else 0)
      MediaRow(id, "audio", payload, 0, 0, 1)
    }

  /** Container fixtures cycling the five crawl-majority shapes by
    * doc_id mod 5 — an avc1 video MP4, a two-track hev1+mp4a MP4 (dims
    * from the video trak, channels/rate from the AudioSampleEntry), an
    * MPEG1/2 Layer-III stream (ID3v2-tagged on odd ids, so the syncsafe
    * skip is earned), Ogg/vorbis, and Ogg/opus. Every parsed field is a
    * closed form of doc_id, so the oracle replays the whole census. */
  def syntheticContainerMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val payload: Array[Byte] = (id % 5) match {
        case 0 =>
          ContainerMeta.mp4Stub("isom", 1000, 1000 + (id * 7) % 9000,
            Seq(ContainerMeta.TrackMeta("vide", "avc1",
              (320 + (id % 5) * 16).toInt, (240 + (id % 7) * 16).toInt, 0, 0)))
        case 1 =>
          ContainerMeta.mp4Stub("mp42", 600, 600 + (id * 11) % 6000,
            Seq(
              ContainerMeta.TrackMeta("vide", "hev1",
                (640 + (id % 3) * 64).toInt, (360 + (id % 4) * 36).toInt, 0, 0),
              ContainerMeta.TrackMeta("soun", "mp4a", 0, 0,
                (1 + id % 2).toInt,
                Array(32000, 44100, 48000)((id % 3).toInt))))
        case 2 =>
          ContainerMeta.mp3Stub(
            verBits = if (id % 2 == 0) 3 else 2, layerBits = 1,
            brIdx = (1 + id % 7).toInt, srIdx = (id % 3).toInt,
            mono = id % 4 < 2,
            id3Size = if (id % 2 == 1) 64 + (id % 37).toInt else 0)
        case 3 =>
          ContainerMeta.oggVorbisStub((1 + id % 2).toInt,
            (8000 + (id % 5) * 8000).toInt)
        case _ =>
          ContainerMeta.oggOpusStub((1 + id % 2).toInt, 48000)
      }
      MediaRow(id, "container", payload, 0, 0, 1)
    }

  /** Animated-WebP fixtures exercising the ANMF compositing algebra —
    * the q267 canvas story in WebP's vocabulary: a full-canvas base
    * frame whose DISPOSE bit alternates by parity (restore-to-background
    * after presentation), a centered BLENDED rect whose alpha-0 diagonal
    * shows the underlying canvas through (base content, or the restored
    * background), and an overlapping opaque NO-BLEND rect that wins
    * where rects overlap. All pixels use alpha 0 or 255, so the spec
    * blend formula is exact and the whole fixture replays
    * arithmetically; frames are genuine [[Webp.encodeLossless]] VP8L
    * streams inside real ANMF chunks. */
  def syntheticAnimatedWebpMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      def gray(v: Int, a: Int): Int = (a << 24) | (v << 16) | (v << 8) | v
      val f0 = Array.tabulate(256) { k =>
        gray((((id * 29 + (k % 16) * 5 + (k / 16) * 7) % 64) * 4 + 2).toInt, 255)
      }
      val f1 = Array.tabulate(64) { k =>
        val x = k % 8; val y = k / 8
        if ((x + y) % 3 == 1) gray(0, 0) // punch through to the canvas
        else gray((((id * 13 + x * 3 + y * 5) % 63) * 4 + 2).toInt, 255)
      }
      val f2 = Array.tabulate(64) { k =>
        gray((((id * 17 + (k % 8) * 9 + (k / 8) * 3) % 64) * 4 + 2).toInt, 255)
      }
      val payload = Webp.encodeAnimated(16, 16, 0xFF000000 | 0x080808, Seq(
        Webp.AnimFrameSpec(0, 0, 16, 16, f0, noBlend = true,
          dispose = id % 2 == 0),
        Webp.AnimFrameSpec(4, 4, 8, 8, f1, noBlend = false),
        Webp.AnimFrameSpec(8, 0, 8, 8, f2, noBlend = true)))
      MediaRow(id, "video", payload, 16, 16, 3)
    }

  /** The still-image fixture canvas: (16 + id mod 5) × (16 + 3·id mod 5). */
  private def stillDims(id: Long): (Int, Int) =
    ((16 + id % 5).toInt, (16 + (id * 3) % 5).toInt)

  /** The q271 still-image closed form: quadratic position terms with
    * per-item prime-modulus coefficients (the degeneracy rule), mod `m`. */
  private def q271Value(id: Long, x: Int, y: Int, m: Int): Int =
    ((x.toLong * x * (7 + id % 29) + y.toLong * y * (11 + id % 17) +
      x.toLong * y * (5 + id % 11) + id * 23) % m).toInt

  /** GIF layout-variant fixtures: single-frame GIFs cycling through the
    * full descriptor-layout surface — INTERLACED stream order on even
    * ids, a LOCAL color table (and NO global one) on ids divisible by 3,
    * both together on ids divisible by 6, the plain layout otherwise.
    * The palette is a grayscale identity ramp and the planted index
    * formula is POSITION-dependent, so the census must be position-
    * sensitive (block means) — a de-interlace bug permutes rows and
    * changes means, which a whole-image sum census cannot see. */
  def syntheticGifVariantMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      val payload = Containers.gifFull(w, h,
        k => ((id * 7 + (k % w) * 3 + (k / w) * 5) % 64).toInt, Containers.Ramp64,
        interlaced = id % 2 == 0, localTable = id % 3 == 0)
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** Uncompressed-raster fixtures across the BMP/TIFF layout matrix:
    * bottom-up and top-down 24-bit BMP, 8-bit palette BMP (grayscale
    * identity ramp), 32-bit BMP with a PLANTED nonzero reserved byte
    * (which the decode must drop — the 16-bit-PNG low-byte lesson),
    * little- and big-endian TIFF, multi-strip gray, RGB, palette (16-bit
    * ColorMap high-byte reduction), and WhiteIsZero gray storing the
    * INVERTED value so a decoder that skips the inversion mismatches.
    * All eight variants plant one displayed-gray closed form — quadratic
    * position terms with per-item prime-modulus coefficients (the
    * degeneracy rule) — so the oracle replays a single formula while the
    * engine earns each layout differently; the census is the
    * position-sensitive block-means table, which a bottom-up/top-down
    * row flip or a strip mis-stitch cannot survive. */
  def syntheticRasterMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def g(x: Int, y: Int): Int = q271Value(id, x, y, 251)
      def rgb(k: Int): Int = g((k / 3) % w, (k / 3) / w)
      def gray(k: Int): Int = g(k % w, k / w)
      val payload: Array[Byte] = (id % 8) match {
        case 0 => Raster.bmp24(w, h, rgb)
        case 1 => Raster.bmp24(w, h, rgb, topDown = true)
        case 2 => Raster.bmp8(w, h, gray, Containers.GrayRamp)
        case 3 => Raster.bmp32(w, h, rgb, reserved = (id % 251).toInt)
        case 4 => Raster.tiff(w, h, photometric = 1, spp = 1, gray,
          rowsPerStrip = 3)
        case 5 => Raster.tiff(w, h, photometric = 2, spp = 3, rgb,
          bigEndian = true)
        case 6 => Raster.tiff(w, h, photometric = 3, spp = 1, gray,
          palette = Containers.GrayRamp)
        case _ => Raster.tiff(w, h, photometric = 0, spp = 1,
          k => 255 - gray(k), bigEndian = true, rowsPerStrip = 5)
      }
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** Lossy-WebP fixtures: 32x32 canvases of 4x4-px uniform cells on the
    * 8x8 block grid (per-doc quadratic coefficients from prime-modulus
    * ranges, *4+16 family (values 16..228, the strictly-increasing window of the display map) — the degeneracy rule), encoded through
    * the REAL VP8 LOSSY pipeline with exactly-quantizing coefficients
    * ([[Vp8Enc.encodeCellGrayWebp]]), so the decoded DISPLAY — fancy
    * upsampling, fixed-point YUV→RGB and all — replays closed-form via
    * [[Vp8Enc.displayedGray]]. */
  def syntheticLossyWebpMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val cells = Array.tabulate(64) { k =>
        val cx = k % 8; val cy = k / 8
        (((cx * cx * (11 + id % 23) + cy * cy * (5 + id % 19) +
          cx * cy * (3 + id % 13) + id * 17) % 54) * 4 + 16).toInt
      }
      MediaRow(id, "image", Vp8Enc.encodeCellGrayWebp(32, 32, cells),
        32, 32, 1)
    }

  /** WebP VP8L fixtures across the DECODER-PATH matrix — six variants by
    * doc_id mod 6, all real [[Webp.encodeLossless]] output:
    * plain literals / subtract-green / color-indexing with sub-byte
    * bundling (16-level quantized grays) / a rotating spatial predictor
    * mode / color-cache + LZ77 (rows planted in identical pairs, so the
    * encoder emits genuine dist-w back-references and cache hits) /
    * the cross-color transform with id-dependent signed multipliers.
    * Every variant plants ONE displayed-gray closed form (quadratic
    * position terms, per-item prime-modulus coefficients — the
    * degeneracy rule), modified arithmetically where the variant
    * requires it (quantization for the palette, row-pairing for LZ77),
    * so the oracle replays a single CASE while the engine earns each
    * value through a different bitstream path. VP8L is LOSSLESS —
    * replay is exact. Variant 5 additionally ships inside a VP8X
    * extended container (the layout real encoders emit), pinning the
    * chunk walk past the canvas header. */
  def syntheticWebpMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def f(x: Int, y: Int): Int =
        ((x.toLong * x * (5 + id % 31) + y.toLong * y * (7 + id % 23) +
          x.toLong * y * (3 + id % 13) + id * 29) % 241).toInt
      def grayImg(g: (Int, Int) => Int): Array[Int] =
        Array.tabulate(w * h) { k =>
          val v = g(k % w, k / w)
          0xFF000000 | (v << 16) | (v << 8) | v
        }
      val payload: Array[Byte] = (id % 6) match {
        case 0 => Webp.encodeLossless(w, h, grayImg(f))
        case 1 => Webp.encodeLossless(w, h, grayImg(f),
          Webp.LosslessOptions(subtractGreen = true))
        case 2 => Webp.encodeLossless(w, h,
          grayImg((x, y) => (f(x, y) % 16) * 16 + 3),
          Webp.LosslessOptions(palette = true))
        case 3 => Webp.encodeLossless(w, h, grayImg(f),
          Webp.LosslessOptions(predictorMode = (id % 14).toInt,
            predictorBits = 3))
        case 4 => Webp.encodeLossless(w, h,
          grayImg((x, y) => f(x, y - y % 2)),
          Webp.LosslessOptions(cacheBits = 6, lz77 = true))
        case _ => Webp.wrapVp8x(Webp.encodeLossless(w, h, grayImg(f),
          Webp.LosslessOptions(colorTransform = Some((
            (16 + id % 64).toInt, (-24 + id % 48).toInt,
            (5 + id % 32).toInt)))), w, h)
      }
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** G.711 WAV fixtures — the telephony companding codecs (u-law on
    * even ids, A-law on odd): the code BYTES are planted directly
    * ((id·29 + p·13) mod 256, every code point exercised), and the
    * oracle replays the published segment/mantissa expansion in integer
    * SQL — the engine earns the same values through the fmt-tag walk
    * and the companded-byte decode. */
  def syntheticWavG711Media(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (200 + (id * 7) % 200).toInt
      val body = Array.tabulate(n)(p => ((id * 29 + p * 13) % 256).toByte)
      MediaRow(id, "audio",
        Containers.wavTyped(1, 8000, body, 8,
          fmtTag = if (id % 2 == 0) 7 else 6), 0, 0, 1)
    }

  /** IMA ADPCM WAV fixtures — block-structured 4-bit telephony/game
    * audio: every block plants its PREDICTOR (the header sample) with
    * step index 0 and all-zero nibbles, so step 7 yields diff 0 and the
    * whole block decodes to the planted constant — the closed form the
    * oracle replays, while the engine earns it through the real block
    * walk (header parse, nibble groups, clamps). The full nibble math
    * (all 16 codes, index adaptation, both clamps, stereo round-robin)
    * is pinned by hand-computed vectors in MultimodalSpec. */
  def syntheticWavAdpcmMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val nBlocks = (3 + id % 3).toInt
      val blockAlign = 12 // 4 header + 8 nibble bytes = 17 samples
      val body = new Array[Byte](nBlocks * blockAlign)
      var b = 0
      while (b < nBlocks) {
        val pred = ((id * 23 + b * 131) % 4096 - 2048).toInt
        body(b * blockAlign) = (pred & 0xFF).toByte
        body(b * blockAlign + 1) = ((pred >> 8) & 0xFF).toByte
        // index 0, reserved 0, nibbles all 0 (already zeroed)
        b += 1
      }
      MediaRow(id, "audio",
        Containers.wavIma(1, 8000, blockAlign, 17, body), 0, 0, 1)
    }

  /** Legacy audio-container fixtures — Sun AU and AIFF, the
    * pre-streaming-era formats old crawls still carry: AU u-law (its
    * default encoding), AU PCM16 BE, AIFF PCM16 BE (sample rate through
    * a REAL 80-bit extended float), and AIFF signed PCM8, cycling by
    * id mod 4. The PCM profiles plant the q270 value family and the
    * u-law profile plants raw code bytes, so the oracle replays both
    * paths through the published expansions. */
  def syntheticLegacyAudioMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (200 + (id * 7) % 200).toInt
      def k(pp: Int): Int = ((id * 23 + pp.toLong * 7) % 4096 - 2048).toInt
      def pcm16be(): Array[Byte] = {
        val b = new Array[Byte](2 * n)
        var pp = 0
        while (pp < n) {
          b(2 * pp) = ((k(pp) >> 8) & 0xFF).toByte
          b(2 * pp + 1) = (k(pp) & 0xFF).toByte
          pp += 1
        }
        b
      }
      val payload = (id % 4).toInt match {
        case 0 => Containers.au(1, 8000, 1,
          Array.tabulate(n)(pp => ((id * 29 + pp * 13) % 256).toByte))
        case 1 => Containers.au(1, 8000, 3, pcm16be())
        case 2 => Containers.aiff(1, 44100, 16, pcm16be())
        case _ => Containers.aiff(1, 44100, 8,
          Array.tabulate(n)(pp =>
            (((id * 29 + pp * 13) % 256) - 128).toByte))
      }
      MediaRow(id, "audio", payload, 0, 0, 1)
    }

  /** MS ADPCM WAV fixtures — the other legacy WAV block codec: every
    * block plants coefficient pair 0 (256, 0 — prediction = previous
    * sample exactly, even for negative values since p·256 >> 8 has no
    * remainder) with sample1 = sample2 = the planted value and all-zero
    * nibbles, so the block decodes to its planted constant — the closed
    * form the oracle replays while the engine earns it through the real
    * header parse, coefficient lookup, and nibble walk. The full
    * prediction/adaptation math is hand-vector-pinned in spec. */
  def syntheticWavMsAdpcmMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val nBlocks = (3 + id % 3).toInt
      val blockAlign = 12 // 7 header + 5 nibble bytes = 12 samples
      val body = new Array[Byte](nBlocks * blockAlign)
      var b = 0
      while (b < nBlocks) {
        val pred = ((id * 31 + b * 137) % 4096 - 2048).toInt
        val o = b * blockAlign
        body(o) = 0 // predictor index 0: coefficients (256, 0)
        body(o + 1) = 16; body(o + 2) = 0 // iDelta 16
        body(o + 3) = (pred & 0xFF).toByte
        body(o + 4) = ((pred >> 8) & 0xFF).toByte // sample1
        body(o + 5) = (pred & 0xFF).toByte
        body(o + 6) = ((pred >> 8) & 0xFF).toByte // sample2
        b += 1
      }
      MediaRow(id, "audio",
        Containers.wavMsAdpcm(1, 8000, blockAlign, 12, body), 0, 0, 1)
    }

  /** COMPRESSED-TIFF fixtures — the strip codecs real scanner/archival
    * TIFFs actually use: LZW (with the spec's early code-size change),
    * Deflate, and PackBits, with and without the horizontal-differencing
    * predictor, across gray/RGB/palette photometrics, both byte orders,
    * and ragged multi-strip layouts. All eight variants plant the q271
    * closed form (quadratic position terms, per-item prime-modulus
    * coefficients), so the oracle replays ONE formula while the engine
    * earns each variant through a different codec x predictor path; the
    * census is the position-sensitive block-means table (a predictor
    * mis-accumulation corrupts trailing columns, which means catch). */
  def syntheticTiffCompressedMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def g(x: Int, y: Int): Int = q271Value(id, x, y, 251)
      def rgb(k: Int): Int = g((k / 3) % w, (k / 3) / w)
      def gray(k: Int): Int = g(k % w, k / w)
      val payload: Array[Byte] = (id % 8) match {
        case 0 => Raster.tiff(w, h, 1, 1, gray, rowsPerStrip = 3,
          compression = 5)
        case 1 => Raster.tiff(w, h, 2, 3, rgb, compression = 5,
          predictor = 2) // the scanner-default combo: LZW + predictor
        case 2 => Raster.tiff(w, h, 1, 1, gray, bigEndian = true,
          compression = 8, predictor = 2)
        case 3 => Raster.tiff(w, h, 2, 3, rgb, compression = 8)
        case 4 => Raster.tiff(w, h, 1, 1, gray, rowsPerStrip = 5,
          compression = 32773)
        case 5 => Raster.tiff(w, h, 2, 3, rgb, compression = 32773)
        case 6 => Raster.tiff(w, h, 3, 1, gray, palette = Containers.GrayRamp,
          compression = 5)
        case _ => Raster.tiff(w, h, 1, 1, gray, bigEndian = true,
          rowsPerStrip = 4, compression = 5, predictor = 2)
      }
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** BI_RLE8 BMP fixtures: run-length-compressed palette BMPs (the
    * icon/screenshot era's dominant compressed BMP). Even ids plant a
    * RUN-FRIENDLY form (constant over 3-px x-spans — the encoder emits
    * encoded runs), odd ids the q271 quadratic (mostly absolute mode),
    * so BOTH RLE modes land in the oracle row. Identity-ramp palette;
    * block-means census (an RLE cursor bug moves pixels). */
  def syntheticBmpRleMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def g(x: Int, y: Int): Int =
        q271Value(id, if (id % 2 == 0) x / 3 else x, y, 251)
      MediaRow(id, "image",
        Raster.bmp8Rle(w, h, k => g(k % w, k / w), Containers.GrayRamp), w, h, 1)
    }

  /** BI_RLE4 BMP fixtures — the 4-bit icon-era sibling of q287: every
    * row alternates ABSOLUTE mode (packed nibbles, word-aligned) and
    * two-pixel ENCODED runs (the run byte's alternating nibbles), so
    * both RLE4 modes land in the oracle. 16-entry ×17 gray ramp; the
    * planted quadratic reduces mod 16 and scales by 17 in one closed
    * form; block-means census. */
  def syntheticBmpRle4Media(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pal16 = Array.tabulate(16 * 3)(b => ((b / 3) * 17).toByte)
    docs.select(col("doc_id")).as[Long].map { id =>
      val (w, h) = stillDims(id)
      def g4(x: Int, y: Int): Int = q271Value(id, x, y, 16)
      MediaRow(id, "image",
        Raster.bmp4Rle(w, h, k => g4(k % w, k / w), pal16), w, h, 1)
    }
  }

  /** Deep/tiled TIFF fixtures — scanner masters and large-image layouts:
    * 16-bit samples in BOTH byte orders (planted HIGH byte over low-byte
    * noise the reduction must drop — the PNG-16 lesson; II stores the
    * high byte SECOND, MM first, so a byte-order bug reads noise) and
    * the tiled layout (tags 322-325, 16x16 tiles over 16-20-px canvases
    * → edge tiles carry zero padding the clip must drop) across the
    * strip codecs. One q271 closed form; block-means census. */
  def syntheticTiffDeepMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def g(x: Int, y: Int): Int = q271Value(id, x, y, 251)
      def gray(k: Int): Int = g(k % w, k / w)
      def rgb(k: Int): Int = g((k / 3) % w, (k / 3) / w)
      def noise(k: Int): Int = ((id + k) * 31 + 5).toInt % 256
      // 16-bit raw-byte suppliers: hi = planted, lo = noise, positioned
      // by the file's byte order
      def deep16(value: Int => Int, le: Boolean): Int => Int = { k =>
        val hiAt = if (le) 1 else 0
        if (k % 2 == hiAt) value(k / 2) else noise(k)
      }
      val payload: Array[Byte] = (id % 6) match {
        case 0 => Raster.tiff(w, h, 1, 1, deep16(gray, le = true),
          bitDepth = 16, rowsPerStrip = 3)
        case 1 => Raster.tiff(w, h, 2, 3, deep16(rgb, le = false),
          bigEndian = true, bitDepth = 16)
        case 2 => Raster.tiff(w, h, 1, 1, gray, tile = 16)
        case 3 => Raster.tiff(w, h, 2, 3, rgb, tile = 16,
          compression = 5, predictor = 2)
        case 4 => Raster.tiff(w, h, 1, 1, deep16(gray, le = false),
          bigEndian = true, bitDepth = 16, tile = 16, compression = 8)
        case _ => Raster.tiff(w, h, 1, 1, gray, tile = 16,
          compression = 32773)
      }
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** PNG COLOR-TYPE matrix fixtures: every doc cycles through the five
    * 8-bit color types (gray / RGB / palette / gray+alpha / RGBA — real
    * crawls are mostly RGB and palette, which were out of scope until
    * now), ADAM7-interlaced on even ids, rotating scanline filters.
    * All types plant the SAME per-pixel gray so one census formula
    * covers the matrix (palette goes through an identity-ramp lookup —
    * its own CASE); the census is the position-sensitive block-means
    * table, which a mis-scattered ADAM7 pass cannot survive. */
  def syntheticPngVariantMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      def g(i: Int): Int = ((id * 13 + (i % w) * 3 + (i / w) * 7) % 256).toInt
      val colorType = Array(0, 2, 3, 4, 6)((id % 5).toInt)
      val interlaced = id % 2 == 0
      val filterType = (id % 5).toInt
      val payload = colorType match {
        case 0 => Containers.pngTyped(w, h, 0, g, filterType = filterType,
          interlaced = interlaced)
        case 2 => Containers.pngTyped(w, h, 2, k => g(k / 3),
          filterType = filterType, interlaced = interlaced)
        case 3 => Containers.pngTyped(w, h, 3, i => g(i) % 64,
          palette = Containers.Ramp64,
          trns = if (id % 10 == 2) Array.fill(64)(200.toByte) else null,
          filterType = filterType, interlaced = interlaced)
        case 4 => Containers.pngTyped(w, h, 4,
          k => if (k % 2 == 0) g(k / 2) else 200,
          filterType = filterType, interlaced = interlaced)
        case _ => Containers.pngTyped(w, h, 6,
          k => if (k % 4 == 3) 255 else g(k / 4),
          filterType = filterType, interlaced = interlaced)
      }
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** WAV PCM-depth fixtures: 8-bit unsigned / 16-bit / 24-bit signed
    * clips rotating by id mod 3. The 24-bit samples plant a 16-bit value
    * in their top two bytes plus deterministic low-byte noise that the
    * conversion must DROP (so 16- and 24-bit clips replay one formula),
    * and the 8-bit clip replays through the (u − 128)·256 mapping. */
  def syntheticWavDepthMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (200 + (id * 7) % 200).toInt
      val bits = Array(8, 16, 24)((id % 3).toInt)
      val body = bits match {
        case 8 => Array.tabulate(n)(p => ((id * 29 + p * 13) % 256).toByte)
        case 16 =>
          val b = new Array[Byte](2 * n)
          var p = 0
          while (p < n) {
            val v = ((id * 23 + p.toLong * 7) % 4096 - 2048).toInt
            b(2 * p) = (v & 0xFF).toByte
            b(2 * p + 1) = ((v >> 8) & 0xFF).toByte
            p += 1
          }
          b
        case _ =>
          val b = new Array[Byte](3 * n)
          var p = 0
          while (p < n) {
            val m = ((id * 23 + p.toLong * 7) % 4096 - 2048).toInt
            b(3 * p) = ((id + p) % 256).toByte // low byte: dropped
            b(3 * p + 1) = (m & 0xFF).toByte
            b(3 * p + 2) = ((m >> 8) & 0xFF).toByte
            p += 1
          }
          b
      }
      MediaRow(id, "audio", Containers.wav(1, 16000, body, bits), 0, 0, 1)
    }

  /** WAV fmt-LAYOUT fixtures — the two crawl layouts beyond canonical
    * PCM: IEEE float32 (what DAWs export) and WAVE_FORMAT_EXTENSIBLE
    * (what Windows capture stacks emit), cycling plain-float /
    * extensible-float / extensible-PCM16 / plain-int32-PCM by id mod 4.
    * Every profile plants the SAME int16 value k per sample — floats
    * store k/32768 (exact in float32 for |k| ≤ 2048, so the ·32768
    * round-half-even conversion returns exactly k) and int32 stores
    * k·2^16 (the top-16-bit shift returns k) — so ONE oracle formula
    * covers the whole fmt matrix. */
  def syntheticWavFmtMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (200 + (id * 7) % 200).toInt
      def k(p: Int): Int = ((id * 23 + p.toLong * 7) % 4096 - 2048).toInt
      val profile = (id % 4).toInt
      val payload = profile match {
        case 0 | 1 =>
          val b = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
          var p = 0
          while (p < n) { b.putFloat(k(p) / 32768.0f); p += 1 }
          Containers.wavTyped(1, 16000, b.array(), 32, fmtTag = 3,
            extensible = profile == 1)
        case 2 =>
          val b = ByteBuffer.allocate(2 * n).order(ByteOrder.LITTLE_ENDIAN)
          var p = 0
          while (p < n) { b.putShort(k(p).toShort); p += 1 }
          Containers.wavTyped(1, 16000, b.array(), 16, extensible = true)
        case _ =>
          val b = ByteBuffer.allocate(4 * n).order(ByteOrder.LITTLE_ENDIAN)
          var p = 0
          while (p < n) { b.putInt(k(p) << 16); p += 1 }
          Containers.wavTyped(1, 16000, b.array(), 32)
      }
      MediaRow(id, "audio", payload, 0, 0, 1)
    }

  /** PNG bit-DEPTH fixtures — icons/logos at sub-byte depths plus
    * 16-bit photo masters: depths rotate 1/2/4/8/16 with palette (even
    * ids) and grayscale (odd ids) below 16 and gray/RGB at 16 (the spec
    * forbids 16-bit palettes); every third interlaced, rotating filters.
    * Sub-byte gray scales by the spec factor 255/(2^d − 1) (the palette
    * is the matching ramp) and 16-bit reduces to its planted HIGH byte
    * over low-byte noise, so ONE closed form covers the matrix. */
  def syntheticPngDepthMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h) = stillDims(id)
      val d = Array(1, 2, 4, 8, 16)(((id / 2) % 5).toInt)
      def v(i: Int): Int =
        ((id * 13 + (i % w) * 3 + (i / w) * 7) %
          (if (d == 16) 256 else 1 << d)).toInt
      val interlaced = id % 3 == 0
      val filterType = (id % 5).toInt
      val payload =
        if (d == 16) {
          // hi byte = planted value, lo byte = noise the reduction drops
          def raw(k: Int): Int =
            if (k % 2 == 0) v(k / 2) else ((id + k) * 31 + 5).toInt % 256
          if (id % 2 == 0)
            Containers.pngTyped(w, h, 2, // RGB, r = g = b = planted value
              k => if (k % 2 == 0) v(k / 6) else ((id + k) * 31 + 5).toInt % 256,
              filterType = filterType, interlaced = interlaced, bitDepth = 16)
          else
            Containers.pngTyped(w, h, 0, raw,
              filterType = filterType, interlaced = interlaced, bitDepth = 16)
        } else if (id % 2 == 0) {
          val scale = 255 / ((1 << d) - 1)
          val palette = Array.tabulate((1 << d) * 3)(b => ((b / 3) * scale).toByte)
          Containers.pngTyped(w, h, 3, v, palette = palette,
            filterType = filterType, interlaced = interlaced, bitDepth = d)
        } else
          Containers.pngTyped(w, h, 0, v, filterType = filterType,
            interlaced = interlaced, bitDepth = d)
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** Deterministic PROGRESSIVE (SOF2) JPEG fixtures: every doc becomes a
    * DC-only progressive JPEG through the REAL spectral-selection
    * encoder — a first interleaved DC scan, then per-component AC band
    * scans (two bands on even ids, one on odd) that are all End-Of-Band
    * codes, so the engine must walk the multi-scan structure to reach
    * the same closed-form block constants the baseline twin would carry:
    * gray(k) = (id·41 + k·(13 + id mod 19)) mod 256. Even ids take the
    * 3-component wrap (chroma planes at DC 0 = 128, exact through the
    * color transform). Quadrant census — position-sensitive — with dims
    * multiples of 16 so blocks never straddle a quadrant. */
  def syntheticProgressiveJpegMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (16 * (1 + nChars % 2)).toInt
        val h = 16
        val nBlocks = (w / 8) * (h / 8)
        val luma = Array.tabulate(nBlocks) { k =>
          val blk = new Array[Int](64)
          blk(0) = ((id * 41 + k * (13 + id % 19)) % 256).toInt - 128
          blk
        }
        val comps =
          if (id % 2 == 0) Array(luma, Array.fill(nBlocks)(new Array[Int](64)),
            Array.fill(nBlocks)(new Array[Int](64)))
          else Array(luma)
        val bands = if (id % 2 == 0) Seq((1, 5), (6, 63)) else Seq((1, 63))
        MediaRow(id, "image", Jpeg.encodeProgressive(w, h, comps, bands),
          w, h, 1)
      }
  }

  /** Position-sensitive census of one plainly-decoded JPEG: quadrant gray
    * sums. The q252 channel-sum census is PLACEMENT-INVARIANT (a decoder
    * that put the right blocks in the wrong plane positions sums the
    * same), which is exactly the failure mode a subsampled MCU walk can
    * have — quadrants catch it. */
  final case class JpegQuadrants(media_id: Long, width: Int, height: Int,
                                 q_tl: Long, q_tr: Long, q_bl: Long, q_br: Long)

  /** Decode JPEGs (any in-scope sampling, incl. 4:2:0) and reduce to
    * quadrant gray sums of the decoded image. */
  def jpegQuadrantStats(media: Dataset[MediaRow]): Dataset[JpegQuadrants] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, rgb) = Jpeg.decodeRgb(m.media_id, m.payload)
      val q = new Array[Long](4)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val k = 3 * (y * w + x)
          val g = ((rgb(k) & 0xFF) + (rgb(k + 1) & 0xFF) + (rgb(k + 2) & 0xFF)) / 3
          q((if (y < h / 2) 0 else 2) + (if (x < w / 2) 0 else 1)) += g
          x += 1
        }
        y += 1
      }
      JpegQuadrants(m.media_id, w, h, q(0), q(1), q(2), q(3))
    })
  }

  /** WIDE-sampling JPEG fixtures — the factor-3/4 layouts (DV-lineage
    * 4:1:1, its vertical transpose, 3:1:1 both ways, and the
    * 10-blocks-per-MCU boundary case 4x2): DC-only YCbCr with neutral
    * chroma, dims exact MCU multiples chosen PER VARIANT so the luma
    * block grid equals the display grid and ONE closed form replays
    * every layout; every 3rd id plants restart markers (the MCU walk's
    * predictor resets must survive the wide MCUs). */
  def syntheticJpegSampledMedia(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      // dims are exact MCU multiples AND multiples of 16 (quadrant
      // boundaries land on block edges, the q266 rule)
      val variants = Array(
        (0x41, 32, 16), (0x14, 16, 32), (0x31, 48, 16), (0x13, 16, 48),
        (0x42, 32, 16))
      val (hv, w, h) = variants((id % 5).toInt)
      val nb = (w / 8) * (h / 8)
      val grays = Array.tabulate(nb)(k =>
        ((id * 41 + k * (13 + id % 19)) % 256).toInt)
      MediaRow(id, "image",
        Jpeg.encodeGraySampled(w, h, grays, hv,
          restartInterval = if (id % 3 == 0) 1 else 0), w, h, 1)
    }

  /** Deterministic 4:2:0 (chroma-subsampled) baseline JPEG fixtures:
    * every doc becomes a DC-only YCbCr JPEG with luma sampled 2×2 and
    * both chroma planes planted at 128 — luma 8×8 block k decodes to the
    * CONSTANT gray (doc_id·37 + k·(11 + doc_id mod 17)) mod 256 exactly
    * (the q00 = 8 closed form survives the subsampled MCU walk, and
    * constant-128 chroma survives ANY upsampler), so an external oracle
    * replays the quadrant census ARITHMETICALLY while the engine earns
    * it through the interleaved 2×2-luma MCU walk. Dimensions are
    * multiples of 16 (every block fully visible, quadrant boundaries on
    * block edges); every 3rd id plants restart markers, which now span
    * SIX data units per MCU. Per-item MULTIPLICATIVE block coefficients
    * keep fixtures degeneracy-free. */
  def syntheticJpeg420Media(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (16 * (1 + nChars % 3)).toInt
        val h = (16 * (1 + (nChars * 7) % 2)).toInt
        val nBlocks = (w / 8) * (h / 8)
        val grays = Array.tabulate(nBlocks)(k =>
          ((id * 37 + k * (11 + id % 17)) % 256).toInt)
        val payload = Jpeg.encodeGray420(w, h, grays,
          restartInterval = if (id % 3 == 0) 2 else 0)
        MediaRow(id, "image", payload, w, h, 1)
      }
  }

  /** Deterministic FLAC fixtures: every doc becomes a 16-bit mono FLAC
    * clip built by the REAL encoder ([[Flac.encode]] — fixed-predictor
    * subframes with Rice residuals; every 7th doc an all-constant clip
    * exercising CONSTANT subframes). FLAC is LOSSLESS, so the planted
    * sample formula replays ARITHMETICALLY in an external oracle while
    * the engine earns the census through real Rice/CRC decoding. Clip
    * lengths span frame boundaries (blockSize 256, up to ~500 samples →
    * partial last frames on the gate). */
  def syntheticFlacMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val samples =
          if (id % 7 == 0)
            Array.fill(300)(((id * 31) % 4096 - 2048).toInt)
          else {
            val n = (200 + (nChars * 3) % 300).toInt
            Array.tabulate(n)(p => ((id * 23 + p.toLong * 7) % 4096 - 2048).toInt)
          }
        MediaRow(id, "audio", Flac.encode(samples), 0, 0, 1)
      }
  }

  /** Deterministic STEREO + LPC FLAC fixtures — the profile real-world
    * FLAC actually ships (almost always stereo LPC): interleaved L/R
    * clips rotating through the three stereo channel assignments
    * (mid/side, left/side, independent — id mod 3), with every 4th doc
    * encoded through GENERAL LPC subframes (quantized coefficients
    * (3, −1), shift 1 — pure integer) instead of fixed predictors, and
    * every 7th doc an all-constant stereo clip (CONSTANT subframes on
    * both the 16-bit and the 17-bit SIDE path). FLAC is LOSSLESS, so the
    * planted L/R formulas replay ARITHMETICALLY regardless of the
    * encode-side assignment — the oracle never needs to know which
    * decorrelation carried the bits, which is exactly the format-blind
    * contract. */
  def syntheticFlacStereoMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        val n = if (id % 7 == 0) 240 else (200 + (nChars * 5) % 250).toInt
        val inter = new Array[Int](2 * n)
        var p = 0
        while (p < n) {
          inter(2 * p) =
            if (id % 7 == 0) ((id * 29) % 4096 - 2048).toInt
            else ((id * 29 + p.toLong * 11) % 4096 - 2048).toInt
          inter(2 * p + 1) =
            if (id % 7 == 0) ((id * 19) % 4096 - 2048).toInt
            else ((id * 19 + p.toLong * 13) % 4096 - 2048).toInt
          p += 1
        }
        val mode = (id % 3) match {
          case 0 => 10 // mid/side
          case 1 => 8 // left/side
          case _ => 1 // independent
        }
        val lpc = if (id % 4 == 0) Some((Array(3, -1), 1)) else None
        MediaRow(id, "audio",
          Flac.encode(inter, channels = 2, stereoMode = mode, lpc = lpc),
          0, 0, 1)
      }
  }

  /** Deterministic FULL-decode fixtures: even doc_ids become complete
    * RGBA PNGs whose pixel byte i is the closed form (doc_id·31 + i) mod
    * 256, odd doc_ids become PCM16 WAV clips whose sample p is
    * ((doc_id·17 + p·3) mod 4096) − 2048 — so an external oracle can
    * recompute every channel sum and amplitude census ARITHMETICALLY
    * while the engine earns it by actually inflating and unfiltering the
    * bytes. Dimensions stay small (≤ 16×13) — the contract is the codec,
    * not the byte volume. */
  def syntheticPixelMedia(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)]
      .map { case (id, nChars) =>
        if (id % 2 == 0) {
          val w = (4 + nChars % 13).toInt
          val h = (3 + (nChars * 7) % 11).toInt
          MediaRow(id, "image",
            Containers.pngFull(w, h, i => ((id * 31 + i) % 256).toInt),
            w, h, 1)
        } else {
          val n = (64 + nChars % 128).toInt
          val body = new Array[Byte](n * 2)
          var p = 0
          while (p < n) {
            val s = ((id * 17 + p.toLong * 3) % 4096 - 2048).toInt
            body(2 * p) = (s & 0xFF).toByte
            body(2 * p + 1) = ((s >> 8) & 0xFF).toByte
            p += 1
          }
          MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
        }
      }
  }

  /** Frame sampling: keep every `everyN`-th frame (the video path's
    * cost-control knob before feature extraction). */
  def sampleFrames(frames: Dataset[DecodedFrame], everyN: Int): Dataset[DecodedFrame] =
    frames.filter(f => f.frame_idx % everyN == 0)

  /** Feature extraction with REAL classical-descriptor bodies, dispatched
    * on payload magic (format-blind, like every decoder here):
    * PNG/GIF/JPEG → the 88-dim image content descriptor
    * ([[MediaDedup.imageDescriptors]]'s per-item body), WAV/FLAC → the
    * 57-dim energy contour, AVI → the 64-dim bag-of-frames signature (sampled
    * every `everyN` frames — the video cost knob). Embedding width is
    * modality-intrinsic. Unknown magic fails by NAME: the slot for a
    * LEARNED extractor stays documented as weights-blocked (no model
    * weights exist in this environment; a real model body-swaps the
    * dispatch — the `mapPartitions` iterator shape is exactly where
    * per-partition model load belongs). */
  def extractFeatures(media: Dataset[MediaRow],
                      everyN: Int = 2): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val p = m.payload
      val emb: Array[Double] =
        if (p.length >= 3 && ((p(0) & 0xFF) == 0x89 && p(1) == 'P'.toByte ||
          p(0) == 'G'.toByte && p(1) == 'I'.toByte && p(2) == 'F'.toByte ||
          (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8) ||
          Raster.isBmp(p) || Raster.isTiff(p))
          MediaDedup.descriptorOneImage(m.media_id, p)
        else if (p.length >= 12 && p(0) == 'R'.toByte && p(8) == 'W'.toByte &&
          p(9) == 'A'.toByte)
          MediaDedup.audioEnergies(m.media_id, p).map(_.toDouble)
        else if (p.length >= 4 && p(0) == 'f'.toByte && p(1) == 'L'.toByte &&
          p(2) == 'a'.toByte && p(3) == 'C'.toByte)
          MediaDedup.audioEnergies(m.media_id, p).map(_.toDouble)
        else if (p.length >= 12 && p(0) == 'R'.toByte && p(8) == 'A'.toByte &&
          p(9) == 'V'.toByte)
          MediaDedup.descriptorOneVideo(m.media_id, p, everyN)
        else throw new IllegalArgumentException(
          s"media ${m.media_id}: no classical descriptor for this payload " +
            "(unknown magic) — the learned-extractor slot is weights-blocked")
      MediaFeature(m.media_id, emb.map(_.toFloat))
    })
  }

  /** REAL resize: PNG payloads are decoded ([[decodePngRgba]]),
    * box-filter downsampled by the smallest integer factor s =
    * ceil(maxDim/maxSide) that bounds the longest side (output pixel
    * (X, Y) = the per-channel INTEGER mean of the s×s input block x/s = X,
    * y/s = Y — edge blocks keep their true pixel count, so dimensions are
    * ceil(w/s) × ceil(h/s) and every mean replays as floor(sum/count) in
    * SQL), then re-encoded as a spec-complete PNG ([[Containers.pngFull]]).
    * Payloads already inside the bound pass through byte-identical.
    * Non-PNG payloads keep the same ceil-based metadata scaling with the
    * payload untouched: JPEG/WAV/AVI have no pixel decoder in scope, and
    * GIF — though [[decodeGifIdx]] can read it — cannot round-trip a
    * box-filter result without palette RE-QUANTIZATION (the means are not
    * palette members), which is out of scope; convert via decode +
    * [[Containers.pngFull]] when a resampled GIF is needed. */
  def resize(media: Dataset[MediaRow], maxSide: Int): Dataset[MediaRow] = {
    require(maxSide >= 1, "resize needs maxSide >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.map { m =>
      val isPng = m.payload.length >= 8 &&
        (m.payload(0) & 0xFF) == 0x89 && m.payload(1) == 'P'.toByte &&
        m.payload(2) == 'N'.toByte && m.payload(3) == 'G'.toByte
      if (isPng) {
        val (w, h, px) = decodePngRgba(m.media_id, m.payload)
        val scale = math.max(1, (math.max(w, h) + maxSide - 1) / maxSide)
        if (scale == 1) m
        else {
          val w2 = (w + scale - 1) / scale
          val h2 = (h + scale - 1) / scale
          val sums = new Array[Long](w2 * h2 * 4)
          val cnts = new Array[Long](w2 * h2)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val b = (y / scale) * w2 + (x / scale)
              val k = 4 * (y * w + x)
              cnts(b) += 1L
              sums(4 * b) += px(k) & 0xFF
              sums(4 * b + 1) += px(k + 1) & 0xFF
              sums(4 * b + 2) += px(k + 2) & 0xFF
              sums(4 * b + 3) += px(k + 3) & 0xFF
              x += 1
            }
            y += 1
          }
          val out = new Array[Byte](w2 * h2 * 4)
          var b = 0
          while (b < w2 * h2) {
            var c = 0
            while (c < 4) {
              out(4 * b + c) = (sums(4 * b + c) / cnts(b)).toByte
              c += 1
            }
            b += 1
          }
          m.copy(payload = Containers.pngFull(w2, h2, i => out(i) & 0xFF),
            width = w2, height = h2)
        }
      } else {
        val scale = math.max(1, (math.max(m.width, m.height) + maxSide - 1) / maxSide)
        if (scale == 1) m
        else m.copy(width = (m.width + scale - 1) / scale,
          height = (m.height + scale - 1) / scale)
      }
    }
  }

  /** Per-media header census over the fixtures, entirely through the
    * pure-expression parser ([[binaryMediaMeta]]) — every value is parsed
    * back out of real container bytes, and an oracle recomputes it from
    * the planting formulas. */
  def mediaStats(spark: SparkSession, docs: DataFrame): DataFrame = {
    val media = syntheticMediaFromDocs(docs).toDF()
    binaryMediaMeta(media)
      .select(col("media_id").as("doc_id"), col("format"),
        col("img_width"), col("img_height"), col("n_frames"),
        col("sample_rate"), col("channels"),
        (length(col("payload")) -
          when(col("format") === "png", Containers.PngHeaderLen)
            .when(col("format") === "jpeg", Containers.JpegOverhead)
            .when(col("format") === "wav", Containers.WavHeaderLen)
            .when(col("format") === "avi", Containers.AviHeaderLen)
            .otherwise(0)).cast("long").as("payload_bytes"))
  }
}
