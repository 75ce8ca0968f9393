package graft.multimodal

/** Raster formats — BMP and TIFF: public byte layouts whose decode
  * membership in the format-blind image surface (dHash dedup, crop
  * containment, quality gates, descriptors, boilerplate census) costs a
  * header walk plus, for TIFF, per-strip decompression.
  *
  * BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (Windows BMP v3+ — the
  * layout every paint program has written since 1990). BI_RGB and
  * BI_RLE8 (run-length pairs with the EOL/EOB/delta/absolute escapes);
  * bit counts 8 (palette), 24 (BGR), 32 (BGRx, fourth byte reserved and
  * ignored exactly as viewers and ImageIO do). Rows pad to 4 bytes and
  * store BOTTOM-UP unless the height is negative (top-down) — the
  * classic flip bug is position-sensitive, which is why the oracle row
  * censuses block means, not channel sums.
  *
  * TIFF 6.0: II/MM byte order (both decoded — a byte-order bug halves
  * every dimension read), IFD entry walk, strip- OR tile-organized
  * sample data (tags 322-325; edge tiles carry padding the clip drops;
  * chunky planar config), photometric 0 (WhiteIsZero — inverted gray),
  * 1 (BlackIsZero), 2 (RGB, 3 or 4 samples), 3 (palette via the 16-bit
  * ColorMap, high byte per spec), 8- and 16-bit samples (16-bit reduces
  * to the high byte — the spec-sanctioned 8-bit view — positioned by
  * the byte order). Segment compressions 1 (none), 5 (the TIFF-variant
  * LZW with the spec's early code-size change), 8/32946 (Deflate —
  * TIFF's zlib IS the JDK's), and 32773 (PackBits), each expanded to
  * exactly the segment's geometric size, plus the codec-attached
  * horizontal differencing predictor (tag 317 = 2, LZW/Deflate only —
  * libtiff and the JDK ignore it elsewhere, so honoring it would
  * silently disagree). Remaining out-of-scope shapes (JPEG-in-TIFF,
  * CCITT fax codes, sub-byte samples, planar config 2, BI_RLE4) fail
  * by NAME into the q265 health census.
  *
  * Reference behavior studied from zinahalqeji/beauty_lakehouse (media
  * columns are opaque binaries there); layouts from the public
  * Windows BMP and Adobe TIFF 6.0 specifications. */
private[graft] object Raster {
  import Multimodal.MaxDecodePixels

  // ------------------------------------------------------------------
  // BMP decode
  // ------------------------------------------------------------------

  private[graft] def isBmp(p: Array[Byte]): Boolean =
    p.length >= 2 && p(0) == 'B'.toByte && p(1) == 'M'.toByte

  private[graft] def isTiff(p: Array[Byte]): Boolean =
    p.length >= 4 &&
      ((p(0) == 'I'.toByte && p(1) == 'I'.toByte && p(2) == 42 && p(3) == 0) ||
        (p(0) == 'M'.toByte && p(1) == 'M'.toByte && p(2) == 0 && p(3) == 42))

  /** Decode one BMP to row-major top-down RGBA (the [[Multimodal
    * .decodePngRgba]] layout, so the shared pixel walk is format-blind). */
  private[graft] def decodeBmpRgba(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) = {
    def le16(off: Int): Int = (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)
    def le32(off: Int): Int = le16(off) | (le16(off + 2) << 16)
    require(isBmp(p) && p.length >= 54, s"media $id: not a BMP header")
    val offBits = le32(10)
    val biSize = le32(14)
    // 40 = BITMAPINFOHEADER; 52/56/108/124 (v2–v5) share its first 40
    // bytes — older 12-byte CORE headers have a different field layout
    // and are long-extinct, so they fail by name instead of misparsing
    require(biSize >= 40, s"media $id: BMP header size $biSize out of " +
      "scope (only BITMAPINFOHEADER v3+ layouts)")
    require(14L + biSize <= p.length, s"media $id: truncated BMP header")
    val w = le32(18)
    val hRaw = le32(22)
    val topDown = hRaw < 0
    val h = if (topDown) -hRaw else hRaw
    require(w > 0 && h > 0, s"media $id: bad BMP dims ${w}x$hRaw")
    require(w.toLong * h <= MaxDecodePixels,
      s"media $id: ${w}x$h exceeds the $MaxDecodePixels-pixel decode bound")
    val bitCount = le16(28)
    val compression = le32(30)
    require(compression == 0 || compression == 1 || compression == 2,
      s"media $id: only BI_RGB, BI_RLE8 or BI_RLE4 BMP supported, got " +
        s"compression $compression (bitfields/JPEG out of scope)")
    require(compression != 1 || (bitCount == 8 && !topDown),
      s"media $id: BI_RLE8 requires a bottom-up 8-bit BMP, got " +
        s"$bitCount-bit height $hRaw")
    require(compression != 2 || (bitCount == 4 && !topDown),
      s"media $id: BI_RLE4 requires a bottom-up 4-bit BMP, got " +
        s"$bitCount-bit height $hRaw")
    require(bitCount == 8 || bitCount == 24 || bitCount == 32 ||
      (bitCount == 4 && compression == 2),
      s"media $id: only 8-, 24- and 32-bit (and RLE4 4-bit) BMP bit " +
        s"counts supported, got $bitCount")
    // 8-/4-bit palette: BGRx quads right after the info header; 0
    // clrUsed means the depth's full entry count per spec
    var palette: Array[Byte] = null
    if (bitCount == 8 || bitCount == 4) {
      val maxPal = 1 << bitCount
      val clrUsed = le32(46)
      require(clrUsed >= 0 && clrUsed <= maxPal,
        s"media $id: bad BMP palette size $clrUsed")
      val n = if (clrUsed == 0) maxPal else clrUsed
      val palOff = 14 + biSize
      require(palOff.toLong + 4L * n <= p.length,
        s"media $id: truncated BMP palette")
      palette = java.util.Arrays.copyOfRange(p, palOff, palOff + 4 * n)
    }
    // BI_RLE8/BI_RLE4: expand the run-length stream into bottom-up index
    // rows first, then share the palette mapping below. Escapes: 0 0 end
    // of line, 0 1 end of bitmap, 0 2 delta (skipped pixels stay index
    // 0 — the deterministic choice; the spec calls them undefined),
    // 0 n>=3 absolute mode (n literal indices — bytes for RLE8, packed
    // nibbles for RLE4 — word-aligned). RLE4 encoded runs alternate the
    // run byte's two nibbles. Every cursor move is bounds-checked by
    // name; each iteration consumes >= 2 bytes, so the walk is
    // length-bounded.
    val rle: Array[Byte] =
      if (compression == 0) null
      else {
        // diagnostics carry the ACTUAL compression name (1 = RLE8,
        // 2 = RLE4) so 4-bit failures don't read as 8-bit ones
        val rleName = if (compression == 1) "RLE8" else "RLE4"
        // hostile offBits would index the stream read out of bounds —
        // the strip path validates it against rowSize·h below, but the
        // RLE stream has no geometric size, so bound the start by name
        require(offBits >= 54 && offBits <= p.length,
          s"media $id: BMP $rleName pixel-data offset $offBits out of bounds")
        val idxBuf = new Array[Byte](w * h)
        var i = offBits
        var cx = 0; var cy = 0 // cy counts BOTTOM-UP rows
        var endBmp = false
        while (!endBmp) {
          require(i + 2 <= p.length,
            s"media $id: truncated BMP $rleName stream")
          val n = p(i) & 0xFF; val v = p(i + 1) & 0xFF; i += 2
          if (n > 0) {
            require(cy < h && cx + n <= w,
              s"media $id: BMP $rleName run of $n at ($cx, row $cy) " +
                s"escapes the ${w}x$h canvas")
            if (compression == 1)
              java.util.Arrays.fill(idxBuf, cy * w + cx, cy * w + cx + n,
                v.toByte)
            else { // RLE4: the run alternates the byte's two nibbles
              var j = 0
              while (j < n) {
                idxBuf(cy * w + cx + j) =
                  (if ((j & 1) == 0) v >> 4 else v & 0xF).toByte
                j += 1
              }
            }
            cx += n
          } else v match {
            case 0 => cx = 0; cy += 1
              require(cy <= h, s"media $id: BMP $rleName walked past row $h")
            case 1 => endBmp = true
            case 2 =>
              require(i + 2 <= p.length,
                s"media $id: truncated BMP $rleName delta escape")
              cx += p(i) & 0xFF; cy += p(i + 1) & 0xFF; i += 2
              require(cx <= w && cy <= h,
                s"media $id: BMP $rleName delta escapes the ${w}x$h canvas")
            case cnt =>
              require(cy < h && cx + cnt <= w,
                s"media $id: BMP $rleName absolute run of $cnt at ($cx, " +
                  s"row $cy) escapes the ${w}x$h canvas")
              if (compression == 1) {
                require(i + cnt + (cnt & 1) <= p.length,
                  s"media $id: truncated BMP RLE8 absolute run")
                System.arraycopy(p, i, idxBuf, cy * w + cx, cnt)
                cx += cnt; i += cnt + (cnt & 1)
              } else { // RLE4 absolute: packed nibbles, word-aligned
                val dataBytes = ((cnt + 1) / 2 + 1) & ~1
                require(i + dataBytes <= p.length,
                  s"media $id: truncated BMP RLE4 absolute run")
                var j = 0
                while (j < cnt) {
                  val b = p(i + j / 2) & 0xFF
                  idxBuf(cy * w + cx + j) =
                    (if ((j & 1) == 0) b >> 4 else b & 0xF).toByte
                  j += 1
                }
                cx += cnt; i += dataBytes
              }
          }
        }
        idxBuf
      }
    val bytesPerPx = bitCount / 8
    val rowSize = ((bytesPerPx * w + 3) / 4) * 4
    require(rle != null ||
      offBits >= 0 && offBits.toLong + rowSize.toLong * h <= p.length,
      s"media $id: truncated BMP pixel data")
    val out = new Array[Byte](4 * w * h)
    var y = 0
    while (y < h) {
      val srcRow = offBits + (if (topDown) y else h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val o = 4 * (y * w + x)
        if (bitCount == 8 || bitCount == 4) { // 4-bit arrives via RLE4 only
          val idx =
            if (rle != null) rle((h - 1 - y) * w + x) & 0xFF
            else p(srcRow + x) & 0xFF
          require(4 * idx + 2 < palette.length,
            s"media $id: pixel index $idx outside the " +
              s"${palette.length / 4}-entry BMP palette")
          out(o) = palette(4 * idx + 2) // stored BGRx
          out(o + 1) = palette(4 * idx + 1)
          out(o + 2) = palette(4 * idx)
          out(o + 3) = 255.toByte
        } else {
          val s = srcRow + bytesPerPx * x
          out(o) = p(s + 2) // BGR(x) -> RGB
          out(o + 1) = p(s + 1)
          out(o + 2) = p(s)
          // 32-bit BI_RGB's fourth byte is RESERVED (not alpha) — every
          // viewer and ImageIO render it opaque, so the decode does too
          out(o + 3) = 255.toByte
        }
        x += 1
      }
      y += 1
    }
    (w, h, out)
  }

  // ------------------------------------------------------------------
  // TIFF decode
  // ------------------------------------------------------------------

  /** Decode one baseline uncompressed TIFF to row-major RGBA. */
  private[graft] def decodeTiffRgba(id: Long, p: Array[Byte]): (Int, Int, Array[Byte]) = {
    require(isTiff(p) && p.length >= 8, s"media $id: not a TIFF header")
    val be = p(0) == 'M'.toByte
    def u16(off: Int): Int = {
      require(off >= 0 && off + 2 <= p.length, s"media $id: truncated TIFF")
      if (be) ((p(off) & 0xFF) << 8) | (p(off + 1) & 0xFF)
      else (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)
    }
    def u32(off: Int): Long = {
      require(off >= 0 && off + 4 <= p.length, s"media $id: truncated TIFF")
      if (be) (u16(off).toLong << 16) | u16(off + 2)
      else u16(off).toLong | (u16(off + 2).toLong << 16)
    }
    val ifdOff = u32(4)
    require(ifdOff >= 8 && ifdOff + 2 <= p.length,
      s"media $id: TIFF IFD offset $ifdOff out of bounds")
    val nEntries = u16(ifdOff.toInt)
    require(nEntries > 0 && nEntries <= 256,
      s"media $id: implausible TIFF IFD entry count $nEntries")
    require(ifdOff + 2 + 12L * nEntries <= p.length,
      s"media $id: truncated TIFF IFD")
    // tag -> (fieldType, count, offset of the 4-byte value cell)
    val entries = scala.collection.mutable.LongMap.empty[(Int, Long, Int)]
    var i = 0
    while (i < nEntries) {
      val e = ifdOff.toInt + 2 + 12 * i
      entries(u16(e).toLong) = (u16(e + 2), u32(e + 4), e + 8)
      i += 1
    }
    // SHORT(3)/LONG(4) scalar-or-array reader: values <= 4 bytes live in
    // the cell itself, larger arrays at the cell's offset (TIFF 6.0 §2)
    def values(tag: Int): Array[Long] = entries.get(tag.toLong) match {
      case None => null
      case Some((typ, count, cell)) =>
        require(typ == 3 || typ == 4,
          s"media $id: TIFF tag $tag has field type $typ (only " +
            "SHORT/LONG supported)")
        require(count >= 1 && count <= (1 << 20),
          s"media $id: implausible TIFF tag $tag count $count")
        val width = if (typ == 3) 2 else 4
        val base =
          if (count * width <= 4) cell.toLong
          else {
            val off = u32(cell)
            require(off + count * width <= p.length,
              s"media $id: TIFF tag $tag value array out of bounds")
            off
          }
        Array.tabulate(count.toInt)(k =>
          if (typ == 3) u16((base + 2L * k).toInt).toLong
          else u32((base + 4L * k).toInt))
    }
    def scalar(tag: Int, default: Long = -1L): Long = {
      val v = values(tag)
      if (v == null) default else v(0)
    }
    val w = scalar(256)
    val h = scalar(257)
    require(w > 0 && h > 0, s"media $id: missing TIFF dimensions")
    require(w * h <= MaxDecodePixels,
      s"media $id: ${w}x$h exceeds the $MaxDecodePixels-pixel decode bound")
    val compression = scalar(259, 1L)
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32946 || compression == 32773,
      s"media $id: unsupported TIFF compression $compression (1 none, " +
        "5 LZW, 8/32946 Deflate, 32773 PackBits)")
    val predictor = scalar(317, 1L)
    // the predictor is codec-attached (TIFF 6.0 §14 defines it for LZW;
    // the Deflate extension inherits it) — libtiff and the JDK reader
    // IGNORE the tag under PackBits/none, so honoring it there would
    // silently disagree with every real decoder; fail by name instead
    require(predictor == 1 ||
      (predictor == 2 && (compression == 5 || compression == 8 ||
        compression == 32946)),
      s"media $id: unsupported TIFF predictor $predictor under " +
        s"compression $compression")
    val photometric = scalar(262)
    require(photometric >= 0 && photometric <= 3,
      s"media $id: TIFF photometric $photometric out of scope " +
        "(0/1 gray, 2 RGB, 3 palette)")
    val spp = scalar(277, 1L).toInt
    require(if (photometric == 2) spp == 3 || spp == 4 else spp == 1,
      s"media $id: TIFF samples-per-pixel $spp incompatible with " +
        s"photometric $photometric")
    val planar = scalar(284, 1L)
    require(planar == 1,
      s"media $id: only chunky TIFF planar configuration supported, " +
        s"got $planar")
    val bits = values(258)
    require(bits == null || bits.forall(_ == 8) || bits.forall(_ == 16),
      s"media $id: only 8- or 16-bit TIFF samples supported, got " +
        s"${if (bits == null) "" else bits.mkString("/")}")
    require(bits != null || photometric == 2 || spp == 1,
      s"media $id: TIFF BitsPerSample missing")
    // gray/palette data with no 258 tag defaults to 1 bit — out of scope
    require(bits != null,
      s"media $id: only 8- or 16-bit TIFF samples supported, got default 1")
    // 16-bit samples reduce to their HIGH byte (the spec-sanctioned
    // 8-bit view — the PNG-16 lesson), which sits at byte 0 (MM) or 1
    // (II) of each sample pair; palettes index 8-bit only, and the
    // horizontal predictor differences 16-bit VALUES, not bytes — out
    // of scope at this depth, named
    val deep = bits(0) == 16L
    require(!deep || photometric != 3,
      s"media $id: 16-bit palette TIFF out of scope")
    require(!deep || predictor == 1,
      s"media $id: TIFF predictor $predictor at 16-bit depth out of scope")
    val bytesPerSample = if (deep) 2 else 1
    val hiOff = if (deep && !be) 1 else 0
    var colorMap: Array[Long] = null
    if (photometric == 3) {
      colorMap = values(320)
      require(colorMap != null && colorMap.length == 3 * 256,
        s"media $id: palette TIFF needs a 3x256-entry ColorMap, got " +
          s"${if (colorMap == null) 0 else colorMap.length}")
    }
    val wi = w.toInt; val hi = h.toInt
    // segment geometry: classic strips, or tiles (tags 322-325) — tiles
    // are ALWAYS full-size with edge padding, strips are ragged. One
    // unified walk decompresses each segment to exactly its geometric
    // size, reverses the predictor, and scatters the clipped region.
    val tileW = scalar(322, 0L)
    val tiled = tileW > 0
    val (segOffsets, segCounts, segW, segH, segsAcross, nSegs) =
      if (tiled) {
        val tileL = scalar(323, 0L)
        // the spec requires tile dims to be multiples of 16; hostile
        // tile dims would overflow the per-segment byte count negative
        // (the fuzz battery found exactly that), so bound the tile area
        // like the canvas
        require(tileW > 0 && tileL > 0 && tileW % 16 == 0 && tileL % 16 == 0,
          s"media $id: bad TIFF tile geometry ${tileW}x$tileL")
        require(tileW * tileL <= MaxDecodePixels,
          s"media $id: ${tileW}x$tileL tile exceeds the " +
            s"$MaxDecodePixels-pixel decode bound")
        val tOff = values(324)
        val tCnt = values(325)
        require(tOff != null && tCnt != null && tOff.length == tCnt.length,
          s"media $id: TIFF tile offsets/byte-counts missing or mismatched")
        val across = ((w + tileW - 1) / tileW).toInt
        val down = ((h + tileL - 1) / tileL).toInt
        require(tOff.length == across * down,
          s"media $id: TIFF declares ${tOff.length} tiles, geometry " +
            s"needs ${across * down}")
        (tOff, tCnt, tileW.toInt, tileL.toInt, across, across * down)
      } else {
        val sOff = values(273)
        val sCnt = values(279)
        require(sOff != null && sCnt != null && sOff.length == sCnt.length,
          s"media $id: TIFF strip offsets/byte-counts missing or mismatched")
        val rps = scalar(278, h)
        require(rps > 0, s"media $id: bad TIFF RowsPerStrip $rps")
        val n = ((h + rps - 1) / rps).toInt
        require(sOff.length == n,
          s"media $id: TIFF declares ${sOff.length} strips, " +
            s"geometry needs $n")
        // clamp BEFORE narrowing: a hostile RowsPerStrip past 2^31
        // truncates .toInt negative and rode into the per-segment byte
        // count (the fuzz battery found it); rows per strip can never
        // exceed the (decode-bounded) height anyway
        (sOff, sCnt, wi, math.min(rps, h).toInt, 1, n)
      }
    val out = new Array[Byte](4 * wi * hi)
    var seg = 0
    while (seg < nSegs) {
      // tile segments are always full-size; the last strip is ragged
      val rows =
        if (tiled) segH
        else math.min(segH.toLong, h - seg.toLong * segH).toInt
      val segRowBytes = segW * spp * bytesPerSample
      val x0 = (seg % segsAcross) * (if (tiled) segW else 0)
      val y0 = (seg / segsAcross) * segH
      if (compression == 1)
        require(segCounts(seg) == rows.toLong * segRowBytes,
          s"media $id: TIFF segment $seg carries ${segCounts(seg)} " +
            s"bytes, geometry needs ${rows.toLong * segRowBytes}")
      val off = segOffsets(seg)
      require(off >= 0 && off + segCounts(seg) <= p.length,
        s"media $id: truncated TIFF segment $seg")
      // decompress (or copy) the segment to EXACTLY its geometric size —
      // each codec fails by name on a short or overlong expansion, so a
      // hostile segment can never scribble past its rows
      val expect = rows * segRowBytes
      val data = compression match {
        case 1 =>
          java.util.Arrays.copyOfRange(p, off.toInt,
            off.toInt + expect)
        case 5 =>
          lzwDecode(id, p, off.toInt, segCounts(seg).toInt, expect)
        case 32773 =>
          unpackBits(id, p, off.toInt, segCounts(seg).toInt, expect)
        case _ =>
          inflateExact(id, p, off.toInt, segCounts(seg).toInt, expect)
      }
      // predictor 2 = horizontal differencing per sample channel
      // (TIFF 6.0 §14): accumulate across each row before interpreting
      if (predictor == 2) {
        var r = 0
        while (r < rows) {
          var x = spp
          while (x < segRowBytes) {
            data(r * segRowBytes + x) =
              ((data(r * segRowBytes + x) +
                data(r * segRowBytes + x - spp)) & 0xFF).toByte
            x += 1
          }
          r += 1
        }
      }
      // scatter the segment's pixels, clipped to the canvas (edge tiles
      // carry padding the image does not use)
      val copyW = math.min(segW, wi - x0)
      val copyH = math.min(rows, hi - y0)
      var r = 0
      while (r < copyH) {
        val y = y0 + r
        val src = r * segRowBytes
        var x = 0
        while (x < copyW) {
          val o = 4 * (y * wi + x0 + x)
          photometric match {
            case 0 | 1 =>
              val v0 = data(src + x * bytesPerSample + hiOff) & 0xFF
              val g = (if (photometric == 0) 255 - v0 else v0).toByte
              out(o) = g; out(o + 1) = g; out(o + 2) = g
              out(o + 3) = 255.toByte
            case 3 =>
              val idx = data(src + x) & 0xFF
              // ColorMap entries are 16-bit; the 8-bit view is the high
              // byte (TIFF 6.0 §5: 0 -> 0, 65535 -> 255)
              out(o) = (colorMap(idx) >> 8).toByte
              out(o + 1) = (colorMap(256 + idx) >> 8).toByte
              out(o + 2) = (colorMap(512 + idx) >> 8).toByte
              out(o + 3) = 255.toByte
            case _ =>
              val s = src + spp * bytesPerSample * x + hiOff
              out(o) = data(s)
              out(o + 1) = data(s + bytesPerSample)
              out(o + 2) = data(s + 2 * bytesPerSample)
              out(o + 3) =
                if (spp == 4) data(s + 3 * bytesPerSample) else 255.toByte
          }
          x += 1
        }
        r += 1
      }
      seg += 1
    }
    (wi, hi, out)
  }

  /** zlib-inflate a TIFF Deflate strip to exactly `expect` bytes —
    * corrupt streams, truncation, non-progress, and size mismatches all
    * fail by name (the decodePngRgba inflate contract). */
  private[graft] def inflateExact(id: Long, p: Array[Byte], off: Int,
                                  len: Int, expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(p, off, len)
    var filled = 0
    while (filled < expect && !inflater.finished()) {
      val n =
        try inflater.inflate(out, filled, expect - filled)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"media $id: corrupt TIFF Deflate strip (${e.getMessage})")
        }
      require(n > 0 || inflater.finished(),
        s"media $id: truncated TIFF Deflate strip")
      filled += n
    }
    require(filled == expect,
      s"media $id: TIFF Deflate strip decoded to $filled bytes, " +
        s"expected $expect")
    // the stream must be exhausted too: probe one more byte — an
    // OVERLONG stream (data past the strip's geometric size) fails by
    // name instead of being silently truncated
    if (!inflater.finished()) {
      val probe = new Array[Byte](1)
      val extra =
        try inflater.inflate(probe, 0, 1)
        catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"media $id: corrupt TIFF Deflate strip (${e.getMessage})")
        }
      require(extra == 0,
        s"media $id: overlong TIFF Deflate strip (expands past " +
          s"$expect bytes)")
    }
    inflater.end()
    out
  }

  /** PackBits (TIFF 6.0 §9): n >= 0 copies n+1 literal bytes, n in
    * [-127, -1] repeats the next byte 1-n times, -128 is a no-op. The
    * expansion must land on exactly `expect` bytes. */
  private[graft] def unpackBits(id: Long, p: Array[Byte], off: Int,
                                len: Int, expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = off; val end = off + len
    var o = 0
    while (o < expect) {
      require(i < end, s"media $id: truncated TIFF PackBits strip")
      val n = p(i); i += 1
      if (n >= 0) {
        val cnt = n + 1
        require(i + cnt <= end && o + cnt <= expect,
          s"media $id: TIFF PackBits literal run overflows the strip")
        System.arraycopy(p, i, out, o, cnt)
        i += cnt; o += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        require(i < end && o + cnt <= expect,
          s"media $id: TIFF PackBits repeat run overflows the strip")
        java.util.Arrays.fill(out, o, o + cnt, p(i))
        i += 1; o += cnt
      }
    }
    out
  }

  /** TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, codes 256
    * (Clear) / 257 (EOI), table growth from 258 with the EARLY code-size
    * change (width bumps when the next free index reaches 2^size − 1 —
    * one code earlier than GIF's LZW, the spec's famous off-by-one).
    * Strings expand backwards through a prefix chain; every exit —
    * truncation, a code beyond the table, output overflow or underflow —
    * is named. */
  private[graft] def lzwDecode(id: Long, p: Array[Byte], off: Int,
                               len: Int, expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    val length = new Array[Int](4096)
    var j = 0
    while (j < 256) { length(j) = 1; j += 1 }
    var next = 258; var codeSize = 9
    var bitBuf = 0L; var bitCnt = 0; var pos = off
    val end = off + len
    var outPos = 0
    def read(): Int = {
      while (bitCnt < codeSize) {
        require(pos < end, s"media $id: truncated TIFF LZW strip")
        bitBuf = (bitBuf << 8) | (p(pos) & 0xFF); pos += 1; bitCnt += 8
      }
      bitCnt -= codeSize
      ((bitBuf >> bitCnt) & ((1 << codeSize) - 1)).toInt
    }
    def expand(code: Int): Unit = {
      val l = length(code)
      require(outPos + l <= expect,
        s"media $id: TIFF LZW expansion overflows the strip")
      var c = code; var i = outPos + l - 1
      while (c >= 258) { out(i) = append(c); i -= 1; c = prefix(c) }
      out(i) = c.toByte
      outPos += l
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= 258) c = prefix(c)
      c.toByte
    }
    var old = -1
    var done = false
    while (!done && outPos < expect) {
      val code = read()
      if (code == 257) done = true
      else if (code == 256) {
        next = 258; codeSize = 9
        val c2 = read()
        if (c2 == 257) done = true
        else {
          require(c2 < 256, s"media $id: invalid TIFF LZW code $c2 " +
            "after Clear")
          expand(c2); old = c2
        }
      } else {
        require(old >= 0,
          s"media $id: TIFF LZW stream does not start with Clear")
        require(code < 256 || (code >= 258 && code <= next),
          s"media $id: invalid TIFF LZW code $code (table size $next)")
        if (code == next) { // the KwKwK case: entry defined by this code
          require(next < 4095, s"media $id: TIFF LZW table overflow")
          prefix(next) = old; append(next) = firstByte(old)
          length(next) = length(old) + 1
          expand(next)
          next += 1
          if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
        } else {
          expand(code)
          if (next < 4095) {
            prefix(next) = old; append(next) = firstByte(code)
            length(next) = length(old) + 1
            next += 1
            if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
          }
        }
        old = code
      }
    }
    require(outPos == expect,
      s"media $id: TIFF LZW strip decoded to $outPos bytes, " +
        s"expected $expect")
    // the stream must be exhausted too: the only legal code after the
    // final expansion is EOI (257) — an OVERLONG stream (more data
    // codes past the strip's geometric size) fails by name instead of
    // being silently truncated
    if (!done) {
      val eoi = read()
      require(eoi == 257,
        s"media $id: overlong TIFF LZW strip (code $eoi past " +
          s"$expect bytes, expected EOI)")
    }
    out
  }

  // ------------------------------------------------------------------
  // Encoders (fixture side)
  // ------------------------------------------------------------------

  /** 24-bit BI_RGB BMP: `px(k)` supplies the k-th RGB channel byte in
    * row-major TOP-DOWN order (3·w·h values); the encoder writes the
    * spec's bottom-up padded BGR rows (or top-down via negative height
    * when `topDown`) — the decoder must undo both reorderings. */
  private[graft] def bmp24(width: Int, height: Int, px: Int => Int,
                           topDown: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, "bmp24 needs positive dims")
    val rowSize = ((3 * width + 3) / 4) * 4
    encodeBmp(width, height, 24, rowSize, topDown, null) { (row, y) =>
      var x = 0
      while (x < width) {
        row(3 * x) = px((y * width + x) * 3 + 2).toByte // B
        row(3 * x + 1) = px((y * width + x) * 3 + 1).toByte // G
        row(3 * x + 2) = px((y * width + x) * 3).toByte // R
        x += 1
      }
    }
  }

  /** 32-bit BI_RGB BMP (BGRx quads, fourth byte written as given but
    * RESERVED per spec — the decoder ignores it). `px` as [[bmp24]]. */
  private[graft] def bmp32(width: Int, height: Int, px: Int => Int,
                           reserved: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, "bmp32 needs positive dims")
    encodeBmp(width, height, 32, 4 * width, topDown = false, null) { (row, y) =>
      var x = 0
      while (x < width) {
        row(4 * x) = px((y * width + x) * 3 + 2).toByte
        row(4 * x + 1) = px((y * width + x) * 3 + 1).toByte
        row(4 * x + 2) = px((y * width + x) * 3).toByte
        row(4 * x + 3) = reserved.toByte
        x += 1
      }
    }
  }

  /** 8-bit palette BMP: `idx(k)` is the pixel's palette index in
    * row-major top-down order; `palette` holds RGB triples (converted to
    * the header's BGRx quads). */
  private[graft] def bmp8(width: Int, height: Int, idx: Int => Int,
                          palette: Array[Byte],
                          topDown: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0, "bmp8 needs positive dims")
    require(palette.length % 3 == 0 && palette.length <= 3 * 256,
      "palette holds <= 256 RGB triples")
    val rowSize = ((width + 3) / 4) * 4
    encodeBmp(width, height, 8, rowSize, topDown, palette) { (row, y) =>
      var x = 0
      while (x < width) {
        row(x) = idx(y * width + x).toByte
        x += 1
      }
    }
  }

  /** BI_RLE8 8-bit palette BMP: `idx(k)` as [[bmp8]] (row-major
    * TOP-DOWN indices; the encoder emits bottom-up, per spec). Runs of
    * >= 2 equal indices become encoded runs, literal spans of >= 3
    * become absolute mode (word-aligned), shorter literals single-count
    * runs; every row ends with the 0 0 escape and the stream with 0 1 —
    * the encoder mirror of the RLE8 walk, exercising all modes. */
  private[graft] def bmp8Rle(width: Int, height: Int, idx: Int => Int,
                             palette: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "bmp8Rle needs positive dims")
    require(palette.length % 3 == 0 && palette.length <= 3 * 256,
      "palette holds <= 256 RGB triples")
    val stream = new java.io.ByteArrayOutputStream()
    var y = height - 1 // emit bottom-up
    while (y >= 0) {
      var x = 0
      while (x < width) {
        var run = 1
        while (x + run < width && run < 255 &&
          idx(y * width + x + run) == idx(y * width + x)) run += 1
        if (run >= 2) {
          stream.write(run); stream.write(idx(y * width + x) & 0xFF)
          x += run
        } else {
          var lit = 1
          while (x + lit < width && lit < 255 &&
            (x + lit + 1 >= width ||
              idx(y * width + x + lit) != idx(y * width + x + lit + 1)))
            lit += 1
          if (lit >= 3) {
            stream.write(0); stream.write(lit)
            for (j <- 0 until lit) stream.write(idx(y * width + x + j) & 0xFF)
            if ((lit & 1) == 1) stream.write(0) // word-align
          } else {
            for (j <- 0 until lit) {
              stream.write(1); stream.write(idx(y * width + x + j) & 0xFF)
            }
          }
          x += lit
        }
      }
      stream.write(0); stream.write(if (y == 0) 1 else 0) // EOL / EOB
      y -= 1
    }
    bmpFile(width, height, 8, 1, palette, stream.toByteArray) // BI_RLE8
  }

  /** BI_RLE4 4-bit palette BMP: `idx(k)` (values 0..15) as [[bmp8Rle]];
    * even rows emit whole-row ABSOLUTE mode (packed nibbles,
    * word-aligned), odd rows emit two-pixel ENCODED runs (the run byte's
    * alternating nibbles), so both RLE4 modes are exercised
    * deterministically. `palette` holds up to 16 RGB triples. */
  private[graft] def bmp4Rle(width: Int, height: Int, idx: Int => Int,
                             palette: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "bmp4Rle needs positive dims")
    require(width >= 3 && width <= 254, "absolute mode needs 3..254 px rows")
    require(palette.length % 3 == 0 && palette.length <= 3 * 16,
      "palette holds <= 16 RGB triples")
    val stream = new java.io.ByteArrayOutputStream()
    var y = height - 1
    while (y >= 0) {
      if (((height - 1 - y) & 1) == 0) { // absolute whole row
        stream.write(0); stream.write(width)
        var j = 0
        while (j < width) {
          val hi = idx(y * width + j) & 0xF
          val lo = if (j + 1 < width) idx(y * width + j + 1) & 0xF else 0
          stream.write((hi << 4) | lo)
          j += 2
        }
        if ((((width + 1) / 2) & 1) == 1) stream.write(0) // word-align
      } else { // encoded two-pixel runs
        var j = 0
        while (j < width) {
          val n = math.min(2, width - j)
          val hi = idx(y * width + j) & 0xF
          val lo = if (n == 2) idx(y * width + j + 1) & 0xF else 0
          stream.write(n); stream.write((hi << 4) | lo)
          j += n
        }
      }
      stream.write(0); stream.write(if (y == 0) 1 else 0) // EOL / EOB
      y -= 1
    }
    bmpFile(width, height, 4, 2, palette, stream.toByteArray) // BI_RLE4
  }

  private def encodeBmp(width: Int, height: Int, bitCount: Int,
                        rowSize: Int, topDown: Boolean,
                        rgbPalette: Array[Byte])
                       (fill: (Array[Byte], Int) => Unit): Array[Byte] = {
    val body = new Array[Byte](rowSize * height)
    val row = new Array[Byte](rowSize)
    var y = 0
    while (y < height) {
      java.util.Arrays.fill(row, 0.toByte)
      fill(row, y)
      val dst = (if (topDown) y else height - 1 - y) * rowSize
      System.arraycopy(row, 0, body, dst, rowSize)
      y += 1
    }
    bmpFile(width, if (topDown) -height else height, bitCount, 0, // BI_RGB
      rgbPalette, body)
  }

  /** BMP file: BITMAPFILEHEADER + BITMAPINFOHEADER (`heightField`
    * negative = top-down rows, 72 dpi), the RGB `palette` (null = none)
    * as BGRx quads, then the pixel `body`. */
  private def bmpFile(width: Int, heightField: Int, bitCount: Int,
                      compression: Int, palette: Array[Byte],
                      body: Array[Byte]): Array[Byte] = {
    val nPal = if (palette == null) 0 else palette.length / 3
    val offBits = 14 + 40 + 4 * nPal
    val out = new Array[Byte](offBits + body.length)
    def le16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    def le32(off: Int, v: Int): Unit = {
      le16(off, v & 0xFFFF); le16(off + 2, (v >> 16) & 0xFFFF)
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    le32(2, out.length); le32(10, offBits)
    le32(14, 40) // BITMAPINFOHEADER
    le32(18, width); le32(22, heightField)
    le16(26, 1); le16(28, bitCount)
    le32(30, compression)
    le32(34, body.length)
    le32(38, 2835); le32(42, 2835) // 72 dpi
    le32(46, nPal); le32(50, 0)
    var pi = 0
    while (pi < nPal) {
      out(54 + 4 * pi) = palette(3 * pi + 2) // B
      out(54 + 4 * pi + 1) = palette(3 * pi + 1) // G
      out(54 + 4 * pi + 2) = palette(3 * pi) // R
      pi += 1
    }
    System.arraycopy(body, 0, out, offBits, body.length)
    out
  }

  /** TIFF encoder (fixture side): `sample(k)` supplies the k-th raw
    * sample byte in row-major chunky order (h·w·spp·(bitDepth/8) values
    * — at 16-bit the caller plants both bytes in the file's byte
    * order). `photometric` 0/1 gray (spp 1), 2 RGB (spp 3 or 4 — the
    * fourth sample is an unassociated alpha declared via ExtraSamples),
    * 3 palette (spp 1, `palette` = 3·256 RGB bytes expanded to the
    * spec's 16-bit ColorMap as v·257 so the high-byte reduction
    * round-trips exactly). `bigEndian` writes the MM layout;
    * `rowsPerStrip` 0 = one strip; `compression` 1/5/8/32773 with the
    * codec-attached `predictor`; `tile` > 0 (multiple of 16) switches
    * to the tiled layout (tags 322-325, edge tiles zero-padded). */
  private[graft] def tiff(width: Int, height: Int, photometric: Int,
                          spp: Int, sample: Int => Int,
                          bigEndian: Boolean = false,
                          rowsPerStrip: Int = 0,
                          palette: Array[Byte] = null,
                          compression: Int = 1,
                          predictor: Int = 1,
                          bitDepth: Int = 8,
                          tile: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, "tiff needs positive dims")
    require(photometric >= 0 && photometric <= 3, "photometric 0..3")
    require(if (photometric == 2) spp == 3 || spp == 4 else spp == 1,
      "spp 3/4 for RGB, 1 otherwise")
    require((photometric == 3) == (palette != null), "palette iff photometric 3")
    require(compression == 1 || compression == 5 || compression == 8 ||
      compression == 32773, s"compression $compression")
    require(predictor == 1 ||
      (predictor == 2 && (compression == 5 || compression == 8)),
      s"predictor $predictor under compression $compression")
    // 16-bit: `sample(k)` supplies RAW bytes (2 per sample, in the
    // file's byte order — the caller plants hi/lo explicitly, mirroring
    // pngTyped's bitDepth=16 convention); the predictor and palettes
    // stay 8-bit-only, like the decoder
    require(bitDepth == 8 || bitDepth == 16, s"bit depth $bitDepth")
    require(bitDepth == 8 || (predictor == 1 && photometric != 3),
      "16-bit excludes predictor and palettes (decoder scope)")
    require(tile == 0 || (tile > 0 && tile % 16 == 0),
      s"tile size $tile must be a multiple of 16")
    val bps = bitDepth / 8
    val rps = if (rowsPerStrip <= 0) height else rowsPerStrip
    val tiled = tile > 0
    val segW = if (tiled) tile else width
    val segHNom = if (tiled) tile else rps
    val segsAcross = if (tiled) (width + tile - 1) / tile else 1
    val segsDown = (height + segHNom - 1) / segHNom
    val nSegs = segsAcross * segsDown
    val canvasRowBytes = width * spp * bps
    // build each segment's raw rows (tiles are FULL-SIZE, edge tiles
    // zero-padded per spec; strips are ragged), apply horizontal
    // differencing when the predictor asks, then the segment codec —
    // the encoder mirror of the decode path, so round-trip specs pin
    // all four codecs across both layouts
    val stripsEnc = Array.tabulate(nSegs) { s =>
      val x0 = (s % segsAcross) * segW
      val y0 = (s / segsAcross) * segHNom
      val rows = if (tiled) segHNom
        else math.min(segHNom, height - y0)
      val segRowBytes = segW * spp * bps
      val raw = new Array[Byte](rows * segRowBytes)
      var r = 0
      while (r < rows) {
        val y = y0 + r
        if (y < height) {
          var x = 0
          while (x < segRowBytes) {
            val col = x0 * spp * bps + x
            raw(r * segRowBytes + x) =
              if (col < canvasRowBytes)
                sample(y * canvasRowBytes + col).toByte
              else 0
            x += 1
          }
        }
        r += 1
      }
      if (predictor == 2) {
        var rr = 0
        while (rr < rows) {
          var x = segRowBytes - 1
          while (x >= spp) {
            raw(rr * segRowBytes + x) =
              ((raw(rr * segRowBytes + x) -
                raw(rr * segRowBytes + x - spp)) & 0xFF).toByte
            x -= 1
          }
          rr += 1
        }
      }
      compression match {
        case 1 => raw
        case 5 => lzwEncode(raw)
        case 32773 => packBits(raw)
        case _ => Multimodal.Containers.deflate(raw)
      }
    }
    final case class Entry(tag: Int, typ: Int, count: Int, value: Long,
                           array: Array[Long] = null)
    val entryList = scala.collection.mutable.ArrayBuffer.empty[Entry]
    entryList += Entry(256, 4, 1, width)
    entryList += Entry(257, 4, 1, height)
    entryList += Entry(258, 3, spp, bitDepth,
      if (spp > 1) Array.fill(spp)(bitDepth.toLong) else null)
    entryList += Entry(259, 3, 1, compression)
    entryList += Entry(262, 3, 1, photometric)
    val offTag = if (tiled) 324 else 273
    val cntTag = if (tiled) 325 else 279
    entryList += Entry(offTag, 4, nSegs, 0,
      if (nSegs > 1) new Array[Long](nSegs) else null) // patched below
    entryList += Entry(277, 3, 1, spp)
    if (tiled) {
      entryList += Entry(322, 4, 1, tile)
      entryList += Entry(323, 4, 1, tile)
    } else entryList += Entry(278, 4, 1, rps)
    entryList += Entry(cntTag, 4, nSegs, 0,
      if (nSegs > 1) new Array[Long](nSegs) else null)
    if (predictor == 2) entryList += Entry(317, 3, 1, 2)
    if (spp == 4) entryList += Entry(338, 3, 1, 2) // unassociated alpha
    if (photometric == 3)
      entryList += Entry(320, 3, 3 * 256, 0, new Array[Long](3 * 256))
    val entries = entryList.sortBy(_.tag).toArray
    // layout: 8-byte header | IFD (2 + 12n + 4) | overflow arrays | strips
    val ifdOff = 8
    val ifdLen = 2 + 12 * entries.length + 4
    var overflowOff = ifdOff + ifdLen
    val overflowAt = entries.map { e =>
      val width = if (e.typ == 3) 2 else 4
      if (e.count * width > 4) {
        val at = overflowOff
        overflowOff += e.count * width
        overflowOff = (overflowOff + 1) & ~1 // word-align, per spec
        at
      } else -1
    }
    val dataOff = overflowOff
    val stripOffsets = new Array[Long](nSegs)
    val stripCounts = new Array[Long](nSegs)
    var stripAt = dataOff.toLong
    var si = 0
    while (si < nSegs) {
      stripOffsets(si) = stripAt
      stripCounts(si) = stripsEnc(si).length.toLong
      stripAt += stripsEnc(si).length
      si += 1
    }
    // patch the strip/tile tags now that the layout is known
    entries.indices.foreach { k =>
      entries(k).tag match {
        case t if t == offTag =>
          if (entries(k).array != null)
            System.arraycopy(stripOffsets, 0, entries(k).array, 0, nSegs)
          else entries(k) = entries(k).copy(value = stripOffsets(0))
        case t if t == cntTag =>
          if (entries(k).array != null)
            System.arraycopy(stripCounts, 0, entries(k).array, 0, nSegs)
          else entries(k) = entries(k).copy(value = stripCounts(0))
        case 320 =>
          var c = 0
          while (c < 3 * 256) {
            val channel = c / 256; val idx = c % 256
            val v = if (3 * idx + channel < palette.length)
              palette(3 * idx + channel) & 0xFF else 0
            entries(k).array(c) = v * 257L // v<<8 | v: high byte round-trips
            c += 1
          }
        case _ => ()
      }
    }
    val out = new Array[Byte](stripAt.toInt)
    def put16(off: Int, v: Int): Unit =
      if (bigEndian) { out(off) = (v >> 8).toByte; out(off + 1) = v.toByte }
      else { out(off) = v.toByte; out(off + 1) = (v >> 8).toByte }
    def put32(off: Int, v: Long): Unit =
      if (bigEndian) { put16(off, ((v >> 16) & 0xFFFF).toInt); put16(off + 2, (v & 0xFFFF).toInt) }
      else { put16(off, (v & 0xFFFF).toInt); put16(off + 2, ((v >> 16) & 0xFFFF).toInt) }
    if (bigEndian) { out(0) = 'M'.toByte; out(1) = 'M'.toByte; out(2) = 0; out(3) = 42 }
    else { out(0) = 'I'.toByte; out(1) = 'I'.toByte; out(2) = 42; out(3) = 0 }
    put32(4, ifdOff)
    put16(ifdOff, entries.length)
    entries.indices.foreach { k =>
      val e = entries(k)
      val at = ifdOff + 2 + 12 * k
      put16(at, e.tag); put16(at + 2, e.typ); put32(at + 4, e.count)
      val tw = if (e.typ == 3) 2 else 4
      if (e.count * tw <= 4) {
        // inline value, left-justified in the 4-byte cell per spec
        val vs = if (e.array != null) e.array else Array(e.value)
        var j = 0
        while (j < e.count) {
          if (e.typ == 3) put16(at + 8 + 2 * j, vs(j).toInt)
          else put32(at + 8 + 4 * j, vs(j))
          j += 1
        }
      } else {
        put32(at + 8, overflowAt(k))
        val vs = e.array
        var j = 0
        while (j < e.count) {
          if (e.typ == 3) put16(overflowAt(k) + 2 * j, vs(j).toInt)
          else put32(overflowAt(k) + 4 * j, vs(j))
          j += 1
        }
      }
    }
    put32(ifdOff + 2 + 12 * entries.length, 0) // no next IFD
    si = 0
    while (si < nSegs) {
      System.arraycopy(stripsEnc(si), 0, out, stripOffsets(si).toInt,
        stripsEnc(si).length)
      si += 1
    }
    out
  }

  /** PackBits compressor (TIFF 6.0 §9): repeat runs of >= 2 bytes as
    * (1 − n, byte), literal spans otherwise, both capped at 128. */
  private[graft] def packBits(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < raw.length) {
      var run = 1
      while (i + run < raw.length && run < 128 && raw(i + run) == raw(i))
        run += 1
      if (run >= 2) {
        out.write(1 - run); out.write(raw(i))
        i += run
      } else {
        var lit = 1
        while (i + lit < raw.length && lit < 128 &&
          (i + lit + 1 >= raw.length || raw(i + lit) != raw(i + lit + 1)))
          lit += 1
        out.write(lit - 1)
        out.write(raw, i, lit)
        i += lit
      }
    }
    out.toByteArray
  }

  /** TIFF-variant LZW compressor — the encoder mirror of [[lzwDecode]]:
    * MSB-first codes, Clear first and at table-full (index 4094, the
    * libtiff convention), EOI last, EARLY code-size change (width bumps
    * when the next free index reaches 2^size − 1). */
  private[graft] def lzwEncode(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << codeSize) | code
      bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xFF).toInt)
        bitCnt -= 8
      }
    }
    // dictionary keyed by (prefix code << 8) | next byte
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = 258
    emit(256) // Clear
    var omega = -1
    var i = 0
    while (i < raw.length) {
      val b = raw(i) & 0xFF
      if (omega < 0) omega = b
      else {
        val key = (omega << 8) | b
        val hit = dict.get(key)
        if (hit != null) omega = hit.intValue()
        else {
          emit(omega)
          if (next < 4094) {
            dict.put(key, next)
            next += 1
            // the decoder's counter runs one behind (it creates this
            // entry only when it processes the NEXT code), so its early
            // bump at (next == 2^size - 1) is our (next - 1 == 2^size - 1)
            if (next - 1 == (1 << codeSize) - 1 && codeSize < 12)
              codeSize += 1
          } else {
            emit(256) // table full: Clear and restart
            dict = new java.util.HashMap[Integer, Integer]()
            next = 258; codeSize = 9
          }
          omega = b
        }
      }
      i += 1
    }
    if (omega >= 0) emit(omega)
    // the decoder adds one entry after processing the final data code,
    // and that add can bump ITS width before it reads EOI — mirror it
    if (next == (1 << codeSize) - 1 && codeSize < 12) codeSize += 1
    emit(257) // EOI
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt)
    out.toByteArray
  }
}
