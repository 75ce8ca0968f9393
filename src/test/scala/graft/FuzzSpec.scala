package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaDedup, Multimodal, Raster}
import graft.multimodal.Multimodal.Containers

/** Adversarial-bytes fuzz over every media decoder: the streaming ingest
  * feeds UNTRUSTED crawl payloads through these walks, so each one must
  * either decode or throw a NAMED IllegalArgumentException ("media <id>:
  * cause") — never an index error, a negative-array-size, an unnamed zip
  * error, or an unbounded loop/allocation. Deterministic PRNG; three
  * attack shapes per decoder: random tails behind a valid magic, byte
  * mutations of a valid payload, and truncations of a valid payload.
  * This suite found (and now pins the fixes for) the signed RIFF/PNG
  * chunk-length infinite loops, the unnamed zlib DataFormatException,
  * and the hostile-dimension allocation overflows. */
class FuzzSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)

  private def fuzzOne(label: String, payload: Array[Byte],
                      decode: Array[Byte] => Any): Unit = {
    try { decode(payload); () }
    catch {
      case e: IllegalArgumentException =>
        assert(e.getMessage != null && e.getMessage.contains("media"),
          s"$label: unnamed IllegalArgumentException: ${e.getMessage}")
      case e: Throwable =>
        fail(s"$label: non-contract ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  private def fuzz(name: String, valid: Array[Byte], magicLen: Int,
                   decode: Array[Byte] => Any): Unit = {
    // (a) valid magic + random tail
    for (i <- 0 until 150) {
      val tail = new Array[Byte](rng.nextInt(300))
      rng.nextBytes(tail)
      fuzzOne(s"$name/tail#$i", valid.take(magicLen) ++ tail, decode)
    }
    // (b) mutations of a valid payload (1-8 flipped bytes)
    for (i <- 0 until 200) {
      val m = valid.clone()
      for (_ <- 0 to rng.nextInt(8))
        m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
      fuzzOne(s"$name/mut#$i", m, decode)
    }
    // (c) truncations
    for (i <- 0 until 100)
      fuzzOne(s"$name/trunc#$i", valid.take(rng.nextInt(valid.length)), decode)
  }

  private val pngPayload =
    Containers.pngFull(12, 9, i => (i * 31) % 256, filterType = 3)
  private val wavPayload = {
    val body = Array.tabulate(400)(p => ((p * 37) % 251 - 125).toByte)
    Containers.wav(1, 16000, body)
  }
  private val aviPayload =
    Containers.aviFull(6, 5, 3, (f, x, y, c) => (f * 31 + x * 7 + y * 13 + c) % 256)
  private val gifPayload = Containers.gifAnimated(8, 7, 2,
    (f, k) => (f * 3 + k) % 16,
    Array.tabulate(16 * 3)(b => (b * 5).toByte), minCodeSize = 4)

  test("fuzz: PNG decode fails only by name on hostile bytes") {
    fuzz("png", pngPayload, 8, p => Multimodal.decodePngRgba(1L, p))
    // the color-type matrix + ADAM7 paths inherit the contract
    val pal = Containers.pngTyped(12, 9, 3, i => i % 16,
      palette = Array.tabulate(16 * 3)(b => (b * 5).toByte),
      trns = Array.tabulate(16)(j => (255 - j).toByte), interlaced = true)
    fuzz("png-pal7", pal, 8, p => Multimodal.decodePngRgba(20L, p))
    val rgb = Containers.pngTyped(12, 9, 2, k => (k * 7) % 256,
      filterType = 4, interlaced = true)
    fuzz("png-rgb7", rgb, 8, p => Multimodal.decodePngRgba(21L, p))
    val deep = Containers.pngTyped(12, 9, 3, i => i % 4,
      palette = Array.tabulate(4 * 3)(b => (b * 21).toByte),
      interlaced = true, bitDepth = 2)
    fuzz("png-2bit", deep, 8, p => Multimodal.decodePngRgba(22L, p))
    val deep16 = Containers.pngTyped(12, 9, 2, k => (k * 11 + 3) % 256,
      filterType = 4, interlaced = true, bitDepth = 16)
    fuzz("png-16bit", deep16, 8, p => Multimodal.decodePngRgba(23L, p))
  }

  test("fuzz: WAV sample decode fails only by name on hostile bytes") {
    fuzz("wav", wavPayload, 12, p => Multimodal.pcm16Samples(2L, p))
    // the float32 and WAVE_FORMAT_EXTENSIBLE fmt layouts inherit it
    val floatBody = {
      val bb = java.nio.ByteBuffer.allocate(4 * 100)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (p <- 0 until 100) bb.putFloat(((p * 37) % 251 - 125) / 32768.0f)
      bb.array()
    }
    fuzz("wav-f32", Containers.wavTyped(1, 16000, floatBody, 32, fmtTag = 3),
      12, p => Multimodal.pcm16Samples(17L, p))
    fuzz("wav-ext", Containers.wavTyped(2, 44100, floatBody, 32, fmtTag = 3,
      extensible = true), 12, p => Multimodal.pcm16Samples(18L, p))
    fuzz("wav-ulaw", Containers.wavTyped(1, 8000,
      Array.tabulate[Byte](256)(_.toByte), 8, fmtTag = 7), 12,
      p => Multimodal.pcm16Samples(58L, p))
    fuzz("wav-adpcm", Containers.wavIma(1, 8000, 12, 17,
      Array.tabulate[Byte](36)(i => (i * 29 % 89).toByte)), 12,
      p => Multimodal.pcm16Samples(62L, p))
    fuzz("au", Containers.au(1, 8000, 1,
      Array.tabulate[Byte](100)(i => (i * 31).toByte)), 4,
      p => Multimodal.pcm16Samples(63L, p))
    fuzz("aiff", Containers.aiff(1, 44100, 16,
      Array.tabulate[Byte](100)(i => (i * 17).toByte)), 12,
      p => Multimodal.pcm16Samples(64L, p))
    // an AVI on the audio surface: the soundtrack walk inherits it, and
    // the stream-aware video walk sees the same hostile bytes
    val aviAv = Containers.aviWithAudio(6, 5, 2,
      (f, x, y, c) => (f * 31 + x * 7 + y * 13 + c) % 256, 1, 16000,
      Array.tabulate(80)(p => ((p * 37) % 4096 - 2048).toShort))
    fuzz("avi-snd", aviAv, 12, p => Multimodal.pcm16Samples(65L, p))
    fuzz("avi-av-vid", aviAv, 12, p => Multimodal.decodeAviRgb(66L, p))
    fuzz("wav-msadpcm", Containers.wavMsAdpcm(1, 8000, 12, 12,
      Array.tabulate[Byte](36)(i => (i * 23 % 7).toByte)), 12,
      p => Multimodal.pcm16Samples(67L, p))
  }

  test("fuzz: AVI frame decode fails only by name on hostile bytes") {
    fuzz("avi", aviPayload, 12, p => Multimodal.decodeAviRgb(3L, p))
    // the MJPEG branch inherits the contract (JPEG decode inside movi)
    val mjpegPayload = Containers.aviMjpeg(16, 16,
      Array.tabulate(2)(f => graft.multimodal.Jpeg.encodeGrayBlocks(16, 16,
        Array(40 + f, 90, 140, 200))))
    fuzz("mjpeg", mjpegPayload, 12, p => Multimodal.decodeAviRgb(16L, p))
  }

  test("fuzz: animated GIF decode fails only by name on hostile bytes") {
    fuzz("gif", gifPayload, 6, p => Multimodal.decodeGifFrames(4L, p))
    fuzz("gif1", gifPayload, 6, p => Multimodal.decodeGifIdx(5L, p))
    // the compositing walk (partial rects, disposal, transparency)
    // inherits the contract
    val partialPayload = Containers.gifAnimatedPartial(10, 8, Seq(
      Containers.GifFrameSpec(0, 0, 10, 8, k => k % 16, disposal = 2),
      Containers.GifFrameSpec(2, 1, 6, 4, k => (k + 3) % 16, disposal = 3,
        transparentIdx = 7),
      Containers.GifFrameSpec(4, 4, 4, 4, k => (k + 9) % 16)),
      Array.tabulate(16 * 3)(b => (b * 5).toByte), minCodeSize = 4)
    fuzz("gif-comp", partialPayload, 6,
      p => Multimodal.decodeGifComposited(18L, p))
  }

  private val bmpPayload = Raster.bmp24(9, 6, k => (k * 7) % 251)
  private val bmp8Payload = Raster.bmp8(10, 5, k => (k * 3) % 251,
    Array.tabulate(256 * 3)(b => (b / 3).toByte))
  private val tiffIiPayload = Raster.tiff(11, 7, 2, 3, k => (k * 5) % 251,
    rowsPerStrip = 3)
  private val tiffMmPayload = Raster.tiff(8, 9, 1, 1, k => (k * 11) % 251,
    bigEndian = true, rowsPerStrip = 2)
  private val tiffPalPayload = Raster.tiff(8, 8, 3, 1, k => (k * 13) % 251,
    palette = Array.tabulate(256 * 3)(b => (b / 3).toByte))

  test("fuzz: BMP + TIFF decode fails only by name on hostile bytes") {
    fuzz("bmp24", bmpPayload, 2, p => Raster.decodeBmpRgba(24L, p))
    fuzz("bmp8", bmp8Payload, 2, p => Raster.decodeBmpRgba(25L, p))
    fuzz("tiff-ii", tiffIiPayload, 4, p => Raster.decodeTiffRgba(26L, p))
    fuzz("tiff-mm", tiffMmPayload, 4, p => Raster.decodeTiffRgba(27L, p))
    fuzz("tiff-pal", tiffPalPayload, 4, p => Raster.decodeTiffRgba(28L, p))
    // the compressed-strip codecs inherit the contract: hostile LZW
    // codes, PackBits runs, and Deflate streams all fail by name
    fuzz("tiff-lzw", Raster.tiff(11, 7, 1, 1, k => (k * 5) % 251,
      rowsPerStrip = 3, compression = 5, predictor = 2), 4,
      p => Raster.decodeTiffRgba(51L, p))
    fuzz("tiff-dfl", Raster.tiff(8, 9, 2, 3, k => (k * 11) % 251,
      bigEndian = true, compression = 8), 4,
      p => Raster.decodeTiffRgba(52L, p))
    fuzz("tiff-pb", Raster.tiff(8, 8, 1, 1, k => (k * 13) % 251,
      compression = 32773), 4, p => Raster.decodeTiffRgba(53L, p))
    fuzz("tiff-16", Raster.tiff(9, 7, 1, 1, k => (k * 7 + 3) % 256,
      bitDepth = 16), 4, p => Raster.decodeTiffRgba(59L, p))
    fuzz("tiff-tile", Raster.tiff(19, 17, 2, 3, k => (k * 5) % 251,
      tile = 16, compression = 5, predictor = 2), 4,
      p => Raster.decodeTiffRgba(60L, p))
    fuzz("bmp-rle", Raster.bmp8Rle(12, 9, k => (k * 7) % 64,
      Array.tabulate(256 * 3)(b => (b / 3).toByte)), 14,
      p => Raster.decodeBmpRgba(61L, p))
    fuzz("bmp-rle4", Raster.bmp4Rle(12, 9, k => (k * 7) % 16,
      Array.tabulate(16 * 3)(b => ((b / 3) * 17).toByte)), 14,
      p => Raster.decodeBmpRgba(68L, p))
  }

  private val webpPayload = graft.multimodal.Webp.encodeLossless(13, 9,
    Array.tabulate(13 * 9) { k =>
      val v = (k * 31 + 7) % 256
      0xFF000000 | (v << 16) | (v << 8) | v
    })
  private val webpPalPayload = graft.multimodal.Webp.encodeLossless(13, 9,
    Array.tabulate(13 * 9) { k =>
      val v = ((k * 5) % 16) * 16
      0xFF000000 | (v << 16) | (v << 8) | v
    }, graft.multimodal.Webp.LosslessOptions(palette = true))
  private val webpFullPayload = graft.multimodal.Webp.encodeLossless(20, 16,
    Array.tabulate(20 * 16) { k =>
      val v = ((k % 20) * 5 + ((k / 20) - (k / 20) % 2) * 7) % 256
      0xFF000000 | (v << 16) | (v << 8) | v
    }, graft.multimodal.Webp.LosslessOptions(subtractGreen = true,
      predictorMode = 9, cacheBits = 5, lz77 = true, metaBits = 2))

  private val webpAnimPayload = graft.multimodal.Webp.encodeAnimated(
    10, 8, 0xFF000000 | 0x050505, Seq(
      graft.multimodal.Webp.AnimFrameSpec(0, 0, 10, 8,
        Array.tabulate(80)(k => 0xFF000000 | ((k * 11 % 256) * 0x010101)),
        noBlend = true, dispose = true),
      graft.multimodal.Webp.AnimFrameSpec(2, 2, 4, 4,
        Array.tabulate(16)(k =>
          if (k % 5 == 0) 0 else 0xFF000000 | ((k * 31 % 256) * 0x010101)),
        noBlend = false)))

  test("fuzz: WebP VP8L decode fails only by name on hostile bytes") {
    fuzz("webp", webpPayload, 12,
      p => graft.multimodal.Webp.decodeWebpRgba(30L, p))
    // the transform / cache / LZ77 / meta-tiling paths inherit the
    // contract, as do the format-blind still-image and video dispatches
    // and the ANMF compositing walk
    fuzz("webp-pal", webpPalPayload, 12,
      p => graft.multimodal.Webp.decodeWebpRgba(31L, p))
    fuzz("webp-full", webpFullPayload, 12,
      p => graft.multimodal.Webp.decodeWebpRgba(32L, p))
    fuzz("webp-dispatch", webpPayload, 12,
      p => Multimodal.decodeStillRgba(33L, p))
    fuzz("webp-anim", webpAnimPayload, 12,
      p => graft.multimodal.Webp.decodeAnimFrames(34L, p))
    // the LOSSY VP8 keyframe decoder inherits the contract: the in-repo
    // encoder's sparse stream AND a dense libwebp-encoded noise vector
    // (all token paths, segmentation, loop filter)
    val lossyPayload = graft.multimodal.Vp8Enc.encodeCellGrayWebp(32, 32,
      Array.tabulate(64)(k => ((k * 9 + 5) % 54) * 4 + 16))
    fuzz("vp8-lossy", lossyPayload, 20,
      p => graft.multimodal.Webp.decodeWebpRgba(36L, p))
    val noiseVector = {
      val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "src/test/resources/vp8/v07_noise_32x32_q50.bin"))
      val n = (raw(12) & 0xFF) | ((raw(13) & 0xFF) << 8) |
        ((raw(14) & 0xFF) << 16) | ((raw(15) & 0xFF) << 24)
      java.util.Arrays.copyOfRange(raw, 16, 16 + n)
    }
    fuzz("vp8-noise", noiseVector, 20,
      p => graft.multimodal.Webp.decodeWebpRgba(37L, p))
    // ALPH-wrapped lossy (VP8L-compressed alpha + gradient filter)
    val alphPayload = graft.multimodal.Vp8Enc.wrapWebpAlpha(
      graft.multimodal.Vp8Enc.vp8Payload(
        graft.multimodal.Vp8Enc.encodeCellGrayWebp(32, 32,
          Array.tabulate(64)(k => ((k * 3 + 1) % 54) * 4 + 16))), 32, 32,
      alpha = Array.tabulate(32 * 32)(i => (i * 5 + 9) % 256),
      filter = 3, compress = true)
    fuzz("vp8-alph", alphPayload, 20,
      p => graft.multimodal.Webp.decodeWebpRgba(38L, p))
    fuzz("webp-vid-dispatch", webpAnimPayload, 12,
      p => Multimodal.decodeVideoRgb(35L, p))
  }

  private val mp4Payload = graft.multimodal.ContainerMeta.mp4Stub(
    "isom", 1000, 4000, Seq(
      graft.multimodal.ContainerMeta.TrackMeta("vide", "avc1", 320, 240, 0, 0),
      graft.multimodal.ContainerMeta.TrackMeta("soun", "mp4a", 0, 0, 2, 44100)))
  private val mp3Payload = graft.multimodal.ContainerMeta.mp3Stub(
    3, 1, 9, 0, mono = false, id3Size = 120)
  private val oggPayload = graft.multimodal.ContainerMeta.oggVorbisStub(2, 44100)

  private val id3Payload = graft.multimodal.ContainerMeta.mp3StubTagged(
    Seq("TIT2" -> "fuzz title", "TPE1" -> "fuzz artist",
      "TALB" -> "fuzz album"), v4 = true, padding = 16)

  test("fuzz: the MP4/MP3/Ogg metadata walks fail only by name on " +
    "hostile bytes") {
    fuzz("mp4", mp4Payload, 8,
      p => graft.multimodal.ContainerMeta.mp4Meta(40L, p))
    fuzz("mp3", mp3Payload, 4,
      p => graft.multimodal.ContainerMeta.mp3Meta(41L, p))
    fuzz("ogg", oggPayload, 4,
      p => graft.multimodal.ContainerMeta.oggMeta(42L, p))
    fuzz("id3", id3Payload, 4,
      p => graft.multimodal.ContainerMeta.id3TextFrames(43L, p))
  }

  private val jpegPayload = graft.multimodal.Jpeg.encodeBlocks(16, 16,
    Array(Array.tabulate(4) { b =>
      val blk = new Array[Int](64)
      blk(0) = b * 19 - 30
      for (k <- 1 until 64 if (k * 7 + b * 5) % 11 == 0)
        blk(k) = ((k * 13 + b * 29) % 9) - 4
      blk
    }), restartInterval = 3)

  test("fuzz: JPEG decode fails only by name on hostile bytes") {
    fuzz("jpeg", jpegPayload, 2,
      p => graft.multimodal.Jpeg.decodeRgb(8L, p))
    // the progressive multi-scan walk inherits the contract
    val progPayload = graft.multimodal.Jpeg.encodeProgressive(16, 16,
      Array(Array.tabulate(4) { b =>
        val blk = new Array[Int](64)
        blk(0) = b * 17 - 30; blk(5) = 3; blk(20) = -2
        blk
      }))
    fuzz("jpeg-prog", progPayload, 2,
      p => graft.multimodal.Jpeg.decodeRgb(17L, p))
    // the wide-sampling (4:1:1) MCU walk inherits the contract
    fuzz("jpeg-411", graft.multimodal.Jpeg.encodeGraySampled(32, 16,
      Array.tabulate(8)(k => (k * 37 + 19) % 256), 0x41,
      restartInterval = 1), 2,
      p => graft.multimodal.Jpeg.decodeRgb(18L, p))
  }

  test("fuzz: the EXIF orientation reader NEVER throws — metadata " +
    "degrades to 0 on hostile bytes") {
    val tagged = graft.multimodal.Jpeg.withExif(jpegPayload, 6)
    fuzz("exif", tagged, 2, { p =>
      val o = graft.multimodal.Jpeg.exifOrientation(p)
      assert(o >= 0 && o <= 8)
    })
  }

  private val flacPayload = graft.multimodal.Flac.encode(
    Array.tabulate(300)(p => ((p.toLong * p * 13 + p * 29 + 5) % 4096 - 2048).toInt))

  test("fuzz: FLAC decode fails only by name on hostile bytes (and the " +
    "format-blind audio dispatch inherits it)") {
    fuzz("flac", flacPayload, 4,
      p => graft.multimodal.Flac.decode(15L, p))
    fuzz("flac-dispatch", flacPayload, 4,
      p => Multimodal.pcm16Samples(16L, p))
  }

  test("fuzz: the format-blind video dispatch inherits the contract") {
    fuzz("vid-avi", aviPayload, 12, p => Multimodal.decodeVideoRgb(6L, p))
    fuzz("vid-gif", gifPayload, 6, p => Multimodal.decodeVideoRgb(7L, p))
  }

  test("fuzz: the sniff-routed pixel, feature, resize and audio dispatches " +
    "take short and hostile payloads by name") {
    // Containers.sniff names GIF on 3 bytes, JPEG on 2 and PNG on 4, so
    // payloads shorter than the old caller guards now reach decodeGifIdx
    // and Jpeg.decodeRgbOriented through the shared pixel walk, and
    // decodePngRgba through resize; a RIFF that is neither WAVE nor WebP
    // now reaches the AVI soundtrack walk
    fuzz("gif-pixels", gifPayload, 3, p => MediaDedup.dhashOneImage(70L, p))
    fuzz("jpeg-pixels", jpegPayload, 2, p => MediaDedup.dhashOneImage(71L, p))
    fuzz("png-resize", pngPayload, 4, p =>
      Multimodal.resizeOne(Multimodal.MediaRow(72L, "image", p, 12, 9, 1), 4))
    fuzz("png-features", pngPayload, 4, p => Multimodal.featuresOne(73L, p, 2))
    val riffOther = wavPayload.clone()
    riffOther(8) = 'X'.toByte
    fuzz("riff-audio", riffOther, 12, p => Multimodal.pcm16Samples(74L, p))
  }

  private val apngPayload = Containers.pngAnimated(10, 8, Seq(
    Containers.ApngFrameSpec(0, 0, 10, 8,
      i => if (i % 4 == 3) 255 else (i * 7) % 256, dispose = 1),
    Containers.ApngFrameSpec(2, 1, 6, 4, { i =>
      if ((i / 4) % 3 == 0) 0
      else if (i % 4 == 3) 255 else (i * 11 + 3) % 256
    }, dispose = 2, blend = 1, filterType = 4)))

  test("fuzz: APNG compositing decode fails only by name on hostile " +
    "bytes (and the video dispatch inherits it)") {
    fuzz("apng", apngPayload, 8, p => Multimodal.decodeApngFrames(19L, p))
    fuzz("apng-vid-dispatch", apngPayload, 8,
      p => Multimodal.decodeVideoRgb(29L, p))
  }

  test("fuzz: EXTENDED campaign — opt-in deep mutation sweep over every " +
    "decoder (SPARK_GRAFT_FUZZ_EXTENDED=<seed>; skipped otherwise)") {
    assume(sys.env.contains("SPARK_GRAFT_FUZZ_EXTENDED"))
    val seed = sys.env("SPARK_GRAFT_FUZZ_EXTENDED").toLong
    val deep = new scala.util.Random(seed)
    val progPayload = graft.multimodal.Jpeg.encodeProgressive(16, 16,
      Array(Array.tabulate(4) { b =>
        val blk = new Array[Int](64)
        blk(0) = b * 17 - 30; blk(5) = 3; blk(20) = -2
        blk
      }))
    val sub420 = graft.multimodal.Jpeg.encodeGray420(32, 16,
      Array.tabulate(8)(k => (k * 31 + 9) % 256), restartInterval = 1)
    val stereoFlac = graft.multimodal.Flac.encode(
      Array.tabulate(2 * 300)(i => ((i.toLong * 13 + 7) % 4096 - 2048).toInt),
      channels = 2, stereoMode = 10, lpc = Some((Array(3, -1), 1)))
    val partialGif = Containers.gifAnimatedPartial(10, 8, Seq(
      Containers.GifFrameSpec(0, 0, 10, 8, k => k % 16, disposal = 2),
      Containers.GifFrameSpec(2, 1, 6, 4, k => (k + 3) % 16, disposal = 3,
        transparentIdx = 7)),
      Array.tabulate(16 * 3)(b => (b * 5).toByte), minCodeSize = 4)
    val mjpeg = Containers.aviMjpeg(16, 16, Array.tabulate(2)(f =>
      graft.multimodal.Jpeg.encodeGrayBlocks(16, 16, Array(40 + f, 90, 140, 200))))
    val palAdam = Containers.pngTyped(12, 9, 3, i => i % 16,
      palette = Array.tabulate(16 * 3)(b => (b * 5).toByte),
      trns = Array.tabulate(16)(j => (255 - j).toByte), interlaced = true)
    val targets: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
      ("png", pngPayload, p => Multimodal.decodePngRgba(1L, p)),
      ("png-pal7", palAdam, p => Multimodal.decodePngRgba(12L, p)),
      ("png-16", Containers.pngTyped(12, 9, 2, k => (k * 11 + 3) % 256,
        filterType = 4, interlaced = true, bitDepth = 16),
        p => Multimodal.decodePngRgba(13L, p)),
      ("wav", wavPayload, p => Multimodal.pcm16Samples(2L, p)),
      ("avi", aviPayload, p => Multimodal.decodeAviRgb(3L, p)),
      ("mjpeg", mjpeg, p => Multimodal.decodeAviRgb(4L, p)),
      ("gif", gifPayload, p => Multimodal.decodeGifFrames(5L, p)),
      ("gif-comp", partialGif, p => Multimodal.decodeGifComposited(6L, p)),
      ("jpeg", jpegPayload, p => graft.multimodal.Jpeg.decodeRgb(7L, p)),
      ("jpeg-prog", progPayload, p => graft.multimodal.Jpeg.decodeRgb(8L, p)),
      ("jpeg-420", sub420, p => graft.multimodal.Jpeg.decodeRgb(9L, p)),
      ("flac", flacPayload, p => graft.multimodal.Flac.decode(10L, p)),
      ("flac-st", stereoFlac, p => graft.multimodal.Flac.decode(11L, p)),
      ("bmp24", bmpPayload, p => Raster.decodeBmpRgba(24L, p)),
      ("bmp8", bmp8Payload, p => Raster.decodeBmpRgba(25L, p)),
      ("tiff-ii", tiffIiPayload, p => Raster.decodeTiffRgba(26L, p)),
      ("tiff-mm", tiffMmPayload, p => Raster.decodeTiffRgba(27L, p)),
      ("tiff-pal", tiffPalPayload, p => Raster.decodeTiffRgba(28L, p)),
      ("webp", webpPayload,
        p => graft.multimodal.Webp.decodeWebpRgba(30L, p)),
      ("webp-pal", webpPalPayload,
        p => graft.multimodal.Webp.decodeWebpRgba(31L, p)),
      ("webp-full", webpFullPayload,
        p => graft.multimodal.Webp.decodeWebpRgba(32L, p)),
      ("webp-anim", webpAnimPayload,
        p => graft.multimodal.Webp.decodeAnimFrames(34L, p)),
      ("mp4", mp4Payload,
        p => graft.multimodal.ContainerMeta.mp4Meta(40L, p)),
      ("mp3", mp3Payload,
        p => graft.multimodal.ContainerMeta.mp3Meta(41L, p)),
      ("ogg", oggPayload,
        p => graft.multimodal.ContainerMeta.oggMeta(42L, p)),
      ("id3", id3Payload,
        p => graft.multimodal.ContainerMeta.id3TextFrames(43L, p)),
      ("vp8-lossy", graft.multimodal.Vp8Enc.encodeCellGrayWebp(32, 32,
        Array.tabulate(64)(k => ((k * 9 + 5) % 54) * 4 + 16)),
        p => graft.multimodal.Webp.decodeWebpRgba(44L, p)),
      ("vp8-noise", {
        val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          "src/test/resources/vp8/v12_noise_128x96_q60.bin"))
        val n = (raw(12) & 0xFF) | ((raw(13) & 0xFF) << 8) |
          ((raw(14) & 0xFF) << 16) | ((raw(15) & 0xFF) << 24)
        java.util.Arrays.copyOfRange(raw, 16, 16 + n)
      }, p => graft.multimodal.Webp.decodeWebpRgba(45L, p)),
      ("ogg-tags", graft.multimodal.ContainerMeta.oggVorbisTaggedStub(2,
        44100, Seq("TITLE" -> "t", "ARTIST" -> "a",
          "DESCRIPTION" -> ("x" * 300)), spanPages = true),
        p => graft.multimodal.ContainerMeta.oggTextComments(46L, p)),
      ("ilst", graft.multimodal.ContainerMeta.mp4Stub("mp42", 600, 1200,
        Seq(graft.multimodal.ContainerMeta.TrackMeta("vide", "avc1",
          64, 48, 0, 0)),
        tags = Seq("title" -> "t", "artist" -> "a", "album" -> "b")),
        p => graft.multimodal.ContainerMeta.mp4TextTags(47L, p)),
      ("heif", graft.multimodal.ContainerMeta.heifStub("heic", 640, 480),
        p => graft.multimodal.ContainerMeta.heifDims(48L, p)),
      ("id3-unsync", graft.multimodal.ContainerMeta.mp3StubTagged(
        Seq("TIT2" -> "tÿ1", "TPE1" -> "aÿb"), v4 = false,
        extHeader = true, unsync = true),
        p => graft.multimodal.ContainerMeta.id3TextFrames(49L, p)),
      ("vp8-alph", graft.multimodal.Vp8Enc.wrapWebpAlpha(
        graft.multimodal.Vp8Enc.vp8Payload(
          graft.multimodal.Vp8Enc.encodeCellGrayWebp(32, 32,
            Array.tabulate(64)(k => ((k * 3 + 1) % 54) * 4 + 16))), 32, 32,
        alpha = Array.tabulate(32 * 32)(i => (i * 5 + 9) % 256),
        filter = 3, compress = true),
        p => graft.multimodal.Webp.decodeWebpRgba(50L, p)),
      ("wav-f32", {
        val bb = java.nio.ByteBuffer.allocate(4 * 100)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (p <- 0 until 100) bb.putFloat(((p * 37) % 251 - 125) / 32768.0f)
        Containers.wavTyped(1, 16000, bb.array(), 32, fmtTag = 3,
          extensible = true)
      }, p => Multimodal.pcm16Samples(54L, p)),
      ("tiff-lzw", Raster.tiff(11, 7, 1, 1, k => (k * 5) % 251,
        rowsPerStrip = 3, compression = 5, predictor = 2),
        p => Raster.decodeTiffRgba(55L, p)),
      ("tiff-pb", Raster.tiff(8, 8, 1, 1, k => (k * 13) % 251,
        compression = 32773), p => Raster.decodeTiffRgba(56L, p)),
      ("apng", apngPayload, p => Multimodal.decodeApngFrames(57L, p)))
    targets.foreach { case (name, valid, decode) =>
      for (i <- 0 until 3000) {
        val m = valid.clone()
        for (_ <- 0 to deep.nextInt(10))
          m(deep.nextInt(m.length)) = deep.nextInt(256).toByte
        fuzzOne(s"deep-$name/mut#$i", m, decode)
      }
      for (i <- 0 until 500)
        fuzzOne(s"deep-$name/trunc#$i",
          valid.take(deep.nextInt(valid.length)), decode)
    }
  }

  test("the exact signed-length attacks that motivated the guards " +
    "fail by name, not by hanging") {
    // RIFF chunk with length -8: old walk re-landed on the same offset
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val evilWav = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(-8) ++ Array.fill(40)(0.toByte)
    val e1 = intercept[IllegalArgumentException](
      Multimodal.pcm16Samples(9L, evilWav))
    assert(e1.getMessage.contains("negative"))
    val evilAvi = "RIFF".getBytes ++ le32(100) ++ "AVI ".getBytes ++
      "JUNK".getBytes ++ le32(-8) ++ Array.fill(40)(0.toByte)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeAviRgb(10L, evilAvi))
    assert(e2.getMessage.contains("negative"))
    // PNG chunk with length -12: same re-landing loop pre-guard
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val be = (v: Int) => Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    val evilPng = sig ++ be(-12) ++ "IHDR".getBytes ++ Array.fill(30)(0.toByte)
    val e3 = intercept[IllegalArgumentException](
      Multimodal.decodePngRgba(11L, evilPng))
    assert(e3.getMessage.contains("negative"))
  }

  test("a POSITIVE chunk length near 2^31 (Int-sum overflow) fails as " +
    "'truncated', not an index error") {
    // len = Int.MaxValue - dataOff: dataOff + len (+4) overflows the Int
    // sum NEGATIVE, so the old Int-arithmetic truncation require passed
    // and the walk crashed unnamed downstream — the Long-bound guard must
    // name it instead
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val be = (v: Int) => Array(((v >> 24) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    // PNG: first chunk at off=8, dataOff=16
    val hugePng = sig ++ be(Int.MaxValue - 16) ++ "IHDR".getBytes ++
      Array.fill(30)(0.toByte)
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodePngRgba(12L, hugePng))
    assert(e1.getMessage.contains("truncated"), e1.getMessage)
    // WAV: first chunk at off=12, dataOff=20
    val hugeWav = "RIFF".getBytes ++ le32(100) ++ "WAVE".getBytes ++
      "JUNK".getBytes ++ le32(Int.MaxValue - 20) ++ Array.fill(40)(0.toByte)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.pcm16Samples(13L, hugeWav))
    assert(e2.getMessage.contains("truncated"), e2.getMessage)
    val hugeAvi = "RIFF".getBytes ++ le32(100) ++ "AVI ".getBytes ++
      "JUNK".getBytes ++ le32(Int.MaxValue - 20) ++ Array.fill(40)(0.toByte)
    val e3 = intercept[IllegalArgumentException](
      Multimodal.decodeAviRgb(14L, hugeAvi))
    assert(e3.getMessage.contains("truncated"), e3.getMessage)
  }
}
