package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.multimodal.{Jpeg, MediaDedup, Multimodal, Raster, Vp8Enc, Webp}
import graft.multimodal.Multimodal.Containers

/** Pins the exact bytes every media fixture emits: one md5 per
  * `synthetic*` builder in [[Multimodal]] and [[MediaDedup]] (rows
  * ordered by id, over the sf0.001 documents with doc_id < 128, which
  * covers every residue the builders key on), and one md5 per direct
  * writer call, covering each parameter that changes a container's
  * layout. The oracles recompute these bytes arithmetically, so any
  * change to a writer must leave every digest equal.
  *
  * PNG and TIFF (deflate) bodies come from the JDK's zlib; a JDK whose
  * zlib emits a different deflate stream re-pins those digests. */
class FixtureBytesSpec extends SparkSpec {

  private lazy val docs =
    graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
      .where(col("doc_id") < 128)

  private def md5(chunks: Iterator[Array[Byte]]): String = {
    val m = MessageDigest.getInstance("MD5")
    chunks.foreach { c =>
      m.update(java.nio.ByteBuffer.allocate(4).putInt(c.length).array())
      m.update(c)
    }
    m.digest().map(b => f"${b & 0xFF}%02x").mkString
  }

  private def cellBytes(v: Any): Array[Byte] = v match {
    case b: Array[Byte] => b
    case null => Array.emptyByteArray
    case other => other.toString.getBytes("UTF-8")
  }

  /** Rows ordered by their leading id column, ties by the row's own
    * bytes, every cell length-prefixed into one md5. */
  private def frameDigest(df: DataFrame): String = {
    val rows = df.collect().toSeq.map { r: Row =>
      (r.getLong(0), (0 until r.length).map(i => cellBytes(r.get(i))))
    }
    val ordered = rows.sortBy { case (id, cells) =>
      (id, md5(cells.iterator))
    }
    md5(ordered.iterator.flatMap(_._2))
  }

  private val builders: Seq[(String, DataFrame => DataFrame)] = Seq(
    "syntheticMediaFromDocs" -> (d => Multimodal.syntheticMediaFromDocs(d).toDF()),
    "syntheticCompositedGifMedia" -> (d => Multimodal.syntheticCompositedGifMedia(d).toDF()),
    "syntheticApngMedia" -> (d => Multimodal.syntheticApngMedia(d).toDF()),
    "syntheticVideoMedia" -> (d => Multimodal.syntheticVideoMedia(d).toDF()),
    "syntheticGifMedia" -> (d => Multimodal.syntheticGifMedia(d).toDF()),
    "syntheticExifJpegMedia" -> (d => Multimodal.syntheticExifJpegMedia(d).toDF()),
    "syntheticJpegMedia" -> (d => Multimodal.syntheticJpegMedia(d).toDF()),
    "syntheticHealthMedia" -> (d => Multimodal.syntheticHealthMedia(d).toDF()),
    "syntheticTaggedContainerMedia" -> (d => Multimodal.syntheticTaggedContainerMedia(d).toDF()),
    "syntheticTaggedAudioMedia" -> (d => Multimodal.syntheticTaggedAudioMedia(d).toDF()),
    "syntheticContainerMedia" -> (d => Multimodal.syntheticContainerMedia(d).toDF()),
    "syntheticAnimatedWebpMedia" -> (d => Multimodal.syntheticAnimatedWebpMedia(d).toDF()),
    "syntheticGifVariantMedia" -> (d => Multimodal.syntheticGifVariantMedia(d).toDF()),
    "syntheticRasterMedia" -> (d => Multimodal.syntheticRasterMedia(d).toDF()),
    "syntheticLossyWebpMedia" -> (d => Multimodal.syntheticLossyWebpMedia(d).toDF()),
    "syntheticWebpMedia" -> (d => Multimodal.syntheticWebpMedia(d).toDF()),
    "syntheticWavG711Media" -> (d => Multimodal.syntheticWavG711Media(d).toDF()),
    "syntheticWavAdpcmMedia" -> (d => Multimodal.syntheticWavAdpcmMedia(d).toDF()),
    "syntheticLegacyAudioMedia" -> (d => Multimodal.syntheticLegacyAudioMedia(d).toDF()),
    "syntheticWavMsAdpcmMedia" -> (d => Multimodal.syntheticWavMsAdpcmMedia(d).toDF()),
    "syntheticTiffCompressedMedia" -> (d => Multimodal.syntheticTiffCompressedMedia(d).toDF()),
    "syntheticBmpRleMedia" -> (d => Multimodal.syntheticBmpRleMedia(d).toDF()),
    "syntheticBmpRle4Media" -> (d => Multimodal.syntheticBmpRle4Media(d).toDF()),
    "syntheticTiffDeepMedia" -> (d => Multimodal.syntheticTiffDeepMedia(d).toDF()),
    "syntheticPngVariantMedia" -> (d => Multimodal.syntheticPngVariantMedia(d).toDF()),
    "syntheticWavDepthMedia" -> (d => Multimodal.syntheticWavDepthMedia(d).toDF()),
    "syntheticWavFmtMedia" -> (d => Multimodal.syntheticWavFmtMedia(d).toDF()),
    "syntheticPngDepthMedia" -> (d => Multimodal.syntheticPngDepthMedia(d).toDF()),
    "syntheticProgressiveJpegMedia" -> (d => Multimodal.syntheticProgressiveJpegMedia(d).toDF()),
    "syntheticJpegSampledMedia" -> (d => Multimodal.syntheticJpegSampledMedia(d).toDF()),
    "syntheticJpeg420Media" -> (d => Multimodal.syntheticJpeg420Media(d).toDF()),
    "syntheticFlacMedia" -> (d => Multimodal.syntheticFlacMedia(d).toDF()),
    "syntheticFlacStereoMedia" -> (d => Multimodal.syntheticFlacStereoMedia(d).toDF()),
    "syntheticPixelMedia" -> (d => Multimodal.syntheticPixelMedia(d).toDF()),
    "syntheticIntroClips" -> (d => MediaDedup.syntheticIntroClips(d).toDF()),
    "syntheticAudioTracks" -> (d => MediaDedup.syntheticAudioTracks(d).toDF()),
    "syntheticAudioClips" -> (d => MediaDedup.syntheticAudioClips(d).toDF()),
    "syntheticNearDupImages" -> (d => MediaDedup.syntheticNearDupImages(d).toDF()),
    "syntheticNearDupAudio" -> (d => MediaDedup.syntheticNearDupAudio(d).toDF()),
    "syntheticQualityVideos" -> (d => MediaDedup.syntheticQualityVideos(d).toDF()),
    "syntheticQualityClips" -> (d => MediaDedup.syntheticQualityClips(d).toDF()),
    "syntheticWatermarkImages" -> (d => MediaDedup.syntheticWatermarkImages(d).toDF()),
    "syntheticBlendedWatermarkImages" -> (d => MediaDedup.syntheticBlendedWatermarkImages(d).toDF()),
    "syntheticCropImages" -> (d => MediaDedup.syntheticCropImages(d).toDF()),
    "syntheticImageCrops" -> (d => MediaDedup.syntheticImageCrops(d).toDF()),
    "syntheticOrientedCropImages" -> (d => MediaDedup.syntheticOrientedCropImages(d).toDF()),
    "syntheticOrientedCrops" -> (d => MediaDedup.syntheticOrientedCrops(d).toDF()),
    "syntheticOrientedWebpImages" -> (d => MediaDedup.syntheticOrientedWebpImages(d).toDF()),
    "syntheticOrientedWebpCrops" -> (d => MediaDedup.syntheticOrientedWebpCrops(d).toDF()),
    "syntheticGifWebpPairVideos" -> (d => MediaDedup.syntheticGifWebpPairVideos(d).toDF()),
    "syntheticGifApngPairVideos" -> (d => MediaDedup.syntheticGifApngPairVideos(d).toDF()),
    "syntheticAviSoundtrackPairs" -> (d => MediaDedup.syntheticAviSoundtrackPairs(d).toDF()),
    "syntheticCrossContainerVideos" -> (d => MediaDedup.syntheticCrossContainerVideos(d).toDF()),
    "syntheticMjpegPairVideos" -> (d => MediaDedup.syntheticMjpegPairVideos(d).toDF()),
    "syntheticVideoClips" -> (d => MediaDedup.syntheticVideoClips(d).toDF()),
    "syntheticShotVideos" -> (d => MediaDedup.syntheticShotVideos(d).toDF()),
    "syntheticProbeImages" -> (d => MediaDedup.syntheticProbeImages(d).toDF()),
    "syntheticNearDupVideos" -> (d => MediaDedup.syntheticNearDupVideos(d).toDF()),
    "syntheticCrossFormatImages" -> (d => MediaDedup.syntheticCrossFormatImages(d).toDF()),
    "syntheticJointItems" -> (d => MediaDedup.syntheticJointItems(d)),
    "syntheticTriFormatImages" -> (d => MediaDedup.syntheticTriFormatImages(d).toDF()),
    "syntheticWebpPairImages" -> (d => MediaDedup.syntheticWebpPairImages(d).toDF()),
    "syntheticLossyPairImages" -> (d => MediaDedup.syntheticLossyPairImages(d).toDF()),
    "syntheticRotatedImages" -> (d => MediaDedup.syntheticRotatedImages(d).toDF()))

  // deterministic inputs for the direct writer calls
  private def px(i: Int): Int = (i * 37 + 11) % 256
  private def pal(n: Int): Array[Byte] =
    Array.tabulate(3 * n)(i => ((i * 53 + 7) % 256).toByte)
  private def pcm(n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((i * 29 + 3) % 256).toByte)
  private def argb(w: Int, h: Int, alpha: Int => Int): Array[Int] =
    Array.tabulate(w * h)(i => (alpha(i) << 24) | (px(i) << 16) |
      (px(i + 1) << 8) | px(i + 2))
  private def gifFrames: Seq[Containers.GifFrameSpec] = Seq(
    Containers.GifFrameSpec(0, 0, 12, 10, k => k % 16),
    Containers.GifFrameSpec(2, 3, 5, 4, k => (k * 3) % 16, disposal = 2,
      transparentIdx = 5),
    Containers.GifFrameSpec(6, 1, 6, 7, k => (k + 7) % 16, disposal = 3),
    Containers.GifFrameSpec(1, 1, 3, 3, k => k % 4, disposal = 1,
      transparentIdx = 0))
  private def apngFrames: Seq[Containers.ApngFrameSpec] = Seq(
    Containers.ApngFrameSpec(0, 0, 9, 7, px),
    Containers.ApngFrameSpec(2, 1, 4, 3, i => px(i + 5), dispose = 1,
      blend = 1, filterType = 4),
    Containers.ApngFrameSpec(0, 2, 9, 5, i => px(i * 3), dispose = 2,
      filterType = 2))
  private def aviPx(f: Int, x: Int, y: Int, c: Int): Int =
    (f * 41 + x * 13 + y * 7 + c * 59) % 256
  private def vp8Gray: Array[Byte] =
    Vp8Enc.encodeUniformGrayWebp(32, 16, Array(90, 140))
  private def dcBlocks(n: Int, seed: Int): Array[Array[Int]] =
    Array.tabulate(n) { b =>
      val blk = new Array[Int](64)
      blk(0) = (b * 17 + seed) % 200 - 100
      blk(1) = (b % 3) - 1; blk(8) = b % 5 - 2; blk(63) = b % 2
      blk
    }

  private val writers: Seq[(String, () => Array[Byte])] = Seq(
    "png" -> (() => Containers.png(5, 3, pcm(17))),
    "pngFull.f0" -> (() => Containers.pngFull(7, 5, px)),
    "pngFull.f1" -> (() => Containers.pngFull(7, 5, px, 1)),
    "pngFull.f2" -> (() => Containers.pngFull(7, 5, px, 2)),
    "pngFull.f3" -> (() => Containers.pngFull(7, 5, px, 3)),
    "pngFull.f4" -> (() => Containers.pngFull(7, 5, px, 4)),
    "pngTyped.c0" -> (() => Containers.pngTyped(7, 5, 0, px, filterType = 1)),
    "pngTyped.c2" -> (() => Containers.pngTyped(7, 5, 2, px, filterType = 4)),
    "pngTyped.c3" -> (() => Containers.pngTyped(7, 5, 3, i => px(i) % 16,
      palette = pal(16))),
    "pngTyped.c3.trns" -> (() => Containers.pngTyped(7, 5, 3, i => px(i) % 16,
      palette = pal(16), trns = Array.tabulate(16)(i => (i * 16).toByte))),
    "pngTyped.c4" -> (() => Containers.pngTyped(7, 5, 4, px, filterType = 3)),
    "pngTyped.c6" -> (() => Containers.pngTyped(7, 5, 6, px, filterType = 2)),
    "pngTyped.c0.d1" -> (() => Containers.pngTyped(11, 5, 0, px, bitDepth = 1)),
    "pngTyped.c0.d2" -> (() => Containers.pngTyped(11, 5, 0, px, bitDepth = 2,
      filterType = 1)),
    "pngTyped.c3.d4" -> (() => Containers.pngTyped(11, 5, 3, i => px(i) % 16,
      palette = pal(16), bitDepth = 4)),
    "pngTyped.c2.d16" -> (() => Containers.pngTyped(7, 5, 2, px, bitDepth = 16,
      filterType = 4)),
    "pngTyped.c6.interlaced" -> (() => Containers.pngTyped(13, 11, 6, px,
      interlaced = true, filterType = 4)),
    "pngTyped.c0.d2.interlaced" -> (() => Containers.pngTyped(13, 11, 0, px,
      bitDepth = 2, interlaced = true)),
    "pngAnimated" -> (() => Containers.pngAnimated(9, 7, apngFrames)),
    "gifFull" -> (() => Containers.gifFull(12, 10, k => k % 16, pal(16), 4)),
    "gifFull.local" -> (() => Containers.gifFull(12, 10, k => k % 16, pal(16), 4,
      localTable = true)),
    "gifFull.interlaced" -> (() => Containers.gifFull(12, 19, k => (k * 7) % 64,
      pal(64), interlaced = true)),
    "gifFull.large" -> (() => Containers.gifFull(40, 30, k => (k * k) % 64,
      pal(64))),
    "gifAnimated" -> (() => Containers.gifAnimated(12, 10, 3,
      (f, k) => (f * 5 + k) % 16, pal(16), 4)),
    "gifAnimated.interlaced" -> (() => Containers.gifAnimated(12, 10, 2,
      (f, k) => (f * 3 + k) % 16, pal(16), 4, interlaced = true)),
    "gifAnimated.local" -> (() => Containers.gifAnimated(12, 10, 3,
      (f, k) => (f + k) % 4, pal(4), 2,
      localPalette = f => pal(4).map(b => (b + f * 9).toByte))),
    "gifAnimatedPartial" -> (() => Containers.gifAnimatedPartial(12, 10,
      gifFrames, pal(16), bgIndex = 3, minCodeSize = 4)),
    "wav.8" -> (() => Containers.wav(1, 8000, pcm(33), 8)),
    "wav.16" -> (() => Containers.wav(2, 22050, pcm(64))),
    "wav.24" -> (() => Containers.wav(2, 44100, pcm(60), 24)),
    "wavTyped.1.32" -> (() => Containers.wavTyped(1, 8000, pcm(32), 32)),
    "wavTyped.3" -> (() => Containers.wavTyped(2, 8000, pcm(40), 32, 3)),
    "wavTyped.3.ext" -> (() => Containers.wavTyped(2, 8000, pcm(40), 32, 3,
      extensible = true)),
    "wavTyped.6" -> (() => Containers.wavTyped(1, 8000, pcm(21), 8, 6)),
    "wavTyped.6.ext" -> (() => Containers.wavTyped(1, 8000, pcm(21), 8, 6,
      extensible = true)),
    "wavTyped.7" -> (() => Containers.wavTyped(2, 11025, pcm(22), 8, 7)),
    "wavTyped.7.ext" -> (() => Containers.wavTyped(2, 11025, pcm(22), 8, 7,
      extensible = true)),
    "wavTyped.1.16.ext" -> (() => Containers.wavTyped(2, 16000, pcm(48), 16,
      extensible = true)),
    "wavIma" -> (() => Containers.wavIma(2, 8000, 72, 129, pcm(144))),
    "wavMsAdpcm" -> (() => Containers.wavMsAdpcm(1, 8000, 64, 116, pcm(128))),
    "wavMsAdpcm.coefs" -> (() => Containers.wavMsAdpcm(2, 11025, 64, 52,
      pcm(64), Array((256, 0), (512, -256)))),
    "au" -> (() => Containers.au(1, 8000, 1, pcm(31))),
    "au.pcm16" -> (() => Containers.au(2, 16000, 3, pcm(40))),
    "aiff.8" -> (() => Containers.aiff(1, 11025, 8, pcm(30))),
    "aiff.16" -> (() => Containers.aiff(2, 44100, 16, pcm(40))),
    "avi" -> (() => Containers.avi(7, 5, 3, pcm(23))),
    "aviFull" -> (() => Containers.aviFull(7, 5, 3, aviPx)),
    "aviFull.aligned" -> (() => Containers.aviFull(8, 4, 2, aviPx)),
    "aviWithAudio" -> (() => Containers.aviWithAudio(7, 5, 2, aviPx, 1, 8000,
      Array.tabulate(37)(i => (i * 311 - 5000).toShort))),
    "aviWithAudio.stereo" -> (() => Containers.aviWithAudio(6, 3, 3, aviPx, 2,
      16000, Array.tabulate(40)(i => (i * 97 - 2000).toShort))),
    "aviMjpeg" -> (() => Containers.aviMjpeg(16, 8, Array(
      Containers.jpegGray(16, 8, Array(40, 200)),
      Containers.jpegGray(16, 8, Array(90, 10), color = true),
      Array.tabulate(33)(i => i.toByte)))),
    "jpeg" -> (() => Containers.jpeg(9, 7, pcm(19))),
    "jpegGray" -> (() => Containers.jpegGray(24, 16, Array(1, 50, 99, 140,
      200, 255), restartInterval = 2)),
    "bmp24" -> (() => Raster.bmp24(7, 5, px)),
    "bmp24.topDown" -> (() => Raster.bmp24(7, 5, px, topDown = true)),
    "bmp32" -> (() => Raster.bmp32(7, 5, px, reserved = 9)),
    "bmp8" -> (() => Raster.bmp8(7, 5, k => px(k) % 16, pal(16))),
    "bmp8.topDown" -> (() => Raster.bmp8(7, 5, k => px(k) % 16, pal(16),
      topDown = true)),
    "bmp8Rle" -> (() => Raster.bmp8Rle(19, 6, k => if (k % 7 < 3) 4 else k % 11,
      pal(16))),
    "bmp4Rle" -> (() => Raster.bmp4Rle(9, 6, k => px(k) % 16, pal(16))),
    "tiff.gray" -> (() => Raster.tiff(7, 5, 1, 1, px)),
    "tiff.rgb.be" -> (() => Raster.tiff(7, 5, 2, 3, px, bigEndian = true,
      rowsPerStrip = 2)),
    "tiff.rgba.lzw" -> (() => Raster.tiff(7, 5, 2, 4, px, compression = 5,
      predictor = 2)),
    "tiff.palette.deflate" -> (() => Raster.tiff(7, 5, 3, 1, k => px(k) % 16,
      palette = pal(16), compression = 8, rowsPerStrip = 3)),
    "tiff.packbits" -> (() => Raster.tiff(9, 6, 0, 1, k => (k / 4) % 3,
      compression = 32773)),
    "tiff.deflate.predictor" -> (() => Raster.tiff(7, 5, 2, 3, px,
      compression = 8, predictor = 2)),
    "tiff.16" -> (() => Raster.tiff(5, 4, 1, 1, px, bitDepth = 16)),
    "tiff.tiled" -> (() => Raster.tiff(20, 18, 2, 3, px, tile = 16,
      compression = 8)),
    "Webp.encodeLossless" -> (() => Webp.encodeLossless(5, 4,
      argb(5, 4, _ => 0xFF))),
    "Webp.wrapVp8x" -> (() => Webp.wrapVp8x(Webp.encodeLossless(5, 4,
      argb(5, 4, _ => 0xFF)), 5, 4)),
    "Webp.lossyVp8Stub" -> (() => Webp.lossyVp8Stub(30, 20, 9)),
    "Webp.withExif" -> (() => Webp.withExif(Webp.encodeLossless(5, 4,
      argb(5, 4, _ => 0xFF)), 5, 4, 6)),
    "Webp.withExif.lossy" -> (() => Webp.withExif(vp8Gray, 32, 16, 3)),
    "Webp.encodeAnimated" -> (() => Webp.encodeAnimated(10, 8, 0xFF102030,
      Seq(Webp.AnimFrameSpec(0, 0, 10, 8, argb(10, 8, _ => 0xFF)),
        Webp.AnimFrameSpec(2, 4, 3, 3, argb(3, 3, i => if (i % 2 == 0) 0 else 0xFF),
          noBlend = false, dispose = true, durationMs = 100)),
      loops = 2)),
    "Vp8Enc.encodeUniformGrayWebp" -> (() => vp8Gray),
    "Vp8Enc.encodeCellGrayWebp" -> (() => Vp8Enc.encodeCellGrayWebp(32, 16,
      Array.tabulate(32)(i => (i * 23 + 5) % 256))),
    "Vp8Enc.wrapWebp" -> (() => Vp8Enc.wrapWebp(pcm(15))),
    "Vp8Enc.wrapWebpAlpha" -> (() => Vp8Enc.wrapWebpAlpha(
      Vp8Enc.vp8Payload(vp8Gray), 32, 16)),
    "Vp8Enc.wrapWebpAlpha.filtered" -> (() => Vp8Enc.wrapWebpAlpha(
      Vp8Enc.vp8Payload(vp8Gray), 32, 16, filter = 2, compress = true)),
    "Jpeg.encodeBlocks.gray" -> (() => Jpeg.encodeBlocks(24, 16,
      Array(dcBlocks(6, 3)))),
    "Jpeg.encodeBlocks.color.dri" -> (() => Jpeg.encodeBlocks(24, 16,
      Array(dcBlocks(6, 3), dcBlocks(6, 50), dcBlocks(6, 90)),
      restartInterval = 4)),
    "Jpeg.encodeGray420" -> (() => Jpeg.encodeGray420(32, 16,
      Array.tabulate(8)(i => i * 30), Array(10, 240), Array(128, 60))),
    "Jpeg.encodeGraySampled" -> (() => Jpeg.encodeGraySampled(32, 8,
      Array(5, 60, 120, 250), 0x41, restartInterval = 1)),
    "Jpeg.encodeProgressive.gray" -> (() => Jpeg.encodeProgressive(24, 16,
      Array(dcBlocks(6, 3)))),
    "Jpeg.encodeProgressive.color.dri" -> (() => Jpeg.encodeProgressive(24, 16,
      Array(dcBlocks(6, 3), dcBlocks(6, 50), dcBlocks(6, 90)),
      Seq((1, 2), (3, 63)), restartInterval = 2)),
    "Jpeg.withExif" -> (() => Jpeg.withExif(Containers.jpegGray(16, 8,
      Array(40, 200)), 7)))

  private val expectedBuilders: Map[String, String] = Map(
    "syntheticMediaFromDocs" -> "2d74311b34dee54504d5ccd05c1e9909",
    "syntheticCompositedGifMedia" -> "d95f81e43c9a79aa77f27c1486c09532",
    "syntheticApngMedia" -> "4131bf87cd92e406b757c0cb66e0db2c",
    "syntheticVideoMedia" -> "fdb5e4df0c4f9ee17a1cde43bf3ab93f",
    "syntheticGifMedia" -> "1b9b154cb4e5ab2f7f88b056464ca210",
    "syntheticExifJpegMedia" -> "3a0ad2e53c9bb62f66e6d49a82ee139d",
    "syntheticJpegMedia" -> "de474fcd1f42132addd81d5c7e4fa4a7",
    "syntheticHealthMedia" -> "5c766822960b71d65eb887b1803b0e03",
    "syntheticTaggedContainerMedia" -> "9417258fa5dec97178dd3027d105a0c1",
    "syntheticTaggedAudioMedia" -> "c570c26d0f28dc48e44b64245e809c76",
    "syntheticContainerMedia" -> "11af72c9bb84e00882a4d0eb148bcb65",
    "syntheticAnimatedWebpMedia" -> "73192fb8d5a03959400d56a2684f9411",
    "syntheticGifVariantMedia" -> "08f76fdf1382b530a182e5b61a2f2fc3",
    "syntheticRasterMedia" -> "c40a8cc8116d9308c362ceb6197e7c4a",
    "syntheticLossyWebpMedia" -> "ba6683f8f57b9179178f7574c9a94477",
    "syntheticWebpMedia" -> "2b8d9a784bafb0ac4ad09fefccec39d0",
    "syntheticWavG711Media" -> "ffd17e1a166e6d238a6727c45bfd4371",
    "syntheticWavAdpcmMedia" -> "26074c74983f219f302b0af53e0b8243",
    "syntheticLegacyAudioMedia" -> "c374a738a43bdc615e409c0aac715ce8",
    "syntheticWavMsAdpcmMedia" -> "7ff88b6e9bb409d3956c6356d36e241f",
    "syntheticTiffCompressedMedia" -> "725800b9086eedf8592b70c2d512d1c7",
    "syntheticBmpRleMedia" -> "63b66af88aef59ba328917ce0c315780",
    "syntheticBmpRle4Media" -> "48eb4ca1e7fc3917c71941cb400ce672",
    "syntheticTiffDeepMedia" -> "61f78db5d58e2005a117655b053c9192",
    "syntheticPngVariantMedia" -> "79b0a17d2ff883e976dac7c363d93d39",
    "syntheticWavDepthMedia" -> "129a7967fe57c06dc6388e65a997f50a",
    "syntheticWavFmtMedia" -> "76dea44e2d396091db49ddeeeb725da4",
    "syntheticPngDepthMedia" -> "5e1782ddfcd9a467343f495ec0ce1986",
    "syntheticProgressiveJpegMedia" -> "5e1366e88424e6762cd0c1587148ecd5",
    "syntheticJpegSampledMedia" -> "e0c0d4fea7fba41c4cc068527cea1aa3",
    "syntheticJpeg420Media" -> "dbb7e644032a69245884c9f5c132747f",
    "syntheticFlacMedia" -> "00346eaf9e1966d62d404a81b491906e",
    "syntheticFlacStereoMedia" -> "81a0594cce5f592d07dc634ac22231dd",
    "syntheticPixelMedia" -> "5374b403551cb92d9fd5fa29a4d36a5d",
    "syntheticIntroClips" -> "0cb547af2723d95c3d67e69fe4b06b7b",
    "syntheticAudioTracks" -> "79680863ffc7bdca72c8dc40e8453921",
    "syntheticAudioClips" -> "9da609ced9882e3fd848677cc21f487e",
    "syntheticNearDupImages" -> "3e8634348a906f9eb5be85579a508b67",
    "syntheticNearDupAudio" -> "351fbb26ea740803fb385596890d86e8",
    "syntheticQualityVideos" -> "8ce58f4a37e4907a4be088f936b8f5d5",
    "syntheticQualityClips" -> "06b241a5c6bbeee4d729140bf4616eb1",
    "syntheticWatermarkImages" -> "edd83d0fdf3333d0060083d5613c4833",
    "syntheticBlendedWatermarkImages" -> "58a758c0267d86c8c328e566797acbfb",
    "syntheticCropImages" -> "79af04a6b136a8e452aac8391ac806b6",
    "syntheticImageCrops" -> "e40fdf642e911870a5f1dcfca3216eb2",
    "syntheticOrientedCropImages" -> "a570be41176ac4f5d8561bd2390c47a1",
    "syntheticOrientedCrops" -> "eeef63db67fb7b6e0eb8b14ee51cd4ce",
    "syntheticOrientedWebpImages" -> "15d5de3aa73127455ba3c127175d75ec",
    "syntheticOrientedWebpCrops" -> "cac1bbafe9575ad727c03854af728814",
    "syntheticGifWebpPairVideos" -> "a3de548519ba8da8d730532c17dc7ab1",
    "syntheticGifApngPairVideos" -> "68a62872c6d2acae70f1de62d8c644a4",
    "syntheticAviSoundtrackPairs" -> "1564904ba78aefa816660ccd56062a2a",
    "syntheticCrossContainerVideos" -> "a31994a2275f58a276bc3189256c3757",
    "syntheticMjpegPairVideos" -> "19f94ab9a2f88f2b126df2e532c9094e",
    "syntheticVideoClips" -> "c68304ef4ff98d05504f8ee10c13bab4",
    "syntheticShotVideos" -> "fa08a3b9cedb3dbdf11ccc3cef1408d8",
    "syntheticProbeImages" -> "ddb80e65cc2b721f42ba40c32ddf0f53",
    "syntheticNearDupVideos" -> "a08586f71b368e1f05e2b9575c593543",
    "syntheticCrossFormatImages" -> "8f87d0143f740cdae2c9100e2be0ccb0",
    "syntheticJointItems" -> "09f8aeebc838048c714f89b98c870717",
    "syntheticTriFormatImages" -> "5a398b9d72fbd5b7fec638d309a59001",
    "syntheticWebpPairImages" -> "673e8a27e38d091252c23705c575ef59",
    "syntheticLossyPairImages" -> "916fd11d2fad8fbc70af6da56bfe05b8",
    "syntheticRotatedImages" -> "ebedc5dc20e3778d37eac8f47ed284ef")

  private val expectedWriters: Map[String, String] = Map(
    "png" -> "85a75c3bcee295d19ef6e96e7bef6b28",
    "pngFull.f0" -> "18882704c9fdd5dcd9aa2fdad12b038c",
    "pngFull.f1" -> "d65289f5dc1c390f0674fcb74a91549f",
    "pngFull.f2" -> "f9ab11316b9a383701d1aa582c512c03",
    "pngFull.f3" -> "105acb8c6d6d973aaf2746799113f4d1",
    "pngFull.f4" -> "99f07538440d15eb199f55068e8ffff4",
    "pngTyped.c0" -> "5966a743045e85f2e5771308e2eea2ab",
    "pngTyped.c2" -> "30b5bfb62ce1b4b0c983191a8c84c8ad",
    "pngTyped.c3" -> "e8ab6d36545e4698fdb709ae5f45039d",
    "pngTyped.c3.trns" -> "46ca40c3ae5987c435baa993a3839b41",
    "pngTyped.c4" -> "161705c13b860f759d524ec8c2a23cd3",
    "pngTyped.c6" -> "f9ab11316b9a383701d1aa582c512c03",
    "pngTyped.c0.d1" -> "b3196f6d5daca89856ef2a57bcdf7bd5",
    "pngTyped.c0.d2" -> "f6faa872c9a36eeeae8895828431b2f2",
    "pngTyped.c3.d4" -> "87f58ef7d4738253bd8c02ed8cb98a34",
    "pngTyped.c2.d16" -> "db011e92e3763562fdfeb0a6092d02c3",
    "pngTyped.c6.interlaced" -> "6173abddc1fbbf7937109fa09b5af480",
    "pngTyped.c0.d2.interlaced" -> "f4024c8bdec7517d03208e2b2f0e11c1",
    "pngAnimated" -> "99e873371c397f780a5afaff46a873df",
    "gifFull" -> "3c6791ce59ab138df445251b1851fe69",
    "gifFull.local" -> "4e08d032a9a60ed6fa507ea3eda980b4",
    "gifFull.interlaced" -> "73896b4a08e89de16cd65169c158a57d",
    "gifFull.large" -> "4e53b224f68880dd8034cc305c0375dc",
    "gifAnimated" -> "edcc500fb80d315dab188502c2a43add",
    "gifAnimated.interlaced" -> "dce182e763243cb62ef69b0f4e0d6e33",
    "gifAnimated.local" -> "788573204e2a7295b888ddcfcb95b100",
    "gifAnimatedPartial" -> "9966abc73a3d66ae5cd455fb9969c692",
    "wav.8" -> "3b85234daa99c1063ea2f850df3b5d37",
    "wav.16" -> "64fd93d0afb6af772c48f5ac2f949997",
    "wav.24" -> "0d290df58ce45598f9e056c68a00de69",
    "wavTyped.1.32" -> "0fb53669a27c2d5ebc37347a12636dc9",
    "wavTyped.3" -> "f7be0c790d78f2bb5d16186726b3b49b",
    "wavTyped.3.ext" -> "58bacfcbfddb8f56744afe5dd9e0e402",
    "wavTyped.6" -> "2dd53468e56098548f984b605a8d9937",
    "wavTyped.6.ext" -> "2c241c4e1170152e219bdd88651e8228",
    "wavTyped.7" -> "5967eea768cf2d396c5d4c4d70642798",
    "wavTyped.7.ext" -> "6d3ae593909201638f2f75cbbcccb103",
    "wavTyped.1.16.ext" -> "88086761b7061b0f4021ff232a5e1436",
    "wavIma" -> "a39dea3f8009a4be5f7061dcf96e67af",
    "wavMsAdpcm" -> "892f437b611a620d3ced313634f093fe",
    "wavMsAdpcm.coefs" -> "4a8a5e177870eb0ee74904bc8ace5be0",
    "au" -> "e713869ca9a7a4ef07c738a1bacae1af",
    "au.pcm16" -> "2a05636404645b5809b10d21525360e2",
    "aiff.8" -> "8ecd18f344cddd72374a6e23a3ddb35f",
    "aiff.16" -> "49a62bfbab3390b9226b5793b3402974",
    "avi" -> "92288f31f07a66188e5522218d46247e",
    "aviFull" -> "4019ab84ba324914b10c660c94d00ffd",
    "aviFull.aligned" -> "987f175475e615f7530763135f42ad2a",
    "aviWithAudio" -> "1955608a22821c13510a1d0d6e2fe2e8",
    "aviWithAudio.stereo" -> "a9203a40beba809df6158e050fc27e83",
    "aviMjpeg" -> "c1b660327b660648de873f48a52fc05d",
    "jpeg" -> "7ae4459a09d37269316a8765153ce239",
    "jpegGray" -> "1157f2215b8063cd2e29ceb5a0e30344",
    "bmp24" -> "0d2d33b6a715e38e73d6401e8455e434",
    "bmp24.topDown" -> "f15f13c912862a250233ce2ce8c7fa69",
    "bmp32" -> "00a6cdec78208da6d35bb1a4417374e0",
    "bmp8" -> "3ee1f113c04a2798ac04a5d6c26f2d6f",
    "bmp8.topDown" -> "3fbb77e50fd40b9e0fb925941ef9db12",
    "bmp8Rle" -> "50098fa3fe8c19668e073cc5cf6163fb",
    "bmp4Rle" -> "639bf5d726e93f6982dd8e2ad059db2a",
    "tiff.gray" -> "a6d1dfebe7bc44b0c249cf9da631f27c",
    "tiff.rgb.be" -> "5a348b0ae7abebbd2041574d3df705b0",
    "tiff.rgba.lzw" -> "7ba9813fbbf3adc58554bf5595f44f89",
    "tiff.palette.deflate" -> "4cfa91348778dab81d5211ed39e771e2",
    "tiff.packbits" -> "a852f6ed8b0ffe3541fa21babd59538c",
    "tiff.deflate.predictor" -> "f3d35e3f159bc0d3f3a4919ec5254127",
    "tiff.16" -> "5b23849e60bad9cec96bb43e3c0928b0",
    "tiff.tiled" -> "0a5abf945972f43a88477678bad426d6",
    "Webp.encodeLossless" -> "0f0900a1e9c942a02730f4ba4e6919bc",
    "Webp.wrapVp8x" -> "af1f1cef94b18501838ed76b7cb36df1",
    "Webp.lossyVp8Stub" -> "c401f9d198b4d5e764f438f6faf2b023",
    "Webp.withExif" -> "db8a56e43dad0df9de55f5f59952b2f2",
    "Webp.withExif.lossy" -> "13a3e20e77cc5f99460559d7a6aaa971",
    "Webp.encodeAnimated" -> "44fbf26a092bde8f7b2998d87e809a33",
    "Vp8Enc.encodeUniformGrayWebp" -> "a7a3bf8d3d26ce9dfeaac252979c9c58",
    "Vp8Enc.encodeCellGrayWebp" -> "14b3a68f9b4910c39a9a5ea04e501032",
    "Vp8Enc.wrapWebp" -> "d568cea487f8f6e5cc0e0106810f97ff",
    "Vp8Enc.wrapWebpAlpha" -> "e7beabf7de813c7ae754e1b15273b138",
    "Vp8Enc.wrapWebpAlpha.filtered" -> "c3a0556eac23fc70545543e49b97144d",
    "Jpeg.encodeBlocks.gray" -> "0069f5c8df2d65f1f9980717b3f297f7",
    "Jpeg.encodeBlocks.color.dri" -> "831814132fa49e21315fe9194dc17ded",
    "Jpeg.encodeGray420" -> "737f4e11e31d67b3652933b06dbbe04f",
    "Jpeg.encodeGraySampled" -> "0f3861ecac7bc5fcd4ca4a141970a45d",
    "Jpeg.encodeProgressive.gray" -> "254b8ef3c60a25d6dae1431078483600",
    "Jpeg.encodeProgressive.color.dri" -> "582f7221b0525bb8db447ad2bf2d7199",
    "Jpeg.withExif" -> "e61296e36ceaf9a1719c1d7a8bc514f2")

  private def report(actual: Seq[(String, String)],
                     expected: Map[String, String]): String =
    actual.filter { case (n, d) => !expected.get(n).contains(d) }
      .map { case (n, d) => s""""$n" -> "$d",""" }.mkString("\n")

  test("every synthetic builder emits its pinned bytes") {
    val t0 = System.nanoTime()
    val actual = builders.map { case (n, b) => n -> frameDigest(b(docs)) }
    info(f"${builders.length} builders in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(actual.map(_._1).toSet == expectedBuilders.keySet &&
      actual.forall { case (n, d) => expectedBuilders(n) == d },
      "\n" + report(actual, expectedBuilders))
  }

  test("every direct writer call emits its pinned bytes") {
    val actual = writers.map { case (n, w) => n -> md5(Iterator(w())) }
    assert(actual.map(_._1).distinct.length == actual.length)
    assert(actual.map(_._1).toSet == expectedWriters.keySet &&
      actual.forall { case (n, d) => expectedWriters(n) == d },
      "\n" + report(actual, expectedWriters))
  }
}
