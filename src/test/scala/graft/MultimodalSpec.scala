package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {

  private lazy val docs = graft.tables.Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val media = Multimodal.syntheticMediaFromDocs(docs)

  test("decode recovers the encoded header for every media item") {
    val frames = Multimodal.decode(media)
    val bad = frames.toDF().as("f")
      .join(media.toDF().as("m"), col("f.media_id") === col("m.media_id"))
      .filter(col("f.width") =!= col("m.width") || col("f.height") =!= col("m.height"))
    assert(bad.count() === 0)
  }

  test("video frame fan-out matches declared frame count; sampling keeps every Nth") {
    val frames = Multimodal.decode(media)
    val perMedia = frames.groupBy("media_id").count()
      .join(media.toDF(), Seq("media_id"))
      .filter(col("count") =!= col("n_frames"))
    assert(perMedia.count() === 0)
    val sampled = Multimodal.sampleFrames(frames, 2)
    val expect = media.toDF().select(
      sum(ceil(col("n_frames") / 2.0))).collect()(0).getLong(0)
    assert(sampled.count() === expect)
  }

  test("extractFeatures == the classical content descriptors, per modality " +
    "dispatched by magic; unknown magic fails by name") {
    import graft.multimodal.MediaDedup
    val docs = this.docs.filter(col("doc_id") < 24)
    // image (PNG + GIF by parity), audio, video — each against its
    // dedicated descriptor operator, element-for-element
    def pin(rows: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
            descriptors: org.apache.spark.sql.DataFrame): Unit = {
      val got = Multimodal.extractFeatures(rows).collect()
        .map(f => f.media_id -> f.embedding.toSeq).toMap
      val want = descriptors.collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Double](1).map(_.toFloat).toSeq).toMap
      assert(got === want)
    }
    val imgs = MediaDedup.syntheticCrossFormatImages(docs)
    pin(imgs, MediaDedup.imageDescriptors(imgs))
    val clips = MediaDedup.syntheticNearDupAudio(docs)
    pin(clips, MediaDedup.audioDescriptors(clips))
    val vids = MediaDedup.syntheticNearDupVideos(docs)
    pin(vids, MediaDedup.videoDescriptors(vids, everyN = 2))
    // JPEG rides the image dispatch (the q252 decoder)
    import spark.implicits._
    val jpegs = Seq(Multimodal.MediaRow(1L, "image",
      graft.multimodal.Jpeg.encodeGrayBlocks(16, 16,
        Array(10, 60, 110, 160), color = true), 16, 16, 1)).toDS()
    pin(jpegs, MediaDedup.imageDescriptors(jpegs))
    // unknown magic: named failure (the learned slot is weights-blocked)
    val junk = Seq(Multimodal.MediaRow(9L, "blob",
      Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12), 0, 0, 1)).toDS()
    val e = intercept[org.apache.spark.SparkException](
      Multimodal.extractFeatures(junk).collect())
    assert(e.getMessage.contains("weights-blocked") ||
      Option(e.getCause).exists(_.getMessage.contains("weights-blocked")))
  }

  test("resize bounds the longest side (metadata path for non-PNG formats)") {
    // JPEG/WAV/AVI rows take the metadata-only path (no pixel decoder in
    // scope); PNG rows take the REAL resample path, pinned in
    // MediaDedupSpec against the planting formula
    val nonPng = media.filter(m => m.kind != "image" || m.media_id % 2 == 1)
    val resized = Multimodal.resize(nonPng, maxSide = 32).collect()
    assert(resized.forall(m => m.width <= 32 && m.height <= 32))
    val orig = nonPng.collect().map(m => m.media_id -> m).toMap
    resized.foreach { m =>
      val o = orig(m.media_id)
      val scale = math.max(1, (math.max(o.width, o.height) + 31) / 32)
      if (scale == 1) assert(m.width === o.width)
      else assert(m.width === (o.width + scale - 1) / scale)
    }
  }

  test("real resize: box-filter means replay the planting formula exactly") {
    // full-decode PNGs (pixel byte i = (id*31 + i) mod 256), downsample to
    // maxSide 4, then re-decode the re-encoded payload and replay every
    // output pixel as floor(blockSum / blockCount) per channel
    val pm = Multimodal.syntheticPixelMedia(
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 60))
    val resized = Multimodal.resize(pm, maxSide = 4).collect()
    assert(resized.forall(m => m.width <= 4 && m.height <= 4))
    val orig = pm.collect().map(m => m.media_id -> m).toMap
    resized.foreach { m =>
      val o = orig(m.media_id)
      val s = math.max(1, (math.max(o.width, o.height) + 3) / 4)
      val w2 = (o.width + s - 1) / s; val h2 = (o.height + s - 1) / s
      assert((m.width, m.height) === ((w2, h2)))
      // replay: block sums/counts from the closed-form input pixels
      val sums = Array.ofDim[Long](w2 * h2, 4)
      val cnts = new Array[Long](w2 * h2)
      for (y <- 0 until o.height; x <- 0 until o.width) {
        val b = (y / s) * w2 + (x / s)
        cnts(b) += 1
        for (c <- 0 until 4)
          sums(b)(c) += (m.media_id * 31 + 4 * (y * o.width + x) + c) % 256
      }
      // decode the re-encoded payload back out through the real decoder
      val (dw, dh, px) = Multimodal.decodePngRgba(m.media_id, m.payload)
      assert((dw, dh) === ((w2, h2)))
      for (b <- 0 until w2 * h2; c <- 0 until 4)
        assert((px(4 * b + c) & 0xFF).toLong === sums(b)(c) / cnts(b),
          s"media ${m.media_id} block $b channel $c")
    }
  }

  test("mediaStats is derivable from doc columns alone (oracle contract)") {
    val stats = Multimodal.mediaStats(spark, docs)
    val joined = stats.join(docs, Seq("doc_id"))
      .filter(
        (col("doc_id") % 3 =!= 1 &&
          (col("img_width") =!= lit(16) + (col("n_chars") % 64) * 4 ||
            col("img_height") =!= lit(16) + ((col("n_chars") * 7) % 48) * 4)) ||
        (col("doc_id") % 3 === 2 && col("n_frames") =!= lit(1) + (col("doc_id") % 5)) ||
        (col("doc_id") % 3 =!= 2 && col("n_frames") =!= 1) ||
        (col("doc_id") % 3 === 1 &&
          (col("sample_rate") =!= lit(8000) + (col("doc_id") % 5) * 8000 ||
            col("channels") =!= lit(1) + (col("doc_id") % 2))))
    assert(joined.count() === 0)
    val fmts = stats.groupBy("format").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fmts.keySet === Set("png", "jpeg", "wav", "avi"))
  }

  test("binaryMediaMeta parses a GENUINE png plus gif/jpeg magic layouts") {
    import spark.implicits._
    // a real, complete 1x1 transparent PNG (the canonical minimal file)
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 2, 0, 0, 0, 0) // 3x2 logical screen, LE u16
    val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte) ++
      "JFIF".getBytes("US-ASCII")
    val out = Multimodal.binaryMediaMeta(
        Seq((1L, png), (2L, gif), (3L, jpeg)).toDF("media_id", "payload"))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[String]("format") === "png")
    assert(out(1L).getAs[Int]("img_width") === 1)
    assert(out(1L).getAs[Int]("img_height") === 1)
    assert(out(2L).getAs[String]("format") === "gif")
    assert(out(2L).getAs[Int]("img_width") === 3)
    assert(out(2L).getAs[Int]("img_height") === 2)
    assert(out(3L).getAs[String]("format") === "jpeg")
    assert(out(3L).isNullAt(out(3L).fieldIndex("img_width")))
  }

  test("binaryMediaMeta reads WebP dims as expressions across the three " +
    "sub-layouts (VP8L packed 14-bit, VP8 keyframe LE16, VP8X 24-bit)") {
    import spark.implicits._
    val vp8l = graft.multimodal.Webp.encodeLossless(13, 9,
      Array.tabulate(13 * 9)(k => 0xFF000000 | ((k * 31 % 256) * 0x010101)))
    val vp8x = graft.multimodal.Webp.wrapVp8x(vp8l, 13, 9)
    val vp8 = graft.multimodal.Webp.lossyVp8Stub(640, 480, 50)
    val out = Multimodal.binaryMediaMeta(
        Seq((1L, vp8l), (2L, vp8x), (3L, vp8)).toDF("media_id", "payload"))
      .collect().map(r => (r.getAs[Long]("media_id"),
        r.getAs[String]("format"), r.getAs[Int]("img_width"),
        r.getAs[Int]("img_height"))).toSet
    assert(out === Set((1L, "webp", 13, 9), (2L, "webp", 13, 9),
      (3L, "webp", 640, 480)), out.toString)
  }

  test("decode walks real JPEG markers to the SOF dimensions") {
    import spark.implicits._
    // JFIF layout: SOI, APP0 (16 bytes to skip), DQT (dummy, 5 bytes),
    // then SOF0 with height 7, width 1031 — the scan must hop the earlier
    // variable-length segments to find it
    val jpeg = (Array(0xFF, 0xD8) ++
      Array(0xFF, 0xE0, 0x00, 0x10) ++ "JFIF".getBytes("US-ASCII").map(_.toInt) ++
      Array.fill(10)(0) ++
      Array(0xFF, 0xDB, 0x00, 0x05, 1, 2, 3) ++
      Array(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x07, 0x04, 0x07, 0x03) ++
      Array.fill(10)(0) ++ Array(0xFF, 0xD9)).map(_.toByte)
    val frames = Multimodal.decode(
      Seq(Multimodal.MediaRow(7L, "image", jpeg, 0, 0, 1)).toDS())
      .collect()
    assert(frames.length === 1)
    assert(frames(0).width === 1031 && frames(0).height === 7)
    // expression path: the bounded unrolled SOF walk reads the SAME dims
    // out of the variable-position segment chain
    val meta = Multimodal.binaryMediaMeta(
        Seq((7L, jpeg)).toDF("media_id", "payload")).collect()(0)
    assert(meta.getAs[String]("format") === "jpeg")
    assert(meta.getAs[Int]("img_width") === 1031)
    assert(meta.getAs[Int]("img_height") === 7)
  }

  test("both JPEG walks survive fill bytes; truncated headers clamp to empty body") {
    import spark.implicits._
    // builder fixture: APP0, a 0xFF fill byte, then SOF0 — the spec-legal
    // padding that a length-field misread would send off a cliff
    val planted = Multimodal.Containers.jpeg(640, 480, Array[Byte](1, 2, 3))
    val (w, h) = (Multimodal.Containers.jpegDims(planted)._1,
      Multimodal.Containers.jpegDims(planted)._2)
    assert((w, h) === ((640, 480)))
    val meta = Multimodal.binaryMediaMeta(
        Seq((1L, planted)).toDF("media_id", "payload")).collect()(0)
    assert(meta.getAs[Int]("img_width") === 640)
    assert(meta.getAs[Int]("img_height") === 480)
    // a PNG truncated inside its fixed header must not yield a negative body
    val truncated = Multimodal.Containers.png(8, 8, Array.fill(16)(0.toByte)).take(25)
    val dec = Multimodal.decode(
      Seq(Multimodal.MediaRow(2L, "image", truncated, 8, 8, 1)).toDS()).collect()
    assert(dec.forall(_.n_pixel_bytes >= 0L))
  }

  test("non-canonical WAV (LIST before fmt): expression path nulls, typed path walks") {
    import spark.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    // RIFF/WAVE with a LIST INFO chunk ahead of fmt — legal per RIFF
    val body = Array.fill(10)(7.toByte)
    val bb = ByteBuffer.allocate(12 + 12 + 24 + 8 + body.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(48 + body.length)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1.toShort).putShort(2.toShort).putInt(44100)
    bb.putInt(44100 * 4).putShort(4.toShort).putShort(16.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(body.length)
    val wav = bb.put(body).array()
    // expression path: fixed offsets would read the LIST chunk as fmt ->
    // guarded to null, never garbage
    val meta = Multimodal.binaryMediaMeta(
        Seq((1L, wav)).toDF("media_id", "payload")).collect()(0)
    assert(meta.getAs[String]("format") === "wav")
    assert(meta.isNullAt(meta.fieldIndex("sample_rate")))
    assert(meta.isNullAt(meta.fieldIndex("channels")))
    // typed path: the chunk walk finds the true data offset
    val dec = Multimodal.decode(
      Seq(Multimodal.MediaRow(3L, "audio", wav, 0, 0, 1)).toDS()).collect()
    assert(dec.length === 1 && dec(0).n_pixel_bytes === body.length.toLong)
  }

  test("adversarial WAV chunk size (u32 high-bit) terminates and falls back") {
    import spark.implicits._
    import java.nio.{ByteBuffer, ByteOrder}
    // a RIFF chunk declaring size 0xFFFFFFF8: read as a signed Int this
    // advances the walk by ~0/negative (hang or negative index); as an
    // unsigned Long the cursor jumps past the payload and the walk falls
    // back to the canonical 44-byte header
    val bb = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(56)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("junk".getBytes("US-ASCII")).putInt(0xFFFFFFF8)
    val evil = bb.array()
    val dec = Multimodal.decode(
      Seq(Multimodal.MediaRow(9L, "audio", evil, 0, 0, 1)).toDS()).collect()
    assert(dec.length === 1)
    assert(dec(0).n_pixel_bytes === math.max(0, evil.length - 44).toLong)
  }

  test("typed decode body bytes == mediaStats payload_bytes for every format") {
    // the typed header walk and the expression path must agree on body
    // size — including JPEG, where the body excludes the SOS-end header
    // AND the 2-byte EOI trailer (the r7 silent drift)
    val typed = Multimodal.decode(media).toDF()
      .filter(col("frame_idx") === 0)
      .select(col("media_id").as("doc_id"), col("n_pixel_bytes"))
    val expr = Multimodal.mediaStats(spark, docs)
      .select(col("doc_id"), col("payload_bytes"))
    val bad = typed.join(expr, Seq("doc_id"))
      .filter(col("n_pixel_bytes") =!= col("payload_bytes"))
    assert(bad.count() === 0)
  }

  test("standalone markers (TEM, RSTn) skip by 2 in BOTH jpeg walks") {
    import spark.implicits._
    // TEM (0x01) and RST4 (0xD4) carry no length field; a walk that reads
    // a bogus u16 after them lands mid-stream and misses the SOF
    val jpeg = (Array(0xFF, 0xD8) ++
      Array(0xFF, 0x01) ++ // TEM, standalone
      Array(0xFF, 0xD4) ++ // RST4, standalone
      Array(0xFF, 0xC0, 0x00, 0x11, 0x08, 0x00, 0x09, 0x04, 0x02) ++
      Array.fill(12)(0) ++ Array(0xFF, 0xD9)).map(_.toByte)
    assert(Multimodal.Containers.jpegDims(jpeg) === ((1026, 9)))
    val meta = Multimodal.binaryMediaMeta(
        Seq((1L, jpeg)).toDF("media_id", "payload")).collect()(0)
    assert(meta.getAs[Int]("img_width") === 1026)
    assert(meta.getAs[Int]("img_height") === 9)
  }

  test("binaryMediaMeta round-trips the synthetic wav/avi containers") {
    val parsed = Multimodal.binaryMediaMeta(
      media.toDF().withColumnRenamed("n_frames", "declared_frames"))
    val bad = parsed.filter(
      (col("kind") === "image" && (!col("format").isin("png", "jpeg") ||
        col("img_width") =!= col("width") ||
        col("img_height") =!= col("height"))) ||
      (col("kind") === "audio" && col("format") =!= "wav") ||
      (col("kind") === "video" && (col("format") =!= "avi" ||
        col("img_width") =!= col("width") || col("img_height") =!= col("height") ||
        col("n_frames") =!= col("declared_frames"))))
    assert(bad.count() === 0)
    assert(parsed.filter(col("format") === "unknown").count() === 0)
  }

  // -------------------------------------------- real pixel / sample decode

  private def knownPixels: Array[Int] =
    // 2x2 RGBA, hand-pinnable: r 10/50/90/130, g 20/60/100/140, ...
    (0 until 16).map(i => 10 * (i + 1)).toArray // 10..160, >255 none

  test("pngFull -> decodeOnePng round-trips exact pixels under ALL FIVE filters") {
    val expect = {
      val px = knownPixels
      (px.grouped(4).map(_(0)).sum.toLong, px.grouped(4).map(_(1)).sum.toLong,
        px.grouped(4).map(_(2)).sum.toLong, px.grouped(4).map(_(3)).sum.toLong)
    }
    (0 to 4).foreach { filter =>
      val bytes = Multimodal.Containers.pngFull(2, 2, knownPixels(_), filter)
      val st = Multimodal.decodeOnePng(7L, bytes)
      assert((st.width, st.height, st.n_pixels) === ((2, 2, 4L)), s"filter $filter")
      assert((st.sum_r, st.sum_g, st.sum_b, st.sum_a) === expect, s"filter $filter")
    }
  }

  test("decodeOnePng agrees with the JDK's OWN ImageIO PNG reader") {
    // an independent decoder the fixtures never touched: javax.imageio is
    // part of the JDK — if our inflate+unfilter disagrees with it on any
    // channel sum, one of the two codecs is wrong
    val bytes = Multimodal.Containers.pngFull(5, 3,
      i => ((i * 37 + 11) % 256), filterType = 4)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null, "ImageIO could not open our PNG — container invalid")
    var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
    for (y <- 0 until 3; x <- 0 until 5) {
      val argb = img.getRGB(x, y)
      sa += (argb >>> 24) & 0xFF; sr += (argb >>> 16) & 0xFF
      sg += (argb >>> 8) & 0xFF; sb += argb & 0xFF
    }
    val st = Multimodal.decodeOnePng(1L, bytes)
    assert((st.sum_r, st.sum_g, st.sum_b, st.sum_a) === ((sr, sg, sb, sa)))
  }

  test("LZW round-trips: runs, random streams, width bumps, 4096-table reset") {
    val rnd = new scala.util.Random(42)
    val cases = Seq(
      Array.fill(5)(1), // KwKwK stress
      Array.tabulate(300)(k => (k / 7) % 64), // run folding
      Array.fill(2000)(rnd.nextInt(64)), // several width bumps
      Array.fill(40000)(rnd.nextInt(64)), // forces the 4096 reset
      Array(0), // single pixel
      Array.tabulate(9)(_ % 4) // tiny alphabet at minCodeSize 2
    )
    cases.zipWithIndex.foreach { case (idx, i) =>
      val min = if (i == 5) 2 else 6
      val enc = Multimodal.Containers.lzwEncode(idx, min)
      val dec = Multimodal.lzwDecode(0L, enc, min, idx.length)
      assert(dec.toSeq === idx.toSeq, s"case $i")
    }
  }

  test("decodeOneGif census replays the planting formula (and ImageIO agrees)") {
    import spark.implicits._
    val media = Multimodal.syntheticGifMedia(docs.filter(col("doc_id") < 60))
    val stats = Multimodal.gifPixelStats(media).collect()
    assert(stats.length === 60)
    stats.foreach { st =>
      var sr = 0L; var sg = 0L; var sb = 0L; var si = 0L
      val n = st.width * st.height
      var k = 0
      while (k < n) {
        val idx = ((st.media_id * 13 + k / 7) % 64).toInt
        sr += (idx * 5 + 7) % 256; sg += (idx * 11 + 3) % 256
        sb += (idx * 23 + 1) % 256; si += idx
        k += 1
      }
      assert((st.sum_r, st.sum_g, st.sum_b, st.sum_idx) === ((sr, sg, sb, si)),
        s"media ${st.media_id}")
    }
    // independent decoder the fixture never touched: the JDK's own GIF
    // reader must see the same palette-mapped pixels
    val oneId = stats.head.media_id
    val one = media.collect().find(_.media_id == oneId).get
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(one.payload))
    assert(img != null, "ImageIO could not open our GIF — container invalid")
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until one.height; x <- 0 until one.width) {
      val argb = img.getRGB(x, y)
      sr += (argb >>> 16) & 0xFF; sg += (argb >>> 8) & 0xFF; sb += argb & 0xFF
    }
    val st = stats.head
    assert((sr, sg, sb) === ((st.sum_r, st.sum_g, st.sum_b)))
  }

  test("PNG color-type matrix (gray/RGB/palette/gray+alpha/RGBA) x ADAM7 " +
    "agrees EXACTLY with the JDK's own ImageIO reader (PNG is lossless)") {
    import Multimodal.Containers
    val w = 21; val h = 13 // odd dims: ragged Adam7 passes and edge pixels
    def g(i: Int): Int = (i % w * 5 + i / w * 11 + 9) % 256
    val palette = Array.tabulate(32 * 3)(b => ((b / 3 * 8 + b % 3) % 256).toByte)
    for (interlaced <- Seq(false, true); filterType <- Seq(0, 2, 4)) {
      val cases: Seq[(Int, Array[Byte])] = Seq(
        0 -> Containers.pngTyped(w, h, 0, g, filterType = filterType,
          interlaced = interlaced),
        2 -> Containers.pngTyped(w, h, 2,
          k => (g(k / 3) + (k % 3) * 40) % 256, filterType = filterType,
          interlaced = interlaced),
        3 -> Containers.pngTyped(w, h, 3, i => g(i) % 32, palette = palette,
          trns = Array.tabulate(32)(j => (255 - j * 3).toByte),
          filterType = filterType, interlaced = interlaced),
        4 -> Containers.pngTyped(w, h, 4,
          k => if (k % 2 == 0) g(k / 2) else (g(k / 2) * 7 + 3) % 256,
          filterType = filterType, interlaced = interlaced),
        6 -> Containers.pngTyped(w, h, 6, k => (g(k / 4) + (k % 4) * 31) % 256,
          filterType = filterType, interlaced = interlaced))
      cases.foreach { case (ct, bytes) =>
        val (dw, dh, ours) = Multimodal.decodePngRgba(50L + ct, bytes)
        assert((dw, dh) === ((w, h)), s"ct=$ct inter=$interlaced")
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(img != null, s"ImageIO rejected ct=$ct inter=$interlaced")
        val raster = img.getRaster
        val nb = raster.getNumBands
        for (y <- 0 until h; x <- 0 until w) {
          val o = 4 * (y * w + x)
          val (er, eg, eb, ea) =
            if (nb == 1 && ct == 3) { // indexed: resolve via the color model
              val argb = img.getRGB(x, y)
              ((argb >>> 16) & 0xFF, (argb >>> 8) & 0xFF, argb & 0xFF,
                (argb >>> 24) & 0xFF)
            } else if (nb == 1) { // pure gray: raster samples (no gamma)
              val v = raster.getSample(x, y, 0)
              (v, v, v, 255)
            } else if (nb == 2) {
              val v = raster.getSample(x, y, 0)
              (v, v, v, raster.getSample(x, y, 1))
            } else if (nb == 3) {
              (raster.getSample(x, y, 0), raster.getSample(x, y, 1),
                raster.getSample(x, y, 2), 255)
            } else {
              (raster.getSample(x, y, 0), raster.getSample(x, y, 1),
                raster.getSample(x, y, 2), raster.getSample(x, y, 3))
            }
          assert(((ours(o) & 0xFF, ours(o + 1) & 0xFF, ours(o + 2) & 0xFF,
            ours(o + 3) & 0xFF)) === ((er, eg, eb, ea)),
            s"ct=$ct inter=$interlaced filter=$filterType ($x,$y)")
        }
      }
    }
    // SUB-BYTE depths (1/2/4): palette and gray, interlaced and not —
    // still EXACT against ImageIO (IndexColorModel ramps are the same
    // 255/(2^d − 1) scaling the decoder applies)
    for (d <- Seq(1, 2, 4); interlaced <- Seq(false, true)) {
      val n = 1 << d
      val scale = 255 / (n - 1)
      def v(i: Int): Int = (i % w * 3 + i / w * 5 + 1) % n
      val deepCases = Seq(
        3 -> Containers.pngTyped(w, h, 3, v,
          palette = Array.tabulate(n * 3)(b => (b / 3 * scale).toByte),
          filterType = 1, interlaced = interlaced, bitDepth = d),
        0 -> Containers.pngTyped(w, h, 0, v, filterType = 2,
          interlaced = interlaced, bitDepth = d))
      deepCases.foreach { case (ct, bytes) =>
        val (dw, dh, ours) = Multimodal.decodePngRgba(70L + ct, bytes)
        assert((dw, dh) === ((w, h)))
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes))
        assert(img != null, s"ImageIO rejected d=$d ct=$ct inter=$interlaced")
        for (y <- 0 until h; x <- 0 until w) {
          val o = 4 * (y * w + x)
          val argb = img.getRGB(x, y)
          assert(((ours(o) & 0xFF, ours(o + 1) & 0xFF, ours(o + 2) & 0xFF)) ===
            (((argb >>> 16) & 0xFF, (argb >>> 8) & 0xFF, argb & 0xFF)),
            s"d=$d ct=$ct inter=$interlaced ($x,$y)")
        }
      }
    }
    // 16-BIT depths reduce to the high byte (the spec-sanctioned 8-bit
    // view): planted low-byte noise must vanish, and the high bytes must
    // equal ImageIO's 16-bit raster samples shifted down
    for (ct16 <- Seq(0, 2, 6); interlaced <- Seq(false, true)) {
      val ch = ct16 match { case 0 => 1; case 2 => 3; case _ => 4 }
      def hi(k: Int): Int = (k * 7 + 13) % 256
      val bytes = Containers.pngTyped(w, h, ct16,
        k => if (k % 2 == 0) hi(k / 2) else (k * 31 + 5) % 256, // lo = noise
        filterType = 3, interlaced = interlaced, bitDepth = 16)
      val (dw, dh, ours) = Multimodal.decodePngRgba(80L + ct16, bytes)
      assert((dw, dh) === ((w, h)))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO rejected 16-bit ct=$ct16")
      val raster = img.getRaster
      for (y <- 0 until h; x <- 0 until w) {
        val o = 4 * (y * w + x)
        for (b <- 0 until ch) {
          val expect = raster.getSample(x, y, b) >> 8
          assert((ours(o + (if (ct16 == 0) 0 else b)) & 0xFF) === expect,
            s"16-bit ct=$ct16 inter=$interlaced ($x,$y) band $b")
        }
        // and the planted high bytes round-trip exactly
        val k0 = (y * w + x) * ch
        assert((ours(o) & 0xFF) === hi(k0), s"16-bit plant ct=$ct16 ($x,$y)")
      }
    }
    // hostile: palette index past PLTE and a 16-bit depth stay named
    val shortPal = Containers.pngTyped(8, 8, 3, i => i % 16,
      palette = Array.tabulate(16 * 3)(_.toByte))
    val bad = {
      // re-encode with an index beyond the 16-entry palette
      val b = Containers.pngTyped(8, 8, 3, _ => 17,
        palette = Array.tabulate(16 * 3)(_.toByte))
      b
    }
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodePngRgba(60L, bad))
    assert(e1.getMessage.contains("outside the"), e1.getMessage)
    val depth16 = shortPal.clone()
    // IHDR bit-depth byte: 8 sig + 8 hdr + 8 offset into data = byte 24
    depth16(24) = 16.toByte
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodePngRgba(61L, depth16))
    assert(e2.getMessage.contains("channel depth"), e2.getMessage)
  }

  test("GIF interlaced and local-color-table layouts decode to the SAME " +
    "indices as the plain layout and agree with ImageIO; failures stay named") {
    import Multimodal.Containers
    val palette = Array.tabulate(64 * 3)(b => ((b * 7) % 256).toByte)
    def idx(k: Int): Int = (k * 13 + 5) % 64
    val plain = Containers.gifFull(11, 9, idx, palette, minCodeSize = 6)
    val (_, _, pInd, pPal, pN) = Multimodal.decodeGifIdx(1L, plain)
    for ((inter, local) <- Seq((true, false), (false, true), (true, true))) {
      val variant = Containers.gifFull(11, 9, idx, palette, minCodeSize = 6,
        interlaced = inter, localTable = local)
      val (w, h, ind, pal, n) = Multimodal.decodeGifIdx(2L, variant)
      assert((w, h, n) === ((11, 9, pN)))
      assert(ind.toSeq === pInd.toSeq, s"inter=$inter local=$local")
      assert(pal.toSeq === pPal.toSeq)
      // the JDK's own GIF reader sees identical pixels through the
      // re-ordered stream + descriptor-resident palette
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(variant))
      assert(img != null, s"ImageIO rejected inter=$inter local=$local")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y)
        val j = 3 * ind(y * 11 + x)
        assert(((argb >>> 16) & 0xFF) === (pal(j) & 0xFF), s"($x,$y) r")
        assert(((argb >>> 8) & 0xFF) === (pal(j + 1) & 0xFF), s"($x,$y) g")
        assert((argb & 0xFF) === (pal(j + 2) & 0xFF), s"($x,$y) b")
      }
    }
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodeOneGif(1L, Array[Byte](1, 2, 3)))
    assert(e1.getMessage.contains("not a GIF"))
    val ok = Containers.gifFull(4, 4, _ % 4,
      Array.tabulate(12)(_.toByte), minCodeSize = 2)
    // a payload chopped mid-sub-block must name the cause, never throw an
    // index error (the streaming ingest feeds untrusted bytes through)
    val e3 = intercept[IllegalArgumentException](
      Multimodal.decodeOneGif(1L, ok.dropRight(6)))
    assert(e3.getMessage.contains("truncated GIF"))
    // a frame with NO color table anywhere stays a named failure
    val noTable = Containers.gifFull(4, 4, _ % 4,
      Array.tabulate(12)(_.toByte), minCodeSize = 2, localTable = true)
    // strip the local-table flag without removing the palette bytes: the
    // decoder then sees neither table before the (now-garbled) stream
    val idOff = 13 + 8 // no GCT; GCE is 8 bytes
    assert((noTable(idOff) & 0xFF) === 0x2C)
    val stripped = noTable.clone()
    stripped(idOff + 9) = 0.toByte
    val e4 = intercept[IllegalArgumentException](
      Multimodal.decodeOneGif(3L, stripped))
    assert(e4.getMessage.contains("neither a global nor a local color table")
      || e4.getMessage.contains("truncated GIF")
      || e4.getMessage.contains("invalid LZW"), e4.getMessage)
  }

  test("decodeOnePng fails fast with named causes on unsupported or corrupt input") {
    val e1 = intercept[IllegalArgumentException](
      Multimodal.decodeOnePng(1L, Array[Byte](1, 2, 3)))
    assert(e1.getMessage.contains("not a PNG"))
    val ok = Multimodal.Containers.pngFull(2, 2, knownPixels(_))
    val truncated = ok.dropRight(20)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeOnePng(1L, truncated))
    assert(e2.getMessage.contains("truncated"))
  }

  test("decodeOneWav reads the exact PCM16 census; odd trailing byte ignored") {
    val samples = Array[Short](0, 100, -200, 32767, -32768, 5)
    val body = new Array[Byte](samples.length * 2 + 1) // + odd stray byte
    samples.zipWithIndex.foreach { case (s, i) =>
      body(2 * i) = (s & 0xFF).toByte
      body(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val st = Multimodal.decodeOneWav(3L,
      Multimodal.Containers.wav(2, 44100, body))
    assert(st.channels === 2 && st.sample_rate === 44100)
    assert(st.n_samples === 6L)
    assert(st.sum_abs === samples.map(s => math.abs(s.toLong)).sum)
    assert(st.peak === 32768L)
  }

  test("float32/extensible/int32 WAV layouts decode to the same int16 census") {
    import java.nio.{ByteBuffer, ByteOrder}
    val planted = Array(0, 100, -200, 2048, -2048, 5)
    def floats(vals: Array[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(4 * vals.length).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(v => bb.putFloat(v / 32768.0f)); bb.array()
    }
    val int32 = {
      val bb = ByteBuffer.allocate(4 * planted.length).order(ByteOrder.LITTLE_ENDIAN)
      planted.foreach(v => bb.putInt(v << 16)); bb.array()
    }
    val pcm16 = {
      val bb = ByteBuffer.allocate(2 * planted.length).order(ByteOrder.LITTLE_ENDIAN)
      planted.foreach(v => bb.putShort(v.toShort)); bb.array()
    }
    val payloads = Seq(
      Multimodal.Containers.wavTyped(1, 16000, floats(planted), 32, fmtTag = 3),
      Multimodal.Containers.wavTyped(1, 16000, floats(planted), 32, fmtTag = 3,
        extensible = true),
      Multimodal.Containers.wavTyped(1, 16000, pcm16, 16, extensible = true),
      Multimodal.Containers.wavTyped(1, 16000, int32, 32))
    payloads.zipWithIndex.foreach { case (p, i) =>
      val st = Multimodal.decodeOneWav(i.toLong, p)
      assert(st.n_samples === planted.length.toLong, s"profile $i")
      assert(st.sum_abs === planted.map(v => math.abs(v.toLong)).sum,
        s"profile $i")
      assert(st.peak === 2048L, s"profile $i")
    }
    // the float conversion clamps out-of-range and maps NaN to 0 by name
    val hostile = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      .putFloat(2.0f).putFloat(-2.0f).putFloat(Float.NaN).array()
    val hs = Multimodal.decodeOneWav(9L,
      Multimodal.Containers.wavTyped(1, 8000, hostile, 32, fmtTag = 3))
    assert(hs.sum_abs === 32767L + 32768L && hs.peak === 32768L)
    // a nonstandard SubFormat GUID is an unknown codec, failed by name
    val badGuid = Multimodal.Containers.wavTyped(1, 16000, pcm16, 16,
      extensible = true)
    badGuid(20 + 8 + 30) = 0x55.toByte // corrupt one GUID tail byte
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeOneWav(7L, badGuid))
    assert(e.getMessage.contains("nonstandard extensible SubFormat GUID"))
  }

  test("G.711 u-law/A-law decode hits the published table anchors") {
    // u-law: 0xFF is +0, 0x7F is -0, 0x00 is the -32124 extreme
    val u = Multimodal.decodeOneWav(1L, Multimodal.Containers.wavTyped(
      1, 8000, Array(0xFF, 0x7F, 0x00, 0x80).map(_.toByte), 8, fmtTag = 7))
    assert(u.n_samples === 4L)
    assert(u.peak === 32124L) // |-32124| and |+32124| (0x80 -> +32124)
    assert(u.sum_abs === 0L + 0L + 32124L + 32124L)
    // A-law: 0x55 is -8, 0xD5 is +8, 0xAA is the +32256 extreme
    val a = Multimodal.decodeOneWav(2L, Multimodal.Containers.wavTyped(
      1, 8000, Array(0x55, 0xD5, 0xAA, 0x2A).map(_.toByte), 8, fmtTag = 6))
    assert(a.peak === 32256L)
    assert(a.sum_abs === 8L + 8L + 32256L + 32256L)
    // an 8-bit claim under a non-G.711 tag stays the unsigned PCM map;
    // a 16-bit claim under a G.711 tag fails by name
    val e = intercept[IllegalArgumentException](
      Multimodal.decodeOneWav(3L, Multimodal.Containers.wav(1, 8000,
        new Array[Byte](4), bits = 16).patch(20, Array(7.toByte), 1)))
    assert(e.getMessage.contains("G.711"), e.getMessage)
  }

  test("IMA ADPCM decodes the hand-computed nibble vector, clamps, and " +
    "interleaves stereo round-robin groups") {
    // mono: pred 0, index 0 (step 7); nibbles 3, 8, 7, 15 give the
    // hand-computed [4, 4, 15, -15]:
    //   3: 7>>3 + 7>>2 + 7>>1 = 4; index -1 -> 0
    //   8: -(7>>3) = 0;            index -1 -> 0
    //   7: 0+1+3+7 = 11 -> 15;     index +8 -> 8 (step 16)
    //   F: -(2+4+8+16) = -30 -> -15; index +8 -> 16
    // block geometry 4+4 bytes -> 9 samples/block; trailing nibbles 0
    // at step 34 (index 16) keep adding -(34>>3)... nibble 0 adds +4:
    // step 34 -> diff = 34>>3 = 4, index -1 each time
    val body = new Array[Byte](8)
    body(4) = (3 | (8 << 4)).toByte
    body(5) = (7 | (15 << 4)).toByte
    // bytes 6-7 zero: four nibble-0 codes from index 16 downward:
    //   step(16)=34 -> +4 = -11, idx 15; step(15)=31 -> +3 = -8, idx 14;
    //   step(14)=28 -> +3 = -5, idx 13; step(13)=25 -> +3 = -2, idx 12
    val wav = Multimodal.Containers.wavIma(1, 8000, 12, 17,
      java.util.Arrays.copyOf(body, 12)) // 12-byte block: 16 nibbles
    // with blockAlign 12 the block has 16 nibbles; nibble-0 codes from
    // index 16 walk the step table down (34,31,28,25,23,21,19,17,16,
    // 14,13,12 at indices 16..5), each adding step>>3
    val (ch, rate, samples) = Multimodal.pcm16Samples(1L, wav)
    assert(ch === 1 && rate === 8000)
    val expected = Array[Short](0, 4, 4, 15, -15, -11, -8, -5, -2,
      0, 2, 4, 6, 8, 9, 10, 11)
    assert(samples.toSeq === expected.toSeq)
    // stereo round-robin: two channels, constant-decode blocks with
    // different predictors interleave L R L R
    val st = new Array[Byte](16) // 2 headers + one 4-byte group each
    st(0) = 100; st(1) = 0 // L predictor 100
    st(4) = 56; st(5) = 0xFE.toByte // R predictor -456
    val swav = Multimodal.Containers.wavIma(2, 8000, 16, 9, st)
    val (sch, _, ss) = Multimodal.pcm16Samples(2L, swav)
    assert(sch === 2)
    // 9 samples per channel (header + 8 zero nibbles at step 7: the
    // four nibble-0 diffs are 7>>3 = 0, so both channels stay constant)
    assert(ss.toSeq === Seq.fill(9)(Seq[Short](100, -456)).flatten)
    // hostile step index fails by name
    val bad = Multimodal.Containers.wavIma(1, 8000, 12, 17,
      { val b = new Array[Byte](12); b(2) = 90; b })
    val e = intercept[IllegalArgumentException](
      Multimodal.pcm16Samples(3L, bad))
    assert(e.getMessage.contains("step index"), e.getMessage)
  }

  test("AU and AIFF decode through the shared audio dispatch: u-law " +
    "anchors, SIGNED 8-bit, big-endian 16-bit, 80-bit extended rates") {
    // AU u-law: the q286 anchors through the container path
    val au = Multimodal.decodeOneWav(1L, Multimodal.Containers.au(1, 8000, 1,
      Array(0xFF, 0x00).map(_.toByte)))
    assert(au.channels === 1 && au.sample_rate === 8000)
    assert(au.sum_abs === 0L + 32124L && au.peak === 32124L)
    // AU signed PCM8: byte -5 is sample -1280 (WAV's unsigned map would
    // read 251 -> +31488 — the sign convention is the test)
    val au8 = Multimodal.decodeOneWav(2L, Multimodal.Containers.au(1, 8000, 2,
      Array[Byte](-5, 100)))
    assert(au8.sum_abs === 1280L + 25600L && au8.peak === 25600L)
    // AIFF PCM16 big-endian + the 80-bit extended rate
    val body = Array[Byte](0x12, 0x34, 0xFF.toByte, 0x38.toByte)
    for (rate <- Seq(8000, 11025, 22050, 44100, 48000, 96000)) {
      val st = Multimodal.decodeOneWav(3L,
        Multimodal.Containers.aiff(1, rate, 16, body))
      assert(st.sample_rate === rate, s"rate $rate")
      assert(st.n_samples === 2L)
      assert(st.sum_abs === 0x1234L + 200L) // 0xFF38 = -200
    }
    // AIFF signed PCM8
    val ai8 = Multimodal.decodeOneWav(4L,
      Multimodal.Containers.aiff(2, 44100, 8, Array[Byte](-5, 100)))
    assert(ai8.channels === 2 && ai8.sum_abs === 1280L + 25600L)
    // unknown AU encoding fails by name
    val e = intercept[IllegalArgumentException](Multimodal.decodeOneWav(5L,
      Multimodal.Containers.au(1, 8000, 27, new Array[Byte](4))))
    assert(e.getMessage.contains("AU encodings"), e.getMessage)
    // a FRACTIONAL 80-bit rate (the NTSC 44055.94 family) fails by name
    // instead of silently truncating to an integer: overwrite the COMM
    // mantissa with 44100.5 = 88201 * 2^-1 at the same exponent
    val frac = Multimodal.Containers.aiff(1, 44100, 16, body).clone()
    java.nio.ByteBuffer.wrap(frac).putLong(30, 88201L << 47)
    val e2 = intercept[IllegalArgumentException](
      Multimodal.decodeOneWav(6L, frac))
    assert(e2.getMessage.contains("fractional AIFF"), e2.getMessage)
  }

  test("an AVI with both streams serves BOTH surfaces: frames through " +
    "the stream-aware video walk, the soundtrack through the audio " +
    "dispatch") {
    val samples = Array.tabulate(300)(p => ((p * 37) % 4096 - 2048).toShort)
    def px(f: Int, x: Int, y: Int, c: Int) = (f * 31 + x * 7 + y * 13 + c) % 256
    val avi = Multimodal.Containers.aviWithAudio(8, 6, 2, px, 1, 16000,
      samples)
    // audio surface: the soundtrack, exactly
    val (ch, rate, got) = Multimodal.pcm16Samples(1L, avi)
    assert(ch === 1 && rate === 16000)
    assert(got.toSeq === samples.toSeq)
    // video surface: the frames, with the auds strf and '01wb' chunk
    // invisible (before the stream-aware fix the auds strf tripped the
    // BITMAPINFOHEADER validation)
    val (w, h, frames) = Multimodal.decodeAviRgb(2L, avi)
    assert((w, h) === ((8, 6)) && frames.length === 2)
    for (f <- 0 until 2; y <- 0 until 6; x <- 0 until 8; c <- 0 until 3)
      assert((frames(f)(3 * (y * 8 + x) + c) & 0xFF) === px(f, x, y, c),
        s"frame $f ($x,$y,$c)")
    // a non-PCM auds strf fails by name on the audio surface: "auds"
    // opens the 56-byte strh data, the strf chunk follows, its data
    // leads with the WAVEFORMATEX wFormatTag
    val e = intercept[IllegalArgumentException] {
      val b2 = avi.clone()
      val audsAt = (0 until b2.length - 4).find(i =>
        new String(b2, i, 4, "US-ASCII") == "auds").get
      b2(audsAt + 56 + 8) = 85 // wFormatTag -> 0x55 (MP3)
      Multimodal.pcm16Samples(3L, b2)
    }
    assert(e.getMessage.contains("PCM AVI audio"), e.getMessage)
  }

  test("MS ADPCM decodes the hand-computed vector: prediction from the " +
    "coefficient pair, delta adaptation with the floor at 16") {
    // coefficient pair 1 (512, -256), seeds s1=100 s2=50, delta 20,
    // nibbles [3, 0xD, 0, 0] (HIGH nibble first):
    //   out starts [s2, s1] = [50, 100]
    //   3: pred = (100*512 + 50*-256)>>8 = 150; +3*20 = 210
    //      delta = max(16, (230*20)>>8) = 17
    //   D (-3): pred = (210*512 + 100*-256)>>8 = 320; -3*17 = 269
    //      delta = max(16, (230*17)>>8 = 15) = 16
    //   0: pred = (269*512 + 210*-256)>>8 = 328; delta stays 16
    //   0: pred = (328*512 + 269*-256)>>8 = 387
    val body = new Array[Byte](9) // blockAlign 9: 7 header + 2 data
    body(0) = 1 // predictor index 1
    body(1) = 20; body(2) = 0 // iDelta 20
    body(3) = 100; body(4) = 0 // sample1
    body(5) = 50; body(6) = 0 // sample2
    body(7) = ((3 << 4) | 0xD).toByte
    body(8) = 0
    val wav = Multimodal.Containers.wavMsAdpcm(1, 8000, 9, 6, body)
    val (ch, rate, samples) = Multimodal.pcm16Samples(1L, wav)
    assert(ch === 1 && rate === 8000)
    assert(samples.toSeq === Seq[Short](50, 100, 210, 269, 328, 387))
    // a predictor index beyond the declared coefficient table, by name
    val bad = body.clone(); bad(0) = 7
    val e = intercept[IllegalArgumentException](Multimodal.pcm16Samples(2L,
      Multimodal.Containers.wavMsAdpcm(1, 8000, 9, 6, bad)))
    assert(e.getMessage.contains("predictor index"), e.getMessage)
    // stereo: channels alternate per nibble; constant blocks interleave
    val st = new Array[Byte](18) // 14 header + 4 data bytes = 8 nibbles
    st(0) = 0; st(1) = 0 // predictor indices L, R
    st(2) = 16; st(3) = 0; st(4) = 16; st(5) = 0 // iDelta L, R
    st(6) = 100; st(7) = 0; st(8) = 56; st(9) = 0xFE.toByte // s1 L, R
    st(10) = 100; st(11) = 0; st(12) = 56; st(13) = 0xFE.toByte // s2 L, R
    val swav = Multimodal.Containers.wavMsAdpcm(2, 8000, 18, 6, st)
    val (sch, _, ss) = Multimodal.pcm16Samples(3L, swav)
    assert(sch === 2)
    assert(ss.toSeq === Seq.fill(6)(Seq[Short](100, -456)).flatten)
  }

  test("pixel and sample decode match the closed-form census on the fixtures") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val media = Multimodal.syntheticPixelMedia(docs).persist()
    val px = Multimodal.pngPixelStats(media.filter(col("media_id") % 2 === 0))
      .collect()
    px.foreach { st =>
      val id = st.media_id
      var sums = Array.fill(4)(0L)
      (0 until st.width * st.height * 4).foreach { i =>
        sums(i % 4) += (id * 31 + i) % 256
      }
      assert((st.sum_r, st.sum_g, st.sum_b, st.sum_a) ===
        ((sums(0), sums(1), sums(2), sums(3))), s"media $id")
    }
    val wv = Multimodal.wavSampleStats(media.filter(col("media_id") % 2 === 1))
      .collect()
    wv.foreach { st =>
      val id = st.media_id
      val expected = (0L until st.n_samples)
        .map(p => math.abs((id * 17 + p * 3) % 4096 - 2048)).sum
      assert(st.sum_abs === expected, s"media $id")
    }
    media.unpersist()
  }

  test("sniff names every decode-health format, and each 0-16 byte prefix " +
    "is that format or unknown and decodes or fails by name through every " +
    "dispatcher that routes on it") {
    import graft.multimodal.{ContainerMeta, Flac, MediaDedup, Raster, Webp}
    import Multimodal.Containers
    val ramp = Array.tabulate(400)(i => ((i * 37) % 251 - 125).toByte)
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "png" -> Containers.pngFull(12, 9, i => (i * 31) % 256),
      "gif" -> Containers.gifFull(8, 8, i => i % 64, Containers.GrayRamp.take(192)),
      "jpeg" -> Containers.jpegGray(16, 16, Array.tabulate(4)(b => b * 40 + 20)),
      "webp" -> Webp.encodeLossless(9, 9,
        Array.tabulate(81)(k => 0xFF000000 | ((k * 3 % 256) * 0x010101))),
      "wav" -> Containers.wav(1, 16000, ramp),
      "avi" -> Containers.aviFull(8, 8, 2, (f, x, y, c) => (f * 31 + x * 7 + y * 13 + c) % 256),
      "flac" -> Flac.encode(Array.tabulate(300)(p => (p * 29 % 4096) - 2048)),
      "au" -> Containers.au(1, 8000, 3, ramp),
      "aiff" -> Containers.aiff(1, 8000, 16, ramp),
      "bmp" -> Raster.bmp24(9, 9, k => (k * 7) % 251),
      "tiff" -> Raster.tiff(9, 9, 1, 1, k => (k * 5) % 251),
      "heic" -> ContainerMeta.heifStub("heic", 64, 48),
      "avif" -> ContainerMeta.heifStub("avif", 64, 48),
      "mp4" -> ContainerMeta.mp4Stub("isom", 1000, 4000, Seq(
        ContainerMeta.TrackMeta("vide", "avc1", 320, 240, 0, 0))),
      "ogg" -> ContainerMeta.oggVorbisStub(2, 44100),
      "mp3" -> ContainerMeta.mp3Stub(3, 1, 9, 0, mono = false, id3Size = 0),
      "unknown" -> "plain text, no magic".getBytes("US-ASCII"))
    // the format set is exactly the one the health census reports
    assert(payloads.map(_._1).toSet === payloads.map { case (_, p) =>
      Multimodal.healthOne(0L, p)._1 }.toSet)
    def named(label: String)(decode: => Any): Unit =
      try { decode; () }
      catch {
        case e: IllegalArgumentException =>
          assert(e.getMessage != null && e.getMessage.contains("media "),
            s"$label: unnamed IllegalArgumentException: ${e.getMessage}")
      }
    for ((fmt, full) <- payloads) {
      assert(Containers.sniff(full) === fmt, fmt)
      for (n <- 0 to 16) {
        val p = full.take(n)
        val label = s"$fmt[0, $n)"
        assert(Set("unknown", fmt).contains(Containers.sniff(p)),
          s"$label sniffs as ${Containers.sniff(p)}")
        named(label)(Multimodal.decodeStillRgba(1L, p))
        named(label)(Multimodal.pcm16Samples(1L, p))
        named(label)(Multimodal.decodeVideoRgb(1L, p))
        named(label)(Multimodal.featuresOne(1L, p, 2))
        named(label)(Multimodal.resizeOne(
          Multimodal.MediaRow(1L, "image", p, 64, 48, 1), 16))
        named(label)(MediaDedup.dhashOneImage(1L, p))
        assert(!Multimodal.hasApng(p), label)
        // the health census never throws: every failure is a named bucket
        assert(Multimodal.healthOne(1L, p)._1 === Containers.sniff(p), label)
      }
    }
  }
}
