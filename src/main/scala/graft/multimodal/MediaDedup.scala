package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal.{Containers, MediaRow, perDocId}
import graft.text.Dedup

/** Perceptual near-duplicate detection for decoded media — the image/audio
  * twin of the text near-dup stack (`graft.text.Dedup`), composing the real
  * codecs ([[Multimodal.decodePngRgba]], the RIFF/PCM16 walk) with the
  * proven Hamming bit-band blocking ([[Dedup.hammingBandPairs]], the
  * pigeonhole contract q45 pins for SimHash).
  *
  * Every multimodal training pipeline dedups images and audio clips, not
  * just their captions: re-encoded, lightly re-compressed, or
  * single-pixel-watermarked copies of one asset flood web crawls. Exact
  * byte dedup misses them all; a perceptual fingerprint over DECODED
  * content catches them, because the decode discards the container-level
  * noise.
  *
  * Fingerprints are 56-bit (not the classic 64-bit 9×8 dHash): 8×8 grids
  * with 7 horizontal comparisons per row. Same gradient semantics, but the
  * top bits stay clear of the sign bit so fingerprints are non-negative
  * longs — replayable in ANY engine's signed-64 SQL arithmetic without
  * two's-complement gymnastics (the portableTokenHash discipline).
  *
  * Scale shape: fingerprinting is a pure partition-local map (one asset
  * decoded at a time per task, no shuffle); pair candidates come from the
  * banded equi-join on 14-bit chunks — never an all-pairs self-join — and
  * the final Hamming filter is exact, so banded output EQUALS brute force.
  */
object MediaDedup {

  /** Fingerprint width shared by the image and audio paths. */
  val FingerprintBits = 56

  /** dHash grid: 8×8 block means, 7 comparisons per row. */
  val GridW = 8
  val GridH = 8

  /** Audio windows: 57 energy windows, 56 adjacent comparisons. */
  val AudioWindows = 57

  /** Largest pixel count whose integer variance numerator n·Σg²−(Σg)²
    * stays exact in int64 (n²·255² < 2^63 ⇒ n ≤ ~1.19e7; 8 Mpx leaves
    * margin). [[Multimodal.MaxDecodePixels]] alone permits 64 Mpx, where
    * the product would overflow SILENTLY — the quality gates fail by
    * name at this bound instead. */
  val MaxExactVarPixels: Long = 8L * 1000 * 1000

  /** Shared format-blind pixel walk: decode by magic (PNG, GIF, JPEG,
    * BMP, TIFF, WebP), call `onDims(w, h)` once, then `f(x, y, r, g, b)`
    * per pixel. JPEG payloads walk the image AS DISPLAYED
    * ([[Jpeg.decodeRgbOriented]] — EXIF tag 274 applied, identity when
    * absent), so POSITION-SENSITIVE consumers (crop search, boilerplate
    * census, block means) see the same pixels a viewer does: a camera
    * original stored rotated and a crop taken from its displayed form
    * must meet on one grid. Aggregate/invariant consumers are unaffected
    * (orientation is a pixel permutation). Non-JPEG/GIF stills route
    * through [[Multimodal.decodeStillRgba]] (PNG/BMP/TIFF/WebP RGBA
    * dispatch), so every new raster decoder joins the whole
    * position-sensitive surface with zero operator changes. */
  private def foreachDecodedPixel(id: Long, p: Array[Byte])
                                 (onDims: (Int, Int) => Unit)
                                 (f: (Int, Int, Int, Int, Int) => Unit): Unit = {
    val isGif = p.length >= 6 && p(0) == 'G'.toByte && p(1) == 'I'.toByte &&
      p(2) == 'F'.toByte
    val isJpeg = p.length >= 3 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8
    if (isJpeg) {
      val (w, h, _, rgb) = Jpeg.decodeRgbOriented(id, p)
      onDims(w, h)
      var k = 0
      val n = w * h
      while (k < n) {
        f(k % w, k / w, rgb(3 * k) & 0xFF, rgb(3 * k + 1) & 0xFF,
          rgb(3 * k + 2) & 0xFF)
        k += 1
      }
    } else if (isGif) {
      val (w, h, indices, palette, _) = Multimodal.decodeGifIdx(id, p)
      onDims(w, h)
      var k = 0
      while (k < indices.length) {
        val idx = indices(k)
        f(k % w, k / w, palette(3 * idx) & 0xFF, palette(3 * idx + 1) & 0xFF,
          palette(3 * idx + 2) & 0xFF)
        k += 1
      }
    } else {
      val (w, h, px) = Multimodal.decodeStillRgba(id, p)
      onDims(w, h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val k = 4 * (y * w + x)
          f(x, y, px(k) & 0xFF, px(k + 1) & 0xFF, px(k + 2) & 0xFF)
          x += 1
        }
        y += 1
      }
    }
  }

  /** 56-bit difference hash of one decoded raster image — FORMAT-BLIND:
    * the payload decodes by magic (PNG via inflate+unfilter, GIF via LZW
    * expansion + palette mapping, JPEG via baseline Huffman + IDCT) into
    * grayscale pixels, so a PNG and its GIF or JPEG re-encode of the SAME
    * content land on the SAME hash — the cross-format re-encode case
    * container-level dedup structurally misses. Box-downsample grayscale to an 8×8 grid of integer block
    * means (pixel (x, y) belongs to block (x·8/w, y·8/h) — floor
    * arithmetic, exactly replayable in SQL), then bit y·7+x is set iff
    * mean[y][x] < mean[y][x+1]. Grayscale = (r+g+b)/3 in integer
    * arithmetic. Brightness and contrast shifts that preserve gradient
    * DIRECTION preserve the hash; a few flipped gradients = a few bits of
    * Hamming distance. */
  private[graft] def dhashOneImage(id: Long, p: Array[Byte]): Long = {
    val m = gridMeans8(id, p)
    var fp = 0L
    var gy = 0
    while (gy < GridH) {
      var gx = 0
      while (gx < GridW - 1) {
        if (m(gy * GridW + gx) < m(gy * GridW + gx + 1)) fp |= 1L << (gy * 7 + gx)
        gx += 1
      }
      gy += 1
    }
    fp
  }

  /** The normalized 8×8 grid of integer block means behind
    * [[dhashOneImage]], exposed for the orientation-canonical hash. */
  private def gridMeans8(id: Long, p: Array[Byte]): Array[Long] = {
    val sums = new Array[Long](GridW * GridH)
    val cnts = new Array[Long](GridW * GridH)
    var w = 0; var h = 0
    foreachDecodedPixel(id, p) { (pw, ph) =>
      require(pw >= GridW && ph >= GridH,
        s"media $id: dHash needs at least ${GridW}x$GridH pixels, got ${pw}x$ph")
      w = pw; h = ph
    } { (x, y, r, g, b) =>
      val bk = (y * GridH / h) * GridW + x * GridW / w
      sums(bk) += (r + g + b) / 3; cnts(bk) += 1L
    }
    val m = new Array[Long](GridW * GridH)
    var i = 0
    while (i < m.length) { m(i) = sums(i) / cnts(i); i += 1 }
    m
  }

  /** Source cell of dihedral transform `t` at output cell (x, y):
    * identity, rot90/180/270, horizontal/vertical mirror, transpose,
    * anti-transpose — the full 8-element dihedral group of the square
    * grid. MUST stay in lockstep with the SQL replay in SparkEntry. */
  private def dihedralSource(t: Int, x: Int, y: Int): (Int, Int) = t match {
    case 0 => (x, y)
    case 1 => (y, 7 - x)
    case 2 => (7 - x, 7 - y)
    case 3 => (7 - y, x)
    case 4 => (7 - x, y)
    case 5 => (x, 7 - y)
    case 6 => (y, x)
    case _ => (7 - y, 7 - x)
  }

  /** Orientation-CANONICAL 56-bit hash: the minimum dHash over the 8
    * dihedral transforms of the normalized mean grid. An EXIF-rotated,
    * 180°-flipped, or mirrored re-post of an image — the orientation
    * cases real crawls hit constantly, all invisible to the plain dHash —
    * maps its grid to another element of the SAME orbit, so its canonical
    * hash is IDENTICAL (exact when 8 | width and 8 | height: uniform
    * blocks make grid-of-rotated == rotated-grid; approximate otherwise,
    * where floor block boundaries shift edge pixels between blocks).
    * Still a single 64-bit fingerprint per image — the same banding
    * machinery serves it, nothing pair-shaped. */
  private[graft] def canonicalHashOneImage(id: Long, p: Array[Byte]): Long = {
    val m = gridMeans8(id, p)
    var best = Long.MaxValue
    var t = 0
    while (t < 8) {
      var fp = 0L
      var y = 0
      while (y < GridH) {
        var x = 0
        while (x < GridW - 1) {
          val (lx, ly) = dihedralSource(t, x, y)
          val (rx, ry) = dihedralSource(t, x + 1, y)
          if (m(ly * GridW + lx) < m(ry * GridW + rx)) fp |= 1L << (y * 7 + x)
          x += 1
        }
        y += 1
      }
      if (fp < best) best = fp
      t += 1
    }
    best
  }

  /** Orientation-canonical fingerprints: (media_id, chash). */
  def imageCanonicalHash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m =>
        (m.media_id, canonicalHashOneImage(m.media_id, m.payload))))
      .toDF("media_id", "chash")
  }

  /** Orientation-invariant perceptual near-dups: [[imageNearDups]] over
    * the canonical hash — a rotated/mirrored re-post collides at
    * Hamming 0 with its original. */
  def imageNearDupsOrientationInvariant(media: Dataset[MediaRow],
                                        maxHamming: Int = 3,
                                        bands: Int = 4): DataFrame =
    // cache lifecycle: see imageNearDups
    bandedNearDups(imageCanonicalHash(media), "chash", maxHamming, bands)

  /** Derive the 56-bit difference hash from filled 8×8 grid accumulators:
    * bit y·7+x set iff floor-mean[y][x] < floor-mean[y][x+1]. Shared by
    * the image path ([[dhashOneImage]]) and the per-frame video path
    * ([[dhashOneFrame]]). */
  private def dhashOfGrid(sums: Array[Long], cnts: Array[Long]): Long = {
    var fp = 0L
    var gy = 0
    while (gy < GridH) {
      var gx = 0
      while (gx < GridW - 1) {
        val l = sums(gy * GridW + gx) / cnts(gy * GridW + gx)
        val r = sums(gy * GridW + gx + 1) / cnts(gy * GridW + gx + 1)
        if (l < r) fp |= 1L << (gy * 7 + gx)
        gx += 1
      }
      gy += 1
    }
    fp
  }

  /** 56-bit dHash of one decoded video frame (row-major RGB triples, the
    * [[Multimodal.decodeAviRgb]] layout) — same grid arithmetic as the
    * image hash, so a video frame and a PNG of the same content collide. */
  private[graft] def dhashOneFrame(id: Long, w: Int, h: Int,
                                   rgb: Array[Byte]): Long = {
    require(w >= GridW && h >= GridH,
      s"media $id: frame dHash needs at least ${GridW}x$GridH pixels, got ${w}x$h")
    val sums = new Array[Long](GridW * GridH)
    val cnts = new Array[Long](GridW * GridH)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val k = 3 * (y * w + x)
        val bk = (y * GridH / h) * GridW + x * GridW / w
        sums(bk) += ((rgb(k) & 0xFF) + (rgb(k + 1) & 0xFF) + (rgb(k + 2) & 0xFF)) / 3
        cnts(bk) += 1L
        x += 1
      }
      y += 1
    }
    dhashOfGrid(sums, cnts)
  }

  /** Descriptor layout: 3 channels × 8 histogram bins, then the 8×8 gray
    * block-mean grid — 88 integer-valued dims. */
  val DescriptorDims: Int = 24 + GridW * GridH

  /** REAL content-based image descriptor from decoded pixels — a
    * CLASSICAL 88-dim feature vector, not a learned embedding (that
    * extractor stays stubbed: no model weights exist in this
    * environment): per-channel 8-bin histograms (bucket = value/32, dims
    * 0–23) followed by the 8×8 grid of integer gray block means (the
    * dHash grid, dims 24–87). Every dim is an exact integer, so cosine
    * similarity over descriptors replays bit-for-bit in SQL, and the
    * output column contract (vec_id, embedding) plugs DIRECTLY into the
    * [[graft.sim.Similarity]] surface (brute/LSH/IVF/PQ top-k, MMR,
    * SemDeDup…) — similarity search over what images actually CONTAIN.
    * Format-blind like the dHash. Partition-local map. */
  private[graft] def descriptorOneImage(id: Long, p: Array[Byte]): Array[Double] = {
    val hist = new Array[Long](24)
    val sums = new Array[Long](GridW * GridH)
    val cnts = new Array[Long](GridW * GridH)
    var w = 0; var h = 0
    foreachDecodedPixel(id, p) { (pw, ph) =>
      require(pw >= GridW && ph >= GridH,
        s"media $id: descriptor needs at least ${GridW}x$GridH pixels, " +
          s"got ${pw}x$ph")
      w = pw; h = ph
    } { (x, y, r, g, b) =>
      hist(r / 32) += 1L; hist(8 + g / 32) += 1L; hist(16 + b / 32) += 1L
      val bk = (y * GridH / h) * GridW + x * GridW / w
      sums(bk) += (r + g + b) / 3; cnts(bk) += 1L
    }
    val desc = new Array[Double](DescriptorDims)
    var i = 0
    while (i < 24) { desc(i) = hist(i).toDouble; i += 1 }
    var bk = 0
    while (bk < GridW * GridH) {
      desc(24 + bk) = (sums(bk) / cnts(bk)).toDouble
      bk += 1
    }
    desc
  }

  /** Per-image content descriptors in the Similarity column contract:
    * (vec_id, embedding). */
  def imageDescriptors(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m =>
        (m.media_id, descriptorOneImage(m.media_id, m.payload))))
      .toDF("vec_id", "embedding")
  }

  /** Per-image perceptual hash: (media_id, dhash). Partition-local map —
    * no shuffle; scales with input splits like any decode pass. */
  def imageDHash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => (m.media_id, dhashOneImage(m.media_id, m.payload))))
      .toDF("media_id", "dhash")
  }

  /** Image near-duplicate pairs within `maxHamming` flipped gradient bits,
    * via [[Dedup.hammingBandPairs]] banding (candidates from a 14-bit-chunk
    * equi-join, exact Hamming verify — equals brute force). Output
    * (media_a, media_b, hamming).
    *
    * Cache lifecycle (shared by [[audioNearDups]] and
    * [[imageNearDupsOrientationInvariant]]): the banded self-join reads
    * the fingerprint frame twice, and an unpersisted frame re-runs the
    * WHOLE decode chain once per join side (measured 2× on the 64×64
    * tri-format corpus — decode dominates there), so the frame is
    * persisted, the pair result MATERIALIZES eagerly inside the operator
    * (pairs are candidate-grain, far smaller than decoded fingerprints),
    * and the persist is released before returning — repeated library
    * calls leak nothing. The returned frame is bound to its own
    * materialized blocks; [[graft.ops.Caching.release]] reclaims it. */
  def imageNearDups(media: Dataset[MediaRow], maxHamming: Int = 3,
                    bands: Int = 4): DataFrame =
    bandedNearDups(imageDHash(media), "dhash", maxHamming, bands)

  /** Shared banding + cache lifecycle of the three near-dup operators:
    * persist fingerprints → banded pairs → eager materialize → release. */
  private def bandedNearDups(fingerprints: DataFrame, fpCol: String,
                             maxHamming: Int, bands: Int): DataFrame = {
    val fp = fingerprints.persist()
    try {
      Dedup.hammingBandPairs(fp, fpCol, FingerprintBits, maxHamming, bands,
          idCol = "media_id")
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("hamming"))
        .localCheckpoint(true)
    } finally graft.ops.Caching.release(fp)
  }

  /** 56-bit energy-contour fingerprint of one PCM16 WAV clip: split the
    * interleaved int16 sample stream into [[AudioWindows]] windows (sample
    * p belongs to window p·57/n — floor arithmetic over the data chunk's
    * sample count), take each window's absolute-amplitude energy sum, and
    * set bit j iff E[j+1] > E[j]. Volume scaling preserves the contour;
    * a different clip scrambles it. Defined over the raw interleaved
    * stream regardless of channel count (a stereo pair lands in the same
    * window at these window widths). */
  /** Per-window absolute-amplitude energies of one PCM16 clip — the
    * shared core of the contour fingerprint and the audio descriptor,
    * over [[Multimodal.pcm16Samples]]' single RIFF walk (windows span the
    * FULL concatenated sample stream, also when the clip carries several
    * data chunks). */
  private[graft] def audioEnergies(id: Long, p: Array[Byte]): Array[Long] = {
    val (_, _, samples) = Multimodal.pcm16Samples(id, p)
    val n = samples.length
    require(n >= AudioWindows,
      s"media $id: fingerprint needs >= $AudioWindows samples, got $n")
    val energy = new Array[Long](AudioWindows)
    var i = 0
    while (i < n) {
      energy(((i.toLong * AudioWindows) / n).toInt) +=
        math.abs(samples(i).toInt).toLong
      i += 1
    }
    energy
  }

  private[graft] def audioFingerprintOne(id: Long, p: Array[Byte]): Long = {
    val energy = audioEnergies(id, p)
    var fp = 0L
    var j = 0
    while (j < AudioWindows - 1) {
      if (energy(j + 1) > energy(j)) fp |= 1L << j
      j += 1
    }
    fp
  }

  /** Audio content descriptors in the Similarity column contract: the 57
    * raw window energies as a vector (cosine is scale-invariant, so a
    * volume-scaled copy of a clip scores 1 against the original) —
    * similarity search over what clips SOUND like, the audio twin of
    * [[imageDescriptors]]. Exact longs → bit-replayable cosine. */
  def audioDescriptors(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m =>
        (m.media_id, audioEnergies(m.media_id, m.payload).map(_.toDouble))))
      .toDF("vec_id", "embedding")
  }

  /** Per-clip audio fingerprint: (media_id, afp). Partition-local map. */
  def audioFingerprint(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m =>
        (m.media_id, audioFingerprintOne(m.media_id, m.payload))))
      .toDF("media_id", "afp")
  }

  /** Audio near-duplicate pairs within `maxHamming` contour flips — the
    * WAV-side twin of [[imageNearDups]], same banding machinery. */
  def audioNearDups(media: Dataset[MediaRow], maxHamming: Int = 3,
                    bands: Int = 4): DataFrame =
    // cache lifecycle: see imageNearDups
    bandedNearDups(audioFingerprint(media), "afp", maxHamming, bands)

  /** ABSOLUTE-window energies (window w = the `windowSamples` samples
    * starting at w·windowSamples; the trailing partial window is dropped
    * so a clip and its in-track occurrence see identical sums). The
    * whole-clip fingerprint's RELATIVE windows ([[audioEnergies]]) stretch
    * with clip length, which is exactly right for whole-clip identity and
    * exactly wrong for containment — an excerpt's relative windows never
    * align with the track's. */
  private def absWindowEnergies(id: Long, p: Array[Byte],
                                windowSamples: Int): Array[Long] = {
    require(windowSamples > 0, s"media $id: windowSamples must be positive")
    val (_, _, samples) = Multimodal.pcm16Samples(id, p)
    val nw = samples.length / windowSamples
    val e = new Array[Long](nw)
    var i = 0
    val bound = nw * windowSamples
    while (i < bound) {
      e(i / windowSamples) += math.abs(samples(i).toInt).toLong
      i += 1
    }
    e
  }

  /** Per-offset 56-bit span fingerprints over ABSOLUTE windows: offset o
    * covers windows [o, o + 57), bit j = E[o+j+1] > E[o+j] — the same
    * volume-invariant energy contour as [[audioFingerprint]], but sliding,
    * so a window-aligned excerpt of a track reproduces the track's span
    * print at its offset EXACTLY (scaling |s| scales every window sum by
    * the same factor and strict comparisons survive). Output
    * (media_id, offset, sfp); spans per clip = nWindows − 56, linear in
    * sample count — at corpus scale the span table shuffles as three
    * longs per row, never samples. Alignment granularity is one window
    * (`windowSamples` samples): an excerpt cut mid-window lands between
    * offsets and is out of contract, as with any fixed-grid
    * fingerprinter. A clip shorter than 57 full windows yields NO spans
    * (it cannot carry the 56-comparison contour) and silently drops out
    * of any span-based search — size `windowSamples` to the shortest
    * clip you need findable. */
  def audioSpanFingerprints(media: Dataset[MediaRow],
                            windowSamples: Int = 10): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val e = absWindowEnergies(m.media_id, m.payload, windowSamples)
      // the clip search packs offsets into 20 bits — a longer track
      // (~11 min at 16 kHz with 10-sample windows) would SILENTLY
      // corrupt candidate ids, so fail by name here; raise
      // windowSamples for inputs that long
      require(e.length - AudioWindows < (1 << 20),
        s"media ${m.media_id}: ${e.length} windows overflow the 20-bit " +
          s"offset pack — raise windowSamples ($windowSamples) for " +
          "tracks this long")
      (0 to e.length - AudioWindows).iterator.map { o =>
        var fp = 0L
        var j = 0
        while (j < AudioWindows - 1) {
          if (e(o + j + 1) > e(o + j)) fp |= 1L << j
          j += 1
        }
        (m.media_id, o, fp)
      }
    }).toDF("media_id", "offset", "sfp")
  }

  /** Shared-intro detection — the audio twin of [[imageBoilerplateBlocks]]:
    * a leading span print ([[audioSpanFingerprints]] at offset 0)
    * recurring across many DISTINCT clips is template audio (a podcast
    * intro jingle, an ad sting, a channel ident), not content — it
    * inflates contour near-dup candidates and leaks template audio into
    * training data, and per-clip statistics cannot see it. One groupBy
    * over the leading prints; output (intro_print, n_clips) for prints
    * recurring in >= `minClips` distinct clips. Volume-scaled intros
    * collide too (the contour is scale-invariant). */
  def audioBoilerplatePrints(media: Dataset[MediaRow],
                             windowSamples: Int = 10,
                             minClips: Long = 50L): DataFrame =
    audioSpanFingerprints(media, windowSamples)
      .filter(col("offset") === 0)
      .groupBy(col("sfp").as("intro_print"))
      .agg(countDistinct(col("media_id")).as("n_clips"))
      .filter(col("n_clips") >= minClips)

  /** Shared-intro fixtures: ids divisible by 3 open with a FIXED 570-sample
    * jingle (identical across all stamped clips — exactly one leading
    * span print), followed by a per-clip quadratic body; other ids are
    * pure per-clip sweeps (the q239 coefficient rule, so leading prints
    * never collide accidentally). */
  def syntheticIntroClips(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (800 + id % 10 * 10).toInt
      val body = new Array[Byte](n * 2)
      var p = 0
      while (p < n) {
        val pl = p.toLong
        val s =
          if (id % 3 == 0 && p < 570)
            (((pl * pl * 43 + pl * 29 + 111) % 4096) - 2048).toInt
          else
            (((pl * pl * (31 + id % 61) + pl * (17 + id % 53) + id * 53)
              % 4096) - 2048).toInt
        body(2 * p) = (s & 0xFF).toByte
        body(2 * p + 1) = ((s >> 8) & 0xFF).toByte
        p += 1
      }
      MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
    }

  /** Audio clip-in-track containment search — the audio twin of the text
    * span dedup (q197): does a short clip appear INSIDE a longer track?
    * Whole-clip prints can never say (relative windows stretch), so the
    * clip's LEADING 57-window span print ([[audioSpanFingerprints]] at
    * offset 0) is matched against every track span via the cross-side
    * band-chunk equi-join (the [[crossFramePairs]] machinery — track
    * spans ride packed media·2²⁰+offset ids; never clips × spans) with
    * exact Hamming verify. A volume-scaled, window-aligned excerpt hits
    * its source offset at Hamming 0. Output
    * (clip_id, track_id, track_offset, hamming); offsets must fit 20
    * bits. */
  def audioClipMatches(clips: Dataset[MediaRow], tracks: Dataset[MediaRow],
                       windowSamples: Int = 10, maxHamming: Int = 3,
                       bands: Int = 4): DataFrame = {
    val cp = audioSpanFingerprints(clips, windowSamples)
      .filter(col("offset") === 0)
      .select(col("media_id"), col("offset").as("frame_idx"),
        col("sfp").as("dhash"))
    val tp = audioSpanFingerprints(tracks, windowSamples)
      .select(col("media_id"), col("offset").as("frame_idx"),
        col("sfp").as("dhash"))
    crossFramePairsH(cp, tp, maxHamming, bands)
      .select(col("media_a").as("clip_id"), col("media_b").as("track_id"),
        col("frame_b").cast("int").as("track_offset"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Clip-in-track fixtures, track side: long PCM16 QUADRATIC sweeps
    * s(p) = ((p²·(31 + g mod 61) + p·(17 + g mod 53) + g·53) mod 4096)
    * − 2048 with g = doc_id, n = 800 + (g mod 40)·10 samples (80..119
    * absolute 10-sample windows — always enough for every planted
    * excerpt offset). Two degeneracy lessons are baked in (measured,
    * not guessed): a LINEAR sweep's energy contour is quasi-periodic
    * across offsets (164k accidental span collisions over 500 docs),
    * and a quadratic whose coefficients are track-INDEPENDENT collides
    * across tracks at equal offsets because the id only shifts the
    * shared polynomial by a constant the |·| window sums barely see
    * (3.7k accidentals) — so the id must multiply the coefficients,
    * drawn from prime-modulus ranges (the q232 fixture rule). */
  def syntheticAudioTracks(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (800 + (id % 40) * 10).toInt
      val body = new Array[Byte](n * 2)
      var p = 0
      while (p < n) {
        val pl = p.toLong
        val s = (((pl * pl * (31 + id % 61) + pl * (17 + id % 53) + id * 53)
          % 4096) - 2048).toInt
        body(2 * p) = (s & 0xFF).toByte
        body(2 * p + 1) = ((s >> 8) & 0xFF).toByte
        p += 1
      }
      MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
    }

  /** Clip-in-track fixtures, clip side (even doc_ids only): role
    * doc_id mod 4 == 0 is a VOLUME-TRIPLED, window-aligned 570-sample
    * excerpt of its own track starting at window o = doc_id mod 13 (its
    * lone span print must equal the track's print at offset o — tripling
    * scales every window energy by 3 and the strict contour comparisons
    * survive); role 2 is a distractor from a different sweep. */
  def syntheticAudioClips(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 2 == 0).map { id =>
      val n = 570
      val body = new Array[Byte](n * 2)
      val o = (id % 13).toInt
      var q = 0
      while (q < n) {
        val s =
          if (id % 4 == 0) {
            val pl = (o * 10 + q).toLong
            (3 * (((pl * pl * (31 + id % 61) + pl * (17 + id % 53) + id * 53)
              % 4096) - 2048)).toInt
          } else {
            val ql = q.toLong
            (((ql * ql * (37 + id % 59) + ql * (19 + id % 47) + id * 29 + 777)
              % 4096) - 2048).toInt
          }
        body(2 * q) = (s & 0xFF).toByte
        body(2 * q + 1) = ((s >> 8) & 0xFF).toByte
        q += 1
      }
      MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
    }
  }

  /** Near-dup image fixtures: doc_ids come in planted triples (group g =
    * doc_id/3): role 0 is the base image (grayscale gradient v(k) =
    * (g·31 + x·7 + y·13) mod 256 planted as r=g=b so grayscale IS the
    * formula), role 1 a sparse-watermark near-duplicate (every 97th pixel
    * nudged (v+4) mod 256 — block means barely move, so dHash stays within
    * a few bits), role 2 a distinct image (different gradient). Dimensions
    * derive from g alone; the PNG scanline filter cycles through all five
    * spec filters by doc_id, so the dedup path exercises the whole
    * unfilter matrix. An oracle recomputes every hash arithmetically. */
  def syntheticNearDupImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 3
      val role = id % 3
      val w = (16 + (g % 5) * 4).toInt
      val h = (12 + ((g * 3) % 5) * 4).toInt
      def v(k: Int): Int = {
        val x = k % w; val y = k / w
        if (role == 2) ((g * 53 + x * 29 + y * 3 + 128) % 256).toInt
        else {
          val base = ((g * 31 + x * 7 + y * 13) % 256).toInt
          if (role == 1 && k % 97 == 0) (base + 4) % 256 else base
        }
      }
      val px: Int => Int = i => if (i % 4 == 3) 255 else v(i / 4)
      MediaRow(id, "image", Containers.pngFull(w, h, px, (id % 5).toInt),
        w, h, 1)
    }

  /** Near-dup audio fixtures, same triple layout: role 0 base clip with
    * PCM16 samples s(p) = ((g·17 + p·5) mod 4096) − 2048, role 1 a
    * near-duplicate with every 101st sample nudged +7 (window energies
    * barely move), role 2 a distinct clip (different sweep). Sample count
    * derives from g alone (128..380 — always ≥ [[AudioWindows]]). */
  def syntheticNearDupAudio(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .map(id => MediaRow(id, "audio", nearDupAudioPayload(id), 0, 0, 1))
  }

  /** The per-item payload body of [[syntheticNearDupAudio]] — shared with
    * [[syntheticJointItems]] so the joint fixtures carry BYTE-IDENTICAL
    * clips (one oracle replay serves both). */
  private def nearDupAudioPayload(id: Long): Array[Byte] = {
    val g = id / 3
    val role = id % 3
    val n = (128 + (g % 64) * 4).toInt
    val body = new Array[Byte](n * 2)
    var p = 0
    while (p < n) {
      val base =
        if (role == 2) ((g * 41 + p.toLong * 13 + 999) % 4096 - 2048).toInt
        else ((g * 17 + p.toLong * 5) % 4096 - 2048).toInt
      val s = if (role == 1 && p % 101 == 0) base + 7 else base
      body(2 * p) = (s & 0xFF).toByte
      body(2 * p + 1) = ((s >> 8) & 0xFF).toByte
      p += 1
    }
    Containers.wav(1, 16000, body)
  }

  /** Perceptual media clusters: every media row labeled with the min-id
    * connected component of its Hamming-band pair graph — the media twin
    * of the text corpus's cluster labeling (and of [[graft.sim.Similarity]]'s
    * knnCluster contract): the output PARTITIONS the corpus, singletons
    * label themselves, and dedup is the trivial filter
    * `media_id == cluster_id`. Works across formats because the
    * fingerprint does ([[dhashOneImage]]). */
  def imageClusters(media: Dataset[MediaRow], maxHamming: Int = 3,
                    bands: Int = 4): DataFrame =
    clustersOf(imageDHash(media), "dhash", maxHamming, bands)

  /** Audio twin of [[imageClusters]] over the energy-contour prints. */
  def audioClusters(media: Dataset[MediaRow], maxHamming: Int = 3,
                    bands: Int = 4): DataFrame =
    clustersOf(audioFingerprint(media), "afp", maxHamming, bands)

  private def clustersOf(fps0: DataFrame, fpCol: String, maxHamming: Int,
                         bands: Int): DataFrame = {
    // fingerprints feed the pair stage AND the label join-back (shared-
    // subtree persist, the Caching contract — releaseAll reclaims); the
    // closure is edge-bounded by the band-collision count, never all-pairs
    val fps = fps0.persist()
    val pairs = Dedup.hammingBandPairs(fps, fpCol, FingerprintBits,
      maxHamming, bands, idCol = "media_id")
    val clusters = Dedup.clusterPairs(pairs)
      .withColumnRenamed("doc_id", "media_id")
    fps.join(clusters, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster_id"), col("media_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")))
  }

  /** Cross-format re-encode fixtures: doc_ids come in planted PAIRS
    * (group g = doc_id/2) — the even member a full-decode PNG with
    * grayscale gradient v(x, y) = (g·29 + x·5 + y·11) mod 256 planted as
    * r=g=b, the odd member the SAME content re-encoded as a 256-color GIF
    * whose palette entry j is (j, j, j) and whose pixel index IS the gray
    * value. Both decode to identical grayscale, so the pair MUST collide
    * on dHash (Hamming 0) even though the container bytes share nothing —
    * the re-encoded-copy case container-level dedup structurally misses,
    * and an oracle recomputes the shared hash from one formula. */
  /** Frame ids pack (media_id, frame_idx) into one long so the generic
    * fingerprint banding ([[Dedup.hammingBandPairs]]) runs unchanged over
    * per-frame hashes: fid = media_id·2²⁰ + frame_idx. Bitwise unpack is
    * exact — no float division anywhere near the key. */
  private val FrameBits = 20
  private val FrameMask = (1L << FrameBits) - 1L

  /** Exposure/contrast quality stats over DECODED pixels — the image twin
    * of the text quality heuristics (length/punct/stopword ratios): the
    * classical pre-training image gates are "not over/under-exposed, not
    * flat", and header metadata cannot answer them. Format-blind (PNG or
    * GIF by magic), every statistic an EXACT integer so an oracle replays
    * it arithmetically: gray = (r+g+b)/3 per pixel (the dHash convention),
    * `sum_gray` (mean = sum/n), `var_num` = n·Σgray² − (Σgray)² (the
    * integer variance numerator — 0 iff the image is perfectly flat;
    * exact within int64 up to ~8 MP per image, raise to sampled stats
    * beyond), `n_dark` (gray < 16) and `n_bright` (gray > 239) for the
    * clipped-exposure fractions. One decode pass per image; output is
    * |images|-grain. */
  def imageQualityStats(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      var n = 0L; var s = 0L; var s2 = 0L; var dark = 0L; var bright = 0L
      foreachDecodedPixel(m.media_id, m.payload) { (_, _) => () } {
        (_, _, r, g, b) =>
          val gray = (r + g + b) / 3
          n += 1L; s += gray; s2 += gray.toLong * gray
          if (gray < 16) dark += 1L
          if (gray > 239) bright += 1L
      }
      // n·Σg² ≤ n²·255² must stay inside int64 for the variance numerator
      // to be EXACT — that caps n at ~1.19e7 pixels; MaxDecodePixels alone
      // permits 64 Mpx, where the product overflows SILENTLY. Fail by name
      // (the documented bound) instead; raise to sampled stats beyond.
      require(n <= MaxExactVarPixels,
        s"media ${m.media_id}: $n pixels exceeds the $MaxExactVarPixels" +
          "-pixel exact-variance bound (use sampled stats beyond)")
      (m.media_id, n, s, n * s2 - s * s, dark, bright)
    }).toDF("media_id", "n_px", "sum_gray", "var_num", "n_dark", "n_bright")
  }

  /** Per-video exposure/flatness gates over DECODED frames — the video
    * twin of [[imageQualityStats]]: black-frame and flat-frame detection
    * are the standard cheap video gates (a capture glitch or padding
    * segment shows up as black or perfectly flat frames long before any
    * model sees it). Exact integers throughout: a frame is BLACK when its
    * gray sum < 16·pixels (mean below the dark threshold) and FLAT when
    * its integer variance numerator n·Σg²−(Σg)² is zero (a black frame
    * with texture counts black but not flat). One decode pass; `everyN`
    * samples frames exactly as [[videoFrameHashes]] does. */
  def videoQualityStats(media: Dataset[MediaRow],
                        everyN: Int = 1): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (w, h, frames) = Multimodal.decodeVideoRgb(m.media_id, m.payload)
      val npx = w.toLong * h
      // same int64 exactness bound as imageQualityStats: the per-frame
      // flatness check n·Σg²−(Σg)² silently overflows past ~1.19e7 px
      require(npx <= MaxExactVarPixels,
        s"media ${m.media_id}: ${w}x$h exceeds the $MaxExactVarPixels" +
          "-pixel exact-variance bound (use sampled stats beyond)")
      var scanned = 0L; var black = 0L; var flat = 0L; var sumAll = 0L
      var f = 0
      while (f < frames.length) {
        if (f % everyN == 0) {
          val fr = frames(f)
          var s = 0L; var s2 = 0L
          var i = 0
          while (i < fr.length) {
            val gray = ((fr(i) & 0xFF) + (fr(i + 1) & 0xFF) +
              (fr(i + 2) & 0xFF)) / 3
            s += gray; s2 += gray.toLong * gray
            i += 3
          }
          scanned += 1L; sumAll += s
          if (s < 16L * npx) black += 1L
          if (npx * s2 - s * s == 0L) flat += 1L
        }
        f += 1
      }
      (m.media_id, scanned, black, flat, sumAll)
    }).toDF("media_id", "n_frames_scanned", "n_black_frames",
      "n_flat_frames", "sum_gray")
  }

  /** Per-clip clipping/silence/loudness gates over decoded PCM16
    * samples — the audio twin of [[imageQualityStats]]: full-scale
    * samples (±32767/−32768) count as clipped, absolute `windowSamples`-
    * sample windows with zero energy count as silent (trailing partial
    * window dropped, the [[audioSpanFingerprints]] rule), plus the exact
    * absolute-amplitude sum and peak. All integers; one RIFF walk. */
  def audioQualityStats(media: Dataset[MediaRow],
                        windowSamples: Int = 10): DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      val (_, _, samples) = Multimodal.pcm16Samples(m.media_id, m.payload)
      val n = samples.length
      var sumAbs = 0L; var peak = 0L; var clipped = 0L
      var i = 0
      while (i < n) {
        val a = math.abs(samples(i).toInt).toLong
        sumAbs += a
        if (a > peak) peak = a
        if (samples(i) == Short.MaxValue || samples(i) == Short.MinValue)
          clipped += 1L
        i += 1
      }
      val nw = n / windowSamples
      var silent = 0L
      var w0 = 0
      while (w0 < nw) {
        var e = 0L
        var j = w0 * windowSamples
        val end = j + windowSamples
        while (j < end) { e += math.abs(samples(j).toInt).toLong; j += 1 }
        if (e == 0L) silent += 1L
        w0 += 1
      }
      (m.media_id, n.toLong, sumAbs, peak, clipped, nw.toLong, silent)
    }).toDF("media_id", "n_samples", "sum_abs", "peak_abs", "n_clipped",
      "n_windows", "n_silent_windows")
  }

  /** Quality-gate video fixtures: frame f of video g cycles through the
    * three cases the gates must separate — f mod 3 == 0 a gradient
    * (healthy), 1 a FLAT mid-gray frame, 2 a textured near-BLACK frame
    * (gray < 16 everywhere but varying — black yet not flat). */
  def syntheticQualityVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val w = (8 + id % 3 * 2).toInt
      val h = (8 + id % 2 * 2).toInt
      val nf = (3 + id % 3).toInt
      val px: (Int, Int, Int, Int) => Int = (f, x, y, _) => (f % 3) match {
        case 0 => ((id * 13 + f * 7 + x * 5 + y * 3) % 256).toInt
        case 1 => ((id * 3 + f) % 200 + 20).toInt
        case _ => (x + y) % 8
      }
      MediaRow(id, "video", Containers.aviFull(w, h, nf, px), w, h, nf)
    }

  /** Quality-gate audio fixtures: sample p of clip g is full-scale
    * clipped at every 97th position, zero through every 5th absolute
    * 10-sample window (planted silence), and a per-clip sweep elsewhere.
    * A clipped sample landing inside a "silent" window makes that window
    * non-silent — both engines replay the same per-sample CASE, so the
    * interaction is part of the contract, not noise. */
  def syntheticQualityClips(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val n = (300 + id % 20 * 10).toInt
      val body = new Array[Byte](n * 2)
      var p = 0
      while (p < n) {
        val s =
          if (p % 97 == 0) 32767
          else if ((p / 10) % 5 == 4) 0
          else (((id * 7 + p.toLong * 11) % 4096) - 2048).toInt
        body(2 * p) = (s & 0xFF).toByte
        body(2 * p + 1) = ((s >> 8) & 0xFF).toByte
        p += 1
      }
      MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
    }

  /** FIXED-grid grayscale block means of one decoded image (format-blind,
    * like [[dhashOneImage]]): block (bx, by) covers the blockPx×blockPx
    * pixel square at (bx·blockPx, by·blockPx); trailing partial rows/
    * columns are dropped (the clip-in-track rule: a crop and its source
    * must see IDENTICAL block sums, and a partial edge block would
    * disagree). Whole-image dHash normalizes the grid to 8×8 regardless
    * of size — right for whole-image identity, structurally wrong for
    * crops, whose blocks land on a different normalized grid. */
  private def blockMeans(id: Long, p: Array[Byte],
                         blockPx: Int): (Int, Int, Array[Long]) = {
    require(blockPx > 0, s"media $id: blockPx must be positive")
    var gw = 0; var gh = 0
    var sums: Array[Long] = null
    var cnts: Array[Long] = null
    foreachDecodedPixel(id, p) { (pw, ph) =>
      gw = pw / blockPx; gh = ph / blockPx
      require(gw >= GridW && gh >= GridH,
        s"media $id: patch hashing needs >= ${GridW}x$GridH full blocks, " +
          s"got ${gw}x$gh at blockPx=$blockPx")
      sums = new Array[Long](gw * gh); cnts = new Array[Long](gw * gh)
    } { (x, y, r, g, b) =>
      val bx = x / blockPx; val by = y / blockPx
      if (bx < gw && by < gh) {
        sums(by * gw + bx) += (r + g + b) / 3
        cnts(by * gw + bx) += 1L
      }
    }
    val means = new Array[Long](gw * gh)
    var i = 0
    while (i < means.length) { means(i) = sums(i) / cnts(i); i += 1 }
    (gw, gh, means)
  }

  /** Exploded fixed-grid block means, one row per (image, block) — the
    * shared substrate of [[imagePatchHashes]] and
    * [[imageBoilerplateBlocks]]. Output (media_id, bx, by, mean). */
  def imageBlockMeans(media: Dataset[MediaRow], blockPx: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (gw, _, bm) = blockMeans(m.media_id, m.payload, blockPx)
      bm.iterator.zipWithIndex.map { case (mean, i) =>
        (m.media_id, i % gw, i / gw, mean)
      }
    }).toDF("media_id", "bx", "by", "mean")
  }

  /** Template/watermark region detection — the image twin of the text
    * boilerplate detector: a block mean recurring VERBATIM across many
    * DISTINCT images at the same grid position is template chrome
    * (watermark, logo, border, UI frame), not content. Watermarks poison
    * curation twice — they inflate perceptual near-dup candidates (every
    * watermarked pair shares hash bits) and leak template pixels into
    * training data — and they are invisible to per-image statistics by
    * construction. One groupBy over the exploded block means; the
    * aggregate is |grid × 256|-bounded per position, never image-pair
    * shaped. Output (bx, by, mean, n_images) for cells recurring in
    * >= `minImages` distinct images.
    *
    * `quant` > 1 makes the census TOLERANT: block means quantize to
    * floor(mean/quant) buckets before counting, so an ALPHA-BLENDED
    * watermark — whose per-image means shift by a few units with the
    * underlying content and therefore never recur verbatim — still
    * concentrates in one bucket per position (MediaDedupSpec plants the
    * case the verbatim census provably misses). `quant` = 1 is the exact
    * verbatim census; the `mean` column always carries the bucket. */
  def imageBoilerplateBlocks(media: Dataset[MediaRow], blockPx: Int = 2,
                             minImages: Long = 50L,
                             quant: Int = 1): DataFrame = {
    require(quant >= 1, "quant must be >= 1")
    imageBlockMeans(media, blockPx)
      .groupBy(col("bx"), col("by"),
        (col("mean") / quant).cast("long").as("mean"))
      .agg(countDistinct(col("media_id")).as("n_images"))
      .filter(col("n_images") >= minImages)
  }

  /** Watermark fixtures: every image carries per-image quadratic content
    * (the q241 coefficient rule), and ids divisible by 3 additionally
    * carry a FIXED 4×2-block "logo" at the top-left — identical values at
    * identical positions across all stamped images, exactly what the
    * boilerplate detector must surface and per-image stats cannot. */
  def syntheticWatermarkImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val gw = 12; val gh = 10
      def v(bx: Int, by: Int): Int =
        if (id % 3 == 0 && bx < 4 && by < 2) bx * 50 + by * 30 + 7
        else ((bx.toLong * bx * (13 + id % 31) + by.toLong * by * (7 + id % 29) +
          bx.toLong * by * (3 + id % 17) + id * 11) % 226).toInt
      blockGrayPng(id, gw, gh, 2)(v)
    }

  /** Alpha-blended watermark fixtures — the case the VERBATIM census
    * provably misses: stamped ids (divisible by 3) carry a top-left 4×2
    * logo whose block value is L(bx, by) = bx·48 + by·32 + 8 (≡ 0 mod 4)
    * PLUS a per-image content bleed of ((id/3) mod 3) ∈ {0, 1, 2} — the
    * blended means never recur verbatim across images, but all land in
    * the same floor(mean/4) bucket, so the quantized census surfaces
    * them. Content blocks keep the q249 quadratic coefficient rule. */
  def syntheticBlendedWatermarkImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val gw = 12; val gh = 10
      def v(bx: Int, by: Int): Int =
        if (id % 3 == 0 && bx < 4 && by < 2)
          bx * 48 + by * 32 + 8 + ((id / 3) % 3).toInt
        else ((bx.toLong * bx * (13 + id % 31) + by.toLong * by * (7 + id % 29) +
          bx.toLong * by * (3 + id % 17) + id * 11) % 226).toInt
      blockGrayPng(id, gw, gh, 2)(v)
    }

  /** Per-offset 56-bit PATCH hashes over the fixed block grid: window
    * (ox, oy) covers blocks [ox, ox+8) × [oy, oy+8) and hashes by the
    * SAME 7-comparisons-per-row rule as the whole-image dHash — so the
    * window hashes are sub-rectangles of one global comparison grid, and
    * a block-aligned crop of another image reproduces that image's patch
    * hash at the crop's offset EXACTLY (a uniform brightness shift
    * preserves every comparison). The 2D twin of
    * [[audioSpanFingerprints]]; windows per image are linear in pixels /
    * blockPx², shuffled as four integers, never pixels. */
  def imagePatchHashes(media: Dataset[MediaRow],
                       blockPx: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (gw, gh, bm) = blockMeans(m.media_id, m.payload, blockPx)
      // the crop search packs (ox, oy) into 10 bits each — a wider grid
      // would SILENTLY corrupt candidate ids, so fail by name here (at
      // blockPx = 2 this is a 2048-pixel side; raise blockPx beyond)
      require(gw <= (1 << 10) && gh <= (1 << 10),
        s"media ${m.media_id}: ${gw}x$gh block grid overflows the 10-bit " +
          s"offset pack — raise blockPx ($blockPx) for inputs this large")
      for {
        oy <- (0 to gh - GridH).iterator
        ox <- (0 to gw - GridW).iterator
      } yield {
        var fp = 0L
        var r = 0
        while (r < GridH) {
          var c = 0
          while (c < GridW - 1) {
            if (bm((oy + r) * gw + ox + c) < bm((oy + r) * gw + ox + c + 1))
              fp |= 1L << (r * (GridW - 1) + c)
            c += 1
          }
          r += 1
        }
        (m.media_id, ox, oy, fp)
      }
    }).toDF("media_id", "ox", "oy", "phash")
  }

  /** Image crop containment search — the 2D twin of [[audioClipMatches]]
    * (and the cropped-meme case whole-image dHash structurally misses:
    * cropping changes the normalized 8×8 grid, so the whole-image hashes
    * share nothing). A crop's single window print (its (0,0) patch hash)
    * is matched against every corpus window via the cross-side band-chunk
    * join, exact Hamming verify; a block-aligned, brightness-shifted crop
    * hits its source image at its offset at Hamming 0. Offsets pack into
    * 10 bits each (block grids up to 1024 on a side — at blockPx=2 that
    * is a 2048-pixel image side; larger inputs should raise blockPx).
    * Output (crop_id, image_id, ox, oy, hamming). */
  def imageCropMatches(crops: Dataset[MediaRow], images: Dataset[MediaRow],
                       blockPx: Int = 2, maxHamming: Int = 3,
                       bands: Int = 4): DataFrame = {
    val OffBits = 10
    val cp = imagePatchHashes(crops, blockPx)
      .filter(col("ox") === 0 && col("oy") === 0)
      .select(col("media_id"), lit(0).as("frame_idx"),
        col("phash").as("dhash"))
    val ip = imagePatchHashes(images, blockPx)
      .select(col("media_id"),
        (col("oy") * (1 << OffBits) + col("ox")).as("frame_idx"),
        col("phash").as("dhash"))
    crossFramePairsH(cp, ip, maxHamming, bands)
      .select(col("media_a").as("crop_id"), col("media_b").as("image_id"),
        (col("frame_b") % (1 << OffBits)).cast("int").as("ox"),
        (col("frame_b") / (1 << OffBits)).cast("int").as("oy"),
        col("hamming").cast("int").as("hamming"))
  }

  /** Crop-containment fixtures, corpus side: PNGs planted PER 2×2 BLOCK —
    * block (bx, by) of image g holds
    * v = (bx²·(13 + g mod 31) + by²·(7 + g mod 29) + bx·by·(3 + g mod 17)
    * + g·11) mod 226 at every pixel (so block means ARE the formula), on
    * a (12 + g mod 4) × (10 + g mod 3) block grid. The 226 bound leaves
    * headroom for the crop side's +30 brightness shift without wrap
    * (order-preserving); per-image coefficients multiply the position
    * terms (the measured q239 degeneracy rule). */
  def syntheticCropImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val gw = (12 + id % 4).toInt
      val gh = (10 + id % 3).toInt
      def v(bx: Int, by: Int): Int =
        ((bx.toLong * bx * (13 + id % 31) + by.toLong * by * (7 + id % 29) +
          bx.toLong * by * (3 + id % 17) + id * 11) % 226).toInt
      blockGrayPng(id, gw, gh, 2)(v)
    }

  /** Crop-containment fixtures, crop side (even doc_ids): role
    * doc_id mod 4 == 0 is the 8×8-block crop of its own corpus image at
    * block offset (g mod 5, g mod 3), brightness-shifted +30 (every
    * comparison preserved — the crop must hit at Hamming 0 through a
    * DIFFERENT byte payload); role 2 a distractor from another
    * formula. */
  def syntheticImageCrops(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 2 == 0).map { id =>
      val ox = (id % 5).toInt; val oy = (id % 3).toInt
      def v(c: Int, r: Int): Int =
        if (id % 4 == 0)
          (((ox + c).toLong * (ox + c) * (13 + id % 31) +
            (oy + r).toLong * (oy + r) * (7 + id % 29) +
            (ox + c).toLong * (oy + r) * (3 + id % 17) +
            id * 11) % 226).toInt + 30
        else
          ((c.toLong * c * 19 + r.toLong * r * 23 + c.toLong * r * 29 +
            id * 7 + 99) % 226).toInt
      blockGrayPng(id, GridW, GridH, 2)(v)
    }
  }

  /** A block-planted fixture PNG: `gw`×`gh` uniform gray blocks of
    * `blockPx`×`blockPx` pixels (opaque RGBA), block (bx, by) at
    * v(bx, by), scanline filter id mod 5. */
  private def blockGrayPng(id: Long, gw: Int, gh: Int, blockPx: Int)
                          (v: (Int, Int) => Int): MediaRow = {
    val w = blockPx * gw; val h = blockPx * gh
    val px: Int => Int = { i =>
      if (i % 4 == 3) 255
      else { val k = i / 4; v((k % w) / blockPx, (k / w) / blockPx) }
    }
    MediaRow(id, "image", Containers.pngFull(w, h, px, (id % 5).toInt),
      w, h, 1)
  }

  /** The EXIF-oriented crop-search grid: (8 + id%3) × (8 + id%2)
    * displayed blocks. */
  private def orientedDims(id: Long): (Int, Int) =
    ((8 + id % 3).toInt, (8 + id % 2).toInt)

  /** Displayed block grid of the JPEG family (per-image quadratic
    * coefficients, the q241 rule, bound 196 to absorb the crop's +30). */
  private def jpegOrientedValue(id: Long)(dx: Int, dy: Int): Int =
    ((dx.toLong * dx * (11 + id % 23) + dy.toLong * dy * (5 + id % 19) +
      dx.toLong * dy * (3 + id % 13) + id * 17) % 196).toInt

  /** Displayed block grid of the WebP family: a distinct coefficient
    * family, so the two gates are independent fixtures. */
  private def webpOrientedValue(id: Long)(dx: Int, dy: Int): Int =
    ((dx.toLong * dx * (7 + id % 29) + dy.toLong * dy * (9 + id % 17) +
      dx.toLong * dy * (5 + id % 11) + id * 23) % 196).toInt

  /** The displayed grid `v` written back through the INVERSE tag-274
    * transform under orientation 1 + (id mod 8): (orientation, stored
    * width, stored height, stored block grays). */
  private def orientedStoredGrays(id: Long, v: (Int, Int) => Int)
      : (Int, Int, Int, Array[Int]) = {
    val (gw, gh) = orientedDims(id)
    val o = (1 + id % 8).toInt
    val swap = o >= 5
    val sw = if (swap) gh else gw
    val sh = if (swap) gw else gh
    val grays = new Array[Int](sw * sh)
    var dy = 0
    while (dy < gh) {
      var dx = 0
      while (dx < gw) {
        // displayed (dx, dy) reads stored (sx, sy): the same published
        // source-coordinate table Jpeg.decodeRgbOriented applies
        val (sx, sy) = Jpeg.orientSource(o, sw, sh, dx, dy)
        grays(sy * sw + sx) = v(dx, dy)
        dx += 1
      }
      dy += 1
    }
    (o, sw, sh, grays)
  }

  /** Oriented crop side (even doc_ids): role id mod 4 == 0 is the
    * 8×8-block crop of its own image's DISPLAYED content `v` at block
    * offset (id mod (gw−7), id mod (gh−7)), brightness +30, shipped as a
    * PNG of `blockPx`-px blocks; role 2 the `distractor` grid. */
  private def orientedCrop(id: Long, blockPx: Int, v: (Int, Int) => Int,
                           distractor: (Int, Int) => Int): MediaRow = {
    val (gw, gh) = orientedDims(id)
    val ox = (id % (gw - 7)).toInt
    val oy = (id % (gh - 7)).toInt
    blockGrayPng(id, GridW, GridH, blockPx) { (c, r) =>
      if (id % 4 == 0) v(ox + c, oy + r) + 30 else distractor(c, r)
    }
  }

  /** EXIF-oriented crop-search fixtures, corpus side: every doc is a
    * JPEG whose pixels are STORED under orientation 1 + (id mod 8) —
    * the displayed-content grid v(dx, dy) (per-image quadratic
    * coefficients, the q241 rule, bound 196 to absorb the crop's +30)
    * is written back through the INVERSE tag-274 transform and tagged,
    * so only an orientation-applying pixel walk reconstructs it. Blocks
    * are 8×8 px (what DC-only JPEG represents exactly → crop search at
    * blockPx = 8); displayed grid (8 + id%3) × (8 + id%2) blocks. */
  def syntheticOrientedCropImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (gw, gh) = orientedDims(id)
      val (o, sw, sh, grays) = orientedStoredGrays(id, jpegOrientedValue(id))
      val payload = Jpeg.withExif(
        Jpeg.encodeGrayBlocks(8 * sw, 8 * sh, grays), o)
      MediaRow(id, "image", payload, 8 * gw, 8 * gh, 1)
    }

  /** EXIF-oriented crop-search fixtures, crop side (even doc_ids): role
    * id mod 4 == 0 is the 8×8-block crop of its own image's DISPLAYED
    * content at block offset (id mod (gw−7), id mod (gh−7)), brightness
    * +30, shipped as a PNG (no orientation of its own — exactly how a
    * screenshot of a displayed photo arrives); role 2 a distractor. The
    * crop can only meet its source if the JPEG side hashed
    * displayed-orientation pixels. */
  def syntheticOrientedCrops(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 2 == 0).map { id =>
      orientedCrop(id, 8, jpegOrientedValue(id), (c, r) =>
        ((c.toLong * c * 17 + r.toLong * r * 21 + c.toLong * r * 27 +
          id * 5 + 77) % 196).toInt)
    }
  }

  /** EXIF-oriented WebP images — the q263 story for the WebP container:
    * camera-pipeline WebPs carry tag 274 in an EXIF chunk (not an APP1
    * segment), and position-sensitive operators are wrong without
    * applying it. Each image plants its DISPLAYED 2×2-px-block content back
    * through the INVERSE tag-274 transform into stored pixels, encodes
    * them as a real VP8L stream, and wraps the result in a VP8X(EXIF)
    * container ([[Webp.withExif]]); all 8 orientations cycle. Distinct
    * coefficient family from q263 (7+id%29 / 9+id%17 / 5+id%11, id·23)
    * so the two gates are independent fixtures. */
  def syntheticOrientedWebpImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (gw, gh) = orientedDims(id)
      val (o, sw, sh, grays) = orientedStoredGrays(id, webpOrientedValue(id))
      // 2-px blocks (the q241 granularity): VP8L is lossless at any
      // block size — no DC-block constraint like the JPEG fixture — and
      // the 16x smaller canvas keeps the row in the 3 s isolation budget
      // (7.1 s at 8-px blocks)
      val argb = Array.tabulate(4 * sw * sh) { k =>
        val x = k % (2 * sw); val y = k / (2 * sw)
        val g = grays((y / 2) * sw + x / 2)
        0xFF000000 | (g << 16) | (g << 8) | g
      }
      val payload = Webp.withExif(
        Webp.encodeLossless(2 * sw, 2 * sh, argb), 2 * sw, 2 * sh, o)
      MediaRow(id, "image", payload, 2 * gw, 2 * gh, 1)
    }

  /** Crop side for [[syntheticOrientedWebpImages]] (even doc_ids): role
    * id mod 4 == 0 is the 8×8-block crop of its own image's DISPLAYED
    * content at block offset (id mod (gw−7), id mod (gh−7)), brightness
    * +30, shipped as a PNG — exactly how a screenshot of a displayed
    * photo arrives; role 2 a distractor. The crop meets its source only
    * if the WebP side hashed displayed-orientation pixels. */
  def syntheticOrientedWebpCrops(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 2 == 0).map { id =>
      orientedCrop(id, 2, webpOrientedValue(id), (c, r) =>
        ((c.toLong * c * 19 + r.toLong * r * 23 + c.toLong * r * 29 +
          id * 7 + 55) % 196).toInt)
    }
  }

  /** The q258 QUADRATIC grid family of the animated video pairs: group
    * g's frame f value at cell (x, y) — per-group prime-modulus
    * multipliers on every position term. */
  private def q258Value(g: Long, f: Int, x: Int, y: Int): Int =
    ((g * 37 + f * (11 + (g * 17) % 97) + x * x * (4 + (g % 11) * 5) +
      y * y * (3 + (g % 13) * 3) + x * y * (2 + (g % 7) * 9))
      % 256).toInt

  /** The animated-GIF member of a cross-container video pair: frame f's
    * pixel (x, y) is gray v(f, x, y) through the identity-ramp palette. */
  private def grayGifVideo(id: Long, w: Int, h: Int, nf: Int,
                           v: (Int, Int, Int) => Int): MediaRow =
    MediaRow(id, "video",
      Containers.gifAnimated(w, h, nf, (f, k) => v(f, k % w, k / w),
        Containers.GrayRamp, minCodeSize = 8), w, h, nf)

  /** GIF ↔ animated-WebP cross-container video pairs (g = doc_id/2): the
    * even member an ANIMATED GIF (per-frame LZW streams, identity gray
    * palette), the odd member an ANIMATED WebP (full-canvas no-blend
    * opaque ANMF frames, each a real VP8L bitstream) of the SAME planted
    * frames — the q248 contract extended to the third animation
    * container: no shared container bytes, identical composited RGB,
    * frame-for-frame collision at match_frac 1. Frame formula keeps the
    * wide prime-modulus multipliers (the q232 rule). Canvases are half
    * q248's (8-16 px sides, 2-3 frames): a VP8L encode writes five
    * Huffman tables per frame where a DIB row or LZW stream writes none,
    * and the smaller fixture keeps the row inside the 3 s isolation
    * budget (measured 5.7 s at q248's dims) without touching the
    * oracle's arithmetic shape. */
  def syntheticGifWebpPairVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      val w = (8 + (g % 5) * 2).toInt
      val h = (8 + ((g * 3) % 4) * 2).toInt
      val nf = (2 + g % 2).toInt
      // the q258 QUADRATIC grid family: at these small canvases a linear
      // formula drained fingerprint entropy (382 pairs for 250 planted
      // at sf0.001); quadratic position terms keep cross-group hashes
      // apart (exactly the 250 planted after the switch)
      def v(f: Int, x: Int, y: Int): Int = q258Value(g, f, x, y)
      if (id % 2 == 0) grayGifVideo(id, w, h, nf, v)
      else {
        val frames = (0 until nf).map { f =>
          Webp.AnimFrameSpec(0, 0, w, h, Array.tabulate(w * h) { k =>
            val px = v(f, k % w, k / w)
            0xFF000000 | (px << 16) | (px << 8) | px
          })
        }
        MediaRow(id, "video", Webp.encodeAnimated(w, h, 0xFF000000, frames),
          w, h, nf)
      }
    }

  /** GIF ↔ APNG cross-container video pairs (g = doc_id/2): the even
    * member an ANIMATED GIF, the odd member an ANIMATED PNG (full-canvas
    * opaque SOURCE frames, each a real deflate-filtered PNG stream
    * behind fcTL/fdAT) of the SAME planted frames — the q276 contract
    * extended to the FOURTH animation container, same dims/frame-count/
    * value formula so one oracle covers both rows. No shared container
    * bytes (LZW code streams vs zlib scanline streams), identical
    * composited RGB, frame-for-frame collision at match_frac 1. */
  def syntheticGifApngPairVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      val w = (8 + (g % 5) * 2).toInt
      val h = (8 + ((g * 3) % 4) * 2).toInt
      val nf = (2 + g % 2).toInt
      // the q258 QUADRATIC grid family (see syntheticGifWebpPairVideos)
      def v(f: Int, x: Int, y: Int): Int = q258Value(g, f, x, y)
      if (id % 2 == 0) grayGifVideo(id, w, h, nf, v)
      else {
        val frames = (0 until nf).map { f =>
          Containers.ApngFrameSpec(0, 0, w, h, { i =>
            if (i % 4 == 3) 255
            else { val k = i / 4; v(f, k % w, k / w) }
          }, filterType = ((g + f) % 5).toInt)
        }
        MediaRow(id, "video", Containers.pngAnimated(w, h, frames),
          w, h, nf)
      }
    }

  /** WAV ↔ AVI-soundtrack pairs (g = doc_id/2): the even member a WAV
    * of the planted PCM16 clip, the odd member an AVI whose VIDEO
    * frames differ per group but whose 'auds' stream carries the SAME
    * samples — the soundtrack surface's cross-container contract: the
    * audio operators see the AVI through the decodeAviAudio dispatch
    * and the pair collides contour-for-contour at Hamming 0, with the
    * video payload invisible to the audio fingerprint. */
  def syntheticAviSoundtrackPairs(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      val n = (128 + (g % 64) * 4).toInt
      // quadratic position term with per-group prime-modulus multipliers
      // (the degeneracy rule): a linear family drains window-energy
      // entropy across groups at small n
      val samples = Array.tabulate(n)(p =>
        ((g * 29 + p.toLong * p * (7 + g % 13) + p.toLong * 11) % 4096
          - 2048).toShort)
      if (id % 2 == 0) {
        val body = new Array[Byte](2 * n)
        var p = 0
        while (p < n) {
          body(2 * p) = (samples(p) & 0xFF).toByte
          body(2 * p + 1) = ((samples(p) >> 8) & 0xFF).toByte
          p += 1
        }
        MediaRow(id, "audio", Containers.wav(1, 16000, body), 0, 0, 1)
      } else
        MediaRow(id, "audio", Containers.aviWithAudio(8, 6, 2,
          (f, x, y, c) => ((g * 13 + f * 7 + x * 3 + y * 5 + c * 17) % 256).toInt,
          1, 16000, samples), 8, 6, 2)
    }

  /** Cross-CONTAINER video fixtures: doc_ids come in planted pairs
    * (group g = doc_id/2) — the even member an AVI carrying uncompressed
    * DIB frames, the odd member an ANIMATED GIF (per-frame LZW streams,
    * identity gray palette) of the SAME planted frames. The two payloads
    * share no container bytes, but both decode to identical RGB, so every
    * frame-level operator must treat them as the same video. Frame
    * formula keeps the wide prime-modulus multipliers (the q232 rule). */
  def syntheticCrossContainerVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      val w = (12 + (g % 5) * 4).toInt
      val h = (8 + ((g * 3) % 4) * 4).toInt
      val nf = (3 + g % 3).toInt
      def v(f: Int, x: Int, y: Int): Int =
        ((g * 29 + f * 17 + x * (3 + (g * 13) % 251) +
          y * (2 + (g * 7) % 241)) % 256).toInt
      if (id % 2 == 0)
        MediaRow(id, "video",
          Containers.aviFull(w, h, nf, (f, x, y, _) => v(f, x, y)), w, h, nf)
      else grayGifVideo(id, w, h, nf, v)
    }

  /** MJPEG ↔ uncompressed cross-CODEC video pairs: even doc_ids are
    * uncompressed DIB AVIs, odd doc_ids the MJPEG re-encode of the SAME
    * content (one DC-only baseline JPEG per '00dc' chunk — exact pixels
    * by the q00 = 8 closed form, so the normally-lossy codec carries the
    * fixture losslessly and the pair collides frame-for-frame). Frames
    * are 64×64 with 8×8-block-constant content so the dHash grid aligns
    * with the JPEG blocks (the tri-format lesson: sub-block grid cells
    * tie and drain fingerprint entropy); block, frame, and item terms
    * all carry per-item multiplicative prime-modulus coefficients. */
  def syntheticMjpegPairVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      val w = 64; val h = 64
      val nf = (2 + g % 2).toInt
      // the q258 quadratic grid family (proven degeneracy-free): LINEAR
      // block terms make the dHash a low-entropy wrap pattern that
      // cross-collides at corpus scale — measured 786 rows for 250
      // planted pairs at sf0.001 before the quadratics
      def blockVal(f: Int, bx: Int, by: Int): Int = q258Value(g, f, bx, by)
      if (id % 2 == 0)
        MediaRow(id, "video",
          Containers.aviFull(w, h, nf, (f, x, y, _) => blockVal(f, x / 8, y / 8)),
          w, h, nf)
      else {
        val jpegs = Array.tabulate(nf) { f =>
          Jpeg.encodeGrayBlocks(w, h,
            Array.tabulate(64)(k => blockVal(f, k % 8, k / 8)))
        }
        MediaRow(id, "video", Containers.aviMjpeg(w, h, jpegs), w, h, nf)
      }
    }

  /** Video clip-in-video ONE-SIDED containment: was this SHORT clip
    * lifted from some longer video in the corpus? [[videoNearDups]]'s
    * two-sided containment (least of BOTH coverages) structurally misses
    * it — a 2-frame clip inside a 6-frame video covers the long side by
    * at most 1/3 and least() kills the pair. Here clip frames hash at
    * FULL rate (a clip is short by definition: everyN = 1), the corpus
    * keeps its sampled frame index, candidates ride the cross-side
    * band-chunk join ([[crossFramePairs]] — never clips × corpus-frames),
    * and the match aggregates ONE-SIDED: distinct matched clip frames /
    * clip frames >= `minClipFrac`. A frame-decimated re-post (every
    * everyN-th source frame) lands every clip frame on the corpus's
    * sampled index and matches its source at clip_frac 1. Output
    * (clip_id, video_id, matched_frames, n_clip_frames, clip_frac). */
  def videoClipMatches(clips: Dataset[MediaRow], videos: Dataset[MediaRow],
                       everyN: Int = 2, maxHamming: Int = 3, bands: Int = 4,
                       minClipFrac: Double = 0.5): DataFrame = {
    // clip hashes feed the pair stage AND the per-clip frame counts
    // (shared-subtree persist, the Caching contract — releaseAll reclaims)
    val cf = videoFrameHashes(clips, everyN = 1).persist()
    val counts = cf.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_clip_frames"))
    crossFramePairs(cf, videoFrameHashes(videos, everyN), maxHamming, bands)
      .select(col("media_a").as("clip_id"), col("media_b").as("video_id"),
        col("frame_a"))
      .groupBy("clip_id", "video_id")
      .agg(countDistinct(col("frame_a")).as("matched_frames"))
      .join(counts.select(col("media_id").as("clip_id"),
        col("n_clip_frames")), Seq("clip_id"))
      .withColumn("clip_frac",
        col("matched_frames") / col("n_clip_frames"))
      .filter(col("clip_frac") >= minClipFrac)
      .select(col("clip_id"), col("video_id"), col("matched_frames"),
        col("n_clip_frames"), col("clip_frac"))
  }

  /** Clip-in-video fixtures (even doc_ids): role doc_id mod 4 == 0 is a
    * 2-frame FRAME-DECIMATED re-post of its group's role-0 video from
    * [[syntheticNearDupVideos]] — clip frame f' carries source frame
    * 2f''s content at the source's dims, so every clip frame lands
    * exactly on the corpus's everyN = 2 sampled frame index; role 2 is a
    * distractor from a different formula. */
  def syntheticVideoClips(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 2 == 0).map { id =>
      val g = id / 3
      val w = (12 + (g % 5) * 4).toInt
      val h = (8 + ((g * 3) % 4) * 4).toInt
      val px: (Int, Int, Int, Int) => Int = (f2, x, y, _) =>
        if (id % 4 == 0) {
          val f = 2 * f2
          ((g * 29 + f * 17 + x * (3 + (g * 13) % 251) +
            y * (2 + (g * 7) % 241)) % 256).toInt
        } else
          ((g * 61 + f2 * 23 + x * (7 + (g * 19) % 227) +
            y * (5 + (g * 23) % 229) + 500) % 256).toInt
      MediaRow(id, "video", Containers.aviFull(w, h, 2, px), w, h, 2)
    }
  }

  /** Per-frame perceptual hashes of REAL decoded AVI video, with REAL
    * frame sampling (only frame_idx % everyN == 0 is decoded into a hash —
    * the standard cost control: at 100 TB of video you fingerprint sampled
    * frames, not every frame). Output (media_id, frame_idx, dhash).
    * Partition-local map, no shuffle. */
  def videoFrameHashes(media: Dataset[MediaRow], everyN: Int = 2): DataFrame = {
    require(everyN >= 1, "everyN must be >= 1")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap { m =>
      val (w, h, frames) = Multimodal.decodeVideoRgb(m.media_id, m.payload)
      require(frames.length < (1 << FrameBits),
        s"media ${m.media_id}: ${frames.length} frames overflow the frame-id pack")
      frames.iterator.zipWithIndex.collect {
        case (rgb, f) if f % everyN == 0 =>
          (m.media_id, f, dhashOneFrame(m.media_id, w, h, rgb))
      }
    }).toDF("media_id", "frame_idx", "dhash")
  }

  /** Video near-duplicate pairs by SHARED-FRAME containment — the video
    * twin of the text corpus's containment near-dup: two videos are
    * near-dups when, over their SAMPLED frames, a `minSharedFrac` fraction
    * of BOTH sides' frames has a Hamming-≤`maxHamming` perceptual match on
    * the other side (bag semantics — no temporal alignment required, so a
    * re-cut that drops or reorders frames still matches on what survives).
    *
    * Scale shape: frame-pair candidates come from the SAME banded
    * equi-join as every other fingerprint here (frames ride packed ids
    * through [[Dedup.hammingBandPairs]] — never an all-pairs join of the
    * frame corpus), the per-frame verify is exact, and the per-video
    * aggregation joins a |videos|-grain count table. Output
    * (media_a, media_b, matched_a, matched_b, match_frac). */
  def videoNearDups(media: Dataset[MediaRow], everyN: Int = 2,
                    maxHamming: Int = 3, bands: Int = 4,
                    minSharedFrac: Double = 0.5): DataFrame = {
    // frame hashes feed the pair stage AND the per-video frame counts —
    // shared-subtree persist (Caching contract; releaseAll reclaims)
    val fh = videoFrameHashes(media, everyN).persist()
    val counts = fh.groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
    val framePairs = videoFramePairs(fh, maxHamming, bands)
    videoContainment(framePairs, counts, counts)
      .filter(col("match_frac") >= minSharedFrac)
      .select(col("media_a"), col("media_b"), col("matched_a"),
        col("matched_b"), col("match_frac"))
  }

  /** Pack (media_id, frame_idx, dhash) rows into the fid space so the
    * generic banding machinery sees one long id per frame. */
  private[graft] def packFrameIds(fh: DataFrame): DataFrame =
    fh.select((col("media_id") * (1L << FrameBits) + col("frame_idx")).as("fid"),
      col("dhash"))

  /** Verified cross-video frame-pair matches from one frame-hash table
    * (the within-corpus stage of [[videoNearDups]] and the in-batch stage
    * of the streaming video ingest): banded candidates over packed frame
    * ids, exact Hamming verify, same-video pairs dropped. Output
    * (media_a, frame_a, media_b, frame_b). */
  private[graft] def videoFramePairs(fh: DataFrame, maxHamming: Int,
                                     bands: Int): DataFrame =
    Dedup.hammingBandPairs(packFrameIds(fh), "dhash", FingerprintBits,
        maxHamming, bands, idCol = "fid")
      .select(shiftright(col("doc_a"), FrameBits).as("media_a"),
        col("doc_a").bitwiseAND(FrameMask).as("frame_a"),
        shiftright(col("doc_b"), FrameBits).as("media_b"),
        col("doc_b").bitwiseAND(FrameMask).as("frame_b"))
      .filter(col("media_a") < col("media_b")) // cross-video only

  /** CROSS-SIDE verified frame matches (an incoming batch's frame hashes
    * against a committed frame index — the streaming video ingest's
    * lake check): candidates from the band-chunk equi-join of the two
    * packed sides ([[Dedup.fingerprintBandChunks]] both ways, the
    * MediaIngest shape — never batch-frames × committed-frames), exact
    * Hamming verify. Output (media_a, frame_a) from side A,
    * (media_b, frame_b) from side B. [[crossFramePairsH]] keeps the
    * verified Hamming distance as a column. */
  private[graft] def crossFramePairs(fhA: DataFrame, fhB: DataFrame,
                                     maxHamming: Int, bands: Int): DataFrame =
    crossFramePairsH(fhA, fhB, maxHamming, bands).drop("hamming")

  private[graft] def crossFramePairsH(fhA: DataFrame, fhB: DataFrame,
                                      maxHamming: Int, bands: Int): DataFrame = {
    val ca = Dedup.fingerprintBandChunks(packFrameIds(fhA), "dhash",
      FingerprintBits, bands, idCol = "fid")
    val cb = Dedup.fingerprintBandChunks(packFrameIds(fhB), "dhash",
      FingerprintBits, bands, idCol = "fid")
    ca.as("x").join(cb.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk"))
      .select(col("x.doc_id").as("fid_a"), col("y.doc_id").as("fid_b"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct() // a pair can collide in several bands
      .filter(Dedup.hamming(col("fa"), col("fb")) <= maxHamming)
      .select(shiftright(col("fid_a"), FrameBits).as("media_a"),
        col("fid_a").bitwiseAND(FrameMask).as("frame_a"),
        shiftright(col("fid_b"), FrameBits).as("media_b"),
        col("fid_b").bitwiseAND(FrameMask).as("frame_b"),
        Dedup.hamming(col("fa"), col("fb")).as("hamming"))
  }

  /** SHARED-FRAME containment per video pair from verified frame pairs:
    * matched distinct frames each side, match_frac = the smaller of the
    * two coverage ratios. `countsA`/`countsB` are |videos|-grain
    * (media_id, n_frames) tables for each side of the pair columns. */
  private[graft] def videoContainment(framePairs: DataFrame, countsA: DataFrame,
                                      countsB: DataFrame): DataFrame =
    framePairs.groupBy(col("media_a"), col("media_b"))
      .agg(countDistinct(col("frame_a")).as("matched_a"),
        countDistinct(col("frame_b")).as("matched_b"))
      .join(countsA.select(col("media_id").as("media_a"),
        col("n_frames").as("n_a")), Seq("media_a"))
      .join(countsB.select(col("media_id").as("media_b"),
        col("n_frames").as("n_b")), Seq("media_b"))
      .withColumn("match_frac",
        least(col("matched_a") / col("n_a"), col("matched_b") / col("n_b")))

  /** Perceptual video clusters: every video labeled with the min-id
    * connected component of its [[videoNearDups]] pair graph — the video
    * twin of [[imageClusters]]; singletons self-label, dedup = keep
    * `media_id == cluster_id`. */
  def videoClusters(media: Dataset[MediaRow], everyN: Int = 2,
                    maxHamming: Int = 3, bands: Int = 4,
                    minSharedFrac: Double = 0.5): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val pairs = videoNearDups(media, everyN, maxHamming, bands, minSharedFrac)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    val clusters = Dedup.clusterPairs(pairs)
      .withColumnRenamed("doc_id", "media_id")
    media.select(col("media_id")).join(clusters, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster_id"), col("media_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")))
  }

  /** Shot labeling: every frame labeled with its shot — a boundary falls
    * between consecutive frames whose perceptual hashes differ by more
    * than `maxIntraShotHamming` bits (a cut changes the gradient
    * structure wholesale; within a shot the hash drifts a few bits at
    * most), and shot_id is the running boundary count. Shot detection is
    * inherently sequential, so this reads EVERY frame (everyN = 1);
    * the per-video window is bounded by the video's own frame count.
    * Output (media_id, frame_idx, shot_id) — the front-end of
    * keyframe-per-shot extraction ([[shotKeyframes]]). */
  def shotLabels(media: Dataset[MediaRow],
                 maxIntraShotHamming: Int = 10): DataFrame = {
    val fh = videoFrameHashes(media, everyN = 1)
    val prev = fh.select(col("media_id"),
      (col("frame_idx") + 1).as("frame_idx"), col("dhash").as("prev_hash"))
    fh.join(prev, Seq("media_id", "frame_idx"), "left")
      .withColumn("is_boundary",
        when(col("prev_hash").isNull, lit(false))
          .otherwise(Dedup.hamming(col("dhash"), col("prev_hash"))
            > maxIntraShotHamming))
      .withColumn("shot_id",
        sum(col("is_boundary").cast("long"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("media_id").orderBy("frame_idx")))
      .select(col("media_id"), col("frame_idx"), col("shot_id"))
  }

  /** One keyframe per shot (its first frame) — what a downstream
    * descriptor/similarity pass indexes instead of every frame. */
  def shotKeyframes(media: Dataset[MediaRow],
                    maxIntraShotHamming: Int = 10): DataFrame =
    shotLabels(media, maxIntraShotHamming)
      .groupBy(col("media_id"), col("shot_id"))
      .agg(min(col("frame_idx")).as("keyframe_idx"))

  /** Cross-modal blocklist / provenance matching: which videos CONTAIN a
    * known image? Every frame of every video (everyN = 1 — a blocklist
    * scan cannot sample) hashes through the same 56-bit grid as the image
    * corpus, so a frame showing a blocklisted image's content collides
    * regardless of container format or codec. Candidates come from the
    * cross-side band-chunk equi-join ([[Dedup.fingerprintBandChunks]] both
    * ways — the MediaIngest lake-check shape, never frames × images), the
    * Hamming verify is exact. Output (video_id, frame_idx, image_id,
    * hamming). */
  def videoImageMatches(videos: Dataset[MediaRow], images: Dataset[MediaRow],
                        maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val vf = videoFrameHashes(videos, everyN = 1)
    val packed = vf.select(
      (col("media_id") * (1L << FrameBits) + col("frame_idx")).as("fid"),
      col("dhash"))
    val vc = Dedup.fingerprintBandChunks(packed, "dhash", FingerprintBits,
      bands, idCol = "fid")
    val ic = Dedup.fingerprintBandChunks(imageDHash(images), "dhash",
      FingerprintBits, bands, idCol = "media_id")
    vc.as("x").join(ic.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk"))
      .select(col("x.doc_id").as("fid"), col("y.doc_id").as("image_id"),
        col("x.fp").as("fa"), col("y.fp").as("fb"))
      .distinct() // a pair can collide in several bands
      .withColumn("hamming", Dedup.hamming(col("fa"), col("fb")))
      .filter(col("hamming") <= maxHamming)
      .select(shiftright(col("fid"), FrameBits).as("video_id"),
        col("fid").bitwiseAND(FrameMask).cast("int").as("frame_idx"),
        col("image_id"), col("hamming").cast("int").as("hamming"))
  }

  /** Shot-structured video fixtures: one video per doc, frames grouped
    * into 3-frame shots (shot s = f/3) — WITHIN a shot the formula only
    * shifts its constant by f·3 (the hash drifts a few bits), ACROSS
    * shots the x/y multipliers change wholesale (drawn per (doc, shot)
    * from the wide prime-modulus ranges), so consecutive-frame Hamming
    * jumps at every multiple of 3. The oracle replays the boundary count
    * from the same closed forms — wherever the drift lands, BOTH engines
    * see the same bits. */
  def syntheticShotVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val w = (12 + (id % 5) * 4).toInt
      val h = (8 + ((id * 3) % 4) * 4).toInt
      val nf = (6 + id % 4).toInt
      val px: (Int, Int, Int, Int) => Int = (f, x, y, _) => {
        val s = f / 3
        ((id * 29 + s * 71 + f * 3 + x * (3 + (id * 13 + s * 37) % 251)
          + y * (2 + (id * 7 + s * 29) % 241)) % 256).toInt
      }
      MediaRow(id, "video", Containers.aviFull(w, h, nf, px), w, h, nf)
    }

  /** Probe images for the cross-modal match: group g's probe is a PNG
    * whose grayscale IS frame 1 of group g's base video
    * ([[syntheticNearDupVideos]] role 0) — so probe 3g must hit video 3g
    * at frame 1 with Hamming 0 (and usually its near-dup twin 3g+1 within
    * a few bits), while the distinct role-2 video stays clear. */
  def syntheticProbeImages(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].filter(_ % 3 == 0).map { id =>
      val g = id / 3
      val w = (12 + (g % 5) * 4).toInt
      val h = (8 + ((g * 3) % 4) * 4).toInt
      def v(k: Int): Int =
        ((g * 29 + 17 + (k % w) * (3 + (g * 13) % 251)
          + (k / w) * (2 + (g * 7) % 241)) % 256).toInt
      MediaRow(id, "image",
        Containers.pngFull(w, h,
          i => if (i % 4 == 3) 255 else v(i / 4), (id % 5).toInt), w, h, 1)
    }
  }

  /** Temporal video content descriptor in the Similarity column contract
    * (vec_id, embedding): the 64 gray block means of each SAMPLED frame
    * (floor integers, the dHash grid) SUMMED across frames — a classical
    * bag-of-frames signature, integer-valued so cosine replays
    * bit-for-bit in SQL. Cosine's scale invariance makes a video and its
    * doubled-length self-concatenation score 1 — the video analogue of
    * the audio volume-scaling invariance. */
  def videoDescriptors(media: Dataset[MediaRow], everyN: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m =>
        (m.media_id, descriptorOneVideo(m.media_id, m.payload, everyN))))
      .toDF("vec_id", "embedding")
  }

  /** The per-item body of [[videoDescriptors]] — shared with
    * [[Multimodal.extractFeatures]]'s format dispatch. */
  private[graft] def descriptorOneVideo(id: Long, p: Array[Byte],
                                        everyN: Int): Array[Double] = {
    val (w, h, frames) = Multimodal.decodeVideoRgb(id, p)
    require(w >= GridW && h >= GridH,
      s"media $id: descriptor needs >= ${GridW}x$GridH, got ${w}x$h")
    val acc = new Array[Long](GridW * GridH)
    var f = 0
    while (f < frames.length) {
      if (f % everyN == 0) {
        val rgb = frames(f)
        val sums = new Array[Long](GridW * GridH)
        val cnts = new Array[Long](GridW * GridH)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val k = 3 * (y * w + x)
            val bk = (y * GridH / h) * GridW + x * GridW / w
            sums(bk) +=
              ((rgb(k) & 0xFF) + (rgb(k + 1) & 0xFF) + (rgb(k + 2) & 0xFF)) / 3
            cnts(bk) += 1L
            x += 1
          }
          y += 1
        }
        var bk = 0
        while (bk < acc.length) { acc(bk) += sums(bk) / cnts(bk); bk += 1 }
      }
      f += 1
    }
    acc.map(_.toDouble)
  }

  /** Near-dup video fixtures, same planted-triple layout as the image and
    * audio fixtures (group g = doc_id/3): role 0 the base video — frame
    * f's grayscale pixel is (g·29 + f·17 + x·xc + y·yc) mod 256 planted
    * as r=g=b, with WRAP-HEAVY multipliers drawn per group from WIDE
    * prime-modulus ranges (xc = 3+(g·13)%251, yc = 2+(g·7)%241 — the
    * q225 lesson squared: small multiplier ranges made same-geometry
    * groups recur every ~140 groups, and at sf0.1 one accidental frame
    * match per pair qualified 88k pairs / 4964-video components, blowing
    * the closure past the small-graph cap; measured 11.9 s, vs 2 s after
    * this diversification); role 1 a near-duplicate (every 97th pixel of
    * each frame nudged +4 — every sampled frame stays within a few
    * Hamming bits of its base twin, so the pair's match_frac is 1);
    * role 2 a distinct video (different multipliers and base).
    * Dimensions and frame counts derive from g alone. */
  def syntheticNearDupVideos(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 3
      val role = id % 3
      val w = (12 + (g % 5) * 4).toInt
      val h = (8 + ((g * 3) % 4) * 4).toInt
      val nf = (4 + g % 3).toInt
      val px: (Int, Int, Int, Int) => Int = (f, x, y, _) => {
        if (role == 2)
          ((g * 53 + f * 11 + x * (5 + (g * 17) % 239) + y * (3 + (g * 11) % 233)
            + 128) % 256).toInt
        else {
          val base =
            ((g * 29 + f * 17 + x * (3 + (g * 13) % 251) + y * (2 + (g * 7) % 241))
              % 256).toInt
          if (role == 1 && (y * w + x) % 97 == 0) (base + 4) % 256 else base
        }
      }
      MediaRow(id, "video", Containers.aviFull(w, h, nf, px), w, h, nf)
    }

  def syntheticCrossFormatImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val (w, h, payload) = crossFormatImagePayload(id)
      MediaRow(id, "image", payload, w, h, 1)
    }

  /** The per-item payload body of [[syntheticCrossFormatImages]] — shared
    * with [[syntheticJointItems]] (byte-identical images, one oracle). */
  private def crossFormatImagePayload(id: Long): (Int, Int, Array[Byte]) = {
    val g = id / 2
    val w = (16 + (g % 5) * 4).toInt
    val h = (12 + ((g * 3) % 5) * 4).toInt
    // per-group gradient multipliers: without them every same-dimension
    // group lands on the SAME monotone dHash and the cluster graph
    // degenerates into corpus-sized components (measured: an 11.5 s
    // closure at sf0.1); varied wrap patterns keep clusters pair-sized
    val xc = 3 + (g % 7) * 9
    val yc = 2 + (g % 5) * 7
    def v(k: Int): Int = ((g * 29 + (k % w) * xc + (k / w) * yc) % 256).toInt
    val payload =
      if (id % 2 == 0)
        Containers.pngFull(w, h,
          i => if (i % 4 == 3) 255 else v(i / 4), (id % 5).toInt)
      else
        Containers.gifFull(w, h, v, Containers.GrayRamp, minCodeSize = 8)
    (w, h, payload)
  }

  /** Joint (caption, image, audio) fixture items in ONE pass over docs —
    * the q253 streaming-joint-ingest input. Payload bytes are EXACTLY
    * [[syntheticCrossFormatImages]] / [[syntheticNearDupAudio]] of the
    * same ids (shared per-item builders), so the q237/q238 oracle
    * arithmetic replays them unchanged; the caption is the document text.
    * A single projection+map — assembling the same items by JOINING the
    * three generators shuffles megabytes of payload and re-evaluates per
    * consumer (measured 11 s per evaluation at sf0.1 vs ~1.5 s here). */
  def syntheticJointItems(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, text, crossFormatImagePayload(id)._3, nearDupAudioPayload(id))
      }
      .toDF("item_id", "text", "image", "audio")
  }

  /** THREE-format re-encode fixtures: doc_ids come in planted TRIPLES
    * (group g = doc_id/3) — role 0 a PNG, role 1 a GIF, role 2 a baseline
    * JPEG, all of the SAME content: a 64×64 image of 8×8-pixel constant
    * blocks whose value at grid cell (bx, by) is the QUADRATIC
    * (g·29 + bx²·(3 + (g mod 7)·9) + by²·(2 + (g mod 5)·7) +
    * bx·by·(5 + (g mod 11)·3)) mod 256 — a LINEAR gradient over uniform
    * blocks degenerates (35 coefficient combos ⇒ measured 10,975
    * accidental pairs at sf0.001 vs ~500 planted; the simulated
    * quadratic: 0 at that scale, 7 benign group collisions at sf0.1).
    * The 8×8 dHash grid aligns EXACTLY with the JPEG blocks, so the
    * JPEG side stays DC-only (closed-form, oracle-replayable) while all
    * three decode to identical grayscale — the triple MUST collide at
    * Hamming 0 through three entirely different codecs (inflate+unfilter,
    * LZW, Huffman+IDCT). Even groups wrap the JPEG in the 3-component
    * color path, odd groups stay grayscale. */
  def syntheticTriFormatImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 3
      val xc = 3 + (g % 7) * 9
      val yc = 2 + (g % 5) * 7
      val xyc = 5 + (g % 11) * 3
      def cell(bx: Int, by: Int): Int =
        ((g * 29 + bx * bx * xc + by * by * yc + bx * by * xyc) % 256).toInt
      val payload = (id % 3) match {
        case 0 =>
          Containers.pngFull(64, 64, { i =>
            if (i % 4 == 3) 255
            else { val k = i / 4; cell((k % 64) / 8, (k / 64) / 8) }
          }, (g % 5).toInt)
        case 1 =>
          Containers.gifFull(64, 64, k => cell((k % 64) / 8, (k / 64) / 8),
            Containers.GrayRamp, minCodeSize = 8)
        case _ =>
          Jpeg.encodeGrayBlocks(64, 64,
            Array.tabulate(64)(c => cell(c % 8, c / 8)), color = g % 2 == 0)
      }
      MediaRow(id, "image", payload, 64, 64, 1)
    }

  /** Cross-format PNG ↔ WebP pairs (g = doc_id/2): the even member a
    * 32×32 PNG of 4×4-pixel constant cells with a per-group quadratic
    * cell formula, the odd member a WebP VP8L re-encode of the SAME
    * pixels — rotating by group through plain-literal, subtract-green,
    * and color-indexing bitstreams, so the Hamming-0 collision is earned
    * through three different lossless codings against an entirely
    * different container than PNG's. The 4×4 cells align with the dHash
    * 8×8 mean grid, so the whole fixture replays arithmetically (32×32
    * rather than q257's 64×64: the per-image Huffman table build makes a
    * VP8L encode ~2× a PNG one, and the smaller canvas keeps the row in
    * the ≤3 s isolation budget without changing the oracle, which only
    * sees cells). */
  def syntheticWebpPairImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      def cell(bx: Int, by: Int): Int =
        ((g * 31 + bx * bx * (7 + (g % 5) * 9) + by * by * (3 + (g % 7) * 5) +
          bx * by * (11 + (g % 3) * 13)) % 256).toInt
      val payload: Array[Byte] =
        if (id % 2 == 0)
          Containers.pngFull(32, 32, { i =>
            if (i % 4 == 3) 255
            else { val k = i / 4; cell((k % 32) / 4, (k / 32) / 4) }
          }, (g % 5).toInt)
        else {
          val argb = Array.tabulate(32 * 32) { k =>
            val v = cell((k % 32) / 4, (k / 32) / 4)
            0xFF000000 | (v << 16) | (v << 8) | v
          }
          (g % 3) match {
            case 0 => Webp.encodeLossless(32, 32, argb)
            case 1 => Webp.encodeLossless(32, 32, argb,
              Webp.LosslessOptions(subtractGreen = true))
            case _ => Webp.encodeLossless(32, 32, argb,
              Webp.LosslessOptions(palette = true))
          }
        }
      MediaRow(id, "image", payload, 32, 32, 1)
    }

  /** PNG ↔ LOSSY-WebP pair fixtures (g = doc_id/2): the even member a
    * 32x32 PNG of 4x4-px constant cells with a per-group quadratic
    * (prime-modulus coefficients, *4+16 family (values 16..228, the strictly-increasing window of the display map)), the odd member
    * the SAME cell grid through the REAL VP8 lossy pipeline
    * ([[Vp8Enc.encodeCellGrayWebp]] — exactly-quantizing, so the
    * decoded luma equals the planted values; the DISPLAYED grays go
    * through the fixed-point YUV→RGB map, which is strictly increasing
    * over the ≥4-spaced planted values, so every dHash comparison bit
    * matches the PNG's). Format-blind perceptual dedup across a
    * LOSSLESS and a LOSSY codec — the q273 contract extended to the
    * crawl-majority WebP profile. */
  def syntheticLossyPairImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      def cell(bx: Int, by: Int): Int =
        (((bx * bx * (7 + (g % 5) * 9) + by * by * (3 + (g % 7) * 5) +
          bx * by * (11 + (g % 3) * 13) + g * 31) % 54) * 4 + 16).toInt
      val payload: Array[Byte] =
        if (id % 2 == 0)
          Containers.pngFull(32, 32, { i =>
            if (i % 4 == 3) 255
            else { val k = i / 4; cell((k % 32) / 4, (k / 32) / 4) }
          }, (g % 5).toInt)
        else
          Vp8Enc.encodeCellGrayWebp(32, 32, Array.tabulate(64)(k =>
            cell(k % 8, k / 8)))
      MediaRow(id, "image", payload, 32, 32, 1)
    }

  /** Orientation fixtures: doc_ids come in planted PAIRS (g = doc_id/2) —
    * the even member a 64×64 PNG of 8×8-pixel constant cells with the
    * per-group quadratic B(bx, by) (coefficients drawn per the
    * degeneracy rule; simulated: 26 benign collisions over 2500 groups),
    * the odd member the SAME content under dihedral transform
    * 1 + (g mod 7) — every non-identity orientation (rot90/180/270,
    * both mirrors, both transposes) appears across groups. The plain
    * dHash sees unrelated fingerprints; the canonical hash collides at
    * Hamming 0 (multiple-of-8 dims keep the invariance exact). */
  def syntheticRotatedImages(docs: DataFrame): Dataset[MediaRow] =
    perDocId(docs) { id =>
      val g = id / 2
      def b(bx: Int, by: Int): Int =
        ((g * 37 + bx * bx * (4 + (g % 11) * 5) + by * by * (3 + (g % 13) * 3) +
          bx * by * (2 + (g % 7) * 9)) % 256).toInt
      val t = if (id % 2 == 0) 0 else (1 + g % 7).toInt
      def cell(bx: Int, by: Int): Int = {
        val (sx, sy) = dihedralSource(t, bx, by)
        b(sx, sy)
      }
      val payload = Containers.pngFull(64, 64, { i =>
        if (i % 4 == 3) 255
        else { val k = i / 4; cell((k % 64) / 8, (k / 64) / 8) }
      }, (g % 5).toInt)
      MediaRow(id, "image", payload, 64, 64, 1)
    }

  /** JOINT multimodal near-dup pairs: an item is a (caption, image, audio)
    * record keyed by one id, and two items are near-dups when ANY modality
    * matches — caption shingle-Jaccard >= `textThreshold` (the exact
    * banded+verified [[Dedup.minhashNearDupsShingle]] chain, == brute
    * force), image perceptual Hamming <= `maxHamming`
    * ([[imageNearDups]]), or audio energy-contour Hamming <= `maxHamming`
    * ([[audioNearDups]]). The LAION-style dedup rule: a re-posted image
    * under a rewritten caption and a re-captioned copy of the same clip
    * are the SAME training example, and single-modality dedup
    * structurally misses one or the other. Output keeps provenance —
    * (doc_a, doc_b, via_text, via_image, via_audio) — full-outer-merged
    * so a pair matching in several modalities is ONE row with several
    * flags. Each modality's pair set is banded-candidates + exact-verify
    * (never all-pairs), so the union inherits every per-modality scale
    * bound; the merge itself joins three pair-grain (not corpus-grain)
    * tables on their keys. */
  def multimodalNearDups(docs: DataFrame, images: Dataset[MediaRow],
                         audio: Dataset[MediaRow],
                         textThreshold: Double = 0.8, numPerms: Int = 32,
                         textBands: Int = 16, shingleSize: Int = 3,
                         maxHamming: Int = 3,
                         mediaBands: Int = 4): DataFrame = {
    val tp = Dedup.minhashNearDupsShingle(docs, numPerms, textBands,
        shingleSize, textThreshold)
      .select(col("doc_a"), col("doc_b"), lit(true).as("via_text"))
    val ip = imageNearDups(images, maxHamming, mediaBands)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"),
        lit(true).as("via_image"))
    val ap = audioNearDups(audio, maxHamming, mediaBands)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"),
        lit(true).as("via_audio"))
    tp.join(ip, Seq("doc_a", "doc_b"), "full_outer")
      .join(ap, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("via_text"), lit(false)).as("via_text"),
        coalesce(col("via_image"), lit(false)).as("via_image"),
        coalesce(col("via_audio"), lit(false)).as("via_audio"))
  }

  /** Labeling form of [[multimodalNearDups]] (the q225 cluster contract on
    * the JOINT graph): every item labeled with the min-id connected
    * component of the union pair graph — text, image, and audio edges
    * merge, so a chain caption-match(a,b) → image-match(b,c) puts a and c
    * in one cluster even though no single modality links them. Singletons
    * self-label; the output PARTITIONS the corpus; dedup = keep
    * item_id == cluster_id. */
  def multimodalClusters(docs: DataFrame, images: Dataset[MediaRow],
                         audio: Dataset[MediaRow],
                         textThreshold: Double = 0.8, numPerms: Int = 32,
                         textBands: Int = 16, shingleSize: Int = 3,
                         maxHamming: Int = 3,
                         mediaBands: Int = 4): DataFrame = {
    val pairs = multimodalNearDups(docs, images, audio, textThreshold,
        numPerms, textBands, shingleSize, maxHamming, mediaBands)
      .select(col("doc_a"), col("doc_b"))
    val clusters = Dedup.clusterPairs(pairs)
      .withColumnRenamed("doc_id", "item_id")
    docs.select(col("doc_id").as("item_id"))
      .join(clusters, Seq("item_id"), "left")
      .select(col("item_id"),
        coalesce(col("cluster_id"), col("item_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")))
  }
}
