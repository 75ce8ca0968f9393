package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructType}

import graft.multimodal.{MediaDedup, Multimodal}
import graft.ops.Caching
import graft.tables.LakeTable
import graft.text.Dedup

/** Streaming MEDIA ingestion with perceptual dedup — the multimodal twin
  * of [[CorpusIngest.startNearDup]]: each micro-batch of media payloads is
  * fingerprinted through the REAL decode paths (format-blind dHash —
  * [[MediaDedup.dhashOneImage]]), perceptually deduped WITHIN the batch
  * (Hamming-band pairs → connected components, keep the min media_id),
  * then checked against the COMMITTED corpus before appending — so the
  * landed table stays perceptual-near-dup-free across batches, restarts,
  * and replays. A re-encoded copy (PNG → GIF) arriving in a later batch
  * is rejected even though its container bytes share nothing with the
  * original.
  *
  * The lake is the dedup index: every committed row carries its 56-bit
  * `dhash`, and the against-the-lake check is
  *   (1) an equi-join of the batch's fingerprint band chunks against the
  *       committed side's ([[Dedup.fingerprintBandChunks]] both ways —
  *       column-pruned to (media_id, dhash): no committed payload bytes
  *       move to form candidates),
  *   (2) an exact Hamming verify on the candidates only.
  * Candidate volume is bounded by band-collision rate, not corpus size —
  * the full-corpus banded dedup bound, paid incrementally. State never
  * lives in the streaming state store; the lake survives restarts for
  * free.
  */
object MediaIngest {

  /** MediaRow schema for the file-source stream. */
  val mediaSchema: StructType = new StructType()
    .add("media_id", LongType).add("kind", StringType)
    .add("payload", BinaryType).add("width", IntegerType)
    .add("height", IntegerType).add("n_frames", IntegerType)

  def readMediaStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(mediaSchema).parquet(dir)

  /** Start the perceptual-dedup ingest; one lake commit per micro-batch. */
  def startPerceptualDedup(spark: SparkSession, dir: String, lake: LakeTable,
                           table: String, maxHamming: Int = 3, bands: Int = 4,
                           trigger: Trigger = Trigger.AvailableNow(),
                           checkpoint: Option[String] = None): StreamingQuery =
    MicroBatch.start(readMediaStream(spark, dir), trigger, checkpoint)(
      perceptualBatch(_, lake, table, maxHamming, bands))

  /** One micro-batch of the perceptual ingest (also the deterministic
    * batch twin's unit — the q196 stream == twin discipline). */
  def perceptualBatch(batchDf: DataFrame, lake: LakeTable, table: String,
                      maxHamming: Int = 3, bands: Int = 4): Unit =
    MicroBatch.sized(batchDf.sparkSession)(fingerprintBatch(_, batchDf, lake,
      table, maxHamming, bands, m => MediaDedup.imageDHash(m)))

  /** Audio twin of [[perceptualBatch]]: the whole-clip energy-contour
    * fingerprint ([[MediaDedup.audioFingerprint]]) rides the SAME
    * generalized batch body — in-batch Hamming components, min-id keep,
    * banded cross-check against the committed lake. A volume-scaled copy
    * of a committed clip arriving in a later batch is rejected. */
  def audioBatch(batchDf: DataFrame, lake: LakeTable, table: String,
                 maxHamming: Int = 3, bands: Int = 4): Unit =
    MicroBatch.sized(batchDf.sparkSession)(fingerprintBatch(_, batchDf, lake,
      table, maxHamming, bands,
      m => MediaDedup.audioFingerprint(m).withColumnRenamed("afp", "dhash")))

  /** Generalized whole-item fingerprint ingest batch: any (media_id,
    * dhash) fingerprinter (image dHash, audio contour) gets the same
    * in-batch dedup + lake check + admit pipeline. */
  private def fingerprintBatch(scope: Caching.Scope, batchDf: DataFrame,
                               lake: LakeTable, table: String,
                               maxHamming: Int, bands: Int,
                               fingerprint: org.apache.spark.sql.Dataset[Multimodal.MediaRow] => DataFrame): Unit = {
    val spark = batchDf.sparkSession
    import spark.implicits._
    val media = batchDf.as[Multimodal.MediaRow]
    // fingerprints feed the in-batch pair stage, the cross-batch check,
    // and the admit join (a scoped interim)
    val fps = scope.materialize(fingerprint(media))
    // in-batch perceptual dedup: min media_id per Hamming component
    val pairs = Dedup.hammingBandPairs(fps, "dhash", MediaDedup.FingerprintBits,
      maxHamming, bands, idCol = "media_id")
    val kept = Dedup.keepComponentMin(fps,
      scope.hold(Dedup.clusterPairs(pairs)), "media_id")
    // against the lake: banded candidates from committed fingerprints
    // (column-pruned — only (media_id, dhash) leaves the committed table)
    val novel =
      if (lake.exists(table)) {
        def chunks(d: DataFrame) = Dedup.fingerprintBandChunks(d, "dhash",
          MediaDedup.FingerprintBits, bands, idCol = "media_id")
        val committed = lake.read(table).select("media_id", "dhash")
        kept.join(bandedRejectIds(chunks(kept), chunks(committed), "media_id",
          maxHamming), Seq("media_id"), "left_anti")
      } else kept
    MicroBatch.land(lake,
      batchDf.join(novel.select("media_id", "dhash"), Seq("media_id")), table)
  }

  /** Banded cross-side rejection: incoming ids whose fingerprint sits
    * within `maxHamming` of ANY committed one — band-chunk equi-join
    * candidates (pigeonhole-complete for maxHamming < bands), exact
    * Hamming verify on candidates only. Both chunk frames are
    * (doc_id, fp, band, chunk) ([[Dedup.fingerprintBandChunks]]); output
    * (idCol) distinct. Candidate volume is bounded by band-collision rate,
    * not corpus size — the incremental form of the full banded dedup
    * bound. */
  private def bandedRejectIds(inChunks: DataFrame, cmChunks: DataFrame,
                              idCol: String, maxHamming: Int): DataFrame =
    inChunks.as("x").join(cmChunks.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk"))
      .select(col("x.doc_id").as(idCol), col("x.fp").as("fa"),
        col("y.fp").as("fb"))
      .distinct()
      .filter(Dedup.hamming(col("fa"), col("fb")) <= maxHamming)
      .select(idCol).distinct()

  /** Deterministic two-batch twin (the q196 respell discipline): run the
    * EXACT per-batch pipeline over two explicit batches against a
    * throwaway lake and return the landed (media_id, dhash) — what the
    * stream must also land (spec-pinned), and what a SQL oracle replays
    * (within-batch closure per parity, cross-batch Hamming rejection). */
  def perceptualIngestTwin(spark: SparkSession, batch1: DataFrame,
                           batch2: DataFrame, maxHamming: Int = 3,
                           bands: Int = 4): DataFrame =
    MicroBatch.replay(spark, "graft_media_ingest_lake", batch1, batch2)(
      perceptualBatch(_, _, "media", maxHamming, bands))
      .read("media").select(col("media_id"), col("dhash"))

  /** Start the streaming AUDIO ingest with contour dedup; one lake commit
    * per micro-batch ([[audioBatch]]). */
  def startAudioDedup(spark: SparkSession, dir: String, lake: LakeTable,
                      table: String, maxHamming: Int = 3, bands: Int = 4,
                      trigger: Trigger = Trigger.AvailableNow(),
                      checkpoint: Option[String] = None): StreamingQuery =
    MicroBatch.start(readMediaStream(spark, dir), trigger, checkpoint)(
      audioBatch(_, lake, table, maxHamming, bands))

  /** Deterministic two-batch twin of the AUDIO ingest (the q229 contract
    * on the energy-contour fingerprint). */
  def audioIngestTwin(spark: SparkSession, batch1: DataFrame,
                      batch2: DataFrame, maxHamming: Int = 3,
                      bands: Int = 4): DataFrame =
    MicroBatch.replay(spark, "graft_audio_ingest_lake", batch1, batch2)(
      audioBatch(_, _, "media", maxHamming, bands))
      .read("media").select(col("media_id"), col("dhash"))

  /** Start the streaming VIDEO ingest with shared-frame perceptual dedup;
    * one lake commit per micro-batch ([[videoBatch]]). */
  def startVideoDedup(spark: SparkSession, dir: String, lake: LakeTable,
                      table: String, everyN: Int = 2, maxHamming: Int = 3,
                      bands: Int = 4, minSharedFrac: Double = 0.5,
                      trigger: Trigger = Trigger.AvailableNow(),
                      checkpoint: Option[String] = None): StreamingQuery =
    MicroBatch.start(readMediaStream(spark, dir), trigger, checkpoint)(
      videoBatch(_, lake, table, everyN, maxHamming, bands, minSharedFrac))

  /** One micro-batch of the streaming VIDEO ingest — the video twin of
    * [[perceptualBatch]], with the lake holding a FRAME-grain fingerprint
    * index: the media table lands admitted payload rows, and
    * `{table}_frames` lands their sampled (media_id, frame_idx, dhash)
    * rows. An incoming video is dropped when its SHARED-FRAME containment
    * against EITHER the batch (in-batch components, min-id keep) or the
    * committed index reaches `minSharedFrac` — so a re-cut or re-encoded
    * copy of a committed video is rejected even when no container byte
    * matches, and replays are idempotent with no streaming state. Only
    * (media_id, frame_idx, dhash) leaves the committed table to form
    * candidates.
    *
    * Atomicity caveat (stated honestly — LakeTable commits are
    * per-table): the batch lands TWO commits, payloads then frames. A
    * crash BETWEEN them leaves admitted payload rows without their frame
    * index, so a no-checkpoint replay would re-admit those videos
    * (duplicate payload rows; the frame index itself stays consistent
    * because its commit never precedes the payload commit). A
    * checkpointed stream never re-processes the batch, so the window
    * only matters for the checkpoint-free replay path; recovery = roll
    * the media table back one version (the versioned log keeps both
    * sides' history) or re-run with a checkpoint. */
  def videoBatch(batchDf: DataFrame, lake: LakeTable, table: String,
                 everyN: Int = 2, maxHamming: Int = 3, bands: Int = 4,
                 minSharedFrac: Double = 0.5): Unit =
    MicroBatch.sized(batchDf.sparkSession) { scope =>
      val spark = batchDf.sparkSession
      import spark.implicits._
      val frameTable = s"${table}_frames"
      val media = batchDf.as[Multimodal.MediaRow]
      // frame hashes feed the in-batch pair stage, the counts, the lake
      // check, and the admitted-frames append (a scoped interim)
      val fh = scope.materialize(MediaDedup.videoFrameHashes(media, everyN))
      val counts = fh.groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      // in-batch shared-frame dedup: min media_id per containment component
      val pairs = MediaDedup.videoContainment(
          MediaDedup.videoFramePairs(fh, maxHamming, bands), counts, counts)
        .filter(col("match_frac") >= minSharedFrac)
        .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
      val kept = Dedup.keepComponentMin(counts,
        scope.hold(Dedup.clusterPairs(pairs)), "media_id")
      val keptFrames = fh.join(kept.select("media_id"), Seq("media_id"))
      // against the lake: the committed FRAME index is the dedup state.
      // novel is |batch-videos|-grain and feeds BOTH table writes — persist
      // so the banded cross-check chain runs once, not once per write
      val novel = scope.materialize(
        if (lake.exists(frameTable)) {
          val committed = lake.read(frameTable)
            .select("media_id", "frame_idx", "dhash")
          val cmCounts = committed.groupBy(col("media_id"))
            .agg(count(lit(1)).as("n_frames"))
          val rejected = MediaDedup.videoContainment(
              MediaDedup.crossFramePairs(keptFrames, committed, maxHamming,
                bands), kept, cmCounts)
            .filter(col("match_frac") >= minSharedFrac)
            .select(col("media_a").as("media_id")).distinct()
          kept.join(rejected, Seq("media_id"), "left_anti")
        } else kept)
      MicroBatch.land(lake,
        batchDf.join(novel.select("media_id"), Seq("media_id")), table)
      MicroBatch.land(lake,
        fh.join(novel.select("media_id"), Seq("media_id")), frameTable)
    }

  /** Deterministic two-batch twin of the VIDEO ingest ([[videoBatch]] run
    * verbatim over two explicit batches against a throwaway lake); returns
    * the landed frame index (media_id, frame_idx, dhash). */
  def videoIngestTwin(spark: SparkSession, batch1: DataFrame,
                      batch2: DataFrame, everyN: Int = 2, maxHamming: Int = 3,
                      bands: Int = 4, minSharedFrac: Double = 0.5): DataFrame =
    MicroBatch.replay(spark, "graft_video_ingest_lake", batch1, batch2)(
      videoBatch(_, _, "media", everyN, maxHamming, bands, minSharedFrac))
      .read("media_frames")
      .select(col("media_id"), col("frame_idx"), col("dhash"))

  // ------------------------------------------------------------------
  // JOINT multimodal ingest: the streaming form of the LAION-style
  // any-modality dedup rule (MediaDedup.multimodalNearDups).
  // ------------------------------------------------------------------

  /** Joint (caption, image, audio) item schema for the file-source
    * stream: one training example per row, one id across modalities. */
  val jointSchema: StructType = new StructType()
    .add("item_id", LongType).add("text", StringType)
    .add("image", BinaryType).add("audio", BinaryType)

  def readJointStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(jointSchema).parquet(dir)

  /** Start the streaming JOINT multimodal ingest; one lake commit per
    * micro-batch ([[jointBatch]]). The per-modality ingests
    * ([[startPerceptualDedup]]/[[startAudioDedup]]/[[CorpusIngest.startNearDup]])
    * each catch re-posts arriving through THEIR modality; this one closes
    * the cross-modality hole — a committed image re-posted under a
    * REWRITTEN caption (or a re-captioned copy of a committed clip) is
    * the same training example and must not land twice. */
  def startJointDedup(spark: SparkSession, dir: String, lake: LakeTable,
                      table: String, textThreshold: Double = 0.8,
                      numPerms: Int = 32, textBands: Int = 16,
                      shingleSize: Int = 3, maxHamming: Int = 3,
                      mediaBands: Int = 4,
                      trigger: Trigger = Trigger.AvailableNow(),
                      checkpoint: Option[String] = None): StreamingQuery =
    MicroBatch.start(readJointStream(spark, dir), trigger, checkpoint)(
      jointBatch(_, lake, table, textThreshold, numPerms, textBands,
        shingleSize, maxHamming, mediaBands))

  /** One micro-batch of the JOINT ingest. An item is rejected when ANY
    * modality matches — caption shingle-Jaccard >= `textThreshold`
    * (banded + exact verify, the q24 contract), image dHash or audio
    * contour within `maxHamming` (banded + exact verify, pigeonhole-
    * complete) — either against another batch item (union pair graph →
    * connected components, keep the min item_id) or against the COMMITTED
    * lake. The lake is the joint index: every committed row carries its
    * image `dhash`, audio `afp`, and caption `lsh_bands` (plus the
    * caption text for candidate-only exact verify), so the cross-batch
    * check never decodes a committed payload and never tokenizes more
    * than the candidate set. One table, one commit per batch — replays
    * without a checkpoint are idempotent because the index IS the
    * table. */
  def jointBatch(batchDf: DataFrame, lake: LakeTable, table: String,
                 textThreshold: Double = 0.8, numPerms: Int = 32,
                 textBands: Int = 16, shingleSize: Int = 3,
                 maxHamming: Int = 3, mediaBands: Int = 4): Unit =
    MicroBatch.sized(batchDf.sparkSession) { scope =>
      val spark = batchDf.sparkSession
      import spark.implicits._
      val docs = batchDf.select(col("item_id").as("doc_id"), col("text"))
      // one fingerprint row per item: image dHash + audio contour from ONE
      // partition-local pass over both payload columns (two separate
      // fingerprint datasets would shuffle-join at batch grain — measured
      // scheduling tax) + caption MinHash band hashes. Feeds the pair
      // stages, the lake checks, and the admit join — a scoped interim
      val mediaFp = batchDf
        .select(col("item_id"), col("image"), col("audio"))
        .as[(Long, Array[Byte], Array[Byte])]
        .mapPartitions(_.map { case (id, img, aud) =>
          (id, MediaDedup.dhashOneImage(id, img),
            MediaDedup.audioFingerprintOne(id, aud))
        })
        .toDF("item_id", "dhash", "afp")
      val fps = scope.materialize(CorpusIngest.withLshBands(mediaFp, docs,
        "item_id", numPerms, textBands, shingleSize))
      // in-batch: the ANY-modality union pair graph, min-id keep. Text
      // candidates come from the PERSISTED band hashes (one signature
      // pass per batch, not two) + exact shingle-Jaccard verify — the
      // same banded==brute contract as Dedup.minhashNearDupsShingle
      val shAll = scope.materialize(Dedup.hashedShingleSets(docs, shingleSize))
      val bandsEx = fps.select(col("item_id"), explode(col("lsh_bands")).as("b"))
      val candT = bandsEx.as("x").join(bandsEx.as("y"),
          col("x.b") === col("y.b") && col("x.item_id") < col("y.item_id"))
        .select(col("x.item_id").as("doc_a"), col("y.item_id").as("doc_b"))
        .distinct()
      val tp = candT
        .join(shAll.select(col("doc_id").as("doc_a"), col("s").as("wa")), Seq("doc_a"))
        .join(shAll.select(col("doc_id").as("doc_b"), col("s").as("wb")), Seq("doc_b"))
        .filter(Dedup.jaccardSorted(col("wa"), col("wb")) >= textThreshold)
        .select("doc_a", "doc_b")
      val ip = Dedup.hammingBandPairs(fps.select("item_id", "dhash"), "dhash",
          MediaDedup.FingerprintBits, maxHamming, mediaBands, idCol = "item_id")
        .select("doc_a", "doc_b")
      val ap = Dedup.hammingBandPairs(fps.select("item_id", "afp"), "afp",
          MediaDedup.FingerprintBits, maxHamming, mediaBands, idCol = "item_id")
        .select("doc_a", "doc_b")
      val clusters =
        scope.hold(Dedup.clusterPairs(tp.union(ip).union(ap).distinct()))
      // kept feeds the three lake checks AND the admit join — persist, or
      // the pair+closure subtree re-evaluates once per consumer
      val kept = scope.materialize(Dedup.keepComponentMin(fps, clusters, "item_id"))
      // against the lake: rejected on ANY modality match vs committed rows
      val novel =
        if (lake.exists(table)) {
          val committed = lake.read(table)
          // image + audio checks ride ONE banded join: both fingerprint
          // kinds explode into band chunks with DISJOINT band index
          // ranges (audio bands offset by mediaBands), so candidates only
          // form within a kind and the exact Hamming verify compares
          // prints of the same modality — two checks for one join's
          // scheduling (pigeonhole completeness per kind is unchanged)
          def kindChunks(d: DataFrame): DataFrame = {
            val bits = MediaDedup.FingerprintBits / mediaBands
            val mask = (1L << bits) - 1L
            def chunksOf(fpCol: String, off: Int) =
              (0 until mediaBands).map { b =>
                struct(lit(b + off).as("band"),
                  shiftright(col(fpCol), b * bits).bitwiseAND(mask).as("chunk"),
                  col(fpCol).as("fp"))
              }
            d.select(col("item_id"),
                explode(array(chunksOf("dhash", 0) ++
                  chunksOf("afp", mediaBands): _*)).as("bc"))
              .select(col("item_id").as("doc_id"), col("bc.band").as("band"),
                col("bc.chunk").as("chunk"), col("bc.fp").as("fp"))
          }
          val mediaRej = bandedRejectIds(kindChunks(kept), kindChunks(committed),
            "item_id", maxHamming)
          // caption check: band-key candidates, then exact shingle-Jaccard
          // verify (the corpus ingest's against-the-lake text check)
          val txtRej = CorpusIngest.textRejectIds(kept, shAll, committed,
            "item_id", Dedup.hashedShingleSets(_, shingleSize), textThreshold)
          kept.join(mediaRej.union(txtRej).distinct(), Seq("item_id"), "left_anti")
        } else kept
      // ONE commit: items + their joint fingerprint index columns
      MicroBatch.land(lake, batchDf.join(
        novel.select("item_id", "dhash", "afp", "lsh_bands"), Seq("item_id")),
        table)
    }

  /** Deterministic two-batch twin of the JOINT ingest ([[jointBatch]] run
    * verbatim against a throwaway lake); returns the landed
    * (item_id, dhash, afp) — what the stream must also land (spec-pinned)
    * and what a SQL oracle replays: per-batch ANY-modality closures with
    * min-id keep, then cross-batch rejection on any modality match. */
  def jointIngestTwin(spark: SparkSession, batch1: DataFrame,
                      batch2: DataFrame, textThreshold: Double = 0.8,
                      numPerms: Int = 32, textBands: Int = 16,
                      shingleSize: Int = 3, maxHamming: Int = 3,
                      mediaBands: Int = 4): DataFrame =
    MicroBatch.replay(spark, "graft_joint_ingest_lake", batch1, batch2)(
      jointBatch(_, _, "items", textThreshold, numPerms, textBands,
        shingleSize, maxHamming, mediaBands))
      .read("items").select(col("item_id"), col("dhash"), col("afp"))
}
