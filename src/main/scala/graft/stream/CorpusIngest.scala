package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.tables.{LakeTable, Tables}
import graft.text.{Dedup, TextStats}

/** Streaming corpus ingestion — the incremental form of the pre-training
  * data pipeline: new document files are quality-gated, exact-deduped
  * within the batch AND against everything already committed, then appended
  * to the lake as one commit per micro-batch.
  *
  * Scale design: the against-the-lake dedup is an anti-join on the 128-bit
  * exact key ONLY — the lake side projects (k1, k2) out of its parquet
  * (column-pruned scan, no text bytes move), and the incoming micro-batch
  * is small, so the anti-join broadcasts the batch keys. State never lives
  * in the streaming state store; the lake itself is the dedup index, which
  * survives restarts for free (checkpoint replays re-land only files the
  * sink has not committed).
  */
object CorpusIngest {

  /** File-source stream over a documents-schema parquet directory. */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.schemas("documents")).parquet(dir)

  /** Quality gate — a pure map predicate (no self-join, streaming-safe,
    * stays inside whole-stage codegen): the shared
    * [[TextStats.passesQualityGate]] screen, or the full Gopher rule bundle
    * ([[TextStats.passesGopherGate]]) under `gate = "gopher"` — the SAME
    * predicates the batch refinery gates with
    * ([[graft.text.Refinery.gate]]), so batch and stream admit identical
    * documents. */
  def qualityGate(docs: DataFrame, gate: String = "basic"): DataFrame =
    gate match {
      case "gopher" => docs.filter(TextStats.passesGopherGate())
      case "basic"  => docs.filter(TextStats.passesQualityGate())
      case other =>
        throw new IllegalArgumentException(s"unknown gate '$other' (basic|gopher)")
    }

  /** Start the ingest: quality-gate, dedup (in-batch + against the lake),
    * append to `table`. Returns the started query. */
  def start(spark: SparkSession, dir: String, lake: LakeTable, table: String,
            trigger: Trigger = Trigger.AvailableNow(),
            checkpoint: Option[String] = None,
            gate: String = "basic"): StreamingQuery =
    MicroBatch.start(readDocStream(spark, dir), trigger, checkpoint) { batch =>
      val gated = qualityGate(batch, gate)
      // in-batch exact dedup: keep min doc_id per normalized text
      val fresh = Dedup.dropExactDups(gated)
        .withColumn("dup_key", Dedup.exactKey(col("text")))
      val novel =
        if (lake.exists(table)) {
          val seen = lake.read(table).select(col("dup_key"))
          fresh.join(seen, Seq("dup_key"), "left_anti")
        } else fresh
      MicroBatch.land(lake, novel, table)
    }

  /** NEAR-duplicate-aware streaming ingest: each micro-batch is quality
    * gated, exact-deduped, near-dedup'd WITHIN the batch (MinHash pairs →
    * connected components, keep the min doc_id), then checked against the
    * COMMITTED corpus before appending — so the landed table stays
    * near-dup-free across batches, restarts, and replays.
    *
    * The lake is the near-dup index: every committed row carries its
    * `dup_key` (128-bit exact key) and `lsh_bands` (the MinHash band
    * hashes). The against-the-lake check is
    *   (1) an anti-join on dup_key (exact),
    *   (2) an equi-join of the batch's exploded band keys against the
    *       lake's exploded `lsh_bands` — column-pruned to (doc_id, bands):
    *       no committed text moves to form candidates,
    *   (3) exact word-set Jaccard verification that reads committed TEXT
    *       for the candidate doc ids only (a semi-join-sized point read).
    * Candidate volume is bounded by band-collision rate, not corpus size —
    * the same bound as a full-corpus MinHash dedup, paid incrementally.
    * Documents too short to shingle produce no bands and are exact-dedup'd
    * only (identical to the batch pipeline's behavior). Each micro-batch
    * runs in one [[MicroBatch.sized]] span. */
  def startNearDup(spark: SparkSession, dir: String, lake: LakeTable,
                   table: String, threshold: Double = 0.8, numPerms: Int = 32,
                   bands: Int = 8, shingleSize: Int = 3,
                   containmentThreshold: Option[Double] = None,
                   sketchK: Int = 64,
                   trigger: Trigger = Trigger.AvailableNow(),
                   checkpoint: Option[String] = None,
                   shingleVerify: Boolean = false,
                   gate: String = "basic",
                   lmGate: Option[LmGate] = None,
                   nbGate: Option[NbGate] = None): StreamingQuery =
    MicroBatch.start(readDocStream(spark, dir), trigger, checkpoint)(
      nearDupBatch(_, lake, table, threshold, numPerms, bands, shingleSize,
        containmentThreshold, sketchK, shingleVerify, gate, lmGate, nbGate))

  /** CCNet LM admission gate for the streaming ingest: score each batch
    * against a PRE-TRAINED model (load once with
    * [[graft.text.LangModel.loadLm]] — the model is static per query, the
    * CCNet deployment shape) and reject docs whose avg negative
    * log-likelihood exceeds `maxAvgNllMicronats`; unscored (<2-token) docs
    * pass, exactly like the batch refinery's lmFilter contract. A FIXED
    * nll threshold replaces the batch pipeline's global rank cutoff — a
    * stream cannot rank against documents it has not seen, so the
    * threshold is calibrated offline ([[graft.text.LangModel.calibrateLmGate]]
    * derives it from a representative batch's tail-tier boundary) and
    * applied incrementally. */
  final case class LmGate(model: graft.text.LangModel.LmModel,
                          maxAvgNllMicronats: Long)

  /** Learned-classifier admission gate for the streaming ingest — the
    * stream twin of the refinery's `classifierFilter` stage: score each
    * batch against a PRE-TRAINED Naive Bayes model (load once with
    * [[graft.text.QualityClassifier.loadClassifier]]) and reject docs
    * whose per-gram log-odds average falls below `minAvgMicronats`
    * (0 = "more reference-like than pool-like" — the log-odds sign, so
    * unlike the LM gate no rank calibration is needed); unscored
    * (zero-token) docs pass, the lmFilter contract. */
  final case class NbGate(model: graft.text.QualityClassifier.NbModel,
                          minAvgMicronats: Long = 0L)

  /** The per-micro-batch decision pipeline of [[startNearDup]], factored out
    * so a BATCH caller can replay the exact admit/reject decisions a
    * streaming ingest makes ([[nearDupIngestTwin]] — the q171 batch-twin
    * discipline applied to corpus ingestion). `shingleVerify = true` swaps
    * both near-dup verifies (in-batch and against-the-lake) from word-set
    * to SHINGLE-set Jaccard at [[Dedup.minhashNearDupsShingle]]'s banding
    * defaults — the metric whose banded == brute-force equality is the
    * corpus-verified q24 contract, which is what makes the whole ingest
    * declaratively oracle-replayable. */
  private[graft] def nearDupBatch(batchDf: DataFrame, lake: LakeTable,
                                  table: String, threshold: Double,
                                  numPerms: Int, bands: Int, shingleSize: Int,
                                  containmentThreshold: Option[Double],
                                  sketchK: Int, shingleVerify: Boolean,
                                  gate: String,
                                  lmGate: Option[LmGate] = None,
                                  nbGate: Option[NbGate] = None): Unit =
    MicroBatch.sized(batchDf.sparkSession) { scope =>
      // the candidate-verify sets, in the 64-bit hash domain (sorted
      // distinct hashes — Dedup.hashedShingleSets' rationale: long arrays
      // through the verify joins, merge-walk intersections, counts equal
      // the string spelling's)
      def setsOf(d: DataFrame): DataFrame =
        if (shingleVerify) Dedup.hashedShingleSets(d, shingleSize)
        else d.select(col("doc_id"),
            TextStats.normTokens().as("toks"))
          .select(col("doc_id"),
            graft.functions.HashSets.hashedTokenSetCol(col("toks")).as("s"))
      // per-batch persists: this pipeline's DAG is DEEP (gate -> exact ->
      // LSH+verify -> closure -> containment -> re-sign -> vs-lake joins)
      // and has many consumers per stage — unpersisted, the chain
      // re-evaluates ~8x per batch (measured 62 -> 21 s on the q196 twin
      // at sf0.1). The span's scope releases every entry when the batch
      // ends.
      val gated0 = qualityGate(batchDf, gate)
      // LM admission gate after the rule gate (the refinery's stage
      // order): reject scored docs above the fixed nll threshold
      val gated = lmGate match {
        case Some(g) =>
          val bad = graft.text.LangModel.scoreWithLm(g.model, gated0)
            .filter(col("avg_nll_micronats") > g.maxAvgNllMicronats)
            .select("doc_id")
          gated0.join(bad, Seq("doc_id"), "left_anti")
        case None => gated0
      }
      // learned-classifier admission after the LM gate (the refinery's
      // stage order): reject scored docs below the log-odds floor
      val gatedNb = nbGate match {
        case Some(g) =>
          val bad = graft.text.QualityClassifier
            .scoreWithClassifier(g.model, gated)
            .filter(col("avg_micronats") < g.minAvgMicronats)
            .select("doc_id")
          gated.join(bad, Seq("doc_id"), "left_anti")
        case None => gated
      }
      // in-batch: exact dedup, then near-dup clusters keep min doc_id
      val exact = scope.materialize(Dedup.dropExactDups(gatedNb))
      // read once, by the closure: not cached
      val inPairs =
        if (shingleVerify) Dedup.minhashNearDupsShingle(exact, numPerms,
          bands, shingleSize, threshold)
        else Dedup.minhashNearDups(exact, numPerms, bands,
          shingleSize, threshold)
      val jaccardKept = Dedup.keepComponentMin(exact,
        scope.hold(Dedup.clusterPairs(inPairs)), "doc_id")
      // in-batch containment (opt-in): drop docs embedded in other batch
      // survivors — the same stage order as the batch refinery. The
      // TRACKED form hands back the banded stage's internal persists so
      // the scope releases them with the rest of the batch.
      // raw persisted (doc_id, g) grams of the in-batch containment pass:
      // every later gram consumer in this batch (the vs-lake containment
      // probe, the index-maintenance write) works on a SUBSET of these
      // docs, so a semi-join on ids replaces a whole re-tokenize + gram
      // explode + distinct shuffle per consumer (guide: remove shuffles
      // outright; grams of a doc are immutable within the batch)
      var inBatchGrams: Option[DataFrame] = None
      val batchKept = containmentThreshold match {
        case Some(t) =>
          val tracked = Dedup.dropContainedTracked(jaccardKept,
            shingleSize, t, maxDf = Long.MaxValue, sketchK = sketchK)
          tracked.caches.foreach(scope.hold(_))
          inBatchGrams = Some(tracked.rawGrams)
          tracked.result
        case None => jaccardKept
      }
      // flat leaves at the two deep cut points: by here the logical tree
      // is gate -> exact -> LSH+verify -> closure -> containment -> re-sign,
      // and the vs-lake stage below issues ~8 more actions on derivatives
      // of it — each would re-analyze the whole tree (Catalyst planning,
      // not execution, measured ~46 s of the 53 s batch-2 wall clock; the
      // data itself is ~100k rows)
      val indexed = scope.materialize(withLshBands(
        batchKept.withColumn("dup_key", Dedup.exactKey(col("text"))),
        batchKept, "doc_id", numPerms, bands, shingleSize))
      val novel =
        if (!lake.exists(table)) indexed
        else {
          val committed = lake.read(table)
          // (1) exact: anti-join on the 128-bit key; filled before
          // `novel` reads it three times (a lazy fill inside that job ran
          // its lineage twice in one task and failed, q196)
          val notExact = scope.materialize(indexed.join(
            committed.select(col("dup_key")), Seq("dup_key"), "left_anti"))
          // (2) band-key candidates, (3) exact Jaccard (word sets, or
          // shingle sets under shingleVerify)
          notExact.join(textRejectIds(notExact, setsOf(notExact), committed,
            "doc_id", setsOf, threshold), Seq("doc_id"), "left_anti")
        }
      // against-the-lake CONTAINMENT (opt-in): drop an incoming doc
      // embedded in an already-committed one (c(new→old) ≥ t — the lake
      // side is immutable, so the check is one-directional). The lake's
      // containment index is the `{table}_grams` side table (doc_id,
      // 64-bit gram hash); candidates come from the batch docs' bottom-k
      // gram sketches probing that index through the SAME
      // Dedup.bottomKSketch and Dedup.sketchEvidence prune as
      // Dedup.containmentNearDupsBanded (doc-salted sample kills the
      // hub-gram df blow-up; 4·s ≥ t·min(k, sz) keeps a true containment
      // except with ~2e-10 Chernoff probability), and the exact
      // shared-count verify reads index rows for candidate pairs only.
      val gramsTable = s"${table}_grams"
      // index bootstrap/repair BEFORE the check: the corpus write and the
      // index write are two separate commits, so a crash between them —
      // or enabling containment on a lake with existing commits — leaves
      // committed docs missing from the index. Reconciling here (grams of
      // committed docs absent from the index, an id anti-join on two
      // column-pruned projections) restores "the index covers the table"
      // no matter how the previous run ended.
      if (containmentThreshold.isDefined && lake.exists(table)) {
        val committed = lake.read(table).select("doc_id", "text")
        val missing =
          if (!lake.exists(gramsTable)) committed
          else committed.join(
            lake.read(gramsTable).select("doc_id").distinct(),
            Seq("doc_id"), "left_anti")
        if (!missing.isEmpty)
          MicroBatch.land(lake, Dedup.docGrams(missing, shingleSize), gramsTable)
      }
      // novel IS indexed when the lake is empty (first batch) — already
      // filled above; a second persist would pay one more fill job for
      // the identical frame
      val novelF = if (novel eq indexed) indexed else scope.materialize(novel)
      var batchGrams: Option[DataFrame] = None
      val landed0 = containmentThreshold match {
        case Some(t) if lake.exists(gramsTable) =>
          val grams = scope.materialize(Dedup.docGrams(novelF, shingleSize))
          batchGrams = Some(grams)
          val sz = Dedup.gramSetSizes(grams)
          val sketch = Dedup.bottomKSketch(grams, sketchK)
          val lakeGrams = lake.read(gramsTable)
            .select(col("doc_id").as("lake_doc_id"), col("g"))
          val cand = sketch.join(lakeGrams, Seq("g"))
            .groupBy("doc_id", "lake_doc_id").agg(count(lit(1)).as("s"))
            .join(sz, Seq("doc_id"))
            .filter(Dedup.sketchEvidence(col("s"), col("sz"), t, sketchK))
            .select("doc_id", "lake_doc_id", "sz")
          val contained = cand
            .join(grams, Seq("doc_id"))
            .join(lakeGrams, Seq("lake_doc_id", "g"))
            .groupBy("doc_id", "lake_doc_id", "sz")
            .agg(count(lit(1)).as("n_shared"))
            .filter(col("n_shared").cast("double") / col("sz").cast("double")
              >= t)
            .select("doc_id").distinct()
          novelF.join(contained, Seq("doc_id"), "left_anti")
        case _ => novelF
      }
      // one evaluation of the whole per-batch pipeline: the corpus write
      // AND the grams-index write below both read `landed`
      val landed = scope.materialize(landed0)
      MicroBatch.land(lake, landed, table)
      // maintain the containment index for the NEXT batches (landed rows
      // only, so the index mirrors the table; a crash before this write
      // is healed by the bootstrap/repair pass above on the next batch).
      // Grams of landed ⊆ every grams frame this batch persisted — reuse
      // the nearest one (batchGrams: grams of novelF; else the in-batch
      // pass) via an id semi-join instead of a third tokenize+explode+
      // distinct pass over the same texts
      if (containmentThreshold.isDefined) {
        val landedGrams = batchGrams.orElse(inBatchGrams) match {
          case Some(g) =>
            g.join(landed.select("doc_id"), Seq("doc_id"), "left_semi")
          case None =>
            Dedup.docGrams(landed.select("doc_id", "text"), shingleSize)
        }
        MicroBatch.land(lake, landedGrams, gramsTable)
      }
    }

  /** `rows` plus the `lsh_bands` index column: the MinHash band hashes of
    * `docs` (doc_id, text), joined on `idCol`; a row with no doc gets an
    * empty array, so it forms no band candidate (an empty text still
    * signs the empty gram). */
  private[stream] def withLshBands(rows: DataFrame, docs: DataFrame,
                                   idCol: String, numPerms: Int, bands: Int,
                                   shingleSize: Int): DataFrame = {
    val sig = Dedup.minhashSignatures(docs, numPerms, shingleSize)
      .select(col("doc_id").as(idCol),
        Dedup.lshBands(col("sig"), bands, numPerms / bands).as("lsh_bands"))
    rows.join(sig, Seq(idCol), "left")
      .withColumn("lsh_bands", coalesce(col("lsh_bands"),
        expr("CAST(array() AS array<struct<band:int,band_hash:bigint>>)")))
  }

  /** Incoming `idCol`s whose text is a near-dup of a committed row:
    * candidates from an equi-join of both sides' exploded `lsh_bands`
    * (no committed text moves), then exact Jaccard >= `threshold` between
    * `inSets` (the incoming (doc_id, s) sets) and `sets` of the candidate
    * committed texts. `sets` maps (doc_id, text) to (doc_id, s) sorted
    * hash sets. The broadcast left-semi PRUNES the committed side to the
    * (small, per-batch) candidate id set BEFORE tokenization, so
    * per-batch verify cost tracks candidate count, not corpus size (a
    * plain join after tokenizing would tokenize the whole lake every
    * micro-batch). */
  private[stream] def textRejectIds(incoming: DataFrame, inSets: DataFrame,
                                    committed: DataFrame, idCol: String,
                                    sets: DataFrame => DataFrame,
                                    threshold: Double): DataFrame = {
    val cand = incoming.select(col(idCol), explode(col("lsh_bands")).as("b"))
      .join(committed.select(col(idCol).as("lake_id"),
        explode(col("lsh_bands")).as("b")), Seq("b"))
      .select(idCol, "lake_id").distinct()
    val candLake = committed.select(col(idCol).as("doc_id"), col("text"))
      .join(broadcast(cand.select(col("lake_id").as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    cand
      .join(inSets.select(col("doc_id").as(idCol), col("s").as("wa")), Seq(idCol))
      .join(sets(candLake).select(col("doc_id").as("lake_id"), col("s").as("wb")),
        Seq("lake_id"))
      .filter(Dedup.jaccardSorted(col("wa"), col("wb")) >= threshold)
      .select(idCol).distinct()
  }

  /** BATCH TWIN of a two-batch [[startNearDup]] ingest — replays the
    * admit/reject decisions (gate → in-batch exact/near-dup/containment →
    * against-the-lake exact/near-dup/containment, two commits) through the
    * SAME per-batch pipeline ([[nearDupBatch]]) against a throwaway lake,
    * so stream == twin is structural, not approximate (CorpusIngestSpec
    * pins it row-for-row). With the default `shingleVerify = true` every
    * stage is declaratively replayable — banded near-dup == brute-force
    * shingle Jaccard (the q24 contract) and the sketch-probed containment
    * == exact counting (the q185 contract) — which is how the q196 oracle
    * spells the whole ingest. Returns the landed corpus (doc_id, n_chars). */
  def nearDupIngestTwin(spark: SparkSession, batch1: DataFrame,
                        batch2: DataFrame, threshold: Double = 0.8,
                        numPerms: Int = 128, bands: Int = 32,
                        shingleSize: Int = 3,
                        containmentThreshold: Option[Double] = None,
                        sketchK: Int = 64, shingleVerify: Boolean = true,
                        gate: String = "basic",
                        lmGate: Option[LmGate] = None,
                        nbGate: Option[NbGate] = None): DataFrame =
    MicroBatch.replay(spark, "graft_ingest_twin_lake", batch1, batch2)(
      nearDupBatch(_, _, "twin", threshold, numPerms, bands, shingleSize,
        containmentThreshold, sketchK, shingleVerify, gate, lmGate, nbGate))
      .read("twin").select(col("doc_id"), col("n_chars"))
}
