package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Caching
import graft.tables.{LakeTable, TempLakes}

/** The one micro-batch ingest path every streaming ingest in
  * `graft.stream` rides: [[start]] launches the foreachBatch stream,
  * [[replay]] runs the same per-batch body over explicit batches (the
  * deterministic batch twin), [[sized]] is the per-batch span (sized
  * shuffles plus a cache scope), and [[land]] is the batch's commit.
  *
  * State never lives in the streaming state store: the lake is the dedup
  * index, so a checkpoint only skips re-listing already-processed files,
  * and even WITHOUT one a replay is idempotent because the committed keys
  * absorb it. */
object MicroBatch {

  /** Shuffle width of every [[sized]] span, run with AQE off. A
    * micro-batch is small and its decision DAG issues dozens of actions,
    * so cluster-sized shuffle widths spend more wall clock on task
    * scheduling than on rows (measured 18.8 → 12.0 s per two-batch q196
    * run at a 32 → 8 width), and AQE re-planning every exchange of
    * batch-sized data is pure scheduling tax (measured 132 → 55 jobs on
    * the q223 chain). Every operator run inside a span is
    * partition-count-invariant, so no admit/reject decision depends on
    * the width. */
  val ShuffleWidth = 8

  /** Run `body` with [[ShuffleWidth]] shuffles, AQE off and a fresh
    * [[Caching.Scope]], so a long-running stream holds no cache entry
    * across micro-batches; the scope is released, then the session conf
    * restored, in `finally`. The conf flip is session-global, which is
    * safe because a query's foreachBatch bodies run one at a time. */
  def sized[T](spark: SparkSession)(body: Caching.Scope => T): T = {
    val conf = Seq("spark.sql.shuffle.partitions" -> ShuffleWidth.toString,
      "spark.sql.adaptive.enabled" -> "false")
    val prev = conf.map { case (k, _) => k -> spark.conf.get(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try Caching.scoped(body)
    finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Start a stream over `source` that hands each micro-batch to `body`. */
  def start(source: DataFrame, trigger: Trigger, checkpoint: Option[String])
           (body: DataFrame => Unit): StreamingQuery = {
    val w = source.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) => body(batch.toDF()) }
      .trigger(trigger)
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** The batch twin of a stream: run `batch` over each of `batches` in
    * order against a throwaway lake and hand back the lake — the same
    * per-batch body the stream runs, so stream == twin is structural. */
  def replay(spark: SparkSession, prefix: String, batches: DataFrame*)
            (batch: (DataFrame, LakeTable) => Unit): LakeTable = {
    val lake = TempLakes.lake(spark, prefix)
    batches.foreach(batch(_, lake))
    lake
  }

  /** Commit `df` to `table`: the first batch creates it, later ones
    * append. */
  def land(lake: LakeTable, df: DataFrame, table: String): Unit =
    lake.write(df, table, if (lake.exists(table)) "append" else "overwrite"): Unit
}
