package graft.stream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.functions.money.r2

/** Event-stream operators over the `events` table (ts, user_id, event_type,
  * value, props) — the mandated Structured-Streaming extension surface
  * (SURVEY §2.10; the reference is batch-only).
  *
  * Each aggregation exists in one declarative form usable both in batch
  * (correctness/oracle) and as a streaming query (`readStream` + watermark) —
  * same expressions, Catalyst plans the incremental version. Streaming specs
  * drive the file source with Trigger.AvailableNow.
  */
/** One emitted session from the custom-state sessionizer. */
final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                            n_events: Long, sum_value: Double)

/** Accumulating per-user session state (top-level so the typed encoder can
  * construct it in generated code). */
final case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

/** [[Events.streamingFunnel]] per-user state: recent signal times (pruned to
  * the lookback window) + sticky conversion flags. */
final case class FunnelState(views: List[Double], clicks: List[Double],
                             viewClick: Boolean, clickPurchase: Boolean)
final case class FunnelOut(user_id: Long, view_then_click: Boolean,
                           click_then_purchase: Boolean)

object Events {

  /** Parse the JSON `props` column to map<string,string> (F10). */
  def parseProps(events: DataFrame): DataFrame =
    events.withColumn("props_map",
      from_json(col("props"), MapType(StringType, StringType)))

  /** The integer `k` property, extracted without a JSON parse on the hot
    * path (regexp is codegen'd; schema'd `from_json` via [[parseProps]]). */
  def propK(props: Column): Column =
    regexp_extract(props, "\"k\":\\s*(\\d+)", 1).cast("long")

  /** Per-type aggregate: count, total value (cents-rounded), sum of k. */
  def byType(events: DataFrame): DataFrame =
    events.groupBy("event_type").agg(
      count(lit(1)).as("n_events"),
      r2(sum("value")).as("sum_value"),
      sum(propK(col("props"))).as("sum_k"))

  /** Tumbling event-time windows (batch form; streaming adds watermark). */
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("sum_value"))

  /** Sliding event-time windows (width/slide), batch form: each event lands
    * in width/slide overlapping windows. */
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
                    slide: String = "5 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_events"), col("sum_value"))

  /** Streaming file source over events parquet. The files have shipped `ts`
    * as TIMESTAMP(NANOS) (unreadable natively — read ns as long under the
    * legacy conf, truncate to micros) and as TIMESTAMP(MICROS)-without-UTC
    * (read as TIMESTAMP_NTZ); a streaming source needs its schema up front,
    * so peek at the files with a static read and normalize `ts` to the
    * session-zone TimestampType either way (see
    * [[graft.tables.Tables.events]]). */
  def readEventStream(spark: SparkSession, dir: String,
                      waitForFilesMs: Long = 2000): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // peek the files with a static read. An EMPTY source directory (the
    // normal start-before-producers file-source pattern) can't be inferred
    // from, and the physical ts type has drifted across testdata
    // generations (INT64 nanos read as long vs TIMESTAMP(MICROS)-no-UTC
    // read as TIMESTAMP_NTZ) — so rather than guess, wait briefly for the
    // first file and re-peek; only after the bounded wait fall back to the
    // declared schema with the NTZ shape.
    def peek() = scala.util.Try(spark.read.parquet(dir).schema)
    var peeked = peek()
    val deadline = System.nanoTime() + waitForFilesMs * 1000000L
    while (peeked.isFailure && System.nanoTime() < deadline) {
      Thread.sleep(100)
      peeked = peek()
    }
    val guessed = peeked.isFailure
    val fileSchema = peeked.getOrElse(
      org.apache.spark.sql.types.StructType(
        graft.tables.Tables.schemas("events").map(f =>
          if (f.name == "ts")
            f.copy(dataType = org.apache.spark.sql.types.TimestampNTZType)
          else f)))
    val ts = fileSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        col("ts").cast(org.apache.spark.sql.types.TimestampType)
      case _ => col("ts")
    }
    // when the schema was GUESSED (still-empty dir), a producer that later
    // writes the other physical shape either fails the parquet read with a
    // type-mismatch, or — the dangerous case — has raw INT64 nanos
    // reinterpreted as micros (a silent 1000× shift into year ~57000).
    // Guard the guessed path with a plan-level sanity check so that case
    // fails FAST with an error naming the mismatch instead of misreading.
    val tsChecked =
      if (!guessed) ts
      else when(ts.isNotNull &&
          (year(ts) < lit(1970) || year(ts) > lit(2200)),
        raise_error(concat(lit("graft: event ts outside sane range ("),
          col("ts").cast("string"),
          lit(") — source files do not match the declared-schema fallback " +
            "(ts TIMESTAMP_NTZ micros) chosen because the directory was " +
            "empty at stream start; restart the stream after the first " +
            "file lands so the real file schema is peeked"))).cast(
          org.apache.spark.sql.types.TimestampType))
        .otherwise(ts)
    spark.readStream.schema(fileSchema).parquet(dir).withColumn("ts", tsChecked)
  }

  /** The event file source under a `watermark` on `ts`: what each
    * streaming twin applies its batch form to. */
  private def watermarked(spark: SparkSession, dir: String,
                          watermark: String): DataFrame =
    readEventStream(spark, dir).withWatermark("ts", watermark)

  /** Streaming variant: [[tumblingCounts]] over the watermarked file
    * source. Caller attaches the sink/trigger. */
  def streamingTumblingCounts(spark: SparkSession, dir: String,
                              width: String = "10 minutes",
                              watermark: String = "30 minutes"): DataFrame =
    tumblingCounts(watermarked(spark, dir, watermark), width)

  /** Stream–static dimension enrichment: join the event stream to a STATIC
    * dimension (e.g. a curated user→segment table) and aggregate per
    * (segment, tumbling window). The static side re-plans per micro-batch
    * (so a lake-table dim picks up new versions between batches) and
    * broadcasts — no stream-side shuffle for the join, no watermark needed
    * for a stream–static inner join; the watermark here only bounds the
    * window aggregation state. The canonical "enrich fact stream with a dim"
    * shape at any scale. */
  def streamingSegmentCounts(spark: SparkSession, dir: String,
                             userDim: DataFrame,
                             width: String = "10 minutes",
                             watermark: String = "30 minutes"): DataFrame =
    segmentCounts(watermarked(spark, dir, watermark), userDim, width)

  /** Batch form of [[streamingSegmentCounts]]. */
  def segmentCounts(events: DataFrame, userDim: DataFrame,
                    width: String = "10 minutes"): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"))
      .groupBy(col("segment"), window(col("ts"), width))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .select(col("segment"), col("window.start").as("window_start"),
        col("n_events"), col("sum_value"))

  /** Approximate distinct users per tumbling window (batch form). At 100 TB
    * an exact per-window distinct is a full shuffle of user ids; HLL++ state
    * is a few KB per window and map-side combined. The estimate is
    * DETERMINISTIC (register max-merge is commutative/associative), so the
    * streaming twin below produces bit-identical numbers — and an exact
    * engine can only be compared via an accuracy gate (q96). */
  def distinctUsersPerWindow(events: DataFrame,
                             width: String = "15 minutes"): DataFrame =
    events.groupBy(window(col("ts"), width))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("approx_users"), col("n_events"))

  /** Streaming twin: [[distinctUsersPerWindow]] over the watermarked file
    * source; HLL++ sketches live in the state store per open window. */
  def streamingDistinctUsers(spark: SparkSession, dir: String,
                             width: String = "15 minutes",
                             watermark: String = "30 minutes"): DataFrame =
    distinctUsersPerWindow(watermarked(spark, dir, watermark), width)

  /** Streaming dedup within the watermark (the streaming form of exact
    * dedup: drop retransmitted event_ids). */
  def streamingDedup(spark: SparkSession, dir: String,
                     watermark: String = "30 minutes"): DataFrame =
    watermarked(spark, dir, watermark).dropDuplicates("event_id", "ts")

  /** Stream events into a [[graft.tables.LakeTable]] via foreachBatch —
    * the streaming ingestion path of the lakehouse: each micro-batch lands
    * as an append commit, so downstream readers see committed versions only
    * and `readChanges` gives the change feed. Returns the started query. */
  def streamToLake(spark: SparkSession, dir: String,
                   lake: graft.tables.LakeTable, table: String,
                   trigger: org.apache.spark.sql.streaming.Trigger =
                     org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.start(readEventStream(spark, dir), trigger, None)(
      MicroBatch.land(lake, _, table))

  /** Per-user time-weighted average of `value`: each reading is weighted by
    * how long it was current (gap to the next event). One window on
    * (user_id, ts, event_id) — the tiebreak makes `lead` deterministic under
    * equal timestamps — then one aggregate; the zero-total-weight edge
    * (all events simultaneous) yields NULL, matching plain-division
    * engines. 6 dp rounding absorbs per-group sum-order drift. */
  def timeWeightedValue(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
    val e = events
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").cast("double").as("sec"))
      .withColumn("wgt", lead(col("sec"), 1).over(w) - col("sec"))
      .filter(col("wgt").isNotNull)
    e.groupBy("user_id").agg(
      round(when(sum(col("wgt")) =!= 0.0,
        sum(col("value") * col("wgt")) / sum(col("wgt"))), 6).as("tw_avg"),
      count(lit(1)).as("n_intervals"))
  }

  /** Forward-fill: carry each user's last non-null reading forward in event
    * order (gap-filling telemetry — `last(ignoreNulls)` over a running
    * frame; the tiebreak on event_id keeps the fill deterministic under
    * equal timestamps). One shuffle on the fill key. Here the sparse signal
    * is `props.k` observed only on clicks. */
  def forwardFillClickK(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click",
          get_json_object(col("props"), "$.k").cast("int")).as("k_raw"))
      .withColumn("k_filled", last(col("k_raw"), ignoreNulls = true).over(w))
      .select("event_id", "user_id", "k_raw", "k_filled")
  }

  /** Time-bounded conversion funnel: for each step pair, how many users
    * performed the later event within `windowSeconds` AFTER an earlier one
    * (view→click, click→purchase). One window pass per user ordered by
    * fractional epoch seconds (`ts.cast(double)` — keeps sub-second parts,
    * matching an `epoch()`-based oracle) with a RANGE frame that looks back
    * `windowSeconds` and excludes the current second; then one distinct-user
    * aggregate. Cost: one shuffle on user_id + one global agg — no
    * self-joins, no per-step passes. */
  def funnel(events: DataFrame, windowSeconds: Long = 600): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      col("ts").cast("double").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-windowSeconds, -1)
    val flagged = e.select(col("user_id"), col("event_type"),
      max(when(col("event_type") === "view", 1).otherwise(0)).over(w).as("viewed_w"),
      max(when(col("event_type") === "click", 1).otherwise(0)).over(w).as("clicked_w"))
    flagged.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(when(col("event_type") === "click" && col("viewed_w") === 1,
        col("user_id"))).as("n_view_then_click"),
      countDistinct(when(col("event_type") === "purchase" && col("clicked_w") === 1,
        col("user_id"))).as("n_click_then_purchase"))
  }

  /** Per-user funnel flags — the batch twin of [[streamingFunnel]]'s final
    * state, exactly as the quota pair ([[perUserQuotaBatch]] /
    * [[streamingPerUserQuota]]) pins the arbitrary-state path: one row per
    * user with the two sticky conversion booleans the state machine
    * converges to (view→click within the window; click→purchase within the
    * window). Same RANGE-frame pass as [[funnel]], grouped per user instead
    * of globally — so the driver oracle verifies the EXACT rows the
    * streaming operator's last update per user emits (EventsSpec pins
    * stream == this twin row-for-row, this query pins twin == oracle). */
  def funnelPerUser(events: DataFrame, windowSeconds: Long = 600): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      col("ts").cast("double").as("sec"))
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-windowSeconds, -1)
    e.select(col("user_id"), col("event_type"),
        max(when(col("event_type") === "view", 1).otherwise(0)).over(w).as("viewed_w"),
        max(when(col("event_type") === "click", 1).otherwise(0)).over(w).as("clicked_w"))
      .groupBy("user_id")
      .agg(
        (sum(when(col("event_type") === "click" && col("viewed_w") === 1, 1L)
          .otherwise(0L)) > 0).as("view_click"),
        (sum(when(col("event_type") === "purchase" && col("clicked_w") === 1, 1L)
          .otherwise(0L)) > 0).as("click_purchase"))
  }

  /** Streaming CDC apply: MERGE each micro-batch of a changelog stream into
    * a lake table keyed by `keys` — foreachBatch + [[graft.tables.LakeTable.merge]],
    * with per-batch semantics exactly [[graft.ops.Merge.upsertPlan]]
    * (update / insert / conditional delete). The first batch bootstraps the
    * table (delete-marked rows skipped); with a checkpoint dir, a restarted
    * AvailableNow run picks up only unprocessed source files — the
    * production shape of an incremental changelog apply. Within one batch
    * the caller must provide at most one row per key (collapse upstream with
    * a latest-per-key window if the source can repeat keys). */
  def streamMergeToLake(changes: DataFrame, lake: graft.tables.LakeTable,
                        table: String, keys: Seq[String],
                        deleteWhen: Option[Column] = None,
                        checkpointDir: Option[String] = None,
                        trigger: org.apache.spark.sql.streaming.Trigger =
                          org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    MicroBatch.start(changes, trigger, checkpointDir) { b =>
      if (lake.exists(table)) lake.merge(table, b, keys, deleteWhen): Unit
      else {
        val bootstrap = deleteWhen
          .map(c => b.filter(!coalesce(c, lit(false)))).getOrElse(b)
        lake.write(bootstrap, table): Unit
      }
    }

  /** Interval join (the stream-stream join's batch twin): each purchase
    * paired with the same user's views in the preceding `windowMinutes`,
    * aggregated per purchase. Equi-key on user_id carries the shuffle; the
    * time predicate evaluates post-join, so cost is bounded by per-user
    * event counts, not the cross product. */
  def viewsBeforePurchase(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("ts").as("vts"))
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("vts") <= col("pts") &&
          col("vts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        "left")
      .groupBy(col("user_id"), col("event_id"))
      .agg(count(col("vts")).as("n_views"), max(col("vts")).as("last_view_ts"))
  }

  /** Streaming stream-stream interval join: purchases joined to views of the
    * same user within the preceding `windowMinutes`, both sides watermarked
    * so the view-side buffer is bounded (Spark drops view state older than
    * watermark + interval). The streaming form of [[viewsBeforePurchase]]'s
    * join stage. */
  def streamingPurchaseAttribution(spark: SparkSession, dir: String,
                                   windowMinutes: Int = 60,
                                   watermark: String = "1 hour"): DataFrame = {
    val src = readEventStream(spark, dir)
    val p = src.filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("pts"), col("event_id"))
    val v = src.filter(col("event_type") === "view")
      .withWatermark("ts", watermark)
      .select(col("user_id").as("v_user_id"), col("ts").as("vts"),
        col("event_id").as("view_event_id"))
    p.join(v,
      col("user_id") === col("v_user_id") &&
        col("vts") <= col("pts") &&
        col("vts") >= col("pts") - expr(s"INTERVAL $windowMinutes MINUTES"))
  }

  /** Latest event per user — window dedup (row_number = 1 over ts desc), the
    * snapshot/compaction shape of a changelog stream. */
  def latestEventPerUser(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "ts", "value")
  }

  /** JSON property extraction both ways: schema'd `from_json` (typed struct
    * field) and path-based `get_json_object` — F10's full surface. */
  def propsProjection(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType)))).getField("k").as("k_typed"),
      get_json_object(col("props"), "$.k").as("k_str"))

  /** Batch sessionization (gap-based): a session breaks after `gapMinutes`
    * of inactivity. One shuffle on user_id; the running session-id is the
    * classic gaps-and-islands prefix sum, all window functions. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapSec = gapMinutes * 60L
    val newSession = when(
      col("ts").cast("double") - lag(col("ts").cast("double"), 1).over(byUser) > gapSec, 1L)
      .otherwise(0L)
    val withId = events
      .withColumn("new_session", coalesce(newSession, lit(0L)))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withId.groupBy(col("user_id"), col("session_seq"))
      .agg(
        min("ts").as("session_start"),
        count(lit(1)).as("n_events"),
        (max(col("ts").cast("double")) - min(col("ts").cast("double"))).as("duration_sec"),
        r2(sum("value")).as("sum_value"))
      .drop("session_seq")
  }

  /** Custom-state streaming sessionization with
    * `flatMapGroupsWithState` (event-time timeout): emits a session when the
    * inactivity gap elapses — the bespoke-state escape hatch for session
    * semantics `session_window` can't express (e.g. value-dependent gaps).
    * State per key is O(1); timeouts are watermark-driven. */
  def streamingSessionizeCustom(spark: SparkSession, dir: String,
                                gapMinutes: Int = 30,
                                watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val src = watermarked(spark, dir, watermark)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    // keep MICROsecond precision end to end: Timestamp.getTime is ms-only,
    // which would shift session_start off the batch twin's values
    def tsMicros(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def microsTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    def flush(uid: Long, st: SessionState): SessionOut =
      SessionOut(uid, microsTs(st.start), st.n,
        math.floor(st.total * 100.0 + 0.5) / 100.0)
    src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(uid, _)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(r => (tsMicros(r._2), r._3))
            var st = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { case (_, ts, v) =>
              val t = tsMicros(ts)
              st match {
                case Some(s) if t - s.lastTs <= gapUs =>
                  st = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + v))
                case Some(s) =>
                  closed += flush(uid, s)
                  st = Some(SessionState(t, t, 1, v))
                case None =>
                  st = Some(SessionState(t, t, 1, v))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.floorDiv(s.lastTs + gapUs, 1000L))
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** Peak concurrent sessions via a sweep line: every session contributes
    * +1 at its start and -1 at its end; the running sum's maximum is the
    * peak load (capacity-planning's load-profile primitive — no per-instant
    * grid, cost is 2 markers per session). Starts sort before ends at equal
    * instants, so back-to-back sessions count as overlapping — and the max
    * is deterministic under marker ties.
    *
    * Scale: the classic formulation is ONE global ordered window over every
    * marker — a single-partition sort that OOMs at 100 TB. This is the
    * two-level prefix-sum form instead: markers hash-shuffle into hour
    * buckets where each task computes its running sum and partials
    * (max-of-run, total), and only the bucket-level frame — bounded by the
    * number of hours in the data's time span, not by row count — goes
    * through a global window to chain the cross-bucket offsets. Marker ties
    * (equal sec) always share a bucket, so the tie order is preserved. */
  def peakConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sessionize(events, gapMinutes)
      .select(col("session_start").cast("double").as("start_sec"),
        col("duration_sec"))
    val markers = s.select(col("start_sec").as("sec"), lit(1L).as("delta"))
      .unionAll(s.select((col("start_sec") + col("duration_sec")).as("sec"),
        lit(-1L).as("delta")))
      .withColumn("bucket", floor(col("sec") / lit(3600.0)))
    val wIn = Window.partitionBy("bucket").orderBy(col("sec"), desc("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perBucket = markers
      .withColumn("run", sum(col("delta")).over(wIn))
      .groupBy("bucket")
      .agg(max(col("run")).as("mx"), sum(col("delta")).as("tot"),
        count(lit(1)).as("n"))
    // bucket-level chain: offset entering each bucket = sum of all earlier
    // buckets' totals (dimension-sized global window: one row per hour)
    val wB = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .withColumn("off", coalesce(sum(col("tot")).over(wB), lit(0L)))
      .agg(max(col("off") + col("mx")).as("peak_concurrency"),
        (sum(col("n")) / 2).cast("long").as("n_sessions"))
  }

  /** Built-in session windows in STREAMING mode — the declarative
    * counterpart to [[streamingSessionizeCustom]]'s state machine, and the
    * streaming twin of the batch `session_window` groupBy (q130). Spark
    * maintains and merges open session state per (user, window) under the
    * watermark; no custom state code. Emits one row per closed session in
    * append mode. */
  def streamingSessionWindow(spark: SparkSession, dir: String,
                             gap: String = "30 minutes",
                             watermark: String = "1 hour"): DataFrame =
    watermarked(spark, dir, watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming funnel — the [[funnel]] semantics as a per-user state
    * machine (`flatMapGroupsWithState`), since RANGE-frame windows are not
    * available in streaming. State per user is the recent view/click
    * timestamps pruned to the lookback window (bounded by event rate x
    * window, NOT history length) plus two sticky conversion flags; each
    * micro-batch emits the user's current flags (Update mode — take the
    * last row per user). Ties sort by event_id, same as the batch oracle. */
  def streamingFunnel(spark: SparkSession, dir: String,
                      windowSeconds: Long = 600,
                      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val src = watermarked(spark, dir, watermark)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").cast("double").as("sec"))
      .as[(Long, Long, String, Double)]
    src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[(Long, Long, String, Double)],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(Nil, Nil, false, false))
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, _, typ, sec) =>
            // batch frame is RANGE [sec-window, sec-1]: any prior signal in it
            def inWindow(ts: List[Double]): Boolean =
              ts.exists(t => t >= sec - windowSeconds && t <= sec - 1)
            typ match {
              case "view" =>
                st = st.copy(views = (sec :: st.views).filter(_ >= sec - windowSeconds))
              case "click" =>
                if (inWindow(st.views)) st = st.copy(viewClick = true)
                st = st.copy(clicks = (sec :: st.clicks).filter(_ >= sec - windowSeconds))
              case "purchase" =>
                if (inWindow(st.clicks)) st = st.copy(clickPurchase = true)
              case _ => ()
            }
          }
          state.update(st)
          Iterator(FunnelOut(uid, st.viewClick, st.clickPurchase))
      }.toDF()
  }

  /** Streaming sessionization via the built-in session window (event-time,
    * watermarked) — the Structured-Streaming twin of [[sessionize]]. */
  def streamingSessionize(spark: SparkSession, dir: String,
                          gap: String = "30 minutes",
                          watermark: String = "1 hour"): DataFrame = {
    watermarked(spark, dir, watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), r2(sum("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Per-user daily admission quota on the event stream via Spark 4's
    * `transformWithState` (the arbitrary-state API succeeding
    * flatMapGroupsWithState): admit at most `maxPerDay` events per user per
    * UTC day, tagging each with its admission rank; everything past the
    * quota is dropped. State is a typed `MapState[epochDay -> admitted]` —
    * per-key-per-day O(1), RocksDB-backed (the provider the new API
    * requires; set on the session here). The ingestion rate-guard shape:
    * per-tenant quotas, crawl politeness budgets, bot throttling.
    *
    * Deterministic: events sort by (ts, event_type) inside each batch, so
    * the admitted set is reproducible and equals the batch twin
    * [[perUserQuotaBatch]] exactly (integer counters, no floats). */
  def streamingPerUserQuota(spark: SparkSession, dir: String,
                            maxPerDay: Int = 5): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val src = readEventStream(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
    src.groupByKey(_._1)
      .transformWithState(new QuotaProcessor(maxPerDay), TimeMode.None(),
        OutputMode.Append())
      .toDF()
  }

  /** Batch twin of [[streamingPerUserQuota]]: rank within (user, UTC day)
    * by (ts, event_type) and keep ranks <= maxPerDay. */
  def perUserQuotaBatch(events: DataFrame, maxPerDay: Int = 5): DataFrame = {
    val day = floor(col("ts").cast("double") / 86400.0).cast("long")
    val w = Window.partitionBy(col("user_id"), day)
      .orderBy(col("ts"), col("event_type"))
    events
      .select(col("user_id"), day.as("epoch_day"), col("ts"), col("event_type"))
      .withColumn("admitted_rank", row_number().over(w).cast("long"))
      .filter(col("admitted_rank") <= maxPerDay)
  }

  /** Exponentially-weighted moving average of `value` per user, returning
    * the final smoothed level: ewma_0 = x_0, ewma_i = α·x_i + (1−α)·ewma_i−1
    * over events ordered by (ts, event_id). EWMA is inherently sequential,
    * so it folds per key: one shuffle collects each user's ordered series,
    * then a left-to-right `aggregate` fold — per-user state is O(1) and the
    * fold order is total (event_id tiebreak), so the result is
    * bit-deterministic and engine-portable (the oracle spells the identical
    * fold). At scale the collected series bounds memory per key: cap with a
    * time window upstream for unbounded keys. */
  def userValueEwma(events: DataFrame, alpha: Double = 0.25): DataFrame = {
    val series = events.groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("s"))
      .select(col("user_id"), transform(col("s"), e =>
        e.getField("value").cast("double")).as("xs"))
    series.select(col("user_id"),
      size(col("xs")).cast("long").as("n_events"),
      aggregate(slice(col("xs"), lit(2), greatest(size(col("xs")) - 1, lit(0))),
        element_at(col("xs"), 1),
        (acc, x) => lit(alpha) * x + lit(1.0 - alpha) * acc).as("ewma_value"))
  }

  /** Longest consecutive-day activity streak per user: distinct active days,
    * then the gaps-and-islands trick — epoch_day − row_number() is constant
    * within a run of consecutive days, so one groupBy per (user, island)
    * yields streak lengths. Two dimension-sized shuffles, all-integer math.
    */
  def activityStreaks(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"),
        floor(col("ts").cast("double") / 86400.0).cast("long").as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    days.withColumn("island", col("d") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_active_days"), max("len").as("longest_streak"))
  }
}

/** [[Events.streamingPerUserQuota]] output row. */
final case class QuotaOut(user_id: Long, epoch_day: Long,
                          ts: java.sql.Timestamp, event_type: String,
                          admitted_rank: Long)

/** Typed stateful processor for the per-user daily quota (Spark 4
  * `StatefulProcessor`): one `MapState` entry per active day per user. */
final class QuotaProcessor(maxPerDay: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, String), QuotaOut] {
  import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode,
    TimerValues, TTLConfig}
  import org.apache.spark.sql.{Encoder, Encoders}

  @transient private var counts: MapState[Long, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[Long, Long]("day_counts",
      Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(uid: Long,
                               rows: Iterator[(Long, java.sql.Timestamp, String)],
                               timerValues: TimerValues): Iterator[QuotaOut] = {
    // deterministic admission order inside the batch — MICROsecond precision
    // (getTime is ms-only; a ms-level sort could diverge from the batch
    // twin's full-precision ORDER BY ts)
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val sorted = rows.toSeq.sortBy { case (_, ts, typ) => (micros(ts), typ) }
    val out = Seq.newBuilder[QuotaOut]
    sorted.foreach { case (_, ts, typ) =>
      val day = Math.floorDiv(ts.getTime, 86400000L)
      val admitted = if (counts.containsKey(day)) counts.getValue(day) else 0L
      if (admitted < maxPerDay) {
        counts.updateValue(day, admitted + 1L)
        out += QuotaOut(uid, day, ts, typ, admitted + 1L)
      }
    }
    out.result().iterator
  }
}
