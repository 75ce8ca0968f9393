package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.money
import graft.stream.Events
import graft.tables.Tables
import Common._

/** Event rows over `events` (windows, sessions, as-of and range joins, the
  * quota twin) plus the streaming corpus-ingest twin. */
private[queries] object StreamQueries {

  /** q82's funnel pass: `f` flags each event with whether its user viewed
    * (`viewed_w`) or clicked (`clicked_w`) in the 600 s before it. */
  private def funnelCtes: String =
    "e AS (SELECT user_id, event_type, epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events), " +
      "f AS (SELECT user_id, event_type, " +
      "max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 600 PRECEDING AND 1 PRECEDING) AS viewed_w, " +
      "max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY user_id ORDER BY sec RANGE BETWEEN 600 PRECEDING AND 1 PRECEDING) AS clicked_w " +
      "FROM e)"

  def specs: Seq[QuerySpec] = Seq(
    // --- events / JSON props (SURVEY §2.8 F10) ---
    QuerySpec("q18_events_by_type", ((s, d) => Events.byType(Tables.events(s, d))),
      ("SELECT event_type, count(*) AS n_events, " +
        s"${money.r2Sql("sum(value)")} AS sum_value, " +
        """CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k """ +
        "FROM events GROUP BY event_type")),
    // --- streaming-surface batch twins (SURVEY §2.10) ---
    QuerySpec("q30_event_windows", ((s, d) => Events.tumblingCounts(Tables.events(s, d))),
      ("SELECT time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP)) AS window_start, " +
        "time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP)) + INTERVAL 10 MINUTE AS window_end, " +
        s"count(*) AS n_events, ${money.r2Sql("sum(value)")} AS sum_value " +
        "FROM events GROUP BY 1")),
    QuerySpec("q31_sessionization", ((s, d) => Events.sessionize(Tables.events(s, d))),
      ("WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value, epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events), " +
        "g AS (SELECT *, CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 THEN 1 ELSE 0 END AS new_session FROM e), " +
        "i AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM g) " +
        "SELECT user_id, min(ts) AS session_start, count(*) AS n_events, " +
        "max(sec) - min(sec) AS duration_sec, " +
        s"${money.r2Sql("sum(value)")} AS sum_value FROM i GROUP BY user_id, session_seq")),
    QuerySpec("q42_event_sliding_windows", ((s, d) =>
      Events.slidingCounts(Tables.events(s, d))),
      ("WITH w AS (SELECT to_timestamp(CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - off) / 600) * 600 + off AS BIGINT)) AS ws, value " +
        "FROM events CROSS JOIN (VALUES (0), (300)) AS o(off)) " +
        "SELECT CAST(ws AS TIMESTAMP) AS window_start, " +
        "CAST(ws AS TIMESTAMP) + INTERVAL 10 MINUTE AS window_end, " +
        s"count(*) AS n_events, ${money.r2Sql("sum(value)")} AS sum_value " +
        "FROM w GROUP BY ws")),
    // --- as-of join: each purchase paired with the user's latest prior view ---
    QuerySpec("q49_asof_purchase_view", { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
      graft.ops.AsOf.asofJoin(purchases, views, "user_id", "ts",
        Seq("view_event_id"))
        .select(col("user_id"), col("event_id"), col("asof_view_event_id"))
    },
      ("SELECT p.user_id, p.event_id, v.event_id AS asof_view_event_id " +
        "FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id AND v.ts <= p.ts")),
    // --- interval join (stream-stream join batch twin, §2.10) ---
    QuerySpec("q50_views_before_purchase", ((s, d) =>
      Events.viewsBeforePurchase(Tables.events(s, d), windowMinutes = 60)),
      ("SELECT p.user_id, p.event_id, count(v.vts) AS n_views, max(v.vts) AS last_view_ts " +
        "FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, event_id FROM events WHERE event_type = 'purchase') p " +
        "LEFT JOIN (SELECT user_id AS v_user_id, CAST(ts AS TIMESTAMP) AS vts FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.v_user_id AND v.vts <= p.pts AND v.vts >= p.pts - INTERVAL 60 MINUTE " +
        "GROUP BY p.user_id, p.event_id")),
    // --- window dedup / changelog snapshot (§2.5) ---
    QuerySpec("q52_latest_event_per_user", ((s, d) =>
      Events.latestEventPerUser(Tables.events(s, d))),
      ("SELECT user_id, event_id, event_type, ts, value FROM (" +
        "SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn " +
        "FROM events) WHERE rn = 1")),
    // --- JSON extraction, typed + path-based (§2.8 F10) ---
    QuerySpec("q54_json_props", ((s, d) => Events.propsProjection(Tables.events(s, d))),
      ("SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k_typed, " +
        "json_extract_string(props, '$.k') AS k_str FROM events")),
    // --- bucketed range join (|value diff| <= width via equi-join) ---
    QuerySpec("q60_value_range_pairs", { (s, d) =>
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      val anchors = ev.filter(col("event_id") < 50)
        .select(col("event_id").as("a_id"), col("value").as("a_value"))
      graft.ops.AsOf.rangeJoin(anchors, ev, col("a_value"), col("value"), 0.25)
        .filter(col("a_id") =!= col("event_id"))
        .groupBy("a_id").agg(count(lit(1)).as("n_close"))
    },
      ("SELECT a.event_id AS a_id, count(*) AS n_close FROM events a JOIN events b " +
        "ON a.event_id < 50 AND a.event_id != b.event_id AND abs(a.value - b.value) <= 0.25 " +
        "GROUP BY a.event_id")),
    // --- time-bounded conversion funnel (sequence analytics, one window) ---
    QuerySpec("q82_event_funnel", ((s, d) => Events.funnel(Tables.events(s, d))),
      (s"WITH $funnelCtes " +
        "SELECT count(DISTINCT user_id) AS n_users, " +
        "count(DISTINCT CASE WHEN event_type = 'click' AND viewed_w = 1 THEN user_id END) AS n_view_then_click, " +
        "count(DISTINCT CASE WHEN event_type = 'purchase' AND clicked_w = 1 THEN user_id END) AS n_click_then_purchase " +
        "FROM f")),
    // --- VariantType JSON (Spark 4): parse once, typed path extraction ---
    QuerySpec("q85_variant_props", ((s, d) =>
      Tables.events(s, d).select(col("event_id"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k_typed"),
        variant_get(parse_json(col("props")), "$.k", "string").as("k_str"))),
      ("SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k_typed, " +
        "json_extract_string(props, '$.k') AS k_str FROM events")),
    // --- windowed approx-distinct (the streaming-ready sketch agg; exact
    // count pinned by the oracle, estimate accuracy-gated like q37/q84) ---
    QuerySpec("q96_window_distinct_users", { (s, d) =>
      val ev = Tables.events(s, d)
      val approx = Events.distinctUsersPerWindow(ev)
      val exact = ev.groupBy(window(col("ts"), "15 minutes"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(col("window.start").as("window_start"), col("exact_users"))
      approx.join(exact, Seq("window_start"))
        .select(col("window_start"), col("exact_users"), col("n_events"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(col("exact_users") * 0.05, lit(2.0))).as("approx_ok"))
    },
      // explicit 1970 origin keeps time_bucket on Spark's epoch-aligned grid
      ("SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP), " +
        "TIMESTAMP '1970-01-01') AS window_start, " +
        "count(DISTINCT user_id) AS exact_users, count(*) AS n_events, " +
        "TRUE AS approx_ok FROM events GROUP BY 1")),
    // --- time-weighted average (gap-weighted sensor/telemetry mean) ---
    QuerySpec("q102_time_weighted_value", ((s, d) =>
      Events.timeWeightedValue(Tables.events(s, d))),
      ("WITH e AS (SELECT user_id, value, epoch(CAST(ts AS TIMESTAMP)) AS sec, " +
        "lead(epoch(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id " +
        "ORDER BY epoch(CAST(ts AS TIMESTAMP)), event_id) AS next_sec FROM events) " +
        "SELECT user_id, " +
        "round(sum(value * (next_sec - sec)) / sum(next_sec - sec), 6) AS tw_avg, " +
        "count(*) AS n_intervals FROM e WHERE next_sec IS NOT NULL GROUP BY user_id")),
    // --- forward-fill sparse telemetry (last non-null carried forward) ---
    QuerySpec("q106_forward_fill", ((s, d) =>
      Events.forwardFillClickK(Tables.events(s, d))),
      ("WITH e AS (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_type = 'click' " +
        "THEN CAST(json_extract(props, '$.k') AS INTEGER) END AS k_raw FROM events) " +
        "SELECT event_id, user_id, k_raw, " +
        "last_value(k_raw IGNORE NULLS) OVER (PARTITION BY user_id " +
        "ORDER BY epoch(CAST(ts AS TIMESTAMP)), event_id " +
        "ROWS UNBOUNDED PRECEDING) AS k_filled FROM e")),
    // --- sweep-line peak concurrent sessions (capacity planning) ---
    QuerySpec("q119_peak_concurrency", ((s, d) =>
      Events.peakConcurrency(Tables.events(s, d))),
      ("WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events), " +
        "g AS (SELECT *, CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) > 1800 THEN 1 ELSE 0 END AS new_session FROM e), " +
        "i AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM g), " +
        "s AS (SELECT min(sec) AS start_sec, max(sec) - min(sec) AS duration_sec " +
        "FROM i GROUP BY user_id, session_seq), " +
        "m AS (SELECT start_sec AS sec, 1 AS delta FROM s " +
        "UNION ALL SELECT start_sec + duration_sec, -1 FROM s), " +
        "r AS (SELECT sum(delta) OVER (ORDER BY sec, delta DESC " +
        "ROWS UNBOUNDED PRECEDING) AS concurrent FROM m) " +
        "SELECT CAST(max(concurrent) AS BIGINT) AS peak_concurrency, " +
        "CAST(count(*) / 2 AS BIGINT) AS n_sessions FROM r")),
    // --- built-in session_window (the declarative twin of q31's custom
    // sessionize; end = last event + gap by definition) ---
    QuerySpec("q130_session_window", ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))),
      // gap semantics: a new session starts at >= gap (session_window merges
      // only when the next event lands strictly inside [last, last+gap))
      ("WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, " +
        "epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events), " +
        "g AS (SELECT *, CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) >= 1800 THEN 1 ELSE 0 END AS new_session FROM e), " +
        "i AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM g) " +
        "SELECT user_id, min(ts) AS session_start, " +
        "max(ts) + INTERVAL 30 MINUTE AS session_end, " +
        "count(*) AS n_events FROM i GROUP BY user_id, session_seq")),
    // --- sequential smoothing: per-user EWMA (§2.5) ---
    QuerySpec("q145_user_value_ewma", ((s, d) =>
      Events.userValueEwma(Tables.events(s, d))),
      ("WITH s AS (SELECT user_id, list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs " +
        "FROM events GROUP BY user_id) " +
        "SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events, " +
        "list_reduce(xs, (acc, x) -> CAST(0.25 AS DOUBLE) * x + CAST(0.75 AS DOUBLE) * acc) " +
        "AS ewma_value FROM s")),
    // --- gaps-and-islands: longest daily-activity streak (§2.5) ---
    QuerySpec("q148_activity_streaks", ((s, d) =>
      Events.activityStreaks(Tables.events(s, d))),
      ("WITH days AS (SELECT DISTINCT user_id, " +
        "CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d FROM events), " +
        "isl AS (SELECT user_id, d - row_number() OVER " +
        "(PARTITION BY user_id ORDER BY d) AS island FROM days), " +
        "runs AS (SELECT user_id, island, count(*) AS len FROM isl GROUP BY 1, 2) " +
        "SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, " +
        "CAST(max(len) AS BIGINT) AS longest_streak FROM runs GROUP BY user_id")),
    // --- per-user daily admission quota (§2.10): the batch twin of
    // streamingPerUserQuota (Spark 4 transformWithState + MapState) —
    // EventsSpec pins streaming == batch; this oracle-checks the batch
    // semantics, closing the loop on the arbitrary-state path ---
    QuerySpec("q171_quota_admission", ((s, d) =>
      Events.perUserQuotaBatch(Tables.events(s, d), maxPerDay = 5)),
      // quota admission is a plain (user, day) rank — any engine replays it;
      // ties are only between fully-identical rows, so the kept multiset is
      // deterministic even where row_number's tiebreak is not
      ("WITH r AS (SELECT user_id, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS epoch_day, ts, event_type, " +
        "row_number() OVER (PARTITION BY user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) " +
        "ORDER BY ts, event_type) AS admitted_rank FROM events) " +
        "SELECT user_id, epoch_day, ts, event_type, CAST(admitted_rank AS BIGINT) AS admitted_rank " +
        "FROM r WHERE admitted_rank <= 5")),
    // --- per-user funnel flags (§2.10): the batch twin of streamingFunnel's
    // final state (EventsSpec pins stream == twin row-for-row; this
    // oracle-checks the twin — the q171 pattern for the funnel machine) ---
    QuerySpec("q178_funnel_per_user", ((s, d) =>
      Events.funnelPerUser(Tables.events(s, d))),
      // per-user funnel replay: q82's RANGE-frame pass, folded to the two
      // sticky per-user booleans instead of the global distinct counts
      (s"WITH $funnelCtes " +
        "SELECT user_id, " +
        "bool_or(event_type = 'click' AND viewed_w = 1) AS view_click, " +
        "bool_or(event_type = 'purchase' AND clicked_w = 1) AS click_purchase " +
        "FROM f GROUP BY user_id")),
    // --- streaming containment ingest, oracle-checked [ext]: the q171
    // batch-twin discipline applied to corpus ingestion — the twin replays
    // a two-batch ingest's admit/reject decisions (gate -> in-batch
    // exact/near-dup/containment -> against-the-lake exact/near-dup/
    // containment, two lake commits) through the SAME per-batch pipeline
    // the stream runs; shingle verify + exact-counting containment make
    // every stage declaratively replayable, and CorpusIngestSpec pins
    // stream == twin row-for-row ---
    // Runs on the deterministic doc_id % 8 < 2 QUARTER-SLICE (was % 4 < 2;
    // tightened round 10 per the bench-weight directive): the twin's
    // decision-replay contract is corpus-size-independent (CorpusIngestSpec
    // pins stream == twin on fixtures), the slice keeps CROSS-BATCH
    // near-dup and containment rejections live at sf0.01 (xdup = 1,
    // xcont = 1 in the oracle's stage CTEs — checked; cross-batch exact
    // was already empty on the old % 4 slice, and the in-batch stages are
    // fixture-pinned by CorpusIngestSpec), and the larger slices only
    // re-time the same decisions. numPerms drops to
    // 32/16 bands for this ROW only (per-pair candidate-miss probability
    // (1-s²)^16 ≈ 8e-8 at s = 0.8 — the q24 banded == brute equality
    // contract is carried by the specs and q24 itself, not this row;
    // shingleVerify keeps every surviving candidate exact)
    // shufflePartitions = 8: size the ~70-action per-batch DAG's shuffles
    // to the micro-batch (see startNearDup's scaladoc) — partition-count-
    // invariant operators, measured 18.8 -> 12.0 s per run at sf0.1
    QuerySpec("q196_stream_ingest_twin", { (s, d) =>
      val docs = t(s, d, "documents").filter(col("doc_id") % 8 < 2)
      graft.stream.CorpusIngest.nearDupIngestTwin(s,
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        threshold = 0.8, numPerms = 32, bands = 16,
        containmentThreshold = Some(0.5), shufflePartitions = Some(8))
    },
      // two-batch ingest replay: basic gate, per-batch exact dedup (min id
      // per norm within parity), in-batch near-dup closure (same-parity
      // brute-force shingle-J edges — the q24 banded==brute contract) and
      // in-batch containment (no DF prune: the stream runs maxDf=MaxValue),
      // then batch2 vs landed1: exact norms, cross-parity shingle-J >= 0.8,
      // directional containment of the NEW side at 0.5
      // batch membership stays doc_id % 2 on the % 8 < 2 slice: residue-0
      // docs are even (batch 1), residue-1 docs odd (batch 2)
      (s"WITH RECURSIVE gt AS (SELECT doc_id, text FROM " +
        s"(SELECT doc_id, text, $toksSql AS toks FROM documents WHERE doc_id % 8 < 2) " +
        "WHERE len(toks) >= 20 AND " +
        "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.2), " +
        s"nrm AS (SELECT doc_id, doc_id % 2 AS p, $normSql AS norm FROM gt), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM nrm GROUP BY p, norm), " +
        "kd AS (SELECT gt.doc_id, gt.text FROM gt JOIN k USING (doc_id)), " +
        shingleCtes("kd") + s", $shinglePairCtes, " +
        "edges AS (SELECT doc_a, doc_b FROM sc WHERE doc_a % 2 = doc_b % 2 " +
        "AND (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8), " +
        s"$docPairClosureCtes, $removedCte, " +
        "kept AS (SELECT kd.doc_id FROM kd " +
        "LEFT JOIN removed ON kd.doc_id = removed.n WHERE removed.n IS NULL), " +
        "ke AS (SELECT e.doc_id, e.g FROM e JOIN kept USING (doc_id)), " +
        "csz AS (SELECT doc_id, count(*) AS csn FROM ke GROUP BY 1), " +
        "csh AS (SELECT x.doc_id AS ca, y.doc_id AS cb, count(*) AS ns " +
        "FROM ke x JOIN ke y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
        "cpr AS (SELECT ca, cb, ns, " +
        "CAST(ns AS DOUBLE) / CAST(a.csn AS DOUBLE) AS conta, " +
        "CAST(ns AS DOUBLE) / CAST(b.csn AS DOUBLE) AS contb " +
        "FROM csh JOIN csz a ON ca = a.doc_id JOIN csz b ON cb = b.doc_id), " +
        "crm AS (SELECT DISTINCT CASE WHEN conta >= 0.5 AND contb >= 0.5 THEN cb " +
        "WHEN conta >= 0.5 THEN ca ELSE cb END AS doc_id FROM cpr " +
        "WHERE ca % 2 = cb % 2 AND (conta >= 0.5 OR contb >= 0.5)), " +
        "kept2 AS (SELECT kept.doc_id FROM kept " +
        "LEFT JOIN crm ON kept.doc_id = crm.doc_id WHERE crm.doc_id IS NULL), " +
        "l1 AS (SELECT doc_id FROM kept2 WHERE doc_id % 2 = 0), " +
        "b2 AS (SELECT doc_id FROM kept2 WHERE doc_id % 2 = 1), " +
        "xex AS (SELECT o.doc_id FROM nrm o JOIN b2 USING (doc_id) " +
        "WHERE o.norm IN (SELECT nrm.norm FROM nrm JOIN l1 USING (doc_id))), " +
        "xdup AS (SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS doc_id FROM sc " +
        "JOIN kept2 ka ON sc.doc_a = ka.doc_id JOIN kept2 kb ON sc.doc_b = kb.doc_id " +
        "WHERE doc_a % 2 <> doc_b % 2 AND (CASE WHEN u = 0 THEN 1.0 ELSE i / u END) >= 0.8), " +
        "xcont AS (SELECT CASE WHEN ca % 2 = 1 THEN ca ELSE cb END AS doc_id FROM cpr " +
        "JOIN b2 bo ON (CASE WHEN ca % 2 = 1 THEN ca ELSE cb END) = bo.doc_id " +
        "JOIN l1 lo ON (CASE WHEN ca % 2 = 1 THEN cb ELSE ca END) = lo.doc_id " +
        "WHERE ca % 2 <> cb % 2 AND (CASE WHEN ca % 2 = 1 THEN conta ELSE contb END) >= 0.5), " +
        "landed AS (SELECT doc_id FROM l1 UNION ALL SELECT doc_id FROM b2 " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM xex) " +
        "AND doc_id NOT IN (SELECT doc_id FROM xdup) " +
        "AND doc_id NOT IN (SELECT doc_id FROM xcont)) " +
        "SELECT landed.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars " +
        "FROM landed JOIN documents d USING (doc_id)")))
}
