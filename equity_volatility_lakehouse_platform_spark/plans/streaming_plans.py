"""Streaming-surface queries (SURVEY.md §2.10): tumbling windows, session
buckets, and the real Structured Streaming pipeline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.plans.registry import register
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table
from equity_volatility_lakehouse_platform_spark.functions.rounding import r6, r6s
from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
    run_tumbling_stream,
    tumbling_agg,
)

_TUMBLING_ORACLE = """
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0)     AS total_value
    FROM events
    GROUP BY 1, 2
    """


@register("st01_tumbling_window", oracle=_TUMBLING_ORACLE)
def st01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tumbling window = the daily/hourly roll-up via F.window (SURVEY §2.10);
    # identical graph serves the streaming variant (st03).
    return tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")


@register(
    "st02_session_buckets",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN EXTRACT(hour FROM ts) < 9 THEN 'premarket'
                WHEN EXTRACT(hour FROM ts) < 16 THEN 'regular'
                ELSE 'aftermarket' END AS session,
           CAST(count(*) AS BIGINT) AS n,
           -- AVG ratio can land on a 6dp .5 boundary -> nudged round.
           (ROUND(AVG(value) - sign(AVG(value)) * 0.000000001, 6) + 0.0)
             AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def st02_session_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-ish windows: premarket/regular/aftermarket time-of-day buckets
    # (reference bars.py:139-351 fetches these pre-aggregated; P6 masks).
    ev = load_table(spark, sf_dir, "events")
    session = (
        F.when(F.hour("ts") < 9, "premarket")
        .when(F.hour("ts") < 16, "regular")
        .otherwise("aftermarket")
    )
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), session.alias("session"))
        .agg(F.count(F.lit(1)).alias("n"), r6s(F.avg("value")).alias("avg_value"))
    )


@register("st03_streaming_tumbling", oracle=_TUMBLING_ORACLE)
def st03_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The REAL streaming path: readStream -> watermark -> windowed agg ->
    # memory sink (availableNow). Over bounded input it must equal the
    # batch GROUP BY — so it shares st01's oracle.
    return run_tumbling_stream(spark, sf_dir, "1 hour")


@register(
    "st04_stateful_running_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND(SUM(value), 6) + 0.0)     AS total_value
    FROM events GROUP BY user_id
    """,
)
def st04_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom stateful streaming operator (applyInPandasWithState, SURVEY
    # §2.10 parity note): per-key state across micro-batches; the final
    # per-user snapshot must equal the batch GROUP BY.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stateful_totals_stream,
    )

    return run_stateful_totals_stream(spark, sf_dir)


@register(
    "st05_session_candles",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN EXTRACT(hour FROM ts) < 9 THEN 'premarket'
                WHEN EXTRACT(hour FROM ts) < 16 THEN 'regular'
                ELSE 'aftermarket' END AS session,
           (ROUND(arg_min(value, ts), 6) + 0.0) AS open,
           (ROUND(max(value), 6) + 0.0)         AS high,
           (ROUND(min(value), 6) + 0.0)         AS low,
           (ROUND(arg_max(value, ts), 6) + 0.0) AS close,
           CAST(count(*) AS BIGINT)     AS n
    FROM events GROUP BY 1, 2
    """,
)
def st05_session_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Session-window CANDLES (bars.py:139-351 fetches premarket/aftermarket
    # candles pre-aggregated from the API; here they're computed): the
    # ordered OHLCV roll-up (A1) bucketed by time-of-day session (P6) —
    # one shuffle, min_by/max_by for deterministic open/close.
    ev = load_table(spark, sf_dir, "events")
    session = (
        F.when(F.hour("ts") < 9, "premarket")
        .when(F.hour("ts") < 16, "regular")
        .otherwise("aftermarket")
    )
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), session.alias("session"))
        .agg(
            r6(F.min_by("value", "ts")).alias("open"),
            r6(F.max("value")).alias("high"),
            r6(F.min("value")).alias("low"),
            r6(F.max_by("value", "ts")).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "st06_stream_dedup",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM events GROUP BY event_type
    """,
)
def st06_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming dedup under at-least-once redelivery: the stream source
    # delivers every event twice; dropDuplicates(event_id) inside the
    # stream must reduce it back to exactly one copy (oracle = batch
    # aggregate over a single copy).
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_dedup_stream,
    )

    return run_dedup_stream(spark, sf_dir)


_SLIDING_ORACLE = """
    WITH base AS (
      SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h, event_type, value
      FROM events
    ), x AS (
      SELECT h AS win_start, event_type, value FROM base
      UNION ALL
      SELECT h - INTERVAL 1 HOUR, event_type, value FROM base
    )
    SELECT win_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM x GROUP BY 1, 2
"""


@register("st07_sliding_window", oracle=_SLIDING_ORACLE)
def st07_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BATCH sliding (hopping) windows: 2h windows every 1h — each event
    # contributes to exactly two windows (the tumbling hour and the one
    # before). Spark's window(ts, '2 hours', '1 hour') replicates rows
    # into covering windows BEFORE partial aggregation, so the shuffle
    # moves 2x partials, never 2x raw events. Oracle: UNION ALL of the
    # two slide-shifted tumbling groupings.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        sliding_agg,
    )

    return sliding_agg(load_table(spark, sf_dir, "events"))


@register("st08_streaming_sliding", oracle=_SLIDING_ORACLE)
def st08_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The REAL streaming path for sliding windows: readStream ->
    # watermark -> hopping-window agg -> memory sink (availableNow).
    # Bounded input + complete pass => must equal the batch sliding
    # GROUP BY, so it shares st07's oracle (same device as st03/st01).
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_sliding_stream,
    )

    return run_sliding_stream(spark, sf_dir)


@register(
    "st09_watermark_late_data",
    # Closed form of the dual-watermark semantics (see
    # streaming/events_stream.run_late_data_stream): 3-day-old
    # stragglers arrive in the last micro-batch, whose late-event filter
    # watermark (the PREVIOUS batch's, = max(batch 0) - 2h) sits far
    # above their window ends -> all dropped; the final no-data batch
    # flushes every window with end <= max(ts) - 2h (inclusive bound,
    # verified empirically). Result: on-time rows only, closed windows
    # only.
    oracle="""
    WITH cl AS (
      SELECT max(ts) - INTERVAL 3 DAY AS late_cut,
             max(ts) - INTERVAL 2 HOUR AS wm
      FROM events
    )
    SELECT CAST(date_trunc('hour', e.ts) AS TIMESTAMP) AS hour_ts,
           e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(e.value), 6) + 0.0) AS total_value
    FROM events e, cl
    WHERE e.ts >= cl.late_cut
      AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= cl.wm
    GROUP BY 1, 2
    """,
)
def st09_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL Structured Streaming run in append mode with out-of-order
    # arrival: stragglers older than the watermark are dropped, closed
    # windows emit exactly once. The one streaming behavior st03/st08
    # (complete-mode, in-order) cannot exercise.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_late_data_stream,
    )

    return run_late_data_stream(spark, sf_dir)


@register(
    "st10_stream_stream_join",
    # Bounded replay in one availableNow batch: the stream-stream
    # interval join drops nothing, so the append-mode result equals the
    # batch self-join restricted to the same time range.
    oracle="""
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (ROUND(SUM(v.value), 6) + 0.0) AS viewed_value
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
     AND p.event_type = 'purchase'
     AND v.event_type = 'view'
    GROUP BY p.user_id
    """,
)
def st10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two live feeds joined on key + bounded event-time interval, with
    # watermarks on both sides so join state expires (the 100 TB
    # requirement for any stream-stream join). st01-st09 cover windowed
    # aggregation, sessionization, dedup, lateness; this is the join
    # surface.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stream_stream_join,
    )

    return run_stream_stream_join(spark, sf_dir)


@register(
    "st11_session_window",
    # Gap-based sessionization (F.session_window, 30-min inactivity
    # gap): the oracle recomputes the same sessions with the classic
    # gaps-and-islands device — a new island starts where the gap to the
    # previous event exceeds the threshold; session end = last event +
    # gap (Spark's session_window.end convention).
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM marked
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def st11_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The REAL dynamic-gap session operator (not time-of-day buckets):
    # one groupBy on (user, session_window) — Spark merges overlapping
    # gap intervals inside the aggregation, one shuffle on user_id. The
    # same graph runs under Structured Streaming with a watermark (state
    # closes when the watermark passes session end + gap).
    ev = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.sum("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


@register(
    "st12_acid_ingest_stream",
    oracle="""
    SELECT event_id, user_id, ts, (ROUND(value, 6) + 0.0) AS value
    FROM events
    """,
)
def st12_acid_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Streaming ingestion COMPOSED with the ACID table (the S12/S13
    # lifecycle end-to-end): an at-least-once file stream whose every
    # micro-batch lands via foreachBatch -> transactional keyed merge.
    # The source is delivered TWICE; exactly-once lands in the snapshot
    # anyway, so the oracle is simply the deduplicated source — each
    # event once, byte-exact.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_acid_ingest_stream,
    )

    return run_acid_ingest_stream(spark, sf_dir)


@register(
    "st13_stream_static_join",
    # Bounded-input equivalence: the availableNow streaming run over the
    # same files must equal the batch join+GROUP BY (window('1 day')
    # start == UTC day truncation).
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
           c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def st13_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stream-static broadcast join (the standard streaming enrichment
    # shape): the dimension is read ONCE as a batch table and broadcast
    # into every micro-batch — no watermark coupling, no state store,
    # unlike the stream-stream join (st10). At cluster scale the stream
    # side never shuffles for the join; only the windowed agg exchanges
    # its partials.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stream_static_join,
    )

    return run_stream_static_join(spark, sf_dir)


@register(
    "st14_stream_stream_left_join",
    # LEFT OUTER stream-stream join: the inner matches are the st10
    # batch equivalence; the null-extended side is governed by state
    # eviction. Empirically confirmed at BOTH sf0.001 and sf0.01 by
    # diffing the engine's actual flushed null-row set against candidate
    # predicates (round-7 probe): a left (purchase) row flushes as a
    # null row iff p_ts < WM where WM is the GLOBAL watermark
    # min(max_purchase_ts, max_view_ts) - 2h (each side's watermark node
    # sees only its own filtered stream, and Spark takes the min). The
    # join condition's lower-bound gap contributes 0 on the left side
    # (v_ts <= p_ts means left state watermark = WM_right + 0); the
    # previous "+1h" claim was wrong — the boundary row at sf0.01 sits
    # 2h00m..2h01m before min(max_p, max_v) (emitted at 21:23:59 vs
    # WM 21:24:57, held at 21:42:42). Users whose only purchases are
    # unmatched-and-unflushed must not appear at all (HAVING).
    # viewed_value is an order-dependent double SUM -> nudged r6s round
    # mirrored on both sides (the q10 convention).
    oracle="""
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view')
      ) - INTERVAL 2 HOUR AS w
    ),
    p AS (
      SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id AS vu, ts AS vts, value AS vv
      FROM events WHERE event_type = 'view'
    ), j AS (
      SELECT p.pu, p.pts, v.vu, v.vv
      FROM p LEFT JOIN v
        ON v.vu = p.pu
       AND v.vts >= p.pts - INTERVAL 1 HOUR
       AND v.vts <= p.pts
    )
    SELECT pu AS user_id,
           CAST(count(vu) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN vu IS NULL
                          AND pts < (SELECT w FROM wm)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched_emitted,
           (ROUND(COALESCE(SUM(vv), 0.0)
                  - sign(COALESCE(SUM(vv), 0.0)) * 0.000000001, 6) + 0.0)
             AS viewed_value
    FROM j GROUP BY pu
    HAVING count(vu) + SUM(CASE WHEN vu IS NULL
                                 AND pts < (SELECT w FROM wm)
                                THEN 1 ELSE 0 END) > 0
    """,
)
def st14_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stream_stream_left_join,
    )

    return run_stream_stream_left_join(spark, sf_dir)


@register(
    "st15_stream_stream_right_join",
    # RIGHT OUTER stream-stream join — mirror of st14. Emitted rows:
    # every matched pair (a view matched by k purchases appears k
    # times, like the inner join) plus null-extended UNMATCHED views
    # whose state evicted. Eviction, empirically confirmed at sf0.001
    # and sf0.01 (round-7 probe, see events_stream._purchase_view_join):
    # a view flushes iff v_ts < WM - 1h with
    # WM = min(max_purchase_ts, max_view_ts) - 2h — asymmetric vs the
    # left side because matching purchases satisfy p_ts <= v_ts + 1h,
    # so the right state watermark subtracts the 1h bound. The oracle
    # filters un-emitted rows BEFORE grouping (users with only
    # unmatched-unflushed views must not appear), and viewed_value —
    # an order-dependent double SUM — takes the nudged r6s round.
    oracle="""
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view')
      ) - INTERVAL 2 HOUR AS w
    ),
    p AS (
      SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id AS vu, ts AS vts, value AS vv
      FROM events WHERE event_type = 'view'
    ), e AS (
      SELECT v.vu, v.vts, v.vv, p.pu
      FROM v LEFT JOIN p
        ON p.pu = v.vu
       AND v.vts >= p.pts - INTERVAL 1 HOUR
       AND v.vts <= p.pts
      WHERE p.pu IS NOT NULL
         OR v.vts < (SELECT w FROM wm) - INTERVAL 1 HOUR
    )
    SELECT vu AS user_id,
           CAST(count(pu) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN pu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched_emitted,
           (ROUND(SUM(vv) - sign(SUM(vv)) * 0.000000001, 6) + 0.0)
             AS viewed_value
    FROM e GROUP BY vu
    """,
)
def st15_stream_stream_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stream_stream_right_join,
    )

    return run_stream_stream_right_join(spark, sf_dir)


@register(
    "st16_stream_stream_full_join",
    # FULL OUTER stream-stream join — both null sides at once,
    # completing the st10/st14/st15 family. Emitted rows: matched
    # pairs, unmatched purchases with p_ts < WM (left predicate,
    # st14), unmatched views with v_ts < WM - 1h (right predicate,
    # st15); WM = min(max_purchase_ts, max_view_ts) - 2h. Grouped by
    # the coalesced user key; un-emitted rows filtered BEFORE grouping.
    oracle="""
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'view')
      ) - INTERVAL 2 HOUR AS w
    ),
    p AS (
      SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'
    ), v AS (
      SELECT user_id AS vu, ts AS vts, value AS vv
      FROM events WHERE event_type = 'view'
    ), e AS (
      SELECT p.pu, p.pts, v.vu, v.vts, v.vv
      FROM p FULL JOIN v
        ON v.vu = p.pu
       AND v.vts >= p.pts - INTERVAL 1 HOUR
       AND v.vts <= p.pts
      WHERE (pu IS NOT NULL AND vu IS NOT NULL)
         OR (vu IS NULL AND pts < (SELECT w FROM wm))
         OR (pu IS NULL AND vts < (SELECT w FROM wm) - INTERVAL 1 HOUR)
    )
    SELECT COALESCE(pu, vu) AS user_id,
           CAST(SUM(CASE WHEN pu IS NOT NULL AND vu IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN vu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched_purchases,
           CAST(SUM(CASE WHEN pu IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unmatched_views,
           (ROUND(COALESCE(SUM(vv), 0.0)
                  - sign(COALESCE(SUM(vv), 0.0)) * 0.000000001, 6) + 0.0)
             AS viewed_value
    FROM e GROUP BY COALESCE(pu, vu)
    """,
)
def st16_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_stream_stream_full_join,
    )

    return run_stream_stream_full_join(spark, sf_dir)


@register(
    "st17_stateful_timeout_sessions",
    # Stateful sessionization with EVENT-TIME TIMEOUT state GC
    # (applyInPandasWithState + EventTimeTimeout) — the eviction-driven
    # stateful primitive st04's NoTimeout variant doesn't cover.
    # Per-user 1h-gap sessions close either when a later event arrives
    # (> 1h gap — 'gap', emitted immediately) or when the watermark
    # passes last_ts + 1h ('timeout', flushed by the final no-data
    # batch). Empirically confirmed at sf0.01 (round-7 probe, engine
    # flush set diffed against the closed form): every non-final
    # session per user emits as 'gap'; the final open session emits as
    # 'timeout' iff last_ts < max(ts) - 3h (watermark delay 2h + the 1h
    # registered timeout); later open sessions stay in discarded state.
    # The state op works at MILLISECOND grain (GroupState timeout
    # timestamps are ms), so the oracle sessionizes on epoch_ms too.
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS tsm FROM events
    ), s AS (
      SELECT user_id, event_id, tsm,
             CASE WHEN lag(tsm) OVER w IS NULL
                    OR tsm - lag(tsm) OVER w > 3600000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id)
    ), g AS (
      SELECT user_id, tsm,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsm, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), sess AS (
      SELECT user_id, sid,
             min(tsm) AS start_ms, max(tsm) AS last_ms,
             count(*) AS n
      FROM g GROUP BY user_id, sid
    ), mx AS (SELECT max(epoch_ms(ts)) AS m FROM events),
    lastsid AS (SELECT user_id, max(sid) AS lsid FROM sess GROUP BY user_id)
    SELECT s.user_id,
           make_timestamp(start_ms * 1000) AS session_start,
           CAST(n AS BIGINT) AS n_events,
           CASE WHEN s.sid <> l.lsid THEN 'gap' ELSE 'timeout' END AS closed_by
    FROM sess s JOIN lastsid l ON s.user_id = l.user_id
    WHERE s.sid <> l.lsid
       OR s.last_ms < (SELECT m FROM mx) - 3 * 3600000
    """,
)
def st17_stateful_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_timeout_sessions_stream,
    )

    return run_timeout_sessions_stream(spark, sf_dir)


@register(
    "st18_tws_record_highs",
    # The NEW Spark 4 arbitrary-state API (transformWithStateInPandas +
    # StatefulProcessor + typed ValueState) — migration target for every
    # legacy applyInPandasWithState pipeline (st04/st17). Per-user
    # record-high change log: a row emits whenever an event's value
    # strictly exceeds the user's running max in (ts, event_id) order.
    # Closed form: value > max(all prior values) per user. Where the
    # protobuf worker dep is absent the engine degrades to the legacy
    # applyInPandasWithState carrier with identical semantics (gated
    # import-try in events_stream.run_record_highs_stream).
    oracle="""
    SELECT user_id, ts, event_id,
           (ROUND(value, 6) + 0.0) AS value
    FROM (
      SELECT user_id, ts, event_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max
      FROM events
    )
    WHERE prev_max IS NULL OR value > prev_max
    """,
)
def st18_tws_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_record_highs_stream,
    )

    return run_record_highs_stream(spark, sf_dir)


@register(
    "st19_dedup_within_watermark",
    # State-BOUNDED streaming dedup (dropDuplicatesWithinWatermark) —
    # the scale path st06's plain dropDuplicates docstring promises:
    # dedup state expires with the watermark instead of holding every
    # key forever. Doubled at-least-once delivery, all duplicates
    # inside the 2h horizon -> exactly one copy survives; oracle = the
    # batch aggregate over one copy (same closed form as st06).
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM events GROUP BY event_type
    """,
)
def st19_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_dedup_within_watermark_stream,
    )

    return run_dedup_within_watermark_stream(spark, sf_dir)


@register(
    "st20_dlq_ingest",
    # Streaming ingest with a dead-letter queue (quarantine routing on
    # top of st12's exactly-once ACID merge): valid rows keyed-merge
    # into the main table (exactly-once under doubled delivery),
    # quarantined rows ('error' events) append to the DLQ table (at-
    # least-once by design; deduped for the summary). main + DLQ
    # partition the source — nothing is dropped silently.
    oracle="""
    SELECT 'main' AS route, event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM events WHERE event_type <> 'error' GROUP BY event_type
    UNION ALL
    SELECT 'dlq' AS route, event_type,
           CAST(count(*) AS BIGINT) AS n,
           (ROUND(SUM(value), 6) + 0.0) AS total_value
    FROM events WHERE event_type = 'error' GROUP BY event_type
    """,
)
def st20_dlq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_dlq_ingest_stream,
    )

    return run_dlq_ingest_stream(spark, sf_dir)


@register(
    "st21_stream_cdc_apply",
    # Streaming CDC apply with DELETE tombstones — the Debezium loop
    # closing streaming x ACID x MERGE: each micro-batch's inserts,
    # updates, and deletes land as ONE atomic commit via foreachBatch ->
    # merge_full(tombstone_col). The two change batches are built to
    # commute, so the file stream's discovery order cannot change the
    # final snapshot, which the oracle states in closed form over the
    # source table.
    oracle="""
    SELECT event_id, user_id, ts, event_type,
           (ROUND(CASE WHEN event_id % 3 <> 2 AND event_id % 5 = 0
                            AND event_type <> 'click'
                       THEN value + 1.0 ELSE value END, 6) + 0.0) AS value
    FROM events
    WHERE NOT (event_id % 3 <> 2 AND event_id % 5 = 0
               AND event_type = 'click')
    """,
)
def st21_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_cdc_apply_stream,
    )

    return run_cdc_apply_stream(spark, sf_dir)


@register(
    "st22_session_window_sessions",
    # NATIVE streaming sessionization: session_window + watermark in
    # append mode — the at-scale migration target for st17's
    # applyInPandasWithState sessionizer (SCALE.md round-12 addendum 2
    # measured st17's 100x-keys floor at ~190 s of per-key GroupState
    # bridge traffic; this operator keeps the session state machine
    # JVM-side). Closed form over bounded input: 1h-gap sessions where
    # a NEW session starts when ts - prev_ts >= 1h (strict overlap
    # semantics — each event claims [ts, ts+gap)), emitted iff the
    # final watermark max(ts) - 2h reached the session end last_ts + 1h
    # (NON-strict <=, unlike st17's strict GroupState timeout — both
    # boundaries pinned by the planted probe in tests/test_domain.py). Microsecond grain end to end: Spark
    # session merging and DuckDB interval arithmetic are both exact on
    # epoch-us timestamps.
    oracle="""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 1 HOUR
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ), sess AS (
      SELECT user_id,
             CAST(min(ts) AS TIMESTAMP) AS session_start,
             CAST(max(ts) + INTERVAL 1 HOUR AS TIMESTAMP) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             (ROUND(SUM(value), 6) + 0.0) AS total_value
      FROM g GROUP BY user_id, sid
    ), mx AS (SELECT max(ts) AS m FROM events)
    SELECT user_id, session_start, session_end, n_events, total_value
    FROM sess
    WHERE session_end <= (SELECT m FROM mx) - INTERVAL 2 HOUR
    """,
)
def st22_session_window_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_session_window_stream,
    )

    return run_session_window_stream(spark, sf_dir)


@register(
    "st23_delta_txn_ingest_stream",
    # The OPEN-FORMAT exactly-once ingestion loop (the txn twin of
    # st12): every micro-batch lands as a blind AcidTable.append_txn
    # stamped with the Delta protocol's txn {appId, version=batch_id}
    # in the table's _delta_log; a replayed batch (the foreachBatch
    # retry race — sink committed, stream checkpoint didn't advance) is
    # skipped by the table's txn watermark, asserted inside the runner.
    # No content keys, no sink-side state: the idempotence lives in the
    # open log, survives checkpoints, and is visible to any foreign
    # Delta engine resuming the stream. Exactly-once lands whatever the
    # retry pattern, so the oracle is simply the source — each event
    # once, byte-exact.
    oracle="""
    SELECT event_id, user_id, ts, (ROUND(value, 6) + 0.0) AS value
    FROM events
    """,
)
def st23_delta_txn_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_delta_txn_ingest_stream,
    )

    return run_delta_txn_ingest_stream(spark, sf_dir)
