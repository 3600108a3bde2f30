"""Event-stream analytics in batch form (SURVEY.md §2.8 extension):
tumbling and sliding windows, sessionization and late-data
filtering, expressed so the DuckDB oracle can verify the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import catalog
from ..registry import register
from ._common import dec


@register(
    "events_windowed_counts",
    oracle="""
    WITH sliding AS (
        -- candidate 10-min-aligned starts around each event's hour;
        -- the WHERE keeps exactly the 6 windows containing the event
        SELECT e.event_type, CAST(e.value AS DECIMAL(18,2)) AS v,
               date_trunc('hour', e.ts) - INTERVAL 50 MINUTE
                 + to_minutes(CAST(s.i * 10 AS BIGINT)) AS window_start
        FROM events e,
             unnest(range(0, 11)) AS s(i)
        WHERE date_trunc('hour', e.ts) - INTERVAL 50 MINUTE
                + to_minutes(CAST(s.i * 10 AS BIGINT)) <= e.ts
          AND e.ts < date_trunc('hour', e.ts) - INTERVAL 50 MINUTE
                + to_minutes(CAST(s.i * 10 AS BIGINT)) + INTERVAL 60 MINUTE
    )
    SELECT 'tumbling_1h' AS window_kind,
           date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding_1h_10m' AS window_kind, window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM sliding GROUP BY 2, 3
    UNION ALL
    SELECT 'late_6h_gate' AS window_kind,
           (SELECT MAX(ts) - INTERVAL 6 HOUR FROM events) AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts >= (SELECT MAX(ts) - INTERVAL 6 HOUR FROM events)
    GROUP BY event_type
    ORDER BY window_kind, window_start, event_type
    """,
)
def events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h AND sliding (1h length, 10-min slide) event-time
    windows PLUS the 6h late-data gate in one labeled result (each
    event lands in exactly 6 sliding windows, and the late_6h_gate
    leg is the cutoff a 6h watermark enforces, its window_start
    carrying the cutoff timestamp). The oracle reconstructs Spark's window set
    relationally (explode of 6 aligned offsets per event)."""
    ev = catalog.table(spark, sf_dir, "events")
    tumbling = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(F.lit("tumbling_1h").alias("window_kind"), "*")
    )
    sliding = (
        ev.groupBy(F.window("ts", "1 hour", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(
            F.lit("sliding_1h_10m").alias("window_kind"),
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    cutoff = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 6 HOURS")).alias("window_start")
    )
    late = (
        ev.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("window_start"))
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("double").alias("total_value"),
        )
        .select(F.lit("late_6h_gate").alias("window_kind"), "*")
    )
    return (
        tumbling.unionByName(sliding)
        .unionByName(late)
        .orderBy("window_kind", "window_start", "event_type")
    )


@register(
    "events_sessionization",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    marked AS (
        -- floor(epoch) mirrors Spark's unix_timestamp (whole seconds)
        SELECT *, CASE WHEN prev_ts IS NULL
                        OR CAST(floor(epoch(ts)) AS BIGINT)
                           - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
                       THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           CAST(floor(epoch(MAX(ts))) AS BIGINT)
             - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
    FROM sessions
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + running
    sum of session-start markers — the classic shuffle-once
    per-user-window plan."""
    ev = catalog.table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_seq", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("bigint")
            .alias("duration_s"),
        )
        .orderBy("user_id", "session_seq")
    )


@register(
    "events_asof_directions",
    oracle="""
    WITH err AS (
        SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'error'
    ),
    pur AS (
        SELECT user_id, ts, MAX(value) AS rvalue
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    pur_l AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'purchase'
    ),
    err_r AS (
        SELECT user_id, ts, MAX(value) AS rvalue
        FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ),
    fwd AS (
        SELECT p.user_id, p.ts, p.event_id, p.value,
               min(e.ts) FILTER (
                   WHERE e.ts >= p.ts
                     AND date_diff('second', p.ts, e.ts) <= 1800
               ) AS asof_ts
        FROM pur_l p LEFT JOIN err_r e ON e.user_id = p.user_id
        GROUP BY p.user_id, p.ts, p.event_id, p.value
    )
    SELECT * FROM (
        SELECT 'backward' AS direction, e.user_id, e.ts, e.event_id, e.value,
               p.ts AS asof_ts, p.rvalue AS asof_value
        FROM err e ASOF LEFT JOIN pur p
          ON e.user_id = p.user_id AND e.ts >= p.ts
        UNION ALL
        SELECT 'forward_30m' AS direction, f.user_id, f.ts, f.event_id,
               f.value, f.asof_ts, e2.rvalue AS asof_value
        FROM fwd f LEFT JOIN err_r e2
          ON e2.user_id = f.user_id AND e2.ts = f.asof_ts
    ) ORDER BY direction, user_id, event_id
    """,
)
def events_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both as-of join directions (operators/asof.py, pandas
    merge_asof parity) in one labeled result. ``backward``: each
    error event picks up the user's most recent prior purchase
    (oracle: DuckDB's native ASOF LEFT JOIN). ``forward_30m``: each
    purchase picks up the user's EARLIEST error within the next 30
    minutes — for the forward direction, earliest-then-null-if-
    beyond-tolerance equals earliest-within-tolerance, which the
    oracle's filtered min computes; the tolerance compares whole
    epoch seconds on both sides (Spark unix_timestamp floors, DuckDB
    date_diff('second') counts boundaries — identical). Right sides
    pre-deduped per (user, ts) so tie rules are engine-independent;
    NULLs on misses are the hash-green r02 shape (allowlisted)."""
    from ..operators.asof import asof_join

    ev = catalog.table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error")
    pur = ev.filter(F.col("event_type") == "purchase")
    backward = asof_join(
        err.select("user_id", "ts", "event_id", "value"),
        pur.groupBy("user_id", "ts").agg(F.max("value").alias("rvalue")),
        key=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["ts", "rvalue"],
    ).select(
        F.lit("backward").alias("direction"),
        "user_id", "ts", "event_id", "value",
        "asof_ts", F.col("asof_rvalue").alias("asof_value"),
    )
    forward = asof_join(
        pur.select("user_id", "ts", "event_id", "value"),
        err.groupBy("user_id", "ts").agg(F.max("value").alias("rvalue")),
        key=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["ts", "rvalue"],
        direction="forward", tolerance=1800,
    ).select(
        F.lit("forward_30m").alias("direction"),
        "user_id", "ts", "event_id", "value",
        "asof_ts", F.col("asof_rvalue").alias("asof_value"),
    )
    return backward.unionByName(forward).orderBy(
        "direction", "user_id", "event_id"
    )
