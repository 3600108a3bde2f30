"""Driver-checked registry row for the time-series operators
(operators/timeseries.py): rolling z-score anomalies, OHLC bucket
downsampling, and gap-fill with linear interpolation, emitted as one
long-format metrics panel (series, key, ts, metric, value) — the
shape a monitoring store ingests, and one schema with no NULLs for
the driver hash. All three are pure window/groupBy compositions with
exact-decimal accumulation, so the oracle mirrors the same explicit
float formulas relationally (identical operands -> identical IEEE
doubles, with round(6) at the representation boundary)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import catalog
from ..registry import register
from ._common import dec

_Z_SQL = """
    fr AS (
        SELECT event_type, ts, event_id, value,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2))
                             * CAST(value AS DECIMAL(18,2))
                        AS DECIMAL(38,4))) OVER w AS DOUBLE) AS q,
               COUNT(value) OVER w AS n
        FROM events
        WINDOW w AS (
            PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING
        )
    ),
    zrows AS (
        SELECT event_type, ts, value,
               round((value - s / CAST(n AS DOUBLE))
                     / sqrt((q - s * s / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0)), 6) AS zscore
        FROM fr
        WHERE n = 50
          AND (q - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0
          AND abs(round((value - s / CAST(n AS DOUBLE))
                        / sqrt((q - s * s / CAST(n AS DOUBLE))
                               / (CAST(n AS DOUBLE) - 1.0)), 6)) > 2.0
    )
"""

_OHLC_SQL = """
    b AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_start, value,
               first_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id
               ) AS open,
               first_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC
               ) AS close
        FROM events
    ),
    bars AS (
        SELECT event_type, bucket_start,
               MAX(open) AS open, MAX(value) AS high, MIN(value) AS low,
               MAX(close) AS close,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
               CAST(COUNT(*) AS DOUBLE) AS n_rows
        FROM b GROUP BY event_type, bucket_start
    )
"""

_GAP_SQL = """
    daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS obs
        FROM events WHERE event_type = 'purchase' AND user_id < 40
        GROUP BY 1, 2
    ),
    bounds AS (
        SELECT user_id, min(ts) AS lo, max(ts) AS hi FROM daily GROUP BY user_id
    ),
    grid AS (
        SELECT b.user_id, g.ts
        FROM bounds b, unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS g(ts)
    ),
    j AS (
        SELECT g.user_id, g.ts, d.obs
        FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.ts = g.ts
    ),
    filled AS (
        SELECT user_id, ts, obs,
               last_value(obs IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN obs IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
               first_value(obs IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN obs IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM j
    ),
    gaps AS (
        SELECT user_id, ts,
               CASE WHEN obs IS NOT NULL THEN obs
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE round(pv + (nv - pv)
                         * (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
                            / CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE)), 6)
               END AS value,
               CASE WHEN obs IS NULL THEN 1.0 ELSE 0.0 END AS was_filled
        FROM filled
    )
"""


@register(
    "timeseries_metrics_long",
    oracle=f"""
    WITH {_Z_SQL}, {_OHLC_SQL}, {_GAP_SQL}
    SELECT * FROM (
        SELECT 'zscore' AS series, event_type AS key, ts, metric, value
        FROM (SELECT event_type, ts, value, zscore FROM zrows)
        UNPIVOT (value FOR metric IN (value, zscore))
        UNION ALL
        SELECT 'ohlc_hourly' AS series, event_type AS key,
               bucket_start AS ts, metric, value
        FROM bars
        UNPIVOT (value FOR metric IN (open, high, low, close, volume, n_rows))
        UNION ALL
        SELECT 'gap_fill_daily' AS series, CAST(user_id AS VARCHAR) AS key,
               ts, metric, value
        FROM gaps
        UNPIVOT (value FOR metric IN (value, was_filled))
    ) ORDER BY series, key, ts, metric
    """,
)
def timeseries_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-series operator family over events as one long-format
    panel. ``zscore``: each value scored against the exact-decimal
    mean/variance of the 50 PRECEDING events of its type
    (self-excluded frame), |z| > 2 rows only. ``ohlc_hourly``: hourly
    open/high/low/close/volume bars per type in ONE hash aggregation
    (min_by/max_by on the (ts, event_id) struct — no window; the
    oracle needs windows only because SQL lacks composite-order
    min_by). ``gap_fill_daily``: sparse per-user daily purchase
    totals regularized onto per-key daily grids (sequence()/explode,
    no global calendar cross join), missing days linearly
    interpolated on epoch-microsecond fractions, edges clamped."""
    from ..operators.timeseries import (
        gap_fill_interpolate,
        ohlc_buckets,
        rolling_zscore,
    )

    ev = catalog.table(spark, sf_dir, "events")

    # each family melts with ONE unpivot over its single aggregation —
    # a per-metric union would re-execute the source agg once per leg
    def melt(df, series, values):
        return df.unpivot(["key", "ts"], values, "metric", "value").select(
            F.lit(series).alias("series"), "key", "ts", "metric", "value"
        )

    z = rolling_zscore(
        ev, key_cols=["event_type"], ts_col="ts", value_col="value",
        order_cols=["ts", "event_id"], window=50, threshold=2.0,
    )
    z_long = melt(
        z.select(F.col("event_type").alias("key"), "ts", "value", "zscore"),
        "zscore", ["value", "zscore"],
    )

    bars = ohlc_buckets(
        ev, key_cols=["event_type"], ts_col="ts", value_col="value",
        tiebreak_col="event_id", bucket="hour",
    )
    o_metrics = ["open", "high", "low", "close", "volume", "n_rows"]
    o_long = melt(
        bars.select(
            F.col("event_type").alias("key"),
            F.col("bucket_start").alias("ts"),
            *[F.col(m).cast("double").alias(m) for m in o_metrics],
        ),
        "ohlc_hourly", o_metrics,
    )

    daily = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 40))
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("ts"))
        .agg(F.sum(dec(F.col("value"))).cast("double").alias("daily_total"))
    )
    filled = gap_fill_interpolate(
        daily, key_cols=["user_id"], ts_col="ts", value_col="daily_total",
        step="1 day",
    )
    g_long = melt(
        filled.select(
            F.col("user_id").cast("string").alias("key"),
            "ts",
            "value",
            F.col("filled").cast("double").alias("was_filled"),
        ),
        "gap_fill_daily", ["value", "was_filled"],
    )

    return (
        z_long.unionByName(o_long).unionByName(g_long)
        .orderBy("series", "key", "ts", "metric")
    )
