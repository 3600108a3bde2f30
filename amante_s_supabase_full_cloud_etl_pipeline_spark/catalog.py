"""Table catalog for the driver-generated test datasets.

``/root/testdata/sf*/`` holds a TPC-H-ish star schema plus stream/LLM
tables (``TESTDATA.md``). At 100 TB these would be partitioned
(fact tables by date) and bucketed (join keys); locally they are
single parquet files — the loading path is identical
(``spark.read.parquet``), and Catalyst handles predicate pushdown /
column pruning either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to always broadcast (KB–MB scale even
#: at high SF; region/nation are constant-size like the reference's
#: literal category dicts, SURVEY.md §2.5).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: inferred parquet schema per (path, mtime, nanosAsLong conf) (r14
#: metadata caching): ``spark.read.parquet`` reads footers to infer
#: the schema at FRAME CONSTRUCTION time — ~0.1 s per table per query
#: build, the dominant untimed cost the r14 bench-window fix surfaced. Schemas are a property of the files, not of any query's
#: result, so caching them is table-metadata discipline (the same
#: class as Spark's own FileStatusCache), not result caching. The key
#: carries the path's ``st_mtime_ns``, so a table rewritten in place
#: (``tools/make_sf1.py``) is re-inferred, and the reader conf that
#: changes how TIMESTAMP(NANOS) infers, so a session with the other
#: setting never reuses the schema.
_SCHEMA_CACHE: dict[tuple, object] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Lazy — no IO until an action runs."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None  # not a local path: key by path and conf only
    key = (
        path,
        mtime,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as long (nanosAsLong conf): convert
            # to a microsecond timestamp with exact integer division —
            # double division would lose precision at ~1.7e18 ns epochs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # µs-precision parquet without isAdjustedToUTC infers as
            # TIMESTAMP_NTZ, which event-time watermarks reject. The
            # session timezone is pinned to UTC, so NTZ→LTZ is a pure
            # type re-tag (identical instants, identical oracle hashes).
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(
    spark: SparkSession, sf_dir: str, scope: str = "session"
) -> None:
    """Register every test table as a temp view (for spark.sql use).
    ``scope="global"`` registers global temp views instead — the form
    Thrift/JDBC clients (separate Spark sessions) can see, as
    ``global_temp.<name>``."""
    for name in TABLES:
        df = table(spark, sf_dir, name)
        if scope == "global":
            df.createOrReplaceGlobalTempView(name)
        else:
            df.createOrReplaceTempView(name)
