"""End-to-end Structured Streaming test: the file-drop POS ETL
(exactly-once via checkpoint + keyed table MERGE)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import raw_pos_df
from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
    run_pos_pipeline_transactional,
    write_landing_csv,
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "landing": str(tmp_path / "landing"),
        "fact": str(tmp_path / "fact"),
        "quarantine": str(tmp_path / "quarantine"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    os.makedirs(d["landing"], exist_ok=True)
    return d


def test_transactional_pipeline_stream_restart_idempotent(spark, dirs):
    """Full streaming run into ParquetTable sinks: the first drain
    commits the fixture (16 fact rows, O9 quarantined); a RESTART over
    the same checkpoint re-reads nothing; a new file is picked up
    incrementally, and a re-sent order upserts instead of duplicating;
    a restart with a WIPED checkpoint replays every file but the keyed
    merge leaves row counts unchanged — the two independent
    exactly-once layers."""
    import shutil

    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        ParquetTable,
    )

    fact_t = ParquetTable(spark, dirs["fact"])
    quar_t = ParquetTable(spark, dirs["quarantine"])

    def drain():
        q = run_pos_pipeline_transactional(
            spark, dirs["landing"], fact_t, quar_t, dirs["checkpoint"]
        )
        q.awaitTermination(120)

    raw = raw_pos_df(spark)
    write_landing_csv(raw, dirs["landing"], "batch1")
    drain()
    v1 = fact_t.current_version()
    assert v1 >= 1 and fact_t.read().count() == 16  # 17 line items, 1 quarantined
    assert [r["order_id"] for r in quar_t.read().collect()] == ["O9"]

    # restart over the same checkpoint: files already consumed
    drain()
    assert (fact_t.current_version(), fact_t.read().count()) == (v1, 16)

    # a new order arriving is picked up incrementally
    o1 = raw.filter(F.col("`Order ID`") == "O1")
    write_landing_csv(o1.withColumn("Order ID", F.lit("O1-new")), dirs["landing"], "batch2")
    drain()
    assert fact_t.read().count() == 18  # +2 line items

    # a re-sent order upserts on FACT_KEYS
    write_landing_csv(o1, dirs["landing"], "batch3")
    drain()
    assert fact_t.read().count() == 18

    # checkpoint lost → at-least-once replay; keyed MERGE absorbs it
    shutil.rmtree(dirs["checkpoint"])
    drain()
    assert (fact_t.read().count(), quar_t.read().count()) == (18, 1)

