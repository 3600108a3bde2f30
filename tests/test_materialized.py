"""Incremental materialized aggregate views: CDF-driven refresh must
land exactly on a full recompute under inserts, updates, group moves,
purges, compaction, and crash-replay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.materialized import (
    IncrementalAggView,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
    ParquetTable,
)

KEYS, ORDER = ["k"], ["ts"]


def _fact(spark, rows):
    return spark.createDataFrame(rows, "k int, grp string, amt int, ts int")


@pytest.fixture()
def source(spark, tmp_path):
    return ParquetTable(spark, str(tmp_path / "fact"))


@pytest.fixture()
def view(spark, tmp_path, source):
    return IncrementalAggView(
        spark,
        str(tmp_path / "view"),
        source,
        keys=KEYS,
        group_cols=["grp"],
        sum_cols=["amt"],
    )


def _expected(source):
    return {
        (r["grp"], r["sum_amt"], r["n_rows"])
        for r in source.read()
        .groupBy("grp")
        .agg(F.sum("amt").alias("sum_amt"), F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }


def _got(view):
    return {
        (r["grp"], r["sum_amt"], r["n_rows"]) for r in view.read().collect()
    }


def test_refresh_tracks_full_recompute(spark, source, view):
    source.merge(
        _fact(spark, [(k, "a" if k % 2 else "b", k * 10, 1) for k in range(20)]),
        KEYS,
        ORDER,
    )
    view.refresh()
    assert _got(view) == _expected(source)

    # updates: amount change, group move, and a brand-new group
    source.merge(
        _fact(spark, [(1, "a", 999, 2), (2, "a", 5, 2), (21, "c", 7, 2)]),
        KEYS,
        ORDER,
    )
    view.refresh()
    assert _got(view) == _expected(source)
    assert view.last_consumed_version() == source.current_version()


def test_refresh_handles_group_disappearance(spark, source, view):
    source.merge(
        _fact(spark, [(1, "solo", 10, 1), (2, "rest", 20, 1)]), KEYS, ORDER
    )
    view.refresh()
    # purge the only 'solo' row via an overwrite commit
    source.overwrite(source.read().filter(F.col("grp") != "solo"))
    view.refresh()
    assert _got(view) == _expected(source)
    assert view.read().filter(F.col("grp") == "solo").count() == 0


def test_refresh_is_idempotent_and_skips_compaction(spark, source, view):
    for k in range(6):
        source.merge(_fact(spark, [(k, "g", k, 1)]), KEYS, ORDER)
    v = view.refresh()
    before = _got(view)
    assert view.refresh() == v, "unchanged source: no-op"
    assert _got(view) == before

    source.compact(target_file_bytes=1 << 30)
    view.refresh()  # compaction emits an empty feed
    assert _got(view) == before == _expected(source)


def test_view_table_compaction_does_not_reset_consumption(spark, source, view):
    """Self-review r5: compacting the VIEW's own table puts a
    batch_id-less maintenance commit on top; last_consumed_version
    must walk past it (like the replay guard) — reading only the
    latest manifest returned 0 and the next refresh re-folded the
    source's entire history into the populated view, double-counting
    every sum."""
    source.merge(_fact(spark, [(k, "g", 10, 1) for k in range(8)]), KEYS, ORDER)
    view.refresh()
    consumed = view.last_consumed_version()
    before = _got(view)
    view.table.compact(min_files=1, sort_by=["grp"])  # force a real commit
    assert view.table.manifest(view.table.current_version()).get("maintenance")
    assert view.last_consumed_version() == consumed
    view.refresh()  # must be a no-op, not a full re-fold
    assert _got(view) == before == _expected(source)
    # and a genuine source change still folds incrementally
    source.merge(_fact(spark, [(99, "g", 5, 2)]), KEYS, ORDER)
    view.refresh()
    assert _got(view) == _expected(source)


def test_streaming_etl_maintains_view_per_micro_batch(spark, tmp_path):
    """A view refreshed after each micro-batch of the transactional
    POS handler tracks the fact table; a crash-replayed batch leaves
    the view untouched (refresh idempotency rides the source
    version)."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import (
        raw_pos_df,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
        FACT_KEYS,
        pos_table_handler,
    )

    fact_t = ParquetTable(spark, str(tmp_path / "fact"))
    quar_t = ParquetTable(spark, str(tmp_path / "quar"))
    view = IncrementalAggView(
        spark,
        str(tmp_path / "sales_by_category"),
        fact_t,
        keys=list(FACT_KEYS),
        group_cols=["category"],
        sum_cols=["total_order_amount", "quantity"],
    )
    handle = pos_table_handler(fact_t, quar_t)

    raw = raw_pos_df(spark)
    handle(raw, 0)
    view.refresh()

    def recompute():
        return {
            (r["category"], r["sum_total_order_amount"], r["sum_quantity"], r["n_rows"])
            for r in fact_t.read()
            .groupBy("category")
            .agg(
                F.sum("total_order_amount").alias("sum_total_order_amount"),
                F.sum("quantity").alias("sum_quantity"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .collect()
        }

    def view_state():
        return {
            (r["category"], r["sum_total_order_amount"], r["sum_quantity"], r["n_rows"])
            for r in view.read().collect()
        }

    assert view_state() == recompute()
    v = view.table.current_version()

    handle(raw, 0)  # crash-replay: fact commit AND view refresh no-op
    view.refresh()
    assert view.table.current_version() == v
    assert view_state() == recompute()
