"""Unit tests for star-schema ELT + upsert internals (the parts whose
values are engine-specific and thus not oracle-comparable)."""

from __future__ import annotations

from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.operators import star
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.star import (
    build_dim,
    pos_dims_from_fact,
    resolve_star,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.upsert import (
    dedup_latest,
    merge_upsert,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import raw_pos_df
from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_kernel import transform_pos


def test_surrogate_keys_deterministic_and_unique(spark):
    fact = transform_pos(raw_pos_df(spark), spark)
    dim1 = build_dim(fact, "items", "items_key").collect()
    dim2 = build_dim(fact, "items", "items_key").collect()
    assert sorted(map(tuple, dim1)) == sorted(map(tuple, dim2))  # run-stable
    keys = [r["items_key"] for r in dim1]
    assert len(keys) == len(set(keys))  # no collisions at dim scale


def test_resolve_star_joins_back_losslessly(spark):
    fact = transform_pos(raw_pos_df(spark), spark).cache()
    dims = pos_dims_from_fact(fact)
    resolved, quarantine = resolve_star(fact, dims)
    assert quarantine.count() == 0  # dims built from fact → full coverage
    assert resolved.count() == fact.count()
    # every attr became a surrogate key column; text columns dropped
    for attr in dims:
        assert f"{attr}_key" in resolved.columns
        assert attr not in resolved.columns
    # join back through the dim reproduces the original text values
    items_dim = dims["items"]
    back = resolved.join(items_dim, "items_key", "left")
    assert back.filter(F.col("items").isNull()).count() == 0
    fact.unpersist()


def _resolved_rows(staging, dims):
    resolved, quarantine = resolve_star(staging, dims)
    return (
        resolved.columns,
        quarantine.columns,
        sorted(map(tuple, resolved.collect()), key=repr),
        sorted(map(tuple, quarantine.collect()), key=repr),
    )


def test_pos_dims_above_row_bound_join_lazily_with_same_output(spark, monkeypatch):
    """Forcing test for the eager dims' row bound: with the bound below
    the distinct (attribute, value) count, the dims are lazy and
    joined, and resolve gives the fast path's rows, quarantine
    included (dims built without one category, so its rows miss)."""
    fact = transform_pos(raw_pos_df(spark), spark).cache()
    gone = fact.where(F.col("category").isNotNull()).first()["category"]
    source = fact.where(F.col("category") != gone)
    fast = pos_dims_from_fact(source)
    assert all(d in star._ON_DRIVER for d in fast.values())
    pairs = sum(len(star._ON_DRIVER[d]) for d in fast.values())
    monkeypatch.setattr(star, "POS_DIM_MAX_ROWS", pairs - 1)
    slow = pos_dims_from_fact(source)
    assert not any(d in star._ON_DRIVER for d in slow.values())
    want = _resolved_rows(fact, fast)
    assert want[3], "the missing category must quarantine rows"
    assert _resolved_rows(fact, slow) == want
    fact.unpersist()


def test_driver_dim_with_duplicate_natural_key_is_joined(spark, monkeypatch):
    """A driver dim whose natural key repeats takes the join path,
    which keeps the join's row multiplicity."""
    staging = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "items string, n int")
    rows = [("a", 10), ("a", 11), ("b", 20)]
    dim = spark.createDataFrame(rows, "items string, items_key long")
    monkeypatch.setitem(star._ON_DRIVER, dim, rows)
    resolved, quarantine = resolve_star(staging, {"items": dim})
    assert sorted(map(tuple, resolved.collect())) == [(1, 10), (1, 11), (2, 20)]
    assert [tuple(r) for r in quarantine.collect()] == [("c", 3, None)]


def test_merge_upsert_idempotent(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k int, v string, amt double"
    )
    batch = spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], "k int, v string, amt double")
    once = merge_upsert(target, batch, ["k"])
    twice = merge_upsert(once, batch, ["k"])
    expect = {(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)}
    assert {tuple(r) for r in once.collect()} == expect
    assert {tuple(r) for r in twice.collect()} == expect  # idempotent


def test_dedup_latest_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", 1, "old"), (1, "2024-01-02", 1, "new"),
         (1, "2024-01-02", 2, "newer"), (2, "2024-01-01", 1, "only")],
        "k int, d string, seq int, v string",
    )
    out = {(r["k"], r["v"]) for r in dedup_latest(df, ["k"], ["d", "seq"]).collect()}
    assert out == {(1, "newer"), (2, "only")}


def test_reprocess_quarantine_over_tables(spark, tmp_path):
    """S8 transactional: promoted rows land in the fact table via
    keyed MERGE, the quarantine snapshot shrinks, and a crash-replay
    (running reprocess again) changes nothing."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.validate import (
        reprocess_quarantine_tables,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        ParquetTable,
    )

    schema = (
        "order_id string, items string, payment_time string, "
        "category string, quantity double, total_order_amount double"
    )
    fact_t = ParquetTable(spark, str(tmp_path / "fact"))
    quar_t = ParquetTable(spark, str(tmp_path / "quar"))
    keys = ("order_id", "items", "payment_time")
    order = ("total_order_amount",)

    fact_t.append(
        spark.createDataFrame([("O1", "Latte", "t1", "Coffee", 1.0, 5.0)], schema)
    )
    quar_t.append(
        spark.createDataFrame(
            [
                # dimension fixed since quarantining: now valid
                ("O2", "Mocha", "t2", "Coffee", 2.0, 8.0),
                # still broken: negative amount
                ("O3", "Tea", "t3", "Tea", 1.0, -4.0),
                # still broken: missing category
                ("O4", "Scone", "t4", None, 1.0, 3.0),
            ],
            schema,
        )
    )

    promoted = reprocess_quarantine_tables(
        fact_t, quar_t, keys, order,
        required=("category",), non_negative=("total_order_amount",),
    )
    assert promoted == 1
    assert {r["order_id"] for r in fact_t.read().collect()} == {"O1", "O2"}
    assert {r["order_id"] for r in quar_t.read().collect()} == {"O3", "O4"}

    # second run: nothing left to promote, both tables unchanged
    vf, vq = fact_t.current_version(), quar_t.current_version()
    assert reprocess_quarantine_tables(
        fact_t, quar_t, keys, order,
        required=("category",), non_negative=("total_order_amount",),
    ) == 0
    assert (fact_t.current_version(), quar_t.current_version()) == (vf, vq)
