"""Set-op extras: approx-distinct accuracy vs exact."""

from __future__ import annotations

from amante_s_supabase_full_cloud_etl_pipeline_spark import registry

registry.load_all_queries()


def test_approx_distinct_close_to_exact(spark, sf_dir):
    rows = registry.QUERIES["distinct_counts"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r["n_parts_approx"] - r["n_parts"]) <= max(3, 0.05 * r["n_parts"])
        assert abs(r["n_suppliers_approx"] - r["n_suppliers"]) <= max(
            3, 0.05 * r["n_suppliers"]
        )


def test_serving_views_surface(spark, global_serving_views):
    """S10: every registry query is SQL-addressable as a view; a BI
    slicer predicate on a view composes with the underlying plan."""
    views = global_serving_views
    assert len(views) == len(registry.QUERIES) and len(views) >= 50
    view = "global_temp.serve_star_net_sales_by_region"
    assert len(spark.sql(f"SELECT * FROM {view}").collect()) == 5
    sliced = spark.sql(
        f"SELECT region_name, net_sales FROM {view} WHERE region_name = 'ASIA'"
    ).collect()
    assert len(sliced) == 1 and sliced[0]["region_name"] == "ASIA"
