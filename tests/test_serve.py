"""S10 BI serving executed end-to-end: the registry's serving views
over a REAL HiveServer2 Thrift endpoint (in-process), queried by a
REAL JDBC client (beeline — JVM-side, no Python driver needed), with
results compared against the same SQL run directly on the session.
This is the protocol Power BI's Spark connector speaks; the cluster
form is start-thriftserver.sh (see serve.py's deployment recipes)."""

from __future__ import annotations

import os
import subprocess

import pytest

from amante_s_supabase_full_cloud_etl_pipeline_spark.serve import (
    start_thrift_endpoint,
)

BEELINE = "/opt/spark/bin/beeline"


def _beeline(url: str, sql: str, cols: list[str]) -> list[dict]:
    r = subprocess.run(
        [BEELINE, "-u", url, "-e", sql, "--silent=true"],
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    # parse beeline's default +---+ table: anchor on the header row
    # whose cells match the SELECT's output columns (prompt noise can
    # prefix the first table line)
    rows: list[dict] = []
    in_table = False
    for ln in r.stdout.splitlines():
        bar = ln[ln.index("|"):] if "|" in ln else ""
        if not bar.startswith("|") or not bar.rstrip().endswith("|"):
            continue
        cells = [c.strip() for c in bar.strip().strip("|").split("|")]
        if cells == cols:
            in_table = True
            continue
        if in_table and len(cells) == len(cols):
            rows.append(dict(zip(cols, cells)))
    if not rows:
        raise AssertionError(f"no table rows for {cols} in: {r.stdout[-1000:]}")
    return rows


@pytest.mark.skipif(
    not os.path.exists(BEELINE), reason="beeline not available"
)
def test_thrift_endpoint_serves_registry_views(spark, global_serving_views):
    assert "global_temp.serve_pos_dashboard_kpis" in global_serving_views
    url, server = start_thrift_endpoint(spark)
    try:
        # a serving view through JDBC == the same view queried directly
        sql = (
            "SELECT net_sales, n_orders, line_items "
            "FROM global_temp.serve_a4_a7_headline_kpis"
        )
        # beeline prints doubles in scientific notation; compare as
        # numbers, not strings
        want = {
            (float(r["net_sales"]), int(r["n_orders"]), int(r["line_items"]))
            for r in spark.sql(sql).collect()
        }
        got = {
            (float(row["net_sales"]), int(row["n_orders"]), int(row["line_items"]))
            for row in _beeline(url, sql, ["net_sales", "n_orders", "line_items"])
        }
        assert got == want

        # BI-slicer shape: a predicate on top of a serving view — the
        # view is a lazy plan, so Catalyst re-optimizes per query
        slicer = (
            "SELECT grp_key, amount FROM global_temp.serve_pos_dashboard_kpis "
            "WHERE kpi = 'category' ORDER BY grp_key"
        )
        rows = _beeline(url, slicer, ["grp_key", "amount"])
        direct = spark.sql(slicer).collect()
        assert [(r["grp_key"], float(r["amount"])) for r in rows] == [
            (r["grp_key"], float(r["amount"])) for r in direct
        ]

        # base tables must be visible to JDBC clients too (they are
        # registered as global temp views)
        base = _beeline(
            url,
            "SELECT COUNT(*) AS n FROM global_temp.documents",
            ["n"],
        )
        assert int(base[0]["n"]) == spark.sql(
            "SELECT COUNT(*) AS n FROM global_temp.documents"
        ).collect()[0]["n"]
    finally:
        server.stop()
