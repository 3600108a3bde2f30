"""Regenerate PLANS.md: the formatted physical plan of every bench
headline query at sf0.1, as a reviewable artifact of the engine's
plan discipline (pushed filters, pruned read schemas, whole-stage
codegen spans, broadcast-vs-shuffle join choices).

    python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from amante_s_supabase_full_cloud_etl_pipeline_spark import registry
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

from bench import HEADLINE, full_call_frame, query_fn

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "PLANS.md")

HEADER = """# PLANS — formatted physical plans of the bench headline queries

Generated by `tools/dump_plans.py` at sf0.1. What to look for, per
query: `PushedFilters`/`ReadSchema` on every `Scan parquet` (pushdown
and column pruning reach the files), `WholeStageCodegen` spans
covering the expression chains, `BroadcastHashJoin` only on
dimension-sized build sides, and no `Window` without a `partitionBy`.

Each section is the PRE-execution plan (what Catalyst committed to);
the `final adaptive plan:` line under the title records what AQE
actually ran — exchange-reuse (`ReusedExchange`: shared shuffle/
broadcast stages, e.g. a10_a11's share-of-total denominators riding
their branch's aggregation exchange) only appears there.
"""


def _final_plan_summary(df) -> str:
    """Execute the frame and summarize the final adaptive plan —
    stage reuse is a runtime decision the static dump can't show."""
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    return (
        f"isFinalPlan={'true' in plan.split('isFinalPlan=')[1][:5] if 'isFinalPlan=' in plan else '?'}, "
        f"ReusedExchange={plan.count('ReusedExchange')}, "
        f"Exchanges={plan.count('Exchange (')}, "
        f"BroadcastHashJoins={plan.count('BroadcastHashJoin')}"
    )


def main() -> None:
    spark = get_spark("plan-dump")
    registry.load_all_queries()

    def frame(name):
        built = query_fn(name)(spark, SF_DIR)
        # untimed-setup row (see bench.force): the row returns a
        # per-pass frame builder
        return built() if callable(built) else built

    sections = [HEADER]
    for name in HEADLINE:
        df = frame(name)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        static_plan = buf.getvalue().rstrip()
        summary = _final_plan_summary(frame(name))
        sections.append(
            f"\n## {name}\n\nfinal adaptive plan: {summary}\n\n```\n{static_plan}\n```\n"
        )
    # the two FULL-CALL-timed bench rows (driver loop / synthetic
    # input) have no registry frame to dump — record their actual
    # hot frames: one steady-state PageRank iteration body over the
    # bench graph, and the POS kernel over the 1M-order synthetic
    for name, df, note in _full_call_frames(spark):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        static_plan = buf.getvalue().rstrip()
        summary = _final_plan_summary(df)
        sections.append(
            f"\n## {name}\n\n{note}\n\nfinal adaptive plan: {summary}"
            f"\n\n```\n{static_plan}\n```\n"
        )
    with open(OUT, "w") as f:
        f.write("".join(sections))
    print(f"wrote {OUT} ({len(HEADLINE) + 2} plans)")
    spark.stop()


def _full_call_frames(spark):
    """(name, frame, note) for the bench rows timed as full calls
    (VERDICT r9 #4: PLANS covered 23/25)."""
    yield (
        "pagerank_crawl_graph",
        full_call_frame(spark, SF_DIR, "pagerank_crawl_graph"),
        "ONE steady-state iteration body (the bench times 4 of these "
        "plus setup as a full call; each iteration's checkpoint "
        "truncates lineage, so the loop RESULT's plan is just a "
        "vector scan — this is the frame each iteration executes, "
        "with inputs staged as the loop stages them: persisted "
        "weighted edges, checkpointed node/teleport/dangling/rank "
        "leaves).",
    )

    yield (
        "pos_kernel_1m_orders",
        full_call_frame(spark, SF_DIR, "pos_kernel_1m_orders"),
        "The full POS transform kernel over the bench's synthetic "
        "1M-order input (bench.py pos_kernel_throughput's exact "
        "frame — one shared builder).",
    )


if __name__ == "__main__":
    main()
