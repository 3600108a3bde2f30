"""Product analytics over the events stream — the engine's
events-table query surface composed the way an analytics team runs
it:

    python examples/product_analytics.py [sf_dir]

1. Conversion funnel (view → click → purchase, 6h window).
2. Weekly cohort retention matrix.
3. Heavy hitters over event types with error certificates
   (stand-in for the high-cardinality page/URL column a real
   deployment sketches).
4. Session stats from gap-based sessionization.

Everything is lazy DataFrame composition — at 100 TB the funnel and
retention shuffle per-user rows (never events), the heavy-hitters
state is capacity-bounded per partition, and sessionization is the
same watermark-able plan the streaming path runs."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.funnel import (
    funnel_summary,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.heavy_hitters import (
    heavy_hitters,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.retention import (
    cohort_retention,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark


def main(sf_dir: str) -> None:
    spark = get_spark("product-analytics")
    events = catalog.table(spark, sf_dir, "events")

    print("== funnel (view -> click -> purchase, 6h window) ==")
    for r in funnel_summary(events, ("view", "click", "purchase"), within="6 hours").collect():
        bar = "#" * int(40 * r["share_of_entered"])
        print(f"  {r['step']:<9} {r['n_users']:>6}  {r['share_of_entered']:6.1%}  {bar}")

    print("== weekly cohort retention (first 4 cohorts, 4 periods) ==")
    rows = cohort_retention(events, "week").collect()
    cohorts = sorted({r["cohort"] for r in rows})[:4]
    grid = {(r["cohort"], r["periods_since"]): r["retention"] for r in rows}
    for c in cohorts:
        cells = [
            f"{grid.get((c, p), 0.0):6.1%}" if (c, p) in grid else "     -"
            for p in range(4)
        ]
        print(f"  {c:%Y-%m-%d}  " + " ".join(cells))

    print("== heavy hitters over event_type (capacity 100) ==")
    for r in heavy_hitters(events, "event_type", capacity=100).collect():
        print(
            f"  {r['value']:<10} est {r['est_count']:>6} "
            f"(true within +{r['max_err']})"
        )

    print("== sessions (30-min gap) ==")
    sess = (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    stats = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.avg("n_events").alias("avg_events"),
        F.max("n_events").alias("max_events"),
    ).collect()[0]
    print(
        f"  {stats['n_sessions']} sessions, avg {stats['avg_events']:.2f} "
        f"events, max {stats['max_events']}"
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
