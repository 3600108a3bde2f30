"""Time a subset of bench rows without running the whole table.

    python tools/bench_one.py pagerank_crawl_graph a4_a7_headline_kpis ...

Same methodology as bench.py (one warm-up pass, min of 3 timed
noop-sink passes, GC fence between rows, spread reported) so numbers
are directly comparable to BENCH_rXX.json rows; exists so the
optimization loop can re-measure ONE operator in ~30 s instead of
re-running the 42-row table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from amante_s_supabase_full_cloud_etl_pipeline_spark import registry
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

import bench


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: bench_one.py <row> [<row> ...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("amante-bench-one")
    registry.load_all_queries()

    timings, spreads = {}, {}
    for name in names:
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass
        if name == "pagerank_crawl_graph":
            best, spread = bench.pagerank_throughput(spark, sf_dir)
        elif name == "pos_kernel_1m_orders":
            best, spread = bench.pos_kernel_throughput(spark)
        else:
            fn = bench.query_fn(name)
            built = fn(spark, sf_dir)
            # untimed-setup rows return a per-pass frame builder
            # (see bench.force); everything else times build+action
            # as one window (ADVICE r13 finding 1)
            mk = built if callable(built) else None
            spark.sparkContext.setJobDescription(f"bench_one: {name} warm-up")
            (mk() if mk else built).write.mode("overwrite").format(
                "noop"
            ).save()
            times = []
            for i in range(3):
                spark.sparkContext.setJobDescription(f"bench_one: {name} pass {i}")
                t0 = time.perf_counter()
                df = mk() if mk else fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                times.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            best, spread = min(times), max(times) - min(times)
        timings[name] = round(best, 4)
        spreads[name] = round(spread, 4)
        print(json.dumps({"row": name, "sec": timings[name], "spread": spreads[name]}), flush=True)
    print(json.dumps({"queries": timings, "spread": spreads, "sf": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
