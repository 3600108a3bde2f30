"""Dump `.explain("formatted")` of named bench rows to files.

    python tools/explain_one.py --out plans/r13 --suffix before <row> ...

Writes `<out>/<row>_<suffix>.txt` per row: the PRE-execution formatted
plan plus (after executing the frame once) the final adaptive plan —
the artifact the optimization rounds commit so plan-shape claims in
OPTIMIZATION_rNN.md are checkable without running Spark.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from amante_s_supabase_full_cloud_etl_pipeline_spark import registry
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

import bench


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="plans/r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("rows", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("amante-explain-one")
    registry.load_all_queries()
    os.makedirs(args.out, exist_ok=True)

    for name in args.rows:
        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.cache import (
            release_tracked,
        )

        release_tracked()
        if name in bench.FULL_CALL_ROWS:
            # the same frame PLANS.md records for a full-call row
            df = bench.full_call_frame(spark, sf_dir, name)
        else:
            df = bench.query_fn(name)(spark, sf_dir)
            if callable(df):
                # untimed-setup row (see bench.force): the builder
                # returns a per-pass frame factory
                df = df()
        pre = io.StringIO()
        with redirect_stdout(pre):
            df.explain("formatted")
        df.write.mode("overwrite").format("noop").save()
        post = io.StringIO()
        with redirect_stdout(post):
            df.explain("formatted")
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir}\n")
            f.write("# PRE-execution plan:\n\n")
            f.write(pre.getvalue())
            f.write("\n# FINAL adaptive plan (after one noop-sink execution):\n\n")
            f.write(post.getvalue())
        print("wrote", path, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
