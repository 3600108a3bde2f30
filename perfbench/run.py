"""Pipeline benchmark: daily POS ETL, dashboard reads and corpus curation.

    python3 perfbench/run.py --workload pos_daily_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
under ``.perfbench/`` in the current directory, the workload runs in one
``local[N]`` Spark process (N = the CPUs this process may use).
``--seconds`` fixes how many cycles the run measures
(``workloads.measured_cycles``: at 10, three daily runs or three curation
passes, each followed by its reads), after an untimed first cycle in
set-up. The last line of standard output
is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans are written to
``.perfbench/trace-<workload>-<seed>.json``. The line before it holds
the workload's own figures and the output checks. The exit code is 0
only when every operation and every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "amante_s_supabase_full_cloud_etl_pipeline_spark"


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("pos_daily_etl", "corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def configure_env(work: str) -> None:
    """Keep every file the run writes under ``work`` and size the
    session for a shared machine: the driver heap defaults to 2g rather
    than the engine's 12g (set ``SPARK_DRIVER_MEM`` to change it). Must
    run before Spark or ``tempfile`` is first used."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = parse_args()
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: the engine package {PKG} is not next to {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    sys.path[:0] = [ROOT, HERE]

    import gen
    import metrics as M
    from spans import Tracer, read_peak_rss_mb
    from workloads import WORKLOADS, Context, log

    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(inputs, args.seed)
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args.workload, inputs, manifest, work, args.seconds, tracer)
    t0 = time.perf_counter()
    try:
        run = WORKLOADS[args.workload](ctx)
        from pyspark import SparkContext

        rss = read_peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
        e2e, detail = M.end_to_end(args.workload, run, rss)
        if args.trace:
            ctx.counters.poll()
            ctx.counters.attribute(tracer)
            out = M.per_layer(run, tracer)
            detail["self_s"] = M.self_time_by_layer(run, tracer)
            detail["predictions"] = M.predictions(args.workload, run, tracer, out)
            trace_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                     "counts": run.counts})
            detail["trace_file"] = os.path.relpath(trace_path)
            units = M.PER_LAYER_UNITS
        else:
            out = e2e
            units = {k: v[0] for k, v in M.END_TO_END.items()}
    except Exception:
        traceback.print_exc()
        print("perfbench: the run failed; no result", file=sys.stderr)
        return 1
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = M.failures(run)
    log(f"done in {time.perf_counter() - t0:.1f}s")
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail,
                      "checks": dict(run.checks)}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(out[k]), "unit": units[k]} for k in units},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
