"""Job-level wall breakdown of one bench row.

    python tools/profile_row.py <row>

Runs the row's frame twice warm, then once instrumented, and prints
every Spark job of the timed pass (duration, gap to previous job,
task count, executor run time, heavy stage names) — the §7.1 UI
triage, scripted, for deciding whether a row's wall is task compute,
shuffle, or driver/stage-launch overhead.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from amante_s_supabase_full_cloud_etl_pipeline_spark import registry
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

import bench


def main() -> None:
    name = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("amante-profile-row")
    ui = spark.sparkContext.uiWebUrl
    registry.load_all_queries()
    fn = bench.query_fn(name)

    for _ in range(2):
        w = fn(spark, sf_dir)
        (w() if callable(w) else w).write.mode("overwrite").format("noop").save()
    app = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))[0]["id"]
    # build+action as one window, matching bench.force (r14); an
    # untimed-setup row returns a per-pass builder instead of a frame
    probe = fn(spark, sf_dir)
    mk = probe if callable(probe) else None
    jobs0 = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs"))
    n0 = max(j["jobId"] for j in jobs0)
    t0 = time.perf_counter()
    df = mk() if mk else fn(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    jobs = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs"))
    stages = {
        s["stageId"]: s
        for s in json.load(urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/stages"))
    }
    new = sorted([j for j in jobs if j["jobId"] > n0], key=lambda j: j["jobId"])

    def ts(s):
        return datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")

    print(f"row={name} timed-pass wall {wall:.2f}s, {len(new)} jobs")
    prev_end = None
    tot_gap = tot_dur = 0.0
    for j in new:
        dur = (ts(j["completionTime"]) - ts(j["submissionTime"])).total_seconds()
        gap = (
            (ts(j["submissionTime"]) - prev_end).total_seconds() if prev_end else 0.0
        )
        prev_end = ts(j["completionTime"])
        tot_gap += max(gap, 0)
        tot_dur += dur
        sdesc = []
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s and s.get("status") == "COMPLETE":
                sdesc.append(
                    f"s{sid}:{s['numCompleteTasks']}t/{s.get('executorRunTime', 0)}ms"
                )
        print(
            f"job {j['jobId']:5d} gap {max(gap, 0):6.3f} dur {dur:6.3f} {' '.join(sdesc)}"
        )
    print(f"sum gaps {tot_gap:.2f}s  sum durations {tot_dur:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
