"""Metric definitions of the pipeline benchmark and their computation.

Every run reports every end-to-end metric: both workloads have a batch
side (a daily run, a curation pass) and a read side of aggregate reads
(dashboard KPIs, corpus reports) and point reads (by order id or day,
by document id). ``end_to_end`` also returns the workload's own figures
under pipeline-specific names (``etl.day_s.p50``, ``etl.orders_per_s``,
``curation.docs_per_s``); they are printed on the line before the
result.

Per-layer metrics come from a trace run. A layer that a workload never
calls reads 0 there. ``LAYER_MAP`` records which
end-to-end metric each layer metric should move, on which workload.
"""

from __future__ import annotations

from spans import COUNTERS, Tracer, median, percentile_rank, quantile, self_times
from workloads import Run

#: name -> (unit, better, bound, definition)
END_TO_END: dict[str, tuple[str, str, float, str]] = {
    "setup_s": ("s", "lower", 0.25,
                "session start plus warm-up until the first timed operation"),
    "batch_s.p50": ("s", "lower", 0.25,
                    "median wall time of one batch operation: a daily run or a curation pass"),
    "batch_units_per_s": ("1/s", "higher", 0.25,
                          "orders or documents per second of batch time"),
    # a mean, not a median: the aggregate reads are different queries,
    # so a median would jump between them as their ranks swap
    "reads.kpi_s.mean": ("s", "lower", 0.25,
                         "mean latency of an aggregate read: a dashboard KPI or a corpus report"),
    "reads.lookup_s.p50": ("s", "lower", 0.25,
                           "median latency of a point read: by order id, day or doc id"),
    "stored_bytes_per_input_byte": ("ratio", "lower", 0.1,
                                    "live bytes of the written tables per input byte"),
    "peak_rss_mb": ("MiB", "lower", 0.25,
                    "peak RSS of the Spark JVM plus the Python parent"),
}

SPAN_GROUPS = {
    "drain": "streaming.pipeline.drain",
    "merge": "sources.table_format.merge",
    "refresh": "sources.materialized.refresh",
    "resolve": "operators.star.resolve",
    "kpi": "op.kpi",
    "lookup": "op.lookup",
    "pass": "op.pass",
}

_E = "pos_daily_etl"
_C = "corpus_curation"
#: per-layer name -> (unit, end-to-end metric it should move, workload)
LAYER_MAP: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "setup_s", "both"),
    "streaming.pipeline.drain_s": ("s", "batch_s.p50", _E),
    "plans.pos_kernel.build_s": ("s", "batch_s.p50", _E),
    "plans.pos_kernel.line_items_per_order": ("ratio", "none (shape count)", _E),
    "operators.validate.quarantine_frac": ("fraction", "none (shape count)", _E),
    "sources.table_format.merge_s": ("s", "batch_s.p50", _E),
    "sources.table_format.merge_files_rewritten_frac": ("fraction", "batch_s.p50", _E),
    "sources.table_format.bytes_written_per_input_byte": (
        "ratio", "batch_s.p50 and stored_bytes_per_input_byte", _E),
    "sources.table_format.live_files": ("count", "reads.lookup_s.p50", _E),
    "sources.table_format.manifests": ("count", "reads.lookup_s.p50", _E),
    "sources.table_format.compact_s": ("s", "batch_units_per_s", _E),
    "sources.table_format.compact_bytes_rewritten": ("bytes", "batch_units_per_s", _E),
    "sources.table_format.commit_conflicts": ("count", "failed operations", _E),
    "sources.materialized.refresh_s": ("s", "batch_s.p50", _E),
    "sources.materialized.feed_rows_per_changed_row": ("ratio", "batch_s.p50", _E),
    "operators.star.resolve_s": ("s", "batch_s.p50", _E),
    "operators.star.dim_miss_rows": ("count", "none (shape count)", _E),
    "catalog.table_s": ("s", "reads.kpi_s.mean", "both"),
    "plans.dashboard.build_s": ("s", "reads.kpi_s.mean", _E),
    "plans.dashboard.action_s": ("s", "reads.kpi_s.mean", _E),
    "sources.materialized.read_s": ("s", "reads.kpi_s.mean", _E),
    "sources.table_format.scan_files_s": ("s", "reads.lookup_s.p50", "both"),
    "sources.table_format.files_kept_frac": ("fraction", "reads.lookup_s.p50", "both"),
    "sources.table_format.read_s": ("s", "reads.lookup_s.p50", "both"),
    # stages that evaluated Python (a MapInPandas, ArrowEvalPython, ...
    # node ran a task in them) and their executor time; the fraction
    # divides that time by the executor time of all stages of the same
    # operations, so it lies in [0, 1]
    "fastdaemon.python_stages": ("count", "batch_units_per_s", _C),
    "fastdaemon.python_stage_run_s": ("s", "batch_units_per_s", _C),
    "fastdaemon.python_stage_run_frac": ("fraction", "batch_units_per_s", _C),
    "operators.cache.persists": ("count", "batch_units_per_s", _C),
    "operators.cache.persist_s": ("s", "batch_units_per_s", _C),
    "operators.dedup.candidate_pairs_per_drop": ("ratio", "batch_units_per_s", _C),
    "sources.table_format.append_s": ("s", "batch_units_per_s", _C),
    # the probes' own bookkeeping time (opening and closing spans,
    # listing table files) over the measured operations' time: a stand-in
    # for traced minus untraced time, which would take a second run
    "trace.overhead_frac": ("fraction", "none (cost of tracing)", "both"),
}
_COUNTER_UNITS = {"jobs": "count", "tasks": "count", "executor_run_s": "s",
                  "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
for _g, _span in SPAN_GROUPS.items():
    _moves = {"kpi": "reads.kpi_s.mean", "lookup": "reads.lookup_s.p50"}.get(_g, "batch_s.p50")
    for _c in COUNTERS:
        LAYER_MAP[f"spark.{_g}.{_c}"] = (
            _COUNTER_UNITS[_c], _moves,
            {"pass": _C, "kpi": "both", "lookup": "both"}.get(_g, _E))

PER_LAYER_UNITS = {k: v[0] for k, v in LAYER_MAP.items()}


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def failures(run: Run) -> tuple[int, int]:
    """(attempted, failed) over operations and output checks."""
    attempted = len(run.ops) + len(run.checks)
    failed = sum(not o.ok for o in run.ops) + sum(not ok for _, ok in run.checks)
    return attempted, failed


def end_to_end(workload: str, run: Run, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, detail) from the operations of a run."""
    ops = [o for o in run.ops if o.ok]
    batch = [o for o in ops if o.kind == "batch"]
    reads = [o for o in ops if o.kind == "read"]
    bwalls = [o.wall_s for o in batch]
    kpi = [o.wall_s for o in reads if o.label == "kpi"]
    look = [o.wall_s for o in reads if o.label == "lookup"]
    metrics = {
        "setup_s": run.setup_s,
        "batch_s.p50": median(bwalls) if bwalls else 0.0,
        "batch_units_per_s": _ratio(sum(o.units for o in batch), sum(bwalls)),
        "reads.kpi_s.mean": sum(kpi) / len(kpi) if kpi else 0.0,
        "reads.lookup_s.p50": median(look) if look else 0.0,
        "stored_bytes_per_input_byte": _ratio(run.stored_bytes, run.input_bytes),
        "peak_rss_mb": peak_rss_mb,
    }
    detail: dict = {"walls_ms": {"batch": [round(w * 1000) for w in bwalls],
                                 "kpi": [round(w * 1000) for w in kpi],
                                 "lookup": [round(w * 1000) for w in look]}}
    p = percentile_rank(len(look))
    if p is not None and p > 50:
        detail[f"reads.lookup_s.p{p}"] = quantile(look, p)
    if kpi:
        detail["reads.kpi_s.p50"] = median(kpi)
    if workload == "pos_daily_etl":
        detail["etl.day_s.p50"] = metrics["batch_s.p50"]
        detail["etl.orders_per_s"] = metrics["batch_units_per_s"]
        detail["etl.stored_bytes_per_input_byte"] = metrics["stored_bytes_per_input_byte"]
    else:
        detail["curation.docs_per_s"] = metrics["batch_units_per_s"]
    attempted, failed = failures(run)
    detail["ops_failed_frac"] = _ratio(failed, attempted)
    return metrics, detail


def per_layer(run: Run, tracer: Tracer) -> dict[str, float]:
    """Per-layer figures from the traced operations of a trace run;
    times are per batch operation (or per read where named so)."""
    measured = {o.request for o in run.ops}
    spans = [s for s in tracer.spans if s.end is not None]
    mine = [s for s in spans if s.request in measured]
    n_batch = max(1, sum(1 for s in mine if s.parent is None and "/" not in s.request))

    def named(name, spans_=None):
        return [s for s in (mine if spans_ is None else spans_) if s.name == name]

    def per_batch(name):
        return sum(s.duration for s in named(name)) / n_batch

    def total(name, key, spans_=None):
        return sum(s.attrs.get(key, 0) for s in named(name, spans_))

    c = run.counts
    m: dict[str, float] = {}
    gs = named("session.get_spark", spans)
    m["session.get_spark_s"] = gs[0].duration if gs else 0.0
    m["streaming.pipeline.drain_s"] = per_batch("streaming.pipeline.drain")
    m["plans.pos_kernel.build_s"] = per_batch("plans.pos_kernel.build")
    m["plans.pos_kernel.line_items_per_order"] = _ratio(c.get("line_items", 0),
                                                        c.get("orders", 0))
    m["operators.validate.quarantine_frac"] = _ratio(c.get("quarantined", 0),
                                                     c.get("line_items", 0))
    m["sources.table_format.merge_s"] = per_batch("sources.table_format.merge")
    m["sources.table_format.merge_files_rewritten_frac"] = _ratio(
        total("sources.table_format.merge", "files_rewritten"),
        total("sources.table_format.merge", "parent_files"))
    written = sum(s.attrs.get("bytes_written", 0) for s in mine if "/" not in s.request
                  and s.name.startswith("sources.table_format."))
    m["sources.table_format.bytes_written_per_input_byte"] = _ratio(
        written, c.get("day_input_bytes", 0))
    m["sources.table_format.live_files"] = c.get("live_files", 0)
    m["sources.table_format.manifests"] = c.get("manifests", 0)
    compacts = named("sources.table_format.compact")
    m["sources.table_format.compact_s"] = _ratio(sum(s.duration for s in compacts),
                                                 len(compacts))
    m["sources.table_format.compact_bytes_rewritten"] = _ratio(
        total("sources.table_format.compact", "bytes_rewritten"), len(compacts))
    m["sources.table_format.commit_conflicts"] = sum(
        s.attrs.get("commit_conflicts", 0) for s in mine)
    m["sources.materialized.refresh_s"] = per_batch("sources.materialized.refresh")
    m["sources.materialized.feed_rows_per_changed_row"] = _ratio(
        c.get("feed_rows", 0), c.get("changed_rows", 0))
    m["operators.star.resolve_s"] = per_batch("operators.star.resolve")
    m["operators.star.dim_miss_rows"] = total("operators.star.resolve", "dim_miss_rows")

    # read side: per read operation of the kind named
    kpis = named("op.kpi")
    looks = named("op.lookup")
    kpi_req = {s.request for s in kpis}
    look_req = {s.request for s in looks}
    in_kpi = [s for s in mine if s.request in kpi_req]
    in_look = [s for s in mine if s.request in look_req]
    builds = named("plans.dashboard.build")
    m["catalog.table_s"] = _ratio(sum(s.duration for s in named("catalog.table", in_kpi)),
                                  len(kpis))
    m["plans.dashboard.build_s"] = _ratio(sum(s.duration for s in builds), len(builds))
    m["plans.dashboard.action_s"] = _ratio(
        sum(s.duration for s in named("plans.dashboard.action")), len(builds))
    vr = named("sources.materialized.read")
    m["sources.materialized.read_s"] = _ratio(sum(s.duration for s in vr), len(vr))
    scans = named("sources.table_format.scan_files", in_look)
    m["sources.table_format.scan_files_s"] = _ratio(sum(s.duration for s in scans),
                                                    len(looks))
    m["sources.table_format.files_kept_frac"] = _ratio(
        sum(s.attrs.get("files_kept", 0) for s in scans),
        sum(s.attrs.get("live_files", 0) for s in scans))
    m["sources.table_format.read_s"] = _ratio(
        sum(s.duration for s in named("sources.table_format.read", in_look)), len(looks))

    tops = [s for s in mine if s.parent is None]
    py_run = sum(s.attrs.get("python_stage_run_s", 0) for s in tops)
    m["fastdaemon.python_stages"] = sum(s.attrs.get("python_stages", 0) for s in tops) / n_batch
    m["fastdaemon.python_stage_run_s"] = py_run / n_batch
    m["fastdaemon.python_stage_run_frac"] = _ratio(
        py_run, sum(s.attrs.get("executor_run_s", 0) for s in tops))
    m["operators.cache.persists"] = len(named("operators.cache.persist")) / n_batch
    m["operators.cache.persist_s"] = per_batch("operators.cache.persist")
    m["operators.dedup.candidate_pairs_per_drop"] = _ratio(c.get("candidate_pairs", 0),
                                                           c.get("near_dup_drops", 0))
    m["sources.table_format.append_s"] = per_batch("sources.table_format.append")

    op_time = sum(o.wall_s for o in run.ops if o.request in measured)
    m["trace.overhead_frac"] = _ratio(run.trace_overhead_s, op_time)

    for g, span_name in SPAN_GROUPS.items():
        group = named(span_name)
        for k in COUNTERS:
            m[f"spark.{g}.{k}"] = _ratio(sum(s.attrs.get(k, 0) for s in group), len(group))
    return m


def self_time_by_layer(run: Run, tracer: Tracer) -> dict[str, float]:
    """Summed self time per span name over the traced operations."""
    spans = [s for s in tracer.spans if s.end is not None]
    st = self_times(spans)
    measured = {o.request for o in run.ops}
    out: dict[str, float] = {}
    for s in spans:
        if s.request in measured:
            out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return {k: round(v, 4) for k, v in sorted(out.items())}


def predictions(workload: str, run: Run, tracer: Tracer, layer: dict[str, float]) -> dict:
    """The stated predictions, checked on this run's traced spans."""
    measured = {o.request for o in run.ops}
    mine = [s for s in tracer.spans if s.end is not None and s.request in measured]
    reads = [s for s in mine if "/" in s.request]
    batch = [s for s in mine if "/" not in s.request]
    frac = layer["fastdaemon.python_stage_run_frac"]
    out = {
        "merge_only_in_daily_runs": not any(
            s.name == "sources.table_format.merge" for s in reads),
        "scan_files_only_in_reads": not any(
            s.name == "sources.table_format.scan_files" for s in batch),
    }
    if workload == "pos_daily_etl":
        out["python_stage_run_frac_below_0.05"] = frac < 0.05
    else:
        out["python_stage_run_frac_above_0.5"] = frac > 0.5
    out["python_stage_run_frac"] = round(frac, 4)
    return out
