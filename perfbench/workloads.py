"""The two workloads of the pipeline benchmark.

Each workload is a closed loop with one client: the next operation
starts when the previous one has returned. One cycle of the loop is a
batch operation followed by the reads that consume its output:

- ``pos_daily_etl``: the batch operation is a daily run — drain the
  landing folder (AvailableNow) into the fact and quarantine tables,
  refresh the incremental view, resolve the star schema and force it,
  and compact the fact on every fourth day. The dashboard then reads
  the new snapshot: registered KPI queries, POS KPIs and view reads,
  point reads by order id and a day-range read.
- ``corpus_curation``: the batch operation is a curation pass over the
  generated documents, from extraction through exact and MinHash dedup
  to the append of the split-labelled result. A consumer then reads
  the committed table: the train split's source mixture and point
  reads by document id.

The first cycle runs untimed in set-up: the cold first drop or pass,
with the session's first jobs and a first read of every kind. The
number of measured cycles is fixed by ``--seconds`` before the loop
starts (``measured_cycles``), not by the wall clock, so a faster
commit measures the same days, passes and reads as a slower one.

A workload function runs set-up, the measured loop and the output
checks, and returns a ``Run`` holding the raw samples; ``metrics.py``
turns them into the reported figures.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import shutil
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from spans import SparkCounters, Tracer

PKG = "amante_s_supabase_full_cloud_etl_pipeline_spark"

#: cycles run untimed in set-up, before the first measured one (the
#: cold first cycle)
SETUP_CYCLES = 1
#: compaction runs on days whose index is 3 (mod 4)
COMPACT_EVERY = 4
#: measured cycles per second of ``--seconds``. The count is fixed from
#: ``--seconds`` before the loop starts, so every commit measures the
#: same days, passes and reads, however fast it runs.
CYCLES_PER_SECOND = {"pos_daily_etl": 0.3, "corpus_curation": 0.3}


def measured_cycles(workload: str, seconds: float) -> int:
    return max(2, round(seconds * CYCLES_PER_SECOND[workload]))


REGISTERED_KPIS = (
    "star_net_sales_by_region", "a4_a7_headline_kpis", "a8_a12_order_mix",
    "a9_time_bucket_sets", "a10_a11_share_of_total",
)

Step = tuple[str, str, Callable[[], int]]
Cycle = Callable[[int], tuple[Step, list[tuple[str, Callable[[], int]]]]]


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Op:
    kind: str  # "batch" or "read"
    request: str
    wall_s: float
    units: int = 0
    ok: bool = True
    label: str = ""


@dataclass
class Run:
    """Raw outcome of one workload run."""

    setup_s: float = 0.0
    ops: list[Op] = field(default_factory=list)
    #: (name, passed) for every output check
    checks: list[tuple[str, bool]] = field(default_factory=list)
    stored_bytes: int = 0
    input_bytes: int = 0
    #: time the probes spent on their own bookkeeping in the loop
    trace_overhead_s: float = 0.0
    #: workload-specific counts for the per-layer report
    counts: dict = field(default_factory=dict)

    def check(self, name: str, passed: bool) -> None:
        self.checks.append((name, bool(passed)))
        if not passed:
            log(f"CHECK FAILED: {name}")


class Context:
    """Per-run state shared by set-up, the loop and the checks."""

    def __init__(self, workload: str, inputs: str, manifest: dict, work: str,
                 seconds: float, tracer: Tracer):
        self.workload = workload
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        self.tracer = tracer
        self.cycles = measured_cycles(workload, seconds)
        self.run = Run()
        self.spark = None
        self.counters: SparkCounters | None = None
        with open(os.path.join(inputs, "reads.json")) as f:
            self.reads = json.load(f)

    def timed(self, kind: str, request: str, label: str, fn: Callable[[], int]) -> Op:
        """Run one operation, timing it; a raised exception fails it."""
        with self.tracer.request(request):
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"op.{label}"):
                    units = fn()
                op = Op(kind, request, time.perf_counter() - t0, units or 0, label=label)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                op = Op(kind, request, time.perf_counter() - t0, 0, ok=False, label=label)
        self.run.ops.append(op)
        if self.counters is not None:
            self.counters.poll()
        return op

    def warm_up(self, cycle: Cycle) -> None:
        """Run the set-up cycles untimed, batch step and reads alike.
        An exception fails the run."""
        with self.tracer.request("setup"):
            for i in range(SETUP_CYCLES):
                (_, _, fn), reads = cycle(i)
                fn()
                for _, rfn in reads:
                    rfn()

    def loop(self, cycle: Cycle) -> None:
        """Measure the ``self.cycles`` cycles after the set-up ones.
        ``cycle(i)`` prepares the inputs of cycle ``i`` (untimed) and
        returns its batch step and the read steps that follow it."""
        overhead0 = self.tracer.overhead_s
        for i in range(SETUP_CYCLES, SETUP_CYCLES + self.cycles):
            (label, request, fn), reads = cycle(i)
            if not self.timed("batch", request, label, fn).ok:
                continue
            for j, (rlabel, rfn) in enumerate(reads):
                self.timed("read", f"{request}/r{j}", rlabel, rfn)
        self.run.trace_overhead_s = self.tracer.overhead_s - overhead0


# -- session and probes --------------------------------------------------------


def start_session(ctx: Context):
    """Session start as a user of the engine does it."""
    with ctx.tracer.request("setup"), ctx.tracer.span("session.get_spark"):
        from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

        spark = get_spark(f"perfbench-{ctx.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    log("session started")
    ctx.spark = spark
    if ctx.tracer.enabled:
        ctx.counters = SparkCounters(spark)
        install_probes(ctx.tracer)
    return spark


def _wrap(tracer: Tracer, name: str, fn: Callable) -> Callable:
    def wrapped(*a, **k):
        with tracer.span(name):
            return fn(*a, **k)

    return wrapped


def install_probes(tracer: Tracer) -> None:
    """Wrap the names the engine's own modules call through, so spans
    time each layer without changing the package. Only trace runs
    install them."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators import cache
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming import pipeline

    pipeline.transform_pos = _wrap(tracer, "plans.pos_kernel.build", pipeline.transform_pos)
    catalog.table = _wrap(tracer, "catalog.table", catalog.table)
    original = cache.tracked_persist
    probe = _wrap(tracer, "operators.cache.persist", original)
    cache.tracked_persist = probe
    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and getattr(mod, "tracked_persist", None) is original:
            mod.tracked_persist = probe


def table_class(tracer: Tracer):
    """``ParquetTable`` itself, or in trace runs a subclass whose
    commits, scans and reads record spans and file counts."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        CommitConflict,
        ParquetTable,
    )

    if not tracer.enabled:
        return ParquetTable

    class TracedTable(ParquetTable):
        def _files(self, version=None) -> dict:
            t0 = time.perf_counter()
            out = {e["path"]: e for e in self.files(version)} if self.current_version() else {}
            tracer.overhead_s += time.perf_counter() - t0
            return out

        def _commit_span(self, name: str, fn: Callable, *a, **k):
            before = self._files()
            with tracer.span(name) as s:
                try:
                    out = fn(*a, **k)
                except CommitConflict:
                    s.attrs["commit_conflicts"] = 1
                    raise
            after = self._files()
            s.attrs["parent_files"] = len(before)
            s.attrs["files_rewritten"] = sum(p not in after for p in before)
            s.attrs["bytes_written"] = sum(
                e.get("bytes", 0) for p, e in after.items() if p not in before)
            s.attrs["bytes_rewritten"] = sum(
                e.get("bytes", 0) for p, e in before.items() if p not in after)
            return out

        def merge(self, *a, **k):
            return self._commit_span("sources.table_format.merge", super().merge, *a, **k)

        def append(self, *a, **k):
            return self._commit_span("sources.table_format.append", super().append, *a, **k)

        def overwrite(self, *a, **k):
            return self._commit_span("sources.table_format.overwrite", super().overwrite,
                                     *a, **k)

        def compact(self, *a, **k):
            return self._commit_span("sources.table_format.compact", super().compact, *a, **k)

        def scan_files(self, version, filters):
            with tracer.span("sources.table_format.scan_files") as s:
                kept = super().scan_files(version, filters)
            s.attrs["files_kept"] = len(kept)
            s.attrs["live_files"] = len(self._files(version))
            return kept

        def read(self, *a, **k):
            with tracer.span("sources.table_format.read"):
                return super().read(*a, **k)

    return TracedTable


def live_bytes(table) -> int:
    return sum(e.get("bytes", 0) for e in table.files()) if table.current_version() else 0


def _rows(rows) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in rows)


# -- pos_daily_etl ---------------------------------------------------------------


class PosEtl:
    """Landing folder, fact/quarantine tables and the view of one run."""

    def __init__(self, ctx: Context):
        from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.materialized import (
            IncrementalAggView,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import FACT_KEYS

        self.ctx = ctx
        spark, work = ctx.spark, ctx.work
        Table = table_class(ctx.tracer)
        self.landing = os.path.join(work, "landing")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.landing, exist_ok=True)
        self.fact = Table(spark, os.path.join(work, "fact"))
        self.quarantine = Table(spark, os.path.join(work, "quarantine"))
        self.view = IncrementalAggView(
            spark, os.path.join(work, "view"), self.fact, FACT_KEYS,
            ["category"], ["total_order_amount", "quantity"])
        self.view.table = Table(spark, os.path.join(work, "view"))
        self.landed: list[int] = []
        #: fact versions (before, after) of each day's run
        self.day_versions: dict[int, tuple[int, int]] = {}

    def land(self, days: list[int]) -> int:
        """Copy generated drops into the landing folder (the arrival of
        the POS export; not part of the program's work). Returns their
        order rows."""
        rows = 0
        for d in days:
            drop = self.ctx.manifest["drops"][d]
            shutil.copy(os.path.join(self.ctx.inputs, drop["file"]), self.landing)
            self.landed.append(d)
            rows += drop["orders"]
        return rows

    def daily_run(self, day: int) -> None:
        """Drain, refresh, resolve; compaction on every fourth day."""
        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.star import (
            pos_dims_from_fact,
            resolve_star,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
            run_pos_pipeline_transactional,
        )

        tr = self.ctx.tracer
        with tr.span("streaming.pipeline.drain"):
            q = run_pos_pipeline_transactional(
                self.ctx.spark, self.landing, self.fact, self.quarantine, self.ckpt)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"drain failed: {q.exception()}")
        with tr.span("sources.materialized.refresh"):
            self.view.refresh()
        with tr.span("operators.star.resolve") as s:
            snap = self.fact.read()
            resolved, dim_miss = resolve_star(snap, pos_dims_from_fact(snap))
            resolved.write.format("noop").mode("overwrite").save()
            miss = dim_miss.count()
            if s is not None:
                s.attrs["dim_miss_rows"] = miss
        if day % COMPACT_EVERY == COMPACT_EVERY - 1:
            self.fact.compact(sort_by=["order_id"])

    def stored_bytes(self) -> int:
        return live_bytes(self.fact) + live_bytes(self.quarantine) + live_bytes(self.view.table)

    def input_bytes(self) -> int:
        return sum(self.ctx.manifest["drops"][d]["bytes"] for d in self.landed)

    def raw(self, days: list[int]):
        from pyspark.sql import functions as F

        from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import RAW_SCHEMA

        raw = (self.ctx.spark.read.schema(RAW_SCHEMA).option("header", "true")
               .csv([os.path.join(self.landing, f"day_{d:03d}.csv") for d in days]))
        return raw.withColumn("Payment time", F.col("`Payment time`").cast("timestamp"))

    # -- checks --------------------------------------------------------------

    def check(self, run: Run) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.validate import (
            validation_split,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_kernel import (
            FACT_COLUMNS,
            transform_pos,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import FACT_KEYS

        spark = self.ctx.spark
        keys = list(FACT_KEYS)
        fact = self.fact.read()
        dup_keys = fact.groupBy(*keys).count().filter(F.col("count") > 1).count()
        run.check("etl.fact_key_unique", dup_keys == 0)

        # view == from-scratch group-by of the same snapshot (sums are
        # doubles folded in another order, so compare to 1e-9 relative)
        view = {r["category"]: r for r in self.view.read().collect()}
        scratch = fact.groupBy("category").agg(
            F.sum(F.coalesce("total_order_amount", F.lit(0.0))).alias("t"),
            F.sum(F.coalesce("quantity", F.lit(0.0))).alias("q"),
            F.count(F.lit(1)).alias("n")).collect()

        def close(a, b):
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))

        ok = len(view) == len(scratch) and all(
            r["category"] in view
            and view[r["category"]]["n_rows"] == r["n"]
            and close(view[r["category"]]["sum_total_order_amount"], r["t"])
            and close(view[r["category"]]["sum_quantity"], r["q"])
            for r in scratch)
        run.check("etl.view_equals_groupby", ok)

        # fact + quarantine == one batch transform over every landed
        # file, split, then the latest row per key. A re-submitted order
        # repeats its original row with a higher received amount, so
        # the latest row of a key is the one with the highest amount.
        batch = transform_pos(self.raw(self.landed), spark).persist()
        clean, quar = validation_split(batch)
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc() for c in FACT_COLUMNS if c not in keys])

        def latest(df):
            return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")

        def digest(df):
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in FACT_COLUMNS]
            r = df.agg(F.count(F.lit(1)).alias("n"),
                       F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
                       ).collect()[0]
            return r["n"], r["h"]

        run.check("etl.fact_equals_batch", digest(fact) == digest(latest(clean)))
        run.check("etl.quarantine_equals_batch",
                  digest(self.quarantine.read()) == digest(latest(quar)))
        batch.unpersist()

    def shape_counts(self) -> dict:
        """Counts that pin the workload's shape, computed after the
        measured loop from the timed days' drops and the fact's change
        feed."""
        from pyspark.sql import functions as F

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.validate import (
            validation_split,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_kernel import (
            transform_pos,
        )
        from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import FACT_KEYS

        days = self.landed[SETUP_CYCLES:]
        raw = self.raw(days)
        orders = raw.filter(F.col("`Order ID`").isNotNull()).count()
        clean, quar = validation_split(transform_pos(raw, self.ctx.spark))
        n_clean, n_quar = clean.count(), quar.count()
        feed_rows = changed = 0
        for v0, v1 in (self.day_versions[d] for d in days if d in self.day_versions):
            feed = self.fact.changes(v0, to_version=v1, keys=list(FACT_KEYS))
            changed += feed.filter(
                F.col("_change_type").isin("insert", "update_postimage", "delete")).count()
            feed_rows += self.fact.changes(v0, to_version=v1).count()
        return {
            "orders": orders,
            "line_items": n_clean + n_quar,
            "quarantined": n_quar,
            "feed_rows": feed_rows,
            "changed_rows": changed,
            "live_files": len(self.fact.files()),
            "manifests": len(self.fact.manifest()["manifests"]),
            "day_input_bytes": sum(self.ctx.manifest["drops"][d]["bytes"] for d in days),
        }


def pos_kpi(fact, kind: str):
    """POS dashboard KPIs over the fact snapshot (the shapes of the
    registered ``pos_dashboard_kpis`` query)."""
    from pyspark.sql import functions as F

    amount = F.col("total_order_amount").cast("decimal(18,2)")
    if kind == "pos_category":
        return fact.groupBy("category").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(amount * F.col("quantity").cast("decimal(18,2)")).cast("double").alias("amount"))
    if kind == "pos_payment_mix":
        return fact.groupBy("payment_type", "order_type").agg(
            F.count(F.lit(1)).alias("n_items"), F.sum(amount).cast("double").alias("amount"))
    return fact.groupBy(F.hour("payment_time").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_items"), F.sum(amount).cast("double").alias("amount"))


def kpi_oracle_check(run: Run, registry, sf: str, registered: dict[str, list]) -> None:
    """Every read of a registered KPI (``registered`` maps each KPI to
    the rows of each of its reads) against the KPI's DuckDB oracle SQL on
    the generated tables, after the timed loop."""
    import duckdb

    def keyed(pairs) -> tuple:
        return tuple(f"{c}={v}" for c, v in sorted(pairs))

    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(sf, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        for name in REGISTERED_KPIS:
            res = con.execute(registry.ORACLES[name])
            cols = [d[0] for d in res.description]
            want = sorted(keyed(zip(cols, r)) for r in res.fetchall())
            got = [sorted(keyed(r.asDict().items()) for r in rows)
                   for rows in registered.get(name, [])]
            run.check(f"reads.oracle.{name}", bool(got) and all(g == want for g in got))
    finally:
        con.close()


def pos_daily_etl(ctx: Context) -> Run:
    from pyspark.sql import functions as F

    run, tr = ctx.run, ctx.tracer
    t0 = time.perf_counter()
    spark = start_session(ctx)
    from amante_s_supabase_full_cloud_etl_pipeline_spark import registry

    registry.load_all_queries()
    etl = PosEtl(ctx)
    sf = os.path.join(ctx.inputs, "sf")
    epoch = dt.datetime.fromisoformat(ctx.manifest["epoch"])
    drops = ctx.manifest["drops"]
    bad: list[str] = []

    # what each read returned, checked after the loop: the registered
    # KPIs against their oracle, order lookups and day ranges against
    # the final snapshot (an order's rows and a day's rows never change
    # once landed: re-submits upsert the same keys)
    registered: dict[str, list] = {}
    looked: list[tuple[str, int, bool]] = []  # (order id, rows, all rows carry it)
    ranged: list[tuple[int, int]] = []  # (day, rows)

    def kpi_step(name: str):
        def go():
            if name in REGISTERED_KPIS:
                with tr.span("plans.dashboard.build"):
                    df = registry.QUERIES[name](spark, sf)
                with tr.span("plans.dashboard.action"):
                    rows = df.collect()
                registered.setdefault(name, []).append(rows)
            elif name == "view_read":
                with tr.span("sources.materialized.read"):
                    rows = etl.view.read().collect()
            else:
                rows = pos_kpi(etl.fact.read(), name).collect()
            if not rows:
                bad.append(f"{name} returned no rows")
            return 1
        return go

    def lookup_step(oid: str):
        def go():
            rows = etl.fact.read(filters=[("order_id", "=", oid)]).collect()
            looked.append((oid, len(rows), all(r["order_id"] == oid for r in rows)))
            return 1
        return go

    def range_step(d: int):
        lo, hi = day_bounds(d)

        def go():
            r = etl.fact.read(filters=[("payment_time", ">=", lo), ("payment_time", "<", hi)]
                              ).agg(F.count(F.lit(1)).alias("n"),
                                    F.sum("total_order_amount").alias("s")).collect()[0]
            ranged.append((d, r["n"]))
            return 1
        return go

    def day_bounds(d: int):
        return epoch + dt.timedelta(days=d), epoch + dt.timedelta(days=d + 1)

    def read_steps(day: int) -> list:
        steps = []
        for op in ctx.reads["pos"][day]:
            if op[0] == "kpi":
                steps.append(("kpi", kpi_step(op[1])))
            elif op[0] == "lookup_order":
                steps.append(("lookup", lookup_step(op[1])))
            else:
                steps.append(("lookup", range_step(op[1])))
        return steps

    ctx.cycles = min(ctx.cycles, len(drops) - SETUP_CYCLES)

    def cycle(day: int):
        rows = etl.land([day])

        def go():
            before = etl.fact.current_version()
            etl.daily_run(day)
            etl.day_versions[day] = (before, etl.fact.current_version())
            return rows

        return ("day", f"day{day}", go), read_steps(day)

    ctx.warm_up(cycle)
    run.setup_s = time.perf_counter() - t0
    log(f"setup {run.setup_s:.2f}s")
    ctx.loop(cycle)
    log(f"days {[round(o.wall_s, 2) for o in run.ops if o.kind == 'batch']}")
    kpi_oracle_check(run, registry, sf, registered)
    log("KPI oracle check done")
    fact = etl.fact.read()
    ids = sorted({oid for oid, _, _ in looked})
    want = {r["order_id"]: r["count"] for r in
            fact.filter(F.col("order_id").isin(ids)).groupBy("order_id").count().collect()}
    for oid, n, same_id in looked:
        if n != want.get(oid, 0) or not same_id:
            bad.append(f"lookup {oid}: {n} rows, want {want.get(oid, 0)}")
    days = sorted({d for d, _ in ranged})
    in_day = [F.sum(F.when((F.col("payment_time") >= lo) & (F.col("payment_time") < hi), 1)
                    .otherwise(0)).alias(f"d{d}") for d in days for lo, hi in [day_bounds(d)]]
    per_day = fact.agg(*in_day).collect()[0] if days else {}
    for d, n in ranged:
        if n != per_day[f"d{d}"]:
            bad.append(f"day range {d}: {n} rows, want {per_day[f'd{d}']}")
    for msg in bad[:10]:
        log(f"read check: {msg}")
    run.check("reads.results_match", not bad)
    log("read checks done")
    run.stored_bytes = etl.stored_bytes()
    run.input_bytes = etl.input_bytes()
    etl.check(run)
    log("ETL checks done")
    if tr.enabled:
        run.counts.update(etl.shape_counts())
    return run


# -- corpus_curation -------------------------------------------------------------


def curation_pass(spark, docs_dir: str, out_dir: str, Table):
    """The ``examples/curate_corpus.py`` chain, composed from the
    operators' public functions: extraction, hygiene and signals, PII
    redaction, exact and MinHash dedup, the deterministic split, and
    one append of the split-labelled result. Returns the committed
    table and the MinHash candidate frames.

    The example's boilerplate, line and span dedup and its benchmark
    decontamination are left out: on 4 cores they take a 4.5 s pass to
    21 s, which the benchmark's time budget cannot hold."""
    from pyspark.sql import functions as F

    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators import (
        extraction,
        hygiene,
        sampling,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.cache import (
        release_tracked,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup import (
        drop_exact_dups,
        minhash_candidates,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.redact import redact_pii
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text import (
        dup_token_count,
        lang_id,
        quality_score,
        token_count,
        tokens,
    )

    release_tracked()
    plain = catalog.table(spark, docs_dir, "documents")
    esc = F.col("text")
    for pat, rep in ((r"&", "&amp;"), (r"<", "&lt;"), (r">", "&gt;")):
        esc = F.regexp_replace(esc, pat, rep)
    crawl = plain.select(
        "doc_id", "source",
        F.concat(F.lit("<html><head><title>doc</title></head><body><p>"), esc,
                 F.lit("</p><footer><a href='/s'>share</a><a href='/t'>tweet</a>"
                       "</footer></body></html>")).alias("html"))
    extracted = extraction.extract_text(crawl)
    raw = (extracted.filter(F.col("text").isNotNull() & (F.col("link_density") < 0.5))
           .select("doc_id", "text").join(plain.select("doc_id", "source"), "doc_id"))
    docs = hygiene.fixed_text(raw).drop("changed")
    density = hygiene.compression_signals(docs).select("doc_id", "compression_ratio")
    toks = tokens(F.col("text"))
    scored = docs.join(density, "doc_id").select(
        "doc_id", "text", "compression_ratio",
        lang_id(F.col("text")).alias("pred_lang"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tok"),
        (dup_token_count(toks) / F.greatest(F.size(toks), F.lit(1))).alias("rep_frac"))
    kept = scored.filter(
        (F.col("pred_lang") == "en") & (F.col("quality") >= 0.4) & (F.col("n_tok") >= 20)
        & (F.col("rep_frac") <= 0.6) & F.col("compression_ratio").between(0.05, 0.95)
    ).drop("compression_ratio")
    redacted = kept.select("doc_id", "pred_lang", "quality",
                           redact_pii(F.col("text")).alias("text"))
    unique = drop_exact_dups(redacted)
    near = minhash_candidates(unique.select("doc_id", "text"))
    losers = near.select(F.col("id_b").alias("doc_id")).distinct()
    final = sampling.train_val_test_split(unique.join(losers, "doc_id", "left_anti"), "doc_id")
    table = Table(spark, out_dir)
    table.append(final)
    return table, near, losers


def curation_digest(table) -> tuple:
    """(split, rows, content hash) per split of a committed pass."""
    from pyspark.sql import functions as F

    return tuple(
        (r["split"], r["n"], r["h"]) for r in table.read().groupBy("split").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("doc_id", "text").cast("decimal(38,0)")).alias("h"),
        ).orderBy("split").collect())


def corpus_report(spark, table, docs_dir: str, kind: str) -> list[tuple]:
    """An aggregate read of a curated table: the train split's source
    mixture (``mixture``) or the documents and tokens per split."""
    from pyspark.sql import functions as F

    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text import token_count

    agg = (F.count(F.lit(1)).alias("n_docs"), F.sum(token_count(F.col("text"))).alias("n_tok"))
    if kind == "mixture":
        plain = catalog.table(spark, docs_dir, "documents").select("doc_id", "source")
        grouped = table.read(filters=[("split", "=", "train")]).join(plain, "doc_id").groupBy(
            "source")
    else:
        grouped = table.read().groupBy("split")
    return _rows(grouped.agg(*agg).collect())


def corpus_curation(ctx: Context) -> Run:
    run, tr = ctx.run, ctx.tracer
    t0 = time.perf_counter()
    spark = start_session(ctx)
    Table = table_class(tr)
    docs_dir = os.path.join(ctx.inputs, "docs")
    n_docs = ctx.manifest["docs"]["docs"]
    # every pass's table is kept until the end; what each read returned
    # is checked after the loop: every report against the first of its
    # kind, every lookup against the last pass (the passes are checked
    # identical)
    tables: list = []
    last: dict = {}
    reports: dict[str, list] = {}
    looked: list[tuple[int, int, bool]] = []  # (doc id, rows, all rows carry it)

    def read_steps(i: int) -> list:
        def report(kind: str):
            def go():
                reports.setdefault(kind, []).append(
                    corpus_report(spark, tables[-1], docs_dir, kind))
                return 1
            return go

        def lookup(doc_id: int):
            def go():
                rows = tables[-1].read(filters=[("doc_id", "=", doc_id)]).collect()
                looked.append((doc_id, len(rows), all(r["doc_id"] == doc_id for r in rows)))
                return 1
            return go

        return [("lookup", lookup(op[1])) if op[0] == "lookup_doc" else ("kpi", report(op[0]))
                for op in ctx.reads["docs"][i]]

    ctx.cycles = min(ctx.cycles, len(ctx.reads["docs"]) - SETUP_CYCLES)

    def cycle(i: int):
        out = os.path.join(ctx.work, f"pass_{i}")

        def go():
            table, last["near"], last["losers"] = curation_pass(spark, docs_dir, out, Table)
            tables.append(table)
            return n_docs

        return ("pass", f"pass{i}", go), read_steps(i)

    ctx.warm_up(cycle)
    run.setup_s = time.perf_counter() - t0
    log(f"setup {run.setup_s:.2f}s")
    ctx.loop(cycle)
    log(f"passes {[round(o.wall_s, 2) for o in run.ops if o.kind == 'batch']}")
    digests = [curation_digest(t) for t in tables]
    log(f"splits {[(s, n) for s, n, _ in digests[0]]}")
    run.check("curation.nonempty_train", any(s == "train" and n > 0 for s, n, _ in digests[0]))
    run.check("curation.passes_identical", all(d == digests[0] for d in digests))
    kept_ids = {r["doc_id"] for r in tables[-1].read().select("doc_id").collect()}
    bad = [f"{kind} differs from the first pass's" for kind, got in reports.items()
           if any(r != got[0] for r in got)]
    bad += [f"doc {doc_id} returned {n} rows" for doc_id, n, same_id in looked
            if n != (doc_id in kept_ids) or not same_id]
    for msg in bad[:10]:
        log(f"read check: {msg}")
    run.check("curation.reads_match", not bad)
    run.stored_bytes = live_bytes(tables[-1])
    run.input_bytes = ctx.manifest["docs"]["bytes"]
    if tr.enabled:
        run.counts.update({"candidate_pairs": last["near"].count(),
                           "near_dup_drops": last["losers"].count()})
    return run


WORKLOADS: dict[str, Callable[[Context], Run]] = {
    "pos_daily_etl": pos_daily_etl,
    "corpus_curation": corpus_curation,
}
