"""SparkSession factory with scale-appropriate defaults.

The reference executes eagerly in a single pandas process
(``/root/reference/main.py:434-441``); this engine instead declares
lazy DataFrame plans and lets Catalyst/Tungsten execute them. The
session defaults below are chosen for correctness-at-scale:

- **AQE on** — runtime re-planning (shuffle coalescing, skew-join
  splitting, dynamic broadcast) is the main defense against skewed
  keys at 100 TB.
- **UTC session timezone** — deterministic timestamp semantics across
  engines (the DuckDB oracle reads parquet timestamps naively).
- **shuffle partitions** sized from the env (local test = 32; a real
  cluster would set this to ~2-3x total cores, or rely on AQE
  coalescing from a high initial value).
- **codegen cache sized to one pipeline run** — Spark keeps 100
  compiled classes by default, but one daily POS run builds about 300
  distinct classes and ``tests/test_pagerank.py`` about 370. Every
  evicted class is recompiled (Janino) the next time its plan shape
  recurs, so each day and each dashboard read paid again for code an
  earlier cycle had built. The cap is not sized to the whole test
  suite's set (well over 2000 classes): a 2000-class cache measured
  slower than the default late in that long session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/product dims) should always broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: keep row-group pruning + vectorized reader on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns type, so
    # read as long and convert (catalog.table does the exact integer
    # ns→µs conversion).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InferFiltersFromGenerate duplicates the generator expression into
    # a pre-explode filter; with expensive array expressions (shingle/
    # signature pipelines) that re-evaluates the whole pipeline per row
    # — measured 5x on the near-dup queries. Our explode inputs are
    # engine-built non-null arrays, so the inferred filter only costs.
    "spark.sql.optimizer.excludedRules": "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


#: generated classes the session's codegen cache keeps (see the module
#: notes for why the default 100 is too small)
CODEGEN_CACHE_ENTRIES = 512


def get_spark(app_name: str = "amante-spark-engine") -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. If a session
    already exists (e.g. the driver handed us one), returns it with
    runtime-settable confs applied.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return configure(active)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Worker daemon with numpy/pandas/pyarrow pre-imported: forked
    # workers inherit them (guide §4.5 applied to the interpreter —
    # ~0.35 s import chain per fresh fork otherwise, and the worker
    # pool churns under chained Python stages). Static conf, so it
    # applies only to sessions THIS factory creates; the package
    # parent rides executorEnv.PYTHONPATH so the daemon module
    # resolves regardless of the launching process's cwd.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        # Static SQL conf, so it belongs here and not in DEFAULT_CONF.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config(
            "spark.python.daemon.module",
            "amante_s_supabase_full_cloud_etl_pipeline_spark.fastdaemon",
        )
        .config(
            "spark.executorEnv.PYTHONPATH",
            pkg_parent + (os.pathsep + py_path if py_path else ""),
        )
    )
    for k, v in DEFAULT_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an existing session,
    and ship this package to Python workers (mapInPandas kernels must
    be importable even when the driver runs from an arbitrary cwd).
    Static confs, the codegen cache size among them, keep the value
    the session was built with."""
    for k, v in DEFAULT_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static confs (e.g. arrow flag on some builds) — best effort.
            pass
    _ship_package(spark)
    return spark


_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Zip this package once per process and addPyFile it so executors
    can unpickle module-level Python functions."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    try:
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        zip_path = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            with zipfile.ZipFile(zip_path, "w") as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(root, fn)
                            rel = os.path.join(
                                pkg_name, os.path.relpath(full, pkg_dir)
                            )
                            zf.write(full, rel)
        spark.sparkContext.addPyFile(zip_path)
        _SHIPPED.add(app_id)
    except Exception:
        # Best effort — Connect sessions lack sparkContext; kernels
        # shipped by value still work there.
        pass
