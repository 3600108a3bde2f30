"""Streaming POS ETL: the reference's cron-batch file loop as a
Structured Streaming pipeline (SURVEY.md §2.8, S1/S2/S9).

Reference contract being replaced:
- S1 folder scan (ref main.py:419-421)  → file-source ``readStream``
  on a landing dir (``maxFilesPerTrigger`` bounds batch size).
- S9 archive-move consumption marker (ref main.py:465-469, which is
  also buggy — archives only when quarantine rows exist) →
  checkpointed exactly-once file tracking + ``cleanSource=archive``
  doing the *documented* intent (README.md:92) correctly.
- "run the batch, drain the folder, exit" cron semantics
  (README.md:125) → ``Trigger.AvailableNow``.
- S5/S6 dual upsert sinks → ``foreachBatch`` running the kernel once
  per micro-batch, splitting clean/quarantine from one cached
  evaluation, and writing both targets idempotently per batch.

Delivery semantics: ``foreachBatch`` is AT-LEAST-ONCE (a crash after
a sink write but before the checkpoint commit replays the batch), so
each sink write is made idempotent by partitioning on ``_batch_id``
with dynamic partition overwrite — a replayed batch overwrites its own
partition instead of appending duplicates. At-least-once replay +
idempotent per-batch write = exactly-once observable state, the same
construction a transactional table format gives you at scale.

At scale the landing dir is object storage; file listing cost is
bounded by ``maxFilesPerTrigger`` and the checkpoint's seen-file log.

Model: Structured Streaming's incremental-query semantics ("Structured
Streaming: A Declarative API for Real-Time Applications in Apache
Spark", SIGMOD 2018 — PAPERS.md) — the same kernel plan runs batch
and streaming; the engine only swaps the source/sink.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import validation_split
from ..plans.pos_fixture import RAW_SCHEMA
from ..plans.pos_kernel import transform_pos

BatchHandler = Callable[[DataFrame, DataFrame, int], None]


def read_pos_stream(
    spark: SparkSession,
    landing_dir: str,
    max_files_per_trigger: int = 100,
    archive_dir: Optional[str] = None,
) -> DataFrame:
    """File-source stream over a CSV landing dir (the xlsx→landing
    conversion is sources.xlsx_shim; the engine standardizes on
    CSV/parquet landing, SURVEY.md S3)."""
    reader = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("header", "true")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return reader.csv(landing_dir)


def _write_idempotent(df: DataFrame, target: str, batch_id: int) -> None:
    """Idempotent per-batch parquet write: the batch lands in its own
    ``_batch_id`` partition via dynamic partition overwrite, so an
    at-least-once replay of the same micro-batch replaces its partition
    rather than appending duplicates. Other batches' partitions are
    untouched (dynamic mode only overwrites partitions present in the
    written data)."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(target)
    )


def pos_batch_handler(fact_dir: str, quarantine_dir: str) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: kernel → validation split → two
    idempotent per-batch sink writes from one cached evaluation.
    Exposed for direct replay/crash testing."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # A3 emptiness gate (ref main.py:456,460)
            return
        ts = batch_df.sparkSession
        fact = transform_pos(
            batch_df.withColumn("Payment time", F.col("`Payment time`").cast("timestamp")),
            ts,
        ).cache()
        try:
            clean, quarantine = validation_split(fact)
            _write_idempotent(clean, fact_dir, batch_id)
            _write_idempotent(quarantine, quarantine_dir, batch_id)
        finally:
            fact.unpersist()

    return handle


#: the fact table's explicit upsert key (SURVEY.md §7 risk register:
#: explode destroys pandas row identity, so the engine must name one;
#: payment_time disambiguates re-submitted orders)
FACT_KEYS = ("order_id", "items", "payment_time")


def pos_table_handler(
    fact_table, quarantine_table, views: Sequence = ()
) -> Callable[[DataFrame, int], None]:
    """Transactional variant of :func:`pos_batch_handler`: both sinks
    are :class:`~..sources.table_format.ParquetTable` MERGEs —
    snapshot-isolated commits, and exactly-once via the table's
    batch_id idempotency instead of partition overwrite. This is the
    production shape: concurrent dashboard readers keep their pinned
    snapshot while a micro-batch commits.

    Replay stays exactly-once because each table keeps its own
    ``batch_id`` ledger: a replay after a half-committed batch skips
    the sink that committed and re-applies only the other.

    ``views`` — optional
    :class:`~..sources.materialized.IncrementalAggView`s over the fact
    table, refreshed after each commit (the reference fires its ELT
    stored procedure per load, ref main.py:479; here the aggregate
    maintains itself from the change feed, and a replayed micro-batch
    re-refreshes idempotently because the consumed source version
    rides the view's own commit)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # A3 emptiness gate
            return
        ts = batch_df.sparkSession
        fact = transform_pos(
            batch_df.withColumn("Payment time", F.col("`Payment time`").cast("timestamp")),
            ts,
        ).cache()
        try:
            clean, quarantine = validation_split(fact)
            order_by = [c for c in clean.columns if c not in FACT_KEYS]
            fact_table.merge(clean, list(FACT_KEYS), order_by, batch_id=batch_id)
            quarantine_table.merge(
                quarantine, list(FACT_KEYS), order_by, batch_id=batch_id
            )
        finally:
            fact.unpersist()
        for view in views:
            view.refresh()

    return handle


def run_pos_pipeline(
    spark: SparkSession,
    landing_dir: str,
    fact_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    archive_dir: Optional[str] = None,
):
    """End-to-end streaming ETL: landing files → kernel → validation
    split → two parquet sinks; checkpointed source progress plus
    idempotent per-batch sink writes give exactly-once observable
    state (see module notes on delivery semantics).

    Returns the StreamingQuery (caller awaits termination)."""
    raw = read_pos_stream(spark, landing_dir, archive_dir=archive_dir)

    writer = (
        raw.writeStream.foreachBatch(pos_batch_handler(fact_dir, quarantine_dir))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_pos_pipeline_transactional(
    spark: SparkSession,
    landing_dir: str,
    fact_table,
    quarantine_table,
    checkpoint_dir: str,
    available_now: bool = True,
    archive_dir: Optional[str] = None,
):
    """The production variant of :func:`run_pos_pipeline`: sinks are
    snapshot-isolated :class:`~..sources.table_format.ParquetTable`
    MERGEs (exactly-once via per-batch_id idempotent commits), so
    concurrent readers keep a consistent snapshot while micro-batches
    land. Returns the StreamingQuery."""
    raw = read_pos_stream(spark, landing_dir, archive_dir=archive_dir)
    writer = (
        raw.writeStream.foreachBatch(pos_table_handler(fact_table, quarantine_table))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_landing_csv(df: DataFrame, landing_dir: str, name: str) -> str:
    """Test helper: drop a batch of raw rows as one landing CSV file
    (simulates a POS export arriving)."""
    tmp = os.path.join(landing_dir, f"_stage_{name}")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    # promote the part file to a stable name in the landing dir
    import glob
    import shutil

    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    dest = os.path.join(landing_dir, f"{name}.csv")
    shutil.move(part, dest)
    shutil.rmtree(tmp)
    return dest
