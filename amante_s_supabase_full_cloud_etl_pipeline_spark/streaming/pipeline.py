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
  evaluation, and MERGing both into snapshot-isolated
  ``ParquetTable`` sinks keyed on ``FACT_KEYS``.

Delivery semantics: ``foreachBatch`` is AT-LEAST-ONCE (a crash after
a sink commit but before the checkpoint commit replays the batch).
Each table records the ``batch_id`` of every commit in its manifest
ledger, so a replayed batch is a no-op on the sink that already
committed it; and the write itself is a keyed MERGE, so even a replay
the ledger cannot see (a lost checkpoint re-reading old files) or a
re-sent order upserts instead of duplicating. At-least-once replay +
idempotent keyed commit = exactly-once observable state.

At scale the landing dir is object storage; file listing cost is
bounded by ``maxFilesPerTrigger`` and the checkpoint's seen-file log.

Model: Structured Streaming's incremental-query semantics ("Structured
Streaming: A Declarative API for Real-Time Applications in Apache
Spark", SIGMOD 2018 — PAPERS.md) — the same kernel plan runs batch
and streaming; the engine only swaps the source/sink.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validate import validation_split
from ..plans.pos_fixture import RAW_SCHEMA
from ..plans.pos_kernel import transform_pos

#: files per micro-batch: bounds each batch's size and the landing
#: dir's listing cost
MAX_FILES_PER_TRIGGER = 100

#: the fact table's explicit upsert key (SURVEY.md §7 risk register:
#: explode destroys pandas row identity, so the engine must name one;
#: payment_time disambiguates re-submitted orders)
FACT_KEYS = ("order_id", "items", "payment_time")


def pos_table_handler(
    fact_table, quarantine_table
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body: kernel → validation split → both
    sinks as :class:`~..sources.table_format.ParquetTable` MERGEs from
    one cached evaluation — snapshot-isolated commits, so concurrent
    dashboard readers keep their pinned snapshot while a micro-batch
    commits.

    Replay stays exactly-once because each table keeps its own
    ``batch_id`` ledger: a replay after a half-committed batch skips
    the sink that committed and re-applies only the other.

    The caller refreshes views over the fact table, after the drain
    or after each batch: ``IncrementalAggView.refresh`` is idempotent
    per source version, so a replayed batch re-refreshes as a no-op."""

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

    return handle


def run_pos_pipeline_transactional(
    spark: SparkSession,
    landing_dir: str,
    fact_table,
    quarantine_table,
    checkpoint_dir: str,
    archive_dir: Optional[str] = None,
):
    """End-to-end streaming ETL, drain-and-exit: every CSV file in the
    landing dir (the xlsx→landing conversion is
    ``sources.landing.xlsx_to_landing_csv``; the engine standardizes
    on CSV/parquet landing, SURVEY.md S3) → kernel
    → validation split → MERGE into the fact and quarantine tables
    (see module notes on delivery semantics). ``archive_dir`` moves
    consumed files there (the S9 marker). Returns the StreamingQuery
    (caller awaits termination)."""
    reader = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("header", "true")
        .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
    )
    if archive_dir:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    return (
        reader.csv(landing_dir)
        .writeStream.foreachBatch(pos_table_handler(fact_table, quarantine_table))
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


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
