"""End-to-end Structured Streaming tests: the file-drop POS ETL
(exactly-once via checkpoint + keyed table MERGE) and event-time
windowed aggregations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import raw_pos_df
from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
    run_pos_pipeline_transactional,
    write_landing_csv,
)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "landing": str(tmp_path / "landing"),
        "fact": str(tmp_path / "fact"),
        "quarantine": str(tmp_path / "quarantine"),
        "checkpoint": str(tmp_path / "checkpoint"),
    }
    os.makedirs(d["landing"], exist_ok=True)
    return d


def test_windowed_and_session_streams(spark, sf_dir, tmp_path):
    """Run the event-time streaming aggregations over the events table
    replayed as a file stream; compare against the batch twin."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.events import (
        session_counts,
        windowed_counts,
    )

    events = catalog.table(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    q = (
        windowed_counts(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # watermark closes all windows except possibly the tail ones; the
    # batch twin is the upper bound and row shapes must agree
    batch = (
        events.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got_map = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    batch_map = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert got_map  # emitted closed windows
    for k, v in got_map.items():
        assert batch_map.get(k) == v  # every emitted window matches batch

    sess_out = str(tmp_path / "sess_out")
    sess_ckpt = str(tmp_path / "sess_ckpt")
    q2 = (
        session_counts(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", sess_ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sess_out)
        .start()
    )
    q2.awaitTermination(120)
    sess = spark.read.parquet(sess_out)
    assert sess.count() > 0
    assert sess.filter(F.col("session_end") < F.col("session_start")).count() == 0


def test_stateful_user_totals_accumulates_across_restarts(spark, sf_dir, tmp_path):
    """applyInPandasWithState keeps per-user running totals in the
    state store; a second run over NEW files restores state from the
    checkpoint and keeps counting — the custom-stateful-operator
    contract."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.events import (
        stateful_user_totals,
    )

    events = catalog.table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half1.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        # parquet sink rejects update mode → foreachBatch appender
        q = (
            stateful_user_totals(spark.readStream.schema(schema).parquet(src))
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .start()
        )
        q.awaitTermination(120)

    run_once()
    half2.write.mode("append").parquet(src)
    run_once()

    # the LAST emitted row per user must equal the full batch totals
    emitted = spark.read.parquet(out)
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in emitted.orderBy("n_events").collect()  # later rows have larger n
    }
    expect = {
        r["user_id"]: (r["n"], r["t"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(final) == set(expect)
    for u, (n, t) in expect.items():
        fn, ft = final[u]
        assert fn == n
        assert abs(ft - t) < 1e-6


def test_streaming_dedup_on_arrival_across_batches(spark, sf_dir, tmp_path):
    """Duplicates arriving in DIFFERENT micro-batches within the
    watermark are still dropped (the state store carries keys across
    batches); output is exactly one copy per distinct fingerprint."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.dedup import (
        content_dedup_on_arrival,
    )

    docs = (
        catalog.table(spark, sf_dir, "documents")
        .limit(100)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") % 600).alias(
                "ingest_ts"
            ),
        )
    )
    src = str(tmp_path / "docs_src")
    # two files => two micro-batches with maxFilesPerTrigger=1; the
    # second file re-delivers every row (exact duplicates) 5 min later
    docs.coalesce(1).write.parquet(src)
    dup = docs.withColumn("ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 5 MINUTES"))
    dup.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    q = (
        content_dedup_on_arrival(stream, watermark="1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    n_distinct = docs.select("text").distinct().count()
    assert got.count() == n_distinct
    assert got.select("fp").distinct().count() == n_distinct


def test_transactional_pipeline_stream_restart_idempotent(spark, dirs):
    """Full streaming run into ParquetTable sinks: the first drain
    commits the fixture (16 fact rows, O9 quarantined); a RESTART over
    the same checkpoint re-reads nothing; a new file is picked up
    incrementally, and a re-sent order upserts instead of duplicating;
    a restart with a WIPED checkpoint replays every file but the keyed
    merge leaves row counts unchanged — the two independent
    exactly-once layers."""
    import shutil

    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        ParquetTable,
    )

    fact_t = ParquetTable(spark, dirs["fact"])
    quar_t = ParquetTable(spark, dirs["quarantine"])

    def drain():
        q = run_pos_pipeline_transactional(
            spark, dirs["landing"], fact_t, quar_t, dirs["checkpoint"]
        )
        q.awaitTermination(120)

    raw = raw_pos_df(spark)
    write_landing_csv(raw, dirs["landing"], "batch1")
    drain()
    v1 = fact_t.current_version()
    assert v1 >= 1 and fact_t.read().count() == 16  # 17 line items, 1 quarantined
    assert [r["order_id"] for r in quar_t.read().collect()] == ["O9"]

    # restart over the same checkpoint: files already consumed
    drain()
    assert (fact_t.current_version(), fact_t.read().count()) == (v1, 16)

    # a new order arriving is picked up incrementally
    o1 = raw.filter(F.col("`Order ID`") == "O1")
    write_landing_csv(o1.withColumn("Order ID", F.lit("O1-new")), dirs["landing"], "batch2")
    drain()
    assert fact_t.read().count() == 18  # +2 line items

    # a re-sent order upserts on FACT_KEYS
    write_landing_csv(o1, dirs["landing"], "batch3")
    drain()
    assert fact_t.read().count() == 18

    # checkpoint lost → at-least-once replay; keyed MERGE absorbs it
    shutil.rmtree(dirs["checkpoint"])
    drain()
    assert (fact_t.read().count(), quar_t.read().count()) == (18, 1)


def test_streaming_curation_end_to_end(spark, sf_dir, tmp_path):
    """Curate-on-arrival: band filter + redaction + cross-batch
    content dedup + broadcast decontamination, committed idempotently
    into the transactional table. The second micro-batch re-delivers
    batch 1's rows (dropped by watermark dedup state), and documents
    overlapping the eval slice never reach the table."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.decontam import (
        contamination_overlap,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup import (
        drop_exact_dups,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text import (
        quality_score,
        token_count,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        ParquetTable,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.curate import (
        curate_batch,
        run_curation_stream,
    )

    docs = (
        catalog.table(spark, sf_dir, "documents")
        .limit(120)
        .select(
            "doc_id",
            "text",
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") % 600).alias(
                "ingest_ts"
            ),
        )
    )
    is_eval = F.col("doc_id") % 37 == 0
    corpus, eval_docs = docs.filter(~is_eval), docs.filter(is_eval)

    src = str(tmp_path / "curate_src")
    corpus.coalesce(1).write.parquet(src)
    redelivered = corpus.withColumn(
        "ingest_ts", F.col("ingest_ts") + F.expr("INTERVAL 5 MINUTES")
    )
    redelivered.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    table = ParquetTable(spark, str(tmp_path / "curated_table"))
    q = run_curation_stream(
        stream,
        table,
        eval_docs=eval_docs,
        checkpoint=str(tmp_path / "curate_ckpt"),
    )
    q.awaitTermination(120)

    got = table.read()

    # batch reference: same chain on the deduped corpus
    unique = drop_exact_dups(corpus)
    banded = unique.filter(
        (quality_score(F.col("text")) >= 0.4) & (token_count(F.col("text")) >= 20)
    )
    contaminated = (
        contamination_overlap(banded, eval_docs, k=3, threshold=0.5)
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    expect_ids = {r.doc_id for r in banded.join(contaminated, "doc_id", "left_anti").collect()}

    assert {r.doc_id for r in got.collect()} == expect_ids
    # redaction ran: no raw emails survive in committed text
    assert got.filter(F.col("text").rlike(r"[\w.]+@[\w.]+\.\w+")).count() == 0
