"""Streaming BM25 inverted index: probing the incrementally-folded
index must equal the batch build_index + bm25_score over the whole
corpus ROW-FOR-ROW (scores included), under any chunking and arrival
order; replays fold exactly once; the probed read prunes by term
without changing results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.bm25 import (
    bm25_score,
    build_index,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
    ParquetTable,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.bm25_index import (
    bm25_index_topk,
    bm25_index_writer,
    fold_bm25_index,
)

N_DOCS = 300


def _docs(spark, sf_dir):
    return (
        catalog.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < N_DOCS)
        .select("doc_id", "text")
    )


def _queries(spark):
    return spark.createDataFrame(
        [
            (0, ["the", "data", "pipeline"]),
            (1, ["learning", "model", "model"]),  # repeated term: qtf leg
            (2, ["spark", "distributed"]),
            (3, ["zzzznotaterm"]),  # no hits
        ],
        "query_id int, terms array<string>",
    )


def _rows(df):
    return [
        (r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in df.collect()
    ]


def _batch_want(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    postings, stats = build_index(docs)
    return _rows(bm25_score(postings, stats, _queries(spark), k=5))


@pytest.mark.parametrize("chunks", [1, 4])
def test_streamed_index_equals_batch_scores(spark, sf_dir, tmp_path, chunks):
    want = _batch_want(spark, sf_dir)
    assert want, "expected hits in the corpus slice"
    docs = _docs(spark, sf_dir)
    postings = ParquetTable(spark, str(tmp_path / f"p{chunks}"))
    stats = ParquetTable(spark, str(tmp_path / f"s{chunks}"))
    per = (N_DOCS + chunks - 1) // chunks
    for i in range(chunks):
        chunk = docs.filter(
            (F.col("doc_id") >= i * per) & (F.col("doc_id") < (i + 1) * per)
        )
        fold_bm25_index(postings, stats, chunk, batch_id=i)
    got = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    assert got == want


def test_arrival_order_does_not_change_scores(spark, sf_dir, tmp_path):
    """Interleaved ids across batches (parity split) — df/avgdl/N are
    order-free aggregates, so scores must not move."""
    want = _batch_want(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    postings = ParquetTable(spark, str(tmp_path / "pp"))
    stats = ParquetTable(spark, str(tmp_path / "sp"))
    for i, pred in enumerate(
        [F.col("doc_id") % 2 == 1, F.col("doc_id") % 2 == 0]
    ):
        fold_bm25_index(postings, stats, docs.filter(pred), batch_id=i)
    got = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    assert got == want


def test_replay_folds_exactly_once(spark, sf_dir, tmp_path):
    """Re-delivering a batch_id (foreachBatch retry) must not
    double-count tf/dl — scores stay identical to the single-fold
    run."""
    want = _batch_want(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    postings = ParquetTable(spark, str(tmp_path / "pr"))
    stats = ParquetTable(spark, str(tmp_path / "sr"))
    half = docs.filter(F.col("doc_id") < N_DOCS // 2)
    rest = docs.filter(F.col("doc_id") >= N_DOCS // 2)
    fold_bm25_index(postings, stats, half, batch_id=0)
    fold_bm25_index(postings, stats, half, batch_id=0)  # replay
    fold_bm25_index(postings, stats, rest, batch_id=1)
    fold_bm25_index(postings, stats, rest, batch_id=1)  # replay
    got = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    assert got == want
    n_postings = postings.read().count()
    assert n_postings == build_index(docs)[0].count()


def test_probe_prune_path_equals_range_degrade(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Forcing the shared helper's IN-list cap to 0 switches the
    postings read to the key-RANGE degrade path; results must be
    identical either way (pruning is an optimization, never a
    filter). The probe now rides table_format.read_pruned_by_keys —
    one choreography across the streaming index folds."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources import (
        table_format,
    )

    docs = _docs(spark, sf_dir)
    postings = ParquetTable(spark, str(tmp_path / "pf"))
    stats = ParquetTable(spark, str(tmp_path / "sf"))
    fold_bm25_index(postings, stats, docs, batch_id=0)
    pruned = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    monkeypatch.setattr(table_format, "_MAX_IN_LIST", 0)
    degraded = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    assert pruned == degraded == _batch_want(spark, sf_dir)


def test_writer_compacts_and_survives_replay(spark, sf_dir, tmp_path):
    """The foreachBatch handler: folds per batch_id, a retry of the
    LAST batch (foreachBatch's actual replay model) converges even
    when that batch also triggered compaction — the handler compacts
    BEFORE folding precisely so the fold stays each table's final
    commit and the ledger guard holds. Results row-identical to the
    batch path; file count bounded."""
    want = _batch_want(spark, sf_dir)
    docs = _docs(spark, sf_dir)
    postings = ParquetTable(spark, str(tmp_path / "pw"))
    stats = ParquetTable(spark, str(tmp_path / "sw"))
    handle = bm25_index_writer(postings, stats, compact_at_files=3)
    per = N_DOCS // 3 + 1
    for i in range(3):
        chunk = docs.filter(
            (F.col("doc_id") >= i * per) & (F.col("doc_id") < (i + 1) * per)
        )
        handle(chunk, i)
        if i == 2:
            # crash-retry of the final batch, which also crossed the
            # compaction threshold on its first delivery
            handle(chunk, i)
    # compaction bounded BOTH tables' file counts (self-review r5:
    # doc_stats is read in full per probe, so it compacts too)
    assert len(postings.files()) <= 3
    assert len(stats.files()) <= 3
    got = _rows(bm25_index_topk(postings, stats, _queries(spark), k=5))
    assert got == want


def test_empty_index_queries_return_no_rows(spark, tmp_path):
    """Query-anytime includes before the first fold (self-review r5:
    this used to raise 'table is empty'): an un-folded index answers
    with zero rows and the right columns."""
    postings = ParquetTable(spark, str(tmp_path / "pe"))
    stats = ParquetTable(spark, str(tmp_path / "se"))
    out = bm25_index_topk(postings, stats, _queries(spark), k=5)
    assert out.columns == ["query_id", "doc_id", "score", "rank"]
    assert out.count() == 0
