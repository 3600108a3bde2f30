"""Incrementally-maintained BM25 inverted index — streaming lexical
retrieval (charter §2.10 similarity/retrieval family × §2.8 streaming
surface).

``operators/bm25.py`` builds the (postings, doc_stats) index pair in
one batch pass. A continuous-ingest corpus can't afford a full
rebuild per micro-batch, and it doesn't need one: an inverted index
is APPEND-DECOMPOSABLE — a document's postings rows (term, doc_id,
tf) and its length row (doc_id, dl) depend on that document alone.
So the streaming form folds each micro-batch's rows into two
persistent ParquetTables (snapshot-isolated, exactly-once per
batch_id), next to the IVF ANN index (``ann_index.py``): the
lexical half of hybrid RAG retrieval stays queryable while the
corpus grows.

What is deliberately NOT stored: per-term document frequency. df is
a GLOBAL aggregate — denormalizing it onto postings (as the batch
builder does) would mean rewriting every stored posting of every
term a batch touches, turning O(batch) appends into O(term-corpus)
rewrites. The probe recomputes df from the probed terms' postings
only — and because the table holds ALL postings for a term, that
probe-local count IS the global df, so streamed scores equal the
batch path's exactly (the differential the tests pin).

Scale design:
- fold = two hash-agg passes over the batch + two appends. Nothing
  reads the stored corpus.
- probe = equi-join on term against the postings table; stored
  bucketed/compacted by term, the read prunes to the probed terms'
  files (IN-list file skipping locally, capped like the near-dup
  index's probe; the join is correct without the prune).
- df per probed term is a groupBy over postings already restricted
  to those terms — the same rows the scoring join reads anyway.
- scoring delegates to ``operators.bm25.bm25_score`` — ONE
  expression tree for batch and streaming, so the two paths cannot
  drift.
- ``compact_at_files`` bounds BOTH tables' file counts as
  micro-batches accumulate (postings term-sorted for probe file
  skipping; doc_stats doc_id-sorted — it is read in full per probe),
  same knob as the other streaming indexes.

Assumption (documented like the ANN index's frozen quantizer): doc
ids are unique across batches — re-ingesting a changed document is
an upsert problem for the table format's MERGE, not this fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.bm25 import bm25_score, index_rows, tokenized_terms
from ..sources.table_format import ParquetTable, read_pruned_by_keys

def fold_bm25_index(
    postings: ParquetTable,
    doc_stats: ParquetTable,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> None:
    """Fold one micro-batch into the stored index pair. Exactly-once
    under foreachBatch replay: each table's batch_id ledger skips the
    leg it already committed, so a retry that died between the two
    appends converges instead of double-counting. The tokenized frame
    persists across the two appends — they are separate actions, and
    without the cache each would re-run the explode/tokenize pass
    (self-review r5)."""
    tokenized = tokenized_terms(batch, text_col, id_col).persist()
    try:
        tf, dl = index_rows(tokenized)
        postings.append(tf.select("term", "doc_id", "tf"), batch_id=batch_id)
        doc_stats.append(dl.select("doc_id", "dl"), batch_id=batch_id)
    finally:
        tokenized.unpersist()


def bm25_index_topk(
    postings: ParquetTable,
    doc_stats: ParquetTable,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    doc_id_type: str = "long",
) -> DataFrame:
    """Top-k BM25 over the STORED index: (query_id, doc_id, score,
    rank), identical to running the batch ``bm25_score`` over a
    ``build_index`` of the same corpus (tests pin row-for-row
    equality).

    One driver job on the query batch yields the probed-term list
    (IN-list file pruning of the postings read via the shared
    :func:`..sources.table_format.read_pruned_by_keys`, range-degrade
    past its cap); df per term is counted from the probed
    postings — the full posting set for those terms, hence the global
    value. Scoring delegates to ``bm25_score`` so batch and streaming
    share one expression tree.

    Query-anytime includes BEFORE the first fold: an empty index
    returns zero rows, it does not raise. With nothing stored to
    infer from, the empty frame's doc_id is typed by ``doc_id_type``
    — pass the corpus's actual id type (e.g. ``"string"``) so the
    pre-first-fold schema matches every later call's."""
    stored = None
    if postings.current_version() > 0 and doc_stats.current_version() > 0:
        stored = read_pruned_by_keys(
            postings,
            queries.select(F.explode("terms").alias("term")),
            "term",
        )
    if stored is None:  # pre-first-fold index, or a term-less probe
        qtype = dict(queries.dtypes)["query_id"]
        return queries.sparkSession.createDataFrame(
            [],
            f"query_id {qtype}, doc_id {doc_id_type}, score double, rank int",
        )
    term_df = stored.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    with_df = stored.join(term_df, "term").select("term", "doc_id", "tf", "df")
    return bm25_score(
        with_df,
        doc_stats.read(),
        queries,
        k=k,
        k1=k1,
        b=b,
        round_to=round_to,
    )


def bm25_index_writer(
    postings: ParquetTable,
    doc_stats: ParquetTable,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_at_files: int = 0,
):
    """foreachBatch handler maintaining the index pair exactly-once:

        (stream.writeStream
              .foreachBatch(bm25_index_writer(postings, doc_stats))
              .option("checkpointLocation", ...).start())

    ``compact_at_files`` > 0 compacts BOTH tables at the threshold —
    postings term-sorted (keeps the probe's per-term file skipping
    effective), doc_stats doc_id-sorted (it is fully read per probe,
    so its file count matters just as much). The replay guard walks
    past compaction commits (they are marked as maintenance), so
    ordering is not load-bearing for exactly-once; compacting BEFORE
    the fold is defense-in-depth that also keeps the guard's
    maintenance-commit walk at length zero in the steady state."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files:
            if len(postings.files()) >= compact_at_files:
                postings.compact(sort_by=["term"])
            if len(doc_stats.files()) >= compact_at_files:
                doc_stats.compact(sort_by=["doc_id"])
        fold_bm25_index(
            postings,
            doc_stats,
            batch,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
        )

    return handle
