"""Streaming chunk-hash index over FastCDC chunks (VERDICT r9 #1: the
one incremental surface still missing; SURVEY.md §2.10's deferred
design brief).

``operators/cdc.py`` chunks documents at content-defined boundaries
and exposes two batch queries: :func:`~..operators.cdc.chunk_dedup_stats`
(the corpus duplication profile) and
:func:`~..operators.cdc.shared_chunk_pairs` (sub-document near-dup
pairs). Over a GROWING crawl, recomputing either from scratch re-runs
the chunking kernel over the whole corpus per refresh. This module
maintains the persistent state those queries need, folded
exactly-once per micro-batch, so each refresh reads stored state.

Why the design is two APPEND-ONLY tables, not a keyed upsert:

- ``counts`` — per-batch PARTIAL aggregates ``(chunk_hash,
  chunk_bytes, n_docs, n_occurrences)``. Integer counts are
  associative, so per-batch partials summed at read time equal the
  batch aggregation over the accumulated corpus BY CONSTRUCTION —
  the property the design brief demanded (a hash's corpus-wide
  document frequency is unknowable at fold time, so anything the
  fold decided from it would break streamed==batch). A keyed
  read-modify-write merge would also be O(table) per batch here:
  chunk hashes are uniformly distributed, so every batch's key range
  spans the whole space and range pruning never helps — the classic
  reason log-structured counters beat in-place counters.
- ``postings`` — distinct ``(chunk_hash, doc_id, chunk_bytes,
  n_occ)`` per batch: the per-document posting rows pair queries
  explode. Distinct-doc additivity across batches holds because a
  document's chunks all travel in the batch that carried the
  document (``chunk_documents`` is a per-row map) — the same
  each-doc-in-exactly-one-batch contract every index here inherits
  from the upstream seen-index/dedup tier.

The UBIQUITY CAP (``max_posting``) and the tail filter
(``min_chunk_bytes``) are applied at READ time as query-time filters
on the maintained counts — never at fold time. A boilerplate hash
that crosses the cap only after ten batches is dropped by the read
exactly as the batch operator drops it; re-reading with a different
cap needs no re-fold.

Maintenance: both tables take plain ``compact(sort_by=
["chunk_hash"])`` for layout; ``compact_chunk_counts`` additionally
folds the counts partials into one row per hash via
:meth:`~..sources.table_format.ParquetTable.rewrite` — a
maintenance-marked commit the replay guard walks past (an
``overwrite`` would be a data commit that STOPS the guard's walk and
re-opens the door to double-applied retries).

Differential anchor (tests/test_chunk_index.py): folding the corpus
in ANY chunking — with a replay and across a real checkpoint restart
— then reading ``stored_chunk_dedup_stats`` /
``stored_shared_chunk_pairs`` equals the batch operators over the
accumulated corpus row-for-row, for every (max_posting,
min_chunk_bytes) probed, before and after count compaction.

Scale shape: the fold is one map-only Arrow chunking pass feeding
two hash aggregations (map-side partials, no joins); the read path
is one sum-agg over counts (small: one row per (hash, batch), one
per hash after compaction) + a semi-join into postings with
aggregation buffers bounded by the cap. Nothing collects to the
driver; nothing is per-occurrence keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cdc import (
    capped_posting_lists,
    chunk_documents,
    pairs_from_posting,
)
from ..sources.table_format import ParquetTable

#: counts-table row: per-batch partial of the per-hash profile
COUNTS_COLS = ["chunk_hash", "chunk_bytes", "n_docs", "n_occurrences"]

#: postings-table row: one per (hash, doc) with the doc's occurrence
#: count — everything the pair queries and a future per-doc
#: boilerplate-strip need
POSTINGS_COLS = ["chunk_hash", "doc_id", "chunk_bytes", "n_occ"]


def fold_chunk_index(
    counts: ParquetTable,
    postings: ParquetTable,
    batch: DataFrame,
    batch_id: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_size: int = 64,
    avg_size: int = 256,
    max_size: int = 2048,
) -> DataFrame:
    """One micro-batch fold: chunk the batch's documents once, append
    the per-hash count partials to ``counts`` and the per-(hash, doc)
    posting rows to ``postings`` — both exactly-once under replay via
    ``batch_id`` (independent ledgers; a crash between the two
    commits replays into one skip + one apply, converging). An empty
    batch commits nothing (no ledger entry burned, no empty files).
    Returns the batch's count partials for inspection — EMPTY when
    both ledgers already carry the batch (a fully-applied replay
    skips the chunking kernel outright; review catch).

    COMMIT ORDER IS LOAD-BEARING FOR READERS (review catch): counts
    commit FIRST, postings second, and the read path pins postings
    before counts — so a reader concurrent with a fold (or during a
    crash window between the commits) always sees a counts snapshot
    covering at least the postings snapshot's batches. The stale
    direction is then conservative: the ubiquity filter judges a
    hash on counts at-least-as-new as the posting rows it admits, so
    a hash that a new batch blows past the cap can never pull its
    exploded posting list through a stale eligibility verdict. The
    reverse order would let exactly that happen — the quadratic
    blowup the cap exists to prevent.

    The chunker params must stay FIXED across a table's lifetime
    (they define what a chunk is); the dedup knobs — cap, tail
    filter — belong to the READ calls instead."""
    def partial_agg(chunk_rows):
        return chunk_rows.groupBy("chunk_hash").agg(
            F.max("length").alias("chunk_bytes"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )

    if (
        batch_id is not None
        and counts.applied(batch_id)
        and postings.applied(batch_id)
    ):
        # empty with the RETURN schema (the count-partials shape, not
        # the chunk-rows shape — review catch)
        return partial_agg(
            chunk_documents(
                batch.limit(0), text_col, id_col,
                min_size, avg_size, max_size,
            )
        )
    chunks = chunk_documents(
        batch, text_col, id_col, min_size, avg_size, max_size
    )
    chunks.persist()  # one Arrow kernel pass feeds both aggregations
    try:
        partial = partial_agg(chunks).localCheckpoint(eager=True)
        if partial.limit(1).count() == 0:
            return partial
        post = chunks.groupBy("chunk_hash", "doc_id").agg(
            F.max("length").alias("chunk_bytes"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        counts.append(partial.select(*COUNTS_COLS), batch_id=batch_id)
        postings.append(post.select(*POSTINGS_COLS), batch_id=batch_id)
        return partial
    finally:
        chunks.unpersist()


def stored_chunk_counts(counts: ParquetTable) -> DataFrame:
    """The maintained per-hash document-frequency profile: the
    associative sum of the stored partials — ``(chunk_hash,
    chunk_bytes, n_docs, n_occurrences)``, one row per hash.
    ``max(chunk_bytes)`` is a deterministic pick of a constant
    (same hash ⇒ same bytes ⇒ same length, the batch operator's own
    ``first(length)`` assumption)."""
    return counts.read().groupBy("chunk_hash").agg(
        F.max("chunk_bytes").alias("chunk_bytes"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("n_occurrences").alias("n_occurrences"),
    )


def stored_chunk_dedup_stats(
    counts: ParquetTable, min_chunk_bytes: int = 64
) -> DataFrame:
    """``chunk_dedup_stats`` over the accumulated corpus, read from
    the maintained counts — the duplication profile a curation pass
    sorts to find boilerplate worth stripping. ``min_chunk_bytes``
    is a read-time filter (length is constant per hash, so filtering
    the hash row equals the batch operator's per-chunk-row filter)."""
    c = stored_chunk_counts(counts)
    return (
        c.filter(
            (F.col("chunk_bytes") >= min_chunk_bytes)
            & (F.col("n_occurrences") > 1)
        )
        .select(
            "chunk_hash",
            "n_docs",
            "n_occurrences",
            "chunk_bytes",
            (
                (F.col("n_occurrences") - F.lit(1))
                * F.col("chunk_bytes")
            ).alias("duplicate_bytes"),
        )
    )


def stored_shared_chunk_pairs(
    counts: ParquetTable,
    postings: ParquetTable,
    max_posting: int = 64,
    min_chunk_bytes: int = 64,
) -> DataFrame:
    """``shared_chunk_pairs`` over the accumulated corpus: the
    ubiquity cap is applied HERE, as a filter on the maintained
    counts (2 ≤ n_docs ≤ ``max_posting``), then only the surviving
    hashes' posting rows build lists — aggregation buffers stay ≤
    cap elements exactly as in the batch operator, no matter how
    boilerplate-heavy the corpus grew. The list build and pair
    explode are the batch operator's own
    (:func:`..operators.cdc.capped_posting_lists` /
    :func:`~..operators.cdc.pairs_from_posting`), so online and
    offline pair semantics agree by construction.

    Snapshot order (review catch, the fold docstring's mirror):
    postings pin FIRST, counts second — with the fold committing
    counts first, the counts snapshot always covers the postings
    snapshot's batches, so the eligibility verdict is never staler
    than the posting rows it admits and every buffer honors the cap
    even mid-fold or in a crash window."""
    post_rows = postings.read().select("chunk_hash", "doc_id")
    eligible = (
        stored_chunk_counts(counts)
        .filter(
            (F.col("chunk_bytes") >= min_chunk_bytes)
            & (F.col("n_docs") > 1)
            & (F.col("n_docs") <= max_posting)
        )
        .select("chunk_hash")
    )
    return pairs_from_posting(capped_posting_lists(post_rows, eligible))


def compact_chunk_counts(counts: ParquetTable) -> int:
    """Fold the accumulated count partials into ONE row per hash —
    the log-structured counter's periodic merge. Semantic-preserving
    under :func:`stored_chunk_counts` (sum of one summed row == sum
    of its partials), committed via
    :meth:`~..sources.table_format.ParquetTable.rewrite` so the
    replay guard still sees the last DATA batch_id through it —
    a foreachBatch retry arriving after compaction must still skip.
    Single-writer: run from the same foreachBatch handler (or
    between folds), never concurrent with one."""
    return counts.rewrite(stored_chunk_counts(counts))


def chunk_index_writer(
    counts: ParquetTable,
    postings: ParquetTable,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_size: int = 64,
    avg_size: int = 256,
    max_size: int = 2048,
    compact_at_files: int = 0,
):
    """``foreachBatch`` handler maintaining both tables exactly-once:

        (docs_stream.writeStream
            .foreachBatch(chunk_index_writer(counts, postings))
            .option("checkpointLocation", ...)
            .trigger(availableNow=True).start())

    ``compact_at_files`` > 0 bounds each table's live file count:
    postings get a layout compaction sorted by ``chunk_hash`` (keeps
    the read path's semi-join pruning effective), counts get the
    re-aggregating :func:`compact_chunk_counts` (partials collapse
    to one row per hash) followed by the same layout sort when still
    fragmented. Compaction-before-fold keeps the replay-guard walk
    short, same as the near-dup writer."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files:
            if len(counts.files()) >= compact_at_files:
                compact_chunk_counts(counts)
                if len(counts.files()) >= compact_at_files:
                    counts.compact(sort_by=["chunk_hash"])
            if len(postings.files()) >= compact_at_files:
                postings.compact(sort_by=["chunk_hash"])
        fold_chunk_index(
            counts,
            postings,
            batch,
            batch_id=batch_id,
            text_col=text_col,
            id_col=id_col,
            min_size=min_size,
            avg_size=avg_size,
            max_size=max_size,
        )

    return handle
