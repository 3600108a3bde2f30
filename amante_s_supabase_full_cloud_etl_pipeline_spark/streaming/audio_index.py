"""Incrementally-maintained audio near-dup index — the streaming
twin of :mod:`..operators.audio_fp` (charter §2.10 × §2.8: every
dedup modality here carries a persistent cross-batch tier — MinHash
bands, chunk hashes, crawl URLs; audio lands with one, not a round
later).

A persistent ParquetTable holds every ingested recording's DISTINCT
multi-probe keys, an inverted index on the probe key; each micro-batch

1. fingerprints its blobs worker-side (decode → framed rFFT →
   band-sign prints → 33× multi-probe keys — all in ONE Arrow
   kernel, :func:`..operators.audio_fp.audio_probes`),
2. pairs the batch against itself AND against the stored index by
   probe equality — with the ubiquity cap applied as the per-probe
   DOCUMENT frequency across batch+store together (shared silence
   that only becomes ubiquitous across batches is still dropped,
   the chunk-index lesson),
3. appends its probe rows exactly-once (batch_id ledger).

The emitted pair stream is keyed (doc_a, doc_b, shared_probes) — a
replayed batch re-emits the same pairs, so the pair sink merges on
the doc pair (:func:`audio_index_writer`).

TWO-TIER CONTRACT (the ubiquity cap makes exact pair-stream
equivalence impossible online — a probe's corpus-wide document
frequency is unknowable at fold time, the chunk-index lesson):

- the EMITTED stream is a NO-MISS discovery signal: document
  frequency only grows as the corpus does, so fold-time eligibility
  is a superset of final eligibility and every pair the batch view
  reports over the final corpus was emitted by some fold (proven in
  tests); folds may additionally emit pairs that later ubiquity
  demotes (early silence dups) — downstream treats the stream as
  candidates;
- :func:`stored_audio_pairs` is the EXACT view: the batch operator
  over the accumulated store with the cap applied at READ time —
  equals :func:`..operators.audio_fp.shared_audio_pairs` over the
  union of all folded batches by construction.

Differential anchors (tests/test_audio_index.py): stored == batch
under any chunking, emitted ⊇ final exact pairs including a cap
crossed only across batches, replay idempotency, and a real
checkpoint restart.

Scale shape: per-batch work is bounded by the batch (the probe is an
equi-join on the probe key; the stored side IN-prunes by the batch's
probe values when small enough, file-stat skipping otherwise); index
growth is |docs| × probes-per-doc, ordinary inverted-index
asymptotics; ``compact(sort_by=["probe"])`` keeps the probe ranges
file-prunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.audio_fp import audio_probes, shared_audio_pairs
from ..sources.table_format import ParquetTable, read_pruned_by_keys


def fold_audio_index(
    index: ParquetTable,
    batch: DataFrame,
    batch_id: int | None = None,
    max_posting: int = 64,
    min_shared: int = 8,
    canonical_rate: int | None = None,
) -> DataFrame:
    """Process one micro-batch of (doc_id, blob): returns the
    near-dup pairs this batch surfaces — in-batch pairs plus
    batch-vs-index pairs, ubiquity-capped across batch+store
    together — and appends the batch's probe rows to the index
    (exactly-once via ``batch_id``). The returned frame is
    materialized BEFORE the append commits, so a batch never pairs
    with itself through the index; a replayed batch re-emits the
    same pairs, so the pair sink must be keyed.

    ``canonical_rate`` (r11): analyze every blob at one rate so
    cross-sample-rate re-uploads collide — MUST be held constant
    for the LIFETIME of an index (probes folded at different rates
    never match; same contract as the chunker params on the chunk
    index)."""
    rows = audio_probes(batch, canonical_rate)
    rows.persist()
    try:
        stored = read_pruned_by_keys(index, rows, "probe")
        if stored is not None:
            stored = stored.select(
                "probe", F.col("doc_id").alias("doc_s")
            )
        both = rows.select("probe", "doc_id")
        if stored is not None:
            both = both.unionByName(
                stored.select("probe", F.col("doc_s").alias("doc_id"))
            )
        # the cap judges document frequency over batch + store
        # TOGETHER — a probe (shared silence) that crosses the cap
        # only across batches is dropped exactly as batch would drop
        # it over the union (the chunk-index lesson: corpus-wide
        # frequency is unknowable from one side alone)
        eligible = (
            both.groupBy("probe")
            .agg(F.countDistinct("doc_id").alias("__n"))
            .filter((F.col("__n") > 1) & (F.col("__n") <= max_posting))
            .select("probe")
        )
        a = rows.select("probe", F.col("doc_id").alias("id_a")).join(
            eligible, "probe", "left_semi"
        )
        in_batch = (
            a.join(
                a.select("probe", F.col("id_a").alias("id_b")), "probe"
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "probe")
        )
        cand = in_batch
        if stored is not None:
            s = stored.join(eligible, "probe", "left_semi")
            cross = (
                a.join(s, "probe")
                .filter(F.col("id_a") != F.col("doc_s"))
                .select(
                    F.least("id_a", "doc_s").alias("id_a"),
                    F.greatest("id_a", "doc_s").alias("id_b"),
                    "probe",
                )
            )
            cand = in_batch.unionByName(cross)
        pairs = (
            cand.groupBy("id_a", "id_b")
            .agg(F.countDistinct("probe").alias("shared_probes"))
            .filter(F.col("shared_probes") >= min_shared)
            .select(
                F.col("id_a").alias("doc_a"),
                F.col("id_b").alias("doc_b"),
                "shared_probes",
            )
        )
        out = pairs.localCheckpoint(eager=True)
        index.append(rows.select("doc_id", "probe"), batch_id=batch_id)
        return out
    finally:
        rows.unpersist()


def stored_audio_pairs(
    index: ParquetTable, max_posting: int = 64, min_shared: int = 8
) -> DataFrame:
    """The batch pair view over the ACCUMULATED store — read-time cap
    like every index here; equals
    :func:`..operators.audio_fp.shared_audio_pairs` over the union
    of all folded batches (the equivalence tests pin it)."""
    return shared_audio_pairs(
        index.read().select("doc_id", "probe"), max_posting, min_shared
    )


def audio_index_writer(
    index: ParquetTable,
    pairs: ParquetTable,
    max_posting: int = 64,
    min_shared: int = 8,
    compact_at_files: int = 0,
):
    """``foreachBatch`` handler maintaining index AND pair table
    exactly-once:

        (stream.writeStream
            .foreachBatch(audio_index_writer(index, pairs))
            .option("checkpointLocation", ...).start())

    Pairs merge on (doc_a, doc_b) so a replayed batch converges —
    LATEST observation wins (the merge's replace semantics): cap
    eligibility only SHRINKS as the corpus grows, so a later
    observation of the same pair is the more conservative one,
    closer to the exact :func:`stored_audio_pairs` view (review
    catch: an earlier docstring claimed keep-larger, which the merge
    never implemented and which has the monotonicity backwards).
    ``compact_at_files`` bounds the index's live file count, sorted
    by probe so the fold's IN-prune keeps skipping files."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["probe"])
        found = fold_audio_index(
            index,
            batch,
            batch_id=batch_id,
            max_posting=max_posting,
            min_shared=min_shared,
        )
        pairs.merge(
            found,
            keys=["doc_a", "doc_b"],
            order_by=["shared_probes"],
            batch_id=batch_id,
        )

    return handle
