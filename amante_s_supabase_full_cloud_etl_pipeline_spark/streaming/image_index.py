"""Incrementally-maintained image near-dup index — the streaming
twin of :mod:`..operators.image_fp` (r13; the VERDICT r12 top item's
optional streaming half: every other dedup modality carries a
persistent cross-batch tier).

A persistent ParquetTable holds, per ingested image, its 64-bit
dHash/aHash and the dHash's EXACT band slots packed as
``slot = (band << band_bits) | band_val`` with ``band_bits =
64 // bands`` — derived exactly as the batch tier's
:func:`..operators.dedup.banded_hamming_pairs` derives its slices
(4 × 16 bits by default). Each micro-batch:

1. decodes + hashes its blobs in the one Arrow kernel
   (:func:`..operators.image_fp.image_signatures`);
2. joins its PROBED slots (exact + the 16 one-bit flips per band —
   the batch machinery's probe_bits=1 recall doubling, built as
   Spark expressions, never a Python loop over rows) against the
   batch's AND the store's exact slots, exact-verifies the dHash
   Hamming distance, and emits (id_a, id_b, dhash_hamming,
   ahash_hamming) candidate pairs;
3. appends its exact-slot rows exactly-once (batch_id ledger).

The slot-ubiquity cap (degenerate thumbnails — all-black images —
are boilerplate, not dup signal) is judged over batch + store
TOGETHER (the chunk-index lesson: one side alone cannot know corpus
frequency). Fold-time slot frequency only grows with the corpus, so
fold-time eligibility ⊇ final eligibility and the emitted stream is
a NO-MISS candidate signal; :func:`stored_image_pairs` is the EXACT
view — the batch machinery over the signatures reconstructed from
the store, equal to :func:`..operators.image_fp.
signature_near_dup_pairs` over the union of all folded batches by
construction (the blocking guarantee is symmetric: band_x == band_y
^ flip ⟺ band_y == band_x ^ flip, so the one join direction the
fold runs covers both).

``max_hamming`` / ``bands`` / ``probe_bits`` are index-LIFETIME
parameters (slots built differently never match — the
canonical_rate contract).

Differential anchors (tests/test_image_index.py): stored == batch
under any chunking, emitted ⊇ final pairs including cross-batch
discovery, replay idempotency, checkpoint restart.

Scale shape: per-batch work is bounded by the batch (slot equi-join,
stored side IN-pruned by the batch's probed slots); index growth is
4 rows × 32 bytes per image; ``compact(sort_by=["slot"])`` keeps
slot ranges file-prunable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.image_fp import (
    image_signatures,
    signature_near_dup_pairs,
)
from ..sources.table_format import ParquetTable, read_pruned_by_keys


def _slot_rows(
    sigs: DataFrame, bands: int, probe_bits: int
) -> DataFrame:
    """(doc_id, slot, dhash, ahash) rows — exact slots, plus the
    one-bit flips when ``probe_bits=1``. The slice width is derived
    EXACTLY as the batch machinery derives it (``64 // bands`` —
    self-review catch: a hard-coded 16 silently desynchronized the
    fold's blocking from ``banded_hamming_pairs`` at any
    ``bands != 4``, breaking the no-miss guarantee for hash pairs
    whose differing bits spread 2-per-16-bit-slice); flips stay
    inside the low value bits, so the packed band id is
    preserved."""
    if probe_bits not in (0, 1):
        raise ValueError("probe_bits must be 0 or 1")
    if 64 % bands:
        raise ValueError("bands must divide 64")
    band_bits = 64 // bands
    sig = F.col("dhash")

    def slots() -> Column:
        flips = (0,) if probe_bits == 0 else tuple(
            [0] + [1 << j for j in range(band_bits)]
        )
        out = []
        for b in range(bands):
            raw = F.shiftrightunsigned(sig, b * band_bits).bitwiseAND(
                F.lit((1 << band_bits) - 1)
            )
            for flip in flips:
                out.append(
                    raw.bitwiseXOR(F.lit(flip))
                    + F.lit(b << band_bits)
                )
        return F.array(*out)

    return sigs.select(
        "doc_id", "dhash", "ahash",
        F.explode(slots()).alias("slot"),
    )


def fold_image_index(
    index: ParquetTable,
    batch: DataFrame,
    batch_id: int | None = None,
    max_hamming: int = 10,
    bands: int = 4,
    probe_bits: int = 1,
    max_posting: int = 1024,
) -> DataFrame:
    """Process one micro-batch of (doc_id, blob): returns the
    candidate near-dup pairs this batch surfaces — in-batch plus
    batch-vs-store, slot-cap judged over both together, dHash
    exact-verified — and appends the batch's exact-slot rows
    exactly-once. Materialized BEFORE the append commits; replays
    re-emit the same pairs, so the pair sink must be keyed."""
    sigs = image_signatures(batch)
    sigs.persist()
    try:
        exact = _slot_rows(sigs, bands, probe_bits=0)
        probed = _slot_rows(sigs, bands, probe_bits)
        stored = read_pruned_by_keys(index, probed, "slot")
        exact_all = exact
        if stored is not None:
            exact_all = exact_all.unionByName(
                stored.select("doc_id", "dhash", "ahash", "slot")
            )
        # cap on EXACT-side slot document frequency, batch + store
        eligible = (
            exact_all.groupBy("slot")
            .agg(F.countDistinct("doc_id").alias("__n"))
            .filter(F.col("__n") <= max_posting)
            .select("slot")
        )
        a = exact_all.join(eligible, "slot", "left_semi").select(
            F.col("doc_id").alias("id_a"),
            F.col("dhash").alias("dhash_a"),
            F.col("ahash").alias("ahash_a"),
            "slot",
        )
        b = probed.join(eligible, "slot", "left_semi").select(
            F.col("doc_id").alias("id_b"),
            F.col("dhash").alias("dhash_b"),
            F.col("ahash").alias("ahash_b"),
            "slot",
        )
        pairs = (
            a.join(b, "slot")
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.bit_count(
                    F.col("dhash_a").bitwiseXOR(F.col("dhash_b"))
                ).alias("dhash_hamming"),
                F.bit_count(
                    F.col("ahash_a").bitwiseXOR(F.col("ahash_b"))
                ).alias("ahash_hamming"),
            )
            .filter(F.col("dhash_hamming") <= max_hamming)
            .distinct()
        )
        out = pairs.localCheckpoint(eager=True)
        index.append(
            exact.select("doc_id", "slot", "dhash", "ahash"),
            batch_id=batch_id,
        )
        return out
    finally:
        sigs.unpersist()


def stored_signatures(index: ParquetTable) -> DataFrame:
    """(doc_id, dhash, ahash) reconstructed from the store (each
    doc's 4 slot rows carry identical hashes — distinct folds them
    back to one row per image)."""
    return index.read().select("doc_id", "dhash", "ahash").distinct()


def stored_image_pairs(
    index: ParquetTable,
    max_hamming: int = 10,
    bands: int = 4,
    probe_bits: int = 1,
    max_posting: int = 1024,
) -> DataFrame:
    """The EXACT batch pair view over the accumulated store — the
    shared banded machinery over the reconstructed signatures;
    equals :func:`..operators.image_fp.signature_near_dup_pairs`
    over the union of all folded batches (the equivalence tests
    pin it)."""
    return signature_near_dup_pairs(
        stored_signatures(index),
        max_hamming, bands, probe_bits, max_posting,
    )


def image_index_writer(
    index: ParquetTable,
    pairs: ParquetTable,
    max_hamming: int = 10,
    bands: int = 4,
    probe_bits: int = 1,
    max_posting: int = 1024,
    compact_at_files: int = 0,
):
    """``foreachBatch`` handler maintaining index AND candidate-pair
    table exactly-once — the audio/video writer semantics: pairs
    merge on (id_a, id_b) (distances are deterministic per pair, so
    replays converge)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["slot"])
        found = fold_image_index(
            index,
            batch,
            batch_id=batch_id,
            max_hamming=max_hamming,
            bands=bands,
            probe_bits=probe_bits,
            max_posting=max_posting,
        )
        pairs.merge(
            found,
            keys=["id_a", "id_b"],
            order_by=["dhash_hamming"],
            batch_id=batch_id,
        )

    return handle
