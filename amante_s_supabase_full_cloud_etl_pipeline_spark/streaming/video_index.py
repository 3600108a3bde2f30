"""Incrementally-maintained video near-dup index — the streaming
twin of :mod:`..operators.video_fp` (r13; charter §2.10 × §2.8:
every dedup modality carries a persistent cross-batch tier — MinHash
bands, chunk hashes, audio probes, triage rows; the video tier lands
with one the same round).

The pattern is :mod:`.audio_index`'s verbatim, with frame-hash band
keys in place of spectral probes: a persistent ParquetTable holds
every ingested clip's DISTINCT probe keys ((band << 16) | band_val
per sampled-frame dHash — :func:`..operators.video_fp.video_probes`,
ONE Arrow kernel: AVI walk + MJPEG decode + pooled hash); each
micro-batch pairs itself AND the store by key equality with the
ubiquity cap judged over batch+store together, then appends its
rows exactly-once (batch_id ledger).

TWO-TIER CONTRACT (the audio/chunk-index lesson, plus one video
particular):

- the EMITTED stream is a NO-MISS candidate signal filtered by the
  ABSOLUTE floor only: a pair's fold-time shared count is computed
  over both docs' full key sets (each doc folds whole) and can only
  shrink as later ubiquity demotes keys, so every pair the exact
  view keeps was emitted by some fold;
- the FRACTION cut (shared / min key-set size — the scale-free
  signal under varying clip lengths, see
  :func:`..operators.video_fp.shared_video_pairs`) applies at READ
  time in :func:`stored_video_pairs`, where every doc's total key
  count is in the store; the emitted stream deliberately does NOT
  apply it (the stored side of a fold sees only the pruned key
  overlap, not the stored doc's full key count — filtering there
  would break no-miss, so downstream treats the stream as
  candidates and reads the exact view for decisions).

``every`` / ``sample_ms`` are index-LIFETIME parameters (keys
sampled differently never match — the canonical_rate contract).

Differential anchors (tests/test_video_index.py): stored == batch
under any chunking, emitted ⊇ final exact pairs, replay
idempotency, checkpoint restart.

Scale shape: per-batch work is bounded by the batch (key equi-join;
stored side IN-prunes by the batch's keys); index growth is
|clips| × keys-per-clip (≤ 4 per sampled frame);
``compact(sort_by=["probe"])`` keeps key ranges file-prunable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.video_fp import shared_video_pairs, video_probes
from ..sources.table_format import ParquetTable
from .audio_index import _fold_probes


def fold_video_index(
    index: ParquetTable,
    batch: DataFrame,
    batch_id: int | None = None,
    max_posting: int = 64,
    min_shared: int = 6,
    every: int = 1,
    sample_ms: float | None = None,
) -> DataFrame:
    """Process one micro-batch of (doc_id, blob): returns the
    candidate near-dup pairs this batch surfaces — in-batch plus
    batch-vs-store, ubiquity-capped across both together, absolute
    floor only (module doc: why the fraction cut is read-time) —
    and appends the batch's probe rows exactly-once. The returned
    frame is materialized BEFORE the append commits, so a batch
    never pairs with itself through the index; replays re-emit the
    same pairs, so the pair sink must be keyed."""
    return _fold_probes(
        index, video_probes(batch, every, sample_ms), batch_id,
        max_posting, min_shared,
    )


def stored_video_pairs(
    index: ParquetTable,
    max_posting: int = 64,
    min_shared: int = 6,
    min_shared_frac: float = 0.5,
) -> DataFrame:
    """The EXACT batch pair view over the accumulated store —
    read-time cap AND the fraction cut; equals
    :func:`..operators.video_fp.shared_video_pairs` over the union
    of all folded batches (the equivalence tests pin it)."""
    return shared_video_pairs(
        index.read().select("doc_id", "probe"),
        max_posting,
        min_shared,
        min_shared_frac,
    )


def video_index_writer(
    index: ParquetTable,
    pairs: ParquetTable,
    max_posting: int = 64,
    min_shared: int = 6,
    every: int = 1,
    sample_ms: float | None = None,
    compact_at_files: int = 0,
):
    """``foreachBatch`` handler maintaining index AND candidate-pair
    table exactly-once — :func:`..streaming.audio_index.
    audio_index_writer` semantics: pairs merge on (doc_a, doc_b),
    latest observation wins (eligibility only shrinks, so later is
    the more conservative count)."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["probe"])
        found = fold_video_index(
            index,
            batch,
            batch_id=batch_id,
            max_posting=max_posting,
            min_shared=min_shared,
            every=every,
            sample_ms=sample_ms,
        )
        pairs.merge(
            found,
            keys=["doc_a", "doc_b"],
            order_by=["shared_probes"],
            batch_id=batch_id,
        )

    return handle
