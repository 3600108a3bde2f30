"""Incrementally-maintained MinHash-LSH near-dup index — the
cross-batch tier of streaming dedup (charter §2.10 × §2.8).

``streaming/dedup.py`` catches EXACT duplicates within a watermark
window (bounded state). What it cannot catch: a near-duplicate of a
document ingested last week. This module closes that with the
continuous-crawl pattern: a persistent band table (ParquetTable —
snapshot-isolated, exactly-once per batch_id) holding every ingested
document's MinHash signature exploded into LSH band buckets; each
micro-batch

1. computes its documents' signatures + band rows (the same
   seed-indexed xxhash64 family as the batch operator
   ``operators/dedup.py minhash_candidates`` — online and offline
   agree on what "near-duplicate" means),
2. probes the STORED index by (band, band_hash) equi-join for
   cross-batch candidates, and self-joins its own band rows for
   in-batch candidates,
3. appends its band rows to the index (idempotent under foreachBatch
   replay via the table format's batch_id ledger).

Scale design:
- per-batch work is bounded by the batch: the probe is an equi-join
  on (band, band_hash); at 100 TB the index table is stored bucketed
  by that key, making the probe a co-located join against only the
  matching buckets — never an index scan per batch. Locally the probe
  additionally IN-prunes the index read by the batch's band hashes
  (file-stat skipping) when the batch is small enough for an IN list.
- index growth is the corpus's band rows (|docs| × bands) — the same
  asymptotics as any inverted index; `ParquetTable.compact()` keeps
  the file count bounded.
- candidate pairs carry the estimated Jaccard (matching-signature
  fraction) so downstream can threshold without re-reading texts.

Differential anchor (tests/test_dedup_index.py): streaming the corpus
in ANY chunking and unioning each fold's emitted pairs equals the
batch ``minhash_candidates`` over the whole corpus, row-for-row
(including est_jaccard) — plus replay idempotency across a simulated
foreachBatch retry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_bands, minhash_signature, shingle_set
from ..sources.table_format import ParquetTable, read_pruned_by_keys


def batch_band_rows(
    batch: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, sig, band, band_hash) for one batch — the index's row
    shape. Docs with empty shingle sets (no 3-gram) are excluded, as
    in the batch operator."""
    rows_per_band = num_hashes // bands
    sigs = (
        shingle_set(batch, 3, text_col, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            minhash_signature(F.col("shingles"), num_hashes).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
    )
    return sigs.select(
        "doc_id",
        "sig",
        F.explode(minhash_bands(F.col("sig"), bands, rows_per_band)).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.band_hash").alias("band_hash"))


def _est_jaccard(num_hashes: int):
    return F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_hashes))


def fold_near_dup_index(
    index: ParquetTable,
    batch: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_id: int | None = None,
) -> DataFrame:
    """Process one micro-batch: returns the candidate near-dup pairs
    (id_a < id_b, est_jaccard) this batch surfaces — in-batch pairs
    plus batch-vs-index pairs — and appends the batch's band rows to
    the index (exactly-once under replay via ``batch_id``; a replayed
    batch re-emits the same pairs, so the pair sink must be keyed).

    The returned DataFrame is computed BEFORE the append commits, so
    a batch never pairs with itself through the index."""
    rows = batch_band_rows(batch, num_hashes, bands, text_col, id_col)
    rows.persist()
    try:
        a = rows.select(
            F.col("doc_id").alias("id_a"),
            F.col("sig").alias("sig_a"),
            "band",
            "band_hash",
        )
        b = rows.select(
            F.col("doc_id").alias("id_b"),
            F.col("sig").alias("sig_b"),
            "band",
            "band_hash",
        )
        in_batch = (
            a.join(b, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
        )

        cross = None
        stored_raw = read_pruned_by_keys(index, rows, "band_hash")
        if stored_raw is not None:
            stored = stored_raw.select(
                F.col("doc_id").alias("id_s"),
                F.col("sig").alias("sig_s"),
                "band",
                "band_hash",
            )
            joined = a.join(stored, ["band", "band_hash"]).filter(
                F.col("id_a") != F.col("id_s")
            )
            # orient every pair smaller-id-first so the same pair found
            # in either direction (or later re-ingested) dedups cleanly
            cross = joined.select(
                F.least("id_a", "id_s").alias("id_a"),
                F.greatest("id_a", "id_s").alias("id_b"),
                F.when(F.col("id_a") < F.col("id_s"), F.col("sig_a"))
                .otherwise(F.col("sig_s"))
                .alias("sig_a"),
                F.when(F.col("id_a") < F.col("id_s"), F.col("sig_s"))
                .otherwise(F.col("sig_a"))
                .alias("sig_b"),
            )

        cand = in_batch if cross is None else in_batch.unionByName(cross)
        pairs = (
            cand.dropDuplicates(["id_a", "id_b"])
            .withColumn("est_jaccard", _est_jaccard(num_hashes))
            .select("id_a", "id_b", "est_jaccard")
        )
        # materialize pairs before the index append makes the batch
        # visible to its own probe
        out = pairs.localCheckpoint(eager=True)
        index.append(
            rows.select("doc_id", "sig", "band", "band_hash"), batch_id=batch_id
        )
        return out
    finally:
        rows.unpersist()


def near_dup_index_writer(
    index: ParquetTable,
    pairs: ParquetTable,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_at_files: int = 0,
):
    """foreachBatch handler maintaining index AND pair table
    exactly-once:

        (stream.writeStream
              .foreachBatch(near_dup_index_writer(index, pairs))
              .option("checkpointLocation", ...).start())

    Pairs merge on (id_a, id_b), so a replayed batch (which re-emits
    identical pairs) converges instead of duplicating.
    ``compact_at_files`` > 0 compacts the band table sorted by
    band_hash whenever its live file count reaches the threshold —
    appends otherwise add a file per micro-batch, and the probe's
    IN-list file skipping needs band_hash-ranged files to prune."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        # the replay guard walks past compaction commits (marked as
        # maintenance in the manifest), so compact-vs-fold ordering
        # is not load-bearing for exactly-once; compacting FIRST is
        # defense-in-depth that keeps the guard's walk at length
        # zero in the steady state
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["band_hash"])
        found = fold_near_dup_index(
            index,
            batch,
            num_hashes=num_hashes,
            bands=bands,
            text_col=text_col,
            id_col=id_col,
            batch_id=batch_id,
        )
        pairs.merge(
            found,
            keys=["id_a", "id_b"],
            order_by=["id_a", "id_b"],
            batch_id=batch_id,
        )

    return handle
