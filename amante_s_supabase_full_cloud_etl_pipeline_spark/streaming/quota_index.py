"""Streaming per-site crawl quota with a persistent member index —
the incremental twin of ``operators/crawl_quota.py per_host_quota``
(completing the crawl-governance streaming story the canonical-URL
seen-index of :mod:`.crawl_index` started).

Batch ``per_host_quota`` keeps each site's k smallest
``xxhash64(url)`` rows over the WHOLE corpus; run per micro-batch it
admits k rows per site PER BATCH — a site spread over 100 batches
leaks 100× its budget. This module maintains the quota as a
persistent fold: a table holding, per site, the current k smallest
distinct (hash, url) members. The k-smallest-of-a-set fold is
associative and commutative, so folding batches in ANY chunking and
ANY order — across restarts and replays — converges the index to
EXACTLY the batch operator's keep-set; tests/test_quota_index.py
pins ``index == per_host_quota(all batches)`` under several
chunkings, a foreachBatch replay, and a real checkpoint restart.

One DOCUMENTED deviation from the batch operator: the index is a set
of DISTINCT (site, url) members — a URL fetched twice occupies one
slot, not two (the batch operator keeps duplicate rows; upstream
canonical-URL dedup, :mod:`.crawl_index`, normally collapses them
before quota anyway). The differential therefore compares against
``per_host_quota`` over URL-distinct input.

Membership is displacement-based, like the batch sampler: a later
batch carrying a smaller hash EVICTS a previously admitted URL.
:func:`fold_quota_index` reports both sides (``change`` =
``admitted`` / ``evicted``); a derived table keyed by url must apply
evictions as deletes (``ParquetTable.delete_where``) — admissions
alone drift from the converged set.

Index layout — RANK-SLOT rows ``(site, rank, key, url)``, at most k
per site: slot contents change by keyed MERGE on (site, rank), so
displacement needs no DELETE support in the hot path and a replayed
batch is a pure no-op. Slots only ever fill (members accumulate;
count per site is monotone), so no slot is ever orphaned.

Scale design (the batch operator's discipline, kept):
- per-batch candidates are bounded FIRST by the two-phase
  :func:`..operators.topk.grouped_topk` (k per site within the
  batch) — the index probe and merge then see at most
  k × touched-sites rows, never the raw batch;
- the probe reads only index files whose site range intersects the
  batch (IN-list under ``_MAX_IN_LIST`` distinct sites, else the
  batch's site range — two-level manifest pruning either way);
  ``compact(sort_by=["site"])`` keeps the layout range-partitioned;
- no window functions; the only driver-side collect is the bounded
  site list (strings, never URL data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.topk import grouped_topk
from ..operators.urls import url_host, url_registered_domain
from ..sources.table_format import ParquetTable

#: above this many distinct sites in a batch, the file prune degrades
#: from an IN-list to the batch's site RANGE (same bound as the
#: crawl_index probes)
_MAX_IN_LIST = 50_000

_INDEX_COLS = ["site", "rank", "key", "url"]


def _tag_site(urls: DataFrame, url_col: str, by: str, psl) -> DataFrame:
    """Slim (site, key, url) projection of a batch — distinct members
    only (module doc). Payload columns never enter the index; the
    site-key dispatch is the batch operator's own
    (:func:`..operators.crawl_quota.site_of`), so the two forms can
    never diverge."""
    from ..operators.crawl_quota import site_of

    slim = urls.select(F.col(url_col).alias("url")).filter(
        F.col("url").isNotNull()
    )
    return (
        site_of(slim, "url", by=by, psl=psl, out_col="site")
        .withColumn("key", F.xxhash64(F.col("url")))
        .select("site", "key", "url")
        .distinct()
    )


def _topk_members(cands: DataFrame, k: int) -> DataFrame:
    """k smallest (key, url) per site with a 1..k rank — the shared
    fold for batch candidates and the stored-union re-take. Same
    ordering shape as the batch operator (ascending key via the fast
    numeric-invert path); on the slim (site, key, url) projection a
    key tie — an xxhash64 collision between DIFFERENT urls of one
    site, ~2^-64 per pair — breaks on url, whereas the batch operator
    over a payload-carrying frame breaks on its full row struct, so
    the batch differential is exact for URL-projected input (the form
    the module contract compares against)."""
    return grouped_topk(
        cands,
        group_by=["site"],
        order_by=["key"],
        k=k,
        ascending=["key"],
    ).select("site", "rank", "key", "url")


def _compute_delta(
    index: ParquetTable,
    urls: DataFrame,
    k: int,
    url_col: str,
    by: str,
    psl: DataFrame | None,
    want_delta: bool = True,
):
    """(membership delta | None, changed rank slots) for one batch
    against the CURRENT index snapshot, eagerly materialized so later
    commits cannot shift what the caller observed. Deterministic for
    a given (snapshot, batch) — a replayed batch recomputes the same
    pair, and an already-folded batch an EMPTY one. ``want_delta=
    False`` skips the admitted/evicted classification entirely (a
    writer with no derived table never reads it). The shared
    subtrees (batch candidates, stored probe, re-taken top-k) are
    persisted across the materializing jobs — the index probe runs
    once per batch, not once per output."""
    batch_cand = _topk_members(_tag_site(urls, url_col, by, psl), k)
    batch_cand.persist()
    pinned = [batch_cand]

    def _empty_delta():
        empty = urls.sparkSession.createDataFrame(
            [], "site string, rank int, key long, url string, change string"
        ).localCheckpoint(eager=True)
        return (empty if want_delta else None), empty.drop("change")

    try:
        stored = None
        if index.current_version() > 0:
            sites = [
                r["site"]
                for r in batch_cand.select("site")
                .distinct()
                .limit(_MAX_IN_LIST + 1)
                .collect()
            ]
            if not sites:
                return _empty_delta()
            if len(sites) <= _MAX_IN_LIST:
                filters = [("site", "in", sites)]
            else:
                bounds = batch_cand.agg(
                    F.min("site").alias("lo"), F.max("site").alias("hi")
                ).collect()[0]
                filters = [
                    ("site", ">=", bounds["lo"]),
                    ("site", "<=", bounds["hi"]),
                ]
            stored = index.read(filters=filters).select(*_INDEX_COLS)
            # range filters over-read: keep only genuinely touched sites
            stored = stored.join(
                batch_cand.select("site").distinct(), "site", "left_semi"
            )
            stored.persist()
            pinned.append(stored)
        if stored is None:
            # first fold: batch_cand IS the re-take (already ranked)
            new_set = batch_cand
            delta = (
                new_set.withColumn("change", F.lit("admitted"))
                if want_delta
                else None
            )
            slot_diff = new_set
        else:
            cands = (
                stored.select("site", "key", "url")
                .unionByName(batch_cand.drop("rank"))
                .distinct()
            )
            new_set = _topk_members(cands, k)
            new_set.persist()
            pinned.append(new_set)
            if want_delta:
                member = ["site", "key", "url"]
                admitted = new_set.join(
                    stored.select(*member), member, "left_anti"
                ).withColumn("change", F.lit("admitted"))
                evicted = stored.join(
                    new_set.select(*member), member, "left_anti"
                ).withColumn("change", F.lit("evicted"))
                delta = admitted.unionByName(evicted)
            else:
                delta = None
            # merge only slots whose CONTENT changed (rank reshuffles
            # included) — an unchanged site costs the index nothing
            slot_diff = new_set.join(stored, _INDEX_COLS, "left_anti")
        return (
            delta.localCheckpoint(eager=True) if delta is not None else None,
            slot_diff.localCheckpoint(eager=True),
        )
    finally:
        for df in pinned:
            df.unpersist()


def _merge_slots(
    index: ParquetTable, slot_diff: DataFrame, batch_id: int | None
) -> None:
    index.merge_with_retry(
        slot_diff.select(*_INDEX_COLS),
        keys=["site", "rank"],
        order_by=["key"],
        batch_id=batch_id,
    )


def fold_quota_index(
    index: ParquetTable,
    urls: DataFrame,
    k: int,
    batch_id: int | None = None,
    url_col: str = "url",
    by: str = "host",
    psl: DataFrame | None = None,
) -> DataFrame:
    """Fold one micro-batch of URLs into the per-site quota index:
    returns the MEMBERSHIP DELTA — columns (site, rank, key, url,
    change) with ``change`` ∈ {admitted, evicted} — and merges the
    changed rank slots into ``index`` exactly-once via ``batch_id``.

    ``k``, ``by`` and ``psl`` DEFINE the fold and must be identical
    for every fold of one index: k is encoded in the slots, and a
    by/psl switch re-keys sites so the probe would silently miss the
    stored members and double-count budgets — there is no stored
    config to guard this, it is the caller's contract.

    The returned frame is materialized BEFORE the merge commits, so a
    batch never compares against its own rows; a replayed batch
    recomputes an empty delta against the already-folded index and
    skips the merge. The delta is for INSPECTION — a derived table
    must be maintained through :func:`quota_index_writer`, whose
    commit order survives crashes (module doc)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    delta, slot_diff = _compute_delta(index, urls, k, url_col, by, psl)
    _merge_slots(index, slot_diff, batch_id)
    return delta


def quota_index_writer(
    index: ParquetTable,
    k: int,
    admitted_table: ParquetTable | None = None,
    url_col: str = "url",
    by: str = "host",
    psl: DataFrame | None = None,
    compact_at_files: int = 0,
):
    """``foreachBatch`` handler maintaining the quota index and (when
    given) a derived ADMITTED-URL table (one row per url: site, key,
    url) that mirrors the converged keep-set exactly — admissions
    merged, evictions DELETED:

        (url_stream.writeStream
            .foreachBatch(quota_index_writer(index, k=100,
                                             admitted_table=t))
            .option("checkpointLocation", ...).start())

    Commit order per batch: admitted-table merge (ledgered on this
    batch_id) → eviction deletes (no ledger — deleting an
    already-deleted url is a no-op, so replay is naturally
    idempotent; conflict-retried) → index merge LAST (ledgered). A
    crash anywhere replays into either the identical recomputed delta
    (index not yet committed; the ledgered merge skips itself, the
    deletes no-op) or an empty delta (index committed ⇒ every earlier
    leg committed) — the :func:`.crawl_index.crawl_index_writer`
    ordering argument.

    Eviction deletes stream through the driver in bounded
    ``_MAX_IN_LIST`` chunks (``toLocalIterator``) — a single
    micro-batch may displace arbitrarily many members without ever
    holding more than one chunk driver-side, and each chunk's delete
    is idempotent so a crash mid-wave replays into convergence."""

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["site"])
        delta, slot_diff = _compute_delta(
            index, batch, k, url_col, by, psl,
            want_delta=admitted_table is not None,
        )
        if slot_diff.limit(1).count() == 0:
            return  # no-op / replayed batch
        if admitted_table is not None:
            admitted_table.merge_with_retry(
                delta.filter(F.col("change") == "admitted").select(
                    "site", "key", "url"
                ),
                keys=["url"],
                order_by=["key"],
                batch_id=batch_id,
            )
            # evictions stream through the driver in bounded
            # chunks (toLocalIterator holds ONE partition at a time,
            # never the whole list) — an arbitrarily displacing batch
            # deletes in _MAX_IN_LIST waves instead of either growing
            # an unbounded driver list or raising an error a
            # checkpoint replay would re-hit forever
            chunk: list = []
            for row in (
                delta.filter(F.col("change") == "evicted")
                .select("url")
                .toLocalIterator()
            ):
                chunk.append(row["url"])
                if len(chunk) >= _MAX_IN_LIST:
                    admitted_table.delete_where_with_retry(
                        [("url", "in", chunk)]
                    )
                    chunk = []
            if chunk:
                admitted_table.delete_where_with_retry(
                    [("url", "in", chunk)]
                )
        _merge_slots(index, slot_diff, batch_id)

    return handle
