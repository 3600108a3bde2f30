"""Streaming crawl ingest with a persistent canonical-URL seen-index
— the incremental twin of the batch crawl front half (VERDICT r7 #1).

Batch ``crawl_front_half`` dedups canonical URLs with a keep-min agg
over the WHOLE corpus — correct for a one-shot run, but a crawl's
modus operandi is incremental shard arrival (the reference's own
contract: its file-consumption loop, ref ``main.py:419-441,465-469``,
processes whatever landed since last time). A batch re-run over a new
shard re-admits every URL the previous run already kept; this module
closes that with the continuous-crawl pattern every other retrieval
surface here already has (``ann_index`` /
``bm25_index``): a persistent canonical-URL index on the table
format, folded exactly-once per micro-batch.

Winner semantics — MIN doc_id per canonical URL, maintained as an
invariant of the stored index, NOT first-arrival-wins. First-seen
semantics depend on shard chunking (whichever batch a URL happens to
arrive in first supplies the winner), so no differential against the
batch operator could hold under re-chunking. Min is associative and
commutative, so folding batches in ANY partition of the shard set —
across restarts, replays, and re-orderings — converges the index to
EXACTLY the batch keep-set: ``index == crawl_front_half``'s dedup
stage row-for-row. tests/test_crawl_index.py pins that equality under
several chunkings, a foreachBatch replay, and a real checkpoint
restart.

The index's ``fetched_at`` column is a separate MAX fold — the
LATEST fetch stamp ever seen for the canonical URL, even when the
refetch loses the content contest (same/worse doc_id emits nothing
downstream, but the stamp still advances). Without it, refresh
scheduling (``operators/sitemaps.py refresh_candidates``) would
compare sitemap ``lastmod`` claims against a stamp frozen at the
winner's first fetch and re-flag the same URL "modified" on every
discovery cycle forever. Max is as associative as min, so the
chunking-invariance argument is unchanged; the EMITTED winner rows
keep their own fetch stamp (they are that fetch's payload).

Each fold:

1. canonicalizes the batch's URLs (``operators/urls.py`` — the same
   expression the batch path uses) and collapses the batch to its
   per-URL winner (keep-min agg + semi-join; no per-URL window),
2. probes the STORED index by curl equi-join — reading only
   key-range-intersecting files (plus an IN-list file prune when the
   batch is small enough for a bounded driver list),
3. emits the CHANGED rows — URLs never seen before, plus URLs whose
   new fetch beats the stored winner — with their full payload
   (html and all) for downstream extraction,
4. merges the changed rows' slim projection (curl, doc_id, url,
   fetched_at — html never enters the index) into the index,
   exactly-once under foreachBatch replay via the table format's
   batch_id ledger.

Scale design:
- per-batch work is bounded by the batch: the probe and the merge
  both touch only files whose curl range intersects the batch
  (two-level manifest pruning); ``compact(sort_by=["curl"])`` keeps
  the layout range-partitioned so a point-keyed micro-batch touches
  a handful of files. The index row is ~a URL string, not a page.
- no window functions, no driver collect of page data (the IN-list
  prune collects at most ``_MAX_IN_LIST`` curl strings and degrades
  to the plain equi-join beyond that).
- a replayed batch recomputes ``changed`` against an index that
  already holds its winners → empty; the downstream writer commits
  derived tables BEFORE the index so a crash between the two
  commits replays into convergence, never into loss.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.urls import canonical_url
from ..sources.table_format import ParquetTable

#: above this many distinct curls in a batch, the file prune degrades
#: from an IN-list to the batch's (min, max) curl RANGE — still
#: two-level manifest pruning, never a full-index scan (same bound as
#: the bm25_index probes)
_MAX_IN_LIST = 50_000

#: the index's slim row — everything BUT the page payload
_INDEX_COLS = ["curl", "doc_id", "url", "fetched_at"]


def _canonized(pages: DataFrame, url_col: str) -> DataFrame:
    """The shared pre-aggregation projection: non-null url AND
    non-null doc_id (a NULL doc_id has no winner identity — the batch
    dedup stage's F.min ignores it and its semi-join can never match
    it, so admitting it here would diverge the index from the batch
    keep-set AND re-emit forever, min-struct sorting nulls first),
    plus the canonical-URL key."""
    return pages.filter(
        F.col(url_col).isNotNull() & F.col("doc_id").isNotNull()
    ).withColumn("curl", canonical_url(F.col(url_col)))


def crawl_batch_winners(
    pages: DataFrame, url_col: str = "url"
) -> DataFrame:
    """One row per canonical URL within ``pages``: the winner under a
    TOTAL deterministic order — min of struct(doc_id, <remaining
    columns>) — with a ``curl`` column added. One hash aggregation
    with map-side partials; no window, no semi-join. Using the whole
    row as the tie-break (not just doc_id) matters for the streaming
    contract: two fetches colliding on (curl, doc_id) with different
    payloads still pick the SAME winner in every chunking and every
    replay, so the index and any derived table can never disagree.
    Rows with a NULL url or NULL doc_id are DROPPED (no canonical
    identity / no winner identity — see :func:`_canonized`; callers
    wanting them must route them before this stage)."""
    return _winners_of(_canonized(pages, url_col))


def _winners_of(canon: DataFrame) -> DataFrame:
    others = [c for c in canon.columns if c not in ("curl", "doc_id")]
    won = canon.groupBy("curl").agg(
        F.min(F.struct("doc_id", *others)).alias("__w")
    )
    return won.select(
        "curl",
        F.col("__w.doc_id").alias("doc_id"),
        *[F.col(f"__w.{c}").alias(c) for c in others],
    )


def _compute_changed(
    index: ParquetTable, pages: DataFrame, url_col: str
) -> tuple[DataFrame, DataFrame]:
    """(changed, merge_rows) for a batch against the CURRENT index
    snapshot, both eagerly materialized so later commits cannot shift
    what the caller observed. ``changed`` = the EMITTED winner rows
    (first-seen URLs plus strictly-better refetches, full payload,
    their own fetch stamp). ``merge_rows`` = the slim index upserts:
    the changed rows with ``fetched_at`` folded to the max stamp ever
    seen for the curl, PLUS content-unchanged curls whose batch
    carried a newer stamp (emit nothing, advance the stamp — module
    doc)."""
    # ONE canonicalized pass feeds both aggregations (winners + the
    # per-curl max stamp) — unpersisted, each would re-run the whole
    # upstream pages subtree (WARC parse kernels included)
    canon = _canonized(pages, url_col)
    canon.persist()
    winners = _winners_of(canon)
    winners.persist()
    try:
        # per-curl MAX fetch stamp of the whole batch (the winner
        # row's own stamp may not be the batch's newest for that curl)
        stamps = canon.groupBy("curl").agg(
            F.max("fetched_at").alias("__batch_stamp")
        )
        stored = None
        if index.current_version() > 0:
            touched = [
                r["curl"]
                for r in winners.select("curl")
                .limit(_MAX_IN_LIST + 1)
                .collect()
            ]
            if not touched:
                # empty batch: nothing to probe, nothing changed —
                # and index.read() would still plan every live file's
                # footer just to produce zero rows
                empty = winners.localCheckpoint(eager=True)
                return empty, empty.select(*_INDEX_COLS)
            if len(touched) <= _MAX_IN_LIST:
                filters = [("curl", "in", touched)]
            else:
                # too many keys for a driver list: degrade to the
                # batch's FULL key range (an agg, not the truncated
                # sample above — its min/max would under-cover) so
                # two-level manifest pruning still applies (the
                # merge side does the same)
                bounds = winners.agg(
                    F.min("curl").alias("lo"), F.max("curl").alias("hi")
                ).collect()[0]
                filters = [
                    ("curl", ">=", bounds["lo"]),
                    ("curl", "<=", bounds["hi"]),
                ]
            stored = index.read(filters=filters).select(
                "curl",
                F.col("doc_id").alias("__stored_doc_id"),
                F.col("url").alias("__stored_url"),
                F.col("fetched_at").alias("__stored_stamp"),
                # join-miss detection rides a NON-NULL marker, never a
                # payload column (the refresh_candidates rule)
                F.lit(True).alias("__seen"),
            )
        if stored is None:
            changed = winners.localCheckpoint(eager=True)
            merge_rows = (
                changed.join(stamps, "curl", "left")
                .select(
                    "curl",
                    "doc_id",
                    "url",
                    F.greatest("fetched_at", "__batch_stamp").alias(
                        "fetched_at"
                    ),
                )
                .localCheckpoint(eager=True)
            )
            return changed, merge_rows
        joined = winners.join(stamps, "curl", "left").join(
            stored, "curl", "left"
        )
        joined.persist()
        try:
            is_new = F.col("__seen").isNull() | (
                F.col("doc_id") < F.col("__stored_doc_id")
            )
            changed = joined.filter(is_new).drop(
                "__stored_doc_id", "__stored_url", "__stored_stamp",
                "__batch_stamp", "__seen",
            ).localCheckpoint(eager=True)
            newer_stamp = (
                F.col("__stored_stamp").isNull()
                & F.col("__batch_stamp").isNotNull()
            ) | (F.col("__batch_stamp") > F.col("__stored_stamp"))
            merge_rows = (
                joined.filter(is_new)
                .select(
                    "curl",
                    "doc_id",
                    "url",
                    F.greatest(
                        "fetched_at", "__batch_stamp", "__stored_stamp"
                    ).alias("fetched_at"),
                )
                .unionByName(
                    # content unchanged, stamp newer: keep the stored
                    # winner's identity, advance only the stamp
                    joined.filter(~is_new & newer_stamp).select(
                        "curl",
                        F.col("__stored_doc_id").alias("doc_id"),
                        F.col("__stored_url").alias("url"),
                        F.col("__batch_stamp").alias("fetched_at"),
                    )
                )
                .localCheckpoint(eager=True)
            )
            return changed, merge_rows
        finally:
            joined.unpersist()
    finally:
        winners.unpersist()
        canon.unpersist()


def fold_crawl_url_index(
    index: ParquetTable,
    pages: DataFrame,
    batch_id: int | None = None,
    url_col: str = "url",
) -> DataFrame:
    """Process one micro-batch of crawl pages (``crawl_pages`` shape:
    doc_id, url, fetched_at, html, ...): returns the CHANGED winner
    rows — first-seen URLs plus strictly-better (smaller doc_id)
    refetches — with all payload columns, and merges their slim
    projection into ``index`` (exactly-once via ``batch_id``).

    The returned frame is materialized BEFORE the merge commits, so
    a batch never compares against its own rows; on replay the index
    already holds the winners, ``changed`` comes back empty, and the
    ledger skips the merge — idempotent.

    The return value is for INSPECTION (counts, logging, tests) —
    do NOT persist it to another store from an at-least-once
    context: the index commits before this returns, so a crash in
    the caller's write replays into an EMPTY changed-set and the
    rows are lost downstream forever. To maintain a derived table,
    use :func:`crawl_index_writer`, which commits derived tables
    BEFORE the index."""
    return fold_crawl_batch(index, pages, batch_id, url_col)


def fold_crawl_batch(
    index: ParquetTable,
    batch: DataFrame,
    batch_id: int | None = None,
    url_col: str = "url",
    derived: tuple = (),
) -> DataFrame:
    """One micro-batch fold of the seen-index plus any derived
    tables, in the ONE safe commit order — the body
    :func:`crawl_index_writer`'s handler runs per batch, exposed so
    non-streaming callers (examples, tests,
    :func:`.edge_index.fold_crawl_with_edges`) execute the exact
    same sequence instead of hand-copying it.

    ``derived`` is ``crawl_index_writer``'s ``derived_tables`` shape:
    ``(ParquetTable, transform_or_None)`` pairs — optionally
    ``(ParquetTable, transform, survives)`` triples where
    ``survives`` is a predicate over the CHANGED rows (a pyspark
    ``Column`` or a SQL string — ``DataFrame.filter`` takes both)
    declaring which inputs the transform keeps (the transform
    must be row-preserving over survivors: each surviving input row
    yields exactly one output row, non-survivors yield none). Each
    is committed from the same changed-rows computation BEFORE the
    index commits (all on ``batch_id``): a crash anywhere replays
    into an empty ``changed`` only when the index committed, and
    index-committed implies every derived merge committed earlier —
    so the empty replay can never skip derived rows that were lost.
    Returns the changed winner rows (for inspection)."""
    changed, merge_rows = _compute_changed(index, batch, url_col)
    if merge_rows.limit(1).count() == 0:
        return changed  # no-op batch: nothing commits
    if derived and changed.limit(1).count() > 0:
        for entry in derived:
            table, tf = entry[0], entry[1]
            survives = entry[2] if len(entry) > 2 else None
            # with a survival predicate, a batch nothing survives
            # skips the transform kernel: the probe filters the
            # CHECKPOINTED changed rows (ADVICE r9)
            if tf is None:
                rows = changed
            elif survives is not None:
                src = changed.filter(survives)
                if src.limit(1).count() == 0:
                    continue
                rows = tf(src)
            else:
                rows = tf(changed)
                # into a version-0 table an empty merge still commits
                # (the bootstrap) and records batch_id; a transform
                # that filtered everything must leave the id live
                if table.current_version() == 0 and rows.limit(1).count() == 0:
                    continue
            table.merge_with_retry(
                rows,
                keys=["curl"],
                order_by=["doc_id"],
                batch_id=batch_id,
            )
    # retried: an out-of-band maintenance commit must not kill the
    # stream
    index.merge_with_retry(
        merge_rows.select(*_INDEX_COLS),
        keys=["curl"],
        order_by=["doc_id"],
        batch_id=batch_id,
    )
    return changed


def crawl_index_writer(
    index: ParquetTable,
    pages_table: ParquetTable | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    url_col: str = "url",
    compact_at_files: int = 0,
    derived_tables: tuple = (),
):
    """``foreachBatch`` handler maintaining the URL index and (when
    given) a derived pages table exactly-once:

        (crawl_stream.writeStream
            .foreachBatch(crawl_index_writer(index, pages_table,
                                             transform=extract))
            .option("checkpointLocation", ...).start())

    ``transform`` maps the changed winner rows (full payload) to the
    derived shape — e.g. ``extract_text`` + feature projection. It
    must keep BOTH the ``curl`` column — the derived table's merge
    key — AND ``doc_id`` (the merge's within-batch tiebreak orders on
    it; a transform dropping it fails the merge loudly),
    so a later strictly-better refetch REPLACES the page downstream
    instead of duplicating it — and must emit EXACTLY ONE row per
    curl: the keyed merge dedups on curl, so a transform fanning a
    page into several rows (chunkers, per-link exploders) would
    silently keep one arbitrary row. Route multi-row shapes to
    their own sink keyed accordingly, outside this writer.

    ``derived_tables`` is the general form: a sequence of
    ``(ParquetTable, transform)`` pairs — or ``(ParquetTable,
    transform, survives)`` triples, where ``survives`` is a Column
    predicate over the changed rows letting the empty-batch probe
    skip executing the transform kernel (see
    :func:`fold_crawl_batch`) — all maintained from the same
    changed-rows computation under the same one-row-per-curl
    contract — e.g. a feature table AND the link-graph edge table
    (:mod:`.edge_index`) from one stream. ``(pages_table,
    transform)`` is sugar for one leading pair.

    Commit order is derived tables FIRST (in sequence), index LAST
    (all on this batch_id): a crash anywhere in the chain replays
    into an empty ``changed`` only when the index committed, and the
    index commits last — so every derived merge has either committed
    (its own ledger skips the replay) or will recompute identical
    rows. ``compact_at_files`` > 0 compacts the index sorted by curl
    when its live file count reaches the threshold, keeping the
    probe's key-range pruning effective."""
    derived = tuple(derived_tables)
    if pages_table is not None:
        derived = ((pages_table, transform),) + derived

    def handle(batch: DataFrame, batch_id: int) -> None:
        if compact_at_files and len(index.files()) >= compact_at_files:
            index.compact(sort_by=["curl"])
        fold_crawl_batch(
            index, batch, batch_id, url_col, derived=derived
        )

    return handle
