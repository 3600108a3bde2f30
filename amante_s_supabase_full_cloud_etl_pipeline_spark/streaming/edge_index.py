"""Streaming link-graph edge index — the incremental twin of batch
``extract_links`` → ``pagerank`` (VERDICT r8 #3: every other
incremental surface has a persistent-index fold; edges from
newly-fetched pages had none, so centrality over a growing crawl
recomputed extraction from scratch).

Storage shape: ONE ROW PER PAGE — ``(curl, doc_id, dsts
array<string>)`` where ``dsts`` is the winner fetch's out-links in
document order (:func:`..operators.extraction.extract_link_lists`).
Keying the table by ``curl`` instead of by (src, dst) pair is what
makes REPLACEMENT free: when the seen-index admits a strictly-better
refetch of a page, its single merged row atomically replaces the
loser fetch's whole edge list — a pair-keyed table would need a
delete of the stale pairs in a second commit, and a crash between
the two would strand ghost edges. A page whose html no longer
parses merges an EMPTY list (same contract), clearing its edges.

The fold is NOT its own index machinery: the edge table is a derived
table of the canonical-URL seen-index
(:func:`.crawl_index.crawl_index_writer` ``derived_tables``), so it
inherits the seen-index's whole correctness story — winner
determinism under any shard chunking, exactly-once batch_id folds,
derived-before-index commit order across crashes and replays. This
module contributes the transform (pages → per-page edge rows), the
read path (stored rows → the (src, dst) edge list the centrality
folds consume), and :func:`fold_crawl_with_edges` — the
non-streaming composition preserving the writer's edges-before-
seen-index commit order (committing the seen-index first would lose
a crashed batch's edges forever: its changed rows replay as empty).

Differential contract (pinned in tests/test_edge_index.py):
``stored_link_edges(table)`` after folding shards in ANY chunking,
with a replay and across a real checkpoint restart, equals batch
``extract_links`` over the batch winner page set row-for-row
(multiset: intra-page duplicate links kept).

Scale shape: the transform is the same map-only html kernel the
batch path uses, over only the batch's CHANGED winners; the merge
prunes by curl range like every other index here; the read path is
a scan + explode (no shuffle) feeding pagerank's one-equi-join-per-
iteration loop. Nothing is per-edge keyed, so a hub page with 10^5
out-links is one row, not 10^5 merge keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extraction import extract_link_lists
from ..sources.table_format import ParquetTable

#: the edge table's row — everything the centrality folds need
EDGE_INDEX_COLS = ["curl", "doc_id", "dsts"]

#: row-survival predicate of :func:`link_graph_transform` — the html
#: kernel emits exactly one row per input row with non-null doc_id
#: and curl, none otherwise. Passed as the third element of the
#: ``derived_tables`` triple so :func:`.crawl_index.fold_crawl_batch`
#: probes batch emptiness on the checkpointed changed rows instead of
#: executing the kernel an extra time just to count (ADVICE r9).
#: A SQL string, not an ``F.col`` Column — module import must not
#: require an active SparkContext.
EDGE_SURVIVES = "doc_id IS NOT NULL AND curl IS NOT NULL"


def link_graph_transform(changed: DataFrame) -> DataFrame:
    """``derived_tables`` transform for
    :func:`.crawl_index.crawl_index_writer`: one edge row per changed
    winner page, satisfying the writer's contract (exactly one row
    per ``curl``; keeps ``curl`` + ``doc_id`` for the keyed merge).
    ``changed`` is the seen-index's emitted winner shape — canonical
    ``curl`` plus the fetch payload (``html``)."""
    lists = extract_link_lists(changed, html_col="html", url_col="curl")
    # extract_link_lists re-canonicalizes the url into `src`;
    # canonical_url is idempotent, so src == curl — name it back to
    # the merge key
    return lists.select(
        F.col("src").alias("curl"), "doc_id", "dsts"
    )


def fold_edge_index(
    table: ParquetTable,
    changed: DataFrame,
    batch_id: int | None = None,
) -> None:
    """Merge one batch of CHANGED winner pages into the edge table.
    Exactly-once under replay via ``batch_id``. A batch with no
    surviving page skips the html kernel: the probe filters
    ``changed`` by the transform's own row-survival predicate
    (non-null doc_id and curl; the kernel emits exactly one row per
    surviving input row).

    COMMIT-ORDER WARNING: in an at-least-once context this merge must
    commit BEFORE the seen-index does — the batch's ``changed`` rows
    recompute as EMPTY on replay once the seen-index holds its
    winners, so edges committed after a crash-between-commits would
    be lost forever (``crawl_index.py``'s do-not-persist-the-return
    rule). Use :func:`fold_crawl_with_edges` or
    ``crawl_index_writer(derived_tables=...)``, which both order the
    commits safely; call this directly only with changed rows whose
    seen-index commit has NOT yet happened."""
    survivors = changed.filter(
        F.col("doc_id").isNotNull() & F.col("curl").isNotNull()
    )
    if survivors.limit(1).count() > 0:
        table.merge_with_retry(
            link_graph_transform(survivors).select(*EDGE_INDEX_COLS),
            keys=["curl"],
            order_by=["doc_id"],
            batch_id=batch_id,
        )


def fold_crawl_with_edges(
    seen: ParquetTable,
    edges: ParquetTable,
    pages: DataFrame,
    batch_id: int | None = None,
    url_col: str = "url",
) -> DataFrame:
    """One micro-batch maintaining the canonical-URL seen-index AND
    the edge table in the writer's safe commit order — the
    non-streaming composition hook (``examples/incremental_crawl.py``
    drives it directly so each fold's effect is observable). This is
    exactly ``crawl_index_writer(derived_tables=((edges,
    link_graph_transform, EDGE_SURVIVES),))``'s per-batch body —
    :func:`.crawl_index.fold_crawl_batch`, the ONE implementation of
    the edges-before-seen-index commit order (a crash between the
    two commits replays into the same changed rows, the edge ledger
    skips its already-applied merge, the seen-index commits —
    convergent, never lossy). Returns the changed winner rows for
    inspection."""
    from .crawl_index import fold_crawl_batch

    return fold_crawl_batch(
        seen,
        pages,
        batch_id,
        url_col,
        derived=((edges, link_graph_transform, EDGE_SURVIVES),),
    )


def stored_link_edges(table: ParquetTable) -> DataFrame:
    """(src, dst) edge list over the stored table — the input shape
    :mod:`..operators.pagerank` consumes. ``explode`` (not
    ``explode_outer``): a page with no out-links contributes no
    edges, exactly like batch ``extract_links`` — it still ranks as
    a dangling node when some other page links to it."""
    return table.read().select(
        F.col("curl").alias("src"), F.explode("dsts").alias("dst")
    )
