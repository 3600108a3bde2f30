"""Slowly-changing-dimension Type 2 maintenance over the
transactional table format — the production-grade version of the
reference's overwrite-only dimension handling (ref ``main.py``
rebuilds its category dims wholesale each run; a warehouse keeps
every historical version with validity intervals so facts loaded
last month still join the attributes they were loaded against).

Row model (all intervals half-open, sentinel-closed — no NULLs):

    key cols | tracked attrs | valid_from | valid_to | is_current

``valid_to = 9999-12-31`` marks the current version. Applying an
update batch at effective time ``t``:

- a key whose tracked attributes CHANGED: the current row closes
  (``valid_to = t``, ``is_current = false``) and a new current
  version inserts with ``valid_from = t``;
- a brand-new key inserts as its first version;
- an unchanged key is a no-op (no version churn from replayed
  identical rows).

Scale shape: one broadcast-or-shuffle equi-join between the update
batch and the CURRENT slice of the dimension (filter
``is_current`` — file-pruned via the table format's stats once the
dim is compacted on it), then ONE keyed ``ParquetTable.merge`` on
the composite (key, valid_from): closing rows UPDATE their existing
(key, valid_from) identity, new versions INSERT a fresh one, and the
merge's two-level manifest pruning keeps the rewrite O(touched
files). Nothing is ever rewritten for keys absent from the batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.table_format import ParquetTable

#: sentinel "open" end of the current version's validity interval
OPEN_END = "9999-12-31 00:00:00"


def scd2_init(df: DataFrame, effective: str) -> DataFrame:
    """First load: every row becomes its first current version."""
    return df.select(
        "*",
        F.lit(effective).cast("timestamp").alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def scd2_delta(
    current: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective: str,
) -> DataFrame:
    """The MERGE source implementing one SCD2 application: closing
    rows for changed keys + new versions for changed/new keys.
    ``current`` must be the is_current slice of the dimension."""
    keys = list(keys)
    tracked = list(tracked)
    eff = F.lit(effective).cast("timestamp")
    upd = updates.select(*keys, *[F.col(c).alias(f"_u_{c}") for c in tracked])
    joined = current.join(upd, keys, "right")
    changed_pred = F.lit(False)
    for c in tracked:
        changed_pred = changed_pred | ~F.col(c).eqNullSafe(F.col(f"_u_{c}"))
    new_key = F.col("valid_from").isNull()
    affected = joined.filter(new_key | changed_pred)
    closing = (
        affected.filter(~new_key)
        .select(
            *keys,
            *tracked,
            "valid_from",
            eff.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    opening = affected.select(
        *keys,
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        eff.alias("valid_from"),
        F.lit(OPEN_END).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closing.unionByName(opening)


def scd2_apply(
    table: ParquetTable,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective: str,
    batch_id: int | None = None,
) -> int:
    """Apply one update batch at ``effective`` (e.g. the batch's
    load timestamp, strictly increasing across batches). Returns the
    committed version (parent version when the batch changes
    nothing — provable-no-op, no empty commit). ``batch_id`` gives
    exactly-once semantics under foreachBatch replay, inherited from
    the table format's idempotent merge."""
    keys = list(keys)
    # Precondition: one row per key per batch. Two rows for the same
    # key would produce two opening versions with the identical
    # (key, valid_from) merge identity, and the survivor would be
    # picked nondeterministically — fail loudly instead.
    dup = (
        updates.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .take(1)
    )
    if dup:
        raise ValueError(
            f"scd2_apply: update batch has multiple rows for key "
            f"{tuple(dup[0][k] for k in keys)!r}; pre-aggregate to one row "
            "per key per batch"
        )
    if table.current_version() == 0:
        first = scd2_init(updates, effective)
        return table.merge(
            first, keys=[*keys, "valid_from"], order_by=["valid_from"],
            batch_id=batch_id,
        )
    current = table.read(filters=[("is_current", "=", True)]).filter(
        F.col("is_current")
    )
    # persist: the stale-version probe and the merge both consume the
    # delta — without it the current-slice join would execute twice.
    # An empty delta needs no probe: the merge commits nothing for it.
    delta = scd2_delta(current, updates, keys, tracked, effective).persist()
    try:
        # Precondition: ``effective`` is strictly greater than every
        # affected current version's valid_from. A violation makes the
        # closing row and a prior version share the same (key,
        # valid_from) merge identity — nondeterministic survivor — so
        # fail loudly (same contract as the duplicate-key guard; reads
        # the already-persisted delta, no extra join).
        stale = delta.filter(
            ~F.col("is_current")
            & (F.col("valid_from") >= F.lit(effective).cast("timestamp"))
        ).take(1)
        if stale:
            raise ValueError(
                f"scd2_apply: effective={effective!r} is not strictly after "
                f"valid_from={stale[0]['valid_from']} of an affected current "
                f"version (key {tuple(stale[0][k] for k in keys)!r}); batches "
                "must carry strictly increasing effective timestamps"
            )
        return table.merge(
            delta, keys=[*keys, "valid_from"], order_by=["valid_from"],
            batch_id=batch_id,
        )
    finally:
        delta.unpersist()


def scd2_snapshot_at(dim: DataFrame, ts: str) -> DataFrame:
    """Point-in-time view: the version of every key valid at ``ts``
    (half-open intervals: valid_from <= ts < valid_to)."""
    t = F.lit(ts).cast("timestamp")
    return dim.filter((F.col("valid_from") <= t) & (t < F.col("valid_to")))
