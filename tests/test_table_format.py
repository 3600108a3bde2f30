"""Snapshot-isolated table format: commit atomicity, snapshot
isolation under concurrent MERGE, time travel, idempotent streaming
batches, optimistic-concurrency conflicts, vacuum."""

from __future__ import annotations

import os

import pytest

from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
    CommitConflict,
    ParquetTable,
)

KEYS, ORDER = ["k"], ["ts"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, ts int")


@pytest.fixture()
def table(spark, tmp_path):
    return ParquetTable(spark, str(tmp_path / "t"))


def test_append_read_time_travel(spark, table):
    v1 = table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    v2 = table.append(_df(spark, [(3, "c", 2)]))
    assert (v1, v2) == (1, 2)
    assert table.read().count() == 3
    assert table.read(version=v1).count() == 2  # time travel


def test_merge_upsert_semantics(spark, table):
    table.merge(_df(spark, [(1, "a", 1), (2, "b", 1)]), KEYS, ORDER)
    table.merge(_df(spark, [(2, "B", 2), (3, "c", 2)]), KEYS, ORDER)
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_snapshot_isolation_across_merge(spark, table):
    """A query planned before a full-rewrite MERGE still reads its
    own version's files afterwards — the hazard the plain directory
    swap cannot avoid."""
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER)
    old_snapshot = table.read()  # lazy: file list pinned now
    table.merge(_df(spark, [(1, "NEW", 2), (2, "b", 2)]), KEYS, ORDER)
    assert {(r["k"], r["v"]) for r in old_snapshot.collect()} == {(1, "a")}
    assert {(r["k"], r["v"]) for r in table.read().collect()} == {(1, "NEW"), (2, "b")}


def test_crash_before_pointer_swap_leaves_old_version(spark, table, monkeypatch):
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER)

    real_replace = os.replace

    def boom(src, dst):
        raise OSError("crash before pointer swap")

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError):
        table.merge(_df(spark, [(1, "lost", 2)]), KEYS, ORDER)
    monkeypatch.setattr(os, "replace", real_replace)

    # reader still on v1; the orphaned v2 manifest blocks nothing
    assert table.current_version() == 1
    assert {(r["k"], r["v"]) for r in table.read().collect()} == {(1, "a")}
    # recovery: next commit takes the next free version
    with pytest.raises(CommitConflict):
        table.merge(_df(spark, [(2, "b", 3)]), KEYS, ORDER)


def test_idempotent_batch_commit(spark, table):
    """foreachBatch is at-least-once; same batch_id applies once."""
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER, batch_id=7)
    v = table.current_version()
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER, batch_id=7)  # replay
    assert table.current_version() == v
    assert table.read().count() == 1


def test_replay_guard_sees_through_maintenance_commits(spark, table):
    """A retry that lands AFTER a handler-triggered compaction (a
    maintenance-marked commit) must still no-op: the guard compares
    against the most recent DATA commit, walking past compactions —
    otherwise any compact-inside-the-handler pattern double-applies
    the retried batch (found building the streaming BM25 index
    writer). Plain unbatched data commits STOP the walk (the shield
    semantics the parent-only guard had), and legacy manifests
    without the fields are treated as data commits."""
    table.append(_df(spark, [(1, "a", 1)]), batch_id=3)
    table.append(_df(spark, [(2, "b", 2)]), batch_id=4)
    table.compact()
    assert table.manifest(table.current_version()).get("maintenance") is True
    n = table.read().count()
    v = table.current_version()
    table.append(_df(spark, [(2, "b", 2)]), batch_id=4)  # retry post-compact
    assert table.current_version() == v and table.read().count() == n
    # TWO genuinely-committed consecutive maintenance commits (the
    # second forced via sort_by + min_files=1 — a plain compact of a
    # 1-file table no-ops without committing): the walk must cross
    # both
    table.compact(min_files=1, sort_by=["k"])
    assert table.manifest(table.current_version()).get("maintenance") is True
    v2 = table.current_version()
    assert v2 == v + 1
    table.append(_df(spark, [(2, "b", 2)]), batch_id=4)
    assert table.current_version() == v2
    # an UNBATCHED data commit shields: the same batch_id afterwards
    # is a new delivery, not a replay
    table.append(_df(spark, [(8, "z", 8)]))
    table.append(_df(spark, [(2, "b2", 9)]), batch_id=4)
    assert table.read().count() == n + 2
    # a genuinely NEW batch still commits
    table.append(_df(spark, [(3, "c", 3)]), batch_id=5)
    assert table.read().count() == n + 3


def test_rewrite_is_maintenance_and_preserves_ledger(spark, table):
    """rewrite() replaces rows (here: pre-aggregating additive
    partials) under a maintenance-marked commit — a retry landing
    after the rewrite must still skip (the chunk-index count
    compaction depends on this; an overwrite() here would stop the
    guard's walk and double-apply the retried batch)."""
    table.append(_df(spark, [(1, "a", 1), (1, "a", 2)]), batch_id=3)
    from pyspark.sql import functions as F

    folded = table.read().groupBy("k", "v").agg(
        F.sum("ts").cast("int").alias("ts")
    ).select("k", "v", "ts")
    table.rewrite(folded)
    assert table.manifest(table.current_version()).get("maintenance") is True
    assert table.read().count() == 1
    assert table.read().collect()[0]["ts"] == 3
    v = table.current_version()
    # retry of batch 3 after the rewrite: guard walks past it, skips
    table.append(_df(spark, [(1, "a", 1), (1, "a", 2)]), batch_id=3)
    assert table.current_version() == v
    # a NEW batch still commits
    table.append(_df(spark, [(2, "b", 5)]), batch_id=4)
    assert table.read().count() == 2


def test_concurrent_writer_conflict(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    # a racing writer steals version 2
    ParquetTable(spark, table.path).append(_df(spark, [(9, "z", 9)]))
    # our stale-parent commit must fail loudly, not overwrite
    stale = object.__new__(ParquetTable)
    stale.__dict__.update(table.__dict__)
    with pytest.raises(CommitConflict):
        stale._commit([], None, parent=1)


def test_compact_merges_small_files_row_identical(spark, table):
    """Many small appends → one compaction pass rewrites the live set
    into few files with identical rows; old versions stay readable."""
    for i in range(6):
        table.append(_df(spark, [(i, f"v{i}", i)]).coalesce(1))
    before = sorted(table.read().collect())
    n_before = len(table._live_files(table.current_version()))
    assert n_before >= 6
    v = table.compact(target_file_bytes=1 << 30)  # everything fits one file
    assert v == 7
    assert len(table._live_files(v)) == 1
    assert sorted(table.read().collect()) == before
    assert table.read(version=6).count() == 6  # time travel intact


def test_compact_sorted_files_have_disjoint_key_ranges(spark, table):
    """sort_by compaction range-partitions files so parquet min/max
    footers are selective (file-skipping on the sort key)."""
    rows = [(k, "x", k) for k in range(100)]
    for i in range(0, 100, 25):
        table.append(_df(spark, rows[i : i + 25]).coalesce(1))
    v = table.compact(target_file_bytes=2048, sort_by=["k"])
    files = table._live_files(v)
    assert len(files) >= 2
    ranges = []
    for f in files:
        ks = [r.k for r in spark.read.parquet(f).collect()]
        if ks:
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # disjoint → min/max footer prunes whole files
    assert table.read(v).count() == 100


def test_compact_noop_when_already_compact(spark, table):
    v1 = table.append(_df(spark, [(1, "a", 1)]).coalesce(1))
    assert table.compact() == v1  # below min_files: no new version


def test_vacuum_keeps_referenced_dirs(spark, table):
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER)
    table.merge(_df(spark, [(1, "b", 2)]), KEYS, ORDER)  # full rewrite
    removed = table.vacuum(keep_versions=1)
    assert removed, "old rewrite dir should be vacuumed"
    assert {(r["k"], r["v"]) for r in table.read().collect()} == {(1, "b")}
    with pytest.raises(Exception):
        table.read(version=1).collect()  # time travel gone after vacuum


def test_pos_pipeline_table_sinks_exactly_once(spark, tmp_path):
    """The streaming batch handler over ParquetTable sinks: a replayed
    micro-batch (at-least-once foreachBatch) commits once; versions
    advance only for new batches; both sinks stay consistent."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import (
        raw_pos_df,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
        pos_table_handler,
    )

    fact_t = ParquetTable(spark, str(tmp_path / "fact"))
    quar_t = ParquetTable(spark, str(tmp_path / "quar"))
    handle = pos_table_handler(fact_t, quar_t)

    raw = raw_pos_df(spark)
    handle(raw, 0)
    v_fact, v_quar = fact_t.current_version(), quar_t.current_version()
    n_fact, n_quar = fact_t.read().count(), quar_t.read().count()
    assert n_fact > 0 and n_quar > 0

    handle(raw, 0)  # crash-replay of the same micro-batch
    assert (fact_t.current_version(), quar_t.current_version()) == (v_fact, v_quar)
    assert fact_t.read().count() == n_fact

    handle(raw.limit(0), 1)  # emptiness gate: no commit at all
    assert fact_t.current_version() == v_fact

    handle(raw, 2)  # same DATA as batch 0 → upsert is a no-op on rows
    assert fact_t.current_version() > v_fact
    assert fact_t.read().count() == n_fact

    # a clean day: only valid orders, so the quarantine sink gets a
    # zero-row batch and must not commit; the fact sink still advances
    v_fact, v_quar = fact_t.current_version(), quar_t.current_version()
    quar_files = quar_t.files()
    handle(raw.filter("`Order ID` IN ('O1', 'O2')"), 3)
    assert quar_t.current_version() == v_quar
    assert quar_t.files() == quar_files
    assert fact_t.current_version() > v_fact


def test_pos_pipeline_replay_after_one_sink_failed(spark, tmp_path, monkeypatch):
    """When the quarantine MERGE fails the handler raises, the fact
    MERGE having committed; a replay of the batch re-applies only the
    quarantine sink, so both tables equal a clean single run and the
    fact table holds exactly one data commit for the batch."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import (
        raw_pos_df,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
        pos_table_handler,
    )

    raw = raw_pos_df(spark)
    clean_fact = ParquetTable(spark, str(tmp_path / "clean_fact"))
    clean_quar = ParquetTable(spark, str(tmp_path / "clean_quar"))
    pos_table_handler(clean_fact, clean_quar)(raw, 0)

    fact_t = ParquetTable(spark, str(tmp_path / "fact"))
    quar_t = ParquetTable(spark, str(tmp_path / "quar"))
    real_merge = quar_t.merge
    calls = []

    def merge_failing_once(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise RuntimeError("quarantine sink down")
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(quar_t, "merge", merge_failing_once)
    handle = pos_table_handler(fact_t, quar_t)
    with pytest.raises(RuntimeError, match="quarantine sink down"):
        handle(raw, 0)
    assert quar_t.current_version() == 0
    handle(raw, 0)  # the replay

    def rows(t):
        return sorted(map(tuple, t.read().collect()), key=repr)

    assert rows(fact_t) == rows(clean_fact)
    assert rows(quar_t) == rows(clean_quar)
    assert [e["batch_id"] for e in fact_t.history()] == [0]


def test_empty_merge_is_a_noop_except_at_version_zero(spark, tmp_path):
    """A zero-row merge at version >= 1 follows delete_where's no-op
    rule: same version, same files, and no ledger entry, so a later
    real batch reusing the id still applies. Into a version-0 table
    it commits, so the table is readable with the batch's schema, but
    records no batch_id: a one-row batch reusing the id still lands."""
    table = ParquetTable(spark, str(tmp_path / "t"))
    for lo in (0, 10, 20):
        table.append(_df(spark, [(k, "x", k) for k in range(lo, lo + 10)]))
    v, files = table.current_version(), table.files()
    assert table.merge(_df(spark, []), KEYS, ORDER, batch_id=7) == v
    assert table.files() == files
    assert table.merge(_df(spark, [(5, "NEW", 99)]), KEYS, ORDER, batch_id=7) == v + 1
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(k, "NEW" if k == 5 else "x") for k in range(30)}

    fresh = ParquetTable(spark, str(tmp_path / "fresh"))
    empty = spark.createDataFrame([], "k int, score double, ts int")
    assert fresh.merge(empty, KEYS, ORDER, batch_id=0) == 1
    assert fresh.read().dtypes == [("k", "int"), ("score", "double"), ("ts", "int")]
    assert fresh.read().count() == 0
    assert fresh.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER, batch_id=0) == 2
    assert fresh.read().count() == 1


# -- manifest stats, file skipping, pruned MERGE ---------------------------


def _ranged(spark, lo, hi, v="x"):
    return _df(spark, [(k, v, k) for k in range(lo, hi)]).coalesce(1)


def test_manifest_records_file_stats(spark, table):
    table.append(_ranged(spark, 0, 10))
    entries = table.files()
    assert entries, "commit should record per-file stats"
    entry = entries[0]
    assert entry["rows"] == 10 and entry["bytes"] > 0
    k_stats = entry["stats"]["k"]
    assert (k_stats["lo"], k_stats["hi"]) == (["i", 0], ["i", 9])
    assert entry["stats"]["v"]["lo"] == ["s", "x"]
    # the manifest LIST carries the folded bounds without opening the
    # manifest file
    summary = table.manifest()["manifests"][0]
    assert summary["n_files"] == 1 and summary["rows"] == 10
    assert summary["bounds"]["k"] == {"lo": ["i", 0], "hi": ["i", 9]}


def test_read_filters_skip_files_without_io(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    table.append(_ranged(spark, 20, 30))
    v = table.current_version()
    # point lookup: stats keep exactly one of three files
    assert len(table.scan_files(v, [("k", "=", 12)])) == 1
    assert {r["k"] for r in table.read(filters=[("k", "=", 12)]).collect()} == {12}
    # range: two files survive
    assert len(table.scan_files(v, [("k", ">=", 5), ("k", "<", 15)])) == 2
    got = table.read(filters=[("k", ">=", 5), ("k", "<", 15)])
    assert {r["k"] for r in got.collect()} == set(range(5, 15))
    # unsatisfiable: every file pruned, result still well-formed + empty
    assert table.scan_files(v, [("k", ">", 999)]) == []
    assert table.read(filters=[("k", ">", 999)]).count() == 0


def test_merge_rewrites_only_intersecting_files(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    table.append(_ranged(spark, 20, 30))
    parent_v = table.current_version()
    before = {e["path"] for e in table.files(parent_v)}
    v = table.merge(_df(spark, [(12, "NEW", 99), (13, "NEW", 99)]), KEYS, ORDER)
    after = {e["path"] for e in table.files(v)}
    # the two disjoint files are carried by reference, not rewritten
    assert len(before & after) == 2
    # ...and their whole MANIFESTS carried without opening: two of the
    # parent's manifest files appear verbatim in the new list
    parent_names = {s["path"] for s in table.manifest(parent_v)["manifests"]}
    child_names = {s["path"] for s in table.manifest(v)["manifests"]}
    assert len(parent_names & child_names) == 2
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(k, "NEW" if k in (12, 13) else "x") for k in range(30)}
    # carried files keep their stats → pruning still works post-merge
    assert len(table.scan_files(v, [("k", "=", 25)])) == 1


def test_merge_outside_all_ranges_is_pure_append(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    before = {e["path"] for e in table.files()}
    v = table.merge(_df(spark, [(100, "new", 1)]), KEYS, ORDER)
    after = {e["path"] for e in table.files(v)}
    assert before <= after, "no existing file intersects: none rewritten"
    assert table.read().count() == 21


def test_pruned_merge_preserves_time_travel_and_vacuum(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    v_before = table.current_version()
    table.merge(_df(spark, [(5, "NEW", 9)]), KEYS, ORDER)
    # old snapshot intact
    assert {r["v"] for r in table.read(version=v_before).collect()} == {"x"}
    # vacuum keeps dirs that only carried files still reference
    table.vacuum(keep_versions=1)
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(k, "NEW" if k == 5 else "x") for k in range(20)}


# -- change data feed ------------------------------------------------------


def test_changes_append_is_all_inserts(spark, table):
    table.append(_ranged(spark, 0, 5))
    v1 = table.current_version()
    table.append(_ranged(spark, 5, 8))
    got = table.changes(v1).collect()
    assert {r["_change_type"] for r in got} == {"insert"}
    assert {r["k"] for r in got} == {5, 6, 7}
    # from the empty table: everything is an insert
    assert table.changes(0).count() == 8


def test_keyed_changes_classify_and_suppress_rewrites(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    v1 = table.current_version()
    table.merge(
        _df(spark, [(3, "NEW", 9), (100, "add", 9)]), KEYS, ORDER
    )
    got = {(r["k"], r["_change_type"]) for r in table.changes(v1, keys=KEYS).collect()}
    # key 3 updated (both images), key 100 inserted; rows 0-9 were
    # rewritten into the new file byte-identical — suppressed; file
    # 10-19 untouched.
    assert got == {
        (3, "update_postimage"),
        (3, "update_preimage"),
        (100, "insert"),
    }


def test_changes_compaction_is_empty_and_diff_is_bounded(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    v = table.current_version()
    table.compact(target_file_bytes=1 << 30)
    assert table.changes(v, keys=KEYS).count() == 0
    # untouched-range merge: manifest diff excludes the carried file
    v2 = table.current_version()
    table.merge(_df(spark, [(0, "NEW", 9)]), KEYS, ORDER)
    added, removed = table._diff_files(v2, table.current_version())
    assert len(removed) == 1, "only the touched file leaves the manifest"
    assert added, "the rewrite dir's files enter the manifest"


def test_changes_delete_surface_via_unkeyed_diff(spark, table):
    """A keyed merge never deletes, but a rewrite that drops rows
    (e.g. GDPR purge committed as a new snapshot) shows as delete."""
    table.append(_ranged(spark, 0, 6))
    v1 = table.current_version()
    purged = table.read().filter("k < 4")
    rel = table._write_data_dir(purged)
    table._commit([table._write_manifest(table._stats_for_dir(rel))], None, v1)
    got = table.changes(v1, keys=KEYS)
    by_type = {t: {r["k"] for r in rows} for t, rows in (
        (t, [r for r in got.collect() if r["_change_type"] == t])
        for t in ("insert", "update_postimage", "delete")
    )}
    assert by_type["delete"] == {4, 5}
    assert by_type["insert"] == set() and by_type["update_postimage"] == set()


# -- schema evolution ------------------------------------------------------


def test_append_evolves_schema_nullfilling_old_files(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    table.append(
        spark.createDataFrame([(2, "b", 2, "new!")], "k int, v string, ts int, extra string")
    )
    got = {(r["k"], r["extra"]) for r in table.read().collect()}
    assert got == {(1, None), (2, "new!")}
    assert [f.name for f in table.schema().fields] == ["k", "v", "ts", "extra"]
    # a later batch may omit evolved columns entirely
    table.append(_df(spark, [(3, "c", 3)]))
    assert table.read().filter("extra is null").count() == 2


def test_append_type_conflict_raises(spark, table):
    from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import (
        SchemaConflict,
    )

    table.append(_df(spark, [(1, "a", 1)]))
    v = table.current_version()
    with pytest.raises(SchemaConflict):
        table.append(spark.createDataFrame([(2, 99, 2)], "k int, v int, ts int"))
    assert table.current_version() == v, "failed evolution commits nothing"


def test_merge_across_schema_evolution(spark, table):
    table.append(_df(spark, [(1, "a", 1), (2, "b", 1)]))
    table.append(_df(spark, [(10, "x", 1)]))
    table.merge(
        spark.createDataFrame(
            [(2, "B2", 5, 0.5), (3, "c", 5, 0.9)],
            "k int, v string, ts int, score double",
        ),
        KEYS,
        ORDER,
    )
    got = {(r["k"], r["v"], r["score"]) for r in table.read().collect()}
    assert got == {
        (1, "a", None),
        (2, "B2", 0.5),
        (3, "c", 0.9),
        (10, "x", None),  # disjoint file carried forward, null-filled
    }
    # CDF across the evolution still classifies correctly
    v1 = 2
    changes = {
        (r["k"], r["_change_type"])
        for r in table.changes(v1, keys=KEYS).collect()
    }
    assert changes == {
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "insert"),
    }


def test_cdf_incrementally_maintains_an_aggregate(spark, table):
    """The point of emitting both update images: a downstream
    aggregate updates from the feed alone — add postimages and
    inserts, subtract preimages and deletes — and lands exactly on a
    full recompute, never rescanning the table."""
    from pyspark.sql import functions as F

    table.merge(_df(spark, [(k, "x", k * 10) for k in range(50)]), KEYS, ORDER)
    v1 = table.current_version()
    total_v1 = table.read().agg(F.sum("ts")).collect()[0][0]

    table.merge(
        _df(spark, [(3, "upd", 999), (7, "upd", 1), (100, "new", 5)]),
        KEYS,
        ORDER,
    )
    feed = table.changes(v1, keys=KEYS)
    delta = feed.select(
        F.sum(
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.col("ts"),
            ).when(
                F.col("_change_type").isin("delete", "update_preimage"),
                -F.col("ts"),
            )
        ).alias("d")
    ).collect()[0]["d"]
    total_v2 = table.read().agg(F.sum("ts")).collect()[0][0]
    assert total_v1 + delta == total_v2


# -- manifest-list metadata scaling ----------------------------------------


def test_commit_metadata_is_o_touched_not_o_live(spark, tmp_path):
    """At 100 TB (~10^6-10^7 files) commit metadata must be O(touched
    files), not O(live files). Metadata-level proof: a synthetic
    10k-file manifest is committed, then a real append lands on top —
    the manifest LIST stays a few hundred bytes and the append writes
    only its own entries, carrying the 10k-file manifest by
    reference."""
    table = ParquetTable(spark, str(tmp_path / "big"))
    entries = [
        {
            "path": f"data/synth/part-{i:05d}.parquet",
            "bytes": 1 << 20,
            "rows": 1000,
            "stats": {"k": {"lo": ["i", i * 10], "hi": ["i", i * 10 + 9], "nulls": 0}},
        }
        for i in range(10_000)
    ]
    table._commit([table._write_manifest(entries)], None, parent=0)
    list_bytes = os.path.getsize(table._manifest_path(1))
    assert list_bytes < 4096, f"manifest list must be O(manifests), got {list_bytes}B"
    # history + point-lookup pruning are metadata-only on 10k files
    h = table.history()
    assert h[0]["n_files"] == 10_000 and h[0]["rows"] == 10_000_000
    assert len(table.scan_files(1, [("k", "=", 55)])) == 1

    before = set(os.listdir(table._manifests))
    table.append(_df(spark, [(1, "a", 1)]).coalesce(1))
    new_meta = sum(
        os.path.getsize(os.path.join(table._manifests, f))
        for f in set(os.listdir(table._manifests)) - before
    )
    assert new_meta < 8192, f"append wrote {new_meta}B of metadata on a 10k-file table"
    assert table.history()[0]["n_files"] == 10_001


def test_manifest_merging_bounds_list_length(spark, tmp_path):
    """Without merge-on-commit the list grows one summary per commit
    forever; with it the list stays O(limit) while reads, time travel,
    and the file-level CDF diff stay exact across folds."""
    table = ParquetTable(spark, str(tmp_path / "m"), manifest_merge_at=4)
    for i in range(12):
        table.append(_df(spark, [(i, f"v{i}", i)]).coalesce(1))
    assert len(table.manifest()["manifests"]) <= 4
    assert {r["k"] for r in table.read().collect()} == set(range(12))
    assert table.read(version=6).count() == 6  # time travel across folds
    added, removed = table._diff_files(11, 12)
    assert len(added) == 1 and not removed, "fold must not fabricate diffs"
    got = table.changes(11).collect()
    assert [(r["k"], r["_change_type"]) for r in got] == [(11, "insert")]


# -- model-based property test ---------------------------------------------


def test_random_op_sequences_match_reference_model(spark, tmp_path):
    """Hypothesis drives random append/merge/overwrite/compact
    sequences against both the table and a sequential reference
    model; table state and a stats-pruned filtered read must match
    the model after every sequence."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_st = st.lists(
        st.tuples(st.integers(0, 9), st.sampled_from("abc")),
        min_size=1,
        max_size=4,
    )
    op_st = st.one_of(
        st.tuples(st.just("append"), rows_st),
        st.tuples(st.just("merge"), rows_st),
        st.tuples(st.just("overwrite"), rows_st),
        st.tuples(st.just("compact"), st.sampled_from(["plain", "sort"])),
    )

    @settings(
        max_examples=6,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(ops=st.lists(op_st, min_size=1, max_size=5), pivot=st.integers(0, 9))
    def run(ops, pivot):
        # manifest_merge_at=3 forces manifest folding inside the
        # sequences, so the model-check drives the two-level path
        table = ParquetTable(
            spark, tempfile.mkdtemp(dir=tmp_path, prefix="m"), manifest_merge_at=3
        )
        model: list[tuple[int, str, int]] = []
        ts = 0
        for op, arg in ops:
            if op == "compact":
                kw = {"sort_by": ["k"]} if arg == "sort" else {}
                table.compact(target_file_bytes=1 << 20, **kw)
                continue
            batch = []
            for k, v in arg:
                ts += 1
                batch.append((k, v, ts))
            df = _df(spark, batch)
            if op == "append":
                table.append(df)
                model.extend(batch)
            elif op == "overwrite":
                table.overwrite(df)
                model = list(batch)
            else:
                table.merge(df, KEYS, ORDER)
                latest = {}
                for k, v, t in batch:
                    latest[k] = (k, v, t)  # later ts wins (dedup_latest)
                model = [r for r in model if r[0] not in latest]
                model.extend(latest.values())
        if not model and table.current_version() == 0:
            return
        got = sorted((r["k"], r["v"], r["ts"]) for r in table.read().collect())
        assert got == sorted(model)
        filt = sorted(
            (r["k"], r["v"], r["ts"])
            for r in table.read(filters=[("k", ">=", pivot)]).collect()
        )
        assert filt == sorted(r for r in model if r[0] >= pivot)

    run()


def test_changes_across_nonadditive_schema_change_fails_clearly(spark, table):
    """overwrite() redefines the schema outright; a change feed that
    crosses a type change or a dropped column must raise a clear
    error, not fail mid-scan or silently null preimage values."""
    table.append(_df(spark, [(1, "a", 1)]))
    v1 = table.current_version()
    table.overwrite(
        spark.createDataFrame([(1, 5, 2)], "k int, v int, ts int")  # v: string→int
    )
    with pytest.raises(ValueError, match="non-additive"):
        table.changes(v1, keys=KEYS)
    table.overwrite(spark.createDataFrame([(1, 2)], "k int, ts int"))  # v dropped
    with pytest.raises(ValueError, match="dropped"):
        table.changes(v1, keys=KEYS)
    # additive evolution still feeds fine
    v3 = table.current_version()
    table.append(spark.createDataFrame([(2, 3, "x")], "k int, ts int, extra string"))
    assert {r["k"] for r in table.changes(v3).collect()} == {2}


def test_changes_from_vacuumed_version_fails_clearly(spark, table):
    table.merge(_df(spark, [(1, "a", 1)]), KEYS, ORDER)
    table.merge(_df(spark, [(1, "b", 2)]), KEYS, ORDER)  # full rewrite
    table.vacuum(keep_versions=1)
    with pytest.raises(ValueError, match="vacuum"):
        table.changes(1, keys=KEYS).collect()


def test_in_filter_prunes_and_filters(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    table.append(_ranged(spark, 20, 30))
    v = table.current_version()
    assert len(table.scan_files(v, [("k", "in", [2, 5])])) == 1
    assert len(table.scan_files(v, [("k", "in", [2, 25])])) == 2
    assert table.scan_files(v, [("k", "in", [])]) == []
    got = {r["k"] for r in table.read(filters=[("k", "in", [2, 25])]).collect()}
    assert got == {2, 25}
    assert table.read(filters=[("k", "in", [])]).count() == 0


def test_merge_with_retry_wins_after_conflict(spark, table):
    table.append(_df(spark, [(1, "a", 1)]))
    # steal the next version exactly once, then let the retry through
    real_commit = ParquetTable._commit
    stolen = {"done": False}

    def stealing_commit(self, *args, **kwargs):
        if not stolen["done"]:
            stolen["done"] = True
            ParquetTable(spark, self.path).append(_df(spark, [(9, "z", 9)]))
        return real_commit(self, *args, **kwargs)

    try:
        ParquetTable._commit = stealing_commit
        table.merge_with_retry(_df(spark, [(1, "B", 2)]), KEYS, ORDER)
    finally:
        ParquetTable._commit = real_commit
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(1, "B"), (9, "z")}


def test_history_is_metadata_only_commit_log(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.merge(_df(spark, [(3, "B", 99)]), KEYS, ORDER, batch_id=7)
    h = table.history()
    assert [e["version"] for e in h] == [2, 1]
    assert h[0]["batch_id"] == 7 and h[1]["batch_id"] is None
    assert h[0]["rows"] == 10 and h[1]["rows"] == 10
    assert all(e["bytes"] > 0 for e in h)


def test_keyed_change_feed_matches_model_between_random_versions(spark, tmp_path):
    """Hypothesis drives random merge/overwrite sequences (key-unique
    by construction — the keyed feed's precondition; values include
    null, so updates to and from null occur) with manifest folding
    forced on, records the model state at every version, then checks
    changes(v_i, v_j, keys) classification against the model diff for
    random version pairs: inserts/deletes/update images must match
    exactly, and same-state pairs must produce an empty feed. A fixed
    case then re-merges a row byte for byte: that feed is empty."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_st = st.lists(
        st.tuples(st.integers(0, 6), st.sampled_from(["a", "b", "c", None])),
        min_size=1,
        max_size=4,
    )
    op_st = st.one_of(
        st.tuples(st.just("merge"), rows_st),
        st.tuples(st.just("overwrite"), rows_st),
    )

    @settings(
        max_examples=6,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        ops=st.lists(op_st, min_size=2, max_size=5),
        pick=st.tuples(st.integers(0, 100), st.integers(0, 100)),
    )
    def run(ops, pick):
        table = ParquetTable(
            spark, tempfile.mkdtemp(dir=tmp_path, prefix="cdf"), manifest_merge_at=3
        )
        states: list[dict] = [{}]  # version index -> {k: (k, v, ts)}
        ts = 0
        for op, arg in ops:
            batch = []
            latest = {}
            for k, v in arg:
                ts += 1
                latest[k] = (k, v, ts)
            batch = list(latest.values())
            df = _df(spark, batch)
            if op == "merge":
                table.merge(df, KEYS, ORDER)
                state = dict(states[-1])
                state.update({r[0]: r for r in batch})
            else:
                table.overwrite(df)
                state = {r[0]: r for r in batch}
            states.append(state)
        n = len(states) - 1
        vt = 1 + pick[1] % n  # the feed needs a committed target
        vf = pick[0] % (vt + 1)
        old, new = states[vf], states[vt]
        feed = table.changes(vf, to_version=vt, keys=KEYS).collect()
        got = {}
        for r in feed:
            got.setdefault(r["_change_type"], set()).add((r["k"], r["v"], r["ts"]))
        want_ins = {new[k] for k in new if k not in old}
        want_del = {old[k] for k in old if k not in new}
        want_pre = {old[k] for k in old if k in new and old[k] != new[k]}
        want_post = {new[k] for k in new if k in old and old[k] != new[k]}
        assert got.get("insert", set()) == want_ins
        assert got.get("delete", set()) == want_del
        assert got.get("update_preimage", set()) == want_pre
        assert got.get("update_postimage", set()) == want_post
        if old == new:
            assert not feed

    run()

    # a byte-identical re-merge of a null-valued row rewrites its file,
    # and the feed of that commit is empty
    table = ParquetTable(spark, str(tmp_path / "remerge"))
    table.merge(_df(spark, [(1, "a", 1), (2, None, 2)]), KEYS, ORDER)
    v = table.current_version()
    table.merge(_df(spark, [(2, None, 2)]), KEYS, ORDER)
    assert table.current_version() == v + 1
    assert not table.changes(v, keys=KEYS).collect()


# -- DELETE WHERE ----------------------------------------------------------


def test_delete_where_rewrites_only_intersecting_files(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    table.append(_ranged(spark, 20, 30))
    before = {e["path"] for e in table.files()}
    v0 = table.current_version()
    v = table.delete_where([("k", ">=", 12), ("k", "<", 15)])
    after = {e["path"] for e in table.files(v)}
    assert len(before & after) == 2, "disjoint files carried by reference"
    assert {r["k"] for r in table.read().collect()} == set(range(30)) - {12, 13, 14}
    # time travel keeps the rows until vacuum
    assert table.read(version=v0).count() == 30
    # CDF sees the deletions (unkeyed: rewritten file rows suppressed
    # only under keyed semantics; use keys)
    got = {
        (r["k"], r["_change_type"])
        for r in table.changes(v0, keys=KEYS).collect()
    }
    assert got == {(12, "delete"), (13, "delete"), (14, "delete")}


def test_delete_where_noop_and_idempotent(spark, table):
    table.append(_ranged(spark, 0, 10))
    v1 = table.current_version()
    # provably-empty delete: no new version
    assert table.delete_where([("k", ">", 999)]) == v1
    # batch_id replay applies once
    v2 = table.delete_where([("k", "=", 3)], batch_id=42)
    assert v2 == v1 + 1
    assert table.delete_where([("k", "=", 4)], batch_id=42) == v2  # replayed
    assert {r["k"] for r in table.read().collect()} == set(range(10)) - {3}


def test_delete_where_null_rows_survive(spark, table):
    table.append(
        spark.createDataFrame([(1, "a", 1), (None, "n", 2), (5, "b", 3)],
                              "k int, v string, ts int")
    )
    table.delete_where([("k", "<", 10)])
    got = {(r["k"], r["v"]) for r in table.read().collect()}
    assert got == {(None, "n")}, "NULL comparison keeps the row (SQL DELETE)"


def test_update_where_rewrites_only_intersecting_files(spark, table):
    table.append(_ranged(spark, 0, 10))
    table.append(_ranged(spark, 10, 20))
    table.append(_ranged(spark, 20, 30))
    before = {e["path"] for e in table.files()}
    v0 = table.current_version()
    v = table.update_where([("k", ">=", 12), ("k", "<", 15)], {"v": "UPD"})
    after = {e["path"] for e in table.files(v)}
    assert len(before & after) == 2, "disjoint files carried by reference"
    got = {r["k"]: r["v"] for r in table.read().collect()}
    assert all(got[k] == ("UPD" if 12 <= k < 15 else "x") for k in range(30))
    assert table.read(version=v0).filter("v = 'UPD'").count() == 0  # time travel
    # keyed CDF: both images for updated keys, untouched rewrites suppressed
    changes = {
        (r["k"], r["_change_type"]) for r in table.changes(v0, keys=KEYS).collect()
    }
    assert changes == {
        (k, t)
        for k in (12, 13, 14)
        for t in ("update_preimage", "update_postimage")
    }
    # schema preserved: assignment cast to the column's recorded type
    assert table.schema(v) == table.schema(v0)


def test_update_where_column_expr_noop_and_validation(spark, table):
    from pyspark.sql import functions as F

    table.append(_ranged(spark, 0, 10))
    v1 = table.current_version()
    # provably-empty update: no commit
    assert table.update_where([("k", ">", 999)], {"v": "x"}) == v1
    # unknown column fails before any write
    with pytest.raises(ValueError, match="unknown column"):
        table.update_where([("k", "=", 1)], {"nope": 1})
    assert table.current_version() == v1
    # Column-valued assignment + batch_id idempotency
    v2 = table.update_where([("k", "<", 3)], {"ts": F.col("ts") + 100}, batch_id=9)
    assert table.update_where([("k", "<", 5)], {"ts": F.col("ts") + 999}, batch_id=9) == v2
    got = {r["k"]: r["ts"] for r in table.read().collect()}
    assert got == {k: (k + 100 if k < 3 else k) for k in range(10)}
