"""Minimal snapshot-isolated table format (Delta/Iceberg-style commit
protocol over plain parquet — no table-format libraries in this
container, so the engine carries its own).

Why rewriting a table elsewhere and renaming it into place is not
enough at scale: a reader that planned against the target directory
can lose files mid-query when the swap replaces them. Real lakehouse
formats fix this with IMMUTABLE data files + a versioned metadata
pointer; this module implements exactly that core:

Layout (two-level, Iceberg-style)::

    table/
      data/<uuid>/part-*.parquet   -- immutable once committed
      _manifests/m-<uuid>.json     -- immutable MANIFEST FILE: the file
                                      entries (path/rows/bytes/column
                                      stats) one commit produced
      _manifests/v00000001.json    -- MANIFEST LIST: {version, parent,
                                      batch_id, schema, manifests:
                                      [summary]} where each summary
                                      carries the manifest file's name
                                      plus folded counts and column
                                      bounds
      _latest                      -- current version (atomic os.replace)

Commit protocol (optimistic concurrency):

1. write new data directory(ies) — invisible until referenced;
2. create ``_manifests/v{N+1}.json`` with O_EXCL — two racing
   writers cannot both win the same version (CommitConflict for the
   loser, who retries against the new snapshot);
3. atomically repoint ``_latest`` (``os.replace``).

A crash at any step leaves ``_latest`` on the previous manifest —
readers never observe a partial commit. Readers resolve the file
list ONCE at plan time from an immutable manifest, so a concurrent
commit (even a full-rewrite MERGE) cannot pull files out from under
a running query; old versions stay readable (time travel) until
``vacuum``.

Streaming exactly-once: ``foreachBatch`` is at-least-once, so
``merge``/``append`` accept a ``batch_id`` that is recorded in the
manifest; re-committing the same batch_id is a no-op, making the
sink idempotent per micro-batch. The guard compares against the most
recent DATA commit, seeing through commits marked as maintenance
(compaction — a row-identical layout rewrite) — a retry that lands
after a handler-triggered compaction still no-ops, while any real
data commit (batched or not) shields exactly as before. Two
consequences worth knowing: (1) compaction commits written BEFORE
the marker existed are indistinguishable from data commits, so a
table carrying such history should be considered re-foldable across
its next retry (compact it once under this version before resuming
the stream to re-establish the invariant); (2) an out-of-band
UNBATCHED append interleaved inside a stream's crash-retry window
stops the walk by design — don't run manual writes against a table
whose stream may be mid-recovery.

At 100 TB the only piece to swap is the pointer store: local-FS
rename → a CAS on an object-store/catalog entry (S3 conditional put,
Hive/Glue lock). Data-file immutability, manifest versioning, and
optimistic concurrency carry over unchanged.

File statistics (Iceberg-manifest-style): every commit records
per-file row counts, byte sizes, and per-column min/max/null-count
harvested from the parquet footers that were just written. Two
consumers:

- ``read(filters=...)`` — plan-time file skipping: files whose
  column bounds cannot satisfy a conjunction of simple predicates
  are dropped from the scan before Spark ever opens them. This is
  the metadata layer parquet row-group pruning cannot provide (the
  scan must still *open* every footer; the manifest prunes with zero
  file IO), and it is what makes ``compact(sort_by=...)``'s
  range-sorted layout pay off at 100 TB.
- ``merge(..., )`` — file-level MERGE pruning: only files whose key
  range intersects the batch's key range are read and rewritten;
  untouched files are carried into the new manifest by reference.
  A streaming upsert sink therefore pays O(touched files + batch)
  per micro-batch, not O(table) — the difference between a usable
  and an unusable 100 TB streaming MERGE.

Metadata scaling (the part that has to survive 10^6-10^7 files at
100 TB): a commit writes ONE new manifest file listing only the
files it produced and re-references the parent's manifest files
unchanged, so commit metadata is O(touched files), never O(live
files). Each manifest-list summary folds its manifest's per-column
bounds, which gives three metadata-only fast paths:

- ``read(filters=...)`` / ``scan_files`` skip whole manifest files
  whose folded bounds prove no contained file can match — the list
  alone prunes thousands of files without opening their manifest;
- ``merge`` carries disjoint-key-range manifests forward verbatim
  (never opened), opens only intersecting ones, and rewrites only
  intersecting FILES — per micro-batch cost stays O(touched+batch);
- ``_diff_files`` (CDF) opens only the manifests in the symmetric
  difference of two manifest lists: every file lives in exactly one
  manifest per version, so common manifests cannot contribute diffs.

To stop the manifest list itself growing one summary per commit
forever, commits past ``manifest_merge_at`` summaries fold the
smallest manifests into one (log-structured merge, amortized
O(entries/limit) per commit) — the same compaction Iceberg's
ManifestMergeManager performs. ``history()`` reads summaries only.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import uuid
from collections.abc import Callable, Sequence
from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.upsert import dedup_latest, merge_upsert
from .sinks import prepare_for_load

# -- stats (de)serialization -----------------------------------------------
# Parquet footer min/max values arrive as native Python objects; manifests
# are JSON, so each bound is stored as a (type-tag, portable value) pair.
# Truncated binary stats are still valid bounds (parquet rounds min down /
# max up), so pruning against them is safe.

_SER = (
    (bool, "b", lambda v: v),  # bool before int: bool is an int subclass
    (int, "i", lambda v: v),
    (float, "f", lambda v: v),
    (str, "s", lambda v: v),
    (bytes, "y", lambda v: v.hex()),
    (_dt.datetime, "t", lambda v: v.isoformat()),
    (_dt.date, "d", lambda v: v.isoformat()),
    (Decimal, "n", str),
)

_DESER = {
    "b": lambda v: v,
    "i": int,
    "f": float,
    "s": str,
    "y": bytes.fromhex,
    "t": _dt.datetime.fromisoformat,
    "d": _dt.date.fromisoformat,
    "n": Decimal,
}


def _ser_bound(v):
    for typ, tag, enc in _SER:
        if isinstance(v, typ):
            return [tag, enc(v)]
    return None


def _comparable(bound, literal):
    """Deserialize a stored bound next to a filter literal; None when
    the two aren't safely comparable (→ caller keeps the file)."""
    tag, raw = bound
    lit = _ser_bound(literal)
    if lit is None:
        return None
    ltag = lit[0]
    if tag != ltag and not ({tag, ltag} <= {"i", "f"}):
        return None
    try:
        return _DESER[tag](raw), literal
    except (ValueError, TypeError):
        return None


_OPS = ("=", "<", "<=", ">", ">=", "in")

def _file_prunable(meta: dict, filters: Sequence[tuple]) -> bool:
    """True when no row of the file can satisfy ALL filters (AND
    semantics). Missing stats for a column → not prunable on it."""
    stats = meta.get("stats") or {}
    for col, op, value in filters:
        st = stats.get(col)
        if st is None:
            continue
        if st.get("allnull"):
            # SQL comparisons with NULL are never true.
            return True
        if "lo" not in st:
            continue
        values = list(value) if op == "in" else [value]
        if not values:
            return True  # IN () matches nothing
        bounds = [(_comparable(st["lo"], v), _comparable(st["hi"], v)) for v in values]
        if any(lo_p is None or hi_p is None for lo_p, hi_p in bounds):
            continue
        try:
            if op == "in":
                if all(v < lo or v > hi for (lo, v), (hi, _) in bounds):
                    return True
                continue
            (lo, v), (hi, _) = bounds[0]
            if (
                (op == "=" and (v < lo or v > hi))
                or (op == "<" and lo >= v)
                or (op == "<=" and lo > v)
                or (op == ">" and hi <= v)
                or (op == ">=" and hi < v)
            ):
                return True
        except TypeError:
            continue
    return False


def _validate_filters(filters: Sequence[tuple]) -> None:
    for f in filters:
        if len(f) != 3 or f[1] not in _OPS:
            raise ValueError(f"bad filter {f!r}; want (col, op∈{_OPS}, value)")


def _filter_condition(filters: Sequence[tuple]):
    """The Spark conjunction a (col, op, value) filter list denotes."""
    cond = F.lit(True)
    for col, op, value in filters:
        if op == "in":
            this = F.col(col).isin(*value) if value else F.lit(False)
        else:
            this = {
                "=": F.col(col) == F.lit(value),
                "<": F.col(col) < F.lit(value),
                "<=": F.col(col) <= F.lit(value),
                ">": F.col(col) > F.lit(value),
                ">=": F.col(col) >= F.lit(value),
            }[op]
        cond = cond & this
    return cond


#: distinct keys :func:`read_pruned_by_keys` collects into an IN
#: list; past it the probe degrades to the batch's key range
_MAX_IN_LIST = 50_000

#: attempts :meth:`ParquetTable._retry` makes before a CommitConflict
#: propagates
_COMMIT_ATTEMPTS = 5


def read_pruned_by_keys(
    table: "ParquetTable",
    keys: DataFrame,
    key_col: str,
) -> DataFrame | None:
    """Read ``table`` pruned to the key values present in
    ``keys[key_col]``: a bounded driver IN list when the distinct
    count fits (file-stat skipping), else the batch's FULL key range
    (min/max agg — the truncated sample above would under-cover) so
    two-level pruning still applies; the downstream equi-join is
    correct either way. None when the table has no committed version
    yet — or when the batch carries NO keys at all (review catch: an
    ``in []`` filter prunes every file and then plans every live
    footer through the all-pruned fallback just to return zero rows;
    callers already treat None as nothing-to-probe). ONE definition
    of the probe-the-store-by-batch-keys choreography the MinHash,
    audio, and BM25 folds use (review catch: re-spelled copies are
    the desynchronization hazard the repo keeps re-learning; the
    crawl seen-index keeps its own richer form — interleaved with
    its empty-batch early return and marker columns — documented
    there)."""
    if table.current_version() == 0:
        return None
    touched = [
        r[key_col]
        for r in keys.select(key_col)
        .distinct()
        .limit(_MAX_IN_LIST + 1)
        .collect()
    ]
    if not touched:
        return None
    if len(touched) <= _MAX_IN_LIST:
        filters = [(key_col, "in", touched)]
    else:
        bounds = keys.agg(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).collect()[0]
        filters = [
            (key_col, ">=", bounds["lo"]),
            (key_col, "<=", bounds["hi"]),
        ]
    return table.read(filters=filters)


class CommitConflict(Exception):
    """Another writer committed this version first — reload the
    snapshot and retry."""


class SchemaConflict(Exception):
    """A batch redefines an existing column with a different type —
    additive evolution only."""


def _evolve_schema(old, new):
    """Additive schema evolution: keep every existing column (exact
    type match required), append the batch's new columns in batch
    order. All fields relax to nullable — older files lack newer
    columns, so every evolved column must tolerate null."""
    from pyspark.sql.types import StructField, StructType

    def relax(f):
        return StructField(f.name, f.dataType, True)

    if old is None:
        return StructType([relax(f) for f in new.fields])
    incoming = {f.name: f for f in new.fields}
    out = []
    for f in old.fields:
        nf = incoming.pop(f.name, None)
        if nf is not None and nf.dataType != f.dataType:
            raise SchemaConflict(
                f"column {f.name!r}: table has {f.dataType}, batch has {nf.dataType}"
            )
        out.append(relax(f))
    out.extend(relax(f) for f in new.fields if f.name in incoming)
    return StructType(out)


def _align(df: DataFrame, schema) -> DataFrame:
    """Project a frame onto the table schema, null-filling columns it
    doesn't carry (column-name-based, like the parquet reader)."""
    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _local(path: str) -> str:
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix) :]
    return path


def _bounds_as_stats(bounds: dict) -> dict:
    """A manifest summary's folded bounds shaped like a file-stats
    entry so ``_file_prunable`` can answer 'can ANY file under this
    manifest match' (nulls=0 is conservative: NULL never satisfies a
    comparison, so null presence can only make pruning MORE valid)."""
    return {"stats": {c: {"lo": b["lo"], "hi": b["hi"], "nulls": 0} for c, b in bounds.items()}}


def _fold_bounds(entries: list[dict]) -> dict:
    """Per-column lo/hi across a manifest's file entries; a column is
    folded only when EVERY entry carries comparable bounds for it
    (anything else and the manifest simply isn't prunable on that
    column — correctness never depends on a fold existing)."""
    if not entries:
        return {}
    folded: dict = {}
    first = entries[0].get("stats") or {}
    for col, st in first.items():
        if "lo" not in st:
            continue
        lo, hi = st["lo"], st["hi"]
        tag = lo[0]
        ok = True
        for e in entries[1:]:
            st2 = (e.get("stats") or {}).get(col)
            if st2 is None or "lo" not in st2 or st2["lo"][0] != tag or st2["hi"][0] != tag:
                ok = False
                break
            if _DESER[tag](st2["lo"][1]) < _DESER[tag](lo[1]):
                lo = st2["lo"]
            if _DESER[tag](st2["hi"][1]) > _DESER[tag](hi[1]):
                hi = st2["hi"]
        if ok:
            folded[col] = {"lo": lo, "hi": hi}
    return folded


class ParquetTable:
    """A snapshot-isolated parquet table rooted at ``path``.

    One no-op rule for the three DML writes (:meth:`merge`,
    :meth:`delete_where`, :meth:`update_where`): a write that changes
    no row — a zero-row merge batch, a delete or update whose
    filters no file can match, a replayed ``batch_id`` — commits
    nothing and returns the current version, recording no ledger
    entry. Callers need no emptiness probe of their own. The one
    exception is a zero-row merge into a version-0 table, which
    commits so the table becomes readable (empty, with the batch's
    schema); that commit records no ``batch_id`` either, so the id
    stays free for a later batch that brings rows.

    File skipping has one rule: the manifest's per-file and
    per-manifest min/max bounds, which ``compact(sort_by=...)`` makes
    tight.

    ``manifest_merge_at`` bounds the manifest-list length: a commit
    that would exceed it folds the smallest manifest files into one
    first (Iceberg-style merge-on-commit)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        manifest_merge_at: int = 64,
    ):
        self.spark = spark
        self.path = _local(path)
        self._manifests = os.path.join(self.path, "_manifests")
        self._latest = os.path.join(self.path, "_latest")
        self.manifest_merge_at = manifest_merge_at
        # manifest files are immutable once written → cache by name
        self._mcache: dict[str, list[dict]] = {}
        os.makedirs(os.path.join(self.path, "data"), exist_ok=True)
        os.makedirs(self._manifests, exist_ok=True)

    # -- snapshot resolution ------------------------------------------------

    def current_version(self) -> int:
        """0 = empty table (no commit yet)."""
        try:
            with open(self._latest) as f:
                return int(f.read().strip().lstrip("v"))
        except FileNotFoundError:
            return 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifests, f"v{version:08d}.json")

    def manifest(self, version: int | None = None) -> dict:
        """The MANIFEST LIST of a version: commit metadata plus one
        summary (name, n_files, rows, bytes, folded column bounds)
        per referenced manifest file. O(manifests), never opens
        manifest files."""
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "manifests": [], "batch_id": None}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _manifest_entries(self, name: str) -> list[dict]:
        """File entries of one immutable manifest file (cached)."""
        if name not in self._mcache:
            try:
                with open(os.path.join(self._manifests, name)) as f:
                    self._mcache[name] = json.load(f)["entries"]
            except FileNotFoundError:
                raise ValueError(
                    f"manifest file {name} of {self.path} is missing"
                ) from None
        return self._mcache[name]

    def _write_manifest(self, entries: list[dict]) -> dict:
        """Write an immutable manifest file; return its list summary."""
        name = f"m-{uuid.uuid4().hex}.json"
        with open(os.path.join(self._manifests, name), "w") as f:
            json.dump({"entries": entries}, f)
        self._mcache[name] = entries
        return {
            "path": name,
            "n_files": len(entries),
            "rows": sum(e.get("rows", 0) for e in entries),
            "bytes": sum(e.get("bytes", 0) for e in entries),
            "bounds": _fold_bounds(entries),
        }

    def files(self, version: int | None = None) -> list[dict]:
        """All file entries of a snapshot (opens its manifest files)."""
        out: list[dict] = []
        for s in self.manifest(version)["manifests"]:
            out.extend(self._manifest_entries(s["path"]))
        return out

    def read(
        self,
        version: int | None = None,
        filters: Sequence[tuple] | None = None,
    ) -> DataFrame:
        """Plan against an immutable snapshot (time travel via
        ``version``). The file list is pinned at plan time.

        ``filters`` — optional conjunction of ``(column, op, literal)``
        with op ∈ ``=, <, <=, >, >=, in`` (``in`` takes a collection):
        files whose manifest stats prove no row can match are skipped
        without any file IO, and the same predicates are applied in
        the Spark plan (pruning is an optimization, never a semantics
        change)."""
        m = self.manifest(version)
        if not m["manifests"]:
            raise ValueError(f"table {self.path} is empty at version {m['version']}")
        if filters:
            _validate_filters(filters)
            kept = self.scan_files(m["version"], filters)
            paths = [os.path.join(self.path, p) for p in kept]
            if not paths:
                # every file pruned: full list + predicate yields the
                # same (empty) result; Spark's footer pruning keeps it
                # cheap and we avoid fabricating a schema.
                paths = self._live_files(m["version"])
            df = self._read_paths(paths, m)
            return df.filter(_filter_condition(filters))
        return self._read_paths(self._live_files(m["version"]), m)

    def _read_paths(self, paths: list[str], manifest: dict) -> DataFrame:
        """Scan with the MANIFEST's schema when one is recorded
        (schema evolution: older files simply lack newer columns and
        the reader fills nulls — Iceberg-style metadata-owned schema,
        no mergeSchema footer sweep)."""
        schema_json = manifest.get("schema")
        reader = self.spark.read
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*paths)

    def schema(self, version: int | None = None):
        """The table schema recorded at a version (None for pre-schema
        manifests written by older commits)."""
        schema_json = self.manifest(version).get("schema")
        if schema_json is None:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(schema_json))

    def history(self) -> list[dict]:
        """Commit log, newest first: version, batch_id, manifest/file
        counts, tracked rows/bytes per snapshot — manifest-LIST-only
        (never opens manifest files, never touches data)."""
        out = []
        for v in range(self.current_version(), 0, -1):
            m = self.manifest(v)
            ms = m["manifests"]
            out.append(
                {
                    "version": v,
                    "parent": m.get("parent"),
                    "batch_id": m.get("batch_id"),
                    "maintenance": bool(m.get("maintenance")),
                    "n_manifests": len(ms),
                    "n_files": sum(s["n_files"] for s in ms),
                    "rows": sum(s["rows"] for s in ms),
                    "bytes": sum(s["bytes"] for s in ms),
                }
            )
        return out

    def _file_meta(self, version: int) -> dict[str, dict]:
        """path → stats entry for the snapshot's tracked files."""
        return {e["path"]: e for e in self.files(version)}

    def scan_files(self, version: int | None, filters: Sequence[tuple]) -> list[str]:
        """Relative paths surviving stats pruning. Two levels: a
        manifest whose folded bounds prove no contained file matches
        is skipped WITHOUT opening it (list-only pruning); surviving
        manifests prune per file entry. Files without recorded stats
        are always kept."""
        v = self.current_version() if version is None else version
        kept = []
        for s in self.manifest(v)["manifests"]:
            bounds = s.get("bounds") or {}
            if bounds and _file_prunable(_bounds_as_stats(bounds), filters):
                continue
            for e in self._manifest_entries(s["path"]):
                if not _file_prunable(e, filters):
                    kept.append(e["path"])
        return kept

    # -- commit protocol ----------------------------------------------------

    def _write_data_dir(self, df: DataFrame) -> str:
        rel = os.path.join("data", uuid.uuid4().hex)
        df.write.parquet(os.path.join(self.path, rel))
        return rel

    def _stats_for_dir(self, rel_dir: str) -> list[dict]:
        """Harvest per-file stats from the parquet footers of a
        just-written data dir (driver-side here; a cluster deployment
        collects the same footer digests on executors at write time,
        exactly as Iceberg writers report DataFile stats)."""
        import pyarrow.parquet as pq

        out = []
        root = os.path.join(self.path, rel_dir)
        for name in sorted(os.listdir(root)):
            if not (name.startswith("part-") and name.endswith(".parquet")):
                continue
            full = os.path.join(root, name)
            entry: dict = {
                "path": os.path.join(rel_dir, name),
                "bytes": os.path.getsize(full),
            }
            try:
                md = pq.ParquetFile(full).metadata
                entry["rows"] = md.num_rows
                # col → {nulls, lo, hi} with NATIVE values (one physical
                # type per column, so min/max compose across row groups);
                # None marks a column whose bounds are unusable.
                cols: dict[str, dict | None] = {}
                for rg in range(md.num_row_groups):
                    group = md.row_group(rg)
                    for ci in range(group.num_columns):
                        col = group.column(ci)
                        cname = col.path_in_schema
                        if "." in cname:  # nested: no file-level bound
                            continue
                        if cname in cols and cols[cname] is None:
                            continue
                        st = col.statistics
                        if st is None or st.null_count is None:
                            cols[cname] = None
                            continue
                        acc = cols.setdefault(cname, {"nulls": 0})
                        acc["nulls"] += st.null_count
                        if st.has_min_max:
                            if _ser_bound(st.min) is None or _ser_bound(st.max) is None:
                                cols[cname] = None  # unsupported type
                                continue
                            acc["lo"] = (
                                st.min if "lo" not in acc else min(acc["lo"], st.min)
                            )
                            acc["hi"] = (
                                st.max if "hi" not in acc else max(acc["hi"], st.max)
                            )
                        elif st.null_count != group.num_rows:
                            # non-null values with no bounds: incomplete
                            cols[cname] = None
                stats = {}
                for cname, acc in cols.items():
                    if acc is None:
                        continue
                    if "lo" in acc:
                        stats[cname] = {
                            "lo": _ser_bound(acc["lo"]),
                            "hi": _ser_bound(acc["hi"]),
                            "nulls": acc["nulls"],
                        }
                    elif acc["nulls"] == md.num_rows and md.num_rows > 0:
                        stats[cname] = {"allnull": True}
                if stats:
                    entry["stats"] = stats
            except Exception:
                # Stats are an optimization; a file we can't digest is
                # simply never pruned.
                pass
            out.append(entry)
        return out

    def _merge_manifests(self, manifests: list[dict]) -> list[dict]:
        """Fold the smallest manifest files into one when the list
        outgrows ``manifest_merge_at`` — log-structured merge keeping
        the list O(limit) while amortizing rewrite cost (a manifest is
        re-folded only every ~limit/2 commits). A racing loser's
        merged manifest file is an orphan, same as its data dir —
        invisible and harmless."""
        limit = self.manifest_merge_at
        if limit is None or len(manifests) <= limit:
            return list(manifests)
        pos = {s["path"]: i for i, s in enumerate(manifests)}
        by_size = sorted(manifests, key=lambda s: (s["n_files"], pos[s["path"]]))
        n_fold = len(manifests) - limit // 2
        fold = {s["path"] for s in by_size[:n_fold]}
        merged_entries: list[dict] = []
        kept = []
        for s in manifests:
            if s["path"] in fold:
                merged_entries.extend(self._manifest_entries(s["path"]))
            else:
                kept.append(s)
        return kept + [self._write_manifest(merged_entries)]

    def _commit(
        self,
        manifests: list[dict],
        batch_id: int | None,
        parent: int,
        schema: str | None = None,
        maintenance: bool = False,
    ) -> int:
        version = parent + 1
        manifest = {
            "version": version,
            "parent": parent,
            "manifests": self._merge_manifests(manifests),
            "batch_id": batch_id,
        }
        if maintenance:
            # a commit carrying NO new data — compaction's row-
            # identical layout rewrite, or rewrite()'s semantic-
            # preserving re-aggregation: the replay guard walks PAST
            # these, and only these
            manifest["maintenance"] = True
        if schema:
            manifest["schema"] = schema
        target = self._manifest_path(version)
        try:
            # O_EXCL: exactly one writer wins version N+1
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} of {self.path} already committed"
            ) from exc
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        # atomic pointer swap — readers see old or new, never partial
        tmp = f"{self._latest}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(f"v{version}")
        os.replace(tmp, self._latest)
        return version

    def _already_applied(self, batch_id: int | None, parent: int) -> bool:
        """True when ``batch_id`` matches the most recent DATA commit
        — commits MARKED as maintenance (compaction's row-identical
        layout rewrites, :meth:`rewrite`'s semantic-preserving
        re-aggregations) are walked past, not just the immediate
        parent. foreachBatch only ever re-delivers the last batch,
        but a handler may compact between that batch's commit and the
        retry's check (or the retry itself compacts first); the guard
        must see through those or the retry double-applies the batch.
        Any DATA commit — batched or plain — stops the walk, so
        unbatched appends shield exactly as they did under the old
        parent-only guard, and the walk is bounded by the run of
        consecutive compaction commits. ``.get`` everywhere: legacy
        manifests predate both fields."""
        if batch_id is None:
            return False
        v = parent
        while v > 0:
            m = self.manifest(v)
            if not m.get("maintenance"):
                return m.get("batch_id") == batch_id
            v -= 1
        return False

    def applied(self, batch_id: int | None) -> bool:
        """Public replay probe: has ``batch_id`` already committed as
        this table's most recent data batch? Lets a multi-table fold
        skip recomputing an already-applied micro-batch up front
        (every write method still re-checks under its own commit, so
        this is an optimization, never the correctness gate)."""
        return self._already_applied(batch_id, self.current_version())

    def _evolved(self, parent: int, df: DataFrame):
        """(schema_json, StructType) after additively evolving the
        parent schema with the batch's. Legacy tables whose manifests
        never recorded a schema stay schema-less."""
        old = self.schema(parent) if parent else None
        if parent > 0 and old is None:
            return None, None
        evolved = _evolve_schema(old, df.schema)
        return json.dumps(evolved.jsonValue()), evolved

    def append(self, df: DataFrame, batch_id: int | None = None) -> int:
        """Add rows as a new immutable data dir (no rewrite). A batch
        may carry new columns (appended to the table schema) or omit
        existing ones (reads null-fill); redefining a column's type
        raises SchemaConflict."""
        parent = self.current_version()
        if self._already_applied(batch_id, parent):
            return parent
        df = prepare_for_load(df)
        schema_json, _ = self._evolved(parent, df)
        rel = self._write_data_dir(df)
        # O(batch) metadata: one new manifest file; the parent's
        # manifests carry by reference in the new list.
        summary = self._write_manifest(self._stats_for_dir(rel))
        return self._commit(
            self.manifest(parent)["manifests"] + [summary],
            batch_id, parent, schema=schema_json,
        )

    def overwrite(self, df: DataFrame, batch_id: int | None = None) -> int:
        """Replace the table contents as a new snapshot (full-rewrite
        commit; prior versions stay readable until vacuum). The new
        frame defines the table schema outright — no old files remain
        to evolve against."""
        parent = self.current_version()
        if self._already_applied(batch_id, parent):
            return parent
        df = prepare_for_load(df)
        schema_json = json.dumps(_evolve_schema(None, df.schema).jsonValue())
        rel = self._write_data_dir(df)
        return self._commit(
            [self._write_manifest(self._stats_for_dir(rel))],
            batch_id, parent, schema=schema_json,
        )

    def rewrite(self, df: DataFrame) -> int:
        """MAINTENANCE rewrite: replace the table contents with a
        frame the CALLER derived from the current snapshot —
        committed maintenance-marked, so the replay guard
        (:meth:`_already_applied`) walks past it to the last DATA
        batch_id exactly as it does for :meth:`compact`. Unlike
        compact the ROWS may change; the caller asserts semantic
        equivalence under the table's read path (the canonical use:
        pre-aggregating redundant additive partial rows — e.g. the
        streaming chunk-hash index's per-batch count partials — where
        the summed row reads identically to the partials it folds).

        Why this must NOT be :meth:`overwrite`: an overwrite is a
        DATA commit (batch_id None) that STOPS the replay-guard walk,
        so a foreachBatch retry arriving after the rewrite would
        re-apply its batch — exactly-once breaks. Maintenance marking
        keeps the last real batch_id visible through the rewrite.

        Single-writer: derive ``df`` from ``current_version()`` with
        no concurrent folds in flight — a racing commit loses to
        O_EXCL (CommitConflict), but the conflict protects the
        version chain, not the caller's derivation."""
        parent = self.current_version()
        df = prepare_for_load(df)
        schema_json = json.dumps(
            _evolve_schema(None, df.schema).jsonValue()
        )
        rel = self._write_data_dir(df)
        return self._commit(
            [self._write_manifest(self._stats_for_dir(rel))],
            None, parent, schema=schema_json, maintenance=True,
        )

    def _rewrite_pruned(
        self,
        parent: int,
        filters: Sequence[tuple] | None,
        rewrite: Callable[[DataFrame], DataFrame],
        batch_id: int | None,
        schema: str | None,
        insert: DataFrame | None = None,
    ) -> int:
        """The pruned rewrite-and-commit the three DML writes share.
        A parent manifest whose folded bounds prove no row can match
        ``filters`` carries into the new list verbatim (never
        opened); an intersecting manifest is opened and only its
        intersecting FILES are read, the rest re-listed by reference
        (``filters`` None prunes nothing). ``rewrite`` maps the
        touched files' rows to the rows replacing them. With no file
        touched, ``insert`` is written instead, or, when it is None,
        nothing commits and the parent version is returned. A version-0
        bootstrap whose written files hold no row commits without
        ``batch_id``, so the id stays free for the batch that brings
        rows."""
        m = self.manifest(parent)
        carried: list[dict] = []  # whole manifests, never opened
        untouched: list[dict] = []  # entries from opened manifests
        touched: list[str] = []  # file paths entering the rewrite
        for s in m["manifests"]:
            mb = s.get("bounds") or {}
            if filters and mb and _file_prunable(_bounds_as_stats(mb), filters):
                carried.append(s)
                continue
            for e in self._manifest_entries(s["path"]):
                if filters and _file_prunable(e, filters):
                    untouched.append(e)
                else:
                    touched.append(e["path"])
        if touched:
            out = rewrite(
                self._read_paths([os.path.join(self.path, p) for p in touched], m)
            )
        elif insert is not None:
            out = insert
        else:
            return parent  # no file can hold a matching row: no-op
        rel = self._write_data_dir(out)
        if untouched:
            carried.append(self._write_manifest(untouched))
        written = self._stats_for_dir(rel)
        if parent == 0 and all(e.get("rows") == 0 for e in written):
            batch_id = None  # empty bootstrap: no ledger entry
        carried.append(self._write_manifest(written))
        return self._commit(carried, batch_id, parent, schema=schema)

    def merge(
        self,
        batch: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[str],
        batch_id: int | None = None,
    ) -> int:
        """Keyed MERGE (upsert): anti-join + union against the pinned
        snapshot, rewritten into a fresh data dir. The snapshot's own
        files are never touched — concurrent readers keep their
        version; a crash mid-rewrite leaves the table on the parent
        manifest.

        Two-level pruning against the batch's key range: a parent
        MANIFEST whose folded ``keys[0]`` bounds are disjoint carries
        into the new list verbatim — never even opened; an
        intersecting manifest is opened and only its intersecting
        FILES are read into the rewrite, the rest re-listed by
        reference. Null-key target rows can never match an equi-join
        key, so all-null-key files are always safe to carry. Cost per
        merge is O(touched + batch) in both data AND metadata — at
        100 TB with a range-compacted layout (``compact(
        sort_by=keys)``) a point-keyed micro-batch touches a handful
        of files under a handful of manifests.

        A zero-row batch commits nothing and returns the current
        version: no files, no manifest and no ``batch_id`` ledger
        entry, so a later non-empty batch reusing the id still
        applies. The row count rides the key-bounds aggregation, so
        the rule costs no extra Spark job. Exception: at version 0 a
        zero-row batch still commits, which bootstraps a readable,
        empty table with the batch's schema. That commit carries no
        ``batch_id`` (the written files' footer counts say it holds no
        row), so a later non-empty batch reusing the id still
        applies."""
        parent = self.current_version()
        if self._already_applied(batch_id, parent):
            return parent
        batch = prepare_for_load(batch)
        key_filters = None
        if parent > 0:
            # Bounds of the batch BEFORE dedup: dedup keeps at least one
            # row per key, so the count's sign and the key range are the
            # same, and this job skips the dedup window's shuffle.
            bounds = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(keys[0]).alias("lo"),
                F.max(keys[0]).alias("hi"),
            ).collect()[0]
            if bounds["n"] == 0:
                return parent  # empty batch: nothing commits
            if bounds["lo"] is not None:
                key_filters = [
                    (keys[0], ">=", bounds["lo"]),
                    (keys[0], "<=", bounds["hi"]),
                ]
        batch = dedup_latest(batch, keys, order_by)
        schema_json, evolved = self._evolved(parent, batch)
        if evolved is not None:
            batch = _align(batch, evolved)

        def upsert(target: DataFrame) -> DataFrame:
            if evolved is not None:
                target = _align(target, evolved)
            return merge_upsert(target, batch, keys)

        return self._rewrite_pruned(
            parent, key_filters, upsert, batch_id, schema_json, insert=batch
        )

    def _retry(self, write: Callable[[], int]) -> int:
        """Optimistic-concurrency loop: a loser of the version race
        re-reads the NEW snapshot and retries (its failed attempt wrote
        nothing visible), so an out-of-band maintenance commit
        (compaction) cannot kill a streaming caller. Bounded attempts —
        a hot table needs a coordinator, not unbounded spinning."""
        for attempt in range(_COMMIT_ATTEMPTS):
            try:
                return write()
            except CommitConflict:
                if attempt == _COMMIT_ATTEMPTS - 1:
                    raise
        raise AssertionError("unreachable")

    def merge_with_retry(
        self,
        batch: DataFrame,
        keys: Sequence[str],
        order_by: Sequence[str],
        batch_id: int | None = None,
    ) -> int:
        """:meth:`merge` under the :meth:`_retry` loop."""
        return self._retry(lambda: self.merge(batch, keys, order_by, batch_id=batch_id))

    def delete_where_with_retry(
        self, filters: Sequence[tuple], batch_id: int | None = None
    ) -> int:
        """:meth:`delete_where` under the :meth:`_retry` loop."""
        return self._retry(lambda: self.delete_where(filters, batch_id=batch_id))

    def delete_where(
        self, filters: Sequence[tuple], batch_id: int | None = None
    ) -> int:
        """SQL ``DELETE WHERE <conjunction>`` as a new snapshot (the
        GDPR-purge / retention-policy op): rows where EVERY filter
        holds are removed; rows where the condition is NULL (a null in
        a compared column) are KEPT — SQL DELETE semantics.

        Same two-level pruning as ``merge``: a manifest whose folded
        bounds prove no contained row can match carries into the new
        list verbatim (never opened); an intersecting manifest opens
        and only its intersecting FILES are rewritten, the rest
        re-listed by reference. A delete that provably touches nothing
        commits nothing and returns the current version. Old
        snapshots keep the rows until ``vacuum`` — physical erasure =
        delete_where + vacuum, exactly Delta's contract."""
        _validate_filters(filters)
        parent = self.current_version()
        if self._already_applied(batch_id, parent):
            return parent
        # keep rows where the condition is FALSE or NULL
        keep = ~F.coalesce(_filter_condition(filters), F.lit(False))
        return self._rewrite_pruned(
            parent, filters, lambda target: target.filter(keep), batch_id,
            self.manifest(parent).get("schema"),
        )

    def update_where(
        self,
        filters: Sequence[tuple],
        assignments: dict,
        batch_id: int | None = None,
    ) -> int:
        """SQL ``UPDATE SET col = value WHERE <conjunction>`` as a new
        snapshot — completes the DML trio (merge = keyed upsert,
        delete_where, update_where). ``assignments`` maps existing
        column names to literals or pyspark Columns; each assignment
        casts to the column's recorded type so the table schema never
        drifts through an update. Rows where the condition is FALSE or
        NULL are untouched; same two-level manifest pruning and no-op
        detection as ``delete_where``; byte-identical semantics for
        the change feed (updated rows show both images under keyed
        CDF, untouched rewritten rows are suppressed)."""
        _validate_filters(filters)
        parent = self.current_version()
        if self._already_applied(batch_id, parent):
            return parent
        schema = self.schema(parent)
        if schema is not None:
            known = {f.name: f.dataType for f in schema.fields}
            for c in assignments:
                if c not in known:
                    raise ValueError(
                        f"update_where: unknown column {c!r}; table has {sorted(known)}"
                    )
        cond = F.coalesce(_filter_condition(filters), F.lit(False))

        def updated(target: DataFrame) -> DataFrame:
            for c, v in assignments.items():
                expr = v if hasattr(v, "cast") else F.lit(v)
                if schema is not None:
                    expr = expr.cast(known[c])
                target = target.withColumn(c, F.when(cond, expr).otherwise(F.col(c)))
            return target

        return self._rewrite_pruned(
            parent, filters, updated, batch_id, self.manifest(parent).get("schema")
        )

    # -- change data feed ---------------------------------------------------

    def _diff_files(self, from_version: int, to_version: int) -> tuple[list[str], list[str]]:
        """(added, removed) relative file paths between two snapshots.
        Only manifests in the SYMMETRIC DIFFERENCE of the two manifest
        lists are opened: a file lives in exactly one manifest per
        version (commits write new files into fresh manifests; merges
        and manifest folds rewrite references, never duplicate them),
        so a manifest common to both lists contributes identical files
        to both sides and can't produce a diff. CDF metadata cost
        scales with what the commits touched, never the table."""
        old_ms = [] if from_version == 0 else self.manifest(from_version)["manifests"]
        new_ms = self.manifest(to_version)["manifests"]
        old_names = {s["path"] for s in old_ms}
        new_names = {s["path"] for s in new_ms}
        old = {
            e["path"]
            for s in old_ms
            if s["path"] not in new_names
            for e in self._manifest_entries(s["path"])
        }
        new = {
            e["path"]
            for s in new_ms
            if s["path"] not in old_names
            for e in self._manifest_entries(s["path"])
        }
        return sorted(new - old), sorted(old - new)

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        keys: Sequence[str] | None = None,
    ) -> DataFrame:
        """Row-level change feed between two snapshots, with a
        ``_change_type`` column (Delta CDF surface).

        Without ``keys``: rows of files added since ``from_version``
        tagged ``insert`` and rows of files removed tagged ``delete``
        (a rewritten-but-identical row shows as delete+insert).

        With ``keys`` (a keyed MERGE table): key-level semantics —
        ``insert`` (new key), ``update_preimage`` + ``update_postimage``
        (key in both, non-key columns differ; both row images emit, so
        a downstream aggregate can subtract the old contribution and
        add the new one), ``delete`` (key gone). Rows rewritten
        byte-identically by compaction or an untouched-range rewrite
        are suppressed, so compaction produces an EMPTY change feed.

        The keyed feed is ONE full outer join of the two sides on
        ``keys``: each side is projected to its keys, its row and a
        fingerprint of its non-key columns, and every joined row emits
        the images its presence and fingerprints call for (none for a
        byte-identical rewrite), so each side is scanned once.

        PRECONDITION for keyed semantics: the table is key-unique
        (built via ``merge``, which dedups). On an append-built table
        with duplicate keys the join produces cross-products and
        inflated update images — use the unkeyed feed there.

        Schema guard: both diff sides read with the NEWER manifest's
        schema, which is only sound for additive evolution. A
        non-additive change between the versions (``overwrite``
        redefining a column's type or dropping a column) raises a
        descriptive error instead of failing mid-scan or silently
        nulling preimage values.

        Only the manifest-diff files are scanned; at 100 TB an
        incremental consumer pays for the day's commits, never the
        table."""
        vt = self.current_version() if to_version is None else to_version
        if not self.manifest(vt)["manifests"]:
            raise ValueError(
                f"change feed of {self.path} needs a committed target version "
                f"(v{vt} is the empty table — there is no schema to describe "
                "changes against)"
            )
        old_schema, new_schema = self.schema(from_version), self.schema(vt)
        if old_schema is not None and new_schema is not None:
            new_fields = {f.name: f.dataType for f in new_schema.fields}
            for f in old_schema.fields:
                if f.name not in new_fields:
                    raise ValueError(
                        f"change feed v{from_version}→v{vt} crosses a non-additive "
                        f"schema change: column {f.name!r} was dropped (an overwrite "
                        "redefines the schema outright); consume the feed up to the "
                        "overwrite, then treat it as a full rebuild"
                    )
                if new_fields[f.name] != f.dataType:
                    raise ValueError(
                        f"change feed v{from_version}→v{vt} crosses a non-additive "
                        f"schema change: column {f.name!r} was {f.dataType}, now "
                        f"{new_fields[f.name]}; consume the feed up to the change, "
                        "then treat it as a full rebuild"
                    )
        added, removed = self._diff_files(from_version, vt)
        gone = [p for p in removed if not os.path.exists(os.path.join(self.path, p))]
        if gone:
            raise ValueError(
                f"change feed from v{from_version} unavailable: "
                f"{len(gone)} source file(s) vacuumed (e.g. {gone[0]})"
            )

        # Both sides read with the NEWER manifest's schema (evolution
        # is additive, so vt's schema covers vf's files; old files
        # null-fill the newer columns and the keyed diff still aligns).
        mt = self.manifest(vt)

        def _read(paths: list[str]) -> DataFrame | None:
            if not paths:
                return None
            return self._read_paths(
                [os.path.join(self.path, p) for p in paths], mt
            )

        df_add, df_rem = _read(added), _read(removed)
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        if df_add is None and df_rem is None:
            return tag(self.read(vt).limit(0), "insert")
        if keys is None:
            parts = [tag(d, t) for d, t in ((df_add, "insert"), (df_rem, "delete")) if d is not None]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        keys = list(keys)
        if df_add is None:
            return tag(df_rem, "delete")
        if df_rem is None:
            return tag(df_add, "insert")
        cols = df_add.columns
        value_cols = [c for c in cols if c not in keys]

        def side(df: DataFrame, name: str) -> DataFrame:
            # explicit-null JSON: injective over the fixed schema (a
            # null and any real value can never serialize identically)
            fp = F.xxhash64(
                F.to_json(F.struct(*value_cols), {"ignoreNullFields": "false"})
            )
            return df.select(*keys, F.struct(*cols).alias(name), fp.alias(f"{name}_fp"))

        # One full outer join on the keys: a side is absent exactly
        # when its fingerprint (never null) is null.
        j = side(df_add, "_new").join(side(df_rem, "_old"), keys, "full_outer")
        has_new, has_old = F.col("_new_fp").isNotNull(), F.col("_old_fp").isNotNull()
        updated = has_new & has_old & (F.col("_new_fp") != F.col("_old_fp"))

        def image(name: str, label: str, when: Column) -> Column:
            row = F.col(name)
            return F.when(
                when,
                F.struct(*[row[c].alias(c) for c in cols], F.lit(label).alias("_change_type")),
            )

        events = F.array(
            image("_new", "insert", has_new & ~has_old),
            image("_new", "update_postimage", updated),
            image("_old", "update_preimage", updated),
            image("_old", "delete", has_old & ~has_new),
        )
        return j.select(F.inline(F.filter(events, lambda e: e.isNotNull())))

    # -- maintenance --------------------------------------------------------

    def _live_files(self, version: int) -> list[str]:
        """Absolute paths of the parquet files a snapshot references —
        straight from its manifest files, no directory listing ever
        (at 100 TB object-store listing is the scaling killer this
        format exists to avoid)."""
        return [os.path.join(self.path, e["path"]) for e in self.files(version)]

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: Sequence[str] | None = None,
        min_files: int = 2,
    ) -> int:
        """Rewrite the live file set into ~``target_file_bytes`` files
        as a NEW snapshot — same rows, better layout. This is the
        maintenance op every streaming sink needs: per-micro-batch
        appends accumulate thousands of small files, and at 100 TB an
        uncompacted table pays per-file open cost and loses column-
        chunk compression on every scan.

        - Row-identical by construction (a pure repartition of the
          pinned snapshot), so it commits with no ``batch_id``.
        - ``sort_by`` additionally range-sorts files on those columns
          (repartitionByRange + sortWithinPartitions), so parquet
          min/max footers AND manifest stats become selective —
          readers with predicates on the sort key skip whole files.
        - Without it, the rewrite uses ``coalesce`` — no shuffle,
          just fewer, larger files.
        - Concurrency: the commit targets ``parent+1``; a racing
          append/merge wins or loses atomically (CommitConflict — the
          compaction retries against the new snapshot; data is never
          at risk because losers write nothing visible).
        - Old small files stay readable for time travel until
          ``vacuum`` — compaction never deletes.

        Returns the committed version (``parent`` unchanged when the
        table is already compact)."""
        parent = self.current_version()
        entries = self.files(parent)
        if len(entries) < min_files:
            return parent
        total = sum(e.get("bytes", 0) for e in entries)
        n = max(1, -(-total // target_file_bytes))  # ceil
        if n >= len(entries) and sort_by is None:
            return parent  # already at-or-below target granularity
        df = self.read(parent)
        if sort_by:
            cols = list(sort_by)
            df = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        else:
            df = df.coalesce(n)
        rel = self._write_data_dir(df)
        return self._commit(
            [self._write_manifest(self._stats_for_dir(rel))], None, parent,
            schema=self.manifest(parent).get("schema"), maintenance=True,
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data dirs unreferenced by the newest ``keep_versions``
        snapshots (bounds time travel; run well behind active readers
        — same contract as Delta VACUUM). Manifest JSONs are kept:
        they are tiny and ``changes``/``history`` still use them to
        produce clear 'source files vacuumed' errors instead of
        broken reads. Returns removed dirs."""
        latest = self.current_version()
        keep = range(max(1, latest - keep_versions + 1), latest + 1)
        # Entries are individual files; the containing data dir stays
        # referenced (vacuum reclaims whole dirs, conservatively).
        referenced = set()
        for v in keep:
            for e in self.files(v):
                parts = e["path"].split(os.sep)
                referenced.add(os.path.join(parts[0], parts[1]))
        removed = []
        data_root = os.path.join(self.path, "data")
        for name in os.listdir(data_root):
            rel = os.path.join("data", name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(data_root, name), ignore_errors=True)
                removed.append(rel)
        return removed
