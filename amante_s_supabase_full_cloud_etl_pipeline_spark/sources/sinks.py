"""Keyed upsert sinks (SURVEY.md S5/S6 — the reference's Supabase
``upsert`` calls, ref main.py:50,85).

- :func:`jdbc_upsert_writer` — a ``foreachBatch`` body issuing
  batched ``INSERT ... ON CONFLICT (keys) DO UPDATE`` against
  PostgreSQL, one DBAPI connection per non-empty partition. The
  connection factory is injectable (contract-tested with a fake
  DBAPI); the default factory needs psycopg2 and fails FAST on the
  driver when it is absent — never silently per-partition.
- :func:`prepare_for_load` — the load-time hygiene the reference
  applies before writing: sanitized column names (P2, ref main.py:30)
  and NaN/Inf scrubbed to null (F16, ref main.py:41-45). The JDBC
  sink and :mod:`.table_format` both apply it.

Parquet upserts are :meth:`.table_format.ParquetTable.merge`: a
snapshot-isolated MERGE commit, idempotent per ``batch_id``.

Scale notes (100 TB): the JDBC path opens one connection per
partition and skips empty partitions, so a 1000-executor job with
mostly-empty shuffle partitions does not stampede the database; batch
size bounds per-roundtrip memory.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

from ..functions.cleaning import sanitize_columns, scrub_doubles


def prepare_for_load(df: DataFrame) -> DataFrame:
    """P2 + F16: sink-side column sanitize and NaN/Inf scrub."""
    return scrub_doubles(sanitize_columns(df))


# --------------------------------------------------------------------------
# JDBC / PostgreSQL upsert sink
# --------------------------------------------------------------------------


def upsert_conflict_sql(
    table: str,
    columns: Sequence[str],
    keys: Sequence[str],
    placeholder: str = "%s",
) -> str:
    """The ON CONFLICT statement the JDBC sink executes per batch —
    pure string construction (tested without a database). Default
    placeholder is DBAPI ``pyformat``/psycopg2 style; pass ``"?"``
    for qmark drivers."""
    cols = ", ".join(columns)
    params = ", ".join([placeholder] * len(columns))
    key_cols = ", ".join(keys)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in keys)
    return (
        f"INSERT INTO {table} ({cols}) VALUES ({params}) "
        f"ON CONFLICT ({key_cols}) DO UPDATE SET {updates}"
    )


def upsert_partition(
    rows,
    sql: str,
    columns: Sequence[str],
    connection_factory: Callable[[], object],
    batch_size: int = 500,
) -> int:
    """Execute the keyed upsert for one partition's rows over a DBAPI
    connection. Returns the number of rows written.

    Contract (tested with a fake DBAPI in tests/test_sinks.py):
    - empty partitions open NO connection (a wide shuffle at cluster
      scale has many empty partitions — don't stampede the database);
    - rows are sent via ``executemany`` in ``batch_size`` chunks;
    - one commit per partition on success, rollback + re-raise on
      failure (the upsert is idempotent under ON CONFLICT, so Spark's
      task retry replays safely);
    - the connection is always closed.
    """
    it = iter(rows)
    first = list(itertools.islice(it, batch_size))
    if not first:
        return 0
    conn = connection_factory()
    written = 0
    try:
        cur = conn.cursor()
        chunk = first
        while chunk:
            cur.executemany(sql, [tuple(r[c] for c in columns) for r in chunk])
            written += len(chunk)
            chunk = list(itertools.islice(it, batch_size))
        conn.commit()
    except Exception:
        try:
            conn.rollback()
        finally:
            conn.close()
        raise
    conn.close()
    return written


class Psycopg2Factory:
    """Picklable connection factory for the default PostgreSQL path.

    Instantiation (driver-side) fails fast with NotImplementedError
    when psycopg2 is absent, so a misconfigured job dies before any
    partition work — the gate is loud, never a silent no-op.
    """

    def __init__(self, url: str, properties: dict[str, str] | None = None):
        try:
            import psycopg2  # noqa: F401
        except ImportError as exc:  # pragma: no cover - driver present in prod
            raise NotImplementedError(
                "jdbc_upsert_writer needs psycopg2 (or an injected "
                "connection_factory); not present in this environment"
            ) from exc
        self.dsn = self._jdbc_to_dsn(url, properties or {})

    @staticmethod
    def _jdbc_to_dsn(url: str, properties: dict[str, str]) -> str:
        # jdbc:postgresql://host:port/db  ->  postgresql://host:port/db
        dsn = url[len("jdbc:") :] if url.startswith("jdbc:") else url
        user = properties.get("user")
        password = properties.get("password")
        if user and "://" in dsn and "@" not in dsn:
            scheme, rest = dsn.split("://", 1)
            auth = f"{user}:{password}@" if password else f"{user}@"
            dsn = f"{scheme}://{auth}{rest}"
        return dsn

    def __call__(self):  # pragma: no cover - needs live DB
        import psycopg2

        return psycopg2.connect(self.dsn)


def jdbc_upsert_writer(
    url: str,
    table: str,
    keys: Sequence[str],
    properties: dict[str, str] | None = None,
    connection_factory: Callable[[], object] | None = None,
    batch_size: int = 500,
    placeholder: str = "%s",
):
    """Returns a ``foreachBatch`` handler performing the keyed upsert
    into PostgreSQL (ref main.py:50,85 ``upsert``): one DBAPI
    connection per non-empty partition, batched ``executemany`` of
    ``INSERT ... ON CONFLICT DO UPDATE``.

    ``connection_factory`` must be picklable (it ships to executors);
    when omitted, a psycopg2 factory is built ON THE DRIVER at handler
    invocation, raising NotImplementedError immediately if the driver
    library is missing. ``placeholder`` follows the driver's DBAPI
    paramstyle: ``%s`` for psycopg2 (default), ``?`` for qmark drivers
    (DuckDB/SQLite — used by the embedded integration tests).
    """

    def handle(batch: DataFrame, batch_id: int) -> None:
        prepared = prepare_for_load(batch)
        columns = list(prepared.columns)
        sql = upsert_conflict_sql(table, columns, keys, placeholder=placeholder)
        factory = connection_factory or Psycopg2Factory(url, properties)

        def write_partition(rows) -> None:
            upsert_partition(rows, sql, columns, factory, batch_size)

        prepared.foreachPartition(write_partition)

    return handle
