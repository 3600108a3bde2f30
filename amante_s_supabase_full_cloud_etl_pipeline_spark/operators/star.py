"""Star-schema ELT: staging → dimension-resolved final fact (SURVEY.md
S7/J2/S8).

The reference delegates this to an opaque PostgreSQL stored procedure
(``update_final_fact_sales``, ref main.py:479; behavior per
README.md:91: "map the staging data against Dimension tables and
insert the final integers"). Here it is a native Spark plan:

1. Dimensions get stable integer surrogate keys derived from their
   natural key (hash-based — deterministic and parallel; a sequence
   would serialize on the driver).
2. The staging fact swaps each text attribute for its surrogate key:
   a dim whose rows are already on the driver (the POS dims, up to a
   row bound) by a literal-map lookup, any other dim by a broadcast
   join.
3. Rows with unmatched dimension keys (README.md:119 "missing
   dimension data") route to quarantine — the ELT-stage half of the
   two-stage quarantine story (the kernel-stage half is
   operators.validate).

At 100 TB: dims stay broadcast-sized; the fact never shuffles for
key resolution. The final fact would be written partitioned by date
(payment_time) so dashboard slicers partition-prune.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

#: the POS star's dimension attributes — the five the reference's
#: Supabase schema normalizes
POS_DIM_ATTRS = ("items", "sub_category", "category", "payment_type", "order_type")

#: most distinct (attribute, value) pairs :func:`pos_dims_from_fact`
#: collects to the driver. A literal map is probed linearly per row,
#: so the bound also caps the cost of each lookup; a fact with more
#: distinct values gets lazy dims that :func:`resolve_star` joins.
POS_DIM_MAX_ROWS = 1024

_INTEGRAL = (ByteType(), ShortType(), IntegerType(), LongType())

#: the (natural key, surrogate key) rows of dims already collected to
#: the driver by :func:`pos_dims_from_fact`, keyed weakly by the
#: (immutable) dim frame, so an entry lives exactly as long as its dim
_ON_DRIVER: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def surrogate_key(natural_key: Column) -> Column:
    """Deterministic 64-bit surrogate from a natural key.

    xxhash64 is stable across runs/executors — no driver-side
    sequence bottleneck and no shuffle; collision odds at dimension
    cardinalities (≤ millions) are negligible."""
    return F.xxhash64(natural_key)


def build_dim(df: DataFrame, natural_key: str, key_name: str) -> DataFrame:
    """Distinct natural keys + surrogate key column."""
    return (
        df.select(natural_key)
        .where(F.col(natural_key).isNotNull())
        .distinct()
        .withColumn(key_name, surrogate_key(F.col(natural_key)))
    )


def _sql_literal(value, dtype: DataType) -> str:
    """``value`` as a SQL literal of ``dtype`` (string or integral); a
    string goes as hex UTF-8 bytes, so no quoting or escaping rule of
    the parser applies."""
    if dtype == StringType():
        return f"CAST(X'{value.encode('utf-8').hex()}' AS STRING)"
    return f"CAST({int(value)}L AS {dtype.simpleString()})"


def _map_lookup(staging_types: dict, dim: DataFrame, attr: str) -> Column | None:
    """``attr``'s surrogate key as a lookup in a literal map of the
    dim's driver rows, or None when the dim must be joined: its rows
    are not on the driver, its columns are not exactly ``(attr,
    attr_key)``, a natural key repeats (a join would multiply rows),
    or a key type is not one the map compares exactly as the join
    does (string or integral, the natural key typed as in staging)."""
    rows = _ON_DRIVER.get(dim)
    key_col = f"{attr}_key"
    if rows is None or dim.columns != [attr, key_col]:
        return None
    nat, sur = dim.schema[attr].dataType, dim.schema[key_col].dataType
    if (
        nat != staging_types.get(attr)
        or not (nat == StringType() or nat in _INTEGRAL)
        or sur not in _INTEGRAL
    ):
        return None
    # a null natural key never matches a join, so it needs no entry
    entries = [(v, k) for v, k in rows if v is not None]
    if len({v for v, _ in entries}) < len(entries) or any(k is None for _, k in entries):
        return None
    if not entries:
        return F.lit(None).cast(sur)
    pairs = ", ".join(f"{_sql_literal(v, nat)}, {_sql_literal(k, sur)}" for v, k in entries)
    return F.try_element_at(F.expr(f"map({pairs})"), F.col(attr))


def resolve_star(
    staging: DataFrame,
    dims: dict[str, DataFrame],
) -> tuple[DataFrame, DataFrame]:
    """J2: replace each text attribute with its dimension surrogate key.

    ``dims`` maps attribute column name → dim DataFrame with columns
    ``(attr, attr_key)``. Returns ``(resolved, quarantine)`` where
    quarantine rows failed at least one dimension lookup.

    A dim whose rows :func:`pos_dims_from_fact` collected resolves by
    ``try_element_at`` on a literal map, so it costs no broadcast job;
    see :func:`_map_lookup` for when it is joined
    instead. Both paths give the same rows in the same column order.
    """
    types = {f.name: f.dataType for f in staging.schema.fields}
    out = staging
    miss = F.lit(False)
    for attr, dim in dims.items():
        key_col = f"{attr}_key"
        lookup = _map_lookup(types, dim, attr)
        if lookup is None:
            out = out.join(F.broadcast(dim), attr, "left")
        else:
            # the join's column order: the join key first, the dim's last
            rest = [c for c in out.columns if c != attr]
            out = out.select(attr, *rest, lookup.alias(key_col))
        miss = miss | (F.col(attr).isNotNull() & F.col(key_col).isNull())
    out = out.withColumn("_dim_miss", miss)
    resolved = out.filter(~F.col("_dim_miss")).drop("_dim_miss")
    quarantine = out.filter(F.col("_dim_miss")).drop("_dim_miss")
    # Final fact keeps surrogate keys + measures, drops resolved text.
    resolved = resolved.drop(*dims.keys())
    return resolved, quarantine


def pos_dims_from_fact(fact: DataFrame) -> dict[str, DataFrame]:
    """Build the POS star's dimensions (:data:`POS_DIM_ATTRS`) from the
    cleaned fact columns.

    Eager and bounded: one job scans the fact once, takes the distinct
    ``(attribute, value)`` pairs of all five attributes with each
    value's surrogate key, and collects at most
    :data:`POS_DIM_MAX_ROWS` pairs. Each dim is the lazy
    :func:`build_dim` frame of the same fact, with its collected rows
    recorded in ``_ON_DRIVER``, so :func:`resolve_star` looks them
    up without a join. Above the bound, or when an attribute is not a
    string, nothing is recorded and :func:`resolve_star` joins the
    dims."""
    dims = {attr: build_dim(fact, attr, f"{attr}_key") for attr in POS_DIM_ATTRS}
    if any(fact.schema[a].dataType != StringType() for a in POS_DIM_ATTRS):
        return dims
    pairs = F.inline(
        F.array(
            *[F.struct(F.lit(a).alias("attr"), F.col(a).alias("value")) for a in POS_DIM_ATTRS]
        )
    )
    rows = (
        fact.select(pairs)
        .where(F.col("value").isNotNull())
        .distinct()
        .withColumn("key", surrogate_key(F.col("value")))
        .limit(POS_DIM_MAX_ROWS + 1)
        .collect()
    )
    if len(rows) > POS_DIM_MAX_ROWS:
        return dims
    by_attr: dict[str, list[tuple]] = {a: [] for a in POS_DIM_ATTRS}
    for r in rows:
        by_attr[r["attr"]].append((r["value"], r["key"]))
    for a, dim in dims.items():
        _ON_DRIVER[dim] = by_attr[a]
    return dims
