"""Landing-directory ingestion (SURVEY.md S1-S4).

The reference pulls .xlsx files from a Google Drive folder
(ref main.py:419-440); the engine standardizes on a landing
directory of CSV/JSON/Parquet (object storage at scale) with:

- explicit schema + PERMISSIVE corrupt-record capture (S4's
  per-file try/except skip, done per-row instead — bad rows land in
  ``_corrupt_record`` rather than silently dropping whole files),
- existence-tolerant projection (P5, ref main.py:380-382) for
  drifting export formats,
- an xlsx→CSV shim for true Excel drops backed by a pure-stdlib
  xlsx reader (sources.xlsx) — works with or without openpyxl;
  unreadable files are skipped per-file (S4), never kill the batch.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..plans.pos_kernel import RAW_COLUMNS


def read_landing_csv(
    spark: SparkSession,
    path: str,
    schema: str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-first CSV scan with permissive corrupt-record capture."""
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def tolerant_select(df: DataFrame, wanted: tuple[str, ...] = RAW_COLUMNS) -> DataFrame:
    """P5: project only the expected columns that actually exist."""
    have = set(df.columns)
    return df.select(*[c for c in wanted if c in have])


def xlsx_to_landing_csv(
    xlsx_path: str,
    landing_dir: str,
    sheet_name: str = "Paid order list",
) -> Optional[str]:
    """S3: convert one Excel drop (sheet ``'Paid order list'``, ref
    main.py:98) to a landing CSV using the pure-stdlib xlsx reader
    (sources.xlsx) — no openpyxl required. Unreadable files return
    None (S4 per-file skip semantics, ref main.py try/except: a bad
    export must not kill the batch)."""
    from .xlsx import xlsx_sheet_to_csv

    out = os.path.join(
        landing_dir, os.path.splitext(os.path.basename(xlsx_path))[0] + ".csv"
    )
    try:
        return xlsx_sheet_to_csv(xlsx_path, out, sheet_name)
    except Exception:
        # S4 semantics: unreadable file / missing sheet → skip
        # (caller logs), don't kill the batch.
        return None
