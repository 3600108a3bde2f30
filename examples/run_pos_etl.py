"""End-to-end demo: the reference pipeline's daily run, Spark-native.

What the reference does with Drive + pandas + Supabase + a stored
procedure (ref /root/reference/main.py), this script does with a
landing dir + one Catalyst plan + a keyed parquet-table MERGE + native
star resolution:

    python examples/run_pos_etl.py [workdir]

1. POS exports land as CSV (stand-in for the Drive folder).
2. Streaming ETL (AvailableNow) drains the folder exactly-once:
   kernel transform → validation split → MERGE into the fact and
   quarantine ``ParquetTable``s (a re-sent order upserts, the
   reference's ``ON CONFLICT`` contract).
3. Star-schema ELT resolves dimensions (the RPC, natively).
4. Dashboard KPIs run over the result.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.star import (
    pos_dims_from_fact,
    resolve_star,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.pos_fixture import raw_pos_df
from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark
from amante_s_supabase_full_cloud_etl_pipeline_spark.sources.table_format import ParquetTable
from amante_s_supabase_full_cloud_etl_pipeline_spark.streaming.pipeline import (
    run_pos_pipeline_transactional,
    write_landing_csv,
)


def main(workdir: str) -> None:
    spark = get_spark("pos-etl-demo")
    dirs = {k: os.path.join(workdir, k) for k in ("landing", "fact", "quarantine", "ckpt")}
    os.makedirs(dirs["landing"], exist_ok=True)

    # 1. a POS export arrives
    write_landing_csv(raw_pos_df(spark), dirs["landing"], "pos_export_day1")

    # 2. drain the folder exactly-once
    fact_t = ParquetTable(spark, dirs["fact"])
    quarantine_t = ParquetTable(spark, dirs["quarantine"])
    q = run_pos_pipeline_transactional(
        spark, dirs["landing"], fact_t, quarantine_t, dirs["ckpt"]
    )
    q.awaitTermination(120)
    fact = fact_t.read()
    quarantine = quarantine_t.read()
    print(f"fact rows: {fact.count()}, quarantined: {quarantine.count()}")

    # 3. ELT finish: resolve the star schema (the stored procedure, natively)
    resolved, dim_miss = resolve_star(fact, pos_dims_from_fact(fact))
    print(f"final fact rows: {resolved.count()}, dim misses: {dim_miss.count()}")

    # 4. dashboard
    print("--- net sales by category ---")
    fact.groupBy("category").agg(
        F.round(F.sum(F.col("total_order_amount") * F.col("quantity")), 2).alias("sales"),
        F.count(F.lit(1)).alias("items"),
    ).orderBy(F.desc("sales")).show(truncate=False)
    print("--- payment mix ---")
    fact.groupBy("payment_type").count().orderBy(F.desc("count")).show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="pos_etl_"))
