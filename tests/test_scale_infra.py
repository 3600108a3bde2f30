"""Scale-infrastructure proofs on local data: bucketed co-located
joins eliminate the shuffle, date-partitioned fact writes prune
partitions — the physical-layout levers the engine is designed
around for 100 TB (SURVEY.md §7 step 8)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key join WITHOUT an Exchange —
    the co-located join layout big fact-fact joins need at scale."""
    li = catalog.table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    o = catalog.table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    try:
        joined = spark.table("li_b").join(
            spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        # sanity: result is right
        assert joined.count() == spark.table("li_b").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_partitioned_fact_write_prunes(spark, sf_dir, tmp_path):
    """Fact written partitioned by a date column: a slicer predicate
    reads only matching partitions (PartitionFilters in the scan)."""
    o = catalog.table(spark, sf_dir, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "fact_by_month")
    o.write.partitionBy("order_month").parquet(path)

    fact = spark.read.parquet(path).filter(F.col("order_month") == "1997-03")
    plan = fact._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "1997-03" in plan  # the filter reached partition pruning
    got = fact.count()
    want = o.filter(F.col("order_month") == "1997-03").count()
    assert got == want > 0


# ---------------------------------------------------------------------------
# Plan-shape regression locks for the perf-audited registry queries:
# each assertion pins a physical property that keeps the query viable
# at 100 TB; a regression (new shuffle, lost pushdown, global window,
# fact-side broadcast) fails here before it costs anything.
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _registry_plan(spark, sf_dir, name) -> str:
    from amante_s_supabase_full_cloud_etl_pipeline_spark import registry

    registry.load_all_queries()
    return _plan(registry.QUERIES[name](spark, sf_dir))


def test_bigram_topk_plan_has_no_global_window(spark, sf_dir):
    """Top-k must be TakeOrderedAndProject (per-partition heaps), not
    a single-partition window over all distinct bigrams."""
    plan = _registry_plan(spark, sf_dir, "text_bigram_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_star_net_sales_broadcasts_only_dims(spark, sf_dir):
    """nation/region broadcast; orders/customer joins stay AQE-chosen
    (no explicit fact broadcast that would OOM the driver at scale).
    At toy SF AQE may broadcast them — assert the LOGICAL hints only
    mark the two dims."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.dashboard import (
        star_net_sales_by_region,
    )

    optimized = (
        star_net_sales_by_region(spark, sf_dir)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    # exactly two user hints: the two dim tables
    assert optimized.count("UnresolvedHint broadcast") + optimized.count(
        "ResolvedHint (strategy=broadcast)"
    ) == 2, optimized[:3000]


def test_part_joins_carry_no_broadcast_hint(spark, sf_dir):
    """``part`` scales with SF (20B rows at 100 TB), so the
    lineitem-part joins must leave the strategy to AQE — no explicit
    broadcast hint anywhere in either plan. The only hint in
    a10_a11 is the 1-row share-of-total scalar (one per leg)."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.dashboard import (
        a10_a11_share_of_total,
        topk_parts_per_type,
    )

    def hints(df):
        s = df._jdf.queryExecution().analyzed().toString()
        return s.count("UnresolvedHint broadcast") + s.count(
            "ResolvedHint (strategy=broadcast)"
        )

    assert hints(topk_parts_per_type(spark, sf_dir)) == 0
    assert hints(a10_a11_share_of_total(spark, sf_dir)) == 2  # the two scalars


def test_validation_routing_scans_fact_once(spark, sf_dir):
    """Single-scan two-way split: one parquet scan feeds both routes
    of the lineitem leg (the POS leg is a local-relation fixture)."""
    plan = _registry_plan(spark, sf_dir, "validation_routing")
    assert plan.count("FileScan parquet") == 1, plan[:3000]


def test_a9_time_buckets_single_scan_grouping_sets(spark, sf_dir):
    """A9 + F19 via GROUPING SETS: one events scan + Expand, not two
    separate group-bys over the fact."""
    plan = _registry_plan(spark, sf_dir, "a9_time_bucket_sets")
    assert plan.count("FileScan parquet") == 1, plan[:3000]
    assert "Expand" in plan


def test_pack_chunks_window_is_shard_partitioned(spark, sf_dir):
    """The packing running-sum must be a shard-partitioned window
    (parallel across shards) and the base-offset join a broadcast of
    the n_shards-row dim — never a global-order window over the
    corpus."""
    plan = _registry_plan(spark, sf_dir, "pack_sequence_chunks")
    assert "windowspecdefinition(shard" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_decontamination_broadcasts_eval_side(spark, sf_dir):
    """The eval-shingle probe must be a broadcast semi-join (eval
    benchmarks are tiny next to a 100 TB corpus) — never a shuffle of
    corpus shingles against the eval set."""
    plan = _registry_plan(spark, sf_dir, "decontaminate_eval_overlap")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_headline_kpis_single_scan_two_level_agg(spark, sf_dir):
    """A4-A7 in one plan: one fact scan, per-order partial agg then
    scalar agg — not four separate scans."""
    plan = _registry_plan(spark, sf_dir, "a4_a7_headline_kpis")
    assert plan.count("FileScan parquet") == 1, plan[:3000]


def test_order_mix_grouping_sets_single_scan(spark, sf_dir):
    """A8+A12 via GROUPING SETS: one scan + Expand for both mixes
    (not two group-bys); the labeled A13 slicer leg adds exactly one
    more scan (its own filtered aggregation), never a third."""
    plan = _registry_plan(spark, sf_dir, "a8_a12_order_mix")
    assert plan.count("FileScan parquet") == 2, plan[:3000]
    assert "Expand" in plan


def test_quality_band_filter_pushed_to_scan(spark, sf_dir):
    """The n_chars-independent part of the band filter cannot push (it
    is an expression over text), but column pruning must hold: the
    scan reads only the referenced columns."""
    plan = _registry_plan(spark, sf_dir, "text_quality_band")
    import re

    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    read = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    cols = {c.split(":")[0] for c in read.group(1).split(",")} if read else set()
    assert cols <= {"doc_id", "lang", "text"}, scan


def test_sliced_monthly_predicates_pushed(spark, sf_dir):
    """A13's slicer predicates reach the parquet scan as data filters
    (at scale: partition pruning on a date-partitioned fact). The
    query now ships as the a13 leg of a8_a12_order_mix; the
    standalone plan shape is locked via the module function."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.plans.dashboard import (
        a13_sliced_monthly_sales,
    )

    plan = _plan(a13_sliced_monthly_sales(spark, sf_dir))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters: [IsNotNull(o_orderdate)" in scan or "PushedFilters: [" in scan


def test_chunk_documents_plan_is_map_only(spark, sf_dir):
    """The RAG chunker must stay a pure scan stage: no Exchange, no
    window, no join anywhere in the physical plan."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        chunk_documents,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    plan = (
        chunk_documents(docs)._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("Exchange", "Window", "Join", "Sort"):
        assert node not in plan, (node, plan[:2000])


def test_line_dedup_plan_has_no_corpus_wide_partition(spark, sf_dir):
    """dedup_lines windows per line-fingerprint (tiny partitions) and
    never creates a 'No Partition Defined' global window; blanks stay
    out of the window path entirely."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup import (
        dedup_lines,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    plan = dedup_lines(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "hashpartitioning(fp" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_gopher_filter_is_a_single_map_side_predicate(spark, sf_dir):
    """The Gopher band filter composes into the scan stage: filtering
    the corpus adds no Exchange and no extra scan."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text import (
        gopher_filter,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    plan = (
        docs.filter(gopher_filter(F.col("text")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("FileScan parquet") == 1 or plan.count("Scan parquet") == 1


def test_a10_a11_total_legs_reuse_the_aggregation_exchange(spark, sf_dir):
    """Each share-of-total branch computes its denominator FROM the
    grouped result, so at runtime AQE must reuse the branch's
    aggregation shuffle for the total leg instead of re-scanning the
    fact — the static plan (PLANS.md pre-execution section) cannot
    show this; only the final adaptive plan can, so execute first."""
    import contextlib
    import io

    from amante_s_supabase_full_cloud_etl_pipeline_spark import registry

    registry.load_all_queries()
    df = registry.QUERIES["a10_a11_share_of_total"](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2, (
        "total legs must reuse the per-branch aggregation exchanges"
    )


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """The date-partitioned fact layout must get runtime partition
    pruning when joined to a filtered dimension: the dim filter's
    values aren't known at plan time, so only DPP (a runtime subquery
    feeding the partition filter) keeps the scan from reading all
    partitions — the join-side sibling of the static pruning test
    above, and the main scan saver for star joins at 100 TB."""
    fact = spark.range(50_000).select(
        F.col("id"),
        (F.col("id") % 30).cast("int").alias("day"),
        (F.col("id") % 1000).alias("amount"),
    )
    fact.write.partitionBy("day").mode("overwrite").parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(d, "hot" if d < 3 else "cold") for d in range(30)], "day int, label string"
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    j = f.join(dim.filter(F.col("label") == "hot"), "day").agg(
        F.sum("amount").alias("s")
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "DPP subquery missing from the scan"
    # and the answer is right: only days 0-2 contribute
    expect = (
        f.filter(F.col("day") < 3).agg(F.sum("amount")).first()[0]
    )
    assert j.first()["s"] == expect


def test_brute_force_ann_has_no_per_query_window(spark, sf_dir):
    """Brute-force top-k must rank via the two-phase grouped_topk
    (partial per-partition top-k, then a bounded final fold) — a
    `row_number() OVER (PARTITION BY query_id)` would route the whole
    scored corpus into |queries| partitions, one straggler sort task
    per query at 100 TB. Locks VERDICT r3 "What's wrong #2"."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.similarity_queries import (
        knn_bruteforce_cosine,
    )

    plan = _plan(knn_bruteforce_cosine(spark, sf_dir))
    assert "Window" not in plan, plan[:3000]
    # two-phase fold: a partial collect_list keyed by (query, partition)
    # then a final fold + posexplode back to ranked rows
    assert plan.count("collect_list") >= 2, plan[:3000]
    assert "posexplode" in plan, plan[:3000]
    # the probe side is still broadcast into the corpus scan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_catalog_schema_cache_sees_in_place_rewrite(spark, tmp_path):
    """A table directory rewritten in place with an extra column is
    re-inferred, not served from the stale cached schema."""
    path = str(tmp_path / "orders.parquet")
    spark.range(3).selectExpr("id AS o_orderkey").write.parquet(path)
    assert catalog.table(spark, str(tmp_path), "orders").columns == ["o_orderkey"]
    spark.range(3).selectExpr("id AS o_orderkey", "id * 2 AS o_extra").write.mode(
        "overwrite"
    ).parquet(path)
    got = catalog.table(spark, str(tmp_path), "orders")
    assert got.columns == ["o_orderkey", "o_extra"]
    assert sorted(r["o_extra"] for r in got.collect()) == [0, 2, 4]


def test_codegen_cache_keeps_a_plan_compiled_across_many_others(spark):
    """The session's codegen cache outlives Spark's default 100 classes:
    a query rerun after 120 other classes were compiled (one union of 60
    distinct projections, two classes each) is served from the cache
    and compiles nothing."""
    from functools import reduce

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def first():
        spark.range(10).select((F.col("id") * 7).alias("x")).where("x > 3").collect()

    first()
    reduce(
        DataFrame.union,
        [spark.range(0, 1, 1, 1).select((F.col("id") + F.lit(i)).alias("x")) for i in range(60)],
    ).collect()
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    first()
    assert compiles.METRIC_COMPILATION_TIME().getCount() == before
