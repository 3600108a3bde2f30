"""Pathological-corpus stress for the dedup / connected-components
path (VERDICT r2 #4): a boilerplate sentence in 50% of documents and a
hub document paired with 10^4 others must stay line-speed and
bounded-partition, absorbed by the document-frequency skew cap
(operators/dedup.py) and star contraction (operators/components.py)."""

from __future__ import annotations

import time

from pyspark.sql import Window
from pyspark.sql import functions as F

BOILER = "all rights reserved contact us cookie policy terms of service apply"


def _boiler_corpus(spark, n):
    """Even doc_ids open with the same boilerplate sentence (50% of the
    corpus shares its shingles/line); every doc also carries unique
    content and a blank line."""
    uniq = F.format_string(
        "unique%d marker%d token%d filler%d closing%d",
        *([F.col("id")] * 5),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit(BOILER + "\n\n")).otherwise(F.lit("")),
            uniq,
        ).alias("text"),
    )


def test_hot_shingle_skew_cap_keeps_jaccard_join_bounded(spark):
    """8k docs, 4k sharing one sentence. Uncapped, that sentence's
    shingles each fan the inverted-index self-join out to 4k^2 = 16M
    candidate rows PER SHINGLE; the document-frequency cap drops them
    at the posting stage, so the join sees only singleton lists."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        shingle_table,
    )

    n = 8_000
    docs = _boiler_corpus(spark, n)
    t0 = time.monotonic()
    got = jaccard_pairs(docs, threshold=0.5, max_bucket=1000).count()
    elapsed = time.monotonic() - t0
    # boilerplate shingles are capped out; unique filler never pairs
    assert got == 0
    assert elapsed < 60, f"skew-capped Jaccard took {elapsed:.1f}s on the hot corpus"
    # structural bound: after the cap no surviving posting list (= join
    # key group = partition contribution) exceeds max_bucket
    sh = shingle_table(docs, 3)
    post = sh.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("_df") <= 1000)
    max_df = post.groupBy("shingle").count().agg(F.max("count")).first()[0]
    assert max_df is not None and max_df <= 1000
    print(f"\n[skew-stress] jaccard hot-shingle: {elapsed:.1f}s, max posting {max_df}")


def test_boilerplate_line_in_half_the_corpus(spark):
    """Line-level dedup on the same corpus: the hot line's fingerprint
    group is one window partition of size n/2 — bounded by the
    DUPLICATION COUNT, never the corpus (blanks are excluded from the
    window, so there is no corpus-sized null partition); the C4
    frequency rule removes every copy via an aggregate."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup import (
        dedup_lines,
        drop_boilerplate_lines,
        line_table,
    )

    n = 6_000
    docs = _boiler_corpus(spark, n)
    t0 = time.monotonic()
    kept_first = dedup_lines(docs)
    removed = kept_first.agg(F.sum("n_lines_removed")).first()[0]
    elapsed = time.monotonic() - t0
    assert removed == n // 2 - 1  # every copy but the first occurrence
    assert kept_first.count() == n
    assert elapsed < 60, f"line dedup took {elapsed:.1f}s on the hot corpus"

    # shuffle-partition boundedness: hash-partitioned on fp, the
    # hottest partition holds the boiler group (n/2) plus its 1/32
    # share of singleton lines — never a corpus-sized mega-partition
    content = line_table(docs).filter(F.col("fp").isNotNull())
    total = content.count()
    hottest = (
        content.repartition(32, "fp")
        .withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert hottest <= n // 2 + total // 8, (hottest, total)

    boiler_gone = drop_boilerplate_lines(docs, min_docs=3)
    assert boiler_gone.agg(F.sum("n_lines_removed")).first()[0] == n // 2
    assert boiler_gone.filter(F.col("text").contains(BOILER.split()[0])).count() == 0
    print(f"\n[skew-stress] line dedup: {elapsed:.1f}s, hottest partition {hottest}/{total}")


def test_hub_document_component_converges_in_constant_rounds(spark):
    """One hub paired with 10^4 documents (the near-dup graph a single
    template page produces). Star contraction must converge in a
    handful of rounds with no hub-adjacency array ever materialized —
    label propagation would also be fine here (diameter 2), but the
    SAME bound must hold composed with long chains, so assert the
    round count, not just wall time."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.components import (
        _components_with_rounds,
    )

    n = 10_000
    pairs = spark.range(1, n + 1).select(
        F.lit(0).cast("long").alias("id_a"), F.col("id").alias("id_b")
    )
    t0 = time.monotonic()
    labels, rounds = _components_with_rounds(pairs)
    comp = labels.groupBy("component").count().collect()
    elapsed = time.monotonic() - t0
    assert len(comp) == 1 and comp[0]["component"] == 0 and comp[0]["count"] == n + 1
    assert rounds <= 5, f"hub graph took {rounds} contraction rounds"
    assert elapsed < 90, f"hub CC took {elapsed:.1f}s"
    print(f"\n[skew-stress] hub CC: {rounds} rounds, {elapsed:.1f}s")
