"""Unit tests for the corpus-curation operators added in round 2:
benchmark decontamination, semantic dedup survivors, and
source-mixture weights (operators/decontam.py + query wrappers)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.decontam import (
    contamination_overlap,
    drop_contaminated,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_flags_planted_overlap(spark):
    """A corpus doc that strictly contains an eval doc's text must be
    flagged; an unrelated doc must not appear at all."""
    eval_docs = _docs(spark, [(100, "the quick brown fox jumps over the lazy dog")])
    corpus = _docs(
        spark,
        [
            # full containment of the eval shingles + a little extra
            (1, "prefix words the quick brown fox jumps over the lazy dog suffix"),
            # zero shingle overlap
            (2, "completely different content about spark physical plans"),
            # partial overlap below the 0.5 containment threshold
            (3, "the quick brown fox went home early tonight yes indeed it did"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in contamination_overlap(corpus, eval_docs, k=3, threshold=0.5).collect()
    }
    assert 2 not in got  # no hits → never leaves the map side
    assert got[1]["contaminated"] is True
    assert got[1]["n_hit"] == 7  # all 7 eval 3-grams present
    assert got[3]["contaminated"] is False
    assert 0.0 < got[3]["overlap_frac"] < 0.5


def test_drop_contaminated_removes_only_flagged(spark):
    eval_docs = _docs(spark, [(100, "one two three four five")])
    corpus = _docs(
        spark,
        [(1, "one two three four five and more"), (2, "unrelated text entirely here now")],
    )
    kept = drop_contaminated(corpus, eval_docs, k=3, threshold=0.5)
    assert [r.doc_id for r in kept.collect()] == [2]


def test_contamination_is_containment_not_jaccard(spark):
    """A tiny doc fully covered by a huge eval set must reach
    overlap 1.0 even though Jaccard would be near zero."""
    eval_docs = _docs(spark, [(100, " ".join(f"w{i}" for i in range(200)))])
    corpus = _docs(spark, [(1, "w0 w1 w2 w3")])  # 2 shingles, both in eval
    row = contamination_overlap(corpus, eval_docs, k=3).collect()[0]
    assert row["overlap_frac"] == 1.0 and row["contaminated"] is True


def test_semantic_dedup_survivor_counts_consistent(spark, sf_dir):
    """n_kept + n_dropped == n_vectors per label, survivors keep the
    min-id member of every near-dup component, and totals match the
    embeddings table."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.dedup_queries import (
        semantic_dedup_survivors,
    )

    rows = semantic_dedup_survivors(spark, sf_dir).collect()
    assert all(r.n_kept + r.n_dropped == r.n_vectors for r in rows)
    total = catalog.table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == total
    assert sum(r.n_dropped for r in rows) > 0  # planted near-dups exist


def test_source_mixture_weights_properties(spark, sf_dir):
    """Shares and weights each sum to 1; temperature 0.5 flattens the
    mixture (max weight ≤ max share, min weight ≥ min share)."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text_queries import (
        source_mixture_weights,
    )

    rows = source_mixture_weights(spark, sf_dir).collect()
    shares = [r.token_share for r in rows]
    weights = [r.sample_weight_t05 for r in rows]
    assert math.isclose(sum(shares), 1.0, abs_tol=1e-9)
    assert math.isclose(sum(weights), 1.0, abs_tol=1e-4)  # per-row rounding to 1e-6
    assert max(weights) <= max(shares) + 1e-9
    assert min(weights) >= min(shares) - 1e-9


def test_pack_chunk_spans_is_a_partition_of_the_stream(spark, sf_dir):
    """Chunk spans tile the concatenated stream exactly: spans are
    disjoint, contiguous within shards, and total span length equals
    total tokens."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        pack_chunk_spans,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    rows = pack_chunk_spans(docs, context_len=128, n_shards=4).collect()
    assert len(rows) == docs.count()
    total_tokens = sum(r.n_tokens for r in rows)
    # offsets 0..total-1 are covered exactly once
    spans = sorted((r.tok_offset, r.tok_offset + r.n_tokens) for r in rows if r.n_tokens)
    cursor = 0
    for start, end in spans:
        assert start == cursor
        cursor = end
    assert cursor == total_tokens
    for r in rows:
        if r.n_tokens:
            assert r.first_chunk == r.tok_offset // 128
            assert r.last_chunk == (r.tok_offset + r.n_tokens - 1) // 128
            assert r.chunks_spanned == r.last_chunk - r.first_chunk + 1
        else:
            assert r.chunks_spanned == 0 and r.first_chunk is None


def test_pack_greedy_matches_python_reference_and_capacity(spark, sf_dir):
    """The Arrow next-fit kernel reproduces a sequential pure-Python
    reference per shard, and no pack exceeds capacity unless it holds
    a single oversized document."""
    import hashlib
    from collections import defaultdict

    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        pack_greedy_no_split,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.text import tokens

    from pyspark.sql import functions as F

    CAP, SHARDS = 512, 4
    docs = catalog.table(spark, sf_dir, "documents")
    got = pack_greedy_no_split(docs, capacity=CAP, n_shards=SHARDS).collect()

    # sequential reference
    toks = {
        r.doc_id: r.n
        for r in docs.select("doc_id", F.size(tokens(F.col("text"))).alias("n")).collect()
    }
    by_shard = defaultdict(list)
    for doc_id, n in toks.items():
        key = hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()
        by_shard[doc_id % SHARDS].append((key, doc_id, n))
    expect = {}
    for shard, items in by_shard.items():
        acc, seq = 0, 0
        for _, doc_id, n in sorted(items):
            if acc > 0 and acc + n > CAP:
                seq, acc = seq + 1, 0
            expect[doc_id] = seq
            acc += n
    assert {r.doc_id: r.pack_seq for r in got} == expect

    pack_tot = defaultdict(lambda: [0, 0])
    for r in got:
        pack_tot[(r.shard, r.pack_seq)][0] += r.n_tokens
        pack_tot[(r.shard, r.pack_seq)][1] += 1
    for (shard, seq), (tot, n_docs) in pack_tot.items():
        assert tot <= CAP or n_docs == 1, (shard, seq, tot, n_docs)


def test_pack_chunk_spans_partition_independent(spark, sf_dir):
    """Chunk assignment is a pure function of the data — identical
    under any input partitioning (the property that makes the packing
    reproducible on a 1000-executor cluster)."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        pack_chunk_spans,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    base = sorted(map(tuple, pack_chunk_spans(docs, 256, 8).collect()))
    for n_parts in (1, 7):
        again = sorted(map(tuple, pack_chunk_spans(docs.repartition(n_parts), 256, 8).collect()))
        assert again == base, f"packing changed under repartition({n_parts})"


def test_greedy_pack_partition_independent(spark, sf_dir):
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        pack_greedy_no_split,
    )

    docs = catalog.table(spark, sf_dir, "documents")
    base = sorted(map(tuple, pack_greedy_no_split(docs, 512, 4).collect()))
    again = sorted(map(tuple, pack_greedy_no_split(docs.repartition(3), 512, 4).collect()))
    assert again == base


def test_contamination_partition_independent(spark, sf_dir):
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.decontam import (
        contamination_overlap,
    )
    from pyspark.sql import functions as F

    docs = catalog.table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 37 == 0
    base = sorted(
        map(tuple, contamination_overlap(docs.filter(~is_eval), docs.filter(is_eval)).collect())
    )
    shuffled = docs.repartition(5)
    again = sorted(
        map(
            tuple,
            contamination_overlap(
                shuffled.filter(~is_eval), shuffled.filter(is_eval)
            ).collect(),
        )
    )
    assert again == base


# -- overlapping document chunking (RAG indexing prep) ---------------------


def _py_chunks(text, chunk, overlap):
    toks = text.split()
    stride = chunk - overlap
    n = len(toks)
    n_chunks = max(1, -(-(n - chunk) // stride) + 1) if n > chunk else 1
    out = []
    for i in range(n_chunks):
        s = i * stride
        out.append((i, n_chunks, s, " ".join(toks[s : s + chunk])))
    return out


def test_chunk_documents_matches_reference_and_covers(spark, sf_dir):
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        chunk_documents,
    )

    docs = catalog.table(spark, sf_dir, "documents").limit(60)
    chunk, overlap = 24, 8
    got = {}
    for r in chunk_documents(docs, chunk, overlap).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunks"], r["tok_start"], r["chunk_text"])
        )
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(got) == set(rows)
    for doc_id, text in rows.items():
        assert sorted(got[doc_id]) == _py_chunks(text, chunk, overlap)
    # coverage invariant: stitching non-overlapping tails rebuilds the
    # token stream exactly
    for doc_id, text in rows.items():
        toks = text.split()
        rebuilt = []
        for idx, _nc, start, ctext in sorted(got[doc_id]):
            ctoks = ctext.split() if ctext else []
            rebuilt.extend(ctoks if idx == 0 else ctoks[overlap:] if len(ctoks) > overlap else ctoks[len(rebuilt) - start:])
        assert rebuilt == toks, doc_id


def test_chunk_documents_edges(spark):
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, " ".join(f"t{i}" for i in range(10)))],
        "doc_id int, text string",
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunks"], r["tok_start"], r["chunk_text"])
        for r in chunk_documents(docs, chunk_tokens=4, overlap_tokens=1).collect()
    }
    assert got[(1, 0)] == (1, 0, "a b c")  # fits one window
    assert got[(2, 0)] == (1, 0, "")  # empty doc yields one empty chunk
    # 10 tokens, window 4, stride 3 -> starts 0,3,6 with last covering 6..9
    assert got[(3, 0)][2] == "t0 t1 t2 t3"
    assert got[(3, 1)][2] == "t3 t4 t5 t6"
    assert got[(3, 2)][2] == "t6 t7 t8 t9"
    assert got[(3, 2)][0] == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap_tokens=4)


def test_assemble_context_chunks_reconstructs_global_stream(spark, sf_dir):
    """The dataloader-side twin of pack_chunk_spans: assembling every
    chunk and concatenating them in chunk order must reproduce the
    EXACT concatenated global token stream, with every chunk full
    except the last."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        assemble_context_chunks,
        pack_chunk_spans,
    )

    docs = catalog.table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 300
    ).select("doc_id", "text")
    L = 256
    spans = pack_chunk_spans(docs, context_len=L, n_shards=8)
    # synthetic per-doc token ids: doc_id * 10^6 + position — unique
    # across the corpus, so stream equality is an exact identity check
    with_ids = spans.withColumn(
        "input_ids",
        F.transform(
            F.sequence(F.lit(0), F.col("n_tokens") - 1),
            lambda i: F.col("doc_id") * 1_000_000 + i,
        ),
    ).filter(F.col("n_tokens") > 0)
    chunks = assemble_context_chunks(with_ids, context_len=L).collect()

    total = sum(r["n_tokens"] for r in with_ids.select("n_tokens").collect())
    # chunk ids are dense 0..ceil(total/L)-1; all full except the last
    assert [r["chunk_id"] for r in chunks] == list(range((total + L - 1) // L))
    sizes = [r["n_chunk_tokens"] for r in chunks]
    assert all(s == L for s in sizes[:-1])
    assert sizes[-1] == total - L * (len(sizes) - 1)

    # exact reconstruction: chunk-order concatenation == the stream
    # implied by (tok_offset, input_ids) ordering
    stream = []
    for r in chunks:
        stream.extend(r["token_ids"])
    want = []
    for r in sorted(
        with_ids.select("tok_offset", "input_ids").collect(),
        key=lambda r: r["tok_offset"],
    ):
        want.extend(r["input_ids"])
    assert stream == want


def test_assemble_chunks_single_doc_spanning_many_chunks(spark):
    """One long doc crossing several chunk boundaries slices exactly."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.packing import (
        assemble_context_chunks,
    )

    row = spark.createDataFrame(
        [(1, 10, 3, 0, 2)],
        "doc_id long, n_tokens long, tok_offset long, first_chunk long, last_chunk long",
    ).withColumn(
        "input_ids",
        F.transform(F.sequence(F.lit(0), F.lit(9)), lambda i: i + 100),
    )
    got = {r["chunk_id"]: r["token_ids"] for r in
           assemble_context_chunks(row, context_len=5).collect()}
    # stream positions 3..12 → chunk0 holds pos 3,4 → ids 100,101;
    # chunk1 pos 5..9 → 102..106; chunk2 pos 10..12 → 107,108,109
    assert got == {0: [100, 101], 1: [102, 103, 104, 105, 106], 2: [107, 108, 109]}
