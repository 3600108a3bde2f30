"""Link-graph extraction + distributed PageRank: href collection and
RFC 3986 resolution rules, then the join-based damped power iteration
pinned against an INDEPENDENT dense-matrix reference (textbook
Google-matrix formulation — different code shape entirely), plus
closed-form graphs, dangling handling, and convergence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.extraction import (
    extract_links,
    extract_links_record,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
    pagerank,
)


def _dense_pagerank(edge_list, alpha, iters):
    """Independent reference: build the dense Google matrix and
    power-iterate. Parallel edges collapse, self-loops drop, dangling
    columns become uniform — the published formulation, not the
    join-based fold under test."""
    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for src, dst in set(edge_list):
        if src != dst:
            a[idx[dst], idx[src]] = 1.0
    col_sums = a.sum(axis=0)
    for j in range(n):
        if col_sums[j] > 0:
            a[:, j] /= col_sums[j]
        else:
            a[:, j] = 1.0 / n  # dangling: uniform column
    g = alpha * a + (1.0 - alpha) / n * np.ones((n, n))
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = g @ r
    return dict(zip(nodes, r))


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_differential_vs_dense_reference(spark):
    """A fixed irregular graph (hubs, a dangling sink, a cycle,
    parallel duplicate edges, one self-loop): the distributed fold
    matches the dense reference at every node after the same number
    of iterations."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),
        ("f", "a"), ("f", "b"), ("f", "c"), ("f", "d"), ("f", "e"),
        ("g", "g"),            # self-loop: dropped; g becomes dangling
        ("a", "b"),            # parallel duplicate: one vote
        ("h", "f"), ("c", "h"),
        # 'sink' has in-links only: the dangling node every crawl has
        ("b", "sink"), ("e", "sink"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(5)
    got = _ranks(pagerank(df, alpha=0.85, max_iters=30, tol=0.0))
    want = _dense_pagerank(edges, alpha=0.85, iters=30)
    assert set(got) == set(want)
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9), node
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_closed_forms(spark):
    """A directed cycle is uniform at any alpha; a star's center
    accumulates the leaves' damped mass."""
    cycle = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 5}") for i in range(5)],
        "src string, dst string",
    )
    got = _ranks(pagerank(cycle, alpha=0.85, max_iters=25))
    for v in got.values():
        assert v == pytest.approx(0.2, abs=1e-9)

    star = spark.createDataFrame(
        [(f"leaf{i}", "center") for i in range(4)],
        "src string, dst string",
    )
    got = _ranks(pagerank(star, alpha=0.85, max_iters=40, tol=0.0))
    want = _dense_pagerank(
        [(f"leaf{i}", "center") for i in range(4)], alpha=0.85, iters=40
    )
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9)
    assert got["center"] == max(got.values())


def test_convergence_early_stop_and_validation(spark):
    cycle = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 4}") for i in range(4)],
        "src string, dst string",
    )
    # uniform from iteration 0 on a cycle: tol triggers immediately
    got = _ranks(pagerank(cycle, alpha=0.85, max_iters=100, tol=1e-3))
    assert all(v == pytest.approx(0.25, abs=1e-12) for v in got.values())
    with pytest.raises(ValueError, match="alpha"):
        pagerank(cycle, alpha=1.5)
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_extract_links_record_resolution_rules():
    html = (
        "<html><body>"
        "<a href='/rel'>r</a>"
        "<a href='sub/page.html'>s</a>"
        "<a href='http://other.example/abs'>abs</a>"
        "<a href='#frag'>f</a>"
        "<a href='https://x.example/p#sec'>defrag</a>"
        "<a href='mailto:a@b.c'>m</a>"
        "<a href='javascript:void(0)'>j</a>"
        "<a href='tel:+123'>t</a>"
        "<template><a href='/chrome'>no</a></template>"
        "<a href=''>empty</a>"
        "</body></html>"
    )
    got = extract_links_record(html, "http://site.example/dir/page")
    assert got == [
        "http://site.example/rel",
        "http://site.example/dir/sub/page.html",
        "http://other.example/abs",
        "https://x.example/p",
    ]
    assert extract_links_record(None, "http://x") is None


def test_link_graph_to_pagerank_composition(spark):
    """Pages → edge list → ranks: the crawl centrality path end to
    end; the hub page every other page links to ranks first."""
    pages = spark.createDataFrame(
        [
            (
                i,
                f"http://s{i}.example/",
                "<html><body><a href='http://hub.example/'>hub</a>"
                + f"<a href='http://s{(i + 1) % 4}.example/'>next</a>"
                "</body></html>",
            )
            for i in range(4)
        ]
        + [(9, "http://hub.example/", "<html><body>no links</body></html>")],
        "doc_id long, url string, html string",
    )
    edges = extract_links(pages)
    assert edges.count() == 8
    # endpoints are canonicalized: a tracking-variant link must merge
    # with the plain spelling instead of becoming a phantom node
    variant = spark.createDataFrame(
        [(7, "http://v.example/",
          "<html><body><a href='http://hub.example/?utm_source=x'>h</a>"
          "</body></html>")],
        "doc_id long, url string, html string",
    )
    vedge = extract_links(variant).collect()[0]
    assert vedge["dst"] == "http://hub.example/"
    ranks = _ranks(pagerank(edges, max_iters=30))
    assert max(ranks, key=ranks.get) == "http://hub.example/"
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def _dense_hits(edge_list, iters):
    """Independent HITS reference: adjacency matrix, alternate
    a = A^T h, h = A a, L1-normalize each — Kleinberg's formulation,
    not the join fold under test."""
    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for src, dst in set(edge_list):
        if src != dst:
            a[idx[src], idx[dst]] = 1.0
    h = np.full(n, 1.0 / n)
    au = np.full(n, 1.0 / n)
    for _ in range(iters):
        new_au = a.T @ h
        new_h = a @ au
        au = new_au / (new_au.sum() or 1.0)
        h = new_h / (new_h.sum() or 1.0)
    return (
        dict(zip(nodes, h)),
        dict(zip(nodes, au)),
    )


def test_hits_differential_vs_dense_reference(spark):
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
        hits,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),
        ("f", "a"), ("f", "b"), ("f", "c"), ("f", "d"), ("f", "e"),
        ("g", "g"), ("a", "b"), ("h", "f"), ("c", "h"),
        ("b", "sink"), ("e", "sink"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string").repartition(3)
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, max_iters=25, tol=0.0).collect()
    }
    want_h, want_a = _dense_hits(edges, iters=25)
    assert set(got) == set(want_h)
    for node in want_h:
        assert got[node][0] == pytest.approx(want_h[node], abs=1e-9), node
        assert got[node][1] == pytest.approx(want_a[node], abs=1e-9), node
    # f links to five pages: the strongest hub; c is the top authority
    assert max(got, key=lambda k: got[k][0]) == "f"
    assert max(got, key=lambda k: got[k][1]) == "c"


def test_hits_shapes_and_empty(spark):
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
        hits,
    )

    star = spark.createDataFrame(
        [(f"leaf{i}", "center") for i in range(4)],
        "src string, dst string",
    )
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(star, max_iters=10).collect()
    }
    # the center is the sole authority; leaves are equal hubs
    assert got["center"][1] == pytest.approx(1.0, abs=1e-9)
    assert got["center"][0] == pytest.approx(0.0, abs=1e-12)
    for i in range(4):
        assert got[f"leaf{i}"][0] == pytest.approx(0.25, abs=1e-9)
    empty = spark.createDataFrame([], "src string, dst string")
    assert hits(empty).count() == 0


def test_iteration_checkpoints_are_released(spark):
    """Each iteration localCheckpoint's its rank vector; the previous
    vector must be unpersisted as soon as the new one is materialized
    (ADVICE r8: otherwise up to max_iters materialized vectors sit in
    executor storage until driver GC). After the call, only the
    RETURNED frame's checkpoint may remain registered."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
        hits,
        pagerank,
    )

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 40}") for i in range(40)],
        "src string, dst string",
    )
    base = n_persistent()
    ranks = pagerank(edges, max_iters=8, tol=0.0)
    ranks.count()
    # the returned vector is the ONE surviving checkpoint (weighted/
    # nodes persists were unpersisted, dangling + 8 iteration vectors
    # were freed explicitly)
    assert n_persistent() <= base + 1
    scores = hits(edges, max_iters=8, tol=0.0)
    scores.count()
    assert n_persistent() <= base + 2  # + the hits result vector


def test_warm_start_same_fixed_point_fewer_iterations(spark):
    """The damped iteration is an affine contraction with a unique
    fixed point, so a warm start from a PREVIOUS generation's ranks
    must land on the same converged vector — and, after a small graph
    delta, in strictly fewer iterations (the incremental-crawl payoff
    the example composes)."""
    base = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"), ("e", "a"),
        ("f", "b"), ("f", "c"), ("g", "a"), ("g", "f"),
    ]
    g1 = spark.createDataFrame(base, "src string, dst string")
    g2 = spark.createDataFrame(
        base + [("b", "d")], "src string, dst string"
    )
    ranks1 = pagerank(g1, max_iters=60, tol=1e-10)

    cold_iters, warm_iters = [], []
    cold = _ranks(
        pagerank(g2, max_iters=60, tol=1e-10,
                 on_iteration=cold_iters.append)
    )
    warm = _ranks(
        pagerank(g2, max_iters=60, tol=1e-10,
                 on_iteration=warm_iters.append, init_ranks=ranks1)
    )
    assert warm.keys() == cold.keys()
    for node in cold:
        assert warm[node] == pytest.approx(cold[node], abs=1e-9)
    # deterministic fixture: one added edge moves the fixed point a
    # little, so starting from gen-1's converged vector must beat
    # the cold 1/N start outright
    assert len(warm_iters) < len(cold_iters)
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)


def test_warm_start_aligns_node_set_and_renormalizes(spark):
    """Init vectors from a DIFFERENT node set: vanished nodes drop,
    new nodes default 1/N, and the skewed remainder is renormalized —
    the result still matches a cold run on the current graph."""
    g = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    init = spark.createDataFrame(
        # 'zz' vanished; 'd' missing (new); mass sums to 9, not 1
        [("a", 4.0), ("b", 2.0), ("c", 2.0), ("zz", 1.0)],
        "node string, rank double",
    )
    cold = _ranks(pagerank(g, max_iters=80, tol=1e-11))
    warm = _ranks(pagerank(g, max_iters=80, tol=1e-11, init_ranks=init))
    assert warm.keys() == cold.keys() == {"a", "b", "c", "d"}
    for node in cold:
        assert warm[node] == pytest.approx(cold[node], abs=1e-9)
    # degenerate all-zero init: divides by 1, mass regrows to 1
    zeros = spark.createDataFrame(
        [("a", 0.0), ("b", 0.0)], "node string, rank double"
    )
    got = _ranks(pagerank(g, max_iters=80, tol=1e-11, init_ranks=zeros))
    for node in cold:
        assert got[node] == pytest.approx(cold[node], abs=1e-9)
    # DUPLICATE node rows (a unioned / un-distinct'ed vector) must
    # sum-merge, not fan out through the join — a duplicated row
    # would double-count that node's outgoing rank every iteration
    # (review catch)
    dup = spark.createDataFrame(
        [("a", 0.3), ("a", 0.3), ("b", 0.2), ("c", 0.2)],
        "node string, rank double",
    )
    got_dup = pagerank(g, max_iters=80, tol=1e-11, init_ranks=dup)
    assert got_dup.count() == 4  # one row per node, no fan-out
    for node, rank in _ranks(got_dup).items():
        assert rank == pytest.approx(cold[node], abs=1e-9)


def _dense_personalized(edge_list, alpha, iters, seeds):
    """Independent dense reference for TOPIC-SENSITIVE PageRank
    (Haveliwala 2002): teleport vector p from the seed dict
    (renormalized over the node set, absent nodes 0), dangling
    columns become p instead of uniform."""
    nodes = sorted({u for e in edge_list for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    p = np.array([float(seeds.get(u, 0.0)) for u in nodes])
    p = p / p.sum()
    a = np.zeros((n, n))
    for src, dst in set(edge_list):
        if src != dst:
            a[idx[dst], idx[src]] = 1.0
    col_sums = a.sum(axis=0)
    for j in range(n):
        if col_sums[j] > 0:
            a[:, j] /= col_sums[j]
        else:
            a[:, j] = p  # dangling: redistribute onto the seeds
    g = alpha * a + (1.0 - alpha) * np.outer(p, np.ones(n))
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = g @ r
    return dict(zip(nodes, r))


def test_personalized_differential_vs_dense_reference(spark):
    """Seeded teleport (two seed nodes, unequal weights, one seed
    dangling so its mass re-lands on the seeds) matches the dense
    reference at every node; uniform seeds reproduce the classic
    ranks."""
    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),
        ("f", "a"), ("f", "b"), ("f", "c"), ("f", "d"), ("f", "e"),
        ("b", "g"),  # g dangling
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    seeds = {"a": 3.0, "g": 1.0}
    seed_df = spark.createDataFrame(
        list(seeds.items()), "node string, weight double"
    )
    iters = 25
    got = _ranks(
        pagerank(edges, alpha=0.85, max_iters=iters, tol=0.0,
                 personalization=seed_df)
    )
    want = _dense_personalized(edge_list, 0.85, iters, seeds)
    assert got.keys() == want.keys()
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # seeds benefit: the seeded nodes outrank their classic scores
    classic = _ranks(pagerank(edges, alpha=0.85, max_iters=iters, tol=0.0))
    assert got["a"] > classic["a"] and got["g"] > classic["g"]
    # uniform seeds == classic (same fixed point)
    uni = spark.createDataFrame(
        [(u, 7.5) for u in classic],  # any equal weight
        "node string, weight double",
    )
    got_uni = _ranks(
        pagerank(edges, alpha=0.85, max_iters=iters, tol=0.0,
                 personalization=uni)
    )
    for node in classic:
        assert got_uni[node] == pytest.approx(classic[node], abs=1e-12)


def test_personalized_validation_and_alignment(spark):
    g = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="non-negative"):
        pagerank(g, personalization=spark.createDataFrame(
            [("a", -1.0), ("b", 2.0)], "node string, weight double"
        ))
    with pytest.raises(ValueError, match="positive weight"):
        pagerank(g, personalization=spark.createDataFrame(
            [("zz", 5.0)], "node string, weight double"  # not in graph
        ))
    with pytest.raises(ValueError, match="positive weight"):
        pagerank(g, personalization=spark.createDataFrame(
            [("a", 0.0)], "node string, weight double"
        ))
    # duplicate seed rows sum-merge; off-graph seeds drop
    seeded = pagerank(
        g, max_iters=30, tol=0.0,
        personalization=spark.createDataFrame(
            [("a", 1.0), ("a", 1.0), ("zz", 9.0)],
            "node string, weight double",
        ),
    )
    merged = pagerank(
        g, max_iters=30, tol=0.0,
        personalization=spark.createDataFrame(
            [("a", 2.0)], "node string, weight double"
        ),
    )
    a, b = _ranks(seeded), _ranks(merged)
    assert a.keys() == b.keys() == {"a", "b", "c"}
    for node in a:
        assert a[node] == pytest.approx(b[node], abs=1e-12)


def test_personalization_rejects_non_finite_weights(spark):
    g = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    for bad in (float("nan"), float("inf")):
        with pytest.raises(ValueError, match="finite"):
            pagerank(g, personalization=spark.createDataFrame(
                [("a", bad), ("b", 1.0)], "node string, weight double"
            ))
    # a NaN in the WARM-START vector silently repairs to 1/N (init
    # affects convergence only, never the fixed point): the result
    # is FINITE and converging toward the cold answer — the 2-cycle
    # fixed point is exactly uniform, so the cold run starts there
    # while the repaired-skewed start still contracts (0.85^k),
    # hence the loose tolerance at 50 iterations
    cold = _ranks(pagerank(g, max_iters=50, tol=1e-11))
    poisoned = spark.createDataFrame(
        [("a", float("nan")), ("b", 0.7)], "node string, rank double"
    )
    warm = _ranks(pagerank(g, max_iters=50, tol=1e-11,
                           init_ranks=poisoned))
    import math

    for node in cold:
        assert math.isfinite(warm[node])
        assert warm[node] == pytest.approx(cold[node], abs=1e-4)
    assert sum(warm.values()) == pytest.approx(1.0, abs=1e-9)


def test_warm_start_composes_with_personalization(spark):
    """init_ranks and personalization TOGETHER: the fixed point is
    the personalized one (teleport decides the answer, init only the
    starting distance), and warm-starting from the previous
    personalized vector reaches it in fewer iterations after a
    delta."""
    base = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"), ("e", "a"),
        ("f", "b"), ("f", "c"), ("g", "a"), ("g", "f"),
    ]
    g1 = spark.createDataFrame(base, "src string, dst string")
    g2 = spark.createDataFrame(
        base + [("c", "e")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("a", 2.0), ("f", 1.0)], "node string, weight double"
    )
    ranks1 = pagerank(g1, max_iters=80, tol=1e-10,
                      personalization=seeds)
    cold_iters, warm_iters = [], []
    cold = _ranks(pagerank(g2, max_iters=80, tol=1e-10,
                           personalization=seeds,
                           on_iteration=cold_iters.append))
    warm = _ranks(pagerank(g2, max_iters=80, tol=1e-10,
                           personalization=seeds, init_ranks=ranks1,
                           on_iteration=warm_iters.append))
    for node in cold:
        assert warm[node] == pytest.approx(cold[node], abs=1e-9)
    assert len(warm_iters) < len(cold_iters)
    # warm-starting from the CLASSIC vector must still land on the
    # PERSONALIZED fixed point (init cannot change the answer)
    classic = pagerank(g2, max_iters=80, tol=1e-10)
    crossed = _ranks(pagerank(g2, max_iters=120, tol=1e-10,
                              personalization=seeds,
                              init_ranks=classic))
    for node in cold:
        assert crossed[node] == pytest.approx(cold[node], abs=1e-8)


def test_fused_delta_rank_identical_and_checkpoints_released(spark):
    """r12 (VERDICT r11 #4): the convergence L1-delta now fires every
    DELTA_CHECK_EVERY iterations (+ the last) instead of every
    iteration — the fully-fused form was measured faster but rejected
    on a driver wedge it causes (Catalyst sizeInBytes squaring through
    the checkpoint chain; see the note in _iterate). Ranks must be
    bit-identical to the tol=0 body iteration-for-iteration, the
    early exit must still fire on a check boundary, and checkpoints
    must release."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
        _free_checkpoint,
        pagerank,
    )

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 1) % 60}") for i in range(60)]
        + [("n3", "n11"), ("n12", "n3"), ("hub", "n3")],
        "src string, dst string",
    )
    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    # bit-identical per iteration count: tol tiny (never fires) vs
    # tol=0 (unfused body) at every k
    for k in (1, 3):
        f_df = pagerank(edges, max_iters=k, tol=1e-300)
        p_df = pagerank(edges, max_iters=k, tol=0.0)
        fused = {r["node"]: r["rank"] for r in f_df.collect()}
        plain = {r["node"]: r["rank"] for r in p_df.collect()}
        assert fused == plain, k
        _free_checkpoint(f_df)
        _free_checkpoint(p_df)
    # early exit fires — on a DELTA_CHECK_EVERY boundary (or the
    # final iteration), so the stop count is even here — and the
    # returned vector's blocks free
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.pagerank import (
        DELTA_CHECK_EVERY,
    )

    fired = []
    ranks = pagerank(edges, max_iters=100, tol=1e-4,
                     on_iteration=lambda i: fired.append(i))
    ranks.count()
    assert 0 < len(fired) < 100
    assert len(fired) % DELTA_CHECK_EVERY == 0
    assert jsc.getPersistentRDDs().size() <= base + 1
    _free_checkpoint(ranks)
    assert jsc.getPersistentRDDs().size() <= base
    # the _free_checkpoint plan walk also releases through a
    # projection of a checkpointed leaf (robustness kept from the
    # rejected fused form)
    leafy = pagerank(edges, max_iters=2, tol=0.0)
    proj = leafy.select("node", "rank")
    proj.count()
    _free_checkpoint(proj)
    assert jsc.getPersistentRDDs().size() <= base


def test_hash_collision_falls_back_to_string_keys(spark, monkeypatch):
    """Forces the string-key fallback of pagerank's hashed staging:
    with ``xxhash64`` (as pagerank.py sees it) pinned to a constant,
    every node key collides, the collision check rejects the hashed
    leaf, the staging reruns keyed by name, and the ranks equal the
    unpatched run's."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators import (
        pagerank as pr,
    )

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("e", "d"), ("b", "sink"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _ranks(pagerank(df, max_iters=3, tol=0.0))

    calls = []
    stage_keyed = pr._stage_keyed

    def recording(raw, persisted, hashed):
        calls.append(hashed)
        return stage_keyed(raw, persisted, hashed)

    monkeypatch.setattr(pr, "_stage_keyed", recording)
    monkeypatch.setattr(
        pr.F, "xxhash64", lambda *cols: F.lit(7).cast("long")
    )
    got = _ranks(pagerank(df, max_iters=3, tol=0.0))

    assert calls == [True, False]
    assert got.keys() == want.keys()
    for node in want:
        assert got[node] == pytest.approx(want[node], abs=1e-12), node
