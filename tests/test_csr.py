"""csr.py: the join/stream routers, the block builder, and its
content fingerprint.

The routers' stream branch (``mode="stream"``) must compute the same
fixed point as the DataFrame join path on every fixture graph: exact for
CC (min is summation-order-free), allclose for PageRank (float sums
reorder), and the same superstep count — which also checks that
``pagerank_csr``/``cc_csr``/``lpa_csr`` forward their arguments.
"""

from __future__ import annotations

import numpy as np
import pytest

from chaos_spark.algos import connected_components, pagerank
from chaos_spark.csr import cc_csr, pagerank_csr
from chaos_spark.fixtures import g1_chain, g2_star, g3_cliques, g4_powerlaw

from tests.oracles import pagerank_oracle

GRAPHS = {
    "chain": g1_chain,
    "star_hub": g2_star,
    "two_cliques_bridge": g3_cliques,
    "powerlaw": lambda: g4_powerlaw(scale=10, num_edges=5000),
}


def _ranks(res):
    return {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_csr_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle")
    r_csr = pagerank_csr(spark, edges, tol=1e-6, max_iters=60, mode="stream")
    a, b = _ranks(r_join), _ranks(r_csr)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    assert r_csr.supersteps == r_join.supersteps


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_pagerank_csr_matches_oracle(spark, name):
    pdf = GRAPHS[name]()
    edges = spark.createDataFrame(pdf)
    res = pagerank_csr(spark, edges, tol=1e-9, max_iters=500, mode="stream")
    assert res.converged
    got = _ranks(res)
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_csr_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    a = dict(
        connected_components(spark, edges, max_iters=100, mode="join")
        .state.select("id", "label").collect()
    )
    b = dict(
        cc_csr(spark, edges, max_iters=100, mode="stream")
        .state.select("id", "label").collect()
    )
    assert a == b


def test_lpa_csr_equals_join_path(spark):
    """lpa_csr's stream branch reaches the identical labeling as the
    DataFrame join path — exact (counts + deterministic min-label ties)."""
    from chaos_spark.algos import label_propagation
    from chaos_spark.csr import lpa_csr

    for name in ("two_cliques_bridge", "powerlaw"):
        edges = spark.createDataFrame(GRAPHS[name]())
        a = dict(
            label_propagation(spark, edges, max_iters=7, mode="join")
            .state.select("id", "label").collect()
        )
        b = dict(
            lpa_csr(spark, edges, max_iters=7, mode="stream")
            .state.select("id", "label").collect()
        )
        assert a == b


def test_pagerank_weighted_csr_equals_join_path(spark):
    """Type-2 (weighted) blocks: the stream kernel's rank/W * w messages
    reach the same fixed point as the join path's weighted regime on a
    powerlaw graph at tol=0 (VERDICT r3 item 6 done-criterion)."""
    from pyspark.sql import functions as F

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf).withColumn(
        "weight",
        (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5))).cast("double"),
    )
    a = _ranks(pagerank(spark, edges, tol=0.0, max_iters=6, weight_col="weight",
                        mode="shuffle"))
    b = _ranks(pagerank_csr(spark, edges, tol=0.0, max_iters=6, mode="stream",
                            weight_col="weight"))
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)


def test_csr_partition_invariance(spark):
    """Result must not depend on the partition count (the autotuned P is a
    physical choice, never semantic)."""
    edges = spark.createDataFrame(GRAPHS["powerlaw"]())
    r4 = _ranks(pagerank_csr(spark, edges, tol=0.0, max_iters=5, num_partitions=4,
                             mode="stream"))
    r11 = _ranks(pagerank_csr(spark, edges, tol=0.0, max_iters=5, num_partitions=11,
                              mode="stream"))
    ks = sorted(r4)
    assert np.allclose([r4[k] for k in ks], [r11[k] for k in ks], rtol=0, atol=1e-12)


def test_disk_blocks_rebuilt_on_changed_edges(spark, tmp_path, monkeypatch):
    """ADVICE r2+r3: a caller-pinned token whose underlying edge data
    changed must trigger a block rebuild, never silently reuse stale CSR
    blocks. The _BUILT marker records "{num_edges}:{p}:{content_fp}" and
    is validated on reuse — the xor-fold content fingerprint catches the
    same-count-DIFFERENT-edges regeneration the count alone missed."""
    import os

    import chaos_spark.csr as csr_mod

    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))

    e1 = spark.createDataFrame(g1_chain())
    g_old = csr_mod.CsrGraph(spark, e1, num_partitions=4, token="pinned")
    marker = os.path.join(g_old.block_dir, "_BUILT")

    def marker_text(g):
        return f"v6:{g.num_edges}:{g.num_vertices}:4:{g.edge_fp:x}"

    with open(marker) as f:
        assert f.read() == marker_text(g_old)

    # Same |E|, different edges (reversed chain): count-only markers pass
    # this; the content fingerprint must not.
    e_rev = spark.createDataFrame(
        g1_chain().rename(columns={"src": "dst", "dst": "src"})
    )
    g_rev = csr_mod.CsrGraph(spark, e_rev, num_partitions=4, token="pinned")
    assert g_rev.num_edges == g_old.num_edges
    assert g_rev.edge_fp != g_old.edge_fp
    with open(marker) as f:
        assert f.read() == marker_text(g_rev)

    # "Regenerated" data at the same token: a superset graph whose old src
    # ids are a subset of the new vertex set (the silent-wrong-graph case).
    e2 = spark.createDataFrame(g3_cliques())
    g_new = csr_mod.CsrGraph(spark, e2, num_partitions=4, token="pinned")
    assert g_new.num_edges != g_old.num_edges
    with open(marker) as f:
        assert f.read() == marker_text(g_new)
    # and the rebuilt blocks drive a correct run on the NEW graph
    res = csr_mod.cc_csr(spark, e2, num_partitions=4, token="pinned", mode="stream")
    labels = {r["id"]: r["label"] for r in res.state.collect()}
    from tests.oracles import cc_oracle

    assert labels == cc_oracle(g3_cliques())


def test_auto_route_two_way():
    """mode="auto" routes by the measured crossover — join below
    ``min_edges``, fused stream at/above it — and mode="stream" pins the
    stream path. The retired classic kernel's mode "csr" is an unknown
    mode, and every router refuses it before touching Spark. Pure routing
    unit test (num_edges supplied so no count job runs; edges is never
    touched)."""
    from chaos_spark import csr as csr_mod

    route = csr_mod._auto_route
    lo, hi = csr_mod.CSR_AUTO_MIN_EDGES - 1, csr_mod.CSR_AUTO_MIN_EDGES
    assert route(None, "auto", lo) == ("join", lo)
    assert route(None, "auto", hi) == ("stream", hi)
    # per-algorithm crossover: pagerank/lpa pass STREAM_AUTO_MIN_EDGES
    # (100k, measured in scripts/sf01_path_ab.py), CC its own 200k.
    for m in (csr_mod.STREAM_AUTO_MIN_EDGES, csr_mod.CC_STREAM_MIN_EDGES):
        assert route(None, "auto", m - 1, min_edges=m) == ("join", m - 1)
        assert route(None, "auto", m, min_edges=m) == ("stream", m)
    assert route(None, "stream", lo) == ("stream", lo)
    assert route(None, "stream", None) == ("stream", None)
    for mode in ("csr", "bogus"):
        with pytest.raises(ValueError, match="unknown mode"):
            route(None, mode, hi)
        for fn in (csr_mod.pagerank_csr, csr_mod.cc_csr, csr_mod.lpa_csr):
            with pytest.raises(ValueError, match="unknown mode"):
                fn(None, None, mode=mode, num_edges=hi)


def test_auto_route_serves_stream_above_crossover(spark, monkeypatch):
    """End-to-end: with the crossover lowered beneath the fixture size,
    mode="auto" serves pagerank/cc/lpa through the fused stream path and
    still matches the join-path fixed point (same oracle as the forced
    paths above)."""
    from chaos_spark import csr as csr_mod
    from chaos_spark.algos import label_propagation
    from chaos_spark.csr import lpa_csr

    monkeypatch.setattr(csr_mod, "CSR_AUTO_MIN_EDGES", 1)
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    edges = spark.createDataFrame(GRAPHS["two_cliques_bridge"]())
    a = _ranks(pagerank_csr(spark, edges, tol=1e-6, max_iters=60))
    b = _ranks(pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle"))
    ks = sorted(a)
    assert a.keys() == b.keys()
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    cc_a = dict(cc_csr(spark, edges).state.select("id", "label").collect())
    cc_b = dict(
        connected_components(spark, edges, mode="join")
        .state.select("id", "label").collect()
    )
    assert cc_a == cc_b
    lpa_a = dict(
        lpa_csr(spark, edges, max_iters=3).state.select("id", "label").collect()
    )
    lpa_b = dict(
        label_propagation(spark, edges, max_iters=3, mode="join")
        .state.select("id", "label").collect()
    )
    assert lpa_a == lpa_b


def test_warm_block_registry_reuse_and_reroute(spark, monkeypatch):
    """Cross-algorithm block reuse ([C15] §4 partition reuse): a stream
    LPA run registers its undirected v5 blocks; a subsequent cc_csr in
    AUTO mode below the cold crossover then routes STREAM (warm blocks
    void the cold-build argument), adopts the same block dir without
    rebuilding, and still matches the join fixed point."""
    import os

    from chaos_spark import csr as csr_mod
    from chaos_spark.csr import lpa_csr

    monkeypatch.setattr(csr_mod, "_WARM_BLOCKS", {})
    edges = spark.createDataFrame(GRAPHS["two_cliques_bridge"]())

    # Directed / weighted flavors are distinct keys — no false sharing.
    k_und = csr_mod._warm_key(edges, True, None, None)
    k_dir = csr_mod._warm_key(edges, False, None, None)
    assert k_und is not None and k_dir is not None and k_und != k_dir

    lpa_csr(spark, edges, max_iters=3, mode="stream")
    assert csr_mod._warm_blocks_ready(k_und) is not None
    assert csr_mod._warm_blocks_ready(k_dir) is None
    token, block_dir = csr_mod._WARM_BLOCKS[k_und]
    marker = os.path.join(block_dir, "_BUILT")
    built_at = os.path.getmtime(marker)

    # Below the cold crossover the plain router says join...
    assert csr_mod._auto_route(edges, "auto", 12) == ("join", 12)
    # ...but with warm blocks the probe flips it to stream.
    assert csr_mod._auto_route(
        edges, "auto", 12, warm_key=k_und
    ) == ("stream", 12)

    cc_a = dict(cc_csr(spark, edges).state.select("id", "label").collect())
    cc_b = dict(
        connected_components(spark, edges, mode="join")
        .state.select("id", "label").collect()
    )
    assert cc_a == cc_b
    # Same registered dir, no rebuild (marker untouched), entry intact.
    assert csr_mod._WARM_BLOCKS[k_und] == (token, block_dir)
    assert os.path.getmtime(marker) == built_at

    # Registry self-heals when the dir vanishes: probe drops the entry
    # and the router falls back to the join path.
    import shutil

    shutil.rmtree(block_dir)
    assert csr_mod._warm_blocks_ready(k_und) is None
    assert k_und not in csr_mod._WARM_BLOCKS
    assert csr_mod._auto_route(
        edges, "auto", 12, warm_key=k_und
    ) == ("join", 12)


def test_edge_fingerprint_matches_spark_xxhash64(spark):
    """The v6 build folds its content fingerprint in numpy
    (``_edge_fp_np``); marker validation on warm reuse folds Spark's own
    ``bit_xor(xxhash64(src, dst[, w]))``. The two must agree bit for bit,
    row for row, or pinned blocks would rebuild forever (or, worse, a
    collision in one side alone would go unnoticed)."""
    from pyspark.sql import functions as F

    from chaos_spark.csr import _edge_fp_np

    big = 2**32 + 7
    rows = [
        (0, 1, 1.0),
        (-1, 2, 2.5),
        (3, -(2**40), 0.5),
        (big, big + 1, 3.0),
        (-big, 5, 1e-300),
        (2**63 - 1, -(2**63), 7.0),
        (6, 7, 0.0),
        (6, 8, -0.0),
        (9, 9, -2.0),
        (0, 1, 1.0),  # duplicate pair: hashed again, xor cancels it
        (0, 1, 1.0),
    ]
    df = spark.createDataFrame(rows, "src long, dst long, w double")
    src = np.array([r[0] for r in rows], dtype=np.int64)
    dst = np.array([r[1] for r in rows], dtype=np.int64)
    w = np.array([r[2] for r in rows], dtype=np.float64)
    for cols, wv in ((["src", "dst"], None), (["src", "dst", "w"], w)):
        got = [
            r["h"] for r in df.select(F.xxhash64(*cols).alias("h")).collect()
        ]
        want = [
            _edge_fp_np(src[i:i + 1], dst[i:i + 1],
                        None if wv is None else wv[i:i + 1])
            for i in range(len(rows))
        ]
        assert got == want
        fold = df.agg(F.bit_xor(F.xxhash64(*cols)).alias("fp")).first()["fp"]
        assert fold == _edge_fp_np(src, dst, wv)
    assert _edge_fp_np(src[:0], dst[:0], None) == 0


def test_int_typed_edges_adopt_pinned_blocks(spark, tmp_path, monkeypatch):
    """Edges with int (not bigint) id columns: the build's numpy
    fingerprint and the marker check's Spark xxhash64 must see the same
    int64 ids, so a second CsrGraph on the same pinned token adopts the
    blocks instead of rebuilding them."""
    import chaos_spark.csr as csr_mod

    monkeypatch.setattr(csr_mod, "_DISK_BLOCK_BASE", str(tmp_path))
    edges = spark.createDataFrame(
        [(int(s), int(d)) for s, d in g3_cliques().itertuples(index=False)],
        "src int, dst int",
    )
    g1 = csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned-int")

    def no_rebuild(self, e):
        raise AssertionError("blocks rebuilt instead of adopted")

    monkeypatch.setattr(csr_mod.CsrGraph, "_build_v6", no_rebuild)
    g2 = csr_mod.CsrGraph(spark, edges, num_partitions=4, token="pinned-int")
    assert (g2.num_edges, g2.edge_fp) == (g1.num_edges, g1.edge_fp)
