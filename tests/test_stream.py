"""Fused streaming-partition superstep ≡ join path (SURVEY §3.2 property).

pagerank_stream must compute the same fixed point, in the same number of
supersteps, as the DataFrame join path — allclose (float association
differs across paths), exact id set, rank mass 1. Plus the stream-specific
invariants: resume from a mid-run checkpoint equals the uninterrupted run
(update streams are regenerated, not checkpointed), a run split into
checkpointed segments equals the one-segment run, and weighted graphs
ride the same blocks and reject the same bad weights.
"""

from __future__ import annotations

import numpy as np
import pytest

from chaos_spark.algos import pagerank
from chaos_spark.checkpoint import CheckpointManager
from chaos_spark.fixtures import g1_chain, g2_star, g3_cliques, g4_powerlaw
from chaos_spark.stream import pagerank_stream

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
def test_pagerank_stream_equals_join_path(spark, name):
    edges = spark.createDataFrame(GRAPHS[name]())
    r_join = pagerank(spark, edges, tol=1e-6, max_iters=60, mode="shuffle")
    r_str = pagerank_stream(spark, edges, tol=1e-6, max_iters=60)
    a, b = _ranks(r_join), _ranks(r_str)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)
    assert r_str.supersteps == r_join.supersteps


def test_pagerank_stream_matches_oracle(spark):
    pdf = GRAPHS["powerlaw"]()
    edges = spark.createDataFrame(pdf)
    res = pagerank_stream(spark, edges, tol=1e-9, max_iters=500)
    assert res.converged
    got = _ranks(res)
    want = pagerank_oracle(pdf)
    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-6
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_stream_weighted_equals_join(spark):
    # Chain + extra weighted edges; weights sum per duplicate (src, dst).
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "src": [0, 1, 2, 3, 4, 0, 0, 2],
            "dst": [1, 2, 3, 4, 0, 2, 2, 4],
            "w": [1.0, 2.0, 0.5, 1.5, 1.0, 3.0, 1.0, 2.5],
        }
    )
    edges = spark.createDataFrame(pdf)
    r_join = pagerank(spark, edges, weight_col="w", tol=1e-8, max_iters=80,
                      mode="shuffle")
    r_str = pagerank_stream(spark, edges, weight_col="w", tol=1e-8,
                            max_iters=80)
    a, b = _ranks(r_join), _ranks(r_str)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-9)


@pytest.mark.parametrize("bad", [None, 0.0], ids=["null", "zero"])
@pytest.mark.parametrize("route", ["algos_auto", "csr_stream", "direct"])
def test_pagerank_stream_rejects_bad_weights(spark, monkeypatch, route, bad):
    """A NULL or zero weight makes a vertex neither sender nor dangling
    (silent rank-mass leak), so every route into the stream path raises
    before building blocks — as the join regimes always have."""
    from chaos_spark import csr as csr_mod

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, bad), (2, 0, 2.0)], "src long, dst long, w double"
    )
    monkeypatch.setattr(csr_mod, "STREAM_AUTO_MIN_EDGES", 1)
    run = {
        "algos_auto": lambda: pagerank(spark, edges, weight_col="w"),
        "csr_stream": lambda: csr_mod.pagerank_csr(
            spark, edges, weight_col="w", mode="stream"),
        "direct": lambda: pagerank_stream(spark, edges, weight_col="w"),
    }[route]
    with pytest.raises(ValueError, match="strictly positive"):
        run()


def test_pagerank_stream_segments_equal_one_segment(spark, tmp_path):
    # checkpoint_every=4 over 9 fixed supersteps runs three segments
    # (4 + 4 + 1), each a fresh barrier stage that regenerates the update
    # stream of its starting blobs: bit-equal to the one-segment run.
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = pagerank_stream(spark, edges, tol=0.0, max_iters=9)
    cp = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream",
                           {"tol": 0.0, "graph": "g4s9"})
    b = pagerank_stream(spark, edges, tol=0.0, max_iters=9,
                        checkpointer=cp, checkpoint_every=4)
    assert a.supersteps == b.supersteps == 9
    assert [m["superstep"] for m in cp.manifests()] == [4, 8]
    assert _ranks(a) == _ranks(b)
    assert [h["delta"] for h in a.history] == [h["delta"] for h in b.history]


def test_pagerank_stream_segmented_tol_stops_exactly(spark, tmp_path):
    # tol > 0 stops at exactly the join path's superstep count, with or
    # without segments: every resident task folds the same global delta
    # at the barrier, so no segment runs past the converged superstep.
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    tol = 1e-6
    join = pagerank(spark, edges, tol=tol, max_iters=60, mode="shuffle")
    one = pagerank_stream(spark, edges, tol=tol, max_iters=60)
    cp = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream",
                           {"tol": tol, "graph": "g4s9"})
    seg = pagerank_stream(spark, edges, tol=tol, max_iters=60,
                          checkpointer=cp, checkpoint_every=4)
    assert one.converged and seg.converged
    assert one.supersteps == seg.supersteps == join.supersteps
    assert seg.history[-1]["delta"] < tol <= seg.history[-2]["delta"]
    assert cp.latest()["superstep"] == seg.supersteps
    assert _ranks(one) == _ranks(seg)


def test_pagerank_stream_segment_resume_equals_uninterrupted(spark, tmp_path):
    # Stop at superstep 5, inside the second segment (the last save is at
    # 3), resume from that save and finish: bit-equal to the
    # uninterrupted run.
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "pagerank_stream", "tol": 0.0, "graph": "g4s9"}

    full = pagerank_stream(spark, edges, tol=0.0, max_iters=8)

    cp1 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    part = pagerank_stream(
        spark, edges, tol=0.0, max_iters=5,
        checkpointer=cp1, checkpoint_every=3,
    )
    assert part.supersteps == 5
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 3

    cp2 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    res = pagerank_stream(
        spark, edges, tol=0.0, max_iters=8,
        checkpointer=cp2, checkpoint_every=3,
    )
    assert res.supersteps == full.supersteps == 8
    assert [h["superstep"] for h in res.history] == [4, 5, 6, 7, 8]
    assert _ranks(full) == _ranks(res)


def test_pagerank_stream_state_partitions_invariance(spark):
    # Physical blob placement must never affect results: kernels route by
    # the partition id, not the task index. p=8 blocks over S=1 (one task
    # owns every partition), S=3 (uneven ownership) and the default
    # (S = free slots < p).
    from chaos_spark.csr import CsrGraph

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    a = pagerank_stream(spark, edges, tol=1e-6, max_iters=30)
    b = pagerank_stream(spark, edges, tol=1e-6, max_iters=30,
                        state_partitions=2)
    assert a.supersteps == b.supersteps
    ra, rb = _ranks(a), _ranks(b)
    ks = sorted(ra)
    assert np.allclose([ra[k] for k in ks], [rb[k] for k in ks],
                       rtol=0, atol=1e-15)
    g = CsrGraph(spark, edges, num_partitions=8)
    runs = [
        pagerank_stream(spark, edges, tol=1e-6, max_iters=30, graph=g,
                        state_partitions=sp)
        for sp in (None, 1, 3)
    ]
    assert len({r.supersteps for r in runs}) == 1
    assert _ranks(runs[0]) == _ranks(runs[1]) == _ranks(runs[2])


def test_stream_barrier_wait_is_bounded(tmp_path):
    # A peer that never publishes makes the file barrier raise, naming the
    # superstep and the missing partitions, once the bound has passed.
    import time

    from chaos_spark.stream import _await_stats, _publish_arr

    ud = str(tmp_path)
    _publish_arr(ud, "stats-0", np.array([0.5, 1.0]))
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match=r"superstep 7 .*\[1, 2\]"):
        _await_stats(ud, (0, 1, 2), 7, timeout=0.2)
    assert 0.2 <= time.monotonic() - t0 < 5
    _publish_arr(ud, "stats-1", np.array([0.25, 2.0]))
    _publish_arr(ud, "stats-2", np.array([0.0, 3.0]))
    got = _await_stats(ud, (0, 1, 2), 7, timeout=0.2)
    assert [list(s) for s in got] == [[0.5, 1.0], [0.25, 2.0], [0.0, 3.0]]


def test_stream_route_places_partition_on_its_owner(spark):
    # Resident task t owns the partitions q ≡ t (mod S): the routing keys
    # mirror Spark's hash partitioning exactly.
    from pyspark.sql import functions as F

    from chaos_spark.stream import _STATE_SCHEMA, _route

    df = spark.createDataFrame([(q, None) for q in range(23)], _STATE_SCHEMA)
    for S in (1, 3, 4, 7):
        got = _route(df, S).select(
            "part", F.spark_partition_id().alias("t")
        ).collect()
        assert sorted(r["part"] for r in got) == list(range(23))
        assert all(r["t"] == r["part"] % S for r in got)


def test_pagerank_stream_resume_equals_uninterrupted(spark, tmp_path):
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    config = {"algo": "pagerank_stream", "tol": 1e-6, "graph": "g4s9"}

    full = pagerank_stream(spark, edges, tol=1e-6, max_iters=40)

    # Interrupted run: stop after the first checkpoint (superstep 3).
    cp1 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    part = pagerank_stream(
        spark, edges, tol=1e-6, max_iters=3,
        checkpointer=cp1, checkpoint_every=3,
    )
    assert part.supersteps == 3
    assert cp1.latest() is not None and cp1.latest()["superstep"] == 3

    # Resume with a FRESH manager (new process image) and finish.
    cp2 = CheckpointManager(str(tmp_path / "cp"), "pagerank_stream", config)
    res = pagerank_stream(
        spark, edges, tol=1e-6, max_iters=40,
        checkpointer=cp2, checkpoint_every=3,
    )
    a, b = _ranks(full), _ranks(res)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)
    assert res.supersteps == full.supersteps


def test_pagerank_stream_warm_start_continues_exactly(spark):
    """warm(cold-k3 state) + 2 supersteps == cold k5 on the stream path —
    the scale path's incremental re-rank handoff (streaming ingest grows
    the graph, re-rank from prior ranks). Bit-level continuation: the
    kernels are fixed-order numpy folds, so no allclose slack is needed
    beyond the init frame's join nondeterminism (none: ranks ride rows)."""
    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    cold3 = pagerank_stream(spark, edges, tol=0.0, max_iters=3)
    warm = pagerank_stream(
        spark, edges, tol=0.0, max_iters=2,
        init_ranks=cold3.state.select("id", "rank"),
    )
    cold5 = pagerank_stream(spark, edges, tol=0.0, max_iters=5)
    a, b = _ranks(warm), _ranks(cold5)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-15)


def test_pagerank_csr_warm_start_continues_exactly(spark):
    """The same continuation through the pagerank_csr router: it must
    forward ``init_ranks`` to the stream path."""
    from chaos_spark.csr import pagerank_csr

    pdf = g4_powerlaw(scale=9, num_edges=3000)
    edges = spark.createDataFrame(pdf)
    cold3 = pagerank_csr(spark, edges, tol=0.0, max_iters=3, mode="stream")
    warm = pagerank_csr(
        spark, edges, tol=0.0, max_iters=2, mode="stream",
        init_ranks=cold3.state.select("id", "rank"),
    )
    cold5 = pagerank_csr(spark, edges, tol=0.0, max_iters=5, mode="stream")
    a, b = _ranks(warm), _ranks(cold5)
    assert set(a) == set(b)
    ks = sorted(a)
    assert np.allclose([a[k] for k in ks], [b[k] for k in ks], rtol=0, atol=1e-12)
