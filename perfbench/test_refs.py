"""The benchmark's numpy references against the test suite's networkx /
pure-Python oracles (tests/oracles.py) on small graphs, and the metric
lists in BENCHMARK.json against the ones run.py prints.

    python -m pytest perfbench/test_refs.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import oracles  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402
from chaos_spark import fixtures  # noqa: E402
from workloads import er_edges  # noqa: E402


def _corpus_graph():
    """Import graph of a small generated corpus, ids = row positions."""
    c = fixtures.gen_source_files(n_rows=600, seed=3, n_repos=3)
    pos = {(r, p): i for i, (r, p) in enumerate(zip(c.files.repo, c.files.path))}
    t = c.truth_edges
    import pandas as pd

    return pd.DataFrame({
        "src": [pos[k] for k in zip(t.repo, t.src_path)],
        "dst": [pos[k] for k in zip(t.repo, t.dst_path)],
    })


GRAPHS = {
    "chain": fixtures.g1_chain,
    "star": fixtures.g2_star,
    "cliques": fixtures.g3_cliques,
    "powerlaw": lambda: fixtures.g4_powerlaw(scale=9, num_edges=3_000, seed=5),
    "er": lambda: er_edges(300, 1_200, seed=7),
    "corpus": _corpus_graph,
}


@pytest.fixture(params=sorted(GRAPHS))
def graph(request):
    e = GRAPHS[request.param]()
    return e, e["src"].to_numpy(), e["dst"].to_numpy()


def _as_array(ids, mapping):
    return np.array([mapping[int(v)] for v in ids])


def test_pagerank_matches_oracle(graph):
    e, src, dst = graph
    ids, rank, _ = refs.pagerank(src, dst, tol=1e-14, max_iters=5_000)
    assert np.allclose(rank, _as_array(ids, oracles.pagerank_oracle(e)), rtol=0, atol=1e-10)


def test_pagerank_fixed_supersteps_and_tol_stop():
    e = GRAPHS["powerlaw"]()
    src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
    assert refs.pagerank(src, dst, tol=0.0, max_iters=7)[2] == 7
    _, r1, k = refs.pagerank(src, dst, tol=1e-6)
    _, r0, _ = refs.pagerank(src, dst, tol=0.0, max_iters=k - 1)
    assert np.max(np.abs(r1 - r0)) < 1e-6  # stopped at the first small delta


def test_cc_matches_oracle(graph):
    e, src, dst = graph
    ids, labels = refs.connected_components(src, dst)
    assert np.array_equal(labels, _as_array(ids, oracles.cc_oracle(e)))


def test_lpa_matches_oracle(graph):
    e, src, dst = graph
    ids, labels, _ = refs.label_propagation(src, dst, max_iters=10)
    assert np.array_equal(labels, _as_array(ids, oracles.lpa_oracle(e, max_iters=10)))


def test_triangles_match_oracle(graph):
    e, src, dst = graph
    assert refs.triangle_count(src, dst) == sum(oracles.triangles_oracle(e).values()) // 3


def test_negative_and_large_ids():
    """Corpus vertex ids are xxhash64 values: signed, sparse, 64-bit."""
    e = GRAPHS["cliques"]()
    big = np.array([-(2**62), -5, 3, 2**40, 2**61, 7, -(2**33), 11, 12, 13, 14])
    src, dst = big[e["src"].to_numpy()], big[e["dst"].to_numpy()]
    relabeled = e.assign(src=src, dst=dst)
    ids, labels = refs.connected_components(src, dst)
    assert np.array_equal(labels, _as_array(ids, oracles.cc_oracle(relabeled)))
    ids, labels, _ = refs.label_propagation(src, dst)
    assert np.array_equal(labels, _as_array(ids, oracles.lpa_oracle(relabeled)))


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
