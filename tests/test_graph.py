"""connected_components / dup_clusters (operators/graph.py) vs union-find.

The Spark implementation is iterative label propagation with pointer
jumping; the test oracle is a 20-line driver-side union-find — any
disagreement on component membership fails. Shapes covered: clique,
long path (worst case for plain propagation — exercises the jump step),
two merged stars, singletons, and a seeded random graph.
"""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from time_series_spark_spark.operators.graph import connected_components, dup_clusters


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id labels
    return {x: find(x) for x in parent}


def _check(spark, pairs):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    exp = _union_find(pairs)
    # union-find roots are min ids because unions always hang the larger root
    assert got == exp


def test_path_graph_needs_pointer_jumping(spark):
    # paths are the round-count worst case: plain min-propagation needs
    # ~n rounds; hook+jump must finish within the operator's max_iter=25
    _check(spark, [(i, i + 1) for i in range(40)])
    _check(spark, [(i, i + 1) for i in range(299)])


def test_clique_and_stars(spark):
    clique = [(a, b) for a in range(100, 105) for b in range(100, 105) if a < b]
    stars = [(0, i) for i in range(1, 6)] + [(50, i) for i in range(51, 56)] + [(5, 55)]
    _check(spark, clique + stars)


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    pairs = [
        (rng.randrange(60), rng.randrange(60)) for _ in range(80)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    _check(spark, pairs)


def test_dup_clusters_keep_list(spark):
    docs = spark.range(10).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 4), (4, 7), (2, 9)], "id_a long, id_b long")
    out = dup_clusters(docs, pairs).orderBy("doc_id").collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in out}
    assert cluster == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 5, 6: 6, 7: 1, 8: 8, 9: 2}
    keep = sorted(r["doc_id"] for r in out if r["is_canonical"])
    assert keep == [0, 1, 2, 3, 5, 6, 8]


def test_connected_components_raises_at_max_iter(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=2"):
        connected_components(pairs, max_iter=2)


def test_k_core_raises_at_max_rounds(spark):
    from time_series_spark_spark.operators.graph import k_core

    # one round peels only the two ends; the true 2-core of a path is empty
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        k_core(edges, 2, max_rounds=1)


def test_iterative_loops_build_without_actions(spark, monkeypatch):
    """Each loop takes its convergence test from the metric observed in
    its checkpoint job: building the result runs no action."""
    from pyspark.sql.classic.dataframe import DataFrame

    from time_series_spark_spark.operators.graph import (
        bfs_hops,
        k_core,
        label_propagation,
    )

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(3, 10), (10, 11), (11, 12)], "a long, b long"
    )

    def _action(*args, **kwargs):
        raise AssertionError("action inside an iterative graph loop")

    with monkeypatch.context() as m:
        for name in ("collect", "count", "isEmpty", "first", "take", "toPandas"):
            m.setattr(DataFrame, name, _action)
        cc = connected_components(edges, "a", "b")
        core = k_core(edges, 3)
        hops = bfs_hops(edges, 0)
        lpa = label_propagation(edges, "a", "b")
    assert {tuple(r) for r in cc.collect()} == {
        (n, 0) for n in (0, 1, 2, 3, 10, 11, 12)
    }
    assert {tuple(r) for r in core.collect()} == {(n, 3) for n in range(4)}
    assert {tuple(r) for r in hops.collect()} == {
        (0, 0), (1, 1), (2, 1), (3, 1), (10, 2), (11, 3), (12, 4)
    }
    assert {r["id"] for r in lpa.collect()} == {0, 1, 2, 3, 10, 11, 12}


_LOOPS_WITH_CHECKPOINT_DIR = """
import json, os, sys

from time_series_spark_spark.operators import graph
from time_series_spark_spark.session import get_spark

spark = get_spark("graph-reliable-checkpoint", master="local[2]", shuffle_partitions=2)
c1 = [(i, j) for i in range(5) for j in range(5) if i < j]
c2 = [(i + 10, j + 10) for i in range(5) for j in range(5) if i < j]
path = [(i, i + 1) for i in range(20, 40)]
edges = spark.createDataFrame(c1 + c2 + [(4, 10)] + path, "a long, b long")


def rows(df):
    return sorted(
        [round(v, 12) if isinstance(v, float) else v for v in r]
        for r in df.collect()
    )


def n_files():
    return sum(len(fs) for _, _, fs in os.walk(sys.argv[1]))


LOOPS = {
    "connected_components": lambda: graph.connected_components(edges, "a", "b"),
    "k_core": lambda: graph.k_core(edges, 3),
    "bfs_hops": lambda: graph.bfs_hops(edges, 0),
    "label_propagation": lambda: graph.label_propagation(edges, "a", "b"),
    "pagerank": lambda: graph.pagerank(edges, "a", "b"),
}
local = {name: rows(loop()) for name, loop in LOOPS.items()}
spark.sparkContext.setCheckpointDir(sys.argv[1])
out = {}
for name, loop in LOOPS.items():
    before = n_files()
    out[name] = {"same": rows(loop()) == local[name], "wrote": n_files() > before}
print(json.dumps(out))
"""


def test_reliable_checkpoint_when_session_has_checkpoint_dir(tmp_path):
    """With a session checkpoint directory every loop cuts with reliable
    checkpoint(), writes its checkpoint files there and returns the same
    rows as with localCheckpoint(). Its own process: a checkpoint
    directory cannot be unset, and the shared test session must keep
    cutting locally."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    ckpt = tmp_path / "ckpt"
    env = {**os.environ, "PYTHONPATH": str(repo), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _LOOPS_WITH_CHECKPOINT_DIR, str(ckpt)],
        cwd=tmp_path, env=env, capture_output=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    got = json.loads(out.stdout.decode().strip().splitlines()[-1])
    assert got == dict.fromkeys(
        ("connected_components", "k_core", "bfs_hops", "label_propagation", "pagerank"),
        {"same": True, "wrote": True},
    )


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------
def test_pagerank_matches_dense_power_iteration(spark):
    """Spark PR == numpy dense power iteration on a random graph, to
    1e-9 — same damping, same iteration count, same symmetrized edges."""
    import numpy as np

    from time_series_spark_spark.operators.graph import pagerank

    rng = np.random.default_rng(9)
    n = 12
    raw = {(int(a), int(b)) for a, b in rng.integers(0, n, (30, 2)) if a != b}
    pairs = spark.createDataFrame(sorted(raw), "id_a long, id_b long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(pairs, damping=0.85, iters=20).collect()
    }
    # dense reference over the same symmetrized graph
    und = {(a, b) for a, b in raw} | {(b, a) for a, b in raw}
    ids = sorted({x for e in und for x in e})
    idx = {v: i for i, v in enumerate(ids)}
    m = len(ids)
    A = np.zeros((m, m))
    for a, b in und:
        A[idx[b], idx[a]] = 1.0
    A /= np.maximum(A.sum(axis=0), 1)[None, :]
    r = np.full(m, 1.0 / m)
    for _ in range(20):
        r = (1 - 0.85) / m + 0.85 * (A @ r)
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_symmetric_clique(spark):
    from time_series_spark_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(5) if a < b],
        "id_a long, id_b long",
    )
    out = pagerank(pairs, iters=5).collect()
    for r in out:
        assert abs(r["rank"] - 0.2) < 1e-12


def test_pagerank_star_center_dominates(spark):
    from time_series_spark_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 7)], "id_a long, id_b long"
    )
    out = {r["id"]: r["rank"] for r in pagerank(pairs, iters=25).collect()}
    assert out[0] > 3 * max(out[i] for i in range(1, 7))


# ---------------------------------------------------------------------------
# triangle_stats
# ---------------------------------------------------------------------------

def _tri(spark, edges):
    from time_series_spark_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(edges, "a long, b long")
    return triangle_stats(df).first().asDict()


def test_triangle_k4_complete(spark):
    # K4: 4 triangles, 6 edges, wedges = 4*C(3,2)=12, clustering 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = _tri(spark, k4)
    assert got == {
        "n_vertices": 4, "n_edges": 6, "n_wedges": 12,
        "n_triangles": 4, "global_clustering": 1.0,
    }


def test_triangle_path_has_none(spark):
    got = _tri(spark, [(0, 1), (1, 2), (2, 3)])
    assert got["n_triangles"] == 0
    assert got["n_wedges"] == 2  # two middle vertices, C(2,2)=1 each
    assert got["global_clustering"] == 0.0


def test_triangle_single_with_pendant(spark):
    # triangle 0-1-2 plus pendant edge 2-3: T=1, wedges C(2,2)+C(2,2)+C(3,2)+0 = 1+1+3 = 5
    got = _tri(spark, [(0, 1), (0, 2), (1, 2), (2, 3)])
    assert got["n_triangles"] == 1
    assert got["n_wedges"] == 5
    assert got["global_clustering"] == round(3.0 / 5, 6)


# ---------------------------------------------------------------------------
# bfs_hops
# ---------------------------------------------------------------------------

def test_bfs_hops_path_graph(spark):
    from time_series_spark_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    got = {
        (r["node"], r["hops"]) for r in bfs_hops(edges, 0).collect()
    }
    assert got == {(0, 0), (1, 1), (2, 2), (3, 3), (4, 4)}


def test_bfs_hops_respects_max_and_takes_shortest(spark):
    from time_series_spark_spark.operators.graph import bfs_hops

    # triangle 0-1-2 plus a long path 0-3-4-5: node 2 reachable in 1 hop
    # (direct edge), not 2 via node 1; max_hops=2 cuts node 5 off
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (0, 3), (3, 4), (4, 5)], "a long, b long"
    )
    got = {
        (r["node"], r["hops"])
        for r in bfs_hops(edges, 0, max_hops=2).collect()
    }
    assert got == {(0, 0), (1, 1), (2, 1), (3, 1), (4, 2)}


def test_bfs_hops_disconnected_unreached(spark):
    from time_series_spark_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (5, 6)], "a long, b long"
    )
    got = {(r["node"], r["hops"]) for r in bfs_hops(edges, 0).collect()}
    assert got == {(0, 0), (1, 1)}


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------

def _peel_reference(edges, k):
    """Driver-side reference peeling for small graphs."""
    es = set(map(tuple, edges))
    while True:
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        weak = {n for n, d in deg.items() if d < k}
        if not weak:
            return {n: d for n, d in deg.items()}
        es = {(u, v) for u, v in es if u not in weak and v not in weak}
        if not es:
            return {}


def test_k_core_clique_with_tree(spark):
    from time_series_spark_spark.operators.graph import k_core

    # K5 (every vertex degree 4) + a tree hanging off vertex 0: the tree
    # peels away entirely, K5 survives the 3-core intact
    k5 = [(a, b) for a in range(5) for b in range(5) if a < b]
    tree = [(0, 10), (10, 11), (10, 12), (11, 13)]
    edges = spark.createDataFrame(k5 + tree, "a long, b long")
    got = {
        (r["node"], r["core_degree"]) for r in k_core(edges, 3).collect()
    }
    assert got == {(n, 4) for n in range(5)}


def test_k_core_path_graph_empties(spark):
    from time_series_spark_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    assert k_core(edges, 2).count() == 0


def test_k_core_matches_reference_on_cosupply_slice(spark):
    from time_series_spark_spark.operators.graph import k_core
    from time_series_spark_spark.queries import REGISTRY

    got = {
        (r["node"], r["core_degree"])
        for r in REGISTRY["supplier_cosupply_kcore"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    from time_series_spark_spark.sources.io import load

    # rebuild the same edge set and peel on the driver
    li = (
        load(spark, "/root/testdata/sf0.001", "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    rows = li.collect()
    by_order = {}
    for r in rows:
        by_order.setdefault(r["l_orderkey"], []).append(r["l_suppkey"])
    edges = set()
    for ss in by_order.values():
        ss = sorted(set(ss))
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                edges.add((ss[i], ss[j]))
    want = set(_peel_reference(edges, 15).items())
    assert got == want


def test_lpa_splits_bridged_cliques_where_cc_does_not(spark):
    """Two 5-cliques bridged by a single edge: CC gives ONE component,
    deterministic LPA keeps TWO communities."""
    from time_series_spark_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    c1 = [(i, j) for i in range(5) for j in range(5) if i < j]
    c2 = [(i + 10, j + 10) for i in range(5) for j in range(5) if i < j]
    bridge = [(4, 10)]
    edges = spark.createDataFrame(c1 + c2 + bridge, ["a", "b"])

    cc = connected_components(edges, "a", "b")
    assert cc.select("component").distinct().count() == 1

    lpa = {r["id"]: r["community"] for r in label_propagation(edges, "a", "b").collect()}
    left = {lpa[i] for i in range(5)}
    right = {lpa[i + 10] for i in range(5)}
    assert len(left) == 1 and len(right) == 1
    assert left != right


def test_lpa_deterministic_across_runs(spark):
    from time_series_spark_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 23) for i in range(23)], ["a", "b"]
    )
    a = sorted(map(tuple, label_propagation(edges, "a", "b").collect()))
    b = sorted(map(tuple, label_propagation(edges, "a", "b").collect()))
    assert a == b


def test_sssp_bounded_matches_dijkstra_within_hops(spark):
    """G7: distances from sssp_bounded on a hand-built weighted graph
    equal an exhaustive <=4-edge path enumeration (planted: a direct
    heavy edge loses to a lighter 3-hop detour; a node 5 hops out is
    absent)."""
    import itertools

    from time_series_spark_spark.operators.graph import sssp_bounded

    # 0-1-2-3 chain weight 1 each; heavy shortcut 0-3 weight 10;
    # 3-4 w1, 4-5 w1, 5-6 w1 (6 is 6 hops from 0 -> absent)
    edges_py = [
        (0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 10),
        (3, 4, 1), (4, 5, 1), (5, 6, 1),
    ]
    edges = spark.createDataFrame(edges_py, "s1 long, s2 long, w long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, 0, max_rounds=4).collect()
    }

    # reference: min path weight over all simple paths with <= 4 edges
    adj = {}
    for u, v, w in edges_py:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    best = {0: 0}
    frontier = {0: 0}
    for _ in range(4):
        nxt = {}
        for node, d in frontier.items():
            for v, w in adj[node]:
                nd = d + w
                if nd < nxt.get(v, float("inf")):
                    nxt[v] = nd
        frontier = nxt
        for v, d in nxt.items():
            if d < best.get(v, float("inf")):
                best[v] = d
    assert got == best
    assert got[3] == 3  # light 3-hop detour beats the weight-10 shortcut
    # 6 is reachable in exactly 4 edges ONLY via the heavy shortcut
    # (0-3-4-5-6): the bound forces the worse path, by design
    assert got[6] == 13
    assert 0 in got and got[0] == 0


def test_sssp_bounded_fractional_weights_stay_double(spark):
    """Fractional edge weights must come back as exact doubles — the
    seed distance is cast to the weight column's type, not pinned long."""
    from time_series_spark_spark.operators.graph import sssp_bounded

    edges = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 0.25)], "s1 long, s2 long, w double"
    )
    got = {
        r["node"]: r["dist"]
        for r in sssp_bounded(edges, 0, max_rounds=3).collect()
    }
    assert got == {0: 0.0, 1: 0.5, 2: 0.75}
    fields = dict(sssp_bounded(edges, 0, max_rounds=1).dtypes)
    assert fields == {"node": "bigint", "dist": "double"}


def test_loop_invariant_edges_are_cut_once(spark):
    """bfs_hops and pagerank cut their symmetrized edges before the loop:
    a counting UDF on the edge input runs as often for 2 hops as for 8,
    and for 4 rounds as for 16."""
    from time_series_spark_spark.operators.graph import bfs_hops, pagerank

    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        calls.add(1)
        return x

    path = spark.createDataFrame([(i, i + 1) for i in range(12)], "a long, b long")
    edges = path.select(counted("a").alias("a"), "b")

    def evaluations(build):
        before = calls.value
        build().collect()
        return calls.value - before

    bfs = [evaluations(lambda h=h: bfs_hops(edges, 0, max_hops=h)) for h in (2, 4, 8)]
    pr = [evaluations(lambda n=n: pagerank(edges, "a", "b", iters=n)) for n in (4, 8, 16)]
    assert bfs[0] > 0 and len(set(bfs)) == 1, bfs
    assert pr[0] > 0 and len(set(pr)) == 1, pr
