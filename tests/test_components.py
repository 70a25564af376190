"""Direct unit tests for the large-star/small-star connected components.

Oracle: a driver-side union-find over the same edges, for both the
distributed star-round fixpoint and the small-graph driver fast path.
"""

from __future__ import annotations

import random

import pytest

from rust_gd_spark.operators.components import connected_components


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min member id per component
    comp: dict[int, int] = {}
    for n in list(parent):
        comp[n] = find(n)
    return comp


def _spark_components(spark, edges, **kw) -> dict[int, int]:
    # Pin the distributed fixpoint unless a test opts into the adaptive
    # driver union-find: the library default (GD_CC_SMALL_GRAPH_ROWS =
    # 2M) would route every test-sized graph through the fast path and
    # leave the 100 TB code path untested.
    kw.setdefault("small_graph_rows", 0)
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.component for r in connected_components(df, **kw).collect()
    }


EDGE_SETS = {
    "path": [(i, i + 1) for i in range(40)],  # diameter 40 — worst case
    "star": [(0, i) for i in range(1, 30)],
    "two_cliques": [(a, b) for a in range(5) for b in range(a + 1, 5)]
    + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)],
    "random": None,  # filled below
}
rng = random.Random(7)
EDGE_SETS["random"] = [
    (rng.randrange(200), rng.randrange(200)) for _ in range(300)
]


@pytest.mark.parametrize("name", sorted(EDGE_SETS))
def test_components_match_union_find(spark, name):
    edges = EDGE_SETS[name]
    got = _spark_components(spark, edges)
    want = _uf_components(edges)
    # union-find includes self-loop-only nodes identically; drop self loops
    want = {n: c for n, c in want.items() if any(a != b for a, b in edges if n in (a, b))}
    assert got == want


@pytest.mark.parametrize("name", sorted(EDGE_SETS))
def test_small_graph_fast_path_matches_distributed(spark, name):
    edges = EDGE_SETS[name]
    dist = _spark_components(spark, edges)
    fast = _spark_components(spark, edges, small_graph_rows=10_000)
    assert fast == dist


def test_small_graph_empty_edges(spark):
    # all-singleton corpus: zero edges must yield zero components, not an
    # IndexError from an empty (hence float64) roots array
    assert _spark_components(spark, [], small_graph_rows=10) == {}


def test_small_graph_over_budget_falls_through(spark):
    edges = EDGE_SETS["random"]
    # bound smaller than the edge set: must fall through to the fixpoint
    assert _spark_components(spark, edges, small_graph_rows=3) == \
        _spark_components(spark, edges)


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path):
    """checkpoint_dir switches every lineage truncation to reliable
    df.checkpoint() files (the executor-loss-resume mode): identical
    fixpoint, and the directory actually receives RDD checkpoint data."""
    import os

    rng = random.Random(11)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    want = _spark_components(spark, edges)
    ckpt = str(tmp_path / "cc_ckpt")
    got = _spark_components(spark, edges, checkpoint_dir=ckpt)
    assert got == want
    written = [
        os.path.join(root, f)
        for root, _, files in os.walk(ckpt)
        for f in files
    ]
    assert written, "reliable mode must write checkpoint files"
