"""`resolve_graph`: one handle per graph query, on both sides of the
kernel gate, with the raw-collect gate derived from driver memory."""

from __future__ import annotations

from pathlib import Path

import pytest
from test_oracle_parity import _normalize

GATED = [
    "g2_degree_centrality",
    "g5_eigenvector_centrality",
    "g6_pagerank",
    "g7_connected_components",
    "g4c_closeness_sampled",
    "g3b_betweenness_sampled",
    "influencer_composite_top20",
]


def test_kernel_and_loop_tiers_agree_and_build_edges_once(
    spark, sf001_dir, monkeypatch
):
    """Every graph query returns the same rows on the kernel tier and
    on the distributed loops (`graphKernelMaxEdges=0`), and on the loop
    tier the edge aggregate is built exactly once per query — the
    resolved handle's materialized frame feeds every loop."""
    from reddit_can_bigdata_spark.operators import graph
    from reddit_can_bigdata_spark.operators.graphkernel import (
        GRAPH_KERNEL_MAX_EDGES_CONF,
    )
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    builds = []
    real_edges = graph._edges

    def spy(spark, sf_dir):
        builds.append(sf_dir)
        return real_edges(spark, sf_dir)

    monkeypatch.setattr(graph, "_edges", spy)

    def rows(name):
        df = REGISTRY[name].fn(spark, sf001_dir)
        return _normalize([tuple(r) for r in df.collect()], df.columns)

    kernel = {name: rows(name) for name in GATED}
    loop, calls = {}, {}
    try:
        spark.conf.set(GRAPH_KERNEL_MAX_EDGES_CONF, "0")
        for name in GATED:
            builds.clear()
            loop[name] = rows(name)
            calls[name] = len(builds)
    finally:
        spark.conf.unset(GRAPH_KERNEL_MAX_EDGES_CONF)
    for name in GATED:
        assert loop[name] == kernel[name], name
    assert calls == dict.fromkeys(GATED, 1)


@pytest.fixture
def sf01_dir(sf_dir) -> str:
    path = Path(sf_dir).parent / "sf0.1"
    if not (path / "lineitem.parquet").exists():
        pytest.skip("sf0.1 fixture dir not available next to TEST_SF_DIR")
    return str(path)


@pytest.mark.parametrize(
    "driver_memory, gate",
    [("8g", (8 << 30) // 7), ("3g", (3 << 30) // 7), (None, (1 << 30) // 7)],
)
def test_raw_gate_follows_driver_memory(
    spark, sf01_dir, monkeypatch, driver_memory, gate
):
    """The raw-collect gate is spark.driver.memory ÷ 7 (Spark's 1g
    default when unset): ≈ 1.14 GiB for 8g, 439 MiB for 3g, 146 MiB
    unset — each admits the 11 MB sf0.1 lineitem, which therefore
    resolves to arrays without a distributed edge build."""
    from reddit_can_bigdata_spark.operators import graph
    from reddit_can_bigdata_spark.operators import graphkernel as gk

    monkeypatch.setattr(gk, "_driver_memory", lambda spark: driver_memory)
    monkeypatch.setattr(graph, "_edges", None)  # a distributed build would raise
    assert gk.raw_gate_bytes(spark) == gate
    g = gk.resolve_graph(spark, sf01_dir)
    assert g.arrays is not None and g.arrays.n_nodes == 1000


def test_raw_gate_miss_materializes_the_aggregate(spark, sf_dir, monkeypatch):
    """A raw gate smaller than the lineitem file sends resolution through
    the distributed aggregate: the handle then carries the materialized
    frame (no lineitem scan left in its plan) and the same CSR."""
    from reddit_can_bigdata_spark.operators import graphkernel as gk

    raw = gk.resolve_graph(spark, sf_dir)
    monkeypatch.setattr(gk, "RAW_COLLECT_RSS_RATIO", 1 << 40)
    assert gk.raw_gate_bytes(spark) == 0
    g = gk.resolve_graph(spark, sf_dir)
    plan = g.edges._jdf.queryExecution().optimizedPlan().toString()
    assert "lineitem" not in plan and "Relation" not in plan, plan
    assert _adjacency(g.arrays) == _adjacency(raw.arrays)


def _adjacency(ga) -> list[tuple[int, int, int]]:
    """(node, neighbor, weight) triples — CSR rows list neighbors in
    input-row order, which differs between the two collections."""
    src = ga.nodes[ga.indptr.searchsorted(range(ga.n_sym_edges), "right") - 1]
    return sorted(zip(src.tolist(), ga.nodes[ga.indices].tolist(), ga.weights.tolist()))
