"""Distributed connected components vs a driver union-find oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kblock_spark.ops import components
from kblock_spark.ops.components import (
    ComponentsNotConverged,
    connected_components,
    dup_clusters,
)


def _uf_components(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {x: min(y for y in parent if find(y) == find(x)) for x in parent}


def test_cc_matches_union_find(spark):
    rng = np.random.default_rng(11)
    # several chains + stars + isolated pairs over 400 vertices
    edges = []
    for start in range(0, 300, 30):  # chains of length 30 (deep graphs)
        for i in range(start, start + 29):
            edges.append((i, i + 1))
    for hub in range(300, 340, 10):
        for leaf in range(hub + 1, hub + 10):
            edges.append((hub, leaf))
    extra = rng.integers(340, 400, (20, 2))
    edges += [(int(a), int(b)) for a, b in extra if a != b]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    want = _uf_components(edges)
    assert got == want


def test_dup_clusters_keeper_semantics(spark):
    df = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 7)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in dup_clusters(df).collect()}
    assert rows[9]["keeper_doc_id"] == 1 and not rows[9]["is_keeper"]
    assert rows[1]["is_keeper"] and rows[2]["is_keeper"]
    assert rows[7]["keeper_doc_id"] == 2
    n_keepers = sum(1 for r in rows.values() if r["is_keeper"])
    assert n_keepers == 2  # one keeper per component


def test_cc_empty_edges_converge(spark):
    # the empty graph's label sum is NULL every round; it must still
    # stop at round 2 and return an empty result, not spin to the cap
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).collect() == []


def test_cc_raises_when_rounds_run_out(spark, monkeypatch):
    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    chain = [(i, i + 1) for i in range(29)]  # 30 vertices
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(ComponentsNotConverged):
        connected_components(df)
