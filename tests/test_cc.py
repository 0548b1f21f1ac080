"""Connected components vs a union-find oracle (the reference's union-find,
grouper.rs:277-290, reimplemented here only as test oracle)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from cargo_dupes_spark.operators import connected_components as cc
from cargo_dupes_spark.operators.connected_components import (
    connected_components,
    connected_components_ids,
)


def _uf(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


@pytest.mark.parametrize("driver_threshold", [0, 1_000_000])
@pytest.mark.parametrize(
    "name,edges",
    [
        ("path", [(i, i + 1) for i in range(60)]),  # worst case for label prop
        ("star", [(0, i) for i in range(1, 40)]),
        ("two_cliques", [(i, j) for i in range(6) for j in range(i)]
         + [(10 + i, 10 + j) for i in range(6) for j in range(i)]),
        ("self_loops", [(1, 1), (1, 2), (3, 3)]),
    ],
)
def test_against_union_find(spark, monkeypatch, name, edges, driver_threshold):
    """threshold=0 forces the distributed large/small-star loop;
    threshold=1M takes the driver union-find — identical labels required."""
    monkeypatch.setattr(cc, "DRIVER_CC_THRESHOLD", driver_threshold)
    edges_ne = [(a, b) for a, b in edges if a != b]
    nodes = sorted({x for e in edges_ne for x in e})
    if not nodes:
        return
    expected = _uf(edges_ne, nodes)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in connected_components_ids(df).collect()
    }
    assert got == expected


def test_random_graphs(spark, monkeypatch):
    rng = random.Random(7)
    for _ in range(2):
        n = 300
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        expected = _uf(edges, nodes)
        df = spark.createDataFrame(edges, "src long, dst long")
        for thr in (0, 1_000_000):  # both execution paths, same labels
            monkeypatch.setattr(cc, "DRIVER_CC_THRESHOLD", thr)
            got = {
                r.node: r.component
                for r in connected_components_ids(df).collect()
            }
            assert got == expected


def test_url_level_clustering(spark):
    edges = spark.createDataFrame(
        [("u1", "u2"), ("u2", "u3"), ("u9", "u8")],
        "url_a string, url_b string",
    )
    got = {
        r.url: r.cluster_id for r in connected_components(edges).collect()
    }
    assert got["u1"] == got["u2"] == got["u3"]
    assert got["u8"] == got["u9"]
    assert got["u1"] != got["u8"]
    # labels are member urls (deterministic center)
    assert got["u1"] in {"u1", "u2", "u3"}


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components_ids(edges).count() == 0
