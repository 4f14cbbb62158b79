"""CC correctness on adversarial graphs: chains, cycles, stars, and one
large component (FIXTURES.md §6), asserted against a pure-Python
union-find oracle — for both solvers: the driver solve that the public
entry takes for these small graphs, and the round-based path taken past
BROADCAST_MAX_ROWS edges, called directly."""

from __future__ import annotations

import numpy as np
import pytest

from wikidata_wikifier_spark import datagen
from wikidata_wikifier_spark.operators import connected_components as cc_module
from wikidata_wikifier_spark.operators.connected_components import (
    _connected_components_rounds,
    _min_labels,
    connected_components,
)


def uf_oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


GRAPHS = {
    "chain": [(f"Q{i:03d}", f"Q{i+1:03d}") for i in range(0, 99)],
    "cycle": [(f"C{i}", f"C{(i+1) % 7}") for i in range(7)],
    "two_triangles_bridge": [
        ("A1", "A2"), ("A2", "A3"), ("A3", "A1"),
        ("B1", "B2"), ("B2", "B3"), ("B3", "B1"),
        ("A3", "B1"),
        ("Z1", "Z2"),
    ],
    "star": [("HUB", f"S{i:02d}") for i in range(20)],
    "self_loops_and_dups": [("X", "X"), ("X", "Y"), ("Y", "X"), ("X", "Y")],
}


# public entry (driver solve) ids stay bare; the round path gets "-rounds"
SOLVER_CASES = [pytest.param(n, connected_components, id=n) for n in sorted(GRAPHS)] + [
    pytest.param(n, _connected_components_rounds, id=f"{n}-rounds") for n in sorted(GRAPHS)
]


@pytest.mark.parametrize("name,solve", SOLVER_CASES)
def test_cc_matches_union_find(spark, name, solve):
    edges = GRAPHS[name]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in solve(df).collect()}
    want = uf_oracle(edges)
    assert got == want, f"{name}: {got} != {want}"


def test_cc_deterministic_across_parallelism(spark):
    edges = GRAPHS["chain"] + GRAPHS["star"] + GRAPHS["cycle"]
    df1 = spark.createDataFrame(edges, ["src", "dst"]).repartition(1)
    df8 = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    r1 = sorted(map(tuple, connected_components(df1).collect()))
    r8 = sorted(map(tuple, connected_components(df8).collect()))
    assert r1 == r8


# null endpoints, a self-loop, and non-BMP text: byte order puts "Z" <
# U+FFFD < U+1F600 (UTF-16 order would put the emoji before U+FFFD)
EDGE_CASES = [("A", None), (None, None), ("B", "C"), ("X", "X"), ("\U0001F600", "\uFFFD"),
              ("\uFFFD", "Z")]
EDGE_CASES_WANT = [("A", "A"), ("B", "B"), ("C", "B"), ("X", "X"), ("Z", "Z"),
                   ("\uFFFD", "Z"), ("\U0001F600", "Z"), (None, None)]


def _by_node(rows):
    return sorted(map(tuple, rows), key=lambda r: (r[0] is None, (r[0] or "").encode()))


@pytest.mark.parametrize("solve", [connected_components, _connected_components_rounds],
                         ids=["driver", "rounds"])
def test_cc_nulls_self_loops_byte_order(spark, solve):
    df = spark.createDataFrame(EDGE_CASES, "src string, dst string")
    assert _by_node(solve(df).collect()) == EDGE_CASES_WANT


@pytest.mark.parametrize("solve", [connected_components, _connected_components_rounds],
                         ids=["driver", "rounds"])
def test_cc_no_edges(spark, solve):
    df = spark.createDataFrame([], "src string, dst string")
    out = solve(df)
    assert out.columns == ["node", "component"]
    assert out.collect() == []


def test_cc_small_graph_runs_at_most_three_jobs(spark):
    """A graph within the driver-solve bound is collected once and labeled
    on the driver; the round path takes 77 jobs on this graph."""
    df = datagen.alias_edges_df(spark, n_entities=200)
    df.count()
    store = spark.sparkContext._jsc.sc()

    def n_jobs() -> int:
        store.listenerBus().waitUntilEmpty()
        return store.statusStore().jobsList(None).size()

    before = n_jobs()
    rows = connected_components(df).collect()
    assert n_jobs() - before <= 3
    want = uf_oracle([(r["src"], r["dst"]) for r in df.collect()])
    assert {r["node"]: r["component"] for r in rows} == want


def test_cc_driver_solve_reports_node_count(spark):
    stats: dict = {}
    df = spark.createDataFrame(GRAPHS["two_triangles_bridge"], ["src", "dst"])
    out = connected_components(df, stats=stats)
    assert stats == {"n_nodes": out.count()} == {"n_nodes": 8}


def test_cc_past_the_bound_takes_the_round_path(spark, monkeypatch):
    monkeypatch.setattr(cc_module, "BROADCAST_MAX_ROWS", 4)
    stats: dict = {}
    edges = GRAPHS["two_triangles_bridge"]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["component"] for r in connected_components(df, stats=stats).collect()}
    assert got == uf_oracle(edges)
    assert stats == {}  # a round-solved map's size is not known


@pytest.mark.parametrize("seed", range(5))
def test_min_labels_random_graphs(seed):
    """The numpy solver alone, on random sparse graphs whose components
    need several hook rounds (ids unordered along the paths)."""
    rng = np.random.default_rng(seed)
    n = 2_000
    u = rng.integers(0, n, 1_500)
    v = rng.integers(0, n, 1_500)
    got = _min_labels(n, u, v)
    want = uf_oracle([(int(a), int(b)) for a, b in zip(u, v)])
    assert all(got[x] == c for x, c in want.items())
    untouched = np.setdiff1d(np.arange(n), np.concatenate([u, v]))
    assert (got[untouched] == untouched).all()
