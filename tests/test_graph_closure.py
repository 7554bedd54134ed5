"""The bounded nation-graph closures computed on the driver
(operators/graph.py): the BFS and Bellman-Ford helpers against brute
force, the five query forms against the same brute force for int and
long node keys with their output types pinned, and the five registered
queries against their DuckDB oracles at sf0.01."""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_streams_in_action_spark.operators import graph
from kafka_streams_in_action_spark.plans.queries import QUERIES
from kafka_streams_in_action_spark.plans.typecheck import (
    oracle_type_mismatches)

from .conftest import SF_DIR, TABLES, assert_frames_match

LONG_BASE = 2 ** 40      # keys past the int range
INT_TYPES = [("int", 0), ("bigint", LONG_BASE)]


def _walk_min_hops(adj, sources, k):
    """The oracles' recursive-CTE semantics, by enumeration: every walk of
    length ≤ k from a source (UNION ALL, no dedup), then min(length) per
    end node."""
    best = {}
    stack = [(s, 0) for s in sources]
    while stack:
        u, length = stack.pop()
        best[u] = min(best.get(u, length), length)
        if length < k:
            stack.extend((v, length + 1) for v, _w in adj.get(u, ()))
    return best


def _all_pairs_costs(adj, nodes):
    """Floyd-Warshall over cost 1 + w mod 4: {(u, v): min cost}."""
    d = {(u, u): 0 for u in nodes}
    for u, outs in adj.items():
        for v, w in outs:
            c = 1 + w % 4
            if c < d.get((u, v), c + 1):
                d[(u, v)] = c
    for m in nodes:
        for u in nodes:
            for v in nodes:
                if (u, m) in d and (m, v) in d:
                    c = d[(u, m)] + d[(m, v)]
                    if c < d.get((u, v), c + 1):
                        d[(u, v)] = c
    return d


@st.composite
def graphs(draw):
    """A node universe (some nodes isolated) with ≤ 3 out-edges per node
    — the top_edges shape — self-loops and cycles allowed, keys in the
    int range or past it."""
    n = draw(st.integers(1, 7))
    base = draw(st.sampled_from([0, LONG_BASE]))
    nodes = [base + i for i in range(n)]
    adj = {}
    for u in nodes:
        outs = draw(st.lists(st.sampled_from(nodes), max_size=3,
                             unique=True))
        if outs:
            adj[u] = [(v, draw(st.integers(1, 50))) for v in outs]
    sources = draw(st.lists(st.sampled_from(nodes), min_size=1,
                            max_size=n, unique=True))
    return nodes, adj, sources


@settings(max_examples=300, deadline=None)
@given(g=graphs(), k=st.one_of(st.none(), st.integers(0, 6)))
def test_min_hops_equals_walk_enumeration(g, k):
    nodes, adj, sources = g
    # a min-hop walk never repeats a node, so |V|-1 bounds the uncapped
    # closure's walks
    cap = len(nodes) - 1 if k is None else k
    assert graph._min_hops(adj, sources, k) == _walk_min_hops(
        adj, sources, cap)


@settings(max_examples=300, deadline=None)
@given(g=graphs())
def test_min_costs_equals_floyd_warshall(g):
    nodes, adj, sources = g
    d = _all_pairs_costs(adj, nodes)
    s = sources[0]
    assert graph._min_costs(adj, s) == {
        v: c for (u, v), c in d.items() if u == s}


def test_sql_literal_rejects_what_it_cannot_type():
    assert graph._sql_literal({1: (2, True)}) == "map(1, struct(2, true))"
    for v in (1.5, None, [1]):
        with pytest.raises(TypeError):
            graph._sql_literal(v)


# One graph with every shape the closures must handle: a 3-cycle, a
# self-loop, a tail into the cycle, a node only reachable in 4 hops, an
# isolated nation, and an edge node past the cap of the k-hop query.
_EDGES = [(0, 1, 5), (1, 2, 3), (2, 0, 9), (3, 3, 2), (3, 0, 1),
          (2, 4, 1), (4, 5, 7), (5, 6, 4), (6, 7, 2)]
_NATIONS = list(range(9))           # 8 is isolated
_REGION0 = {3, 8}


def _nation_and_edges(spark, key_type, base):
    nation = spark.createDataFrame(
        [(base + i, f"N{i}", 0 if i in _REGION0 else 1) for i in _NATIONS],
        f"n_nationkey {key_type}, n_name string, n_regionkey {key_type}")
    edges = spark.createDataFrame(
        [(base + s, base + d, w) for s, d, w in _EDGES],
        f"src {key_type}, dst {key_type}, w bigint")
    adj = {}
    for s, d, w in _EDGES:
        adj.setdefault(base + s, []).append((base + d, w))
    return nation, edges, adj


@pytest.mark.parametrize("key_type,base", INT_TYPES)
def test_graph_queries_match_brute_force(spark, key_type, base):
    nation, edges, adj = _nation_and_edges(spark, key_type, base)
    nodes = [base + i for i in _NATIONS]
    n_cap = len(nodes) - 1
    args = (None, None, None, None, nation)

    reach = graph.khop_reachability(*args, k=4, edges=edges)
    assert reach.dtypes == [("nationkey", key_type), ("nation", "string"),
                            ("hops", "int")]
    assert {r.nationkey: r.hops for r in reach.collect()} == \
        _walk_min_hops(adj, [base + i for i in _REGION0], 4)

    hops = {u: _walk_min_hops(adj, [u], n_cap) for u in nodes}
    close = graph.closeness_centrality(*args, max_hops=2, edges=edges)
    assert [t for _c, t in close.dtypes[2:]] == \
        ["bigint", "bigint", "bigint", "double"]
    for r in close.collect():
        h = list(_walk_min_hops(adj, [r.nationkey], 2).values())
        assert (r.n_reached, r.sum_hops, r.harmonic_x5040) == \
            (len(h), sum(h), sum(5040 // x for x in h if x))
        assert r.closeness == (
            (len(h) - 1) / sum(h) if sum(h) else None)

    scc = graph.scc_trade(*args, edges=edges)
    assert [t for _c, t in scc.dtypes[2:]] == ["bigint", "bigint"]
    label = {u: min(v for v in hops[u] if u in hops[v]) for u in nodes}
    assert {r.nationkey: (r.scc_label, r.scc_size)
            for r in scc.collect()} == {
        u: (label[u], list(label.values()).count(label[u]))
        for u in nodes}

    ecc = graph.eccentricity_trade(*args, edges=edges)
    assert [t for _c, t in ecc.dtypes[2:]] == \
        ["bigint", "int", "int", "int", "boolean", "boolean"]
    eccs = {u: max(hops[u].values()) for u in nodes}
    got = {r.nationkey: r for r in ecc.collect()}
    assert {u: (r.n_reachable, r.ecc) for u, r in got.items()} == \
        {u: (len(hops[u]), eccs[u]) for u in nodes}
    r0 = got[base]
    assert (r0.diameter, r0.radius) == (max(eccs.values()),
                                        min(eccs.values()))

    sssp = graph.sssp_trade(*args, source=base + 3, edges=edges)
    assert [t for _c, t in sssp.dtypes[2:]] == \
        ["bigint", "bigint", "boolean"]
    d = {v: c for (u, v), c in _all_pairs_costs(adj, nodes).items()
         if u == base + 3}
    got = {r.nationkey: r for r in sssp.collect()}
    assert {u: r.dist_cost for u, r in got.items()} == d
    assert {r.n_reached for r in got.values()} == {len(d)}
    assert {u for u, r in got.items() if r.is_farthest} == \
        {u for u, c in d.items() if c == max(d.values())}
    # a source that is not a nation reaches nothing, as in the oracle
    assert graph.sssp_trade(*args, source=base + 99,
                            edges=edges).count() == 0


SF001_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


@pytest.fixture(scope="module")
def duck001():
    if not os.path.isdir(SF001_DIR):
        pytest.skip(f"no sf0.01 testdata beside {SF_DIR}")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF001_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ["c38_reach", "c38_closeness", "c38_scc",
                                  "c38_eccentricity", "c38_sssp"])
def test_graph_queries_match_oracle_at_sf001(spark, duck001, name):
    """The default oracle sweep runs at sf0.001, where the trade graph is
    sparser; these five re-prove themselves at the larger scale too."""
    spec = QUERIES[name]
    sdf = spec.fn(spark, SF001_DIR)
    rel = duck001.sql(spec.oracle)
    assert not oracle_type_mismatches(sdf.dtypes, rel.columns, rel.types)
    assert_frames_match(sdf, duck001.execute(spec.oracle), context=name)
