"""Property-based checks (hypothesis) for the round-5 iterative graph
ops and the triangle enumerator they share with triangle_counts,
edge_support and clustering_coefficient: on random small graphs, the distributed DataFrame implementations
must equal independent pure-Python reference implementations — a
different failure surface than the hand-picked fixtures (random shapes
find cascade/tie/bound edge cases humans don't draw).

Example counts are kept small: every example runs real Spark jobs."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ebel_spark import graph as G

NODES = "abcdefgh"

edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)),
    min_size=1, max_size=14, unique=True,
)

weighted_edges_strategy = st.lists(
    st.tuples(st.sampled_from(NODES), st.sampled_from(NODES),
              st.integers(min_value=1, max_value=3)),
    min_size=1, max_size=12,
    unique_by=lambda t: (t[0], t[1]),
)

_SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_sssp(edges, sources, rounds):
    """Bounded synchronous Bellman-Ford, pure Python."""
    dist = {s: 0 for s in sources}
    for _ in range(rounds):
        new = dict(dist)
        for u, v, c in edges:
            if u in dist and dist[u] + c < new.get(v, float("inf")):
                new[v] = dist[u] + c
        dist = new
    return dist


def _py_ktruss(edges, k):
    """Exact k-truss by iterative peeling, pure Python.  Returns
    {(a, b): support-in-final-subgraph} over canonical a < b edges."""
    und = {tuple(sorted((u, v))) for u, v in edges if u != v}

    def supports(es):
        out = {}
        for a, b in es:
            n = sum(1 for c in NODES
                    if tuple(sorted((a, c))) in es
                    and tuple(sorted((b, c))) in es and c not in (a, b))
            out[(a, b)] = n
        return out

    while True:
        sup = supports(und)
        drop = {e for e, s in sup.items() if s < k - 2}
        if not drop:
            return sup
        und -= drop


def _py_shortest_cycles(edges, max_len):
    """For every non-self-loop edge: shortest cycle length <= max_len
    it lies on (BFS from head back to tail), pure Python."""
    es = {(u, v) for u, v in edges if u != v}
    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
    out = {}
    for u, v in es:
        # shortest hops v -> u, bounded by max_len - 1
        frontier, seen, hops = {v}, {v}, 0
        found = None
        while frontier and hops < max_len - 1 and found is None:
            hops += 1
            nxt = set()
            for x in frontier:
                for y in adj.get(x, ()):
                    if y == u:
                        found = hops
                        break
                    if y not in seen:
                        seen.add(y)
                        nxt.add(y)
                if found is not None:
                    break
            frontier = nxt
        if found is not None:
            out[(u, v)] = found + 1
    return out


def _py_triangles(edges):
    """Triangles of the undirected simple graph, pure Python.  Returns
    (degree per node, triangles per node, triangles per canonical
    a < b edge)."""
    und = {tuple(sorted((u, v))) for u, v in edges if u != v}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tris = {tuple(sorted((a, b, c)))
            for a, b in und for c in nbrs[a] & nbrs[b]}
    per_node = Counter(n for t in tris for n in t)
    per_edge = Counter(e for a, b, c in tris
                       for e in ((a, b), (a, c), (b, c)))
    return {n: len(s) for n, s in nbrs.items()}, per_node, per_edge


class TestGraphOpsVsPythonReference:
    @_SETTINGS
    @given(weighted_edges_strategy)
    def test_sssp_matches_bellman_ford(self, spark, wedges):
        df = spark.createDataFrame(wedges, ["u", "v", "cost"])
        sources = sorted({u for u, _, _ in wedges})[:1]
        src = spark.createDataFrame([(s,) for s in sources], ["bel"])
        got = {r["bel"]: r["dist"]
               for r in G.sssp_relax(df, src, rounds=4).collect()}
        want = _py_sssp(wedges, sources, rounds=4)
        assert got == want

    @_SETTINGS
    @given(edges_strategy)
    def test_ktruss_fixpoint_matches_python_peeling(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        rows = G.ktruss_peel(df, k=3, rounds=None, max_rounds=20).collect()
        got = {(r["a"], r["b"]): r["support"] for r in rows}
        assert all(r["converged"] for r in rows)
        assert got == _py_ktruss(edges, k=3)

    @_SETTINGS
    @given(edges_strategy)
    def test_cycle_edges_matches_python_bfs(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        got = {(r["u"], r["v"]): r["cycle_len"]
               for r in G.cycle_edges(df, max_len=4).collect()}
        assert got == _py_shortest_cycles(edges, max_len=4)

    @_SETTINGS
    @given(edges_strategy)
    def test_triangle_ops_match_python_count(self, spark, edges):
        df = spark.createDataFrame(edges, ["u", "v"])
        degree, per_node, per_edge = _py_triangles(edges)
        got = {r["bel"]: r["n_triangles"]
               for r in G.triangle_counts(df).collect()}
        assert got == dict(per_node)
        got = {(r["a"], r["b"]): r["support"]
               for r in G.edge_support(df).collect()}
        assert got == dict(per_edge)
        rows = G.clustering_coefficient(df).collect()
        assert {r["bel"]: (r["degree"], r["n_triangles"]) for r in rows} == {
            n: (d, per_node[n]) for n, d in degree.items() if d >= 2}
        for r in rows:
            d = r["degree"]
            assert r["lcc"] == pytest.approx(
                2 * r["n_triangles"] / (d * (d - 1)), abs=1e-6)
