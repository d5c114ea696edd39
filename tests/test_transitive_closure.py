"""`classes.transitive_closure` against a pure-Python BFS oracle, in its
plain, keyed and hops modes."""

import pytest

from rdf_dtdl_fabric_ontology_converter_spark import MAX_EXTENDS_DEPTH
from rdf_dtdl_fabric_ontology_converter_spark.operators.classes import (
    transitive_closure)

GRAPHS = {
    "chain": [("a", "b"), ("b", "c"), ("c", "d")],
    "diamond": [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")],
    "self_loop": [("a", "a"), ("a", "b")],
    "two_cycle": [("a", "b"), ("b", "a"), ("b", "c")],
    "chain25": [(f"n{i}", f"n{i + 1}") for i in range(25)],
}


def bfs_hops(edges):
    """{(src, dst): min(longest walk, MAX_EXTENDS_DEPTH)} by a BFS over
    (node, walk length) states. A walk longer than the cap implies one of
    length cap..cap+|nodes|, so that many levels decide every pair."""
    nodes = {n for e in edges for n in e}
    out = {}
    for s in nodes:
        frontier = {s}
        for length in range(1, MAX_EXTENDS_DEPTH + len(nodes) + 1):
            frontier = {d for n in frontier for c, d in edges if c == n}
            for d in frontier:
                out[(s, d)] = min(length, MAX_EXTENDS_DEPTH)
    return out


@pytest.mark.parametrize("mode", ["plain", "key", "hops"])
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_transitive_closure_matches_bfs(spark, graph, mode):
    edges = GRAPHS[graph]
    if mode == "key":
        # the second key closes the reversed graph: pairs must not mix
        rows = [("p", c, d) for c, d in edges] + \
            [("q", d, c) for c, d in edges]
        df = spark.createDataFrame(rows, "pred string, child string, "
                                         "parent string")
        got = {tuple(r) for r in transitive_closure(df, key=["pred"])
               .select("pred", "src", "dst").collect()}
        want = ({("p", *k) for k in bfs_hops(edges)} |
                {("q", *k) for k in bfs_hops([(d, c) for c, d in edges])})
    else:
        df = spark.createDataFrame(edges, "child string, parent string")
        closure = transitive_closure(df, hops=mode == "hops")
        if mode == "hops":
            got = {(r["src"], r["dst"]): r["hops"] for r in closure.collect()}
            want = bfs_hops(edges)
        else:
            got = {tuple(r) for r in closure.select("src", "dst").collect()}
            want = set(bfs_hops(edges))
    assert got == want
    if mode == "hops" and graph == "two_cycle":
        # a cycle's walks are unbounded: every pair on it sits at the cap
        assert got[("a", "a")] == got[("a", "b")] == MAX_EXTENDS_DEPTH
