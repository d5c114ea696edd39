"""Basic-graph-pattern matching (operators/bgp.py).

Mirrors the reference's nested triple-pattern loops
(property_extractor.py:72-77, class_resolver.py:98-123) as declarative
conjunctive queries, plus the SPARQL 1.1 ``p+`` property path.
"""

from __future__ import annotations

import pytest

from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import match_bgp

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
CLS = "http://www.w3.org/2002/07/owl#Class"


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("ex:A", RDF_TYPE, CLS),
        ("ex:B", RDF_TYPE, CLS),
        ("ex:C", RDF_TYPE, CLS),
        ("ex:B", SUB, "ex:A"),
        ("ex:C", SUB, "ex:B"),
        ("ex:D", SUB, "ex:C"),
        ("ex:A", LABEL, "alpha"),
        ("ex:B", LABEL, "beta"),
        ("ex:self", "ex:loves", "ex:self"),
        ("ex:x", "ex:loves", "ex:self"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_single_pattern_constant_predicate(triples):
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)])
    assert out.columns == ["c"]
    assert {r.c for r in out.collect()} == {"ex:A", "ex:B", "ex:C"}


def test_conjunction_joins_on_shared_variable(triples):
    # typed classes that have a label AND a declared superclass
    out = match_bgp(triples, [
        ("?c", RDF_TYPE, CLS),
        ("?c", SUB, "?p"),
        ("?c", LABEL, "?l"),
    ], select=["c", "p", "l"])
    assert [tuple(r) for r in out.collect()] == [("ex:B", "ex:A", "beta")]


def test_repeated_variable_within_pattern(triples):
    out = match_bgp(triples, [("?x", "ex:loves", "?x")])
    assert [r.x for r in out.collect()] == ["ex:self"]


def test_filter_expr(triples):
    out = match_bgp(triples, [("?c", LABEL, "?l")],
                    filter_expr="l LIKE 'a%'", select=["c"])
    assert [r.c for r in out.collect()] == ["ex:A"]


def test_property_path_one_or_more(triples):
    # D -> C -> B -> A needs a genuine multi-hop closure
    out = match_bgp(triples, [("?x", SUB + "+", "ex:A")])
    assert {r.x for r in out.collect()} == {"ex:B", "ex:C", "ex:D"}
    pairs = match_bgp(triples, [("?x", SUB + "+", "?y")])
    assert pairs.count() == 3 + 2 + 1  # full chain closure


def test_property_path_zero_or_more(triples):
    # constant subject: zero-length pair (D, D) + the chain closure
    out = match_bgp(triples, [("ex:D", SUB + "*", "?y")])
    assert {r.y for r in out.collect()} == {"ex:D", "ex:C", "ex:B", "ex:A"}
    # ALP seeds the constant endpoint even when it never occurs in the
    # graph (SPARQL 1.1 §18.4: X is visited before any step is taken)
    out2 = match_bgp(triples, [("ex:nowhere", SUB + "*", "?y")])
    assert [r.y for r in out2.collect()] == ["ex:nowhere"]
    # both endpoints variables: identity over every graph term + closure
    pairs = match_bgp(triples, [("?x", SUB + "*", "?y")])
    n_terms = 9   # distinct subj ∪ obj of the fixture
    n_closure = 3 + 2 + 1
    assert pairs.count() == n_terms + n_closure


def test_property_path_zero_or_one(triples):
    # zero-or-one into a constant object: the reflexive pair must not
    # double-count against the self-loop edge (ex:self loves ex:self)
    out = match_bgp(triples, [("?x", "ex:loves?", "ex:self")],
                    distinct=False)
    assert sorted(r.x for r in out.collect()) == ["ex:self", "ex:x"]
    # composes with plain patterns: optional one-hop then a label
    out2 = match_bgp(triples, [("ex:B", SUB + "?", "?c"),
                               ("?c", LABEL, "?l")])
    assert {(r.c, r.l) for r in out2.collect()} == {
        ("ex:B", "beta"), ("ex:A", "alpha")}


def test_path_composes_with_plain_patterns(triples):
    # ancestors of D that are typed classes (D itself is untyped)
    out = match_bgp(triples, [
        ("ex:D", SUB + "+", "?a"),
        ("?a", RDF_TYPE, CLS),
    ])
    assert {r.a for r in out.collect()} == {"ex:A", "ex:B", "ex:C"}


def test_disconnected_patterns_raise_without_opt_in(triples):
    with pytest.raises(ValueError, match="Cartesian"):
        match_bgp(triples, [("?a", LABEL, "?l1"), ("?b", RDF_TYPE, "?t")])
    out = match_bgp(triples, [("?a", LABEL, "?l1"), ("?b", RDF_TYPE, "?t")],
                    allow_product=True)
    assert out.count() == 2 * 3


def test_fully_constant_pattern_raises_in_conjunction(triples):
    with pytest.raises(ValueError, match="fully-constant"):
        match_bgp(triples, [("ex:A", RDF_TYPE, CLS), ("?c", SUB, "?p")])


def test_unbound_select_raises(triples):
    with pytest.raises(ValueError, match="not.*bound|not bound"):
        match_bgp(triples, [("?c", RDF_TYPE, CLS)], select=["nope"])


def test_multiset_semantics_without_distinct(triples):
    # two subjects love ex:self -> projecting only the object keeps both
    out = match_bgp(triples, [("?who", "ex:loves", "?whom")],
                    select=["whom"], distinct=False)
    assert [r.whom for r in out.collect()] == ["ex:self", "ex:self"]
    assert match_bgp(triples, [("?who", "ex:loves", "?whom")],
                     select=["whom"]).count() == 1


def test_optional_left_join_semantics(triples):
    # every typed class, optionally with its label: C has no label row
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    optional=[[("?c", LABEL, "?l")]])
    got = {r.c: r.l for r in out.collect()}
    assert got == {"ex:A": "alpha", "ex:B": "beta", "ex:C": None}


def test_optional_group_conjunction(triples):
    # optional group with TWO patterns: superclass that is itself typed
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    optional=[[("?c", SUB, "?p"),
                               ("?p", RDF_TYPE, CLS)]])
    got = {r.c: r.p for r in out.collect()}
    # B ⊑ A (A typed) matches; C ⊑ B (B typed) matches; A has no parent
    assert got == {"ex:A": None, "ex:B": "ex:A", "ex:C": "ex:B"}


def test_optional_must_share_a_variable(triples):
    with pytest.raises(ValueError, match="OPTIONAL"):
        match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                  optional=[[("?z", "ex:loves", "?w")]])


def test_inverse_path(triples):
    # ^subClassOf flips the edge: direct subclasses of A
    out = match_bgp(triples, [("ex:A", "^" + SUB, "?sub")])
    assert {r.sub for r in out.collect()} == {"ex:B"}
    # inverse in a conjunction: superclass-of pattern joins like any other
    out = match_bgp(triples, [("?c", "^" + SUB, "?sub"),
                              ("?sub", LABEL, "?l")], select=["c", "l"])
    assert [tuple(r) for r in out.collect()] == [("ex:A", "beta")]


def test_inverse_path_closure(triples):
    # (^subClassOf)+ = all descendants; closure-of-inverse == inverse-of-closure
    out = match_bgp(triples, [("ex:A", "^" + SUB + "+", "?d")])
    assert {r.d for r in out.collect()} == {"ex:B", "ex:C", "ex:D"}


def test_alternation_path(triples):
    # label|subClassOf from B: one value per branch
    out = match_bgp(triples, [("ex:B", LABEL + "|" + SUB, "?v")])
    assert {r.v for r in out.collect()} == {"beta", "ex:A"}


def test_alternation_closure_unions_before_closing(triples, spark):
    # two-relation chain A -equiv-> B -sub-> C: neither predicate alone
    # reaches C from A, the closed UNION does ((sub|equiv)+ semantics)
    extra = spark.createDataFrame(
        [("ex:A2", "ex:equiv", "ex:B2"), ("ex:B2", SUB, "ex:C2")],
        ["subj", "pred", "obj"])
    out = match_bgp(triples.unionByName(extra),
                    [("ex:A2", SUB + "|ex:equiv+", "?y")])
    assert {r.y for r in out.collect()} == {"ex:B2", "ex:C2"}
    for pred in (SUB, "ex:equiv"):
        assert match_bgp(triples.unionByName(extra),
                         [("ex:A2", pred + "+", "?y")]).count() <= 1


def test_bad_path_atom_raises(triples):
    # "a^b" alone is NOT here: without a leading ^, a |, or a trailing +
    # nothing triggers path parsing, so it stays a plain constant
    for bad in ("a|", "^", "a|^", "a|x^y", "a|?v"):
        with pytest.raises(ValueError, match="bad path atom"):
            match_bgp(triples, [("?x", bad, "?y")])


def test_ask(triples):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import ask
    assert ask(triples, [("?x", SUB + "+", "ex:A")]) is True
    assert ask(triples, [("ex:A", SUB, "?p")]) is False  # A has no parent
    with pytest.raises(ValueError, match="no meaning"):
        ask(triples, [("?x", SUB, "?y")], select=["x"])


@pytest.fixture(scope="module")
def quads(spark):
    rows = [
        ("ex:a", "ex:p", "ex:b", "ex:g1"),
        ("ex:b", "ex:p", "ex:c", "ex:g1"),
        ("ex:a", "ex:p", "ex:z", "ex:g2"),
        ("ex:a", "ex:q", "ex:b", None),  # default graph
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj", "graph_ctx"])


def test_quad_constant_graph_filters(quads):
    out = match_bgp(quads, [("?s", "ex:p", "?o", "ex:g2")])
    assert [(r.s, r.o) for r in out.collect()] == [("ex:a", "ex:z")]


def test_quad_graph_variable_binds_named_graphs_only(quads):
    out = match_bgp(quads, [("ex:a", "?p", "?o", "?g")])
    got = {(r.p, r.o, r.g) for r in out.collect()}
    # the default-graph row (graph_ctx NULL) must NOT bind ?g
    assert got == {("ex:p", "ex:b", "ex:g1"), ("ex:p", "ex:z", "ex:g2")}


def test_quad_triple_pattern_spans_all_graphs(quads):
    # plain triple pattern = union default graph: all 3 ex:p rows + none lost
    out = match_bgp(quads, [("ex:a", "?p", "?o")])
    assert out.count() == 3


def test_quad_graph_variable_joins_across_patterns(quads):
    # both patterns inside the SAME named graph: the g1 2-hop chain only
    # (a->b->c in g1; a->z in g2 has no second hop)
    out = match_bgp(quads, [("?x", "ex:p", "?y", "?g"),
                            ("?y", "ex:p", "?z", "?g")])
    assert [tuple(r) for r in out.select("x", "y", "z", "g").collect()] == \
        [("ex:a", "ex:b", "ex:c", "ex:g1")]


def test_quad_closure_inside_constant_graph(quads):
    # p+ under GRAPH ex:g1 stays inside g1: a reaches b and c, not z
    out = match_bgp(quads, [("ex:a", "ex:p+", "?y", "ex:g1")])
    assert {r.y for r in out.collect()} == {"ex:b", "ex:c"}


def test_quad_graph_variable_with_path_raises(quads):
    with pytest.raises(ValueError, match="graph variable"):
        match_bgp(quads, [("ex:a", "ex:p+", "?y", "?g")])


def test_union_same_variables(triples):
    # { ?c subClassOf ex:A } UNION { ?c rdf:type owl:Class }
    out = match_bgp(triples, [("?c", SUB, "ex:A")],
                    union=[[("?c", RDF_TYPE, CLS)]])
    assert {r.c for r in out.collect()} == {"ex:A", "ex:B", "ex:C"}


def test_union_disjoint_variables_null_fill(triples):
    # branches binding different variables: NULLs on the missing side
    out = match_bgp(triples, [("?c", LABEL, "?l")],
                    union=[[("?x", "ex:loves", "ex:self")]],
                    distinct=False)
    rows = {(r.c, r.l, r.x) for r in out.collect()}
    assert ("ex:A", "alpha", None) in rows
    assert (None, None, "ex:x") in rows and (None, None, "ex:self") in rows
    assert len(rows) == 4


def test_union_multiset_and_distinct(triples):
    # same solution from both branches: multiset keeps 2, DISTINCT keeps 1
    dup = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    union=[[("?c", RDF_TYPE, CLS)]], distinct=False)
    assert dup.count() == 6
    assert match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                     union=[[("?c", RDF_TYPE, CLS)]]).count() == 3


def test_minus_removes_compatible_solutions(triples):
    # typed classes MINUS those with a label -> only C survives
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    minus=[[("?c", LABEL, "?l")]])
    assert {r.c for r in out.collect()} == {"ex:C"}


def test_minus_null_shared_var_is_kept(triples):
    # SPARQL §18.5 disjoint-domain rule: a solution whose shared variable
    # is unbound (NULL from the union branch) is NOT removed by MINUS
    out = match_bgp(triples, [("?c", LABEL, "?l")],
                    union=[[("?x", "ex:loves", "ex:self")]],
                    minus=[[("?c", RDF_TYPE, CLS)]],
                    distinct=False)
    rows = {(r.c, r.x) for r in out.collect()}
    # both labeled-class solutions removed (A and B are typed classes);
    # the union branch's c=NULL solutions survive the anti-join
    assert rows == {(None, "ex:x"), (None, "ex:self")}


def test_minus_null_among_several_shared_vars(spark):
    # SPARQL §18.5: a=1, b=NULL is compatible with the MINUS row a=1, b=2
    # and shares a with it, so it is removed; a solution with a and b
    # both unbound shares no variable with any MINUS row and is kept
    rows = [("ex:s1", "ex:a", "1"),
            ("ex:s2", "ex:a", "1"), ("ex:s2", "ex:b", "2"),
            ("ex:s3", "ex:a", "3"),
            ("ex:s4", "ex:c", "x")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = match_bgp(t, [("?s", "ex:a", "?a")],
                    optional=[[("?s", "ex:b", "?b")]],
                    union=[[("?s", "ex:c", "?c")]],
                    minus=[[("?m", "ex:a", "?a"), ("?m", "ex:b", "?b")]])
    got = {(r.s, r.a, r.b, r.c) for r in out.collect()}
    assert got == {("ex:s3", "3", None, None), ("ex:s4", None, None, "x")}
    # every shared variable is nullable here, yet the anti-join keeps
    # equi keys (null-safe) instead of a nested loop over the minus keys
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "NestedLoop" not in plan


def test_minus_null_with_a_bound_shared_var(spark):
    # s is always bound, b is OPTIONAL: s1 (b unbound) matches the MINUS
    # row on s alone; s2 binds b=3 and disagrees with the row's b=2
    rows = [("ex:s1", "ex:a", "1"), ("ex:s1", "ex:d", "2"),
            ("ex:s2", "ex:a", "1"), ("ex:s2", "ex:b", "3"),
            ("ex:s2", "ex:d", "2"),
            ("ex:s3", "ex:a", "1")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = match_bgp(t, [("?s", "ex:a", "?a")],
                    optional=[[("?s", "ex:b", "?b")]],
                    minus=[[("?s", "ex:d", "?b")]])
    assert {(r.s, r.b) for r in out.collect()} == {("ex:s2", "3"),
                                                    ("ex:s3", None)}


def test_minus_requires_shared_variable(triples):
    with pytest.raises(ValueError, match="MINUS"):
        match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                  minus=[[("?z", "ex:loves", "?w")]])


def test_minus_after_optional(triples):
    # OPTIONAL binds l (NULL for C), MINUS then removes labeled ones by c
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    optional=[[("?c", LABEL, "?l")]],
                    minus=[[("?c", SUB, "?p")]])
    got = {(r.c, r.l) for r in out.collect()}
    assert got == {("ex:A", "alpha")}  # B and C both have superclasses


def test_exists_semi_join(triples):
    # typed classes that HAVE a superclass (filter exists)
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    exists=[[("?c", SUB, "?p")]])
    assert {r.c for r in out.collect()} == {"ex:B", "ex:C"}


def test_not_exists_anti_join(triples):
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    not_exists=[[("?c", SUB, "?p")]])
    assert {r.c for r in out.collect()} == {"ex:A"}


def test_not_exists_whole_group_gate(triples):
    # NO shared variable: all-or-nothing existence gate (§8.1) — the
    # classic divergence from MINUS, which is a no-op without shared vars
    gone = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                     not_exists=[[("?x", "ex:loves", "ex:self")]])
    assert gone.count() == 0  # the unrelated pattern matches -> drop all
    kept = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                     exists=[[("?x", "ex:loves", "ex:self")]])
    assert kept.count() == 3
    nothing = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                        exists=[[("?x", "ex:hates", "?y")]])
    assert nothing.count() == 0


def test_exists_on_nullable_variable_raises(triples):
    # ?l is OPTIONAL-introduced (may be NULL) -> substitution semantics
    # would need a non-equi join; must raise with guidance
    with pytest.raises(ValueError, match="unbound"):
        match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                  optional=[[("?c", LABEL, "?l")]],
                  not_exists=[[("?z", LABEL, "?l")]])


def test_aggregate_count_and_group_concat(triples):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import (
        aggregate_solutions)
    sol = match_bgp(triples, [("?s", "?p", "?o")], distinct=False)
    out = aggregate_solutions(sol, ["p"], {
        "n": ("COUNT", "*"), "subjects": ("GROUP_CONCAT", "s"),
        "first_s": ("SAMPLE", "s")})
    got = {r.p: (r.n, r.subjects, r.first_s) for r in out.collect()}
    assert got[SUB] == (3, "ex:B|ex:C|ex:D", "ex:B")
    assert got["ex:loves"][0] == 2


def test_aggregate_having_and_numeric(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import (
        aggregate_solutions)
    rows = [("ex:a", "ex:v", "1"), ("ex:a", "ex:v", "2.5"),
            ("ex:b", "ex:v", "10")]
    t = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    sol = match_bgp(t, [("?s", "ex:v", "?x")], distinct=False)
    out = aggregate_solutions(sol, ["s"], {"total": ("SUM", "x"),
                                           "avg_v": ("AVG", "x")},
                              having="total > 3")
    got = {r.s: (r.total, r.avg_v) for r in out.collect()}
    assert got == {"ex:a": (3.5, 1.75), "ex:b": (10.0, 10.0)}


def test_aggregate_unknown_fn_raises(triples):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import (
        aggregate_solutions)
    sol = match_bgp(triples, [("?s", "?p", "?o")], distinct=False)
    with pytest.raises(ValueError, match="unknown aggregate"):
        aggregate_solutions(sol, ["p"], {"z": ("MEDIAN", "s")})


@pytest.fixture(scope="module")
def cbd_graph(spark):
    rows = [
        ("ex:n", "ex:label", "N", "literal"),
        ("ex:n", "ex:meta", "_:b1", "bnode"),
        ("_:b1", "ex:author", "a", "literal"),
        ("_:b1", "ex:tags", "_:b2", "bnode"),
        ("_:b2", "ex:first", "t", "literal"),
        ("_:b2", "ex:rest", "_:b3", "bnode"),
        ("_:b3", "ex:first", "u", "literal"),
        ("ex:other", "ex:ref", "ex:n", "iri"),       # obj position: excluded
        ("_:b9", "ex:stray", "x", "literal"),         # unreachable bnode
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj", "obj_kind"])


def test_describe_cbd(cbd_graph):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import describe
    out = describe(cbd_graph, ["ex:n"])
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert len(got) == 7  # everything except ex:other->ex:n and _:b9
    assert ("ex:other", "ex:ref", "ex:n") not in got
    assert ("_:b3", "ex:first", "u") in got  # 3-deep bnode chain included
    assert not any(s == "_:b9" for (s, _, _) in got)


def test_describe_frame_seed_and_convergence(cbd_graph, spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.bgp import describe
    seeds = spark.createDataFrame([("ex:n",), ("ex:other",)], ["x"])
    out = describe(cbd_graph, seeds)
    assert out.count() == 8
    with pytest.raises(RuntimeError, match="converge"):
        describe(cbd_graph, ["ex:n"], max_rounds=2)
    with pytest.raises(ValueError, match="one"):
        describe(cbd_graph, cbd_graph.select("subj", "pred"))


def test_values_clause(triples):
    out = match_bgp(triples, [("?c", RDF_TYPE, CLS)],
                    values={"c": ["ex:A", "ex:C", "ex:nope"]})
    assert {r.c for r in out.collect()} == {"ex:A", "ex:C"}
    with pytest.raises(ValueError, match="VALUES"):
        match_bgp(triples, [("?c", RDF_TYPE, CLS)], values={"z": ["x"]})
