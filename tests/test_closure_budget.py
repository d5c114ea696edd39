"""Job budgets and the size bound for the closure and its callers.

Each budget check runs under a job group of its own and counts the Spark
jobs that group submitted, from the status tracker: building a plan that
holds a closure submits none, and a property-path query stays a few jobs.
A closure key past MAX_CLOSURE_EDGES fails instead of running on.
"""

import itertools

import pytest

from rdf_dtdl_fabric_ontology_converter_spark.operators.classes import (
    MAX_CLOSURE_EDGES, transitive_closure)
from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
    INTERFACES_SCHEMA)
from rdf_dtdl_fabric_ontology_converter_spark.operators.sparql import (
    sparql_query)
from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
    dtdl_issues)

SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
CHAIN25 = [(f"n{i}", f"n{i + 1}") for i in range(25)]
_GROUPS = itertools.count()


def _jobs(spark, run):
    """(run(), the number of Spark jobs it submitted)."""
    sc = spark.sparkContext
    group = f"closure-budget-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_closure_is_lazy(spark):
    edges = spark.createDataFrame(CHAIN25, "child string, parent string")
    keyed = edges.selectExpr("'p' AS pred", "*")
    for build in (lambda: transitive_closure(edges),
                  lambda: transitive_closure(keyed, key=["pred"]),
                  lambda: transitive_closure(edges, hops=True)):
        _, jobs = _jobs(spark, build)
        assert jobs == 0


def test_path_query_job_budget(spark):
    rows = [(c, SUB, p, "iri", None, None) for c, p in CHAIN25]
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj string, obj_kind string, "
              "obj_datatype string, graph_ctx string").localCheckpoint()
    query = ("PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
             "SELECT ?x ?y WHERE { ?x rdfs:subClassOf+ ?y }")
    df, build_jobs = _jobs(spark, lambda: sparql_query(triples, query))
    assert build_jobs == 0
    got, run_jobs = _jobs(spark, df.collect)
    assert len(got) == 25 * 26 // 2
    assert build_jobs + run_jobs <= 6


def test_dtdl_issues_is_lazy(spark):
    # a 3-deep extends chain: d0 extends d1 extends d2 extends d3
    dtmis = [f"dtmi:ex:d{i};1" for i in range(4)]
    rows = [(d, f"d{i}", None, dtmis[i + 1:i + 2], "dtmi:dtdl:context;3", [],
             "doc", i, None) for i, d in enumerate(dtmis)]
    ifaces = spark.createDataFrame(rows, INTERFACES_SCHEMA)
    issues, jobs = _jobs(spark, lambda: dtdl_issues(ifaces))
    assert jobs == 0
    assert issues.collect() == []


def test_closure_rejects_an_oversized_key(spark):
    # a star of MAX_CLOSURE_EDGES + 1 edges in one key fails the query;
    # the same edges split over two keys close normally
    rows = [(i % 2, f"n{i}", "root") for i in range(MAX_CLOSURE_EDGES + 1)]
    edges = spark.createDataFrame(rows, "k int, child string, parent string")
    with pytest.raises(Exception, match="MAX_CLOSURE_EDGES"):
        transitive_closure(edges.drop("k")).collect()
    assert transitive_closure(edges, key=["k"]).count() == len(rows)
