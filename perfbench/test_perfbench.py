"""Self-tests of the benchmark's generator, oracle and span counters.

    python3 -m pytest perfbench/ -q

The generator tests are plain Python: they parse every generated span
with the engine's own span parser and compare the distinct triples with
the oracle. The counter test starts a one-core local Spark session.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import corpus  # noqa: E402
from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (  # noqa: E402
    _parse_span_builtin)


def _parsed(docs):
    """Distinct (s, p, o) the engine's span parser extracts, and the
    number of spans it rejects."""
    triples, errors = set(), 0
    for d in docs:
        for kind, text, _ in d.spans:
            if kind != "text":
                continue
            fmt, rows, err = _parse_span_builtin(text)
            if fmt in ("dtdl", "cdm"):
                continue
            errors += err is not None
            triples |= {r[:3] for r in rows}
    return triples, errors


@pytest.mark.parametrize("make", [corpus.abox_corpus, corpus.live_corpus])
def test_same_seed_same_corpus(make):
    assert make(11).digest() == make(11).digest()


@pytest.mark.parametrize("seed", [11, 12])
def test_abox_corpus_shape_and_oracle(seed):
    c = corpus.abox_corpus(seed)
    assert c.digest() != corpus.abox_corpus(seed + 100).digest()
    exp = c.expect
    assert exp["abox_share"] >= 0.95
    rdf = [d for d in c.docs if d.doc_id.startswith("doc")]
    triples, errors = _parsed(rdf)
    stmts = set().union(*(d.stmts for d in rdf))
    assert 45 <= corpus.graph_oracle(stmts)["entity_types"] <= 55
    assert triples == {st[:3] for st in stmts}
    assert errors == exp["skipped_by_type"]["document"] > 0
    assert exp["triples"] == len(stmts)
    fmts = {_parse_span_builtin(t)[0] for d in rdf for k, t, _ in d.spans
            if k == "text"}
    assert {"turtle", "jsonld", "rdfxml"} <= fmts


def test_live_corpus_queries_cover_every_kind():
    c = corpus.live_corpus(11)
    qs = c.queries(len(corpus.QUERY_KINDS))
    assert {k for k, _, _ in qs} == set(corpus.QUERY_KINDS)
    assert all(want >= 0 for _, _, want in qs)
    triples, errors = _parsed(c.docs)
    assert triples == {st[:3] for st in c.statements()}
    snap = c.snapshot_expect()
    assert snap["n_skipped"] >= errors


def test_span_counts_jobs_by_own_group():
    """A known operation inside a span registers at least one job, found
    by the span's own job-group name, with its stages and tasks."""
    from rdf_dtdl_fabric_ontology_converter_spark.session import (
        build_session)
    from spans import Tracer
    spark = build_session(master="local[1]", shuffle_partitions=1,
                          extra={"spark.ui.enabled": "false"})
    try:
        tr = Tracer(spark.sparkContext)
        with tr.span("known", op_id=1) as sp:
            assert spark.range(100).groupBy().count().collect()[0][0] == 100
        assert sp.counts.group_jobs >= 1
        assert sp.counts.jobs >= sp.counts.group_jobs
        assert sp.counts.stages >= 1 and sp.counts.tasks >= 1
        with tr.span("idle", op_id=2) as idle:
            pass
        assert idle.counts.jobs == 0
    finally:
        spark.stop()
