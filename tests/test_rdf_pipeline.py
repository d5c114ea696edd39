"""End-to-end RDF pipeline parity vs the reference converter's assertions.

Expected values come from the reference's own test suite
(reference: tests/rdf/test_converter.py:69-87 simple counts, :134-155
inheritance, :157-181 multi-domain, :269-309 XSD matrix) — the P/R≥0.95
oracle per BASELINE.json.
"""

import re

import pytest

import corpus
from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import docs_from_payloads
from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import run_pipeline


def run_fixture(spark, name):
    docs = docs_from_payloads(spark, {name: corpus.TTL[name]})
    return run_pipeline(spark, docs)


def entity_map(result):
    return {r["name"]: r.asDict(recursive=True)
            for r in result.entity_types.collect()}


def test_simple_ttl(spark):
    res = run_fixture(spark, "simple")
    ents = entity_map(res)
    assert set(ents) == {"Person", "Organization"}
    person = ents["Person"]
    props = {(p["name"], p["valueType"]) for p in person["properties"]}
    assert props == {("name", "String"), ("age", "BigInt")}
    assert ents["Organization"]["properties"] == []
    rels = res.relationship_types.collect()
    assert len(rels) == 1
    rel = rels[0]
    assert rel["name"] == "worksFor"
    assert rel["source_entity_type_id"] == person["id"]
    assert rel["target_entity_type_id"] == ents["Organization"]["id"]
    # ids are 13-digit numeric strings
    assert all(len(e["id"]) == 13 and e["id"].isdigit() for e in ents.values())


def test_minimal_ttl(spark):
    res = run_fixture(spark, "minimal")
    ents = entity_map(res)
    assert set(ents) == {"Person"}
    assert {p["name"] for p in ents["Person"]["properties"]} == {"name"}


def test_inheritance_chain(spark):
    res = run_fixture(spark, "inheritance")
    ents = entity_map(res)
    assert set(ents) == {"Animal", "Mammal", "Dog"}
    assert ents["Dog"]["base_entity_type_id"] == ents["Mammal"]["id"]
    assert ents["Mammal"]["base_entity_type_id"] == ents["Animal"]["id"]
    assert ents["Animal"]["base_entity_type_id"] is None


def test_multiple_domains_fanout(spark):
    res = run_fixture(spark, "multiple_domains")
    ents = entity_map(res)
    for cls in ("Person", "Organization"):
        assert {p["name"] for p in ents[cls]["properties"]} == {"name"}, cls
    # same property object on both domains → same property id
    pid_p = ents["Person"]["properties"][0]["id"]
    pid_o = ents["Organization"]["properties"][0]["id"]
    assert pid_p == pid_o


def test_union_domain_rdf_list_walk(spark):
    res = run_fixture(spark, "union_domain")
    ents = entity_map(res)
    for cls in ("Person", "Organization"):
        assert {p["name"] for p in ents[cls]["properties"]} == {"name"}, cls


def test_restriction_bnode_parent_ignored(spark):
    res = run_fixture(spark, "restriction")
    ents = entity_map(res)
    assert set(ents) == {"Person"}
    assert ents["Person"]["base_entity_type_id"] is None
    assert {p["name"] for p in ents["Person"]["properties"]} == {"age"}


def test_functional_property_kept(spark):
    res = run_fixture(spark, "functional_property")
    ents = entity_map(res)
    assert {p["name"] for p in ents["Person"]["properties"]} == {"ssn"}


def test_missing_domain_property_unattached(spark):
    res = run_fixture(spark, "missing_domain")
    ents = entity_map(res)
    assert ents["Person"]["properties"] == []


def test_rel_missing_range_skipped_with_reason(spark):
    res = run_fixture(spark, "rel_missing_range")
    assert res.relationship_types.count() == 0
    skips = {(r["item_type"], r["name"], r["reason"])
             for r in res.skipped_items.collect()}
    assert ("relationship", "knows", "missing range class") in skips


def _plan_joins(df) -> int:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if re.sub(r"^[\s:+|-]*", "", line).startswith("Join "))


def test_rel_skip_reasons_one_flagged_pass(spark):
    """J6: each skip reason once, from one flagged pass over the property
    set (plan budget), not a union of nested anti-joins (881 joins)."""
    ttl = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.org/> .
ex:A a owl:Class .
ex:B a owl:Class .
ex:full a owl:ObjectProperty ; rdfs:domain ex:A ; rdfs:range ex:B .
ex:noRange a owl:ObjectProperty ; rdfs:domain ex:A .
ex:noDomain a owl:ObjectProperty ; rdfs:range ex:B .
ex:bare a owl:ObjectProperty .
"""
    res = run_pipeline(spark, docs_from_payloads(spark, {"x": ttl}))
    assert _plan_joins(res.skipped_items) <= 20
    assert sorted(tuple(r) for r in res.skipped_items.collect()) == [
        ("relationship", "bare", "missing both domain and range",
         "http://example.org/bare"),
        ("relationship", "noDomain", "missing domain class",
         "http://example.org/noDomain"),
        ("relationship", "noRange", "missing range class",
         "http://example.org/noRange"),
    ]
    assert [r["name"] for r in res.relationship_types.collect()] == ["full"]


@pytest.mark.parametrize("xsd,expected", [
    ("string", "String"), ("integer", "BigInt"), ("decimal", "Double"),
    ("boolean", "Boolean"), ("dateTime", "DateTime"), ("time", "String"),
    ("float", "Double"), ("anyURI", "String"), ("unsignedLong", "BigInt"),
])
def test_xsd_type_matrix(spark, xsd, expected):
    ttl = f"""
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .
ex:Thing a owl:Class .
ex:p a owl:DatatypeProperty ; rdfs:domain ex:Thing ; rdfs:range xsd:{xsd} .
"""
    docs = docs_from_payloads(spark, {"x": ttl})
    res = run_pipeline(spark, docs)
    ents = entity_map(res)
    assert ents["Thing"]["properties"][0]["valueType"] == expected


def test_timeseries_comment_flag(spark):
    ttl = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .
ex:Sensor a owl:Class .
ex:temp a owl:DatatypeProperty ; rdfs:domain ex:Sensor ;
    rdfs:range xsd:double ; rdfs:comment "Reading (timeseries)" .
ex:label a owl:DatatypeProperty ; rdfs:domain ex:Sensor ;
    rdfs:range xsd:string .
"""
    docs = docs_from_payloads(spark, {"x": ttl})
    ents = entity_map(run_pipeline(spark, docs))
    assert {p["name"] for p in ents["Sensor"]["timeseries_properties"]} == {"temp"}
    assert {p["name"] for p in ents["Sensor"]["properties"]} == {"label"}


def test_identity_parts(spark):
    ttl = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .
ex:Device a owl:Class .
ex:deviceId a owl:DatatypeProperty ; rdfs:domain ex:Device ; rdfs:range xsd:string .
ex:name a owl:DatatypeProperty ; rdfs:domain ex:Device ; rdfs:range xsd:string .
ex:weight a owl:DatatypeProperty ; rdfs:domain ex:Device ; rdfs:range xsd:double .
"""
    docs = docs_from_payloads(spark, {"x": ttl})
    ents = entity_map(run_pipeline(spark, docs))
    dev = ents["Device"]
    by_name = {p["name"]: p["id"] for p in dev["properties"]}
    assert dev["entity_id_parts"] == [by_name["deviceId"]]
    assert dev["display_name_property_id"] == by_name["name"]


def test_inheritance_cycle_skipped(spark):
    ttl = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix ex: <http://example.org/> .
ex:A a owl:Class ; rdfs:subClassOf ex:B .
ex:B a owl:Class ; rdfs:subClassOf ex:A .
ex:C a owl:Class ; rdfs:subClassOf ex:A .
"""
    docs = docs_from_payloads(spark, {"x": ttl})
    ents = entity_map(run_pipeline(spark, docs))
    # A<->B is a cycle: both parents rejected; C->A also rejected because A
    # is on a cycle (reference has_cycle walks into it)
    assert ents["A"]["base_entity_type_id"] is None
    assert ents["B"]["base_entity_type_id"] is None
    assert ents["C"]["base_entity_type_id"] is None


def test_multi_document_corpus_merges(spark):
    """Triples from separate docs form one graph (cross-doc class+property)."""
    doc_a = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix ex: <http://example.org/> .
ex:Person a owl:Class .
"""
    doc_b = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .
ex:name a owl:DatatypeProperty ; rdfs:domain ex:Person ; rdfs:range xsd:string .
"""
    docs = docs_from_payloads(spark, {"a": doc_a, "b": doc_b})
    ents = entity_map(run_pipeline(spark, docs))
    assert {p["name"] for p in ents["Person"]["properties"]} == {"name"}
