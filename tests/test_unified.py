"""Unified multi-format corpus + DTDL validator + CDM manifest-ref dedup."""

import json

import corpus
from pyspark.sql import functions as F

from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import docs_from_payloads
from rdf_dtdl_fabric_ontology_converter_spark.plans.unified import run_unified


def test_unified_mixed_corpus(spark):
    payloads = {
        "rdf_doc": corpus.TTL["simple"],
        "dtdl_doc": corpus.DTDL["thermostat"],
        "cdm_doc": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [{
                "entityName": "Invoice",
                "hasAttributes": [
                    {"name": "invoiceId", "dataType": "guid",
                     "appliedTraits": ["means.identity.entityId"]},
                    {"name": "amount", "dataType": "money"}]}]}),
    }
    docs = docs_from_payloads(spark, payloads)
    res = run_unified(spark, docs)
    names = {r["name"] for r in res.entity_types.collect()}
    assert {"Person", "Organization", "Thermostat", "Invoice"} <= names
    rels = {r["name"] for r in res.relationship_types.collect()}
    assert "worksFor" in rels
    # ids all valid 13-digit strings, no collisions
    ids = [r["id"] for r in res.entity_types.collect()]
    assert len(ids) == len(set(ids))
    assert all(len(i) == 13 and i.isdigit() for i in ids)


def test_cdm_manifest_ref_prefers_definition(spark):
    """A manifest stub for an entity defined elsewhere must not shadow the
    attribute-bearing definition (cross-document entityPath resolution)."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import (
        convert_cdm, extract_cdm)
    manifest = json.dumps({
        "manifestName": "M", "jsonSchemaSemanticVersion": "1.0.0",
        "entities": [{"type": "LocalEntity", "entityName": "Person",
                      "entityPath": "Person.cdm.json/Person"}]})
    schema = json.dumps({
        "jsonSchemaSemanticVersion": "1.0.0",
        "definitions": [{"entityName": "Person",
                         "hasAttributes": [{"name": "personId",
                                            "dataType": "string"}]}]})
    # doc_id 'a_manifest' sorts before 'b_schema' — definition must still win
    docs = docs_from_payloads(spark, {"a_manifest": manifest,
                                      "b_schema": schema})
    ents, _, _ = convert_cdm(*extract_cdm(docs))
    person = ents.collect()[0].asDict(recursive=True)
    assert [p["name"] for p in person["properties"]] == ["personId"]


def test_dtdl_validator_rules(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
        extract_interfaces)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        dtdl_issues)
    payloads = {
        "bad_dtmi": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:1bad;1",
            "@type": "Interface", "contents": []}),
        "cycle_a": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:com:x:A;1",
            "@type": "Interface", "extends": "dtmi:com:x:B;1"}),
        "cycle_b": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:com:x:B;1",
            "@type": "Interface", "extends": "dtmi:com:x:A;1"}),
        "orphan_rel": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:com:x:R;1",
            "@type": "Interface",
            "contents": [{"@type": "Relationship", "name": "links",
                          "target": "dtmi:com:x:Nowhere;1"}]}),
        "missing_comp": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:com:x:M;1",
            "@type": "Interface",
            "contents": [{"@type": "Component", "name": "c",
                          "schema": "dtmi:com:x:External;1"}]}),
    }
    docs = docs_from_payloads(spark, payloads)
    issues = dtdl_issues(extract_interfaces(docs))
    cats = {(r["category"], r["severity"]) for r in issues.collect()}
    assert ("dtdl:dtmi_format", "error") in cats
    assert ("dtdl:inheritance_cycle", "error") in cats
    assert ("dtdl:orphan_relationship_target", "warning") in cats
    assert ("dtdl:missing_component_schema", "warning") in cats


def test_dedup_salting_equivalent(spark):
    """Salted and unsalted global dedup must produce identical triple sets;
    salted spreads a hot subject across partitions."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.canon import dedup_triples
    from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
        extract_triples, split_errors)
    # skewed corpus: one subject with many distinct objects across docs
    hot = "\n".join(
        f'<http://hot/entity> <http://p> "v{i}" .' for i in range(500))
    payloads = {f"d{j}": hot for j in range(4)}
    payloads["other"] = corpus.TTL["simple"]
    docs = docs_from_payloads(spark, payloads)
    clean, _ = split_errors(extract_triples(docs))
    plain = dedup_triples(clean, num_partitions=8)
    salted = dedup_triples(clean, num_partitions=8, spread_hot_subjects=True)
    assert plain.count() == salted.count() == 500 + 14
    rows_p = {tuple(r) for r in plain.collect()}
    rows_s = {tuple(r) for r in salted.collect()}
    assert rows_p == rows_s
    # the hot subject occupies >1 partition when salted
    parts = (salted.where(F.col("subj") == "http://hot/entity")
             .select(F.spark_partition_id().alias("p"))
             .distinct().count())
    assert parts > 1


def test_cross_serialization_pipeline_consistency(spark):
    """Same ontology in turtle vs JSON-LD vs RDF/XML documents must yield
    identical entity/property sets (reference:
    tests/rdf/test_rdf_formats.py:446-576)."""
    from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import run_pipeline
    ttl = """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/iot/> .
ex:Device a owl:Class .
ex:Location a owl:Class .
ex:serial a owl:DatatypeProperty ; rdfs:domain ex:Device ;
    rdfs:range xsd:string .
ex:locatedAt a owl:ObjectProperty ; rdfs:domain ex:Device ;
    rdfs:range ex:Location .
"""
    jld = json.dumps({
        "@context": {"owl": "http://www.w3.org/2002/07/owl#",
                     "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
                     "xsd": "http://www.w3.org/2001/XMLSchema#",
                     "ex": "http://example.org/iot/"},
        "@graph": [
            {"@id": "ex:Device", "@type": "owl:Class"},
            {"@id": "ex:Location", "@type": "owl:Class"},
            {"@id": "ex:serial", "@type": "owl:DatatypeProperty",
             "rdfs:domain": {"@id": "ex:Device"},
             "rdfs:range": {"@id": "xsd:string"}},
            {"@id": "ex:locatedAt", "@type": "owl:ObjectProperty",
             "rdfs:domain": {"@id": "ex:Device"},
             "rdfs:range": {"@id": "ex:Location"}},
        ]})
    xml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#">
  <owl:Class rdf:about="http://example.org/iot/Device"/>
  <owl:Class rdf:about="http://example.org/iot/Location"/>
  <owl:DatatypeProperty rdf:about="http://example.org/iot/serial">
    <rdfs:domain rdf:resource="http://example.org/iot/Device"/>
    <rdfs:range rdf:resource="http://www.w3.org/2001/XMLSchema#string"/>
  </owl:DatatypeProperty>
  <owl:ObjectProperty rdf:about="http://example.org/iot/locatedAt">
    <rdfs:domain rdf:resource="http://example.org/iot/Device"/>
    <rdfs:range rdf:resource="http://example.org/iot/Location"/>
  </owl:ObjectProperty>
</rdf:RDF>"""

    def signature(payload):
        docs = docs_from_payloads(spark, {"d": payload})
        res = run_pipeline(spark, docs)
        ents = {(r["name"],
                 tuple((p["name"], p["valueType"])
                       for p in r["properties"]))
                for r in (x.asDict(recursive=True)
                          for x in res.entity_types.collect())}
        rels = {(r["name"], r["source_entity_type_id"],
                 r["target_entity_type_id"])
                for r in res.relationship_types.collect()}
        return ents, rels

    s_ttl = signature(ttl)
    assert s_ttl == signature(jld) == signature(xml)
    assert {e[0] for e in s_ttl[0]} == {"Device", "Location"}


def test_cdm_validator_rules(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import extract_cdm
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import cdm_issues
    payloads = {
        "empty_ent": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [{"entityName": "Empty", "hasAttributes": []}]}),
        "no_pk": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [{"entityName": "NoKey",
                             "hasAttributes": [{"name": "a",
                                                "dataType": "string"}]}]}),
        "entref": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [{"entityName": "HasRef",
                             "hasAttributes": [
                                 {"name": "other",
                                  "entity": {"entityName": "Other"}}]}]}),
    }
    docs = docs_from_payloads(spark, payloads)
    ents, _ = extract_cdm(docs)
    issues = cdm_issues(ents)
    cats = {(r["category"], r["severity"]) for r in issues.collect()}
    assert ("cdm:empty_entity", "warning") in cats
    assert ("cdm:no_primary_key", "info") in cats
    assert ("cdm:entity_reference", "info") in cats


def test_cdm_validator_deep_rules(spark):
    """One issue family each for the reference's deeper rule surface
    (reference: cdm_validator.py:180-548)."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import extract_cdm
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import cdm_issues
    payloads = {
        "deep": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [
                {"entityName": "Self", "extendsEntity": "Self",
                 "hasAttributes": [
                     {"name": "dup", "dataType": "string",
                      "purpose": "identifiedBy"},
                     {"name": "dup", "dataType": "integer"},
                     {"name": "weird", "dataType": "frobnicate"},
                     {"name": "notype"},
                     {"name": "bad len", "dataType": "string",
                      "maximumLength": -5},
                     {"name": "type", "dataType": "string"},
                     {"name": "9starts", "dataType": "string"},
                     {"name": "x" * 120, "dataType": "string"}]},
                {"entityName": "Child", "extendsEntity": "Self",
                 "hasAttributes": [{"name": "ok", "dataType": "string",
                                    "purpose": "identifiedBy"}]}]}),
        "relmodel": json.dumps({
            "name": "m", "entities": [
                # attributeReference without entityName → rel with empty
                # toEntity (reaches the validator, like the reference's
                # model.json path; flat rows with empty endpoints are
                # dropped at parse per cdm_parser.py:619-620)
                {"$type": "LocalEntity", "name": "RelHost",
                 "attributes": [{"name": "dangling", "dataType": "guid",
                                 "attributeReference":
                                     {"attributeName": "x"}}]}],
            "relationships": [
                {"fromEntity": "Child", "fromEntityAttribute": "nope",
                 "toEntity": "Ghost", "toEntityAttribute": "gid"}]}),
    }
    docs = docs_from_payloads(spark, payloads)
    ents, rels = extract_cdm(docs)
    got = cdm_issues(ents, rels).collect()
    cats = {(r["category"], r["severity"]) for r in got}
    assert ("cdm:circular_extends", "error") in cats
    assert ("cdm:duplicate_attribute", "error") in cats
    assert ("cdm:unknown_data_type", "warning") in cats
    assert ("cdm:missing_data_type", "warning") in cats
    assert ("cdm:constraint_violation", "warning") in cats
    assert ("cdm:reserved_name", "info") in cats          # attr 'type'
    assert ("cdm:invalid_name_start", "warning") in cats  # '9starts'
    assert ("cdm:name_has_spaces", "warning") in cats     # 'bad len'
    assert ("cdm:name_too_long", "error") in cats         # 120-char attr
    assert ("cdm:extends_dependency", "info") in cats     # Child→Self
    assert ("cdm:missing_endpoint", "error") in cats      # empty toEntity
    assert ("cdm:unknown_endpoint", "info") in cats       # Ghost
    assert ("cdm:unknown_endpoint_attribute", "warning") in cats  # 'nope'
    msgs = {r["message"] for r in got}
    assert any("cannot extend itself" in m for m in msgs)
    assert any("'frobnicate'" in m for m in msgs)


def test_definition_schema_validator(spark):
    """Structural re-validation of the engine's own serialized parts
    (reference: src/core/validators/fabric_schema.py)."""
    import base64
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        definition_schema_issues)
    from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import (
        definition_parts_df)
    from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import run_pipeline

    docs = docs_from_payloads(spark, {"t": corpus.TTL["simple"]})
    res = run_pipeline(spark, docs)
    parts = definition_parts_df(res.entity_types, res.relationship_types)
    issues = definition_schema_issues(parts).collect()
    # the engine's own output must be structurally clean
    assert [r for r in issues if r["severity"] == "error"] == []

    # corrupted parts fire the right rules
    def part(payload: dict, path: str):
        return (path, base64.b64encode(
            json.dumps(payload).encode()).decode(), "InlineBase64")

    bad = spark.createDataFrame([
        part({"id": "abc", "name": "0bad name!", "namespace": "fabric",
              "namespaceType": "Weird", "visibility": "Shiny",
              "properties": [{"id": "1", "name": "p", "valueType": "Float"}]},
             "EntityTypes/999/definition.json"),
        part({"id": "123", "name": "R", "namespace": "ok",
              "namespaceType": "Custom",
              "source": {"entityTypeId": "777"}, "target": {}},
             "RelationshipTypes/123/definition.json"),
        ("EntityTypes/5/definition.json", "!!!notbase64json", "Other"),
    ], "path string, payload string, payloadType string")
    cats = {r["category"] for r in definition_schema_issues(bad).collect()}
    assert {"fabric:nonnumeric_id", "fabric:path_id_mismatch",
            "fabric:invalid_name", "fabric:reserved_namespace",
            "fabric:invalid_namespace_type", "fabric:invalid_visibility",
            "fabric:invalid_value_type", "fabric:endpoint_missing",
            "fabric:unknown_endpoint", "fabric:payload_type",
            "fabric:bad_payload"} <= cats


def test_type_registry_overrides(spark):
    """User type-registry overrides reach all three front-ends
    (reference: src/shared/utilities/type_registry.py:68-130)."""
    import pytest
    from rdf_dtdl_fabric_ontology_converter_spark.functions.typemaps import (
        TypeMappingRegistry)
    reg = TypeMappingRegistry()
    with pytest.raises(ValueError):
        reg.register_mapping("rdf", "x", "Float")  # not a Fabric type
    reg.register_mapping(
        "rdf", "http://www.w3.org/2001/XMLSchema#decimal", "Decimal")
    reg.register_mapping("dtdl", "double", "Decimal")
    reg.register_mapping("cdm", "MONEY", "String")

    payloads = {
        "r": ('@prefix ex: <http://ex/> .\n'
              '@prefix owl: <http://www.w3.org/2002/07/owl#> .\n'
              '@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n'
              '@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n'
              'ex:C a owl:Class .\n'
              'ex:amount a owl:DatatypeProperty ; rdfs:domain ex:C ;'
              ' rdfs:range xsd:decimal .'),
        "d": json.dumps({
            "@context": "dtmi:dtdl:context;3", "@id": "dtmi:x:D;1",
            "@type": "Interface",
            "contents": [{"@type": "Property", "name": "speed",
                          "schema": "double"}]}),
        "c": json.dumps({
            "jsonSchemaSemanticVersion": "1.0.0",
            "definitions": [{"entityName": "Bill", "hasAttributes": [
                {"name": "total", "dataType": "money"}]}]}),
    }
    docs = docs_from_payloads(spark, payloads)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import DtdlModes
    caller_modes = DtdlModes()
    res = run_unified(spark, docs, dtdl_modes=caller_modes, registry=reg)
    types = {(r["name"], p["valueType"])
             for r in res.entity_types.collect()
             for p in r["properties"]}
    assert ("C", "Decimal") in types       # rdf override (default: Double)
    assert ("D", "Decimal") in types       # dtdl override (default: Double)
    assert ("Bill", "String") in types     # cdm override (default: Decimal)
    # run_unified must NOT mutate the caller's DtdlModes (round-3 ADVICE):
    # reusing one modes object across calls with different registries would
    # otherwise accumulate stale overrides
    assert caller_modes.type_overrides in (None, {})


def test_dtmi_mapping_and_compliance_report(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
        DtdlModes, convert_interfaces, dtmi_mapping, extract_interfaces)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.metrics import (
        compliance_report)
    payload = json.dumps({
        "@context": "dtmi:dtdl:context;3", "@id": "dtmi:x:Dev;1",
        "@type": "Interface",
        "contents": [{"@type": "Command", "name": "go"}]})
    docs = docs_from_payloads(spark, {"d": payload})
    ents, _, _ = convert_interfaces(extract_interfaces(docs),
                                    DtdlModes(command="entity"))
    m = {r["dtmi"]: r["fabric_id"] for r in dtmi_mapping(ents).collect()}
    assert set(m) == {"dtmi:x:Dev;1", "x:Dev:cmd:go"}
    assert all(len(v) == 13 and v.isdigit() for v in m.values())

    issues = spark.createDataFrame(
        [("cdm:parse", "error", "boom", "u1"),
         ("cdm:parse", "error", "bang", "u2"),
         ("dtdl:dtmi_format", "warning", "bad", "u3")],
        "category string, severity string, message string, uri string")
    rep = {(r["severity"], r["category"]): (r["n"], r["example_message"])
           for r in compliance_report(issues).collect()}
    assert rep[("error", "cdm:parse")] == (2, "bang")
    assert rep[("warning", "dtdl:dtmi_format")][0] == 1


def test_registry_value_converters(spark):
    """Reference type_registry.py:237-258 convert_value as a Column-builder
    hook: a registered converter changes a MATERIALIZED instance column,
    compiled into one chained JVM `when` expression (no per-row Python).
    scaledDecimal CALCULATED realized via the registry instead of a mode
    flag (reference dtdl_converter.py:1055-1057)."""
    from pyspark.sql import functions as F
    from rdf_dtdl_fabric_ontology_converter_spark.functions.typemaps import (
        TypeMappingRegistry, convert_values)

    reg = TypeMappingRegistry()
    # scaledDecimal {"value": v, "scale": s} → v / 10^s, rendered as string
    reg.register_mapping(
        "dtdl", "scaledDecimal", "Double",
        converter=lambda c: (
            F.get_json_object(c, "$.value").cast("double") /
            F.pow(F.lit(10.0), F.get_json_object(c, "$.scale").cast("int"))
        ).cast("string"))
    # unit conversion on a plain numeric type (celsius → kelvin)
    reg.register_converter(
        "dtdl", "temperatureC",
        lambda c: (c.cast("double") + F.lit(273.15)).cast("string"))
    reg.register_alias("dtdl", "scaled_decimal", "scaledDecimal")

    rows = [("scaledDecimal", '{"value": 12345, "scale": 2}'),
            ("scaled_decimal", '{"value": 5, "scale": 0}'),   # alias routes
            ("temperatureC", "20"),
            ("string", "untouched")]
    df = spark.createDataFrame(rows, "source_type string, value string")
    out = {r["source_type"]: r["converted"] for r in
           convert_values(df, reg, "dtdl", "value", "source_type",
                          out_col="converted").collect()}
    assert float(out["scaledDecimal"]) == 123.45
    assert float(out["scaled_decimal"]) == 5.0
    assert float(out["temperatureC"]) == 293.15
    assert out["string"] == "untouched"

    # converter-free registry passes everything through
    out2 = convert_values(df, TypeMappingRegistry(), "dtdl",
                          "value", "source_type").collect()
    assert {r["value"] for r in out2} == {r[1] for r in rows}

    # alias spellings also inherit the type mapping itself
    assert reg.overrides("dtdl")["scaled_decimal"] == "Double"

    # the compiled plan is a single projection over the input (no shuffle,
    # no python worker)
    plan = convert_values(df, reg, "dtdl", "value", "source_type") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
