"""Golden issue multisets for the five validators, and their plan budget.

Each golden fixture fires every rule family of its validator, and the test
compares the sorted full rows ``(category, severity, message, uri)`` with
duplicates kept, so a rule that changes its multiplicity (one row per input
row vs one per distinct key) fails here, not only a rule that disappears.
"""

import base64
import json
import re

from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import (
    docs_from_payloads)

PREFLIGHT_TTL = {
    "a": """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .

ex:onto a owl:Ontology ;
    owl:imports <http://other.org/o1>, <http://other.org/o2> .
ex:A a owl:Class ; owl:intersectionOf ( ex:B ex:C ) ;
    owl:equivalentClass ex:B ; owl:disjointWith ex:C .
ex:B a owl:Class ; owl:complementOf ex:C .
ex:C a owl:Class ; owl:oneOf ( ex:i1 ex:i2 ) .
ex:U a owl:Class ; owl:unionOf ( ex:B ex:C ) .
_:eq owl:equivalentClass ex:A ; owl:disjointWith ex:B .
ex:Person a owl:Class ;
    rdfs:subClassOf [ a owl:Restriction ; owl:onProperty ex:age ;
                      owl:minCardinality 1 ] .
ex:age a owl:DatatypeProperty, owl:FunctionalProperty ;
    rdfs:domain ex:Person ; rdfs:range xsd:integer .
ex:weird a owl:DatatypeProperty ; rdfs:domain ex:Person ;
    rdfs:range xsd:gYear, xsd:duration .
ex:plain a owl:DatatypeProperty ; rdfs:range xsd:hexBinary .
ex:notdt a owl:ObjectProperty ; rdfs:range xsd:gMonth .
ex:knows a owl:ObjectProperty, owl:SymmetricProperty,
        owl:TransitiveProperty, owl:InverseFunctionalProperty ;
    rdfs:domain ex:Person ; rdfs:range ex:Person ;
    owl:inverseOf ex:knownBy ;
    owl:propertyChainAxiom ( ex:p1 ex:p2 ) ;
    owl:equivalentProperty ex:acquainted .
ex:rp a rdf:Property .
ex:i1 a owl:NamedIndividual, ex:C ; owl:sameAs ex:i2 ;
    owl:differentFrom ex:i3 .
ex:note a owl:AnnotationProperty .
ex:st a rdf:Statement ; rdf:subject ex:i1 .
_:bprop a owl:FunctionalProperty, owl:DatatypeProperty .
""",
    # the same statements again from a second document: row-local rules
    # fire once per input row, keyed rules once per subject
    "b": """
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix ex: <http://example.org/> .

ex:onto owl:imports <http://other.org/o1> .
ex:i1 a owl:NamedIndividual ; owl:sameAs ex:i2 .
ex:weird rdfs:range xsd:gYear .
ex:knows owl:inverseOf ex:knownBy ; a owl:SymmetricProperty .
ex:A owl:equivalentClass ex:B .
ex:B owl:complementOf ex:C .
""",
}

PREFLIGHT_GOLDEN = [
    ("annotation", "info",
     "Custom annotation property",
     "http://example.org/note"),
    ("class_axiom", "info", "Disjoint classes", "http://example.org/A"),
    ("class_axiom", "info", "Equivalent class", "http://example.org/A"),
    ("class_axiom", "info", "Equivalent class", "http://example.org/A"),
    ("complex_class_expression", "warning",
     "owl:complementOf class expression",
     "http://example.org/B"),
    ("complex_class_expression", "warning",
     "owl:intersectionOf class expression",
     "http://example.org/A"),
    ("complex_class_expression", "warning",
     "owl:oneOf class expression",
     "http://example.org/C"),
    ("external_import", "warning",
     "External import detected: http://other.org/o1",
     "http://other.org/o1"),
    ("external_import", "warning",
     "External import detected: http://other.org/o1",
     "http://other.org/o1"),
    ("external_import", "warning",
     "External import detected: http://other.org/o2",
     "http://other.org/o2"),
    ("individual", "info", "Named individual", "http://example.org/i1"),
    ("individual", "info",
     "owl:differentFrom statement",
     "http://example.org/i1"),
    ("individual", "info", "owl:sameAs statement", "http://example.org/i1"),
    ("individual", "info", "owl:sameAs statement", "http://example.org/i1"),
    ("missing_signature", "warning",
     "Property 'notdt' missing domain",
     "http://example.org/notdt"),
    ("missing_signature", "warning",
     "Property 'plain' missing domain",
     "http://example.org/plain"),
    ("missing_signature", "warning",
     "Property 'rp' missing domain",
     "http://example.org/rp"),
    ("missing_signature", "warning",
     "Property 'rp' missing range",
     "http://example.org/rp"),
    ("property_chain", "info",
     "Equivalent property",
     "http://example.org/knows"),
    ("property_chain", "info", "Inverse property", "http://example.org/knows"),
    ("property_chain", "info", "Inverse property", "http://example.org/knows"),
    ("property_chain", "warning",
     "Property chain axiom",
     "http://example.org/knows"),
    ("property_characteristic", "info",
     "Property characteristic 'FunctionalProperty' on 'age'",
     "http://example.org/age"),
    ("property_characteristic", "info",
     "Property characteristic 'InverseFunctionalProperty' on 'knows'",
     "http://example.org/knows"),
    ("property_characteristic", "info",
     "Property characteristic 'SymmetricProperty' on 'knows'",
     "http://example.org/knows"),
    ("property_characteristic", "info",
     "Property characteristic 'TransitiveProperty' on 'knows'",
     "http://example.org/knows"),
    ("property_restriction", "warning", "OWL restriction", "_:a/1/gen7"),
    ("reification", "warning", "Reified statement", "http://example.org/st"),
    ("unsupported_datatype", "info",
     "Unsupported XSD datatype: duration",
     "http://example.org/weird"),
    ("unsupported_datatype", "info",
     "Unsupported XSD datatype: gYear",
     "http://example.org/weird"),
    ("unsupported_datatype", "info",
     "Unsupported XSD datatype: hexBinary",
     "http://example.org/plain"),
]

DTDL_CTX = "dtmi:dtdl:context;3"


def _iface(dtmi, **kw):
    return json.dumps({"@context": DTDL_CTX, "@id": dtmi,
                       "@type": "Interface", **kw})


LONG_DTMI = "dtmi:com:x:" + "L" * 130 + ";1"
DTDL_PAYLOADS = {
    "bad_dtmi": _iface("dtmi:1bad;1", contents=[]),
    "long_dtmi": _iface(LONG_DTMI, contents=[]),
    "dup_1": _iface("dtmi:com:x:Dup;1", contents=[
        {"@type": "Relationship", "name": "toGhost",
         "target": "dtmi:com:x:Ghost;1"}]),
    "dup_2": _iface("dtmi:com:x:Dup;1", contents=[
        {"@type": "Relationship", "name": "toGhost",
         "target": "dtmi:com:x:Ghost;1"}]),
    "cycle_a": _iface("dtmi:com:x:A;1", extends="dtmi:com:x:B;1"),
    "cycle_b": _iface("dtmi:com:x:B;1", extends="dtmi:com:x:A;1"),
    "orphan_rel": _iface("dtmi:com:x:R;1", contents=[
        {"@type": "Relationship", "name": "links",
         "target": "dtmi:com:x:Nowhere;1"},
        {"@type": "Relationship", "name": "ok", "target": "dtmi:com:x:A;1"},
        {"@type": "Relationship", "name": "open"}]),
    "missing_comp": _iface("dtmi:com:x:M;1", contents=[
        {"@type": "Component", "name": "c",
         "schema": "dtmi:com:x:External;1"},
        {"@type": "Component", "name": "known",
         "schema": "dtmi:com:x:R;1"}]),
}

DTDL_GOLDEN = [
    ("dtdl:dtmi_format", "error", "Invalid DTMI: dtmi:1bad;1", "dtmi:1bad;1"),
    ("dtdl:dtmi_length", "error",
     "Interface DTMI exceeds 128 chars: dtmi:com:x:" + "L" * 130 + ";1",
     "dtmi:com:x:" + "L" * 130 + ";1"),
    ("dtdl:duplicate_dtmi", "error",
     "Duplicate DTMI: dtmi:com:x:Dup;1",
     "dtmi:com:x:Dup;1"),
    ("dtdl:inheritance_cycle", "error",
     "Inheritance cycle through: dtmi:com:x:A;1",
     "dtmi:com:x:A;1"),
    ("dtdl:inheritance_cycle", "error",
     "Inheritance cycle through: dtmi:com:x:B;1",
     "dtmi:com:x:B;1"),
    ("dtdl:missing_component_schema", "warning",
     "Component 'c' schema not defined in ontology: dtmi:com:x:External;1",
     "dtmi:com:x:External;1"),
    ("dtdl:orphan_relationship_target", "warning",
     "Relationship 'links' targets undefined interface dtmi:com:x:Nowhere;1",
     "dtmi:com:x:Nowhere;1"),
    ("dtdl:orphan_relationship_target", "warning",
     "Relationship 'toGhost' targets undefined interface dtmi:com:x:Ghost;1",
     "dtmi:com:x:Ghost;1"),
    ("dtdl:orphan_relationship_target", "warning",
     "Relationship 'toGhost' targets undefined interface dtmi:com:x:Ghost;1",
     "dtmi:com:x:Ghost;1"),
]


def _part(payload: dict, path: str, ptype: str = "InlineBase64"):
    return (path, base64.b64encode(json.dumps(payload).encode()).decode(),
            ptype)


PART_SCHEMA = "path string, payload string, payloadType string"


def _ent(i: int, **kw) -> dict:
    return {"id": str(i), "name": f"E{i}", "namespace": "usertypes",
            "namespaceType": "Custom", "visibility": "Visible", **kw}


def corrupted_parts(spark):
    """One part per structural rule family of definition_schema_issues."""
    props = [{"id": "1", "name": "p", "valueType": "Float"},
             {"id": "2", "name": "q"},
             {"id": "3", "name": "r", "valueType": "Money"}]
    rows = [
        _part({"id": "abc", "name": "0bad name!", "namespace": "fabric",
               "namespaceType": "Weird", "visibility": "Shiny",
               "properties": props,
               "timeseriesProperties": [{"id": "4", "name": "ts",
                                         "valueType": "Tick"}]},
              "EntityTypes/999/definition.json"),
        _part(_ent(100, name="N" * 300, baseEntityTypeId="base-x",
                   properties=[{"id": str(i), "name": f"p{i}",
                                "valueType": "String"}
                               for i in range(201)]),
              "EntityTypes/100/definition.json"),
        _part(_ent(101, namespace="System"),
              "EntityTypes/101/definition.json"),
        _part({"id": "102", "name": "NoVis", "namespace": "usertypes"},
              "EntityTypes/102/definition.json"),
        _part({"id": "123", "name": "R", "namespace": "ok",
               "namespaceType": "Custom",
               "source": {"entityTypeId": "777"}, "target": {}},
              "RelationshipTypes/123/definition.json"),
        _part({"id": "124", "name": "Loop", "namespace": "ok",
               "namespaceType": "Custom",
               "source": {"entityTypeId": "888"},
               "target": {"entityTypeId": "888"}},
              "RelationshipTypes/124/definition.json"),
        _part({"id": "125", "name": "Half"},
              "RelationshipTypes/125/definition.json"),
        _part({"id": "126", "name": "Good", "namespace": "ok",
               "namespaceType": "Custom",
               "source": {"entityTypeId": "100"},
               "target": {"entityTypeId": "101"}},
              "RelationshipTypes/126/definition.json"),
        ("EntityTypes/5/definition.json", "!!!notbase64json", "Other"),
        ("RelationshipTypes/6/definition.json", "bm90IGpzb24=",
         "InlineBase64"),
        _part({"metadata": {"displayName": "x"}}, ".platform", "Text"),
    ]
    return spark.createDataFrame(rows, PART_SCHEMA)


def over_cap_parts(spark, n: int = 501):
    """n entity parts and n relationship parts between them: one over the
    500-per-kind caps, each part small and well-formed."""
    rows = [_part(_ent(1000 + i), f"EntityTypes/{1000 + i}/definition.json")
            for i in range(n)]
    rows += [_part({"id": str(5000 + i), "name": f"R{i}",
                    "namespace": "usertypes", "namespaceType": "Custom",
                    "source": {"entityTypeId": str(1000 + i)},
                    "target": {"entityTypeId": str(1000 + (i + 1) % n)}},
                   f"RelationshipTypes/{5000 + i}/definition.json")
             for i in range(n)]
    return spark.createDataFrame(rows, PART_SCHEMA)


DEFINITION_GOLDEN = [
    ("fabric:bad_payload", "error",
     "Payload is not valid base64-encoded JSON",
     "EntityTypes/5/definition.json"),
    ("fabric:endpoint_missing", "error",
     "source/target missing entityTypeId",
     "RelationshipTypes/123/definition.json"),
    ("fabric:endpoint_missing", "error",
     "source/target missing entityTypeId",
     "RelationshipTypes/125/definition.json"),
    ("fabric:endpoint_missing", "error",
     "source/target missing entityTypeId",
     "RelationshipTypes/6/definition.json"),
    ("fabric:invalid_name", "warning",
     "Name '0bad name!' should start with a letter and contain onl"
     "y letters/numbers/underscores",
     "EntityTypes/999/definition.json"),
    ("fabric:invalid_namespace_type", "error",
     "Invalid namespaceType 'Weird'",
     "EntityTypes/999/definition.json"),
    ("fabric:invalid_value_type", "error",
     "Invalid valueType 'Float' on property 'p'",
     "EntityTypes/999/definition.json"),
    ("fabric:invalid_value_type", "error",
     "Invalid valueType 'Money' on property 'r'",
     "EntityTypes/999/definition.json"),
    ("fabric:invalid_value_type", "error",
     "Invalid valueType 'Tick' on property 'ts'",
     "EntityTypes/999/definition.json"),
    ("fabric:invalid_visibility", "error",
     "Invalid visibility 'Shiny'",
     "EntityTypes/999/definition.json"),
    ("fabric:missing_required", "error",
     "EntityType payload missing one of ['id', 'name', 'namespace'"
     ", 'namespaceType', 'visibility']",
     "EntityTypes/102/definition.json"),
    ("fabric:missing_required", "error",
     "RelationshipType payload missing one of ['id', 'name', 'name"
     "space', 'namespaceType', 'source', 'target']",
     "RelationshipTypes/125/definition.json"),
    ("fabric:missing_required", "error",
     "RelationshipType payload missing one of ['id', 'name', 'name"
     "space', 'namespaceType', 'source', 'target']",
     "RelationshipTypes/6/definition.json"),
    ("fabric:name_too_long", "error",
     "Name exceeds 256 chars",
     "EntityTypes/100/definition.json"),
    ("fabric:nonnumeric_id", "warning",
     "ID 'abc' is not numeric",
     "EntityTypes/999/definition.json"),
    ("fabric:nonnumeric_id", "warning",
     "baseEntityTypeId 'base-x' is not numeric",
     "EntityTypes/100/definition.json"),
    ("fabric:path_id_mismatch", "error",
     "Part path id '999' != payload id 'abc'",
     "EntityTypes/999/definition.json"),
    ("fabric:payload_type", "warning",
     "Unexpected payloadType 'Other', expected 'InlineBase64'",
     "EntityTypes/5/definition.json"),
    ("fabric:payload_type", "warning",
     "Unexpected payloadType 'Text', expected 'InlineBase64'",
     ".platform"),
    ("fabric:property_missing_field", "error",
     "Property missing id/name/valueType",
     "EntityTypes/999/definition.json"),
    ("fabric:reserved_namespace", "error",
     "Cannot use reserved namespace 'System'",
     "EntityTypes/101/definition.json"),
    ("fabric:reserved_namespace", "error",
     "Cannot use reserved namespace 'fabric'",
     "EntityTypes/999/definition.json"),
    ("fabric:too_many_properties", "error",
     "Too many properties (201) exceeds limit of 200",
     "EntityTypes/100/definition.json"),
    ("fabric:unknown_endpoint", "warning",
     "Endpoint references unknown entityTypeId '777'",
     "RelationshipTypes/123/definition.json"),
    ("fabric:unknown_endpoint", "warning",
     "Endpoint references unknown entityTypeId '888'",
     "RelationshipTypes/124/definition.json"),
    ("fabric:unknown_endpoint", "warning",
     "Endpoint references unknown entityTypeId '888'",
     "RelationshipTypes/124/definition.json"),
]
OVER_CAP_GOLDEN = [
    ("fabric:too_many_types", "error",
     "Too many EntityTypes: 501 exceeds limit of 500",
     "EntityTypes"),
    ("fabric:too_many_types", "error",
     "Too many RelationshipTypes: 501 exceeds limit of 500",
     "RelationshipTypes"),
]


def _cdm(defs):
    return json.dumps({"jsonSchemaSemanticVersion": "1.0.0",
                       "definitions": defs})


CDM_PAYLOADS = {
    "deep": _cdm([
        {"entityName": "Self", "extendsEntity": "Self",
         "hasAttributes": [
             {"name": "dup", "dataType": "string",
              "purpose": "identifiedBy"},
             {"name": "dup", "dataType": "integer"},
             {"name": "weird", "dataType": "frobnicate"},
             {"name": "notype"},
             {"name": "bad len", "dataType": "string",
              "maximumLength": -5},
             {"name": "huge", "dataType": "string",
              "maximumLength": 2000000000},
             {"name": "type", "dataType": "string"},
             {"name": "9starts", "dataType": "string"},
             {"name": "x" * 120, "dataType": "string"},
             {"name": "other", "entity": {"entityName": "Other"}}]},
        {"entityName": "Child", "extendsEntity": "Self",
         "hasAttributes": [{"name": "ok", "dataType": "string",
                            "purpose": "identifiedBy"}]},
        {"entityName": "Empty", "hasAttributes": []},
        {"entityName": "NoKey",
         "hasAttributes": [{"name": "a", "dataType": "string"}]},
        {"entityName": "bad entity", "hasAttributes": []},
        {"entityName": "E" * 110, "hasAttributes": []}]),
    # the same entity again from a second document: per-attribute rules
    # fire per row, per-entity rules once
    "deep_again": _cdm([
        {"entityName": "NoKey",
         "hasAttributes": [{"name": "a", "dataType": "string"},
                           {"name": "weird", "dataType": "frobnicate"}]},
        {"entityName": "Child", "extendsEntity": "Self",
         "hasAttributes": [{"name": "ok", "dataType": "string",
                            "purpose": "identifiedBy"}]}]),
    "relmodel": json.dumps({
        "name": "m", "entities": [
            {"$type": "LocalEntity", "name": "RelHost",
             "attributes": [{"name": "dangling", "dataType": "guid",
                             "attributeReference": {"attributeName": "x"}}]}],
        "relationships": [
            {"fromEntity": "Child", "fromEntityAttribute": "nope",
             "toEntity": "Ghost", "toEntityAttribute": "gid"},
            {"name": "9rel", "fromEntity": "Child",
             "fromEntityAttribute": "ok", "toEntity": "NoKey",
             "toEntityAttribute": "missing"},
            {"name": "has space", "fromEntity": "Phantom",
             "toEntity": "Self", "toEntityAttribute": "dup"},
            {"name": "entity", "fromEntity": "Self", "toEntity": "Child"},
            {"name": "entity", "fromEntity": "Self", "toEntity": "Child"},
            {"name": "r" * 120, "fromEntity": "Child",
             "toEntity": "Nobody"}]}),
    "broken": json.dumps([{"jsonSchemaSemanticVersion": "1.0.0"}]),
}

CDM_GOLDEN = [
    ("cdm:circular_extends", "error",
     "Entity 'Self' cannot extend itself",
     "Self"),
    ("cdm:constraint_violation", "warning",
     "Invalid maximum length: -5 on attribute 'bad len'",
     "Self"),
    ("cdm:constraint_violation", "warning",
     "Very large maximum length: 2000000000 on attribute 'huge'",
     "Self"),
    ("cdm:duplicate_attribute", "error",
     "Duplicate attribute name: 'a' on entity 'NoKey'",
     "NoKey"),
    ("cdm:duplicate_attribute", "error",
     "Duplicate attribute name: 'dup' on entity 'Self'",
     "Self"),
    ("cdm:duplicate_attribute", "error",
     "Duplicate attribute name: 'ok' on entity 'Child'",
     "Child"),
    ("cdm:duplicate_entity", "warning",
     "Duplicate entity name: 'Child'",
     "Child"),
    ("cdm:duplicate_entity", "warning",
     "Duplicate entity name: 'NoKey'",
     "NoKey"),
    ("cdm:empty_entity", "warning",
     "Entity '" + "E" * 110 + "' has no attributes",
     "E" * 110),
    ("cdm:empty_entity", "warning",
     "Entity 'Empty' has no attributes",
     "Empty"),
    ("cdm:empty_entity", "warning",
     "Entity 'bad entity' has no attributes",
     "bad entity"),
    ("cdm:entity_reference", "info",
     "Attribute 'other' is an entity reference (modeled as relationship)",
     "Self"),
    ("cdm:extends_dependency", "info",
     "Entity 'Child' extends 'Self' (inherited attributes flattene"
     "d on conversion)",
     "Child"),
    ("cdm:invalid_name_start", "warning",
     "Attribute name '9starts' should start with letter or underscore",
     "Self"),
    ("cdm:invalid_name_start", "warning",
     "Relationship name '9rel' should start with letter or underscore",
     "9rel"),
    ("cdm:missing_data_type", "warning",
     "Attribute 'dangling' missing data type, will default to String",
     "RelHost"),
    ("cdm:missing_data_type", "warning",
     "Attribute 'notype' missing data type, will default to String",
     "Self"),
    ("cdm:missing_endpoint", "error",
     "Relationship missing 'toEntity'",
     "RelHost_to_"),
    ("cdm:name_has_spaces", "warning",
     "Attribute name 'bad len' contains spaces",
     "Self"),
    ("cdm:name_has_spaces", "warning",
     "Entity name 'bad entity' contains spaces",
     "bad entity"),
    ("cdm:name_has_spaces", "warning",
     "Relationship name 'has space' contains spaces",
     "has space"),
    ("cdm:name_too_long", "error",
     "Attribute name exceeds maximum length (120 > 100)",
     "Self"),
    ("cdm:name_too_long", "error",
     "Entity name exceeds maximum length (110 > 100)",
     "E" * 110),
    ("cdm:name_too_long", "error",
     "Relationship name exceeds maximum length (120 > 100)",
     "r" * 120),
    ("cdm:no_primary_key", "info",
     "Entity 'NoKey' has no primary key attribute",
     "NoKey"),
    ("cdm:no_primary_key", "info",
     "Entity 'RelHost' has no primary key attribute",
     "RelHost"),
    ("cdm:parse", "error",
     "CdmParseError: CDM document must be a JSON object",
     "doc://broken"),
    ("cdm:reserved_name", "info",
     "Attribute name 'type' may conflict with reserved names",
     "Self"),
    ("cdm:reserved_name", "info",
     "Relationship name 'entity' may conflict with reserved names",
     "entity"),
    ("cdm:unknown_data_type", "warning",
     "Unknown data type 'frobnicate' on attribute 'weird' will def"
     "ault to String",
     "NoKey"),
    ("cdm:unknown_data_type", "warning",
     "Unknown data type 'frobnicate' on attribute 'weird' will def"
     "ault to String",
     "Self"),
    ("cdm:unknown_endpoint", "info",
     "Relationship references unknown source entity: 'Phantom'",
     "has space"),
    ("cdm:unknown_endpoint", "info",
     "Relationship references unknown target entity: 'Ghost'",
     "Child_to_Ghost"),
    ("cdm:unknown_endpoint", "info",
     "Relationship references unknown target entity: 'Nobody'",
     "r" * 120),
    ("cdm:unknown_endpoint_attribute", "warning",
     "Relationship '9rel' references missing attribute 'missing' on 'NoKey'",
     "9rel"),
    ("cdm:unknown_endpoint_attribute", "warning",
     "Relationship 'Child_to_Ghost' references missing attribute '"
     "nope' on 'Child'",
     "Child_to_Ghost"),
]


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple("" if v is None else v for v in t))


def test_preflight_golden(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
        extract_triples, split_errors)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        preflight_issues)
    clean, _ = split_errors(extract_triples(
        docs_from_payloads(spark, PREFLIGHT_TTL)))
    assert _rows(preflight_issues(clean)) == PREFLIGHT_GOLDEN


def test_dtdl_golden(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
        extract_interfaces)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        dtdl_issues)
    ifaces = extract_interfaces(docs_from_payloads(spark, DTDL_PAYLOADS))
    assert _rows(dtdl_issues(ifaces)) == DTDL_GOLDEN


def test_definition_schema_golden(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        definition_schema_issues)
    assert (_rows(definition_schema_issues(corrupted_parts(spark)))
            == DEFINITION_GOLDEN)
    assert (_rows(definition_schema_issues(over_cap_parts(spark)))
            == OVER_CAP_GOLDEN)


def test_cdm_golden(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import (
        extract_cdm)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        cdm_issues)
    ents, rels = extract_cdm(docs_from_payloads(spark, CDM_PAYLOADS))
    assert _rows(cdm_issues(ents, rels)) == CDM_GOLDEN
    # without relationship rows only the entity and attribute rules run
    assert _rows(cdm_issues(ents)) == [
        r for r in CDM_GOLDEN if not r[2].startswith("Relationship ")]


def _plan_scans(df) -> int:
    """LogicalRDD leaves of the optimized plan: one per scan of a
    checkpointed input."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines()
               if re.sub(r"^[\s:+|-]*", "", line).startswith("LogicalRDD "))


def test_validator_plan_budget(spark):
    """Row-local rules are evaluated in one projection per input, so the
    validators scan a checkpointed input a few times, not once per rule
    (the union-of-branches plan scanned triples 32 times, parts 26)."""
    import corpus
    from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
        extract_triples, split_errors)
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        definition_schema_issues, preflight_issues)
    payloads = {**corpus.TTL, **PREFLIGHT_TTL}
    clean, _ = split_errors(extract_triples(
        docs_from_payloads(spark, payloads)))
    assert _plan_scans(preflight_issues(clean.localCheckpoint())) <= 4
    parts = corrupted_parts(spark).localCheckpoint()
    assert _plan_scans(definition_schema_issues(parts)) <= 4


def test_definition_caps(spark):
    """The entity-id-parts cap is a rule row and the definition size cap an
    aggregate rule: generated over-cap parts fire them, the engine's own
    serialized output does not."""
    import corpus
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        definition_schema_issues)
    from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import (
        run_pipeline)
    from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import (
        definition_parts_df)

    id_parts = spark.createDataFrame([
        _part(_ent(1, entityIdParts=[str(i) for i in range(6)]),
              "EntityTypes/1/definition.json"),
        _part(_ent(2, entityIdParts=[str(i) for i in range(5)]),
              "EntityTypes/2/definition.json")], PART_SCHEMA)
    assert _rows(definition_schema_issues(id_parts)) == [
        ("fabric:too_many_id_parts", "error",
         "Too many entityIdParts (6) exceeds limit of 5",
         "EntityTypes/1/definition.json")]

    props = [{"id": str(10_000 + j), "name": f"property{j}",
              "valueType": "String"} for j in range(150)]
    rows = [_part(_ent(100 + i, properties=props),
                  f"EntityTypes/{100 + i}/definition.json")
            for i in range(100)]
    total = sum(len(payload) for _, payload, _ in rows)
    assert total > 1_000_000
    oversize = spark.createDataFrame(rows, PART_SCHEMA)
    assert _rows(definition_schema_issues(oversize)) == [
        ("fabric:definition_too_large", "error",
         f"Definition payloads total {total} bytes, exceeds limit of "
         "1000000", None)]

    res = run_pipeline(spark, docs_from_payloads(
        spark, {"s": corpus.TTL["simple"]}))
    own = definition_schema_issues(definition_parts_df(
        res.entity_types, res.relationship_types))
    assert [r for r in own.collect() if r["severity"] == "error"] == []


def test_inheritance_depth_cap(spark):
    """A part whose baseEntityTypeId chain is 11 deep exceeds
    MAX_INHERITANCE_DEPTH (10); a 10-deep chain does not, and a cycle's
    chain is unbounded (the closure's cap, 12)."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
        definition_schema_issues)

    def chain(start, depth):
        return [_part(_ent(start + i, **({"baseEntityTypeId":
                                          str(start + i + 1)}
                                         if i < depth else {})),
                      f"EntityTypes/{start + i}/definition.json")
                for i in range(depth + 1)]

    cycle = [_part(_ent(300 + i, baseEntityTypeId=str(301 - i)),
                   f"EntityTypes/{300 + i}/definition.json")
             for i in range(2)]
    parts = spark.createDataFrame(chain(100, 11) + chain(200, 10) + cycle,
                                  PART_SCHEMA)
    assert _rows(definition_schema_issues(parts)) == [
        ("fabric:inheritance_too_deep", "error",
         f"Inheritance depth {d} exceeds limit of 10",
         f"EntityTypes/{i}/definition.json")
        for d, i in ((11, 100), (12, 300), (12, 301))]


def test_kg_job_writes_dtdl_and_cdm_issues(spark, tmp_path):
    """The kg job's issues/ holds the DTDL and CDM validators' rows next to
    the RDF preflight rows, with and without --checkpoint-root."""
    import corpus
    from rdf_dtdl_fabric_ontology_converter_spark import job as jobmod
    payloads = {"rdf": corpus.TTL["external_import"],
                "dup_1": DTDL_PAYLOADS["dup_1"],
                "dup_2": DTDL_PAYLOADS["dup_2"],
                "cdm": CDM_PAYLOADS["deep_again"]}
    in_path = str(tmp_path / "docs")
    docs_from_payloads(spark, payloads).write.parquet(in_path)
    for extra in ([], ["--checkpoint-root", str(tmp_path / "cp")]):
        out = str(tmp_path / f"out{len(extra)}")
        assert jobmod.main(["--input", in_path, "--output", out,
                            "--shuffle-partitions", "4", *extra]) == 0
        got = {(r["category"], r["uri"])
               for r in spark.read.parquet(f"{out}/issues").collect()}
        assert {("external_import", "http://xmlns.com/foaf/0.1/"),
                ("dtdl:duplicate_dtmi", "dtmi:com:x:Dup;1"),
                ("dtdl:orphan_relationship_target", "dtmi:com:x:Ghost;1"),
                ("cdm:no_primary_key", "NoKey"),
                ("cdm:unknown_data_type", "NoKey")} <= got
