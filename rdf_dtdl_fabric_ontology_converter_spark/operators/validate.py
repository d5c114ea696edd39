"""Validators: rule rows evaluated into one issues DataFrame per input.

Spark mapping of the reference validators (RDF PreflightValidator,
src/formats/rdf/preflight_validator.py:262-656; DTDL, Fabric definition
schema and CDM validators, cited per function). Each validator returns
issues(category, severity, message, uri), from two kinds of rule:

- a row-local rule tests one row on its own. It is a row of data,
  ``(category, severity, condition, message, uri)``, and ``_evaluate``
  runs every row-local rule of an input in one projection;
- a cross-row rule reads other rows (duplicates, cycles, unknown
  endpoints, missing signatures, type caps). The input gets one shared
  aggregate or join, and the rules then read its columns as row-local
  rules do.

So a validator is a union of a few projections, not one branch per rule.
"seamless" iff zero errors+warnings (preflight_validator.py:652-656).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import (MAX_DEFINITION_BYTES, MAX_ENTITY_ID_PARTS, MAX_ENTITY_TYPES,
                MAX_PROPERTIES_PER_ENTITY, MAX_RELATIONSHIP_TYPES,
                OWL_DATATYPE_PROPERTY, OWL_NS, OWL_OBJECT_PROPERTY,
                OWL_RESTRICTION, RDFS_DOMAIN, RDFS_RANGE, RDF_NS,
                RDF_PROPERTY, RDF_TYPE, XSD_NS)
from ..functions.names import local_name

SUPPORTED_XSD = [XSD_NS + t for t in (
    "string", "boolean", "dateTime", "date", "dateTimeStamp", "integer",
    "int", "long", "double", "float", "decimal", "anyURI", "time")]

_CHARACTERISTICS = ["FunctionalProperty", "InverseFunctionalProperty",
                    "SymmetricProperty", "AsymmetricProperty",
                    "TransitiveProperty", "ReflexiveProperty",
                    "IrreflexiveProperty"]

_ISSUES_T = ("array<struct<category:string,severity:string,message:string,"
             "uri:string>>")


def _issue(category: str, severity: str, message, uri=None) -> Column:
    """One issue struct; ``message`` and ``uri`` are strings or Columns."""
    def col(v):
        return v if isinstance(v, Column) else F.lit(v)
    return F.struct(F.lit(category).alias("category"),
                    F.lit(severity).alias("severity"),
                    col(message).cast("string").alias("message"),
                    col(uri).cast("string").alias("uri"))


def _each(items: Column, category: str, severity: str, message,
          uri=None) -> Column:
    """array<issue>: one issue per element x of ``items`` (NULL: none),
    with message ``message(x)``."""
    return F.coalesce(
        F.transform(items, lambda x: _issue(category, severity, message(x),
                                            uri)),
        F.array().cast(_ISSUES_T))


def _evaluate(df: DataFrame, rules, *each: Column) -> DataFrame:
    """Every rule row (category, severity, condition, message, uri) over
    ``df`` in one projection: one issue per (input row, rule whose
    condition holds), plus one per element of each ``each`` array."""
    fired = F.filter(F.array(*[F.when(cond, _issue(cat, sev, msg, uri))
                               for cat, sev, cond, msg, uri in rules]),
                     lambda x: x.isNotNull())
    return df.select(F.inline(F.concat(fired, *each)))


_COMPLEX = ("intersectionOf", "complementOf", "oneOf")
_PROPERTY_TYPES = [OWL_DATATYPE_PROPERTY, OWL_OBJECT_PROPERTY, RDF_PROPERTY]
_TYPES_READ = ([OWL_RESTRICTION, OWL_NS + "NamedIndividual",
                OWL_NS + "AnnotationProperty", RDF_NS + "Statement"]
               + _PROPERTY_TYPES + [OWL_NS + c for c in _CHARACTERISTICS])


def preflight_issues(triples: DataFrame) -> DataFrame:
    """→ issues(category, severity, message, uri)."""
    subj, pred, obj = F.col("subj"), F.col("pred"), F.col("obj")
    name = local_name(subj)
    iri = ~subj.startswith("_:")

    per_triple = [
        ("external_import", "warning", pred == OWL_NS + "imports",
         F.concat(F.lit("External import detected: "), obj), obj),
        ("property_chain", "warning", pred == OWL_NS + "propertyChainAxiom",
         "Property chain axiom", subj),
        ("property_chain", "info", pred == OWL_NS + "equivalentProperty",
         "Equivalent property", subj),
        ("property_chain", "info", pred == OWL_NS + "inverseOf",
         "Inverse property", subj),
        ("class_axiom", "info", (pred == OWL_NS + "equivalentClass") & iri,
         "Equivalent class", subj),
        ("class_axiom", "info", (pred == OWL_NS + "disjointWith") & iri,
         "Disjoint classes", subj),
        ("individual", "info", pred == OWL_NS + "sameAs",
         "owl:sameAs statement", subj),
        ("individual", "info", pred == OWL_NS + "differentFrom",
         "owl:differentFrom statement", subj),
    ]

    # shared aggregate: per subject, the types and predicates the subject
    # rules read, and its unsupported XSD ranges
    unsupported = (pred == RDFS_RANGE) & obj.startswith(XSD_NS) & \
        ~obj.isin(SUPPORTED_XSD)
    by_subj = (triples
               .where(((pred == RDF_TYPE) & obj.isin(_TYPES_READ)) |
                      pred.isin([OWL_NS + k for k in _COMPLEX] +
                                [RDFS_DOMAIN, RDFS_RANGE]))
               .groupBy("subj")
               .agg(F.collect_set(F.when(pred == RDF_TYPE, obj))
                    .alias("types"),
                    F.collect_set("pred").alias("preds"),
                    F.collect_set(F.when(unsupported, obj))
                    .alias("bad_ranges")))
    types, preds = F.col("types"), F.col("preds")

    def is_a(type_uri):
        return F.array_contains(types, type_uri)

    is_prop = F.arrays_overlap(
        types, F.array(*map(F.lit, _PROPERTY_TYPES))) & iri
    per_subject = [
        *[("complex_class_expression", "warning",
           F.array_contains(preds, OWL_NS + kind),
           f"owl:{kind} class expression", subj)
          for kind in _COMPLEX],  # unionOf is supported (validator :347)
        ("property_restriction", "warning", is_a(OWL_RESTRICTION),
         "OWL restriction", subj),
        *[("property_characteristic", "info", is_a(OWL_NS + c) & iri,
           F.concat(F.lit(f"Property characteristic '{c}' on '"), name,
                    F.lit("'")), subj)
          for c in _CHARACTERISTICS],
        ("missing_signature", "warning",
         is_prop & ~F.array_contains(preds, RDFS_DOMAIN),
         F.concat(F.lit("Property '"), name, F.lit("' missing domain")),
         subj),
        ("missing_signature", "warning",
         is_prop & ~F.array_contains(preds, RDFS_RANGE),
         F.concat(F.lit("Property '"), name, F.lit("' missing range")),
         subj),
        ("individual", "info", is_a(OWL_NS + "NamedIndividual"),
         "Named individual", subj),
        ("annotation", "info", is_a(OWL_NS + "AnnotationProperty"),
         "Custom annotation property", subj),
        ("reification", "warning", is_a(RDF_NS + "Statement"),
         "Reified statement", subj),
    ]
    bad_datatypes = _each(
        F.when(is_a(OWL_DATATYPE_PROPERTY), F.col("bad_ranges")),
        "unsupported_datatype", "info",
        lambda o: F.concat(F.lit("Unsupported XSD datatype: "),
                           local_name(o)), subj)

    return (_evaluate(triples, per_triple)
            .unionByName(_evaluate(by_subj, per_subject, bad_datatypes)))


def can_import_seamlessly(issues: DataFrame) -> bool:
    """Seamless iff zero errors and zero warnings."""
    bad = issues.where(F.col("severity").isin("error", "warning")).limit(1)
    return bad.isEmpty()


# ---------------------------------------------------------------------------
# DTDL validator (reference: src/formats/dtdl/dtdl_validator.py:140-240)
# ---------------------------------------------------------------------------

DTMI_REGEX = (r"^dtmi:[A-Za-z][A-Za-z0-9_]*(:[A-Za-z_][A-Za-z0-9_]*)*"
              r"(;[1-9][0-9]{0,8}(\.[1-9][0-9]{0,5})?)?$")
MAX_INTERFACE_DTMI_LENGTH = 128


def dtdl_issues(interfaces: DataFrame) -> DataFrame:
    """Interface rows (operators.dtdl.INTERFACES_SCHEMA) → issues DataFrame.

    Rule families from the reference DTDL validator: DTMI format + length,
    duplicate DTMIs, inheritance cycles (via bounded closure), orphan
    relationship targets, missing component schemas.
    """
    from .dtdl import ancestor_closure
    good = interfaces.where(F.col("parse_error").isNull())
    cyclic = (ancestor_closure(good)
              .where(F.col("dtmi") == F.col("ancestor"))
              .select("dtmi", F.lit(True).alias("cyclic")).dropDuplicates())
    # shared aggregate: one row per DTMI with its row count and cycle flag
    by_dtmi = good.groupBy("dtmi").count().join(cyclic, "dtmi", "left")
    dtmi = F.col("dtmi")
    per_dtmi = [
        ("dtdl:dtmi_format", "error", ~dtmi.rlike(DTMI_REGEX),
         F.concat(F.lit("Invalid DTMI: "), dtmi), dtmi),
        ("dtdl:dtmi_length", "error",
         F.length(dtmi) > MAX_INTERFACE_DTMI_LENGTH,
         F.concat(F.lit(f"Interface DTMI exceeds "
                        f"{MAX_INTERFACE_DTMI_LENGTH} chars: "), dtmi), dtmi),
        ("dtdl:duplicate_dtmi", "error", F.col("count") > 1,
         F.concat(F.lit("Duplicate DTMI: "), dtmi), dtmi),
        ("dtdl:inheritance_cycle", "error", F.col("cyclic"),
         F.concat(F.lit("Inheritance cycle through: "), dtmi), dtmi),
    ]

    kind = F.col("content_type")
    contents = (good.select(F.explode("contents").alias("c")).select("c.*")
                .withColumn("ref",
                            F.when(kind == "Relationship", F.col("target"))
                            .when(kind == "Component", F.col("schema_kind")))
                .join(by_dtmi.select(F.col("dtmi").alias("ref"),
                                     F.lit(True).alias("known")),
                      "ref", "left"))
    ref, item, unknown = F.col("ref"), F.col("name"), F.col("known").isNull()
    per_content = [
        ("dtdl:orphan_relationship_target", "warning",
         (kind == "Relationship") & ref.isNotNull() & unknown,
         F.concat(F.lit("Relationship '"), item,
                  F.lit("' targets undefined interface "), ref), ref),
        ("dtdl:missing_component_schema", "warning",
         (kind == "Component") & unknown,
         F.concat(F.lit("Component '"), item,
                  F.lit("' schema not defined in ontology: "), ref), ref),
    ]
    return (_evaluate(by_dtmi, per_dtmi)
            .unionByName(_evaluate(contents, per_content)))


# ---------------------------------------------------------------------------
# Fabric definition structural schema (reference:
# src/core/validators/fabric_schema.py:40-530; caps: fabric_limits.py) —
# re-validates the engine's OWN serialized output
# (sources.sinks.definition_parts_df), catching sink regressions before
# upload
# ---------------------------------------------------------------------------

FABRIC_VALUE_TYPES = ["String", "BigInt", "Double", "Decimal", "Boolean",
                      "DateTime", "Binary", "Guid"]
FABRIC_NAMESPACE_TYPES = ["Custom", "System"]
FABRIC_VISIBILITY_VALUES = ["Visible", "Hidden"]
FABRIC_RESERVED_NAMESPACES = ["system", "fabric", "microsoft"]
FABRIC_NAME_MAX_LENGTH = 256
FABRIC_ID_RX = "^[0-9]+$"
FABRIC_NAME_RX = "^[A-Za-z][A-Za-z0-9_]*$"

_PROP_T = "array<struct<id:string,name:string,valueType:string>>"
_ENT_PAYLOAD_T = (
    "struct<id:string,namespace:string,name:string,namespaceType:string,"
    "visibility:string,baseEntityTypeId:string,entityIdParts:array<string>,"
    f"displayNamePropertyId:string,properties:{_PROP_T},"
    f"timeseriesProperties:{_PROP_T}>")
_REL_PAYLOAD_T = (
    "struct<id:string,namespace:string,name:string,namespaceType:string,"
    "source:struct<entityTypeId:string>,target:struct<entityTypeId:string>>")
_ENT_REQUIRED = ["id", "name", "namespace", "namespaceType", "visibility"]
_REL_REQUIRED = ["id", "name", "namespace", "namespaceType", "source",
                 "target"]


def definition_schema_issues(parts: DataFrame) -> DataFrame:
    """Definition part rows (path, payload, payloadType) → issues.

    Spark twin of the reference FabricSchemaValidator over the emitted
    parts: required keys, numeric 13-digit-style ids, name length/pattern,
    reserved namespaces, namespaceType/visibility enums, property
    valueType enum, per-entity property and id-part caps, path↔payload id
    agreement, endpoint shape, endpoint ids resolving to emitted entities,
    the 500-per-kind type caps and the definition size cap.
    """
    # try_to_binary → NULL on malformed base64 (unbase64 throws task errors)
    text = F.try_to_binary("payload", F.lit("base64")).cast("string")
    is_ent = F.col("path").startswith("EntityTypes/")
    is_rel = F.col("path").startswith("RelationshipTypes/")
    decoded = parts.select(
        "path", "payloadType",
        F.regexp_extract("path", "^[A-Za-z]+/([^/]+)/definition", 1)
        .alias("path_id"),
        F.when(is_ent, F.from_json(text, _ENT_PAYLOAD_T)).alias("e"),
        F.when(is_rel, F.from_json(text, _REL_PAYLOAD_T)).alias("r"))
    e, r, path, path_id = (F.col("e"), F.col("r"), F.col("path"),
                           F.col("path_id"))

    def shared(field):  # a key both payload kinds carry
        return F.coalesce(e[field], r[field])

    def any_null(d, fields):
        return reduce(or_, [d[f].isNull() for f in fields])

    pid, name = shared("id"), shared("name")
    ns, ns_type = shared("namespace"), shared("namespaceType")
    ptype = F.col("payloadType")
    vis, base = e["visibility"], e["baseEntityTypeId"]
    empty_props = F.array().cast(_PROP_T)
    props = F.concat(F.coalesce(e["properties"], empty_props),
                     F.coalesce(e["timeseriesProperties"], empty_props))
    per_part = [
        ("fabric:payload_type", "warning", ptype != "InlineBase64",
         F.concat(F.lit("Unexpected payloadType '"), ptype,
                  F.lit("', expected 'InlineBase64'")), path),
        ("fabric:bad_payload", "error",
         (is_ent & e.isNull()) | (is_rel & r.isNull()),
         "Payload is not valid base64-encoded JSON", path),
        ("fabric:missing_required", "error",
         e.isNotNull() & any_null(e, _ENT_REQUIRED),
         f"EntityType payload missing one of {_ENT_REQUIRED}", path),
        ("fabric:missing_required", "error",
         r.isNotNull() & any_null(r, _REL_REQUIRED),
         f"RelationshipType payload missing one of {_REL_REQUIRED}", path),
        ("fabric:nonnumeric_id", "warning",
         pid.isNotNull() & ~pid.rlike(FABRIC_ID_RX),
         F.concat(F.lit("ID '"), pid, F.lit("' is not numeric")), path),
        ("fabric:path_id_mismatch", "error",
         pid.isNotNull() & (pid != path_id),
         F.concat(F.lit("Part path id '"), path_id,
                  F.lit("' != payload id '"), pid, F.lit("'")), path),
        ("fabric:name_too_long", "error",
         F.length(name) > FABRIC_NAME_MAX_LENGTH,
         f"Name exceeds {FABRIC_NAME_MAX_LENGTH} chars", path),
        ("fabric:invalid_name", "warning",
         name.isNotNull() & ~name.rlike(FABRIC_NAME_RX),
         F.concat(F.lit("Name '"), name,
                  F.lit("' should start with a letter and contain only "
                        "letters/numbers/underscores")), path),
        ("fabric:reserved_namespace", "error",
         F.lower(ns).isin(FABRIC_RESERVED_NAMESPACES),
         F.concat(F.lit("Cannot use reserved namespace '"), ns, F.lit("'")),
         path),
        ("fabric:invalid_namespace_type", "error",
         ns_type.isNotNull() & ~ns_type.isin(FABRIC_NAMESPACE_TYPES),
         F.concat(F.lit("Invalid namespaceType '"), ns_type, F.lit("'")),
         path),
        ("fabric:invalid_visibility", "error",
         vis.isNotNull() & ~vis.isin(FABRIC_VISIBILITY_VALUES),
         F.concat(F.lit("Invalid visibility '"), vis, F.lit("'")), path),
        ("fabric:nonnumeric_id", "warning",
         base.isNotNull() & ~base.rlike(FABRIC_ID_RX),
         F.concat(F.lit("baseEntityTypeId '"), base,
                  F.lit("' is not numeric")), path),
        ("fabric:too_many_properties", "error",
         F.size(F.coalesce(e["properties"], empty_props))
         > MAX_PROPERTIES_PER_ENTITY,
         F.concat(F.lit("Too many properties ("), F.size(e["properties"]),
                  F.lit(f") exceeds limit of {MAX_PROPERTIES_PER_ENTITY}")),
         path),
        ("fabric:too_many_id_parts", "error",
         F.size(e["entityIdParts"]) > MAX_ENTITY_ID_PARTS,
         F.concat(F.lit("Too many entityIdParts ("),
                  F.size(e["entityIdParts"]),
                  F.lit(f") exceeds limit of {MAX_ENTITY_ID_PARTS}")), path),
        ("fabric:endpoint_missing", "error",
         r.isNotNull() & (r["source"]["entityTypeId"].isNull() |
                          r["target"]["entityTypeId"].isNull()),
         "source/target missing entityTypeId", path),
    ]
    per_property = [
        _each(F.filter(props, lambda p: p["id"].isNull() |
                       p["name"].isNull() | p["valueType"].isNull()),
              "fabric:property_missing_field", "error",
              lambda p: F.lit("Property missing id/name/valueType"), path),
        _each(F.filter(props, lambda p: p["valueType"].isNotNull() &
                       ~p["valueType"].isin(FABRIC_VALUE_TYPES)),
              "fabric:invalid_value_type", "error",
              lambda p: F.concat(F.lit("Invalid valueType '"),
                                 p["valueType"], F.lit("' on property '"),
                                 p["name"], F.lit("'")), path),
    ]

    # cross-row: relationship endpoints that no entity part defines
    eid = F.col("eid")
    unknown_ends = (
        decoded.where(r.isNotNull())
        .select("path", F.explode(F.array(r["source"]["entityTypeId"],
                                          r["target"]["entityTypeId"]))
                .alias("eid"))
        .join(decoded.where(e.isNotNull()).select(e["id"].alias("eid")),
              "eid", "left_anti"))
    per_unknown = [
        ("fabric:unknown_endpoint", "warning", eid.isNotNull(),
         F.concat(F.lit("Endpoint references unknown entityTypeId '"), eid,
                  F.lit("'")), path)]

    # shared aggregate: the definition-wide caps
    n_ent, n_rel, n_bytes = F.col("n_ent"), F.col("n_rel"), F.col("bytes")
    totals = parts.agg(F.count(F.when(is_ent, 1)).alias("n_ent"),
                       F.count(F.when(is_rel, 1)).alias("n_rel"),
                       F.sum(F.length("payload")).alias("bytes"))
    per_definition = [
        ("fabric:too_many_types", "error", n_ent > MAX_ENTITY_TYPES,
         F.concat(F.lit("Too many EntityTypes: "), n_ent,
                  F.lit(f" exceeds limit of {MAX_ENTITY_TYPES}")),
         "EntityTypes"),
        ("fabric:too_many_types", "error", n_rel > MAX_RELATIONSHIP_TYPES,
         F.concat(F.lit("Too many RelationshipTypes: "), n_rel,
                  F.lit(f" exceeds limit of {MAX_RELATIONSHIP_TYPES}")),
         "RelationshipTypes"),
        ("fabric:definition_too_large", "error",
         n_bytes > MAX_DEFINITION_BYTES,
         F.concat(F.lit("Definition payloads total "), n_bytes,
                  F.lit(f" bytes, exceeds limit of {MAX_DEFINITION_BYTES}")),
         None),
    ]
    return (_evaluate(decoded, per_part, *per_property)
            .unionByName(_evaluate(unknown_ends, per_unknown))
            .unionByName(_evaluate(totals, per_definition)))


# ---------------------------------------------------------------------------
# CDM validator (reference: src/formats/cdm/cdm_validator.py:180-548)
# ---------------------------------------------------------------------------

CDM_MAX_NAME_LENGTH = 100        # reference: cdm_validator.py:57
CDM_MAX_ATTR_LENGTH = 1073741824  # 1 GB cap (cdm_validator.py:357)
CDM_RESERVED_NAMES = [            # reference: cdm_validator.py:61-64
    "id", "type", "namespace", "version", "created", "modified",
    "entity", "relationship", "property", "system", "internal"]


def _name_rules(item_type: str, n: Column, uri: Column) -> list:
    """Fabric naming rules (reference: cdm_validator.py:498-548): length,
    first character, spaces, reserved names."""
    def said(text):
        return F.concat(F.lit(f"{item_type} name '"), n, F.lit(text))
    return [
        ("cdm:name_too_long", "error", F.length(n) > CDM_MAX_NAME_LENGTH,
         F.concat(F.lit(f"{item_type} name exceeds maximum length ("),
                  F.length(n), F.lit(f" > {CDM_MAX_NAME_LENGTH})")), uri),
        ("cdm:invalid_name_start", "warning", ~n.rlike("^[a-zA-Z_]"),
         said("' should start with letter or underscore"), uri),
        ("cdm:name_has_spaces", "warning", n.contains(" "),
         said("' contains spaces"), uri),
        ("cdm:reserved_name", "info", F.lower(n).isin(CDM_RESERVED_NAMES),
         said("' may conflict with reserved names"), uri),
    ]


def cdm_issues(cdm_entities: DataFrame,
               cdm_rels: DataFrame | None = None) -> DataFrame:
    """CDM entity (+ optional relationship) rows → issues.

    Rule families (reference: src/formats/cdm/cdm_validator.py:180-548):
    parse/syntax errors; duplicate entity names; empty entities; missing
    primary key; entity-reference attributes (info); duplicate attribute
    names; Fabric naming rules (length / first char / spaces / reserved)
    for entity, attribute, and relationship names; missing or unknown data
    types; maximumLength constraint violations (non-positive or > 1 GB);
    self-referential extends (circular); extends external-dependency info;
    relationship endpoints missing or referencing unknown entities.
    Schema-version checks are file-level CLI scope and intentionally out.
    """
    good = cdm_entities.where(F.col("parse_error").isNull())
    entity = F.col("entity_name")

    # per entity row: the parse error, and one issue per flagged attribute
    attrs = F.when(F.col("parse_error").isNull(), F.col("attributes"))

    def attr_said(a, *parts):
        return F.concat(F.lit("Attribute '"), a["name"], *parts)

    per_row = [("cdm:parse", "error", F.col("parse_error").isNotNull(),
                F.col("parse_error"),
                F.concat(F.lit("doc://"), F.col("doc_id")))]
    per_attribute = [
        _each(F.filter(attrs, lambda a: a["is_entity_ref"]),
              "cdm:entity_reference", "info",
              lambda a: attr_said(a, F.lit(
                  "' is an entity reference (modeled as relationship)")),
              entity),
        _each(F.filter(attrs, lambda a: a["raw_type"].isNull()),
              "cdm:missing_data_type", "warning",
              lambda a: attr_said(a, F.lit(
                  "' missing data type, will default to String")), entity),
        _each(F.filter(attrs, lambda a: a["raw_type"].isNotNull() &
                       ~a["is_known_type"]),
              "cdm:unknown_data_type", "warning",
              lambda a: F.concat(F.lit("Unknown data type '"), a["raw_type"],
                                 F.lit("' on attribute '"), a["name"],
                                 F.lit("' will default to String")), entity),
        _each(F.filter(attrs, lambda a: a["max_length"].isNotNull() &
                       ((a["max_length"] <= 0) |
                        (a["max_length"] > CDM_MAX_ATTR_LENGTH))),
              "cdm:constraint_violation", "warning",
              lambda a: F.concat(
                  F.when(a["max_length"] <= 0,
                         F.lit("Invalid maximum length: "))
                  .otherwise(F.lit("Very large maximum length: ")),
                  a["max_length"], F.lit(" on attribute '"), a["name"],
                  F.lit("'")), entity),
    ]

    # shared aggregate: one row per entity name
    n_attrs = F.size(F.coalesce("attributes", F.array()))
    by_entity = good.groupBy("entity_name").agg(
        F.count("*").alias("n"),
        F.bool_or(n_attrs == 0).alias("empty"),
        F.bool_or((n_attrs > 0) &
                  ~F.exists("attributes", lambda a: a["is_pk"]))
        .alias("no_pk"),
        F.collect_set("extends").alias("extends"))

    def entity_said(text):
        return F.concat(F.lit("Entity '"), entity, F.lit(text))

    per_entity = [
        ("cdm:duplicate_entity", "warning", F.col("n") > 1,
         F.concat(F.lit("Duplicate entity name: '"), entity, F.lit("'")),
         entity),
        ("cdm:empty_entity", "warning", F.col("empty"),
         entity_said("' has no attributes"), entity),
        ("cdm:no_primary_key", "info", F.col("no_pk"),
         entity_said("' has no primary key attribute"), entity),
        ("cdm:circular_extends", "error",
         F.array_contains("extends", entity),
         entity_said("' cannot extend itself"), entity),
        *_name_rules("Entity", entity, entity),
    ]
    extends = _each(
        F.filter("extends", lambda x: x != entity),
        "cdm:extends_dependency", "info",
        lambda x: F.concat(F.lit("Entity '"), entity, F.lit("' extends '"),
                           x, F.lit("' (inherited attributes flattened on "
                                    "conversion)")), entity)

    # shared aggregate: one row per (entity, attribute name)
    by_attr = (good.select("entity_name", F.explode("attributes").alias("a"))
               .groupBy("entity_name", F.col("a.name").alias("name"))
               .count())
    attr = F.col("name")
    per_attr_name = [
        ("cdm:duplicate_attribute", "error", F.col("count") > 1,
         F.concat(F.lit("Duplicate attribute name: '"), attr,
                  F.lit("' on entity '"), entity, F.lit("'")), entity),
        *_name_rules("Attribute", attr, entity),
    ]

    out = (_evaluate(cdm_entities, per_row, *per_attribute)
           .unionByName(_evaluate(by_entity, per_entity, extends))
           .unionByName(_evaluate(by_attr, per_attr_name)))
    if cdm_rels is None:
        return out

    # one row per relationship endpoint, flagged against the known
    # entities and attributes (attribute checks are an engine extension:
    # the reference resolves endpoints by entity only)
    def end(key, side, prefix):
        return F.struct(F.lit(key).alias("key"), F.lit(side).alias("side"),
                        F.col(f"{prefix}_entity").alias("entity"),
                        F.col(f"{prefix}_attribute").alias("attribute"))

    ends = (cdm_rels
            .select("name", F.inline(F.array(end("fromEntity", "source",
                                                 "from"),
                                             end("toEntity", "target",
                                                 "to"))))
            .join(by_entity.select(entity.alias("entity"),
                                   F.lit(True).alias("known_entity")),
                  "entity", "left")
            .join(by_attr.select(entity.alias("entity"),
                                 F.col("name").alias("attribute"),
                                 F.lit(True).alias("known_attribute")),
                  ["entity", "attribute"], "left"))
    rel, end_entity, end_attr = (F.col("name"), F.col("entity"),
                                 F.col("attribute"))
    named = end_entity.isNotNull() & (end_entity != "")
    per_end = [
        ("cdm:missing_endpoint", "error", ~named,
         F.concat(F.lit("Relationship missing '"), F.col("key"), F.lit("'")),
         rel),
        ("cdm:unknown_endpoint", "info",
         named & F.col("known_entity").isNull(),
         F.concat(F.lit("Relationship references unknown "), F.col("side"),
                  F.lit(" entity: '"), end_entity, F.lit("'")), rel),
        ("cdm:unknown_endpoint_attribute", "warning",
         (end_attr != "") & F.col("known_entity") &
         F.col("known_attribute").isNull(),
         F.concat(F.lit("Relationship '"), rel,
                  F.lit("' references missing attribute '"), end_attr,
                  F.lit("' on '"), end_entity, F.lit("'")), rel),
    ]
    rel_names = cdm_rels.select("name").dropDuplicates()
    return (out.unionByName(_evaluate(ends, per_end))
            .unionByName(_evaluate(rel_names,
                                   _name_rules("Relationship", rel, rel))))
