"""Pre-flight validation: 11 rule families → one issues DataFrame.

Spark mapping of the reference PreflightValidator
(reference: src/formats/rdf/preflight_validator.py:262-656): every rule is
a filter+project over the triples DataFrame, unioned into
issues(category, severity, message, uri); "seamless" iff zero
errors+warnings (preflight_validator.py:652-656).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import (OWL_DATATYPE_PROPERTY, OWL_NS, OWL_OBJECT_PROPERTY,
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


def _issue(df: DataFrame, category: str, severity: str, message,
           uri=None) -> DataFrame:
    return df.select(
        F.lit(category).alias("category"),
        F.lit(severity).alias("severity"),
        (message if not isinstance(message, str) else F.lit(message))
        .alias("message"),
        (uri if uri is not None else F.lit(None).cast("string")).alias("uri"))


def _subjects_of_type(triples: DataFrame, type_uri: str) -> DataFrame:
    return (triples.where((F.col("pred") == RDF_TYPE) &
                          (F.col("obj") == type_uri))
            .select("subj").dropDuplicates())


def preflight_issues(triples: DataFrame) -> DataFrame:
    """→ issues(category, severity, message, uri)."""
    t = triples
    name = local_name(F.col("subj"))

    imports = _issue(
        t.where(F.col("pred") == OWL_NS + "imports"),
        "external_import", "warning",
        F.concat(F.lit("External import detected: "), F.col("obj")),
        F.col("obj"))

    complex_exprs = [
        _issue(t.where(F.col("pred") == OWL_NS + kind)
               .select("subj").dropDuplicates(),
               "complex_class_expression", "warning",
               F.lit(f"owl:{kind} class expression"), F.col("subj"))
        for kind in ("intersectionOf", "complementOf", "oneOf")
    ]  # unionOf is supported → not flagged (preflight_validator.py:347)

    restrictions = _issue(
        _subjects_of_type(t, OWL_RESTRICTION),
        "property_restriction", "warning",
        F.lit("OWL restriction"), F.col("subj"))

    characteristics = [
        _issue(_subjects_of_type(t, OWL_NS + c)
               .where(~F.col("subj").startswith("_:")),
               "property_characteristic", "info",
               F.concat(F.lit(f"Property characteristic '{c}' on '"),
                        name, F.lit("'")), F.col("subj"))
        for c in _CHARACTERISTICS
    ]

    chains = [
        _issue(t.where(F.col("pred") == OWL_NS + "propertyChainAxiom"),
               "property_chain", "warning",
               F.lit("Property chain axiom"), F.col("subj")),
        _issue(t.where(F.col("pred") == OWL_NS + "equivalentProperty"),
               "property_chain", "info",
               F.lit("Equivalent property"), F.col("subj")),
        _issue(t.where(F.col("pred") == OWL_NS + "inverseOf"),
               "property_chain", "info",
               F.lit("Inverse property"), F.col("subj")),
    ]

    axioms = [
        _issue(t.where((F.col("pred") == OWL_NS + "equivalentClass") &
                       ~F.col("subj").startswith("_:")),
               "class_axiom", "info", F.lit("Equivalent class"),
               F.col("subj")),
        _issue(t.where((F.col("pred") == OWL_NS + "disjointWith") &
                       ~F.col("subj").startswith("_:")),
               "class_axiom", "info", F.lit("Disjoint classes"),
               F.col("subj")),
    ]

    # missing domain/range on declared properties
    props = (_subjects_of_type(t, OWL_DATATYPE_PROPERTY)
             .unionByName(_subjects_of_type(t, OWL_OBJECT_PROPERTY))
             .unionByName(_subjects_of_type(t, RDF_PROPERTY))
             .where(~F.col("subj").startswith("_:"))
             .dropDuplicates())
    doms = t.where(F.col("pred") == RDFS_DOMAIN).select("subj").dropDuplicates()
    rngs = t.where(F.col("pred") == RDFS_RANGE).select("subj").dropDuplicates()
    missing = [
        _issue(props.join(doms, "subj", "left_anti"),
               "missing_signature", "warning",
               F.concat(F.lit("Property '"), name,
                        F.lit("' missing domain")), F.col("subj")),
        _issue(props.join(rngs, "subj", "left_anti"),
               "missing_signature", "warning",
               F.concat(F.lit("Property '"), name,
                        F.lit("' missing range")), F.col("subj")),
    ]

    unsupported_dt = _issue(
        t.where((F.col("pred") == RDFS_RANGE) &
                F.col("obj").startswith(XSD_NS) &
                ~F.col("obj").isin(SUPPORTED_XSD))
        .join(_subjects_of_type(t, OWL_DATATYPE_PROPERTY), "subj",
              "left_semi")
        .select("subj", "obj").dropDuplicates(),
        "unsupported_datatype", "info",
        F.concat(F.lit("Unsupported XSD datatype: "), local_name(F.col("obj"))),
        F.col("subj"))

    individuals = [
        _issue(_subjects_of_type(t, OWL_NS + "NamedIndividual"),
               "individual", "info", F.lit("Named individual"),
               F.col("subj")),
        _issue(t.where(F.col("pred") == OWL_NS + "sameAs"),
               "individual", "info", F.lit("owl:sameAs statement"),
               F.col("subj")),
        _issue(t.where(F.col("pred") == OWL_NS + "differentFrom"),
               "individual", "info", F.lit("owl:differentFrom statement"),
               F.col("subj")),
    ]

    annotations = _issue(
        _subjects_of_type(t, OWL_NS + "AnnotationProperty"),
        "annotation", "info", F.lit("Custom annotation property"),
        F.col("subj"))

    reification = _issue(
        _subjects_of_type(t, RDF_NS + "Statement"),
        "reification", "warning", F.lit("Reified statement"),
        F.col("subj"))

    out = imports
    for df in (complex_exprs + [restrictions] + characteristics + chains +
               axioms + missing + [unsupported_dt] + individuals +
               [annotations, reification]):
        out = out.unionByName(df)
    return out


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
    good = interfaces.where(F.col("parse_error").isNull())
    dtmis = good.select("dtmi").dropDuplicates()

    bad_dtmi = _issue(
        good.where(~F.col("dtmi").rlike(DTMI_REGEX))
        .select("dtmi").dropDuplicates(),
        "dtdl:dtmi_format", "error",
        F.concat(F.lit("Invalid DTMI: "), F.col("dtmi")), F.col("dtmi"))

    long_dtmi = _issue(
        good.where(F.length("dtmi") > MAX_INTERFACE_DTMI_LENGTH)
        .select("dtmi").dropDuplicates(),
        "dtdl:dtmi_length", "error",
        F.concat(F.lit("Interface DTMI exceeds 128 chars: "), F.col("dtmi")),
        F.col("dtmi"))

    dupes = _issue(
        good.groupBy("dtmi").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("dtmi"),
        "dtdl:duplicate_dtmi", "error",
        F.concat(F.lit("Duplicate DTMI: "), F.col("dtmi")), F.col("dtmi"))

    # inheritance cycles: dtmi reaches itself through extends edges
    from .dtdl import ancestor_closure
    closure = ancestor_closure(good)
    cycles = _issue(
        closure.where(F.col("dtmi") == F.col("ancestor"))
        .select("dtmi").dropDuplicates()
        .withColumnRenamed("dtmi", "subj"),
        "dtdl:inheritance_cycle", "error",
        F.concat(F.lit("Inheritance cycle through: "), F.col("subj")),
        F.col("subj"))

    contents = (good.select("dtmi", F.explode("contents").alias("c"))
                .select("dtmi", "c.*"))
    rel_targets = (contents
                   .where((F.col("content_type") == "Relationship") &
                          F.col("target").isNotNull())
                   .select("dtmi", F.col("target").alias("ref"),
                           F.col("name")))
    orphans = _issue(
        rel_targets.join(dtmis.withColumnRenamed("dtmi", "ref"),
                         "ref", "left_anti")
        .withColumnRenamed("dtmi", "subj"),
        "dtdl:orphan_relationship_target", "warning",
        F.concat(F.lit("Relationship '"), F.col("name"),
                 F.lit("' targets undefined interface "), F.col("ref")),
        F.col("ref"))

    comp_refs = (contents
                 .where(F.col("content_type") == "Component")
                 .select("dtmi", F.col("schema_kind").alias("ref"),
                         F.col("name")))
    missing_comp = _issue(
        comp_refs.join(dtmis.withColumnRenamed("dtmi", "ref"),
                       "ref", "left_anti")
        .withColumnRenamed("dtmi", "subj"),
        "dtdl:missing_component_schema", "warning",
        F.concat(F.lit("Component '"), F.col("name"),
                 F.lit("' schema not defined in ontology: "), F.col("ref")),
        F.col("ref"))

    out = bad_dtmi
    for df in (long_dtmi, dupes, cycles, orphans, missing_comp):
        out = out.unionByName(df)
    return out


def definition_size_estimate(entity_types: DataFrame,
                             relationship_types: DataFrame) -> int:
    """A7: estimated serialized definition bytes vs the 1 MB Fabric cap
    (reference: fabric_limits.py:294-367) — sum of JSON payload lengths."""
    from ..sources.sinks import definition_parts_df
    parts = definition_parts_df(entity_types, relationship_types)
    row = parts.agg(F.sum(F.length("payload")).alias("bytes")).first()
    return int(row["bytes"] or 0)


# ---------------------------------------------------------------------------
# Fabric definition structural schema (reference:
# src/core/validators/fabric_schema.py:40-530) — re-validates the engine's
# OWN serialized output (sources.sinks.definition_parts_df), catching sink
# regressions before upload
# ---------------------------------------------------------------------------

FABRIC_VALUE_TYPES = ["String", "BigInt", "Double", "Decimal", "Boolean",
                      "DateTime", "Binary", "Guid"]
FABRIC_NAMESPACE_TYPES = ["Custom", "System"]
FABRIC_VISIBILITY_VALUES = ["Visible", "Hidden"]
FABRIC_RESERVED_NAMESPACES = ["system", "fabric", "microsoft"]
FABRIC_NAME_MAX_LENGTH = 256
FABRIC_ID_RX = "^[0-9]+$"
FABRIC_NAME_RX = "^[A-Za-z][A-Za-z0-9_]*$"
FABRIC_MAX_TYPES = 500
FABRIC_MAX_PROPS_PER_ENTITY = 200

_PROP_T = "array<struct<id:string,name:string,valueType:string>>"
_ENT_PAYLOAD_T = (
    "struct<id:string,namespace:string,name:string,namespaceType:string,"
    "visibility:string,baseEntityTypeId:string,entityIdParts:array<string>,"
    f"displayNamePropertyId:string,properties:{_PROP_T},"
    f"timeseriesProperties:{_PROP_T}>")
_REL_PAYLOAD_T = (
    "struct<id:string,namespace:string,name:string,namespaceType:string,"
    "source:struct<entityTypeId:string>,target:struct<entityTypeId:string>>")


def definition_schema_issues(parts: DataFrame) -> DataFrame:
    """Definition part rows (path, payload, payloadType) → issues.

    Spark twin of the reference FabricSchemaValidator over the emitted
    parts: required keys, numeric 13-digit-style ids, name length/pattern,
    reserved namespaces, namespaceType/visibility enums, property
    valueType enum, per-entity property cap, path↔payload id agreement,
    endpoint shape, endpoint ids resolving to emitted entities, and the
    500-type caps.
    """
    # try_to_binary → NULL on malformed base64 (unbase64 throws task errors)
    decoded = F.try_to_binary("payload", F.lit("base64")).cast("string")
    is_ent = F.col("path").startswith("EntityTypes/")
    is_rel = F.col("path").startswith("RelationshipTypes/")
    path_id = F.regexp_extract("path", "^[A-Za-z]+/([^/]+)/definition", 1)

    bad_ptype = _issue(
        parts.where(F.col("payloadType") != "InlineBase64"),
        "fabric:payload_type", "warning",
        F.concat(F.lit("Unexpected payloadType '"), F.col("payloadType"),
                 F.lit("', expected 'InlineBase64'")), F.col("path"))

    ents = (parts.where(is_ent)
            .select("path", path_id.alias("path_id"),
                    F.from_json(decoded, _ENT_PAYLOAD_T).alias("d")))
    rels = (parts.where(is_rel)
            .select("path", path_id.alias("path_id"),
                    F.from_json(decoded, _REL_PAYLOAD_T).alias("d")))

    bad_payload = _issue(
        ents.where(F.col("d").isNull()).select("path")
        .unionByName(rels.where(F.col("d").isNull()).select("path")),
        "fabric:bad_payload", "error",
        F.lit("Payload is not valid base64-encoded JSON"), F.col("path"))

    def _missing(df, fields, kind):
        cond = None
        for f in fields:
            c = F.col(f"d.{f}").isNull()
            cond = c if cond is None else (cond | c)
        return _issue(
            df.where(F.col("d").isNotNull()).where(cond),
            "fabric:missing_required", "error",
            F.lit(f"{kind} payload missing one of {fields}"), F.col("path"))

    ent_missing = _missing(ents, ["id", "name", "namespace",
                                  "namespaceType", "visibility"],
                           "EntityType")
    rel_missing = _missing(rels, ["id", "name", "namespace",
                                  "namespaceType", "source", "target"],
                           "RelationshipType")

    live_ents = ents.where(F.col("d").isNotNull())
    live_rels = rels.where(F.col("d").isNotNull())
    shared_cols = ["path", "path_id", "d.id", "d.name", "d.namespace",
                   "d.namespaceType"]
    live = (live_ents.select(*shared_cols)
            .unionByName(live_rels.select(*shared_cols)))
    nonnum_id = _issue(
        live.where(F.col("id").isNotNull() &
                   ~F.col("id").rlike(FABRIC_ID_RX)),
        "fabric:nonnumeric_id", "warning",
        F.concat(F.lit("ID '"), F.col("id"), F.lit("' is not numeric")),
        F.col("path"))
    path_mismatch = _issue(
        live.where(F.col("id").isNotNull() &
                   (F.col("id") != F.col("path_id"))),
        "fabric:path_id_mismatch", "error",
        F.concat(F.lit("Part path id '"), F.col("path_id"),
                 F.lit("' != payload id '"), F.col("id"), F.lit("'")),
        F.col("path"))
    long_name = _issue(
        live.where(F.length("name") > FABRIC_NAME_MAX_LENGTH),
        "fabric:name_too_long", "error",
        F.concat(F.lit("Name exceeds "), F.lit(FABRIC_NAME_MAX_LENGTH),
                 F.lit(" chars")), F.col("path"))
    bad_name = _issue(
        live.where(F.col("name").isNotNull() &
                   ~F.col("name").rlike(FABRIC_NAME_RX)),
        "fabric:invalid_name", "warning",
        F.concat(F.lit("Name '"), F.col("name"),
                 F.lit("' should start with a letter and contain only "
                       "letters/numbers/underscores")), F.col("path"))
    reserved_ns = _issue(
        live.where(F.lower("namespace").isin(FABRIC_RESERVED_NAMESPACES)),
        "fabric:reserved_namespace", "error",
        F.concat(F.lit("Cannot use reserved namespace '"),
                 F.col("namespace"), F.lit("'")), F.col("path"))
    bad_nstype = _issue(
        live.where(F.col("namespaceType").isNotNull() &
                   ~F.col("namespaceType").isin(FABRIC_NAMESPACE_TYPES)),
        "fabric:invalid_namespace_type", "error",
        F.concat(F.lit("Invalid namespaceType '"), F.col("namespaceType"),
                 F.lit("'")), F.col("path"))
    bad_vis = _issue(
        live_ents.where(F.col("d.visibility").isNotNull() &
                        ~F.col("d.visibility").isin(FABRIC_VISIBILITY_VALUES)),
        "fabric:invalid_visibility", "error",
        F.concat(F.lit("Invalid visibility '"), F.col("d.visibility"),
                 F.lit("'")), F.col("path"))
    nonnum_base = _issue(
        live_ents.where(F.col("d.baseEntityTypeId").isNotNull() &
                        ~F.col("d.baseEntityTypeId").rlike(FABRIC_ID_RX)),
        "fabric:nonnumeric_id", "warning",
        F.concat(F.lit("baseEntityTypeId '"), F.col("d.baseEntityTypeId"),
                 F.lit("' is not numeric")), F.col("path"))
    too_many_props = _issue(
        live_ents.where(F.size(F.coalesce("d.properties",
                                          F.array().cast(_PROP_T)))
                        > FABRIC_MAX_PROPS_PER_ENTITY),
        "fabric:too_many_properties", "error",
        F.concat(F.lit("Too many properties ("),
                 F.size("d.properties"),
                 F.lit(f") exceeds limit of {FABRIC_MAX_PROPS_PER_ENTITY}")),
        F.col("path"))

    all_props = (live_ents.select(
        "path", F.explode(F.concat(
            F.coalesce("d.properties", F.array().cast(_PROP_T)),
            F.coalesce("d.timeseriesProperties", F.array().cast(_PROP_T))))
        .alias("p")))
    bad_prop = _issue(
        all_props.where(F.col("p.id").isNull() | F.col("p.name").isNull() |
                        F.col("p.valueType").isNull()),
        "fabric:property_missing_field", "error",
        F.lit("Property missing id/name/valueType"), F.col("path"))
    bad_vtype = _issue(
        all_props.where(F.col("p.valueType").isNotNull() &
                        ~F.col("p.valueType").isin(FABRIC_VALUE_TYPES)),
        "fabric:invalid_value_type", "error",
        F.concat(F.lit("Invalid valueType '"), F.col("p.valueType"),
                 F.lit("' on property '"), F.col("p.name"), F.lit("'")),
        F.col("path"))

    bad_endpoint = _issue(
        live_rels.where(F.col("d.source.entityTypeId").isNull() |
                        F.col("d.target.entityTypeId").isNull()),
        "fabric:endpoint_missing", "error",
        F.lit("source/target missing entityTypeId"), F.col("path"))
    ent_ids = live_ents.select(F.col("d.id").alias("eid")).dropDuplicates()
    unk_endpoint = _issue(
        live_rels.select("path",
                         F.explode(F.array("d.source.entityTypeId",
                                           "d.target.entityTypeId"))
                         .alias("eid"))
        .where(F.col("eid").isNotNull())
        .join(ent_ids, "eid", "left_anti"),
        "fabric:unknown_endpoint", "warning",
        F.concat(F.lit("Endpoint references unknown entityTypeId '"),
                 F.col("eid"), F.lit("'")), F.col("path"))

    over_cap = _issue(
        parts.where(is_ent | is_rel)
        .groupBy(F.when(is_ent, F.lit("EntityTypes"))
                 .otherwise(F.lit("RelationshipTypes")).alias("kind"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > FABRIC_MAX_TYPES),
        "fabric:too_many_types", "error",
        F.concat(F.lit("Too many "), F.col("kind"), F.lit(": "), F.col("n"),
                 F.lit(f" exceeds limit of {FABRIC_MAX_TYPES}")),
        F.col("kind"))

    out = bad_ptype
    for df in (bad_payload, ent_missing, rel_missing, nonnum_id,
               path_mismatch, long_name, bad_name, reserved_ns, bad_nstype,
               bad_vis, nonnum_base, too_many_props, bad_prop, bad_vtype,
               bad_endpoint, unk_endpoint, over_cap):
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# CDM validator (reference: src/formats/cdm/cdm_validator.py:180-548)
# ---------------------------------------------------------------------------

CDM_MAX_NAME_LENGTH = 100        # reference: cdm_validator.py:57
CDM_MAX_ATTR_LENGTH = 1073741824  # 1 GB cap (cdm_validator.py:357)
CDM_RESERVED_NAMES = [            # reference: cdm_validator.py:61-64
    "id", "type", "namespace", "version", "created", "modified",
    "entity", "relationship", "property", "system", "internal"]


def _name_issues(named: DataFrame, item_type: str,
                 name_col: str = "name") -> DataFrame:
    """Fabric naming rules over a (name[, uri]) frame
    (reference: cdm_validator.py:498-548): length, first character,
    spaces, reserved names."""
    n = F.col(name_col)
    uri = F.col("uri") if "uri" in named.columns else n
    too_long = _issue(
        named.where(F.length(n) > CDM_MAX_NAME_LENGTH),
        "cdm:name_too_long", "error",
        F.concat(F.lit(f"{item_type} name exceeds maximum length ("),
                 F.length(n), F.lit(f" > {CDM_MAX_NAME_LENGTH})")), uri)
    bad_start = _issue(
        named.where(~n.rlike("^[a-zA-Z_]")),
        "cdm:invalid_name_start", "warning",
        F.concat(F.lit(f"{item_type} name '"), n,
                 F.lit("' should start with letter or underscore")), uri)
    spaces = _issue(
        named.where(n.contains(" ")),
        "cdm:name_has_spaces", "warning",
        F.concat(F.lit(f"{item_type} name '"), n,
                 F.lit("' contains spaces")), uri)
    reserved = _issue(
        named.where(F.lower(n).isin(CDM_RESERVED_NAMES)),
        "cdm:reserved_name", "info",
        F.concat(F.lit(f"{item_type} name '"), n,
                 F.lit("' may conflict with reserved names")), uri)
    return (too_long.unionByName(bad_start).unionByName(spaces)
            .unionByName(reserved))


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

    parse_errs = _issue(
        cdm_entities.where(F.col("parse_error").isNotNull()),
        "cdm:parse", "error", F.col("parse_error"),
        F.concat(F.lit("doc://"), F.col("doc_id")))

    dupes = _issue(
        good.groupBy("entity_name").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1).select("entity_name"),
        "cdm:duplicate_entity", "warning",
        F.concat(F.lit("Duplicate entity name: '"), F.col("entity_name"),
                 F.lit("'")), F.col("entity_name"))

    no_attrs = _issue(
        good.where(F.size(F.coalesce("attributes", F.array())) == 0)
        .select("entity_name").dropDuplicates(),
        "cdm:empty_entity", "warning",
        F.concat(F.lit("Entity '"), F.col("entity_name"),
                 F.lit("' has no attributes")), F.col("entity_name"))

    has_pk = F.exists("attributes", lambda a: a["is_pk"])
    no_pk = _issue(
        good.where(F.size(F.coalesce("attributes", F.array())) > 0)
        .where(~has_pk)
        .select("entity_name").dropDuplicates(),
        "cdm:no_primary_key", "info",
        F.concat(F.lit("Entity '"), F.col("entity_name"),
                 F.lit("' has no primary key attribute")),
        F.col("entity_name"))

    attrs = (good.select("entity_name", F.explode("attributes").alias("a"))
             .select("entity_name", "a.*"))

    ent_refs = _issue(
        attrs.where(F.col("is_entity_ref"))
        .select("entity_name", F.col("name").alias("attr")),
        "cdm:entity_reference", "info",
        F.concat(F.lit("Attribute '"), F.col("attr"),
                 F.lit("' is an entity reference (modeled as relationship)")),
        F.col("entity_name"))

    dup_attrs = _issue(
        attrs.groupBy("entity_name", "name").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1),
        "cdm:duplicate_attribute", "error",
        F.concat(F.lit("Duplicate attribute name: '"), F.col("name"),
                 F.lit("' on entity '"), F.col("entity_name"), F.lit("'")),
        F.col("entity_name"))

    missing_type = _issue(
        attrs.where(F.col("raw_type").isNull()),
        "cdm:missing_data_type", "warning",
        F.concat(F.lit("Attribute '"), F.col("name"),
                 F.lit("' missing data type, will default to String")),
        F.col("entity_name"))

    unknown_type = _issue(
        attrs.where(F.col("raw_type").isNotNull() & ~F.col("is_known_type")),
        "cdm:unknown_data_type", "warning",
        F.concat(F.lit("Unknown data type '"), F.col("raw_type"),
                 F.lit("' on attribute '"), F.col("name"),
                 F.lit("' will default to String")), F.col("entity_name"))

    bad_maxlen = _issue(
        attrs.where(F.col("max_length").isNotNull() &
                    ((F.col("max_length") <= 0) |
                     (F.col("max_length") > CDM_MAX_ATTR_LENGTH))),
        "cdm:constraint_violation", "warning",
        F.concat(F.when(F.col("max_length") <= 0,
                        F.lit("Invalid maximum length: "))
                 .otherwise(F.lit("Very large maximum length: ")),
                 F.col("max_length"),
                 F.lit(" on attribute '"), F.col("name"), F.lit("'")),
        F.col("entity_name"))

    self_extends = _issue(
        good.where(F.col("extends") == F.col("entity_name"))
        .select("entity_name").dropDuplicates(),
        "cdm:circular_extends", "error",
        F.concat(F.lit("Entity '"), F.col("entity_name"),
                 F.lit("' cannot extend itself")), F.col("entity_name"))

    extends_info = _issue(
        good.where(F.col("extends").isNotNull() &
                   (F.col("extends") != F.col("entity_name")))
        .select("entity_name", "extends").dropDuplicates(),
        "cdm:extends_dependency", "info",
        F.concat(F.lit("Entity '"), F.col("entity_name"),
                 F.lit("' extends '"), F.col("extends"),
                 F.lit("' (inherited attributes flattened on conversion)")),
        F.col("entity_name"))

    ent_names = _name_issues(
        good.select(F.col("entity_name").alias("name")).dropDuplicates(),
        "Entity")
    attr_names = _name_issues(
        attrs.select("name", F.col("entity_name").alias("uri"))
        .dropDuplicates(), "Attribute")

    out = parse_errs
    for df in (dupes, no_attrs, no_pk, ent_refs, dup_attrs, missing_type,
               unknown_type, bad_maxlen, self_extends, extends_info,
               ent_names, attr_names):
        out = out.unionByName(df)

    if cdm_rels is not None:
        known = good.select("entity_name").dropDuplicates()
        missing_from = _issue(
            cdm_rels.where(F.col("from_entity").isNull() |
                           (F.col("from_entity") == "")),
            "cdm:missing_endpoint", "error",
            F.lit("Relationship missing 'fromEntity'"), F.col("name"))
        missing_to = _issue(
            cdm_rels.where(F.col("to_entity").isNull() |
                           (F.col("to_entity") == "")),
            "cdm:missing_endpoint", "error",
            F.lit("Relationship missing 'toEntity'"), F.col("name"))
        unk_from = _issue(
            cdm_rels.where(F.col("from_entity").isNotNull() &
                           (F.col("from_entity") != ""))
            .join(known.withColumnRenamed("entity_name", "from_entity"),
                  "from_entity", "left_anti"),
            "cdm:unknown_endpoint", "info",
            F.concat(F.lit("Relationship references unknown source "
                           "entity: '"), F.col("from_entity"), F.lit("'")),
            F.col("name"))
        unk_to = _issue(
            cdm_rels.where(F.col("to_entity").isNotNull() &
                           (F.col("to_entity") != ""))
            .join(known.withColumnRenamed("entity_name", "to_entity"),
                  "to_entity", "left_anti"),
            "cdm:unknown_endpoint", "info",
            F.concat(F.lit("Relationship references unknown target "
                           "entity: '"), F.col("to_entity"), F.lit("'")),
            F.col("name"))
        # endpoint attribute existence (engine extension: the reference
        # resolves endpoints by entity only; attribute checks catch
        # fromEntityAttribute typos before sink time)
        known_attrs = attrs.select("entity_name",
                                   F.col("name").alias("attr_name"))
        bad_from_attr = _issue(
            cdm_rels.where(F.col("from_attribute") != "")
            .join(known.withColumnRenamed("entity_name", "from_entity"),
                  "from_entity", "left_semi")
            .join(known_attrs
                  .withColumnRenamed("entity_name", "from_entity")
                  .withColumnRenamed("attr_name", "from_attribute"),
                  ["from_entity", "from_attribute"], "left_anti"),
            "cdm:unknown_endpoint_attribute", "warning",
            F.concat(F.lit("Relationship '"), F.col("name"),
                     F.lit("' references missing attribute '"),
                     F.col("from_attribute"), F.lit("' on '"),
                     F.col("from_entity"), F.lit("'")), F.col("name"))
        bad_to_attr = _issue(
            cdm_rels.where(F.col("to_attribute") != "")
            .join(known.withColumnRenamed("entity_name", "to_entity"),
                  "to_entity", "left_semi")
            .join(known_attrs
                  .withColumnRenamed("entity_name", "to_entity")
                  .withColumnRenamed("attr_name", "to_attribute"),
                  ["to_entity", "to_attribute"], "left_anti"),
            "cdm:unknown_endpoint_attribute", "warning",
            F.concat(F.lit("Relationship '"), F.col("name"),
                     F.lit("' references missing attribute '"),
                     F.col("to_attribute"), F.lit("' on '"),
                     F.col("to_entity"), F.lit("'")), F.col("name"))
        rel_names = _name_issues(
            cdm_rels.select("name").where(F.col("name").isNotNull())
            .dropDuplicates(), "Relationship")
        for df in (missing_from, missing_to, unk_from, unk_to,
                   bad_from_attr, bad_to_attr, rel_names):
            out = out.unionByName(df)
    return out
