"""DTDL front-end: documents → interfaces → entity/relationship tables.

Spark mapping of the reference DTDLToFabricConverter
(reference: src/formats/dtdl/dtdl_converter.py:308-748) in default modes
(component_mode=SKIP, command_mode=SKIP, scaled_decimal_mode=JSON_STRING —
dtdl_converter.py:100-118):

- deterministic IDs: sha256 of the cleaned DTMI (exact bit parity,
  dtdl_converter.py:486-512); property ids = entity_id + md5 4 digits
  (dtdl_converter.py:514-527), telemetry ids prefixed ``ts_``
  (dtdl_converter.py:695)
- first-parent inheritance: extends[0] if the parent is in the interface
  set, else root (J7, dtdl_converter.py:541-558)
- ancestor/sibling property-name conflict suffixing (W4,
  dtdl_converter.py:232-306): the reference's "first registered" global
  registry order is conversion order (topo-sorted parents-first); this
  engine pins (inheritance depth, dtmi, pos) — equivalent on the reference
  corpus, deterministic at scale
- entityIdParts auto-inference by primary-key name patterns
  (reference: src/core/validators/fabric_limits.py:407-541,
  src/constants.py:239-258) and displayName = first String property in
  contents order (dtdl_converter.py:569-572)
- relationships: target hashed unconditionally (dangling targets allowed,
  dtdl_converter.py:705-742); targetless relationships dropped silently

All joins here are small-dimension (interface set) — broadcast; the only
wide data is the documents scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import NAMESPACE, NAMESPACE_TYPE, VISIBILITY
from ..functions.ids import clean_dtmi, dtmi_fabric_id, property_id
from ..functions.names import sanitize_name
from ..functions.typemaps import DTDL_TO_FABRIC
from .classes import transitive_closure

CONTENT_TYPE = T.StructType([
    T.StructField("content_type", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("schema_kind", T.StringType()),
    T.StructField("schema_json", T.StringType()),
    T.StructField("target", T.StringType()),
    T.StructField("pos", T.IntegerType()),
])

INTERFACES_SCHEMA = T.StructType([
    T.StructField("dtmi", T.StringType()),
    T.StructField("name", T.StringType()),
    T.StructField("display_name", T.StringType()),
    T.StructField("extends", T.ArrayType(T.StringType())),
    T.StructField("context", T.StringType()),
    T.StructField("contents", T.ArrayType(CONTENT_TYPE)),
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("parse_error", T.StringType()),
])

PK_PATTERNS = ("id", "identifier", "pk", "primary_key", "primarykey", "key",
               "uuid", "guid", "oid", "object_id", "objectid", "entity_id",
               "entityid", "record_id", "recordid", "unique_id", "uniqueid")


def extract_interfaces(documents: DataFrame) -> DataFrame:
    """documents → one row per DTDL Interface (Arrow-batched span parse)."""

    def run(batches):
        import pandas as pd
        from ..functions.dtdl import parse_dtdl
        from .extract import sniff_format
        cols = [f.name for f in INTERFACES_SCHEMA.fields]
        for pdf in batches:
            out = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                if spans is None:
                    continue
                for idx, span in enumerate(spans):
                    if span["kind"] != "text" or not span["text"]:
                        continue
                    if sniff_format(span["text"]) != "dtdl":
                        continue
                    try:
                        for iface in parse_dtdl(span["text"]):
                            out.append((iface["dtmi"], iface["name"],
                                        iface["display_name"], iface["extends"],
                                        iface["context"], iface["contents"],
                                        doc_id, idx, None))
                    except Exception as e:
                        out.append((None, None, None, None, None, None,
                                    doc_id, idx, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(out, columns=cols)

    return documents.mapInPandas(run, INTERFACES_SCHEMA)


def _dedup_interfaces(interfaces: DataFrame) -> DataFrame:
    """One row per DTMI, pinned to the first (doc_id, span_idx)."""
    w = Window.partitionBy("dtmi").orderBy("doc_id", "span_idx")
    return (interfaces.where(F.col("parse_error").isNull())
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn", "parse_error"))


def _extends_edges(ifaces: DataFrame) -> DataFrame:
    """(child, parent) extends edges with the parent in the interface set."""
    return (ifaces
            .select(F.col("dtmi").alias("child"),
                    F.explode("extends").alias("parent"))
            .join(ifaces.select(F.col("dtmi").alias("parent")),
                  "parent", "left_semi"))


def ancestor_closure(ifaces: DataFrame) -> DataFrame:
    """(dtmi, ancestor) over extends edges within the set (J8)."""
    return transitive_closure(_extends_edges(ifaces)).select(
        F.col("src").alias("dtmi"), F.col("dst").alias("ancestor"))


def _fabric_type_expr(schema_kind, scaled_decimal_mode: str = "json_string",
                      overrides: dict[str, str] | None = None) -> F.Column:
    """schema_kind string → Fabric value type.

    scaledDecimal maps to Double in CALCULATED mode, else String
    (reference: dtdl_converter.py:1048-1057,1073-1076). ``overrides``
    layers user type-registry mappings over the built-in dictionary
    (reference: type_registry.py:68-130).
    """
    table = dict(DTDL_TO_FABRIC)
    if overrides:
        table.update(overrides)
    m = F.create_map(*[F.lit(x) for kv in table.items() for x in kv])
    enum_vs = F.regexp_extract(schema_kind, "^enum:(.*)$", 1)
    scaled = (F.lit("Double") if scaled_decimal_mode == "calculated"
              else F.lit("String"))
    return (F.when(schema_kind == "scaledDecimal", scaled)
            .when(schema_kind.startswith("complex:"), F.lit("String"))
            .when(schema_kind.startswith("enum:"),
                  F.coalesce(m[enum_vs], F.lit("String")))
            .otherwise(F.coalesce(m[schema_kind], F.lit("String"))))


from dataclasses import dataclass  # noqa: E402


@dataclass
class DtdlModes:
    """Conversion modes (reference: dtdl_converter.py:100-118).

    component: skip | flatten | separate
    command:   skip | property | entity
               (entity mode: reference mode_converters.py:345-483 —
               command → standalone CommandType entity + supports_* rel)
    scaled_decimal: json_string | structured | calculated
    """
    component: str = "skip"
    command: str = "skip"
    scaled_decimal: str = "json_string"
    # user type-registry overrides layered over DTDL_TO_FABRIC
    # (reference: src/shared/utilities/type_registry.py:68-130)
    type_overrides: dict | None = None


# payload emitted by functions.dtdl._command_info for Command contents
CMD_PARAM = T.ArrayType(T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("kind", T.StringType()),
]))
CMD_INFO = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("has_request", T.BooleanType()),
    T.StructField("has_response", T.BooleanType()),
    T.StructField("req_params", CMD_PARAM),
    T.StructField("resp_params", CMD_PARAM),
])


def convert_interfaces(interfaces: DataFrame, modes: DtdlModes | None = None
                       ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (entity_types, relationship_types, skipped) in the shared schema."""
    modes = modes or DtdlModes()
    # eager: a lazy checkpoint here is first computed inside the
    # caller's final query, where stages running at once each read
    # it; once the first one finishes it drops the lineage whose SQL
    # metrics the others still report (driver: 'non-existent
    # accumulator' errors)
    ifaces = _dedup_interfaces(interfaces).localCheckpoint()
    ifaces = ifaces.withColumn("fabric_id", dtmi_fabric_id(F.col("dtmi")))

    skipped = (interfaces.where(F.col("parse_error").isNotNull())
               .select(F.lit("interface").alias("item_type"),
                       F.col("doc_id").alias("name"),
                       F.col("parse_error").alias("reason"),
                       F.concat(F.lit("doc://"), "doc_id").alias("uri")))

    # J7: first parent if in set
    parent = (ifaces
              .select("dtmi", F.try_element_at("extends", F.lit(1)).alias("parent_dtmi"))
              .join(F.broadcast(ifaces.select(
                  F.col("dtmi").alias("parent_dtmi"),
                  F.col("fabric_id").alias("base_entity_type_id"))),
                  "parent_dtmi", "left")
              .select("dtmi", "base_entity_type_id"))

    # J8 ancestors and the inheritance depth (longest extends path, 0 for
    # roots, capped at MAX_EXTENDS_DEPTH) from one closure
    closure = transitive_closure(_extends_edges(ifaces), hops=True)
    anc = closure.select(F.col("src").alias("dtmi"),
                         F.col("dst").alias("ancestor"))
    depth = closure.groupBy(F.col("src").alias("dtmi")) \
        .agg(F.max("hops").alias("depth"))

    # explode property/telemetry contents
    c = (ifaces
         .select("dtmi", "fabric_id", F.explode("contents").alias("c"))
         .select("dtmi", "fabric_id",
                 F.col("c.content_type").alias("content_type"),
                 F.col("c.name").alias("prop_name"),
                 F.col("c.schema_kind").alias("schema_kind"),
                 F.col("c.schema_json").alias("schema_json"),
                 F.col("c.target").alias("target"),
                 F.col("c.pos").alias("pos")))
    props = (c.where(F.col("content_type").isin("Property", "Telemetry"))
             .withColumn("value_type",
                         _fabric_type_expr(F.col("schema_kind"),
                                           modes.scaled_decimal,
                                           modes.type_overrides))
             .withColumn("is_timeseries", F.col("content_type") == "Telemetry"))

    # W4a: ancestor conflicts — same name, different type anywhere above
    anc_props = (anc.join(props.select(F.col("dtmi").alias("ancestor"),
                                       F.col("prop_name").alias("a_name"),
                                       F.col("value_type").alias("a_type")),
                          "ancestor")
                 .select("dtmi", "a_name", "a_type").dropDuplicates())
    conflict = (props.alias("p")
                .join(anc_props.alias("a"),
                      (F.col("p.dtmi") == F.col("a.dtmi")) &
                      (F.col("p.prop_name") == F.col("a.a_name")) &
                      (F.col("p.value_type") != F.col("a.a_type")),
                      "left")
                .select("p.*", F.col("a.a_name").isNotNull().alias("anc_conflict"))
                .dropDuplicates(["dtmi", "prop_name", "pos"]))

    # W4b: sibling registry — first registered type per name in
    # (depth, dtmi, pos) order among non-ancestor-conflicted props
    withd = conflict.join(F.broadcast(depth), "dtmi", "left") \
        .fillna(0, ["depth"])
    w = Window.partitionBy("prop_name").orderBy("depth", "dtmi", "pos")
    first_type = (withd.where(~F.col("anc_conflict"))
                  .withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") == 1)
                  .select("prop_name", F.col("value_type").alias("first_type")))
    resolved = (withd.join(F.broadcast(first_type), "prop_name", "left")
                .withColumn(
                    "resolved_name",
                    F.when(F.col("anc_conflict") |
                           (F.col("first_type").isNotNull() &
                            (F.col("value_type") != F.col("first_type"))),
                           F.concat("prop_name", F.lit("_"),
                                    F.lower("value_type")))
                    .otherwise(F.col("prop_name"))))

    resolved = resolved.withColumn(
        "prop_id",
        property_id(F.col("fabric_id"),
                    F.when(F.col("is_timeseries"),
                           F.concat(F.lit("ts_"), "resolved_name"))
                    .otherwise(F.col("resolved_name")))) \
        .withColumn("out_name", sanitize_name(F.col("resolved_name"), 90))

    agg_cols = ["dtmi", "fabric_id", "pos", "prop_id", "out_name",
                "value_type", "is_timeseries"]
    agg_input = resolved.select(*agg_cols)

    # mode extras are appended AFTER regular properties in the reference's
    # conversion order: commands (+50k), flattened components (+70k),
    # structured scaledDecimal extras (+90k) — dtdl_converter.py:579-612
    if modes.command == "property":
        cmds = (c.where(F.col("content_type") == "Command")
                .select("dtmi", "fabric_id",
                        (F.col("pos") + F.lit(50_000)).alias("pos"),
                        property_id(F.col("fabric_id"),
                                    F.concat(F.lit("cmd_"), "prop_name"))
                        .alias("prop_id"),
                        sanitize_name(F.concat(F.lit("command_"),
                                               "prop_name"), 90)
                        .alias("out_name"),
                        F.lit("String").alias("value_type"),
                        F.lit(False).alias("is_timeseries")))
        agg_input = agg_input.unionByName(cmds)

    comps = c.where(F.col("content_type") == "Component") \
        .withColumnRenamed("schema_kind", "comp_schema")
    if modes.component == "flatten":
        # copy the known target interface's Property contents onto the
        # parent, names prefixed '<component>_' (dtdl_converter.py:1007-1042)
        tgt_props = (c.where(F.col("content_type") == "Property")
                     .select(F.col("dtmi").alias("comp_schema"),
                             F.col("prop_name").alias("t_name"),
                             F.col("schema_kind").alias("t_schema"),
                             F.col("pos").alias("t_pos")))
        flat = (comps.join(tgt_props, "comp_schema")
                .withColumn("flat_name",
                            F.concat("prop_name", F.lit("_"), "t_name"))
                .select("dtmi", "fabric_id",
                        (F.lit(70_000) + F.col("pos") * 1000 +
                         F.col("t_pos")).alias("pos"),
                        property_id(F.col("fabric_id"), F.col("flat_name"))
                        .alias("prop_id"),
                        sanitize_name(F.col("flat_name"), 90)
                        .alias("out_name"),
                        _fabric_type_expr(F.col("t_schema"),
                                          modes.scaled_decimal,
                                          modes.type_overrides)
                        .alias("value_type"),
                        F.lit(False).alias("is_timeseries")))
        agg_input = agg_input.unionByName(flat)

    if modes.scaled_decimal == "structured":
        sd = c.where((F.col("content_type") == "Property") &
                     (F.col("schema_kind") == "scaledDecimal"))
        extras = []
        for i, (suffix, vtype) in enumerate([("_scale", "BigInt"),
                                             ("_value", "String")]):
            extras.append(sd.select(
                "dtmi", "fabric_id",
                (F.lit(90_000) + F.col("pos") * 2 + F.lit(i)).alias("pos"),
                property_id(F.col("fabric_id"),
                            F.concat("prop_name", F.lit(suffix)))
                .alias("prop_id"),
                sanitize_name(F.concat("prop_name", F.lit(suffix)), 90)
                .alias("out_name"),
                F.lit(vtype).alias("value_type"),
                F.lit(False).alias("is_timeseries")))
        for e in extras:
            agg_input = agg_input.unionByName(e)

    prop_struct = F.struct(F.col("prop_id").alias("id"),
                           F.col("out_name").alias("name"),
                           F.col("value_type").alias("valueType"))
    per_iface = (agg_input
                 .groupBy("dtmi", "fabric_id")
                 .agg(
                     F.array_sort(F.collect_list(F.when(
                         ~F.col("is_timeseries"),
                         F.struct("pos", prop_struct.alias("p")))))
                     .alias("ps"),
                     F.array_sort(F.collect_list(F.when(
                         F.col("is_timeseries"),
                         F.struct("pos", prop_struct.alias("p")))))
                     .alias("ts"),
                 )
                 .select("dtmi", "fabric_id",
                         F.transform("ps", lambda x: x["p"]).alias("properties"),
                         F.transform("ts", lambda x: x["p"])
                         .alias("timeseries_properties")))

    # entityIdParts (auto) + displayName from contents-ordered property array
    pk_arr = F.array(*[F.lit(p) for p in PK_PATTERNS])
    valid = lambda p: p["valueType"].isin("String", "BigInt")  # noqa: E731
    name_matches = lambda p: F.exists(  # noqa: E731
        pk_arr, lambda pat: F.lower(p["name"]).contains(pat))
    pk_props = F.filter("properties", lambda p: valid(p) & name_matches(p))
    valid_props = F.filter("properties", lambda p: valid(p))
    str_props = F.filter("properties", lambda p: p["valueType"] == "String")
    per_iface = (per_iface
                 .withColumn("id_part", F.coalesce(
                     F.try_element_at(pk_props, F.lit(1))["id"],
                     F.try_element_at(valid_props, F.lit(1))["id"]))
                 .withColumn("entity_id_parts",
                             F.when(F.col("id_part").isNotNull(),
                                    F.array("id_part"))
                             .otherwise(F.array().cast("array<string>")))
                 .withColumn("display_name_property_id",
                             F.try_element_at(str_props, F.lit(1))["id"])
                 .drop("id_part"))

    empty_props = F.array().cast(
        "array<struct<id:string,name:string,valueType:string>>")
    entity_types = (ifaces
                    .join(per_iface.drop("fabric_id"), "dtmi", "left")
                    .join(F.broadcast(parent), "dtmi", "left")
                    .select(
                        F.col("fabric_id").alias("id"),
                        sanitize_name(F.coalesce("display_name", "name"), 90)
                        .alias("name"),
                        F.lit(NAMESPACE).alias("namespace"),
                        F.lit(NAMESPACE_TYPE).alias("namespace_type"),
                        F.lit(VISIBILITY).alias("visibility"),
                        "base_entity_type_id",
                        F.coalesce("entity_id_parts",
                                   F.array().cast("array<string>"))
                        .alias("entity_id_parts"),
                        "display_name_property_id",
                        F.coalesce("properties", empty_props).alias("properties"),
                        F.coalesce("timeseries_properties", empty_props)
                        .alias("timeseries_properties"),
                        F.col("dtmi").alias("class_uri"),
                    ))

    rels = (c.where((F.col("content_type") == "Relationship") &
                    F.col("target").isNotNull())
            .select(
                property_id(F.col("fabric_id"),
                            F.concat(F.lit("rel_"), "prop_name")).alias("id"),
                sanitize_name(F.col("prop_name"), 90).alias("name"),
                F.lit(NAMESPACE).alias("namespace"),
                F.lit(NAMESPACE_TYPE).alias("namespace_type"),
                F.col("fabric_id").alias("source_entity_type_id"),
                dtmi_fabric_id(F.col("target")).alias("target_entity_type_id"),
                F.concat("dtmi", F.lit("::"), "prop_name").alias("rel_key"),
            ))

    if modes.command == "entity":
        # Command → standalone CommandType entity + supports_* relationship
        # (reference: mode_converters.py:345-430). The reference falls back
        # to a non-deterministic id generator for unknown command DTMIs; this
        # engine hashes the command DTMI (or its synthesized
        # "<iface>:cmd:<name>" fallback) for determinism at scale.
        cmds = (c.where(F.col("content_type") == "Command")
                .withColumn("info", F.from_json("schema_json", CMD_INFO))
                # fallback synthesized from the CLEANED interface dtmi:
                # clean_dtmi truncates at ';', so "<iface>;1:cmd:x" would
                # collapse every command of one interface to the same id
                .withColumn("cmd_dtmi", F.coalesce(
                    F.col("info.id"),
                    F.concat(clean_dtmi(F.col("dtmi")),
                             F.lit(":cmd:"), "prop_name")))
                .withColumn("cmd_id", dtmi_fabric_id(F.col("cmd_dtmi"))))

        # property order pinned by the reference's append order
        # (mode_converters.py:374-415): commandName, requestSchema?,
        # request params..., responseSchema?, response params...
        entry_t = "array<struct<name:string,kind:string>>"
        empty_entries = F.array().cast(entry_t)

        def _marker(nm):
            return F.array(F.struct(F.lit(nm).alias("name"),
                                    F.lit("string").alias("kind"))).cast(entry_t)

        ordered = F.concat(
            _marker("commandName"),
            F.when(F.col("info.has_request"),
                   _marker("requestSchema")).otherwise(empty_entries),
            F.coalesce(F.col("info.req_params").cast(entry_t), empty_entries),
            F.when(F.col("info.has_response"),
                   _marker("responseSchema")).otherwise(empty_entries),
            F.coalesce(F.col("info.resp_params").cast(entry_t), empty_entries))

        # dedup shared command DTMIs, pinned to first (dtmi, pos)
        wc = Window.partitionBy("cmd_id").orderBy("dtmi", "pos")
        cmd_one = (cmds.withColumn("rn", F.row_number().over(wc))
                   .where(F.col("rn") == 1))

        # per-parameter rows (explode instead of a lambda-nested md5 —
        # pyspark 4.1 miscompiles md5(concat(lit, lambda_var)) in nested
        # higher-order functions)
        cprops = (cmd_one
                  .select("cmd_id", "cmd_dtmi", "prop_name",
                          F.posexplode(ordered).alias("ppos", "e"))
                  .select("cmd_id", "cmd_dtmi", "prop_name", "ppos",
                          F.struct(
                              # id hashes the RAW name; display name is
                              # sanitized (mode_converters.py:316-319,465)
                              property_id(F.col("cmd_id"), F.col("e.name"))
                              .alias("id"),
                              sanitize_name(F.col("e.name"), 90).alias("name"),
                              _fabric_type_expr(F.col("e.kind"),
                                                modes.scaled_decimal,
                                                modes.type_overrides)
                              .alias("valueType")).alias("prop")))
        cmd_entities = (cprops
                        .groupBy("cmd_id", "cmd_dtmi", "prop_name")
                        .agg(F.array_sort(F.collect_list(
                            F.struct("ppos", F.col("prop").alias("p"))))
                            .alias("ps"))
                        .select(
                            F.col("cmd_id").alias("id"),
                            sanitize_name(F.concat(F.lit("Command_"),
                                                   "prop_name"), 90)
                            .alias("name"),
                            F.lit(NAMESPACE).alias("namespace"),
                            F.lit(NAMESPACE_TYPE).alias("namespace_type"),
                            F.lit(VISIBILITY).alias("visibility"),
                            F.lit(None).cast("string")
                            .alias("base_entity_type_id"),
                            F.array(property_id(F.col("cmd_id"),
                                                F.lit("commandName")))
                            .alias("entity_id_parts"),
                            property_id(F.col("cmd_id"), F.lit("commandName"))
                            .alias("display_name_property_id"),
                            F.transform("ps", lambda x: x["p"])
                            .alias("properties"),
                            empty_props.alias("timeseries_properties"),
                            F.col("cmd_dtmi").alias("class_uri")))
        entity_types = entity_types.unionByName(cmd_entities)

        cmd_rels = cmds.select(
            property_id(F.col("fabric_id"),
                        F.concat(F.lit("cmd_rel_"), "prop_name")).alias("id"),
            sanitize_name(F.concat(F.lit("supports_"), "prop_name"), 90)
            .alias("name"),
            F.lit(NAMESPACE).alias("namespace"),
            F.lit(NAMESPACE_TYPE).alias("namespace_type"),
            F.col("fabric_id").alias("source_entity_type_id"),
            F.col("cmd_id").alias("target_entity_type_id"),
            F.concat("dtmi", F.lit("::cmd::"), "prop_name").alias("rel_key"))
        rels = rels.unionByName(cmd_rels)

    if modes.component == "separate":
        # known targets → relationship only; unknown targets → stub entity
        # with a componentId key + relationship (dtdl_converter.py:744-830)
        known = ifaces.select(F.col("dtmi").alias("comp_schema"))
        comp_rels = comps.select(
            property_id(F.col("fabric_id"),
                        F.concat(F.lit("comp_"), "prop_name")).alias("id"),
            sanitize_name(F.concat(F.lit("has_"), "prop_name"), 90)
            .alias("name"),
            F.lit(NAMESPACE).alias("namespace"),
            F.lit(NAMESPACE_TYPE).alias("namespace_type"),
            F.col("fabric_id").alias("source_entity_type_id"),
            dtmi_fabric_id(F.col("comp_schema")).alias("target_entity_type_id"),
            F.concat("dtmi", F.lit("::comp::"), "prop_name").alias("rel_key"))
        rels = rels.unionByName(comp_rels)

        unknown = comps.join(F.broadcast(known), "comp_schema", "left_anti")
        stub_id = dtmi_fabric_id(F.col("comp_schema"))
        schema_name = F.substring_index(
            F.substring_index(F.regexp_replace("comp_schema", "^dtmi:", ""),
                              ";", 1), ":", -1)
        stub_prop = F.struct(
            property_id(stub_id, F.lit("componentId")).alias("id"),
            F.lit("componentId").alias("name"),
            F.lit("String").alias("valueType"))
        stubs = (unknown
                 .dropDuplicates(["comp_schema"])
                 .select(
                     stub_id.alias("id"),
                     sanitize_name(F.concat("prop_name", F.lit("_"),
                                            schema_name), 90).alias("name"),
                     F.lit(NAMESPACE).alias("namespace"),
                     F.lit(NAMESPACE_TYPE).alias("namespace_type"),
                     F.lit(VISIBILITY).alias("visibility"),
                     F.lit(None).cast("string").alias("base_entity_type_id"),
                     F.array(property_id(stub_id, F.lit("componentId")))
                     .alias("entity_id_parts"),
                     F.lit(None).cast("string")
                     .alias("display_name_property_id"),
                     F.array(stub_prop).alias("properties"),
                     empty_props.alias("timeseries_properties"),
                     F.col("comp_schema").alias("class_uri")))
        entity_types = entity_types.unionByName(stubs)

    return entity_types, rels, skipped


def dtmi_mapping(entity_types: DataFrame) -> DataFrame:
    """(dtmi, fabric_id) mapping table — the reference's saved
    `.mapping.json` artifact (reference:
    src/app/cli/commands/unified/convert.py:273-278,
    dtdl_converter.py:1249-1258) as a DataFrame; write or collect at the
    sink. Only DTDL-derived rows qualify (class_uri carries the DTMI)."""
    return (entity_types
            .where(F.col("class_uri").startswith("dtmi:") |
                   F.col("class_uri").contains(":cmd:"))
            .select(F.col("class_uri").alias("dtmi"),
                    F.col("id").alias("fabric_id"))
            .dropDuplicates(["dtmi"]))
