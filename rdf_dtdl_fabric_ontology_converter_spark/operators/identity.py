"""Stage C: identity windows (W2/W3) and property collection (A9).

Spark mapping of the reference EntityIdentifierSetter
(reference: src/formats/rdf/property_extractor.py:420-464):

- entityIdParts: a property whose lowercase name contains 'id' AND whose
  type is String/BigInt wins; else the first String/BigInt property; else
  empty (W2)
- displayNamePropertyId: the 'name' String property if an id prop was
  found, else the id prop itself, else the chosen first-valid prop (W3)

The reference walks ``entity_type.properties`` in insertion order (rdflib
set order — nondeterministic); this engine pins name-sorted order, taking
the LAST match for id/name candidates exactly as the reference's
non-breaking loop does (property_extractor.py:443-449).

A9 (collect properties per entity) is a groupBy + sort_array(collect_list)
— bounded by the 200-props/entity Fabric limit so per-key skew is capped;
the groupBy key is the entity id (high cardinality, well distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import NAMESPACE, NAMESPACE_TYPE, VISIBILITY


def entity_identity(class_props: DataFrame) -> DataFrame:
    """class_props(class_uri, prop_id, name, value_type, is_timeseries)
    → (class_uri, entity_id_parts array<string>, display_name_property_id).
    """
    p = class_props.where(~F.col("is_timeseries"))
    key_ok = F.col("value_type").isin("String", "BigInt")

    agg = p.groupBy("class_uri").agg(
        # LAST match in name order == max(struct(name, prop_id)) over matches
        F.max(F.when(F.lower("name").contains("id") & key_ok,
                     F.struct("name", "prop_id"))).alias("id_prop"),
        F.max(F.when(F.lower("name").contains("name") &
                     (F.col("value_type") == "String"),
                     F.struct("name", "prop_id"))).alias("name_prop"),
        F.min(F.when(key_ok, F.struct("name", "prop_id"))).alias("first_valid"),
    )
    chosen = F.coalesce(F.col("id_prop.prop_id"), F.col("first_valid.prop_id"))
    display = F.when(F.col("id_prop").isNotNull(),
                     F.coalesce(F.col("name_prop.prop_id"),
                                F.col("id_prop.prop_id"))) \
        .otherwise(F.col("first_valid.prop_id"))
    return agg.select(
        "class_uri",
        F.when(chosen.isNotNull(), F.array(chosen))
         .otherwise(F.array().cast("array<string>")).alias("entity_id_parts"),
        display.alias("display_name_property_id"),
    )


def collect_entity_properties(class_props: DataFrame) -> DataFrame:
    """A9: per-class sorted property arrays (regular + timeseries)."""
    prop_struct = F.struct(F.col("prop_id").alias("id"), "name",
                           F.col("value_type").alias("valueType"))
    return (class_props
            .groupBy("class_uri")
            .agg(
                F.sort_array(F.collect_list(
                    F.when(~F.col("is_timeseries"), prop_struct)))
                .alias("properties"),
                F.sort_array(F.collect_list(
                    F.when(F.col("is_timeseries"), prop_struct)))
                .alias("timeseries_properties"),
            ))


def _props_and_identity(class_props: DataFrame) -> DataFrame:
    """Fused W2/W3 + A9: ONE hash aggregate on class_uri producing both the
    sorted property arrays and the identity/display choices (the separate
    collect_entity_properties + entity_identity pair costs two shuffles and
    two joins for the same key — this is the single-shuffle form used by
    the materializer; the pair stays public for callers that need one side).
    """
    non_ts = ~F.col("is_timeseries")
    key_ok = F.col("value_type").isin("String", "BigInt")
    prop_struct = F.struct(F.col("prop_id").alias("id"), "name",
                           F.col("value_type").alias("valueType"))
    agg = class_props.groupBy("class_uri").agg(
        F.sort_array(F.collect_list(F.when(non_ts, prop_struct)))
        .alias("properties"),
        F.sort_array(F.collect_list(F.when(~non_ts, prop_struct)))
        .alias("timeseries_properties"),
        F.max(F.when(non_ts & F.lower("name").contains("id") & key_ok,
                     F.struct("name", "prop_id"))).alias("id_prop"),
        F.max(F.when(non_ts & F.lower("name").contains("name") &
                     (F.col("value_type") == "String"),
                     F.struct("name", "prop_id"))).alias("name_prop"),
        F.min(F.when(non_ts & key_ok,
                     F.struct("name", "prop_id"))).alias("first_valid"),
    )
    chosen = F.coalesce(F.col("id_prop.prop_id"), F.col("first_valid.prop_id"))
    display = F.when(F.col("id_prop").isNotNull(),
                     F.coalesce(F.col("name_prop.prop_id"),
                                F.col("id_prop.prop_id"))) \
        .otherwise(F.col("first_valid.prop_id"))
    return agg.select(
        "class_uri", "properties", "timeseries_properties",
        F.when(chosen.isNotNull(), F.array(chosen))
         .otherwise(F.array().cast("array<string>")).alias("entity_id_parts"),
        display.alias("display_name_property_id"),
    )


def materialize_entity_types(classes: DataFrame,
                             class_props: DataFrame) -> DataFrame:
    """→ the entity_types vertex table (FIXTURES.md §3 schema).

    The per-class aggregate is broadcast into the class table: class_props
    is bounded by the Fabric limits (≤500 entity types × ≤200 properties),
    so the build side is small BY CONSTRAINT at any corpus scale.
    """
    pi = _props_and_identity(class_props)
    empty_props = F.array().cast(
        "array<struct<id:string,name:string,valueType:string>>")
    return (classes
            .join(F.broadcast(pi), "class_uri", "left")
            .select(
                F.col("entity_id").alias("id"),
                "name",
                F.lit(NAMESPACE).alias("namespace"),
                F.lit(NAMESPACE_TYPE).alias("namespace_type"),
                F.lit(VISIBILITY).alias("visibility"),
                "base_entity_type_id",
                F.coalesce("entity_id_parts", F.array().cast("array<string>"))
                .alias("entity_id_parts"),
                "display_name_property_id",
                F.coalesce("properties", empty_props).alias("properties"),
                F.coalesce("timeseries_properties", empty_props)
                .alias("timeseries_properties"),
                "class_uri",
            ))
