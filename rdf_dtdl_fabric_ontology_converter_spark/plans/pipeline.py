"""End-to-end RDF pipeline: documents → triples → vertex/edge tables.

Stage layout mirrors SURVEY §3.1's Spark lifecycle:

  Stage A  extract (narrow, Arrow UDF)          → triples + parse skips
  Stage B  classify + resolve (broadcast joins,
           ≤10-round iterative expression loop) → classes / props / rels
  Stage C  identity windows + property collect  → entity rows
  Stage D  materialize vertex/edge/skipped      → output tables

Each stage's output can be checkpointed through plans.checkpoint for
exact resume with per-partition lineage (north rule).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import NAMESPACE, NAMESPACE_TYPE
from ..functions.typemaps import xsd_map_df
from ..operators.canon import dedup_triples
from ..operators.classes import classes_with_parents, extract_classes
from ..operators.extract import extract_triples, split_errors
from ..operators.identity import materialize_entity_types
from ..operators.properties import (data_property_set, dp_bnode_ranges,
                                    extract_data_properties, first_ranges)
from ..operators.relationships import extract_relationships
from ..operators.resolver import expression_subgraph, resolve_graph_roots

# target rows per partition when re-scanning the checkpointed graph in
# stage B; keeps tiny ontologies at 1-partition scans without ever
# widening a large corpus beyond its shuffle width
ROWS_PER_SCAN_PARTITION = 100_000


@dataclass
class PipelineResult:
    triples: DataFrame            # deduplicated graph view
    triples_prov: DataFrame       # with (doc_id, span_idx) provenance
    entity_types: DataFrame
    relationship_types: DataFrame
    skipped_items: DataFrame

    def counts(self) -> dict:
        return {
            "triples": self.triples.count(),
            "entity_types": self.entity_types.count(),
            "relationship_types": self.relationship_types.count(),
            "skipped_items": self.skipped_items.count(),
        }


def triples_from_documents(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    raw = extract_triples(documents)
    return split_errors(raw)


def build_graph(spark: SparkSession, triples_prov: DataFrame,
                parse_skips: DataFrame | None = None,
                registry=None) -> PipelineResult:
    """Stages B-D over a (possibly multi-document) triple corpus.

    ``registry``: optional functions.typemaps.TypeMappingRegistry with
    user 'rdf' type overrides merged into the broadcast XSD map."""
    xsd_map = xsd_map_df(spark, registry)

    # north rule: global sort-merge dedup of the emitted triples, with
    # hot-subject salting (popular entities can't pin one reducer).
    # localCheckpoint materializes the deduped graph once — every later
    # stage (B-D) re-reads it instead of re-running extraction per action.
    triples = dedup_triples(triples_prov,
                            spread_hot_subjects=True).localCheckpoint(eager=False)

    # Materialize the deduped graph once, up front, so every stage-B
    # frame below starts from the cached checkpoint.
    n_triples = triples.count()

    # Right-size downstream scan parallelism from the MEASURED graph size:
    # stage B re-scans this checkpoint dozens of times (every broadcast
    # build included), and a small ontology pinned at shuffle-partition
    # width pays (partitions × scans) tasks of pure scheduling latency —
    # the round-4 fixed-cost profile. coalesce is narrow (no shuffle) on
    # the checkpointed partitions; a 100-TB corpus keeps its full width
    # (count / ROWS_PER_SCAN_PARTITION exceeds it), so this only ever
    # trims the degenerate small-graph case.
    cur = triples.rdd.getNumPartitions()
    want = max(1, min(cur, n_triples // ROWS_PER_SCAN_PARTITION + 1))
    if want < cur:
        triples = triples.coalesce(want)

    expr = expression_subgraph(triples)

    # Shared stage-B frames, checkpointed ONCE: first_ranges is consumed by
    # four call sites (data/object property sets, value-type ranges, bnode
    # roots) and data_property_set by two — without the shared
    # checkpoint each consumer re-runs the same aggregation over the
    # corpus and compiles its own codegen for it (the round-4 fixed-cost
    # profile: dozens of tiny duplicate AQE stage-jobs). Both frames are
    # schema-bounded (≤500 types × ≤200 props by Fabric limit).
    franges = first_ranges(triples).localCheckpoint(eager=False)
    props_dp = data_property_set(triples, xsd_map, franges=franges) \
        .localCheckpoint(eager=False)

    classes = classes_with_parents(
        triples, extract_classes(triples)).localCheckpoint(eager=False)
    # ONE fused loop for all of Stage B (data-property domains + datatype
    # unions + object-property domains/ranges): one frontier-count action
    # per round instead of four private loops; consumers read the single
    # lazily-checkpointed result.
    resolved = resolve_graph_roots(
        triples, expr,
        dp_bnode_ranges=dp_bnode_ranges(triples, xsd_map, props=props_dp,
                                        franges=franges))
    data_props, prop_domains = extract_data_properties(
        triples, classes, expr, xsd_map, resolved=resolved,
        props=props_dp, franges=franges)
    prop_domains = prop_domains.localCheckpoint(eager=False)
    rels, rel_skips = extract_relationships(
        triples, classes, expr, xsd_map, prop_domains, resolved=resolved,
        franges=franges)

    # J1 attach: one row per (class, property); both sides schema-bounded
    class_props = (prop_domains
                   .join(F.broadcast(data_props), "prop_uri")
                   .select("class_uri", "prop_id", "name", "value_type",
                           "is_timeseries"))
    entity_types = materialize_entity_types(classes, class_props)

    relationship_types = rels.select(
        F.col("rel_id").alias("id"),
        "name",
        F.lit(NAMESPACE).alias("namespace"),
        F.lit(NAMESPACE_TYPE).alias("namespace_type"),
        "source_entity_type_id",
        "target_entity_type_id",
        "rel_key",
    )

    skipped = rel_skips
    if parse_skips is not None:
        skipped = parse_skips.unionByName(rel_skips)

    return PipelineResult(
        triples=triples,
        triples_prov=triples_prov,
        entity_types=entity_types,
        relationship_types=relationship_types,
        skipped_items=skipped,
    )


def run_pipeline(spark: SparkSession, documents: DataFrame) -> PipelineResult:
    triples_prov, parse_skips = triples_from_documents(documents)
    return build_graph(spark, triples_prov, parse_skips)
