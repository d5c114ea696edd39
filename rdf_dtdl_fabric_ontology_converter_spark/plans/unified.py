"""Unified multi-format pipeline: one corpus, all three front-ends.

The reference converts one format per CLI run; this engine's corpus is
interleaved (a document's text spans may be Turtle, JSON-LD, RDF/XML,
DTDL, or CDM — format-sniffed per span), so the unified plan runs all
three conversion paths over the same documents scan and unions the
results into a single vertex/edge/skipped table set.

All three front-ends share the deterministic sha256 ID space, so
cross-format unions cannot collide unless the same logical identity is
defined twice — which dropDuplicates on id surfaces rather than hides.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..operators.cdm import convert_cdm, extract_cdm
from ..operators.dtdl import DtdlModes, convert_interfaces, extract_interfaces
from .pipeline import PipelineResult, build_graph, triples_from_documents


@dataclass
class UnifiedResult:
    entity_types: DataFrame
    relationship_types: DataFrame
    skipped_items: DataFrame
    rdf: PipelineResult
    interfaces: DataFrame         # DTDL interface rows, before dedup
    cdm_entities: DataFrame       # CDM entity rows, parse errors included
    cdm_relationships: DataFrame


def run_unified(spark: SparkSession, documents: DataFrame,
                dtdl_modes: DtdlModes | None = None,
                cdm_flatten_inheritance: bool = True,
                registry=None,
                entailment: tuple[str, ...] = ()) -> UnifiedResult:
    """``registry`` is an optional functions.typemaps.TypeMappingRegistry —
    user type overrides applied per format ('rdf', 'dtdl', 'cdm').
    ``entailment``: optional reasoning layers ('owl', 'rdfs') materialized
    over the extracted RDF triples BEFORE graph building, so stages B–D
    (typing, properties, relationships) see the inferred graph — e.g. a
    class whose rdf:type owl:Class arrives only via an rdfs9 chain still
    becomes an entity. Inferred rows carry ``doc_id='_entailed:<layer>'``
    lineage (``operators.entailment.augment_with_entailment``)."""
    documents = documents.localCheckpoint(eager=False)

    # RDF-family spans → triples → graph
    triples_prov, parse_skips = triples_from_documents(documents)
    if entailment:
        from ..operators.entailment import augment_with_entailment
        triples_prov = augment_with_entailment(triples_prov,
                                               layers=entailment)
    rdf = build_graph(spark, triples_prov, parse_skips, registry=registry)

    # DTDL spans — build a NEW DtdlModes rather than mutating the caller's
    # instance (a caller reusing one DtdlModes across run_unified calls with
    # different registries must not accumulate stale overrides).
    if registry is not None:
        import dataclasses
        dtdl_modes = dtdl_modes or DtdlModes()
        merged = dict(registry.overrides("dtdl"))
        merged.update(dtdl_modes.type_overrides or {})
        dtdl_modes = dataclasses.replace(dtdl_modes, type_overrides=merged)
    # checkpointed: the conversion and the DTDL validator both read it
    interfaces = extract_interfaces(documents).localCheckpoint(eager=False)
    d_ents, d_rels, d_skips = convert_interfaces(interfaces, dtdl_modes)

    # CDM spans
    c_ent_rows, c_rel_rows = extract_cdm(
        documents,
        type_overrides=registry.overrides("cdm") if registry else None)
    c_ents, c_rels, c_skips = convert_cdm(
        c_ent_rows, c_rel_rows, flatten_inheritance=cdm_flatten_inheritance)

    entity_types = (rdf.entity_types
                    .unionByName(d_ents)
                    .unionByName(c_ents)
                    .dropDuplicates(["id"]))
    relationship_types = (rdf.relationship_types
                          .unionByName(d_rels)
                          .unionByName(c_rels)
                          .dropDuplicates(["id"]))
    skipped = (rdf.skipped_items
               .unionByName(d_skips)
               .unionByName(c_skips))
    return UnifiedResult(entity_types, relationship_types, skipped, rdf,
                         interfaces, c_ent_rows, c_rel_rows)
