"""Stage B1: class extraction (P1-P3, A1, W1) — entity-type vertex rows.

Spark mapping of the reference ClassExtractor
(reference: src/formats/rdf/property_extractor.py:48-132):

- classes = union of owl:Class subjects, rdfs:Class subjects, and
  rdfs:subClassOf subjects, IRI-only, dropDuplicates (A1/U1/P3)
- cycle-safe first parent (W1): the reference takes the first non-circular
  rdfs:subClassOf parent in rdflib iteration order and `break`s
  (property_extractor.py:118-131). Iteration order is nondeterministic, so
  this engine pins *lexicographically smallest* non-cyclic parent — the
  reference's own tests only exercise single-parent fixtures, so P/R is
  unaffected (SURVEY §4 determinism pin 6).

The hot predicate filter (pred == rdf:type) runs map-side before any
shuffle; class-set dedup is a hash aggregate on class_uri.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import (MAX_EXTENDS_DEPTH, OWL_CLASS, RDFS_CLASS, RDFS_SUBCLASS_OF,
                RDF_TYPE)
from ..functions.ids import fabric_id
from ..functions.names import uri_to_name

MAX_ROUNDS = 16  # path-doubling steps: 2^16 reachable depth


def extract_classes(triples: DataFrame) -> DataFrame:
    """→ classes(class_uri, entity_id, name).

    The three source predicates are one disjunctive filter — a single scan
    of the cached graph feeding one dedup shuffle (the unioned
    three-branch form scans the graph three times for the same rows).
    """
    is_class_assert = (F.col("pred") == RDF_TYPE) & \
        F.col("obj").isin(OWL_CLASS, RDFS_CLASS)
    is_subclass = F.col("pred") == RDFS_SUBCLASS_OF
    classes = (triples
               .where(is_class_assert | is_subclass)
               .where(~F.col("subj").startswith("_:"))
               .select(F.col("subj").alias("class_uri"))
               .dropDuplicates(["class_uri"]))
    return classes.select(
        "class_uri",
        fabric_id(F.col("class_uri")).alias("entity_id"),
        uri_to_name(F.col("class_uri")).alias("name"),
    )


def subclass_edges(triples: DataFrame, classes: DataFrame) -> DataFrame:
    """IRI→IRI subClassOf edges restricted to extracted classes (child side
    is always a class by construction; parent must be in the class set)."""
    edges = (triples
             .where(F.col("pred") == RDFS_SUBCLASS_OF)
             .where(~F.col("subj").startswith("_:"))
             .where(F.col("obj_kind") == "iri")
             .select(F.col("subj").alias("child"), F.col("obj").alias("parent"))
             .dropDuplicates())
    parents = classes.select(F.col("class_uri").alias("parent"))
    return edges.join(F.broadcast(parents), "parent", "left_semi")


def transitive_closure(edges: DataFrame, key: Sequence[str] = (),
                       hops: bool = False) -> DataFrame:
    """edges(*key, child, parent) → (*key, src, dst[, hops]) reachability
    closure via path-doubling joins — the engine's one closure loop.

    Doubling gives 2^MAX_ROUNDS reachable depth in MAX_ROUNDS shuffles;
    localCheckpoint each round truncates lineage (SURVEY §4 device 3).
    Edge sets here are schema hierarchies (≤500 types by Fabric limit per
    ontology), so every round is a small-table join.

    ``key`` columns must also match across each joined pair, so one loop
    closes every key's edge set at once (e.g. per predicate). With
    ``hops=True`` each row carries the longest path length in edges,
    capped at MAX_EXTENDS_DEPTH so cyclic inputs converge.
    """
    cols = [*key, F.col("child").alias("src"), F.col("parent").alias("dst")]
    if hops:
        cols.append(F.lit(1).alias("hops"))
    closure = edges.select(*cols)

    def state(c: DataFrame):
        # one driver action per round: it materializes the lazy checkpoint
        # AND is the convergence check (rows only grow and hops only rise,
        # so an unchanged (count, sum of hops) means a fixpoint)
        if not hops:
            return (c.count(),)
        return tuple(c.agg(F.count(F.lit(1)), F.sum("hops")).first())

    # (r6 note: seeding this first action with a double-double to save one
    # round was tried and measured SLOWER — the seed joins run over the
    # un-checkpointed edge lineage and cost more than the saved action.)
    closure = closure.localCheckpoint(eager=False)
    prev = state(closure)
    if prev[0] == 0:
        return closure

    def double(c: DataFrame) -> DataFrame:
        on = F.col("a.dst") == F.col("b.src")
        for k in key:
            on = on & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        out = [*(F.col(f"a.{k}").alias(k) for k in key),
               F.col("a.src").alias("src"), F.col("b.dst").alias("dst")]
        if hops:
            out.append(F.least(F.col("a.hops") + F.col("b.hops"),
                               F.lit(MAX_EXTENDS_DEPTH)).alias("hops"))
        grown = c.alias("a").join(c.alias("b"), on).select(*out)
        both = c.unionByName(grown)
        if not hops:
            return both.dropDuplicates()
        return both.groupBy(*key, "src", "dst") \
            .agg(F.max("hops").alias("hops"))

    # TWO doubling steps per driver round-trip (4x reachable depth per
    # action). The intermediate closure stays lazy inside the same job;
    # both sides of the second self-join share its identical subplan, so
    # Spark's ReusedExchange computes the intermediate dedup shuffle once.
    # A converged first step just makes the second a no-op in the same job.
    for _ in range((MAX_ROUNDS + 1) // 2):
        new_closure = double(double(closure)).localCheckpoint(eager=False)
        n = state(new_closure)
        if n == prev:
            return new_closure
        closure, prev = new_closure, n
    return closure


def choose_parents(edges: DataFrame, closure: DataFrame) -> DataFrame:
    """W1 + cycle guard → (child, parent) one row per child.

    A candidate parent p is invalid iff following parent chains from p can
    revisit a node (reference has_cycle, property_extractor.py:107-127):
    equivalently p reaches a cycle node, or p is itself on a cycle. Cycle
    nodes are closure rows with src == dst.
    """
    cyc = closure.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("cyc_node")).dropDuplicates()
    # bad parents: p ∈ cyc, or p reaches a cyc node
    reaches_cyc = (closure.join(F.broadcast(cyc),
                                closure.dst == F.col("cyc_node"), "left_semi")
                   .select(F.col("src").alias("bad")))
    bad = reaches_cyc.unionByName(cyc.select(F.col("cyc_node").alias("bad"))) \
        .dropDuplicates()
    valid = edges.join(bad, edges.parent == bad.bad, "left_anti")
    w = Window.partitionBy("child").orderBy("parent")
    return (valid.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


def classes_with_parents(triples: DataFrame, classes: DataFrame) -> DataFrame:
    """→ (class_uri, entity_id, name, base_entity_type_id)."""
    edges = subclass_edges(triples, classes)
    closure = transitive_closure(edges)
    chosen = choose_parents(edges, closure)
    parent_ids = classes.select(F.col("class_uri").alias("parent"),
                                F.col("entity_id").alias("base_entity_type_id"))
    child_parent = chosen.join(F.broadcast(parent_ids), "parent") \
        .select(F.col("child").alias("class_uri"), "base_entity_type_id")
    return classes.join(child_parent, "class_uri", "left")
