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

from .. import (MAX_ENTITY_TYPES, MAX_EXTENDS_DEPTH, OWL_CLASS, RDFS_CLASS,
                RDFS_SUBCLASS_OF, RDF_TYPE)
from ..functions.ids import fabric_id
from ..functions.names import uri_to_name

# Most distinct edges one closure key may hold: a schema hierarchy of up to
# MAX_ENTITY_TYPES types with a few parents each. At this size a key's
# closure takes seconds on one core; an instance graph must not get here.
MAX_CLOSURE_EDGES = 4 * MAX_ENTITY_TYPES


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
    closure — the engine's one closure, built lazily (no driver action).

    Per key, one aggregation collects the distinct edges into one
    adjacency map ``child → {parent: hops}``, closed by pointer doubling
    inside one native higher-order expression: each round merges every
    node's map with the maps of the nodes it reaches, so R rounds cover
    walks of up to 2^R edges. R comes from the key's edge count (no
    simple path is longer), plus MAX_EXTENDS_DEPTH with ``hops=True``, so
    that walks around a cycle reach the cap.

    Bound: each key's edges and closure live in ONE row, closed in one
    task (the adjacency build alone is quadratic in the key's edges), so
    the edge sets must be schema hierarchies (≤500 types by Fabric limit
    per ontology), not instance graphs. A key with more than
    MAX_CLOSURE_EDGES distinct edges fails the query (``raise_error``)
    instead of running for hours. ``key`` columns close each key's edge
    set apart (e.g. per predicate). With ``hops=True`` each row carries
    the longest path length in edges, capped at MAX_EXTENDS_DEPTH. Edges
    with a NULL endpoint are dropped (a map key cannot be NULL).
    """
    cap = F.lit(MAX_EXTENDS_DEPTH)
    es = (edges.where(F.col("child").isNotNull() &
                      F.col("parent").isNotNull())
          .groupBy(*key).agg(F.collect_set(F.struct("child", "parent"))
                             .alias("es")))

    def parents(c):
        return F.map_from_entries(F.transform(
            F.filter("es", lambda x: x["child"] == c),
            lambda x: F.struct(x["parent"], F.lit(1))))
    kids = F.array_distinct(F.transform("es", lambda x: x["child"]))
    adj = F.map_from_arrays(kids, F.transform(kids, parents))

    def double(acc, _):
        # m ∪ the maps of every node m reaches, hops summed along the way;
        # greatest keeps the longest (and skips map_zip_with's NULL for a
        # node missing on one side)
        return F.transform_values(acc, lambda _, m: F.aggregate(
            F.filter(F.map_entries(m),
                     lambda e: F.map_contains_key(acc, e.key)),
            m,
            lambda out, e: F.map_zip_with(
                out,
                F.transform_values(acc[e.key],
                                   lambda _, h: F.least(e.value + h, cap)),
                lambda _, a, b: F.greatest(a, b))))

    walk = F.size("es") + (MAX_EXTENDS_DEPTH if hops else 0)
    rounds = F.when(F.size("es") > MAX_CLOSURE_EDGES, F.raise_error(
        F.format_string("transitive_closure: %d edges in one key exceed "
                        "MAX_CLOSURE_EDGES (%d); closures serve schema "
                        "hierarchies, not instance graphs",
                        F.size("es"), F.lit(MAX_CLOSURE_EDGES)))
    ).otherwise((F.floor(F.log2(walk)) + 1).cast("int"))  # 2^rounds > walk
    closed = (es.select(*key, F.explode(F.aggregate(
                  F.sequence(F.lit(1), rounds), adj, double))
                  .alias("src", "reach"))
              .select(*key, "src", F.explode("reach").alias("dst", "hops")))
    return closed if hops else closed.drop("hops")


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
