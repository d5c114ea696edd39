"""RDFS entailment materialization over the triples table.

The reference resolves subclass/domain/range semantics procedurally while
converting (class_resolver.py:98-123 walks rdfs:subClassOf chains with
graph.objects() loops; property_extractor.py:72-77 reads rdfs:domain /
rdfs:range per property). This module is the declarative generalization:
materialize the RDFS-entailed triples themselves, so every downstream
operator (BGP queries, entity typing, vertex/edge builds) sees the
inferred graph without re-implementing inference.

Rules (RDFS model theory, the core entailment patterns — W3C RDF 1.1
Semantics §9.2.1):

- **rdfs5**  (p ⊑ q) ∧ (q ⊑ r) → (p ⊑ r)          subPropertyOf closure
- **rdfs7**  (p ⊑ q) ∧ (s p o) → (s q o)           property inheritance
- **rdfs2**  (p domain C) ∧ (s p o) → (s type C)
- **rdfs3**  (p range  C) ∧ (s p o) → (o type C)   (o an IRI, not literal)
- **rdfs11** (C ⊑ D) ∧ (D ⊑ E) → (C ⊑ E)           subClassOf closure
- **rdfs9**  (C ⊑ D) ∧ (s type C) → (s type D)     type inheritance

One stratified pass computes the fixpoint: no rule's OUTPUT (a type /
subClassOf / rewritten-predicate triple) can create a NEW subPropertyOf,
domain, or range schema edge over the predicates used below, so applying
the rules in dependency order — subPropertyOf closure → rdfs7 →
rdfs2/rdfs3 (over the rdfs7-augmented instance set) → subClassOf closure
→ rdfs9 (over ALL type triples, asserted + inferred) — reaches the same
fixpoint as naive iteration. (The pathological meta-schema cases — e.g.
declaring a subPropertyOf OF rdfs:subPropertyOf — are exactly what
production RDFS reasoners also stratify away; documented, not supported.)

Scale shape (the part that matters at 10^12 docs): every SCHEMA frame
(subPropertyOf / subClassOf / domain / range edge sets) is bounded by
ontology size — thousands of rows against a trillion-row instance set —
so each rule is instance.join(schema, on=pred/obj) where AQE broadcasts
the schema side; no hint is forced (the round-4 rewrite_canonical
lesson). Closures run on the schema edge sets only, via the shared
path-doubling ``transitive_closure`` (O(log depth) small-table rounds).
The instance side is touched by narrow filters + broadcast joins only —
nothing shuffles on instance keys until the final dedup, which is the
same salted-spread dedup every pipeline output already pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .classes import transitive_closure

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_DOMAIN = "http://www.w3.org/2000/01/rdf-schema#domain"
RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"
RDFS_SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
RDFS_SUBPROP = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"

_RULES = ("rdfs2", "rdfs3", "rdfs5", "rdfs7", "rdfs9", "rdfs11")
_SPO = ["subj", "pred", "obj"]


def rdfs_entailment(triples: DataFrame,
                    rules: tuple[str, ...] = _RULES,
                    include_input: bool = False) -> DataFrame:
    """Materialize the RDFS-entailed triples of ``triples``.

    Returns the INFERRED (subj, pred, obj) triples only (deduplicated,
    asserted triples subtracted), or the full entailed graph when
    ``include_input=True``. ``rules`` selects a subset; dependencies are
    honored regardless of tuple order (rdfs7 always sees the rdfs5
    closure when both are enabled, rdfs9 the rdfs11 closure and every
    inferred type triple, rdfs2/3 the rdfs7-augmented instance set).
    Literal objects never produce rdfs3 types: the extraction schema's
    ``obj_kind`` column decides when present, else a conservative
    IRI-scheme shape test on ``obj``.
    """
    unknown = set(rules) - set(_RULES)
    if unknown:
        raise ValueError(f"rdfs_entailment: unknown rules {sorted(unknown)}")
    if "obj_kind" in triples.columns:
        is_iri: Column = F.col("obj_kind") == "iri"
    else:
        is_iri = F.col("obj").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
    # The input feeds every rule branch (the schema closure, four schema
    # frames, the instance joins, the final anti-join). A lazy pipeline
    # upstream (e.g. Arrow extraction) would re-run once PER BRANCH — the
    # curate_corpus/entity_linking_disambig lesson — so materialize the
    # projected input once; every branch reuses the cached frame.
    # (Measured on the driver corpus: 54 exchanges / 33 broadcasts before,
    # far fewer extraction passes after; one pass is also what the KG
    # pipeline itself pays for its triples frame.)
    triples = triples.select(*_SPO, is_iri.alias("obj_is_iri")) \
        .localCheckpoint(eager=False)
    base = triples.select(*_SPO)
    inst = triples
    out: list[DataFrame] = []

    # One pred-keyed closure (r6 fusion) covers whichever of the
    # subPropertyOf and subClassOf edge sets the enabled rules need: one
    # path-doubling loop, not one per predicate.
    need_prop = bool({"rdfs5", "rdfs7"} & set(rules))
    need_cls = bool({"rdfs9", "rdfs11"} & set(rules))
    preds = [p for p, need in ((RDFS_SUBPROP, need_prop),
                               (RDFS_SUBCLASS, need_cls)) if need]
    if preds:
        fused = transitive_closure(
            triples.where(F.col("pred").isin(preds))
            .select("pred", F.col("subj").alias("child"),
                    F.col("obj").alias("parent")),
            key=["pred"])
        prop_cl = fused.where(F.col("pred") == RDFS_SUBPROP) \
            .select("src", "dst")
        cls_cl = fused.where(F.col("pred") == RDFS_SUBCLASS) \
            .select("src", "dst")

    # --- property layer -------------------------------------------------
    if need_prop:
        if "rdfs5" in rules:
            out.append(prop_cl.select(F.col("src").alias("subj"),
                                      F.lit(RDFS_SUBPROP).alias("pred"),
                                      F.col("dst").alias("obj")))
        if "rdfs7" in rules:
            inherited = (inst.join(prop_cl, inst["pred"] == prop_cl["src"])
                         .select("subj", F.col("dst").alias("pred"), "obj",
                                 "obj_is_iri"))
            out.append(inherited.select(*_SPO))
            inst = inst.unionByName(inherited)

    # --- domain / range over the (possibly augmented) instance set ------
    if "rdfs2" in rules:
        dom = (triples.where(F.col("pred") == RDFS_DOMAIN)
               .select(F.col("subj").alias("d_pred"),
                       F.col("obj").alias("d_cls")))
        out.append(inst.join(dom, inst["pred"] == dom["d_pred"])
                   .select(F.col("subj"), F.lit(RDF_TYPE).alias("pred"),
                           F.col("d_cls").alias("obj")))
    if "rdfs3" in rules:
        rng = (triples.where(F.col("pred") == RDFS_RANGE)
               .select(F.col("subj").alias("r_pred"),
                       F.col("obj").alias("r_cls")))
        out.append(inst.where(F.col("obj_is_iri"))
                   .join(rng, inst["pred"] == rng["r_pred"])
                   .select(F.col("obj").alias("subj"),
                           F.lit(RDF_TYPE).alias("pred"),
                           F.col("r_cls").alias("obj")))

    # --- class layer ----------------------------------------------------
    if need_cls:
        if "rdfs11" in rules:
            out.append(cls_cl.select(F.col("src").alias("subj"),
                                     F.lit(RDFS_SUBCLASS).alias("pred"),
                                     F.col("dst").alias("obj")))
        if "rdfs9" in rules:
            # every type triple, asserted AND inferred above (rdfs2/3
            # outputs; rdfs7 can rewrite onto rdf:type in meta-schemas)
            all_types = base.where(F.col("pred") == RDF_TYPE)
            for made in out:
                all_types = all_types.unionByName(
                    made.where(F.col("pred") == RDF_TYPE))
            out.append(all_types.join(cls_cl,
                                      all_types["obj"] == cls_cl["src"])
                       .select(F.col("subj"), F.lit(RDF_TYPE).alias("pred"),
                               F.col("dst").alias("obj")))

    if not out:
        inferred = base.limit(0)
    else:
        inferred = out[0]
        for df in out[1:]:
            inferred = inferred.unionByName(df)
        inferred = (inferred.dropDuplicates()
                    .join(base.dropDuplicates(), on=_SPO, how="left_anti"))
    if include_input:
        return base.dropDuplicates().unionByName(inferred)
    return inferred


OWL_INVERSE = "http://www.w3.org/2002/07/owl#inverseOf"
OWL_SYMMETRIC = "http://www.w3.org/2002/07/owl#SymmetricProperty"
OWL_TRANSITIVE = "http://www.w3.org/2002/07/owl#TransitiveProperty"
OWL_FUNCTIONAL = "http://www.w3.org/2002/07/owl#FunctionalProperty"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"

_OWL_RULES = ("inverse", "symmetric", "transitive", "functional_sameas")


def owl_entailment(triples: DataFrame,
                   rules: tuple[str, ...] = _OWL_RULES,
                   include_input: bool = False) -> DataFrame:
    """Materialize OWL property-level entailments of ``triples``.

    Rules (OWL 2 RL property semantics — W3C OWL 2 Profiles §4.3,
    prp-inv1/2, prp-symp, prp-trp, prp-fp):

    - **inverse**: (p owl:inverseOf q) ∧ (s p o) → (o q s), and the
      declaration read in both directions ((s q o) → (o p s));
    - **symmetric**: (p a owl:SymmetricProperty) ∧ (s p o) → (o p s);
    - **transitive**: (p a owl:TransitiveProperty) → the per-predicate
      transitive closure of p's statement set, computed AFTER
      inverse/symmetric augmentation (so a symmetric transitive
      predicate closes over the symmetrized edges — undirected
      reachability, which IS that combination's fixpoint);
    - **functional_sameas**: (p a owl:FunctionalProperty) ∧ (s p o1) ∧
      (s p o2), o1 ≠ o2, both IRIs → (o1 owl:sameAs o2) in both orders.
      Literal-valued functional conflicts entail literal equality, not
      resource identity — excluded, like rdfs3's literal guard. The
      self-join is keyed on (subj, pred) of DECLARED-functional
      statements only; per-key width is the violation count per subject
      (legitimately ~1-2 — a subject with thousands of values for a
      functional property is broken data the caller should preflight).

    The sameAs output is exactly what ``canon.sameas_components`` /
    ``rewrite_canonical`` consume — functional-property conflict
    resolution composes with the north-rule canonicalization. For
    RDFS+OWL graphs, run this FIRST and feed the augmented graph to
    ``rdfs_entailment`` (OWL property rules create instance statements;
    RDFS rules only consume them — the same stratification argument as
    rdfs_entailment's docstring).

    Returns inferred-only triples (asserted subtracted), or the full
    graph with ``include_input=True``. Scale shape mirrors
    ``rdfs_entailment``: declaration frames are ontology-bounded
    (broadcast), the instance side is filtered/joined narrowly, and the
    one materialization of the projected input covers every branch.
    """
    unknown = set(rules) - set(_OWL_RULES)
    if unknown:
        raise ValueError(f"owl_entailment: unknown rules {sorted(unknown)}")
    if "obj_kind" in triples.columns:
        is_iri: Column = F.col("obj_kind") == "iri"
    else:
        is_iri = F.col("obj").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
    triples = triples.select(*_SPO, is_iri.alias("obj_is_iri")) \
        .localCheckpoint(eager=False)
    base = triples.select(*_SPO)

    def declared(cls: str) -> DataFrame:
        return (triples.where((F.col("pred") == RDF_TYPE) &
                              (F.col("obj") == cls))
                .select(F.col("subj").alias("dp")).dropDuplicates())

    out: list[DataFrame] = []
    stmts = triples
    if "inverse" in rules:
        inv = (triples.where(F.col("pred") == OWL_INVERSE)
               .select(F.col("subj").alias("ip"), F.col("obj").alias("iq")))
        inv = inv.unionByName(inv.select(F.col("iq").alias("ip"),
                                         F.col("ip").alias("iq"))) \
            .dropDuplicates()
        flipped = (stmts.join(inv, stmts["pred"] == inv["ip"])
                   .where(F.col("obj_is_iri"))
                   .select(F.col("obj").alias("subj"),
                           F.col("iq").alias("pred"),
                           F.col("subj").alias("obj"),
                           F.lit(True).alias("obj_is_iri")))
        out.append(flipped.select(*_SPO))
        stmts = stmts.unionByName(flipped)
    if "symmetric" in rules:
        sym = declared(OWL_SYMMETRIC)
        mirrored = (stmts.join(sym, stmts["pred"] == sym["dp"])
                    .where(F.col("obj_is_iri"))
                    .select(F.col("obj").alias("subj"), "pred",
                            F.col("subj").alias("obj"),
                            F.lit(True).alias("obj_is_iri")))
        out.append(mirrored.select(*_SPO))
        stmts = stmts.unionByName(mirrored)
    if "transitive" in rules:
        trans = declared(OWL_TRANSITIVE)
        edges = (stmts.join(trans, stmts["pred"] == trans["dp"])
                 .where(F.col("obj_is_iri"))
                 .select("pred", F.col("subj").alias("child"),
                         F.col("obj").alias("parent")))
        closed = transitive_closure(edges, key=["pred"])
        out.append(closed.select(F.col("src").alias("subj"), "pred",
                                 F.col("dst").alias("obj")))
    if "functional_sameas" in rules:
        func = declared(OWL_FUNCTIONAL)
        fstmts = (stmts.join(func, stmts["pred"] == func["dp"])
                  .where(F.col("obj_is_iri"))
                  .select("subj", "pred", "obj").dropDuplicates())
        pairs = (fstmts.alias("a")
                 .join(fstmts.alias("b"), ["subj", "pred"])
                 .where(F.col("a.obj") != F.col("b.obj"))
                 .select(F.col("a.obj").alias("subj"),
                         F.lit(OWL_SAMEAS).alias("pred"),
                         F.col("b.obj").alias("obj")))
        out.append(pairs)

    if not out:
        inferred = base.limit(0)
    else:
        inferred = out[0]
        for df in out[1:]:
            inferred = inferred.unionByName(df)
        inferred = (inferred.dropDuplicates()
                    .join(base.dropDuplicates(), on=_SPO, how="left_anti"))
    if include_input:
        return base.dropDuplicates().unionByName(inferred)
    return inferred


def augment_with_entailment(triples_prov: DataFrame,
                            layers: tuple[str, ...] = ("owl", "rdfs"),
                            ) -> DataFrame:
    """Union the provenance-schema triples with their OWL/RDFS inferences.

    The KG-pipeline integration point (``plans.unified.run_unified`` /
    ``job.py --entailment``): takes the extraction output (full
    TRIPLES_SCHEMA minus parse_error) and appends the inferred triples
    lifted to the same schema, so stages B–D (typing, properties,
    relationships) see the entailed graph. Stratification: OWL property
    rules run first (they create instance statements), RDFS rules run
    over the OWL-augmented graph (they only consume them) — the same
    argument as the two functions' docstrings.

    Provenance of inferred rows: ``doc_id='_entailed:<layer>'``,
    ``span_idx=-1``, ``fmt='entailment'`` — downstream lineage can both
    trace and filter them. ``obj_kind`` is recovered by a distinct
    (obj → kind) lookup against the asserted graph (every inferred
    object VALUE occurs in the input — rule outputs only rearrange
    existing terms; ties take the lexicographically first kind, and
    never-seen values default to 'iri').
    """
    unknown = set(layers) - {"owl", "rdfs"}
    if unknown:
        raise ValueError(
            f"augment_with_entailment: unknown layers {sorted(unknown)}")
    triples_prov = triples_prov.localCheckpoint(eager=False)
    spo_kind = triples_prov.select(*_SPO, "obj_kind")
    inferred_parts: list[tuple[str, DataFrame]] = []
    graph = spo_kind
    kind_map = (spo_kind.groupBy("obj")
                .agg(F.min("obj_kind").alias("kind_")))

    def with_kind(inf: DataFrame) -> DataFrame:
        return (inf.join(kind_map, on="obj", how="left")
                .select(*_SPO, F.coalesce("kind_", F.lit("iri"))
                        .alias("obj_kind")))

    if "owl" in layers:
        owl_inf = owl_entailment(graph)
        inferred_parts.append(("owl", owl_inf))
        # rdfs must see the owl-augmented graph WITH kinds
        graph = spo_kind.unionByName(with_kind(owl_inf))
    if "rdfs" in layers:
        inferred_parts.append(("rdfs", rdfs_entailment(graph)))
    out = triples_prov
    prov_cols = triples_prov.columns
    for layer, inf in inferred_parts:
        lifted = (with_kind(inf)
                  .select("subj", "pred", "obj", "obj_kind",
                          F.lit(None).cast("string").alias("obj_datatype"),
                          F.lit(None).cast("string").alias("lang"),
                          F.lit(None).cast("string").alias("graph_ctx"),
                          F.lit("entailment").alias("fmt"),
                          F.lit(f"_entailed:{layer}").alias("doc_id"),
                          F.lit(-1).alias("span_idx")))
        out = out.unionByName(lifted.select(*prov_cols))
    return out


def construct(bindings: DataFrame,
              template: list[tuple[str, str, str]]) -> DataFrame:
    """SPARQL ``CONSTRUCT``: build triples from BGP solution bindings.

    ``bindings`` is a solutions frame (e.g. from ``bgp.match_bgp``) whose
    columns are variable names; ``template`` is a list of (s, p, o)
    patterns where ``?var`` terms substitute the binding's value and
    other terms are constants. Solutions with a NULL in a used variable
    (OPTIONAL misses) drop that template row, per SPARQL CONSTRUCT
    semantics (incomplete instantiations are omitted). Output is the
    deduplicated (subj, pred, obj) union — narrow projections + one
    dedup, no joins.
    """
    if not template:
        raise ValueError("construct: empty template")
    outs = []
    for s, p, o in template:
        cols = []
        for term, name in ((s, "subj"), (p, "pred"), (o, "obj")):
            if term.startswith("?"):
                var = term[1:]
                if var not in bindings.columns:
                    raise ValueError(
                        f"construct: template variable ?{var} not in "
                        f"bindings (have: {bindings.columns})")
                cols.append(F.col(var).alias(name))
            else:
                cols.append(F.lit(term).alias(name))
        outs.append(bindings.select(*cols)
                    .where(F.col("subj").isNotNull() &
                           F.col("pred").isNotNull() &
                           F.col("obj").isNotNull()))
    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out.dropDuplicates()
