"""SHACL-lite shape validation over the triples table.

The reference validates its parsed graphs with hand-coded per-family
checks (``src/core/validators/`` — naming, limits, reference integrity;
see ``operators/validate.py`` for our port of those 11 families). SHACL
(W3C Shapes Constraint Language) is the standard way a KG-construction
pipeline states the SAME kind of contract declaratively — "every Nation
has exactly one label, which is a string literal" — so this module adds
the workhorse SHACL core subset as one distributed operator: node shapes
with the four core target kinds (§2.1.3 — targetClass,
targetSubjectsOf, targetObjectsOf, targetNode), property constraints on
direct predicate paths.

Supported constraint components (SHACL core §4, the counting/value
subset that covers the reference's validator families):

- ``min_count`` / ``max_count``  (sh:minCount / sh:maxCount)
- ``datatype``                   (sh:datatype — plain literals count as
                                  xsd:string, language-tagged ones as
                                  rdf:langString, per RDF 1.1 §3.3)
- ``unique_lang``                (sh:uniqueLang — no two values share a
                                  language tag; the tag is the reported
                                  value)
- ``node_kind``                  (sh:nodeKind — "IRI" | "Literal" |
                                  "BlankNode", matching our ``obj_kind``)
- ``class``                      (sh:class — value must be rdf:type'd to
                                  the class; optional rdfs:subClassOf
                                  closure via ``subclass_closure=True``)
- ``in``                         (sh:in — driver-supplied allow-list)
- ``pattern``                    (sh:pattern — Java regex via ``rlike``)
- ``min_length`` / ``max_length`` (sh:minLength / sh:maxLength)
- ``closed`` / ``ignored``       (sh:closed / sh:ignoredProperties —
                                  shape-level closed-world predicate check)
- ``has_value``                  (sh:hasValue — per-focus set-contains
                                  check; zero-valued focuses violate)
- ``or`` / ``not``               (sh:or / sh:not §4.6 over VALUE-WISE
                                  branches — node_kind/datatype/pattern/
                                  in/length compile to one codegen'd
                                  predicate; counting or sh:class
                                  branches raise, never reinterpret)
- ``equals`` / ``disjoint`` /    (sh:equals / sh:disjoint / sh:lessThan
  ``less_than``                   §4.7 property-pair constraints —
                                  anti-/semi-joins of the two paths'
                                  value sets on the full term key;
                                  less_than compares lexically, or as
                                  doubles with ``"numeric": true``)
- ``sparql``                     (SHACL-SPARQL §5 simplified — a SELECT
                                  binding ?focus to violating nodes)

Shapes are driver-supplied dicts (the shapes graph of a real pipeline is
ontology-sized — hundreds of shapes, like the reference's ≤500-type
Fabric limit — so a driver loop that UNIONs per-shape plans is bounded
and keeps every check a declarative frame):

    {"shape_id": "NationShape",
     "target_class": "http://example.org/Nation",
     "properties": [
        {"path": "http://www.w3.org/2000/01/rdf-schema#label",
         "min_count": 1, "max_count": 1, "node_kind": "Literal",
         "datatype": "http://www.w3.org/2001/XMLSchema#string"},
     ]}

Output is a validation-report frame (sh:ValidationReport flattened):
``(focus, shape_id, path, constraint, value)`` — one row per violation,
``value`` NULL for counting violations (they are about the whole value
set, not one value). ``conforms`` is the driver-side boolean twin
(ASK-style ``limit(1)`` short-circuit).

Scale notes:

- focus sets and value sets are instance-scale; each is a pushed-down
  predicate filter (``pred = rdf:type AND obj = <class>`` /
  ``pred = <path>``) that reaches the parquet scan before any join;
- counting constraints aggregate ``(focus)`` with map-side partial
  aggregation, then the min_count check LEFT-joins the focus set so
  zero-valued focuses surface (a groupBy alone never sees them);
- value constraints are narrow filters on the joined value frame — no
  extra shuffle beyond the focus⋈value equi-join on ``subj``;
- ``sh:class`` joins values against the typed-subjects frame on the
  value key — the one genuinely instance×instance join, same shape as
  the pipeline's resolver joins; the optional subClassOf closure is
  schema-bounded (the lazy ``classes.transitive_closure``);
- the per-shape loop UNIONs plans, not data pulls: one action evaluates
  all shapes, and Spark shares the scan across branches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

_NODE_KINDS = {"IRI": "iri", "Literal": "literal", "BlankNode": "bnode"}

_REPORT_COLS = ("focus", "shape_id", "path", "constraint", "value")


def _violation(df: DataFrame, shape_id: str, path: str, constraint: str,
               value=None) -> DataFrame:
    v = value if value is not None else F.lit(None).cast("string")
    return df.select(
        F.col("focus"),
        F.lit(shape_id).alias("shape_id"),
        F.lit(path).alias("path"),
        F.lit(constraint).alias("constraint"),
        v.alias("value"))


_TARGET_KEYS = ("target_class", "target_subjects_of", "target_objects_of",
                "target_node")


def _focus_frame(triples: DataFrame, shape: dict,
                 typed: DataFrame) -> DataFrame:
    """Resolve the shape's target declaration to its focus-node frame.

    The four SHACL core target kinds (§2.1.3): sh:targetClass (direct
    rdf:type), sh:targetSubjectsOf / sh:targetObjectsOf (endpoints of a
    predicate — each a pushed-down filter + dedup), sh:targetNode (an
    explicit driver-supplied node list, like sh:in always bounded)."""
    given = [k for k in _TARGET_KEYS if shape.get(k) is not None]
    if len(given) != 1:
        raise ValueError(
            f"shacl: shape {shape.get('shape_id')!r} needs exactly one of "
            f"{_TARGET_KEYS}, got {given or 'none'}")
    kind, val = given[0], shape[given[0]]
    if kind == "target_class":
        f = typed.where(F.col("cls") == val).select(
            F.col("node").alias("focus"))
    elif kind == "target_subjects_of":
        f = triples.where(F.col("pred") == val).select(
            F.col("subj").alias("focus"))
    elif kind == "target_objects_of":
        f = triples.where(F.col("pred") == val).select(
            F.col("obj").alias("focus"))
    else:
        f = triples.sparkSession.createDataFrame(
            [(n,) for n in val], "focus string")
    return f.dropDuplicates()


_TERM_KEY = ["focus", "value", "obj_kind", "obj_datatype", "lang"]


def _path_values(triples: DataFrame, focus: DataFrame,
                 path: str) -> DataFrame:
    """Deduplicated (focus, value, obj_kind, obj_datatype, lang) frame
    for one predicate path: pushed-down predicate filter, focus
    equi-join.

    An RDF graph is a SET of triples: the same statement extracted from
    two documents is one value. Terms equal lexically but differing in
    kind/datatype/lang stay distinct (they ARE different RDF terms —
    "chat"@en and "chat"@fr are two values for sh:minCount), hence the
    full key."""
    return (triples.where(F.col("pred") == path)
            .join(focus, triples["subj"] == focus["focus"])
            .select("focus", F.col("obj").alias("value"),
                    "obj_kind", "obj_datatype", "lang")
            .dropDuplicates(_TERM_KEY))


def _effective_datatype():
    """RDF 1.1 §3.3: a language-tagged literal's datatype is
    rdf:langString; a plain literal's is xsd:string."""
    return F.when(F.col("lang").isNotNull(), F.lit(RDF_LANGSTRING)) \
            .otherwise(F.coalesce("obj_datatype", F.lit(XSD_STRING)))


def _term_join(a: DataFrame, b: DataFrame, how: str) -> DataFrame:
    """left_anti / left_semi join on the full term key with NULL-SAFE
    equality — plain-literal terms have NULL obj_datatype, which a
    non-null-safe key would never match (everything would 'violate')."""
    bb = b.select([F.col(c).alias("_r_" + c) for c in _TERM_KEY])
    cond = F.lit(True)
    for c in _TERM_KEY:
        cond = cond & F.col(c).eqNullSafe(F.col("_r_" + c))
    return a.join(bb, cond, how)


# value-wise constraint components legal inside sh:or / sh:not branches
# (each is a pure Column predicate over one value row — no joins/counts)
_VALUE_WISE = ("node_kind", "datatype", "pattern", "in",
               "min_length", "max_length")


def _satisfies(branch: dict):
    """Boolean Column: a value row satisfies ALL components of ``branch``.

    Only value-wise components are legal (counting components are
    per-focus, sh:class needs an instance join — both raise so an
    or/not never silently changes meaning)."""
    bad = set(branch) - set(_VALUE_WISE)
    if bad:
        raise ValueError(
            f"shacl: or/not branches support value-wise components "
            f"{_VALUE_WISE}, got {sorted(bad)}")
    if not branch:
        raise ValueError("shacl: empty or/not branch")
    conds = []
    nk = branch.get("node_kind")
    if nk is not None:
        if nk not in _NODE_KINDS:
            raise ValueError(f"shacl: bad node_kind {nk!r} "
                             f"(one of {sorted(_NODE_KINDS)})")
        conds.append(F.col("obj_kind") == _NODE_KINDS[nk])
    dt = branch.get("datatype")
    if dt is not None:
        conds.append((F.col("obj_kind") == "literal") &
                     (_effective_datatype() == dt))
    pat = branch.get("pattern")
    if pat is not None:
        conds.append(F.col("value").rlike(pat))
    allow = branch.get("in")
    if allow is not None:
        conds.append(F.col("value").isin(list(allow)))
    if branch.get("min_length") is not None:
        conds.append(F.length("value") >= branch["min_length"])
    if branch.get("max_length") is not None:
        conds.append(F.length("value") <= branch["max_length"])
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return cond


def _shape_violations(triples: DataFrame, shape: dict, *,
                      typed: DataFrame,
                      subclass_closure: bool) -> list[DataFrame]:
    shape_id = shape["shape_id"]
    focus = _focus_frame(triples, shape, typed)
    out: list[DataFrame] = []
    for prop in shape.get("properties", []):
        path = prop["path"]
        vals = _path_values(triples, focus, path)
        min_c, max_c = prop.get("min_count"), prop.get("max_count")
        if min_c is not None or max_c is not None:
            counts = vals.groupBy("focus").agg(F.count("*").alias("n"))
            if min_c is not None:
                # LEFT join so focuses with ZERO values violate too
                have = focus.join(counts, on="focus", how="left").select(
                    "focus", F.coalesce("n", F.lit(0)).alias("n"))
                out.append(_violation(have.where(F.col("n") < min_c),
                                      shape_id, path, f"minCount:{min_c}"))
            if max_c is not None:
                out.append(_violation(counts.where(F.col("n") > max_c),
                                      shape_id, path, f"maxCount:{max_c}"))
        nk = prop.get("node_kind")
        if nk is not None:
            if nk not in _NODE_KINDS:
                raise ValueError(f"shacl: bad node_kind {nk!r} "
                                 f"(one of {sorted(_NODE_KINDS)})")
            out.append(_violation(
                vals.where(F.col("obj_kind") != _NODE_KINDS[nk]),
                shape_id, path, f"nodeKind:{nk}", F.col("value")))
        dt = prop.get("datatype")
        if dt is not None:
            # a plain literal IS xsd:string, a language-tagged one is
            # rdf:langString (RDF 1.1 §3.3); non-literals always violate
            eff = _effective_datatype()
            bad = vals.where((F.col("obj_kind") != "literal") | (eff != dt))
            out.append(_violation(bad, shape_id, path, f"datatype:{dt}",
                                  F.col("value")))
        cls = prop.get("class")
        if cls is not None:
            typed_ok = typed.where(F.col("cls") == cls)
            if subclass_closure:
                from .classes import transitive_closure
                sub = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
                edges = (triples.where(F.col("pred") == sub)
                         .select(F.col("subj").alias("child"),
                                 F.col("obj").alias("parent")))
                subs = (transitive_closure(edges)
                        .where(F.col("dst") == cls)
                        .select(F.col("src").alias("cls")))
                # schema-bounded frame (class hierarchy) — union with the
                # direct class, then membership by a cls equi-join
                typed_ok = typed_ok.unionByName(typed.join(subs, on="cls"))
            members = typed_ok.select(F.col("node").alias("value")) \
                              .dropDuplicates()
            bad = vals.join(members, on="value", how="left_anti")
            out.append(_violation(bad, shape_id, path, f"class:{cls}",
                                  F.col("value")))
        allow = prop.get("in")
        if allow is not None:
            out.append(_violation(
                vals.where(~F.col("value").isin(list(allow))),
                shape_id, path, "in", F.col("value")))
        pat = prop.get("pattern")
        if pat is not None:
            out.append(_violation(
                vals.where(~F.col("value").rlike(pat)),
                shape_id, path, f"pattern:{pat}", F.col("value")))
        for key, op in (("min_length", "<"), ("max_length", ">")):
            lim = prop.get(key)
            if lim is not None:
                cond = (F.length("value") < lim if op == "<"
                        else F.length("value") > lim)
                out.append(_violation(
                    vals.where(cond), shape_id, path,
                    f"{'minLength' if op == '<' else 'maxLength'}:{lim}",
                    F.col("value")))
        hv = prop.get("has_value")
        if hv is not None:
            # sh:hasValue (§4.5.3): the focus's value set must CONTAIN
            # the term — a per-focus existence check, so the violation
            # is about the set (value NULL) and zero-valued focuses
            # violate too (anti-join against the whole focus frame)
            have = (vals.where(F.col("value") == hv)
                    .select("focus").dropDuplicates())
            out.append(_violation(
                focus.join(have, on="focus", how="left_anti"),
                shape_id, path, f"hasValue:{hv}"))
        ors = prop.get("or")
        if ors is not None:
            # sh:or (§4.6.2) over value-wise branches: a value violates
            # when it satisfies NO branch. One narrow filter — the
            # branch disjunction is a single codegen'd predicate.
            cond = _satisfies(ors[0])
            for b in ors[1:]:
                cond = cond | _satisfies(b)
            out.append(_violation(vals.where(~cond), shape_id, path,
                                  "or", F.col("value")))
        neg = prop.get("not")
        if neg is not None:
            # sh:not (§4.6.1): a value violates when it SATISFIES the
            # negated branch
            out.append(_violation(vals.where(_satisfies(neg)), shape_id,
                                  path, "not", F.col("value")))
        eq = prop.get("equals")
        if eq is not None:
            # sh:equals (§4.7.1): per focus, the value SETS of the two
            # paths must be equal — two anti-joins on the full term key
            # surface values present on one side only
            other = _path_values(triples, focus, eq)
            out.append(_violation(
                _term_join(vals, other, "left_anti"),
                shape_id, path, f"equals:{eq}", F.col("value")))
            out.append(_violation(
                _term_join(other, vals, "left_anti"),
                shape_id, path, f"equals:{eq}", F.col("value")))
        dis = prop.get("disjoint")
        if dis is not None:
            # sh:disjoint (§4.7.2): no term shared between the two
            # paths' value sets — a semi-join on the full term key
            other = _path_values(triples, focus, dis)
            out.append(_violation(
                _term_join(vals, other, "left_semi"),
                shape_id, path, f"disjoint:{dis}", F.col("value")))
        if prop.get("unique_lang"):
            # sh:uniqueLang (§4.5.4): no two values of the path may share
            # one language tag — a (focus, lang) count over the deduped
            # term frame (map-side combine); untagged values are exempt.
            # The report binds the offending TAG as the value.
            dup = (vals.where(F.col("lang").isNotNull())
                   .groupBy("focus", "lang")
                   .agg(F.count("*").alias("n"))
                   .where(F.col("n") > 1))
            out.append(_violation(dup, shape_id, path, "uniqueLang",
                                  F.col("lang")))
        lt = prop.get("less_than")
        if lt is not None:
            # sh:lessThan (§4.7.3): EVERY (v, w) pair across the two
            # paths per focus must satisfy v < w. Comparison is lexical
            # by default (the store holds lexical forms); set
            # ``"numeric": true`` to compare as doubles — an uncastable
            # value then violates (NULL comparison is never < )
            other = (_path_values(triples, focus, lt)
                     .select("focus", F.col("value").alias("w")))
            pairs = vals.join(other, on="focus")
            if prop.get("numeric"):
                # try_cast: a malformed number is NULL (→ violation
                # below), not an ANSI runtime error killing the report
                ok = (F.col("value").try_cast("double") <
                      F.col("w").try_cast("double"))
            else:
                ok = F.col("value") < F.col("w")
            out.append(_violation(
                pairs.where(~F.coalesce(ok, F.lit(False)))
                     .dropDuplicates(_TERM_KEY),
                shape_id, path, f"lessThan:{lt}", F.col("value")))
    if shape.get("closed"):
        # sh:closed (§4.8): a focus node may only use the declared
        # property paths (+ sh:ignoredProperties + rdf:type, which the
        # targeting itself consumes). One anti-join of the focus rows
        # against the driver-bounded allow-list; the offending predicate
        # is reported as the value.
        allowed = ({p["path"] for p in shape.get("properties", [])}
                   | set(shape.get("ignored", [])) | {RDF_TYPE})
        rows = (triples.join(focus, triples["subj"] == focus["focus"])
                .where(~F.col("pred").isin(sorted(allowed)))
                .select("focus", F.col("pred").alias("value"))
                .dropDuplicates())
        out.append(_violation(rows, shape_id, "closed", "closed",
                              F.col("value")))
    q = shape.get("sparql")
    if q is not None:
        # SHACL-SPARQL (§5, simplified): a SELECT whose ?focus column
        # names the violating nodes — $this is spelled ?focus. The query
        # runs over the WHOLE graph and is intersected with the shape's
        # target (a semi-join on focus), so targeting stays declarative.
        from .sparql import sparql_query
        sub = sparql_query(triples, q)
        if isinstance(sub, bool) or "focus" not in sub.columns:
            raise ValueError(
                f"shacl: shape {shape_id!r} sparql constraint must be a "
                "SELECT binding ?focus (the violating node), got "
                f"{'ASK' if isinstance(sub, bool) else sub.columns}")
        bad = focus.join(sub.select("focus").dropDuplicates(),
                         on="focus", how="left_semi")
        out.append(_violation(bad, shape_id, "sparql", "sparql"))
    return out


def validate_shapes(triples: DataFrame, shapes: list[dict], *,
                    subclass_closure: bool = False) -> DataFrame:
    """Validate the triples frame against SHACL-lite node shapes.

    Returns the flattened validation report: one row per violation,
    columns ``(focus, shape_id, path, constraint, value)``. Empty frame
    ⇔ sh:conforms. ``subclass_closure=True`` widens ``sh:class``;
    ``target_class`` selection is always DIRECT rdf:type, matching
    sh:targetClass on graphs without entailment — run the entailment
    materializer first for the RDFS reading (operators/entailment.py).
    Each shape declares exactly one of ``target_class`` /
    ``target_subjects_of`` / ``target_objects_of`` / ``target_node``.
    """
    if not shapes:
        raise ValueError("validate_shapes: empty shape list")
    # tolerate frames without the term-metadata columns (the BGP layer's
    # convention): a missing column reads as NULL = the plain-literal
    # default, so datatype checks see xsd:string and uniqueLang sees
    # untagged (exempt) values
    for c in ("obj_kind", "obj_datatype", "lang"):
        if c not in triples.columns:
            triples = triples.withColumn(c, F.lit(None).cast("string"))
    # materialize the input once (r6): every shape/constraint branch scans
    # `triples`, and a narrow upstream (Arrow extraction) is otherwise
    # re-executed per branch — same device as rdfs_entailment's input
    from .bgp import _materialize_once
    triples = _materialize_once(triples)
    seen = set()
    for s in shapes:
        if s["shape_id"] in seen:
            raise ValueError(f"validate_shapes: duplicate shape_id "
                             f"{s['shape_id']!r}")
        seen.add(s["shape_id"])
    typed = (triples.where(F.col("pred") == RDF_TYPE)
             .select(F.col("subj").alias("node"), F.col("obj").alias("cls")))
    frames: list[DataFrame] = []
    for shape in shapes:
        frames.extend(_shape_violations(triples, shape, typed=typed,
                                        subclass_closure=subclass_closure))
    if not frames:
        raise ValueError("validate_shapes: no constraints in any shape "
                         "(each shape needs properties and/or sparql)")
    report = frames[0]
    for f in frames[1:]:
        report = report.unionByName(f)
    return report.select(*_REPORT_COLS)


def conforms(triples: DataFrame, shapes: list[dict], **kwargs) -> bool:
    """Driver-side sh:conforms boolean — short-circuits at the first
    violation (``limit(1)``), the ASK pattern from ``bgp.ask``."""
    rep = validate_shapes(triples, shapes, **kwargs)
    return not rep.limit(1).take(1)
