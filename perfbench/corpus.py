"""Seeded corpus generator with an arithmetic oracle.

Everything here is plain Python: the same seed gives the same documents
and the same expected answers, with no Spark involved. The oracle is
computed from the generated statements alone, so a run checks the
engine's outputs against numbers the engine never touched.

Two corpora:

- ``abox_corpus(seed)``: instance-heavy documents for the ``kg`` build.
  A small TBox (about 50 classes with data and object properties) is
  repeated across documents in slices; at least 95% of the distinct
  triples are ABox. Spans mix Turtle, N-Triples, JSON-LD and RDF/XML,
  interleaved with media spans; a seeded share of statements is
  duplicated and a seeded share of spans is malformed. A few DTDL
  interfaces and CDM entities ride along so the unified job's DTDL and
  CDM front-ends see input.
- ``live_corpus(seed)``: the live graph's initial RDF corpus and the
  seeded query stream over it, each query with its expected answer
  cardinality.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

EX = "http://bench.example.org/o/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SUBCLASS = RDFS + "subClassOf"

# statement = (subj, pred, obj, kind) with kind in {"iri", "str", "int"}
IRI, STR, INT = "iri", "str", "int"

FORMATS = ("turtle", "ntriples", "jsonld", "rdfxml")


# ---------------------------------------------------------------------------
# rendering: one span of statements in one RDF syntax
# ---------------------------------------------------------------------------

def _nt_term(o: str, kind: str) -> str:
    if kind == IRI:
        return f"<{o}>"
    if kind == INT:
        return f'"{o}"^^<{XSD}integer>'
    return json.dumps(o)


def _render_ntriples(stmts) -> str:
    return "\n".join(f"<{s}> <{p}> {_nt_term(o, k)} ." for s, p, o, k in stmts)


def _render_turtle(stmts) -> str:
    def term(x: str) -> str:
        return "ex:" + x[len(EX):] if x.startswith(EX) else f"<{x}>"

    head = f"@prefix ex: <{EX}> .\n"
    lines = []
    for s, p, o, k in stmts:
        obj = term(o) if k == IRI else (o if k == INT else json.dumps(o))
        pred = "a" if p == RDF_TYPE else term(p)
        lines.append(f"{term(s)} {pred} {obj} .")
    return head + "\n".join(lines)


def _render_jsonld(stmts) -> str:
    nodes: dict[str, dict] = {}
    for s, p, o, k in stmts:
        node = nodes.setdefault(s, {"@id": s})
        if p == RDF_TYPE:
            node.setdefault("@type", []).append(o)
            continue
        val = ({"@id": o} if k == IRI else
               {"@value": o, "@type": XSD + "integer"} if k == INT else o)
        node.setdefault(p, []).append(val)
    return json.dumps({"@context": {}, "@graph": list(nodes.values())})


def _render_rdfxml(stmts) -> str:
    from xml.sax.saxutils import escape, quoteattr
    by_subj: dict[str, list] = {}
    for s, p, o, k in stmts:
        by_subj.setdefault(s, []).append((p, o, k))
    ns = {EX: "ex", RDFS: "rdfs", OWL: "owl",
          "http://www.w3.org/1999/02/22-rdf-syntax-ns#": "rdf"}

    def qname(iri: str) -> str:
        base = max((n for n in ns if iri.startswith(n)), key=len)
        return f"{ns[base]}:{iri[len(base):]}"

    decls = " ".join(f'xmlns:{pfx}="{n}"' for n, pfx in ns.items())
    out = ['<?xml version="1.0"?>', f"<rdf:RDF {decls}>"]
    for s, props in by_subj.items():
        out.append(f"<rdf:Description rdf:about={quoteattr(s)}>")
        for p, o, k in props:
            tag = qname(p)
            if k == IRI:
                out.append(f"<{tag} rdf:resource={quoteattr(o)}/>")
            elif k == INT:
                out.append(f'<{tag} rdf:datatype="{XSD}integer">{o}</{tag}>')
            else:
                out.append(f"<{tag}>{escape(o)}</{tag}>")
        out.append("</rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out)


RENDER = {"turtle": _render_turtle, "ntriples": _render_ntriples,
          "jsonld": _render_jsonld, "rdfxml": _render_rdfxml}


def _malformed(rng: random.Random, n: int) -> str:
    """A span every RDF front-end rejects as a whole (one skipped item)."""
    if rng.random() < 0.5:
        return f'@prefix ex: <{EX}> .\nex:bad{n} ex:note "unterminated .\n'
    return '{"@id": "%sbad%d", ' % (EX, n)


# ---------------------------------------------------------------------------
# corpus model + graph oracle
# ---------------------------------------------------------------------------

@dataclass
class Doc:
    doc_id: str
    spans: list            # [(kind, text, media_ref)]
    stmts: set             # statements the well-formed spans carry
    malformed: int         # malformed spans in this doc


@dataclass
class Tbox:
    n_classes: int
    parent: dict           # class index -> parent class index
    obj_props: dict        # name -> (domain idx, range idx or None)
    symmetric: str
    transitive: str
    inverse: tuple         # (p, q): p owl:inverseOf q


def _cls(i: int) -> str:
    return f"{EX}C{i:03d}"


def _dprop(i: int, j: int) -> str:
    return f"{EX}C{i:03d}_d{j}"


def _class_stmts(tb: Tbox, i: int) -> list:
    out = [(_cls(i), RDF_TYPE, OWL + "Class", IRI),
           (_cls(i), RDFS + "label", f"C{i:03d}", STR)]
    if i in tb.parent:
        out.append((_cls(i), SUBCLASS, _cls(tb.parent[i]), IRI))
    for j, rng_t in enumerate(("string", "integer")):
        out += [(_dprop(i, j), RDF_TYPE, OWL + "DatatypeProperty", IRI),
                (_dprop(i, j), RDFS + "domain", _cls(i), IRI),
                (_dprop(i, j), RDFS + "range", XSD + rng_t, IRI)]
    for name, (d, _) in tb.obj_props.items():
        if d == i:
            out += _prop_stmts(tb, name)
    return out


def _prop_stmts(tb: Tbox, name: str) -> list:
    d, r = tb.obj_props[name]
    p = EX + name
    out = [(p, RDF_TYPE, OWL + "ObjectProperty", IRI),
           (p, RDFS + "domain", _cls(d), IRI)]
    if r is not None:
        out.append((p, RDFS + "range", _cls(r), IRI))
    if name == tb.symmetric:
        out.append((p, RDF_TYPE, OWL + "SymmetricProperty", IRI))
    if name == tb.transitive:
        out.append((p, RDF_TYPE, OWL + "TransitiveProperty", IRI))
    if name == tb.inverse[0]:
        out.append((p, OWL + "inverseOf", EX + tb.inverse[1], IRI))
    return out


def _make_tbox(rng: random.Random, n_classes: int) -> Tbox:
    # the subclass forest has the same shape for every seed (a heap
    # numbering, every fifth class a root), so path-query cost does not
    # depend on the seed; instances, links and literals do
    parent = {i: (i - 1) // 2 for i in range(1, n_classes) if i % 5}
    props = {}
    for k in range(n_classes // 2):
        props[f"rel{k:02d}"] = (rng.randrange(n_classes),
                                rng.randrange(n_classes))
    # object properties declared without a range: one skipped item each
    for k in range(rng.randint(1, 3)):
        props[f"norange{k}"] = (rng.randrange(n_classes), None)
    names = sorted(n for n in props if n.startswith("rel"))
    sym, trans, inv_p, inv_q = rng.sample(names, 4)
    return Tbox(n_classes, parent, props, sym, trans, (inv_p, inv_q))


def graph_oracle(stmts: set) -> dict:
    """Expected engine outputs for an RDF statement set.

    - classes: owl:Class subjects and rdfs:subClassOf subjects;
    - relationship types: one per (object property, domain, range) with
      both the domain and the range declared (the generators declare
      every class a property links, so declared-ness of the endpoint
      classes never decides the count);
    - relationship skips: object properties missing a domain or range;
    - distinct triples: the statement set.
    """
    classes = {s for s, p, o, _ in stmts
               if (p == RDF_TYPE and o == OWL + "Class") or p == SUBCLASS}
    oprops = {s for s, p, o, _ in stmts
              if p == RDF_TYPE and o == OWL + "ObjectProperty"}
    dom = {(s, o) for s, p, o, _ in stmts if p == RDFS + "domain"}
    rng_ = {(s, o) for s, p, o, _ in stmts if p == RDFS + "range"}
    rels = {(p, d, r) for p, d in dom if p in oprops
            for q, r in rng_ if q == p}
    has_d = {p for p, _ in dom}
    has_r = {p for p, _ in rng_}
    rel_skips = sum(1 for p in oprops if p not in has_d or p not in has_r)
    return {"entity_types": len(classes), "relationship_types": len(rels),
            "relationship_skips": rel_skips, "triples": len(stmts)}


# ---------------------------------------------------------------------------
# ABox document generation
# ---------------------------------------------------------------------------

def _abox_docs(rng: random.Random, tb: Tbox, first_doc: int, n_docs: int,
               inst_range: tuple, class_pool: int, dup_share: float,
               bad_share: float, prefix: str) -> list[Doc]:
    """Documents ``first_doc .. first_doc+n_docs-1``. Instances of a doc
    only use classes ``< class_pool``. Doc ``d`` declares classes
    ``3d .. 3d+2`` (mod the pool) plus one class it uses, so the TBox is
    repeated across docs and a pool of up to 3 × n_docs classes is fully
    declared."""
    link_props = [n for n, (_, r) in tb.obj_props.items() if r is not None]
    docs = []
    bad_seq = 0
    for d in range(first_doc, first_doc + n_docs):
        did = f"{prefix}{d:05d}"
        n_inst = rng.randint(*inst_range)
        insts = [(f"{EX}i{d:05d}_{n:03d}", rng.randrange(class_pool))
                 for n in range(n_inst)]
        abox = []
        for n, (iri, c) in enumerate(insts):
            abox.append((iri, RDF_TYPE, _cls(c), IRI))
            if rng.random() < 0.7:
                abox.append((iri, _dprop(c, 0), f"v{d}-{n}", STR))
            abox.append((iri, _dprop(c, 1), str(rng.randrange(10_000)), INT))
            for _ in range(rng.randint(1, 2)):
                prop = rng.choice(link_props)
                other = insts[rng.randrange(n_inst)][0]
                abox.append((iri, EX + prop, other, IRI))
        used = sorted({c for _, c in insts})
        declared = {(3 * d + j) % class_pool for j in range(3)}
        declared.add(rng.choice(used))
        tbox = [st for c in sorted(declared) for st in _class_stmts(tb, c)]
        # every object property a doc links with is declared in that doc
        linked = sorted({p[len(EX):] for _, p, _, k in abox
                         if k == IRI and p != RDF_TYPE})
        tbox += [st for name in linked for st in _prop_stmts(tb, name)]
        stmts = tbox + abox
        # seeded duplicates: re-emit a share of statements in other spans
        dups = [st for st in stmts if rng.random() < dup_share]
        order = stmts + dups
        n_spans = rng.randint(3, 5)
        chunks = [order[i::n_spans] for i in range(n_spans)]
        spans = []
        off = 0
        for ci, chunk in enumerate(chunks):
            fmt = "turtle" if ci == 0 else rng.choice(FORMATS)
            spans.append(("media", None, f"media://{did}/{off}"))
            spans.append(("text", RENDER[fmt](chunk), None))
            off += 2
        n_bad = 0
        while rng.random() < bad_share:
            spans.insert(rng.randrange(len(spans) + 1),
                         ("text", _malformed(rng, bad_seq), None))
            bad_seq += 1
            n_bad += 1
        docs.append(Doc(did, spans, set(stmts), n_bad))
    return docs


# ---------------------------------------------------------------------------
# DTDL + CDM riders for the unified build
# ---------------------------------------------------------------------------

# The build's job count follows the number of types and the depth of the
# inheritance chains, not the rows, so these are the same for every seed;
# the seed varies instances, links, literals, duplicates and bad spans.
ABOX_CLASSES = 50
DTDL_CHAIN = 3
CDM_SCHEMAS = 3
CDM_MODEL_ENTITIES = 2


def _dtdl_docs(rng: random.Random) -> tuple[list[Doc], dict]:
    n = DTDL_CHAIN
    docs, n_rels = [], 0
    for i in range(n):
        contents = [{"@type": "Property", "name": f"p{i}", "schema": "double"},
                    {"@type": "Telemetry", "name": f"t{i}",
                     "schema": "double"}]
        if i > 0:
            contents.append({"@type": "Relationship", "name": f"linksTo{i}",
                             "target": f"dtmi:bench:I{rng.randrange(i)};1"})
            n_rels += 1
        iface = {"@context": "dtmi:dtdl:context;4",
                 "@id": f"dtmi:bench:I{i};1", "@type": "Interface",
                 "displayName": f"I{i}", "contents": contents}
        if i > 0:
            iface["extends"] = f"dtmi:bench:I{i - 1};1"
        did = f"dtdl{i:03d}"
        docs.append(Doc(did, [("media", None, f"media://{did}/0"),
                              ("text", json.dumps(iface), None)], set(), 0))
    return docs, {"entity_types": n, "relationship_types": n_rels}


def _cdm_docs(rng: random.Random) -> tuple[list[Doc], dict]:
    n_schema = CDM_SCHEMAS
    docs = []
    for i in range(n_schema):
        d = {"entityName": f"E{i}",
             "hasAttributes": [{"name": f"e{i}Id", "dataType": "guid",
                                "appliedTraits": ["means.identity.entityId"]},
                               {"name": f"label{i}", "dataType": "string"}]}
        if i > 0:
            # one level only: a two-deep extendsEntity chain fails in
            # convert_cdm (see README.md, "Findings")
            d["extendsEntity"] = "E0"
        text = json.dumps({"jsonSchemaSemanticVersion": "1.0.0",
                           "definitions": [d]})
        docs.append(Doc(f"cdm{i:03d}", [("text", text, None)], set(), 0))
    n_model = CDM_MODEL_ENTITIES
    ents = []
    for i in range(n_model):
        attrs = [{"name": "id", "dataType": "guid"},
                 {"name": f"m{i}", "dataType": "string"}]
        if i > 0:
            attrs.append({"name": "parentId", "dataType": "guid",
                          "attributeReference": {
                              "entityName": f"M{i - 1}",
                              "attributeName": "id"}})
        ents.append({"$type": "LocalEntity", "name": f"M{i}",
                     "attributes": attrs})
    model = json.dumps({"name": "BenchModel", "version": "1.0",
                        "culture": "en-US", "entities": ents})
    docs.append(Doc("cdm_model", [("text", model, None)], set(), 0))
    return docs, {"entity_types": n_schema + n_model,
                  "relationship_types": n_model - 1}


# ---------------------------------------------------------------------------
# public corpora
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    docs: list
    expect: dict
    tbox: Tbox
    extra: dict = field(default_factory=dict)

    def digest(self) -> str:
        h = hashlib.sha256()
        for d in self.docs:
            h.update(json.dumps([d.doc_id, d.spans]).encode())
        return h.hexdigest()


def _expect_rdf(docs: list[Doc]) -> dict:
    stmts = set().union(*(d.stmts for d in docs))
    g = graph_oracle(stmts)
    bad = sum(d.malformed for d in docs)
    g["parse_skips"] = bad
    g["abox_share"] = sum(1 for s in stmts if not _is_tbox(s)) / len(stmts)
    return g


def _is_tbox(st) -> bool:
    s, p, o, _ = st
    return (p in (SUBCLASS, RDFS + "domain", RDFS + "range",
                  RDFS + "label", OWL + "inverseOf")
            or (p == RDF_TYPE and o.startswith(OWL)))


def abox_corpus(seed: int) -> Corpus:
    """Instance-heavy corpus for the ``kg`` build, with its oracle:
    entity/relationship-type counts, skipped items by type, and the
    deduplicated triple count."""
    rng = random.Random(f"abox:{seed}")
    tb = _make_tbox(rng, ABOX_CLASSES)
    rdf = _abox_docs(rng, tb, 0, 40, (65, 75), tb.n_classes,
                     dup_share=rng.uniform(0.05, 0.15),
                     bad_share=rng.uniform(0.1, 0.25), prefix="doc")
    dtdl, dx = _dtdl_docs(rng)
    cdm, cx = _cdm_docs(rng)
    g = _expect_rdf(rdf)
    skipped = {k: v for k, v in (("document", g["parse_skips"]),
                                 ("relationship", g["relationship_skips"]))
               if v}
    expect = {
        "entity_types": g["entity_types"] + dx["entity_types"]
        + cx["entity_types"],
        "relationship_types": g["relationship_types"]
        + dx["relationship_types"] + cx["relationship_types"],
        "skipped_by_type": skipped,
        "triples": g["triples"],
        "abox_share": g["abox_share"],
    }
    docs = rdf + dtdl + cdm
    rng.shuffle(docs)
    return Corpus(docs, expect, tb)


# ---------------------------------------------------------------------------
# live graph: initial corpus and seeded query stream
# ---------------------------------------------------------------------------

# One cycle of the query stream: BGP ×9, group_by ×4, ask ×3, subquery ×3,
# UNION/MINUS ×3 and the two property paths. The paths are one query in
# twelve because each costs about 2 s, ten times a BGP query: more of them
# would take most of a run's time and leave the other kinds few samples.
QUERY_KINDS = ("bgp_optional_filter", "group_by", "union_minus",
               "bgp_optional_filter", "subquery", "ask",
               "bgp_optional_filter", "group_by", "bgp_optional_filter",
               "union_minus", "path_plus", "bgp_optional_filter",
               "ask", "group_by", "bgp_optional_filter", "subquery",
               "bgp_optional_filter", "union_minus", "group_by",
               "bgp_optional_filter", "ask", "subquery",
               "bgp_optional_filter", "path_star")
# The warm-up before timing: each kind but the paths, so that their plan
# shapes have run before. The paths are left out for their cost; a run
# times two to four of them, against three or more of each other kind.
WARMUP_KINDS = tuple(k for k in dict.fromkeys(QUERY_KINDS)
                     if not k.startswith("path"))

_PFX = (f"PREFIX ex: <{EX}> PREFIX rdfs: <{RDFS}> "
        f"PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> ")


@dataclass
class LiveCorpus:
    docs: list
    tbox: Tbox
    seed: int

    def digest(self) -> str:
        h = hashlib.sha256()
        for d in self.docs:
            h.update(json.dumps([d.doc_id, d.spans]).encode())
        return h.hexdigest()

    def statements(self) -> set:
        return set().union(*(d.stmts for d in self.docs))

    def n_triples(self) -> int:
        return len(self.statements())

    def snapshot_expect(self) -> dict:
        """Expected IncrementalKG snapshot counts after ingesting ``docs``."""
        g = graph_oracle(self.statements())
        return {"n_entity_types": g["entity_types"],
                "n_relationship_types": g["relationship_types"],
                "n_skipped": g["relationship_skips"]
                + sum(d.malformed for d in self.docs)}

    def queries(self, n: int, kinds: tuple = QUERY_KINDS,
                stream: str = "q") -> list:
        """``n`` seeded queries over the log, cycling through ``kinds``:
        (kind, text, expected cardinality). ASK's cardinality is 1 for
        true. ``stream`` names an independent query stream of the seed."""
        rng = random.Random(f"{stream}:{self.seed}")
        stmts = self.statements()
        types: dict[str, set] = {}
        subj_of: dict[str, set] = {}
        for s, p, o, _ in stmts:
            if p == RDF_TYPE:
                types.setdefault(o, set()).add(s)
            subj_of.setdefault(p, set()).add(s)
        used = sorted(c for c in types if c.startswith(EX + "C"))
        parents = {s: o for s, p, o, _ in stmts if p == SUBCLASS}
        links = sorted((s, p, o) for s, p, o, k in stmts
                       if k == IRI and p.startswith(EX + "rel"))
        out = []
        for i in range(n):
            kind = kinds[i % len(kinds)]
            kind, text, want = self._query(rng, kind, types, subj_of, used,
                                           parents, links)
            out.append((kind, _PFX + text, want))
        return out

    @staticmethod
    def _query(rng, kind, types, subj_of, used, parents, links):
        def ln(iri):
            return "ex:" + iri[len(EX):]

        def typical(key):
            """A class from the middle third by ``key``, so every seed
            asks queries of about the same size."""
            ranked = sorted(used, key=lambda c: (key(c), c))
            n = len(ranked)
            return rng.choice(ranked[n // 3: max(n // 3 + 1, 2 * n // 3)])

        def depth(c):
            d = 0
            while c in parents:
                c, d = parents[c], d + 1
            return d

        def size(c):
            return len(types[c])

        if kind == "bgp_optional_filter":
            c = typical(size)
            insts = sorted(types[c])
            drop = rng.choice(insts)
            d0 = c + "_d0"
            text = (f"SELECT DISTINCT ?s ?v WHERE {{ ?s a {ln(c)} . "
                    f"OPTIONAL {{ ?s {ln(d0)} ?v }} "
                    f"FILTER(?s != {ln(drop)}) }}")
            return kind, text, len(insts) - 1
        if kind == "group_by":
            text = ("SELECT ?c (COUNT(?s) AS ?n) WHERE { ?s a ?c } "
                    "GROUP BY ?c")
            return kind, text, len(types)
        if kind in ("path_plus", "path_star"):
            c = typical(depth)
            if kind == "path_plus":
                anc, x = set(), c
                while x in parents and parents[x] not in anc:
                    x = parents[x]
                    anc.add(x)
                text = (f"SELECT DISTINCT ?sup WHERE {{ {ln(c)} "
                        f"rdfs:subClassOf+ ?sup }}")
                return kind, text, len(anc)
            kids: dict[str, set] = {}
            for s, o in parents.items():
                kids.setdefault(o, set()).add(s)
            seen, todo = {c}, [c]
            while todo:
                for k in kids.get(todo.pop(), ()):
                    if k not in seen:
                        seen.add(k)
                        todo.append(k)
            text = (f"SELECT DISTINCT ?sub WHERE {{ ?sub "
                    f"rdfs:subClassOf* {ln(c)} }}")
            return kind, text, len(seen)
        if kind == "union_minus":
            a = typical(size)
            b = typical(size)
            d0 = a + "_d0"
            text = (f"SELECT DISTINCT ?s WHERE {{ {{ ?s a {ln(a)} }} UNION "
                    f"{{ ?s a {ln(b)} }} MINUS {{ ?s {ln(d0)} ?v }} }}")
            want = (types[a] | types[b]) - subj_of.get(d0, set())
            return kind, text, len(want)
        if kind == "subquery":
            c = typical(size)
            p = rng.choice(links)[1]
            text = (f"SELECT DISTINCT ?s ?n WHERE {{ ?s a {ln(c)} . "
                    f"{{ SELECT ?s (COUNT(?o) AS ?n) WHERE "
                    f"{{ ?s {ln(p)} ?o }} GROUP BY ?s }} }}")
            return kind, text, len(types[c] & subj_of.get(p, set()))
        s, p, o = rng.choice(links)
        if rng.random() < 0.5:
            return kind, f"ASK {{ {ln(s)} {ln(p)} {ln(o)} }}", 1
        o2 = f"{EX}nobody"
        return kind, f"ASK {{ {ln(s)} {ln(p)} <{o2}> }}", 0


def live_corpus(seed: int) -> LiveCorpus:
    """The live graph's initial documents (RDF only: the incremental path
    builds the RDF graph)."""
    rng = random.Random(f"live:{seed}")
    tb = _make_tbox(rng, 40)
    docs = _abox_docs(rng, tb, 0, 16, (45, 55), 40,
                      dup_share=0.1, bad_share=0.15, prefix="live")
    return LiveCorpus(docs, tb, seed)
