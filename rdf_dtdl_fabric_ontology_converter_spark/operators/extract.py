"""Stage A: documents → triples (Arrow-vectorized span extraction).

Spark mapping of the reference's parse layer (reference:
src/formats/rdf/rdf_parser.py:288-386 parse_ttl_content,
rdf_parser.py:239-273 format aliases / guess_format): a ``mapInPandas``
extraction over the documents table. Each text span is format-sniffed and
parsed by a pure-Python tokenizer (turtle/jsonld/rdfxml/trix — no rdflib on
executors); parse failures become ``parse_error`` rows that feed the
``skipped_items`` table (reference: src/shared/models/conversion.py:16-51).

Narrow transformation — no shuffle; partition count of the scan carries
through. Blank nodes are qualified with (doc_id, span_idx) before emission
so cross-document unions can never alias (SURVEY §7.4 risk 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRIPLES_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("obj_kind", T.StringType()),      # iri | bnode | literal
    T.StructField("obj_datatype", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("graph_ctx", T.StringType()),
    T.StructField("fmt", T.StringType()),   # turtle|jsonld|rdfxml|trix|hext|rdfa|microdata|dtdl|cdm
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("parse_error", T.StringType()),   # non-null => error row
])

def sniff_format(text: str) -> str:
    """Format inference from span content.

    Replaces the reference's extension-based guess_format (reference:
    src/formats/rdf/rdf_parser.py:248-254) and the CDM dialect detector
    (src/formats/cdm/cdm_parser.py:208-250) with content sniffing — span
    payloads have no filenames.
    """
    s = text.lstrip()
    if not s:
        return "empty"
    if s.startswith("<?xml"):
        # XHTML documents open with an XML declaration but may carry RDFa
        # or microdata (the reference's rdflib routes xhtml+rdfa to the
        # RDFa parser); only a non-html root is RDF/XML or TriX.
        low_head = s[:4096].lower()
        if "<html" in low_head:
            return "microdata" if "itemscope" in s.lower() else "rdfa"
        if "<trix" in low_head:
            return "trix"
        return "rdfxml"
    if s.startswith("<rdf:RDF") or s.startswith("<RDF"):
        return "rdfxml"
    if s.startswith("<TriX") or s.startswith("<trix"):
        return "trix"
    if s[0] == "<":
        import re
        low = s[:2048].lower()
        if re.match(r"<!doctype\b|<(html|head|body|div|section|article|span"
                    r"|main|p|ul|ol|li|table|meta|article)\b", low):
            # itemscope may first appear deep in the body — search the whole
            # document, not just the sniff prefix.
            return "microdata" if "itemscope" in s.lower() else "rdfa"
    if s[0] in "{[":
        import json
        if s[0] == "[":
            # HexTuples: ND-JSON, each line a 6-element string array
            first = s.splitlines()[0].strip()
            try:
                row = json.loads(first)
                if (isinstance(row, list) and len(row) == 6 and
                        all(isinstance(x, str) for x in row)):
                    return "hext"
            except ValueError:
                pass
        try:
            doc = json.loads(s)
        except ValueError:
            return "jsonld"
        probe = doc[0] if isinstance(doc, list) and doc else doc
        if isinstance(probe, dict):
            ctx = probe.get("@context", "")
            ctx_str = ctx if isinstance(ctx, str) else ""
            if "dtmi:dtdl" in ctx_str or probe.get("@type") == "Interface":
                return "dtdl"
            if "jsonSchemaSemanticVersion" in probe:
                return "cdm"
            # entity-schema docs need no 'imports': any definitions list
            # with entityName entries is CDM (aligned with
            # functions.cdm.detect_dialect, reference cdm_parser.py:208-250)
            defs = probe.get("definitions")
            if isinstance(defs, list) and any(
                    isinstance(d, dict) and "entityName" in d for d in defs):
                return "cdm"
            if "name" in probe and ("entities" in probe or "version" in probe
                                    and "culture" in probe):
                return "cdm"
        return "jsonld"
    return "turtle"


def _parse_span(text: str, extra: tuple = ()):
    """Returns (fmt, rows, error). rows are 7-tuples from the span parsers.

    ``extra``: third-party FormatPlugin snapshot (``plugins.py``) —
    custom sniffers run FIRST, in registration order, so a plugin can
    claim content the built-ins would misroute; a plugin parser that
    raises degrades to a parse-error skip row like any built-in."""
    for p in extra:
        try:
            if p.sniffer(text):
                return p.name, p.parser(text), None
        except Exception as e:  # noqa: BLE001
            return p.name, [], f"plugin {p.name}: {type(e).__name__}: {e}"
    return _parse_span_builtin(text)


def _parse_span_builtin(text: str):
    """Built-in format dispatch (see _parse_span).

    ``error`` with non-empty ``rows`` means a PARTIAL skip (N3-only
    statements degraded to a skip record while the plain triples were
    kept); the extractor emits both the triples and one skip row."""
    from ..functions.turtle import parse_turtle_with_skips
    from ..functions.jsonld import parse_jsonld
    from ..functions.rdfxml import parse_rdfxml, parse_trix
    from ..functions.hext import parse_hext

    fmt = sniff_format(text)
    try:
        if fmt == "turtle":
            rows, skips = parse_turtle_with_skips(text)
            err = None
            if skips:
                kinds = sorted(set(skips))
                err = (f"skipped {len(skips)} N3-only statement(s): "
                       + "; ".join(kinds[:3]))
            return fmt, rows, err
        if fmt == "jsonld":
            return fmt, parse_jsonld(text), None
        if fmt == "hext":
            return fmt, parse_hext(text), None
        if fmt in ("rdfa", "microdata"):
            from ..functions.htmlrdf import (HtmlRdfParseError,
                                             parse_microdata, parse_rdfa)
            parse = parse_microdata if fmt == "microdata" else parse_rdfa
            try:
                return fmt, parse(text), None
            except HtmlRdfParseError:
                # Sniffing HTML flavors is heuristic — fall back to the
                # sibling parser before declaring a parse error (e.g. RDFa
                # markup inside a page that also mentions 'itemscope').
                other_fmt = "rdfa" if fmt == "microdata" else "microdata"
                other = parse_rdfa if fmt == "microdata" else parse_microdata
                return other_fmt, other(text), None
        if fmt == "rdfxml":
            return fmt, parse_rdfxml(text), None
        if fmt == "trix":
            return fmt, parse_trix(text), None
        if fmt == "empty":
            # reference raises on empty graphs (rdf_parser.py:355-360)
            return fmt, [], "empty span"
        return fmt, [], None  # dtdl/cdm handled by the model extractor
    except Exception as e:  # parse errors become skipped rows, never task failures
        return fmt, [], f"{type(e).__name__}: {e}"


def extract_triples(documents: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → triples DataFrame (TRIPLES_SCHEMA).

    Spans are processed strictly in array order (the per-row span-sequence
    invariant); media spans contribute no triples here (see extract_media).

    Implemented with mapInArrow + columnar accumulators: building pyarrow
    arrays directly is ~5× cheaper than materializing a pandas DataFrame of
    Python tuples per batch, which otherwise dominates extraction time at
    high core counts.

    Third-party format plugins (``plugins.register_format`` /
    ``plugins.discover_plugins``) registered at PLAN BUILD TIME are
    snapshotted here and shipped to executors inside the UDF closure —
    module-level registry state on the driver is not otherwise visible
    to executor processes (see plugins.py).
    """
    from ..plugins import registered_formats
    extra = registered_formats()

    def run(batches):
        from itertools import chain

        import pyarrow as pa
        names = [f.name for f in TRIPLES_SCHEMA.fields]
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            spans_col = batch.column("spans").to_pylist()
            # per-span column chunks, concatenated once per batch (zip
            # transpose + list-multiply constants beat per-triple appends)
            chunks = [[] for _ in range(11)]
            for doc_id, spans in zip(doc_ids, spans_col):
                if spans is None:
                    continue
                for idx, span in enumerate(spans):
                    if span["kind"] != "text" or not span["text"]:
                        continue
                    fmt, rows, err = _parse_span(span["text"], extra)
                    if err is not None:
                        # error-or-skip row; with rows alongside it this is
                        # a PARTIAL skip (N3 rules dropped, triples kept)
                        for c, v in zip(chunks,
                                        ([None], [None], [None], [None],
                                         [None], [None], [None], [fmt],
                                         [doc_id], [idx], [err])):
                            c.append(v)
                    if not rows:
                        continue
                    n = len(rows)
                    s, p, o, ok, dt, lg, g = zip(*rows)
                    bq = f"_:{doc_id}/{idx}/"
                    s = [bq + x[2:] if x[:2] == "_:" else x for x in s]
                    o = [bq + x[2:] if k == "bnode" or x[:2] == "_:" else x
                         for x, k in zip(o, ok)]
                    for c, v in zip(chunks,
                                    (s, p, o, ok, dt, lg, g,
                                     [fmt] * n, [doc_id] * n, [idx] * n,
                                     [None] * n)):
                        c.append(v)
            flat = [list(chain.from_iterable(c)) for c in chunks]
            yield pa.RecordBatch.from_arrays(
                [pa.array(flat[0], pa.string()), pa.array(flat[1], pa.string()),
                 pa.array(flat[2], pa.string()), pa.array(flat[3], pa.string()),
                 pa.array(flat[4], pa.string()), pa.array(flat[5], pa.string()),
                 pa.array(flat[6], pa.string()), pa.array(flat[7], pa.string()),
                 pa.array(flat[8], pa.string()), pa.array(flat[9], pa.int32()),
                 pa.array(flat[10], pa.string())],
                names=names)

    return documents.mapInArrow(run, TRIPLES_SCHEMA)


def extract_media(documents: DataFrame) -> DataFrame:
    """Media spans → provenance rows (pass-through, north rule)."""
    span = F.explode(
        F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    ).alias("span")
    exploded = documents.select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
    return (exploded
            .where(F.col("s.kind") == "media")
            .select("doc_id", "span_idx", F.col("s.media_ref").alias("media_ref")))


def split_errors(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split extraction output into (clean triples, skipped_items rows)."""
    errors = (triples
              .where(F.col("parse_error").isNotNull())
              .select(F.lit("document").alias("item_type"),
                      F.col("doc_id").alias("name"),
                      F.col("parse_error").alias("reason"),
                      F.concat(F.lit("doc://"), "doc_id", F.lit("#"),
                               F.col("span_idx").cast("string")).alias("uri")))
    clean = triples.where(F.col("parse_error").isNull()).drop("parse_error")
    return clean, errors
