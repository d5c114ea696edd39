"""Name extraction / sanitization as Catalyst column expressions (P6/P7/P8).

Spark translation of the reference's URI utilities
(reference: src/formats/rdf/uri_utils.py:33-103 — fragment-after-# else
after-/, non-alnum→underscore, letter prefix, truncate) and the DTDL variant
(reference: src/formats/dtdl/dtdl_converter.py:1079-1103 — 90-char cap) and
DTMI name extraction (reference: src/formats/dtdl/dtdl_models.py:726-739).

All whole-stage-codegen-friendly built-ins; no UDFs. ASCII alnum classes are
pinned (the reference's str.isalnum is Unicode-aware; the fixture corpus is
ASCII — divergence documented here).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def local_name(uri: Column) -> Column:
    """Fragment after '#' if present, else after last '/', else the URI."""
    return (F.when(uri.contains("#"), F.substring_index(uri, "#", -1))
             .when(uri.contains("/"), F.substring_index(uri, "/", -1))
             .otherwise(uri))


def sanitize_name(name: Column, max_len: int = 128) -> Column:
    """Non-alnum → '_', ensure letter start ('E_' prefix), truncate."""
    cleaned = F.regexp_replace(name, "[^a-zA-Z0-9_]", "_")
    cleaned = F.when(cleaned == "", F.lit("Entity_0")).otherwise(cleaned)
    prefixed = F.when(~cleaned.rlike("^[a-zA-Z]"),
                      F.concat(F.lit("E_"), cleaned)).otherwise(cleaned)
    return F.substring(prefixed, 1, max_len)


def uri_to_name(uri: Column, max_len: int = 128) -> Column:
    """Fabric-compliant name from a URI (empty → Entity_0 fallback)."""
    name = local_name(uri)
    name = F.when(name.isNull() | (name == ""), F.lit("Entity_0")).otherwise(name)
    return sanitize_name(name, max_len)
