"""Entity linking: mention → ontology-entity via batched label/IRI scoring.

North-rule operator (J12 family). Two tiers:

1. exact tier — broadcast the ontology dictionary (entity label + IRI local
   name, normalized) and equi-join on the normalized mention. Zero Python.
2. fuzzy tier — for unlinked mentions: blocking join on a cheap key
   (first char + length band) against the broadcast dictionary, then
   native array expressions score candidates with trigram Jaccard; best
   score ≥ threshold wins (window rank 1). Zero Python.

The dictionary is ≪ executor memory by the Fabric 500-type cap per
ontology; at corpus scale (many ontologies) the dictionary join flips from
broadcast to a shuffle join automatically under AQE when it outgrows the
broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.names import local_name


def _norm(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"[^a-z0-9]+", " ")


def entity_dictionary(entity_types: DataFrame) -> DataFrame:
    """(entity_id, label, norm_label) from the vertex table: name + IRI
    local name, both normalized."""
    by_name = entity_types.select(
        F.col("id").alias("entity_id"), F.col("name").alias("label"))
    by_uri = entity_types.select(
        F.col("id").alias("entity_id"),
        local_name(F.col("class_uri")).alias("label"))
    return (by_name.unionByName(by_uri)
            .withColumn("norm_label", _norm(F.col("label")))
            .where(F.col("norm_label") != "")
            .dropDuplicates(["entity_id", "norm_label"]))


def _trigrams(c: Column) -> Column:
    # padded to >= 3 chars, so every string (NULL reads as "") has a trigram
    s = F.concat(F.lit("  "), F.coalesce(c, F.lit("")), F.lit(" "))
    return F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(s) - 2), lambda i: F.substring(s, i, 3)))


def trigram_jaccard(a: Column, b: Column) -> Column:
    """Char-trigram set Jaccard of two string columns: exact set
    arithmetic in native array expressions, applied post-blocking to
    candidate pairs only. Both sets are non-empty, so the union never is
    and disjoint strings score 0.0."""
    ga, gb = _trigrams(a), _trigrams(b)
    return F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb))


def extract_mentions(documents: DataFrame, max_ngram: int = 3,
                     min_len: int = 3) -> DataFrame:
    """Candidate mentions from text spans: token n-grams (1..max_ngram).

    JVM-side only (split/transform/sequence/explode). At corpus scale the
    candidate set is pruned by the broadcast-dictionary join in
    link_mentions, so over-generation here is cheap; the n-gram explosion
    is bounded by max_ngram × tokens.
    """
    toks_of = lambda c: F.split(F.trim(c), r"\s+")  # noqa: E731
    spans = (documents
             .select("doc_id", F.posexplode("spans").alias("span_idx", "s"))
             .where(F.col("s.kind") == "text")
             .select("doc_id", "span_idx", F.col("s.text").alias("text")))
    toks = spans.withColumn("toks", toks_of(F.col("text")))
    def gram_fn(n):
        # single-arg lambda: pyspark treats 2-arg lambdas as (element, index)
        return lambda i: F.concat_ws(
            " ", *[F.get(F.col("toks"), i + F.lit(j)) for j in range(n)])

    grams = []
    for n in range(1, max_ngram + 1):
        idx = F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0)))
        gram = F.transform(idx, gram_fn(n))
        grams.append(F.when(F.size("toks") >= n, gram)
                     .otherwise(F.array().cast("array<string>")))
    return (toks
            .select("doc_id", "span_idx",
                    F.explode(F.flatten(F.array(*grams))).alias("mention"))
            .where(F.length("mention") >= min_len)
            .dropDuplicates())


def link_mentions(mentions: DataFrame, entity_types: DataFrame,
                  mention_col: str = "mention",
                  fuzzy_threshold: float = 0.5,
                  relationships: DataFrame | None = None,
                  doc_col: str = "doc_id") -> DataFrame:
    """mentions(..., mention) → + (entity_id, match_kind, score).

    Exact tier links by normalized label; fuzzy tier scores blocked
    candidates with trigram Jaccard.

    ``relationships`` (optional): the edge table
    (source_entity_type_id, target_entity_type_id) enables the
    DISAMBIGUATION tier — when fuzzy candidates tie on trigram score, the
    winner is the candidate with the most support from entities
    exactly-linked in the SAME document (support = edges between the
    candidate and the doc's exact-linked entity set). One extra
    doc-keyed join + one broadcast of the schema-bounded edge set, no
    Python; the same surface mention can then resolve differently in
    different documents, which is the point of context disambiguation.
    Ties that survive context fall back to min entity_id (deterministic).
    """
    dic = entity_dictionary(entity_types)
    m = mentions.withColumn("norm_mention", _norm(F.col(mention_col)))

    # ONE broadcast left join feeds BOTH tiers (r6 — was an inner join for
    # the exact tier plus a separate distinct + anti-join for the
    # unlinked set, two sequential materializations): a matched mention
    # occurrence appears once per matching dictionary row (= the old
    # inner join), an unmatched occurrence appears exactly once with NULL
    # entity_id (= the old anti-join on distinct normalized mentions).
    # materialized once: exact and unlinked (and through them every tier
    # below) are narrow filters over this one frame, so the mention
    # pipeline upstream runs exactly once however many branches consume it
    joined = m.join(F.broadcast(dic),
                    m.norm_mention == dic.norm_label, "left") \
        .localCheckpoint(eager=False)
    exact = (joined.where(F.col("entity_id").isNotNull())
             .withColumn("match_kind", F.lit("exact"))
             .withColumn("score", F.lit(1.0))
             .drop("label", "norm_label"))

    unlinked = joined.where(F.col("entity_id").isNull()) \
        .drop("entity_id", "label", "norm_label")

    # blocking: first character + coarse length band. Candidates are
    # scored at the DISTINCT-mention level — the scorer runs once per
    # (mention, candidate) pair however many times the mention occurs,
    # and every occurrence then inherits the winning entity via a
    # mention-keyed join, so all occurrences agree on one winner.
    block = lambda c: F.concat(F.substring(c, 1, 1),  # noqa: E731
                               F.floor(F.length(c) / 4).cast("string"))
    cand = (unlinked.select("norm_mention").dropDuplicates()
            .withColumn("blk", block(F.col("norm_mention")))
            .join(F.broadcast(dic.withColumn("blk",
                                             block(F.col("norm_label")))),
                  "blk")
            .withColumn("score", trigram_jaccard(F.col("norm_mention"),
                                                 F.col("norm_label")))
            .where(F.col("score") >= fuzzy_threshold))

    if relationships is None:
        w = Window.partitionBy("norm_mention").orderBy(F.desc("score"),
                                                       "entity_id")
        winners = (cand.withColumn("rn", F.row_number().over(w))
                   .where(F.col("rn") == 1)
                   .select("norm_mention", "entity_id", "score"))
        fuzzy = (unlinked.join(winners, "norm_mention")
                 .withColumn("match_kind", F.lit("fuzzy")))
        return exact.unionByName(fuzzy).drop("norm_mention")

    # --- context disambiguation tier ------------------------------------
    # candidates fan out per (doc, mention): score stays mention-keyed
    # (no extra Python), support is doc-keyed. The exact/unlinked/cand
    # frames each feed MULTIPLE branches below (context set + output
    # union; support join + rank join) — materialize them once or the
    # executed plan re-runs the whole mention pipeline (and the trigram
    # scorer) per branch, the curate_corpus lesson (plan audit showed 82
    # exchanges without these, 15 with).
    # (cand is NOT checkpointed: its only consumer is occ_cand, which is
    # checkpointed itself — a checkpoint here would add one more
    # sequential materialization for no saved recompute; exact/unlinked
    # are narrow slices of the already-checkpointed `joined`; r6 trims)
    occ = unlinked.select(doc_col, "norm_mention").dropDuplicates()
    occ_cand = (occ.join(cand.select("norm_mention", "entity_id", "score"),
                         "norm_mention")
                .localCheckpoint(eager=False))
    ctx = (exact.select(doc_col, F.col("entity_id").alias("ctx_id"))
           .dropDuplicates())
    e = relationships.select(
        F.col("source_entity_type_id").alias("ea"),
        F.col("target_entity_type_id").alias("eb"))
    edges = e.unionByName(e.select(F.col("eb").alias("ea"),
                                   F.col("ea").alias("eb"))) \
        .dropDuplicates()
    support = (occ_cand
               .join(ctx, doc_col)
               .join(F.broadcast(edges),
                     (F.col("entity_id") == F.col("ea")) &
                     (F.col("ctx_id") == F.col("eb")), "inner")
               .groupBy(doc_col, "norm_mention", "entity_id")
               .agg(F.count("*").alias("n_support")))
    ranked = (occ_cand
              .join(support, [doc_col, "norm_mention", "entity_id"], "left")
              .withColumn("n_support", F.coalesce("n_support", F.lit(0))))
    w = Window.partitionBy(doc_col, "norm_mention") \
        .orderBy(F.desc("score"), F.desc("n_support"), "entity_id")
    winners = (ranked.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1)
               .select(doc_col, "norm_mention", "entity_id", "score"))
    fuzzy = (unlinked.join(winners, [doc_col, "norm_mention"])
             .withColumn("match_kind", F.lit("fuzzy")))
    return exact.unionByName(fuzzy).drop("norm_mention")
