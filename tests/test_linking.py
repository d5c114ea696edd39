"""Entity-linking trigram scorer: native expressions against a pure-Python
reference, and no Python evaluation node in the linking plan."""

import random

from rdf_dtdl_fabric_ontology_converter_spark.operators.linking import (
    link_mentions, trigram_jaccard)


def _ref_jaccard(a, b):
    """Reference char-trigram set Jaccard (the set logic of the former
    Python scorer)."""
    def grams(s):
        s = f"  {s} "
        return {s[i:i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else {s}

    ga, gb = grams(a or ""), grams(b or "")
    inter = len(ga & gb)
    return inter / (len(ga) + len(gb) - inter) if inter else 0.0


def test_trigram_jaccard_matches_python_reference(spark):
    edge = [(None, None), (None, "abc"), ("", ""), ("", "a"), ("a", "a"),
            ("a", "b"), ("ab", "ab"), ("ab", "ba"), ("aaaa", "aa"),
            ("aaaa", "aaaaaaaa"), ("abc", "xyz"), ("person", "persn"),
            ("alpha fed", "alpha red"), ("Mixed Case!", "mixed case")]
    rng = random.Random(7)
    alphabet = "ab c"
    rand = [("".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9))),
             "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 9))))
            for _ in range(500)]
    pairs = edge + rand
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a string, b string")
    got = {r["i"]: r["s"] for r in
           df.select("i", trigram_jaccard(df.a, df.b).alias("s")).collect()}
    for i, (a, b) in enumerate(pairs):
        assert got[i] == _ref_jaccard(a, b), (a, b, got[i])


def test_link_mentions_plan_has_no_python_eval(spark):
    ents = spark.createDataFrame(
        [("100", "alpha red", "http://e.org/e/alpha_red"),
         ("200", "house", "http://e.org/e/house")],
        ["id", "name", "class_uri"])
    mentions = spark.createDataFrame(
        [("dA", "alpha fed"), ("dA", "house")], ["doc_id", "mention"])
    out = link_mentions(mentions, ents, fuzzy_threshold=0.5)
    got = {r["mention"]: (r["entity_id"], r["match_kind"])
           for r in out.collect()}
    assert got == {"alpha fed": ("100", "fuzzy"), "house": ("200", "exact")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
