"""Streaming corpus curation: Structured Streaming twins of
operators/curate.py.

Decontamination and stratified sampling are pure per-row decisions
(against a broadcast benchmark set / a hash bucket), so unlike the
stateful dedup in streaming/windows.py they need NO watermark and NO
state store — every micro-batch filters independently and exactly-once
falls out of the file-sink commit log alone.

Chunk/line dedup IS stateful (corpus-wide first occurrence): the unit
stream is deduped by ``dropDuplicatesWithinWatermark`` on the unit hash
(state = seen unit hashes, evicted at the watermark — the same bounded
trade as stream_exact_dedup) and the survivors are reassembled per
document by a tumbling-window aggregation, the second stateful operator
in the chain. Unit extraction itself is fully narrow (array slicing, no
shuffle before the dedup exchange).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators.dedup import shingle_rows, shingles, tokens
from ..operators.curate import sample_bucket, sample_rate
from .windows import DOCS_STREAM_SCHEMA


def stream_decontaminate(docs: DataFrame, eval_docs: DataFrame, n: int = 4,
                         text_col: str = "text") -> DataFrame:
    """Streaming decontamination filter: drop any streamed document that
    shares a token ``n``-gram with the static benchmark set.

    The eval side is a batch DataFrame reduced to its distinct shingles
    and broadcast; the stream side carries its shingles as an ARRAY
    column (the narrow :func:`..operators.dedup.shingles` form — window
    functions are not available on streams) and a stream-static LEFT ANTI
    join on ``array_contains`` removes contaminated documents. Stateless:
    no watermark, bounded memory by construction.
    """
    ev = (shingle_rows(eval_docs, text_col, "doc_id", n)
          .select("sh").dropDuplicates())
    withsh = docs.withColumn("_sh_arr", shingles(F.col(text_col), n))
    clean = withsh.join(F.broadcast(ev),
                        F.expr("array_contains(_sh_arr, sh)"), "left_anti")
    return clean.drop("_sh_arr")


def stream_sample_stratified(docs: DataFrame, rates: dict[str, int],
                             default_permille: int = 0,
                             stratum_col: str = "lang",
                             key_col: str = "doc_id",
                             seed: str = "") -> DataFrame:
    """Streaming deterministic stratified sampling: the keep decision is a
    pure function of (seed, key), so a re-delivered document always gets
    the same verdict — idempotent under at-least-once sources. The
    predicate is a narrow projection (no state, no shuffle), applied
    row-by-row as micro-batches arrive; all input columns pass through."""
    return docs.where(sample_bucket(key_col, seed) <
                      sample_rate(rates, default_permille, stratum_col))


def _stream_unit_dedup(docs: DataFrame, units_arr: Column, sep: str,
                       watermark: str, window: str, key_col: str,
                       ts_col: str) -> DataFrame:
    """Shared core of streaming chunk/line dedup (batch twin:
    ``operators.curate._dedup_units``).

    1. Narrow unit extraction: ``units_arr`` (an array column computed
       from the text) is posexploded to (key, idx, unit) rows carrying
       the doc's total unit count — no shuffle yet.
    2. First occurrence: ``dropDuplicatesWithinWatermark`` on md5(unit)
       keeps one state row per distinct unit seen inside the watermark
       horizon; a unit re-ingested beyond the horizon passes through
       again (the documented bounded-state trade).
    3. Reassembly: tumbling event-time window + groupBy(key) rebuilds
       the surviving text in unit order once the watermark closes the
       window.

    → (window, key_col, n_units, n_kept, text_clean) in append mode.
    A document whose EVERY unit was seen before emits no row (unlike
    the batch twin there is no static side to left-join back onto);
    run :func:`stream_unit_ledger` as a parallel sink on the same
    source and left-join on (window, key) so such docs surface with
    n_kept=0 downstream.
    """
    units = (docs
             .withColumn("_arr", units_arr)
             .select(key_col, ts_col,
                     F.size("_arr").cast("long").alias("n_units"),
                     F.posexplode("_arr").alias("idx", "unit"))
             .withColumn("unit_hash", F.md5("unit")))
    survivors = (units
                 .withWatermark(ts_col, watermark)
                 .dropDuplicatesWithinWatermark(["unit_hash"]))
    return (survivors
            .groupBy(F.window(ts_col, window).alias("window"),
                     F.col(key_col))
            .agg(F.first("n_units").alias("n_units"),
                 F.count("*").alias("n_kept"),
                 F.concat_ws(sep, F.transform(
                     F.array_sort(F.collect_list(F.struct("idx", "unit"))),
                     lambda s: s["unit"])).alias("text_clean")))


def _chunk_units_arr(text_col: str, chunk: int) -> Column:
    """text → array of consecutive ``chunk``-token units (narrow)."""
    if chunk < 1:
        raise ValueError(f"chunk must be >= 1, got {chunk}")
    toks = tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk)).cast("int")
    return F.when(n_chunks > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * chunk + 1, chunk)))) \
        .otherwise(F.array().cast("array<string>"))


def stream_unit_ledger(docs: DataFrame, units_arr: Column,
                       watermark: str = "1 hour",
                       window: str = "10 minutes",
                       key_col: str = "doc_id",
                       ts_col: str = "ingest_ts") -> DataFrame:
    """Per-(window, doc) INGEST ledger → (window, key_col, n_units).

    ``_stream_unit_dedup`` emits no row for a document whose every unit
    was already seen (there is no static side to left-join back onto in
    append mode), so downstream funnel counts would silently lose those
    docs (round-4 ADVICE). This parallel aggregation counts units BEFORE
    the dedup, from the same narrow unit extraction; run it as a second
    sink on the same source and left-join the dedup output on
    (window, key_col) downstream — fully-duplicated docs surface with
    ``coalesce(n_kept, 0) = 0``. State is one row per (window, doc),
    evicted at the watermark, bounded like the dedup's own reassembly.
    """
    return (docs
            .withColumn("_arr", units_arr)
            .select(key_col, ts_col,
                    F.size("_arr").cast("long").alias("n_units"))
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("window"),
                     F.col(key_col))
            .agg(F.max("n_units").alias("n_units")))


def stream_chunk_dedup(docs: DataFrame, chunk: int = 10,
                       watermark: str = "1 hour", window: str = "10 minutes",
                       text_col: str = "text", key_col: str = "doc_id",
                       ts_col: str = "ingest_ts") -> DataFrame:
    """Streaming C4-style chunk dedup: consecutive ``chunk``-token units,
    corpus-wide first occurrence within the watermark horizon."""
    return _stream_unit_dedup(docs, _chunk_units_arr(text_col, chunk),
                              " ", watermark, window, key_col, ts_col)


def stream_chunk_ledger(docs: DataFrame, chunk: int = 10,
                        watermark: str = "1 hour",
                        window: str = "10 minutes",
                        text_col: str = "text", key_col: str = "doc_id",
                        ts_col: str = "ingest_ts") -> DataFrame:
    """Ingest ledger twin of :func:`stream_chunk_dedup` (same unit
    extraction, pre-dedup counts)."""
    return stream_unit_ledger(docs, _chunk_units_arr(text_col, chunk),
                              watermark, window, key_col, ts_col)


def stream_line_dedup(docs: DataFrame, delim: str = "\n",
                      watermark: str = "1 hour", window: str = "10 minutes",
                      text_col: str = "text", key_col: str = "doc_id",
                      ts_col: str = "ingest_ts") -> DataFrame:
    """Streaming line dedup: every line kept only at its first occurrence
    inside the watermark horizon."""
    return _stream_unit_dedup(docs, F.split(F.col(text_col), delim),
                              delim, watermark, window, key_col, ts_col)


def run_chunk_dedup_stream(spark: SparkSession, in_path: str,
                           out_path: str, checkpoint: str, chunk: int = 10,
                           watermark: str = "1 hour",
                           window: str = "10 minutes"):
    """File-source ingest stream → watermarked chunk dedup + reassembly →
    parquet (append; availableNow for incremental batch-over-stream)."""
    docs = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(in_path)
    out = stream_chunk_dedup(docs, chunk=chunk, watermark=watermark,
                             window=window)
    return (out.writeStream
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def run_decontaminate_stream(spark: SparkSession, in_path: str,
                             eval_path: str, out_path: str,
                             checkpoint: str, n: int = 4):
    """File-source ingest stream → broadcast decontamination filter →
    parquet (append; availableNow for incremental batch-over-stream)."""
    docs = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(in_path)
    ev = spark.read.parquet(eval_path)
    clean = stream_decontaminate(docs, ev, n=n)
    return (clean.writeStream
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())
