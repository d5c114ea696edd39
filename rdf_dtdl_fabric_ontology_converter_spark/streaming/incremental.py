"""Incremental (streaming) ingestion of the documents table (T1/T2).

The reference's "streaming" is chunked batch (reference:
src/core/services/streaming.py:298-392, pipeline.py:533-639) — subsumed by
Spark partitions. The genuinely incremental mode here is Structured
Streaming over the documents source:

    readStream → extract_triples (same Arrow extraction, unchanged) →
    writeStream(triples sink) with trigger(availableNow=True)

availableNow processes everything present then stops — the
chunk→process→merge→finalize contract with exactly-once sink semantics via
checkpointLocation, and it resumes from the stream checkpoint after a kill
(complements the stage-snapshot resume in plans.checkpoint).

Production source is an Iceberg table (readStream on snapshots); the
sandbox uses the parquet file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_triples
from ..sources.documents import DOCUMENTS_SCHEMA


def read_documents_stream(spark: SparkSession, path: str,
                          fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.readStream.format("iceberg").load(path)
    return (spark.readStream.schema(DOCUMENTS_SCHEMA)
            .parquet(path))


def stream_extract_to_parquet(spark: SparkSession, in_path: str,
                              out_path: str, checkpoint: str,
                              available_now: bool = True):
    """Incremental extraction job; returns the StreamingQuery."""
    docs = read_documents_stream(spark, in_path)
    triples = extract_triples(docs)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_validate_to_parquet(spark: SparkSession, in_path: str,
                               out_path: str, checkpoint: str,
                               shapes: list[dict],
                               available_now: bool = True,
                               fmt: str = "parquet"):
    """Streaming SHACL: validate each arriving document micro-batch and
    write its violation report to ``{out_path}/batch_id={batch_id}``,
    overwriting, so a batch the checkpoint replays after a crash replaces
    its own output (exactly-once; reading ``out_path`` yields the
    ``batch_id`` column). Returns the StreamingQuery.

    Per-BATCH closure semantics: sh:targetClass selection and property
    lookups see the micro-batch's own triples only — the right reading
    when each document is self-contained (the corpus contract everywhere
    else in this repo; a document's triples never split across batches
    because extraction is per-row). CROSS-document constraints need the
    batch validator (operators/shacl.validate_shapes) over a materialized
    triple table instead — this twin is for catch-violations-on-ingest.
    The validator's joins/aggregations are legal here because foreachBatch
    hands a plain batch DataFrame to the same audited batch operator.
    """
    from ..operators.shacl import validate_shapes

    docs = read_documents_stream(spark, in_path, fmt)
    triples = extract_triples(docs)

    def write_batch(df: DataFrame, batch_id: int):
        clean = df.where(F.col("parse_error").isNull())
        report = validate_shapes(clean, shapes)
        report.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}")

    writer = (triples.writeStream
              .foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
