"""Watermarked streaming windows, embedding near-dup, streaming sinks."""

import datetime

from pyspark.sql import functions as F


def test_windowed_stream_with_watermark(spark, tmp_path):
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.windows import (
        run_windowed_stream)
    in_path = str(tmp_path / "events")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")

    def write_events(rows, mode):
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, "
                  "event_type string, value double, props string")
        df.coalesce(1).write.mode(mode).parquet(in_path)

    day1 = datetime.datetime(2026, 1, 1, 10, 0)
    write_events(
        [(i, day1 + datetime.timedelta(minutes=10 * i), 1, "click",
          1.0, "{}") for i in range(6)], "overwrite")
    q = run_windowed_stream(spark, in_path, out, ckpt,
                            window="1 hour", watermark="30 minutes")
    q.awaitTermination(120)

    # a much later batch advances the watermark → day-1 windows emit
    day3 = datetime.datetime(2026, 1, 3, 0, 0)
    write_events([(100, day3, 2, "click", 1.0, "{}")], "append")
    q2 = run_windowed_stream(spark, in_path, out, ckpt,
                             window="1 hour", watermark="30 minutes")
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    rows = {(r["window_start"].hour, r["n"]) for r in got.collect()}
    # events at 10:00..10:50 → hour-10 window n=6; 11:00?  minutes 0-50 all
    # in hour 10 → one closed window of 6
    assert (10, 6) in rows


def test_embedding_near_duplicates(spark):
    from rdf_dtdl_fabric_ontology_converter_spark.operators.dedup import (
        embedding_near_duplicates)
    import math
    vecs = [(i, [math.cos(i + d) for d in range(8)]) for i in range(20)]
    vecs.append((99, [x * 1.0001 for x in vecs[3][1]]))  # scaled copy of 3
    v = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>")
    # exhaustive mode
    pairs = embedding_near_duplicates(v, threshold=0.999, n_planes=0)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (3, 99) in got
    # bucketed mode finds the same pair (identical directions share buckets)
    pairs_b = embedding_near_duplicates(v, threshold=0.999, dim=8,
                                        n_planes=4)
    got_b = {(r["doc_a"], r["doc_b"]) for r in pairs_b.collect()}
    assert (3, 99) in got_b
    # banded LSH (2 bands of 4 planes): band 0 uses the same planes as the
    # single-band signature, so the banded candidate set is a superset
    pairs_2b = embedding_near_duplicates(v, threshold=0.999, dim=8,
                                         n_planes=4, n_bands=2)
    got_2b = {(r["doc_a"], r["doc_b"]) for r in pairs_2b.collect()}
    assert got_2b >= got_b
    # each surviving pair is scored once (no per-band duplicates)
    rows_2b = [(r["doc_a"], r["doc_b"]) for r in pairs_2b.collect()]
    assert len(rows_2b) == len(set(rows_2b))
    # degenerate-bucket cap: a cap of 1 kills every self-join bucket and
    # the excluded buckets are reported, never silently dropped
    none_p, capped = embedding_near_duplicates(
        v, threshold=0.999, dim=8, n_planes=4, max_bucket=1,
        return_capped=True)
    assert none_p.count() == 0
    assert capped.where(F.col("bucket_n") > 1).count() > 0


def test_stateful_session_stream(spark, tmp_path):
    """applyInPandasWithState sessionizer: a session spanning two
    micro-batch files is emitted exactly once with all events counted
    (state carried through the checkpoint across two availableNow runs)."""
    import datetime as dt
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.windows import (
        run_session_stream)
    base = dt.datetime(2024, 1, 1)

    def ev(eid, minute, user=1, val=1.0):
        return (eid, base + dt.timedelta(minutes=minute), user, "click",
                val, "{}")
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    # batch 1: session A (minutes 0-10), then a 60-min gap, session B
    # opens at minute 70 and is still open at end of batch
    b1 = [ev(0, 0), ev(1, 5), ev(2, 10), ev(3, 70), ev(4, 75)]
    spark.createDataFrame(b1, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    run_session_stream(spark, in_dir, out_dir, cp).awaitTermination()

    got1 = spark.read.parquet(out_dir).collect()
    # session A closed by the in-batch gap; session B still in state
    assert [(r["user_id"], r["n_events"]) for r in got1] == [(1, 3)]
    assert got1[0]["session_start"] == base
    assert got1[0]["session_end"] == base + dt.timedelta(minutes=10)

    # batch 2: continues session B (minute 80), then a gap closes it at
    # minute 200 — B must come out ONCE with events from BOTH batches
    b2 = [ev(5, 80), ev(6, 200), ev(7, 205),
          ev(8, 500)]  # late opener advances the watermark
    spark.createDataFrame(b2, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    run_session_stream(spark, in_dir, out_dir, cp).awaitTermination()

    got2 = {(r["user_id"], r["session_start"], r["n_events"],
             r["value_sum"]) for r in spark.read.parquet(out_dir).collect()}
    # session B: minutes 70,75 (batch 1 state) + 80 (batch 2) = 3 events
    assert (1, base + dt.timedelta(minutes=70), 3, 3.0) in got2


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming exact dedup: first-seen doc per content hash wins, state
    survives across availableNow restarts through the checkpoint (a dup
    arriving in a LATER batch is still dropped), and distinct text passes."""
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.windows import (
        run_dedup_stream)
    in_path = str(tmp_path / "docs")
    out = str(tmp_path / "dedup")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2026, 1, 1, 10, 0)

    def write_docs(rows, mode):
        spark.createDataFrame(
            rows, "doc_id string, ingest_ts timestamp, text string") \
            .coalesce(1).write.mode(mode).parquet(in_path)

    write_docs([("a", t0, "alpha text"),
                ("b", t0, "beta text"),
                ("a2", t0, "alpha text")], "overwrite")  # in-batch dup
    run_dedup_stream(spark, in_path, out, ckpt).awaitTermination(120)

    # later batch: one cross-batch dup (must be dropped via checkpointed
    # state) + one new doc (must pass)
    t1 = t0 + datetime.timedelta(minutes=5)
    write_docs([("b2", t1, "beta text"),
                ("c", t1, "gamma text")], "append")
    run_dedup_stream(spark, in_path, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(out).collect()
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha text", "beta text", "gamma text"]
    kept = {r["text"]: r["doc_id"] for r in got}
    assert kept["beta text"] == "b"  # first-seen won across batches


def test_stream_decontaminate(spark, tmp_path):
    """Streaming decontamination: a doc sharing a 4-gram with the static
    benchmark set is dropped mid-stream (stateless broadcast anti-join);
    clean docs pass through with all columns; later batches behave
    identically with no state between them."""
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.curation import (
        run_decontaminate_stream)
    in_path = str(tmp_path / "docs")
    ev_path = str(tmp_path / "eval")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime.datetime(2026, 1, 1, 10, 0)
    spark.createDataFrame([("e1", "alpha beta gamma delta")],
                          ["doc_id", "text"]).write.parquet(ev_path)

    def write_docs(rows, mode):
        spark.createDataFrame(
            rows, "doc_id string, ingest_ts timestamp, text string") \
            .coalesce(1).write.mode(mode).parquet(in_path)

    write_docs([("bad", t0, "x alpha beta gamma delta y"),
                ("ok", t0, "one two three four five")], "overwrite")
    run_decontaminate_stream(spark, in_path, ev_path, out,
                             ckpt).awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) \
        == ["ok"]

    write_docs([("bad2", t0, "alpha beta gamma delta"),
                ("ok2", t0, "six seven eight nine ten")], "append")
    run_decontaminate_stream(spark, in_path, ev_path, out,
                             ckpt).awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) \
        == ["ok", "ok2"]


def test_stream_sample_stratified(spark, tmp_path):
    """Streaming stratified sampling matches the batch operator's keep set
    exactly (the decision is a pure function of seed+doc_id) and passes
    all input columns through."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.curate import (
        sample_stratified)
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.curation import (
        stream_sample_stratified)
    import pyspark.sql.types as T
    rows = [(f"d{i}", ["en", "de"][i % 2], f"text {i}") for i in range(60)]
    batch = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    in_path = str(tmp_path / "sdocs")
    batch.write.parquet(in_path)
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("lang", T.StringType()),
                           T.StructField("text", T.StringType())])
    stream = spark.readStream.schema(schema).parquet(in_path)
    out = str(tmp_path / "sampled")
    q = (stream_sample_stratified(stream, {"en": 600}, 200, seed="s")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "sckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    want = sorted(r["doc_id"] for r in
                  sample_stratified(batch, {"en": 600}, 200,
                                    seed="s").collect())
    assert got == want and len(got) > 0
    cols = spark.read.parquet(out).columns
    assert set(cols) == {"doc_id", "lang", "text"}


def test_stream_chunk_dedup(spark, tmp_path):
    """Streaming chunk dedup: unit-level first occurrence survives across
    availableNow restarts (state checkpointed), in-batch and cross-batch
    duplicate units are dropped, and surviving text is reassembled per
    doc once the watermark closes its window."""
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.curation import (
        run_chunk_dedup_stream)
    in_path = str(tmp_path / "cdocs")
    out = str(tmp_path / "cdedup")
    ckpt = str(tmp_path / "cckpt")
    t0 = datetime.datetime(2026, 1, 1, 10, 0)

    def write_docs(rows, mode):
        spark.createDataFrame(
            rows, "doc_id string, ingest_ts timestamp, text string") \
            .coalesce(1).write.mode(mode).parquet(in_path)

    # chunk=2 → units of 2 tokens; "u1 u2" repeats in-batch (b drops it)
    write_docs([("a", t0, "u1 u2 v1 v2"),
                ("b", t0, "u1 u2 w1 w2")], "overwrite")
    run_chunk_dedup_stream(spark, in_path, out, ckpt,
                           chunk=2).awaitTermination(120)

    # later batch: "v1 v2" is a CROSS-batch dup (checkpointed unit state)
    # and the far-future pusher advances the watermark past t0's window
    t1 = t0 + datetime.timedelta(minutes=5)
    t2 = t0 + datetime.timedelta(hours=3)
    write_docs([("c", t1, "v1 v2 q1 q2"),
                ("z", t2, "zz1 zz2")], "append")
    run_chunk_dedup_stream(spark, in_path, out, ckpt,
                           chunk=2).awaitTermination(120)

    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) >= {"a", "b", "c"}  # z's window not yet closed
    assert (got["a"]["n_units"], got["a"]["n_kept"]) == (2, 2)
    assert got["a"]["text_clean"] == "u1 u2 v1 v2"
    assert (got["b"]["n_units"], got["b"]["n_kept"]) == (2, 1)
    assert got["b"]["text_clean"] == "w1 w2"
    assert (got["c"]["n_units"], got["c"]["n_kept"]) == (2, 1)
    assert got["c"]["text_clean"] == "q1 q2"


def test_stream_score_linear(spark, tmp_path):
    """The literal-map score_linear plan is a narrow projection, so it
    runs unchanged on a streaming DataFrame (no stateful operator) and
    matches the batch scorer exactly."""
    from rdf_dtdl_fabric_ontology_converter_spark.operators.curate import (
        score_linear)
    import pyspark.sql.types as T
    rows = [(f"d{i}", ["fast code", "slow path", "neutral words"][i % 3])
            for i in range(12)]
    batch = spark.createDataFrame(rows, ["doc_id", "text"])
    in_path = str(tmp_path / "scdocs")
    batch.write.parquet(in_path)
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("text", T.StringType())])
    stream = spark.readStream.schema(schema).parquet(in_path)
    out = str(tmp_path / "scored")
    q = (score_linear(stream, {"fast": 2.0, "slow": -2.0})
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "scckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple,
                      score_linear(batch, {"fast": 2.0, "slow": -2.0})
                      .collect()))
    assert got == want and len(got) == 12


def test_stream_line_dedup(spark, tmp_path):
    """The line variant of the streaming unit dedup: same stateful core
    as stream_chunk_dedup, delimiter-split units."""
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.curation import (
        stream_line_dedup)
    import pyspark.sql.types as T
    t0 = datetime.datetime(2026, 1, 1, 10, 0)
    t2 = t0 + datetime.timedelta(hours=3)
    rows = [("a", t0, "x\ny"), ("b", t0, "x\nz"), ("p", t2, "late")]
    in_path = str(tmp_path / "ldocs")
    spark.createDataFrame(
        rows, "doc_id string, ingest_ts timestamp, text string") \
        .coalesce(1).write.parquet(in_path)
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("ingest_ts", T.TimestampType()),
                           T.StructField("text", T.StringType())])
    stream = spark.readStream.schema(schema).parquet(in_path)
    out = str(tmp_path / "ldedup")
    q = (stream_line_dedup(stream)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "lckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # second run: the t2 pusher already advanced the watermark past t0's
    # window in run 1's final batch, so a no-new-data run flushes nothing
    # extra but the t0 rows must already be out
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got["a"]["text_clean"] == "x\ny" and got["a"]["n_kept"] == 2
    # "x" was seen in doc a first (same batch): doc b keeps only "z"
    assert got["b"]["text_clean"] == "z" and got["b"]["n_kept"] == 1


def test_stream_chunk_ledger_surfaces_fully_dup_docs(spark, tmp_path):
    """Round-4 ADVICE: a doc whose every unit was seen before emits no
    dedup row; the parallel ingest ledger left-joined on (window, doc)
    surfaces it with n_kept=0."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.curation import (
        stream_chunk_dedup, stream_chunk_ledger)
    t0 = datetime.datetime(2026, 1, 1, 10, 0)
    t2 = t0 + datetime.timedelta(hours=3)
    # doc b duplicates doc a's only unit entirely -> no dedup output row
    rows = [("a", t0, "u1 u2"), ("b", t0, "u1 u2"), ("z", t2, "push")]
    in_path = str(tmp_path / "fdocs")
    spark.createDataFrame(
        rows, "doc_id string, ingest_ts timestamp, text string") \
        .coalesce(1).write.parquet(in_path)
    schema = T.StructType([T.StructField("doc_id", T.StringType()),
                           T.StructField("ingest_ts", T.TimestampType()),
                           T.StructField("text", T.StringType())])

    def run(make, out, ckpt):
        stream = spark.readStream.schema(schema).parquet(in_path)
        q = (make(stream, chunk=2)
             .writeStream.format("parquet").option("path", str(tmp_path / out))
             .option("checkpointLocation", str(tmp_path / ckpt))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(str(tmp_path / out))

    dedup = run(stream_chunk_dedup, "fout", "fckpt")
    ledger = run(stream_chunk_ledger, "lout", "lckpt")
    assert {r["doc_id"] for r in dedup.collect()} == {"a"}
    funnel = {r["doc_id"]: (r["n_units"], r["n_kept"])
              for r in ledger.join(
                  dedup.select("window", "doc_id", "n_kept"),
                  ["window", "doc_id"], "left")
              .select("doc_id", "n_units",
                      F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
              .collect()}
    # every ingested doc in the closed window appears; b shows 0 kept
    assert funnel["a"] == (1, 1) and funnel["b"] == (1, 0)


def test_stream_validate_shapes(spark, tmp_path):
    """Streaming SHACL twin: violations of each ingested batch land in
    the report sink; a second availableNow run over the SAME input adds
    nothing (exactly-once via the stream checkpoint)."""
    import pyspark.sql.functions as F
    from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import (
        synth_documents)
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.incremental import (
        stream_validate_to_parquet)
    docs = synth_documents(spark, 4, classes_per_doc=1)
    in_path, out = str(tmp_path / "in"), str(tmp_path / "report")
    ck = str(tmp_path / "ck")
    docs.write.parquet(in_path)
    shapes = [{"shape_id": "ClsShape",
               "target_class": "http://www.w3.org/2002/07/owl#Class",
               "properties": [{
                   "path": "http://www.w3.org/2000/01/rdf-schema#comment",
                   "min_count": 1}]}]
    q = stream_validate_to_parquet(spark, in_path, out, ck, shapes)
    q.awaitTermination(120)
    rep = spark.read.parquet(out)
    # every synthesized class lacks rdfs:comment -> one violation each
    assert rep.where(F.col("constraint") == "minCount:1").count() == 4
    n1 = rep.count()
    q2 = stream_validate_to_parquet(spark, in_path, out, ck, shapes)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1  # nothing reprocessed


def test_stream_validate_replayed_batch_overwrites(spark, tmp_path):
    """A crash after the sink write but before the checkpoint commit makes
    the next run replay that batch; its report must replace, not repeat,
    the batch's first output."""
    import os
    from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import (
        synth_documents)
    from rdf_dtdl_fabric_ontology_converter_spark.streaming.incremental import (
        stream_validate_to_parquet)
    in_path, out = str(tmp_path / "in"), str(tmp_path / "report")
    ck = str(tmp_path / "ck")
    synth_documents(spark, 4, classes_per_doc=1).write.parquet(in_path)
    shapes = [{"shape_id": "ClsShape",
               "target_class": "http://www.w3.org/2002/07/owl#Class",
               "properties": [{
                   "path": "http://www.w3.org/2000/01/rdf-schema#comment",
                   "min_count": 1}]}]
    stream_validate_to_parquet(spark, in_path, out, ck,
                               shapes).awaitTermination(120)
    first = spark.read.parquet(out)
    n1 = first.count()
    assert n1 == 4 and {r["batch_id"] for r in first.collect()} == {0}
    commits = os.path.join(ck, "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    for f in (last, f".{last}.crc"):  # the entry and its checksum
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    stream_validate_to_parquet(spark, in_path, out, ck,
                               shapes).awaitTermination(120)
    assert spark.read.parquet(out).count() == n1
