"""Benchmark of the engine's user paths: the ``kg`` build and the live graph.

    python3 perfbench/run.py --workload abox_bulk|live_graph --seed N \
        --seconds S --trace 0|1

Run from the repository root. Each run starts one local Spark session
sized to the host, generates its inputs from ``--seed`` (perfbench/corpus.py),
runs a closed loop with one client for ``--seconds`` seconds, checks every
output against the seed's oracle, and prints one line per metric followed
by a final JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` follows each
untraced operation with a traced replay that records a span around each
layer's public calls (perfbench/spans.py) and reports the per-layer
metrics; spans are written to ``.perfbench_out/``. Temporary outputs live
under ``.perfbench_run/<pid>`` and are removed when the run ends.
See perfbench/README.md for the workloads and the metric → layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from corpus import WARMUP_KINDS  # noqa: E402

PKG = "rdf_dtdl_fabric_ontology_converter_spark"
MB = 1024 * 1024


# ---------------------------------------------------------------------------
# host fit + session
# ---------------------------------------------------------------------------

def host_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def driver_memory_mb() -> int:
    """2 GB, or less where a quarter of the host's memory or half of its
    free memory is smaller. Fixed per host rather than per run, because the
    heap size sets the driver's peak resident memory."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = os.sysconf("SC_PHYS_PAGES") * page // MB
    avail = os.sysconf("SC_AVPHYS_PAGES") * page // MB
    return int(max(1024, min(2048, total // 4, avail // 2)))


def start_session(scratch: Path):
    """local[k] with k ≤ nproc, driver memory that fits free memory,
    shuffle partitions = k, every temporary file under ``scratch``, and
    the repo root on the Python workers' path (executor-side Arrow UDFs
    import the package)."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    from rdf_dtdl_fabric_ontology_converter_spark.session import build_session
    k = host_cores()
    spark = build_session(
        app="perfbench", master=f"local[{k}]", shuffle_partitions=k,
        extra={"spark.ui.enabled": "false",
               "spark.driver.memory": f"{driver_memory_mb()}m",
               "spark.local.dir": str(scratch / "spark-local"),
               "spark.sql.warehouse.dir": str(scratch / "warehouse"),
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               "spark.ui.retainedJobs": "100000",
               "spark.ui.retainedStages": "100000",
               "spark.ui.retainedTasks": "1000",
               "spark.sql.ui.retainedExecutions": "100"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, k


def stop_session(spark) -> None:
    """Stop Spark, then the driver JVM, and wait until it has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def dir_bytes(path) -> int:
    p = Path(path)
    if not p.exists():
        return 0
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def write_docs(docs, path: str) -> None:
    """The documents table (``sources.documents.DOCUMENTS_SCHEMA``) as one
    parquet file, written with pyarrow so that setup submits no job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    spans = [[{"kind": k, "text": t, "media_ref": m, "offset": i}
              for i, (k, t, m) in enumerate(d.spans)] for d in docs]
    table = pa.table({"doc_id": pa.array([d.doc_id for d in docs]),
                      "spans": pa.array(spans, pa.list_(span_t))})
    Path(path).mkdir(parents=True)
    pq.write_table(table, f"{path}/part-00000.parquet")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_count(df):
    """(df with a row-count Observation, the Observation): the count comes
    back with the action that runs the frame, with no extra job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


# ---------------------------------------------------------------------------
# per-op job counters for untraced ops
# ---------------------------------------------------------------------------

class OpCounters:
    """Counts the jobs an untraced op submitted, read from the status
    store after the op's timer has stopped."""

    def __init__(self, status):
        self.status = status
        self.first = 0

    def before(self) -> None:
        self.status.drain()
        self.first = self.status.max_job_id() + 1

    def after(self):
        self.status.drain()
        last = self.status.max_job_id()
        return self.status.job_counts(range(self.first, last + 1))


# ---------------------------------------------------------------------------
# workload: abox_bulk — one kg build at a time
# ---------------------------------------------------------------------------

class AboxBulk:
    """The ``kg`` job's conversion path over an instance-heavy corpus:
    read documents → ``run_unified`` (Stage A–D, DTDL, CDM) →
    entity/relationship/skipped tables → preflight issues, in the order
    ``job.main`` runs them."""

    SETUP_OPS = ()

    def __init__(self, spark, seed: int, scratch: Path):
        self.spark, self.seed, self.scratch = spark, seed, scratch
        self.n = 0

    def prepare(self, rep: int) -> None:
        from corpus import abox_corpus
        self.corpus = abox_corpus(self.seed)
        self.docs_path = str(self.scratch / f"docs{rep}")
        write_docs(self.corpus.docs, self.docs_path)

    def next_op(self) -> str:
        return "build"

    def run_op(self, kind: str):
        from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
            preflight_issues)
        from rdf_dtdl_fabric_ontology_converter_spark.plans.unified import (
            run_unified)
        from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import (
            read_documents)
        from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import (
            write_table)
        self.n += 1
        out = str(self.scratch / f"out{self.n}")
        docs = read_documents(self.spark, self.docs_path)
        uni = run_unified(self.spark, docs)
        write_table(uni.entity_types, f"{out}/entity_types")
        write_table(uni.relationship_types, f"{out}/relationship_types")
        write_table(uni.skipped_items, f"{out}/skipped_items")
        write_table(preflight_issues(uni.rdf.triples), f"{out}/issues")
        return out, uni

    @staticmethod
    def summary(out: str) -> dict:
        """The ``kg`` job's summary line, read back from its outputs with
        pyarrow (the tables are small; no Spark job is submitted)."""
        from collections import Counter

        import pyarrow.parquet as pq
        ents = pq.read_table(f"{out}/entity_types", columns=["id"]).num_rows
        rels = pq.read_table(f"{out}/relationship_types",
                             columns=["id"]).num_rows
        by_type = dict(Counter(pq.read_table(
            f"{out}/skipped_items", columns=["item_type"])
            .column("item_type").to_pylist()))
        n_sk = sum(by_type.values())
        return {"entity_types": ents, "relationship_types": rels,
                "skipped": n_sk, "skipped_by_type": by_type,
                "success_rate": round((ents + rels) / (ents + rels + n_sk), 4)}

    def check(self, kind: str, result) -> tuple[list[str], dict]:
        out, uni = result
        got = self.summary(out)
        exp = self.corpus.expect
        want_rate = round(
            (exp["entity_types"] + exp["relationship_types"])
            / (exp["entity_types"] + exp["relationship_types"]
               + sum(exp["skipped_by_type"].values())), 4)
        errs = []
        for k in ("entity_types", "relationship_types", "skipped_by_type"):
            if got[k] != exp[k]:
                errs.append(f"{k}: got {got[k]} want {exp[k]}")
        if got["success_rate"] != want_rate:
            errs.append(f"success_rate: got {got['success_rate']} "
                        f"want {want_rate}")
        n_triples = uni.rdf.triples.count()
        if n_triples != exp["triples"]:
            errs.append(f"triples: got {n_triples} want {exp['triples']}")
        got["triples"] = n_triples
        shutil.rmtree(out, ignore_errors=True)
        return errs, got

    def replay(self, tr, op_id: int, kind: str) -> dict:
        """Traced replay of one build: a span per layer, each layer's
        output forced at its boundary with a noop write."""
        from pyspark.sql import functions as F

        from rdf_dtdl_fabric_ontology_converter_spark.operators.canon import (
            dedup_triples)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import (
            convert_cdm, extract_cdm)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
            DtdlModes, convert_interfaces, extract_interfaces)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
            extract_triples, split_errors)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import (
            preflight_issues)
        from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import (
            build_graph)
        from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import (
            read_documents)
        from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import (
            write_table)
        spark = self.spark
        out = str(self.scratch / f"replay{op_id}")
        with tr.span("job", op_id):
            docs = read_documents(spark, self.docs_path) \
                .localCheckpoint(eager=False)
            with tr.span("extract", op_id) as sp:
                raw = extract_triples(docs)
                agg = raw.agg(
                    F.count(F.when(F.col("parse_error").isNull(), 1))
                    .alias("ok"),
                    F.count("parse_error").alias("bad")).collect()[0]
                sp.attrs.update(triples_out=agg["ok"], parse_errors=agg["bad"])
            clean, parse_skips = split_errors(raw)
            with tr.span("canon", op_id) as sp:
                ded, obs = observed_count(
                    dedup_triples(clean, spread_hot_subjects=True))
                noop(ded)
                sp.attrs.update(rows_in=agg["ok"], rows_out=obs.get["n"])
            with tr.span("pipeline", op_id):
                with tr.span("pipeline.call", op_id):
                    g = build_graph(spark, clean, parse_skips)
                with tr.span("pipeline.exec", op_id):
                    for df in (g.entity_types, g.relationship_types,
                               g.skipped_items):
                        noop(df)
            with tr.span("dtdl", op_id):
                d_e, d_r, d_s = convert_interfaces(extract_interfaces(docs),
                                                   DtdlModes())
                for df in (d_e, d_r, d_s):
                    noop(df)
            with tr.span("cdm", op_id):
                c_rows, c_rel_rows = extract_cdm(docs)
                c_e, c_r, c_s = convert_cdm(c_rows, c_rel_rows,
                                            flatten_inheritance=True)
                for df in (c_e, c_r, c_s):
                    noop(df)
            ents = (g.entity_types.unionByName(d_e).unionByName(c_e)
                    .dropDuplicates(["id"]))
            rels = (g.relationship_types.unionByName(d_r).unionByName(c_r)
                    .dropDuplicates(["id"]))
            skipped = g.skipped_items.unionByName(d_s).unionByName(c_s)
            with tr.span("sinks", op_id) as sp:
                write_table(ents, f"{out}/entity_types")
                write_table(rels, f"{out}/relationship_types")
                write_table(skipped, f"{out}/skipped_items")
                sp.attrs["bytes_written"] = dir_bytes(out)
            with tr.span("validate", op_id):
                write_table(preflight_issues(g.triples), f"{out}/issues")
        got = self.summary(out)
        shutil.rmtree(out, ignore_errors=True)
        return self.op_counts(got)

    @staticmethod
    def op_counts(checked: dict) -> dict:
        return {k: checked[k] for k in ("entity_types", "relationship_types",
                                        "skipped")}


# ---------------------------------------------------------------------------
# workload: live_graph — IncrementalKG build, then queries
# ---------------------------------------------------------------------------

class LiveGraph:
    """An ``IncrementalKG`` built from the seed's initial corpus during
    setup (its ``ingest()`` is timed on its own), two warm-up queries of
    each kind, then a seeded stream of ``query(text)`` + collect operations
    over it."""

    N_QUERIES = 400
    # two warm-up rounds: under host load the first round alone left the
    # early timed queries up to 30% slower than the late ones
    N_WARMUP = 2 * len(WARMUP_KINDS)
    SETUP_OPS = ("ingest",) + ("warmup",) * N_WARMUP

    def __init__(self, spark, seed: int, scratch: Path):
        self.spark, self.seed, self.scratch = spark, seed, scratch

    def prepare(self, rep: int) -> None:
        from corpus import live_corpus
        self.corpus = live_corpus(self.seed)
        self.docs_path = str(self.scratch / f"live_docs{rep}")
        write_docs(self.corpus.docs, self.docs_path)
        self.pending = {
            "warmup": iter(self.corpus.queries(
                self.N_WARMUP, WARMUP_KINDS, "warmup")),
            "query": iter(self.corpus.queries(self.N_QUERIES))}

    def next_op(self) -> str:
        return "query"

    def run_op(self, kind: str):
        if kind == "ingest":
            from rdf_dtdl_fabric_ontology_converter_spark.plans.incremental_kg import (
                IncrementalKG)
            self.kg = IncrementalKG(self.spark, str(self.scratch / "kg"),
                                    self.docs_path)
            return self.kg.ingest()
        self._last_query = next(self.pending[kind])
        res = self.kg.query(self._last_query[1])
        return res if isinstance(res, bool) else res.collect()

    def check(self, kind: str, result) -> tuple[list[str], dict]:
        if kind == "ingest":
            want = self.corpus.snapshot_expect()
            errs = [f"{k}: got {result[k]} want {v}"
                    for k, v in want.items() if result[k] != v]
            import pyarrow.parquet as pq
            log = pq.read_table(self.kg.triples_path, columns=["subj"])
            return errs, {"n_entity_types": result["n_entity_types"],
                          "n_relationship_types":
                              result["n_relationship_types"],
                          "n_skipped": result["n_skipped"],
                          "appended": log.num_rows,
                          "triples": self.corpus.n_triples()}
        qkind, _, want = self._last_query
        got = (1 if result else 0) if isinstance(result, bool) \
            else len(result)
        errs = [] if got == want else [f"{qkind}: got {got} rows want {want}"]
        label = qkind if kind == "query" else f"{kind} {qkind}"
        return errs, {"rows": got, "query_kind": label}

    def replay(self, tr, op_id: int, kind: str) -> dict:
        if kind == "ingest":
            return self._replay_ingest(tr, op_id)
        return self._replay_query(tr, op_id)

    def _replay_query(self, tr, op_id: int) -> dict:
        from rdf_dtdl_fabric_ontology_converter_spark.functions.sparql import (
            parse)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
            split_errors)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.sparql import (
            sparql_query)
        _, text, _ = self._last_query
        with tr.span("query", op_id):
            with tr.span("sparql.parse", op_id):
                parse(text)
            clean, _ = split_errors(self.kg.read_triples())
            with tr.span("bgp.construct", op_id):
                res = sparql_query(clean.localCheckpoint(eager=False), text)
            with tr.span("bgp.exec", op_id):
                rows = res if isinstance(res, bool) else res.collect()
        return {"rows": (1 if rows else 0) if isinstance(rows, bool)
                else len(rows)}

    def _replay_ingest(self, tr, op_id: int) -> dict:
        """Replays the ingest's three steps into a side directory: stream
        extract of the documents, the graph rebuild over the log, and the
        snapshot commits."""
        from pathlib import Path as P

        from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
            TRIPLES_SCHEMA, split_errors)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.canon import (
            dedup_triples)
        from rdf_dtdl_fabric_ontology_converter_spark.plans.checkpoint import (
            CheckpointManager)
        from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import (
            build_graph)
        from rdf_dtdl_fabric_ontology_converter_spark.streaming.incremental import (
            stream_extract_to_parquet)
        spark = self.spark
        side = self.scratch / f"replay{op_id}"
        with tr.span("incremental.ingest", op_id):
            # the ingest's extract layer runs inside the streaming query
            with tr.span("extract", op_id) as ex, \
                    tr.span("stream.extract", op_id) as sp:
                q = stream_extract_to_parquet(spark, self.docs_path,
                                              str(side / "triples"),
                                              str(side / "stream_ckpt"))
                q.awaitTermination(300)
            log = spark.read.parquet(str(side / "triples"))
            appended = log.count()
            errors = log.where("parse_error IS NOT NULL").count()
            sp.attrs["triples_appended"] = appended
            ex.attrs.update(triples_out=appended - errors,
                            parse_errors=errors)
            raw = spark.read.schema(TRIPLES_SCHEMA).parquet(
                self.kg.triples_path)
            clean, skips = split_errors(raw)
            with tr.span("canon", op_id) as sp:
                clean_obs, obs_in = observed_count(clean)
                ded, obs_out = observed_count(
                    dedup_triples(clean_obs, spread_hot_subjects=True))
                noop(ded)
                sp.attrs.update(rows_in=obs_in.get["n"],
                                rows_out=obs_out.get["n"])
            with tr.span("pipeline", op_id):
                with tr.span("pipeline.call", op_id):
                    res = build_graph(spark, clean, skips)
                with tr.span("pipeline.exec", op_id):
                    for df in (res.entity_types, res.relationship_types,
                               res.skipped_items):
                        noop(df)
            snaps = side / "snapshots"
            with tr.span("checkpoint.commit", op_id) as sp:
                cm = CheckpointManager(spark, str(snaps))
                et = cm.stage("entity_types", lambda: res.entity_types,
                              force=True)
                rt = cm.stage("relationship_types",
                              lambda: res.relationship_types, force=True)
                sk = cm.stage("skipped_items", lambda: res.skipped_items,
                              force=True)
                cm.files_stage("triples_log", [
                    str(p) for p in P(self.kg.triples_path).glob("part-*")])
                sp.attrs["bytes_written"] = dir_bytes(snaps)
        counts = {"n_entity_types": et.count(),
                  "n_relationship_types": rt.count(),
                  "n_skipped": sk.count(),
                  "appended": appended}
        shutil.rmtree(side, ignore_errors=True)
        return counts

    @staticmethod
    def op_counts(checked: dict) -> dict:
        return {k: v for k, v in checked.items()
                if k not in ("query_kind", "triples")}


WORKLOADS = {"abox_bulk": AboxBulk, "live_graph": LiveGraph}
SETUP_REPS = 3


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(tr, op_rows: list[dict], k: int) -> dict:
    """Per-layer metrics from the traced replays (median per op) and from
    the untraced ops' status-store counters (``job.*``)."""
    by: dict[str, list] = {}
    for i, s in enumerate(tr.spans):
        by.setdefault(s.name, []).append((i, s))

    def med(name, fn):
        vals = [fn(i, s) for i, s in by.get(name, [])]
        return _median(vals)

    def sub(i):
        return tr.subtree(i)

    job_rows = [r for r in op_rows if r["kind"] in ("build", "ingest")] \
        or op_rows
    m = {
        "extract.busy_s": med("extract", lambda i, s: sub(i).executor_s),
        "extract.triples_out": med("extract",
                                   lambda i, s: s.attrs["triples_out"]),
        "extract.parse_errors": med("extract",
                                    lambda i, s: s.attrs["parse_errors"]),
        "canon.busy_s": med("canon", lambda i, s: s.counts.executor_s),
        "canon.rows_in": med("canon", lambda i, s: s.attrs["rows_in"]),
        "canon.rows_out": med("canon", lambda i, s: s.attrs["rows_out"]),
        "canon.shuffle_write_mb": med(
            "canon", lambda i, s: s.counts.shuffle_write_bytes / MB),
        "pipeline.call_s": med("pipeline.call", lambda i, s: s.wall_s),
        "pipeline.exec_s": med("pipeline.exec", lambda i, s: s.wall_s),
        "pipeline.jobs": med("pipeline", lambda i, s: sub(i).jobs),
        "pipeline.stages": med("pipeline", lambda i, s: sub(i).stages),
        "dtdl.exec_s": med("dtdl", lambda i, s: s.wall_s),
        "dtdl.jobs": med("dtdl", lambda i, s: sub(i).jobs),
        "cdm.exec_s": med("cdm", lambda i, s: s.wall_s),
        "cdm.jobs": med("cdm", lambda i, s: sub(i).jobs),
        "validate.exec_s": med("validate", lambda i, s: s.wall_s),
        "validate.jobs": med("validate", lambda i, s: sub(i).jobs),
        "validate.stages": med("validate", lambda i, s: sub(i).stages),
        "sinks.write_s": med("sinks", lambda i, s: s.wall_s),
        "sinks.jobs": med("sinks", lambda i, s: sub(i).jobs),
        "sinks.bytes_written_mb": med(
            "sinks", lambda i, s: s.attrs["bytes_written"] / MB),
        "job.jobs": _median([r["counts"].jobs for r in job_rows]),
        "job.stages": _median([r["counts"].stages for r in job_rows]),
        "job.tasks": _median([r["counts"].tasks for r in job_rows]),
        "job.input_mrows": _median(
            [r["counts"].input_rows / 1e6 for r in job_rows]),
        "job.shuffle_write_mb": _median(
            [r["counts"].shuffle_write_bytes / MB for r in job_rows]),
        "job.executor_busy_frac": _median(
            [r["counts"].executor_s / (r["wall_s"] * k) for r in job_rows]),
        "stream.extract_s": med("stream.extract", lambda i, s: s.wall_s),
        "stream.triples_appended": med(
            "stream.extract", lambda i, s: s.attrs["triples_appended"]),
        "checkpoint.commit_s": med("checkpoint.commit",
                                   lambda i, s: s.wall_s),
        "checkpoint.bytes_written_mb": med(
            "checkpoint.commit", lambda i, s: s.attrs["bytes_written"] / MB),
        "incremental.ingest_jobs": _median(
            [r["counts"].jobs for r in op_rows if r["kind"] == "ingest"]),
        "sparql.parse_s": med("sparql.parse", lambda i, s: s.wall_s),
        "bgp.construct_s": med("bgp.construct", lambda i, s: s.wall_s),
        "bgp.exec_s": med("bgp.exec", lambda i, s: s.wall_s),
        "bgp.jobs_per_query": med(
            "query", lambda i, s: sub(i).jobs),
        "bgp.stages_per_query": med(
            "query", lambda i, s: sub(i).stages),
        "trace.overhead_frac": _median(
            [r["traced_s"] / r["wall_s"] - 1 for r in op_rows
             if "traced_s" in r]),
        "trace.group_job_frac": _group_frac(tr),
    }
    return m


def _group_frac(tr) -> float:
    """Share of traced jobs found by their span's own job group (the rest
    ran on pool or streaming threads and were attributed by job id)."""
    jobs = sum(s.counts.jobs for s in tr.spans)
    return sum(s.counts.group_jobs for s in tr.spans) / jobs if jobs else 0.0


UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_mrows": "Mrows"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------

def run(args) -> dict:
    scratch = ROOT / ".perfbench_run" / str(os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    spark = None
    try:
        spark, k = start_session(scratch)
        t_session = time.perf_counter() - T_START
        wl = WORKLOADS[args.workload](spark, args.seed, scratch)
        prep = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)

        from spans import StatusStore, Tracer
        tracer = Tracer(spark.sparkContext) if args.trace else None
        counters = OpCounters(StatusStore(spark.sparkContext)) \
            if args.trace else None
        rows, errors = [], []

        def do_op(op_id: int, kind: str, setup: bool = False) -> None:
            row = {"kind": kind, "op": op_id, "setup": setup}
            try:
                if counters:
                    counters.before()
                t = time.perf_counter()
                result = wl.run_op(kind)
                row["wall_s"] = time.perf_counter() - t
                if counters:
                    row["counts"] = counters.after()
                errs, checked = wl.check(kind, result)
                row["checked"] = checked
                if tracer is not None and not errs:
                    t = time.perf_counter()
                    replayed = wl.replay(tracer, op_id, kind)
                    row["traced_s"] = time.perf_counter() - t
                    want = wl.op_counts(checked)
                    if replayed != {k2: want[k2] for k2 in replayed}:
                        errs.append(f"replay counts {replayed} != {want}")
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                errs = [f"{type(e).__name__}: {e}"]
            if errs:
                errors.append({"op": op_id, "kind": kind, "errors": errs})
            else:
                rows.append(row)

        attempted = 0
        for kind in wl.SETUP_OPS:
            attempted += 1
            do_op(attempted, kind, setup=True)
        setup_s = t_session + statistics.median(prep) + sum(
            r["wall_s"] for r in rows)
        t_run = time.perf_counter()
        while attempted == len(wl.SETUP_OPS) or \
                time.perf_counter() - t_run < args.seconds:
            attempted += 1
            do_op(attempted, wl.next_op())
        failed = len(errors)

        peak = jvm_peak_rss_mb(spark)
        out = {"setup_s": setup_s, "setup_reps": len(prep),
               "rows": rows, "errors": errors, "attempted": attempted,
               "failed": failed, "peak_rss_mb": peak, "cores": k}
        if tracer is not None:
            out["layers"] = layer_metrics(tracer, rows, k)
            odir = ROOT / ".perfbench_out"
            odir.mkdir(exist_ok=True)
            (odir / f"trace-{args.workload}-{args.seed}.json").write_text(
                json.dumps({"spans": tracer.to_json(),
                            "ops": [{key: (vars(v) if key == "counts" else v)
                                     for key, v in r.items()}
                                    for r in rows]}, default=str))
        return out
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            (ROOT / ".perfbench_run").rmdir()
        except OSError:
            pass


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(metric → value, metric → sample count)."""
    rows = res["rows"]
    builds = [r for r in rows if r["kind"] in ("build", "ingest")]
    by_kind: dict[str, list] = {}
    for r in rows:
        if r["kind"] in ("build", "query") and not r["setup"]:
            by_kind.setdefault(r["checked"].get("query_kind", r["kind"]),
                               []).append(r["wall_s"])
    tps = [r["checked"]["triples"] / r["wall_s"] for r in builds]
    # each kind's median, so that no kind's share of the run's samples
    # weighs on the result; the geometric mean, so that every kind's
    # relative change counts alike. No percentile above the median has
    # ten samples beyond it in one run (about 40 queries, or one build)
    kind_medians = [statistics.median(ws) for ws in by_kind.values()]
    vals = {"setup_s": res["setup_s"],
            "op_latency_s": statistics.geometric_mean(kind_medians)
            if kind_medians else float("nan"),
            "triples_per_s": _median(tps, float("nan")),
            "peak_rss_mb": res["peak_rss_mb"]}
    n = {"setup_s": res["setup_reps"],
         "op_latency_s": sum(len(ws) for ws in by_kind.values()),
         "triples_per_s": len(tps), "peak_rss_mb": 1}
    return vals, n


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG}/ not found under {ROOT}",
              file=sys.stderr)
        return 2

    res = run(args)
    for e in res["errors"]:
        print(f"FAILED op {e['op']} ({e['kind']}): {'; '.join(e['errors'])}")
    by_kind: dict[str, list] = {}
    for r in res["rows"]:
        key = r["checked"].get("query_kind", r["kind"])
        by_kind.setdefault(key, []).append(r["wall_s"])
    for key, ws in sorted(by_kind.items()):
        print(f"# {key}: n={len(ws)} " + " ".join(f"{w:.3f}" for w in ws))
    print(f"# failed_frac={res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']}), cores={res['cores']}")
    if args.trace:
        metrics = {name: {"value": v, "unit": unit_of(name)}
                   for name, v in res["layers"].items()}
    else:
        vals, n = end_to_end(res)
        metrics = {}
        for name, v in vals.items():
            unit = {"triples_per_s": "triples/s", "peak_rss_mb": "MB"} \
                .get(name, "s")
            print(f"{name} {v:.6g} {unit} (n={n[name]})")
            metrics[name] = {"value": v, "unit": unit}
    if args.trace:
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    correct = res["failed"] == 0 and bool(res["rows"])
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
