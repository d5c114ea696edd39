"""Per-query profiling harness (NOT the driver bench — see bench.py).

For each query: time plan construction (which includes any driver-side
actions the operator performs, e.g. iterative-loop convergence counts)
separately from noop-sink execution, and count the Spark jobs each phase
submitted. Guide §1.1/§1.4: find where the time actually goes before
changing anything.

Usage: python bench_extra.py [query ...]   (default: all bench queries)
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from rdf_dtdl_fabric_ontology_converter_spark.session import build_session  # noqa: E402


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:] or BENCH_QUERIES
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    spark = build_session(
        app="bench_extra", master=f"local[{cpus}]",
        shuffle_partitions=max(int(cpus) * 2, 8),
        extra={"spark.ui.enabled": "false",
               "spark.driver.memory": os.environ.get(
                   "SPARK_GRAFT_DRIVER_MEM", "16g")})
    sc = spark.sparkContext
    qs = entrymod.queries()

    # full-shape warmup as bench.py does
    from bench import run_extraction_bench
    run_extraction_bench(spark, 512)

    tracker = sc.statusTracker()

    def n_jobs(group):
        # jobs submitted under this run's own job group
        return len(tracker.getJobIdsForGroup(group))

    out = {}
    for name in names:
        best = None
        for i in range(runs):
            group = f"{name}-{i}"
            sc.setJobGroup(group, name)
            j0 = n_jobs(group)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            j1 = n_jobs(group)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            j2 = n_jobs(group)
            rec = {"construct_s": round(t1 - t0, 3),
                   "exec_s": round(t2 - t1, 3),
                   "total_s": round(t2 - t0, 3),
                   "jobs_construct": j1 - j0,
                   "jobs_exec": j2 - j1}
            if best is None or rec["total_s"] < best["total_s"]:
                best = rec
            sc.setJobGroup(f"{name}-done", name)
        out[name] = best
        print(json.dumps({name: best}), file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
