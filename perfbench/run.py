"""Benchmark of the spark-graft engine: one command per workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  Workloads (see README.md):

* ``llm_ops`` - five LLM-data catalog queries (dedup, text
  fingerprints, retrieval, ANN, multimodal) over a generated corpus;
* ``ingest_merge`` - incremental batches through ``IncrementalPipeline``
  into a pruned MERGE on a versioned table, with point lookups and a
  CDC replica sync after each batch.

Inputs are generated from ``--seed`` into a per-run temp dir under
``.perfbench/`` which is removed at exit.  Spark runs at
``local[<nproc>]``.  With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a separate traced run (spans around each public call, one job group
per op, an uncompressed Spark event log).  Human-readable details go to
the earlier lines.  The exit code is nonzero when any op fails or any
output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("llm_ops", "ingest_merge")
# the end-to-end figures of the result line (BENCHMARK.json bounds
# them); walls of the passes are printed above it.  On a shared host
# CPU steal spreads pass walls between runs about twice as far as the
# CPU seconds of the same passes (see README.md).
END_TO_END = ("setup_s", "cold_pass_cpu_s", "warm_pass_cpu_s")

# input sizes: corpus scale factor for llm_ops, base table and batch
# rows for ingest_merge ("tiny" is for the self-tests)
SIZES = {
    "full": {"sf": 0.02, "batch_rows": 1000, "base_rows": 4000},
    "tiny": {"sf": 0.001, "batch_rows": 60, "base_rows": 200},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full")
    p.add_argument(
        "--corrupt",
        action="store_true",
        help="corrupt one expected result (self-test of the output checks)",
    )
    return p.parse_args(argv)


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "airflow_embeddings_pipeline_spark", "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check_oracle.py")
    ):
        print(f"perfbench: no engine source under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=os.path.join(ROOT, ".perfbench"))
    # module-level settings of the engine are read at import: set first
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_GRAFT_LAYOUT_CACHE": os.path.join(tmp, "layout"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)
    try:
        return _run(a, tmp, cpus)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(a, tmp: str, cpus: int) -> int:
    import pyspark

    from perfbench import datagen
    from perfbench import harness as H

    env = H.Env(tmp, cpus, bool(a.trace))
    size = SIZES[a.size]
    tracer = H.Tracer()
    t0 = time.time()
    try:
        if a.workload == "ingest_merge":
            from perfbench import ingest

            inputs = {"batch_rows": size["batch_rows"], "base_rows": size["base_rows"]}
            res = ingest.run(env, seed=a.seed, seconds=a.seconds, tracer=tracer, corrupt=a.corrupt, **inputs)
        else:
            from perfbench import queries

            inputs = {"sf": size["sf"], "rows": datagen.write_corpus(env.data_dir, a.seed, size["sf"])}
            res = queries.run(env, queries.LLM, seed=a.seed, seconds=a.seconds, tracer=tracer, corrupt=a.corrupt)
    finally:
        H.stop_jvm()

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "cpus": cpus,
        "git_sha": _git_sha(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "inputs": inputs,
        "samples": res["samples"],
        "wall_s": round(time.time() - t0, 3),
        **res["info"],
    }
    if a.trace:
        record["layers"] = res["layers"]
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"))
    for f in res["failures"]:
        print(f"# FAILED {f}")
    print("# " + json.dumps(record, default=str))
    for name, (value, unit) in res["metrics"].items():
        print(f"# {name} = {value:.6g} {unit}")
    if a.trace:
        metrics = H.layer_metrics(res["layers"])
    else:
        metrics = {k: {"value": res["metrics"][k][0], "unit": res["metrics"][k][1]} for k in END_TO_END}
    correct = res["failed"] == 0
    print(
        json.dumps(
            {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
