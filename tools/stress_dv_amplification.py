"""Deletion-vector write-amplification stress: merge-on-read vs
copy-on-write on SCATTERED small batches against a large table.

The adversarial shape for copy-on-write pruning is a batch whose keys
spread uniformly across every file's range — pruning saves nothing and
the merge rewrites the whole table to change a few thousand rows.
Merge-on-read exists for exactly this shape: matched rows go into DV
sidecars, images append, and write cost collapses to O(batch).

Measures, per daily cycle over ``--cycles`` scattered batches:

* bytes written per commit (data + sidecars) for MoR vs CoW
* wall per merge
* read overhead of the DV'd table vs the clean CoW table (full-scan
  agg) as DV mass accumulates
* the maintain() purge at the end: cost and post-purge read wall

Also verifies row-identical state between the two tables every cycle
(exceptAll both ways == 0) — a stress that lies about correctness
measures nothing.

Long-horizon mode: ``--maintain-every N`` interleaves the production
maintenance policy (``maintain()``: DV purge + small-file compact +
overlap recluster) every N cycles on the MoR table — the steady-state
probe: file count, DV mass, and read walls must stay BOUNDED over the
horizon instead of growing with history.

Usage: python tools/stress_dv_amplification.py [n_rows] [cycles] [out_json] [--maintain-every N]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def table_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def main() -> int:
    argv = list(sys.argv[1:])
    maintain_every = 0
    if "--maintain-every" in argv:
        i = argv.index("--maintain-every")
        maintain_every = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    segmented = "--segmented" in argv
    if segmented:
        argv.remove("--segmented")
    n_rows = int(argv[0]) if len(argv) > 0 else 5_000_000
    cycles = int(argv[1]) if len(argv) > 1 else 10
    out_json = argv[2] if len(argv) > 2 else None
    batch = 2_000

    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    if segmented:
        # force the big-table manifest storage form: every commit in
        # the run exercises segment carry + carried-by-base DV edits
        VersionedParquetTable.manifest_inline_max = 8
        VersionedParquetTable.manifest_segment_rows = 16

    spark = get_spark("stress-dv")
    base = f"/tmp/spark_graft_stress_dv/{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)

    def build(path):
        t = VersionedParquetTable(path)
        t.commit_with_manifest(
            spark.range(n_rows).select(
                F.col("id").alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
                F.lit("base").alias("status"),
            ),
            "k",
            cluster_partitions=32,
        )
        return t

    roots = {m: os.path.join(base, m) for m in ("mor", "cow")}
    tabs = {m: build(p) for m, p in roots.items()}
    per_cycle = []
    for c in range(cycles):
        # scattered: one key per stride, shifted per cycle — touches
        # every file's range, updates `batch` rows + inserts a few
        stride = n_rows // batch
        src = spark.range(batch).select(
            (F.col("id") * stride + c * 37 % stride).alias("k"),
            F.sha2((F.col("id") + c * 1000).cast("string"), 256).alias(
                "payload"
            ),
            F.lit(f"c{c}").alias("status"),
        ).unionAll(
            spark.range(50).select(
                (F.lit(n_rows + c * 50) + F.col("id")).alias("k"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
                F.lit(f"ins{c}").alias("status"),
            )
        )
        row = {"cycle": c}
        for m in ("mor", "cow"):
            b0 = table_bytes(roots[m])
            t0 = time.time()
            stats = merge_upsert_write_pruned(
                roots[m], src, "k", write_mode=m, vacuum_keep_last=2
            )
            row[m] = {
                "wall_s": round(time.time() - t0, 2),
                "bytes_rewritten": stats["bytes_rewritten"],
                "files_touched": stats["files_touched"],
                "write_mode": stats["write_mode"],
                "disk_delta": table_bytes(roots[m]) - b0,
            }
            if m == "mor":
                row[m]["dv_rows_added"] = stats.get("dv_rows_added")
        # full-scan read wall on each (DV overhead as mass accumulates)
        for m in ("mor", "cow"):
            t0 = time.time()
            tabs[m].read(spark).agg(F.count("*"), F.max("k")).collect()
            row[f"{m}_read_s"] = round(time.time() - t0, 2)
        a, b = tabs["mor"].read(spark), tabs["cow"].read(spark)
        row["diff"] = a.exceptAll(b).count() + b.exceptAll(a).count()
        if maintain_every and (c + 1) % maintain_every == 0:
            t0 = time.time()
            mres = tabs["mor"].maintain(spark, min_file_bytes=8 << 20)
            man_now = tabs["mor"].manifest(tabs["mor"].current_version())
            row["maintain"] = {
                "wall_s": round(time.time() - t0, 2),
                "actions": [x["action"] for x in mres["actions"]],
                "files_after": len(man_now["files"]),
                "dv_rows_after": sum(
                    e["dv"]["rows"]
                    for e in man_now["files"]
                    if e.get("dv")
                ),
            }
        per_cycle.append(row)
        print(json.dumps(row), flush=True)
        assert row["diff"] == 0, "MoR diverged from CoW"

    # the purge: fold accumulated DVs back into clean files
    man = tabs["mor"].manifest(tabs["mor"].current_version())
    dv_rows = sum(
        e["dv"]["rows"] for e in man["files"] if e.get("dv")
    )
    t0 = time.time()
    m = tabs["mor"].maintain(
        spark, max_dv_ratio=0.0, max_small_files=10_000
    )
    purge = {
        "purge_wall_s": round(time.time() - t0, 2),
        "dv_rows_purged": dv_rows,
        "actions": [a["action"] for a in m["actions"]],
    }
    t0 = time.time()
    tabs["mor"].read(spark).agg(F.count("*")).collect()
    purge["post_purge_read_s"] = round(time.time() - t0, 2)
    print(json.dumps(purge), flush=True)

    tot = lambda m, f: sum(r[m][f] for r in per_cycle)
    summary = {
        "n_rows": n_rows,
        "cycles": cycles,
        "batch": batch,
        "mor_bytes_total": tot("mor", "bytes_rewritten"),
        "cow_bytes_total": tot("cow", "bytes_rewritten"),
        "amplification_ratio": round(
            tot("cow", "bytes_rewritten")
            / max(1, tot("mor", "bytes_rewritten")),
            1,
        ),
        "mor_wall_total_s": round(tot("mor", "wall_s"), 1),
        "cow_wall_total_s": round(tot("cow", "wall_s"), 1),
        "read_overhead_last_cycle_s": [
            per_cycle[-1]["mor_read_s"],
            per_cycle[-1]["cow_read_s"],
        ],
        **purge,
    }
    print(json.dumps(summary), flush=True)
    if out_json:
        with open(out_json, "w") as f:
            json.dump({"per_cycle": per_cycle, "summary": summary}, f)
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
