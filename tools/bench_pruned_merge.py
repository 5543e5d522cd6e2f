"""Pruned-MERGE micro-benchmark: is bytes_rewritten bounded by the
touched-file mass rather than the table size?

Builds a range-clustered versioned target (N rows, ~120 B/row payload,
32 files), then merges batches of different key spreads:

* narrow   — contiguous key run inside ~1 file's range (the daily
             incremental design point)
* scattered — keys spread uniformly across every file's range (the
             adversarial worst case: pruning can save nothing)
* full-rewrite — the same narrow batch merged against the whole
             table and committed as a plain full version
             (``table.commit(merge_upsert(table.read(spark), ...))``)
             for the wall/bytes comparison

Usage: python tools/bench_pruned_merge.py [n_rows] [out_json]
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
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    out_json = sys.argv[2] if len(sys.argv) > 2 else None

    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    spark = get_spark("bench-pruned-merge")
    root = f"/tmp/spark_graft_bench_pruned/{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)

    def build_target(path: str) -> VersionedParquetTable:
        target = spark.range(n_rows).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            F.lit("base").alias("status"),
        )
        t = VersionedParquetTable(path)
        t.commit_with_manifest(target, "k", cluster_partitions=32)
        return t

    def batch(keys_df):
        return keys_df.select(
            F.col("k"),
            F.sha2(F.concat(F.lit("u"), F.col("k").cast("string")), 256).alias(
                "payload"
            ),
            F.lit("upd").alias("status"),
        )

    results = []

    # ---- narrow batch: 1k contiguous keys + 100 inserts above range
    path_a = os.path.join(root, "narrow")
    t = build_target(path_a)
    tbytes = table_bytes(path_a)
    narrow = batch(spark.range(1000).select((F.col("id") + 5000).alias("k")))
    ins = batch(
        spark.range(100).select((F.col("id") + 10 * n_rows).alias("k"))
    )
    t0 = time.time()
    stats = merge_upsert_write_pruned(
        path_a, narrow.unionAll(ins), "k", vacuum_keep_last=None
    )
    results.append(
        {
            "case": "pruned_narrow_1k",
            "wall_s": round(time.time() - t0, 2),
            "table_bytes": tbytes,
            **stats,
        }
    )

    # ---- scattered batch: 1k keys uniform across the whole key space
    path_b = os.path.join(root, "scatter")
    t = build_target(path_b)
    tbytes = table_bytes(path_b)
    stride = n_rows // 1000
    scattered = batch(spark.range(1000).select((F.col("id") * stride).alias("k")))
    t0 = time.time()
    stats = merge_upsert_write_pruned(
        path_b, scattered, "k", vacuum_keep_last=None
    )
    results.append(
        {
            "case": "pruned_scattered_1k",
            "wall_s": round(time.time() - t0, 2),
            "table_bytes": tbytes,
            **stats,
        }
    )

    # ---- full-rewrite comparison on the narrow batch
    path_c = os.path.join(root, "full")
    t = build_target(path_c)
    tbytes = table_bytes(path_c)
    t0 = time.time()
    v = t.commit(merge_upsert(t.read(spark), narrow.unionAll(ins), "k"))
    wall = round(time.time() - t0, 2)
    vdir = os.path.join(path_c, f"v{v:08d}")
    results.append(
        {
            "case": "full_rewrite_narrow_1k",
            "wall_s": wall,
            "table_bytes": tbytes,
            "version": v,
            "bytes_rewritten": table_bytes(vdir),
        }
    )

    for r in results:
        print(json.dumps(r))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump({"n_rows": n_rows, "results": results}, fh, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
