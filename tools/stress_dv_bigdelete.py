"""Large-DV stress: a rewrite-scale DELETE/UPDATE flows through the
DISTRIBUTED deletion-vector path with NO driver position collect.

The r8 design capped DV construction at 2M positions because matched
``(file, pos)`` pairs were collected to the driver; r9 replaced that
with an executor-side sidecar write (``_dv_write_sidecar_distributed``:
delta ∪ prior positions repartitioned by file, validated by an
Observation riding the write).  This stress proves the cap's removal:

* stage an N-row table (default 25M rows, 32 files)
* ``delete_where`` matching ~45% of it (>10M positions) — far above
  the old 2M collect cap
* verify logical row count, per-file DV accounting, a point read,
  and that a follow-up UPDATE over the DV'd table stays correct
* ``maintain()`` purge at the end folds the heavy DVs back into clean
  files — the full lifecycle at this mass

Records walls + sidecar bytes; the driver never materializes a
position list (the only collects are per-file count rows).

Usage: python tools/stress_dv_bigdelete.py [n_rows] [out_json]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def sidecar_bytes(root: str) -> int:
    tot = 0
    for p in glob.glob(os.path.join(root, "v*", "dv-*")):
        if os.path.isdir(p):
            tot += sum(
                os.path.getsize(os.path.join(p, f)) for f in os.listdir(p)
            )
        else:
            tot += os.path.getsize(p)
    return tot


def main() -> int:
    argv = [a for a in sys.argv if a != "--segmented"]
    segmented = "--segmented" in sys.argv
    sys.argv = argv
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 25_000_000
    out_json = sys.argv[2] if len(sys.argv) > 2 else None
    # delete fraction knob: buckets below this of 97 match (default 44
    # ~ 45%); at very large n_rows pick a value keeping the mass under
    # the max_dv_rows POLICY cap (the cap is the product's contract —
    # the stress proves scale within it, not around it)
    bucket_lt = int(sys.argv[3]) if len(sys.argv) > 3 else 44

    from pyspark.sql import SparkSession

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    # size the session to the SF (the repo's own scale guidance): the
    # end-of-run purge rewrites the full live mass, and a 250M-row run
    # shuffle-anti-joins a ~100M-position DV — 32 partitions on a 16g
    # heap hit UNABLE_TO_ACQUIRE_MEMORY; over-partitioning is cheap
    # (AQE coalesces) and the host has the RAM
    if segmented:
        # big-table manifest form forced: the distributed-DV commit
        # then exercises the carried-by-base segment edit too
        VersionedParquetTable.manifest_inline_max = 8
        VersionedParquetTable.manifest_segment_rows = 16

    shuffle_parts = max(32, n_rows // 2_000_000)
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = "/tmp/dv_bigdelete_stress"
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedParquetTable(root)

    t0 = time.time()
    df = spark.range(n_rows).selectExpr(
        "id as k",
        "id % 97 as bucket",
        "concat('payload-', id) as s",
    )
    t.commit_with_manifest(df, "k", cluster_partitions=32)
    stage_wall = time.time() - t0
    print(f"staged {n_rows:,} rows in {stage_wall:.1f}s")

    # scattered rewrite-scale delete: ~45% of every file (the shape
    # where the old driver collect was fatal and CoW rewrites all)
    t0 = time.time()
    r = t.delete_where(spark, f"bucket < {bucket_lt}")
    del_wall = time.time() - t0
    expect_deleted = bucket_lt * (n_rows // 97) + min(
        bucket_lt, n_rows % 97
    )
    assert r["rows_deleted"] == expect_deleted, (
        r["rows_deleted"],
        expect_deleted,
    )
    assert r["rows_deleted"] > 10_000_000, "stress must exceed the old 2M cap"
    sc_bytes = sidecar_bytes(root)
    print(
        f"delete_where: {r['rows_deleted']:,} rows DV'd across "
        f"{r['files_affected']} files in {del_wall:.1f}s; sidecar "
        f"{sc_bytes/1e6:.1f} MB ({sc_bytes/r['rows_deleted']:.2f} B/row)"
    )

    live = n_rows - r["rows_deleted"]
    t0 = time.time()
    got = t.read(spark).count()
    read_wall = time.time() - t0
    assert got == live, (got, live)
    one = t.read(spark).filter(f"k = {bucket_lt}").collect()  # survives
    assert len(one) == 1 and one[0]["s"] == f"payload-{bucket_lt}"
    # k = bucket_lt - 1 sits in the deleted bucket range
    assert t.read(spark).filter(f"k = {bucket_lt - 1}").count() == 0
    print(f"read-back {got:,} live rows in {read_wall:.1f}s")

    # a second DML wave over the DV'd table: union-with-prior runs
    # executor-side too (prior DV mass is 11M+ positions)
    t0 = time.time()
    r2 = t.update_where(
        spark, "bucket = 50", {"s": "concat('upd-', k)"}
    )
    upd_wall = time.time() - t0
    exp_upd = n_rows // 97 + (1 if n_rows % 97 > 50 else 0)
    assert r2["rows_updated"] == exp_upd
    assert t.read(spark).filter("s like 'upd-%'").count() == r2["rows_updated"]
    assert t.read(spark).count() == live
    print(
        f"update_where over DV'd table: {r2['rows_updated']:,} rows in "
        f"{upd_wall:.1f}s (prior ∪ delta executor-side)"
    )

    t0 = time.time()
    m = t.maintain(spark, max_small_files=8)
    purge_wall = time.time() - t0
    man = t.manifest(t.current_version())
    assert not any(e.get("dv") for e in man["files"])
    assert t.read(spark).count() == live
    print(
        f"maintain() purge: {[a['action'] for a in m['actions']]} in "
        f"{purge_wall:.1f}s; table clean, {live:,} rows"
    )

    out = {
        "n_rows": n_rows,
        "rows_deleted": r["rows_deleted"],
        "stage_wall_sec": round(stage_wall, 2),
        "delete_wall_sec": round(del_wall, 2),
        "sidecar_bytes": sc_bytes,
        "sidecar_bytes_per_row": round(sc_bytes / r["rows_deleted"], 3),
        "read_wall_sec": round(read_wall, 2),
        "update_rows": r2["rows_updated"],
        "update_wall_sec": round(upd_wall, 2),
        "purge_wall_sec": round(purge_wall, 2),
    }
    print(json.dumps(out))
    if out_json:
        with open(out_json, "w") as f:
            json.dump(out, f, indent=2)
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
