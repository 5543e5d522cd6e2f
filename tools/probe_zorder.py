"""Z-order vs linear clustering: multi-dimensional file-skip probe (r9).

Stages a 2M-row table in 64 files twice — key-range-clustered and
Morton-clustered over (k, b) — and measures, for a ~2%-selectivity
range predicate on EACH dimension: files a stats-pruned scan must
read, and the read_range wall.  Also records the optimize_zorder
rewrite wall and, for the temporal-stats layer, the same comparison
on a timestamp-keyed table probed on its ts dimension.
"""
import datetime
import json
import shutil
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession, functions as F

from airflow_embeddings_pipeline_spark.sources.versioned import (
    VersionedParquetTable,
    _stat_canon,
)

spark = (
    SparkSession.builder.master("local[16]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

N, FILES = 2_000_000, 64
DF = spark.range(N).select(
    F.col("id").alias("k"),
    ((F.col("id") * 2654435761) % N).alias("b"),
    F.concat(F.lit("payload-"), F.col("id")).alias("s"),
)


def touched(t, col, lo, hi):
    man = t.manifest(t.current_version())
    lo, hi = _stat_canon(lo), _stat_canon(hi)
    kept = 0
    for e in man["files"]:
        if man.get("key") == col:
            r = (e["min"], e["max"])
        else:
            s = (e.get("stats") or {}).get(col)
            r = (s[0], s[1]) if s else (None, None)
        if r[0] is None or (r[1] >= lo and r[0] <= hi):
            kept += 1
    return kept, len(man["files"])


def wall(df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


out = {"rows": N, "files": FILES}

# -- linear (key-range) layout
shutil.rmtree("/tmp/zorder_probe_lin", ignore_errors=True)
tl = VersionedParquetTable("/tmp/zorder_probe_lin")
tl.commit_with_manifest(
    DF, "k", cluster_partitions=FILES, stats_columns=["k", "b"]
)
sel = N // 50  # ~2% selectivity on each dim
out["linear"] = {
    "k_files": touched(tl, "k", 10 * sel, 11 * sel)[0],
    "b_files": touched(tl, "b", 10 * sel, 11 * sel)[0],
    "k_scan_sec": wall(tl.read_range(spark, "k", 10 * sel, 11 * sel)),
    "b_scan_sec": wall(tl.read_range(spark, "b", 10 * sel, 11 * sel)),
}

# -- z-order layout
shutil.rmtree("/tmp/zorder_probe_z", ignore_errors=True)
tz = VersionedParquetTable("/tmp/zorder_probe_z")
tz.commit_with_manifest(
    DF, "k", cluster_partitions=FILES, stats_columns=["k", "b"]
)
t0 = time.time()
res = tz.optimize_zorder(spark, ["k", "b"], buckets=64, cluster_partitions=FILES)
out["zorder_rewrite_sec"] = round(time.time() - t0, 3)
out["zorder"] = {
    "k_files": touched(tz, "k", 10 * sel, 11 * sel)[0],
    "b_files": touched(tz, "b", 10 * sel, 11 * sel)[0],
    "k_scan_sec": wall(tz.read_range(spark, "k", 10 * sel, 11 * sel)),
    "b_scan_sec": wall(tz.read_range(spark, "b", 10 * sel, 11 * sel)),
}
n_match = (
    tz.read_range(spark, "b", 10 * sel, 11 * sel).count()
    == tl.read_range(spark, "b", 10 * sel, 11 * sel).count()
)
out["content_match"] = bool(n_match)

# -- temporal stats: ts-keyed table, time-window probe
shutil.rmtree("/tmp/zorder_probe_ts", ignore_errors=True)
tt = VersionedParquetTable("/tmp/zorder_probe_ts")
tt.commit_with_manifest(
    spark.range(N).select(
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("double"))
        ).alias("ts"),
        F.col("id").alias("k"),
    ),
    "ts",
    cluster_partitions=FILES,
)
lo = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=10 * sel)
hi = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=11 * sel)
out["temporal"] = {
    "ts_files": touched(tt, "ts", lo, hi)[0],
    "ts_scan_sec": wall(tt.read_range(spark, "ts", lo, hi)),
    "ts_rows": tt.read_range(spark, "ts", lo, hi).count(),
}

print(json.dumps(out))
for d in ("/tmp/zorder_probe_lin", "/tmp/zorder_probe_z", "/tmp/zorder_probe_ts"):
    shutil.rmtree(d, ignore_errors=True)
