"""Predicate-pruned DML probe (r9): retention delete scan narrowing.

Stages a 4M-row ts-keyed table in 64 files and runs the same
1/64-band retention DELETE twice — once as the prunable
``ts < cutoff`` (manifest stats admit 1 candidate file) and once as a
selectivity-identical but UNPRUNABLE arithmetic predicate (every file
opened).  Reports candidate-file counts and walls, plus the read_where
walls for the same predicate pair.
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

N, FILES = 4_000_000, 64


def stage(root):
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedParquetTable(root)
    t.commit_with_manifest(
        spark.range(N).select(
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("id").cast("double"))
            ).alias("ts"),
            F.col("id").alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("s"),
        ),
        "ts",
        cluster_partitions=FILES,
    )
    return t


cut = datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=N // FILES)
cut_sql = f"TIMESTAMP '{cut.strftime('%Y-%m-%d %H:%M:%S')}'"
prunable = f"ts < {cut_sql}"
# same rows, expressed so no atom is whitelisted (datediff arithmetic)
unprunable = f"unix_micros(ts) < {int(cut.timestamp() * 1_000_000)}"

out = {"rows": N, "files": FILES}

t1 = stage("/tmp/predprune_a")
man = t1.manifest(t1.current_version())
out["cand_files_prunable"] = len(t1._prune_where(spark, man, prunable))
out["cand_files_unprunable"] = len(t1._prune_where(spark, man, unprunable))

t0 = time.time()
r1 = t1.delete_where(spark, prunable)
out["delete_pruned_sec"] = round(time.time() - t0, 3)
out["rows_deleted"] = r1["rows_deleted"]

t2 = stage("/tmp/predprune_b")
t0 = time.time()
r2 = t2.delete_where(spark, unprunable)
out["delete_unpruned_sec"] = round(time.time() - t0, 3)
out["same_rows"] = bool(
    r1["rows_deleted"] == r2["rows_deleted"]
    and t1.read(spark).count() == t2.read(spark).count()
)

t3 = stage("/tmp/predprune_c")


def wall(df):
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return round(time.time() - t0, 3)


out["read_where_pruned_sec"] = wall(t3.read_where(spark, prunable))
out["read_where_unpruned_sec"] = wall(t3.read_where(spark, unprunable))

print(json.dumps(out))
for d in ("/tmp/predprune_a", "/tmp/predprune_b", "/tmp/predprune_c"):
    shutil.rmtree(d, ignore_errors=True)
