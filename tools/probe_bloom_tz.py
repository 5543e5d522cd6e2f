"""Non-UTC-host bloom probe check (code-review finding, round 9).

PySpark materializes naive timestamps in the SYSTEM timezone
(``fromtimestamp``/``mktime``), while parquet stores UTC-normalized
micros — so a bloom that hashed naive probes as UTC returned false
NEGATIVES on any non-UTC host (silent duplicate inserts on temporal
merge keys).  ``_to_epoch_us`` now follows mktime semantics for naive
probes; this probe runs the end-to-end scenario under a forced
offset zone and must print the success line.

Run:  TZ=America/New_York python tools/probe_bloom_tz.py
(the TZ env must be set BEFORE the JVM starts — pytest's in-process
session cannot switch zones, hence a standalone probe)
"""
import shutil
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if time.timezone == 0 and not time.daylight:
        print("NOTE: system tz is UTC — run with TZ=America/New_York "
              "for the regression scenario; continuing (identity case)")
    from pyspark.sql import SparkSession

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/tzbloom_probe"
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedParquetTable(root)
    df = spark.range(4000).selectExpr(
        "timestamp'2020-01-01 00:00:00' + make_interval(0,0,0,0,0,0,"
        "id*61) as ts",
        "id as n",
    )
    t.commit_with_manifest(df, "n", cluster_partitions=8)
    t.add_bloom_index("ts")
    probe = t.read(spark).filter("n = 777").collect()[0]["ts"]
    got = [r["n"] for r in t.read_eq(spark, "ts", probe).collect()]
    assert got == [777], f"bloom false negative: {got}"
    src = spark.createDataFrame([(probe, 900777)], "ts timestamp, n long")
    merge_upsert_write_pruned(
        root, src, "ts", update_columns=["n"], vacuum_keep_last=None
    )
    assert t.read(spark).count() == 4000, "duplicate insert!"
    assert t.read(spark).filter("n = 900777").count() == 1
    print("bloom temporal probe + merge UPDATE correct under "
          f"system tz offset {-time.timezone / 3600}h")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
