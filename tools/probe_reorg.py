"""REORG vs purge-then-compact rewrite-bytes comparison (r9)."""
import os, sys, time, shutil
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
from airflow_embeddings_pipeline_spark.sources.versioned import VersionedParquetTable

spark = (SparkSession.builder.master("local[16]")
  .config("spark.sql.shuffle.partitions","16")
  .config("spark.sql.session.timeZone","UTC")
  .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

def stage(root):
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedParquetTable(root)
    # 24 small DV'd files: the both-signals state
    t.commit_with_manifest(
        spark.range(2_400_000).selectExpr(
            "id as k", "id * 2 as v", "concat('payload-', id) as s"
        ), "k", cluster_partitions=24)
    # DVs only in the LOWER half: 12 DV'd small files + 12 clean small
    # files — the shape where the old sequence rewrites the purge's own
    # (small) output a second time in the compact pass
    t.delete_where(spark, "k % 3 = 0 and k < 1200000")
    return t

def rewritten_bytes(t, v0):
    # a version's OWN output = entries its predecessor didn't hold
    # (prepared commits place new files under _staged/, so the old
    # v-prefix test would count zero)
    tot = 0
    for v in range(v0 + 1, t.current_version() + 1):
        prev = {e["path"] for e in t.manifest(v - 1)["files"]}
        tot += sum(e["bytes"] for e in t.manifest(v)["files"]
                   if e["path"] not in prev)
    return tot

# (a) combined reorg
ta = stage("/tmp/reorg_a"); v0 = ta.current_version()
t0 = time.time()
ma = ta.maintain(spark, max_small_files=4, max_dv_ratio=0.1)
wa = time.time() - t0
ba = rewritten_bytes(ta, v0)
na = ta.current_version() - v0
print("reorg:", [x["action"] for x in ma["actions"]], f"{ba/1e6:.1f} MB rewritten, {na} commits, {wa:.1f}s")

# (b) old sequence: purge alone (small-file trigger suppressed), then compact
tb = stage("/tmp/reorg_b"); v0 = tb.current_version()
t0 = time.time()
mb1 = tb.maintain(spark, max_small_files=10**9, max_dv_ratio=0.1)   # purge only
mb2 = tb.compact(spark)                            # then the small-file pass
wb = time.time() - t0
bb = rewritten_bytes(tb, v0)
nb = tb.current_version() - v0
print("purge-then-compact:", [x["action"] for x in mb1["actions"]], "+compact", f"{bb/1e6:.1f} MB rewritten, {nb} commits, {wb:.1f}s")

# identical final content
ra = sorted(map(tuple, ta.read(spark).collect()))
rb = sorted(map(tuple, tb.read(spark).collect()))
assert ra == rb and len(ra) == 2_000_000
print(f"content identical ({len(ra):,} rows); bytes ratio {bb/max(1,ba):.2f}x")
shutil.rmtree("/tmp/reorg_a", ignore_errors=True); shutil.rmtree("/tmp/reorg_b", ignore_errors=True)
