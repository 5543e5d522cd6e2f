"""``ingest_merge``: the reference's daily loop as a closed loop of one
client.

Set-up loads the base documents into a primary ``VersionedParquetTable``;
a CDC replica is then seeded from it, outside set-up.  Each pass (one
cycle of the loop):

1. writes the next batch into the landing directory (not timed);
2. ``IncrementalPipeline.run``: watermark scan of the landing
   directory, the pipeline transform with ``latest_per_key``, and a
   sink of ``merge_upsert_write_pruned`` into the primary;
3. ``read_eq`` point lookups of sampled keys on the primary;
4. one ``sync_replica`` CDC round from the primary to the replica.

The first pass runs in the fresh process (``cold_pass_s`` and
``cold_pass_cpu_s``); the later ones (``harness.warm_passes``) give the
means ``warm_pass_s`` and ``warm_pass_cpu_s``.  With the default
budget that is three batches on a table with no earlier history, so the
growth of MERGE time over many commits is not measured here.  After
the loop, outside the timed region, the primary must equal a DuckDB
fold of the base and every landed batch, and the replica must equal
the primary.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow.parquet as pq

from . import harness as H

KEY = "main_refco"
LOOKUP_KEYS = 20

def _transform(df):
    """Landing documents -> embeddings-target rows, newest per key."""
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.functions.scalar import (
        derive_display_name,
        derive_main_refco,
        first_country,
        normalize_ref,
        timestamp_to_iso,
    )
    from airflow_embeddings_pipeline_spark.operators.dedup import latest_per_key

    ref = normalize_ref("cleaned_ref")
    d = df.filter(F.size("embeddings") > 0).select(
        ref.alias("cleaned_ref"),
        "category",
        derive_main_refco(ref, F.col("color")).alias(KEY),
        derive_display_name(F.col("source"), first_country(F.col("country"))).alias("display_name"),
        "embeddings_type",
        "for_matching",
        F.col("embeddings").alias("embedding_vector"),
        timestamp_to_iso("timestamp").alias("original_timestamp"),
        "timestamp",
    )
    return latest_per_key(d, KEY, "timestamp").drop("timestamp")


def _fold_sql(paths: list[str]) -> str:
    """DuckDB fold of every landed row: the newest row per key."""
    from airflow_embeddings_pipeline_spark.functions.scalar import (
        display_name_sql,
        main_refco_sql,
        normalize_ref_sql,
        timestamp_to_iso_sql,
    )

    files = ", ".join(f"'{p}'" for p in paths)
    ref = normalize_ref_sql("cleaned_ref")
    key = main_refco_sql(ref, "color")
    country = "CASE WHEN len(country) > 0 THEN country[1] END"
    return f"""
        SELECT * EXCLUDE (rn) FROM (
            SELECT {ref} AS cleaned_ref, category, {key} AS {KEY},
                   {display_name_sql("source", country)} AS display_name,
                   embeddings_type, for_matching,
                   embeddings AS embedding_vector,
                   {timestamp_to_iso_sql("timestamp")} AS original_timestamp,
                   row_number() OVER (PARTITION BY {key} ORDER BY timestamp DESC) AS rn
            FROM read_parquet([{files}]) WHERE len(embeddings) > 0
        ) WHERE rn = 1
    """


def _main_refco(k: int) -> str:
    """The key the transform derives for generated document ``k``."""
    color = ("", "red", "blue", "green", "black")[k % 5]
    return f" ref-{k:08d}e" + (f"_{color}" if color else "")


def _same(a, b) -> bool:
    """Row-for-row equality of two frames after sorting by key; vectors
    compared exactly as float32."""
    import numpy as np

    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    a = a.sort_values(KEY).reset_index(drop=True)
    b = b.sort_values(KEY).reset_index(drop=True)[list(a.columns)]
    for c in a.columns:
        if c == "embedding_vector":
            if not np.array_equal(np.stack(a[c]).astype(np.float32), np.stack(b[c]).astype(np.float32)):
                return False
        elif a[c].astype(str).tolist() != b[c].astype(str).tolist():
            return False
    return True


def _sizes(roots) -> dict[str, int]:
    out = {}
    for r in roots:
        for d, _, files in os.walk(r):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except OSError:
                    pass  # vacuumed between listing and stat
    return out


def _timed(tracer: H.Tracer, name: str, fn):
    def wrapper(*a, **kw):
        with tracer.span(name):
            return fn(*a, **kw)

    return wrapper


def _setup(env: H.Env, base_path: str, primary: str, tracer: H.Tracer):
    """Session start, base load into the primary and a warm-up action,
    SETUP_REPS times from an empty table; the last session and table
    stay."""
    from airflow_embeddings_pipeline_spark.sources.versioned import VersionedParquetTable

    walls, loads, spark = [], [], None
    for rep in range(H.SETUP_REPS):
        if spark is not None:
            spark.stop()
        shutil.rmtree(env.tables_dir, ignore_errors=True)
        with tracer.span("setup", cpu=True, rep=rep) as sp:
            spark = H.start_session(env, event_log=env.trace and rep == H.SETUP_REPS - 1)
            with tracer.span("registry.load") as ld:
                VersionedParquetTable(primary).commit_with_manifest(
                    _transform(spark.read.parquet(base_path)), KEY, cluster_partitions=2 * env.cpus
                )
            H.warm_up(spark, env.cpus, python_workers=False)
        walls.append(sp.dur)
        loads.append(ld.dur)
    return spark, walls, loads


def run(env: H.Env, *, seed: int, seconds: float, tracer: H.Tracer, corrupt: bool, batch_rows: int, base_rows: int) -> dict:
    import duckdb

    from airflow_embeddings_pipeline_spark.operators.merge import merge_upsert_write_pruned, sync_replica
    from airflow_embeddings_pipeline_spark.sources.versioned import VersionedParquetTable
    from airflow_embeddings_pipeline_spark.streaming.incremental import IncrementalPipeline, WatermarkStore

    from .datagen import ingest_inputs

    base, batches = ingest_inputs(seed, base_rows=base_rows, batch_rows=batch_rows)
    landing = os.path.join(env.data_dir, "landing")
    os.makedirs(landing)
    base_path = os.path.join(env.data_dir, "base.parquet")
    pq.write_table(base, base_path)
    primary, replica = os.path.join(env.tables_dir, "primary"), os.path.join(env.tables_dir, "replica")
    H.reset_peak_rss()
    spark, setup_walls, load_walls = _setup(env, base_path, primary, tracer)
    sc, tr, rng = spark.sparkContext, tracer, random.Random(seed)

    merges: list[dict] = []

    def sink(staged):
        with tr.span("merge") as sp:
            stats = merge_upsert_write_pruned(primary, staged, KEY)
        merges.append({**stats, "s": sp.dur})

    pipe = IncrementalPipeline(
        WatermarkStore(os.path.join(env.data_dir, "watermarks.json")),
        key_col="source",
        ts_col="timestamp",
        transform=_transform,
        sink=sink,
    )
    if env.trace:
        pipe.plan_incremental_scan = _timed(tr, "incremental.scan_plan", pipe.plan_incremental_scan)
        pipe.observed_watermarks = _timed(tr, "incremental.watermark", pipe.observed_watermarks)

    # the replica is seeded from the loaded primary, outside set-up
    p = VersionedParquetTable(primary)
    VersionedParquetTable(replica).commit_with_manifest(
        p.read(spark),
        KEY,
        cluster_partitions=2 * env.cpus,
        app_metadata={"cdc_last_applied_version": p.current_version()},
    )

    failures: list[str] = []
    attempted = 0
    passes: list[H.Span] = []
    sizes = _sizes([primary, replica])
    written, landed_bytes, meta_bytes, schema = 0, 0, [], None
    n_passes = 1 + H.warm_passes(seconds)
    while len(passes) < n_passes:
        i = len(passes)
        max_key, batch = next(batches)
        path = os.path.join(landing, f"batch-{i:05d}.parquet")
        pq.write_table(batch, path)
        landed_bytes += os.path.getsize(path)
        keys = sorted({_main_refco(rng.randrange(max_key)) for _ in range(LOOKUP_KEYS)})
        attempted += 3
        with tr.span("pass", cpu=True, idx=i) as ps:
            try:
                sc.setJobGroup(f"batch#{i}", "batch")
                with tr.span("batch", group=f"batch#{i}", rows=batch.num_rows) as sp:
                    if schema is None:
                        schema = spark.read.parquet(landing).schema
                    out = pipe.run(spark.read.schema(schema).parquet(landing))
                sp.attrs["incremental_rows"] = out["records_processed"]
                if out["records_processed"] != batch.num_rows:
                    failures.append(f"batch {i}: scanned {out['records_processed']} of {batch.num_rows} rows")
                sc.setJobGroup(f"read_eq#{i}", "read_eq")
                with tr.span("read_eq", group=f"read_eq#{i}"):
                    got = VersionedParquetTable(primary).read_eq(spark, KEY, keys).select(KEY).collect()
                if len(got) != len(keys):
                    failures.append(f"read_eq in pass {i}: {len(got)} rows for {len(keys)} keys")
                sc.setJobGroup(f"sync#{i}", "sync")
                with tr.span("sync", group=f"sync#{i}") as sp:
                    st = sync_replica(spark, primary, replica, KEY)
                sp.attrs["rows"] = st.get("rows_upserted", 0) + st.get("rows_deleted", 0)
            except Exception as e:  # noqa: BLE001 - an op failure is a measured outcome
                failures.append(f"pass {i}: {type(e).__name__}: {str(e)[:300]}")
        passes.append(ps)
        # bytes written under the table roots: files new or changed since
        # the previous listing (outside the pass span)
        now = _sizes([primary, replica])
        new = {p: s for p, s in now.items() if sizes.get(p) != s}
        written += sum(new.values())
        meta_bytes.append(sum(s for p, s in new.items() if p.startswith(primary) and os.path.basename(p).startswith("_")))
        sizes = now
    rss = H.peak_rss_mb(spark)

    # ---- output check, outside the timed region
    prim = VersionedParquetTable(primary).read(spark).toPandas()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        landed = [base_path] + sorted(os.path.join(landing, f) for f in os.listdir(landing))
        want = con.execute(_fold_sql(landed)).df()
    finally:
        con.close()
    if corrupt:
        want = want.iloc[:-1]
    attempted += 2
    if not _same(prim, want):
        failures.append("primary differs from the DuckDB fold of the landed batches")
    if not _same(VersionedParquetTable(replica).read(spark).toPandas(), prim):
        failures.append("replica differs from the primary")
    entries, _ = VersionedParquetTable(primary).file_entries(spark, KEY)
    live = sum(os.path.getsize(e["path"] if os.path.isabs(e["path"]) else os.path.join(primary, e["path"])) for e in entries)
    space_amp = sum(_sizes([primary]).values()) / live

    span_s = lambda n: [s.dur for s in tr.spans if s.name == n]  # noqa: E731
    batch_spans = [s for s in tr.spans if s.name == "batch"]
    batch_s = [s.dur for s in batch_spans]
    b_tail, b_pct = H.tail(batch_s)
    metrics, samples = H.end_to_end(tr, passes)
    result = {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "metrics": metrics,
        "info": {
            "peak_rss_mb": rss,
            "passes": len(passes),
            "batch_p50_s": H.median(batch_s),
            "batch_tail_s": b_tail,
            "batch_tail_pct": b_pct,
            "ingest_rows_per_s": sum(s.attrs["rows"] for s in batch_spans) / sum(batch_s),
            "lookup_p50_s": H.median(span_s("read_eq")),
            "cdc_sync_p50_s": H.median(span_s("sync")),
            "write_amp": written / landed_bytes,
            "space_amp": space_amp,
            "files_live": len(entries),
            "first_setup_s": setup_walls[0],
            "setup_samples": setup_walls,
            "pass_cpu_samples": [round(p.attrs["cpu_s"], 2) for p in passes],
            "fail_frac": len(failures) / attempted,
        },
        "samples": {**samples, "batch": len(batch_s), "read_eq": len(span_s("read_eq")), "sync": len(span_s("sync"))},
    }
    app_id = sc.applicationId
    spark.stop()
    if env.trace:
        result["layers"] = _layers(env, tr, passes, merges, meta_bytes, load_walls, app_id, result["info"])
    return result


def _layers(env, tr, passes, merges, meta_bytes, load_walls, app_id, info) -> dict:
    jobs = H.parse_event_log(env.event_dir, app_id)
    merge_spans = [s for s in tr.spans if s.name == "merge"]
    merge_jobs = [H.jobs_in(jobs, sp) for sp in merge_spans]
    batch_spans = [s for s in tr.spans if s.name == "batch"]
    mb = 1.0 / (1 << 20)
    span_s = lambda n: [s.dur for s in tr.spans if s.name == n]  # noqa: E731
    layers = {
        "registry.load_s": H.median(load_walls[1:]),
        "incremental.scan_plan_s": H.median(span_s("incremental.scan_plan")),
        "incremental.watermark_s": H.median(span_s("incremental.watermark")),
        "incremental.rows": H.median([s.attrs["incremental_rows"] for s in batch_spans]),
        # the pipeline's own time: batch minus scan planning, watermark
        # aggregation and the merge sink
        "incremental.self_s": H.median([H.self_time(s, tr) for s in batch_spans]),
        "merge.s": H.median([m["s"] for m in merges]),
        "merge.files_total": H.median([m["files_total"] for m in merges]),
        "merge.files_touched": H.median([m["files_touched"] for m in merges]),
        "merge.carried_frac": H.median([m["files_carried"] / max(1, m["files_total"]) for m in merges]),
        "merge.bytes_rewritten_mb": H.median([m["bytes_rewritten"] * mb for m in merges]),
        "merge.bytes_carried_mb": H.median([m["bytes_carried"] * mb for m in merges]),
        "merge.rebased": sum(bool(m.get("rebased")) for m in merges),
        "merge.jobs": H.median([len(j) for j in merge_jobs]),
        "merge.driver_gap_s": H.median([H.driver_gap(sp, j) for sp, j in zip(merge_spans, merge_jobs)]),
        "share.merge_of_batch": H.median([m.dur / b.dur for m, b in zip(merge_spans, batch_spans)]),
        "versioned.meta_kb": H.median([x / 1024 for x in meta_bytes]),
        "versioned.files_live": info["files_live"],
        "versioned.read_eq_s": info["lookup_p50_s"],
        "cdc.sync_s": info["cdc_sync_p50_s"],
        "cdc.rows": H.median([s.attrs.get("rows", 0) for s in tr.spans if s.name == "sync"]),
        "write_amp": info["write_amp"],
        "space_amp": info["space_amp"],
        "trace.cold_pass_s": passes[0].dur,
        "trace.warm_pass_s": H.median([p.dur for p in passes[1:]]),
    }
    layers.update(H.warm_spark_totals(jobs, passes[1:], env.cpus))
    return layers
