"""End-to-end incremental-pipeline probe at stress scale — the
reference's actual daily loop, composed from the engine's own pieces
and run as ONE multi-batch session with a crash/restart mid-stream:

    document_store streaming reader  (custom Python DataSource)
      → foreachBatch                 (availableNow drain per cycle)
        → file-PRUNED MERGE          (merge_upsert_write_pruned)
          → VersionedParquetTable    (manifest commit, pointer swap)

Each cycle appends one contiguous doc_id slice of the ×N corpus to the
store (new keys above every committed range — the daily-append shape)
plus a small low-key UPDATE slice (so the merge genuinely updates and
the pruning has low files to touch).  One chosen cycle's batch_fn
RAISES AFTER the merge commit but BEFORE Spark records the epoch —
the at-least-once window the reference closes with task ordering
(embeddings-pipeline.py:480).  The restarted stream replays that
epoch; the MERGE key makes the replay idempotent.

Proof obligations recorded:
  * content signature (order-independent xxhash64 sum) + row count of
    the crashed-and-restarted run EQUALS the no-crash control run
  * after the final drain, an extra drain commits NO new version
    (state advanced exactly once)
  * compaction pass over the ingested store: bytes_rewritten bounded
    by small-block mass, and the checkpointed stream offset is fenced
    loudly by the generation change afterwards

Usage: python tools/stress_incremental_e2e.py [sf_dir] [--scale N]
Prints one JSON line with the recorded evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_vs_reference import parse_args, scale_corpus  # noqa: E402

N_CYCLES = 5
UPD_KEYS = 1000  # low-key update slice re-emitted each cycle


def main() -> int:
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.document_store import (
        compact_document_store,
        register_document_store,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    sf_dir, scale = parse_args(sys.argv[1:])
    if scale == 1:
        scale = 100
    staged = scale_corpus(sf_dir, scale)
    spark = get_spark("stress-incremental-e2e")
    register_document_store(spark)

    docs = spark.read.parquet(os.path.join(staged, "documents.parquet"))
    n_total = docs.count()
    per = n_total // N_CYCLES

    root = f"/tmp/spark_graft_e2e/{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)

    def cycle_slice(k: int):
        lo, hi = k * per, (k + 1) * per if k < N_CYCLES - 1 else n_total
        fresh = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        if k == 0:
            return fresh
        # update slice stays strictly BELOW this cycle's fresh range:
        # the MERGE source contract is one row per key (the reference
        # window-dedups its staged batch before merging)
        upd = docs.filter(F.col("doc_id") < min(UPD_KEYS, lo)).withColumn(
            "text", F.concat(F.col("text"), F.lit(f" [rev{k}]"))
        )
        return fresh.unionByName(upd)

    def signature(df):
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # under ANSI mode (Spark 4 default)
        row = df.agg(
            F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        return int(row["h"]), int(row["n"])

    def run_session(tag: str, kill_cycle: int | None) -> dict:
        store = os.path.join(root, f"store_{tag}")
        target = os.path.join(root, f"target_{tag}")
        ckpt = os.path.join(root, f"ckpt_{tag}")
        killed = {"done": False}
        merges: list[dict] = []
        table = VersionedParquetTable(target)

        def batch_fn(df, epoch_id):
            batch = df.select("doc_id", "text", "lang", "source", "n_chars")
            if table.current_version() is None:
                table.commit_with_manifest(batch, "doc_id", cluster_partitions=8)
                merges.append({"epoch": epoch_id, "seed": True})
            else:
                stats = merge_upsert_write_pruned(
                    target, batch, "doc_id", vacuum_keep_last=None
                )
                merges.append({"epoch": epoch_id, **stats})
            if kill_cycle is not None and not killed["done"] and len(merges) == kill_cycle + 1:
                killed["done"] = True
                # the at-least-once window: sink committed, epoch not yet
                raise RuntimeError("injected crash AFTER merge commit")

        def drain():
            q = (
                spark.readStream.format("document_store")
                .option("path", store)
                .load()
                .writeStream.foreachBatch(batch_fn)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        t0 = time.time()
        crash_seen = False
        for k in range(N_CYCLES):
            (
                cycle_slice(k)
                # seed cycle lands as a few LARGE blocks (stay above the
                # compaction threshold, must survive untouched); later
                # cycles append many small ones (the compaction load)
                .repartition(4 if k == 0 else 32)
                .write.format("document_store")
                .option("path", store)
                .mode("append")
                .save()
            )
            try:
                drain()
            except Exception:
                crash_seen = True
                drain()  # restart: Spark replays the un-committed epoch
        versions_after = table.versions()
        # state advanced exactly once: an empty drain commits nothing
        drain()
        assert table.versions() == versions_after, "empty drain committed!"
        sig, n_rows = signature(table.read(spark))
        return {
            "tag": tag,
            "wall_s": round(time.time() - t0, 2),
            "crash_injected": kill_cycle is not None,
            "crash_seen": crash_seen,
            "n_cycles": N_CYCLES,
            "n_merges": len(merges),
            "versions": len(versions_after),
            "rows": n_rows,
            "signature": sig,
            "bytes_rewritten_total": sum(
                m.get("bytes_rewritten", 0) for m in merges
            ),
            "files_touched_last": merges[-1].get("files_touched"),
            "files_total_last": merges[-1].get("files_total"),
            "store": store,
            "ckpt": ckpt,
        }

    control = run_session("control", kill_cycle=None)
    crashed = run_session("crashed", kill_cycle=2)

    idempotent = (
        control["rows"] == crashed["rows"]
        and control["signature"] == crashed["signature"]
    )
    # replay = one extra merge (the replayed epoch), content unchanged
    replay_extra = crashed["n_merges"] - control["n_merges"]

    # ---- compaction over the ×N-ingested store + generation fencing
    big_blocks = sorted(
        os.path.getsize(os.path.join(control["store"], f))
        for f in os.listdir(control["store"])
        if f.endswith(".jsonl")
    )[-4:]
    comp = compact_document_store(
        control["store"], min_block_bytes=4 << 20, spark=spark
    )
    store_bytes = sum(
        os.path.getsize(os.path.join(control["store"], f))
        for f in os.listdir(control["store"])
        if f.endswith(".jsonl")
    )
    fenced = False
    try:
        # the control session's checkpoint has consumed blocks from the
        # pre-compaction generation: the next drain must fail loudly
        q = (
            spark.readStream.format("document_store")
            .option("path", control["store"])
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", control["ckpt"])
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except Exception as e:
        fenced = "generation changed" in str(e)

    out = {
        "seed_block_bytes_untouched": sum(big_blocks),
        "scale_x": scale,
        "n_documents": n_total,
        "control": {k: v for k, v in control.items() if k not in ("store", "ckpt")},
        "crashed": {k: v for k, v in crashed.items() if k not in ("store", "ckpt")},
        "replay_idempotent": idempotent,
        "replayed_epochs": replay_extra,
        "compaction": {**comp, "store_bytes_after": store_bytes},
        "generation_fenced_after_compaction": fenced,
    }
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    return 0 if idempotent and fenced else 1


if __name__ == "__main__":
    sys.exit(main())
