"""Long-horizon pruned-MERGE maintenance probe: does the manifest
layout DECAY under N sequential daily-shaped merges?

The reference's Snowflake target re-clusters micro-partitions
automatically behind its MERGE (embeddings-pipeline.py:294-352), so a
year of daily batches never degrades pruning there.  Our manifest
layout must prove the same property explicitly: each pruned merge
replaces the touched files with freshly range-clustered ones and
appends insert files at the top of the key space — if those new files'
ranges widen or overlap over time, the touched-set of every LATER
merge grows and the rewrite fraction creeps back toward full-rewrite.

This probe drives C sequential daily cycles (default 60) against one
versioned table:

* updates — alternating narrow (contiguous 1k-key run at a rotating
  offset) and moderate (1k keys strided across ~10 % of the key
  space), the mixed shape of a real daily batch;
* inserts — an append run above the current max key (new documents);
* every ``compact_every`` cycles, :meth:`VersionedParquetTable.compact`
  runs (the OPTIMIZE analog), and vacuum reclaims dead versions each
  cycle (keep_last=2) so disk stays bounded.

Per cycle it records: files_total, files_touched, bytes_rewritten,
rewrite fraction, wall, the manifest's RANGE-OVERLAP profile (mean and
max count of other files each file's [min, max] intersects — the
direct decay signal), and a read_range file-skip probe (fraction of
files a narrow mid-table range scan can skip).  Healthy = all of these
flat in the cycle index; decayed = monotone growth.

With ``--policy``, the fixed every-``compact_every``-cycles OPTIMIZE
schedule is replaced by :meth:`VersionedParquetTable.maintain` after
EVERY cycle — the auto-trigger decides when to act from the manifest's
own decay signals (small-file count / range overlap), which is how a
production daily loop would run it.  Healthy = the trigger fires at
bounded intervals and the same decay signals stay flat.

Usage:
    python tools/stress_merge_longhorizon.py [n_rows] [cycles] [out_json] [--policy]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def overlap_profile(entries: list[dict]) -> dict:
    """Mean/max number of OTHER files each file's [min, max] range
    intersects, plus the no-stats count (always-touched files)."""
    ranged = [
        (e["min"], e["max"])
        for e in entries
        if e["min"] is not None and e["max"] is not None
    ]
    n = len(ranged)
    counts = []
    for i, (lo, hi) in enumerate(ranged):
        c = sum(
            1
            for j, (lo2, hi2) in enumerate(ranged)
            if j != i and lo2 <= hi and lo <= hi2
        )
        counts.append(c)
    return {
        "files_ranged": n,
        "files_statless": len(entries) - n,
        "overlap_mean": round(sum(counts) / n, 3) if n else 0.0,
        "overlap_max": max(counts) if counts else 0,
    }


def skip_probe(entries: list[dict], lo, hi) -> dict:
    """read_range's pruning decision replayed over the manifest: how
    many files would a [lo, hi] scan read vs skip?"""
    kept = sum(
        1
        for e in entries
        if e["min"] is None
        or e["max"] is None
        or (e["max"] >= lo and e["min"] <= hi)
    )
    total = len(entries)
    return {
        "probe_files_read": kept,
        "probe_skip_rate": round(1 - kept / total, 4) if total else 0.0,
    }


def table_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def main() -> int:
    args = [
        a
        for a in sys.argv[1:]
        if a not in ("--policy", "--bimodal", "--segmented")
    ]
    policy = "--policy" in sys.argv[1:]
    bimodal = "--bimodal" in sys.argv[1:]
    segmented = "--segmented" in sys.argv[1:]
    n_rows = int(args[0]) if len(args) > 0 else 2_000_000
    cycles = int(args[1]) if len(args) > 1 else 60
    out_json = args[2] if len(args) > 2 else None
    compact_every = 10
    upd_keys = 1_000
    ins_keys = 2_000

    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    if segmented:
        # force segmented manifests at stress scale (the big-table
        # storage form): every commit in the run exercises segment
        # carry/rewrite; per-cycle records add segment counts and the
        # manifest metadata bytes the cycle's commits wrote
        VersionedParquetTable.manifest_inline_max = 8
        VersionedParquetTable.manifest_segment_rows = 16

    spark = get_spark("stress-merge-longhorizon")
    root = f"/tmp/spark_graft_longhorizon/{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    path = os.path.join(root, "table")

    target = spark.range(n_rows).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        F.lit("base").alias("status"),
    )
    table = VersionedParquetTable(path)
    t0 = time.time()
    table.commit_with_manifest(target, "k", cluster_partitions=32)
    build_wall = round(time.time() - t0, 2)
    base_bytes = table_bytes(path)
    print(
        json.dumps(
            {"cycle": 0, "event": "build", "wall_s": build_wall,
             "table_bytes": base_bytes}
        )
    )

    def batch(keys_df, tag):
        return keys_df.select(
            F.col("k"),
            F.sha2(
                F.concat(F.lit(tag), F.col("k").cast("string")), 256
            ).alias("payload"),
            F.lit(tag).alias("status"),
        )

    next_insert = n_rows  # dense 0..n_rows-1 initially; appends go above
    records = []
    for c in range(1, cycles + 1):
        if bimodal:
            # adversarial: EVERY cycle touches two DISTANT bands (one
            # low, one high, both rotating) — before the gap-free
            # layout fix the rewrite minted a file spanning the gap
            # each cycle, compounding overlap; healthy = overlap flat
            half = upd_keys // 2
            off_lo = (c * 37_000) % max(1, n_rows // 2 - half)
            off_hi = n_rows // 2 + (c * 53_000) % max(1, n_rows // 2 - half)
            upd = spark.range(half).select(
                (F.col("id") + off_lo).alias("k")
            ).unionAll(
                spark.range(half).select((F.col("id") + off_hi).alias("k"))
            )
            shape = "bimodal"
        elif c % 2 == 1:
            # narrow: contiguous run at a rotating offset
            off = (c * 37_000) % max(1, n_rows - upd_keys)
            upd = spark.range(upd_keys).select((F.col("id") + off).alias("k"))
            shape = "narrow"
        else:
            # moderate: strided across ~10 % of the ORIGINAL key space
            span = n_rows // 10
            off = (c * 53_000) % max(1, n_rows - span)
            stride = max(1, span // upd_keys)
            upd = spark.range(upd_keys).select(
                (F.col("id") * stride + off).alias("k")
            )
            shape = "moderate"
        ins = spark.range(ins_keys).select(
            (F.col("id") + next_insert).alias("k")
        )
        next_insert += ins_keys
        src = batch(upd, f"u{c}").unionAll(batch(ins, f"i{c}"))

        t0 = time.time()
        stats = merge_upsert_write_pruned(path, src, "k", vacuum_keep_last=2)
        wall = round(time.time() - t0, 2)

        compacted = None
        if policy:
            # auto-trigger path: maintain() after EVERY cycle decides
            # from the manifest's own decay signals whether to act
            t1 = time.time()
            m = table.maintain(
                spark, min_file_bytes=2 << 20, max_small_files=40
            )
            table.vacuum(keep_last=2)
            if m["triggered"]:
                compacted = {
                    "maintain_actions": [a["action"] for a in m["actions"]],
                    "maintain_signals": m["signals"],
                    "maintain_bytes_rewritten": sum(
                        a.get("bytes_rewritten", 0) for a in m["actions"]
                    ),
                    "maintain_wall_s": round(time.time() - t1, 2),
                }
        elif c % compact_every == 0:
            t1 = time.time()
            comp = table.compact(spark, min_file_bytes=2 << 20)
            table.vacuum(keep_last=2)
            compacted = {
                "files_before": comp["files_before"],
                "files_after": comp["files_after"],
                "compact_bytes_rewritten": comp["bytes_rewritten"],
                "compact_wall_s": round(time.time() - t1, 2),
            }

        entries, _schema = table.file_entries(spark, "k")
        probe_lo = n_rows // 2
        rec = {
            "cycle": c,
            "shape": shape,
            "wall_s": wall,
            "files_total": len(entries),
            "files_touched": stats["files_touched"],
            "bytes_rewritten": stats["bytes_rewritten"],
            "rewrite_frac": round(
                stats["bytes_rewritten"]
                / max(1, stats["bytes_rewritten"] + stats["bytes_carried"]),
                4,
            ),
            "table_bytes": table_bytes(path),
            **overlap_profile(entries),
            **skip_probe(entries, probe_lo, probe_lo + 1_000),
        }
        if compacted:
            rec.update(compacted)
        if segmented:
            import glob as _glob

            cur = table.current_version()
            raw = table._raw_manifest(cur) or {}
            refs = table._seg_refs(raw) or []
            vname = f"v{cur:08d}"
            rec.update(
                {
                    "segments_total": len(refs),
                    "segments_new": sum(
                        1
                        for r in refs
                        if r["path"].startswith(vname + os.sep)
                    ),
                    # metadata written BY THIS CYCLE's final commit:
                    # its doc + the segments living in its own vdir
                    # (carried segments cost nothing)
                    "manifest_meta_bytes": os.path.getsize(
                        os.path.join(path, vname, "_MANIFEST.json")
                    )
                    + sum(
                        os.path.getsize(p)
                        for p in _glob.glob(
                            os.path.join(path, vname, "_mseg-*.parquet")
                        )
                    ),
                }
            )
        records.append(rec)
        print(json.dumps(rec))

    # summary: first-5 vs last-5 cycle means of the decay signals
    def mean(key, rows):
        return round(sum(r[key] for r in rows) / len(rows), 4)

    head5, tail5 = records[:5], records[-5:]
    summary = {
        "n_rows": n_rows,
        "cycles": cycles,
        "files_first5": mean("files_total", head5),
        "files_last5": mean("files_total", tail5),
        "touched_first5": mean("files_touched", head5),
        "touched_last5": mean("files_touched", tail5),
        "rewrite_frac_first5": mean("rewrite_frac", head5),
        "rewrite_frac_last5": mean("rewrite_frac", tail5),
        "overlap_mean_first5": mean("overlap_mean", head5),
        "overlap_mean_last5": mean("overlap_mean", tail5),
        "skip_rate_first5": mean("probe_skip_rate", head5),
        "skip_rate_last5": mean("probe_skip_rate", tail5),
        "wall_first5": mean("wall_s", head5),
        "wall_last5": mean("wall_s", tail5),
        "final_table_bytes": records[-1]["table_bytes"],
    }
    if policy:
        summary["maintain_triggers"] = sum(
            1 for r in records if "maintain_actions" in r
        )
        summary["maintain_bytes_total"] = sum(
            r.get("maintain_bytes_rewritten", 0) for r in records
        )
    print(json.dumps({"summary": summary}))
    if out_json:
        with open(out_json, "w") as fh:
            json.dump({"summary": summary, "cycles": records}, fh, indent=1)
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
