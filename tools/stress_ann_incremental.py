"""Incremental-IVF maintenance under sustained ingest: cell-growth
drift against a STANDING persisted index, and when the re-train
trigger fires.

``x_ann_ivf_incremental`` proves the per-batch semantics (map-only
assignment to standing centroids, per-cell growth report) at fixture
scale; this tool runs the whole MAINTENANCE LOOP the way a 100 TB
ingest would:

1. train IVF centroids once on the day-0 corpus (the engine's
   deterministic Lloyd trainer) and persist them through the atomic
   index store with the corpus fingerprint in the meta;
2. each "day", a new batch arrives (deterministically perturbed
   replica of the fixture embeddings — same cluster structure, all
   distances distinct) and is assigned to the STANDING centroids:
   map-only, batch-sized scan, the corpus is never re-assigned;
3. per-cell counts merge driver-side (k cells ≈ a few rows) and the
   drift report decides re-training: when the hottest cell's share of
   the corpus exceeds ``retrain_ratio`` × its share at training time,
   the index is re-trained on the accumulated corpus and re-persisted
   (new fingerprint — the index store's meta validation is what makes
   a stale artifact unloadable, exercised each batch via
   ``load_index_if_valid``).

Recorded per batch: assignment wall, hottest-cell share, imbalance
(max/mean cell count), drift vs the training-time distribution
(L1 distance between cell-share vectors), and retrain events with
their wall.  Healthy = drift bounded, retrains rare, assignment wall
flat in corpus size (it only scans the batch).

``--drift-at K`` injects a distribution shift from batch K on (a
deterministic constant bias added to every vector — new arrivals pile
into the cells nearest the bias direction), which is what makes the
re-train trigger FIRE and proves the full trigger → retrain →
re-persist → meta-revalidation loop, not just the quiet path.

Usage: python tools/stress_ann_incremental.py [sf_dir] [--scale N]
           [--drift-at K]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_vs_reference import parse_args  # noqa: E402
from stress_ann_recall import stage_perturbed  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    drift_at = None
    if "--drift-at" in argv:
        i = argv.index("--drift-at")
        drift_at = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    sf_dir, scale = parse_args(argv)
    if scale == 1:
        scale = 100
    retrain_ratio = 1.5
    n_cents = 16

    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.extensions.index_store import (
        corpus_fingerprint,
        load_index_if_valid,
        save_index,
    )
    from airflow_embeddings_pipeline_spark.extensions.similarity import (
        assign_ivf_cells,
        train_ivf_centroids,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark

    staged = stage_perturbed(sf_dir, scale)
    corpus_path = os.path.join(staged, "embeddings.parquet")
    spark = get_spark("stress-ann-incremental")
    emb = spark.read.parquet(corpus_path)
    n_base = emb.filter(F.col("vec_id") < 10**12).count() // scale

    idx_path = os.path.join(staged, "ivf_incremental.idx.json")

    def with_drift(df):
        """Apply the injected distribution shift to the drifted
        vec_id range (so re-training sees the same data the
        assignment loop saw — otherwise the trigger storms)."""
        if drift_at is None:
            return df
        return df.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") >= drift_at * n_base,
                F.transform(F.col("embedding"), lambda x: x + F.lit(2.0)),
            ).otherwise(F.col("embedding")),
        )

    def train(upto_batch: int) -> tuple[list, dict]:
        """Train on batches [0, upto_batch] and persist with meta."""
        day = with_drift(emb.filter(F.col("vec_id") < (upto_batch + 1) * n_base))
        seeds = [
            [float(x) for x in r[0]]
            for r in day.filter(F.col("vec_id") < n_cents)
            .orderBy("vec_id")
            .select("embedding")
            .collect()
        ]
        cents = train_ivf_centroids(day, seeds, iters=1)
        counts = (
            assign_ivf_cells(day, cents)
            .groupBy("ivf_cell")
            .count()
            .collect()
        )
        dist = {int(r["ivf_cell"]): r["count"] for r in counts}
        meta = {
            **corpus_fingerprint(corpus_path),
            "trained_upto_batch": upto_batch,
            "n_cents": n_cents,
        }
        save_index(idx_path, "ivf_centroids", cents, meta=meta)
        return cents, dist

    t0 = time.time()
    cents, standing = train(0)
    train_wall = round(time.time() - t0, 2)
    base_total = sum(standing.values())
    base_share = {c: n / base_total for c, n in standing.items()}
    print(
        json.dumps(
            {"batch": 0, "event": "train", "wall_s": train_wall,
             "cells": len(standing),
             "hot_share": round(max(base_share.values()), 4)}
        )
    )

    expect_meta = {**corpus_fingerprint(corpus_path), "trained_upto_batch": 0,
                   "n_cents": n_cents}
    records, retrains = [], 0
    for b in range(1, scale):
        # the load-or-retrain gate a fresh probe process would run:
        # meta validation must accept the standing artifact
        loaded = load_index_if_valid(idx_path, "ivf_centroids", expect_meta)
        meta_ok = loaded is not None

        # injected distribution shift (when --drift-at): a constant
        # positive bias pushes new arrivals toward one corner of the
        # space → the nearest cells run hot and the trigger must fire
        batch = with_drift(
            emb.filter(
                (F.col("vec_id") >= b * n_base)
                & (F.col("vec_id") < (b + 1) * n_base)
            )
        )
        t0 = time.time()
        counts = (
            assign_ivf_cells(batch, cents).groupBy("ivf_cell").count().collect()
        )
        wall = round(time.time() - t0, 2)
        for r in counts:
            standing[int(r["ivf_cell"])] = (
                standing.get(int(r["ivf_cell"]), 0) + r["count"]
            )
        total = sum(standing.values())
        share = {c: n / total for c, n in standing.items()}
        hot_cell = max(share, key=share.get)
        hot = share[hot_cell]
        imbalance = max(standing.values()) / (total / max(1, len(standing)))
        drift_l1 = sum(
            abs(share.get(c, 0.0) - base_share.get(c, 0.0))
            for c in set(share) | set(base_share)
        )
        triggered = hot > retrain_ratio * base_share.get(hot_cell, 1 / n_cents)
        rec = {
            "batch": b,
            "corpus_rows": total,
            "assign_wall_s": wall,
            "meta_valid": meta_ok,
            "hot_share": round(hot, 4),
            "imbalance": round(imbalance, 3),
            "drift_l1": round(drift_l1, 4),
            "retrain": bool(triggered),
        }
        if triggered:
            t0 = time.time()
            cents, standing = train(b)
            rec["retrain_wall_s"] = round(time.time() - t0, 2)
            retrains += 1
            base_total = sum(standing.values())
            base_share = {c: n / base_total for c, n in standing.items()}
            expect_meta = {
                **corpus_fingerprint(corpus_path),
                "trained_upto_batch": b,
                "n_cents": n_cents,
            }
        records.append(rec)
        if b <= 5 or b % 10 == 0 or triggered:
            print(json.dumps(rec))

    walls = [r["assign_wall_s"] for r in records]
    summary = {
        "sf_dir": sf_dir,
        "scale": scale,
        "batches": len(records),
        "batch_rows": n_base,
        "retrains": retrains,
        "assign_wall_first5": round(sum(walls[:5]) / 5, 3),
        "assign_wall_last5": round(sum(walls[-5:]) / 5, 3),
        "drift_l1_final": records[-1]["drift_l1"],
        "hot_share_final": records[-1]["hot_share"],
        "imbalance_final": records[-1]["imbalance"],
        "meta_valid_all": all(r["meta_valid"] for r in records),
    }
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
