"""ANN quality at stress scale: recall@5 vs exact brute force on an
N×-replicated, per-replica-PERTURBED embedding corpus.

Wall-time stress (stress_extensions.py) shows the ANN plans stay
cheap as the corpus grows; this tool checks the other axis — that the
approximate indexes don't silently lose RECALL as cells/codebooks
cover 100-400× more vectors.  Exact replication would make recall
meaningless (every neighbor tied across copies), so replica i>0 adds
small deterministic Gaussian noise (σ = 2% of corpus std, seeded by
replica index): the corpus keeps the fixture's cluster structure but
every distance is distinct, giving an unambiguous exact top-k ground
truth.  Replica 0 is byte-identical to the fixture, so the query set
(vec_id < 8) and the deterministic centroid/codebook seeds
(vec_id < 4) are unchanged.

Usage: python tools/stress_ann_recall.py [sf_dir] [--scale N]
Prints one JSON line: {tier: {"recall_at_5": r, "wall_sec": s}, ...}.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_vs_reference import parse_args  # noqa: E402

_TIERS = (
    "x_ann_ivf",
    "x_ann_ivf_trained",
    "x_ann_pq",
    "x_ann_pq_fast",
    "x_ann_pq_trained",
    "x_ann_pq_trained_fast",
)


def stage_perturbed(sf_dir: str, factor: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"annstress_{key}_x{factor}")
    final = os.path.join(out, "embeddings.parquet")
    if os.path.exists(final):
        return out
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    emb = np.array(t["embedding"].to_pylist(), dtype=np.float32)
    ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
    labels = t["label"]
    n = len(ids)
    sigma = 0.02 * float(emb.std())
    with pq.ParquetWriter(final + ".tmp", t.schema) as w:
        for i in range(factor):
            if i == 0:
                v = emb
            else:
                rng = np.random.default_rng(1234 + i)
                v = emb + rng.normal(0.0, sigma, emb.shape).astype(np.float32)
            w.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(ids + i * n, type=pa.int64()),
                        "embedding": pa.array(
                            [row for row in v.tolist()],
                            type=t.schema.field("embedding").type,
                        ),
                        "label": labels,
                    },
                    schema=t.schema,
                )
            )
    os.replace(final + ".tmp", final)
    return out


def main() -> None:
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark

    argv = sys.argv[1:]
    tiers = _TIERS
    if "--tiers" in argv:
        i = argv.index("--tiers")
        tiers = tuple(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2 :]
    sf_dir, scale = parse_args(argv)
    if scale == 1:
        scale = 100

    staged = stage_perturbed(sf_dir, scale)
    spark = get_spark("stress-ann-recall")
    catalog = get_catalog()
    import pyarrow.parquet as pq

    n_vectors = pq.read_metadata(f"{staged}/embeddings.parquet").num_rows

    t0 = time.perf_counter()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in catalog["x_cosine_topk"].build(spark, staged).collect()
    }
    exact_wall = round(time.perf_counter() - t0, 2)
    print(f"# exact ground truth: {len(exact)} pairs, {exact_wall}s", file=sys.stderr)

    results: dict[str, dict] = {"exact_bruteforce": {"wall_sec": exact_wall}}
    for name in tiers:
        t0 = time.perf_counter()
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in catalog[name]
            .build(spark, staged)
            .select("query_id", "neighbor_id")
            .collect()
        }
        wall = round(time.perf_counter() - t0, 2)
        recall = round(len(approx & exact) / len(exact), 4) if exact else 0.0
        results[name] = {"recall_at_5": recall, "wall_sec": wall}
        print(f"# {name}: recall@5={recall} ({wall}s)", file=sys.stderr)
    print(
        json.dumps(
            {"scale": scale, "n_vectors": n_vectors, "sf_dir": sf_dir, **results}
        )
    )


if __name__ == "__main__":
    main()
