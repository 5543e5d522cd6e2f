"""Throughput comparison: this engine vs the reference's architecture.

The reference processes embeddings row-at-a-time in driver Python
(embeddings-pipeline.py:182-235: cursor pagination → per-doc dict
transform → list accumulation → pandas/Arrow pivot), then delegates the
relational tail to a warehouse.  ``reference_style()`` reproduces that
*architecture* — single-process, per-row Python dicts, full in-memory
buffering — on the same fixture data and the same logical task as our
flagship query (derive → dedup → dim join → aggregate), implemented
independently here (no code from the reference).  ``spark_style()``
runs the engine's flagship plan.

The fixture tables are small (5k docs at sf0.1) — at that size any
single-process loop beats a distributed engine's fixed overhead, which
is exactly the reference's operating point and exactly what stops
scaling.  ``--scale N`` replicates the corpus N× (distinct doc_ids) to
show the crossover: the row loop degrades linearly, the Spark plan is
~flat until real data volume engages the executors.

Usage: python tools/bench_vs_reference.py [sf_dir] [--scale N]
Prints one JSON line with both wall times and rows/sec.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_PREFIX_LEN = 30


def parse_args(argv: list[str], default_sf: str = "/root/testdata/sf0.1") -> tuple[str, int]:
    """Shared CLI parsing for the bench/stress tools:
    ``[sf_dir] [--scale N | --scale=N]``."""
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("sf_dir", nargs="?", default=default_sf)
    p.add_argument("--scale", type=int, default=1)
    ns = p.parse_args(argv)
    return ns.sf_dir, ns.scale


def scale_corpus(sf_dir: str, factor: int) -> str:
    """Replicate documents/embeddings N× with shifted ids, staged in
    /tmp as parquet (same schema, same skew shape).  Deterministic
    path keyed by (sf_dir, factor) — reruns reuse the staged corpus
    (and its layout-cache entry) instead of leaking a copy per run."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"refbench_{key}_x{factor}")
    if all(
        os.path.exists(os.path.join(out, f"{n}.parquet"))
        for n in ("documents", "embeddings", "customer")
    ):
        return out
    os.makedirs(out, exist_ok=True)
    for name, id_col in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("customer", "c_custkey"),
    ):
        t = pq.read_table(f"{sf_dir}/{name}.parquet")
        n = t.num_rows
        parts = []
        for i in range(factor):
            shifted = t.set_column(
                t.schema.get_field_index(id_col),
                id_col,
                pc.add(t[id_col], i * n),
            )
            if name == "customer":
                # keep names DISTINCT across replicas (suffix per copy):
                # replicated identical names would collide every deletion
                # variant across all copies — an n² join no real fuzzy-
                # match corpus exhibits.
                shifted = shifted.set_column(
                    shifted.schema.get_field_index("c_name"),
                    "c_name",
                    pc.binary_join_element_wise(
                        shifted["c_name"].cast(pa.string()), f"r{i}", "_"
                    ),
                )
            parts.append(shifted)
        final = f"{out}/{name}.parquet"
        pq.write_table(pa.concat_tables(parts), final + ".tmp")
        os.replace(final + ".tmp", final)  # no partial file on crash
    return out


def _normalize(s: str) -> str:
    return s.replace(".", "").replace("$", "").rstrip().lower()


def reference_style(sf_dir: str) -> tuple[float, int, int]:
    """Single-process row-loop pipeline, the reference's shape."""
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    docs = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in pq.read_table(f"{sf_dir}/embeddings.parquet").to_pylist()
    }

    # per-doc Python transform loop (the reference's :182-235 shape)
    records = []
    for doc in docs:
        emb = vecs.get(doc["doc_id"])
        if emb is None or len(emb) == 0:
            continue
        cleaned_ref = _normalize(str(doc.get("text", ""))[:REF_PREFIX_LEN])
        lang = doc.get("lang")
        color = None if lang == "en" else lang
        main_refco = f"{cleaned_ref}_{color}"[:100] if color else cleaned_ref[:100]
        display_name = f"{doc.get('source')} ({color})"
        records.append(
            {
                "doc_id": doc["doc_id"],
                "source": doc.get("source"),
                "lang": lang,
                "n_chars": doc.get("n_chars", 0),
                "main_refco": main_refco,
                "display_name": display_name,
            }
        )

    # window dedup: latest doc_id per main_refco
    latest: dict = {}
    for r in records:
        cur = latest.get(r["main_refco"])
        if cur is None or r["doc_id"] > cur["doc_id"]:
            latest[r["main_refco"]] = r

    # dim (display_name seen >= 2 in the pre-dedup set) + inner join
    counts: dict = {}
    min_ids: dict = {}
    for r in records:
        name = r["display_name"]
        counts[name] = counts.get(name, 0) + 1
        if name not in min_ids or r["doc_id"] < min_ids[name]:
            min_ids[name] = r["doc_id"]
    dim = {name: min_ids[name] for name, c in counts.items() if c >= 2}

    # aggregate per (source, lang)
    agg: dict = {}
    for r in latest.values():
        if r["display_name"] not in dim:
            continue
        k = (r["source"], r["lang"])
        a = agg.setdefault(k, {"n": 0, "chars": 0})
        a["n"] += 1
        a["chars"] += r["n_chars"]

    wall = time.perf_counter() - t0
    return wall, len(docs), len(agg)


def spark_style(sf_dir: str) -> tuple[float, int, int]:
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    spark = get_spark("bench-vs-ref")
    n_docs = load_table(spark, sf_dir, "documents").count()  # warms JVM too
    q = get_catalog()["flagship_merge_pipeline"]
    t0 = time.perf_counter()
    df = q.build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    return wall, n_docs, df.count()


def main() -> None:
    sf_dir, scale = parse_args(sys.argv[1:])
    if scale > 1:
        sf_dir = scale_corpus(sf_dir, scale)
    ref_wall, n_docs, ref_groups = reference_style(sf_dir)
    spark_wall, _, spark_groups = spark_style(sf_dir)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "scale_factor_x": scale,
                "n_documents": n_docs,
                "reference_style_sec": round(ref_wall, 3),
                "spark_engine_sec": round(spark_wall, 3),
                "speedup": round(ref_wall / spark_wall, 2),
                "reference_rows_per_sec": round(n_docs / ref_wall),
                "spark_rows_per_sec": round(n_docs / spark_wall),
                "result_groups": {"reference": ref_groups, "spark": spark_groups},
            }
        )
    )


if __name__ == "__main__":
    main()
