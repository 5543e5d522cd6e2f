"""Second-round attribution at ×1000: which stage of symspell carries
the ~300 s — candidate generation, verify joins, or the corpus-sized
output tail (distinct + global orderBy)?  And does EAGER materialization
fix setsim's persist_sets (lazy persist measured 240 s vs 13 s with a
pre-materialized input)?

Usage: python tools/probe_quad_split2.py [sf_dir] [--scale N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_vs_reference import parse_args, scale_corpus  # noqa: E402


def main() -> None:
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.extensions.dedup_queries import (
        _SYM_ID_OFFSET,
        _SYM_VARIANTS_SQL,
        setsim_prefix_join,
    )
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    sf_dir, scale = parse_args(sys.argv[1:])
    if scale == 1:
        scale = 1000
    staged = scale_corpus(sf_dir, scale)
    spark = get_spark("probe-quad-split2")
    out: dict = {"scale_x": scale}

    def t(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
        return r

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # ---------------- symspell stage split (hashed-key tier)
    cust = load_table(spark, staged, "customer").select("c_custkey", "c_name")
    corrupted = cust.select(
        (F.col("c_custkey") + _SYM_ID_OFFSET).alias("corrupt_id"),
        F.expr(
            "concat(substring(c_name, 1, cast(c_custkey % length(c_name) as int)),"
            " substring(c_name, cast(c_custkey % length(c_name) as int) + 2,"
            " length(c_name)))"
        ).alias("corrupt_name"),
    )
    deletions_h = cust.select(
        F.col("c_custkey").alias("orig_id"),
        F.explode(F.expr(_SYM_VARIANTS_SQL)).alias("variant"),
    ).select("orig_id", F.xxhash64("variant").alias("vh"))
    corrupted_h = corrupted.select(
        "corrupt_id", F.xxhash64("corrupt_name").alias("vh")
    )
    cand = (
        deletions_h.join(corrupted_h, "vh")
        .select("orig_id", "corrupt_id")
        .distinct()
    )
    t("sym_candidates_only", lambda: noop(cand))
    names = cust.select(
        F.col("c_custkey").alias("orig_id"), F.col("c_name").alias("orig_name")
    )
    verified = (
        cand.join(names, "orig_id")
        .join(corrupted, "corrupt_id")
        .select(
            "orig_id", "corrupt_id", "orig_name", "corrupt_name",
            F.levenshtein("orig_name", "corrupt_name").alias("distance"),
        )
        .filter(F.col("distance") <= 1)
    )
    t("sym_verified_no_tail", lambda: noop(verified))
    t("sym_verified_distinct", lambda: noop(verified.distinct()))
    t(
        "sym_full_with_orderby",
        lambda: noop(verified.distinct().orderBy("orig_id", "corrupt_id")),
    )

    # ---------------- setsim: eager materialization of the survivors
    docs = load_table(spark, staged, "documents")
    mutated = docs.withColumn(
        "text",
        F.concat("text", F.lit(" rev"), (F.col("doc_id") % 7).cast("string")),
    )
    distinct_docs = mutated.dropDuplicates(["text"])
    surv = distinct_docs.localCheckpoint(eager=True)
    t(
        "setsim_local_checkpoint_input",
        lambda: noop(
            setsim_prefix_join(surv, threshold=0.8, encode_ids=True)
        ),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
