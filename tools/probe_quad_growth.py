"""Growth attribution probe for the quadratic-verify dedup ops at
stress scale: which stage carries the superlinear ×400→×1000 wall?

setsim_prefix_join_post_exact splits into (a) the 5M-doc exact pass
(scan + mutate + dropDuplicates to the ~entropy-bounded survivor set)
and (b) the prefix join over the survivors; the survivor set is
CONSTANT across scales, so any superlinear growth must live in (a) or
in (a) being recomputed per reference inside (b)'s self-joins.
The probe measures: exact pass alone, full op as shipped, and full op
with the survivors PERSISTED (one exact pass, reused).

x_symspell_fuzzy_join's deletion-neighborhood join genuinely scales
with the corpus (15M distinct names at ×1000 → ~300M exploded variant
rows through one shuffle); the probe measures the explode+join
candidate stage with a count-only sink vs the full op.

Usage: python tools/probe_quad_growth.py [sf_dir] [--scale N]
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
        setsim_prefix_join,
    )
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    sf_dir, scale = parse_args(sys.argv[1:])
    if scale == 1:
        scale = 1000
    staged = scale_corpus(sf_dir, scale)
    spark = get_spark("probe-quad-growth")
    out: dict[str, float] = {"scale_x": scale}

    def t(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
        return r

    docs = load_table(spark, staged, "documents")
    mutated = docs.withColumn(
        "text",
        F.concat("text", F.lit(" rev"), (F.col("doc_id") % 7).cast("string")),
    )
    distinct_docs = mutated.dropDuplicates(["text"])

    n_surv = t("setsim_exact_pass_only", lambda: distinct_docs.count())
    out["n_survivors"] = n_surv

    t(
        "setsim_as_shipped",
        lambda: setsim_prefix_join(
            distinct_docs, threshold=0.8, encode_ids=True
        ).write.format("noop").mode("overwrite").save(),
    )

    surv = distinct_docs.persist()
    surv.count()  # materialize
    t(
        "setsim_survivors_persisted",
        lambda: setsim_prefix_join(surv, threshold=0.8, encode_ids=True)
        .write.format("noop").mode("overwrite").save(),
    )
    surv.unpersist()

    # ---- symspell split
    cust = load_table(spark, staged, "customer").select("c_custkey", "c_name")
    out["n_customers"] = cust.count()
    deletions = cust.select(
        F.col("c_custkey").alias("orig_id"),
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, length(c_name)),"
                " i -> concat(substring(c_name, 1, i - 1),"
                " substring(c_name, i + 1, length(c_name)))))"
            )
        ).alias("variant"),
    )
    out["n_variants"] = t("symspell_explode_only", lambda: deletions.count())
    t(
        "symspell_as_shipped",
        lambda: get_catalog()["x_symspell_fuzzy_join"]
        .build(spark, staged)
        .write.format("noop").mode("overwrite").save(),
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
