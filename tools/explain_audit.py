"""Physical-plan audit for catalog queries.

Prints the formatted plan per query and flags scale smells:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` where not expected
  (range joins legitimately use BNLJ on a broadcast dim)
- ``BatchEvalPython`` — row-at-a-time Python UDF in the plan (the slow
  path; only ArrowEvalPython / mapInPandas are acceptable)
- parquet scans with no ``PushedFilters`` despite a query filter
- ``SortMergeJoin`` against a tiny dim that should broadcast

Usage: python tools/explain_audit.py [query ...]   (default: bench set)
"""

from __future__ import annotations

import io
import re
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# BNLJ-by-design: broadcast range join, brute-force top-k (tiny
# broadcast query set x streamed corpus with a non-equi self-exclusion),
# and q22's 1-row broadcast threshold cross join.
EXPECTED_BNLJ = {
    "j_range_tiers",
    "x_cosine_topk",
    "x_filtered_topk",
    "x_semantic_join",  # same broadcast top-k core as x_cosine_topk
    "q22_sales_opportunity",
    "x_unigram_logprob",  # 1-row broadcast total-count cross join
    "x_bigram_lm_logprob",  # 1-row broadcast vocab-size cross join
    "x_mixture_plan",  # 1-row broadcast global-budget cross join
    "x_maxsim_retrieval",  # 3-row broadcast query-token cross join
    "t_event_funnel",  # 1-row-per-side stage-count cross joins
    "x_hard_negatives",  # tiny broadcast anchor set × streamed corpus (label != predicate)
    "t_gap_fill",  # 1-row broadcast bounds cross join generating the spine
    "a_key_skew_stats",  # 1-row broadcast global-dispersion cross join
    "x_bm25_retrieval",  # 1-row broadcast corpus-stats (N/df/avgdl) cross join
    "x_rrf_fusion",  # 1-row broadcast query-vector cross join in the dense leg
    "a_histogram",  # 1-row broadcast min/max-extent cross join under the binning map
    "t_interpolate_linear",  # 1-row broadcast day-bounds cross join generating the spine
    "t_rolling_distinct_users",  # 1-row broadcast day-bounds cross join clamping the fan-out
    "x_temperature_mixture",  # 1-row broadcast total/normalizer cross joins over a 20-row rollup
    "x_embedding_drift",  # 1-row x 1-row cross join of the two half-corpus mean vectors
    # synthesized-partsupp pack: the generator's 1-row broadcast
    # supplier-count cross join (plans/tpch_partsupp.py synth_partsupp);
    # q11 additionally crosses the 1-row broadcast national total.
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q16_parts_supplier",
    "q20_part_promotion",
    # r5 single-scan refactor: driver count() actions replaced by the
    # engine's 1-row broadcast scalar pattern — each is a 1-row
    # broadcast cross join by design.
    "x_tfidf_top_terms",  # 1-row broadcast doc-count (IDF numerator)
    "x_leakage_safe_split",  # 1-row broadcast leaked-group count
    "x_ann_pq",  # 1-row broadcast adaptive ADC candidate-pool bound
    "x_ann_pq_fast",  # same 1-row pool bound, numpy encode tier
    "x_ann_pq_trained",  # same 1-row broadcast pool bound
    "x_ann_pq_persisted",  # same 1-row broadcast pool bound (loaded books)
    "x_ann_pq_trained_fast",  # same 1-row pool bound, trained books + numpy encode
    "x_word_pmi",  # 1-row broadcast doc-count (PMI normalizer)
    "x_ivf_cell_stats",  # 1-row broadcast corpus total (share denominator)
    "a_freq_items_sketch",  # 1-row broadcast total (support denominator)
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str) -> list[str]:
    smells = []
    if "CartesianProduct" in plan:
        smells.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and name not in EXPECTED_BNLJ:
        smells.append("BroadcastNestedLoopJoin (unexpected)")
    if re.search(r"\bBatchEvalPython\b", plan):
        smells.append("BatchEvalPython (row-at-a-time Python UDF)")
    # scans that push nothing while the plan filters right above them
    for m in re.finditer(r"PushedFilters: \[\]", plan):
        if "Filter" in plan:
            smells.append("scan with empty PushedFilters under a Filter")
            break
    return smells


def main() -> int:
    import __spark_entry__ as entrymod
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark

    spark = get_spark("explain-audit")
    catalog = get_catalog()
    # default: audit the BENCH set; `--all` audits every catalog query
    args = sys.argv[1:]
    verbose = "-v" in args
    args = [a for a in args if a != "-v"]  # strip flags before name logic
    if "--all" in args:
        names = [n for n in args if n != "--all"] or list(catalog)
    else:
        names = args or [n for n, q in catalog.items() if q.bench]

    bad = 0
    for name in names:
        q = catalog[name]
        try:
            df = q.build(spark, SF_DIR)
        except Exception as e:
            print(f"ERR  {name}: {e}")
            bad += 1
            continue
        plan = plan_of(df)
        smells = audit(name, plan)
        status = "SMELL" if smells else "ok"
        print(f"{status:5s} {name}: {', '.join(smells) if smells else 'clean'}")
        if smells or verbose:
            # print the condensed operator tree (header section only)
            header = plan.split("\n\n")[0]
            print("      " + "\n      ".join(header.splitlines()[:40]))
        bad += bool(smells)
    print(f"\n{len(names) - bad}/{len(names)} clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
