"""Static guard for the round-4 defect class: a forced ``F.broadcast``
hint on an SF-SCALING relation (part/partsupp/supplier/customer/orders/
lineitem/events).  Such a hint is invisible to every fixture-scale
check — the query is correct and fast at sf0.1 — and only fails at the
scale the engine is designed for (past Spark's 8 GB broadcast hard
limit the forced hint errors out instead of degrading).

The audit walks each catalog query's ANALYZED logical plan: for every
``ResolvedHint (strategy=broadcast)`` node it inspects the subtree
below.  A hint is legitimate when the subtree is provably bounded —
it contains a global (no-grouping) Aggregate, a Limit, or a driver-
built LocalRelation, or touches only fixed-cardinality tables
(nation/region).  Otherwise, if the subtree scans a scaling table, the
hint is exactly the fixture-tuned class that breaks at 100 TB and is
reported.

Scope: ALL catalog modules (``plans/`` and ``extensions/``).  The
walk is syntactic, so broadcasts whose boundedness it cannot see —
literal-id-filtered query/centroid sets (``vec_id < 8``), dimension-
bounded per-source tables, fixed bucket tables, ingest batches — are
whitelisted per query in ``BOUNDED_BY_DESIGN`` with the reason, the
same convention as ``explain_audit.EXPECTED_BNLJ``.  Everything else
that broadcasts a scaling scan is reported.  The round-5 sweep of the
full catalog with this audit found and fixed five genuine sites: the
TPC-H pipeline dim plus four corpus-ENTROPY-scaling tables
(tf-idf document frequencies, PMI unigram counts, boilerplate chunk
set, decontamination n-grams) that would pass every fixture-scale
check and exceed the 8 GB broadcast limit on a web-scale corpus.

Usage: python tools/hint_audit.py [sf_dir]   (also used by pytest)
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# first column of each scaling table -> table name (analyzed-plan
# Relation lines show columns, not file paths)
_SCALING_COLS = {
    "p_partkey": "part",
    "ps_partkey": "partsupp",
    "s_suppkey": "supplier",
    "c_custkey": "customer",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}
_GLOBAL_AGG = re.compile(r"Aggregate \[[^\]]*\]$")  # one list = no grouping
_GROUPED_AGG = re.compile(r"Aggregate \[[^\]]*\], \[")

# Broadcasts the syntactic walk cannot prove bounded, with the actual
# bound.  Each entry was manually reviewed in round 5.
_QSET = "broadcast side is the literal-id-filtered query/centroid set (<= 8/16 rows)"
BOUNDED_BY_DESIGN = {
    "x_cosine_topk": _QSET,
    "x_cosine_topk_blocked": _QSET,
    "x_filtered_topk": _QSET,
    "x_maxsim_retrieval": _QSET,
    "x_rrf_fusion": _QSET,
    "x_semantic_join": _QSET,
    "x_hard_negatives": _QSET + " (anchor set)",
    "x_ann_ivf": _QSET,
    "x_ann_ivf_trained": _QSET,
    "x_ann_ivf_int8": _QSET,
    "x_ann_ivf_persisted": _QSET,
    "x_ann_ivf_incremental": _QSET,
    "x_ann_pq": _QSET,
    "x_ann_pq_fast": _QSET,  # same _pq_run tail, numpy encode tier
    "x_ann_pq_trained": _QSET,
    "x_ann_pq_trained_fast": _QSET,  # same _pq_run tail, trained books + numpy encode
    "x_ann_pq_persisted": _QSET,
    "x_hyperplane_lsh_near_dup_t08": _QSET,
    "x_semdedup": _QSET,
    "x_ivf_cell_stats": _QSET,
    "x_outlier_filter": "per-source fence table — source domain is dimension-bounded",
    "x_token_budget_cut": "fixed bucket-offset table (bucket count is a literal)",
    "x_incremental_near_dup": "broadcast side is the ingest BATCH's band index — bounded by batch size by contract",
    "x_embedding_drift": "two 1-row mean vectors",
    "x_temperature_mixture": "20-row per-source rollup",
}


def _depth(line: str) -> int:
    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1


def _subtree(lines: list[str], i: int) -> list[str]:
    d = _depth(lines[i])
    out = []
    for j in range(i + 1, len(lines)):
        dj = _depth(lines[j])
        if dj != -1 and dj <= d:
            break
        out.append(lines[j])
    return out


def audit_plan(plan: str) -> list[str]:
    """Return violation strings for one analyzed-plan dump."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "ResolvedHint (strategy=broadcast" not in line:
            continue
        sub = _subtree(lines, i)
        bounded = any(
            _GLOBAL_AGG.search(l.rstrip())
            and not _GROUPED_AGG.search(l)
            or "GlobalLimit" in l
            or "LocalRelation" in l
            or "LogicalRDD" in l
            for l in sub
        )
        if bounded:
            continue
        scaling = sorted(
            {
                t
                for l in sub
                if "Relation [" in l
                for c, t in _SCALING_COLS.items()
                if re.search(rf"\[{c}#", l)
            }
        )
        if scaling:
            bad.append(f"broadcast hint over unbounded scan of {scaling}")
    return bad


def audit_catalog(
    spark, sf_dir: str, *, module_prefix: str | None = None
) -> dict[str, list[str]]:
    from airflow_embeddings_pipeline_spark.plans import get_catalog

    out: dict[str, list[str]] = {}
    for name, q in get_catalog().items():
        mod = q.build.__module__
        if module_prefix is not None and f".{module_prefix}." not in mod:
            continue
        if name in BOUNDED_BY_DESIGN:
            continue
        try:
            df = q.build(spark, sf_dir)
        except Exception as exc:  # surface build failures loudly
            out[name] = [f"build error: {exc}"]
            continue
        v = audit_plan(df._jdf.queryExecution().analyzed().toString())
        if v:
            out[name] = v
    return out


def main() -> int:
    from airflow_embeddings_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("hint-audit")
    bad = audit_catalog(spark, sf_dir)
    for name, vs in sorted(bad.items()):
        for v in vs:
            print(f"SMELL {name}: {v}")
    n = sum(len(v) for v in bad.values())
    print(f"{n} forced-broadcast violations")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
