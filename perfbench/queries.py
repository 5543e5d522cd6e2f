"""Query workloads: a closed loop of one client running a fixed list of
catalog queries, pass after pass, in a seed-permuted order.

Each op is ``Query.build`` → ``queryExecution().executedPlan()`` →
``toPandas()`` (the result reaches the client).  The first pass runs in
the fresh process and gives ``cold_pass_s`` and ``cold_pass_cpu_s``;
the later passes (``harness.warm_passes`` of them) give the means
``warm_pass_s`` and ``warm_pass_cpu_s``.  Results of the first
pass are checked against the catalog's DuckDB oracle outside the timed
region; later passes must return the same row count.
"""

from __future__ import annotations

import random
import shutil

from . import harness as H

LLM = (
    "x_minhash_lsh",
    "x_winnow_fingerprint",
    "x_bm25_retrieval",
    "x_ann_ivf_trained",
    "x_media_phash_near_dup",
)


def _oracle_frames(env: H.Env, names, catalog) -> dict:
    import duckdb

    from .datagen import CORPUS_TABLES

    con = duckdb.connect()
    try:
        for t in CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{env.data_dir}/{t}.parquet')")
        return {n: con.execute(catalog[n].oracle).df() for n in names}
    finally:
        con.close()


def _matches(got, want) -> bool:
    from tools.check_oracle import canonicalize

    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and canonicalize(got) == canonicalize(want)
    )


def _setup(env: H.Env, tracer: H.Tracer):
    """Session start, layout-cache re-chunk of the corpus tables and a
    warm-up action, SETUP_REPS times from an empty layout cache; the
    last session stays open.  Returns (spark, setup walls,
    registry.load walls)."""
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    from .datagen import CORPUS_TABLES

    walls, loads, spark = [], [], None
    for rep in range(H.SETUP_REPS):
        if spark is not None:
            spark.stop()
        shutil.rmtree(env.layout_cache, ignore_errors=True)
        with tracer.span("setup", cpu=True, rep=rep) as sp:
            spark = H.start_session(env, event_log=env.trace and rep == H.SETUP_REPS - 1)
            with tracer.span("registry.load") as ld:
                for t in CORPUS_TABLES:
                    load_table(spark, env.data_dir, t)
            H.warm_up(spark, env.cpus, python_workers=True)
        walls.append(sp.dur)
        loads.append(ld.dur)
    return spark, walls, loads


def run(env: H.Env, names, *, seed: int, seconds: float, tracer: H.Tracer, corrupt: bool) -> dict:
    from airflow_embeddings_pipeline_spark.plans import get_catalog

    catalog = get_catalog()
    H.reset_peak_rss()
    spark, setup_walls, load_walls = _setup(env, tracer)
    sc = spark.sparkContext
    rng = random.Random(seed)

    passes: list[H.Span] = []
    first_results: dict = {}
    row_counts: dict = {}
    attempted = failed = 0
    failures: list[str] = []
    while len(passes) < 1 + H.warm_passes(seconds):
        order = list(names)
        rng.shuffle(order)
        with tracer.span("pass", cpu=True, idx=len(passes)) as ps:
            for name in order:
                group = f"{name}#{len(passes)}"
                sc.setJobGroup(group, group)
                attempted += 1
                try:
                    with tracer.span("op", query=name, group=group):
                        with tracer.span("build"):
                            df = catalog[name].build(spark, env.data_dir)
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            pdf = df.toPandas()
                except Exception as e:  # noqa: BLE001 - an op failure is a measured outcome
                    failed += 1
                    failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                if not passes:
                    first_results[name] = pdf
                    row_counts[name] = len(pdf)
                elif len(pdf) != row_counts.get(name):
                    failed += 1
                    failures.append(f"{name}: pass {len(passes)} returned {len(pdf)} rows")
        passes.append(ps)
    rss = H.peak_rss_mb(spark)

    # ---- output check, outside the timed region
    want = _oracle_frames(env, first_results, catalog)
    if corrupt and want:
        victim = sorted(want)[0]
        want[victim] = want[victim].iloc[:-1] if len(want[victim]) else want[victim].assign(__bad=1)
    for name, got in first_results.items():
        if not _matches(got, want[name]):
            failed += 1
            failures.append(f"{name}: result differs from the DuckDB oracle")

    metrics, samples = H.end_to_end(tracer, passes)
    ops = [s.dur for s in tracer.spans if s.name == "op"]
    op_tail, op_pct = H.tail(ops)
    result = {
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "metrics": metrics,
        "info": {
            "peak_rss_mb": rss,
            "passes": len(passes),
            "ops_per_pass": len(names),
            "op_p50_s": H.median(ops),
            "op_tail_s": op_tail,
            "op_tail_pct": op_pct,
            "first_setup_s": setup_walls[0],
            "setup_samples": setup_walls,
            "pass_cpu_samples": [round(p.attrs["cpu_s"], 2) for p in passes],
            "cold_op_s": {o.attrs["query"]: round(o.dur, 3) for o in tracer.children(passes[0])},
            "fail_frac": failed / max(1, attempted),
        },
        "samples": {**samples, "op": len(ops)},
    }
    app_id = sc.applicationId
    spark.stop()
    if env.trace:
        result["layers"] = _layers(env, tracer, passes, load_walls, app_id)
    return result


def _pass_layers(tracer: H.Tracer, ps: H.Span, jobs: list[H.Job]) -> dict:
    """Build / plan / exec seconds, jobs launched inside ``build()`` and
    driver gap, summed over the ops of one pass."""
    out = {"build_s": 0.0, "plan_s": 0.0, "exec_s": 0.0, "build_jobs": 0, "driver_gap_s": 0.0, "wall_s": ps.dur}
    for op in tracer.children(ps):
        op_jobs = [j for j in jobs if j.group == op.attrs["group"]]
        out["driver_gap_s"] += H.driver_gap(op, op_jobs)
        for ph in tracer.children(op):
            out[f"{ph.name}_s"] += ph.dur
            if ph.name == "build":
                out["build_jobs"] += len(H.jobs_in(op_jobs, ph))
    return out


def _layers(env, tracer, passes, load_walls, app_id) -> dict:
    jobs = H.parse_event_log(env.event_dir, app_id)
    per = [_pass_layers(tracer, p, jobs) for p in passes]
    cold, warm = per[0], per[1:]

    def wmed(k):
        return H.median([p[k] for p in warm])

    first_exec = cold["exec_s"] - wmed("exec_s")
    layers = {
        "registry.load_s": H.median(load_walls[1:]),
        "catalog.build_cold_s": cold["build_s"],
        "catalog.build_warm_s": wmed("build_s"),
        "catalog.build_jobs": wmed("build_jobs"),
        "spark.plan_cold_s": cold["plan_s"],
        "spark.plan_warm_s": wmed("plan_s"),
        "spark.exec_cold_s": cold["exec_s"],
        "spark.exec_warm_s": wmed("exec_s"),
        "spark.first_exec_s": first_exec,
        "share.cold_fixed": (cold["build_s"] + cold["plan_s"] + max(0.0, first_exec)) / cold["wall_s"],
        "share.warm_fixed": (wmed("build_s") + wmed("plan_s")) / wmed("wall_s"),
        "driver_gap_s": wmed("driver_gap_s"),
        "trace.cold_pass_s": cold["wall_s"],
        "trace.warm_pass_s": wmed("wall_s"),
    }
    layers.update(H.warm_spark_totals(jobs, passes[1:], env.cpus))
    return layers
