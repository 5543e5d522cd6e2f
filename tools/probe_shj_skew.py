"""Pin shuffled-hash-join behavior under skew at x400 (r12, VERDICT item).

The r11 session configs prefer SHJ over SMJ
(spark.sql.join.preferSortMergeJoin=false + the AQE 128 MB
SMJ->SHJ local-map threshold).  SHJ has no sort-spill fallback, so the
open risk was: a skewed post-shuffle partition whose build side exceeds
memory OOMs where SMJ would have spilled.  This probe builds a x400
events fact with one hot key owning ~30% of all rows, joins it against
a dim wide enough to stay out of the broadcast tier, and records
(a) completion without OOM, (b) the join strategy actually chosen,
(c) whether AQE's skew handling engaged (skew=true / AQEShuffleRead
in the final adaptive plan).

Usage: python tools/probe_shj_skew.py [sf_dir] [scale]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.session import get_spark
    from airflow_embeddings_pipeline_spark.sources.registry import load_table

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 400

    # Broadcast tiers are disabled FOR THE PROBE ONLY: production hits
    # the shuffle path when the dim exceeds the broadcast cap (8 GB /
    # 512M rows); at fixture scale every dim broadcasts, so the probe
    # pins the post-shuffle behavior by switching the tier off rather
    # than staging a multi-GB dim.
    spark = get_spark(
        "probe-shj-skew",
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            # scale the skew detector down with the fixture: the default
            # 256 MB threshold corresponds to multi-GB hot partitions in
            # production; the x400 hot key here is ~10% of that
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        },
    )
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n_users = ev.select("user_id").distinct().count()

    # x`scale` replication; ~30% of all rows collapse onto ONE hot key.
    fact = (
        ev.select(
            "event_id",
            "user_id",
            "value",
            F.explode(F.sequence(F.lit(0), F.lit(scale - 1))).alias("__r"),
        )
        .select(
            (F.col("event_id") * scale + F.col("__r")).alias("event_id"),
            F.when(
                F.pmod(F.col("event_id") * scale + F.col("__r"), F.lit(10)) < 3,
                F.lit(1),
            )
            .otherwise(F.col("user_id"))
            .alias("user_id"),
            "value",
        )
    )
    # dim: one row per user plus a 2 KB pad so the size estimate clears
    # the 64 MB broadcast threshold -> the join must take the shuffle
    # path the probe exists to exercise.
    dim = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.col("user_id") % 3).cast("int").alias("tier"),
            F.repeat(F.lit("x"), 2048).alias("pad"),
        )
    )
    joined = (
        fact.join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    t0 = time.perf_counter()
    rows = joined.collect()
    wall = round(time.perf_counter() - t0, 2)

    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    final = final_plan.split("== Initial")[0]
    join_ops = sorted(
        set(re.findall(r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)", final))
    )
    print(
        json.dumps(
            {
                "scale": scale,
                "n_users": n_users,
                "fact_rows_out": sum(r["n"] for r in rows),
                "wall_sec": wall,
                "join_ops": join_ops,
                "aqe_shuffle_read": "AQEShuffleRead" in final,
                "skew_handled": "skewed" in final,
                "completed_no_oom": True,
            }
        )
    )
    with open(os.path.join(REPO, "plans/r12/SHJ_SKEW_PROBE_plan.txt"), "w") as f:
        f.write(final_plan)

    # Variant 2: the SMJ fallback path (local-map SHJ rewrite off) with
    # the skew detector floored to FIXTURE bytes.  The x400 hot-key
    # column is 60%-constant and zstd compresses its shuffle blocks
    # ~1000x (the hot partition measures 2.6 MiB — far under the
    # production-sized 256 MB default), so observing the splitter at
    # fixture scale requires fixture-scale thresholds; at 100 TB real
    # payload bytes trip the default ones.
    spark2_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    }
    for k, v in spark2_conf.items():
        spark.conf.set(k, v)
    try:
        # fresh plan: a DataFrame whose adaptive plan already executed
        # would return its cached result without re-planning.  The dim
        # is materialized first: OptimizeSkewedJoin pattern-matches
        # SMJ(Sort(ShuffleStage), Sort(ShuffleStage)) and the distinct
        # aggregate above the dim's shuffle breaks the match (observed:
        # zero skew splits with the agg in place, split fires without).
        dim2 = dim.localCheckpoint(eager=True)
        joined2 = (
            fact.join(dim2, "user_id")
            .groupBy("tier")
            .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        )
        t0 = time.perf_counter()
        rows2 = joined2.collect()
        wall2 = round(time.perf_counter() - t0, 2)
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        final2 = plan2.split("== Initial")[0]
        print(
            json.dumps(
                {
                    "variant": "smj_path_floored_thresholds",
                    "wall_sec": wall2,
                    "join_ops": sorted(
                        set(
                            re.findall(
                                r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)",
                                final2,
                            )
                        )
                    ),
                    "skew_split_observed": "skewed" in final2,
                    "counts_match_variant1": sorted((r["tier"], r["n"]) for r in rows2)
                    == sorted((r["tier"], r["n"]) for r in rows),
                }
            )
        )
        with open(os.path.join(REPO, "plans/r12/SHJ_SKEW_PROBE_smjpath_plan.txt"), "w") as f:
            f.write(plan2)
    finally:
        for k in spark2_conf:
            spark.conf.unset(k)


if __name__ == "__main__":
    main()
