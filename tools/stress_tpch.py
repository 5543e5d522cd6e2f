"""Scale-stress the TPC-H plans on an N×-replicated warehouse.

The fixture TPC-H tables at sf0.1 are small enough that ANY join
strategy looks fine — including a forced broadcast of a relation that
grows linearly with SF (the round-4 q9 defect).  This tool replicates
the fact AND dimension tables N× with KEY-CONSISTENT shifts (replica i
shifts every key domain by i × max(key), so FK relationships hold
within each replica and never cross replicas) and runs the headline
TPC-H shapes against the staged warehouse.  At ×100 the staged scale
is SF≈10: lineitem ~60M rows — big enough that a fixture-tuned
broadcast hint on part/supplier/customer/partsupp either degrades or
fails, which is exactly what this run is here to catch empirically.

Replication preserves the reference-shape skew: each replica is a full
valid TPC-H instance, so per-key group sizes stay constant and runtime
should grow ~linearly with N for the scan/shuffle-bound queries.

Usage: python tools/stress_tpch.py [sf_dir] [--scale N] [--ops a,b]
Prints one JSON line: {query: seconds, ...}.
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

# key domains: table -> {column: domain}; every column in one domain
# shifts by the same stride so joins stay consistent across tables
_DOMAINS = {
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "customer": {"c_custkey": "custkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
}
_COPY_AS_IS = ("nation", "region")

# queries under stress (the verdict's pick: the scan-agg heavyweight,
# the 3-way fact join, the partsupp 6-table join, the self-join EXISTS
# shape) — all from the live catalog, so a plan fix here is the plan
# the driver/judge measures.
_DEFAULT_OPS = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q9_product_profit",
    "q21_waiting_supplier",
)


def scale_tpch(sf_dir: str, factor: int) -> str:
    """Stage an N×-replicated TPC-H warehouse under /tmp, keyed by
    (sf_dir, factor) for rerun reuse.  Replica row groups are streamed
    through ParquetWriter — peak memory is one replica, not N."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = sf_dir.strip("/").replace("/", "_")
    out = os.path.join(tempfile.gettempdir(), f"tpchstress_{key}_x{factor}")
    done = os.path.join(out, ".staged")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)

    # per-domain stride = max key over the source warehouse (TPC-H
    # orderkeys are sparse — row counts are NOT a safe stride)
    stride: dict[str, int] = {}
    for table, cols in _DOMAINS.items():
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        for col, domain in cols.items():
            m = pc.max(t[col]).as_py()
            stride[domain] = max(stride.get(domain, 0), int(m))

    for table, cols in _DOMAINS.items():
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        final = f"{out}/{table}.parquet"
        with pq.ParquetWriter(final + ".tmp", t.schema) as w:
            for i in range(factor):
                shifted = t
                for col, domain in cols.items():
                    idx = shifted.schema.get_field_index(col)
                    shifted = shifted.set_column(
                        idx, col, pc.add(shifted[col], i * stride[domain])
                    )
                w.write_table(shifted)
        os.replace(final + ".tmp", final)
    for table in _COPY_AS_IS:
        t = pq.read_table(f"{sf_dir}/{table}.parquet")
        final = f"{out}/{table}.parquet"
        pq.write_table(t, final + ".tmp")
        os.replace(final + ".tmp", final)
    with open(done, "w") as fh:
        fh.write("ok")
    return out


def main() -> None:
    from airflow_embeddings_pipeline_spark.plans import get_catalog
    from airflow_embeddings_pipeline_spark.session import get_spark

    argv = sys.argv[1:]
    only = None
    if "--ops" in argv:
        i = argv.index("--ops")
        only = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    sf_dir, scale = parse_args(argv)
    if scale == 1:
        scale = 100  # this tool's whole point is the scaled warehouse

    staged = scale_tpch(sf_dir, scale)
    # Size shuffle partitions to the staged volume, not the core count:
    # at ×1000 (≈SF 100) a 32-partition fact⨝fact shuffle puts ~19M rows
    # in each task's hash build and the JVM hits GCLocker allocation
    # stalls (q5 measured 258 s).  Over-partitioning is cheap — AQE
    # coalesces small post-shuffle partitions back — so this is exactly
    # the "partitions must fit in executor memory at the target SF"
    # sizing a real cluster job does.
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "stress-tpch", shuffle_partitions=max(cpus, scale // 4)
    )
    catalog = get_catalog()
    timings: dict[str, float] = {}
    for name in only or _DEFAULT_OPS:
        t0 = time.perf_counter()
        catalog[name].build(spark, staged).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
    print(json.dumps({"scale": scale, "sf_dir": sf_dir, **timings}))


if __name__ == "__main__":
    main()
