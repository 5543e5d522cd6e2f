"""Local replica of the driver's correctness gate.

Runs every catalog query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares row count, column names, and
order-insensitive values.  Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canonicalize(df) -> list[tuple]:
    """Sort columns by name, normalize cell values, sort rows."""
    import datetime
    import math

    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append(None)
            elif isinstance(v, float):
                vals.append(round(v, 9))
            elif isinstance(v, datetime.datetime):
                vals.append(v.replace(tzinfo=None).isoformat())
            elif hasattr(v, "tolist"):  # numpy scalars/arrays
                vals.append(str(v.tolist()))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple("" if x is None else str(x) for x in t))
    return out


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from airflow_embeddings_pipeline_spark.session import get_spark

    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    results: dict[str, dict] = {}
    n_ran = 0
    for name, build in qs.items():
        if only and name not in only:
            continue
        n_ran += 1
        t0 = time.time()
        try:
            sdf = build(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures.append(name)
            results[name] = {"pass": False, "err": "spark error",
                             "wall_sec": round(time.time() - t0, 2)}
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"pass": True, "rows_only": True,
                             "spark_rows": len(sdf),
                             "wall_sec": round(time.time() - t0, 2)}
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures.append(name)
            results[name] = {"pass": False, "err": "duckdb error",
                             "wall_sec": round(time.time() - t0, 2)}
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} oracle={len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"columns spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        if not problems:
            a, b = canonicalize(sdf), canonicalize(odf)
            if a != b:
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        wall = round(time.time() - t0, 2)
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            failures.append(name)
            results[name] = {"pass": False, "err": "; ".join(problems)[:400],
                             "wall_sec": wall}
        else:
            print(f"ok   {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
            results[name] = {"pass": True, "spark_rows": len(sdf),
                             "oracle_rows": len(odf), "wall_sec": wall}

    print(f"\n{n_ran - len(failures)}/{n_ran} pass")
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": n_ran,
                    "n_pass": n_ran - len(failures),
                    "failures": failures,
                    "queries": results,
                },
                fh,
                indent=1,
            )
        print(f"wrote {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
