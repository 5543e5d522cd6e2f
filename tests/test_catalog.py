"""Catalog integrity + driver-contract smoke."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from airflow_embeddings_pipeline_spark.plans import get_catalog


def test_catalog_nonempty_and_consistent():
    cat = get_catalog()
    assert len(cat) >= 30
    for name, q in cat.items():
        assert q.name == name
        assert callable(q.build)
        assert q.doc


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "source",
        "lang",
        "n_refs",
        "sum_chars",
        "min_display_name_id",
        "latest_doc_id",
    ]


def test_queries_oracle_keys_align():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql) <= set(qs)
    # every oracle is plain SQL text
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in osql.values())


@pytest.mark.parametrize("name", ["q1_pricing_summary", "w_latest_per_key", "x_fingerprint"])
def test_spot_queries_run(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    assert len(df.take(5)) > 0


def test_engine_facade(spark, sf_dir):
    from airflow_embeddings_pipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    assert "documents" in eng.tables()
    n_sql = eng.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"]
    assert n_sql == eng.table("documents").count() > 0
    assert eng.query("a_distinct_sources").count() > 0
    assert "flagship_merge_pipeline" in eng.catalog()


def test_every_oracle_parses_in_duckdb():
    """Syntax-check every oracle against DuckDB (EXPLAIN over empty
    views derived from the REAL fixture schemas): a typo or a
    non-existent column in an oracle string fails here, not in the
    driver's correctness gate."""
    import duckdb
    import pyarrow.parquet as pq

    def duck_type(t) -> str:
        s = str(t)
        if s.startswith("timestamp"):
            return "TIMESTAMP"
        if s.startswith("list<"):
            return "FLOAT[]"
        return {
            "int32": "INT", "int64": "BIGINT", "double": "DOUBLE",
            "float": "FLOAT", "string": "VARCHAR", "date32[day]": "DATE",
        }[s]

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        schema = pq.read_schema(f"/root/testdata/sf0.01/{t}.parquet")
        cols = ", ".join(
            f"CAST(NULL AS {duck_type(f.type)}) AS {f.name}" for f in schema
        )
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM (SELECT {cols}) WHERE FALSE"
        )

    bad = {}
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad[name] = str(e).splitlines()[0]
    assert not bad, f"oracles failed DuckDB syntax check: {bad}"




def test_no_forced_broadcast_on_scaling_relations(spark, sf_dir):
    """Round-5 guard for the fixture-tuned-hint defect class: no plan
    in the FULL catalog (plans/ and extensions/) may carry a broadcast
    hint whose subtree scans a scaling table unbounded (past Spark's
    8 GB broadcast limit a forced hint FAILS the query instead of
    degrading — invisible to every fixture-scale check, so it is
    linted here).  Bounded shapes (1-row global aggregates, limits,
    driver-built LocalRelations, nation/region) pass structurally;
    sets the syntactic walk cannot prove bounded (literal-id-filtered
    query sets, fence tables, ingest batches) are whitelisted with
    reasons in hint_audit.BOUNDED_BY_DESIGN."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from hint_audit import audit_catalog

    bad = audit_catalog(spark, sf_dir)  # full catalog, both module trees
    assert not bad, f"forced broadcast on scaling relations: {bad}"
