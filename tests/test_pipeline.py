"""End-to-end pipeline semantics that the SQL oracle can't see:
the CURRENT_TIMESTAMP audit column and replay idempotency of the
full staged-batch merge (embeddings-pipeline.py:318, T4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from airflow_embeddings_pipeline_spark.operators.merge import merge_upsert
from airflow_embeddings_pipeline_spark.plans.pipeline import (
    _source_documents,
    _transform,
)


def test_transform_shapes(spark, sf_dir):
    src = _source_documents(spark, sf_dir)
    out = _transform(src)
    assert out.columns == [
        "doc_id",
        "cleaned_ref",
        "category",
        "main_refco",
        "display_name",
        "original_timestamp",
    ]
    row = out.orderBy("doc_id").first()
    # ISO strings sort lexicographically as timestamps (W1 dependency)
    assert "T" in row["original_timestamp"]


def test_audit_column_stamped_at_merge(spark):
    target = spark.createDataFrame(
        [("k1", "a", None)], schema="main_refco string, v string, inserted_at timestamp"
    )
    staged = spark.createDataFrame(
        [("k1", "b"), ("k2", "c")], schema="main_refco string, v string"
    )
    # F9: stamp at merge time (embeddings-pipeline.py:318)
    stamped = staged.withColumn("inserted_at", F.current_timestamp())
    out = merge_upsert(target, stamped, "main_refco")
    rows = {r["main_refco"]: r for r in out.collect()}
    assert rows["k1"]["inserted_at"] is not None
    assert rows["k2"]["inserted_at"] is not None


def test_pipeline_merge_replay_idempotent(spark, sf_dir):
    from airflow_embeddings_pipeline_spark.plans.pipeline import pipeline_e2e_merge

    once = pipeline_e2e_merge(spark, sf_dir).collect()
    twice = pipeline_e2e_merge(spark, sf_dir).collect()
    assert once == twice


def test_orders_kps_template_clone_matches_direct_commit(
    spark, sf_dir, tmp_path
):
    """Lifecycle entries seed their scratch tables by cloning one
    per-process template.  The clone must be observationally identical
    to a direct initial commit (rows, schema, version number, manifest
    key/stats), reuse the memoized template on repeat seeds, and own an
    independent lifecycle (deleting one root never breaks the other)."""
    import shutil

    from airflow_embeddings_pipeline_spark.plans.pipeline import (
        _ORDERS_KPS_TEMPLATES,
        _orders_kps_table,
    )
    from airflow_embeddings_pipeline_spark.sources.registry import load_table
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    roots = [str(tmp_path / n) for n in ("a", "b", "direct")]
    try:
        a = _orders_kps_table(spark, sf_dir, roots[0])
        n_templates = len(_ORDERS_KPS_TEMPLATES)
        b = _orders_kps_table(spark, sf_dir, roots[1])
        assert len(_ORDERS_KPS_TEMPLATES) == n_templates  # memo hit

        orders = load_table(spark, sf_dir, "orders")
        direct = VersionedParquetTable(roots[2])
        direct.commit_with_manifest(
            orders.select(
                F.col("o_orderkey").alias("k"),
                F.col("o_totalprice").cast("double").alias("price"),
                F.col("o_orderstatus").alias("status"),
            ),
            "k",
            cluster_partitions=16,
        )

        da = a.read(spark).orderBy("k")
        db = direct.read(spark).orderBy("k")
        assert da.schema == db.schema
        assert da.collect() == db.collect()
        assert a.current_version() == direct.current_version() == 1
        man_a, man_d = a.manifest(1), direct.manifest(1)
        assert man_a["key"] == man_d["key"]
        assert len(man_a["files"]) == len(man_d["files"])
        # no CDC watermark leaks into the clone (a direct initial commit
        # carries none); cloned_from provenance is the only extra key
        meta = (man_a.get("app_metadata") or {})
        assert "cdc_last_applied_version" not in meta

        # independent lifecycle: removing one clone leaves the other whole
        rows_b = b.read(spark).count()
        shutil.rmtree(a.root)
        assert b.read(spark).count() == rows_b
    finally:
        for p in roots:
            shutil.rmtree(p, ignore_errors=True)
