"""Source registry: layout cache lifecycle (SURVEY §2.1 S1/S5)."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from airflow_embeddings_pipeline_spark.sources import registry


def _write_single_row_group(path: str, values: list[int]) -> None:
    pq.write_table(
        pa.table({"v": pa.array(values, pa.int64())}),
        path,
        row_group_size=len(values) + 1,
    )


def test_layout_cache_builds_and_serves(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(registry, "_LAYOUT_MIN_ROWS", 10)
    monkeypatch.setattr(registry, "_ROWS_PER_PARTITION", 20)
    monkeypatch.setattr(registry, "LAYOUT_CACHE_DIR", str(tmp_path / "cache"))
    src = str(tmp_path / "t.parquet")
    _write_single_row_group(src, list(range(50)))

    df = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert df.count() == 50
    # re-chunked: more than one file in the cache dir
    key = src.strip("/").replace("/", "_")
    # cache dirs are keyed by source mtime: <key>.m<millis>
    cache_root = str(tmp_path / "cache")
    gens = [d for d in os.listdir(cache_root) if d.startswith(key + ".m")]
    assert len(gens) == 1
    cache = os.path.join(cache_root, gens[0])
    parts = [f for f in os.listdir(cache) if f.endswith(".parquet")]
    assert len(parts) >= 2


def test_layout_cache_refreshes_on_stale_source(spark, tmp_path, monkeypatch):
    """A source rewritten AFTER the cache was built must be re-chunked —
    not served stale forever (the old code's rename hit ENOTEMPTY on the
    existing cache dir, deleted the fresh rewrite, and kept serving the
    stale copy)."""
    monkeypatch.setattr(registry, "_LAYOUT_MIN_ROWS", 10)
    monkeypatch.setattr(registry, "_ROWS_PER_PARTITION", 20)
    monkeypatch.setattr(registry, "LAYOUT_CACHE_DIR", str(tmp_path / "cache"))
    src = str(tmp_path / "t.parquet")
    _write_single_row_group(src, list(range(50)))
    df1 = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert df1.count() == 50

    time.sleep(0.05)
    _write_single_row_group(src, list(range(75)))  # source rewritten
    os.utime(src)  # ensure mtime strictly newer than the marker
    df2 = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert df2.count() == 75  # fresh data, not the stale 50-row cache

    # and the refreshed cache is itself served on the next load
    df3 = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert df3.count() == 75


def test_load_table_memo_reuses_plan_and_invalidates_on_rewrite(
    spark, tmp_path, monkeypatch
):
    """r11: ``load_table`` memoizes the LAZY scan per (session, path,
    mtime).  Two calls on an unchanged source return the same plan
    object (no repeated footer probes / JVM schema reads — measured
    ~100-170 ms of driver time per call); rewriting the source bumps
    mtime_ns and must invalidate, serving the fresh rows."""
    monkeypatch.setattr(registry, "_LAYOUT_MIN_ROWS", 10)
    monkeypatch.setattr(registry, "_ROWS_PER_PARTITION", 20)
    monkeypatch.setattr(registry, "LAYOUT_CACHE_DIR", str(tmp_path / "cache"))
    sf = str(tmp_path)
    src = os.path.join(sf, "t.parquet")
    _write_single_row_group(src, list(range(50)))

    df1 = registry.load_table(spark, sf, "t")
    df2 = registry.load_table(spark, sf, "t")
    assert df1 is df2  # memo hit: identical lazy plan, zero rebuild cost
    assert df1.count() == 50

    time.sleep(0.05)
    _write_single_row_group(src, list(range(75)))
    os.utime(src)
    df3 = registry.load_table(spark, sf, "t")
    assert df3 is not df1  # mtime key invalidated
    assert df3.count() == 75


def test_sql_and_dataframe_surfaces_agree(spark, sf_dir):
    """register_all exposes every fixture table as a temp view; a
    spark.sql query over the views must return exactly what the
    DataFrame formulation returns (same Catalyst plan underneath)."""
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.sources.registry import register_all

    register_all(spark, sf_dir)
    via_sql = spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM orders WHERE o_totalprice > 100000
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    ).collect()
    via_df = (
        spark.table("orders")
        .filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy("o_orderpriority")
        .collect()
    )
    assert via_sql == via_df


def test_gc_stale_generation_under_concurrent_reader(spark, tmp_path, monkeypatch):
    """The documented GC contract (_gc_stale_generations): a reader
    mid-scan of a STALE generation when GC reclaims it fails that one
    action — and a plain retry through the registry serves the fresh
    generation.  This proves "losing the race only costs a retry" is
    real, not aspirational."""
    import pytest

    monkeypatch.setattr(registry, "_LAYOUT_MIN_ROWS", 10)
    monkeypatch.setattr(registry, "_ROWS_PER_PARTITION", 20)
    monkeypatch.setattr(registry, "LAYOUT_CACHE_DIR", str(tmp_path / "cache"))
    src = str(tmp_path / "t.parquet")
    _write_single_row_group(src, list(range(50)))

    # Reader A plans (and proves it can scan) against generation 1.
    old_reader = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert old_reader.count() == 50

    # The source is regenerated; the next load builds generation 2 and
    # GCs generation 1 out from under reader A.
    time.sleep(0.05)
    _write_single_row_group(src, list(range(75)))
    os.utime(src)
    fresh = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert fresh.count() == 75
    cache_root = str(tmp_path / "cache")
    key = src.strip("/").replace("/", "_")
    gens = [d for d in os.listdir(cache_root) if d.startswith(key + ".m")]
    assert len(gens) == 1  # stale generation reclaimed

    # Reader A's next action hits the vanished directory: one failed
    # action, not silent wrong data.  (Disable Spark's file-index cache
    # effects by forcing a fresh scan via a new action.)
    with pytest.raises(Exception):
        old_reader.distinct().count()

    # The retry path: re-resolve through the registry → fresh data.
    retried = registry._with_layout_cache(spark, spark.read.parquet(src), src)
    assert retried.count() == 75


def test_layout_cache_rechunks_coarse_row_groups(spark, tmp_path, monkeypatch):
    """Multi-row-group files are NOT automatically fine-grained: parquet
    splits at row-group granularity, so a file with a few fat row groups
    still caps map parallelism (the symspell-stress 5-tasks-on-32-cores
    regression).  Coarse files must re-chunk; already-fine files must be
    served as-is (no pointless local copy)."""
    monkeypatch.setattr(registry, "_LAYOUT_MIN_ROWS", 10)
    monkeypatch.setattr(registry, "_ROWS_PER_PARTITION", 20)
    monkeypatch.setattr(registry, "LAYOUT_CACHE_DIR", str(tmp_path / "cache"))
    # the re-chunk target is capped by SPARK_GRAFT_CPUS: pin 32 cores so
    # "coarse" (4 groups) and "fine" (~32 groups) mean the same on any host
    monkeypatch.setattr(registry, "_DEFAULT_CPUS", "32")

    values = list(range(2000))
    coarse = str(tmp_path / "coarse.parquet")
    pq.write_table(
        pa.table({"v": pa.array(values, pa.int64())}), coarse, row_group_size=500
    )  # 4 fat groups < target/2 -> re-chunk
    df = registry._with_layout_cache(spark, spark.read.parquet(coarse), coarse)
    assert df.count() == 2000
    key = coarse.strip("/").replace("/", "_")
    cache_root = str(tmp_path / "cache")
    assert any(d.startswith(key + ".m") for d in os.listdir(cache_root))

    fine = str(tmp_path / "fine.parquet")
    pq.write_table(
        pa.table({"v": pa.array(values, pa.int64())}), fine, row_group_size=64
    )  # ~32 groups >= target/2 -> served as-is
    df2 = registry._with_layout_cache(spark, spark.read.parquet(fine), fine)
    assert df2.count() == 2000
    fkey = fine.strip("/").replace("/", "_")
    assert not any(d.startswith(fkey + ".m") for d in os.listdir(cache_root))


def test_document_store_source_parity_pruning_and_nulls(spark, sf_dir, tmp_path):
    """Custom Python DataSource (the Mongo-collection analog): full
    scan is value-identical to the parquet table, doc_id pushdown
    prunes whole blocks via the manifest, unsupported filters are
    handed back to Spark, and absent JSON fields surface as NULLs
    (the reference's doc.get(k, default) defensiveness)."""
    import json

    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreReader,
        register_document_store,
        stage_document_store,
    )

    path = stage_document_store(sf_dir)
    register_document_store(spark)
    via_store = (
        spark.read.format("document_store").option("path", path).load()
    )
    direct = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sorted(map(tuple, via_store.collect())) == sorted(
        map(tuple, direct.select(*via_store.columns).collect())
    )

    schema = _parse_datatype_string(STORE_SCHEMA)
    r = DocumentStoreReader(schema, {"path": path})
    n_all = len(r.partitions())
    assert n_all >= 2
    leftovers = list(
        r.pushFilters([GreaterThanOrEqual(("doc_id",), 10**9), EqualTo(("source",), "x")])
    )
    # source-equality is NOT pushable -> returned; doc_id bound is kept
    assert len(leftovers) == 1
    # bound beyond every block: all real blocks pruned, only the
    # zero-row sentinel remains (Spark demands >= 1 partition)
    [sentinel] = r.partitions()
    assert sentinel.path is None and list(r.read(sentinel)) == []

    # schemaless row: drop a field from one line of a private store copy
    store2 = tmp_path / "store2"
    store2.mkdir()
    rows = [
        {"doc_id": 1, "text": "a b", "source": "s"},  # lang, n_chars absent
    ]
    with open(store2 / "block-0000.jsonl", "w") as fh:
        for x in rows:
            fh.write(json.dumps(x) + "\n")
    (store2 / "manifest.json").write_text(
        json.dumps({"blocks": [{"file": "block-0000.jsonl", "min_id": 1, "max_id": 1}]})
    )
    row = (
        spark.read.format("document_store")
        .option("path", str(store2))
        .load()
        .collect()[0]
    )
    assert row["doc_id"] == 1 and row["lang"] is None and row["n_chars"] is None


def test_document_store_writer_roundtrip_and_atomic_publish(spark, sf_dir, tmp_path):
    """Write path: blocks staged per task, manifest published LAST
    (atomic visibility), round trip through the reader is value-exact,
    and overwrite replaces the store's content."""
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(123)
    out = str(tmp_path / "store_out")
    (
        docs.repartition(4)
        .write.format("document_store")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.format("document_store").option("path", out).load()
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, docs.select(*back.columns).collect())
    )
    import json
    import os

    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert 1 <= len(manifest["blocks"]) <= 4
    # no stray staged files after commit
    assert not [f for f in os.listdir(out) if f.startswith(".staged-")]
    # pruning works against the writer-produced manifest too
    n_after = (
        spark.read.format("document_store")
        .option("path", out)
        .load()
        .filter(F.col("doc_id") > 10**9)
        .count()
    )
    assert n_after == 0


def test_document_store_writer_overwrite_and_abort(spark, sf_dir, tmp_path):
    """Overwrite mode replaces content and sweeps unreferenced blocks;
    abort removes staged files so a failed job leaves no partial
    store."""
    import json
    import os

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        DocumentStoreWriter,
        _BlockCommit,
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "ow_store")
    for n in (40, 7):  # second write OVERWRITES the first
        (
            docs.limit(n)
            .repartition(2)
            .write.format("document_store")
            .option("path", out)
            .mode("overwrite")
            .save()
        )
    back = spark.read.format("document_store").option("path", out).load()
    assert back.count() == 7
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    live = {b["file"] for b in manifest["blocks"]}
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert on_disk == live  # stale generations swept

    # abort path: staged blocks vanish, the published store is untouched
    w = DocumentStoreWriter({"path": out}, overwrite=False)
    staged = os.path.join(out, ".staged-deadbeef.jsonl")
    open(staged, "w").write("{}\n")
    w.abort([_BlockCommit(file=".staged-deadbeef.jsonl", min_id=1, max_id=1, n_rows=1), None])
    assert not os.path.exists(staged)
    assert spark.read.format("document_store").option("path", out).load().count() == 7


def test_document_store_overwrite_is_generation_safe(spark, sf_dir, tmp_path):
    """Overwrite publishes a NEW generation under names disjoint from
    the live manifest's: a concurrent reader holding the old manifest
    never has a referenced file clobbered mid-commit (os.replace onto
    a live name was the round-4 defect), and the manifest's generation
    id changes so streams can detect the swap."""
    import json
    import os

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "gen_store")
    docs.limit(20).repartition(2).write.format("document_store").option(
        "path", out
    ).mode("overwrite").save()
    m1 = json.load(open(os.path.join(out, "manifest.json")))
    old_names = {b["file"] for b in m1["blocks"]}
    docs.limit(9).repartition(2).write.format("document_store").option(
        "path", out
    ).mode("overwrite").save()
    m2 = json.load(open(os.path.join(out, "manifest.json")))
    new_names = {b["file"] for b in m2["blocks"]}
    # never-clobber: no new block reuses an old generation's name
    assert not (old_names & new_names)
    # generation id changes on overwrite, is stable content otherwise
    assert m1["generation"] != m2["generation"]
    # old generation swept only after publish
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert on_disk == new_names
    assert (
        spark.read.format("document_store").option("path", out).load().count() == 9
    )


def test_document_store_null_doc_id_fails_pushed_filter(tmp_path):
    """A row missing doc_id must FAIL a pushed range filter (SQL NULL
    comparison semantics), not raise — the round-4 advice defect:
    TypeError on None <= int killed the whole scan task."""
    import json

    from pyspark.sql.datasource import GreaterThan
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreReader,
    )

    store = tmp_path / "null_store"
    store.mkdir()
    rows = [
        {"doc_id": 5, "text": "kept", "source": "s"},
        {"text": "no id", "source": "s"},  # doc_id absent -> NULL
    ]
    with open(store / "block-0000.jsonl", "w") as fh:
        for x in rows:
            fh.write(json.dumps(x) + "\n")
    (store / "manifest.json").write_text(
        json.dumps({"blocks": [{"file": "block-0000.jsonl", "min_id": 5, "max_id": 5}]})
    )
    r = DocumentStoreReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": str(store)}
    )
    assert list(r.pushFilters([GreaterThan(("doc_id",), 1)])) == []
    got = [t for b in r.partitions() for t in r.read(b)]
    assert len(got) == 1 and got[0][0] == 5  # NULL row filtered, no crash
    # without any pushed filter the NULL row passes through as NULL
    r2 = DocumentStoreReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": str(store)}
    )
    got2 = [t for b in r2.partitions() for t in r2.read(b)]
    assert len(got2) == 2


def test_document_store_stream_fails_loud_on_generation_change(spark, sf_dir, tmp_path):
    """The streaming reader keys its offset on the store generation:
    an overwrite between micro-batches must raise, not silently serve
    positionally-sliced new-generation blocks as appends."""
    import pytest
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreStreamReader,
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "stream_gen_store")
    docs.limit(10).write.format("document_store").option("path", out).mode(
        "overwrite"
    ).save()
    r = DocumentStoreStreamReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": out}
    )
    start = r.initialOffset()
    end = r.latestOffset()
    assert start["gen"] == end["gen"]
    # within one generation: the slice works
    assert len(r.partitions(start, end)) >= 1
    # overwrite -> new generation -> stale offsets must fail loudly
    docs.limit(4).write.format("document_store").option("path", out).mode(
        "overwrite"
    ).save()
    with pytest.raises(RuntimeError, match="generation changed"):
        r.partitions(start, end)


def test_document_store_stream_rebases_zero_block_offset_across_generations(
    spark, sf_dir, tmp_path
):
    """A zero-block offset has consumed nothing, so a generation change
    before the first micro-batch rebases silently (the common
    start-on-empty-then-overwrite-once pattern) instead of failing; an
    offset with blocks consumed from the old generation still raises."""
    import pytest
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreStreamReader,
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "stream_rebase_store")
    docs.limit(6).write.format("document_store").option("path", out).mode(
        "overwrite"
    ).save()
    r = DocumentStoreStreamReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": out}
    )
    start = r.initialOffset()  # {gen: g1, block: 0} — nothing consumed
    docs.limit(4).write.format("document_store").option("path", out).mode(
        "overwrite"
    ).save()  # generation swap before the first micro-batch
    end = r.latestOffset()  # current generation
    assert start["gen"] != end["gen"]
    # block-0 start rebases: the first micro-batch serves the NEW
    # generation's blocks from position 0
    parts = [p for p in r.partitions(start, end) if p.path is not None]
    n_rows = sum(1 for p in parts for _ in r.read(p))
    assert n_rows == 4
    # but a consumed offset from the old generation still fails loudly
    consumed = {"gen": start["gen"], "block": 1}
    with pytest.raises(RuntimeError, match="generation changed"):
        r.partitions(consumed, end)


def test_persisted_index_retrains_on_meta_mismatch(tmp_path):
    """The load-or-retrain guard: an artifact whose recorded meta
    disagrees with the current run (foreign corpus fingerprint, wrong
    params) answers None from load_index_if_valid — the mtime filename
    key alone is never trusted (cp -p / shared-/tmp hazard)."""
    from airflow_embeddings_pipeline_spark.extensions.index_store import (
        StaleIndexError,
        corpus_fingerprint,
        load_index,
        load_index_if_valid,
        save_index,
    )

    path = str(tmp_path / "idx.json")
    meta = {"source": "/a/b.parquet", "n_cents": 16, "corpus": {"n_rows": 10, "n_bytes": 99}}
    save_index(path, "ivf_centroids", [[1.0, 2.0]], meta=meta)
    # exact meta -> loads
    assert load_index_if_valid(path, "ivf_centroids", meta) == [[1.0, 2.0]]
    # foreign fingerprint -> stale
    bad = dict(meta, corpus={"n_rows": 11, "n_bytes": 99})
    assert load_index_if_valid(path, "ivf_centroids", bad) is None
    import pytest

    with pytest.raises(StaleIndexError):
        load_index(path, expect_kind="ivf_centroids", expect_meta=bad)
    # wrong kind stays a hard error path -> None via the soft loader
    assert load_index_if_valid(path, "pq_codebooks", meta) is None
    # corpus_fingerprint is footer-only and deterministic
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = str(tmp_path / "c.parquet")
    pq.write_table(pa.table({"x": list(range(7))}), f)
    fp = corpus_fingerprint(f)
    assert fp["n_rows"] == 7 and fp["n_bytes"] > 0
    assert corpus_fingerprint(f) == fp


def test_document_store_compaction_spark_roundtrip_and_stream_guard(
    spark, sf_dir, tmp_path
):
    """End-to-end through the registered source: many small appends ->
    compact -> the Spark scan (filtered and unfiltered) returns the
    same rows over FEWER input partitions, and a stream offset taken
    before compaction fails loudly afterwards (block positions moved,
    so the positional offset is invalid — same contract as
    overwrite)."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreStreamReader,
        compact_document_store,
        register_document_store,
    )

    register_document_store(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60).cache()
    out = str(tmp_path / "compact_store")
    # 6 appends x 2 shuffle partitions = many tiny blocks
    for i in range(6):
        (docs.filter(F.col("doc_id") % 6 == i).repartition(2)
             .write.format("document_store").option("path", out)
             .mode("append").save())

    def read_all():
        return sorted(
            r["doc_id"]
            for r in spark.read.format("document_store")
            .option("path", out).load().collect()
        )

    def read_filtered():
        return sorted(
            r["doc_id"]
            for r in spark.read.format("document_store")
            .option("path", out).load()
            .filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 40))
            .collect()
        )

    before_all, before_f = read_all(), read_filtered()
    n_blocks_before = len(
        json.load(open(os.path.join(out, "manifest.json")))["blocks"]
    )

    sr = DocumentStoreStreamReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": out}
    )
    stale_start, stale_end = sr.initialOffset(), sr.latestOffset()

    stats = compact_document_store(out, min_block_bytes=1 << 20)
    assert stats["groups_merged"] >= 1 and stats["generation_changed"]
    n_blocks_after = len(
        json.load(open(os.path.join(out, "manifest.json")))["blocks"]
    )
    assert n_blocks_after < n_blocks_before

    assert read_all() == before_all
    assert read_filtered() == before_f

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="generation changed"):
        sr.partitions(stale_start, stale_end)
    docs.unpersist()


def test_document_store_manifest_lock_and_typed_filter_defensiveness(
    spark, tmp_path
):
    """(a) Concurrent manifest committers are serialized by the O_EXCL
    lock: a held live lock raises loudly (lost-update prevention for
    writer-commit and compaction, the versioned store's single-writer
    guard applied here); a lock left by a DEAD pid is stolen.  (b) A
    schemaless row whose doc_id is a string fails a pushed range
    filter like NULL does, instead of killing the scan task with
    TypeError."""
    import json

    import pytest as _pytest
    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreReader,
        _manifest_lock,
        compact_document_store,
    )

    root = str(tmp_path / "lock_store")
    os.makedirs(root)
    # minimal store: one block, typed + untyped doc_ids
    with open(os.path.join(root, "block-0000.jsonl"), "w") as fh:
        fh.write(json.dumps({"doc_id": 5, "text": "a"}) + "\n")
        fh.write(json.dumps({"doc_id": "not-a-number", "text": "b"}) + "\n")
        fh.write(json.dumps({"doc_id": 50, "text": "c"}) + "\n")
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(
            {"generation": "g", "blocks": [
                {"file": "block-0000.jsonl", "min_id": 5, "max_id": 50}
            ]},
            fh,
        )

    # (b) pushed range filter: string doc_id row is dropped, not fatal
    r = DocumentStoreReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": root}
    )
    r.pushed = [("GreaterThanOrEqual", 0)]
    got = sorted(
        t[0] for b in r.partitions() for t in r.read(b)
    )
    assert got == [5, 50]
    # without pushed filters the schemaless row still surfaces
    r2 = DocumentStoreReader(
        _parse_datatype_string(STORE_SCHEMA), {"path": root}
    )
    assert len([t for b in r2.partitions() for t in r2.read(b)]) == 3

    # (a) live lock -> loud failure for compaction
    with _manifest_lock(root):
        with _pytest.raises(RuntimeError, match="commit already in flight"):
            compact_document_store(root, min_block_bytes=1)
    # lock released -> proceeds (no-op compaction: single block)
    stats = compact_document_store(root, min_block_bytes=1)
    assert stats["groups_merged"] == 0

    # stale lock from a dead pid is stolen
    with open(os.path.join(root, ".commit.lock"), "w") as fh:
        fh.write("999999999")
    stats = compact_document_store(root, min_block_bytes=1)
    assert stats["groups_merged"] == 0
    assert not os.path.exists(os.path.join(root, ".commit.lock"))


def test_document_store_crash_before_manifest_swap_leaves_store_intact(
    spark, tmp_path, monkeypatch
):
    """Crash-injection for the never-clobber protocol: a committer (an
    overwrite, then a compaction) that dies AFTER staging/renaming its
    blocks but BEFORE the manifest swap must leave the previous
    generation fully readable — same manifest bytes, same rows.  The
    orphaned new-generation files are unreferenced by construction, so
    they can never corrupt a read."""
    import json

    import pytest as _pytest
    from pyspark.sql.types import _parse_datatype_string

    import airflow_embeddings_pipeline_spark.sources.document_store as ds
    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreReader,
        DocumentStoreWriter,
        compact_document_store,
    )

    class Row:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return dict(self._d)

    schema = _parse_datatype_string(STORE_SCHEMA)
    root = str(tmp_path / "crash_store")

    def commit(ids, overwrite):
        w = DocumentStoreWriter({"path": root}, overwrite)
        rows = [
            Row({"doc_id": i, "text": f"t{i}", "lang": "en",
                 "source": "s", "n_chars": 2})
            for i in ids
        ]
        w.commit([w.write(iter(rows))])

    def read_ids():
        r = DocumentStoreReader(schema, {"path": root})
        return sorted(t[0] for b in r.partitions() for t in r.read(b))

    # live generation: two appends of tiny blocks
    commit([1, 2], False)
    commit([3], False)
    manifest_path = os.path.join(root, "manifest.json")
    before_manifest = open(manifest_path).read()
    assert read_ids() == [1, 2, 3]

    real_replace = os.replace

    def dying_replace(src, dst):
        if dst == manifest_path:
            raise OSError("injected crash before manifest swap")
        return real_replace(src, dst)

    # overwrite dies pre-swap
    monkeypatch.setattr(ds.os, "replace", dying_replace)
    with _pytest.raises(OSError, match="injected crash"):
        commit([9, 10], True)
    monkeypatch.setattr(ds.os, "replace", real_replace)
    assert open(manifest_path).read() == before_manifest
    assert read_ids() == [1, 2, 3]

    # compaction dies pre-swap (blocks are small enough to merge)
    monkeypatch.setattr(ds.os, "replace", dying_replace)
    with _pytest.raises(OSError, match="injected crash"):
        compact_document_store(root, min_block_bytes=1 << 20)
    monkeypatch.setattr(ds.os, "replace", real_replace)
    assert open(manifest_path).read() == before_manifest
    assert read_ids() == [1, 2, 3]
    # the lock is not left behind by the dead attempts
    assert not os.path.exists(os.path.join(root, ".commit.lock"))
    # and a healthy compaction afterwards still succeeds
    stats = compact_document_store(root, min_block_bytes=1 << 20)
    assert stats["groups_merged"] == 1
    assert read_ids() == [1, 2, 3]


def test_document_store_spark_tier_compaction_and_vacuum(spark, tmp_path):
    """(a) The one-task-per-group Spark merge tier produces the same
    store as the driver loop: same rows, same per-block contents, same
    pruning index.  (b) vacuum reclaims orphaned blocks older than the
    grace window, keeps young staged files (an in-flight commit), and
    never touches referenced blocks."""
    import json

    from pyspark.sql.types import _parse_datatype_string

    from airflow_embeddings_pipeline_spark.sources.document_store import (
        STORE_SCHEMA,
        DocumentStoreReader,
        DocumentStoreWriter,
        compact_document_store,
        vacuum_document_store,
    )

    class Row:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return dict(self._d)

    schema = _parse_datatype_string(STORE_SCHEMA)

    def build(root):
        for batch in range(5):
            w = DocumentStoreWriter({"path": root}, False)
            rows = [
                Row({"doc_id": batch * 10 + i, "text": f"t{batch}-{i}",
                     "lang": "en", "source": "s", "n_chars": 2})
                for i in range(4)
            ]
            w.commit([w.write(iter(rows[:2])), w.write(iter(rows[2:]))])

    def rows_of(root):
        r = DocumentStoreReader(schema, {"path": root})
        return sorted(t for b in r.partitions() for t in r.read(b))

    root_a = str(tmp_path / "driver_tier")
    root_b = str(tmp_path / "spark_tier")
    build(root_a)
    build(root_b)
    sa = compact_document_store(root_a, min_block_bytes=1 << 20)
    sb = compact_document_store(root_b, min_block_bytes=1 << 20, spark=spark)
    assert sa["groups_merged"] >= 1
    assert (sa["groups_merged"], sa["blocks_after"], sa["bytes_rewritten"]) == (
        sb["groups_merged"], sb["blocks_after"], sb["bytes_rewritten"]
    )
    assert rows_of(root_a) == rows_of(root_b)
    ma = json.load(open(os.path.join(root_a, "manifest.json")))
    mb = json.load(open(os.path.join(root_b, "manifest.json")))
    assert [
        (b["min_id"], b["max_id"]) for b in ma["blocks"]
    ] == [(b["min_id"], b["max_id"]) for b in mb["blocks"]]

    # (b) vacuum: plant an old orphan, an old staged temp, a young temp
    orphan = os.path.join(root_b, "block-deadbeef-9999.jsonl")
    old_tmp = os.path.join(root_b, ".staged-deadbeef.jsonl")
    young_tmp = os.path.join(root_b, ".staged-young.jsonl")
    for p in (orphan, old_tmp, young_tmp):
        with open(p, "w") as fh:
            fh.write("{}\n")
    past = time.time() - 7200
    os.utime(orphan, (past, past))
    os.utime(old_tmp, (past, past))
    live_before = rows_of(root_b)
    stats = vacuum_document_store(root_b, grace_seconds=3600)
    assert stats["removed"] == 2 and stats["kept_young"] == 1
    assert not os.path.exists(orphan) and not os.path.exists(old_tmp)
    assert os.path.exists(young_tmp)
    assert rows_of(root_b) == live_before
