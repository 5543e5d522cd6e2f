"""MERGE upsert semantics + idempotency (SURVEY §2.3 J3, §2.8 T4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from airflow_embeddings_pipeline_spark.operators.merge import (
    merge_counts,
    merge_upsert,
    merge_upsert_write_pruned,
)


def _target(spark):
    return spark.createDataFrame(
        [
            ("k1", "old_ref", "old_cat", 1),
            ("k2", "keep_ref", "old_cat", 2),
            ("k3", "untouched", "old_cat", 3),
        ],
        schema="main_refco string, cleaned_ref string, category string, n int",
    )


def _source(spark):
    return spark.createDataFrame(
        [
            ("k1", "new_ref", "new_cat", 10),
            ("k2", "new_ref2", "new_cat", 20),
            ("k9", "ins_ref", "ins_cat", 90),
        ],
        schema="main_refco string, cleaned_ref string, category string, n int",
    )


def test_merge_matched_updates_unmatched_inserts(spark):
    out = merge_upsert(
        _target(spark), _source(spark), "main_refco",
        update_columns=["category", "n"],
    )
    rows = {r["main_refco"]: r for r in out.collect()}
    assert set(rows) == {"k1", "k2", "k3", "k9"}
    # matched: update-set columns from source, cleaned_ref kept from
    # target (absent from UPDATE SET, embeddings-pipeline.py:329-338)
    assert rows["k1"]["category"] == "new_cat" and rows["k1"]["n"] == 10
    assert rows["k1"]["cleaned_ref"] == "old_ref"
    assert rows["k2"]["cleaned_ref"] == "keep_ref"
    # target-only rows carry through unchanged
    assert rows["k3"]["category"] == "old_cat" and rows["k3"]["n"] == 3
    # source-only rows insert all columns
    assert rows["k9"]["cleaned_ref"] == "ins_ref" and rows["k9"]["n"] == 90


def test_merge_idempotent_replay(spark):
    once = merge_upsert(_target(spark), _source(spark), "main_refco")
    twice = merge_upsert(once, _source(spark), "main_refco")
    assert sorted(once.collect()) == sorted(twice.collect())


def test_merge_counts(spark):
    row = merge_counts(_target(spark), _source(spark), "main_refco").collect()[0]
    assert row["rows_updated"] == 2 and row["rows_inserted"] == 1


def test_merge_upsert_write_versioned_commit(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "target")
    _target(spark).write.parquet(path)  # legacy plain-parquet table
    # the first merge adopts the legacy directory (v1), then merges (v2)
    v = merge_upsert_write_pruned(
        path, _source(spark), "main_refco"
    )["version"]
    table = VersionedParquetTable(path)
    assert v == 2 and table.current_version() == 2
    out = {r["main_refco"]: r for r in table.read(spark).collect()}
    assert set(out) == {"k1", "k2", "k3", "k9"}
    assert out["k9"]["n"] == 90
    # replay: same source again ⇒ identical table (T4 idempotency)
    before = sorted(table.read(spark).collect())
    v3 = merge_upsert_write_pruned(
        path, _source(spark), "main_refco"
    )["version"]
    assert v3 == 3 and sorted(table.read(spark).collect()) == before
    # default vacuum keeps current + one previous version readable (the
    # adoption's directory stays on disk: v3 still carries its files)
    assert table.versions() == [2, 3]


def test_versioned_crash_before_pointer_swap_keeps_old_live(spark, tmp_path, monkeypatch):
    """Kill between the version-dir write and the pointer swap: the old
    version must stay live and a retry must commit cleanly past the
    orphan."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "target")
    _target(spark).write.parquet(path)
    # adopts (v1) and merges (v2): v2 live
    merge_upsert_write_pruned(path, _source(spark), "main_refco")
    table = VersionedParquetTable(path)
    live = sorted(table.read(spark).collect())

    def boom(self, version):
        raise RuntimeError("crashed before pointer swap")

    monkeypatch.setattr(VersionedParquetTable, "_swap_pointer", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        merge_upsert_write_pruned(path, _source(spark), "main_refco")
    monkeypatch.undo()

    # old version still live and readable; orphan v3 invisible to readers
    assert table.current_version() == 2
    assert sorted(table.read(spark).collect()) == live
    assert os.path.isdir(os.path.join(path, "v00000003"))  # the orphan

    # retry reconciles the orphan (deletes it, reuses its number) and
    # commits cleanly
    v = merge_upsert_write_pruned(
        path, _source(spark), "main_refco"
    )["version"]
    assert v == 3 and table.current_version() == 3
    assert sorted(table.read(spark).collect()) == live  # idempotent replay
    # kept: v3 current + v2 previous-live; the orphan is gone
    assert table.versions() == [2, 3]


def test_versioned_rejects_remote_uri():
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Delta Lake / Iceberg"):
        VersionedParquetTable("s3://bucket/table")


def test_versioned_concurrent_commit_one_wins(spark, tmp_path):
    """Two simultaneous commits: exactly one wins, the loser fails
    LOUDLY with ConcurrentCommitError, and no version is lost or
    interleaved (reference max_active_runs=1 serialization, T7)."""
    import threading

    import pytest as _pytest

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        ConcurrentCommitError,
        VersionedParquetTable,
    )

    root = str(tmp_path / "concurrent")
    table = VersionedParquetTable(root)
    table.lock_wait_seconds = 0  # immediate raise: the race is the test
    df = spark.range(5).withColumnRenamed("id", "k")

    started = threading.Event()
    release = threading.Event()
    real_swap = VersionedParquetTable._swap_pointer

    def slow_swap(self, version):
        started.set()
        assert release.wait(30)
        real_swap(self, version)

    results: dict[str, object] = {}
    VersionedParquetTable._swap_pointer = slow_swap
    try:
        t = threading.Thread(
            target=lambda: results.update(a=table.commit(df))
        )
        t.start()
        assert started.wait(60)  # writer A inside the locked region
        with _pytest.raises(ConcurrentCommitError, match="single-writer"):
            table.commit(df)
        release.set()
        t.join(60)
    finally:
        VersionedParquetTable._swap_pointer = real_swap
        release.set()
    assert results["a"] == 1 and table.current_version() == 1
    # loser retried after the lock cleared -> clean v2, nothing lost
    assert table.commit(df) == 2
    assert table.read(spark).count() == 5


def test_versioned_stale_lock_stolen_live_lock_respected(spark, tmp_path):
    """A lock left by a dead pid is stolen; a lock held by a live pid
    is not."""
    import os as _os

    import pytest as _pytest

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        ConcurrentCommitError,
        VersionedParquetTable,
    )

    root = str(tmp_path / "stale")
    table = VersionedParquetTable(root)
    table.lock_wait_seconds = 0  # immediate raise: holder liveness is the test
    df = spark.range(3).withColumnRenamed("id", "k")
    _os.makedirs(root, exist_ok=True)
    lock = _os.path.join(root, "_COMMIT_LOCK")
    with open(lock, "w") as f:
        f.write("999999999")  # beyond pid_max: guaranteed-dead holder
    assert table.commit(df) == 1  # stale lock stolen, commit proceeds
    with open(lock, "w") as f:
        f.write(str(_os.getpid()))  # "live holder" (our own pid)
    with _pytest.raises(ConcurrentCommitError):
        table.commit(df)
    _os.unlink(lock)


def test_versioned_crashed_first_commit_clear_error(spark, tmp_path):
    """A fresh table whose first commit died before the pointer swap
    must raise a clear 'no committed version' signal on read, not
    Spark's generic path-not-found."""
    import os as _os

    import pytest as _pytest

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    root = str(tmp_path / "crashed_first")
    _os.makedirs(_os.path.join(root, "v00000001"))  # orphan, no pointer
    table = VersionedParquetTable(root)
    with _pytest.raises(FileNotFoundError, match="no committed version"):
        table.read(spark)


def test_versioned_time_travel(spark, tmp_path):
    import pytest

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    table = VersionedParquetTable(str(tmp_path / "tt"))
    v1 = table.commit(spark.range(0, 10))
    v2 = table.commit(spark.range(0, 25))
    assert table.versions() == [v1, v2]
    assert table.read_version(spark, v1).count() == 10
    assert table.read_version(spark, v2).count() == 25
    assert table.read(spark).count() == 25

    # vacuum with keep_last=1 drops v1; time travel to it now fails
    table.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        table.read_version(spark, v1)
    assert table.read_version(spark, v2).count() == 25

    # a crash orphan (dir without marker, never pointed at) is not readable
    orphan = v2 + 1
    spark.range(3).write.parquet(str(tmp_path / "tt" / f"v{orphan:08d}"))
    with pytest.raises(FileNotFoundError):
        table.read_version(spark, orphan)


def test_versioned_crashed_adoption_keeps_legacy_readable(spark, tmp_path):
    """A crash between the first version write and the pointer swap on
    a legacy (pointer-less) table must leave the legacy files readable,
    and the next commit must reconcile the orphan and succeed."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    root = str(tmp_path / "legacy")
    spark.range(10).toDF("k").write.parquet(root)
    table = VersionedParquetTable(root)
    # simulate the crash state: orphan version dir, no pointer
    spark.range(99).toDF("k").write.parquet(table._version_dir(1))
    assert table.current_version() is None
    assert table.read(spark).count() == 10  # legacy rows, orphan invisible
    v = table.commit(spark.range(5).toDF("k"))
    assert table.read(spark).count() == 5
    # the orphan was reconciled away, the committed version is live
    assert table.versions() == [v]


def test_versioned_marker_written_before_pointer(spark, tmp_path):
    """Every live version carries _COMMITTED (marker-first ordering):
    after N commits, history survives vacuum and time travel works for
    all kept versions."""
    import os

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        _COMMITTED,
        VersionedParquetTable,
    )

    root = str(tmp_path / "tbl")
    table = VersionedParquetTable(root)
    for n in (3, 4, 5):
        v = table.commit(spark.range(n).toDF("k"))
        assert os.path.exists(os.path.join(table._version_dir(v), _COMMITTED))
    assert [table.read_version(spark, v).count() for v in table.versions()] == [
        3, 4, 5,
    ]


def test_versioned_orphan_above_pointer_not_time_travelable(spark, tmp_path):
    """A committed-but-never-pointed orphan (crash after marker, before
    swap) is not readable history and is reconciled by the next commit."""
    import os

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        _COMMITTED,
        VersionedParquetTable,
    )
    import pytest as _pytest

    root = str(tmp_path / "tbl2")
    table = VersionedParquetTable(root)
    table.commit(spark.range(3).toDF("k"))
    # simulate crash-after-marker: v2 written + marked, pointer still v1
    spark.range(99).toDF("k").write.parquet(table._version_dir(2))
    open(os.path.join(table._version_dir(2), _COMMITTED), "w").close()
    assert table.versions() == [1]
    with _pytest.raises(FileNotFoundError):
        table.read_version(spark, 2)
    v = table.commit(spark.range(7).toDF("k"))
    assert v == 2  # orphan reconciled, number reused
    assert table.read(spark).count() == 7


def test_compact_recovers_crashed_swap(spark, tmp_path):
    """compact_parquet restores a dataset stranded in __compact_old__
    by a crash between the two swap renames."""
    import os

    from airflow_embeddings_pipeline_spark.sources.sink import compact_parquet

    path = str(tmp_path / "ds")
    spark.range(100).toDF("k").write.parquet(path)
    os.rename(path, path + ".__compact_old__")  # the crash state
    metrics = compact_parquet(spark, path)
    assert metrics["after_files"] >= 1
    assert spark.read.parquet(path).count() == 100


def test_connected_components_rejects_string_ids(spark):
    from airflow_embeddings_pipeline_spark.extensions.dedup import (
        connected_components,
    )
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [("a", "b")], schema="id_a string, id_b string"
    )
    with _pytest.raises(TypeError, match="integral node ids"):
        connected_components(pairs)


def test_merge_schema_evolution_appends_and_backfills(spark, tmp_path):
    """mergeSchema analog: a source batch with a NEW column widens the
    table — matched/inserted rows take the source value, untouched
    target rows backfill NULL — and versioned commits make the widened
    schema the live one while old versions stay readable."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B", 0.5), (3, "C", 0.9)], "k long, v string, score double"
    )
    # default: unknown column ignored, schema unchanged
    flat = merge_upsert(target, source, "k")
    assert flat.columns == ["k", "v"]

    widened = merge_upsert(target, source, "k", schema_evolution=True)
    assert widened.columns == ["k", "v", "score"]
    rows = {r["k"]: (r["v"], r["score"]) for r in widened.collect()}
    assert rows == {1: ("a", None), 2: ("B", 0.5), 3: ("C", 0.9)}

    # through the versioned table: widened schema becomes the live one
    path = str(tmp_path / "tbl")
    target.write.parquet(path)
    merge_upsert_write_pruned(path, source, "k", schema_evolution=True,
                              vacuum_keep_last=None)
    live = VersionedParquetTable(path).read(spark)
    assert "score" in live.columns and live.count() == 3
    # idempotent replay with the same batch: identical table
    merge_upsert_write_pruned(path, source, "k", schema_evolution=True,
                              vacuum_keep_last=None)
    again = VersionedParquetTable(path).read(spark)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, live.collect()))


def test_merge_delete_clause_applies_tombstones(spark):
    """WHEN MATCHED ... THEN DELETE: tombstoned source rows remove their
    target match, tombstones for absent keys insert nothing, and
    replaying the same batch is a no-op (CDC delete idempotency)."""
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, None, True), (5, "E", False)],
        "k long, v string, deleted boolean",
    )
    out = merge_upsert(
        target,
        source.select("k", "v", "deleted"),
        "k",
        update_columns=["v"],
        delete_when=F.col("s.deleted"),
    )
    rows = {r["k"]: r["v"] for r in out.select("k", "v").collect()}
    # 1 untouched, 2 updated, 3 deleted, 4's tombstone inserts nothing,
    # 5 inserted
    assert rows == {1: "a", 2: "B", 5: "E"}
    replay = merge_upsert(
        out.select("k", "v"),
        source.select("k", "v", "deleted"),
        "k",
        update_columns=["v"],
        delete_when=F.col("s.deleted"),
    )
    assert {r["k"]: r["v"] for r in replay.select("k", "v").collect()} == rows


# ------------------------------------------------- file-pruned MERGE
def _big_target(spark, n=200, step=2):
    """n rows with EVEN integer keys 0, 2, ... — gaps let tests insert
    keys that fall INSIDE a file's [min, max] range."""
    return spark.range(n).select(
        (F.col("id") * step).alias("k"),
        F.concat(F.lit("ref-"), F.col("id")).alias("ref"),
        F.lit("old").alias("cat"),
    )


def _pruned_setup(spark, tmp_path, *, parts=8):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "pruned_target")
    table = VersionedParquetTable(path)
    table.commit_with_manifest(_big_target(spark), "k", cluster_partitions=parts)
    return path, table


def _file_identity(table):
    """(relpath -> (inode, mtime_ns, size)) for every manifest file."""
    man = table.manifest(table.current_version())
    out = {}
    for e in man["files"]:
        st = os.stat(os.path.join(table.root, e["path"]))
        out[e["path"]] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def test_pruned_merge_rewrites_only_touched_files(spark, tmp_path):
    """The 100 TB property: a narrow batch rewrites a small file subset;
    every untouched file is carried BY REFERENCE — same inode, same
    bytes, never rewritten — and the read-back equals the full
    relational MERGE row-for-row."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    before = _file_identity(table)
    assert len(before) >= 4  # clustering actually produced several files

    # batch: update two low keys, insert one key INSIDE a file gap and
    # one far above every range
    source = spark.createDataFrame(
        [(0, "upd-0", "new"), (2, "upd-2", "new"),
         (251, "ins-gap", "new"), (100_000, "ins-high", "new")],
        "k long, ref string, cat string",
    )
    expect = sorted(
        map(tuple, merge_upsert(table.read(spark), source, "k").collect())
    )
    stats = merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    assert stats["pruning"] == "exact"
    assert 0 < stats["files_touched"] < stats["files_total"]
    assert stats["files_carried"] == stats["files_total"] - stats["files_touched"]
    assert stats["bytes_rewritten"] > 0

    after_man = table.manifest(table.current_version())
    carried = [e for e in after_man["files"] if e["path"] in before]
    assert len(carried) == stats["files_carried"]
    for e in carried:  # byte-identical, never rewritten (inode + mtime)
        st = os.stat(os.path.join(table.root, e["path"]))
        assert (st.st_ino, st.st_mtime_ns, st.st_size) == before[e["path"]]

    got = sorted(map(tuple, table.read(spark).collect()))
    assert got == expect


def test_pruned_merge_insert_inside_carried_range_touches_that_file(
    spark, tmp_path
):
    """An insert key inside some file's [min, max] gap MUST touch that
    file (conservative range containment) so the merged subset holds
    the insert — the correctness containment argument."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    man = table.manifest(table.current_version())
    # pick a gap key strictly inside the first file's range
    f0 = sorted(man["files"], key=lambda e: e["min"])[0]
    gap_key = f0["min"] + 1  # keys are even, so +1 is absent but in-range
    assert f0["min"] < gap_key < f0["max"]
    source = spark.createDataFrame([(gap_key, "gap", "new")], "k long, ref string, cat string")
    stats = merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    assert stats["files_touched"] >= 1
    rows = {r["k"]: r for r in table.read(spark).collect()}
    assert rows[gap_key]["ref"] == "gap"
    # total count: all originals + 1 insert
    assert len(rows) == 201


def test_pruned_merge_idempotent_and_interval_fallback(spark, tmp_path):
    """Replaying the same batch is a row/content no-op (T4), and the
    interval pruning tier (too many distinct keys for the exact set)
    produces the same table content."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [(10, "u10", "n"), (12, "u12", "n"), (9999, "ins", "n")],
        "k long, ref string, cat string",
    )
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    first = sorted(map(tuple, table.read(spark).collect()))
    # replay exact tier
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    assert sorted(map(tuple, table.read(spark).collect())) == first
    # replay through the range-join tier (cap forces it): the batch's
    # keys broadcast-range-join the per-file ranges, so only files
    # whose [min, max] actually CONTAINS one of {10, 12, 9999} are
    # touched — unlike a crude [10, 9999] interval overlap, the files
    # between the update keys and the insert key stay carried
    stats = merge_upsert_write_pruned(
        path, source, "k", vacuum_keep_last=None, max_exact_keys=1
    )
    assert stats["pruning"] == "range-join"
    assert sorted(map(tuple, table.read(spark).collect())) == first
    assert 0 < stats["files_touched"] < stats["files_total"]
    assert stats["files_carried"] > 0
    # telemetry truthfulness: rows_source is the TRUE distinct-key
    # count even when the batch exceeded the exact-collect cap (the
    # probe only read cap+1 = 2 keys; the stat must still say 3)
    assert stats["rows_source"] == 3


def test_pruned_merge_empty_source_is_noop(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    v0 = table.current_version()
    empty = spark.createDataFrame([], "k long, ref string, cat string")
    stats = merge_upsert_write_pruned(path, empty, "k")
    assert stats["pruning"] == "empty-source"
    assert stats["version"] == v0 and table.current_version() == v0
    assert stats["bytes_rewritten"] == 0


def test_pruned_merge_delete_when_prunes_and_deletes(spark, tmp_path):
    """Tombstones only touch the files holding their keys; matched rows
    are dropped, absent-key tombstones insert nothing."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [(4, "x", "DEL"), (7777, "x", "DEL"), (6, "keep6", "new")],
        "k long, ref string, cat string",
    )
    stats = merge_upsert_write_pruned(
        path, source, "k", vacuum_keep_last=None,
        delete_when=F.col("s.cat") == "DEL",
    )
    assert stats["files_touched"] < stats["files_total"]
    rows = {r["k"]: r for r in table.read(spark).collect()}
    assert 4 not in rows            # matched tombstone deleted
    assert 7777 not in rows         # absent-key tombstone inserts nothing
    assert rows[6]["ref"] == "keep6"
    assert len(rows) == 199         # 200 originals - 1 delete


def test_pruned_merge_schema_evolution_over_carried_files(spark, tmp_path):
    """An evolved column exists physically only in rewritten files; the
    manifest schema surfaces it as NULL for every carried file's rows —
    exactly the warehouse backfill semantics."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [(0, "u0", "new", "extra-0"), (50_001, "ins", "new", "extra-i")],
        "k long, ref string, cat string, note string",
    )
    stats = merge_upsert_write_pruned(
        path, source, "k", vacuum_keep_last=None, schema_evolution=True
    )
    assert stats["files_carried"] > 0
    df = table.read(spark)
    assert "note" in df.columns
    rows = {r["k"]: r for r in df.collect()}
    assert rows[0]["note"] == "extra-0" and rows[50_001]["note"] == "extra-i"
    # a row living in a carried (never-rewritten) file reads NULL
    untouched_key = max(k for k in rows if k < 50_001 and k != 0)
    assert rows[untouched_key]["note"] is None


def test_pruned_merge_vacuum_keeps_referenced_files(spark, tmp_path):
    """vacuum(keep_last=1) after pruned merges: files carried by the
    LIVE manifest survive even though their version directory is no
    longer kept; fully-unreferenced dirs are removed; the table still
    reads correctly and time travel to the GC'd version fails loudly."""
    import pytest

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    src1 = spark.createDataFrame([(0, "a", "n")], "k long, ref string, cat string")
    src2 = spark.createDataFrame([(2, "b", "n")], "k long, ref string, cat string")
    expect = sorted(
        map(
            tuple,
            merge_upsert(
                merge_upsert(table.read(spark), src1, "k"), src2, "k"
            ).collect(),
        )
    )
    merge_upsert_write_pruned(path, src1, "k", vacuum_keep_last=None)
    merge_upsert_write_pruned(path, src2, "k", vacuum_keep_last=None)
    table.vacuum(keep_last=1)
    # every file the live manifest references still exists
    man = table.manifest(table.current_version())
    for e in man["files"]:
        assert os.path.exists(os.path.join(table.root, e["path"])), e["path"]
    assert sorted(map(tuple, table.read(spark).collect())) == expect
    # the partially-GC'd v1 lost its marker: no longer time-travelable
    with pytest.raises(FileNotFoundError):
        table.read_version(spark, 2)


def test_versioned_compact_rewrites_only_small_files(spark, tmp_path):
    """OPTIMIZE analog: after several pruned merges accumulate small
    files, compact() merges them into few range-clustered files,
    carries every large file BY IDENTITY, and changes no content."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path, table = _pruned_setup(spark, tmp_path)
    # several narrow merges -> each commits 1-2 small new files
    for i in range(4):
        src = spark.createDataFrame(
            [(2 * i, f"u{i}", "n"), (10_000 + i, f"ins{i}", "n")],
            "k long, ref string, cat string",
        )
        merge_upsert_write_pruned(path, src, "k", vacuum_keep_last=None)
    before_content = sorted(map(tuple, table.read(spark).collect()))
    man_before = table.manifest(table.current_version())
    # every data file here is tiny, so classify the 4 biggest as
    # "large" via a threshold between the sizes to prove carrying
    sizes = sorted(e["bytes"] for e in man_before["files"])
    threshold = sizes[-4]
    large_before = {
        e["path"]: os.stat(os.path.join(table.root, e["path"])).st_mtime_ns
        for e in man_before["files"]
        if e["bytes"] >= threshold
    }
    stats = table.compact(spark, min_file_bytes=threshold)
    assert stats["files_after"] < stats["files_before"]
    assert stats["bytes_rewritten"] > 0
    man_after = table.manifest(table.current_version())
    carried = [e for e in man_after["files"] if e["path"] in large_before]
    assert len(carried) == len(large_before)  # all large files carried
    for e in carried:  # by identity, not rewritten
        st = os.stat(os.path.join(table.root, e["path"]))
        assert st.st_mtime_ns == large_before[e["path"]]
    assert sorted(map(tuple, table.read(spark).collect())) == before_content
    # no-op when nothing (or one file) is small
    again = table.compact(spark, min_file_bytes=1)
    assert again["bytes_rewritten"] == 0
    assert table.current_version() == stats["version"]


def test_versioned_read_range_skips_files_and_filters_exactly(spark, tmp_path):
    """Reader-side data skipping: read_range scans only range-
    intersecting files (verify via input_file_name cardinality) and
    returns exactly the predicate rows; degrades to full scan+filter
    on a different key."""
    from pyspark.sql import functions as F

    path, table = _pruned_setup(spark, tmp_path)
    out = table.read_range(spark, "k", 100, 120)
    rows = sorted(r["k"] for r in out.collect())
    assert rows == [k for k in range(100, 121) if k % 2 == 0]
    n_files = (
        table.read_range(spark, "k", 100, 120)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    man = table.manifest(table.current_version())
    assert n_files < len(man["files"])  # actually skipped files
    # unknown clustering key -> full scan + filter, same rows
    assert sorted(
        r["k"] for r in table.read_range(spark, "k", None, 10).collect()
    ) == [0, 2, 4, 6, 8, 10]


def test_pruned_merge_string_keys(spark, tmp_path):
    """The reference's MERGE key (main_refco) is a STRING: footer
    min/max for strings are byte-lexicographic (UTF-8 preserves
    code-point order, and parquet truncation keeps bounds valid), so
    pruning must work and stay conservative on a string-clustered
    table."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "string_keyed")
    table = VersionedParquetTable(path)
    target = spark.range(300).select(
        F.format_string("ref-%04d", F.col("id")).alias("main_refco"),
        F.lit("old").alias("cat"),
    )
    table.commit_with_manifest(target, "main_refco", cluster_partitions=8)
    source = spark.createDataFrame(
        [("ref-0001", "upd"), ("ref-0002", "upd"), ("zzz-new", "ins")],
        "main_refco string, cat string",
    )
    expect = sorted(
        map(tuple, merge_upsert(table.read(spark), source, "main_refco").collect())
    )
    stats = merge_upsert_write_pruned(
        path, source, "main_refco", vacuum_keep_last=None
    )
    assert 0 < stats["files_touched"] < stats["files_total"]
    assert sorted(map(tuple, table.read(spark).collect())) == expect
    # range-join tier over string ranges too
    stats2 = merge_upsert_write_pruned(
        path, source, "main_refco", vacuum_keep_last=None, max_exact_keys=1
    )
    assert stats2["pruning"] == "range-join"
    assert 0 < stats2["files_touched"] < stats2["files_total"]
    assert sorted(map(tuple, table.read(spark).collect())) == expect


def test_pruned_merge_statless_key_type_degrades_to_full(spark, tmp_path):
    """A key type whose footer stats the scanner won't trust (decimal
    — no canonical comparable form recorded) yields no-stats entries:
    every file is touched — conservative full rewrite, never wrong
    results.  (Timestamp keys USED to be this case; they now carry
    epoch-us stats and prune — tests/test_temporal_stats.py.)"""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "dec_keyed")
    table = VersionedParquetTable(path)
    target = spark.range(50).select(
        F.col("id").cast("decimal(10,2)").alias("amt"),
        F.lit("old").alias("cat"),
    )
    table.commit_with_manifest(target, "amt", cluster_partitions=4)
    man = table.manifest(table.current_version())
    assert all(e["min"] is None for e in man["files"])  # stats dropped
    source = target.limit(3).select("amt", F.lit("upd").alias("cat"))
    expect = sorted(
        map(tuple, merge_upsert(table.read(spark), source, "amt").collect())
    )
    stats = merge_upsert_write_pruned(path, source, "amt", vacuum_keep_last=None)
    assert stats["files_touched"] == stats["files_total"]  # conservative
    assert sorted(map(tuple, table.read(spark).collect())) == expect


def test_merge_composite_key_semantics(spark):
    """Composite-key MERGE: the join condition is the AND of all key
    columns — a source row matching only the LEADING key must insert,
    not update; merge_counts agrees."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_counts,
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (2, 1, "c")], "k1 long, k2 int, v string"
    )
    source = spark.createDataFrame(
        [(1, 1, "A"), (1, 3, "NEW"), (9, 1, "I")], "k1 long, k2 int, v string"
    )
    got = sorted(
        map(tuple, merge_upsert(target, source, ["k1", "k2"]).collect())
    )
    assert got == [
        (1, 1, "A"),      # full composite match → update
        (1, 2, "b"),      # untouched
        (1, 3, "NEW"),    # leading key matches, trailing differs → insert
        (2, 1, "c"),      # untouched
        (9, 1, "I"),      # unmatched → insert
    ]
    counts = merge_counts(target, source, ["k1", "k2"]).collect()[0]
    assert (counts["rows_updated"], counts["rows_inserted"]) == (1, 2)


def test_pruned_merge_composite_key_prunes_on_leading_column(spark, tmp_path):
    """Composite-key pruned MERGE: merges on the full composite key,
    prunes files on the LEADING column's manifest stats, and the
    read-back equals the full relational MERGE row-for-row."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    target = spark.range(400).select(
        (F.col("id") / 4).cast("long").alias("k1"),
        (F.col("id") % 4).cast("int").alias("k2"),
        F.concat(F.lit("v-"), F.col("id")).alias("v"),
    )
    path = str(tmp_path / "composite_target")
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k1", cluster_partitions=8)
    assert table.manifest(table.current_version())["key"] == "k1"

    source = spark.createDataFrame(
        [
            (0, 0, "upd"),       # composite match in the lowest file
            (0, 9, "ins-trail"), # leading match only → insert, same file range
            (5000, 0, "ins-high"),  # above every range → new file only
        ],
        "k1 long, k2 int, v string",
    )
    expect = sorted(
        map(
            tuple,
            merge_upsert(table.read(spark), source, ["k1", "k2"]).collect(),
        )
    )
    stats = merge_upsert_write_pruned(
        path, source, ["k1", "k2"], vacuum_keep_last=None
    )
    assert stats["pruning"] == "exact"
    assert 0 < stats["files_touched"] < stats["files_total"]
    assert stats["rows_source"] == 3  # distinct key tuples in the batch
    assert sorted(map(tuple, table.read(spark).collect())) == expect
    # next version stays clustered on the leading column
    assert table.manifest(table.current_version())["key"] == "k1"


def test_pruned_merge_append_split_keeps_ranges_disjoint(spark, tmp_path):
    """Out-of-range inserts land in their OWN file(s): no new file's
    [min, max] may span the gap between the touched region and the
    append region, and no file range may overlap any other — the
    layout invariant that keeps the touched-set of every LATER merge
    minimal (long-horizon probe: overlap 0 across 60 cycles).

    Inputs: a far insert run beside one band; inserts below the first
    and above the last of two bands (they must not share a file, and
    no file's [min, max] may contain a band edge); a band of
    OVERLAPPING touched files big enough for several output files
    (they come out disjoint); and the range-join tier on the
    two-band input.  Every input reads back equal to the full
    relational MERGE."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )

    def _overlapping(path, table):
        # base files [0, 48], [50, 98], … plus one carried file of odd
        # keys [1, 99] overlapping the first two
        odd = spark.range(50).select(
            (F.col("id") * 2 + 1).alias("k"),
            F.concat(F.lit("odd-"), F.col("id")).alias("ref"),
            F.lit("old").alias("cat"),
        )
        table.commit_with_manifest(
            odd,
            "k",
            carried=table.manifest(table.current_version())["files"],
            cluster_partitions=1,
        )

    two_bands = [(100, "upd", "n"), (300, "upd", "n"), (-50, "lo", "n"),
                 (100_000, "hi", "n")]
    cases = [
        # (name, extra setup, source rows, files touched, merge kwargs)
        ("far_inserts",
         None,
         [(0, "upd", "n")]
         + [(100_000 + i, f"ins-{i}", "n") for i in range(50)],
         1, {}),
        ("inserts_beside_bands", None, two_bands, 2, {}),
        ("overlapping_band", _overlapping,
         [(10, "upd", "n"), (60, "upd", "n")], 3, {}),
        ("range_join", None, two_bands, 2, {"max_exact_keys": 1}),
    ]
    for name, setup, rows, n_touched, kw in cases:
        path, table = _pruned_setup(spark, tmp_path / name)
        if setup is not None:
            setup(path, table)
        base = {
            e["path"]: e
            for e in table.manifest(table.current_version())["files"]
        }
        source = spark.createDataFrame(
            rows, "k long, ref string, cat string"
        )
        expect = sorted(
            map(tuple, merge_upsert(table.read(spark), source, "k").collect())
        )
        stats = merge_upsert_write_pruned(
            path, source, "k", vacuum_keep_last=None, **kw
        )
        assert stats["files_touched"] == n_touched, name
        assert sorted(map(tuple, table.read(spark).collect())) == expect, name
        man = table.manifest(table.current_version())
        ranges = sorted(
            (e["min"], e["max"]) for e in man["files"] if e["min"] is not None
        )
        assert len(ranges) == len(man["files"])  # all files carry stats
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 < lo2, (
                f"{name}: overlapping file ranges ({lo1},{hi1}) ({lo2},{hi2})"
            )
        touched = sorted(
            (e["min"], e["max"])
            for p, e in base.items()
            if p not in {f["path"] for f in man["files"]}
        )
        bands = []
        for lo, hi in touched:
            if bands and lo <= bands[-1][1]:
                bands[-1][1] = max(bands[-1][1], hi)
            else:
                bands.append([lo, hi])
        new = [(e["min"], e["max"]) for e in man["files"]
               if e["path"] not in base]
        for lo, hi in bands:
            assert not any(a < lo <= b or a <= hi < b for a, b in new), (
                f"{name}: a new file spans the edge of band ({lo}, {hi})"
            )
        if name == "far_inserts":
            # the insert file is separate: some file starts at the base
            assert any(lo == 100_000 for lo, _ in ranges)
        elif name == "overlapping_band":
            assert sum(1 for a, b in new if 0 <= a and b <= 99) >= 2
        else:
            # the insert below the first band and the one above the
            # last never share a file
            assert (-50, -50) in new and (100_000, 100_000) in new, name


def test_band_split_empty_hinted_band_leaves_clean_manifest(spark, tmp_path):
    """An EMPTY band must not poison the commit: the band-split write
    gives the band its own (empty) output partition, and any zero-row
    file the write produces is dropped by scan_file_stats — the
    manifest carries no null-stats entry for later merges to
    conservatively touch."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    root = str(tmp_path / "t")
    t = VersionedParquetTable(root)
    df = spark.range(1_000).selectExpr("id as k", "concat('v', id) as s")
    # two bands: [0, 499] genuinely empty, [500, 999] holds every row
    # — plus out-of-band appends
    df2 = df.filter("k >= 500").union(
        spark.range(5).selectExpr("id + 10000 as k", "'oob' as s")
    )
    t.commit_with_manifest(
        df2,
        "k",
        append_split=[(0, 499), (500, 999)],
        cluster_partitions=4,
    )
    man = t.manifest(t.current_version())
    assert man["files"], "manifest must carry the written files"
    for e in man["files"]:
        assert e["n_rows"] > 0, f"zero-row entry leaked: {e}"
        assert e["min"] is not None and e["max"] is not None
    assert t.read(spark).count() == 505
    # no file spans the gap between the band and the appends
    assert not any(
        e["min"] <= 999 < 10_000 <= e["max"] for e in man["files"]
    )


def test_pruned_merge_null_key_insert_survives_append_split(spark, tmp_path):
    """A NULL-key source row must INSERT (SQL equality never matches
    NULL — the merge docstring's contract), including on the pruned
    path where the commit splits the write at range cut points: every
    cut comparison is NULL for a NULL key, and the row must still be
    written — it passes no cut and lands in the lowest partition — and
    the read-back equals the full relational MERGE."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    n_before = table.read(spark).count()
    # one in-range update (forces the append_split band path) and one
    # NULL-key insert
    source = spark.createDataFrame(
        [(0, "upd-0", "new"), (None, "ins-null", "new")],
        "k long, ref string, cat string",
    )
    expect = sorted(
        map(tuple, merge_upsert(table.read(spark), source, "k").collect()),
        key=lambda t: (t[0] is None, t),
    )
    stats = merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    assert stats["files_touched"] == 1
    got = sorted(
        map(tuple, table.read(spark).collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert len(got) == n_before + 1  # the NULL-key row was not dropped
    assert got == expect
    assert any(t[1] == "ins-null" for t in got)


def test_pruned_merge_composite_trailing_column_pruning_bites(spark, tmp_path):
    """Per-file stats are recorded for EVERY key column: a source tuple
    whose leading key sits inside a file's range but whose trailing key
    is outside that file's recorded k2 range must NOT touch the file —
    strictly tighter than leading-only pruning (it becomes a pure
    insert into a new file), and the read-back still equals the full
    relational MERGE."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert,
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    # k2 correlates with the layout: k2 = k1 // 50, so each of the 8
    # lead-clustered files holds a tight k2 range
    target = spark.range(400).select(
        F.col("id").alias("k1"),
        (F.col("id") / 50).cast("int").alias("k2"),
        F.concat(F.lit("v-"), F.col("id")).alias("v"),
    )
    path = str(tmp_path / "composite_trailing")
    table = VersionedParquetTable(path)
    table.commit_with_manifest(
        target, "k1", cluster_partitions=8, stats_columns=["k1", "k2"]
    )
    man = table.manifest(table.current_version())
    assert man["stats_columns"] == ["k1", "k2"]
    assert all(e.get("stats", {}).get("k2") for e in man["files"])

    # lead key 10 lies in the first file's range, but k2=7 is far from
    # that file's k2 range [0, 0] — trailing pruning excludes it
    source = spark.createDataFrame(
        [(10, 7, "ins")], "k1 long, k2 int, v string"
    )
    expect = sorted(
        map(
            tuple,
            merge_upsert(table.read(spark), source, ["k1", "k2"]).collect(),
        )
    )
    stats = merge_upsert_write_pruned(
        path, source, ["k1", "k2"], vacuum_keep_last=None
    )
    assert stats["files_touched"] == 0  # leading-only would touch 1
    assert stats["files_carried"] == stats["files_total"]
    assert sorted(map(tuple, table.read(spark).collect())) == expect
    # the committed manifest keeps multi-column stats coverage
    man2 = table.manifest(table.current_version())
    assert man2["stats_columns"] == ["k1", "k2"]

    # same exclusion through the range-join tier (cap forces it)
    stats2 = merge_upsert_write_pruned(
        path, source, ["k1", "k2"], vacuum_keep_last=None, max_exact_keys=0
    )
    assert stats2["pruning"] == "range-join"
    assert stats2["rows_source"] == 1
    assert sorted(map(tuple, table.read(spark).collect())) == expect


def test_read_range_on_secondary_stats_column(spark, tmp_path):
    """read_range skips files using a NON-clustering column's recorded
    stats (stats_columns), and the result equals the plain filter."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    target = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v2"),
        F.lit("x").alias("pad"),
    )
    path = str(tmp_path / "secondary_skip")
    table = VersionedParquetTable(path)
    table.commit_with_manifest(
        target, "k", cluster_partitions=8, stats_columns=["k", "v2"]
    )
    got = sorted(
        r["k"] for r in table.read_range(spark, "v2", 100, 140).collect()
    )
    assert got == list(range(50, 71))  # v2 = 2k in [100, 140]
    # and the skipping actually pruned: count files whose v2 range
    # intersects [100, 140] — must be a strict subset
    man = table.manifest(table.current_version())
    kept = [
        e
        for e in man["files"]
        if e["stats"]["v2"][0] <= 140 and e["stats"]["v2"][1] >= 100
    ]
    assert 0 < len(kept) < len(man["files"])


# ----------------------------------------------------- change data feed
def test_changes_between_net_semantics(spark, tmp_path):
    """The CDF classifies every key exactly once: changed rows become an
    update_preimage/update_postimage pair, new keys inserts, delete_when
    casualties deletes — and rows rewritten UNCHANGED inside a touched
    file (co-residents of a touched key, or a source row identical to
    the target's) never appear."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [
            (0, "ref-0-NEW", "n"),   # changed update
            (2, "ref-1", "old"),     # source row IDENTICAL to target row
            (100_000, "ins", "n"),   # insert above every range
            (4, "whatever", "DEL"),  # delete_when victim
        ],
        "k long, ref string, cat string",
    )
    merge_upsert_write_pruned(
        path, source, "k",
        delete_when=F.col("s.cat") == "DEL", vacuum_keep_last=None,
    )
    rows = {
        (r.k, r._change_type): (r.ref, r.cat, r._commit_version)
        for r in table.changes_between(spark, 1, 2).collect()
    }
    assert rows == {
        (0, "update_preimage"): ("ref-0", "old", 2),
        (0, "update_postimage"): ("ref-0-NEW", "n", 2),
        (100_000, "insert"): ("ins", "n", 2),
        (4, "delete"): ("ref-2", "old", 2),
    }


def test_changes_between_reads_only_file_diff(spark, tmp_path):
    """Read amplification is bounded by the manifest file DIFF: carried
    files are excluded from both join sides, the old side scans exactly
    the merge's touched files, and the output still equals the
    brute-force two-snapshot diff."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [(0, "upd", "n"), (100_000, "ins", "n")],
        "k long, ref string, cat string",
    )
    stats = merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    diff = table.changes_file_diff(1, 2)
    assert diff["files_old"] == stats["files_touched"] == 1
    assert diff["files_carried"] == stats["files_total"] - 1
    assert diff["files_new"] >= 1

    # brute-force reference diff over the full snapshots
    v1 = {r.k: (r.ref, r.cat) for r in table.read_version(spark, 1).collect()}
    v2 = {r.k: (r.ref, r.cat) for r in table.read_version(spark, 2).collect()}
    expect = set()
    for k in v1.keys() | v2.keys():
        if k not in v1:
            expect.add((k, "insert"))
        elif k not in v2:
            expect.add((k, "delete"))
        elif v1[k] != v2[k]:
            expect.add((k, "update_preimage"))
            expect.add((k, "update_postimage"))
    got = {
        (r.k, r._change_type)
        for r in table.changes_between(spark, 1, 2).collect()
    }
    assert got == expect


def test_changes_between_plain_versions_degrade(spark, tmp_path):
    """Plain (manifest-less) commits still diff correctly — with an
    explicit key and full-snapshot scans (changes_file_diff says so
    with None counts)."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "plain")
    table = VersionedParquetTable(path)
    table.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    table.commit(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"))
    with pytest.raises(ValueError, match="key required"):
        table.changes_between(spark, 1, 2)
    got = {
        (r.k, r._change_type)
        for r in table.changes_between(spark, 1, 2, key="k").collect()
    }
    assert got == {
        (1, "delete"),
        (2, "update_preimage"),
        (2, "update_postimage"),
        (3, "insert"),
    }
    assert table.changes_file_diff(1, 2) == {
        "files_old": None, "files_new": None, "files_carried": None,
    }


def test_changes_between_schema_evolution_null_preimage(spark, tmp_path):
    """A column added by an evolved merge reads as NULL on the
    pre-image side (same rule the versioned reader applies to old
    files), so the evolved column alone marks the row updated only when
    the post-image sets it non-NULL."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame(
        [(0, "ref-0", "old", "extra-0")], "k long, ref string, cat string, note string"
    )
    merge_upsert_write_pruned(
        path, source, "k", schema_evolution=True, vacuum_keep_last=None
    )
    rows = {
        (r.k, r._change_type): r.note
        for r in table.changes_between(spark, 1, 2).collect()
    }
    assert rows == {
        (0, "update_preimage"): None,
        (0, "update_postimage"): "extra-0",
    }


def test_changes_between_validation(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    source = spark.createDataFrame([(0, "u", "n")], "k long, ref string, cat string")
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    with pytest.raises(ValueError, match="v_from < v_to"):
        table.changes_between(spark, 2, 1)
    with pytest.raises(FileNotFoundError, match="version 9"):
        table.changes_between(spark, 1, 9)


# ------------------------------------------------ auto-maintenance policy
def test_maintain_healthy_layout_is_noop(spark, tmp_path):
    """A freshly range-clustered table crosses neither decay bound:
    maintain() reports the signals and commits nothing."""
    path, table = _pruned_setup(spark, tmp_path)
    v_before = table.current_version()
    out = table.maintain(spark, max_small_files=8)
    assert out["triggered"] is False and out["actions"] == []
    assert out["signals"]["overlap_files"] == 0
    assert out["signals"]["files_total"] == 8
    assert table.current_version() == v_before


def test_maintain_small_file_trigger_compacts(spark, tmp_path):
    """Sequential merges accumulate small files; once the count crosses
    the bound, maintain() runs the compact pass — file count drops,
    content identical."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    for i in range(4):
        src = spark.createDataFrame(
            [(100_000 + 10 * i + j, f"ins-{i}-{j}", "n") for j in range(3)],
            "k long, ref string, cat string",
        )
        merge_upsert_write_pruned(path, src, "k", vacuum_keep_last=None)
    before = sorted(map(tuple, table.read(spark).collect()))
    man = table.manifest(table.current_version())
    assert len(man["files"]) > 8  # decayed: merge-added small files
    out = table.maintain(spark, max_small_files=8)
    assert out["triggered"] and out["actions"][-1]["action"] == "compact"
    assert out["signals"]["small_files"] > 8
    man_after = table.manifest(table.current_version())
    assert len(man_after["files"]) < len(man["files"])
    assert sorted(map(tuple, table.read(spark).collect())) == before


def test_maintain_overlap_trigger_reclusters_component(spark, tmp_path):
    """A wide file overlapping the clustered layout (the unsplit-append
    decay shape) trips the overlap bound: maintain() re-clusters ONLY
    the transitive overlap component — files outside it are carried
    untouched — and the resulting ranges are pairwise disjoint again."""
    path, table = _pruned_setup(spark, tmp_path)
    man1 = table.manifest(table.current_version())
    wide = spark.createDataFrame(
        [(k, f"wide-{k}", "w") for k in range(101, 300, 2)],
        "k long, ref string, cat string",
    )
    # one wide file [101, 299] across the middle of the clustered layout
    table.commit_with_manifest(
        wide, "k", carried=list(man1["files"]), cluster_partitions=1
    )
    before = sorted(map(tuple, table.read(spark).collect()))
    untouched_before = {
        e["path"]
        for e in table.manifest(table.current_version())["files"]
        if e["max"] < 100 or e["min"] > 300
    }
    # min_file_bytes=1: the overlap signal weighs only files of at
    # least that size (a small wide file is compact's job, not a
    # recluster trigger — see the MoR-append hazard in maintain's
    # docstring); fixture files are tiny, so opt them all in here
    out = table.maintain(spark, min_file_bytes=1, max_small_files=10_000)
    assert out["triggered"]
    assert [a["action"] for a in out["actions"]] == ["recluster"]
    assert out["signals"]["overlap_components"] == 1
    assert out["signals"]["overlap_files"] > 1
    man_after = table.manifest(table.current_version())
    ranges = sorted((e["min"], e["max"]) for e in man_after["files"])
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlap survived maintain(): ({lo1},{hi1}) ({lo2},{hi2})"
    # files outside the component were carried by reference, not rewritten
    assert untouched_before <= {e["path"] for e in man_after["files"]}
    assert sorted(map(tuple, table.read(spark).collect())) == before
    # and the healed layout is a no-op on the next call
    assert (
        table.maintain(spark, min_file_bytes=1, max_small_files=10_000)[
            "triggered"
        ]
        is False
    )


def test_changes_since_nets_across_commits_and_empty(spark, tmp_path):
    """changes_since(v) = net changes from v to the CURRENT version: a
    key updated in two successive commits emits ONE pre/post pair
    (v-from image → latest image), and a table that has not moved
    returns an empty, correctly-typed change set."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    path, table = _pruned_setup(spark, tmp_path)
    empty = table.changes_since(spark, 1)
    assert empty.count() == 0
    assert empty.columns == ["k", "ref", "cat", "_change_type", "_commit_version"]

    for tag in ("first", "second"):
        src = spark.createDataFrame(
            [(0, f"ref-0-{tag}", "n")], "k long, ref string, cat string"
        )
        merge_upsert_write_pruned(path, src, "k", vacuum_keep_last=None)
    rows = {
        (r.k, r._change_type): (r.ref, r._commit_version)
        for r in table.changes_since(spark, 1).collect()
    }
    assert rows == {
        (0, "update_preimage"): ("ref-0", 3),
        (0, "update_postimage"): ("ref-0-second", 3),
    }


# ------------------------------------------------- CDC apply (consumer)
def _cdc_primary_replica(spark, tmp_path):
    """Primary and replica both seeded with the SAME v1 snapshot."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    p_path, primary = _pruned_setup(spark, tmp_path)
    r_path = str(tmp_path / "replica")
    replica = VersionedParquetTable(r_path)
    replica.commit_with_manifest(_big_target(spark), "k", cluster_partitions=8)
    return p_path, primary, r_path, replica


def test_apply_changes_replicates_primary(spark, tmp_path):
    """The CDC round trip: merge on the primary, export
    changes_between, apply_changes on the replica — replica content
    equals primary content, and the replica write was file-pruned
    (untouched replica files carried by reference)."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        apply_changes,
        merge_upsert_write_pruned,
    )

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    ident_before = _file_identity(replica)
    source = spark.createDataFrame(
        [(0, "upd-0", "new"), (2, "del-2", "DEL"),
         (251, "ins-gap", "new"), (100_000, "ins-high", "new")],
        "k long, ref string, cat string",
    )
    merge_upsert_write_pruned(
        p_path, source, "k",
        delete_when=F.col("s.cat") == "DEL", vacuum_keep_last=None,
    )
    feed = primary.changes_between(spark, 1, 2)
    stats = apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    assert stats["rows_upserted"] == 3 and stats["rows_deleted"] == 1
    assert stats["files_carried"] > 0
    ident_after = _file_identity(replica)
    carried = set(ident_before) & set(ident_after)
    assert carried and all(
        ident_before[p] == ident_after[p] for p in carried
    )
    assert sorted(map(tuple, replica.read(spark).collect())) == sorted(
        map(tuple, primary.read(spark).collect())
    )


def test_apply_changes_idempotent_replay(spark, tmp_path):
    """At-least-once safety: re-applying the SAME net change set (the
    watermark-crash replay shape) leaves the replica content-identical
    — upserts overwrite with equal values, delete tombstones for
    already-absent keys insert nothing."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        apply_changes,
        merge_upsert_write_pruned,
    )

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    source = spark.createDataFrame(
        [(0, "upd-0", "new"), (4, "del-4", "DEL"), (100_001, "ins", "new")],
        "k long, ref string, cat string",
    )
    merge_upsert_write_pruned(
        p_path, source, "k",
        delete_when=F.col("s.cat") == "DEL", vacuum_keep_last=None,
    )
    feed = primary.changes_between(spark, 1, 2)
    apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    once = sorted(map(tuple, replica.read(spark).collect()))
    apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    assert sorted(map(tuple, replica.read(spark).collect())) == once
    assert once == sorted(map(tuple, primary.read(spark).collect()))


def test_apply_changes_empty_and_validation(spark, tmp_path):
    """An empty / preimage-only feed commits nothing; a DataFrame
    without the CDC meta columns is rejected loudly."""
    import pytest as _pytest

    from airflow_embeddings_pipeline_spark.operators.merge import apply_changes

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    v_before = replica.current_version()
    empty = primary.changes_since(spark, primary.current_version())
    out = apply_changes(r_path, empty, "k")
    assert out["version"] is None and out["rows_upserted"] == 0
    pre_only = empty.sparkSession.createDataFrame(
        [(0, "x", "old", "update_preimage", 2)],
        "k long, ref string, cat string, _change_type string, _commit_version int",
    )
    out2 = apply_changes(r_path, pre_only, "k")
    assert out2["version"] is None
    assert replica.current_version() == v_before
    with _pytest.raises(ValueError, match="not a change feed"):
        apply_changes(r_path, replica.read(spark), "k")


def test_apply_changes_schema_evolution_widens_replica(spark, tmp_path):
    """Primary evolves (merge adds a column); the exported feed carries
    it; apply_changes widens the replica to match — and the control
    tombstone flag never leaks into the replica schema."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        apply_changes,
        merge_upsert_write_pruned,
    )

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    source = spark.createDataFrame(
        [(0, "upd-0", "new", 3.5), (100_000, "ins", "new", 7.0)],
        "k long, ref string, cat string, score double",
    )
    merge_upsert_write_pruned(
        p_path, source, "k", schema_evolution=True, vacuum_keep_last=None
    )
    feed = primary.changes_between(spark, 1, 2)
    assert "score" in feed.columns
    apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    rep = replica.read(spark)
    assert rep.columns == primary.read(spark).columns  # widened, no _cdc_delete
    assert sorted(map(tuple, rep.collect())) == sorted(
        map(tuple, primary.read(spark).collect())
    )


def test_apply_changes_watermark_lives_in_sink(spark, tmp_path):
    """apply_changes records cdc_last_applied_version atomically in the
    replica commit; compact() carries it forward; duplicate replay of a
    feed never regresses it; sync_replica resumes from it."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        apply_changes,
        merge_upsert_write_pruned,
        sync_replica,
    )

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    assert replica.app_metadata_of() == {}
    src = spark.createDataFrame(
        [(0, "upd-0", "new")], "k long, ref string, cat string"
    )
    merge_upsert_write_pruned(p_path, src, "k", vacuum_keep_last=None)
    feed = primary.changes_between(spark, 1, 2)
    out = apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    assert out["cdc_last_applied_version"] == 2
    assert replica.app_metadata_of() == {"cdc_last_applied_version": 2}
    # compact preserves the watermark
    replica.compact(spark, min_file_bytes=1 << 30)
    assert replica.app_metadata_of()["cdc_last_applied_version"] == 2
    # replaying the same (now-stale) feed does not regress it
    apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    assert replica.app_metadata_of()["cdc_last_applied_version"] == 2
    # sync_replica resumes from the sink watermark: next primary commit
    src2 = spark.createDataFrame(
        [(2, "upd-2", "new")], "k long, ref string, cat string"
    )
    merge_upsert_write_pruned(p_path, src2, "k", vacuum_keep_last=None)
    out2 = sync_replica(spark, p_path, r_path, "k", vacuum_keep_last=None)
    assert out2["rows_upserted"] == 1
    assert replica.app_metadata_of()["cdc_last_applied_version"] == 3
    assert sorted(map(tuple, replica.read(spark).collect())) == sorted(
        map(tuple, primary.read(spark).collect())
    )


def test_cdc_net_feed_hazard_sink_watermark_converges(spark, tmp_path):
    """THE net-CDC replay hazard (observed live in
    tools/stress_cdc_replication.py cycle 21): a feed is applied but a
    SIDE-FILE watermark fails to advance; a later primary commit
    deletes rows that feed inserted.  The replayed net feed from the
    stale watermark nets insert+delete to NOTHING, so a naive consumer
    strands the deleted rows on the replica.  The sink-recorded
    watermark resumes from the replica's own commit and converges."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        apply_changes,
        merge_upsert_write_pruned,
        sync_replica,
    )

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    # v2: insert key 100000
    ins = spark.createDataFrame(
        [(100_000, "ins", "new")], "k long, ref string, cat string"
    )
    merge_upsert_write_pruned(p_path, ins, "k", vacuum_keep_last=None)
    # consumer applies v1->v2 (side watermark would now crash un-advanced)
    apply_changes(
        r_path, primary.changes_between(spark, 1, 2), "k",
        vacuum_keep_last=None,
    )
    # v3: delete that same key
    tomb = spark.createDataFrame(
        [(100_000, "x", "DEL")], "k long, ref string, cat string"
    )
    merge_upsert_write_pruned(
        p_path, tomb, "k",
        delete_when=F.col("s.cat") == "DEL", vacuum_keep_last=None,
    )
    # the stale-watermark net feed v1->v3 is EMPTY for that key: the
    # insert and delete net out — a naive replay applies nothing and
    # the replica keeps the row the primary deleted
    stale_feed = primary.changes_since(spark, 1)
    assert stale_feed.filter(F.col("k") == 100_000).count() == 0
    assert replica.read(spark).filter(F.col("k") == 100_000).count() == 1
    # sink watermark: the replica knows it applied v2, so sync exports
    # v2->v3 which CONTAINS the delete — replica converges
    assert replica.app_metadata_of()["cdc_last_applied_version"] == 2
    sync_replica(spark, p_path, r_path, "k", vacuum_keep_last=None)
    assert replica.read(spark).filter(F.col("k") == 100_000).count() == 0
    assert sorted(map(tuple, replica.read(spark).collect())) == sorted(
        map(tuple, primary.read(spark).collect())
    )


def test_sync_replica_unseeded_raises(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import sync_replica

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    with pytest.raises(ValueError, match="no cdc_last_applied_version"):
        sync_replica(spark, p_path, r_path, "k")


# ------------------------------------------------- one evaluation per input
def _counted_key(spark):
    """An identity Python UDF over the key column that counts the rows
    it evaluates: every Spark action that re-evaluates the input adds
    its row count again."""
    acc = spark.sparkContext.accumulator(0)

    def ident(v):
        acc.add(1)
        return v

    return acc, F.udf(ident, "long")


def _merge_batch(spark):
    """Updates of even keys, inserts inside file ranges (odd keys) and
    one insert above every file."""
    return spark.range(40).select(
        (F.col("id") * 5).alias("k"),
        F.concat(F.lit("new-"), F.col("id")).alias("ref"),
        F.lit("new").alias("cat"),
    ).union(
        spark.createDataFrame(
            [(100_000, "hi", "new")], "k long, ref string, cat string"
        )
    )


@pytest.mark.parametrize(
    "max_exact_keys", [200_000, 1], ids=["exact", "range_join"]
)
def test_pruned_merge_evaluates_source_once(spark, tmp_path, max_exact_keys):
    """The pruned MERGE reads one persisted evaluation of its batch for
    the key prune, both merge legs and the write — on the exact tier
    and on the range-join tier — and reads back equal to the full
    relational MERGE."""
    path, table = _pruned_setup(spark, tmp_path)
    full = merge_upsert(table.read(spark), _merge_batch(spark), "k")
    expect = sorted(map(tuple, full.collect()))
    acc, ident = _counted_key(spark)
    source = _merge_batch(spark).withColumn("k", ident("k"))
    stats = merge_upsert_write_pruned(
        path, source, "k", vacuum_keep_last=None, max_exact_keys=max_exact_keys
    )
    assert stats["pruning"] == (
        "exact" if max_exact_keys > 1 else "range-join"
    )
    assert 0 < stats["files_touched"] < stats["files_total"]
    assert acc.value == 41
    assert sorted(map(tuple, table.read(spark).collect())) == expect
    assert source.storageLevel == StorageLevel.NONE  # released on return


def test_apply_changes_evaluates_feed_once(spark, tmp_path):
    """apply_changes materializes the applicable change feed once: its
    row-count aggregate and the replica merge (prune, both legs, write)
    read the same cached rows.  The replica reads back equal to the
    full relational MERGE of the primary's batch."""
    from airflow_embeddings_pipeline_spark.operators.merge import apply_changes

    p_path, primary, r_path, replica = _cdc_primary_replica(spark, tmp_path)
    batch, tomb = _merge_batch(spark), F.col("s.ref") == "new-2"
    full = merge_upsert(primary.read(spark), batch, "k", delete_when=tomb)
    expect = sorted(map(tuple, full.collect()))
    merge_upsert_write_pruned(
        p_path, batch, "k", delete_when=tomb, vacuum_keep_last=None
    )
    feed = primary.changes_since(spark, 1, key="k")
    applicable = feed.filter(F.col("_change_type") != "update_preimage").count()
    acc, ident = _counted_key(spark)
    stats = apply_changes(
        r_path, feed.withColumn("k", ident("k")), "k", vacuum_keep_last=None
    )
    assert stats["rows_upserted"] == 40 and stats["rows_deleted"] == 1
    assert acc.value == applicable == 41
    assert sorted(map(tuple, replica.read(spark).collect())) == expect


# ---------------------------------------------------------------- CAS
# Optimistic concurrency: the commit lock serializes the pointer swap,
# but a read-modify-write (MERGE / compact / maintain) computes OUTSIDE
# the lock — expected_base_version makes the publish a compare-and-swap
# so an interleaved commit can never be silently dropped.


def test_commit_cas_raises_on_stale_base(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        SnapshotConflictError,
        VersionedParquetTable,
    )

    path = str(tmp_path / "cas_plain")
    t = VersionedParquetTable(path)
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    assert t.commit(df1, expected_base_version=None) == 1  # empty-table CAS
    base = t.current_version()
    t.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
    with pytest.raises(SnapshotConflictError) as ei:
        t.commit(df1, expected_base_version=base)
    assert ei.value.expected == base and ei.value.actual == base + 1
    # nothing was published by the failed attempt
    assert t.current_version() == base + 1


def test_commit_with_manifest_cas_blocks_lost_update(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        SnapshotConflictError,
        VersionedParquetTable,
    )

    path = str(tmp_path / "cas_manifest")
    t = VersionedParquetTable(path)
    base_df = spark.createDataFrame(
        [(i, "base") for i in range(100)], "k long, v string"
    )
    t.commit_with_manifest(base_df, "k", cluster_partitions=4)
    v1 = t.current_version()
    man = t.manifest(v1)
    # writer A reads the v1 snapshot and prepares a carried-set commit
    carried = man["files"]
    # writer B interleaves a commit (the row A's carried set omits)
    t.commit_with_manifest(
        base_df.unionAll(
            spark.createDataFrame([(1_000, "B")], "k long, v string")
        ),
        "k",
        cluster_partitions=4,
    )
    # writer A's publish against the stale snapshot must fail, not drop B
    new_rows = spark.createDataFrame([(2_000, "A")], "k long, v string")
    with pytest.raises(SnapshotConflictError):
        t.commit_with_manifest(
            new_rows, "k", carried=carried, expected_base_version=v1
        )
    assert t.read(spark).filter(F.col("k") == 1_000).count() == 1


def test_pruned_merge_retries_conflict_and_preserves_both_writers(
    spark, tmp_path, monkeypatch
):
    """Inject a concurrent commit into the pruned merge's lost-update
    window (after it reads the snapshot, before it publishes): BOTH
    writers' rows must survive — the serial-equivalent outcome.  A
    DISJOINT racer is absorbed by the logical REBASE (r10 — no
    recompute, see tests/test_merge_rebase.py); an OVERLAPPING racer
    (here: DVs on the same file the merge touches) still recomputes,
    and with retries exhausted the conflict propagates."""
    from airflow_embeddings_pipeline_spark.operators import merge as merge_mod
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        SnapshotConflictError,
        VersionedParquetTable,
    )

    path = str(tmp_path / "cas_merge")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, "base") for i in range(1_000)], "k long, v string"
        ),
        "k",
        cluster_partitions=8,
    )

    real_entries = VersionedParquetTable.file_entries
    fired = {"n": 0, "always": False, "seq": 2}

    def interleave(self, *a, **kw):
        out = real_entries(self, *a, **kw)
        if fired["n"] == 0:  # first read races a DISJOINT append
            fired["n"] += 1
            other = VersionedParquetTable(self.root)
            man = other.manifest(other.current_version())
            other.commit_with_manifest(
                spark.createDataFrame([(5_000, "B")], "k long, v string"),
                "k",
                carried=man["files"],
                expected_base_version=other.current_version(),
            )
        elif fired["always"]:
            # exhaust phase: every snapshot read races an OVERLAPPING
            # writer — a DV delete on the very file the merge touches
            # (k=1's file), so the logical rebase must decline and the
            # recompute loop runs until retries exhaust
            other = VersionedParquetTable(self.root)
            other.delete_where(spark, f"k = {fired['seq']}")
            fired["seq"] += 1
        return out

    monkeypatch.setattr(VersionedParquetTable, "file_entries", interleave)
    stats = merge_mod.merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(0, "A-upd"), (6_000, "A-ins")],
                              "k long, v string"),
        "k",
        vacuum_keep_last=None,
    )
    assert fired["n"] == 1
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert got[5_000] == "B"      # interleaved writer survived
    assert got[0] == "A-upd"      # merge's update survived
    assert got[6_000] == "A-ins"  # merge's insert survived
    assert stats["version"] == t.current_version()

    # retries exhausted -> the conflict propagates
    fired["always"] = True  # the injector now races EVERY snapshot read
    with pytest.raises(SnapshotConflictError):
        merge_mod.merge_upsert_write_pruned(
            path,
            spark.createDataFrame([(1, "C")], "k long, v string"),
            "k",
            vacuum_keep_last=None,
            conflict_retries=1,
        )


def test_compact_rebases_past_interleaved_commit(spark, tmp_path, monkeypatch):
    # an interleaved DISJOINT commit (pure append) no longer fails the
    # compaction: compact prepares lock-free and its publish REBASES —
    # the racer's file joins the carried set, the small files compact,
    # no row is lost or doubled (Delta's OPTIMIZE concurrency contract)
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "cas_compact")
    t = VersionedParquetTable(path)
    for i in range(3):  # three tiny files -> compactable
        df = spark.createDataFrame([(i, "x")], "k long, v string")
        if i == 0:
            t.commit_with_manifest(df, "k", cluster_partitions=1)
        else:
            man = t.manifest(t.current_version())
            t.commit_with_manifest(
                df, "k", carried=man["files"], cluster_partitions=1
            )

    real = VersionedParquetTable.prepare_commit
    state = {"done": False}

    def racing_prepare(self, *a, **kw):
        out = real(self, *a, **kw)
        if not state["done"]:  # race lands BETWEEN prepare and publish
            state["done"] = True
            other = VersionedParquetTable(self.root)
            man = other.manifest(other.current_version())
            other.commit_with_manifest(
                spark.createDataFrame([(99, "race")], "k long, v string"),
                "k",
                carried=man["files"],
            )
        return out

    monkeypatch.setattr(VersionedParquetTable, "prepare_commit", racing_prepare)
    r = t.compact(spark, min_file_bytes=1 << 30)
    assert t._last_commit_rebase is not None
    assert r["version"] == t.current_version()
    rows = {x["k"]: x["v"] for x in t.read(spark).collect()}
    assert rows == {0: "x", 1: "x", 2: "x", 99: "race"}


# -------------------------------------------------------- time travel
def test_time_travel_by_version_and_timestamp(spark, tmp_path):
    import time

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "tt")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, "v1") for i in range(10)], "k long, v string"
        ),
        "k",
    )
    ts1 = t.committed_at(1)
    time.sleep(0.05)  # strictly-later wall time for the second commit
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(0, "v2"), (100, "v2")], "k long, v string"),
        "k",
        vacuum_keep_last=None,
    )
    ts2 = t.committed_at(2)
    assert ts2 > ts1

    # by version: v1 is the pre-merge snapshot, untouched by v2
    v1 = {r["k"]: r["v"] for r in t.read_version(spark, 1).collect()}
    assert v1[0] == "v1" and 100 not in v1 and len(v1) == 10
    # by timestamp: ts1 resolves to v1, ts2 (and later) to v2
    as1 = {r["k"]: r["v"] for r in t.read_as_of(spark, ts1).collect()}
    assert as1 == v1
    as2 = {r["k"]: r["v"] for r in t.read_as_of(spark, ts2 + 1.0).collect()}
    assert as2[0] == "v2" and as2[100] == "v2" and len(as2) == 11
    # before the first retained commit: loud, never a later state
    with pytest.raises(FileNotFoundError, match="at or before"):
        t.read_as_of(spark, ts1 - 10.0)


def test_history_commit_log(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "hist")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, "x") for i in range(100)], "k long, v string"
        ),
        "k",
        cluster_partitions=4,
    )
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(1, "y")], "k long, v string"),
        "k",
        vacuum_keep_last=None,
        app_metadata={"job": "nightly"},
    )
    h = t.history()
    assert [e["version"] for e in h] == [2, 1]  # newest first
    assert all(e["kind"] == "manifest" for e in h)
    assert h[0]["n_rows"] == 100 and h[1]["n_rows"] == 100
    assert h[0]["app_metadata"]["job"] == "nightly"
    assert h[0]["committed_at"] >= h[1]["committed_at"]
    # vacuumed history disappears from the log
    t.vacuum(keep_last=1)
    assert [e["version"] for e in t.history()] == [2]


def test_committed_at_falls_back_to_marker_mtime(spark, tmp_path):
    """Tables written before the marker carried a timestamp payload
    (empty _COMMITTED file) still answer committed_at via mtime."""
    import os

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        _COMMITTED,
        VersionedParquetTable,
    )

    path = str(tmp_path / "legacy_marker")
    t = VersionedParquetTable(path)
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    mpath = os.path.join(path, "v00000001", _COMMITTED)
    open(mpath, "w").close()  # strip the payload, as an old writer left it
    assert abs(t.committed_at(1) - os.path.getmtime(mpath)) < 1e-6
    assert t.read_as_of(spark, t.committed_at(1)).count() == 1


# ------------------------------------------------------------ restore
def test_restore_is_zero_copy_and_cdc_visible(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "restore")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, "good") for i in range(500)], "k long, v string"
        ),
        "k",
        cluster_partitions=4,
    )
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame(
            [(1, "BAD"), (9_999, "BAD-INS")], "k long, v string"
        ),
        "k",
        vacuum_keep_last=None,
    )
    v3 = t.restore(spark, 1)
    assert v3 == 3
    # restored state == v1 exactly
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(
        map(tuple, t.read_version(spark, 1).collect())
    )
    # zero-copy: the restore commit wrote no data files — every manifest
    # entry points at a PRIOR version directory
    man = t.manifest(3)
    assert man["files"] and all(
        not e["path"].startswith("v00000003") for e in man["files"]
    )
    assert t.app_metadata_of()["restored_from"] == 1
    # CDC sees the restore as the net UNDO of the bad commit
    undo = {
        (r["k"], r["_change_type"])
        for r in t.changes_between(spark, 2, 3).collect()
    }
    assert (9_999, "delete") in undo
    assert (1, "update_postimage") in undo
    # history is preserved: the bad version stays time-travelable
    assert t.read_version(spark, 2).filter(F.col("v") == "BAD").count() == 1
    # restore to current is a no-op
    assert t.restore(spark, 3) == 3
    # vacuumed target raises loudly
    t.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t.restore(spark, 2)


def test_restore_vets_live_constraints(spark, tmp_path):
    """Restoring to a version that PREDATES add_constraint must not
    silently reintroduce violating rows: ordinary commits enforce
    constraints on new files only and a restore carries files by
    reference, so restore() vets the restored snapshot against the
    LIVE constraint set (one scan, same as add_constraint) and aborts
    pre-publish on violation.  verify_constraints=False is the
    documented escape hatch."""
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        VersionedParquetTable,
    )

    path = str(tmp_path / "restore_cons")
    t = VersionedParquetTable(path)
    # v1 contains a negative price
    t.commit_with_manifest(
        spark.createDataFrame(
            [(0, -5.0)] + [(i, float(i)) for i in range(1, 100)],
            "k long, price double",
        ),
        "k",
        cluster_partitions=4,
    )
    # v2 repairs it; v3 declares the constraint (vets v2's data: clean)
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(0, 5.0)], "k long, price double"),
        "k",
        vacuum_keep_last=None,
    )
    t.add_constraint(spark, "price_nonneg", "price >= 0")
    head = t.current_version()

    with pytest.raises(ConstraintViolationError) as ei:
        t.restore(spark, 1)
    assert ei.value.name == "price_nonneg"
    assert t.current_version() == head  # nothing published

    # explicit opt-out restores the violating snapshot
    v = t.restore(spark, 1, verify_constraints=False)
    assert v == head + 1
    assert t.read(spark).filter("price < 0").count() == 1
    # the live constraint set still declares the rule (table property)
    assert t.constraints_of() == {"price_nonneg": "price >= 0"}


def test_vacuum_retain_seconds_extends_retention(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "vac_time")
    t = VersionedParquetTable(path)
    for i in range(4):
        t.commit(
            spark.createDataFrame([(i, "x")], "k long, v string")
        )
    # keep_last=1 alone would drop v1-v3; a generous time window keeps all
    dropped = t.vacuum(keep_last=1, retain_seconds=3600.0)
    assert dropped == []
    assert t.versions() == [1, 2, 3, 4]
    # a zero-width window falls back to pure keep_last
    dropped = t.vacuum(keep_last=2, retain_seconds=0.0)
    assert dropped == [1, 2]
    assert t.versions() == [3, 4]


# -------------------------------------------------------- constraints
def test_check_constraints_enforced_and_propagated(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        ConstraintViolationError,
        VersionedParquetTable,
    )

    path = str(tmp_path / "constraints")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k long, price double"
        ),
        "k",
        cluster_partitions=4,
    )
    v = t.add_constraint(spark, "price_nonneg", "price >= 0")
    assert v == 2 and t.constraints_of() == {"price_nonneg": "price >= 0"}
    # the metadata commit was zero-copy
    assert all(
        not e["path"].startswith("v00000002")
        for e in t.manifest(2)["files"]
    )

    # a violating pruned MERGE is rejected pre-publish (constraint
    # inherited from the manifest, enforced on the commit's new files)
    with pytest.raises(ConstraintViolationError) as ei:
        merge_upsert_write_pruned(
            path,
            spark.createDataFrame([(5, -1.0)], "k long, price double"),
            "k",
            vacuum_keep_last=None,
        )
    assert ei.value.name == "price_nonneg" and ei.value.n_violations >= 1
    assert t.current_version() == 2  # nothing published
    assert t.read(spark).filter("price < 0").count() == 0

    # a clean merge passes and the constraint persists in the new manifest
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 55.0)], "k long, price double"),
        "k",
        vacuum_keep_last=None,
    )
    assert t.constraints_of() == {"price_nonneg": "price >= 0"}

    # NULL passes (SQL CHECK), explicit False fails
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(6, None)], "k long, price double"),
        "k",
        vacuum_keep_last=None,
    )
    assert t.read(spark).filter("k = 6").collect()[0]["price"] is None

    # adding a constraint the EXISTING data violates is refused
    with pytest.raises(ConstraintViolationError):
        t.add_constraint(spark, "small", "k < 10")
    # drop works; unknown name is loud
    t.drop_constraint(spark, "price_nonneg")
    assert t.constraints_of() == {}
    with pytest.raises(KeyError):
        t.drop_constraint(spark, "nope")
    # dropped means a violating commit now passes
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(7, -9.0)], "k long, price double"),
        "k",
        vacuum_keep_last=None,
    )
    assert t.read(spark).filter("price < 0").count() == 1


def test_changes_between_composite_key(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "cdf_comp")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(300)],
            "a long, b long, x double",
        ),
        "a",
        stats_columns=["a", "b"],
    )
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame(
            [(1, 1, 99.0), (10_000, 0, 1.0)], "a long, b long, x double"
        ),
        ["a", "b"],
        vacuum_keep_last=None,
    )
    got = {
        (r["a"], r["b"], r["_change_type"])
        for r in t.changes_between(spark, 1, 2).collect()
    }
    assert (1, 1, "update_preimage") in got
    assert (1, 1, "update_postimage") in got
    assert (10_000, 0, "insert") in got
    # no single-column-key misclassification: (1, 0) and (1, 2) exist in
    # the base but only (1, 1) changed
    assert not any(k[:2] == (1, 0) or k[:2] == (1, 2) for k in got)


def test_stream_cdf_composite_key(spark, tmp_path):
    import tempfile

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    path = str(tmp_path / "scdf_comp")
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(300)],
            "a long, b long, x double",
        ),
        "a",
        stats_columns=["a", "b"],
    )
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame(
            [(1, 1, 99.0), (10_000, 0, 1.0)], "a long, b long, x double"
        ),
        ["a", "b"],
        vacuum_keep_last=None,
    )
    q = (
        read_changes_stream(spark, path, starting_version=1)
        .writeStream.format("memory")
        .queryName("scdf_comp_q")
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_scdfc_")
        )
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("scdf_comp_q").collect()))
    exp = sorted(map(tuple, t.changes_between(spark, 1, 2).collect()))
    assert got == exp  # the stream keys off stats_columns automatically


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "vac_dry")
    t = VersionedParquetTable(path)
    for i in range(4):
        t.commit(spark.createDataFrame([(i, "x")], "k long, v string"))
    would = t.vacuum(keep_last=1, dry_run=True)
    assert would == [1, 2, 3]
    assert t.versions() == [1, 2, 3, 4]  # nothing deleted
    assert t.read_version(spark, 1).count() == 1
    # the real run drops exactly what the dry run reported
    assert t.vacuum(keep_last=1) == would
    assert t.versions() == [4]


# ------------------------------------------------------------- CLONE
def _clone_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / "primary")
    t = VersionedParquetTable(path)
    base = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    t.commit_with_manifest(base, "k", cluster_partitions=4)
    # second commit so the clone source manifest REFERENCES files from
    # two version dirs (carried v1 files + v2 rewrites)
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 99.0)], "k long, v double"),
        "k",
        vacuum_keep_last=None,
    )
    return t, path


def test_clone_is_zero_copy_and_reads_identically(spark, tmp_path):
    import os

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t, path = _clone_fixture(spark, tmp_path)
    dest = str(tmp_path / "replica")
    v = t.clone_to(dest)
    assert v == 1
    c = VersionedParquetTable(dest)
    # same rows
    assert sorted(map(tuple, c.read(spark).collect())) == sorted(
        map(tuple, t.read(spark).collect())
    )
    # inode identity: every clone data file hardlinks a primary file
    src_inodes = {}
    for e in (t.manifest(t.current_version()) or {})["files"]:
        st = os.stat(os.path.join(path, e["path"]))
        src_inodes[st.st_ino] = e["path"]
    for e in (c.manifest(1) or {})["files"]:
        st = os.stat(os.path.join(dest, e["path"]))
        assert st.st_nlink >= 2 and st.st_ino in src_inodes
    # stats/constraints/watermark metadata carried
    man = c.manifest(1)
    assert man["app_metadata"]["cdc_last_applied_version"] == 2
    assert man["app_metadata"]["cloned_from"]["version"] == 2


def test_clone_survives_source_vacuum_and_vice_versa(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t, path = _clone_fixture(spark, tmp_path)
    dest = str(tmp_path / "replica")
    t.clone_to(dest)
    c = VersionedParquetTable(dest)
    snapshot = sorted(map(tuple, c.read(spark).collect()))

    # advance the primary and vacuum it down to ONE version: the dirs
    # holding every file the clone references are unlinked on the
    # primary side — the clone's hardlinks keep the inodes alive
    for i in range(3):
        merge_upsert_write_pruned(
            path,
            spark.createDataFrame([(i, -1.0)], "k long, v double"),
            "k",
            vacuum_keep_last=None,
        )
    t.vacuum(keep_last=1)
    assert sorted(map(tuple, c.read(spark).collect())) == snapshot

    # and the clone's own vacuum doesn't disturb the primary
    merge_upsert_write_pruned(
        dest,
        spark.createDataFrame([(1, 7.0)], "k long, v double"),
        "k",
        vacuum_keep_last=None,
    )
    c.vacuum(keep_last=1)
    assert len(sorted(map(tuple, t.read(spark).collect()))) == 10_000


def test_clone_seeds_cdc_replication(spark, tmp_path):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
        sync_replica,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    t, path = _clone_fixture(spark, tmp_path)
    dest = str(tmp_path / "replica")
    t.clone_to(dest)
    # new primary commits after the clone
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(3, 42.0), (20_000, 1.0)], "k long, v double"),
        "k",
        vacuum_keep_last=None,
    )
    # the clone's seeded watermark lets sync_replica take over directly
    stats = sync_replica(spark, path, dest, "k", vacuum_keep_last=None)
    assert stats["rows_upserted"] == 2
    assert sorted(
        map(tuple, VersionedParquetTable(dest).read(spark).collect())
    ) == sorted(map(tuple, t.read(spark).collect()))


def test_clone_validation(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    # plain (manifest-less) version refuses to clone
    plain = str(tmp_path / "plain")
    spark.range(10).select(F.col("id").alias("k")).write.parquet(plain)
    pt = VersionedParquetTable(plain)
    pt.commit(spark.range(10).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="plain full-directory"):
        pt.clone_to(str(tmp_path / "nope"))

    # non-fresh destination refuses
    t, _ = _clone_fixture(spark, tmp_path)
    dest = str(tmp_path / "replica")
    t.clone_to(dest)
    with pytest.raises(ValueError, match="not a fresh root"):
        t.clone_to(dest)


# ---------------------------------------------- column mapping (ALTER)
def _mapped_table(spark, tmp_path, name="cm"):
    from pyspark.sql import functions as F

    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    path = str(tmp_path / name)
    t = VersionedParquetTable(path)
    t.commit_with_manifest(
        spark.range(1_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).cast("int").alias("amt"),
            F.lit("x").alias("tag"),
        ),
        "k",
        cluster_partitions=4,
    )
    return t, path


def test_rename_column_is_metadata_only_and_merge_survives(spark, tmp_path):
    import os

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    t, path = _mapped_table(spark, tmp_path)
    files_before = {
        e["path"] for e in t.manifest(t.current_version())["files"]
    }
    v = t.rename_column("amt", "amount")
    # metadata-only: same data files carried by reference, no new data
    man = t.manifest(v)
    assert {e["path"] for e in man["files"]} == files_before
    assert t.read(spark).columns == ["k", "amount", "tag"]
    assert man["column_mapping"] == {"amount": "amt"}
    # logical rename, physical stats untouched: a pruned merge still
    # touches ONE file out of four
    stats = merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 999, "u")], "k long, amount int, tag string"),
        "k",
        vacuum_keep_last=None,
    )
    assert stats["files_touched"] == 1 and stats["files_carried"] == 3
    got = {r["k"]: r for r in t.read(spark).filter("k in (5, 6)").collect()}
    assert got[5]["amount"] == 999
    # regression: rows sharing the touched FILE must keep their values
    # (the subset read must resolve the physical column names)
    assert got[6]["amount"] == 6 % 100 and got[6]["tag"] == "x"


def test_rename_clustering_key_keeps_pruning(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    t, path = _mapped_table(spark, tmp_path, "cmkey")
    t.rename_column("k", "pk")
    assert t.read(spark).columns == ["pk", "amt", "tag"]
    stats = merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 1, "u")], "pk long, amt int, tag string"),
        "pk",
        vacuum_keep_last=None,
    )
    assert stats["files_touched"] == 1 and stats["files_carried"] == 3
    # read_range prunes on the renamed key's (physical) stats
    assert t.read_range(spark, "pk", 3, 8).count() == 6


def test_drop_column_and_fresh_physical_on_readd(spark, tmp_path):
    import pytest

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    t, path = _mapped_table(spark, tmp_path, "cmdrop")
    t.drop_column("tag")
    assert t.read(spark).columns == ["k", "amt"]
    # re-add via schema evolution: fresh physical name, values from
    # old files must NOT resurrect
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 1, "fresh")], "k long, amt int, tag string"),
        "k",
        schema_evolution=True,
        vacuum_keep_last=None,
    )
    man = t.manifest(t.current_version())
    assert man["retired_physical"] == ["tag"]
    assert man["column_mapping"]["tag"].startswith("tag__v")
    out = {r["k"]: r for r in t.read(spark).collect()}
    assert out[5]["tag"] == "fresh" and out[6]["tag"] is None
    # clustering key cannot drop
    with pytest.raises(ValueError, match="clustering key"):
        t.drop_column("k")


def test_widen_column_zero_copy(spark, tmp_path):
    import pytest

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    t, path = _mapped_table(spark, tmp_path, "cmwide")
    files_before = {
        e["path"] for e in t.manifest(t.current_version())["files"]
    }
    v = t.widen_column("amt", "bigint")
    assert {e["path"] for e in t.manifest(v)["files"]} == files_before
    assert dict(t.read(spark).dtypes)["amt"] == "bigint"
    # values beyond int range land in NEW files; old narrow files
    # upcast natively in the same scan
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(7, 1 << 40, "w")], "k long, amt long, tag string"),
        "k",
        vacuum_keep_last=None,
    )
    got = {r["k"]: r["amt"] for r in t.read(spark).collect()}
    assert got[7] == 1 << 40 and got[8] == 8 % 100
    # narrowing / cross-family refuse
    with pytest.raises(ValueError, match="not a supported"):
        t.widen_column("amt", "int")
    with pytest.raises(ValueError, match="not a supported"):
        t.widen_column("tag", "bigint")


def test_alter_blocked_while_constraint_references_column(spark, tmp_path):
    import pytest

    t, path = _mapped_table(spark, tmp_path, "cmcons")
    t.add_constraint(spark, "amt_nonneg", "amt >= 0")
    with pytest.raises(ValueError, match="amt_nonneg"):
        t.rename_column("amt", "amount")
    with pytest.raises(ValueError, match="amt_nonneg"):
        t.drop_column("amt")
    # after dropping the constraint, the rename goes through and the
    # remaining machinery still enforces OTHER constraints
    t.drop_constraint(spark, "amt_nonneg")
    t.rename_column("amt", "amount")
    assert "amount" in t.read(spark).columns


def test_time_travel_and_restore_across_rename(spark, tmp_path):
    t, path = _mapped_table(spark, tmp_path, "cmtt")
    v1 = t.current_version()
    t.rename_column("amt", "amount")
    # time travel shows each version under ITS OWN logical schema
    assert t.read_version(spark, v1).columns == ["k", "amt", "tag"]
    assert t.read(spark).columns == ["k", "amount", "tag"]
    # restore to the pre-rename version brings the old logical schema
    # back as a NEW commit (zero-copy)
    t.restore(spark, v1)
    assert t.read(spark).columns == ["k", "amt", "tag"]


def test_batch_cdf_maps_renames_by_physical_identity(spark, tmp_path):
    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )

    t, path = _mapped_table(spark, tmp_path, "cmcdf")
    v1 = t.current_version()
    t.rename_column("amt", "amount")
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 999, "u")], "k long, amount int, tag string"),
        "k",
        vacuum_keep_last=None,
    )
    ch = t.changes_between(spark, v1, t.current_version())
    rows = sorted(
        (r["_change_type"], r["k"], r["amount"]) for r in ch.collect()
    )
    # the renamed column's pre-image carries the OLD value under the
    # NEW logical name — one column's history, not drop+add
    assert rows == [
        ("update_postimage", 5, 999),
        ("update_preimage", 5, 5 % 100),
    ]


def test_stream_cdf_rename_boundary_loud_and_post_rename_streams(
    spark, tmp_path
):
    import pytest

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned_stream import (
        read_changes_stream,
    )

    t, path = _mapped_table(spark, tmp_path, "cmstream")
    v1 = t.current_version()
    # pre-rename DATA commit, then the rename
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(5, 50, "u")], "k long, amt int, tag string"),
        "k",
        vacuum_keep_last=None,
    )
    t.rename_column("amt", "amount")
    v_ren = t.current_version()

    def drain(start, qname):
        q = (
            read_changes_stream(spark, path, starting_version=start)
            .writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{qname}"))
            .start()
        )
        q.awaitTermination()
        return spark.table(qname)

    # a span crossing a PRE-rename data commit CONTINUES under the
    # stream-start (post-rename) names — a rename preserves physical
    # identity, so the pre-rename step's files read fine and surface
    # as "amount" (r9: the rename boundary no longer forces a restart;
    # adds/drops/type changes still fail loud —
    # test_stream_cdf_schema_change_fails_loud)
    got_cross = drain(v1, "cm_rename_cross")
    assert "amount" in got_cross.columns
    cross = sorted(
        (r["_change_type"], r["k"], r["amount"])
        for r in got_cross.collect()
    )
    assert cross == [
        ("update_postimage", 5, 50),
        ("update_preimage", 5, 5 % 100),
    ]

    # started AT the rename boundary, the stream maps post-rename
    # commits correctly (and the rename commit itself is silent —
    # empty file diff)
    merge_upsert_write_pruned(
        path,
        spark.createDataFrame([(6, 66, "u")], "k long, amount int, tag string"),
        "k",
        vacuum_keep_last=None,
    )
    got = drain(v_ren, "cm_rename_post")
    rows = sorted(
        (r["_change_type"], r["k"], r["amount"]) for r in got.collect()
    )
    assert rows == [
        ("update_postimage", 6, 66),
        ("update_preimage", 6, 6 % 100),
    ]


def test_change_feed_identity_prefers_recorded_key_columns(spark, tmp_path):
    """The manifest records row identity (``key_columns``) DISTINCTLY
    from skip-only stats columns: a table whose stats_columns carry a
    non-key skip column must not silently widen the change feed's join
    identity, and a composite-key merge's recorded identity survives
    metadata commits.  Legacy manifests (stats only) warn when the
    multi-column fallback fires."""
    import warnings

    from airflow_embeddings_pipeline_spark.operators.merge import (
        merge_upsert_write_pruned,
    )
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    # 1. single-key table whose stats_columns carry a SKIP-ONLY column
    root = str(tmp_path / "skipstats")
    t = VersionedParquetTable(root)
    df = spark.range(200).selectExpr(
        "id as k", "id % 7 as bucket", "concat('v', id) as s"
    )
    t.commit_with_manifest(
        df, "k", stats_columns=["k", "bucket"], key_columns=["k"]
    )
    man = t.manifest(1)
    assert man["stats_columns"] == ["k", "bucket"]
    assert man["key_columns"] == ["k"]
    # an UPDATE that keeps (k, bucket) pairs but changes s: with
    # identity=k the feed sees one pre+post pair; a (k, bucket)
    # identity would also work here, but a wrong identity on deletes
    # would misalign — assert the DEFAULT equals the recorded key
    t.commit_with_manifest(
        df.withColumn("s", F.expr("concat('w', k)")),
        "k",
        stats_columns=["k", "bucket"],
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the default must NOT warn
        ch = t.changes_between(spark, 1, 2)
        pre = ch.filter("_change_type = 'update_preimage'").count()
        post = ch.filter("_change_type = 'update_postimage'").count()
    assert pre == 200 and post == 200

    # 2. identity inherited through a metadata-only commit (rename of
    # a non-key column) and through clone
    t.rename_column("s", "text")
    assert t.manifest(t.current_version())["key_columns"] == ["k"]
    dest = str(tmp_path / "clone")
    t.clone_to(dest)
    assert VersionedParquetTable(dest).manifest(1)["key_columns"] == ["k"]

    # 3. composite-key pruned merge records the full identity
    root2 = str(tmp_path / "composite")
    t2 = VersionedParquetTable(root2)
    src = spark.range(100).selectExpr(
        "id % 10 as k1", "id as k2", "concat('x', id) as v"
    )
    t2.commit_with_manifest(src, "k1")
    merge_upsert_write_pruned(
        root2,
        spark.range(5).selectExpr(
            "id as k1", "id as k2", "'upd' as v"
        ),
        ["k1", "k2"],
        vacuum_keep_last=None,
    )
    man2 = t2.manifest(t2.current_version())
    assert man2["key_columns"] == ["k1", "k2"]

    # 4. legacy manifest (multi-column stats, NO key_columns): the
    # ambiguous fallback warns
    root3 = str(tmp_path / "legacy")
    t3 = VersionedParquetTable(root3)
    t3.commit_with_manifest(df, "k", stats_columns=["k", "bucket"])
    t3.commit_with_manifest(
        df.withColumn("s", F.expr("concat('w', k)")),
        "k",
        stats_columns=["k", "bucket"],
    )
    with pytest.warns(UserWarning, match="key_columns"):
        t3.changes_between(spark, 1, 2).count()


def test_restore_stamps_restored_versions_key_columns(spark, tmp_path):
    """RESTORE must stamp the RESTORED version's row identity, not
    inherit the rolled-back head's — the change feed would otherwise
    default to the wrong join identity over the restored data."""
    from airflow_embeddings_pipeline_spark.sources.versioned import (
        VersionedParquetTable,
    )

    root = str(tmp_path / "t")
    t = VersionedParquetTable(root)
    df = spark.range(100).selectExpr(
        "id % 10 as k1", "id as k2", "concat('v', id) as s"
    )
    t.commit_with_manifest(
        df, "k1", stats_columns=["k1", "k2"], key_columns=["k1", "k2"]
    )
    # head narrows the identity
    t.commit_with_manifest(
        df.withColumn("s", F.expr("concat('w', k2)")),
        "k1",
        stats_columns=["k1", "k2"],
        key_columns=["k2"],
    )
    assert t.manifest(2)["key_columns"] == ["k2"]
    t.restore(spark, 1)
    man = t.manifest(t.current_version())
    assert man["key_columns"] == ["k1", "k2"]  # the restored identity
    # and restoring to a version WITHOUT identity records none
    root2 = str(tmp_path / "t2")
    t2 = VersionedParquetTable(root2)
    t2.commit_with_manifest(df, "k1")
    t2.commit_with_manifest(df, "k1", key_columns=["k1", "k2"])
    t2.restore(spark, 1)
    assert not t2.manifest(t2.current_version()).get("key_columns")
