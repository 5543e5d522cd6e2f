"""Prepare/publish commit split (sources/versioned.py
prepare_commit / commit_with_manifest(prepared=...)).

The r10 residual ceiling #1: the commit lock spanned the data-write
job + stats scan + bloom build, so N racing writers' wall time was the
SUM of their write jobs even when every conflict rebased.  The split
runs every Spark job at PREPARE time into a content-addressed staging
dir (``_staged/p-<token>/``) under NO lock; the lock hold covers only
conflict analysis and the manifest/marker/pointer publish.  Placement
is version-independent and rename-free: manifests reference the
staging dir forever — nothing moves at publish, so the object-store
protocol needs no copy.

The suite proves: row/stats parity with the inline commit, staged
placement, rebase-through-prepare, conflict-discard, vacuum's
staged-dir GC (grace window, referenced-dir protection, partial
file-level GC), and the lock-held work is metadata-only (no Spark job
between acquire and release)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from airflow_embeddings_pipeline_spark.operators import merge as merge_mod
from airflow_embeddings_pipeline_spark.operators.merge import (
    merge_upsert_write_pruned,
)
from airflow_embeddings_pipeline_spark.sources.versioned import (
    SnapshotConflictError,
    VersionedParquetTable,
    _STAGED,
)


def _mk(spark, root, n=2_000, parts=4):
    t = VersionedParquetTable(root)
    t.commit_with_manifest(
        spark.range(n).selectExpr("id as k", "id * 2 as v"),
        "k",
        cluster_partitions=parts,
    )
    return t


def _rows(spark, t):
    return sorted(map(tuple, t.read(spark).select("k", "v").collect()))


def _entry_stats(t, version):
    """Placement-free view of a version's entries: per-file key range,
    row count, extra stats, DV row count and bloom presence."""
    return sorted(
        (
            e["min"],
            e["max"],
            e["n_rows"],
            json.dumps(e.get("stats"), sort_keys=True),
            (e.get("dv") or {}).get("rows"),
            bool(e.get("bloom")),
        )
        for e in t.manifest(version)["files"]
    )


class TestPreparedParity:
    def test_prepared_equals_inline(self, spark, tmp_path, monkeypatch):
        """prepare+publish and the inline commit run the same write
        phase: row-identical tables with the same per-file stats, only
        the data placement differs.  Covered: a plain append, a bloom
        column, a CHECK constraint, a merge-on-read DV commit, and the
        pruned merge in both publish modes."""
        add = spark.createDataFrame(
            [(9_000, -1), (9_001, -2)], "k long, v long"
        )

        def bloom_table(root):
            t = _mk(spark, root)
            t.add_bloom_index("v")
            return t

        def constrained_table(root):
            t = VersionedParquetTable(root)
            t.commit_with_manifest(
                spark.range(2_000).selectExpr("id as k", "id * 2 as v"),
                "k",
                cluster_partitions=4,
                constraints={"v_floor": "v >= -10"},
            )
            return t

        def commit(t, mode, with_dv=False):
            v = t.current_version()
            carried = t.manifest(v)["files"]
            dv = {}
            if with_dv:
                e = carried[0]
                dv = {"dv_updates": {e["path"]: [0, 1]}}
            if mode == "inline":
                t.commit_with_manifest(
                    add, "k", carried=carried, expected_base_version=v, **dv
                )
            else:
                if with_dv:
                    dv["dv_touched"] = {e["path"]: e}
                prep = t.prepare_commit(add, "k", base_version=v, **dv)
                t.commit_with_manifest(
                    None, "k",
                    carried=carried,
                    expected_base_version=v,
                    prepared=prep,
                )

        def merge(t, mode):
            monkeypatch.setattr(
                merge_mod, "_conflict_storming", lambda root: mode == "inline"
            )
            stats = merge_upsert_write_pruned(
                t.root,
                spark.createDataFrame(
                    [(5, -1), (1_500, -3), (9_000, -2)], "k long, v long"
                ),
                "k",
                vacuum_keep_last=None,
            )
            monkeypatch.undo()
            assert stats["bytes_rewritten"] > 0

        def plain_table(root):
            return _mk(spark, root)

        cases = {
            "append": (plain_table, commit),
            "bloom": (bloom_table, commit),
            "constraint": (constrained_table, commit),
            "mor_dv": (
                plain_table, lambda t, mode: commit(t, mode, with_dv=True)
            ),
            "merge": (plain_table, merge),
        }
        for case, (make, run) in cases.items():
            # one base, cloned per mode: range clustering samples, so
            # two independent base commits may cut files differently
            base = make(str(tmp_path / case / "base"))
            tables = {}
            for mode in ("inline", "prepared"):
                root = str(tmp_path / case / mode)
                base.clone_to(root)
                t = VersionedParquetTable(root)
                run(t, mode)
                tables[mode] = t
            inline, prepared = tables["inline"], tables["prepared"]
            v = prepared.current_version()
            assert v == inline.current_version(), case
            assert _rows(spark, inline) == _rows(spark, prepared), case
            assert _entry_stats(inline, v) == _entry_stats(prepared, v), case
            # prepared placement: the new data files live under _staged/
            new = [
                e
                for e in prepared.manifest(v)["files"]
                if e["path"].startswith(_STAGED)
            ]
            assert new, case
            for e in new:
                assert os.path.exists(os.path.join(prepared.root, e["path"]))
                assert bool(e.get("bloom")) == (case == "bloom"), case
        # the DV commit deleted two rows in both modes
        assert VersionedParquetTable(
            str(tmp_path / "mor_dv" / "prepared")
        ).read(spark).count() == 2_000

    def test_pruned_merge_places_data_in_staging(self, spark, tmp_path):
        """The pruned MERGE (CoW) now prepares outside the lock: its
        new version's data files live in _staged/, the version dir
        carries metadata only, and reads/time-travel work as before."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        src = spark.createDataFrame([(5, -1), (9_000, -2)], "k long, v long")
        stats = merge_upsert_write_pruned(
            root, src, "k", vacuum_keep_last=None
        )
        assert stats["version"] == 2
        assert stats["bytes_rewritten"] > 0
        man = t.manifest(2)
        staged = [
            e for e in man["files"] if e["path"].startswith(_STAGED)
        ]
        assert staged
        vdir = os.path.join(root, "v00000002")
        data_in_vdir = [
            f for f in os.listdir(vdir)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        assert data_in_vdir == []
        got = dict(_rows(spark, t))
        assert got[5] == -1 and got[9_000] == -2
        assert t.read_version(spark, 1).count() == 2_000

    def test_constraints_checked_at_prepare(self, spark, tmp_path):
        """Constraint violations surface at PREPARE time (before any
        lock) and the staging dir is removed with the exception."""
        from airflow_embeddings_pipeline_spark.sources.versioned import (
            ConstraintViolationError,
        )

        root = str(tmp_path / "t")
        t = VersionedParquetTable(root)
        t.commit_with_manifest(
            spark.range(10).selectExpr("id as k", "id * 2 as v"),
            "k",
            constraints={"v_nonneg": "v >= 0"},
        )
        bad = spark.createDataFrame([(100, -5)], "k long, v long")
        with pytest.raises(ConstraintViolationError):
            t.prepare_commit(bad, "k", base_version=1)
        sroot = os.path.join(root, _STAGED)
        assert not os.path.exists(sroot) or os.listdir(sroot) == []


class TestPreparedConcurrency:
    def test_rebase_publishes_prepared_output(self, spark, tmp_path):
        """Two writers PREPARE against the same base; a disjoint racer
        wins the pointer; the loser's publish REBASES onto the new
        head and its staged output is published verbatim — zero
        recompute, both writers' rows survive."""
        root = str(tmp_path / "t")
        t = _mk(spark, root, n=10_000, parts=8)
        man1 = t.manifest(1)
        # both writers prepare against v1 (parallel data jobs)
        prep_a = t.prepare_commit(
            spark.createDataFrame([(20_000, -1)], "k long, v long"),
            "k",
            base_version=1,
        )
        prep_b = t.prepare_commit(
            spark.createDataFrame([(30_000, -2)], "k long, v long"),
            "k",
            base_version=1,
        )
        # A publishes first (append-only: no touched base files)
        va = t.commit_with_manifest(
            None, "k",
            carried=man1["files"],
            expected_base_version=1,
            prepared=prep_a,
            rebase_on_conflict={
                "touched": (), "exclude": (),
                "might_touch": lambda e: False,
            },
        )
        assert va == 2
        # B's CAS is stale; the rebase scope proves disjointness and
        # the prepared output publishes against the head verbatim
        vb = t.commit_with_manifest(
            None, "k",
            carried=man1["files"],
            expected_base_version=1,
            prepared=prep_b,
            rebase_on_conflict={
                "touched": (), "exclude": (),
                "might_touch": lambda e: False,
            },
        )
        assert vb == 3
        assert t._last_commit_rebase == {"planned_base": 1, "onto": 2}
        got = dict(_rows(spark, t))
        assert got[20_000] == -1 and got[30_000] == -2
        assert t.read(spark).count() == 10_002

    def test_conflict_discards_staging(self, spark, tmp_path):
        """A CAS failure that cannot rebase reclaims the prepared
        staging dir before SnapshotConflictError propagates."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        prep = t.prepare_commit(
            spark.createDataFrame([(9_000, -1)], "k long, v long"),
            "k",
            base_version=1,
        )
        staging = os.path.join(root, prep["staging_rel"])
        assert os.path.isdir(staging)
        # interleave a FULL-REWRITE commit (no manifest diff evidence
        # for a rebase — plain carried-less commit changes everything)
        t.commit_with_manifest(
            spark.range(50).selectExpr("id as k", "id * 3 as v"), "k"
        )
        with pytest.raises(SnapshotConflictError):
            t.commit_with_manifest(
                None, "k",
                carried=[],
                expected_base_version=1,
                prepared=prep,
            )
        assert not os.path.exists(staging)

    def test_lock_holds_no_spark_job(self, spark, tmp_path):
        """The prepared publish runs ZERO Spark jobs while holding the
        commit lock — the split's entire point.  Asserted via a
        job-start listener bracketed by lock acquire/release."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        man = t.manifest(1)
        prep = t.prepare_commit(
            spark.createDataFrame([(9_000, -1)], "k long, v long"),
            "k",
            base_version=1,
        )
        sc = spark.sparkContext
        counted = {"jobs": 0, "locked": False}
        real_acquire = VersionedParquetTable._acquire_lock
        real_release = VersionedParquetTable._release_lock

        from pyspark import SparkContext

        class _L:
            pass

        # StatusTracker polling: record active job ids before/after
        # is racy; instead count jobs via the tracker's job id high
        # water mark around the locked section
        ids_before = {}

        def acq(self, *a, **kw):
            out = real_acquire(self, *a, **kw)
            counted["locked"] = True
            ids_before["ids"] = set(
                sc.statusTracker().getJobIdsForGroup(None) or []
            )
            ids_before["max"] = max(
                [j for j in sc.statusTracker().getJobIdsForGroup(None) or []]
                or [-1]
            )
            return out

        def rel(self):
            if counted["locked"]:
                after = max(
                    [
                        j
                        for j in sc.statusTracker().getJobIdsForGroup(None)
                        or []
                    ]
                    or [-1]
                )
                counted["jobs"] += max(0, after - ids_before["max"])
                counted["locked"] = False
            return real_release(self)

        VersionedParquetTable._acquire_lock = acq
        VersionedParquetTable._release_lock = rel
        try:
            t.commit_with_manifest(
                None, "k",
                carried=man["files"],
                expected_base_version=1,
                prepared=prep,
            )
        finally:
            VersionedParquetTable._acquire_lock = real_acquire
            VersionedParquetTable._release_lock = real_release
        assert counted["jobs"] == 0
        assert dict(_rows(spark, t))[9_000] == -1


class TestStagedVacuum:
    def test_orphan_staging_gc_after_grace(self, spark, tmp_path):
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        prep = t.prepare_commit(
            spark.createDataFrame([(9_000, -1)], "k long, v long"),
            "k",
            base_version=1,
        )
        staging = os.path.join(root, prep["staging_rel"])
        assert os.path.isdir(staging)
        # young orphan survives vacuum (in-flight prepare protection)
        t.vacuum(keep_last=1)
        assert os.path.isdir(staging)
        # aged orphan is reclaimed
        old = time.time() - t.staged_gc_grace_seconds - 10
        os.utime(staging, (old, old))
        t.vacuum(keep_last=1)
        assert not os.path.exists(staging)

    def test_referenced_staging_survives_any_age(self, spark, tmp_path):
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        src = spark.createDataFrame([(5, -1)], "k long, v long")
        merge_upsert_write_pruned(root, src, "k", vacuum_keep_last=None)
        man = t.manifest(2)
        staged = [
            e["path"] for e in man["files"] if e["path"].startswith(_STAGED)
        ]
        assert staged
        sdir = os.path.join(root, os.path.dirname(staged[0]))
        old = time.time() - t.staged_gc_grace_seconds * 10
        os.utime(sdir, (old, old))
        t.vacuum(keep_last=1)
        assert os.path.isdir(sdir)
        assert dict(_rows(spark, t))[5] == -1

    def test_dead_version_releases_staging(self, spark, tmp_path):
        """When every version referencing a staging dir is vacuumed,
        the staging (aged past grace) goes with them."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        merge_upsert_write_pruned(
            root,
            spark.createDataFrame([(5, -1)], "k long, v long"),
            "k",
            vacuum_keep_last=None,
        )
        man2 = t.manifest(2)
        sdirs = {
            os.path.join(root, os.path.dirname(e["path"]))
            for e in man2["files"]
            if e["path"].startswith(_STAGED)
        }
        assert sdirs
        # v3 rewrites EVERYTHING (plain full commit) — v2's staging is
        # referenced only by v2
        t.commit_with_manifest(
            spark.range(10).selectExpr("id as k", "id * 5 as v"), "k"
        )
        for d in sdirs:
            old = time.time() - t.staged_gc_grace_seconds - 10
            os.utime(d, (old, old))
        t.vacuum(keep_last=1)  # drops v1, v2
        for d in sdirs:
            assert not os.path.exists(d)
        assert t.read(spark).count() == 10

    def test_dry_run_deletes_nothing_staged(self, spark, tmp_path):
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        prep = t.prepare_commit(
            spark.createDataFrame([(9_000, -1)], "k long, v long"),
            "k",
            base_version=1,
        )
        staging = os.path.join(root, prep["staging_rel"])
        old = time.time() - t.staged_gc_grace_seconds - 10
        os.utime(staging, (old, old))
        t.vacuum(keep_last=1, dry_run=True)
        assert os.path.isdir(staging)


class TestStagedLifecycle:
    def test_dml_and_cdf_on_staged_placement(self, spark, tmp_path):
        """Row-level DML (DV deletes), CDF, restore and time travel all
        work when the live data lives in staged dirs."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        merge_upsert_write_pruned(
            root,
            spark.createDataFrame(
                [(i, -i) for i in range(0, 2_000, 100)], "k long, v long"
            ),
            "k",
            vacuum_keep_last=None,
        )
        v2 = t.current_version()
        t.delete_where(spark, "k >= 100 and k < 200")
        assert t.read(spark).filter("k >= 100 and k < 200").count() == 0
        assert (
            t.read_version(spark, v2).filter("k >= 100 and k < 200").count()
            == 100
        )
        ch = t.changes_between(spark, v2, t.current_version())
        assert ch.filter(F.col("_change_type") == "delete").count() == 100
        t.restore(spark, v2)
        assert t.read(spark).filter("k >= 100 and k < 200").count() == 100

    def test_mor_merge_on_staged_files(self, spark, tmp_path):
        """A MoR merge whose touched files live in _staged/ re-points
        their DVs correctly (the _file_rel_col three-component form)."""
        root = str(tmp_path / "t")
        t = _mk(spark, root)
        merge_upsert_write_pruned(
            root,
            spark.createDataFrame(
                [(i, -i) for i in range(0, 2_000, 7)], "k long, v long"
            ),
            "k",
            vacuum_keep_last=None,
        )
        stats = merge_upsert_write_pruned(
            root,
            spark.createDataFrame([(7, 777), (14, 888)], "k long, v long"),
            "k",
            write_mode="mor",
            vacuum_keep_last=None,
        )
        assert stats["write_mode"] == "mor"
        got = dict(_rows(spark, t))
        assert got[7] == 777 and got[14] == 888
        assert t.read(spark).count() == 2_000


def _base_rows(spark, n=20_000):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.0).alias("price"),
        F.lit("base").alias("status"),
    )


def _commit_base(spark, root):
    VersionedParquetTable(root).commit_with_manifest(
        _base_rows(spark), "k", cluster_partitions=8
    )


def _merge_rows(spark, rows):
    return spark.createDataFrame(rows, "k long, price double, status string")


def _merge_shape(rows, **kw):
    def setup(spark, root):
        _commit_base(spark, root)
        src = _merge_rows(spark, rows)
        return lambda: merge_upsert_write_pruned(
            root, src, "k", vacuum_keep_last=None, **kw
        )

    return setup


def _delete_shape(spark, root):
    _commit_base(spark, root)
    return lambda: VersionedParquetTable(root).delete_where(
        spark, "k >= 100 and k < 140"
    )


def _sync_shape(spark, root):
    """A seeded replica one merge behind the primary; counted: the CDC
    round that catches it up."""
    from airflow_embeddings_pipeline_spark.operators.merge import sync_replica

    _commit_base(spark, root)
    primary, replica = VersionedParquetTable(root), f"{root}-replica"
    VersionedParquetTable(replica).commit_with_manifest(
        primary.read(spark),
        "k",
        cluster_partitions=8,
        app_metadata={"cdc_last_applied_version": primary.current_version()},
    )
    merge_upsert_write_pruned(
        root,
        _merge_rows(spark, [(5, 1.0, "u"), (19_990, 2.0, "u"), (-5, 4.0, "i")]),
        "k",
        vacuum_keep_last=None,
    )
    return lambda: sync_replica(spark, root, replica, "k", vacuum_keep_last=None)


def _incremental_shape(spark, root):
    """A landed batch with in-batch duplicates; counted: one
    IncrementalPipeline.run (watermark scan, newest row per key,
    pruned-merge sink)."""
    from airflow_embeddings_pipeline_spark.operators.dedup import latest_per_key
    from airflow_embeddings_pipeline_spark.streaming.incremental import (
        IncrementalPipeline,
        WatermarkStore,
    )

    _commit_base(spark, root)
    landing = f"{root}-landing"
    rows = [
        (k, float(t), "new", f"s{k % 3}", t)
        for t in (1, 2)
        for k in (5, 7, 19_990)
    ]
    (
        spark.createDataFrame(
            rows, "k long, price double, status string, src string, t long"
        )
        .withColumn("ts", F.timestamp_seconds("t"))
        .drop("t")
        .coalesce(1)
        .write.parquet(landing)
    )
    pipe = IncrementalPipeline(
        WatermarkStore(f"{root}-watermarks.json"),
        key_col="src",
        ts_col="ts",
        transform=lambda df: latest_per_key(df, "k", "ts").drop("src", "ts"),
        sink=lambda df: merge_upsert_write_pruned(
            root, df, "k", vacuum_keep_last=None
        ),
    )
    batch = spark.read.parquet(landing)
    return lambda: pipe.run(batch)


class TestCommitJobCounts:
    """Spark jobs launched per commit shape, counted through a job
    group and the status tracker.  The counts pin the commit path's
    Spark work: a refactor of the write/publish phases must launch
    exactly the jobs it launched before (one band-split write whatever
    the number of bands, one stats-free publish, each input evaluated
    once, no count or re-read jobs creeping back in).  Each shape's
    set-up runs outside the group and returns the counted operation."""

    SHAPES = {
        # the table's first commit: one clustered write, inline
        "initial_inline": (
            lambda spark, root: lambda: _commit_base(spark, root),
            3,
        ),
        # one touched band, no out-of-band inserts.  One job fewer than
        # the other merges because the batch is ONE row: once the
        # persisted batch is materialized, AQE's OptimizeOneRowPlan sees
        # a one-row input and drops the key collect's distinct (its
        # shuffle job goes too)
        "single_band": (_merge_shape([(5, 1.0, "u")]), 6),
        # two distant bands (list-valued append_split)
        "two_bands": (
            _merge_shape([(5, 1.0, "u"), (19_990, 2.0, "u")]), 7
        ),
        # one band + a far-out insert (out-of-band append write)
        "out_of_band_insert": (
            _merge_shape([(5, 1.0, "u"), (10_000_000, 3.0, "i")]), 7
        ),
        # three bands + inserts in two gaps (below the first band,
        # above the last): the band-split write is one shuffle, so its
        # job count does not grow with bands or gaps
        "three_bands_two_gaps": (
            _merge_shape(
                [
                    (-5, 4.0, "i"),
                    (5, 1.0, "u"),
                    (10_000, 1.5, "u"),
                    (19_990, 2.0, "u"),
                    (10_000_000, 3.0, "i"),
                ]
            ),
            7,
        ),
        # merge-on-read: appended images + a driver-side DV sidecar
        "merge_on_read": (
            _merge_shape(
                [(i * 40, -1.0, "u") for i in range(500)], write_mode="mor"
            ),
            15,
        ),
        # metadata-shape commit: DV sidecar only, no data write
        "delete_where": (_delete_shape, 1),
        # one CDC round: change feed, its aggregate, the replica merge
        "sync_replica": (_sync_shape, 11),
        # one incremental batch: watermark aggregate, the sink's merge
        "incremental_run": (_incremental_shape, 10),
    }

    @pytest.mark.parametrize("shape", list(SHAPES))
    def test_jobs_per_commit_shape(self, spark, tmp_path, shape):
        setup, expected = self.SHAPES[shape]
        op = setup(spark, str(tmp_path / shape))
        sc = spark.sparkContext
        group = f"commit-jobs-{shape}"
        sc.setJobGroup(group, shape)
        try:
            op()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == expected
