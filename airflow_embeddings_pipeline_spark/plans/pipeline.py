"""End-to-end pipeline parity query — the complete reference dataflow
(embeddings-pipeline.py:132-363) as one oracle-checked plan.

Derives a ``source_documents``-shaped input (FIXTURES.md §1) from the
fixture tables deterministically, pre-seeds a MERGE target with
overlapping keys, then runs the full reference semantics:

  transform (F1-F7) → stage → window dedup (W1) → dim join (J1,
  inner ⇒ silent drop of unmatched) → MERGE (J2/J3: matched rows keep
  the target's ``cleaned_ref``, get the source's everything-else;
  unmatched source rows insert; untouched target rows carry through).

The output is the post-merge target table (minus the
``embedding_inserted_at`` audit stamp, which is CURRENT_TIMESTAMP and
therefore not oracle-comparable — its semantics are pytest-verified in
tests/test_pipeline.py).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalar import (
    derive_display_name,
    derive_main_refco,
    display_name_sql,
    main_refco_sql,
    normalize_ref,
    normalize_ref_sql,
    timestamp_to_iso,
    timestamp_to_iso_sql,
)
from ..operators.dedup import latest_per_key
from ..operators.merge import merge_upsert
from ..sources.registry import load_table
from .catalog import Query, register

_REF_LEN = 30

# The reference updates everything except cleaned_ref + key on match
# (embeddings-pipeline.py:329-338).
_UPDATE_COLS = ("category", "display_name", "display_name_id", "original_timestamp")


def _source_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """source_documents analog: docs ⨝ vectors with pipeline-shaped
    derived fields and a deterministic event time."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        F.col("source"),
        F.substring("text", 1, _REF_LEN).alias("raw_ref"),
        F.nullif(F.col("lang"), F.lit("en")).alias("color"),
        F.col("lang").alias("category"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("doc_id").cast("int"))
        ).alias("timestamp"),
    )


def _transform(src: DataFrame) -> DataFrame:
    """The reference's per-document transform loop (:182-228) as one
    projection: normalize → derive keys → ISO event time."""
    d = src.select(
        "doc_id",
        "source",
        "category",
        "color",
        normalize_ref(F.col("raw_ref")).alias("cleaned_ref"),
        timestamp_to_iso("timestamp").alias("original_timestamp"),
    )
    return d.select(
        "doc_id",
        "cleaned_ref",
        "category",
        derive_main_refco(F.col("cleaned_ref"), F.col("color")).alias("main_refco"),
        derive_display_name(F.col("source"), F.col("color")).alias("display_name"),
        "original_timestamp",
    )


def pipeline_e2e_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = _source_documents(spark, sf_dir)
    transformed = _transform(src)

    # Staged batch: even doc_ids (the "new data" slice).
    staged = transformed.filter(F.col("doc_id") % 2 == 0)
    # W1 dedup within the staged batch, newest original_timestamp wins
    # (ISO strings sort as timestamps), doc_id tiebreak.
    staged = latest_per_key(
        staged, "main_refco", "original_timestamp", tiebreak="doc_id"
    ).drop("doc_id")

    # J1 dim: display_names seen ≥2 times get a surrogate id; inner
    # join silently drops the rest (the reference's semi-filter).
    dim = (
        transformed.groupBy("display_name")
        .agg(F.min("doc_id").alias("display_name_id"), F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .drop("__n")
    )
    # dim is corpus-derived (distinct display_names grow with the
    # documents table) — no forced broadcast; AQE picks the strategy
    # from the post-aggregate runtime size, which at fixture scale is
    # still a broadcast join.
    staged = staged.join(dim, "display_name", "inner")

    # Pre-seeded target: doc_id % 3 == 0 slice, older shape — distinct
    # category marker and no surrogate ids yet.
    target = (
        latest_per_key(
            transformed.filter(F.col("doc_id") % 3 == 0),
            "main_refco",
            "original_timestamp",
            tiebreak="doc_id",
        )
        .drop("doc_id")
        .select(
            "cleaned_ref",
            F.lit("preseed").alias("category"),
            "main_refco",
            "display_name",
            F.lit(None).cast("long").alias("display_name_id"),
            "original_timestamp",
        )
    )

    merged = merge_upsert(
        target,
        staged.select(
            "cleaned_ref",
            "category",
            "main_refco",
            "display_name",
            "display_name_id",
            "original_timestamp",
        ),
        "main_refco",
        update_columns=list(_UPDATE_COLS),
    )
    return merged.orderBy("main_refco")


_NORM = normalize_ref_sql("substring(text, 1, 30)")
_ISO = timestamp_to_iso_sql("ts")
_MAIN = main_refco_sql("cleaned_ref", "color")
_DISP = display_name_sql("source", "color")

_ORACLE = f"""
WITH src AS (
    SELECT doc_id, source,
           nullif(lang, 'en') AS color,
           lang AS category,
           {_NORM} AS cleaned_ref,
           TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts
    FROM documents
), transformed AS (
    SELECT doc_id, cleaned_ref, category,
           {_MAIN} AS main_refco,
           {_DISP} AS display_name,
           {_ISO} AS original_timestamp
    FROM src
), staged_dedup AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY main_refco
                   ORDER BY original_timestamp DESC, doc_id DESC) AS rn
        FROM transformed WHERE doc_id % 2 = 0
    ) WHERE rn = 1
), dim AS (
    SELECT display_name, min(doc_id) AS display_name_id
    FROM transformed GROUP BY display_name HAVING count(*) >= 2
), staged AS (
    SELECT s.cleaned_ref, s.category, s.main_refco, s.display_name,
           d.display_name_id, s.original_timestamp
    FROM staged_dedup s JOIN dim d ON s.display_name = d.display_name
), target AS (
    SELECT cleaned_ref, 'preseed' AS category, main_refco, display_name,
           CAST(NULL AS BIGINT) AS display_name_id, original_timestamp
    FROM (
        SELECT *, row_number() OVER (PARTITION BY main_refco
                   ORDER BY original_timestamp DESC, doc_id DESC) AS rn
        FROM transformed WHERE doc_id % 3 = 0
    ) WHERE rn = 1
)
SELECT coalesce(t.main_refco, s.main_refco) AS main_refco,
       CASE WHEN t.main_refco IS NOT NULL THEN t.cleaned_ref ELSE s.cleaned_ref END AS cleaned_ref,
       CASE WHEN s.main_refco IS NOT NULL THEN s.category ELSE t.category END AS category,
       CASE WHEN s.main_refco IS NOT NULL THEN s.display_name ELSE t.display_name END AS display_name,
       CASE WHEN s.main_refco IS NOT NULL THEN s.display_name_id ELSE t.display_name_id END AS display_name_id,
       CASE WHEN s.main_refco IS NOT NULL THEN s.original_timestamp ELSE t.original_timestamp END AS original_timestamp
FROM target t FULL OUTER JOIN staged s ON t.main_refco = s.main_refco
ORDER BY main_refco
"""

register(
    Query(
        name="pipeline_e2e_merge",
        build=pipeline_e2e_merge,
        oracle=_ORACLE,
        doc="full reference dataflow: transform → dedup → dim join → MERGE "
        "matched/not-matched semantics (embeddings-pipeline.py:132-363)",
        tags=("flagship", "J2", "J3", "W1", "F1", "F7"),
        bench=True,
    )
)


# --------------------------------------------------- file-pruned MERGE
# The write-path MERGE the reference actually executes: Snowflake's
# MERGE prunes to the micro-partitions holding matched keys
# (embeddings-pipeline.py:294-352); this entry drives the engine's
# manifest-pruned equivalent END-TO-END — write a range-clustered
# versioned target, pruned-merge a narrow batch (updates + inserts
# above every range), read the committed table back — and oracles the
# read-back against the plain FULL OUTER JOIN semantics.  The pruning
# is an I/O optimization with zero semantic surface, which is exactly
# what sharing the relational oracle proves.
_PRUNED_INS_OFFSET = 1_000_000_000


def _scratch_dir(root: str, sf_dir: str) -> str:
    """Per-(fixture, pid) scratch path under ``root``; opportunistically
    reclaims sibling pid dirs older than an hour (dead runs — the same
    grace-window convention as the document store's vacuum) so repeated
    driver/bench invocations don't accumulate table copies in /tmp.

    A dir whose embedded pid is still a live process is NEVER reclaimed
    regardless of age: the top-level mtime does not advance when a run
    writes inside nested version subdirs, so an age check alone would
    delete a legitimately >1 h run's table out from under it."""
    import os
    import shutil
    import time

    def _alive(pid: int) -> bool:
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except PermissionError:
            return True

    key = sf_dir.strip("/").replace("/", "_")
    try:
        now = time.time()
        for d in os.listdir(root):
            p = os.path.join(root, d)
            pid_s = d.rsplit(".", 1)[-1]
            if pid_s.isdigit() and _alive(int(pid_s)):
                continue
            if now - os.path.getmtime(p) > 3600:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass
    path = os.path.join(root, f"{key}.{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    return path


# ------------------------------------------------- shared scratch seed
# Ten of the versioned-lifecycle entries start from the IDENTICAL
# initial commit — orders projected to (k, price, status), clustered on
# k into 16 files, no stats columns.  That target is committed ONCE per
# (process, fixture-mtime) into a template table, and each entry seeds
# its own scratch root with ``clone_to`` — a hardlink-per-file,
# Spark-free metadata clone with an independent lifecycle (either
# side's vacuum only unlinks its own names; data files are immutable
# copy-on-write throughout the engine, so sharing inodes is safe).  The
# cloned root is observationally identical to a direct commit through
# read, change feed and time travel (same deterministic projection,
# same clustering, version 1 either way; tests/test_pipeline.py pins
# it).  It is not identical through history(): the clone's v1 records
# operation CLONE and a ``cloned_from`` app-metadata key, which no
# registered query reads.  Nothing survives the process: the template
# lives under a pid-scoped scratch dir and is rebuilt from the parquet
# fixtures by the first consumer of every run, and the memo key carries
# the fixture file's mtime so a rewritten fixture invalidates it (the
# load_table memo's contract).  The check-then-build runs under a
# module lock: a rebuild rmtree's the deterministic template path, so
# two threads seeding at once would wipe each other's template.
_ORDERS_KPS_TEMPLATES: dict[tuple, str] = {}
_ORDERS_KPS_LOCK = threading.Lock()


def _orders_kps_table(
    spark: SparkSession,
    sf_dir: str,
    dest_path: str,
    app_metadata: dict | None = None,
):
    """Seed ``dest_path`` with the shared (k, price, status) initial
    commit — template-clone fast path, direct commit fallback."""
    import os

    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    try:
        mkey = os.stat(os.path.join(sf_dir, "orders.parquet")).st_mtime_ns
    except OSError:
        table = VersionedParquetTable(dest_path)
        table.commit_with_manifest(
            target, "k", cluster_partitions=16, app_metadata=app_metadata
        )
        return table
    key = (os.path.abspath(sf_dir), mkey)
    with _ORDERS_KPS_LOCK:
        troot = _ORDERS_KPS_TEMPLATES.get(key)
        if troot is None or not os.path.isdir(troot):
            troot = _scratch_dir("/tmp/spark_graft_tmpl_orders_kps", sf_dir)
            tmpl = VersionedParquetTable(troot)
            tmpl.commit_with_manifest(target, "k", cluster_partitions=16)
            _ORDERS_KPS_TEMPLATES[key] = troot
        # set_cdc_watermark=False: a direct initial commit carries no
        # CDC watermark metadata, and the clone must be observationally
        # identical to it through read / CDF / time travel
        VersionedParquetTable(troot).clone_to(
            dest_path, set_cdc_watermark=False, app_metadata=app_metadata
        )
    return VersionedParquetTable(dest_path)


def j_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(inserts)

    path = _scratch_dir("/tmp/spark_graft_pruned_merge", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    return table.read(spark).orderBy("k")


_PRUNED_ORACLE = f"""
WITH target AS (
    SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
           o_orderstatus AS status
    FROM orders
), source AS (
    SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 2 AS price,
           'UPD' AS status
    FROM orders WHERE o_orderkey % 97 = 1
    UNION ALL
    SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
           CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status
    FROM orders WHERE o_orderkey % 997 = 3
)
SELECT coalesce(t.k, s.k) AS k,
       CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.price END AS price,
       CASE WHEN s.k IS NOT NULL THEN s.status ELSE t.status END AS status
FROM target t FULL OUTER JOIN source s ON t.k = s.k
ORDER BY k
"""

register(
    Query(
        name="j_merge_pruned",
        build=j_merge_pruned,
        oracle=_PRUNED_ORACLE,
        doc=(
            "file-pruned MERGE end-to-end: range-clustered versioned target, "
            "manifest-pruned upsert (untouched files carried by reference), "
            "committed-table read-back oracled against plain FULL OUTER JOIN "
            "semantics (S9/J2/J3 at 100 TB)"
        ),
        tags=("J2", "J3", "S9", "scale"),
    )
)


# ------------------------------------------ merge-on-read MERGE (DV)
# The same pruned MERGE, written with DELETION VECTORS instead of
# copy-on-write (Delta DV MERGE analog): matched target rows are
# marked deleted in per-file position sidecars and the batch's
# update/insert images are APPENDED — the touched files are carried by
# reference, so write amplification is O(batch + DV delta) instead of
# O(touched-file bytes).  Oracled with the same relational FULL OUTER
# JOIN semantics as the copy-on-write entry (plus the tombstone
# clause), proving the physical strategy never leaks into results.
def j_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("price"),
        F.lit("DEL").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(deletes).unionAll(inserts)

    path = _scratch_dir("/tmp/spark_graft_mor_merge", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    stats = merge_upsert_write_pruned(
        path, source, "k",
        delete_when=F.col("s.status") == "DEL",
        write_mode="mor", vacuum_keep_last=None,
    )
    assert stats["write_mode"] == "mor", stats  # must not fall back
    return table.read(spark).orderBy("k")


register(
    Query(
        name="j_merge_mor",
        build=j_merge_mor,
        oracle=f"""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderstatus AS status
            FROM orders
        ), source AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 2 AS price,
                   'UPD' AS status
            FROM orders WHERE o_orderkey % 97 = 1
            UNION ALL
            SELECT o_orderkey AS k, 0.0 AS price, 'DEL' AS status
            FROM orders WHERE o_orderkey % 97 = 2
            UNION ALL
            SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
                   CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status
            FROM orders WHERE o_orderkey % 997 = 3
        )
        SELECT coalesce(t.k, s.k) AS k,
               CASE WHEN s.k IS NOT NULL THEN s.price ELSE t.price END AS price,
               CASE WHEN s.k IS NOT NULL THEN s.status ELSE t.status END AS status
        FROM target t FULL OUTER JOIN source s ON t.k = s.k
        WHERE coalesce(s.status, '') <> 'DEL'
        ORDER BY k
        """,
        doc=(
            "merge-on-read MERGE: matched rows deleted via per-file DELETION "
            "VECTOR sidecars (row-position anti-join at read), update/insert "
            "images appended, touched files carried by reference — write "
            "amplification O(batch + DV delta), not O(touched bytes); "
            "read-back oracled against plain FULL OUTER JOIN + tombstone "
            "semantics (Delta deletion-vectors analog, S9/J2/J3 at 100 TB)"
        ),
        tags=("J2", "J3", "S9", "scale"),
    )
)


# ------------------------------------------- merge-on-read DELETE (DV)
# Row-level DELETE without rewriting any data file: matched positions
# land in a sidecar, the manifest re-points, readers anti-join them
# out.  TWO deletes stack (the second unions into a fresh sidecar), so
# the entry also proves DV accumulation; oracled as plain WHERE NOT.
def s_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch_dir("/tmp/spark_graft_delete_where", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    table.delete_where(spark, "k % 89 = 7")
    table.delete_where(spark, "status = 'F' AND k % 41 = 3")
    return table.read(spark).orderBy("k")


register(
    Query(
        name="s_delete_where",
        build=s_delete_where,
        oracle="""
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
               o_orderstatus AS status
        FROM orders
        WHERE NOT (o_orderkey % 89 = 7)
          AND NOT (o_orderstatus = 'F' AND o_orderkey % 41 = 3)
        ORDER BY k
        """,
        doc=(
            "merge-on-read DELETE via deletion vectors: two stacked "
            "delete_where commits write position sidecars only (zero data "
            "files rewritten — write cost O(deleted rows)); read-back "
            "oracled as plain WHERE NOT filters (Delta DV DELETE analog, "
            "S9 at 100 TB: a scattered GDPR-style erasure must not rewrite "
            "the touched-file mass)"
        ),
        tags=("S9", "scale"),
    )
)


# ------------------------------------------- segmented manifest DML
# Big-table manifest storage: above manifest_inline_max entries the
# file list lives in immutable _mseg-*.parquet SEGMENTS carried by
# reference across commits, so commit metadata I/O is O(touched
# entries), not O(table files) — the Delta log-segment / Iceberg
# manifest-file analog (probe: 167x less metadata written per small
# commit at 4096 files; see BASELINE.md).  This entry forces the
# segmented form with test-scale thresholds and drives DML + a pruned
# MoR merge through it; the read-back must match plain SQL exactly —
# the storage form is unobservable.
def s_segmented_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    path = _scratch_dir("/tmp/spark_graft_segmented_manifest", sf_dir)
    table = VersionedParquetTable(path)
    table.manifest_inline_max = 8  # 16 files below: always segmented
    table.manifest_segment_rows = 4
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    assert "file_segments" in (
        table._raw_manifest(table.current_version()) or {}
    ), "segmented form must engage"
    table.delete_where(spark, "k % 67 = 11")
    source = orders.filter(F.col("o_orderkey") % 53 == 5).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 3.0).alias("price"),
        F.lit("SEG").alias("status"),
    )
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    return table.read(spark).orderBy("k")


register(
    Query(
        name="s_segmented_manifest",
        build=s_segmented_manifest,
        oracle="""
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 53 = 5
                    THEN CAST(o_totalprice AS DOUBLE) * 3.0
                    ELSE CAST(o_totalprice AS DOUBLE) END AS price,
               CASE WHEN o_orderkey % 53 = 5 THEN 'SEG'
                    ELSE o_orderstatus END AS status
        FROM orders
        WHERE NOT (o_orderkey % 67 = 11) OR o_orderkey % 53 = 5
        ORDER BY k
        """,
        doc=(
            "segmented manifest storage under DML + pruned merge: file "
            "entries in immutable parquet segments carried by reference, "
            "commit metadata O(touched entries) instead of O(table files) "
            "(Delta log-segment / Iceberg manifest-file analog, S9 at "
            "100 TB: a one-file commit on an 800k-file table must not "
            "rewrite a 250 MB manifest); read-back oracled as plain SQL "
            "— the storage form is unobservable"
        ),
        tags=("S9", "scale"),
    )
)


# -------------------------------------------- bloom-indexed lookup
# Per-file bloom filters (Delta bloomFilter column-index analog) buy
# EQUALITY pruning where range stats cannot: the table clusters on
# o_orderkey, so a lookup by o_custkey gets nothing from [min, max]
# stats — every file's custkey range spans the domain.  The entry
# commits the table, declares a bloom index on the custkey column
# (backfill = one columnar read per file), and point-reads a
# deterministic value set; the oracle is the plain IN filter.  The
# pruning itself (files kept vs total) is unit-asserted in
# tests/test_bloom_index.py; here the gate is answer correctness.
def s_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch_dir("/tmp/spark_graft_bloom_lookup", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    table.add_bloom_index("cust")
    vals = [
        r["cust"]
        for r in table.read(spark)
        .filter(F.col("k") <= 64)
        .select("cust")
        .distinct()
        .collect()
    ]
    return table.read_eq(spark, "cust", vals).orderBy("k")


register(
    Query(
        name="s_bloom_lookup",
        build=s_bloom_lookup,
        oracle="""
        SELECT o_orderkey AS k, o_custkey AS cust,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE o_custkey IN (
            SELECT o_custkey FROM orders WHERE o_orderkey <= 64
        )
        ORDER BY k
        """,
        doc=(
            "bloom-filter file skipping: per-file bloom sidecars on a "
            "NON-clustering column (add_bloom_index backfill + automatic "
            "maintenance on later commits) prune an equality lookup that "
            "range stats cannot — read_eq scans only maybe-containing "
            "files; oracled as the plain IN filter (Delta bloomFilter "
            "index analog, S9 at 100 TB: point lookups and scattered-key "
            "merges on uncorrelated keys)"
        ),
        tags=("S9", "scale"),
    )
)


# -------------------------------------------- merge-on-read UPDATE (DV)
# Row-level UPDATE completing the DML triad (DELETE/UPDATE/MERGE all
# merge-on-read): matched rows DV'd, updated images appended — zero
# touched files rewritten; assignments see the PRE-update row (SQL
# UPDATE semantics).  Oracled as CASE WHEN.
def s_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch_dir("/tmp/spark_graft_update_where", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    table.update_where(
        spark,
        "k % 89 = 7",
        {"price": "price * 1.1", "status": "'REPRICED'"},
    )
    return table.read(spark).orderBy("k")


register(
    Query(
        name="s_update_where",
        build=s_update_where,
        oracle="""
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 89 = 7
                    THEN CAST(o_totalprice AS DOUBLE) * 1.1
                    ELSE CAST(o_totalprice AS DOUBLE) END AS price,
               CASE WHEN o_orderkey % 89 = 7
                    THEN 'REPRICED' ELSE o_orderstatus END AS status
        FROM orders
        ORDER BY k
        """,
        doc=(
            "merge-on-read UPDATE via deletion vectors: matched rows DV'd, "
            "updated images appended (assignments see the pre-update row) — "
            "zero data files rewritten, write cost O(matched rows); "
            "read-back oracled as CASE WHEN (completes the row-level DML "
            "triad with delete_where and write_mode='mor' MERGE, S9)"
        ),
        tags=("S9", "scale"),
    )
)


# ------------------------------- corpus curation via MoR deletes (DV)
# The LLM-data shape the deletion vectors exist for: a training corpus
# lives as a versioned table; curation passes (exact-dup removal, a
# quality floor) DELETE scattered rows — a few documents per file
# across the whole corpus.  Copy-on-write would rewrite the corpus to
# drop 1-2% of it; merge-on-read writes position sidecars only.  The
# entry composes the engine's own exact-dedup fingerprint (keep the
# lowest doc_id per content hash) with delete_where, then stacks a
# quality-floor delete, and reads the curated corpus back — oracled as
# a window-rank + WHERE in plain SQL.
def x_corpus_purge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.text import fingerprint
    from ..sources.versioned import VersionedParquetTable
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    path = _scratch_dir("/tmp/spark_graft_corpus_purge", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(docs, "doc_id", cluster_partitions=8)

    # exact-dup losers: every doc but the lowest doc_id per fingerprint
    w = Window.partitionBy("fp").orderBy("doc_id")
    losers = [
        r["doc_id"]
        for r in table.read(spark)
        .select("doc_id", fingerprint("text").alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .collect()
    ]
    if losers:
        table.delete_where(
            spark, f"doc_id IN ({', '.join(map(str, sorted(losers)))})"
        )
    table.delete_where(spark, "n_chars < 200")
    return (
        table.read(spark)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


register(
    Query(
        name="x_corpus_purge_mor",
        build=x_corpus_purge_mor,
        oracle=r"""
        WITH fp AS (
            SELECT doc_id, lang, source, n_chars,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
            FROM documents
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
            FROM fp
        )
        SELECT doc_id, lang, source, n_chars
        FROM ranked
        WHERE rn = 1 AND n_chars >= 200
        ORDER BY doc_id
        """,
        doc=(
            "corpus curation as merge-on-read deletes: exact-dup losers "
            "(engine fingerprint, keep lowest doc_id per content hash) and "
            "a quality floor removed from a versioned corpus via stacked "
            "delete_where DV commits — zero corpus files rewritten; "
            "read-back oracled as window-rank + WHERE (X1 + S9 composed: "
            "the curation pass a 100 TB training corpus actually runs)"
        ),
        tags=("X1", "S9", "scale"),
    )
)


# --------------------------------------------- composite-key MERGE
# Snowflake MERGE joins on arbitrary conjunctions (the reference's
# single-column ``ON t.main_refco = s.main_refco``, embeddings-
# pipeline.py:328, is the special case); warehouse fact tables merge on
# composite natural keys — here lineitem's (l_orderkey, l_linenumber).
# The engine merges on the FULL composite key and prunes files on the
# LEADING column's manifest stats (conservative superset; the unit
# suite asserts the pruning), and the committed read-back is oracled
# against the plain FULL OUTER JOIN on the composite key.
def j_merge_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable

    li = load_table(spark, sf_dir, "lineitem")
    target = li.select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").cast("int").alias("k2"),
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    updates = li.filter(F.col("l_orderkey") % 89 == 1).select(
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").cast("int").alias("k2"),
        (F.col("l_quantity").cast("double") * 2).alias("qty"),
        F.lit("U").alias("flag"),
    )
    # same order, NEW line number: matched on the leading key only —
    # the composite join must treat it as an insert, not an update
    inserts = li.filter(
        (F.col("l_orderkey") % 997 == 3) & (F.col("l_linenumber") == 1)
    ).select(
        F.col("l_orderkey").alias("k1"),
        F.lit(99).alias("k2"),
        F.lit(1.0).alias("qty"),
        F.lit("I").alias("flag"),
    )
    source = updates.unionAll(inserts)

    path = _scratch_dir("/tmp/spark_graft_composite_merge", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k1", cluster_partitions=16)
    merge_upsert_write_pruned(path, source, ["k1", "k2"], vacuum_keep_last=None)
    return table.read(spark).orderBy("k1", "k2")


register(
    Query(
        name="j_merge_composite",
        build=j_merge_composite,
        oracle="""
        WITH target AS (
            SELECT l_orderkey AS k1, CAST(l_linenumber AS INTEGER) AS k2,
                   CAST(l_quantity AS DOUBLE) AS qty, l_returnflag AS flag
            FROM lineitem
        ), source AS (
            SELECT l_orderkey AS k1, CAST(l_linenumber AS INTEGER) AS k2,
                   CAST(l_quantity AS DOUBLE) * 2 AS qty, 'U' AS flag
            FROM lineitem WHERE l_orderkey % 89 = 1
            UNION ALL
            SELECT l_orderkey AS k1, 99 AS k2, CAST(1.0 AS DOUBLE) AS qty,
                   'I' AS flag
            FROM lineitem WHERE l_orderkey % 997 = 3 AND l_linenumber = 1
        )
        SELECT coalesce(t.k1, s.k1) AS k1, coalesce(t.k2, s.k2) AS k2,
               CASE WHEN s.k1 IS NOT NULL THEN s.qty ELSE t.qty END AS qty,
               CASE WHEN s.k1 IS NOT NULL THEN s.flag ELSE t.flag END AS flag
        FROM target t
        FULL OUTER JOIN source s ON t.k1 = s.k1 AND t.k2 = s.k2
        ORDER BY k1, k2
        """,
        doc=(
            "composite-key MERGE (l_orderkey, l_linenumber): full-composite "
            "join semantics, leading-column file pruning, committed "
            "read-back oracled vs FULL OUTER JOIN on the composite key "
            "(J2/J3/S9)"
        ),
        tags=("J2", "J3", "S9", "scale"),
    )
)


# ---------------------------------------------- column mapping (ALTER)
# Snowflake gives the reference ALTER TABLE RENAME / type changes for
# free on its warehouse target (CONFIGURATION.md:100-112).  The engine's
# analog is Delta-style column mapping: rename and type-widening are
# METADATA-ONLY commits (one manifest write, zero data rewritten — the
# physical column names in the files never change), and a post-rename
# pruned MERGE keeps pruning on the untouched physical stats.  The
# oracle reproduces the final logical state in plain SQL, so the entry
# proves the whole chain: rename -> widen -> merge -> read-back.
def s_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("int").alias("cust"),
        F.col("o_orderpriority").alias("prio"),
    )
    path = _scratch_dir("/tmp/spark_graft_column_mapping", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    table.rename_column("prio", "priority")  # metadata-only
    table.widen_column("cust", "bigint")  # metadata-only
    # merge AFTER the alters, in the new logical vocabulary, with
    # values only the widened type can hold
    source = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_custkey").cast("bigint") * F.lit(1_000_000_000)).alias(
            "cust"
        ),
        F.lit("U").alias("priority"),
    ).unionAll(
        orders.filter(F.col("o_orderkey") % 997 == 3).select(
            (F.col("o_orderkey") + F.lit(100_000_000)).alias("k"),
            F.lit(1).cast("bigint").alias("cust"),
            F.lit("I").alias("priority"),
        )
    )
    merge_upsert_write_pruned(path, source, "k", vacuum_keep_last=None)
    return table.read(spark).orderBy("k")


register(
    Query(
        name="s_column_mapping",
        build=s_column_mapping,
        oracle="""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS cust,
                   o_orderpriority AS priority
            FROM orders
        ), source AS (
            SELECT o_orderkey AS k,
                   CAST(o_custkey AS BIGINT) * 1000000000 AS cust,
                   'U' AS priority
            FROM orders WHERE o_orderkey % 97 = 1
            UNION ALL
            SELECT o_orderkey + 100000000 AS k, CAST(1 AS BIGINT) AS cust,
                   'I' AS priority
            FROM orders WHERE o_orderkey % 997 = 3
        )
        SELECT coalesce(t.k, s.k) AS k,
               CASE WHEN s.k IS NOT NULL THEN s.cust ELSE t.cust END AS cust,
               CASE WHEN s.k IS NOT NULL THEN s.priority
                    ELSE t.priority END AS priority
        FROM target t FULL OUTER JOIN source s ON t.k = s.k
        ORDER BY k
        """,
        doc=(
            "column mapping: metadata-only RENAME + type WIDENING "
            "(Delta column-mapping analog of the reference's warehouse "
            "ALTER TABLE, CONFIGURATION.md:100-112), then a pruned MERGE "
            "in the new vocabulary and a read-back oracled in plain SQL "
            "(S9)"
        ),
        tags=("S9", "scale"),
    )
)


# ----------------------------------------------------- zero-copy CLONE
# Delta SHALLOW CLONE analog on the versioned table: the snapshot
# publishes as version 1 of a fresh table via hardlinks — one manifest
# write, zero Spark jobs, shared inodes with independent vacuum — and
# the clone commit seeds the CDC watermark, so replica seeding is
# clone + sync with no full copy.  The entry proves the whole seed
# path: clone a merged table, sync ONE post-clone commit across, read
# the replica — oracled against the primary's final state in plain SQL.
def s_clone_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned, sync_replica
    from ..sources.versioned import VersionedParquetTable

    # a 10% orders slice: clone/sync SEMANTICS need commits and a
    # watermark, not row volume — this entry once cost 14.1 s of the
    # 201-query oracle sweep staging the full table at 16 partitions
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    path = _scratch_dir("/tmp/spark_graft_clone_primary", sf_dir)
    replica = _scratch_dir("/tmp/spark_graft_clone_replica", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=4)
    # primary evolves before the clone...
    merge_upsert_write_pruned(
        path,
        orders.filter(F.col("o_orderkey") % 151 == 7).select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice").cast("double") * 2).alias("price"),
            F.lit("C1").alias("status"),
        ),
        "k",
        vacuum_keep_last=None,
    )
    table.clone_to(replica)  # hardlink seed, watermark recorded
    # ...and once more AFTER it; one sync round catches the replica up
    merge_upsert_write_pruned(
        path,
        orders.filter(F.col("o_orderkey") % 151 == 8).select(
            F.col("o_orderkey").alias("k"),
            F.lit(-1.0).alias("price"),
            F.lit("C2").alias("status"),
        ),
        "k",
        vacuum_keep_last=None,
    )
    sync_replica(spark, path, replica, "k", vacuum_keep_last=None)
    return VersionedParquetTable(replica).read(spark).orderBy("k")


register(
    Query(
        name="s_clone_replica",
        build=s_clone_replica,
        oracle="""
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 151 = 7
                    THEN CAST(o_totalprice AS DOUBLE) * 2
                    WHEN o_orderkey % 151 = 8 THEN -1.0
                    ELSE CAST(o_totalprice AS DOUBLE) END AS price,
               CASE WHEN o_orderkey % 151 = 7 THEN 'C1'
                    WHEN o_orderkey % 151 = 8 THEN 'C2'
                    ELSE o_orderstatus END AS status
        FROM orders
        WHERE o_orderkey % 10 = 0
        ORDER BY k
        """,
        doc=(
            "zero-copy CLONE replica seeding (Delta SHALLOW CLONE "
            "analog): hardlink snapshot commit with seeded CDC "
            "watermark, then one sync_replica round replays the "
            "post-clone commit; replica read-back oracled vs the "
            "primary's final state (S9/T6)"
        ),
        tags=("S9", "T6", "scale"),
    )
)


# ------------------------------------------- manifest data skipping
# The reader-side payoff of the same per-file stats the pruned MERGE
# writes: read_range scans only the files whose [min, max] key range
# intersects the predicate (Delta/Iceberg data skipping; the file-skip
# cardinality is unit-asserted in tests/test_merge.py) and applies the
# exact filter on top — so the entry's oracle is simply the BETWEEN
# query, proving skipping changes no semantics.
_SKIP_LO = 1_000
_SKIP_HI = 9_000


def s_read_range_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch_dir("/tmp/spark_graft_read_range", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    return (
        table.read_range(spark, "k", _SKIP_LO, _SKIP_HI)
        .orderBy("k")
    )


register(
    Query(
        name="s_read_range_skipping",
        build=s_read_range_skipping,
        oracle=f"""
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE o_orderkey BETWEEN {_SKIP_LO} AND {_SKIP_HI}
        ORDER BY k
        """,
        doc=(
            "manifest-stats data skipping on the read path: range-clustered "
            "versioned table, read_range scans only [min,max]-intersecting "
            "files + exact filter — oracled against the plain BETWEEN (S1/S4 "
            "at 100 TB; skip cardinality unit-asserted)"
        ),
        tags=("S1", "S4", "scale"),
    )
)


# --------------------------------------- OPTIMIZE ZORDER BY read path
# Multi-dimensional clustering ON THE FILE LAYOUT (the o_zorder_layout
# entry proves the curve's per-prefix containment; this one runs the
# real thing): a key-clustered versioned table is rewritten along the
# Morton curve over (k, c) by optimize_zorder — equi-depth
# approxQuantile cuts, JVM-side bucket + bit-interleave, no UDFs —
# and then READ through read_range on the SECONDARY dimension c,
# which under plain key clustering cannot skip a single file.  The
# oracle is the plain BETWEEN over the raw table: passing proves the
# z rewrite is layout-only AND the pruned read is exact; the skip
# cardinality itself (≈ F^(1/2) of F files vs all F) is
# unit-asserted in tests/test_zorder.py.
def s_zorder_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch_dir("/tmp/spark_graft_zorder_read", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(
        target, "k", cluster_partitions=16, stats_columns=["k", "c"]
    )
    table.optimize_zorder(spark, ["k", "c"], buckets=32, cluster_partitions=16)
    return table.read_range(spark, "c", 40, 80).orderBy("k")


register(
    Query(
        name="s_zorder_read",
        build=s_zorder_read,
        oracle="""
        SELECT o_orderkey AS k, o_custkey AS c,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE o_custkey BETWEEN 40 AND 80
        ORDER BY k
        """,
        doc=(
            "OPTIMIZE ZORDER BY (k, c): Morton-curve file layout via "
            "equi-depth quantile buckets + bit interleave (no UDFs), then "
            "read_range on the SECONDARY dimension — oracled against the "
            "plain BETWEEN; proves the rewrite is layout-only and the "
            "multi-dim skip is exact (S4/S9+ at 100 TB; skip counts "
            "unit-asserted)"
        ),
        tags=("S4", "S9", "scale", "pruning"),
    )
)


# ------------------------------------------ temporal stats read path
# Timestamps are the dominant predicate dimension of an events table
# at 100 TB, and parquet temporal footer stats USED to be dropped
# (None = always-touched) — read_range on ts scanned every file.
# Temporal stats now canonicalize to epoch-us ints in the manifest
# (TIMESTAMP_MICROS output; the bloom layer's vetted representation),
# so a ts-keyed table prunes time windows like any int key.  The
# entry stages the events fixture keyed ON ts and reads one morning
# window back; the oracle is the plain BETWEEN.  Pruned-MERGE and
# point-lookup behavior on ts keys is pinned in
# tests/test_temporal_stats.py.
def s_time_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..sources.versioned import VersionedParquetTable

    events = load_table(spark, sf_dir, "events")
    target = events.select("event_id", "ts", "user_id", "event_type")
    path = _scratch_dir("/tmp/spark_graft_time_range", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "ts", cluster_partitions=16)
    return table.read_range(
        spark,
        "ts",
        datetime.datetime(2024, 1, 1, 2, 0, 0),
        datetime.datetime(2024, 1, 1, 6, 0, 0),
    ).orderBy("event_id")


register(
    Query(
        name="s_time_range_read",
        build=s_time_range_read,
        oracle="""
        SELECT event_id, ts, user_id, event_type
        FROM events
        WHERE ts BETWEEN TIMESTAMP '2024-01-01 02:00:00'
                     AND TIMESTAMP '2024-01-01 06:00:00'
        ORDER BY event_id
        """,
        doc=(
            "temporal file statistics: ts-keyed versioned table prunes a "
            "time-window read via epoch-us manifest stats (timestamps "
            "formerly had NO footer-stats skipping at all) — oracled "
            "against the plain BETWEEN (S1/S4 at 100 TB; merge pruning on "
            "ts keys unit-asserted)"
        ),
        tags=("S1", "S4", "scale", "pruning"),
    )
)


# ---------------------------------------- predicate-pruned read path
# read_where generalizes read_range/read_eq to ARBITRARY predicates:
# Spark's own parser produces the expression tree, a strict whitelist
# compiles the prunable atoms (AND/OR, col-vs-literal comparisons,
# IN, BETWEEN) into a conservative per-file might-match test over the
# manifest stats, and everything unrecognized degrades to
# might-match — pruning narrows the scan, the exact filter decides.
# The entry's condition deliberately mixes prunable atoms (the k
# disjunction) with an unprunable one (price — no stats recorded), so
# passing proves the mixed-shape path end to end; the same pruner
# narrows delete_where/update_where scans (retention DML), pinned in
# tests/test_predicate_pruning.py with a generated-predicate property.
def s_read_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = _scratch_dir("/tmp/spark_graft_read_where", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    return table.read_where(
        spark, "(k < 2000 OR k >= 100000) AND price > 1000.0"
    ).orderBy("k")


register(
    Query(
        name="s_read_where",
        build=s_read_where,
        oracle="""
        SELECT o_orderkey AS k, o_custkey AS c,
               CAST(o_totalprice AS DOUBLE) AS price
        FROM orders
        WHERE (o_orderkey < 2000 OR o_orderkey >= 100000)
          AND CAST(o_totalprice AS DOUBLE) > 1000.0
        ORDER BY k
        """,
        doc=(
            "predicate-pruned read: read_where compiles the prunable atoms "
            "of an arbitrary SQL condition (parsed by Spark itself) into "
            "manifest-stats file pruning, unprunable atoms enforced by the "
            "exact filter — oracled against the plain WHERE (S1/S4 at "
            "100 TB; property-tested against a generated predicate grammar)"
        ),
        tags=("S1", "S4", "scale", "pruning"),
    )
)


# ------------------------------------ streaming MERGE (pruned sink)
# The reference's daily loop as ONE driver-gated catalog query: a
# file-source stream (AvailableNow) of the staged batch runs through
# foreachBatch into the file-PRUNED MERGE against a range-clustered
# versioned target, and the COMMITTED table is read back — oracled
# against the plain FULL OUTER JOIN.  This is the composition the
# ×100 e2e probe (tools/stress_incremental_e2e.py) stresses with
# crash/replay; here the oracle re-proves its semantics at every SF,
# every round.  Checkpoint + idempotent keyed merge = the
# effectively-once contract (T4, embeddings-pipeline.py:480).
def t_stream_merge_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.registry import load_table
    from ..sources.versioned import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents")
    target_rows = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    batch_rows = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.lit("upd").alias("lang"),
        (F.col("n_chars").cast("long") + 1).alias("n_chars"),
    )

    path = _scratch_dir("/tmp/spark_graft_stream_merge", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target_rows, "doc_id", cluster_partitions=8)

    stage_dir = tempfile.mkdtemp(prefix="stream_merge_src_")
    batch_rows.write.mode("overwrite").parquet(stage_dir)

    def batch_fn(df, _epoch):
        merge_upsert_write_pruned(path, df, "doc_id", vacuum_keep_last=None)

    q = (
        spark.readStream.schema(batch_rows.schema)
        .parquet(stage_dir)
        .writeStream.foreachBatch(batch_fn)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_stream_merge_")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).orderBy("doc_id")


register(
    Query(
        name="t_stream_merge_pruned",
        build=t_stream_merge_pruned,
        oracle="""
        WITH target AS (
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 3 = 0
        ), batch AS (
            SELECT doc_id, 'upd' AS lang, CAST(n_chars AS BIGINT) + 1 AS n_chars
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
               CASE WHEN b.doc_id IS NOT NULL THEN b.lang ELSE t.lang END AS lang,
               CASE WHEN b.doc_id IS NOT NULL THEN b.n_chars ELSE t.n_chars END AS n_chars
        FROM target t FULL OUTER JOIN batch b ON t.doc_id = b.doc_id
        ORDER BY doc_id
        """,
        doc=(
            "streaming MERGE: file-source stream (AvailableNow) → foreachBatch "
            "→ file-pruned MERGE into the range-clustered versioned table → "
            "committed read-back, oracled vs plain FULL OUTER JOIN (T4 + S9 "
            "composed; the x100 crash/replay probe stresses this exact path)"
        ),
        tags=("T4", "S9", "J2", "J3", "streaming", "scale"),
    )
)


# Streaming ingest with MERGE-ON-READ writes: the same stream →
# foreachBatch → pruned MERGE loop, but each micro-batch lands as DV
# deltas + appended images instead of rewritten files — the always-on
# ingest shape for scattered-key feeds (CDC consumers, log upserts) at
# 100 TB.  Shares the copy-on-write stream entry's oracle verbatim:
# the physical write strategy must never leak into results.
def t_stream_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents")
    target_rows = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    batch_rows = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.lit("upd").alias("lang"),
        (F.col("n_chars").cast("long") + 1).alias("n_chars"),
    )
    path = _scratch_dir("/tmp/spark_graft_stream_merge_mor", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target_rows, "doc_id", cluster_partitions=8)
    stage_dir = tempfile.mkdtemp(prefix="stream_merge_mor_src_")
    batch_rows.write.mode("overwrite").parquet(stage_dir)

    def batch_fn(df, _epoch):
        merge_upsert_write_pruned(
            path, df, "doc_id", write_mode="mor", vacuum_keep_last=None
        )

    q = (
        spark.readStream.schema(batch_rows.schema)
        .parquet(stage_dir)
        .writeStream.foreachBatch(batch_fn)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="ckpt_stream_merge_mor_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return table.read(spark).orderBy("doc_id")


register(
    Query(
        name="t_stream_merge_mor",
        build=t_stream_merge_mor,
        oracle="""
        WITH target AS (
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE doc_id % 3 = 0
        ), batch AS (
            SELECT doc_id, 'upd' AS lang, CAST(n_chars AS BIGINT) + 1 AS n_chars
            FROM documents WHERE doc_id % 2 = 0
        )
        SELECT coalesce(t.doc_id, b.doc_id) AS doc_id,
               CASE WHEN b.doc_id IS NOT NULL THEN b.lang ELSE t.lang END AS lang,
               CASE WHEN b.doc_id IS NOT NULL THEN b.n_chars ELSE t.n_chars END AS n_chars
        FROM target t FULL OUTER JOIN batch b ON t.doc_id = b.doc_id
        ORDER BY doc_id
        """,
        doc=(
            "streaming MERGE with merge-on-read writes: stream → foreachBatch "
            "→ MoR pruned MERGE (DV deltas + appended images, touched files "
            "carried) → committed read-back — shares the copy-on-write stream "
            "entry's oracle verbatim, proving the write strategy never leaks "
            "into results (T4 + S9 + deletion vectors composed)"
        ),
        tags=("T4", "S9", "J2", "J3", "streaming", "scale"),
    )
)


# --------------------------------------------- change data feed (CDC)
# The reference consumes row-level CDC from Snowflake table streams on
# the MERGE target (embeddings-pipeline.py:294-352); the engine's
# equivalent is changes_between on the versioned table: a NET diff of
# two committed versions computed from the manifest FILE DIFF — carried
# (untouched) files are never scanned, so a daily CDC export reads the
# touched-file mass, not the 100 TB table.  The entry drives target
# commit → pruned MERGE (updates + inserts + DELETE clause) →
# changes_between(v1, v2) and oracles the emitted change rows against
# their relational definition over the same base slices.
def s_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("price"),
        F.lit("DEL").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(deletes).unionAll(inserts)

    path = _scratch_dir("/tmp/spark_graft_table_changes", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    merge_upsert_write_pruned(
        path, source, "k",
        delete_when=F.col("s.status") == "DEL", vacuum_keep_last=None,
    )
    return table.changes_between(spark, 1, 2).orderBy("k", "_change_type")


register(
    Query(
        name="s_table_changes",
        build=s_table_changes,
        oracle=f"""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderstatus AS status
            FROM orders
        )
        SELECT k, price, status, 'update_preimage' AS _change_type,
               2 AS _commit_version
        FROM target WHERE k % 97 = 1
        UNION ALL
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 2 AS price,
               'UPD' AS status, 'update_postimage', 2
        FROM orders WHERE o_orderkey % 97 = 1
        UNION ALL
        SELECT k, price, status, 'delete', 2
        FROM target WHERE k % 97 = 2
        UNION ALL
        SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
               CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status,
               'insert', 2
        FROM orders WHERE o_orderkey % 997 = 3
        ORDER BY k, _change_type
        """,
        doc=(
            "change data feed between committed versions: net insert/delete/"
            "update_pre+postimage rows from the manifest file DIFF (carried "
            "files never scanned — CDC reads the touched-file mass, not the "
            "table; Snowflake-stream analog, S9/T4 at 100 TB)"
        ),
        tags=("S9", "T4", "scale"),
    )
)


# ----------------------------------------- CDC apply (replication consumer)
# The consumer half of the feed above, end-to-end: primary commits a
# pruned MERGE (updates + inserts + DELETE clause), the NET change feed
# is exported with changes_between, and apply_changes replays it onto a
# REPLICA seeded from the v1 snapshot as ONE file-pruned merge
# (tombstones ride the delete_when clause).  The entry returns the
# REPLICA read-back; the oracle is the PRIMARY's v2 state expressed
# relationally — passing means replica ≡ primary through the CDC pipe,
# the replication invariant, re-proven at every SF every round.  Write
# amplification is bounded by touched-file mass on BOTH tables
# (producer: file-diff export; consumer: pruned apply).
def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_changes, merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("price"),
        F.lit("DEL").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(deletes).unionAll(inserts)

    p_path = _scratch_dir("/tmp/spark_graft_cdc_primary", sf_dir)
    primary = _orders_kps_table(spark, sf_dir, p_path)
    r_path = _scratch_dir("/tmp/spark_graft_cdc_replica", sf_dir)
    replica = _orders_kps_table(spark, sf_dir, r_path)

    merge_upsert_write_pruned(
        p_path, source, "k",
        delete_when=F.col("s.status") == "DEL", vacuum_keep_last=None,
    )
    feed = primary.changes_between(spark, 1, 2)
    apply_changes(r_path, feed, "k", vacuum_keep_last=None)
    return replica.read(spark).orderBy("k")


register(
    Query(
        name="s_cdc_apply",
        build=s_cdc_apply,
        oracle=f"""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderstatus AS status
            FROM orders
        )
        SELECT k,
               CASE WHEN k % 97 = 1 THEN price * 2 ELSE price END AS price,
               CASE WHEN k % 97 = 1 THEN 'UPD' ELSE status END AS status
        FROM target WHERE k % 97 <> 2
        UNION ALL
        SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
               CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status
        FROM orders WHERE o_orderkey % 997 = 3
        ORDER BY k
        """,
        doc=(
            "CDC replication round trip: primary pruned MERGE → "
            "changes_between file-diff export → apply_changes replays the net "
            "feed onto a replica as ONE file-pruned merge (deletes via "
            "tombstone clause) — replica read-back oracled against the "
            "primary's v2 state (APPLY CHANGES INTO analog, S9/T4 at 100 TB)"
        ),
        tags=("S9", "T4", "scale"),
    )
)


# ------------------------------------------------------- time travel
# Old versions of the versioned table stay readable until vacuum —
# Delta's VERSION AS OF (the reference gets the same from Snowflake
# Time Travel, DATA_RETENTION_TIME_IN_DAYS).  The entry commits v1,
# runs a pruned MERGE to v2 (updates + deletes + inserts), then reads
# v1 BACK — the oracle is the plain v1 state, so passing proves the
# snapshot is untouched by the later commit (immutable version dirs +
# pointer isolation; timestamp-based read_as_of and the history() log
# are unit-covered, wall time being non-deterministic).
def s_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    source = (
        orders.filter(F.col("o_orderkey") % 97 == 1)
        .select(
            F.col("o_orderkey").alias("k"),
            (F.col("o_totalprice").cast("double") * 2).alias("price"),
            F.lit("UPD").alias("status"),
        )
        .unionAll(
            orders.filter(F.col("o_orderkey") % 97 == 2).select(
                F.col("o_orderkey").alias("k"),
                F.lit(0.0).alias("price"),
                F.lit("DEL").alias("status"),
            )
        )
    )
    path = _scratch_dir("/tmp/spark_graft_time_travel", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    merge_upsert_write_pruned(
        path, source, "k",
        delete_when=F.col("s.status") == "DEL", vacuum_keep_last=None,
    )
    return table.read_version(spark, 1).orderBy("k")


register(
    Query(
        name="s_time_travel",
        build=s_time_travel,
        oracle="""
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
               o_orderstatus AS status
        FROM orders
        ORDER BY k
        """,
        doc=(
            "time travel: VERSION AS OF read of the pre-merge snapshot "
            "after a pruned MERGE committed updates+deletes on top — "
            "oracled against the plain v1 state (immutable version dirs, "
            "pointer isolation; Snowflake Time Travel analog, S4/E3)"
        ),
        tags=("S4", "E3", "scale"),
    )
)


# -------------------------------------- streaming change data feed
# The always-on consumer half of the CDC story: a Structured Streaming
# SOURCE whose offsets are the table's commit versions and whose rows
# are the per-commit net changes (Delta readChangeFeed-in-readStream
# analog; the reference's Snowflake table stream IS this shape).  The
# entry drives the same target-commit → pruned-MERGE as
# s_table_changes, then drains the stream (AvailableNow) from
# startingVersion=1 and returns the drained feed — oracled with the
# SAME relational SQL as the batch feed, proving stream ≡ batch CDF.
# Each micro-batch step reads only its commit's manifest file DIFF
# (carried files never opened), so per-step read amplification is the
# touched-file mass, never table size.
def t_stream_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned_stream import read_changes_stream

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("price"),
        F.lit("DEL").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(deletes).unionAll(inserts)

    path = _scratch_dir("/tmp/spark_graft_stream_cdf", sf_dir)
    _orders_kps_table(spark, sf_dir, path)
    merge_upsert_write_pruned(
        path, source, "k",
        delete_when=F.col("s.status") == "DEL", vacuum_keep_last=None,
    )

    import os
    import tempfile

    qname = f"cdf_feed_{os.getpid()}"
    q = (
        read_changes_stream(spark, path, starting_version=1)
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_cdf_feed_")
        )
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("k", "_change_type")


register(
    Query(
        name="t_stream_table_changes",
        build=t_stream_table_changes,
        oracle=f"""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderstatus AS status
            FROM orders
        )
        SELECT k, price, status, 'update_preimage' AS _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM target WHERE k % 97 = 1
        UNION ALL
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 2 AS price,
               'UPD' AS status, 'update_postimage', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 97 = 1
        UNION ALL
        SELECT k, price, status, 'delete', CAST(2 AS BIGINT)
        FROM target WHERE k % 97 = 2
        UNION ALL
        SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
               CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status,
               'insert', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 997 = 3
        ORDER BY k, _change_type
        """,
        doc=(
            "streaming change data feed: custom Structured Streaming source "
            "whose offsets are commit versions, each micro-batch step reading "
            "only its commit's manifest file diff — drained feed oracled with "
            "the batch CDF's relational SQL (stream ≡ batch; Snowflake "
            "table-stream / Delta readChangeFeed analog, T4/S9 at 100 TB)"
        ),
        tags=("T4", "S9", "streaming", "scale"),
    )
)


# ------------------------------------------------------------ restore
# RESTORE TABLE ... TO VERSION AS OF as a new commit: zero-copy (the
# restore manifest carries the target version's files by reference —
# one manifest write regardless of table size), history-preserving
# (the rolled-back commits stay time-travelable until vacuum), and
# CDC-visible (the feed emits the net UNDO diff, so replicas converge
# through the same pipe).  The entry seeds v1, pruned-merges a "bad"
# v2, restores to v1, and returns the LIVE read — the oracle is the
# plain v1 state, proving the rollback is exact.
def s_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned

    orders = load_table(spark, sf_dir, "orders")
    bad = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.lit(-1.0).alias("price"),
        F.lit("BAD").alias("status"),
    ).unionAll(
        orders.filter(F.col("o_orderkey") % 997 == 3).select(
            (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
            F.lit(-2.0).alias("price"),
            F.lit("BAD-INS").alias("status"),
        )
    )
    path = _scratch_dir("/tmp/spark_graft_restore", sf_dir)
    table = _orders_kps_table(spark, sf_dir, path)
    merge_upsert_write_pruned(path, bad, "k", vacuum_keep_last=None)
    table.restore(spark, 1)
    return table.read(spark).orderBy("k")


register(
    Query(
        name="s_restore",
        build=s_restore,
        oracle="""
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
               o_orderstatus AS status
        FROM orders
        ORDER BY k
        """,
        doc=(
            "RESTORE to a prior version as a new zero-copy commit (manifest "
            "carries the target's files by reference — one manifest write at "
            "any table size); live read-back oracled against the pre-bad-merge "
            "state; rollback diff rides the CDC feed (Delta RESTORE analog, "
            "S4/E3/S9)"
        ),
        tags=("S4", "E3", "S9", "scale"),
    )
)


# ------------------------------- streaming CDC replication (composed)
# The full always-on replication pipe as ONE oracled query: primary
# pruned MERGE → STREAMING change feed (commit-version offsets) →
# foreachBatch net-to-last-change → apply_changes onto the replica as
# one file-pruned merge — replica read-back oracled against the
# primary's post-merge state (the same SQL as the batch s_cdc_apply
# entry, proving the streaming pipe ≡ the batch pipe ≡ the primary).
def t_stream_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import (
        merge_upsert_write_pruned,
        sync_replica_stream,
    )

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.lit(0.0).alias("price"),
        F.lit("DEL").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    source = updates.unionAll(deletes).unionAll(inserts)

    p_path = _scratch_dir("/tmp/spark_graft_scdc_primary", sf_dir)
    primary = _orders_kps_table(spark, sf_dir, p_path)
    r_path = _scratch_dir("/tmp/spark_graft_scdc_replica", sf_dir)
    replica = _orders_kps_table(
        spark, sf_dir, r_path,
        app_metadata={"cdc_last_applied_version": 1},
    )

    merge_upsert_write_pruned(
        p_path, source, "k",
        delete_when=F.col("s.status") == "DEL", vacuum_keep_last=None,
    )

    import tempfile

    q = sync_replica_stream(
        spark, p_path, r_path, "k",
        checkpoint_dir=tempfile.mkdtemp(prefix="ckpt_scdc_"),
        vacuum_keep_last=None,
    )
    q.awaitTermination()
    return replica.read(spark).orderBy("k")


register(
    Query(
        name="t_stream_cdc_replication",
        build=t_stream_cdc_replication,
        oracle=f"""
        WITH target AS (
            SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
                   o_orderstatus AS status
            FROM orders
        )
        SELECT k,
               CASE WHEN k % 97 = 1 THEN price * 2 ELSE price END AS price,
               CASE WHEN k % 97 = 1 THEN 'UPD' ELSE status END AS status
        FROM target WHERE k % 97 <> 2
        UNION ALL
        SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
               CAST(o_totalprice AS DOUBLE) + 1.0 AS price, 'INS' AS status
        FROM orders WHERE o_orderkey % 997 = 3
        ORDER BY k
        """,
        doc=(
            "streaming CDC replication end-to-end: primary pruned MERGE → "
            "streaming change feed → foreachBatch net-to-last-change → "
            "apply_changes pruned merge onto the replica — replica read-back "
            "oracled against the primary's post-merge state (stream pipe ≡ "
            "batch pipe ≡ primary; T4/S9 at 100 TB)"
        ),
        tags=("T4", "S9", "streaming", "scale"),
    )
)


# ---------------------------------------- z-order decay auto-repair
# optimize_zorder's layout DECAYS as incremental merges append
# key-clustered files; maintain() (round 10) measures the unflagged
# row fraction and re-zorders ONLY the decayed portion (the original
# z files carry by reference — repair cost is O(decayed bytes)).
# The entry builds the z layout, decays it with a pruned-merge insert
# batch equal to half the table, lets maintain() repair, and reads a
# SECONDARY-dimension window back — the oracle is the plain BETWEEN
# over base ∪ inserts, proving the repair is layout-only and exact.
# The scoped-carry and skip-rate mechanics are unit-asserted in
# tests/test_zorder_decay.py.
def s_zorder_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    inserts = orders.select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        F.col("o_custkey").alias("c"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
    )
    path = _scratch_dir("/tmp/spark_graft_zorder_maintain", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(
        target, "k", cluster_partitions=16, stats_columns=["k", "c"]
    )
    table.optimize_zorder(spark, ["k", "c"], buckets=32, cluster_partitions=16)
    merge_upsert_write_pruned(path, inserts, "k", vacuum_keep_last=None)
    m = table.maintain(
        spark, min_file_bytes=1, max_small_files=10**9
    )
    assert any(a["action"] == "rezorder" for a in m["actions"]), m
    return table.read_range(spark, "c", 40, 80).orderBy("k")


register(
    Query(
        name="s_zorder_maintain",
        build=s_zorder_maintain,
        oracle=f"""
        SELECT * FROM (
            SELECT o_orderkey AS k, o_custkey AS c,
                   CAST(o_totalprice AS DOUBLE) AS price
            FROM orders
            UNION ALL
            SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
                   o_custkey AS c,
                   CAST(o_totalprice AS DOUBLE) + 1.0 AS price
            FROM orders
        )
        WHERE c BETWEEN 40 AND 80
        ORDER BY k
        """,
        doc=(
            "z-order decay auto-repair: incremental merges decay the Morton "
            "layout, maintain() re-zorders ONLY the decayed file mass (the "
            "original z files carry by reference) and the secondary-dimension "
            "read stays exact — oracled against the plain BETWEEN over "
            "base ∪ inserts (S4/S9+ at 100 TB; scoped-carry unit-asserted)"
        ),
        tags=("S4", "S9", "scale", "pruning"),
    )
)


# ------------------------------- streaming CDF across schema evolution
# Round 10: the stream survives ADD-COLUMN commits.  The entry stages
# a (k, price) table, then ONE pruned MERGE both evolves the schema
# (adds "status") and changes rows; the drained stream (created after
# the evolution — the catch-up direction) emits the evolved schema
# with the pre-image side NULL-backfilled, matching the batch rule.
# The live-projection direction (a running stream holding the
# pre-add schema) is planner-level and pinned in tests/test_streaming.
def t_stream_evolved_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert_write_pruned
    from ..sources.versioned import VersionedParquetTable
    from ..sources.versioned_stream import read_changes_stream

    orders = load_table(spark, sf_dir, "orders")
    target = orders.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    updates = orders.filter(F.col("o_orderkey") % 97 == 1).select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("double") * 2).alias("price"),
        F.lit("UPD").alias("status"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 997 == 3).select(
        (F.col("o_orderkey") + _PRUNED_INS_OFFSET).alias("k"),
        (F.col("o_totalprice").cast("double") + 1.0).alias("price"),
        F.lit("INS").alias("status"),
    )
    path = _scratch_dir("/tmp/spark_graft_stream_evolved", sf_dir)
    table = VersionedParquetTable(path)
    table.commit_with_manifest(target, "k", cluster_partitions=16)
    merge_upsert_write_pruned(
        path, updates.unionAll(inserts), "k",
        schema_evolution=True, vacuum_keep_last=None,
    )

    import os

    qname = f"cdf_evolved_{os.getpid()}"
    # checkpoint lives under the same pid-scoped scratch convention as
    # the table itself, so dead runs' checkpoints are reclaimed with
    # the hour-grace GC instead of leaking a mkdtemp per catalog run
    ckpt = _scratch_dir("/tmp/spark_graft_stream_evolved_ckpt", sf_dir)
    q = (
        read_changes_stream(spark, path, starting_version=1)
        .writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("k", "_change_type")


register(
    Query(
        name="t_stream_evolved_changes",
        build=t_stream_evolved_changes,
        oracle=f"""
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price,
               CAST(NULL AS VARCHAR) AS status,
               'update_preimage' AS _change_type,
               CAST(2 AS BIGINT) AS _commit_version
        FROM orders WHERE o_orderkey % 97 = 1
        UNION ALL
        SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) * 2 AS price,
               'UPD' AS status, 'update_postimage', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 97 = 1
        UNION ALL
        SELECT o_orderkey + {_PRUNED_INS_OFFSET} AS k,
               CAST(o_totalprice AS DOUBLE) + 1.0 AS price,
               'INS' AS status, 'insert', CAST(2 AS BIGINT)
        FROM orders WHERE o_orderkey % 997 = 3
        ORDER BY k, _change_type
        """,
        doc=(
            "streaming CDF across an ADD-COLUMN schema-evolution commit: the "
            "drained stream emits the evolved schema with the pre-image side "
            "NULL-backfilled (the batch rule) — oracled relationally; the "
            "live-projection direction is planner-unit-pinned (T4/S9 r10)"
        ),
        tags=("T4", "S9", "streaming", "scale"),
    )
)
