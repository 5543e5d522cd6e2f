"""Incremental runtime — SURVEY §2.8 (T1-T8).

The reference is a batch-incremental micro-pipeline: per-key watermarks
hand-rolled as a JSON map on GCS (embeddings-pipeline.py:106-130,
374-395), an incremental predicate (`timestamp > last_ts`, :149-158),
and commit ordering that writes state only after the idempotent MERGE
succeeds (:480) — at-least-once delivery + idempotent sink =
effectively-once.

Spark-first translation:

* ``WatermarkStore`` — the same `{key: iso_timestamp}` JSON map, local
  fs (driver-side; on a cluster this is one tiny object on any shared
  store — never a scale concern).
* ``IncrementalPipeline`` — one batch run: plan an incremental scan
  from the stored watermarks (P4/T2), transform, MERGE into the target
  (T4), then — only after sink success — advance watermarks from the
  observed per-key max event time (A2/T3 via ``groupBy().max()``,
  which Spark executes as partial/final agg, the distributed form of
  the reference's running max).
* Failure semantics: any exception before the state write leaves the
  watermark untouched → next run replays the window; the MERGE key
  makes the replay idempotent (T4/T8).  E2: corrupt/absent state ⇒
  full-history fallback date, mirroring :126-130.

The structured-streaming form of the same pipeline lives in
``structured.py`` (checkpoint = watermark store, foreachBatch = merge).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class WatermarkStore:
    """Per-key watermark state: ``{key: iso_timestamp}`` JSON file
    (T1/S3/S6).  Reads degrade to empty on any failure (E2,
    embeddings-pipeline.py:128-130); writes are atomic
    (tmp + rename — the Spark-commit-protocol pattern, E3)."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict[str, datetime]:
        try:
            with open(self.path) as f:
                raw = json.load(f)
            return {
                k: datetime.fromisoformat(v.replace("Z", "+00:00")).replace(tzinfo=None)
                for k, v in raw.items()
            }
        except Exception:
            return {}  # E2: degrade to full reprocess

    def save(self, watermarks: dict[str, datetime]) -> None:
        payload = {k: v.isoformat() for k, v in watermarks.items()}
        d = os.path.dirname(os.path.abspath(self.path)) or "."
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f, sort_keys=True)
        os.replace(tmp, self.path)


class IncrementalPipeline:
    """One incremental batch run over an event-time source.

    Parameters
    ----------
    key_col / ts_col : partition key and event-time columns
        (reference: ``source`` / ``timestamp``).
    transform : DataFrame -> DataFrame applied to the incremental slice.
    sink : callable receiving the transformed slice; must be idempotent
        under replay (e.g. ``merge_upsert_write_pruned``).  State advances only
        if it returns without raising (T4 ordering).
    fallback : first-run lower bound (inclusive ``>=``), reference's
        ``embeddings_fallback_date`` (T2, CONFIGURATION.md:50).
    """

    # Above this many watermark keys the OR-chain predicate is replaced
    # by a broadcast join (Catalyst planning cost grows per OR branch;
    # the reference never exceeds tens of keys, but a 100 TB corpus
    # with per-document or per-shard keys easily reaches 10⁵+).
    JOIN_PATH_MIN_KEYS = 64

    def __init__(
        self,
        store: WatermarkStore,
        *,
        key_col: str,
        ts_col: str,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        sink: Callable[[DataFrame], None],
        fallback: datetime | None = None,
        partition_col: str | None = None,
    ):
        self.store = store
        self.key_col = key_col
        self.ts_col = ts_col
        self.transform = transform or (lambda df: df)
        self.sink = sink
        self.fallback = fallback
        # Name of a DATE-typed partition column (the lake layout's
        # day=... directory key).  Catalyst cannot derive `day >= X`
        # from `ts > X` on its own — the relationship between the two
        # columns is data-layout knowledge — so when set, the planner
        # adds the coarse partition conjunct explicitly and directory
        # pruning kicks in before any file IO.
        self.partition_col = partition_col

    def plan_incremental_scan(self, source: DataFrame) -> DataFrame:
        """T2/P4: one predicate per key — ``ts > wm(key)`` for known
        keys, ``ts >= fallback`` (or full history) for new keys.  The
        whole predicate is a literal OR-of-ANDs, so Catalyst pushes it
        into the parquet scan (row-group pruning); at 100 TB with
        time-partitioned layout this becomes partition pruning.

        The literal OR-chain is ideal at the reference's scale (tens of
        sources: full pushdown, zero extra operators) but Catalyst
        planning cost grows with the number of branches — above
        ``JOIN_PATH_MIN_KEYS`` keys the plan switches to a broadcast
        join against the watermark table (see ``_join_scan``)."""
        wms = self.store.load()
        source = self._with_partition_bound(source, wms)
        if not wms:
            if self.fallback is not None:
                return source.filter(F.col(self.ts_col) >= F.lit(self.fallback))
            return source
        if len(wms) >= self.JOIN_PATH_MIN_KEYS:
            return self._join_scan(source, wms)
        known_key, known_wm = zip(*sorted(wms.items()))
        # per-key strict > watermark; unseen keys get fallback/full.
        per_key = [
            (F.col(self.key_col) == F.lit(k)) & (F.col(self.ts_col) > F.lit(w))
            for k, w in zip(known_key, known_wm)
        ]
        unseen = ~F.col(self.key_col).isin(*known_key)
        if self.fallback is not None:
            unseen = unseen & (F.col(self.ts_col) >= F.lit(self.fallback))
        pred = unseen
        for p in per_key:
            pred = pred | p
        return source.filter(pred)

    def _with_partition_bound(
        self, source: DataFrame, wms: dict[str, datetime]
    ) -> DataFrame:
        """T2 at lake scale: add ``partition_col >= date(lower bound)``
        so the scan prunes whole day directories (PartitionFilters in
        the physical plan) before row-group pruning even starts.  The
        bound is the earliest timestamp any key might still deliver:
        min over known watermarks, and the fallback when unseen keys
        are admitted (no fallback + unseen keys ⇒ full history ⇒ no
        partition bound is sound unless every key is known)."""
        if self.partition_col is None:
            return source
        candidates = list(wms.values())
        if self.fallback is not None:
            candidates.append(self.fallback)
        elif not wms:
            return source  # full-history scan: nothing to prune
        else:
            # unseen keys need full history — only safe to prune when
            # the fallback bounds them; otherwise skip the conjunct.
            return source
        bound = min(candidates).date()
        return source.filter(F.col(self.partition_col) >= F.lit(bound))

    def _join_scan(self, source: DataFrame, wms: dict[str, datetime]) -> DataFrame:
        """High-key-cardinality incremental scan: broadcast the
        watermark map as a two-column table and filter post-join.

        The per-key predicate can no longer be pushed into the scan,
        so a coarse GLOBAL lower bound — ``ts > min(watermarks)`` (or
        ``>= fallback`` if unseen keys are admitted further back) — is
        pushed instead: at 100 TB with time-partitioned layout that
        single conjunct still prunes the bulk of history, and the
        broadcast join refines per key without a shuffle."""
        spark = source.sparkSession
        wm_df = spark.createDataFrame(
            sorted(wms.items()), schema="__wm_key string, __wm_ts timestamp"
        )
        coarse = min(wms.values())
        if self.fallback is not None:
            coarse = min(coarse, self.fallback)
            source = source.filter(F.col(self.ts_col) >= F.lit(coarse))
        else:
            # unseen keys need full history — no coarse bound possible.
            pass
        joined = source.join(
            F.broadcast(wm_df),
            F.col(self.key_col).cast("string") == F.col("__wm_key"),
            "left",
        )
        unseen = F.col("__wm_ts").isNull()
        if self.fallback is not None:
            unseen = unseen & (F.col(self.ts_col) >= F.lit(self.fallback))
        return joined.filter(unseen | (F.col(self.ts_col) > F.col("__wm_ts"))).drop(
            "__wm_key", "__wm_ts"
        )

    def observed_watermarks(
        self, increment: DataFrame
    ) -> tuple[dict[str, datetime], int]:
        """T3: max event time per key in this slice (A2 as partial/final
        agg; ≤1 row per key reaches the driver), and the slice's row
        count from the same aggregate (per-key counts summed on the
        driver)."""
        rows = (
            increment.groupBy(self.key_col)
            .agg(F.max(self.ts_col).alias("wm"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        wms = {str(r[self.key_col]): r["wm"] for r in rows if r["wm"] is not None}
        return wms, sum(r["n"] for r in rows)

    def run(self, source: DataFrame) -> dict[str, int]:
        """Execute one batch: scan → transform → sink → advance state.
        Returns a small metrics dict (A4 analog of the reference's
        per-run metrics, embeddings-pipeline.py:397-432)."""
        # Persist the slice for the run's duration: the watermark agg
        # (which also counts the rows) and the sink must see the SAME
        # scan — on a source that changes mid-run, re-evaluation could
        # advance state past rows the sink never received (rows
        # silently skipped on the next run).
        increment = self.plan_incremental_scan(source).persist()
        try:
            new_wms, n = self.observed_watermarks(increment)
            if n > 0:  # P8 empty-input guard
                self.sink(self.transform(increment))
            # T4: state advances only after the sink committed.
            if new_wms:
                merged = self.store.load()
                merged.update(new_wms)
                self.store.save(merged)
        finally:
            increment.unpersist()
        return {"records_processed": n, "keys_advanced": len(new_wms)}
