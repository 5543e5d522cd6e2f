"""Versioned parquet table with pointer-file commits (S4/S6/E3).

The reference stages MERGE output on an object store before loading
(embeddings-pipeline.py:248-255, GCS staged parquet).  Object-store
semantics make "atomic directory rename" a non-operation — renames are
copy+delete and a crash mid-swap loses the live table.  The durable
pattern (what Delta/Iceberg do underneath) is:

* every commit writes a brand-new immutable version directory
  ``v00000001/``, ``v00000002/``, …
* a single tiny pointer file ``_CURRENT`` names the live version;
  readers resolve the pointer, then read only that directory
* the pointer is replaced LAST, via one atomic primitive (POSIX
  ``rename(2)`` of a same-directory temp file here; a single-key PUT
  on an object store) — a crash anywhere before the pointer swap
  leaves the previous version live and readable, and the orphaned
  half-written directory is invisible to readers
* old versions stay on disk until ``vacuum`` — time-travel for free,
  and concurrent readers of the previous version never see files
  disappear mid-scan

This module is the local-filesystem implementation of that contract.
The commit-critical primitives (lock, pointer publish, manifest
write) live behind a pluggable protocol seam
(:mod:`.commit_protocol`): the default posix protocol uses
``O_EXCL`` + ``rename(2)``; the ``"object-store"`` protocol is
RENAME-FREE (conditional-create per-version pointer objects — the
create is the CAS — LIST-max resolution, conditional-delete lock
steal), mapping 1:1 onto S3/GCS conditional operations, so the
object-store-safety claim is executable, not prose.  Non-local URIs
are still rejected loudly: on a real cluster, either swap this class
for Delta/Iceberg (same commit semantics, jar-provided) or back the
protocol with remote calls.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "_CURRENT"
_COMMITTED = "_COMMITTED"
_MANIFEST = "_MANIFEST.json"

# DML DV work (delta + touched files' prior DV mass) at or under this
# takes the driver dict path (one bounded collect + a driver parquet
# write — fewer Spark jobs on a tiny batch); above it, construction is
# executor-side and no position list ever reaches the driver
_DV_INLINE_MAX = 100_000
_LOCK = "_COMMIT_LOCK"
_VERSION_RE = re.compile(r"^v(\d{8})$")
# content-addressed staging area of the prepare/publish commit split:
# data files written UNDER NO LOCK into _staged/p-<token>/ and
# referenced from manifests in place — version-independent placement,
# nothing moves at publish time (rename-free by construction)
_STAGED = "_staged"
# written INTO a staging dir when a manifest referencing it publishes:
# lets vacuum's under-lock staged pass skip published dirs with one
# stat instead of membership-testing every file they hold (with
# content-addressed placement, MOST of a table's data lives in
# published staging dirs — testing them under the lock would be an
# O(table files) hold).  Absent on pre-marker tables; vacuum
# self-heals by marking any referenced-but-unmarked dir it meets.
_STAGED_PUBLISHED = "_PUBLISHED"
_REMOTE_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


class ConcurrentCommitError(RuntimeError):
    """A second writer attempted to commit while another commit was in
    flight.  Mirrors the reference's ``max_active_runs=1`` run
    serialization (T7, embeddings-pipeline.py:92): overlapping writers
    are a configuration error and must fail loudly, not interleave."""


class SnapshotConflictError(ConcurrentCommitError):
    """Optimistic-concurrency check failed: the table advanced past the
    snapshot a read-modify-write was computed against.

    The commit lock serializes the POINTER SWAP, but a MERGE reads the
    live file set, computes outside the lock, and only then commits —
    if another writer committed in between, the carried file references
    describe a stale snapshot and publishing them would silently drop
    the interleaved writer's rows (a classic lost update; Delta raises
    ``ConcurrentModificationException`` from the same log-version CAS).
    Callers pass ``expected_base_version`` to make the commit a
    compare-and-swap; on conflict, re-read and recompute (the pruned
    MERGE does this automatically, bounded by ``conflict_retries``)."""

    def __init__(self, expected, actual):
        super().__init__(
            f"snapshot conflict: commit computed against version "
            f"{expected!r} but the table is now at {actual!r}; "
            "re-read and recompute"
        )
        self.expected = expected
        self.actual = actual


class StalePreparedError(ConcurrentCommitError):
    """A prepared token was published after the staged-GC grace window
    (or after vacuum already reclaimed its staging directory).
    Publishing it would commit a manifest referencing files the
    staged sweep is entitled to delete — re-run ``prepare_commit``
    against the live head instead.  Checked under the commit lock, the
    same lock vacuum's sweep holds, so the fence cannot race."""


class _SaltedBloomRefs:
    """Membership-only stand-in for vacuum's ``referenced`` set on
    very large tables.  An exact ``set[str]`` of every kept relpath is
    O(~100 B x kept files) of DRIVER memory — ~10 GB at 10^8 files,
    the last driver-side scale bound in the engine.  This Bloom filter
    holds the same membership answer in ~1.7 bytes/entry (10^8 files
    -> ~170 MB; 10^10 -> fits a big driver), with the ONE-SIDED error
    vacuum can tolerate:

    * false NEGATIVES are impossible — a path that was ``add``-ed
      always tests positive, so a file referenced by any kept manifest
      is NEVER deleted;
    * false POSITIVES over-retain — a dead file survives this run with
      probability ~fp.  The filter is salted PER VACUUM RUN
      (``os.urandom``), so consecutive runs err on independent ~fp
      subsets: a dead file's expected lifetime is ~1/(1-fp) ~ 1.01
      vacuums, not forever.

    Same one-sided-error direction as Delta's VACUUM parallel listing
    optimizations: reclamation may be late, never wrong."""

    _BITS_PER_ENTRY = 14  # k=9 optimal -> fp ~ 0.1-0.4% measured
    _HASHES = 9

    def __init__(self, expected_entries: int):
        n_bits = max(1024, int(expected_entries) * self._BITS_PER_ENTRY)
        self._n_bytes = (n_bits + 7) // 8
        # bytearray, not numpy: C-level scalar |= is ~15x faster than
        # numpy scalar __setitem__ in the per-path hot loop (~6 us/add
        # measured vs ~70 us), and the filter is a flat bitmap anyway
        self._bits = bytearray(self._n_bytes)
        self._n_bits = self._n_bytes * 8
        # blake2b, not tuple-hash tricks: h1/h2 must be INDEPENDENT
        # for double hashing (correlated halves measured 16x the
        # design fp rate); keyed blake2b gives the per-run salt for
        # free
        self._salt = os.urandom(8)

    def _hashes(self, item: str):
        import hashlib

        d = hashlib.blake2b(
            item.encode("utf-8"), digest_size=16, salt=self._salt
        ).digest()
        return (
            int.from_bytes(d[:8], "little"),
            int.from_bytes(d[8:], "little") | 1,  # odd -> full period
        )

    def add(self, item: str) -> None:
        h1, h2 = self._hashes(item)
        bits, n = self._bits, self._n_bits
        for i in range(self._HASHES):
            ix = (h1 + i * h2) % n
            bits[ix >> 3] |= 1 << (ix & 7)

    def update(self, items) -> None:
        for item in items:
            self.add(item)

    def __contains__(self, item: str) -> bool:
        h1, h2 = self._hashes(item)
        bits, n = self._bits, self._n_bits
        for i in range(self._HASHES):
            ix = (h1 + i * h2) % n
            if not bits[ix >> 3] & (1 << (ix & 7)):
                return False
        return True


class ConstraintViolationError(RuntimeError):
    """A table CHECK constraint rejected a commit.  Nothing was
    published — the half-written version directory is an orphan above
    the pointer, reclaimed by the next commit's reconcile or vacuum."""

    def __init__(self, name: str, expr: str, n_violations: int):
        super().__init__(
            f"constraint {name!r} ({expr}) violated by {n_violations} "
            "row(s); commit aborted, nothing published"
        )
        self.name = name
        self.expr = expr
        self.n_violations = n_violations


# sentinel: "no CAS requested" (None is a real value — the empty table)
_NO_CAS = object()


def _pid_alive(pid: int) -> bool:
    """Is `pid` a live process on this host?  (The table contract is
    local-filesystem, so the lock holder is by definition local.)"""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def _check_local(path: str) -> str:
    if _REMOTE_RE.match(path) and not path.startswith("file://"):
        raise ValueError(
            f"VersionedParquetTable commits via POSIX rename and only "
            f"supports local paths; got {path!r}. On HDFS/S3/GCS use a "
            f"table format with the same pointer-commit contract "
            f"(Delta Lake / Iceberg MERGE INTO)."
        )
    return path.removeprefix("file://")


def _stat_value(v):
    """Normalize a parquet footer min/max into a JSON-serializable,
    order-preserving Python value, or None when the type isn't safely
    comparable across the footer/Spark boundary (falls back to
    no-stats = always-touched, which is conservative).

    TEMPORAL stats canonicalize to EPOCH-MICROSECOND ints — the same
    representation ``_bloom_canon`` uses (and for the same reason:
    stringification is not a stable temporal form).  The manifest
    schema tells every consumer whether an int stat means a count or
    an instant; probe values canonicalize through :func:`_stat_canon`
    and values flowing BACK into Spark (range-join frames, band
    literals) restore through :func:`_stat_restore`.  Requires the
    writer to emit TIMESTAMP_MICROS (session.py sets it): legacy INT96
    pages carry no footer min/max at all, which is why timestamps had
    NO skipping before this existed."""
    import datetime as _dt

    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, bool):  # bool before int: not a useful prune key
        return None
    if isinstance(v, _dt.datetime):
        import calendar

        if v.tzinfo is not None:
            off = v.utcoffset()
            v = v.replace(tzinfo=None) - off
        # naive footer stats are UTC wall: parquet stores the
        # UTC-normalized epoch (isAdjustedToUTC), so timegm — not the
        # system-local mktime the PROBE side uses for Spark-collected
        # naive values (_to_epoch_us matches PySpark's fromInternal)
        return (
            calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
        )
    if isinstance(v, _dt.date):
        import calendar

        return calendar.timegm(v.timetuple()) * 1_000_000
    if isinstance(v, (int, float, str)):
        return v
    return None


def _stat_canon(v, data_type=None):
    """Probe value → the comparison space of manifest stats: temporals
    to epoch-microseconds, everything else unchanged.

    The conversion rule follows the COLUMN TYPE when the caller can
    supply it: TimestampType (instant semantics) goes through the
    bloom layer's vetted :func:`_to_epoch_us` — naive datetimes
    localize system-local, matching PySpark's own collect semantics —
    while TimestampNTZType (wall semantics) converts the naive wall
    value UNSHIFTED, matching what ``_stat_value`` records from a
    not-adjusted-to-UTC footer (``timegm``).  Without the type the
    instant rule applies (identical on a UTC host; the reason every
    pruning call site passes the type)."""
    import datetime as _dt

    def _is_temporal(x):
        if isinstance(x, (_dt.datetime, _dt.date)):
            return True
        try:
            import numpy as np

            return isinstance(x, np.datetime64)
        except ImportError:  # pragma: no cover
            return False

    if not _is_temporal(v):
        return v
    from pyspark.sql.types import TimestampNTZType

    if isinstance(data_type, TimestampNTZType):
        # wall micros, no zone shift — computed WITHOUT pandas:
        # pd.Timestamp overflows outside ~1677-2262 (ns epoch range),
        # and sentinel probes like datetime.max are legitimate bounds
        if isinstance(v, _dt.datetime):
            import calendar

            if v.tzinfo is not None:
                v = v.replace(tzinfo=None)
            return (
                calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
            )
        if isinstance(v, _dt.date):
            import calendar

            return calendar.timegm(v.timetuple()) * 1_000_000
        try:  # np.datetime64 scalars: pandas is the only converter
            import pandas as pd

            ts = pd.Timestamp(v)
            if ts.tzinfo is not None:
                ts = ts.tz_localize(None)
            return ts.value // 1000
        except (OverflowError, ValueError):
            return v  # unconvertible probe → callers' TypeError keep
    try:
        return _to_epoch_us(v)
    except (OverflowError, ValueError, OSError):
        # out-of-range instant probe: return it unconverted — every
        # pruning comparison then TypeErrors against int stats and
        # degrades to the conservative might-match keep
        return v


def _schema_field_type(man: dict, logical_name: str):
    """The Spark DataType of a manifest schema's LOGICAL field, or
    None when absent — the type context :func:`_stat_canon` uses to
    pick instant vs wall temporal conversion."""
    try:
        from pyspark.sql.types import StructType

        return StructType.fromJson(man["schema"])[logical_name].dataType
    except Exception:
        return None


def _stat_restore(v, data_type):
    """Manifest stat → a typed Python value Spark's ``toInternal``
    round-trips exactly (the inverse of :func:`_stat_canon`'s probe
    rule): epoch-us ints become system-local naive datetimes for
    TimestampType (PySpark ``fromInternal`` semantics) and calendar
    dates for DateType; every other type passes through."""
    import datetime as _dt

    from pyspark.sql.types import DateType, TimestampType, TimestampNTZType

    if v is None:
        return None
    if isinstance(data_type, TimestampType):
        # AWARE UTC, not system-local naive: a naive restore is
        # ambiguous in the DST fall-back hour (time.mktime may pick
        # the other fold, shifting a range bound by an hour on a
        # non-UTC host); PySpark's toInternal converts aware values
        # through utctimetuple, which is exact for every instant
        return _dt.datetime.fromtimestamp(
            v // 1_000_000, tz=_dt.timezone.utc
        ) + _dt.timedelta(microseconds=v % 1_000_000)
    if isinstance(data_type, TimestampNTZType):
        # NTZ stores the WALL value's micros: no zone round trip
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
    if isinstance(data_type, DateType):
        return (
            _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
        ).date()
    return v


def scan_file_stats(
    dirpath: str,
    key: str,
    *,
    relative_to: str,
    extra_columns: tuple | list = (),
) -> list[dict]:
    """Footer-only per-file stats for the data files in ``dirpath``:
    ``{"path", "n_rows", "bytes", "min", "max"}`` with min/max of
    ``key`` aggregated across row groups (None when the footer carries
    no usable stats — such a file is treated as always-touched).

    ``extra_columns`` names further columns to collect; each entry then
    carries ``"stats": {col: [min, max] | None}`` for key and extras —
    the multi-column stats Delta records for its first N columns, which
    are what let a COMPOSITE-key merge prune on every key column and
    ``read_range`` skip on a non-clustering column.

    Parquet writers may TRUNCATE binary min/max stats; truncation
    preserves bound validity (stored min <= true min as a prefix,
    stored max is bumped to stay >= true max), so pruning on them stays
    conservative.  Zero-row files are skipped entirely.

    This is a local-filesystem footer walk (one open per file, no data
    pages); the cluster-scale equivalent is Delta/Iceberg collecting
    the same stats inside the write transaction.
    """
    import pyarrow.parquet as pq

    cols = [key] + [c for c in extra_columns if c != key]
    entries: list[dict] = []
    for fn in sorted(os.listdir(dirpath)):
        # "dv-" / "bloom-" names are SIDECARS (deleted row positions /
        # bloom indexes of data files), never data files themselves
        if not fn.endswith(".parquet") or fn.startswith(
            ("_", ".", "dv-", "bloom-")
        ):
            continue
        p = os.path.join(dirpath, fn)
        md = pq.ParquetFile(p).metadata
        if md.num_rows == 0:
            continue
        name_to_idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        ranges: dict[str, list | None] = {}
        for col in cols:
            idx = name_to_idx.get(col)
            lo = hi = None
            ok = idx is not None
            if ok:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    try:
                        # pyarrow raises on EXTRACTION for types it
                        # cannot cast (decimal) even when has_min_max
                        # says true — degrade to no-stats, never fail
                        # the commit over an unprunable column
                        mn, mx = _stat_value(st.min), _stat_value(st.max)
                    except Exception:
                        ok = False
                        break
                    if mn is None or mx is None:
                        ok = False
                        break
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
            ranges[col] = [lo, hi] if ok else None
        entry = {
            "path": os.path.relpath(p, relative_to),
            "n_rows": md.num_rows,
            "bytes": os.path.getsize(p),
            "min": (ranges[key] or [None, None])[0],
            "max": (ranges[key] or [None, None])[1],
        }
        if len(cols) > 1:
            entry["stats"] = ranges
        entries.append(entry)
    return entries


def _segment_envelope(entries: list) -> dict:
    """Pseudo-entry bounding a manifest segment's entries: the union
    interval of their lead-key ``min``/``max`` plus, per stats column,
    the union of their per-column ranges — the Iceberg manifest-list
    partition-summary analog.  Shaped exactly like a file entry so the
    SAME conservative per-entry pruning closures (range / compiled
    predicate) evaluate it directly; a column any entry lacks stats
    for degrades to None = might-match.  Sound because every pruning
    atom is an interval-intersection test, monotone under interval
    containment: entry-might-match ⇒ envelope-might-match."""

    def _union(pairs):
        lo = hi = None
        for a, b in pairs:
            if a is None or b is None:
                return None
            try:
                lo = a if lo is None else min(lo, a)
                hi = b if hi is None else max(hi, b)
            except TypeError:
                return None
        return None if lo is None else [lo, hi]

    key_rng = _union((e.get("min"), e.get("max")) for e in entries)
    env: dict = {
        "min": key_rng[0] if key_rng else None,
        "max": key_rng[1] if key_rng else None,
    }
    cols = set()
    for e in entries:
        cols.update(e.get("stats") or {})
    stats = {}
    for c in cols:
        rs = [(e.get("stats") or {}).get(c) for e in entries]
        stats[c] = _union(
            (r[0], r[1]) if r else (None, None) for r in rs
        )
    if stats:
        env["stats"] = stats
    return env


def _file_rel_col(col):
    """Manifest-relative path of a scanned row's source file, from the
    ``_metadata.file_path`` URI.  Version-dir entries are TWO
    components (``vXXXXXXXX/<file>``); content-addressed staged
    entries (prepare/publish split) are THREE
    (``_staged/p-<32-hex>/<file>``) — the token pattern is specific
    enough that a table root happening to be named ``_staged`` can
    never be misread."""
    from pyspark.sql import functions as F

    last3 = F.substring_index(col, "/", -3)
    return F.when(
        last3.rlike(r"^_staged/p-[0-9a-f]{32}/"), last3
    ).otherwise(F.substring_index(col, "/", -2))


def _dv_read_positions(root: str, sidecar_rel: str, data_rel: str):
    """Deleted row positions of ``data_rel`` recorded in a DV sidecar,
    as a sorted numpy int64 array (driver-side footer+page read — DV
    mass is bounded by policy, see ``delete_where``'s ``max_dv_rows``
    and ``maintain()``'s purge trigger, so this is a small read)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(root, sidecar_rel),
        filters=[("_path", "=", data_rel)],
    )
    return np.sort(t.column("_pos").to_numpy(zero_copy_only=False))


def _dv_write_sidecar(vdir: str, positions_by_path: dict) -> str:
    """Write ONE deletion-vector sidecar parquet for a commit, holding
    the FULL deleted-position set of every data file it covers:
    columns ``_path`` (manifest-relative data file path) and ``_pos``
    (row index within that file).  Returns the sidecar's basename.
    One sidecar per commit — entries whose DV this commit did not
    touch keep referencing their older sidecar (sidecars are immutable
    and vacuumed by reference, like data files)."""
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths, poss = [], []
    for rel, pos in sorted(positions_by_path.items()):
        arr = np.asarray(sorted(pos), dtype=np.int64)
        paths.extend([rel] * len(arr))
        poss.append(arr)
    name = f"dv-{uuid.uuid4().hex[:16]}.parquet"
    t = pa.table(
        {
            "_path": pa.array(paths, pa.string()),
            "_pos": pa.array(
                np.concatenate(poss) if poss else [], pa.int64()
            ),
        }
    )
    pq.write_table(t, os.path.join(vdir, name))
    return name


def _to_epoch_us(v) -> int:
    """One temporal probe value → epoch microseconds (int).  Accepts
    datetime/date/pd.Timestamp/np.datetime64/ISO string.

    Naive-datetime semantics MATCH PySpark's own: ``TimestampType.
    toInternal``/``fromInternal`` go through ``time.mktime``/
    ``fromtimestamp`` (system-local), so a naive probe — a collected
    row value or a filter-literal argument — localizes in the SYSTEM
    timezone before converting to the UTC-normalized epoch the data
    files store.  On a UTC host this is the identity; on any other it
    is what keeps the bloom's hash equal to the storage the exact
    filter will match.  tz-aware values convert through UTC; DATE
    values (no instant semantics) hash as their calendar-day midnight
    unshifted."""
    import datetime as _dt
    import time as _time

    import pandas as pd

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        import calendar

        # calendar-day midnight unshifted — timegm, not pandas, so
        # dates outside pandas' ns range (year <1677 / >2262) convert
        return calendar.timegm(v.timetuple()) * 1_000_000
    if isinstance(v, _dt.datetime) and v.tzinfo is None:
        return (
            int(_time.mktime(v.timetuple())) * 1_000_000 + v.microsecond
        )
    if isinstance(v, _dt.datetime):
        import calendar

        # aware → UTC wall without pandas (same overflow rationale)
        off = v.utcoffset()
        w = v.replace(tzinfo=None) - off
        return calendar.timegm(w.timetuple()) * 1_000_000 + w.microsecond
    ts = pd.Timestamp(v)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.value // 1000
    # strings / pd.Timestamp / np.datetime64 scalars: naive wall —
    # same system-local rule as naive datetimes
    py = ts.to_pydatetime()
    return int(_time.mktime(py.timetuple())) * 1_000_000 + py.microsecond


def _bloom_canon(values, kind: str | None = None):
    """Canonicalize values for bloom hashing so the BUILD side (a
    pyarrow column) and the PROBE side (python scalars) hash
    identically: integers → int64, floats → float64, temporals →
    epoch-microsecond int64 (kind ``t``), everything else → str
    objects.  Returns (canonical numpy array, kind char).

    The temporal kind exists because str() is NOT a stable temporal
    canonicalization: a Spark-written timestamp column reads back via
    pyarrow as datetime64[ns], whose ``.tolist()`` yields epoch-ns
    INTEGERS (datetime can't represent ns), while probe values are
    datetime objects — the two stringify differently and the bloom
    would return false NEGATIVES (silently corrupting merge pruning).
    Epoch-us int64 is exact for both parquet units (us/ns-truncated)
    and every python probe type."""
    import datetime as _dt

    import numpy as np

    arr = np.asarray(values)
    if kind is None:
        if arr.dtype.kind in ("M", "m"):
            kind = "t" if arr.dtype.kind == "M" else "s"
        elif arr.dtype.kind in ("i", "u", "b"):
            kind = "i"
        elif arr.dtype.kind == "f":
            kind = "f"
        elif arr.dtype == object:
            first = next((v for v in arr.tolist() if v is not None), None)
            kind = (
                "t"
                if isinstance(first, (_dt.datetime, _dt.date))
                else "s"
            )
        else:
            kind = "s"
    if kind == "i":
        return arr.astype(np.int64), kind
    if kind == "f":
        return arr.astype(np.float64), kind
    if kind == "t":
        if arr.dtype.kind == "M":
            return arr.astype("datetime64[us]").astype(np.int64), kind
        return (
            np.array([_to_epoch_us(v) for v in arr.tolist()], np.int64),
            kind,
        )
    return np.array([str(v) for v in arr.tolist()], dtype=object), kind


def _bloom_probe_compatible(bloom: dict, values) -> bool:
    """False when the probe values are temporal but the persisted
    bloom was built with the pre-``t``-kind string canonicalization —
    such a bloom is unreliable for temporal probes (build/probe
    stringifications diverge), so callers must treat the file as
    maybe-present rather than trust a false negative."""
    import datetime as _dt

    import numpy as np

    if bloom.get("kind") != "s":
        return True
    arr = np.asarray(values)
    if arr.dtype.kind == "M":
        return False
    if arr.dtype == object:
        first = next((v for v in arr.tolist() if v is not None), None)
        if isinstance(first, (_dt.datetime, _dt.date)):
            return False
    return True


def _bloom_build(values, bits_per_value: int = 10, k: int = 7):
    """Build a bloom filter over ``values`` (nulls excluded by the
    caller): returns ``{"m": bits, "k": hashes, "kind": kind,
    "bits": bytes}``.  Double hashing over pandas' stable 64-bit value
    hash (`pd.util.hash_array`, fixed default key — deterministic
    across processes, which persistence requires).  ~10 bits/value at
    k=7 ⇒ ~1% false-positive rate; false positives only ever COST a
    file read, never correctness."""
    import numpy as np
    import pandas as pd

    arr, kind = _bloom_canon(values)
    m = max(1024, int(len(arr) * bits_per_value))
    h1 = pd.util.hash_array(arr, categorize=False)
    # splitmix64 finalizer for the second hash stream
    z = (h1 + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        # bitwise_or.at, NOT fancy |=: duplicate byte indexes must
        # each apply their own bit (fancy indexing buffers one write)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8),
        )
    return {"m": m, "k": k, "kind": kind, "bits": bits.tobytes()}


def _bloom_might_contain(bloom: dict, values) -> "object":
    """Vectorized membership probe: boolean numpy array, one per
    value.  True = maybe present, False = DEFINITELY absent."""
    import numpy as np
    import pandas as pd

    if not _bloom_probe_compatible(bloom, values):
        # pre-fix sidecar built with string canonicalization over a
        # temporal column: its negatives are not trustworthy — report
        # maybe-present for every value (costs a read, never rows)
        return np.ones(len(np.asarray(values)), dtype=bool)
    arr, _ = _bloom_canon(values, bloom["kind"])
    m = np.uint64(bloom["m"])
    bits = np.frombuffer(bloom["bits"], dtype=np.uint8)
    h1 = pd.util.hash_array(arr, categorize=False)
    z = (h1 + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h2 = (z ^ (z >> np.uint64(31))) | np.uint64(1)
    out = np.ones(len(arr), dtype=bool)
    for i in range(int(bloom["k"])):
        idx = (h1 + np.uint64(i) * h2) % m
        out &= (
            bits[(idx >> np.uint64(3)).astype(np.int64)]
            >> (idx & np.uint64(7)).astype(np.uint8)
        ) & 1 == 1
    return out


def _bloom_write_sidecar(vdir: str, blooms_by_path: dict) -> str:
    """Write one bloom-index sidecar parquet for a commit:
    ``(_path, _col, _m, _k, _kind, _bits)`` — one row per (data file,
    indexed column).  Returns the sidecar basename.  Immutable and
    vacuumed by reference, exactly like DV sidecars."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = {"_path": [], "_col": [], "_m": [], "_k": [], "_kind": [], "_bits": []}
    for rel, by_col in sorted(blooms_by_path.items()):
        for col, b in sorted(by_col.items()):
            rows["_path"].append(rel)
            rows["_col"].append(col)
            rows["_m"].append(b["m"])
            rows["_k"].append(b["k"])
            rows["_kind"].append(b["kind"])
            rows["_bits"].append(b["bits"])
    name = f"bloom-{uuid.uuid4().hex[:16]}.parquet"
    pq.write_table(
        pa.table(
            {
                "_path": pa.array(rows["_path"], pa.string()),
                "_col": pa.array(rows["_col"], pa.string()),
                "_m": pa.array(rows["_m"], pa.int64()),
                "_k": pa.array(rows["_k"], pa.int64()),
                "_kind": pa.array(rows["_kind"], pa.string()),
                "_bits": pa.array(rows["_bits"], pa.binary()),
            }
        ),
        os.path.join(vdir, name),
    )
    return name


def _bloom_load_sidecar(root: str, sidecar_rel: str) -> dict:
    """Load a WHOLE bloom sidecar as ``{data_rel: {col: bloom}}`` —
    one read serves every entry referencing it (a backfilled table's
    single sidecar covers all files; reading it per entry would make a
    pruning pass O(files) reads of the same file)."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(root, sidecar_rel))
    out: dict[str, dict] = {}
    for i in range(t.num_rows):
        out.setdefault(t.column("_path")[i].as_py(), {})[
            t.column("_col")[i].as_py()
        ] = {
            "m": t.column("_m")[i].as_py(),
            "k": t.column("_k")[i].as_py(),
            "kind": t.column("_kind")[i].as_py(),
            "bits": t.column("_bits")[i].as_py(),
        }
    return out


def _bloom_read_sidecar(root: str, sidecar_rel: str, data_rel: str) -> dict:
    """Load ``{col: bloom}`` for one data file from its bloom sidecar."""
    return _bloom_load_sidecar(root, sidecar_rel).get(data_rel, {})


def _bloom_build_for_files(
    root: str, vdir: str, entries: list, cols: list
) -> str | None:
    """Build blooms for the given (new) file entries over ``cols``
    (PHYSICAL names), write ONE sidecar into ``vdir``, and attach
    ``entry["bloom"]`` refs in place.  Cost: one columnar read of the
    indexed columns per new file — delta-bounded, the same contract as
    footer stats collection (Delta builds its bloom indexes inside the
    write transaction the same way).  Returns the sidecar basename."""
    import pyarrow.parquet as pq

    blooms: dict[str, dict] = {}
    for e in entries:
        p = os.path.join(root, e["path"])
        present = [
            c for c in cols if c in pq.ParquetFile(p).schema_arrow.names
        ]
        if not present:
            continue  # file predates the column (evolution): no bloom
        t = pq.read_table(p, columns=present)
        by_col = {}
        for c in present:
            col = t.column(c).drop_null()
            if len(col) == 0:
                continue
            by_col[c] = _bloom_build(col.to_numpy(zero_copy_only=False))
        if by_col:
            blooms[e["path"]] = by_col
    if not blooms:
        return None
    name = _bloom_write_sidecar(vdir, blooms)
    # root-relative ref — basename(vdir) would drop the _staged/
    # component of a prepared commit's staging dir and the sidecar
    # would resolve against a path that does not exist
    rel = os.path.relpath(os.path.join(vdir, name), root)
    for e in entries:
        if e["path"] in blooms:
            e["bloom"] = {"path": rel, "cols": sorted(blooms[e["path"]])}
    return name


def _mapping_of(man: dict | None) -> dict:
    """Identity-completed ``{logical name -> physical name}`` for a
    manifest.  The manifest stores only the NON-identity entries
    (``column_mapping``); every logical field missing from it maps to
    itself — so tables that never renamed pay nothing and old
    manifests stay readable unchanged."""
    if not man:
        return {}
    explicit = dict(man.get("column_mapping") or {})
    out = {}
    for f in (man.get("schema") or {}).get("fields", []):
        out[f["name"]] = explicit.get(f["name"], f["name"])
    return out


def _inverse_mapping_of(man: dict | None) -> dict:
    """``{physical name -> logical name}`` for a manifest."""
    return {p: l for l, p in _mapping_of(man).items()}


def _physical_schema(man: dict):
    """The read schema for a manifest's data files: LOGICAL field
    order and (possibly widened) LOGICAL types under PHYSICAL column
    names.  Spark's parquet reader natively upcasts files written
    before a widen (int32 under bigint, float under double), so one
    wide schema reads a mixed-width file set."""
    from pyspark.sql.types import StructField, StructType

    logical = StructType.fromJson(man["schema"])
    m = _mapping_of(man)
    return StructType(
        [
            StructField(m.get(f.name, f.name), f.dataType, f.nullable)
            for f in logical.fields
        ]
    )


# column type widenings that are metadata-only: Spark's vectorized
# parquet reader upcasts the narrow physical values natively, so old
# files need no rewrite (verified empirically for this Spark version
# by tests/test_merge.py::test_widen_column_zero_copy)
_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


class VersionedParquetTable:
    """A directory of immutable version subdirs + a ``_CURRENT`` pointer.

    Two commit shapes share the pointer protocol:

    * :meth:`commit` — the full-rewrite shape: the version directory IS
      the table (every parquet file in it).
    * :meth:`commit_with_manifest` — the pruned shape: the version is
      DEFINED by a ``_MANIFEST.json`` listing data files BY REFERENCE
      (files may live in older version directories) with per-file
      [min, max] stats of a clustering key.  This is what lets MERGE
      rewrite only the files a source batch actually touches and carry
      the rest forward at zero I/O — the micro-partition pruning the
      reference gets from Snowflake's MERGE, and what Delta/Iceberg do
      in their commit logs.

    Every manifest commit is ONE write phase plus ONE publish.  The
    write phase (:meth:`_write_phase`) runs every Spark job the commit
    needs — clustered data write, footer stats, blooms, constraint
    check, DV sidecar — and returns a token.  The publish
    (:meth:`commit_with_manifest`) runs under the commit lock: CAS or
    logical rebase, then manifest, ``_COMMITTED`` marker and pointer
    swap.  :meth:`prepare_commit` runs the write phase lock-free into a
    staging directory, so racing writers' data jobs overlap; an inline
    ``commit_with_manifest(df, ...)`` runs it under the lock, after the
    CAS, into the version directory.
    """

    # --- manifest segmentation thresholds (class attrs so tests can
    # lower them).  A manifest whose file list fits under
    # ``manifest_inline_max`` entries is stored INLINE in the JSON doc
    # exactly as before (small tables: one file, one read, zero new
    # moving parts).  Above it, entries are stored in immutable
    # ``_mseg-*.parquet`` SEGMENT files referenced by the doc, and a
    # commit carries every segment whose entries it did not touch BY
    # REFERENCE — so commit metadata I/O is O(changed entries), not
    # O(table files).  This is the scale wall Delta solves with log
    # segments + checkpoints and Iceberg with manifest files: without
    # it, a one-file DML commit on an 800k-file (≈100 TB) table
    # rewrites a ~250 MB JSON document every time.
    manifest_inline_max: int = 2048
    manifest_segment_rows: int = 4096
    # LEVEL-2 manifest list: when the segmented manifest's REF LIST
    # itself outgrows this, the refs move into immutable ``_msegl-*``
    # chunk files with envelope rollups and the doc stores only chunk
    # refs — per-commit doc size stays O(1) at any file count.  The
    # defaults engage past 4096 segments × 4096 rows ≈ 16.7M files
    # (the r10 synthetic probe sized one level as right to ~10⁷ files;
    # a ~10⁸-file table needs this second level or every commit
    # rewrites a multi-MB ref list).  Unchanged chunks carry by
    # reference across commits exactly like level-1 segments.
    manifest_seglist_inline_max: int = 4096
    manifest_seglist_chunk_refs: int = 4096
    # LRU bound on the driver's segment cache, in cached ENTRY ROWS
    # (not segment count): ~2M rows ≈ 500 default-size segments ≈ a
    # few hundred MB of entry JSON — enough to keep an 8M-file
    # manifest's hot half without pinning unbounded driver memory
    _SEG_CACHE_MAX_ROWS: int = 2_000_000

    def __init__(self, root: str, *, commit_protocol=None):
        self.root = _check_local(root).rstrip("/")
        # pluggable commit protocol (sources/commit_protocol.py):
        # "posix" (default — O_EXCL lock, rename-swapped _CURRENT) or
        # "object-store" (rename-free: conditional-create _ptr-v{N}
        # publish, LIST-max pointer resolution, conditional-delete
        # lock steal) — the seam that makes the object-store-safety
        # claim executable, not prose
        from .commit_protocol import resolve_protocol

        self._protocol = resolve_protocol(commit_protocol, self.root)
        # bloom sidecar loads, memoized ACROSS lookups (sidecars are
        # immutable files, so no invalidation; bounded below): repeated
        # point lookups on the same instance stop re-reading them
        self._bloom_sidecar_cache: dict[str, dict] = {}
        # manifest-segment loads, memoized the same way (segments are
        # immutable once committed and carried across versions, so a
        # warm instance materializes version N+1 without re-reading the
        # segments it shares with version N); LRU-ordered, bounded by
        # total cached rows (_SEG_CACHE_MAX_ROWS) in _load_segment
        from collections import OrderedDict

        self._seg_cache: "OrderedDict[str, list]" = OrderedDict()
        self._seg_cache_rows: int = 0
        # level-2 ref-list chunk loads, memoized the same way (chunks
        # are immutable); LRU-bounded by chunk count — a chunk is a
        # few thousand small ref dicts, so 256 chunks is megabytes
        self._seglist_cache: "OrderedDict[str, list]" = OrderedDict()
        # set by commit_with_manifest: None, or {"planned_base",
        # "onto"} when the last commit published via a logical rebase
        self._last_commit_rebase: dict | None = None

    # ------------------------------------------------------------ state
    def _pointer_path(self) -> str:
        return os.path.join(self.root, _POINTER)

    def current_version(self) -> int | None:
        """Version named by the pointer; None for a legacy plain-parquet
        directory (or an empty/absent table)."""
        name = self._protocol.read_pointer()
        if name is None:
            return None
        m = _VERSION_RE.match(name)
        if not m:
            raise ValueError(f"corrupt {_POINTER} pointer: {name!r}")
        return int(m.group(1))

    def _versions_on_disk(self) -> list[int]:
        try:
            names = os.listdir(self.root)
        except OSError:
            return []
        if self._protocol.name == "posix":
            # belt-and-braces protocol-mixing guard, FREE on this
            # listing: a posix handle seeing _ptr-v* objects is reading
            # a migrated table whose _CURRENT is stale — every caller
            # of this listing (commit's reconcile, vacuum) would
            # otherwise rmtree committed object-store versions.  The
            # marker stat in read_pointer catches post-marker tables;
            # this catches tables migrated by pre-marker code.
            from .commit_protocol import _PTR_RE, ProtocolMixingError

            if any(_PTR_RE.match(n) for n in names):
                raise ProtocolMixingError(
                    f"{self.root}: _ptr-v* pointer objects exist — "
                    "this table has object-store commits; re-open "
                    'with commit_protocol="object-store" or None'
                )
        return sorted(
            int(m.group(1)) for n in names if (m := _VERSION_RE.match(n))
        )

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:08d}")

    def exists(self) -> bool:
        return os.path.isdir(self.root)

    # --------------------------------------------------------- manifest
    def _raw_manifest(self, version: int) -> dict | None:
        """The manifest document AS STORED — a segmented doc carries
        ``file_segments`` refs instead of ``files``.  Only the
        persistence layer (and vacuum's reachability walk) should look
        at this form; everything else goes through :meth:`manifest`."""
        try:
            with open(os.path.join(self._version_dir(version), _MANIFEST)) as f:
                return json.load(f)
        except OSError:
            return None

    # ---- level-2 manifest list (segment-of-segments) -----------------
    @staticmethod
    def _is_segmented(raw: dict | None) -> bool:
        """True when a RAW doc stores its file list in segments —
        either with inline refs (``file_segments``) or with the refs
        themselves chunked into level-2 files (``seg_ref_lists``)."""
        return raw is not None and (
            "file_segments" in raw or "seg_ref_lists" in raw
        )

    def _load_seg_list(self, rel: str) -> list[dict]:
        """One level-2 ref-list chunk → its member segment refs,
        memoized per instance (chunks are immutable)."""
        refs = self._seglist_cache.get(rel)
        if refs is not None:
            self._seglist_cache.move_to_end(rel)
            return refs
        with open(os.path.join(self.root, rel)) as f:
            refs = json.load(f)["refs"]
        self._seglist_cache[rel] = refs
        while len(self._seglist_cache) > 256:
            self._seglist_cache.popitem(last=False)
        return refs

    def _seg_refs(self, raw: dict | None) -> list[dict] | None:
        """The full segment-ref list of a RAW doc, transparently
        resolving the level-2 form; None for inline/plain manifests.
        O(total refs) — callers that only need aggregates use the
        chunk rollups instead (:meth:`_segment_totals`)."""
        if raw is None:
            return None
        if "file_segments" in raw:
            return raw["file_segments"]
        lists = raw.get("seg_ref_lists")
        if lists is None:
            return None
        out: list[dict] = []
        for lref in lists:
            out.extend(self._load_seg_list(lref["path"]))
        return out

    def _store_seg_refs(
        self, doc: dict, vdir: str, refs: list, prev_raw: dict | None
    ) -> None:
        """Record a segmented manifest's ref list on ``doc``: inline
        (``file_segments``) at or under ``manifest_seglist_inline_max``
        refs, else as level-2 ``_msegl-*.json`` chunk files with
        envelope rollups (``seg_ref_lists``) — any of ``prev_raw``'s
        chunks whose member refs ALL survive unchanged carries by
        reference, so the common commit rewrites at most the chunks
        holding its changed segments plus one chunk of new refs."""
        if len(refs) <= self.manifest_seglist_inline_max:
            doc["file_segments"] = refs
            return
        import uuid

        _c = lambda r: json.dumps(r, sort_keys=True, separators=(",", ":"))
        by_path = {r["path"]: _c(r) for r in refs}
        out_lrefs: list[dict] = []
        consumed: set[str] = set()
        for lref in (prev_raw or {}).get("seg_ref_lists") or []:
            members = self._load_seg_list(lref["path"])
            if members and all(
                by_path.get(m["path"]) == _c(m) for m in members
            ):
                out_lrefs.append(lref)
                consumed.update(m["path"] for m in members)
        remaining = [r for r in refs if r["path"] not in consumed]
        out_lrefs.extend(self._write_seg_lists(vdir, remaining))
        doc["seg_ref_lists"] = out_lrefs

    def _write_seg_lists(self, vdir: str, refs: list) -> list[dict]:
        """Write segment refs as new level-2 ``_msegl-*.json`` chunk
        files, ``manifest_seglist_chunk_refs`` per chunk; returns their
        chunk refs (aggregate sums + envelope-of-envelopes rollup)."""
        import uuid

        out: list[dict] = []
        if not refs:
            return out
        os.makedirs(vdir, exist_ok=True)
        step = self.manifest_seglist_chunk_refs
        for i in range(0, len(refs), step):
            chunk = refs[i : i + step]
            name = f"_msegl-{uuid.uuid4().hex[:16]}.json"
            rel = os.path.relpath(os.path.join(vdir, name), self.root)
            self._protocol.put_file(rel, json.dumps({"refs": chunk}))
            self._seglist_cache[rel] = chunk
            while len(self._seglist_cache) > 256:
                self._seglist_cache.popitem(last=False)
            out.append(
                {
                    "path": rel,
                    "n_refs": len(chunk),
                    "n": sum(r.get("n") or 0 for r in chunk),
                    "rows": sum(r.get("rows") or 0 for r in chunk),
                    "bytes": sum(r.get("bytes") or 0 for r in chunk),
                    "dv_rows": sum(r.get("dv_rows") or 0 for r in chunk),
                    "dv_files": sum(
                        r.get("dv_files") or 0 for r in chunk
                    ),
                    # envelope-of-envelopes: conservative rollup (a
                    # member without an env poisons to unknown, which
                    # never skips)
                    "env": _segment_envelope(
                        [r.get("env") or {} for r in chunk]
                    ),
                }
            )
        return out

    def manifest(self, version: int) -> dict | None:
        """The version's manifest document with ``files`` MATERIALIZED
        (segment refs resolved), or None for a plain (full-directory)
        version.  Callers always see the same shape regardless of how
        the manifest is stored; returned entry dicts are fresh objects
        (safe to mutate)."""
        raw = self._raw_manifest(version)
        refs = self._seg_refs(raw)
        if refs is None:
            return raw
        files: list[dict] = []
        for ref in refs:
            files.extend(
                json.loads(j) for _, j in self._load_segment(ref["path"])
            )
        raw.pop("file_segments", None)
        raw.pop("seg_ref_lists", None)
        raw.pop("files_n", None)
        raw["files"] = files
        return raw

    def _load_segment(self, rel: str) -> list:
        """One manifest segment → list of ``(path, canonical entry
        json)`` tuples, memoized per instance (segments are immutable;
        strings are immutable too, so the cache can never be corrupted
        by a caller — entries materialize via a fresh ``json.loads``
        each time)."""
        rows = self._seg_cache.get(rel)
        if rows is None:
            import pyarrow.parquet as pq

            t = pq.read_table(
                os.path.join(self.root, rel), columns=["path", "entry"]
            )
            rows = list(
                zip(t.column("path").to_pylist(), t.column("entry").to_pylist())
            )
            self._seg_cache_put(rel, rows)
        else:
            self._seg_cache.move_to_end(rel)  # mark recently used
        return rows

    def _seg_cache_put(self, rel: str, rows: list) -> None:
        """Insert into the segment cache with LRU eviction bounded by
        TOTAL cached entry rows, not segment count: a wholesale
        clear() at N segments would repeatedly flush segments loaded
        earlier in the SAME materialization pass on a >N-segment
        manifest (re-reads), while an unbounded dict pins entry-JSON
        strings on the driver.  Evicting least-recently-USED keys
        keeps hot segments across passes; a single huge pass degrades
        gracefully to read-once.  Both the read path (_load_segment)
        and the WRITER's warm insert (_persist_manifest) go through
        here, so the bound holds during a large commit too — a full
        rewrite of an 8M-file table must not pin gigabytes of entry
        JSON while writing its 2000 segments."""
        if rel in self._seg_cache:
            self._seg_cache_rows -= len(self._seg_cache[rel])
            del self._seg_cache[rel]
        while (
            self._seg_cache
            and self._seg_cache_rows + len(rows) > self._SEG_CACHE_MAX_ROWS
        ):
            _, old = self._seg_cache.popitem(last=False)
            self._seg_cache_rows -= len(old)
        self._seg_cache[rel] = rows
        self._seg_cache_rows += len(rows)

    def _materialize_pruned(self, version: int, entry_test) -> dict | None:
        """Materialized manifest doc whose ``files`` come ONLY from
        segments whose envelope pseudo-entry (see
        :func:`_segment_envelope`) passes ``entry_test`` — the
        read-path payoff of segmentation: a point/range read on an
        800k-file table materializes the handful of segments its
        interval touches instead of the whole entry list (what Iceberg
        gets from manifest-list partition summaries).

        Sound only for CONSERVATIVE interval tests (monotone under
        interval containment — both the range closures and
        :meth:`_compile_pruner` output qualify): a skipped segment
        provably holds no entry that could pass.  The returned doc is
        PARTIAL — never feed it to a commit's ``carried``.  Inline or
        plain versions return :meth:`manifest`'s full doc (same
        shape)."""
        raw = self._raw_manifest(version)
        if raw is None or not self._is_segmented(raw):
            return self.manifest(version)
        if "file_segments" in raw:
            refs = raw["file_segments"]
        else:
            # level-2: prune whole CHUNKS by their envelope rollup
            # first — a point read on a 10⁸-file table loads a handful
            # of ref-list chunks, then a handful of segments
            refs = []
            for lref in raw["seg_ref_lists"]:
                lenv = lref.get("env")
                if lenv is None or entry_test(lenv):
                    refs.extend(self._load_seg_list(lref["path"]))
        files: list[dict] = []
        for ref in refs:
            env = ref.get("env")
            if env is None or entry_test(env):
                files.extend(
                    json.loads(j)
                    for _, j in self._load_segment(ref["path"])
                )
        raw.pop("file_segments", None)
        raw.pop("seg_ref_lists", None)
        raw.pop("files_n", None)
        raw["files"] = files
        return raw

    def _diff_file_maps(
        self, v_from: int, v_to: int
    ) -> tuple[dict, dict] | None:
        """``(path → entry)`` maps of the two versions RESTRICTED to
        files that can differ between them — the CDF's input, built in
        O(changed segments).  Segments shared BY REF between the two
        manifests hold byte-identical entries (segments are immutable
        and carried by reference), so their files exist in both
        versions unchanged and contribute nothing to any diff
        (added / removed / dv-changed): a path present in only one
        version cannot live in a shared segment, and an entry that
        changed (a DV re-point) implies different segment content,
        hence a different immutable segment file.  Inline manifests
        materialize fully (small tables); returns None when either
        version lacks a manifest (the caller's plain-version
        degrade)."""
        raw_f = self._raw_manifest(v_from)
        raw_t = self._raw_manifest(v_to)
        if raw_f is None or raw_t is None:
            return None
        if "seg_ref_lists" in raw_f and "seg_ref_lists" in raw_t:
            # level-2 fast path: a chunk shared BY REF between the two
            # docs holds identical member refs (chunks are immutable),
            # so every segment it names is shared — resolve only the
            # non-shared chunks; the diff stays O(changed chunks +
            # changed segments), never O(total refs)
            shared_chunks = {
                l["path"] for l in raw_f["seg_ref_lists"]
            } & {l["path"] for l in raw_t["seg_ref_lists"]}
            segs_f = [
                r
                for l in raw_f["seg_ref_lists"]
                if l["path"] not in shared_chunks
                for r in self._load_seg_list(l["path"])
            ]
            segs_t = [
                r
                for l in raw_t["seg_ref_lists"]
                if l["path"] not in shared_chunks
                for r in self._load_seg_list(l["path"])
            ]
        else:
            segs_f = self._seg_refs(raw_f)
            segs_t = self._seg_refs(raw_t)
        if segs_f is None or segs_t is None:
            mf, mt = self.manifest(v_from), self.manifest(v_to)
            return (
                {e["path"]: e for e in mf["files"]},
                {e["path"]: e for e in mt["files"]},
            )
        shared = {r["path"] for r in segs_f} & {r["path"] for r in segs_t}

        def _side(refs: list) -> dict:
            out: dict = {}
            for r in refs:
                if r["path"] in shared:
                    continue
                for p, j in self._load_segment(r["path"]):
                    out[p] = json.loads(j)
            return out

        return _side(segs_f), _side(segs_t)

    # manifest-level fields that must be IDENTICAL between a commit's
    # planned base and the live head for a logical rebase to be sound.
    # These are exactly the STALE-CAPTURE risks: fields the preparing
    # caller read from its base snapshot and passes explicitly (the
    # merge captures constraints / mapping / blooms / app metadata
    # from its one base read; the output schema derives from base's).
    # Fields the commit always publishes from its OWN arguments
    # (key_columns, stats_columns) or inherits from the LIVE head at
    # commit time (clustering) need no equality — a rebase publishes
    # the same value a serial execution would.  app_metadata is here
    # because the commit publishes a merged {base meta + ours} dict —
    # rebasing over a racing metadata change would silently clobber
    # it (e.g. a CDC watermark).
    _REBASE_META_FIELDS = (
        "schema",
        "key",
        "column_mapping",
        "retired_physical",
        "constraints",
        "bloom_columns",
        "app_metadata",
    )

    def _rebase_compatible(
        self,
        base: int | None,
        cur: int | None,
        touched: set,
        might_touch,
        might_touch_batch=None,
    ) -> bool:
        """Delta-style LOGICAL conflict scoping: True iff every commit
        between ``base`` (the snapshot a prepared commit was computed
        against) and ``cur`` (the live head) provably touched only
        files and key ranges DISJOINT from the prepared commit's scope
        — in which case the prepared output is valid against ``cur``
        verbatim and the commit may REBASE (retarget its carried base)
        instead of recomputing.

        ``touched`` — base-relative paths the prepared commit depends
        on (files it read-and-rewrote, or whose DVs it re-points).  A
        racing commit that removed/rewrote/DV'd any of them means the
        prepared output merged stale rows: recompute.

        ``might_touch(entry) -> bool`` — the SAME conservative
        key-containment test the merge used to compute its touched set
        (no-stats ⇒ True).  Evaluated on every entry the racing
        commits ADDED or MODIFIED: True means a racing row could
        interact with this batch's keys (e.g. both inserted key K —
        rebasing would publish a duplicate), so recompute.

        ``might_touch_batch(entries) -> bool`` — the SET form for
        callers whose key test is Spark-side (the >max_exact_keys
        merge tier range-joins the racing entries' ranges against its
        distinct source keys in ONE bounded job): True = some racing
        entry may interact.  Used when ``might_touch`` is None; with
        BOTH absent, any racing addition forces recompute.

        Everything here runs under the commit lock in O(changed
        segments) (``_diff_file_maps``), so the check itself can never
        race."""
        if base is None or cur is None or cur <= base:
            return False
        raw_b = self._raw_manifest(base)
        raw_c = self._raw_manifest(cur)
        if raw_b is None or raw_c is None:
            return False  # plain versions carry no scope evidence

        def _shape(x):
            # schema comparison ignores nullability and field metadata:
            # a racing merge's output relaxes non-null to nullable
            # (join semantics), which changes nothing a prepared commit
            # depends on — names and TYPES are the evolution signal
            if isinstance(x, dict):
                return {
                    k: _shape(v)
                    for k, v in x.items()
                    if k not in ("nullable", "metadata")
                }
            if isinstance(x, list):
                return [_shape(v) for v in x]
            return x

        for f in self._REBASE_META_FIELDS:
            b, c = raw_b.get(f) or None, raw_c.get(f) or None
            if f == "schema":
                b, c = _shape(b), _shape(c)
            if b != c:
                return False
        d = self._diff_file_maps(base, cur)
        if d is None:
            return False
        from_map, to_map = d
        for p, e in from_map.items():
            if to_map.get(p) != e and p in touched:
                return False  # racing commit changed a file we read
        changed: list[dict] = []
        for p, e in to_map.items():
            if from_map.get(p) == e:
                continue  # shared/unchanged
            if might_touch is not None:
                try:
                    if might_touch(e):
                        return False  # racing rows may overlap our keys
                except Exception:
                    return False  # unevaluable entry: conservative
            else:
                changed.append(e)
        if changed:
            if might_touch_batch is None:
                return False  # no key test at all: conservative
            try:
                if might_touch_batch(changed):
                    return False
            except Exception:
                return False
        return True

    def _persist_manifest(
        self, vdir: str, man: dict, *, base_version: int | None = None
    ) -> None:
        """Write ``man`` (its ``files`` list materialized) into
        ``vdir`` — inline JSON under ``manifest_inline_max`` entries
        (bit-compatible with every manifest ever written), segmented
        above it.

        Segmented form: entries live in immutable ``_mseg-*.parquet``
        files of ``(path, entry_json)`` rows; the doc stores
        ``file_segments`` refs.  Any of ``base_version``'s segments
        whose entries ALL survive unchanged in the new list is carried
        by reference — the common DML/merge/metadata commit touches a
        handful of files, so it rewrites at most the segments holding
        those entries plus one segment of new files, and a
        metadata-only commit rewrites none.  The underscore prefix
        keeps segments invisible to ``scan_file_stats`` and to Spark's
        directory scans (same convention as ``_MANIFEST.json``)."""
        files = man.get("files") or []
        man = {
            k: v
            for k, v in man.items()
            if k not in ("file_segments", "seg_ref_lists")
        }
        if len(files) <= self.manifest_inline_max:
            man["files"] = files
            doc = man
        else:
            canon = [
                (
                    e["path"],
                    json.dumps(e, sort_keys=True, separators=(",", ":")),
                    e,
                )
                for e in files
            ]
            by_path = {p: j for p, j, _ in canon}
            refs: list[dict] = []
            consumed: set[str] = set()
            prev_raw = (
                self._raw_manifest(base_version)
                if base_version is not None
                else None
            )
            for ref in self._seg_refs(prev_raw) or []:
                rows = self._load_segment(ref["path"])
                if rows and all(by_path.get(p) == j for p, j in rows):
                    refs.append(ref)
                    consumed.update(p for p, _ in rows)
            remaining = [(p, j, e) for p, j, e in canon if p not in consumed]
            refs.extend(self._write_segments(vdir, remaining))
            doc = {k: v for k, v in man.items() if k != "files"}
            self._store_seg_refs(doc, vdir, refs, prev_raw)
            doc["files_n"] = len(files)
        self._write_manifest_doc(vdir, doc)

    def _write_segments(self, vdir: str, triples: list) -> list[dict]:
        """Write ``triples`` of ``(path, canonical_json, entry)`` as
        new ``_mseg-*.parquet`` segment files in ``vdir``, chunked at
        ``manifest_segment_rows``; returns their refs.  Each ref
        carries aggregate sums (so ``history()``/``detail()`` stay
        O(segments)) and the per-column stat envelope (so readers
        skip segments their predicate cannot touch)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        refs: list[dict] = []
        if not triples:
            return refs
        os.makedirs(vdir, exist_ok=True)
        step = self.manifest_segment_rows
        for i in range(0, len(triples), step):
            chunk = triples[i : i + step]
            name = f"_mseg-{uuid.uuid4().hex[:16]}.parquet"
            seg_abs = os.path.join(vdir, name)
            pq.write_table(
                pa.table(
                    {
                        "path": [p for p, _, _ in chunk],
                        "entry": [j for _, j, _ in chunk],
                    }
                ),
                seg_abs,
                compression="zstd",
            )
            fd = os.open(seg_abs, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
            rel = os.path.relpath(seg_abs, self.root)
            # writer-side warm insert: same accounting AND eviction as
            # read loads, so the rows bound holds mid-commit too
            self._seg_cache_put(rel, [(p, j) for p, j, _ in chunk])
            refs.append(
                {
                    "path": rel,
                    "n": len(chunk),
                    "env": _segment_envelope([e for _, _, e in chunk]),
                    "rows": sum(
                        e.get("n_rows") or 0 for _, _, e in chunk
                    ),
                    "bytes": sum(
                        e.get("bytes") or 0 for _, _, e in chunk
                    ),
                    "dv_rows": sum(
                        e["dv"]["rows"]
                        for _, _, e in chunk
                        if e.get("dv")
                    ),
                    "dv_files": sum(
                        1 for _, _, e in chunk if e.get("dv")
                    ),
                }
            )
        return refs

    def _write_manifest_doc(self, vdir: str, doc: dict) -> None:
        # protocol-routed: posix keeps the tmp+rename write; the
        # object-store protocol writes direct (the manifest lives in
        # an UNPUBLISHED version dir — invisible until the pointer
        # names it — so whole-object PUT atomicity suffices)
        rel = os.path.relpath(os.path.join(vdir, _MANIFEST), self.root)
        self._protocol.put_file(rel, json.dumps(doc))

    def _persist_manifest_from_base(
        self,
        vdir: str,
        man: dict,
        base_version: int,
        *,
        exclude: dict,
        replaced: dict,
        new_entries: list,
    ) -> None:
        """Write ``vdir``'s manifest as BASE VERSION'S FILE LIST with
        ``exclude`` (path → base entry) removed, ``replaced`` (path →
        entry) swapped in, and ``new_entries`` appended — WITHOUT
        materializing the untouched entries.  Two tiers keep the
        driver cost O(touched): a segment whose ENVELOPE provably
        cannot contain any dirty entry's key interval carries by
        reference without even being read; one that might is loaded
        for an exact O(paths) membership check (string compares, no
        JSON parse) and carries unless it actually holds a dirty
        path.  ``man`` carries every manifest field EXCEPT ``files``.
        An excluded/replaced path absent from the base raises (a stale
        snapshot the CAS somehow missed must fail loudly, not drop the
        edit).  Inline bases delegate to the standard writer."""
        raw = self._raw_manifest(base_version)
        if raw is None:
            raise ValueError(
                f"{self.root}: carried_base_version={base_version} is "
                "not a committed manifest version"
            )
        dirty = set(exclude) | set(replaced)
        if not self._is_segmented(raw):
            base_files = raw["files"]
            missing = dirty - {e["path"] for e in base_files}
            if missing:
                raise ValueError(
                    f"{self.root}: carried-base edit names paths absent "
                    f"from v{base_version}: {sorted(missing)[:3]}"
                )
            man = dict(man)
            man["files"] = [
                replaced.get(e["path"], e)
                for e in base_files
                if e["path"] not in exclude
            ] + list(new_entries)
            return self._persist_manifest(
                vdir, man, base_version=base_version
            )
        # envelope pre-filter: entry ∈ segment ⇒ the segment's union
        # interval CONTAINS the entry's [min, max] — so a segment
        # whose envelope does not contain any dirty entry's interval
        # provably holds none of them (conservative: unknown ranges
        # force the exact check)
        dirty_entries = list(exclude.values()) + [
            replaced[p] for p in replaced
        ]
        # a re-keying commit's entries carry intervals of ANOTHER
        # column than the base envelopes: no envelope can rule out
        rekeyed = raw.get("key") != man.get("key")

        def _may_contain(ref: dict) -> bool:
            env = ref.get("env")
            if env is None or rekeyed:
                return True
            emin, emax = env.get("min"), env.get("max")
            if emin is None or emax is None:
                return True
            for e in dirty_entries:
                a, b = e.get("min"), e.get("max")
                if a is None or b is None:
                    return True
                try:
                    if emin <= a and b <= emax:
                        return True
                except TypeError:
                    return True
            return False

        refs: list[dict] = []
        leftovers: list = []
        found: set[str] = set()

        def _canon(e: dict) -> str:
            return json.dumps(e, sort_keys=True, separators=(",", ":"))

        # level-2 pre-filter: a chunk whose envelope rollup cannot
        # contain any dirty entry's interval carries BY REFERENCE
        # without even being read — per-commit chunk loads stay
        # O(touched), the same guarantee segments give one level down
        # (an entry ∈ segment ∈ chunk implies chunk env ⊇ segment env
        # ⊇ entry interval, so a skipped chunk provably holds none of
        # the dirty paths and the missing-check below stays sound)
        lrefs_carried: list[dict] = []
        if "file_segments" in raw:
            base_refs = raw["file_segments"]
        else:
            base_refs = []
            for lref in raw["seg_ref_lists"]:
                if not _may_contain(lref):
                    lrefs_carried.append(lref)
                else:
                    base_refs.extend(self._load_seg_list(lref["path"]))

        for ref in base_refs:
            if not _may_contain(ref):
                refs.append(ref)
                continue
            rows = self._load_segment(ref["path"])
            hit = [p for p, _ in rows if p in dirty]
            if not hit:
                refs.append(ref)
                continue
            found.update(hit)
            for p, j in rows:
                if p in exclude:
                    continue
                if p in replaced:
                    e = replaced[p]
                    leftovers.append((p, _canon(e), e))
                else:
                    leftovers.append((p, j, json.loads(j)))
        missing = dirty - found
        if missing:
            raise ValueError(
                f"{self.root}: carried-base edit names paths absent "
                f"from v{base_version}: {sorted(missing)[:3]}"
            )
        leftovers.extend(
            (e["path"], _canon(e), e) for e in new_entries
        )
        refs.extend(self._write_segments(vdir, leftovers))
        doc = {k: v for k, v in man.items() if k not in ("files",)}
        if lrefs_carried or (
            len(refs) + sum(l["n_refs"] for l in lrefs_carried)
            > self.manifest_seglist_inline_max
        ):
            # level-2 output: untouched chunks carry unloaded; the
            # surviving refs of dirty chunks + new segments go into
            # fresh chunk files
            new_lrefs = self._write_seg_lists(vdir, refs)
            doc["seg_ref_lists"] = lrefs_carried + new_lrefs
            doc["files_n"] = sum(
                l["n"] for l in doc["seg_ref_lists"]
            )
        else:
            doc["file_segments"] = refs
            doc["files_n"] = sum(r["n"] for r in refs)
        self._write_manifest_doc(vdir, doc)

    def app_metadata_of(self, version: int | None = None) -> dict:
        """The application-owned metadata recorded atomically with a
        commit (``commit_with_manifest(app_metadata=...)``) — current
        version by default; ``{}`` for plain versions or commits that
        recorded none.  A CDC consumer reads its last-applied source
        version from HERE (the sink), never from a side file, so the
        watermark can never run behind or ahead of the data it
        describes."""
        if version is None:
            version = self.current_version()
        if version is None:
            return {}
        # RAW doc: app_metadata is inline in both storage forms — a
        # CDC consumer polling its watermark must not materialize an
        # 800k-entry file list per cycle
        man = self._raw_manifest(version)
        return dict((man or {}).get("app_metadata") or {})

    def _read_manifest_files(
        self, spark: SparkSession, man: dict, entries: list
    ) -> DataFrame:
        """Read manifest file ENTRIES as a LOGICAL frame: scan under
        the physical-named (possibly widened-typed) schema, apply each
        entry's deletion vector, then alias back to the logical column
        names.  Files written before a column was evolved surface it
        as NULL; files written before a widen upcast natively.

        Deletion vectors (merge-on-read): an entry carrying
        ``{"dv": {"path": sidecar, "rows": n}}`` has its deleted row
        positions filtered out via an anti-join on
        ``(_metadata.file_path, _metadata.row_index)`` — broadcast
        while the manifest-known DV mass is policy-small (the
        ``maintain()`` ``dv_ratio`` regime), shuffle above 5M rows (a
        purge-scale mass must not OOM the driver as a forced build
        side).  Entries without a DV keep the plain scan path
        untouched (pushdown/pruning exactly as before — zero overhead
        for DV-free tables)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        logical = StructType.fromJson(man["schema"])
        if not entries:
            return spark.createDataFrame([], logical)
        m = _mapping_of(man)
        phys = _physical_schema(man)
        plain = [e for e in entries if not e.get("dv")]
        dvd = [e for e in entries if e.get("dv")]
        parts = []
        if plain:
            parts.append(
                spark.read.schema(phys).parquet(
                    *[os.path.join(self.root, e["path"]) for e in plain]
                )
            )
        if dvd:
            # manifest-relative path from the scan's file URI
            # (version-dir or staged placement — _file_rel_col)
            scan = (
                spark.read.schema(phys)
                .parquet(*[os.path.join(self.root, e["path"]) for e in dvd])
                .withColumn(
                    "__dv_f", _file_rel_col(F.col("_metadata.file_path"))
                )
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
            )
            sidecars = sorted({e["dv"]["path"] for e in dvd})
            dvdf = spark.read.parquet(
                *[os.path.join(self.root, p) for p in sidecars]
            ).select(
                F.col("_path").alias("__dvp"), F.col("_pos").alias("__dvi")
            )
            # broadcast only while the manifest-known DV mass is small
            # (the common policy-bounded case — maintain()'s dv_ratio
            # purge keeps it there); a purge-scale mass must shuffle,
            # not OOM the driver with a forced broadcast build
            if sum(e["dv"]["rows"] for e in dvd) <= 5_000_000:
                dvdf = F.broadcast(dvdf)
            parts.append(
                scan.join(
                    dvdf,
                    (F.col("__dv_f") == F.col("__dvp"))
                    & (F.col("__dv_pos") == F.col("__dvi")),
                    "left_anti",
                ).drop("__dv_f", "__dv_pos")
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.select(
            *[
                F.col(m.get(f.name, f.name)).alias(f.name)
                for f in logical.fields
            ]
        )

    def _dv_positions_of(self, entry: dict):
        """Sorted int64 deleted-position array of an entry's DV
        (empty array when the entry has none)."""
        import numpy as np

        dv = entry.get("dv")
        if not dv:
            return np.empty(0, dtype=np.int64)
        return _dv_read_positions(self.root, dv["path"], entry["path"])

    def _dv_plan(self, man: dict, delta_df: DataFrame):
        """Pick the DV-construction path for a DML commit: returns
        ``(n_delta, files_affected, commit_kwargs)``.

        Probe-first: one ``limit(cap + 1)`` collect bounds the driver
        at ~100k rows.  A SMALL delta (and small prior DV mass on its
        touched files) then takes the driver dict path — the probe
        already holds every position, so the whole decision plus
        sidecar costs ONE Spark job, the r8 commit shape.  A big delta
        falls through to an exact per-file counts job (the
        rewrite-scale guard's input) and the executor-side sidecar
        write; no position list above the cap ever reaches the
        driver."""
        probe = delta_df.limit(_DV_INLINE_MAX + 1).collect()
        if len(probe) <= _DV_INLINE_MAX:
            counts: dict[str, int] = {}
            for r in probe:
                counts[r["__file"]] = counts.get(r["__file"], 0) + 1
            prior = sum(
                (e.get("dv") or {}).get("rows") or 0
                for e in man["files"]
                if e["path"] in counts
            )
            if len(probe) + prior <= _DV_INLINE_MAX:
                dv_updates: dict[str, list] = {}
                for r in probe:
                    dv_updates.setdefault(r["__file"], []).append(
                        r["__pos"]
                    )
                return len(probe), len(counts), {"dv_updates": dv_updates}
            # small delta over HEAVY priors: the union must not read
            # the prior mass to the driver — executor-side write, with
            # the delta counts already exact from the probe
            return (
                len(probe),
                len(counts),
                {"dv_updates_df": delta_df, "dv_delta_counts": counts},
            )
        counts = {
            r["__file"]: r["count"]
            for r in delta_df.groupBy("__file").count().collect()
        }
        return (
            sum(counts.values()),
            len(counts),
            {"dv_updates_df": delta_df, "dv_delta_counts": counts},
        )

    def _build_dv_sidecar(
        self,
        outdir: str,
        by_path: dict,
        dv_updates: dict | None,
        dv_updates_df,
        dv_delta_counts: dict | None,
    ):
        """Build one commit's DV sidecar into ``outdir`` (a version dir
        — the inline commit — or a staging dir — the lock-free
        prepare): validates the delta against ``by_path`` (path → base
        entry of every possibly-affected file), computes each touched
        file's FULL deleted-position count, and writes the sidecar via
        the driver (small dict form) or a Spark job (distributed
        form).  Returns ``(full_counts, alive_dv, sidecar_name)`` —
        ``sidecar_name`` None when every touched file is fully deleted
        (no sidecar needed)."""
        import numpy as np

        if dv_updates and dv_updates_df is not None:
            raise ValueError("pass dv_updates OR dv_updates_df, not both")
        if dv_updates_df is not None and not dv_delta_counts:
            raise ValueError(
                "dv_updates_df requires dv_delta_counts (the "
                "caller's per-file groupBy count — it already ran "
                "one for its rewrite-scale guard)"
            )
        touched_dv = set(dv_updates or dv_delta_counts)
        missing = touched_dv - set(by_path)
        if missing:
            raise ValueError(
                "dv_updates paths must name carried entries; "
                f"unknown: {sorted(missing)[:3]}"
            )
        if dv_updates:
            # driver path (small, driver-known sets): exact union +
            # range validation in numpy
            full: dict[str, object] = {}
            for rel, delta in dv_updates.items():
                pos = np.union1d(
                    self._dv_positions_of(by_path[rel]),
                    np.asarray(sorted(set(delta)), dtype=np.int64),
                )
                n_file = by_path[rel]["n_rows"]
                if len(pos) and (pos[0] < 0 or pos[-1] >= n_file):
                    raise ValueError(
                        f"dv position out of range for {rel} "
                        f"({pos[0]}..{pos[-1]} vs {n_file} rows)"
                    )
                full[rel] = pos
            full_counts = {r: len(p) for r, p in full.items()}
        else:
            # distributed path: counts are delta + prior — the scan
            # that produced the delta reads LIVE rows only (existing
            # DVs applied), so delta ∩ prior = ∅ and the sum is
            # exact; in-range rides the write job
            full_counts = {
                r: int(dv_delta_counts[r])
                + int((by_path[r].get("dv") or {}).get("rows") or 0)
                for r in touched_dv
            }
            for r, n in full_counts.items():
                if n > by_path[r]["n_rows"]:
                    raise ValueError(
                        f"dv delta for {r} implies {n} deleted "
                        f"rows of {by_path[r]['n_rows']} — "
                        "positions overlap the prior DV or "
                        "fall out of range"
                    )
        alive_dv = {
            r for r in touched_dv if full_counts[r] < by_path[r]["n_rows"]
        }
        name = None
        if alive_dv:
            os.makedirs(outdir, exist_ok=True)
            if dv_updates:
                name = _dv_write_sidecar(
                    outdir, {r: full[r] for r in alive_dv}
                )
            else:
                name = self._dv_write_sidecar_distributed(
                    outdir,
                    dv_updates_df,
                    by_path,
                    sorted(alive_dv),
                    expected_rows=sum(full_counts[r] for r in alive_dv),
                )
        return full_counts, alive_dv, name

    def _dv_write_sidecar_distributed(
        self,
        vdir: str,
        delta_df: DataFrame,
        by_path: dict,
        alive: list,
        *,
        expected_rows: int,
    ) -> str:
        """Write one commit's DV sidecar as a parquet DIRECTORY via a
        SPARK JOB — the scale path of :func:`_dv_write_sidecar`: no
        deleted position ever crosses the driver, so a 100M-row DV
        costs a small shuffle (repartition by file) instead of a fatal
        collect.  Content contract is identical to the single-file
        form (``_path``/``_pos``, each covered file's FULL set = new
        delta ∪ its prior sidecar's positions, sorted within file);
        readers (`pq.read_table` / `spark.read.parquet`) take files
        and directories alike.

        Validation rides the write: an Observation counts
        out-of-range positions against each file's physical row count
        (broadcast manifest-side info), and the observed total must
        equal ``expected_rows`` (delta counts + prior DV rows) — a
        duplicate or overlapping position surfaces as a mismatch.
        Both failure modes raise BEFORE the pointer swap, so a bad
        batch can never publish."""
        import uuid

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark = delta_df.sparkSession
        name = f"dv-{uuid.uuid4().hex[:16]}"
        out = os.path.join(vdir, name)
        info = spark.createDataFrame(
            [(r, by_path[r]["n_rows"]) for r in alive],
            "_path string, __n long",
        )
        # inner join: drops rows of fully-deleted (non-alive) files
        # AND attaches the row-count bound for range validation
        delta = delta_df.select(
            F.col("__file").alias("_path"),
            F.col("__pos").cast("long").alias("_pos"),
        )
        parts = [delta.join(F.broadcast(info), "_path", "inner")]
        prior_by_sidecar: dict[str, list] = {}
        for r in alive:
            dv = by_path[r].get("dv")
            if dv:
                prior_by_sidecar.setdefault(dv["path"], []).append(r)
        for sc_path, rels in sorted(prior_by_sidecar.items()):
            parts.append(
                spark.read.parquet(os.path.join(self.root, sc_path))
                .filter(F.col("_path").isin(rels))
                .select("_path", "_pos")
                .join(F.broadcast(info), "_path", "inner")
            )
        full = functools.reduce(DataFrame.unionByName, parts)
        # observe AFTER the (_path, _pos) dedup: a duplicate within
        # the delta or an overlap with the prior DV then surfaces as
        # observed-count < expected — structurally impossible when the
        # delta came from _read_entries_with_pos (live rows only), so
        # a shortfall means an engine/caller bug and must fail loud
        obs = Observation()
        full = (
            full.dropDuplicates(["_path", "_pos"])
            .observe(
                obs,
                F.sum(
                    F.when(
                        (F.col("_pos") < 0)
                        | (F.col("_pos") >= F.col("__n")),
                        1,
                    ).otherwise(0)
                ).alias("bad"),
                F.count(F.lit(1)).alias("n"),
            )
            .select("_path", "_pos")
        )
        # size output files to the position mass (~4 B/row on disk):
        # a medium DML should not mint 32 tiny part files per commit
        nparts = min(32, max(1, int(expected_rows) // 4_000_000 + 1))
        (
            full.repartition(nparts, "_path")
            .sortWithinPartitions("_path", "_pos")
            .write.mode("overwrite")
            .parquet(out)
        )
        got = obs.get
        if got["bad"]:
            raise ValueError(
                f"{self.root}: {got['bad']} DV position(s) out of "
                "range — the delta does not match the carried entries' "
                "physical row counts"
            )
        if int(got["n"] or 0) != int(expected_rows):
            raise ValueError(
                f"{self.root}: DV sidecar distinct-position count "
                f"{got['n']} != expected {expected_rows} — duplicate "
                "or prior-overlapping positions in the delta"
            )
        return name

    def _clone_dv_sidecar_spark(
        self, spark: SparkSession, vdir: str, dest_root: str, dv_pairs: list
    ) -> str:
        """Clone-side DV sidecar remap as a SPARK JOB: read the source
        sidecars (parquet), filter to the cloned entries, swap each
        ``_path`` to the clone's flattened entry path via a broadcast
        #files-row mapping, and write one directory sidecar into the
        clone's version dir.  O(DV mass) executor-side — the heavy-DV
        alternative to the driver rewrite in :meth:`clone_to`."""
        import uuid

        from pyspark.sql import functions as F

        mapping = spark.createDataFrame(
            [(e["path"], new) for e, new in dv_pairs],
            "_path string, __new string",
        )
        by_sc: dict[str, list] = {}
        for e, _new in dv_pairs:
            by_sc.setdefault(e["dv"]["path"], []).append(e["path"])
        parts = [
            spark.read.parquet(os.path.join(self.root, sc))
            .filter(F.col("_path").isin(rels))
            .select("_path", "_pos")
            for sc, rels in sorted(by_sc.items())
        ]
        full = functools.reduce(DataFrame.unionByName, parts)
        name = f"dv-{uuid.uuid4().hex[:16]}"
        out = os.path.join(vdir, name)
        (
            full.join(F.broadcast(mapping), "_path", "inner")
            .select(F.col("__new").alias("_path"), "_pos")
            .repartition(min(32, max(1, len(dv_pairs))), "_path")
            .sortWithinPartitions("_path", "_pos")
            .write.mode("overwrite")
            .parquet(out)
        )
        return os.path.relpath(out, dest_root)

    def _read_entry_positions_df(
        self,
        spark: SparkSession,
        man: dict,
        entry_map: dict,
        paths: list,
        pos_df: DataFrame,
    ) -> DataFrame:
        """Read ONLY the rows at the positions named by ``pos_df``
        (columns ``_path``/``_pos`` — e.g. a DV-delta anti-join over
        sidecar parquet, never collected) as a LOGICAL frame.  One
        scan over ``paths``, semi-joined on ``(_metadata.file_path,
        _metadata.row_index)``; the join strategy is AQE's call — a
        small delta broadcasts, a 100M-row delta shuffles."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        logical = StructType.fromJson(man["schema"])
        m = _mapping_of(man)
        scan = (
            spark.read.schema(_physical_schema(man))
            .parquet(
                *[
                    os.path.join(self.root, entry_map[p]["path"])
                    for p in sorted(paths)
                ]
            )
            .withColumn(
                "__dv_f", _file_rel_col(F.col("_metadata.file_path"))
            )
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
        )
        pos = pos_df.select(
            F.col("_path").alias("__dvp"),
            F.col("_pos").cast("long").alias("__dvi"),
        )
        return (
            scan.join(
                pos,
                (F.col("__dv_f") == F.col("__dvp"))
                & (F.col("__dv_pos") == F.col("__dvi")),
                "left_semi",
            )
            .drop("__dv_f", "__dv_pos")
            .select(
                *[
                    F.col(m.get(f.name, f.name)).alias(f.name)
                    for f in logical.fields
                ]
            )
        )

    def _read_entries_with_pos(
        self, spark: SparkSession, man: dict, entries: list
    ) -> DataFrame:
        """Read manifest entries as a LOGICAL frame carrying two extra
        provenance columns — ``__file`` (manifest-relative data file
        path) and ``__pos`` (row index within that file) — with each
        entry's existing deletion vector applied (an already-deleted
        row must never match again).  This is the merge-on-read WRITE
        path's input: the positions of matched rows become the next
        DV delta."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        logical = StructType.fromJson(man["schema"])
        m = _mapping_of(man)
        if not entries:
            return (
                spark.createDataFrame([], logical)
                .withColumn("__file", F.lit(None).cast("string"))
                .withColumn("__pos", F.lit(None).cast("long"))
            )
        scan = (
            spark.read.schema(_physical_schema(man))
            .parquet(*[os.path.join(self.root, e["path"]) for e in entries])
            .withColumn(
                "__file", _file_rel_col(F.col("_metadata.file_path"))
            )
            .withColumn("__pos", F.col("_metadata.row_index"))
        )
        sidecars = sorted(
            {e["dv"]["path"] for e in entries if e.get("dv")}
        )
        if sidecars:
            dvdf = spark.read.parquet(
                *[os.path.join(self.root, p) for p in sidecars]
            ).select(
                F.col("_path").alias("__dvp"), F.col("_pos").alias("__dvi")
            )
            # same broadcast gate as _read_manifest_files: shuffle
            # instead of force-broadcasting a purge-scale DV mass
            if (
                sum(e["dv"]["rows"] for e in entries if e.get("dv"))
                <= 5_000_000
            ):
                dvdf = F.broadcast(dvdf)
            scan = scan.join(
                dvdf,
                (F.col("__file") == F.col("__dvp"))
                & (F.col("__pos") == F.col("__dvi")),
                "left_anti",
            )
        return scan.select(
            *[
                F.col(m.get(f.name, f.name)).alias(f.name)
                for f in logical.fields
            ],
            "__file",
            "__pos",
        )

    def _read_resolved(self, spark: SparkSession, version: int) -> DataFrame:
        """Read a version through its manifest when it has one (file
        list + recorded schema — old files missing newly-evolved
        columns surface them as NULL), else as a plain directory."""
        man = self.manifest(version)
        if man is None:
            return spark.read.parquet(self._version_dir(version))
        return self._read_manifest_files(spark, man, man["files"])

    def column_mapping_of(self, version: int | None = None) -> dict:
        """Identity-completed ``{logical -> physical}`` column mapping
        of a version's manifest (live by default); ``{}`` for plain
        versions.  Physical names are what the data files and the
        manifest's ``key`` / ``stats_columns`` / per-file stats use;
        renames and drops are metadata-only, so the physical name of a
        column never changes once allocated."""
        v = self.current_version() if version is None else version
        if v is None:
            return {}
        return _mapping_of(self.manifest(v))

    def file_entries(
        self, spark: SparkSession, key: str, extra_columns: tuple | list = ()
    ) -> tuple[list[dict], object]:
        """The live version's data-file entries (manifest entries when
        present, else an ADOPTION footer scan of the plain directory)
        plus the table schema.  ``key`` / ``extra_columns`` are LOGICAL
        names; the returned entries' stats are keyed PHYSICALLY (what
        the files store — translate lookups via
        :meth:`column_mapping_of`).  Entries whose recorded key differs
        from ``key`` — or whose recorded stats don't cover every
        requested ``extra_columns`` — are re-scanned: stats for the
        wrong column must not prune, and missing columns must not
        silently read as always-touched when a footer walk can supply
        them."""
        from pyspark.sql.types import StructType

        extras = tuple(c for c in extra_columns if c != key)
        v = self.current_version()
        if v is None:
            # legacy plain directory (or absent table)
            df = self.read(spark)
            entries = scan_file_stats(
                self.root, key, relative_to=self.root, extra_columns=extras
            )
            return entries, df.schema
        man = self.manifest(v)
        m = _mapping_of(man)
        p_key = m.get(key, key)
        p_extras = tuple(m.get(c, c) for c in extras)
        if (
            man is not None
            and man.get("key") == p_key
            and set(p_extras) <= set(man.get("stats_columns", [p_key]))
        ):
            return list(man["files"]), StructType.fromJson(man["schema"])
        vdir = self._version_dir(v)
        entries = scan_file_stats(
            vdir, p_key, relative_to=self.root, extra_columns=p_extras
        )
        if man is not None:
            # manifest keyed on a DIFFERENT column (or lacking stats
            # coverage): keep its file list, rescan stats for ours
            # (paths may span older version dirs; one footer walk per
            # distinct directory)
            by_dir: dict[str, dict[str, dict]] = {}
            entries = []
            for e in man["files"]:
                full = os.path.join(self.root, e["path"])
                d = os.path.dirname(full)
                if d not in by_dir:
                    by_dir[d] = {
                        os.path.basename(s["path"]): s
                        for s in scan_file_stats(
                            d, p_key, relative_to=self.root,
                            extra_columns=p_extras,
                        )
                    }
                s = by_dir[d].get(os.path.basename(full))
                if s is not None:
                    # a footer rescan knows nothing of deletion
                    # vectors or bloom indexes — carry the manifest
                    # entry's refs (the stats stay conservative:
                    # deleted rows only ever NARROW the true range)
                    for aux in ("dv", "bloom"):
                        if e.get(aux):
                            s = {**s, aux: e[aux]}
                    entries.append(s)
            return entries, StructType.fromJson(man["schema"])
        return entries, spark.read.parquet(vdir).schema

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession) -> DataFrame:
        """Read the live version.  A legacy directory (plain parquet
        files, no pointer) reads as-is — first commit adopts it.  If an
        adoption crashed mid-way (orphan ``v…`` dirs beside legacy
        files, pointer never written), read only the top-level files:
        the legacy data stays live and the orphans stay invisible
        (they're reclaimed by the next commit/vacuum)."""
        v = self.current_version()
        if v is not None:
            return self._read_resolved(spark, v)
        if self._versions_on_disk():
            import glob

            if not glob.glob(os.path.join(self.root, "*.parquet")):
                # Version dirs exist but no pointer and no legacy files:
                # a first commit crashed before its pointer swap.  Say
                # so, instead of Spark's generic path-not-found.
                raise FileNotFoundError(
                    f"{self.root}: no committed version (version dirs "
                    "exist but the pointer was never written — crashed "
                    "first commit?); re-run the commit or vacuum"
                )
            return spark.read.parquet(os.path.join(self.root, "*.parquet"))
        return spark.read.parquet(self.root)

    def read_version(self, spark: SparkSession, version: int) -> DataFrame:
        """Time travel: read a specific committed (or current) version.

        Only versions that were actually live qualify: a version is
        readable when it carries the ``_COMMITTED`` marker AND is at or
        below the current pointer (a marker above the pointer is a
        crash orphan whose pointer swap never landed — it was never
        observable and must not become so retroactively), or when it IS
        the current pointer (compat with tables committed before the
        marker-first ordering)."""
        vdir = self._version_dir(version)
        cur = self.current_version()
        committed = os.path.exists(os.path.join(vdir, _COMMITTED))
        live_history = committed and cur is not None and version <= cur
        if not os.path.isdir(vdir) or not (live_history or version == cur):
            raise FileNotFoundError(
                f"version {version} not available (never committed or vacuumed)"
            )
        return self._read_resolved(spark, version)

    def versions(self) -> list[int]:
        """Committed (readable) versions, oldest first."""
        cur = self.current_version()
        if cur is None:
            return []
        return [
            v
            for v in self._versions_on_disk()
            if v == cur
            or (
                v < cur
                and os.path.exists(os.path.join(self._version_dir(v), _COMMITTED))
            )
        ]

    def committed_at(self, version: int) -> float:
        """Commit wall time (epoch seconds) of a committed version.

        The timestamp is stamped INSIDE the ``_COMMITTED`` marker at
        commit time (durable with the version, survives copies); tables
        written before the marker carried a payload fall back to the
        marker file's mtime — same observable, weaker durability."""
        mpath = os.path.join(self._version_dir(version), _COMMITTED)
        if not os.path.exists(mpath):
            raise FileNotFoundError(
                f"version {version} not available (never committed or vacuumed)"
            )
        try:
            with open(mpath) as f:
                return float(json.load(f)["ts"])
        except (ValueError, KeyError, json.JSONDecodeError):
            return os.path.getmtime(mpath)

    def read_as_of(self, spark: SparkSession, ts: float) -> DataFrame:
        """Time travel by TIMESTAMP: read the newest version whose
        commit time is <= ``ts`` (Delta's ``timestampAsOf`` semantics).
        Raises if ``ts`` predates the first retained commit — vacuumed
        history cannot be resurrected, and silently returning a LATER
        state than asked for would be wrong."""
        vs = self.versions()
        eligible = [v for v in vs if self.committed_at(v) <= ts]
        if not eligible:
            raise FileNotFoundError(
                f"no committed version at or before ts={ts!r} "
                f"(earliest retained: "
                f"{self.committed_at(vs[0]) if vs else None!r})"
            )
        return self._read_resolved(spark, max(eligible))

    def _segment_totals(self, version: int) -> dict | None:
        """O(segments) aggregates of a SEGMENTED manifest's per-entry
        sums (each ref records its chunk's n/rows/bytes/dv totals at
        write time), plus the raw doc — or None when the version is
        inline, plain, or missing.  Lets :meth:`history` /
        :meth:`detail` answer without materializing an 800k-entry file
        list per version."""
        raw = self._raw_manifest(version)
        # level-2 docs answer from the CHUNK rollups — O(chunks),
        # no ref-list load at all
        refs = (raw or {}).get("seg_ref_lists") or (raw or {}).get(
            "file_segments"
        )
        if not refs or any("rows" not in r for r in refs):
            return None
        return {
            "n_files": sum(r["n"] for r in refs),
            "rows": sum(r["rows"] for r in refs),
            "bytes": sum(r["bytes"] for r in refs),
            "dv_rows": sum(r["dv_rows"] for r in refs),
            "dv_files": sum(r["dv_files"] for r in refs),
            "raw": raw,
        }

    def detail(self) -> dict:
        """One-snapshot summary of the LIVE version (DESCRIBE DETAIL
        analog), pure manifest arithmetic — no data scan:
        ``{"version", "n_files", "n_rows" (logical), "dv_rows",
        "dv_files", "bytes", "key", "stats_columns", "bloom_columns",
        "constraints", "column_mapping", "operation"}``."""
        v = self.current_version()
        tot = self._segment_totals(v) if v is not None else None
        if tot is not None:
            # segmented fast path: pure ref arithmetic, zero
            # materialization (the metadata query stays O(segments)
            # on an 800k-file table)
            man = tot["raw"]
            n_files, n_rows = tot["n_files"], tot["rows"]
            n_bytes, dv_rows = tot["bytes"], tot["dv_rows"]
            dv_files = tot["dv_files"]
        else:
            man = self.manifest(v) if v is not None else None
            if man is None:
                raise ValueError(
                    f"{self.root}: detail() needs a committed keyed manifest "
                    "version (adopt a plain table with any "
                    "commit_with_manifest / pruned merge first)"
                )
            files = man["files"]
            dv_rows = sum(e["dv"]["rows"] for e in files if e.get("dv"))
            n_files = len(files)
            n_rows = sum(e.get("n_rows") or 0 for e in files)
            n_bytes = sum(e.get("bytes") or 0 for e in files)
            dv_files = sum(1 for e in files if e.get("dv"))
        inv = _inverse_mapping_of(man)
        return {
            "version": v,
            "n_files": n_files,
            "n_rows": n_rows - dv_rows,
            "dv_rows": dv_rows,
            "dv_files": dv_files,
            "bytes": n_bytes,
            "key": inv.get(man["key"], man["key"]),
            "stats_columns": [
                inv.get(c, c) for c in man.get("stats_columns") or []
            ],
            "key_columns": [
                inv.get(c, c) for c in man.get("key_columns") or []
            ],
            "bloom_columns": [
                inv.get(c, c) for c in man.get("bloom_columns") or []
            ],
            "constraints": dict(man.get("constraints") or {}),
            "column_mapping": dict(man.get("column_mapping") or {}),
            "operation": man.get("operation"),
            "clustering": dict(man.get("clustering") or {}) or None,
        }

    def history(self) -> list[dict]:
        """Commit log of the retained versions, newest first — the
        DESCRIBE HISTORY analog: ``{"version", "committed_at",
        "n_files", "n_rows", "bytes", "kind", "operation", "dv_rows",
        "app_metadata"}``.  ``kind`` is ``"manifest"`` (file list +
        stats) or ``"plain"`` (full directory rewrite); ``operation``
        is the engine write that produced the version (DELETE /
        UPDATE / MERGE / MERGE[mor] / OPTIMIZE[...] / RESTORE / ALTER
        ops — None for plain/user commits); ``n_rows`` is LOGICAL
        (physical rows minus deletion-vector rows, reported separately
        as ``dv_rows``).  Row/byte totals come from the manifest when
        present, else from a directory walk (footer-free either way —
        this never scans data)."""
        out = []
        for v in reversed(self.versions()):
            tot = self._segment_totals(v)
            man = tot["raw"] if tot is not None else self.manifest(v)
            if man is not None:
                if tot is not None:
                    # segmented fast path: ref arithmetic only — a
                    # 50-version history on an 800k-file table must
                    # not materialize 50 full file lists
                    n_files, n_rows = tot["n_files"], tot["rows"]
                    n_bytes, dv_rows = tot["bytes"], tot["dv_rows"]
                else:
                    files = man["files"]
                    dv_rows = sum(
                        e["dv"]["rows"] for e in files if e.get("dv")
                    )
                    n_files = len(files)
                    n_rows = sum(e.get("n_rows") or 0 for e in files)
                    n_bytes = sum(e.get("bytes") or 0 for e in files)
                entry = {
                    "version": v,
                    "committed_at": self.committed_at(v),
                    "n_files": n_files,
                    "n_rows": n_rows - dv_rows,
                    "dv_rows": dv_rows,
                    "bytes": n_bytes,
                    "kind": "manifest",
                    "operation": man.get("operation"),
                    "app_metadata": man.get("app_metadata") or {},
                }
            else:
                vdir = self._version_dir(v)
                fs = [
                    fn
                    for fn in os.listdir(vdir)
                    if fn.endswith(".parquet") and not fn.startswith(("_", "."))
                ]
                entry = {
                    "version": v,
                    "committed_at": self.committed_at(v),
                    "n_files": len(fs),
                    "n_rows": None,
                    "dv_rows": 0,
                    "bytes": sum(
                        os.path.getsize(os.path.join(vdir, fn)) for fn in fs
                    ),
                    "kind": "plain",
                    "operation": None,
                    "app_metadata": {},
                }
            out.append(entry)
        return out

    def restore(
        self,
        spark: SparkSession,
        version: int,
        *,
        verify_constraints: bool = True,
    ) -> int:
        """Roll the table back to a prior committed version as a NEW
        commit (Delta ``RESTORE TABLE ... TO VERSION AS OF`` analog) —
        history is preserved (the rolled-back commits stay
        time-travelable until vacuum) and downstream CDC consumers see
        the restore as an ordinary commit whose change feed is the NET
        UNDO diff (``changes_between(bad, restored)`` emits exactly the
        rows that revert the bad commits; the streaming CDF source
        replays the same).

        Zero-copy when ``version`` has a keyed manifest: the new commit
        carries that manifest's files BY REFERENCE — no data is read or
        rewritten, the restore costs one manifest write regardless of
        table size (the 100 TB property).  A plain full-directory
        version restores by re-committing its rows (one rewrite —
        unavoidable: plain files can't be referenced).  The commit
        CASes on the head observed here, so a racing writer turns the
        restore into a loud :class:`SnapshotConflictError` rather than
        a silent interleave.  ``app_metadata`` records
        ``restored_from``; a restore to the current version is a no-op.

        The LIVE constraint set survives the restore (constraints are
        table properties, not data) — so when it is non-empty the
        restored snapshot is VETTED first, the same one-scan check
        :meth:`add_constraint` runs over existing data: ordinary
        commits enforce constraints on NEW files only, and a restore
        carries the target version's files by reference, so a version
        predating ``add_constraint`` could otherwise silently
        reintroduce violating rows into a table that still declares
        the constraint.  Violation ⇒ :class:`ConstraintViolationError`,
        nothing published.  ``verify_constraints=False`` skips the scan
        (the caller accepts a possibly-violating restored state — e.g.
        restoring precisely to then drop the constraint).
        """
        from pyspark.sql import functions as F

        cur = self.current_version()
        if version == cur:
            return cur
        if version not in self.versions():
            raise FileNotFoundError(
                f"version {version} not available (never committed or vacuumed)"
            )
        live_cons = self.constraints_of()
        if verify_constraints and live_cons:
            names = list(live_cons)
            # one pass over the restored snapshot for all constraints
            row = self.read_version(spark, version).agg(
                *[
                    F.sum(
                        F.when(
                            ~F.coalesce(F.expr(live_cons[n]), F.lit(True)), 1
                        ).otherwise(0)
                    ).alias(f"c{i}")
                    for i, n in enumerate(names)
                ]
            ).collect()[0]
            for i, n in enumerate(names):
                if row[f"c{i}"]:
                    raise ConstraintViolationError(
                        n, live_cons[n], int(row[f"c{i}"])
                    )
        man = self.manifest(version)
        if man is None:
            return self.commit(
                self.read_version(spark, version),
                expected_base_version=cur,
            )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(man["schema"])
        empty = spark.createDataFrame([], schema)
        meta = dict(man.get("app_metadata") or {})
        meta["restored_from"] = version
        inv = _inverse_mapping_of(man)  # manifest key/stats are physical
        return self.commit_with_manifest(
            empty,
            inv.get(man["key"], man["key"]),
            carried=man["files"],
            cluster_partitions=1,
            stats_columns=[
                inv.get(c, c) for c in man.get("stats_columns") or []
            ] or None,
            # the RESTORED version's row identity, like stats/mapping —
            # an explicit (possibly empty) list, so the default
            # inheritance cannot stamp the rolled-back head's identity
            # onto data whose identity is the restore target's
            key_columns=[
                inv.get(c, c) for c in man.get("key_columns") or []
            ],
            app_metadata=meta,
            column_mapping=man.get("column_mapping") or {},
            retired_physical=man.get("retired_physical") or [],
            expected_base_version=cur,
            operation="RESTORE",
        )

    def clone_to(
        self,
        dest_root: str,
        *,
        version: int | None = None,
        set_cdc_watermark: bool = True,
        app_metadata: dict | None = None,
        spark: SparkSession | None = None,
        dv_spark_threshold: int = 5_000_000,
    ) -> int:
        """Zero-copy CLONE: publish this table's snapshot as version 1
        of a FRESH table at ``dest_root`` (Delta ``CREATE TABLE ...
        SHALLOW CLONE`` analog) — no data is read or rewritten, the
        clone costs one hardlink per data file plus one manifest write
        regardless of table size, and runs no Spark job at all — with
        one exception: DV sidecars key rows on entry paths the clone
        flattens, so they are rewritten; pass ``spark`` and a table
        whose DV mass exceeds 5M rows remaps them with a bounded Spark
        job instead of a driver read (below that, or without a
        session, the driver rewrite is a few tens of MB).

        Files are HARDLINKED into the clone's own version directory, so
        the two tables share inodes but own independent lifecycles:
        either side's ``vacuum`` merely unlinks its own names and can
        never break the other (the object-store equivalent is Delta's
        path-by-reference shallow clone, which instead needs retention
        protection on the source — hardlinks make that caveat vanish on
        a filesystem).  Cross-device targets degrade to a file copy,
        still manifest-driven and Spark-free.

        Per-file stats, ``stats_columns``, and CHECK constraints carry
        over verbatim (a clone of a vetted table is vetted — the files
        are bit-identical).  ``app_metadata`` records ``cloned_from``;
        with ``set_cdc_watermark`` (default) it also seeds
        ``cdc_last_applied_version`` to the cloned version, which is
        exactly the watermark :func:`~..operators.merge.sync_replica` /
        ``sync_replica_stream`` resume from — so CDC replica seeding is
        ``clone_to`` + sync, with no full-copy seed step.

        Requires a keyed-manifest snapshot (``version`` defaults to the
        live one); a plain full-directory version has no file list to
        reference — adopt it first (any manifest commit does).
        """
        src_v = self.current_version() if version is None else version
        if src_v is None or src_v not in self.versions():
            raise FileNotFoundError(
                f"version {src_v} not available (never committed or vacuumed)"
            )
        man = self.manifest(src_v)
        if man is None:
            raise ValueError(
                f"{self.root} v{src_v} is a plain full-directory version "
                "with no manifest to clone by reference — commit it "
                "through commit_with_manifest (e.g. a keyed adopt) first"
            )
        dest = VersionedParquetTable(dest_root)
        dest._acquire_lock()
        try:
            if dest._versions_on_disk() or dest.current_version() is not None:
                raise ValueError(
                    f"clone target {dest_root} is not a fresh root "
                    "(it already has versions)"
                )
            vdir = dest._version_dir(1)
            os.makedirs(vdir, exist_ok=True)
            def _link_in(rel: str) -> str:
                src_p = os.path.join(self.root, rel)
                # flatten "v00000003/part-x.parquet" → unique flat
                # name; lstrip the underscore a staged path
                # ("_staged/p-…") would leave, because Spark's
                # hidden-file filter silently skips "_"-prefixed data
                # files (uniqueness holds: version paths start with
                # "v", so stripped staged names cannot collide)
                dst_p = os.path.join(
                    vdir, rel.replace(os.sep, "_").lstrip("_")
                )
                if not os.path.exists(dst_p):
                    try:
                        os.link(src_p, dst_p)
                    except OSError:
                        shutil.copy2(src_p, dst_p)
                return os.path.relpath(dst_p, dest.root)

            new_entries = []
            dv_pairs: list[tuple] = []  # (source entry, clone rel path)
            blooms: dict[str, dict] = {}
            for e in man["files"]:
                ne = {**e, "path": _link_in(e["path"])}
                if e.get("dv"):
                    # DV / bloom sidecars key their rows on the SOURCE
                    # table's entry paths, which the clone flattens —
                    # rewrite each into ONE fresh sidecar keyed on the
                    # clone's paths (O(sidecar mass), the data files
                    # themselves stay zero-copy hardlinks)
                    dv_pairs.append((e, ne["path"]))
                if e.get("bloom"):
                    blooms[ne["path"]] = _bloom_read_sidecar(
                        self.root, e["bloom"]["path"], e["path"]
                    )
                new_entries.append(ne)
            if dv_pairs:
                total_dv = sum(e["dv"]["rows"] for e, _ in dv_pairs)
                if spark is not None and total_dv > dv_spark_threshold:
                    # heavy DV mass: remap the sidecar with a Spark
                    # job (read source sidecars, broadcast-map the
                    # entry paths, write a directory sidecar) — the
                    # positions never cross the driver
                    sc_rel = self._clone_dv_sidecar_spark(
                        spark, vdir, dest.root, dv_pairs
                    )
                else:
                    dv_positions = {
                        new: _dv_read_positions(
                            self.root, e["dv"]["path"], e["path"]
                        )
                        for e, new in dv_pairs
                    }
                    sc = _dv_write_sidecar(vdir, dv_positions)
                    sc_rel = os.path.relpath(
                        os.path.join(vdir, sc), dest.root
                    )
                for ne in new_entries:
                    if ne.get("dv"):
                        ne["dv"] = {"path": sc_rel, "rows": ne["dv"]["rows"]}
            if blooms:
                sc = _bloom_write_sidecar(vdir, blooms)
                sc_rel = os.path.relpath(os.path.join(vdir, sc), dest.root)
                for ne in new_entries:
                    if ne.get("bloom"):
                        ne["bloom"] = {
                            "path": sc_rel,
                            "cols": sorted(blooms[ne["path"]]),
                        }
            meta = dict(man.get("app_metadata") or {})
            meta["cloned_from"] = {"root": self.root, "version": src_v}
            if set_cdc_watermark:
                meta["cdc_last_applied_version"] = src_v
            meta.update(app_metadata or {})
            new_man = {
                "key": man["key"],
                "schema": man["schema"],
                "files": new_entries,
                "app_metadata": meta,
            }
            if man.get("stats_columns"):
                new_man["stats_columns"] = list(man["stats_columns"])
            if man.get("key_columns"):
                new_man["key_columns"] = list(man["key_columns"])
            if man.get("column_mapping"):
                new_man["column_mapping"] = dict(man["column_mapping"])
            if man.get("retired_physical"):
                new_man["retired_physical"] = list(man["retired_physical"])
            if man.get("constraints"):
                new_man["constraints"] = dict(man["constraints"])
            if man.get("bloom_columns"):
                new_man["bloom_columns"] = list(man["bloom_columns"])
            new_man["operation"] = "CLONE"
            dest._persist_manifest(vdir, new_man)
            dest._write_marker(vdir)
            dest._swap_pointer(1)
            return 1
        finally:
            dest._release_lock()

    # ------------------------------------------------------ constraints
    def constraints_of(self, version: int | None = None) -> dict:
        """The CHECK constraints recorded in a version's manifest
        (live version by default); ``{}`` for plain versions."""
        v = self.current_version() if version is None else version
        if v is None:
            return {}
        return (self.manifest(v) or {}).get("constraints") or {}

    def _manifest_only_commit(self, mutate) -> int:
        """Publish a METADATA-ONLY commit: the live manifest document,
        transformed by ``mutate(man_copy) -> man``, becomes the next
        version with every data file carried by reference — no Spark
        job, no data read or written, one manifest write at any table
        size (the shape of Delta's ALTER TABLE commits).  Runs wholly
        under the writer lock, so the read-modify-write is serial by
        construction (no CAS window).  CDC consumers see a commit whose
        file diff is empty — the change feed is silent, correctly: no
        row changed."""
        self._acquire_lock()
        try:
            cur = self.current_version()
            man = self.manifest(cur) if cur is not None else None
            if man is None:
                raise ValueError(
                    f"{self.root}: metadata commits need a committed keyed "
                    "manifest version (adopt the table with "
                    "commit_with_manifest first)"
                )
            self._reconcile_orphans()
            versions = self._versions_on_disk()
            next_v = (versions[-1] + 1) if versions else 1
            vdir = self._version_dir(next_v)
            os.makedirs(vdir, exist_ok=True)
            import inspect

            copy = json.loads(json.dumps(man))
            # operation attribution is PER-COMMIT, never inherited —
            # the mutator sets its own (ALTER[...]) if it wants one
            copy.pop("operation", None)
            if len(inspect.signature(mutate).parameters) >= 2:
                # mutate may also place sidecar files (bloom indexes)
                # into the version dir it is committing
                new_man = mutate(copy, vdir)
            else:
                new_man = mutate(copy)
            self._persist_manifest(vdir, new_man, base_version=cur)
            self._write_marker(vdir)
            self._swap_pointer(next_v)
            return next_v
        finally:
            self._release_lock()

    def _metadata_commit(self, spark: SparkSession, constraints: dict) -> int:
        """Zero-copy commit that changes only the constraint set (all
        data files carried by reference; same shape as restore)."""

        def mutate(man):
            if constraints:
                man["constraints"] = dict(constraints)
            else:
                man.pop("constraints", None)
            man["operation"] = "ALTER[constraints]"
            return man

        return self._manifest_only_commit(mutate)

    # ------------------------------------------------- column mapping
    def _constraint_referencing(self, man: dict, col: str) -> str | None:
        """Name of a CHECK constraint whose expression references
        ``col`` (word-boundary match — conservative), else None."""
        for n, expr in (man.get("constraints") or {}).items():
            if re.search(rf"\b{re.escape(col)}\b", expr, re.IGNORECASE):
                return n
        return None

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column RENAME (Delta column-mapping analog):
        the logical schema renames; the PHYSICAL column name in every
        data file — and therefore the manifest's key / stats /
        clustering layout — never changes, so the commit is one
        manifest write at any table size and pruning stats survive
        untouched (renaming the clustering key included).

        Blocked while a CHECK constraint references ``old`` (its
        expression would silently stop binding) — drop the constraint,
        rename, re-add it under the new name.  The batch CDF maps
        pre-images across the rename by PHYSICAL identity (the renamed
        column's history stays one column); the STREAMING CDF source
        fails loud at the rename boundary (stream-start schema pins
        logical names) — restart it past the rename, or export the
        spanning range with the batch API."""
        def mutate(man):
            fields = man["schema"]["fields"]
            names = [f["name"] for f in fields]
            if old not in names:
                raise KeyError(f"no column named {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            bad = self._constraint_referencing(man, old)
            if bad:
                raise ValueError(
                    f"cannot rename {old!r}: CHECK constraint {bad!r} "
                    "references it — drop the constraint first"
                )
            mapping = _mapping_of(man)
            phys = mapping.pop(old)
            mapping[new] = phys
            for f in fields:
                if f["name"] == old:
                    f["name"] = new
            sparse = {l: p for l, p in mapping.items() if l != p}
            if sparse:
                man["column_mapping"] = sparse
            else:
                man.pop("column_mapping", None)
            man["operation"] = "ALTER[rename]"
            return man

        return self._manifest_only_commit(mutate)

    def drop_column(self, col: str) -> int:
        """Metadata-only column DROP: the column leaves the logical
        schema and the mapping; the physical column stays in existing
        files (never read again) and its physical NAME is retired so a
        later re-add under the same logical name allocates a fresh
        physical name instead of resurrecting orphaned values.
        Blocked for the clustering key, for recorded stats columns
        (pruning depends on them), and while a CHECK constraint
        references the column."""
        def mutate(man):
            names = [f["name"] for f in man["schema"]["fields"]]
            if col not in names:
                raise KeyError(f"no column named {col!r}")
            mapping = _mapping_of(man)
            phys = mapping[col]
            if phys == man.get("key"):
                raise ValueError(
                    f"cannot drop {col!r}: it is the clustering key"
                )
            if phys in (man.get("stats_columns") or []):
                raise ValueError(
                    f"cannot drop {col!r}: it is a recorded stats column "
                    "(composite-key pruning depends on it)"
                )
            if phys in (man.get("key_columns") or []):
                raise ValueError(
                    f"cannot drop {col!r}: it is a row-identity key "
                    "component (the change feed and merges depend on it)"
                )
            bad = self._constraint_referencing(man, col)
            if bad:
                raise ValueError(
                    f"cannot drop {col!r}: CHECK constraint {bad!r} "
                    "references it — drop the constraint first"
                )
            man["schema"]["fields"] = [
                f for f in man["schema"]["fields"] if f["name"] != col
            ]
            mapping.pop(col)
            sparse = {l: p for l, p in mapping.items() if l != p}
            if sparse:
                man["column_mapping"] = sparse
            else:
                man.pop("column_mapping", None)
            retired = list(man.get("retired_physical") or [])
            if phys not in retired:
                retired.append(phys)
            man["retired_physical"] = retired
            man["operation"] = "ALTER[drop]"
            return man

        return self._manifest_only_commit(mutate)

    def widen_column(self, col: str, new_type: str) -> int:
        """Metadata-only TYPE WIDENING: the logical type widens; files
        written before keep the narrow physical type and Spark's
        parquet reader upcasts them natively on scan, so no data is
        rewritten.  Allowed widenings are the reader-supported
        upcasts: tinyint/smallint/int up the integer ladder and
        float->double (anything else raises — a narrowing or a
        cross-family cast would need a rewrite, which this
        deliberately is not).  Widening the clustering key is fine:
        file stats compare numerically across widths."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        def mutate(man):
            fields = man["schema"]["fields"]
            names = [f["name"] for f in fields]
            if col not in names:
                raise KeyError(f"no column named {col!r}")
            cur_t = StructType.fromJson(man["schema"])[col].dataType
            want = _parse_datatype_string(new_type)
            cur_s, want_s = cur_t.simpleString(), want.simpleString()
            if want_s not in _WIDENINGS.get(cur_s, ()):  # noqa: E501
                raise ValueError(
                    f"cannot widen {col!r} {cur_s} -> {want_s}: not a "
                    f"supported metadata-only widening "
                    f"({_WIDENINGS.get(cur_s) or 'none from this type'})"
                )
            for f in fields:
                if f["name"] == col:
                    f["type"] = want.jsonValue()
            man["operation"] = "ALTER[widen]"
            return man

        return self._manifest_only_commit(mutate)

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """Add a table CHECK constraint (Delta ``ALTER TABLE ... ADD
        CONSTRAINT`` analog): EXISTING rows are vetted first (one scan —
        the unavoidable Delta-parity cost, paid once at add time), then
        the constraint lands in the manifest via a zero-copy metadata
        commit.  Every later commit enforces it on its new files only
        and propagates it; violation aborts the commit pre-publish.
        SQL CHECK semantics: only a literally-FALSE row violates."""
        from pyspark.sql import functions as F

        n_bad = (
            self.read(spark)
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .count()
        )
        if n_bad:
            raise ConstraintViolationError(name, expr, n_bad)
        new = dict(self.constraints_of())
        new[name] = expr
        return self._metadata_commit(spark, new)

    def drop_constraint(self, spark: SparkSession, name: str) -> int:
        """Remove a CHECK constraint via a zero-copy metadata commit."""
        cur = dict(self.constraints_of())
        if name not in cur:
            raise KeyError(f"no constraint named {name!r}")
        del cur[name]
        return self._metadata_commit(spark, cur)

    # ----------------------------------------------------------- commit
    def _write_marker(self, vdir: str) -> None:
        """Stamp the ``_COMMITTED`` marker with the commit wall time
        (fsynced — the marker is a durability point in the crash
        protocol, payload or not)."""
        import time

        with open(os.path.join(vdir, _COMMITTED), "w") as f:
            json.dump({"ts": time.time()}, f)
            f.flush()
            os.fsync(f.fileno())

    def commit(self, df: DataFrame, *, expected_base_version=_NO_CAS) -> int:
        """Write ``df`` as the next version, mark it ``_COMMITTED``,
        then swap the pointer (the single atomic commit point).

        Crash-window guarantees: dying during the version write, after
        the marker, or before the pointer swap leaves the previous
        version (or the legacy files) live; the orphan directory is
        above the pointer so no read path can observe it, and it is
        reclaimed here (reconcile) or by ``vacuum``.  Marker BEFORE
        pointer means every version that was ever live carries the
        marker — a later commit can never make live history look like
        an orphan.

        Single-writer guard: the whole commit runs under an exclusive
        lock file (``O_CREAT|O_EXCL`` — atomic on POSIX).  A second
        in-flight writer raises :class:`ConcurrentCommitError` loudly
        instead of interleaving version numbers / racing the pointer
        swap.  A lock left by a CRASHED committer (its pid no longer
        alive on this host) is stolen; a live holder is never.

        ``expected_base_version`` turns the commit into a
        compare-and-swap: if the live version under the lock differs
        from the snapshot the caller computed against,
        :class:`SnapshotConflictError` is raised and nothing is
        published (lost-update protection for read-modify-write
        writers; ``None`` asserts the table is still empty)."""
        self._acquire_lock()
        try:
            if expected_base_version is not _NO_CAS:
                cur = self.current_version()
                if cur != expected_base_version:
                    raise SnapshotConflictError(expected_base_version, cur)
            self._reconcile_orphans()
            versions = self._versions_on_disk()
            next_v = (versions[-1] + 1) if versions else 1
            vdir = self._version_dir(next_v)
            df.write.mode("overwrite").parquet(vdir)
            self._write_marker(vdir)
            self._swap_pointer(next_v)
            return next_v
        finally:
            self._release_lock()

    def _resolve_write_meta(
        self,
        df: DataFrame,
        key: str,
        *,
        base_version: int | None,
        version_hint: int,
        stats_columns=None,
        key_columns=None,
        column_mapping=None,
        retired_physical=None,
        constraints=None,
        bloom_columns=None,
        clustering=None,
        cluster_by=None,
        append_split=None,
    ) -> dict:
        """Resolve a commit's logical→physical write state against
        ``base_version``'s manifest: column mapping (renames/drops stay
        metadata-only — data files carry PHYSICAL names), inherited
        constraints / bloom columns / key identity, and the physically
        re-aliased ``df``.  The first step of :meth:`_write_phase`: a
        prepared commit resolves against its CAS snapshot, an inline
        one against the live head, and that stays sound through a
        logical rebase
        because ``_REBASE_META_FIELDS`` (schema, mapping, constraints,
        blooms …) must be IDENTICAL between base and head for the
        rebase to publish at all.  ``version_hint`` only disambiguates
        evolved-column physical names (``<name>__v<hint>``) — any
        unique suffix is correct."""
        from pyspark.sql import functions as F

        # RAW doc suffices: every inherited field is inline in both
        # storage forms — inheriting must never materialize an
        # 800k-entry file list
        prior_man = (
            self._raw_manifest(base_version)
            if base_version is not None
            and (
                column_mapping is None
                or retired_physical is None
                or constraints is None
                or bloom_columns is None
                or clustering is None
                or key_columns is None
            )
            else None
        )
        if clustering is None:
            clustering = (prior_man or {}).get("clustering")
        if cluster_by is not None and append_split is not None:
            raise ValueError(
                "cluster_by cannot combine with append_split: band "
                "layouts are key-range layouts by definition"
            )
        if column_mapping is None:
            column_mapping = dict(
                (prior_man or {}).get("column_mapping") or {}
            )
        else:
            column_mapping = dict(column_mapping)
        if retired_physical is None:
            retired_physical = list(
                (prior_man or {}).get("retired_physical") or []
            )
        logical_schema = df.schema
        used_phys = set(column_mapping.values()) | set(retired_physical)
        for f in logical_schema.fields:
            if f.name not in column_mapping:
                phys = (
                    f.name
                    if f.name not in used_phys
                    else f"{f.name}__v{version_hint}"
                )
                if phys != f.name:
                    column_mapping[f.name] = phys
                used_phys.add(phys)
        # sparse store: identity entries are implicit
        column_mapping = {l: p for l, p in column_mapping.items() if l != p}
        _p = lambda c: column_mapping.get(c, c)
        key = _p(key)
        stats_columns = (
            [_p(c) for c in stats_columns] if stats_columns else None
        )
        # row-identity columns, recorded DISTINCTLY from stats columns
        # (stats may carry skip-only columns that are not key
        # components); inherited from the prior manifest so the
        # identity survives metadata and carried-file commits
        if key_columns is not None:
            key_columns = [_p(c) for c in key_columns]
        else:
            key_columns = list((prior_man or {}).get("key_columns") or [])
        if column_mapping:
            df = df.select(
                *[
                    F.col(f.name).alias(_p(f.name))
                    for f in logical_schema.fields
                ]
            )
        if bloom_columns is None:
            bloom_columns = list(
                (prior_man or {}).get("bloom_columns") or []
            )
        else:
            bloom_columns = [_p(c) for c in bloom_columns]
        if constraints is None:
            constraints = (prior_man or {}).get("constraints") or {}
        return {
            "df": df,
            "key": key,
            "stats_columns": stats_columns,
            "key_columns": key_columns,
            "column_mapping": column_mapping,
            "retired_physical": retired_physical,
            "constraints": constraints,
            "bloom_columns": bloom_columns,
            "clustering": clustering,
            "schema_json": logical_schema.jsonValue(),
            "logical_schema": logical_schema,
        }

    def _write_clustered_data(
        self,
        df: DataFrame,
        outdir: str,
        key: str,
        n_out: int,
        *,
        append_split=None,
        cluster_by=None,
    ) -> None:
        """The commit's DATA-file write: one shuffle, one sort within
        partitions, one parquet write.  Pure data placement, run by
        :meth:`_write_phase` (the write's output is version-independent).

        Without ``append_split`` the rows range-cluster on ``key`` (or
        ``cluster_by``) into ``n_out`` files.  With it, each row's
        output partition is the number of cut points its key has passed
        (see :meth:`commit_with_manifest`): a bare value ``v`` is the cut
        ``key >= v``, a band ``(lo, hi)`` the two cuts ``key >= lo`` and
        ``key > hi``, so no output file's [min, max] spans a band edge.
        The id is a balanced comparison tree over the sorted cuts
        (O(log cuts) per row) and ``repartitionById`` routes each row
        straight to its partition: no sampling job, no per-band query.
        A NULL key passes no cut (lowest partition, where the CDF reader
        expects it).  Empty partitions write no file, and the zero-row
        file an empty write leaves is dropped by ``scan_file_stats``."""
        from pyspark.sql import functions as F

        if append_split is None:
            cexpr = cluster_by if cluster_by is not None else F.col(key)
            # a single output partition needs no range bounds, and
            # repartitionByRange would still run its sampling JOB
            out = (
                df.repartition(1)
                if n_out == 1
                else df.repartitionByRange(n_out, cexpr)
            )
            out.sortWithinPartitions(cexpr).write.mode("overwrite").parquet(
                outdir
            )
            return
        # (value, strict): the lower edge (v, False) sorts just below v,
        # the upper edge (v, True) just above it
        cuts = sorted(
            {
                c
                for s in (
                    append_split
                    if isinstance(append_split, list)
                    else [append_split]
                )
                for c in (
                    [(s[0], False), (s[1], True)]
                    if isinstance(s, tuple)
                    else [(s, False)]
                )
            }
        )
        k = F.col(key)

        def _pid(i: int, j: int):
            # rows here have passed cuts[:i] and none of cuts[j:]
            if i == j:
                return F.lit(i)
            m = (i + j) // 2
            v, strict = cuts[m]
            return F.when(
                k > F.lit(v) if strict else k >= F.lit(v), _pid(m + 1, j)
            ).otherwise(_pid(i, m))

        (
            df.repartitionById(len(cuts) + 1, _pid(0, len(cuts)))
            .sortWithinPartitions(k)
            .write.mode("overwrite")
            .parquet(outdir)
        )

    def _enforce_constraints(
        self, spark, constraints: dict, new_entries: list,
        column_mapping: dict, logical_schema,
    ) -> None:
        """CHECK-constraint enforcement over a commit's NEW data files
        only (delta-scale — carried files passed their own commit's
        check).  SQL semantics: a row violates only when the expression
        is literally FALSE (NULL passes, standard CHECK)."""
        from pyspark.sql import functions as F

        _p = lambda c: column_mapping.get(c, c)
        # constraint exprs are LOGICAL: read the new files
        # (physical names) and alias back before evaluating
        phys_schema = _physical_schema(
            {"schema": logical_schema.jsonValue(),
             "column_mapping": column_mapping}
        )
        checked = spark.read.schema(phys_schema).parquet(
            *[os.path.join(self.root, e["path"]) for e in new_entries]
        ).select(
            *[
                F.col(_p(f.name)).alias(f.name)
                for f in logical_schema.fields
            ]
        )
        names = list(constraints)
        # ONE pass over the new files for all constraints
        row = checked.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(constraints[n]), F.lit(True)),
                        1,
                    ).otherwise(0)
                ).alias(f"c{i}")
                for i, n in enumerate(names)
            ]
        ).collect()[0]
        for i, n in enumerate(names):
            if row[f"c{i}"]:
                raise ConstraintViolationError(
                    n, constraints[n], int(row[f"c{i}"])
                )

    # grace window protecting IN-FLIGHT prepares from the staged-dir
    # GC: a racing writer's staging directory exists before any
    # manifest references it, so vacuum only reclaims unreferenced
    # staged dirs older than this (same crashed-run convention as the
    # catalog scratch GC).  A prepare that holds its token longer than
    # this without committing must re-prepare.
    staged_gc_grace_seconds: float = 3600.0

    def prepare_commit(
        self,
        df: DataFrame,
        key: str,
        *,
        base_version: int | None = None,
        cluster_partitions: int | None = None,
        append_split=None,
        stats_columns=None,
        key_columns=None,
        column_mapping=None,
        retired_physical=None,
        constraints=None,
        bloom_columns=None,
        cluster_by=None,
        entry_flags: dict | None = None,
        clustering: dict | None = None,
        dv_updates: dict | None = None,
        dv_updates_df: DataFrame | None = None,
        dv_delta_counts: dict | None = None,
        dv_touched: dict | None = None,
    ) -> dict:
        """Run a commit's WRITE PHASE under no lock, into a
        content-addressed staging directory (``_staged/p-<token>/``),
        and return the prepared token for
        ``commit_with_manifest(prepared=...)``.

        The write phase (:meth:`_write_phase`) holds every Spark job a
        commit needs: the clustered data write, the footer stats scan,
        the bloom build, the constraint check and (merge-on-read) the
        DV sidecar write.  Preparing it lock-free lets N racing
        writers' data jobs run in PARALLEL; the publish's lock hold
        then covers only conflict analysis (CAS / logical rebase) and
        the manifest/marker/pointer write — driver metadata work in
        O(touched).

        The staging placement is version-independent and rename-free:
        data files stay in the staging directory forever and manifests
        reference them there, exactly like carried version-dir entries
        — nothing moves at publish time, so the object-store protocol
        needs no copy.  Abandoned stagings (a conflicted prepare that
        must recompute, or a crashed writer) are reclaimed by
        :meth:`vacuum` after ``staged_gc_grace_seconds``.

        ``base_version`` — the CAS snapshot the caller computed
        against (defaults to the live version); inherited metadata
        (mapping, constraints, blooms) resolves against it, which a
        logical rebase keeps sound (``_REBASE_META_FIELDS``).

        ``dv_updates`` / ``dv_updates_df`` + ``dv_delta_counts`` — the
        merge-on-read deletes (same contract as
        :meth:`commit_with_manifest`); require ``dv_touched`` (path →
        BASE entry of every possibly-affected file — the commit-time
        ``carried_touched`` set).  The sidecar is sound through a
        rebase because it depends only on the touched entries' prior
        DVs, which ``_rebase_compatible`` proves identical between
        base and head.

        Returns the prepared token (a plain dict; treat as opaque).
        On any failure the staging directory is removed before the
        exception propagates."""
        import uuid

        if base_version is None:
            base_version = self.current_version()
        return self._write_phase(
            df,
            key,
            os.path.join(_STAGED, f"p-{uuid.uuid4().hex}"),
            base_version=base_version,
            version_hint=(base_version or 0) + 1,
            cluster_partitions=cluster_partitions,
            append_split=append_split,
            stats_columns=stats_columns,
            key_columns=key_columns,
            column_mapping=column_mapping,
            retired_physical=retired_physical,
            constraints=constraints,
            bloom_columns=bloom_columns,
            cluster_by=cluster_by,
            entry_flags=entry_flags,
            clustering=clustering,
            dv_updates=dv_updates,
            dv_updates_df=dv_updates_df,
            dv_delta_counts=dv_delta_counts,
            dv_touched=dv_touched,
        )

    def _write_phase(
        self,
        df: DataFrame,
        key: str,
        out_rel: str,
        *,
        base_version: int | None,
        version_hint: int,
        cluster_partitions: int | None = None,
        append_split=None,
        cluster_by=None,
        entry_flags: dict | None = None,
        dv_updates: dict | None = None,
        dv_updates_df: DataFrame | None = None,
        dv_delta_counts: dict | None = None,
        dv_touched: dict | None = None,
        skip_data_write: bool = False,
        **meta_args,
    ) -> dict:
        """The ONE write phase of every manifest commit: resolve the
        logical→physical write state against ``base_version``, write
        the range-clustered data files into ``out_rel`` (relative to
        the root), scan their footer stats, stamp ``entry_flags``,
        build blooms, enforce CHECK constraints and write the DV
        sidecar.  ``skip_data_write`` writes no data files (the
        metadata-shape commit: DVs only, or nothing).

        :meth:`prepare_commit` runs it lock-free into a staging dir;
        the inline :meth:`commit_with_manifest` runs it under the lock,
        after the CAS and rebase, into the new version dir.  Either way
        it returns the same token (``new_entries``, the resolved
        metadata and the ``dv`` sidecar refs) and the publish reads
        nothing else.  On failure ``out_rel`` is removed before the
        exception propagates (nothing references it yet)."""
        meta = self._resolve_write_meta(
            df,
            key,
            base_version=base_version,
            version_hint=version_hint,
            cluster_by=cluster_by,
            append_split=append_split,
            **meta_args,
        )
        outdir = os.path.join(self.root, out_rel)
        new_entries: list = []
        dv = None
        try:
            if skip_data_write:
                os.makedirs(outdir, exist_ok=True)
            else:
                n_out = cluster_partitions or int(
                    df.sparkSession.conf.get(
                        "spark.sql.shuffle.partitions", "8"
                    )
                )
                self._write_clustered_data(
                    meta["df"],
                    outdir,
                    meta["key"],
                    n_out,
                    append_split=append_split,
                    cluster_by=cluster_by,
                )
                extras = tuple(
                    c
                    for c in (meta["stats_columns"] or ())
                    if c != meta["key"]
                )
                new_entries = scan_file_stats(
                    outdir,
                    meta["key"],
                    relative_to=self.root,
                    extra_columns=extras,
                )
            for e in new_entries:
                e.update(entry_flags or {})
            if meta["bloom_columns"] and new_entries:
                _bloom_build_for_files(
                    self.root, outdir, new_entries, meta["bloom_columns"]
                )
            if meta["constraints"] and new_entries:
                self._enforce_constraints(
                    df.sparkSession,
                    meta["constraints"],
                    new_entries,
                    meta["column_mapping"],
                    meta["logical_schema"],
                )
            if dv_updates or dv_updates_df is not None:
                if not dv_touched:
                    raise ValueError(
                        "DV arguments require dv_touched (path → base "
                        "entry of every possibly-affected file)"
                    )
                full_counts, alive_dv, name = self._build_dv_sidecar(
                    outdir,
                    dv_touched,
                    dv_updates,
                    dv_updates_df,
                    dv_delta_counts,
                )
                dv = {
                    "full_counts": full_counts,
                    "alive": sorted(alive_dv),
                    "sidecar_rel": (
                        os.path.join(out_rel, name)
                        if name is not None
                        else None
                    ),
                }
        except BaseException:
            shutil.rmtree(outdir, ignore_errors=True)
            raise
        return {
            **({"dv": dv} if dv is not None else {}),
            "staging_rel": out_rel,
            "base_version": base_version,
            "new_entries": new_entries,
            "new_bytes": sum(e["bytes"] for e in new_entries),
            **{
                k: meta[k]
                for k in (
                    "key",
                    "stats_columns",
                    "key_columns",
                    "column_mapping",
                    "retired_physical",
                    "constraints",
                    "bloom_columns",
                    "clustering",
                    "schema_json",
                )
            },
        }

    def discard_prepared(self, prepared: dict) -> None:
        """Best-effort reclaim of a prepared token's staging directory
        — for callers that abandon a prepare deliberately (a
        recompute-on-conflict loop).  Crashed callers need nothing:
        vacuum's staged-dir sweep reclaims unreferenced stagings after
        the grace window."""
        shutil.rmtree(
            os.path.join(self.root, prepared["staging_rel"]),
            ignore_errors=True,
        )

    def commit_with_manifest(
        self,
        df: DataFrame,
        key: str,
        *,
        carried: list[dict] | None = None,
        carried_base_version: int | None = None,
        carried_touched: dict | None = None,
        carried_exclude: dict | None = None,
        cluster_partitions: int | None = None,
        append_split: tuple | list | None = None,
        stats_columns: list | tuple | None = None,
        key_columns: list | tuple | None = None,
        app_metadata: dict | None = None,
        column_mapping: dict | None = None,
        retired_physical: list | None = None,
        expected_base_version=_NO_CAS,
        constraints: dict | None = None,
        dv_updates: dict | None = None,
        dv_updates_df: DataFrame | None = None,
        dv_delta_counts: dict | None = None,
        skip_data_write: bool = False,
        bloom_columns: list | None = None,
        operation: str | None = None,
        cluster_by=None,
        entry_flags: dict | None = None,
        clustering: dict | None = None,
        rebase_on_conflict: dict | None = None,
        prepared: dict | None = None,
    ) -> int:
        """Commit ``df``'s rows as NEW data files plus ``carried``
        prior-version file entries BY REFERENCE, under one manifest.

        Every commit is ONE write phase (:meth:`_write_phase`: data
        write, footer stats, blooms, constraint check, DV sidecar)
        followed by ONE publish under the commit lock: CAS / logical
        rebase, then manifest, ``_COMMITTED`` marker and pointer swap
        (the crash protocol of :meth:`commit`).  With ``prepared`` the
        write phase already ran lock-free (:meth:`prepare_commit`);
        without it, this call runs the write phase under the lock,
        AFTER the CAS and rebase, into the new version directory — so
        a CAS failure aborts before any write job.

        New files are range-clustered on ``key`` (repartitionByRange +
        sortWithinPartitions) so their footer min/max ranges are tight
        and near-disjoint — that clustering is what makes the NEXT
        pruned merge's touched set small.

        ``append_split`` — layout from the pruned MERGE: a list of
        range cut points on ``key`` (a single ``(lo, hi)`` band may be
        passed bare).  A band ``(lo, hi)`` — a disjoint range component
        of the merge's touched files — is two cuts, ``key >= lo`` and
        ``key > hi``; a bare value ``v`` is the cut ``key >= v``.  Rows
        between two neighbouring cuts form one output partition, so the
        out-of-range inserts of an incremental batch never share a file
        with a band, and inserts in different gaps never share one
        either.  Without band edges, range clustering would put the
        tail of the touched region and the (few, far-away) inserts into
        ONE file whose [min, max] spans the gap — a wide range that
        intersects most carried files and inflates every later merge's
        touched set (the long-horizon probe measured overlap_max ≈ 25
        of 32 files without the split).  The bare cuts size the files;
        ``cluster_partitions`` is unused.  The whole write is one
        shuffle (``repartitionById``) whatever the number of cuts.
        Purely a layout decision: same rows, same manifest semantics.

        ``stats_columns`` — additional columns whose per-file [min, max]
        are recorded in the manifest next to the clustering key's (the
        Delta first-N-columns stats analog): composite-key merges prune
        on every key column and ``read_range`` skips on non-clustering
        columns with them.  Clustering stays on ``key`` alone — for
        equality merges, leading-range clustering + per-column stats
        strictly dominates z-ordering the data files (z-order trades
        leading-range tightness for secondary-range tightness; it pays
        for independent multi-dim RANGE predicates, the
        ``o_zorder_layout`` use case, not for composite-equality
        pruning where the leading column already selects files).

        ``key_columns`` — the table's ROW IDENTITY, recorded distinctly
        from ``stats_columns`` (which may carry skip-only columns that
        are not key components): the change feed (`changes_between` /
        the streaming CDF source) defaults its join identity to this.
        Inherited from the prior manifest when not passed, so the
        identity survives metadata-only and carried-file commits.

        ``carried`` paths must be relative to the table root and name
        files in COMMITTED version directories at or below the current
        pointer (enforced: a reference above the pointer would resurrect
        a crash orphan).

        ``carried_base_version`` / ``carried_touched`` — the
        carried-BY-BASE form (mutually exclusive with ``carried``):
        carry ALL of that committed version's entries with the commit's
        DV updates applied (touched entries re-pointed, fully-deleted
        entries dropped), built segment-wise so the untouched entries
        are NEVER materialized — driver cost O(touched), the form
        row-level DML and the pruned merges use.  ``carried_touched``
        maps each possibly-affected path to its base entry (the
        caller's pruned candidate set; every ``dv_updates`` path must
        be in it); when this commit records a different ``key`` or
        ``stats_columns`` than the base, its entries re-state the base
        entries' stats (a merge on columns the base has no stats for
        carries re-scanned entries).  ``carried_exclude`` (path → base
        entry) names base entries to REMOVE outright — the
        copy-on-write merge's touched files, whose rows the new data
        files replace.
        Requires ``expected_base_version == carried_base_version``
        — the CAS is what guarantees the base list is still the live
        one.

        ``expected_base_version`` — optimistic-concurrency CAS: raise
        :class:`SnapshotConflictError` under the lock (publishing
        nothing) if the live version is no longer the snapshot the
        caller read ``carried`` from.  Every read-modify-write caller
        (the pruned MERGE, compact, maintain, CDC apply) passes it;
        without the check an interleaved commit's rows would be
        silently dropped when the stale carried set is published.

        ``app_metadata`` — an application-owned JSON dict recorded IN
        the manifest, so it becomes durable ATOMICALLY with the data
        (Delta's ``txnAppId``/``txnVersion`` idempotent-writer analog /
        Kafka's offsets-in-the-sink pattern).  A CDC consumer stores
        the applied source version here instead of in a side file: a
        crash between "replica committed" and "side watermark advanced"
        otherwise replays a NET feed that can net an already-applied
        insert against a later delete into NOTHING, silently diverging
        the replica (observed in tools/stress_cdc_replication.py before
        this field existed).  Read back via :meth:`app_metadata_of`.

        ``constraints`` — table CHECK constraints ``{name: sql_expr}``
        recorded in the manifest and enforced on every commit's NEW
        data files only (the carried files passed their commit's check
        when they were written — delta-scale enforcement, the property
        that keeps a daily commit's check cost proportional to the
        batch, not 100 TB).  ``None`` inherits the live manifest's
        constraints (the default — constraints persist like Delta table
        properties); pass ``{}`` to drop them, or use
        :meth:`add_constraint` / :meth:`drop_constraint` which also
        vet EXISTING data.  SQL semantics: a row violates only when the
        expression is literally FALSE (NULL passes, standard CHECK).
        Violation ⇒ :class:`ConstraintViolationError` BEFORE the marker
        and pointer — nothing becomes visible.

        ``bloom_columns`` — LOGICAL column names whose per-file BLOOM
        FILTERS this table maintains (Delta bloom-filter-index analog):
        every commit builds blooms for its NEW files over these columns
        (one columnar read per new file — delta-bounded, like footer
        stats) into one immutable ``bloom-*.parquet`` sidecar; carried
        entries keep their existing blooms (bit-identical data).
        ``None`` inherits the live manifest's set (the default — like
        constraints); declare via :meth:`add_bloom_index`, which also
        backfills existing files.  Blooms serve EQUALITY pruning where
        range stats cannot — a point lookup or a merge on a key whose
        values do not correlate with the clustering layout.  False
        positives cost a file read; false negatives are impossible, so
        pruning stays conservative.

        ``dv_updates`` — merge-on-read deletes: ``{carried entry path →
        iterable of NEWLY-deleted row positions}``.  The commit writes
        ONE immutable DV sidecar parquet into its version directory
        holding each touched entry's FULL deleted-position set (prior
        DV ∪ delta) and re-points those carried entries' ``dv`` refs at
        it; an entry whose positions cover every physical row is
        dropped from the manifest outright.  Write cost is
        O(delta + prior DV mass) — never the data file mass — which is
        the whole point: a scattered small DELETE/MERGE should not
        rewrite the files it touches (Delta deletion vectors analog).
        Readers apply DVs via a broadcast anti-join on
        ``_metadata.row_index`` (see :meth:`_read_manifest_files`).

        ``dv_updates_df`` / ``dv_delta_counts`` — the DISTRIBUTED form
        of ``dv_updates`` (mutually exclusive with it): a DataFrame of
        NEWLY-deleted ``(__file, __pos)`` pairs plus the caller's
        per-file delta counts (one bounded ``groupBy(__file).count()``
        collect — #files rows, never #positions).  The sidecar is then
        written by a SPARK JOB (delta ∪ prior positions of the touched
        files, repartitioned by file, positions sorted within) into a
        ``dv-*`` parquet DIRECTORY — no position ever crosses the
        driver, so DV mass scales to billions of rows where the dict
        form's driver collect would OOM.  Position-range validation
        rides the write via an Observation (an out-of-range position
        fails the commit before the pointer swap).  This is the path
        row-level DML uses; the dict form remains for driver-known
        small sets (clone's sidecar rewrite, restore).

        ``column_mapping`` / ``retired_physical`` — the column-mapping
        state to record (Delta column-mapping analog; normally
        inherited from the live manifest — only the metadata ops and
        ``restore`` pass them).  ``df``, ``key`` and ``stats_columns``
        are always LOGICAL; data files are written under PHYSICAL
        names, so renames/drops stay metadata-only.  A column new to
        the mapping (schema evolution) gets physical = logical unless
        that physical name was ever used before (``retired_physical``
        or a current mapping target), in which case a fresh
        ``<name>__v<version>`` physical name avoids colliding with the
        orphaned column still present in old files.

        ``cluster_by`` — optional Column expression over the PHYSICAL
        (post-mapping) output schema that replaces the default
        key-range clustering for the new files (repartitionByRange +
        sortWithinPartitions on the expression): how
        :meth:`optimize_zorder` lays files out along a Morton curve
        instead of the 1-D key.  Layout-only — same rows, same manifest
        semantics; per-file stats are still collected on ``key`` +
        ``stats_columns``.  Not combinable with ``append_split`` (band
        layouts are definitionally key-range layouts).

        ``entry_flags`` — optional dict merged into each NEW data-file
        entry (e.g. ``{"clustered": "zorder"}``), carried verbatim by
        later commits like every other entry field; ``maintain()``
        reads it to exempt z-ordered files from the 1-D range-overlap
        signal.  ``clustering`` — manifest-level marker describing the
        table's last explicit clustering (inherited until replaced,
        surfaced by :meth:`detail`).

        ``prepared`` — a token from :meth:`prepare_commit`: the write
        phase already ran lock-free into a staging directory, so the
        lock hold covers only conflict analysis and the publish.
        Requires ``df=None`` and ``expected_base_version ==
        prepared["base_version"]``; ``key`` and the layout/metadata
        arguments are taken from the token.  Only three steps differ
        for a prepared token: a token past the staged-GC grace window
        raises :class:`StalePreparedError`, a CAS failure that cannot
        rebase reclaims the staging directory, and a published staging
        directory is marked ``_PUBLISHED`` for vacuum.

        ``rebase_on_conflict`` — Delta-style logical conflict scoping
        for the CAS: ``{"touched": iterable of base paths this commit
        depends on, "exclude": iterable of paths a recomputed inline
        carried set must drop (the CoW-rewritten files; empty for
        MoR), "might_touch": callable(entry)->bool or None}``.  When
        the CAS fails but :meth:`_rebase_compatible` proves every
        racing commit disjoint from this scope, the commit RETARGETS
        its carried base onto the live head under the same lock hold —
        no recompute, no extra lock round-trip — and records
        ``manifest["rebase"]`` + ``self._last_commit_rebase``.
        Overlapping scopes still raise :class:`SnapshotConflictError`.
        """
        if carried_base_version is not None:
            # carried-BY-BASE form (row-level DML, the pruned merges):
            # the version is base's ENTIRE file list minus excluded
            # entries, with re-pointed / re-stated entries swapped in —
            # built WITHOUT materializing the untouched entries, so
            # commit driver cost is O(touched), not O(table files)
            if carried is not None:
                raise ValueError(
                    "pass carried OR carried_base_version, not both"
                )
            if expected_base_version is _NO_CAS:
                raise ValueError(
                    "carried_base_version requires expected_base_version "
                    "(the CAS is what guarantees base is still live)"
                )
            if expected_base_version != carried_base_version:
                raise ValueError(
                    "carried_base_version must equal "
                    "expected_base_version — the carried set IS the "
                    "CAS snapshot"
                )
            carried_touched = dict(carried_touched or {})
        elif carried_exclude is not None:
            raise ValueError(
                "carried_exclude only applies with carried_base_version"
            )
        if prepared is not None and (
            df is not None
            or skip_data_write
            or dv_updates
            or dv_updates_df is not None
            or expected_base_version != prepared["base_version"]
        ):
            raise ValueError(
                "prepared commits take df=None, no skip_data_write or DV "
                "arguments (prepare_commit consumed them), and "
                "expected_base_version equal to the token's base_version "
                "(the snapshot its metadata was resolved against)"
            )
        self._acquire_lock()
        try:
            self._last_commit_rebase = None
            if prepared is not None:
                self._check_staged_fence(prepared)
            cur = self.current_version()
            if expected_base_version is not _NO_CAS and cur != expected_base_version:
                scope = rebase_on_conflict or {}
                if not self._rebase_compatible(
                    expected_base_version,
                    cur,
                    set(scope.get("touched") or ()),
                    scope.get("might_touch"),
                    scope.get("might_touch_batch"),
                ):
                    # carried entries (and the written data) describe
                    # the snapshot at expected_base_version — publishing
                    # them over a newer version would drop the
                    # interleaved commit's rows: the caller recomputes
                    if prepared is not None:
                        # stale against the new head: reclaim the
                        # staging now, not after vacuum's grace window
                        self.discard_prepared(prepared)
                    raise SnapshotConflictError(expected_base_version, cur)
                # logical REBASE: every racing commit provably touched
                # files and key ranges disjoint from this commit's
                # scope, so its output is valid against the live head
                # verbatim — retarget the carried base under the same
                # lock hold instead of recomputing
                self._last_commit_rebase = {
                    "planned_base": expected_base_version,
                    "onto": cur,
                }
                if carried_base_version is not None:
                    carried_base_version = cur
                elif carried is not None:
                    # inline form: rebuild carried from the HEAD's file
                    # list — racing additions join the carried set, the
                    # CoW-rewritten files drop out; files this commit
                    # depends on (MoR DV re-points) stay, and the diff
                    # check above proved their head entries identical
                    # to the base entries the caller computed against
                    excl = set(scope.get("exclude") or ())
                    carried = [
                        e
                        for e in self.manifest(cur)["files"]
                        if e["path"] not in excl
                    ]
                expected_base_version = cur
            for e in carried or []:
                first = (e["path"].split(os.sep, 1) + [""])[0]
                if first == _STAGED:
                    # content-addressed staging paths are committed
                    # data like any version-dir entry; reachability is
                    # proven by the base manifest the caller read them
                    # from (vacuum's grace sweep never reclaims a
                    # staged dir a live manifest references)
                    continue
                m = _VERSION_RE.match(first)
                if m is None or cur is None or int(m.group(1)) > cur:
                    raise ValueError(
                        f"carried entry {e['path']!r} does not name a file "
                        "in a committed version directory at or below the "
                        "current pointer"
                    )
            self._reconcile_orphans()
            versions = self._versions_on_disk()
            next_v = (versions[-1] + 1) if versions else 1
            vrel = f"v{next_v:08d}"
            vdir = self._version_dir(next_v)
            by_path = (
                carried_touched
                if carried_base_version is not None
                else {e["path"]: e for e in (carried or [])}
            )
            # the write phase: already run lock-free for a prepared
            # token; otherwise here, against the (possibly rebased)
            # head, into the version dir
            token = prepared or self._write_phase(
                df,
                key,
                vrel,
                base_version=cur,
                version_hint=next_v,
                cluster_partitions=cluster_partitions,
                append_split=append_split,
                stats_columns=stats_columns,
                key_columns=key_columns,
                column_mapping=column_mapping,
                retired_physical=retired_physical,
                constraints=constraints,
                bloom_columns=bloom_columns,
                cluster_by=cluster_by,
                entry_flags=entry_flags,
                clustering=clustering,
                dv_updates=dv_updates,
                dv_updates_df=dv_updates_df,
                dv_delta_counts=dv_delta_counts,
                dv_touched=by_path,
                skip_data_write=skip_data_write,
            )
            os.makedirs(vdir, exist_ok=True)
            key = token["key"]
            extras = tuple(
                c for c in (token["stats_columns"] or ()) if c != key
            )
            man = {"key": key, "schema": token["schema_json"]}
            if extras:
                man["stats_columns"] = [key, *extras]
            for f, conv in (
                ("key_columns", list),
                ("column_mapping", dict),
                ("retired_physical", list),
                ("constraints", dict),
                ("bloom_columns", list),
                ("clustering", dict),
            ):
                if token[f]:
                    man[f] = conv(token[f])
            if operation:
                # per-commit DESCRIBE HISTORY attribution (never
                # inherited): what kind of write produced this version
                man["operation"] = operation
            if app_metadata:
                man["app_metadata"] = dict(app_metadata)
            if self._last_commit_rebase:
                # durable audit: this version was computed against
                # planned_base and rebased onto the head at commit time
                man["rebase"] = dict(self._last_commit_rebase)
            # the carried-set edit: excluded entries drop out, replaced
            # entries swap in for their base entries
            exclude = dict(carried_exclude or {})
            replaced: dict = {}
            if carried_base_version is not None:
                raw_b = self._raw_manifest(carried_base_version) or {}
                if (raw_b.get("key"), raw_b.get("stats_columns")) != (
                    man["key"],
                    man.get("stats_columns"),
                ):
                    # the commit re-keys the table's stats: carried
                    # entries are the caller's re-scanned ones
                    replaced = {
                        p: e
                        for p, e in carried_touched.items()
                        if p not in exclude
                    }
            dv = token.get("dv")
            if dv is not None:
                missing = set(dv["full_counts"]) - set(by_path)
                if missing:
                    raise ValueError(
                        "DV paths must name carried entries; unknown: "
                        f"{sorted(missing)[:3]}"
                    )
                alive = set(dv["alive"])
                for p, rows in dv["full_counts"].items():
                    if p in alive:
                        replaced[p] = {
                            **by_path[p],
                            "dv": {
                                "path": dv["sidecar_rel"],
                                "rows": int(rows),
                            },
                        }
                    else:
                        # every row deleted: drop the entry
                        exclude[p] = by_path[p]
                        replaced.pop(p, None)
            new_entries = [dict(e) for e in token["new_entries"]]
            if carried_base_version is not None:
                self._persist_manifest_from_base(
                    vdir,
                    man,
                    carried_base_version,
                    exclude=exclude,
                    replaced=replaced,
                    new_entries=new_entries,
                )
            else:
                man["files"] = [
                    replaced.get(e["path"], e)
                    for e in carried or []
                    if e["path"] not in exclude
                ] + new_entries
                self._persist_manifest(vdir, man, base_version=cur)
            self._write_marker(vdir)
            self._swap_pointer(next_v)
            if prepared is not None:
                # mark the staging PUBLISHED (under this same lock):
                # vacuum's under-lock staged pass then skips it with
                # one stat; its file-level GC runs lock-free.  A crash
                # between the pointer swap and this write leaves a
                # referenced-but-unmarked dir, which vacuum self-heals
                try:
                    with open(
                        os.path.join(
                            self.root,
                            prepared["staging_rel"],
                            _STAGED_PUBLISHED,
                        ),
                        "w",
                    ) as f:
                        f.write(vrel)
                except OSError:
                    pass
            return next_v
        finally:
            self._release_lock()

    def _check_staged_fence(self, prepared: dict) -> None:
        """Staged-GC fence, checked under the SAME lock vacuum's sweep
        holds: a token held past the grace window may have had its
        staging reclaimed (or be about to) — publishing it would
        commit a manifest referencing deleted files.  The
        prepare/publish contract is therefore enforced, not just
        documented: publish within the grace window or re-prepare."""
        import time

        sdir = os.path.join(self.root, prepared["staging_rel"])
        try:
            age = time.time() - os.path.getmtime(sdir)
        except OSError:
            age = None
        if age is None or age >= self.staged_gc_grace_seconds:
            self.discard_prepared(prepared)
            raise StalePreparedError(
                f"{self.root}: prepared staging "
                f"{prepared['staging_rel']!r} is "
                + (
                    "gone (reclaimed by vacuum's staged sweep)"
                    if age is None
                    else f"{age:.0f}s old, past the "
                    f"{self.staged_gc_grace_seconds:.0f}s "
                    "staged-GC grace window"
                )
                + " — re-run prepare_commit against the live head"
            )

    def _lock_path(self) -> str:
        return os.path.join(self.root, _LOCK)

    # how long _acquire_lock waits for a LIVE holder before raising
    # ConcurrentCommitError.  Waiting is the right default: a held
    # lock, unlike a CAS conflict, invalidates NOTHING the caller
    # computed — forcing an immediate raise makes racing writers burn
    # a full merge recompute per lock probe (the concurrent-merge
    # stress starved on a slow host exactly that way).  Delta writers
    # wait on the log store the same way; the CAS still catches a
    # snapshot that moved while waiting.  Set to 0 for the immediate
    # raise-and-let-the-caller-backoff behavior.
    lock_wait_seconds: float = 60.0

    def _acquire_lock(self, wait_seconds: float | None = None) -> None:
        import random
        import time

        wait = (
            self.lock_wait_seconds if wait_seconds is None else wait_seconds
        )
        deadline = time.monotonic() + max(0.0, wait)
        while True:
            try:
                return self._try_acquire_lock_once()
            except ConcurrentCommitError:
                if time.monotonic() >= deadline:
                    raise
                time.sleep(random.uniform(0.02, 0.15))

    def _try_acquire_lock_once(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        for _ in range(2):  # second pass only after stale-lock steal
            if self._protocol.create_exclusive(_LOCK, str(os.getpid())):
                return
            raw = self._protocol.read_small(_LOCK)
            try:
                holder = int((raw or "").strip() or 0)
            except ValueError:
                holder = 0
            if holder and holder != os.getpid() and not _pid_alive(holder):
                # Crashed committer: steal via the protocol's
                # conditional delete — posix buries the lock under a
                # unique grave rename (exactly one contending
                # stealer's rename succeeds, so the unlink-then-create
                # TOCTOU — a slow stealer deleting the fast stealer's
                # fresh lock — cannot occur; a fresh lock renamed away
                # by mistake is linked back); object stores pin the
                # read's generation/ETag on the delete.  The losing
                # stealer retries the exclusive create and sees the
                # winner's new lock as a live holder.  Full TOCTOU
                # elimination needs a kernel lock (flock), which has
                # no object-store analog — the contract stays
                # "serialize your writers", enforced best-effort.
                self._protocol.delete_if_content(_LOCK, str(holder))
                continue
            raise ConcurrentCommitError(
                f"{self.root}: commit already in flight (lock held by "
                f"pid {holder or '?'}); serialize writers — this table "
                "contract is single-writer (reference max_active_runs=1)"
            )
        raise ConcurrentCommitError(
            f"{self.root}: could not acquire commit lock after stale steal"
        )

    def _release_lock(self) -> None:
        self._protocol.delete(_LOCK)

    def _reconcile_orphans(self) -> None:
        """Delete version dirs a crashed commit left above the pointer
        (or any version dirs on a pointer-less legacy table — a crashed
        adoption).  Safe by construction: nothing at or above these
        paths was ever named by the pointer, so no reader targets them."""
        cur = self.current_version()
        for v in self._versions_on_disk():
            if cur is None or v > cur:
                shutil.rmtree(self._version_dir(v), ignore_errors=True)

    def _swap_pointer(self, version: int) -> None:
        # the atomic commit point — protocol-provided: posix renames
        # _CURRENT into place; object-store conditionally creates the
        # per-version _ptr-v{N} object (rename-free)
        self._protocol.publish_pointer(f"v{version:08d}")

    # --------------------------------------------------------- optimize
    def _dml_retry(self, fn, conflict_retries: int):
        """Optimistic-concurrency retry shared by the row-level DML
        paths (the same loop the pruned MERGE runs): on
        :class:`SnapshotConflictError` the whole computation re-runs
        against the new live snapshot — positions are snapshot-relative
        and must never be replayed over a different file set."""
        attempt = 0
        while True:
            try:
                return fn()
            except SnapshotConflictError:
                if attempt >= conflict_retries:
                    raise
                attempt += 1

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        *,
        max_dv_rows: int = 100_000_000,
        conflict_retries: int = 2,
    ) -> dict:
        """Merge-on-read DELETE: mark every live row matching the SQL
        ``condition`` as deleted in per-file DELETION VECTORS instead
        of rewriting the files that hold them (Delta deletion-vector
        DELETE analog; the reference's warehouse deletes via
        Snowflake's own micro-partition DML).

        Why it matters at 100 TB: a scattered delete (a GDPR erasure,
        a bad-record purge) touches a few rows in MANY files — the
        copy-on-write path would rewrite the full touched-file mass.
        This path writes one small sidecar parquet of
        ``(file, row_position)`` pairs and one manifest: write cost is
        O(deleted rows + prior DV mass of the touched files), never
        O(file bytes).  Readers apply DVs via a broadcast anti-join on
        ``_metadata.row_index``; ``maintain()`` later folds heavy DVs
        back into clean files (purge), bounding the read-side join.

        Scale contract of the matching scan itself: ``condition`` is
        pushed into the parquet scan by Catalyst as usual; matched
        positions flow EXECUTOR-SIDE into the sidecar write (a Spark
        job — see ``_dv_write_sidecar_distributed``) and the only
        driver collect is the per-FILE count (#files rows).
        ``max_dv_rows`` (default 100M ≈ an ~500 MB sidecar at the
        measured ~4-5 B/row) is therefore a read-amplification POLICY
        guard, not a memory bound: a delete larger than it is a
        rewrite-scale operation — the raised error says to run it as
        a copy-on-write MERGE (or raise the cap knowingly).

        Commits with CAS on the snapshot it scanned (recompute-and-
        retry on a racing writer, up to ``conflict_retries``); returns
        ``{"version", "rows_deleted", "files_affected"}`` — version
        unchanged when nothing matches.
        """
        return self._dml_retry(
            lambda: self._delete_where_attempt(
                spark, condition, max_dv_rows
            ),
            conflict_retries,
        )

    def _delete_where_attempt(
        self, spark: SparkSession, condition: str, max_dv_rows: int
    ) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        v = self.current_version()
        raw = self._raw_manifest(v) if v is not None else None
        if raw is None:
            raise ValueError(
                f"{self.root}: delete_where() needs a keyed manifest "
                "version (adopt a plain table with any "
                "commit_with_manifest / pruned merge first)"
            )
        # manifest-stats FILE pruning of the matching scan: a
        # retention delete (ts < cutoff) opens only the files whose
        # stats intersect the predicate — at 100 TB that is the
        # difference between a delta-bounded DML and an 800k-task
        # table scan (conservative: unprunable predicates scan all).
        # On a segmented manifest the same test first skips whole
        # SEGMENTS, so even the candidate list materializes
        # O(touched), and the commit below carries the base version
        # BY REFERENCE — no step of a bounded delete is O(table
        # files) driver-side.
        pruner = self._compile_pruner(spark, raw, condition)
        man_p = self._materialize_pruned(
            v, pruner if pruner is not None else (lambda e: True)
        )
        cands = (
            man_p["files"]
            if pruner is None
            else [e for e in man_p["files"] if pruner(e)]
        )
        frame = self._read_entries_with_pos(spark, man_p, cands)
        hits = frame.filter(F.expr(condition)).select("__file", "__pos")
        hits.persist()
        try:
            # probe-first plan: small deltas resolve in ONE bounded
            # collect (driver sidecar); big deltas run a per-file
            # counts job and write the sidecar executor-side
            n_hits, n_files, dv_kw = self._dv_plan(man_p, hits)
            if n_hits > max_dv_rows:
                raise ValueError(
                    f"{self.root}: delete_where matched {n_hits} rows, "
                    f"more than max_dv_rows={max_dv_rows} — that is a "
                    "rewrite-scale delete; run it as a copy-on-write "
                    "MERGE (merge_upsert_write_pruned with delete_when) "
                    "or raise max_dv_rows if the DV mass is acceptable"
                )
            if not n_hits:
                return {
                    "version": v,
                    "rows_deleted": 0,
                    "files_affected": 0,
                }
            schema = StructType.fromJson(raw["schema"])
            inv = _inverse_mapping_of(raw)
            new_v = self.commit_with_manifest(
                spark.createDataFrame([], schema),
                inv.get(raw["key"], raw["key"]),
                carried_base_version=v,
                carried_touched={e["path"]: e for e in cands},
                cluster_partitions=1,
                stats_columns=[
                    inv.get(c, c) for c in raw.get("stats_columns") or []
                ]
                or None,
                app_metadata=raw.get("app_metadata"),
                expected_base_version=v,
                skip_data_write=True,
                operation="DELETE",
                # logical rebase on a CAS miss: this delete depends on
                # the candidate files it scanned; the compiled pruner
                # is its conservative might-match test for racing
                # entries (a racing file that might hold matching rows
                # must recompute — serial execution would delete them)
                rebase_on_conflict={
                    "touched": {e["path"] for e in cands},
                    "exclude": (),
                    "might_touch": pruner,
                },
                **dv_kw,
            )
            return {
                "version": new_v,
                "rows_deleted": int(n_hits),
                "files_affected": int(n_files),
            }
        finally:
            hits.unpersist()

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict,
        *,
        max_dv_rows: int = 100_000_000,
        conflict_retries: int = 2,
    ) -> dict:
        """Merge-on-read UPDATE: rows matching the SQL ``condition``
        are marked deleted in deletion vectors and their UPDATED images
        (``assignments``: {column → SQL expression over the row}) are
        appended as new files — completing the row-level DML triad
        (DELETE = :meth:`delete_where`, MERGE =
        ``merge_upsert_write_pruned(write_mode="mor")``) without
        rewriting any touched file.  Write cost O(matched rows);
        the same ``max_dv_rows`` rewrite-scale guard as delete_where.

        SQL UPDATE semantics: a NULL condition does not match; columns
        absent from ``assignments`` keep their values; expressions see
        the PRE-update row.  Commits with CAS on the scanned snapshot
        (recompute-and-retry on a racing writer, up to
        ``conflict_retries``).  Returns ``{"version", "rows_updated",
        "files_affected"}``.
        """
        return self._dml_retry(
            lambda: self._update_where_attempt(
                spark, condition, assignments, max_dv_rows
            ),
            conflict_retries,
        )

    def _update_where_attempt(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict,
        max_dv_rows: int,
    ) -> dict:
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        v = self.current_version()
        raw = self._raw_manifest(v) if v is not None else None
        if raw is None:
            raise ValueError(
                f"{self.root}: update_where() needs a keyed manifest "
                "version (adopt a plain table with any "
                "commit_with_manifest / pruned merge first)"
            )
        schema = StructType.fromJson(raw["schema"])
        unknown = set(assignments) - {f.name for f in schema.fields}
        if unknown:
            raise ValueError(
                f"update_where assignments name unknown columns: "
                f"{sorted(unknown)} (schema evolution belongs to MERGE)"
            )
        # same manifest-stats file pruning as delete_where (segment
        # envelopes first, then per-entry): only the candidate files
        # are opened, only their segments materialize
        pruner = self._compile_pruner(spark, raw, condition)
        man_p = self._materialize_pruned(
            v, pruner if pruner is not None else (lambda e: True)
        )
        cands = (
            man_p["files"]
            if pruner is None
            else [e for e in man_p["files"] if pruner(e)]
        )
        frame = self._read_entries_with_pos(spark, man_p, cands)
        hits = frame.filter(F.expr(condition))
        hits.persist()  # one scan serves the guard, images, and DV job
        try:
            n_hits, n_files, dv_kw = self._dv_plan(
                man_p, hits.select("__file", "__pos")
            )
            if n_hits > max_dv_rows:
                raise ValueError(
                    f"{self.root}: update_where matched {n_hits} rows, "
                    f"more than max_dv_rows={max_dv_rows} — that is a "
                    "rewrite-scale update; run it as a copy-on-write "
                    "MERGE or raise max_dv_rows if the DV mass is "
                    "acceptable"
                )
            if not n_hits:
                return {
                    "version": v,
                    "rows_updated": 0,
                    "files_affected": 0,
                }
            # updated images: expressions see the PRE-update row
            from pyspark.sql import Column

            def _assigned(f):
                a = assignments[f.name]
                col = a if isinstance(a, Column) else F.expr(str(a))
                return col.cast(f.dataType)

            images = hits.select(
                *[
                    (
                        _assigned(f)
                        if f.name in assignments
                        else F.col(f.name)
                    ).alias(f.name)
                    for f in schema.fields
                ]
            )
            inv = _inverse_mapping_of(raw)
            new_v = self.commit_with_manifest(
                images,
                inv.get(raw["key"], raw["key"]),
                carried_base_version=v,
                carried_touched={e["path"]: e for e in cands},
                cluster_partitions=max(1, -(-int(n_hits) // 2_000_000)),
                stats_columns=[
                    inv.get(c, c) for c in raw.get("stats_columns") or []
                ]
                or None,
                app_metadata=raw.get("app_metadata"),
                expected_base_version=v,
                operation="UPDATE",
                # same rebase scope rule as delete_where
                rebase_on_conflict={
                    "touched": {e["path"] for e in cands},
                    "exclude": (),
                    "might_touch": pruner,
                },
                **dv_kw,
            )
            return {
                "version": new_v,
                "rows_updated": int(n_hits),
                "files_affected": int(n_files),
            }
        finally:
            hits.unpersist()

    def _publish_layout_rewrite(
        self,
        df: DataFrame,
        *,
        base_version: int,
        man: dict,
        scope_paths: set,
        n_out: int,
        operation: str,
        stats_columns=None,
        cluster_by=None,
        entry_flags: dict | None = None,
        clustering: dict | None = None,
    ) -> tuple[int, dict]:
        """PREPARE/PUBLISH a LAYOUT-ONLY rewrite (compact / DV purge /
        recluster / zorder): every Spark job the commit needs runs
        LOCK-FREE into a content-addressed staging dir via
        :meth:`prepare_commit`, and the publish's lock hold is
        metadata-only — a maintenance pass no longer stalls racing
        writers for the duration of its rewrite, which on a large
        table is the longest write job the engine ever runs (Delta's
        ``OPTIMIZE`` holds the same concurrency contract).

        Rebase scope: a layout rewrite ADDS NO ROWS, so it conflicts
        only with racing commits that removed/rewrote/re-DV'd a file
        it READ (``scope_paths`` — the entry-identity check in
        ``_rebase_compatible``); racing ADDITIONS and rewrites of
        other files can never interact with its output and are
        absorbed by retargeting the carried base onto the live head
        (constant-False ``might_touch``; the read files are the
        ``carried_exclude`` edit).  A genuine scope overlap raises
        ``SnapshotConflictError`` — the staging dir is reclaimed by
        the publish — and the caller recomputes against the new head.

        Returns ``(version, prepared)`` so telemetry reads the
        commit's own output from the token (staged paths don't carry
        the version-dir prefix the old counters keyed on)."""
        inv = _inverse_mapping_of(man)
        l_key = inv.get(man["key"], man["key"])
        prepared = self.prepare_commit(
            df,
            l_key,
            base_version=base_version,
            cluster_partitions=n_out,
            stats_columns=stats_columns,
            cluster_by=cluster_by,
            entry_flags=entry_flags,
            clustering=clustering,
        )
        version = self.commit_with_manifest(
            None,
            l_key,
            carried_base_version=base_version,
            carried_exclude={
                e["path"]: e for e in man["files"] if e["path"] in scope_paths
            },
            prepared=prepared,
            expected_base_version=base_version,
            app_metadata=man.get("app_metadata"),
            operation=operation,
            rebase_on_conflict={
                "touched": scope_paths,
                "might_touch": lambda e: False,
                "exclude": scope_paths,
            },
        )
        return version, prepared

    def compact(
        self,
        spark: SparkSession,
        *,
        min_file_bytes: int = 32 << 20,
        cluster_partitions: int | None = None,
        attempts: int = 3,
    ) -> dict:
        """Delta ``OPTIMIZE`` analog for manifest versions: rewrite the
        live manifest's SMALL data files into fewer range-clustered
        ones and carry every large file by reference — the maintenance
        pass the pruned MERGE makes necessary (each daily merge adds a
        few new files; after N days the manifest holds O(N) small
        files and scan task count grows with history, not data).

        Rewrite cost is bounded by the small-file mass, never table
        size — same property as the document store's block compaction.
        Content is unchanged (unit-asserted).  The rewrite PREPARES
        lock-free (``_publish_layout_rewrite``): racing writers keep
        committing while it runs, disjoint racers are absorbed by a
        logical rebase at publish, and only a racer that rewrote one
        of the small files being compacted forces a recompute — up to
        ``attempts`` times against the then-live head before the
        ``SnapshotConflictError`` propagates.  Readers of the old
        version are undisturbed and vacuum later reclaims the
        superseded small files.  Returns ``{"version", "files_before",
        "files_after", "bytes_rewritten", "bytes_carried"}``; a table
        with fewer than two small files is a no-op (version unchanged).
        """
        last: SnapshotConflictError | None = None
        for _ in range(max(1, attempts)):
            try:
                return self._compact_once(
                    spark,
                    min_file_bytes=min_file_bytes,
                    cluster_partitions=cluster_partitions,
                )
            except SnapshotConflictError as e:
                last = e  # scope overlap: recompute against new head
        raise last

    def _compact_once(
        self,
        spark: SparkSession,
        *,
        min_file_bytes: int,
        cluster_partitions: int | None,
    ) -> dict:
        v = self.current_version()
        if v is None:
            raise ValueError(
                f"{self.root}: compact() needs a committed manifest version; "
                "legacy plain directories are adopted by the first "
                "commit_with_manifest/pruned merge"
            )
        man = self.manifest(v)
        if man is None:
            raise ValueError(
                f"{self.root}: version v{v:08d} is a plain full-directory "
                "version — it is already one rewrite; compact() applies to "
                "manifest versions"
            )
        small = [e for e in man["files"] if e["bytes"] < min_file_bytes]
        large = [e for e in man["files"] if e["bytes"] >= min_file_bytes]
        if len(small) < 2:
            return {
                "version": v,
                "files_before": len(man["files"]),
                "files_after": len(man["files"]),
                "bytes_rewritten": 0,
                "bytes_carried": sum(e["bytes"] for e in man["files"]),
            }
        df = self._read_manifest_files(spark, man, small)
        inv = _inverse_mapping_of(man)  # manifest key/stats are physical
        small_bytes = sum(e["bytes"] for e in small)
        n_out = cluster_partitions or max(1, small_bytes // (128 << 20) + 1)
        new_v, prepared = self._publish_layout_rewrite(
            df,
            base_version=v,
            man=man,
            scope_paths={e["path"] for e in small},
            n_out=n_out,
            operation="OPTIMIZE[compact]",
            stats_columns=[
                inv.get(c, c) for c in man.get("stats_columns") or []
            ] or None,
        )
        new_man = self.manifest(new_v) or {"files": []}
        return {
            "version": new_v,
            "files_before": len(man["files"]),
            "files_after": len(new_man["files"]),
            "bytes_rewritten": prepared["new_bytes"],
            "bytes_carried": sum(e["bytes"] for e in large),
        }

    def maintain(
        self,
        spark: SparkSession,
        *,
        min_file_bytes: int = 32 << 20,
        max_small_files: int = 8,
        max_overlap_files: int = 0,
        max_dv_ratio: float = 0.3,
        max_zorder_decay: float = 0.25,
        cluster_partitions: int | None = None,
    ) -> dict:
        """Policy-driven OPTIMIZE — the auto-trigger a daily MERGE
        caller wants instead of hand-scheduling :meth:`compact`
        (Snowflake re-clusters micro-partitions automatically behind
        the reference's MERGE, embeddings-pipeline.py:294-352).  One
        manifest read inspects the live layout's two decay signals and
        acts only when a bound is crossed, so it is safe and cheap to
        call after every merge:

        * RANGE OVERLAP — more than ``max_overlap_files`` files of at
          least ``min_file_bytes`` whose [min, max] key ranges
          transitively overlap (overlap inflates every later merge's
          touched set; append-split layouts hold 0, the 60-cycle
          probe's flat curve).  Smaller files are EXCLUDED from the
          signal: a batch-scale merge-on-read append spans many bands
          by design, and counting it would union the large disjoint
          files it bridges into one table-wide component — a full
          rewrite triggered by a 2 MB file.  Small wide files cost
          their own small mass to read and are compact's job.  Each overlap COMPONENT
          (maximal run of transitively-overlapping intervals — its
          interval union is contiguous, so component spans never
          enclose an outside file) is re-clustered in its own commit:
          rewrite cost is bounded by the component's file mass, and the
          rewritten files cannot introduce new overlaps.
        * SMALL-FILE ACCUMULATION — more than ``max_small_files``
          files under ``min_file_bytes`` (each incremental merge adds a
          few; scan task count would otherwise grow with history) runs
          :meth:`compact`.
        * DELETION-VECTOR MASS — the live DV'd row fraction
          (``Σ dv.rows / Σ n_rows``, pure manifest arithmetic) exceeds
          ``max_dv_ratio``: merge-on-read writes (``delete_where``,
          ``write_mode="mor"`` merges) trade write amplification for a
          read-side anti-join whose build side is the DV mass — the
          PURGE rewrites exactly the DV'd files clean (cost bounded by
          their mass, never table size) and drops the DV refs, resetting
          the read path to plain scans (Delta's
          ``REORG TABLE ... APPLY (PURGE)`` analog).  When the
          small-file signal fires on the SAME manifest, the purge
          FOLDS the small files into its one rewrite (``reorg``
          action) — bin-packed to the target size in one commit, so a
          table needing both never pays purge-then-compact double
          rewrites.

        Returns ``{"triggered", "signals", "actions"}`` where signals
        reports the inspected counts and actions the commits performed
        (empty on a healthy layout — the common case)."""
        v = self.current_version()
        man = self.manifest(v) if v is not None else None
        if man is None:
            raise ValueError(
                f"{self.root}: maintain() needs a committed manifest "
                "version (plain versions carry no layout to inspect)"
            )
        from pyspark.sql.types import StructType

        files = man["files"]
        dvd = [e for e in files if e.get("dv")]
        dv_rows = sum(e["dv"]["rows"] for e in dvd)
        total_rows = sum(e.get("n_rows") or 0 for e in files)
        dv_signals = {
            "dv_files": len(dvd),
            "dv_rows": dv_rows,
            "dv_ratio": (dv_rows / total_rows) if total_rows else 0.0,
        }
        dv_actions: list[dict] = []
        if dvd and dv_signals["dv_ratio"] > max_dv_ratio:
            # PURGE: rewrite exactly the DV'd files clean (their own
            # read applies the DVs), carry everything else — the
            # sidecars become unreferenced and vacuum reclaims them.
            # Runs FIRST and the layout signals below recompute from
            # the post-purge manifest (the purge replaces file paths;
            # acting on the stale entries would re-add purged rows).
            #
            # REORG: when the SMALL-FILE signal also fires on the same
            # manifest, the purge folds the small files into its one
            # rewrite (Delta ``REORG ... APPLY (PURGE)`` + OPTIMIZE in
            # one commit) — purging DV'd small files and then
            # compacting the purge's own output would rewrite the same
            # rows twice; the combined pass bin-packs everything to
            # the target size once.
            dvd_paths = {e["path"] for e in dvd}
            small_now = [
                e for e in files if e["bytes"] < min_file_bytes
            ]
            combine = len(small_now) > max_small_files
            rewrite = (
                dvd
                + [e for e in small_now if e["path"] not in dvd_paths]
                if combine
                else dvd
            )
            rewrite_paths = {e["path"] for e in rewrite}
            inv0 = _inverse_mapping_of(man)
            df = self._read_manifest_files(spark, man, rewrite)
            # bin-pack by LOGICAL mass: a DV'd file's live fraction is
            # what survives the rewrite
            live_bytes = sum(
                int(
                    e["bytes"]
                    * (
                        1
                        - (e["dv"]["rows"] / e["n_rows"])
                        if e.get("dv") and e.get("n_rows")
                        else 1
                    )
                )
                for e in rewrite
            )
            try:
                nv, _prep = self._publish_layout_rewrite(
                    df,
                    base_version=v,
                    man=man,
                    scope_paths=rewrite_paths,
                    n_out=cluster_partitions
                    or max(1, live_bytes // (128 << 20) + 1),
                    operation=(
                        "OPTIMIZE[reorg]"
                        if combine
                        else "OPTIMIZE[purge-dv]"
                    ),
                    stats_columns=[
                        inv0.get(c, c)
                        for c in man.get("stats_columns") or []
                    ]
                    or None,
                )
                dv_actions.append(
                    {
                        "action": "reorg" if combine else "purge_dv",
                        "version": nv,
                        "files_rewritten": len(rewrite),
                        "dv_rows_purged": dv_rows,
                        "bytes_rewritten": sum(e["bytes"] for e in rewrite),
                    }
                )
                v = nv
            except SnapshotConflictError:
                # a racer rewrote one of the scoped files while the
                # purge prepared — maintenance never aborts ingest's
                # win; record the skip, recompute signals from the
                # live head, and the next maintain() ride retries
                dv_actions.append(
                    {
                        "action": "reorg" if combine else "purge_dv",
                        "skipped": "concurrent-conflict",
                    }
                )
                v = self.current_version()
            man = self.manifest(v)
            files = man["files"]
        # Z-ORDER DECAY — a table last clustered by optimize_zorder
        # accumulates post-zorder key-clustered appends (incremental
        # merges never write z files), whose secondary-dimension
        # ranges are table-wide: the multi-dim skip rate decays with
        # the UNFLAGGED row fraction.  When that fraction exceeds
        # ``max_zorder_decay`` (or the unflagged file count exceeds
        # ``max_small_files`` — the small-append accumulation shape),
        # re-zorder ONLY the decayed portion: per-file stats tightness
        # is a per-file property, so the repair costs O(decayed bytes)
        # and the existing z mass is carried untouched.  Runs after the
        # purge (whose unflagged output rows fold into this rewrite)
        # and before the generic signals (the re-zorder bin-packs the
        # decayed smalls, so a repaired table doesn't then compact).
        zc = man.get("clustering") or {}
        z_signals: dict = {}
        if zc.get("type") == "zorder":
            unflagged = [
                e for e in files if e.get("clustered") != "zorder"
            ]
            # small z-flagged FRAGMENTS fold into the same repair: the
            # generic compact would rewrite them key-clustered and
            # DROP the flag — destroying the layout the table paid
            # for — so on a z table the scoped re-zorder owns all
            # layout health and the generic compact is skipped below
            frag_z = [
                e
                for e in files
                if e.get("clustered") == "zorder"
                and e["bytes"] < min_file_bytes
            ]
            un_rows = sum(e.get("n_rows") or 0 for e in unflagged)
            tot_rows = sum(e.get("n_rows") or 0 for e in files)
            z_signals = {
                "zorder_decayed_files": len(unflagged),
                "zorder_decayed_ratio": (
                    un_rows / tot_rows if tot_rows else 0.0
                ),
                "zorder_fragments": len(frag_z),
            }
            scope = unflagged + frag_z
            if scope and (
                z_signals["zorder_decayed_ratio"] > max_zorder_decay
                or len(scope) > max_small_files
            ):
                try:
                    r = self.optimize_zorder(
                        spark,
                        zc["columns"],
                        buckets=zc.get("buckets", 32),
                        cluster_partitions=cluster_partitions,
                        _scope_entries=scope,
                    )
                except SnapshotConflictError:
                    # racer rewrote a scoped entry mid-repair: skip,
                    # next ride re-derives the decay scope
                    dv_actions.append(
                        {
                            "action": "rezorder",
                            "skipped": "concurrent-conflict",
                        }
                    )
                    r = None
                if r is not None and r["version"] != v:
                    dv_actions.append(
                        {
                            "action": "rezorder",
                            "version": r["version"],
                            "files_rewritten": len(scope),
                            "bytes_rewritten": r["bytes_rewritten"],
                        }
                    )
                    v = r["version"]
                    man = self.manifest(v)
                    files = man["files"]
        small = [e for e in files if e["bytes"] < min_file_bytes]
        # the overlap signal considers only files of at least
        # min_file_bytes: a SMALL wide file (a merge-on-read append
        # spanning many bands) costs its own small mass to read and is
        # compact's job — counting it would make one batch-scale
        # append look like a table-wide overlap component and trigger
        # a full-table recluster every pass
        # z-ordered files are EXEMPT: a Morton layout's 1-D key ranges
        # overlap by construction (that is the trade that buys
        # secondary-column tightness) — counting them would make every
        # maintain() after optimize_zorder trigger a full key-range
        # recluster that destroys the layout it just paid for
        ranged = sorted(
            (
                e
                for e in files
                if e.get("min") is not None
                and e["bytes"] >= min_file_bytes
                and e.get("clustered") != "zorder"
            ),
            key=lambda e: (e["min"], e["max"]),
        )
        comps: list[list[dict]] = []
        cur: list[dict] = []
        cur_hi = None
        for e in ranged:
            if cur and e["min"] <= cur_hi:
                cur.append(e)
                cur_hi = max(cur_hi, e["max"])
            else:
                if len(cur) > 1:
                    comps.append(cur)
                cur, cur_hi = [e], e["max"]
        if len(cur) > 1:
            comps.append(cur)
        signals = {
            "files_total": len(files),
            "small_files": len(small),
            "overlap_files": sum(len(c) for c in comps),
            "overlap_components": len(comps),
            **dv_signals,
            **z_signals,
        }
        actions: list[dict] = list(dv_actions)
        if signals["overlap_files"] > max_overlap_files:
            inv = _inverse_mapping_of(man)  # manifest key/stats physical
            for comp in comps:
                base_v = self.current_version()
                man_now = self.manifest(base_v)
                comp_paths = {e["path"] for e in comp}
                comp_bytes = sum(e["bytes"] for e in comp)
                df = self._read_manifest_files(spark, man_now, comp)
                try:
                    nv, _prep = self._publish_layout_rewrite(
                        df,
                        base_version=base_v,
                        man=man_now,
                        scope_paths=comp_paths,
                        n_out=cluster_partitions
                        or max(1, comp_bytes // (128 << 20) + 1),
                        operation="OPTIMIZE[recluster]",
                        stats_columns=[
                            inv.get(c, c)
                            for c in man.get("stats_columns") or []
                        ]
                        or None,
                    )
                except SnapshotConflictError:
                    # racer rewrote a component file mid-recluster:
                    # skip this component, the others proceed
                    actions.append(
                        {
                            "action": "recluster",
                            "skipped": "concurrent-conflict",
                        }
                    )
                    continue
                actions.append(
                    {
                        "action": "recluster",
                        "version": nv,
                        "files_rewritten": len(comp),
                        "bytes_rewritten": comp_bytes,
                    }
                )
        if (
            signals["small_files"] > max_small_files
            and zc.get("type") != "zorder"
        ):
            # z tables: the scoped re-zorder above owns small-file
            # health (compact would strip the zorder flag from the
            # fragments it rewrites)
            try:
                stats = self.compact(
                    spark,
                    min_file_bytes=min_file_bytes,
                    cluster_partitions=cluster_partitions,
                )
                actions.append({"action": "compact", **stats})
            except SnapshotConflictError:
                # compact's own retries recompute against each new
                # head; persistent scope conflicts mean ingest is
                # rewriting the same small files — yield to it
                actions.append(
                    {
                        "action": "compact",
                        "skipped": "concurrent-conflict",
                    }
                )
        return {
            "triggered": bool(actions),
            "signals": signals,
            "actions": actions,
        }

    def optimize_zorder(
        self,
        spark: SparkSession,
        columns: list | tuple,
        *,
        buckets: int = 32,
        cluster_partitions: int | None = None,
        attempts: int = 3,
        _scope_entries: list | None = None,
    ) -> dict:
        """Delta ``OPTIMIZE ... ZORDER BY (cols)`` analog: rewrite the
        live table with files laid out along a MORTON CURVE over
        ``columns`` so that every file's [min, max] range is tight in
        EVERY z column at once — multi-dimensional data skipping.
        Single-key range clustering makes :meth:`read_range` /
        :meth:`read_eq` on the key prune to O(selectivity) files but a
        predicate on any OTHER column touches every file; the z layout
        trades a little leading-key tightness for range stats that
        prune on each dimension to ~F^((d-1)/d) of F files.

        Fully distributed, no UDFs, bounded driver metadata:

        1. EQUI-DEPTH cut points per column via ``approxQuantile``
           (distributed Greenwald-Khanna sketch; the driver receives
           ``buckets - 1`` doubles per column — centroid-scale, like
           the IVF index build, never row-scale).  Equi-depth — not
           equi-width — so skewed columns still spread across buckets.
        2. Bucket assignment JVM-side: ``F.aggregate`` over the
           broadcast cut array counts cuts <= value (NULLs fall into
           bucket 0, matching range clustering's NULLS FIRST).
        3. Bit interleave via ``shiftleft``/``shiftright``/``&`` —
           plain integer arithmetic inside whole-stage codegen (the
           ``o_zorder_layout`` catalog entry's expression, generalized
           to k columns of independent bit widths).
        4. One :meth:`commit_with_manifest` full rewrite clustered by
           the z expression (``cluster_by``), stats recorded for every
           z column, new entries flagged ``clustered: zorder`` so
           ``maintain()``'s 1-D overlap signal exempts them (z files
           overlap on the key BY DESIGN), and the manifest marked with
           the ``clustering`` descriptor (surfaced by
           :meth:`detail`).

        Layout-only: content is byte-identical (unit-asserted),
        deletion vectors are resolved by the rewrite (rows already
        dropped from the read never reach the new files — same purge
        effect as ``OPTIMIZE``), blooms/constraints/key identity are
        inherited.  Later incremental merges append key-clustered
        files, so the z layout DECAYS with new writes exactly as
        Delta's does — re-run after large ingests.

        Supported z-column types: integral, float/double, date,
        timestamp.  Strings/decimals/binary are rejected loudly (a
        hash-bucketed string has no meaningful min/max range; use
        :meth:`add_bloom_index` for string equality skipping).

        Scale: the rewrite reads and writes the live table once —
        O(table) like any OPTIMIZE — with the z expression costing
        ~``buckets`` integer comparisons per row per column inside
        codegen; the sketch pass is a separate O(table) scan of just
        the z columns (column-pruned).  At 100 TB you run this per
        partition/ingest-unit, not as one job — the same operational
        contract as Delta.

        ``_scope_entries`` (internal — ``maintain()``'s z-decay
        repair): restrict the rewrite to THESE manifest entries and
        carry every other file untouched.  Per-file stats tightness is
        a per-file property, so z-ordering only the DECAYED portion
        (post-zorder key-clustered appends) restores multi-dimensional
        skipping for its mass at O(decayed bytes) instead of O(table)
        — the already-z files keep their layout and their flag.  Cut
        points are re-sketched from the scope alone (bucket boundaries
        need not match the original pass; only per-file range
        tightness matters for pruning).

        Concurrency: the rewrite (sketch scan + clustered write)
        PREPARES lock-free and publishes metadata-only
        (``_publish_layout_rewrite``) — ingest never stalls behind
        it; disjoint racers rebase, a racer that rewrote a scoped
        file forces a recompute, retried up to ``attempts`` times.
        With ``_scope_entries`` the caller owns the scope policy, so
        conflicts propagate after ONE attempt for the caller to
        re-derive (``maintain()`` records a skipped action and the
        next ride retries).
        """
        if len(columns) < 2:
            raise ValueError(
                "optimize_zorder needs >= 2 columns — a single-column "
                "z-order is exactly key-range clustering; use "
                "commit_with_manifest's key for that"
            )
        if buckets < 4 or buckets > 1024:
            raise ValueError("buckets must be in [4, 1024]")
        last: SnapshotConflictError | None = None
        n_try = max(1, attempts) if _scope_entries is None else 1
        for _ in range(n_try):
            try:
                return self._zorder_once(
                    spark,
                    columns,
                    buckets=buckets,
                    cluster_partitions=cluster_partitions,
                    scope_entries=_scope_entries,
                )
            except SnapshotConflictError as e:
                last = e  # scope overlap: re-sketch against new head
        raise last

    def _zorder_once(
        self,
        spark: SparkSession,
        columns: list | tuple,
        *,
        buckets: int,
        cluster_partitions: int | None,
        scope_entries: list | None,
    ) -> dict:
        import math

        from pyspark.sql import functions as F

        _scope_entries = scope_entries
        v = self.current_version()
        man = self.manifest(v) if v is not None else None
        if man is None:
            raise ValueError(
                f"{self.root}: optimize_zorder() needs a committed "
                "manifest version (adopt a plain table with any "
                "commit_with_manifest / pruned merge first)"
            )
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(man["schema"])
        by_name = {f.name: f for f in schema.fields}
        _NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}

        def _as_double(name) -> "object":
            t = by_name[name].dataType.simpleString()
            c = F.col(name)
            if t in _NUMERIC:
                return c.cast("double")
            if t == "date":
                return F.datediff(c, F.to_date(F.lit("1970-01-01"))).cast(
                    "double"
                )
            if t.startswith("timestamp"):
                return c.cast("double")  # epoch seconds
            raise ValueError(
                f"optimize_zorder: column {name!r} has type {t}, which "
                "has no order-preserving numeric form — supported: "
                "integral, float/double, date, timestamp (for string "
                "equality skipping use add_bloom_index)"
            )

        for c in columns:
            if c not in by_name:
                raise ValueError(
                    f"optimize_zorder: unknown column {c!r} "
                    f"(schema: {sorted(by_name)})"
                )
            _as_double(c)  # type vet before any job runs
        if _scope_entries is None:
            scope = man["files"]
            # pin the read to v's OWN entries — self.read() resolves
            # the live head, and a racer landing between the version
            # read above and this scan would double its rows through
            # the publish-time rebase (df already has them AND the
            # rebuilt carried set has them)
            df = self._read_manifest_files(spark, man, scope)
        else:
            scope = list(_scope_entries)
            df = self._read_manifest_files(spark, man, scope)
        # -- 1. equi-depth cut points (one column-pruned sketch scan)
        probs = [i / buckets for i in range(1, buckets)]
        sketch = df.select(
            *[_as_double(c).alias(f"__zq{j}") for j, c in enumerate(columns)]
        )
        rel_err = max(0.001, 0.5 / buckets)
        all_cuts = sketch.approxQuantile(
            [f"__zq{j}" for j in range(len(columns))], probs, rel_err
        )
        cuts = [sorted(set(cs)) for cs in all_cuts]
        bits = [
            max(1, math.ceil(math.log2(len(cs) + 1))) if cs else 0
            for cs in cuts
        ]
        # -- 2+3. bucket + Morton interleave over PHYSICAL names (the
        # cluster_by expression runs inside the commit, after the
        # logical -> physical rename select)
        mapping = _mapping_of(man)

        def _bucket_expr(j: int, c: str):
            t = by_name[c].dataType.simpleString()
            pc = F.col(mapping.get(c, c))
            val = (
                pc.cast("double")
                if t in _NUMERIC or t.startswith("timestamp")
                else F.datediff(pc, F.to_date(F.lit("1970-01-01"))).cast(
                    "double"
                )
            )
            arr = F.array(*[F.lit(float(x)) for x in cuts[j]])
            return F.aggregate(
                arr,
                F.lit(0),
                lambda acc, cut: acc
                + F.when(val >= cut, F.lit(1)).otherwise(F.lit(0)),
            )

        if sum(bits) > 62:
            # shiftleft wraps its count mod the operand width — past
            # the long's bit budget the z value would silently scramble
            # (and the files would still be flagged clustered:'zorder',
            # permanently exempt from the 1-D repair signal); fail loud
            raise ValueError(
                f"zorder over {len(columns)} columns x {buckets} buckets "
                f"needs {sum(bits)} interleaved bits > 62 — reduce "
                "buckets or columns"
            )
        terms = []
        pos = 0
        for i in range(max(bits) if bits else 0):
            for j, c in enumerate(columns):
                if i < bits[j]:
                    terms.append(
                        F.shiftleft(
                            # LONG operand: shiftleft on an int wraps
                            # the shift count mod 32, scrambling any
                            # layout past 31 total bits
                            F.shiftright(_bucket_expr(j, c), i)
                            .bitwiseAND(F.lit(1))
                            .cast("long"),
                            pos,
                        )
                    )
                    pos += 1
        if not terms:  # every z column constant/all-NULL: nothing to do
            return {
                "version": v,
                "files_before": len(scope),
                "files_after": len(scope),
                "bytes_rewritten": 0,
                "z_bits": 0,
            }
        z_expr = functools.reduce(operator.add, terms)
        # -- 4. one rewrite commit clustered by the z value (the whole
        # table, or just the scoped decayed portion with the rest
        # carried)
        files = scope
        live_bytes = sum(
            int(
                e["bytes"]
                * (
                    1 - (e["dv"]["rows"] / e["n_rows"])
                    if e.get("dv") and e.get("n_rows")
                    else 1
                )
            )
            for e in files
        )
        n_out = cluster_partitions or max(1, live_bytes // (128 << 20) + 1)
        inv = _inverse_mapping_of(man)
        l_key = inv.get(man["key"], man["key"])
        prior_stats = [inv.get(c, c) for c in man.get("stats_columns") or []]
        stats = list(
            dict.fromkeys([*(prior_stats or [l_key]), *columns])
        )
        new_v, prepared = self._publish_layout_rewrite(
            df,
            base_version=v,
            man=man,
            scope_paths={e["path"] for e in scope},
            n_out=n_out,
            operation=f"OPTIMIZE[zorder({','.join(columns)})]",
            stats_columns=stats,
            cluster_by=z_expr,
            entry_flags={"clustered": "zorder"},
            clustering={
                "type": "zorder",
                "columns": list(columns),
                "buckets": buckets,
            },
        )
        own = prepared["new_entries"]
        return {
            "version": new_v,
            "files_before": len(files),
            "files_after": len(own),
            "bytes_rewritten": prepared["new_bytes"],
            "z_bits": pos,
        }

    def add_bloom_index(self, column: str) -> int:
        """Declare per-file BLOOM FILTERS on ``column`` (logical name)
        and BACKFILL them for every existing data file — Delta's
        ``delta.bloomFilter`` column index analog.  Future commits
        maintain blooms for their new files automatically (inherited
        like constraints).  The backfill is one columnar read of
        ``column`` per live file, under the writer lock; the blooms
        land in one immutable ``bloom-*.parquet`` sidecar in the new
        (otherwise metadata-only) version.

        Blooms buy EQUALITY pruning where range stats cannot: a point
        lookup (:meth:`read_eq`) or a pruned MERGE whose key values do
        not correlate with the clustering layout skips every file whose
        bloom proves absence (~1% false-positive rate at 10 bits/row —
        a false positive costs a file read, never correctness)."""

        # timestamp_ntz is deliberately ABSENT: NTZ stores wall time
        # while naive python probes follow PySpark's system-local
        # mktime semantics (_to_epoch_us) — on a non-UTC host the two
        # diverge and the bloom would return false negatives.  Indexing
        # NTZ needs per-column instant-vs-wall plumbing (the parquet
        # isAdjustedToUTC flag) through build AND probe; reject until
        # that exists.
        _BLOOMABLE = {
            "byte",
            "short",
            "integer",
            "long",
            "float",
            "double",
            "string",
            "boolean",
            "timestamp",
            "date",
        }

        def mutate(man, vdir):
            m = _mapping_of(man)
            names = {f["name"] for f in man["schema"]["fields"]}
            if column not in names:
                raise ValueError(
                    f"{self.root}: no column {column!r} to bloom-index"
                )
            ftype = next(
                f["type"]
                for f in man["schema"]["fields"]
                if f["name"] == column
            )
            # only types with a defined build/probe canonicalization
            # (_bloom_canon) may be indexed — a decimal or binary
            # column would stringify differently between the pyarrow
            # build side and python probe side, yielding bloom false
            # negatives (= silently wrong pruning), so fail loud here
            if not isinstance(ftype, str) or ftype not in _BLOOMABLE:
                raise ValueError(
                    f"{self.root}: column {column!r} has type {ftype!r},"
                    " which has no bloom canonicalization; indexable"
                    f" types: {sorted(_BLOOMABLE)}"
                )
            p = m.get(column, column)
            cols = list(man.get("bloom_columns") or [])
            if p not in cols:
                cols.append(p)
            entries = [dict(e) for e in man["files"]]
            need = [
                e
                for e in entries
                if p not in (e.get("bloom") or {}).get("cols", [])
            ]
            # files that need the new column rebuild their FULL bloom
            # set into the fresh sidecar (one ref per entry)
            _bloom_build_for_files(self.root, vdir, need, cols)
            man["files"] = entries
            man["bloom_columns"] = cols
            man["operation"] = "ALTER[bloom-index]"
            return man

        return self._manifest_only_commit(mutate)

    def _bloom_of(self, entry: dict, p_col: str, cache: dict) -> dict | None:
        """The entry's bloom for a physical column, or None (no index
        for that column on this file).  ``cache`` memoizes WHOLE
        sidecar loads per sidecar path across a pruning pass — one
        read serves every entry the sidecar covers."""
        b = entry.get("bloom")
        if not b or p_col not in b.get("cols", []):
            return None
        if b["path"] not in cache:
            cache[b["path"]] = _bloom_load_sidecar(self.root, b["path"])
        return cache[b["path"]].get(entry["path"], {}).get(p_col)

    def _eq_prune(self, man: dict, column: str, values) -> list[dict]:
        """Entries that may hold any of ``values`` in ``column``
        (logical name): range-stats check where recorded, then bloom
        check where indexed — both conservative."""
        import numpy as np

        p = _mapping_of(man).get(column, column)
        vals = list(values)
        # range check in the stats' space (temporal → epoch-us,
        # instant vs wall per the column type); the bloom probe keeps
        # the ORIGINAL values (_bloom_canon does its own temporal
        # canonicalization against the persisted kind)
        c_vals = [
            _stat_canon(v, _schema_field_type(man, column)) for v in vals
        ]
        cache = self._bloom_sidecar_cache
        if len(cache) > 64:  # bound driver memory on huge tables
            cache.clear()
        kept = []
        for e in man["files"]:
            if man.get("key") == p:
                rng = (e["min"], e["max"])
            else:
                s = (e.get("stats") or {}).get(p)
                rng = (s[0], s[1]) if s else (None, None)
            if rng[0] is not None and rng[1] is not None:
                try:
                    if not any(rng[0] <= v <= rng[1] for v in c_vals):
                        continue
                except TypeError:
                    # mistyped probe (e.g. a string against temporal
                    # stats): conservative keep — the exact filter
                    # decides, matching the pre-stats degrade
                    pass
            bloom = self._bloom_of(e, p, cache)
            if bloom is not None and not bool(
                np.any(_bloom_might_contain(bloom, vals))
            ):
                continue
            kept.append(e)
        return kept

    def read_eq(self, spark: SparkSession, column: str, values) -> DataFrame:
        """Point-lookup read: scan only the files whose range stats AND
        bloom filter (where indexed, :meth:`add_bloom_index`) admit one
        of ``values``, then apply the exact ``IN`` predicate — the
        equality companion of :meth:`read_range`.  On a high-cardinality
        column uncorrelated with the layout, range stats keep nearly
        every file and the bloom does the real skipping.  Degrades to a
        full scan + filter on a plain version (correct, unpruned)."""
        from pyspark.sql import functions as F

        vals = list(values) if isinstance(values, (list, tuple, set)) else [values]
        # SQL equality never matches NULL — drop None probes (and an
        # all-None list short-circuits to the empty result)
        vals = [x for x in vals if x is not None]
        v = self.current_version()
        raw = self._raw_manifest(v) if v is not None else None
        if not vals:
            if raw is None:
                return self.read(spark).limit(0)
            # schema-only: materialize nothing (False-test pruning)
            man = self._materialize_pruned(v, lambda e: False)
            return self._read_manifest_files(spark, man, []).limit(0)
        if raw is None:
            return self.read(spark).filter(F.col(column).isin(vals))
        # segment-envelope skip on the RANGE component (blooms are
        # per-file and evaluate after the candidate segments
        # materialize); same conservative test _eq_prune applies
        p = _mapping_of(raw).get(column, column)
        man_key = raw.get("key")
        c_vals = [
            _stat_canon(x, _schema_field_type(raw, column)) for x in vals
        ]

        def rng_might(e: dict) -> bool:
            if man_key == p:
                rng = (e.get("min"), e.get("max"))
            else:
                s = (e.get("stats") or {}).get(p)
                rng = (s[0], s[1]) if s else (None, None)
            if rng[0] is None or rng[1] is None:
                return True
            try:
                return any(rng[0] <= x <= rng[1] for x in c_vals)
            except TypeError:
                return True  # mistyped probe: conservative keep

        man = self._materialize_pruned(v, rng_might)
        kept = self._eq_prune(man, column, vals)
        return self._read_manifest_files(spark, man, kept).filter(
            F.col(column).isin(vals)
        )

    def read_range(self, spark: SparkSession, key: str, lo=None, hi=None) -> DataFrame:
        """Manifest-stats data skipping on the READ path: scan only the
        files whose [min, max] range of ``key`` can intersect
        [lo, hi], then apply the exact predicate — the reader-side
        payoff of the same stats the pruned MERGE writes
        (Delta/Iceberg data skipping).  Files without stats are always
        read (conservative).  ``key`` may also be a NON-clustering
        column recorded via ``stats_columns`` — skipping then uses the
        per-file secondary stats (effective when the column correlates
        with the layout).  On a plain version, or when the manifest
        carries no stats for ``key``, this degrades to a full scan +
        filter (correct, just unpruned)."""
        from pyspark.sql import functions as F

        v = self.current_version()
        # metadata (key / stats_columns / column_mapping) is inline in
        # BOTH manifest storage forms — the raw doc answers without
        # materializing the file list
        raw = self._raw_manifest(v) if v is not None else None
        # manifest stats are keyed PHYSICALLY; the caller's key is logical
        p_key = _mapping_of(raw).get(key, key) if raw is not None else key
        man_key = raw.get("key") if raw is not None else None

        def col_range(e: dict):
            if man_key == p_key:
                return e.get("min"), e.get("max")
            r = (e.get("stats") or {}).get(p_key)
            return (r[0], r[1]) if r else (None, None)

        has_stats = raw is not None and (
            man_key == p_key or p_key in raw.get("stats_columns", [])
        )
        if not has_stats:
            df = self.read(spark)
        else:
            # temporal probes compare in the stats' epoch-us space
            # (instant vs wall per the column type)
            _kt = _schema_field_type(raw, key)
            c_lo, c_hi = _stat_canon(lo, _kt), _stat_canon(hi, _kt)

            def might(e: dict) -> bool:
                emin, emax = col_range(e)
                if emin is None or emax is None:
                    return True
                try:
                    return (c_lo is None or emax >= c_lo) and (
                        c_hi is None or emin <= c_hi
                    )
                except TypeError:
                    return True  # mistyped bound: conservative keep

            # segment-envelope skip first (O(intersecting segments)
            # materialization on a segmented table), then the same
            # test per entry
            man = self._materialize_pruned(v, might)
            kept = [e for e in man["files"] if might(e)]
            df = self._read_manifest_files(spark, man, kept)
        if lo is not None:
            df = df.filter(F.col(key) >= lo)
        if hi is not None:
            df = df.filter(F.col(key) <= hi)
        return df

    def _compile_pruner(self, spark: SparkSession, man: dict, condition: str):
        """Compile a SQL predicate into a conservative PER-FILE
        might-match test over the manifest stats, or ``None`` when no
        part of it is prunable (the caller then scans every file —
        pruning only ever narrows, never decides).

        The predicate is parsed by SPARK'S OWN PARSER (never a
        hand-rolled tokenizer) and the expression tree walked with a
        strict whitelist: ``AND`` intersects, ``OR`` unions,
        ``col {<,<=,>,>=,=} literal`` (either side) and
        ``col IN (literals)`` test the file's [min, max] interval;
        every other node — functions, casts, NOT, IS NULL, arithmetic,
        string-vs-temporal comparisons — compiles to "might match"
        (sound: the exact filter still runs over whatever survives).
        All supported atoms are NULL-rejecting, so pruning on non-null
        footer ranges is sound for files that also hold NULLs.

        Typed literals arrive ALREADY in the stats' canonical space
        (Catalyst: TIMESTAMP → epoch-us, DATE → epoch-days, converted
        here to epoch-us) — the same representation ``_stat_value``
        records.  A mistyped comparison (int stat vs string literal)
        degrades to might-match via the TypeError guard.
        """
        try:
            jexpr = (
                spark._jsparkSession.sessionState()
                .sqlParser()
                .parseExpression(condition)
            )
        except Exception:
            return None
        mapping = _mapping_of(man)
        key_p = man.get("key")
        stat_cols = set(man.get("stats_columns") or ([key_p] if key_p else []))
        stat_cols.add(key_p)

        def _rng(e: dict, pcol: str):
            if pcol == key_p:
                return e.get("min"), e.get("max")
            s = (e.get("stats") or {}).get(pcol)
            return (s[0], s[1]) if s else (None, None)

        _TRUE = lambda e: True  # noqa: E731 — the conservative default
        usable = [False]

        def _children(j) -> list:
            out, it = [], j.children().iterator()
            while it.hasNext():
                out.append(it.next())
            return out

        def _literal(j):
            """(ok, value-in-stats-space) for a Literal node."""
            if j.getClass().getSimpleName() != "Literal":
                return False, None
            t = str(j.dataType())
            v = j.value()
            if v is None:
                return False, None
            if t in ("ByteType", "ShortType", "IntegerType", "LongType"):
                return True, int(v)
            if t in ("FloatType", "DoubleType"):
                return True, float(v)
            if t in ("TimestampType", "TimestampNTZType"):
                return True, int(v)  # Catalyst stores epoch-us
            if t == "DateType":
                return True, int(v) * 86_400_000_000  # epoch-days → us
            if t == "StringType":
                return True, str(v)
            return False, None  # decimal / binary / interval: bail

        def _attr(j):
            if j.getClass().getSimpleName() != "UnresolvedAttribute":
                return None
            parts = j.nameParts()
            if parts.size() != 1:
                return None  # qualified names: bail
            return mapping.get(str(parts.head()), str(parts.head()))

        _TESTS = {
            "LessThan": lambda lo, hi, v: lo < v,
            "LessThanOrEqual": lambda lo, hi, v: lo <= v,
            "GreaterThan": lambda lo, hi, v: hi > v,
            "GreaterThanOrEqual": lambda lo, hi, v: hi >= v,
            "EqualTo": lambda lo, hi, v: lo <= v <= hi,
        }
        _MIRROR = {
            "LessThan": "GreaterThan",
            "LessThanOrEqual": "GreaterThanOrEqual",
            "GreaterThan": "LessThan",
            "GreaterThanOrEqual": "LessThanOrEqual",
            "EqualTo": "EqualTo",
        }

        def _atom(pcol: str, test, vals):
            if pcol not in stat_cols:
                return _TRUE  # no recorded stats for this column
            usable[0] = True

            def f(e):
                lo, hi = _rng(e, pcol)
                if lo is None or hi is None:
                    return True  # stat-less file: always a candidate
                try:
                    return any(test(lo, hi, v) for v in vals)
                except TypeError:
                    return True  # mistyped comparison: conservative
            return f

        def comp(j):
            cls = j.getClass().getSimpleName()
            ch = _children(j)
            if cls == "And" and len(ch) == 2:
                l, r = comp(ch[0]), comp(ch[1])
                return lambda e: l(e) and r(e)
            if cls == "Or" and len(ch) == 2:
                l, r = comp(ch[0]), comp(ch[1])
                return lambda e: l(e) or r(e)
            if cls in _TESTS and len(ch) == 2:
                a, (ok, v) = _attr(ch[0]), _literal(ch[1])
                if a is not None and ok:
                    return _atom(a, _TESTS[cls], [v])
                a, (ok, v) = _attr(ch[1]), _literal(ch[0])
                if a is not None and ok:  # literal OP col: mirror
                    return _atom(a, _TESTS[_MIRROR[cls]], [v])
                return _TRUE
            if cls == "In" and len(ch) >= 2:
                a = _attr(ch[0])
                lits = [_literal(c) for c in ch[1:]]
                if a is not None and all(ok for ok, _ in lits):
                    return _atom(
                        a, _TESTS["EqualTo"], [v for _, v in lits]
                    )
                return _TRUE
            if (
                cls == "UnresolvedFunction"
                and str(j.nameParts().mkString(".")) == "between"
                and len(ch) == 3
            ):
                # col BETWEEN lo AND hi ≡ col >= lo AND col <= hi
                # (NOT BETWEEN arrives wrapped in Not and bails above)
                a = _attr(ch[0])
                (ok_l, lo_v), (ok_h, hi_v) = _literal(ch[1]), _literal(ch[2])
                if a is not None and ok_l and ok_h:
                    l = _atom(a, _TESTS["GreaterThanOrEqual"], [lo_v])
                    r = _atom(a, _TESTS["LessThanOrEqual"], [hi_v])
                    return lambda e: l(e) and r(e)
                return _TRUE
            return _TRUE

        fn = comp(jexpr)
        return fn if usable[0] else None

    def _prune_where(
        self, spark: SparkSession, man: dict, condition: str
    ) -> list[dict]:
        """Manifest entries that might hold a row matching
        ``condition`` — all of them when nothing is prunable."""
        pruner = self._compile_pruner(spark, man, condition)
        if pruner is None:
            return man["files"]
        return [e for e in man["files"] if pruner(e)]

    def read_where(self, spark: SparkSession, condition: str) -> DataFrame:
        """Predicate read with manifest-stats FILE pruning: scan only
        the files whose [min, max] stats might satisfy the SQL
        ``condition`` (conjunct extraction via Spark's parser — see
        :meth:`_compile_pruner`), then apply the exact predicate.
        Generalizes :meth:`read_range`/:meth:`read_eq` to arbitrary
        predicates: the prunable atoms narrow the scan, everything
        else is enforced by the filter.  Degrades to a full scan +
        filter when nothing is prunable or on a plain version —
        correct, just unpruned."""
        from pyspark.sql import functions as F

        v = self.current_version()
        raw = self._raw_manifest(v) if v is not None else None
        if raw is None:
            return self.read(spark).filter(F.expr(condition))
        # the compiled pruner is a conservative interval test, so it
        # evaluates segment envelopes directly (monotone under
        # containment): segments no entry of which could match are
        # never materialized
        pruner = self._compile_pruner(spark, raw, condition)
        man = self._materialize_pruned(
            v, pruner if pruner is not None else (lambda e: True)
        )
        kept = (
            man["files"]
            if pruner is None
            else [e for e in man["files"] if pruner(e)]
        )
        return self._read_manifest_files(spark, man, kept).filter(
            F.expr(condition)
        )

    # ------------------------------------------------------ change feed
    def changes_file_diff(self, v_from: int, v_to: int) -> dict:
        """The manifest FILE DIFF between two committed versions — the
        observability companion of :meth:`changes_between`: how many
        data files each side of the net-changes join must scan, and how
        many are carried by reference through the intervening commits
        and therefore never read.  ``None`` counts when either version
        is a plain (manifest-less) directory — the diff then degrades
        to full snapshots."""
        maps = self._diff_file_maps(v_from, v_to)
        if maps is None:
            return {"files_old": None, "files_new": None, "files_carried": None}
        ef, et = maps
        pf, pt = set(ef), set(et)
        # a carried file whose deletion vector changed is NOT carried
        # content-wise: its DV delta positions are read (only those)
        dv_changed = sum(
            1
            for p in pf & pt
            if (ef[p].get("dv") or None) != (et[p].get("dv") or None)
        )
        # the carried count includes the files inside shared segments
        # (identical by construction, absent from the diff maps):
        # total files of v_from minus the diff's removed/changed mass
        raw_f = self._raw_manifest(v_from)
        segs_f = self._seg_refs(raw_f)
        if segs_f is not None:
            raw_t = self._raw_manifest(v_to) or {}
            shared = {r["path"] for r in segs_f} & {
                r["path"] for r in self._seg_refs(raw_t) or []
            }
            shared_n = sum(
                r["n"] for r in segs_f if r["path"] in shared
            )
        else:
            shared_n = 0
        return {
            "files_old": len(pf - pt),
            "files_new": len(pt - pf),
            "files_carried": shared_n + len(pf & pt) - dv_changed,
            "files_dv_changed": dv_changed,
        }

    def changes_between(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        *,
        key: str | list | tuple | None = None,
    ) -> DataFrame:
        """NET change data feed between two committed versions (Delta's
        ``table_changes`` net semantics; the reference gets row-level
        CDC from Snowflake table streams on the MERGE target,
        embeddings-pipeline.py:294-352).  Emits one row per inserted or
        deleted key and an ``update_preimage``/``update_postimage``
        pair per key whose row differs, with ``_change_type`` and
        ``_commit_version`` (= ``v_to``) columns appended to the
        ``v_to`` schema.

        Scale contract: files present in BOTH manifests were carried BY
        REFERENCE through the intervening commits (the pruned MERGE's
        untouched-file mass) and hold byte-identical rows — they are
        never scanned.  Each side of the diff join reads only the
        file-set difference, so read amplification is bounded by the
        touched+appended file mass of the intervening commits, not by
        table size — the property that makes a daily CDC export viable
        on a 100 TB table.  Rows rewritten UNCHANGED inside a touched
        file appear on both sides with equal values and are filtered by
        the null-safe row comparison (they are not changes).  Plain
        (manifest-less) versions degrade to a full two-snapshot diff —
        correct, just unpruned.  Evolved columns absent from ``v_from``
        read as NULL on the pre-image side (same rule as
        :meth:`_read_resolved`)."""
        from functools import reduce

        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        if v_from >= v_to:
            raise ValueError(
                f"changes_between requires v_from < v_to (got {v_from}, {v_to})"
            )
        readable = set(self.versions())
        for v in (v_from, v_to):
            if v not in readable:
                raise FileNotFoundError(
                    f"version {v} not available (never committed or vacuumed)"
                )
        # RAW docs carry everything the feed derivation needs (key
        # identity, schema, mapping); the file lists are needed only
        # as a DIFF, which _diff_file_maps computes in O(changed
        # segments) on segmented manifests
        man_f, man_t = self._raw_manifest(v_from), self._raw_manifest(v_to)
        if key is None:
            # manifest keys are PHYSICAL; the feed speaks logical.
            # Prefer the manifest's recorded ROW IDENTITY
            # (``key_columns``, written by composite-key merges), then
            # stats_columns — a composite merge's identity is the full
            # tuple, not the clustering lead (joining a 50-value lead
            # alone would explode the diff) — the same rule the
            # streaming CDF source applies.  stats_columns may also
            # carry skip-only columns that are NOT key components; a
            # table written before key_columns existed gets a warning
            # when that ambiguous multi-column fallback fires, and
            # should pass ``key=`` explicitly.
            man_k = man_t or man_f
            if man_k is None:
                raise ValueError(
                    "key required: neither version has a keyed manifest"
                )
            phys = man_k.get("key_columns") or None
            if phys is None:
                phys = man_k.get("stats_columns") or [man_k.get("key")]
                if len(phys) > 1:
                    import warnings

                    warnings.warn(
                        f"{self.root}: change-feed row identity defaulted"
                        f" to the full stats_columns tuple {phys} (no"
                        " key_columns recorded in the manifest); if any"
                        " of these are skip-only stats columns rather"
                        " than key components, pass key= explicitly",
                        stacklevel=2,
                    )
            if phys == [None]:
                raise ValueError(
                    "key required: neither version has a keyed manifest"
                )
            inv_k = _inverse_mapping_of(man_k)
            key = [inv_k.get(p, p) for p in phys]
        keys = [key] if isinstance(key, str) else list(key)

        if man_f is not None and man_t is not None:
            pf, pt = self._diff_file_maps(v_from, v_to)
            schema_t = StructType.fromJson(man_t["schema"])

            def side(man, ents):
                return self._read_manifest_files(spark, man, ents)

            # a file present in BOTH manifests with a DIFFERENT
            # deletion vector holds changed LOGICAL content while its
            # bytes are identical: the rows at positions in the new DV
            # but not the old disappeared (merge-on-read deletes), the
            # reverse direction reappeared (a restore across a DV
            # commit).  Only those DELTA positions are read — never
            # the whole carried file.
            dv_changed = [
                p
                for p in set(pf) & set(pt)
                if (pf[p].get("dv") or None) != (pt[p].get("dv") or None)
            ]
            old = side(
                man_f, [pf[p] for p in sorted(set(pf) - set(pt))]
            )
            new = side(
                man_t, [pt[p] for p in sorted(set(pt) - set(pf))]
            )
            dv_mass = sum(
                (ents[p].get("dv") or {}).get("rows") or 0
                for p in dv_changed
                for ents in (pf, pt)
            )
            if dv_changed and dv_mass <= 1_000_000:
                # small delta: the r8 driver path — ONE sidecar read
                # per side, exact numpy setdiff, no extra Spark jobs
                # (the overwhelmingly common daily-commit shape)
                import numpy as np

                gone, back = {}, {}
                for p in dv_changed:
                    po = self._dv_positions_of(pf[p])
                    pn = self._dv_positions_of(pt[p])
                    d = np.setdiff1d(pn, po)
                    r = np.setdiff1d(po, pn)
                    if len(d):
                        gone[p] = d
                    if len(r):
                        back[p] = r

                def _pos_frame(m):
                    from pyspark.sql.types import (
                        LongType,
                        StringType,
                        StructField,
                        StructType,
                    )

                    return spark.createDataFrame(
                        [(p, int(i)) for p, arr in m.items() for i in arr],
                        StructType(
                            [
                                StructField("_path", StringType(), False),
                                StructField("_pos", LongType(), False),
                            ]
                        ),
                    )

                if gone:
                    old = old.unionByName(
                        self._read_entry_positions_df(
                            spark, man_f, pf, sorted(gone), _pos_frame(gone)
                        )
                    )
                if back:
                    new = new.unionByName(
                        self._read_entry_positions_df(
                            spark, man_t, pt, sorted(back), _pos_frame(back)
                        )
                    )
            elif dv_changed:
                # big delta: computed SPARK-SIDE (sidecars are
                # parquet: read, anti-join each direction) — a 100M-row
                # MoR delete's change feed must not collect its
                # positions to the driver.  Only the per-file HIT list
                # (#files rows) is collected, to scan just those files.
                # The anti-join recomputes once when the feed is
                # consumed (bounded sidecar reads — the data-file scan
                # dominates at this mass; materializing a scratch copy
                # to save it is not worth the lifecycle).
                def side_positions(ents):
                    by_sc: dict[str, list] = {}
                    for p in dv_changed:
                        dv = ents[p].get("dv")
                        if dv:
                            by_sc.setdefault(dv["path"], []).append(p)
                    parts = [
                        spark.read.parquet(os.path.join(self.root, sc))
                        .filter(F.col("_path").isin(rels))
                        .select("_path", "_pos")
                        for sc, rels in sorted(by_sc.items())
                    ]
                    return (
                        functools.reduce(DataFrame.unionByName, parts)
                        if parts
                        else None
                    )

                po_df = side_positions(pf)
                pn_df = side_positions(pt)

                def anti(a, b):
                    if a is None or b is None:
                        return a
                    return a.join(b, ["_path", "_pos"], "left_anti")

                gone_df = anti(pn_df, po_df)  # newly deleted: pre-image
                back_df = anti(po_df, pn_df)  # un-deleted: post-image
                for pos_df, man_s, ents, is_old in (
                    (gone_df, man_f, pf, True),
                    (back_df, man_t, pt, False),
                ):
                    if pos_df is None:
                        continue
                    hit = [
                        r["_path"]
                        for r in pos_df.select("_path")
                        .distinct()
                        .collect()
                    ]
                    if not hit:
                        continue
                    sub = self._read_entry_positions_df(
                        spark, man_s, ents, hit, pos_df
                    )
                    if is_old:
                        old = old.unionByName(sub)
                    else:
                        new = new.unionByName(sub)
            # align RENAMED columns by PHYSICAL identity: a column
            # renamed between v_from and v_to is the SAME column (same
            # physical name in the files), so its pre-images carry the
            # old values under the NEW logical name — not drop+add
            inv_t = _inverse_mapping_of(man_t)
            ren = {
                ol: inv_t[phys]
                for ol, phys in _mapping_of(man_f).items()
                if phys in inv_t
            }
            old = old.select(
                *[F.col(c).alias(ren.get(c, c)) for c in old.columns]
            )
        else:
            old = self._read_resolved(spark, v_from)
            new = self._read_resolved(spark, v_to)
            schema_t = new.schema

        # align the pre-image side to the v_to schema (evolved columns
        # surface as NULL; types follow v_to)
        for f in schema_t.fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        old = old.select(
            *[F.col(f.name).cast(f.dataType) for f in schema_t.fields]
        )
        new = new.select(*schema_t.names)
        vals = [c for c in schema_t.names if c not in keys]

        o = old.withColumn("_o_present", F.lit(True)).alias("o")
        n = new.withColumn("_n_present", F.lit(True)).alias("n")
        j = o.join(n, on=keys, how="full_outer")
        changed = (
            reduce(
                lambda a, b: a | b,
                [
                    ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
                    for c in vals
                ],
            )
            if vals
            else F.lit(False)
        )

        def img(side_alias: str, ctype: str):
            return F.struct(
                *[F.col(k).alias(k) for k in keys],
                *[F.col(f"{side_alias}.{c}").alias(c) for c in vals],
                F.lit(ctype).alias("_change_type"),
            )

        arr = (
            F.when(
                F.col("_o_present").isNull(), F.array(img("n", "insert"))
            )
            .when(F.col("_n_present").isNull(), F.array(img("o", "delete")))
            .otherwise(
                F.array(
                    img("o", "update_preimage"), img("n", "update_postimage")
                )
            )
        )
        return (
            j.filter(
                F.col("_o_present").isNull()
                | F.col("_n_present").isNull()
                | changed
            )
            .select(F.explode(arr).alias("_c"))
            .select("_c.*")
            .withColumn("_commit_version", F.lit(v_to))
        )

    def changes_since(
        self,
        spark: SparkSession,
        v_from: int,
        *,
        key: str | list | tuple | None = None,
    ) -> DataFrame:
        """Changes from ``v_from`` up to the CURRENT version — the
        incremental CDC consumer's call shape: persist the last
        exported version number (a watermark), export
        ``changes_since(last)``, then record the current version.
        Returns an empty change set (correct schema) when the table
        has not moved past ``v_from``."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        cur = self.current_version()
        if cur is None or v_from not in set(self.versions()):
            raise FileNotFoundError(
                f"version {v_from} not available (never committed or vacuumed)"
            )
        if cur == v_from:
            man = self.manifest(cur)
            base = (
                StructType.fromJson(man["schema"])
                if man is not None
                else self._read_resolved(spark, cur).schema
            )
            return (
                spark.createDataFrame([], base)
                .withColumn("_change_type", F.lit(None).cast("string"))
                .withColumn("_commit_version", F.lit(None).cast("int"))
            )
        return self.changes_between(spark, v_from, cur, key=key)

    # ----------------------------------------------------------- vacuum
    def vacuum(
        self,
        keep_last: int = 2,
        *,
        retain_seconds: float | None = None,
        dry_run: bool = False,
    ) -> list[int]:
        """Reclaim crash orphans (version dirs without a ``_COMMITTED``
        marker that are not current) and all but the newest
        ``keep_last - 1`` previously-live versions below the current
        one.  Never touches legacy files.

        ``retain_seconds`` EXTENDS retention by time (Delta's
        ``DATA_RETENTION`` / ``VACUUM ... RETAIN N HOURS`` analog; the
        reference relies on Snowflake's
        ``DATA_RETENTION_TIME_IN_DAYS``): any version committed within
        the window also survives, so time travel / ``read_as_of`` /
        CDC catch-up is guaranteed a floor measured in wall time, not
        in commit count (commit count is the wrong unit on a table
        whose daily merge count varies).  The two retention rules
        compose as a UNION — vacuum only ever keeps more, never less.

        ``dry_run=True`` (Delta ``VACUUM ... DRY RUN``): report the
        versions whose directories WOULD be fully removed and delete
        nothing — not even the partial per-file GC runs.

        Manifest-aware: a kept version's manifest may reference data
        files BY REFERENCE inside older (non-kept) version directories
        — those files are never deleted.  A non-kept directory with
        some-but-not-all files referenced is GC'd file-by-file (its
        ``_COMMITTED`` / ``_MANIFEST`` markers go too, so the
        partially-emptied version cleanly stops being time-travelable
        instead of reading with missing files).  Returns the versions
        whose directories were FULLY removed.

        Concurrency: the lock hold is METADATA-ONLY in three acts —
        the expensive kept-manifest materialization runs BEFORE the
        lock; under the lock the keep/referenced sets fold in any
        versions committed in the window, condemned versions lose
        their ``_COMMITTED``/``_MANIFEST`` markers (they atomically
        stop being readable/restorable), and crash orphans ABOVE the
        head are reclaimed (their version numbers get REUSED by the
        next commit, so deleting them lock-free would race an
        in-flight writer recreating the dir); the BULK data deletion
        of condemned dirs below the head runs AFTER the lock is
        released — a below-head version number is never reused and a
        file unreferenced by every kept manifest can never be
        re-referenced (commits carry only head refs plus fresh
        staging; restore of a condemned version fails cleanly on its
        removed markers), so racing writers never queue behind the
        rmtree of a deep history.  ``dry_run`` stays lock-free.  May
        raise ``ConcurrentCommitError`` if the lock cannot be acquired
        within ``lock_wait_seconds`` — ride-along callers (the merge's
        ``vacuum_keep_last``) treat that as "skip this ride".

        Driver memory: ``referenced`` is an exact ``set`` up to
        ``vacuum_bloom_min_refs`` estimated kept files (cheap
        O(segments) estimate), and a per-run-salted Bloom filter
        (`_SaltedBloomRefs`) beyond — membership stays exact-negative
        (nothing referenced is ever deleted), false positives
        over-retain ~0.4% of dead files for one extra vacuum cycle,
        and the driver bound drops from O(100 B/file) to
        O(1.75 B/file)."""
        current = self.current_version()
        if current is None:
            return []
        committed_older = [
            v
            for v in self._versions_on_disk()
            if v < current
            and os.path.exists(os.path.join(self._version_dir(v), _COMMITTED))
        ]
        keep = {current}
        keep.update(committed_older[-(keep_last - 1):] if keep_last > 1 else [])
        if retain_seconds is not None:
            import time

            cutoff = time.time() - retain_seconds
            keep.update(
                v for v in committed_older if self.committed_at(v) >= cutoff
            )
        referenced = self._new_ref_container(keep)
        for v in keep:
            self._collect_version_refs(v, referenced)
        if dry_run:
            # report-only: no lock (deletes nothing, a racy snapshot
            # of what a real vacuum would drop is exactly the ask)
            condemned = [
                v for v in self._versions_on_disk() if v not in keep
            ]
            return self._sweep_version_dirs(
                condemned, referenced, dry_run=True
            )
        self._acquire_lock()
        try:
            fresh = self.current_version()
            if fresh is not None and (current is None or fresh > current):
                # the head advanced while we computed `referenced`:
                # every version committed in the window joins keep and
                # contributes its refs (usually zero or one manifest —
                # their carried refs are already ⊆ the stale head's,
                # but folding them in makes the sweep airtight rather
                # than argued)
                for v in self._versions_on_disk():
                    if v > (current or 0) and v <= fresh:
                        keep.add(v)
                        self._collect_version_refs(v, referenced)
                current = fresh
            # pointer metadata below the retention horizon goes with
            # the versions (no-op on posix; the object-store
            # protocol's LIST-max pointer resolution stays bounded by
            # retention).
            self._protocol.gc_pointers(min(keep))
            on_disk = self._versions_on_disk()
            # crash orphans ABOVE the head: failed commits whose
            # version number the NEXT commit will reuse — reclaim
            # under the lock (no commit is in flight while we hold
            # it; normally zero dirs)
            orphans_above = [
                v for v in on_disk if v not in keep and v > current
            ]
            dropped_above = self._sweep_version_dirs(
                orphans_above, referenced, dry_run=False
            )
            # condemned below-head versions: strip their markers so
            # they atomically stop being readable/restorable; the
            # bulk file deletion happens after the lock drops
            condemned = [
                v for v in on_disk if v not in keep and v <= current
            ]
            for v in condemned:
                vdir = self._version_dir(v)
                for marker in (_COMMITTED, _MANIFEST):
                    try:
                        os.remove(os.path.join(vdir, marker))
                    except OSError:
                        pass
            # staged-dir pass UNDER the lock: unpublished dirs only
            # (the StalePreparedError fence checks staging age under
            # this same lock, so sweep-vs-publish interleavings stay
            # impossible); published dirs are skipped with one stat
            # each and GC'd lock-free below
            published_staged = self._sweep_staged(referenced)
        finally:
            self._release_lock()
        # LOCK-FREE bulk deletion: condemned below-head dirs, then
        # dead files inside published staging dirs
        dropped = self._sweep_version_dirs(
            condemned, referenced, dry_run=False
        )
        self._gc_published_staged(published_staged, referenced)
        return sorted(dropped_above + dropped)

    # exact-set ceiling for vacuum's referenced-file container; above
    # this (estimated) kept-file count the salted Bloom tier engages
    vacuum_bloom_min_refs: int = 5_000_000

    def _new_ref_container(self, keep: set):
        """Exact ``set`` below ``vacuum_bloom_min_refs`` estimated
        kept files, per-run-salted Bloom above.  The estimate is
        O(segments) rollup arithmetic (``_segment_totals``); inline
        manifests are by construction below any sane threshold.
        Records the choice in ``_last_vacuum_ref_mode`` for tests."""
        est = 0
        for v in keep:
            tot = self._segment_totals(v)
            if tot is not None:
                # data + DV sidecars + (≤1 bloom per file) + segment
                # and chunk metadata files
                est += tot["n_files"] * 2 + tot["dv_files"]
        if est <= self.vacuum_bloom_min_refs:
            self._last_vacuum_ref_mode = "exact"
            return set()
        self._last_vacuum_ref_mode = "bloom"
        return _SaltedBloomRefs(int(est * 1.5))

    def _collect_version_refs(self, v: int, referenced) -> None:
        """Fold version ``v``'s reachable relpaths into ``referenced``
        (exact set or Bloom — ``add``/``update`` only): data files,
        DV/bloom sidecars, manifest segments and level-2 chunk lists —
        everything partial GC must not strand.

        Segmented manifests STREAM: entries are walked one segment at
        a time (peak driver memory = one segment + the LRU-bounded
        segment cache) instead of ``manifest(v)``'s full
        materialization — the full ``files`` list is O(~400 B x kept
        files) of driver dicts (measured, probe_vacuum_scale), which
        would defeat the Bloom container's whole point at 10^8
        files."""
        # manifest SEGMENTS are referenced metadata exactly like
        # data files: a kept manifest may carry segments living in
        # older (non-kept) version dirs, and partial GC must not
        # strand it unreadable
        raw = self._raw_manifest(v)
        # level-2 chunk files are referenced metadata exactly like
        # segments: a kept manifest may carry chunks (and their
        # member segments) living in older non-kept version dirs
        for lref in (raw or {}).get("seg_ref_lists") or []:
            referenced.add(lref["path"])
        refs = self._seg_refs(raw)
        if refs is not None:
            for ref in refs:
                referenced.add(ref["path"])
            for ref in refs:
                for _path, j in self._load_segment(ref["path"]):
                    e = json.loads(j)
                    referenced.add(e["path"])
                    # DV / bloom sidecars are referenced files too: a
                    # kept entry's deletion vector and bloom index
                    # must survive as long as the entry
                    if e.get("dv"):
                        referenced.add(e["dv"]["path"])
                    if e.get("bloom"):
                        referenced.add(e["bloom"]["path"])
            return
        man = self.manifest(v)  # inline or plain: small by definition
        if man is not None:
            referenced.update(e["path"] for e in man["files"])
            referenced.update(
                e["dv"]["path"] for e in man["files"] if e.get("dv")
            )
            referenced.update(
                e["bloom"]["path"]
                for e in man["files"]
                if e.get("bloom")
            )

    def _sweep_version_dirs(
        self, condemned: list, referenced, *, dry_run: bool
    ) -> list[int]:
        """Delete the condemned version dirs' unreferenced files
        (whole-dir rmtree when nothing referenced remains).  Pure
        MEMBERSHIP tests against ``referenced`` — a listed entry is
        kept iff its relpath tests positive — so the container can be
        the exact set or the Bloom tier.  Returns the versions whose
        directories were FULLY removed."""
        dropped = []
        for v in condemned:
            vdir = self._version_dir(v)
            vname = os.path.basename(vdir)
            try:
                entries = os.listdir(vdir)
            except OSError:
                continue
            kept_here = [
                fn
                for fn in entries
                if os.path.join(vname, fn) in referenced
            ]
            if not kept_here:
                if not dry_run:
                    shutil.rmtree(vdir, ignore_errors=True)
                dropped.append(v)
                continue
            if dry_run:
                continue
            # partial GC: the version is dead but some of its files are
            # carried by live manifests — delete only the unreferenced
            keep_names = set(kept_here)
            for fn in entries:
                if fn in keep_names:
                    continue
                p = os.path.join(vdir, fn)
                try:
                    if os.path.isdir(p):
                        # directory-form DV sidecars (the distributed
                        # write path) GC like any other dead file
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                except OSError:
                    pass
        return dropped

    def _sweep_staged(self, referenced) -> list:
        """UNDER-LOCK half of the staged sweep: reclaim DEAD
        content-addressed staging dirs (prepare/publish split) and
        decide which published dirs the lock-free half may GC inside.

        A staged dir no kept manifest references is DEAD — either an
        abandoned prepare (a conflicted writer recomputed; its own
        cleanup is best-effort) or the data of a vacuumed version.
        The age grace protects IN-FLIGHT prepares: a racing writer's
        staging exists before any manifest references it, and only the
        preparer knows about it until publish.  Deleting unpublished
        dirs MUST stay under the commit lock — the
        ``StalePreparedError`` fence checks staging age under the same
        lock, so no sweep-vs-publish interleaving escapes.

        The scale trick: with content-addressed placement MOST of a
        table's data lives in PUBLISHED staging dirs, and
        membership-testing all of it here would be an O(table files)
        lock hold.  A dir carrying the ``_PUBLISHED`` marker (written
        at publish, under the lock) is skipped with ONE stat; its
        file-level GC happens lock-free afterwards (a file in a
        published staging that no kept manifest references can never
        be re-referenced — staging names are fresh uuids, commits
        carry only head refs, the same argument as below-head version
        dirs).  Referenced-but-unmarked dirs (pre-marker tables; a
        crash between pointer swap and marker write) SELF-HEAL: the
        marker is written here, one O(dir files) membership pass,
        once.  Returns the published dir names for
        :meth:`_gc_published_staged`."""
        import time as _time

        now = _time.time()
        sroot = os.path.join(self.root, _STAGED)
        try:
            staged = os.listdir(sroot)
        except OSError:
            staged = []
        published: list[str] = []
        for name in staged:
            sdir = os.path.join(sroot, name)
            if os.path.exists(os.path.join(sdir, _STAGED_PUBLISHED)):
                published.append(name)
                continue
            try:
                entries = os.listdir(sdir)
                age = now - os.path.getmtime(sdir)
            except OSError:
                continue
            if age < self.staged_gc_grace_seconds:
                # possibly an IN-FLIGHT prepare (the fence guarantees
                # nothing in flight is older than the grace window) —
                # untouched: no deletion, and NO self-heal either.  A
                # Bloom false positive on one of an in-flight dir's
                # files must not mislabel it "published" and let the
                # lock-free GC eat its siblings; a published-but-
                # unmarked young dir (marker-write crash) just waits
                # one grace cycle to be healed.
                continue
            if any(
                os.path.join(_STAGED, name, fn) in referenced
                for fn in entries
            ):
                # referenced but unmarked, past grace — published
                # before the marker existed or the marker write
                # crashed: self-heal so every later sweep skips it
                # with a stat.  (Under the Bloom container this can
                # false-positive on an ABANDONED dir ~0.4% of the
                # time — harmless: the lock-free GC then reclaims its
                # dead files and the next salted run drops the rest.)
                try:
                    with open(
                        os.path.join(sdir, _STAGED_PUBLISHED), "w"
                    ) as f:
                        f.write("healed")
                except OSError:
                    pass
                published.append(name)
                continue
            shutil.rmtree(sdir, ignore_errors=True)
        return published

    def _gc_published_staged(self, published: list, referenced) -> None:
        """LOCK-FREE half of the staged sweep: inside each PUBLISHED
        staging dir, reclaim files no kept manifest references (a
        compaction rewrote them; their versions fell out of
        retention).  Safe outside the lock: a published staging's
        unreferenced file can never be re-referenced, and underscore
        metadata (markers) is never touched."""
        sroot = os.path.join(self.root, _STAGED)
        for name in published:
            sdir = os.path.join(sroot, name)
            try:
                entries = os.listdir(sdir)
            except OSError:
                continue
            live = 0
            for fn in entries:
                if fn.startswith("_"):
                    continue
                if os.path.join(_STAGED, name, fn) in referenced:
                    live += 1
                    continue
                p = os.path.join(sdir, fn)
                try:
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                except OSError:
                    pass
            if not live:
                # everything this published staging held is dead —
                # drop the dir (marker included) so the staged
                # listing stays O(live prepares + live data dirs)
                shutil.rmtree(sdir, ignore_errors=True)
