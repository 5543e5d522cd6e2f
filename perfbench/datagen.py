"""Seeded input generators for the benchmark; pure functions of the seed.

``write_corpus`` writes the two corpus tables the LLM-data queries read,
``documents`` and ``embeddings``, as single-row-group parquet files
with the column types and value distributions of the engine's fixtures:
a 30-word vocabulary for document text with planted exact and near
duplicates, and unit-norm 64-d embeddings.

``ingest_inputs`` builds the initial load and the landing batches of
the ``ingest_merge`` workload.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = ("documents", "embeddings")

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_CORPUS_DIM = 64


def _vectors(rng: np.random.Generator, n: int, dim: int, *, unit: bool) -> pa.Array:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    if unit:
        x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(pa.list_(pa.float32()))


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``documents`` (50k x sf rows) and ``embeddings`` (20k x sf rows)."""
    rng = np.random.default_rng(seed)
    n_doc, n_emb = max(200, int(50_000 * sf)), max(200, int(20_000 * sf))
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 101, n_doc)
    words = rng.integers(0, len(vocab), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(vocab[words[e - ln : e]]) for e, ln in zip(ends, lengths)]
    # planted duplicates: ~0.2% exact copies and ~1.6% near copies
    # (the original text plus one token) of earlier documents
    for i in np.flatnonzero(rng.random(n_doc) < 0.018):
        if i:
            src = texts[int(rng.integers(0, i))]
            texts[i] = src if rng.random() < 0.1 else src + " dup"
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.choice(len(_LANGS), n_doc, p=_LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": _vectors(rng, n_emb, _CORPUS_DIM, unit=True),
            "label": rng.integers(0, 10, n_emb, dtype=np.int32),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus tables to ``out_dir/<name>.parquet`` (one row
    group each, like the fixtures); returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in corpus_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = table.num_rows
    return counts


# ------------------------------------------------------------ ingest

_HOUR_US = 3_600_000_000
_COLORS = ["", "red", "blue", "green", "black"]


def _doc_batch(rng: np.random.Generator, tag: str, keys: np.ndarray, t_lo: int, dim: int) -> pa.Table:
    """Pipeline documents (the reference's ``source_documents`` shape)
    for ``keys``, with distinct event times inside [t_lo, t_lo + 1h)."""
    n = len(keys)
    ts = t_lo + np.sort(rng.choice(_HOUR_US, n, replace=False))
    return pa.table(
        {
            "_id": pa.array([f"{tag}-{i}" for i in range(n)]),
            "source": pa.array([f"src{k % 8}" for k in keys]),
            "cleaned_ref": pa.array([f" Ref-{k:08d}.é " for k in keys]),
            "color": pa.array([_COLORS[k % 5] for k in keys]),
            "category": pa.array([f"cat{k % 11}" for k in keys]),
            "country": pa.array([["US", "FR"][: 1 + k % 2] for k in keys], type=pa.list_(pa.string())),
            "embeddings": _vectors(rng, n, dim, unit=False),
            "embeddings_type": pa.array(["text"] * n),
            "for_matching": pa.array(keys % 3 == 0),
            "timestamp": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }
    )


def ingest_inputs(seed: int, *, base_rows: int, batch_rows: int, dim: int = 128):
    """The initial full load and an endless iterator of landing batches.

    The base holds keys ``0..base_rows-1`` once each.  The batch shape
    follows the daily cycle of ``tools/stress_merge_longhorizon.py``:
    two thirds of the rows are new keys appended above the current
    maximum, one third are updates, given as a narrow contiguous run
    plus a moderate run strided across a tenth of the key space.  Here
    the narrow run (three quarters of the updates) starts at a random
    offset inside the last two batches' new keys, so updates skew to
    recent keys, and the strided run sits at a random offset among the
    older keys (the old-key tail).  One row in twenty re-emits a key
    already in the same batch (in-batch duplicates that
    ``latest_per_key`` must fold).  The three-quarter split and the
    duplicate rate are not taken from the reference, which publishes no
    update statistics.  Event times increase from the base through every
    batch.
    """
    rng = np.random.default_rng(seed + 7_919)
    # where the update runs fall does not depend on the seed, so every
    # seed asks the same MERGE work (files touched) of the engine
    pos = np.random.default_rng(7_919)
    t0 = int(dt.datetime(2024, 3, 1).replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    base = _doc_batch(rng, "base", np.arange(base_rows), t0 - _HOUR_US, dim)

    def batches():
        next_key, b = base_rows, 0
        n_new, n_dup = 2 * batch_rows // 3, batch_rows // 20
        n_upd = batch_rows - n_new - n_dup
        n_recent = 3 * n_upd // 4
        n_old = n_upd - n_recent
        while True:
            lo = max(0, next_key - 2 * n_new)
            start = int(pos.integers(lo, next_key - n_recent + 1))
            recent = np.arange(start, start + n_recent)
            span = max(n_old, next_key // 10)
            off = int(pos.integers(0, max(1, lo - span)))
            old = off + np.arange(n_old) * (span // n_old)
            keys = np.concatenate([np.arange(next_key, next_key + n_new), recent, old])
            keys = np.concatenate([keys, rng.choice(keys, n_dup)])
            next_key += n_new
            yield next_key, _doc_batch(rng, f"b{b}", keys, t0 + b * _HOUR_US, dim)
            b += 1

    return base, batches()
