"""Deterministic benchmark inputs, written as parquet inside the run's
work directory.

The pipeline fixture (``documents`` + ``events``) has the schema of the
repo's sf fixtures, so ``sources.pages`` derives the same page/point
counts from it: every derived count depends only on ``doc_id`` and the
number of events, never on the generated text.  The fixture seed is
fixed, so pinned counts hold for every workload seed; the workload seed
drives only the streamed event split and the query schedule.

Random numbers come from a vectorised splitmix64, which gives the same
values on every numpy version.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value column agg a big vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh", "ja", "ru", "pt")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH = dt.datetime(2024, 1, 1)


def _mix(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def uniform(seed: int, stream: int, n: int) -> np.ndarray:
    """n floats in [0, 1), a pure function of (seed, stream, index)."""
    with np.errstate(over="ignore"):
        base = np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15) + np.uint64(
            stream
        ) * np.uint64(0xD1B54A32D192ED03)
        x = _mix(np.arange(1, n + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15) + base)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def documents_table(n_docs: int, seed: int = FIXTURE_SEED) -> pa.Table:
    n_words = (20 + uniform(seed, 1, n_docs) * 60).astype(np.int64)
    picks = (uniform(seed, 2, int(n_words.sum())) * len(WORDS)).astype(np.int64)
    texts, off = [], 0
    for k in n_words:
        texts.append(" ".join(WORDS[i] for i in picks[off : off + k]))
        off += k
    langs = (uniform(seed, 3, n_docs) * len(LANGS)).astype(np.int64)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in langs]),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def events_table(n_events: int, seed: int) -> pa.Table:
    """Events in time order: ``event_id`` 0..n-1, ``ts`` increasing."""
    gaps_us = (1 + uniform(seed, 11, n_events) * 2_000_000).astype(np.int64)
    ts = np.datetime64(EPOCH, "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    types = (uniform(seed, 13, n_events) * len(EVENT_TYPES)).astype(np.int64)
    ks = (uniform(seed, 15, n_events) * 100).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array((uniform(seed, 12, n_events) * 1000).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in types]),
            "value": pa.array(np.round(uniform(seed, 14, n_events) * 200, 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in ks]),
        }
    )


def write_fixture(out_dir: str, n_docs: int, n_events: int) -> None:
    """The pipeline's ``documents`` + ``events`` tables (fixed seed)."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents_table(n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(events_table(n_events, FIXTURE_SEED), f"{out_dir}/events.parquet")


def split_cuts(n_rows: int, n_files: int, seed: int) -> list[int]:
    """Seeded cut points splitting n_rows (in order) into n_files
    non-empty slices; returns the n_files + 1 boundaries."""
    if n_rows < 3 * n_files:
        # below this a slice's share (at least 1/3 of the mean) can round to 0
        raise ValueError(f"{n_rows} rows are too few for {n_files} files")
    w = 0.5 + uniform(seed, 21, n_files)
    sizes = np.floor(w / w.sum() * n_rows).astype(np.int64)
    sizes[-1] += n_rows - sizes.sum()
    return [0] + np.cumsum(sizes).tolist()


def write_event_split(out_dir: str, n_events: int, n_files: int, seed: int) -> None:
    """The seeded events table split in time order into n_files parquet
    files (one micro-batch each at maxFilesPerTrigger=1)."""
    os.makedirs(out_dir, exist_ok=True)
    tbl = events_table(n_events, seed)
    cuts = split_cuts(n_events, n_files, seed)
    for i in range(n_files):
        part = tbl.slice(cuts[i], cuts[i + 1] - cuts[i])
        path = f"{out_dir}/part-{i:04d}.parquet"
        pq.write_table(part, path)
        # the file source orders files by modification time; pin it
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
