"""Seeded input generator for the stream workloads.

Writes a backlog of small ``events`` parquet files (the fixture
``events`` schema: event_id, ts, user_id, event_type, value, props) and a
``customer`` dimension, all from one seed, so the same seed always gives
byte-identical inputs. Domains follow the reference datagen: 150 users
and 50 contents (the content id rides in ``props``).

- ``key_skew`` is the Zipf exponent of the user distribution (0 =
  uniform); user 0 is the heaviest.
- ``replay_share`` is the share of each file after the first that
  re-sends an ``event_id`` from an earlier file with a new ts and value
  (an upsert). Replays only go into files after their original, and a
  file never holds one key twice, so the cross-batch ``dropDuplicates``
  of a one-file micro-batch keeps exactly the first occurrence.

The file source orders a backlog by modification time, so every file
gets a strictly increasing mtime (``os.utime``); without it, files
written in one second replay in an arbitrary order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_USERS = 150
N_CONTENTS = 50
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
# epoch of the first event, in microseconds (2024-01-01 00:00:00 UTC)
T0_US = 1_704_067_200_000_000
# window sentinel: this far past the last event, its own HOP windows
# hold nothing else and every real window has closed under the watermark
SENTINEL_GAP_US = 20 * 60 * 1_000_000

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass(frozen=True)
class Backlog:
    """What was written: the stream directory, the dimension directory
    and the number of data events (replays included, sentinel not)."""

    events_dir: str
    dim_dir: str
    files: list[str]
    events: int


def _user_probs(key_skew: float) -> np.ndarray:
    """Zipf weights by user id. The ranking is the same for every seed:
    which users are heavy decides how evenly the hash partitions of a
    keyed operator are loaded, and that must not change between runs."""
    weights = 1.0 / np.arange(1, N_USERS + 1, dtype=np.float64) ** key_skew
    return weights / weights.sum()


def write_customer(rng: np.random.Generator, dim_dir: str) -> None:
    """150-row dimension; every 30th user has no row, so the enrichment's
    LEFT-join NULL path is exercised."""
    keys = np.array([k for k in range(N_USERS) if k % 30 != 29], dtype=np.int64)
    n = len(keys)
    table = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)],
        }
    )
    os.makedirs(dim_dir, exist_ok=True)
    pq.write_table(table, os.path.join(dim_dir, "customer.parquet"))


def _events_table(
    rng: np.random.Generator,
    ids: np.ndarray,
    ts_us: np.ndarray,
    probs: np.ndarray,
) -> pa.Table:
    n = len(ids)
    contents = rng.integers(0, N_CONTENTS, n)
    return pa.table(
        {
            "event_id": ids.astype(np.int64),
            "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us")),
            "user_id": rng.choice(N_USERS, n, p=probs).astype(np.int64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
            # whole cents, so DECIMAL(18,2) sums are exact on both engines
            "value": rng.integers(1, 50_001, n) / 100.0,
            "props": [f'{{"content_id": {c}}}' for c in contents],
        },
        schema=EVENTS_SCHEMA,
    )


def _write_files(events_dir: str, tables: list[pa.Table]) -> list[str]:
    os.makedirs(events_dir, exist_ok=True)
    # mtimes one second apart, ending in the past, ordered like the names
    base = int(os.path.getmtime(events_dir)) - len(tables) - 10
    paths = []
    for i, table in enumerate(tables):
        path = os.path.join(events_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + i, base + i))
        paths.append(path)
    return paths


def upsert_backlog(
    root: str,
    seed: int,
    files: int,
    events_per_file: int,
    key_skew: float,
    replay_share: float,
) -> Backlog:
    """Upsert events for the fan-out job: fresh ids plus replays of ids
    from earlier files, event time advancing 1 ms per event."""
    rng = np.random.default_rng(seed)
    probs = _user_probs(key_skew)
    dim_dir = os.path.join(root, "dim")
    write_customer(rng, dim_dir)
    n_replay = int(round(events_per_file * replay_share))
    tables, next_id = [], 0
    for i in range(files):
        k = n_replay if i > 0 else 0
        fresh = np.arange(next_id, next_id + events_per_file - k)
        replays = rng.choice(next_id, k, replace=False) if k else fresh[:0]
        next_id += len(fresh)
        ids = np.concatenate([fresh, replays])
        ts = T0_US + (i * events_per_file + np.arange(len(ids))) * 1_000
        tables.append(_events_table(rng, ids, ts, probs))
    paths = _write_files(os.path.join(root, "events"), tables)
    return Backlog(os.path.join(root, "events"), dim_dir, paths, files * events_per_file)


def window_backlog(
    root: str,
    seed: int,
    files: int,
    events_per_file: int,
    key_skew: float,
    events_per_s: int,
    jitter_s: float,
) -> Backlog:
    """Append-only events for the HOP leaderboard: file ``i`` covers the
    next ``events_per_file / events_per_s`` seconds of event time, each
    event shifted by up to ``jitter_s`` either way. With a 1-minute
    watermark, ``2 * jitter_s < 60`` keeps every event above the
    watermark, so nothing is dropped as late. A final one-event sentinel
    file, 20 minutes past the last event, closes every real window."""
    rng = np.random.default_rng(seed)
    probs = _user_probs(key_skew)
    dim_dir = os.path.join(root, "dim")
    write_customer(rng, dim_dir)
    span_us = events_per_file * 1_000_000 // events_per_s
    jitter_us = int(jitter_s * 1_000_000)
    tables = []
    for i in range(files):
        ids = np.arange(i * events_per_file, (i + 1) * events_per_file)
        ts = T0_US + i * span_us + np.sort(rng.integers(0, span_us, events_per_file))
        ts = ts + rng.integers(-jitter_us, jitter_us + 1, events_per_file)
        tables.append(_events_table(rng, ids, ts, probs))
    last_us = max(int(t.column("ts").cast(pa.int64()).to_numpy().max()) for t in tables)
    sentinel = pa.table(
        {
            "event_id": [-1],
            "ts": pa.array([last_us + SENTINEL_GAP_US], pa.timestamp("us")),
            "user_id": [-1],
            "event_type": ["sentinel"],
            "value": pa.array([None], pa.float64()),
            "props": ["{}"],
        },
        schema=EVENTS_SCHEMA,
    )
    paths = _write_files(os.path.join(root, "events"), tables + [sentinel])
    return Backlog(os.path.join(root, "events"), dim_dir, paths, files * events_per_file)
