"""The driver's correctness-gate window, computed from its own records.

The driver's gate evaluates registered queries in REGISTRY order and
checks only the first ``WINDOW`` of them each round. Its per-round
records, ``CORRECTNESS_r<NN>.json`` at the repository root, say which
queries a round checked and whether each hash matched. A query's row
is *green* when its hash matched; a query is *proven* in round N when
its newest row is green and comes from round N. ``gate_window`` turns
the records into the next round's window, so that over rounds every
oracled query gets an external driver row:

[a] ``SENTINELS`` stay first every round: the reference's own
    two-query surface (enrichment join, HOP sum) and the headline
    dedup paths.
[b] First proof: every oracled query that is not proven (never
    checked, or its newest row errored or mismatched), in
    registration order, so a new query enters on its own. Then every
    ``REPROVE`` entry whose last proof is older than its round.
[c] Backfill fills the rest, oldest proof first, ties in registration
    order. It takes at most ``MAX_REPLAYS`` ``stream_*`` replays (each
    is a real streaming job, seconds of the gate's budget), and skips a
    query with a recorded output of ``BIG_ROWS`` or more while the
    window already holds one (the driver's non-Arrow toPandas of the
    1.19 M-row HOP output alone costs ~40 s).

Queries registered with ``oracle=None`` never enter: the driver grades
them no_oracle, which proves nothing. A [b] that does not fit beside
the sentinels raises instead of dropping a query silently.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Collection, Mapping, Sequence

WINDOW = 50
MAX_REPLAYS = 4
BIG_ROWS = 1_000_000

SENTINELS = (
    "enrich_events",
    "latest_per_key",
    "hop_engagement_sum",
    "docs_exact_dedup",
    "docs_jaccard_pairs",
    "docs_minhash_portable",
)

# A material change to a query's value path that no new record has
# proven yet: {name: the first round whose record can prove it}. An
# entry has no effect once the query is proven in that round or later.
REPROVE: dict[str, int] = {
    # the fan-out plans its enrichment once per run; the dedup state
    # schema changed with it
    "stream_replay_enriched": 16,
    # the batch ingest queries run their family's arrival-order-agnostic
    # screen (the streaming replays' code path); new plan skeletons
    "docs_minhash_ingest": 16,
    "docs_simhash_ingest": 16,
    "embedding_neardup_ingest": 16,
    "media_phash_ingest": 16,
    "media_video_ingest": 16,
}

Records = Mapping[int, Mapping[str, Mapping]]


def load_records(root: str) -> dict[int, dict[str, dict]]:
    """``{round: {name: row}}`` from the ``CORRECTNESS_r<NN>.json`` files
    in ``root``."""
    records = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                records[int(m.group(1))] = json.load(f)
    if not records:
        raise FileNotFoundError(f"no CORRECTNESS_r*.json records in {root}")
    return records


def proofs(records: Records) -> tuple[dict[str, int | None], set[str]]:
    """``({name: round it is proven in, or None}, {names with a recorded
    output of BIG_ROWS or more})`` over every recorded query."""
    proven: dict[str, int | None] = {}
    big = set()
    for rnd in sorted(records):
        for name, row in records[rnd].items():
            proven[name] = rnd if row.get("hash_match") is True else None
            if (row.get("spark_rows") or 0) >= BIG_ROWS:
                big.add(name)
    return proven, big


def gate_window(
    base_order: Sequence[str],
    records: Records,
    no_oracle: Collection[str],
    reprove: Mapping[str, int] = REPROVE,
) -> list[str]:
    """The next round's window: names from ``base_order`` (registration
    order), sentinels first, at most ``WINDOW`` of them."""
    unknown = [n for n in (*SENTINELS, *reprove) if n not in base_order]
    if unknown:
        raise ValueError(f"window names unregistered queries: {unknown}")
    proven, big = proofs(records)
    candidates = [
        n for n in base_order if n not in no_oracle and n not in SENTINELS
    ]
    first_proof = [n for n in candidates if proven.get(n) is None]
    first_proof += [
        n
        for n, rnd in reprove.items()
        if n in candidates and n not in first_proof and proven[n] < rnd
    ]
    window = [*SENTINELS, *first_proof]
    if len(window) > WINDOW:
        raise ValueError(
            f"{len(first_proof)} queries need a first proof but only "
            f"{WINDOW - len(SENTINELS)} slots follow the sentinels: "
            f"{first_proof}"
        )
    rank = {n: i for i, n in enumerate(base_order)}
    backfill = sorted(
        set(candidates) - set(window), key=lambda n: (proven[n], rank[n])
    )
    replays = 0
    has_big = any(n in big for n in window)
    for name in backfill:
        if len(window) == WINDOW:
            break
        replay = name.startswith("stream_")
        if (replay and replays == MAX_REPLAYS) or (name in big and has_big):
            continue
        replays += replay
        has_big = has_big or name in big
        window.append(name)
    return window
