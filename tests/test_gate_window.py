"""The gate-window rules of plans/window.py on synthetic records, and on
the committed ones: computed over rounds 1-14 with round 15's re-proofs,
the window is the one round 15's record checked. No Spark session."""

from __future__ import annotations

import json
import os

import pytest

from flink_engagement_pipeline_spark.plans import REGISTRATION_ORDER, REGISTRY
from flink_engagement_pipeline_spark.plans.window import (
    MAX_REPLAYS,
    SENTINELS,
    WINDOW,
    gate_window,
    load_records,
)

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def green(rows=10):
    return {"hash_match": True, "spark_rows": rows, "err": None}


ERR = {"hash_match": None, "spark_rows": None, "err": "Py4JJavaError"}
NO_ORACLE = {"hash_match": None, "spark_rows": 5, "err": "no_oracle"}


def checked(rnd, *names, **rows):
    """One round's record: ``names`` green, ``rows`` as given."""
    return {rnd: {**{n: green() for n in (*SENTINELS, *names)}, **rows}}


def window(base, records, no_oracle=(), reprove=None):
    return gate_window([*SENTINELS, *base], records, no_oracle, reprove or {})


def test_unproven_queries_enter_first():
    records = {**checked(1, "old", "q_err"), **checked(2, "newer", q_err=ERR)}
    got = window(["old", "newer", "q_err", "q_new"], records)
    # never checked and errored-last, in registration order, then the
    # oldest proof first
    assert got == [*SENTINELS, "q_err", "q_new", "old", "newer"]


def test_reprove_entry_expires_once_a_newer_proof_lands():
    base = ["a", "b", "changed"]
    records = checked(1, *base)
    assert window(base, records, reprove={"changed": 2})[len(SENTINELS)] == "changed"
    records.update(checked(2, "changed"))
    assert window(base, records, reprove={"changed": 2})[len(SENTINELS):] == [
        "a", "b", "changed",
    ]


def test_no_oracle_queries_never_enter():
    records = checked(1, "a", sketch=NO_ORACLE)
    assert "sketch" not in window(["sketch", "a", "fresh_sketch"], records,
                                  no_oracle={"sketch", "fresh_sketch"})


def test_replay_and_big_output_caps():
    replays = [f"stream_r{i}" for i in range(MAX_REPLAYS + 2)]
    base = [*replays, "huge", "small"]
    records = checked(1, *replays, "small", huge=green(2_000_000))
    records[1]["hop_engagement_sum"] = green(1_190_988)
    got = window(base, records)
    assert got[len(SENTINELS):] == [*replays[:MAX_REPLAYS], "small"]


def test_first_proof_overflow_raises():
    fresh = [f"q{i}" for i in range(WINDOW - len(SENTINELS) + 1)]
    with pytest.raises(ValueError, match="need a first proof"):
        window(fresh, checked(1))
    assert len(window(fresh[:-1], checked(1))) == WINDOW


def test_unregistered_names_raise():
    with pytest.raises(ValueError, match="unregistered"):
        window(["a"], checked(1, "a"), reprove={"gone": 2})


def test_load_records_needs_a_record(tmp_path):
    with pytest.raises(FileNotFoundError):
        load_records(str(tmp_path))


def test_reproduces_the_round_15_window():
    """Rounds 1-14 plus the 19 queries round 15 re-proved after its
    value-path changes give exactly the 50 names, in order, that the
    round-15 record checked."""
    records = load_records(REPO_ROOT)
    with open(os.path.join(REPO_ROOT, "CORRECTNESS_r15.json")) as f:
        r15 = list(json.load(f))
    recorded = set().union(*(records[r] for r in records if r <= 15))
    base = [n for n in REGISTRATION_ORDER if n in recorded]
    no_oracle = {n for n in base if REGISTRY[n].oracle is None}
    reprove = {n: 15 for n in r15[len(SENTINELS):25]}
    before = {r: rows for r, rows in records.items() if r <= 14}
    assert gate_window(base, before, no_oracle, reprove) == r15
