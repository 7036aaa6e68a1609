"""tools/probe.py end to end: one JSON line per query from perfbench's
readers, and no process of its own left after it exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                if os.getsid(int(entry)) == sid:
                    pids.append(int(entry))
            except ProcessLookupError:
                pass
    return pids


def test_probe_splits_build_and_exec_and_leaves_no_jvm():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    # its own session, so anything it leaves behind is found by session id
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "probe.py"),
         "latest_per_key", "stream_replay_enriched"],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert _session_pids(proc.pid) == []

    recs = {r["query"]: r for r in map(json.loads, out.splitlines())}
    assert list(recs) == ["latest_per_key", "stream_replay_enriched"]
    for r in recs.values():
        assert 0.9 * r["wall_s"] <= r["build_s"] + r["exec_s"] <= r["wall_s"] + 0.002
        assert r["exec_jobs"] > 0 and r["exec"]["tasks"] > 0
        assert 0 <= r["jobs_outside_group"] <= r["build_jobs"] + r["exec_jobs"]

    # a plain plan builder runs no job; the replay drains a stream in its
    # builder, whose micro-batches run under the stream's own job group
    assert recs["latest_per_key"]["build_jobs"] == 0
    assert recs["latest_per_key"]["jobs_outside_group"] == 0
    assert recs["stream_replay_enriched"]["build_jobs"] > 0
    assert recs["stream_replay_enriched"]["jobs_outside_group"] > 0
