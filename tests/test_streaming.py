"""Streaming correctness: stream==batch consistency (SURVEY §5.2),
upsert dedup under replayed duplicates, multi-sink fan-out, sink
payload shapes, watermark append-mode semantics."""

from __future__ import annotations

import datetime
import json
import shutil

import pytest
from pyspark.sql import functions as F

from flink_engagement_pipeline_spark.operators.dedup import latest_per_key
from flink_engagement_pipeline_spark.operators.enrich import enrich_events
from flink_engagement_pipeline_spark.session import pinned_conf
from flink_engagement_pipeline_spark.sources.tables import load_table
from flink_engagement_pipeline_spark.streaming import pipeline as sp
from flink_engagement_pipeline_spark.streaming import sinks as sk

SF = "/root/testdata/sf0.001"

STATE_STORE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture()
def events_dir(tmp_path):
    """Stage the events fixture as a stream-source directory."""
    d = tmp_path / "stream-in"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "events-000.parquet")
    return str(d)


@pytest.fixture()
def doubled_events_dir(tmp_path):
    """Same fixture twice — every event_id arrives duplicated, which
    the upsert dedup must collapse (reference PRIMARY KEY semantics)."""
    d = tmp_path / "stream-in-2x"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "a.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "b.parquet")
    return str(d)


def _batch_enriched_rows(spark):
    events = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer")
    return sorted(
        map(tuple, enrich_events(latest_per_key(events), dim).collect())
    )


def test_stream_equals_batch_enrichment(spark, events_dir, tmp_path):
    mem = sk.MemorySink()
    sp.run_enriched_fanout(
        spark, events_dir, SF, {"mem": mem}, str(tmp_path / "ckpt")
    )
    assert sorted(map(tuple, mem.rows)) == _batch_enriched_rows(spark)


def test_stream_dedups_replayed_duplicates(spark, doubled_events_dir, tmp_path):
    mem = sk.MemorySink()
    sp.run_enriched_fanout(
        spark, doubled_events_dir, SF, {"mem": mem}, str(tmp_path / "ckpt")
    )
    # both copies arrive in the availableNow batch; latest-per-key
    # collapses them to exactly the batch result
    assert sorted(map(tuple, mem.rows)) == _batch_enriched_rows(spark)


def test_cross_batch_stateful_dedup(spark, doubled_events_dir, tmp_path):
    """Duplicates split across micro-batches (maxFilesPerTrigger=1):
    per-batch dedup alone would emit each event twice; stateful
    dropDuplicates must suppress the replayed batch entirely."""
    mem = sk.MemorySink()
    sp.run_enriched_fanout(
        spark,
        doubled_events_dir,
        SF,
        {"mem": mem},
        str(tmp_path / "ckpt"),
        cross_batch_dedup=True,
        max_files_per_trigger=1,
    )
    assert len(mem.batches) >= 2
    assert sorted(map(tuple, mem.rows)) == _batch_enriched_rows(spark)


def test_cross_batch_fanout_plans_enrichment_once(
    spark, doubled_events_dir, tmp_path, monkeypatch
):
    """With cross-batch dedup every key is unique, so a multi-batch
    fan-out plans the enrichment once per run, as part of the stream,
    and never builds the per-batch latest_per_key."""
    calls = {"enrich_events": 0, "latest_per_key": 0}

    def counted(name):
        fn = getattr(sp, name)

        def wrapped(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(sp, name, wrapped)

    counted("enrich_events")
    counted("latest_per_key")
    mem = sk.MemorySink()
    sp.run_enriched_fanout(
        spark,
        doubled_events_dir,
        SF,
        {"mem": mem},
        str(tmp_path / "ckpt"),
        cross_batch_dedup=True,
        max_files_per_trigger=1,
    )
    assert len(mem.batches) >= 2
    assert calls == {"enrich_events": 1, "latest_per_key": 0}
    assert sorted(map(tuple, mem.rows)) == _batch_enriched_rows(spark)


@pytest.mark.parametrize(
    "before",
    [
        None,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    ],
)
def test_run_stream_pins_local_checkpoint_manager(spark, events_dir, tmp_path, before):
    """A stream with a local checkpoint dir runs with the FileSystem-based
    checkpoint file manager, and run_stream leaves the caller's conf as
    it found it, set or unset."""
    key = sp.CHECKPOINT_FILE_MANAGER_CONF
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)
    seen = []
    try:
        sp.run_stream(
            sp.read_events_stream(spark, events_dir),
            lambda df, _: seen.append(df.sparkSession.conf.get(key, None)),
            str(tmp_path / "ckpt"),
        )
        assert seen == [sp.LOCAL_CHECKPOINT_FILE_MANAGER]
        assert spark.conf.get(key, None) == before
    finally:
        spark.conf.unset(key)


def test_checkpoint_manager_switches_local_dirs_only():
    local = sp.LOCAL_CHECKPOINT_FILE_MANAGER
    assert sp.checkpoint_file_manager("/tmp/ckpt", "file:///") == local
    assert sp.checkpoint_file_manager("ckpt", "file:///") == local
    assert sp.checkpoint_file_manager("file:///tmp/ckpt", "file:///") == local
    assert sp.checkpoint_file_manager("file:/tmp/ckpt", "hdfs://nn:8020") == local
    assert sp.checkpoint_file_manager("hdfs://nn:8020/ckpt", "file:///") is None
    assert sp.checkpoint_file_manager("s3a://bucket/ckpt", "file:///") is None
    assert sp.checkpoint_file_manager("/ckpt", "hdfs://nn:8020") is None


def test_multi_sink_fanout(spark, events_dir, tmp_path):
    mem = sk.MemorySink()
    pq = sk.ParquetSink(str(tmp_path / "out-parquet"))
    board = sk.RedisLeaderboardSink()
    sp.run_enriched_fanout(
        spark,
        events_dir,
        SF,
        {"mem": mem, "parquet": pq, "board": board},
        str(tmp_path / "ckpt"),
    )
    n = len(_batch_enriched_rows(spark))
    assert len(mem.rows) == n
    assert spark.read.parquet(pq.path).count() == n
    # leaderboard accumulated ZINCRBY-style; top() ordered desc
    top = board.top(5)
    assert len(top) == 5
    assert all(top[i][1] >= top[i + 1][1] for i in range(4))


def test_windowed_stream_append_matches_batch_closed_windows(
    spark, events_dir, tmp_path
):
    mem = sk.MemorySink()
    sp.run_windowed(spark, events_dir, mem, str(tmp_path / "ckpt-w"))
    events = load_table(spark, SF, "events")
    batch = (
        events.groupBy(F.window("ts", "10 minutes"), "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("engagement_sum")
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "engagement_sum",
        )
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(minutes=1)
    closed = batch.filter(F.col("window_end") <= F.lit(watermark))
    got = sorted(map(tuple, mem.rows))
    expect = sorted(map(tuple, closed.collect()))
    # append mode emits exactly the windows the final watermark closed
    assert got == expect
    assert len(got) > 0


def test_hop_stream_append_matches_batch_closed_windows(
    spark, events_dir, tmp_path
):
    """Sliding (HOP) variant of the streaming window agg — the
    reference's 10min/5s parameters scaled to a testable slide."""
    mem = sk.MemorySink()
    sp.run_windowed(
        spark,
        events_dir,
        mem,
        str(tmp_path / "ckpt-h"),
        size="10 minutes",
        slide="5 minutes",
    )
    events = load_table(spark, SF, "events")
    batch = (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes"), "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("engagement_sum")
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "engagement_sum",
        )
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(minutes=1)
    closed = batch.filter(F.col("window_end") <= F.lit(watermark))
    assert sorted(map(tuple, mem.rows)) == sorted(map(tuple, closed.collect()))


def test_leaderboard_overlap_accumulation(spark, events_dir, tmp_path):
    """Reference-parity semantics note (SURVEY §2.9): the Redis sink
    ZINCRBYs on every window firing, so with overlapping HOP windows a
    key's score accumulates ~overlap-factor times its true sum. Feed
    the streaming HOP output into the leaderboard sink and check the
    accumulated score equals the sum over emitted windows — the
    documented sink behavior, distinct from the declared A1 query."""
    board = sk.RedisLeaderboardSink(key="user_id", measure="engagement_sum")
    sp.run_windowed(
        spark,
        events_dir,
        board,
        str(tmp_path / "ckpt-lb"),
        size="10 minutes",
        slide="5 minutes",
    )
    events = load_table(spark, SF, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(minutes=1)
    expect = {
        r["user_id"]: r["s"]
        for r in events.groupBy(F.window("ts", "10 minutes", "5 minutes"), "user_id")
        .agg(F.sum("value").alias("s"))
        .filter(F.col("window.end") <= F.lit(watermark))
        .groupBy("user_id")
        .agg(F.sum("s").alias("s"))
        .collect()
        if r["s"] is not None and r["s"] != 0
    }
    got = dict(board.scores)
    assert set(got) == set(expect)
    for uid, s in expect.items():
        assert got[uid] == pytest.approx(s, rel=1e-9)
    # overlap factor ~2 (10min/5min): accumulated total is ~2x the
    # true engagement total over the closed-window span
    true_total = sum(
        r["value"] for r in events.collect() if r["ts"] <= watermark and r["value"]
    )
    assert sum(got.values()) > 1.5 * true_total * 0.8


def test_proc_time_column(spark):
    events = load_table(spark, SF, "events").limit(10)
    out = sp.with_proc_time(events)
    assert "proc_time" in out.columns
    rows = out.collect()
    assert all(r["proc_time"] is not None for r in rows)
    # proc_time is batch-evaluation time, far later than the 2024 fixture
    assert all(r["proc_time"] > r["ts"] for r in rows)


def test_kafka_payload_roundtrip(spark):
    events = load_table(spark, SF, "events").limit(20)
    rows = sk.kafka_payload(events).collect()
    assert len(rows) == 20
    for r in rows:
        key = json.loads(r["key"])
        val = json.loads(r["value"])
        assert set(key) == {"event_id"}
        assert key["event_id"] == val["event_id"]
        assert {"event_id", "ts", "user_id", "event_type", "value", "props"} <= set(val)


def test_clickhouse_payload_and_ddl(spark):
    events = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer")
    enriched = enrich_events(events, dim).limit(5)
    sink = sk.ClickHouseSink()
    lines = sink.to_jsoneachrow(enriched).collect()
    for line in lines:
        obj = json.loads(line["line"])
        # sink-side timestamp format, reference src/process.py:50-54
        assert len(obj["ts"]) == 19 and obj["ts"][4] == "-" and obj["ts"][13] == ":"
    assert "CREATE TABLE IF NOT EXISTS engagement_enriched" in sink.ddl()
    assert "MergeTree" in sink.ddl()
    with pytest.raises(NotImplementedError):
        sink.write_batch(enriched, 0)


def test_http_payload_fields(spark):
    events = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer")
    enriched = enrich_events(events, dim).limit(5)
    bodies = sk.http_payload(enriched).collect()
    for b in bodies:
        obj = json.loads(b["body"])
        assert set(obj) <= {"event_id", "user_id", "event_type", "engagement_pct"}


def test_leaderboard_deltas_drop_zero_and_null(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (1, -5.0), (2, 3.0), (None, 9.0)],
        "user_id bigint, engagement_seconds double",
    )
    got = {
        r["user_id"]: r["delta"]
        for r in sk.leaderboard_deltas(df).collect()
    }
    # user 1 sums to 0.0 -> dropped (reference src/process.py:90 falsy
    # filter); NULL member dropped; user 2 kept
    assert got == {2: 3.0}


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """Sink-side exactly-once: foreachBatch is at-least-once (a crash
    between sink write and checkpoint commit redelivers the same
    batch_id), so the sink must make redelivery a no-op. Verifies the
    three legs: redelivered batch skipped, a partial (uncommitted)
    write overwritten cleanly on redelivery, and readers seeing only
    committed batches."""
    import os

    out = str(tmp_path / "idempotent-out")
    sink = sk.IdempotentParquetSink(out)
    df0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df1 = spark.createDataFrame([(3, "c")], "k long, v string")

    sink.write_batch(df0, 0)
    sink.write_batch(df0, 0)  # redelivery after a simulated crash
    assert sink.read_committed(spark).count() == 2  # not 4

    # crash mid-write: partial dir exists, no marker
    part1, marker1 = sink._paths(1)
    os.makedirs(part1, exist_ok=True)
    df1.limit(0).write.mode("overwrite").parquet(part1)  # torn write
    assert not os.path.exists(marker1)
    assert sink.read_committed(spark).count() == 2  # partial invisible
    sink.write_batch(df1, 1)  # redelivery completes the batch
    rows = sorted(
        map(tuple, sink.read_committed(spark).select("k", "v").collect())
    )
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_fanout_into_idempotent_sink_matches_batch(spark, events_dir, tmp_path):
    """End-to-end: the enriched stream fanned into the exactly-once
    parquet sink must read back equal to the batch enrichment."""
    sink = sk.IdempotentParquetSink(str(tmp_path / "eo-out"))
    sp.run_enriched_fanout(
        spark, events_dir, SF, {"pq": sink}, str(tmp_path / "ckpt-eo")
    )
    events = load_table(spark, SF, "events")
    dim = load_table(spark, SF, "customer")
    expect_df = enrich_events(latest_per_key(events), dim)
    got = sorted(
        map(tuple, sink.read_committed(spark).select(*expect_df.columns).collect())
    )
    assert got == sorted(map(tuple, expect_df.collect()))


def test_stream_static_dim_refresh_per_batch(spark, tmp_path):
    """Reference J1 temporal-lookup semantics (`FOR SYSTEM_TIME AS OF
    e.proc_time`, reference src/process.py:180-182): each event probes
    the dimension AS OF its processing moment. In micro-batch Spark
    that means the static side is re-read per batch — so a dimension
    update landing between batches must be visible to the next batch
    and invisible to the previous one."""
    import os

    dim_dir = str(tmp_path / "dim")
    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    shutil.copy(f"{SF}/events.parquet", events_dir + "/a.parquet")
    shutil.copy(f"{SF}/events.parquet", events_dir + "/b.parquet")
    spark.createDataFrame(
        [(u, "v1") for u in range(150)], "c_custkey long, seg string"
    ).write.mode("overwrite").parquet(dim_dir)

    seen: dict = {}

    def _probe(batch_df, batch_id: int) -> None:
        dim = spark.read.schema("c_custkey long, seg string").parquet(dim_dir)
        seen[batch_id] = sorted(
            r["seg"]
            for r in batch_df.join(
                F.broadcast(dim),
                batch_df["user_id"] == dim["c_custkey"],
                "left",
            )
            .select("seg")
            .distinct()
            .collect()
        )
        if batch_id == 0:
            # the "datagen updated the dimension" moment
            spark.createDataFrame(
                [(u, "v2") for u in range(150)], "c_custkey long, seg string"
            ).write.mode("overwrite").parquet(dim_dir)

    stream = sp.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", str(tmp_path / "ckpt-dimref"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert seen == {0: ["v1"], 1: ["v2"]}


def test_streaming_dim_history_asof_matches_batch(spark, doubled_events_dir, tmp_path):
    """Streaming form of the dim-HISTORY temporal join (the event-time
    generalization of the reference's FOR SYSTEM_TIME AS OF lookup,
    reference src/process.py:180-182): each micro-batch probes the
    versioned customer dimension with the same asof code path the batch
    query uses. Event-time as-of is per-row, so the concatenation of
    per-batch outputs must equal the batch result over the same
    (duplicated) input — regardless of how the stream was chopped into
    batches."""
    from flink_engagement_pipeline_spark.plans.queries_ext2 import (
        customer_version_history,
        events_dim_asof,
    )

    hist = customer_version_history(spark, SF).cache()
    try:
        got: list = []

        def _probe(batch_df, batch_id: int) -> None:
            out = events_dim_asof(
                batch_df.select("event_id", "user_id", "ts", "value"), hist
            )
            got.extend(map(tuple, out.collect()))

        stream = sp.read_events_stream(
            spark, doubled_events_dir, max_files_per_trigger=1
        )
        q = (
            stream.writeStream.foreachBatch(_probe)
            .option("checkpointLocation", str(tmp_path / "ckpt-asof"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        ev = load_table(spark, SF, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        expect = sorted(
            map(tuple, events_dim_asof(ev.unionAll(ev), hist).collect())
        )
        assert sorted(got) == expect
        assert len(got) > 0
    finally:
        hist.unpersist()


class _FileZincrbyClient:
    """Stand-in Redis client for the partition-side write path: each
    ZINCRBY appends a line to a shared file (executor-side in local
    mode), so the test can replay the commands and compare against the
    driver-dict path."""

    def __init__(self, path: str):
        self.path = path

    def zincrby(self, name: str, amount: float, member) -> None:
        with open(self.path, "a") as f:
            f.write(f"{name}\t{member}\t{amount!r}\n")

    def close(self) -> None:
        pass


def test_leaderboard_partition_side_writes(spark, tmp_path):
    """client_factory path: deltas are written from executors via
    foreachPartition (no driver collect), and the replayed ZINCRBY
    stream reproduces exactly the driver-dict accumulation."""
    df = spark.createDataFrame(
        [(1, 5.0), (1, 2.5), (2, 3.0), (3, -1.0), (None, 9.0), (4, 0.0)],
        "user_id bigint, engagement_seconds double",
    )
    log = str(tmp_path / "zincrby.log")
    sink = sk.RedisLeaderboardSink(
        client_factory=lambda: _FileZincrbyClient(log)
    )
    sink.write_batch(df, 0)
    assert sink.scores == {}  # nothing accumulated driver-side
    replayed: dict = {}
    with open(log) as f:
        for line in f:
            name, member, amount = line.rstrip("\n").split("\t")
            assert name == "leaderboard"
            replayed[int(member)] = replayed.get(int(member), 0.0) + float(amount)
    fallback = sk.RedisLeaderboardSink()
    fallback.write_batch(df, 0)
    assert replayed == fallback.scores == {1: 7.5, 2: 3.0, 3: -1.0}


class _TxnZincrbyClient(_FileZincrbyClient):
    """File-backed fake with the redis-py surface the redelivery guard
    uses: get/set markers + MULTI/EXEC-style pipeline. Markers live in
    a sidecar file so every factory-spawned client sees them."""

    def __init__(self, path: str):
        super().__init__(path)
        self.markers = path + ".markers"

    def get(self, name: str):
        try:
            with open(self.markers) as f:
                return "1" if name in f.read().splitlines() else None
        except FileNotFoundError:
            return None

    def set(self, name: str, value) -> None:
        with open(self.markers, "a") as f:
            f.write(name + "\n")

    def pipeline(self, transaction: bool = True):
        outer = self

        class _Pipe:
            def __init__(self):
                self.ops = []

            def zincrby(self, name, amount, member):
                self.ops.append(("z", name, amount, member))

            def set(self, name, value):
                self.ops.append(("s", name, value))

            def execute(self):
                for op in self.ops:
                    if op[0] == "z":
                        outer.zincrby(op[1], op[2], op[3])
                    else:
                        outer.set(op[1], op[2])

        return _Pipe()


def _replay_zincrby_log(path: str) -> dict:
    replayed: dict = {}
    with open(path) as f:
        for line in f:
            _, member, amount = line.rstrip("\n").split("\t")
            replayed[int(member)] = replayed.get(int(member), 0.0) + float(amount)
    return replayed


def test_leaderboard_redelivery_guard_client_path(spark, tmp_path):
    """foreachBatch is at-least-once: a crash-redelivered batch_id must
    NOT double-increment. The client path commits each partition's
    increments together with a batch/partition marker in one
    transaction and skips partitions whose marker exists."""
    df = spark.createDataFrame(
        [(1, 5.0), (2, 3.0)], "user_id bigint, engagement_seconds double"
    )
    log = str(tmp_path / "zincrby.log")
    sink = sk.RedisLeaderboardSink(client_factory=lambda: _TxnZincrbyClient(log))
    sink.write_batch(df, 7)
    sink.write_batch(df, 7)  # redelivery of the same batch
    assert _replay_zincrby_log(log) == {1: 5.0, 2: 3.0}
    sink.write_batch(df, 8)  # a NEW batch still applies
    assert _replay_zincrby_log(log) == {1: 10.0, 2: 6.0}


def test_leaderboard_fallback_redelivery_and_keyspace_bound(spark):
    """Driver-dict fallback: redelivered batch ids are skipped, and a
    keyspace larger than max_fallback_keys fails fast instead of
    silently growing toward a driver OOM."""
    df = spark.createDataFrame(
        [(1, 5.0), (2, 3.0)], "user_id bigint, engagement_seconds double"
    )
    sink = sk.RedisLeaderboardSink()
    sink.write_batch(df, 0)
    sink.write_batch(df, 0)  # redelivery: no double accumulation
    assert sink.scores == {1: 5.0, 2: 3.0}

    wide = spark.createDataFrame(
        [(i, 1.0) for i in range(5)], "user_id bigint, engagement_seconds double"
    )
    bounded = sk.RedisLeaderboardSink(max_fallback_keys=3)
    with pytest.raises(RuntimeError, match="bounded leaderboard keyspaces"):
        bounded.write_batch(wide, 0)


def test_checkpoint_recovery_no_reprocessing(spark, events_dir, tmp_path):
    """Exactly-once file-source semantics across restarts: a second run
    from the same checkpoint must process only files that arrived after
    the first run — never re-deliver already-committed batches (the
    recovery guarantee the reference's at-least-once HTTP/Redis sinks
    lack, SURVEY §2.12)."""
    ckpt = str(tmp_path / "ckpt")
    first = sk.MemorySink()
    sp.run_enriched_fanout(spark, events_dir, SF, {"m": first}, ckpt)
    n_first = len(first.rows)
    assert n_first > 0

    # restart with NO new input: nothing may be re-delivered
    second = sk.MemorySink()
    sp.run_enriched_fanout(spark, events_dir, SF, {"m": second}, ckpt)
    assert len(second.rows) == 0

    # a new file arrives; only its contents flow
    shutil.copy(f"{SF}/events.parquet", events_dir + "/late-arrival.parquet")
    third = sk.MemorySink()
    sp.run_enriched_fanout(spark, events_dir, SF, {"m": third}, ckpt)
    assert len(third.rows) == n_first  # same file content, processed once


class _CrashOnceAfterCommit:
    """Delegating sink whose first delivery of ``crash_bid`` raises
    AFTER the wrapped sink has committed it: the crash window between
    a sink's own commit and the checkpoint's commit log, which makes
    the restarted query redeliver the batch."""

    def __init__(self, inner, crash_bid: int = 1):
        self.inner = inner
        self.crash_bid = crash_bid
        self.delivered: list[int] = []

    def write_batch(self, df, batch_id):
        self.delivered.append(batch_id)
        self.inner.write_batch(df, batch_id)
        if batch_id == self.crash_bid and self.delivered.count(batch_id) == 1:
            raise RuntimeError("injected crash after sink commit")

    def close(self):
        self.inner.close()


@pytest.mark.parametrize("kind", ["parquet", "leaderboard"])
def test_restart_after_crash_past_sink_commit(
    spark, doubled_events_dir, tmp_path, kind
):
    """A real crash and restart: batch 1 of a cross-batch-dedup fan-out
    raises after its sink committed it, and the query restarts from
    the same checkpoint. The redelivered batch hits the sink's skip
    path, which must still execute the batch so its dedup state
    commits; otherwise the restart fails state-store commit
    validation. The sink then holds exactly an uninterrupted run's
    state."""

    def make(name):
        if kind == "parquet":
            return sk.IdempotentParquetSink(str(tmp_path / name))
        return sk.RedisLeaderboardSink()

    def state(sink):
        if kind == "parquet":
            return sorted(map(tuple, sink.read_committed(spark).collect()))
        return sink.scores

    def run(sink, ckpt):
        sp.run_enriched_fanout(
            spark,
            doubled_events_dir,
            SF,
            {kind: sink},
            str(tmp_path / ckpt),
            cross_batch_dedup=True,
            max_files_per_trigger=1,
        )

    ref = make("ref-out")
    run(ref, "ckpt-ref")

    crashing = _CrashOnceAfterCommit(make("out"))
    with pytest.raises(Exception, match="injected crash after sink commit"):
        run(crashing, "ckpt")
    assert crashing.delivered == [0, 1]
    run(crashing, "ckpt")  # restart from the same checkpoint
    assert crashing.delivered == [0, 1, 1]
    expect = state(ref)
    if kind == "leaderboard":  # float sums in shuffle-arrival order
        expect = pytest.approx(expect)
    assert state(crashing.inner) == expect


def test_stream_stream_join_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream event-time join (clicks -> purchases within 1h,
    same user) must produce exactly the batch join's rows when the
    whole fixture is replayed. Both sides are watermarked and the join
    range-bounds event time, so streaming state is expirable — the
    property that makes this join runnable forever."""
    mem = sk.MemorySink()
    sp.run_stream_stream_join(spark, events_dir, mem, str(tmp_path / "ckpt-ss"))
    ev = load_table(spark, SF, "events")
    batch = sp.click_purchase_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    expect = sorted(map(tuple, batch.collect()))
    assert sorted(map(tuple, mem.rows)) == expect
    assert len(expect) > 0


def test_stream_stream_join_rejects_unknown_how(spark, events_dir, tmp_path):
    """An unknown join type is refused before a stream starts, not run
    as a left outer join."""
    mem = sk.MemorySink()
    with pytest.raises(ValueError, match="right_outer"):
        sp.run_stream_stream_join(
            spark, events_dir, mem, str(tmp_path / "ckpt"), how="right_outer"
        )
    assert mem.rows == []
    assert not (tmp_path / "ckpt").exists()


@pytest.mark.parametrize("copies", [0, 3])
def test_stage_replay_dir_rejects_copies_outside_1_2(tmp_path, copies):
    """Only one or two copies can be staged; any other count is refused
    before the directory is made, not clipped to what fits."""
    with pytest.raises(ValueError, match="copies"):
        sp.stage_replay_dir(SF, str(tmp_path), copies=copies)
    assert not (tmp_path / "events").exists()


def test_bounded_dedup_state_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark (bounded dedup state, T4 at
    scale): duplicates arriving within the watermark horizon are
    suppressed across micro-batches; a replay arriving after the
    watermark passed the key's horizon is late data and is not
    re-emitted — which is exactly what proves the key's state was
    evicted (unbounded dropDuplicates would have kept it forever)."""
    import os
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def mk(eid, minute, v):
        return (eid, t0 + datetime.timedelta(minutes=minute), v)

    src = tmp_path / "bounded-in"
    src.mkdir()
    batches = [
        [mk(1, 0, 1.0), mk(2, 1, 2.0)],          # initial
        [mk(1, 0, 1.0), mk(3, 2, 3.0)],          # e1 replayed in-horizon
        [mk(4, 300, 4.0)],                        # +5h: watermark jumps
        [mk(1, 0, 9.0)],                          # e1 beyond horizon: late
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}.parquet"))
        os.utime(str(src / f"b{i}.parquet"), (time.time() + i, time.time() + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*.parquet"))
    )
    deduped = sp.dedup_stream_bounded(stream, watermark="1 hour")

    got: list[tuple] = []
    (
        deduped.writeStream.foreachBatch(
            lambda df, _id: got.extend(
                (r["event_id"], r["value"]) for r in df.collect()
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    emitted = sorted(got)
    # e1 exactly once (replay suppressed, late replay dropped), e2-e4 once
    assert emitted == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)], emitted


def test_http_sinks_post_to_live_server(spark):
    """K2/K4 transport proof: run the ClickHouse (batched JSONEachRow
    per partition) and HTTP (per-row, reference parity) sinks against
    a real in-process HTTP server and assert what arrives — not just
    the payload shape. local[*] executors are in-process, so
    foreachPartition's POSTs hit the loopback listener."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    received: list[tuple[str, bytes]] = []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802 - stdlib API name
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            with lock:
                received.append((self.path, body))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # silence request logging
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        events = load_table(spark, SF, "events").limit(20)
        dim = load_table(spark, SF, "customer")
        enriched = enrich_events(events, dim).coalesce(2)
        n_rows = enriched.count()

        ch = sk.ClickHouseSink(endpoint=base)
        ch.write_batch(enriched, batch_id=0)
        with lock:
            ch_posts = list(received)
            received.clear()
        assert 1 <= len(ch_posts) <= 2  # one POST per non-empty partition
        assert all("INSERT%20INTO%20engagement_enriched" in p for p, _ in ch_posts)
        lines = [ln for _, b in ch_posts for ln in b.decode().splitlines()]
        assert len(lines) == n_rows
        parsed = json.loads(lines[0])
        assert {"event_id", "ts", "engagement_seconds"} <= set(parsed)

        http = sk.HttpSink(url=f"{base}/events")
        http.write_batch(enriched, batch_id=0)
        with lock:
            http_posts = list(received)
        assert len(http_posts) == n_rows  # reference parity: one POST per row
        body = json.loads(http_posts[0][1])
        assert set(body) <= {"event_id", "user_id", "event_type", "engagement_pct"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_rate_source_unbounded_stream(spark, tmp_path):
    """Genuinely unbounded source (rate): file streams always
    terminate under availableNow, so this is the one path that
    exercises continuous micro-batching + manual stop. The windowed
    count over the generated timestamps must cover every generated
    row exactly once."""
    import time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()  # schema: timestamp TIMESTAMP, value LONG
    )
    agg = stream.groupBy(F.window("timestamp", "1 second")).agg(
        F.count("*").alias("n"), F.max("value").alias("max_v")
    )
    mem = sk.MemorySink()
    q = (
        agg.writeStream.foreachBatch(lambda df, bid: mem.write_batch(df, bid))
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt-rate"))
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            q.processAllAvailable()
            rows = max(mem.batches, key=lambda b: b[0])[1] if mem.batches else []
            if sum(r["n"] for r in rows) >= 500:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert mem.batches, "rate stream produced no micro-batches"
    last = max(mem.batches, key=lambda b: b[0])[1]
    total = sum(r["n"] for r in last)
    top = max(r["max_v"] for r in last)
    # complete mode: the final emission covers every generated value
    # exactly once - count == max(value)+1 (values are 0-based)
    assert total == top + 1
    assert total >= 500


def test_session_window_stream_matches_batch_closed_sessions(
    spark, events_dir, tmp_path
):
    """Session windows (data-driven bounds) streaming==batch: append
    mode must emit exactly the sessions the final watermark closed.
    A session is closed once the watermark passes its end (the gap
    already being part of the window bounds)."""
    mem = sk.MemorySink()
    stream = sp.read_events_stream(spark, events_dir)
    agg = sp.session_windowed_stream(stream, gap="5 minutes")
    (
        agg.writeStream.foreachBatch(lambda df, bid: mem.write_batch(df, bid))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-sess"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    events = load_table(spark, SF, "events")
    batch = (
        events.groupBy(F.session_window("ts", "5 minutes").alias("window"), "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("engagement_sum")
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "engagement_sum",
        )
    )
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(minutes=1)
    closed = batch.filter(F.col("window_end") <= F.lit(watermark))
    got = sorted(map(tuple, mem.rows))
    expect = sorted(map(tuple, closed.collect()))
    assert got == expect
    assert len(got) > 0


def test_rocksdb_state_store_stream_equals_batch(spark, tmp_path):
    """SURVEY §7 item 14 ("state-store RocksDB option") made
    executable: the watermarked windowed aggregation runs under the
    RocksDB state store provider (the production choice at 100 TB —
    state spills to local disk instead of living on the executor heap)
    and its append-mode output still equals the batch aggregation.
    Spark 4 ships the provider built in; only the conf changes, which
    is exactly the point — operator code is state-backend-agnostic."""
    from flink_engagement_pipeline_spark.plans.queries_stream import (
        _SENTINEL,
        _staged_sentinel_drain_dir,
    )

    # fixture + far-future sentinel (unit-aware staging shared with the
    # registered stream replays) so the watermark closes every real
    # window
    stream_dir = _staged_sentinel_drain_dir(
        spark, SF, str(tmp_path / "rocks"), _SENTINEL, 0
    )
    sink = sk.IdempotentParquetSink(str(tmp_path / "rocks-out"))
    with pinned_conf(spark, STATE_STORE_PROVIDER, ROCKSDB_PROVIDER):
        sp.run_windowed(
            spark,
            stream_dir,
            sink,
            checkpoint_dir=str(tmp_path / "rocks-ckpt"),
            max_files_per_trigger=1,
        )
    got = sorted(map(tuple, sink.read_committed(spark).collect()))
    from flink_engagement_pipeline_spark.functions.exact import dec

    ev = load_table(spark, SF, "events")
    batch = (
        ev.groupBy(F.window("ts", "10 minutes"), "user_id")
        .agg(F.sum(dec("value")).cast("double").alias("engagement_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "user_id",
            "engagement_sum",
        )
    )
    assert got == sorted(map(tuple, batch.collect()))
    assert len(got) > 0


def test_rocksdb_state_store_cents_accumulator(spark, tmp_path):
    """The integer-cent applyInPandasWithState accumulator (the
    operator behind the registered stream_stateful_replay query) on
    the RocksDB state store provider: per-key GroupState round-trips
    through RocksDB across micro-batches, and a two-batch full replay
    still yields exactly 2x the batch aggregate for every user."""
    from flink_engagement_pipeline_spark.streaming.stateful import (
        running_user_totals_cents,
    )

    stream_dir = sp.stage_replay_dir(SF, str(tmp_path / "rocks-cents-in"))
    sink = sk.IdempotentParquetSink(str(tmp_path / "rocks-cents-out"))
    stream = sp.read_events_stream(spark, stream_dir, max_files_per_trigger=1)
    totals = running_user_totals_cents(stream.filter(F.col("user_id").isNotNull()))
    rocksdb = pinned_conf(spark, STATE_STORE_PROVIDER, ROCKSDB_PROVIDER)
    with rocksdb, sp.replay_width(spark):
        sp.run_stream(
            totals, sink.write_batch, str(tmp_path / "rocks-cents-ckpt"), "update"
        )
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in spark.read.option("pathGlobFilter", "*.parquet")
        .parquet(sink.committed_paths()[-1])
        .collect()
    }
    cents = F.when(
        F.col("value") >= 0, F.floor(F.col("value") * 100 + F.lit(0.5))
    ).otherwise(-F.floor(-F.col("value") * 100 + F.lit(0.5)))
    want = {
        r["user_id"]: (2 * r["n"], 2 * r["c"])
        for r in load_table(spark, SF, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.when(F.col("value").isNotNull(), cents).otherwise(0)),
                F.lit(0),
            ).cast("long").alias("c"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_drop_duplicates_within_watermark_bounded_state(
    spark, doubled_events_dir, tmp_path
):
    """Spark's native bounded-state streaming dedup
    (dropDuplicatesWithinWatermark, the window_dedup idea as a
    streaming primitive): replayed duplicate event_ids within the
    watermark horizon collapse to one row, state expires with the
    watermark instead of growing with the key space forever — the
    third dedup tier beside per-batch dropDuplicates and the
    cross-batch stateful upsert. The doubled fixture arrives as two
    files; with a generous watermark every duplicate pair falls
    inside the horizon, so the output must equal the batch
    DISTINCT-by-event_id of the fixture."""
    from flink_engagement_pipeline_spark.streaming.pipeline import (
        read_events_stream,
    )

    stream = read_events_stream(
        spark, doubled_events_dir, max_files_per_trigger=1
    )
    deduped = stream.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = tmp_path / "ddww-out"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ddww-ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(str(out))
    batch = load_table(spark, SF, "events")
    assert got.count() == batch.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()


def test_union_of_streams_uses_min_watermark(spark, tmp_path):
    """Flink's watermark-alignment semantics under stream UNION,
    proven for Spark's default multipleWatermarkPolicy=min: when two
    watermarked sources are unioned into one windowed aggregation,
    the GLOBAL watermark is the minimum across sources — a source
    that races ahead (10 h sentinel) must NOT close windows the
    lagging source could still fill. The discriminating row is
    stream A's 2 h event: under min-policy its window stays open
    (B's watermark is 60 min); under a max/per-branch policy A's
    sentinel would flush it."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    SCHEMA = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    M = 60 * 1_000_000  # one minute in us

    def mk(rows, path):
        df = spark.range(1).select(
            F.inline(
                F.array(
                    *[
                        F.struct(
                            F.lit(e).cast("long").alias("event_id"),
                            F.timestamp_micros(F.lit(us)).alias("ts"),
                            F.lit(u).cast("long").alias("user_id"),
                            F.lit(t).alias("event_type"),
                            F.lit(None).cast("double").alias("value"),
                            F.lit("{}").alias("props"),
                        )
                        for e, us, u, t in rows
                    ]
                )
            )
        )
        stage = str(tmp_path / "stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = _glob.glob(_os.path.join(stage, "part-*.parquet"))
        _shutil.copy(part, path)

    a_dir = tmp_path / "a"
    b_dir = tmp_path / "b"
    a_dir.mkdir()
    b_dir.mkdir()
    now = _time.time()
    # A: events in the first hour + ONE at 2 h, then a 10 h sentinel,
    # then a drain (emission lags the watermark update by a batch)
    mk(
        [
            (1, 5 * M, 1, "click"),
            (2, 25 * M, 1, "click"),
            (3, 120 * M, 1, "click"),  # the discriminating 2 h event
        ],
        str(a_dir / "a1.parquet"),
    )
    mk([(8, 600 * M, -1, "sentinel")], str(a_dir / "a2.parquet"))
    mk([(9, 601 * M, -2, "sentinel")], str(a_dir / "a3.parquet"))
    for i, f in enumerate(("a1.parquet", "a2.parquet", "a3.parquet")):
        _os.utime(str(a_dir / f), (now + 60 * i,) * 2)
    # B: events in the first hour only — its watermark stops at 55 min
    mk(
        [(21, 15 * M, 2, "purchase"), (22, 55 * M, 2, "purchase")],
        str(b_dir / "b1.parquet"),
    )
    a = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(a_dir))
        .withWatermark("ts", "0 seconds")
    )
    b = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(b_dir))
        .withWatermark("ts", "0 seconds")
    )
    agg = (
        a.unionByName(b)
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    got: list[tuple] = []
    (
        agg.writeStream.foreachBatch(
            lambda df, bid: got.extend((r["ws"], r["n"]) for r in df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    import datetime as _dt

    def ts(mins):
        return _dt.datetime(1970, 1, 1, 0, 0) + _dt.timedelta(minutes=mins)

    # global wm = min(A's 10 h, B's 55 min) = 55 min: only windows
    # ending <= 55 min flush — the 50-min window (holding B's 55-min
    # row) and the 2 h window (A's discriminating event) stay OPEN
    assert sorted(got) == [(ts(0), 1), (ts(10), 1), (ts(20), 1)], got
