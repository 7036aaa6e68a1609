"""Structured Streaming pipeline (SURVEY.md §2.9 T1-T6, §3.2).

Reproduces the reference's processing job shape (reference
src/process.py:117-210): keyed upsert source -> latest-per-key dedup ->
broadcast dimension lookup join -> derived metrics -> multi-sink
fan-out + windowed aggregation — as one micro-batch pipeline:

- source: file-source ``readStream`` over the events fixture with the
  declared schema (stand-in for upsert-Kafka, SURVEY §2 S2; a real
  deployment swaps ``format("parquet")`` for ``format("kafka")`` +
  ``from_json`` without touching anything downstream);
- time: event time + watermark (deliberate upgrade from the
  reference's PROCTIME, SURVEY §4.3.2);
- upsert semantics: per-micro-batch ``latest_per_key`` (reference's
  RowKind INSERT/UPDATE_AFTER filter, SURVEY §2 T4/F1), or cross-batch
  keyed state (``dropDuplicates``), after which every key is unique
  and the enrichment is planned once, as part of the streaming query;
  the batch oracle query (latest_per_key) checks the full-history
  semantics;
- enrichment: the *same* ``enrich_events`` function as the batch path
  (stream-static broadcast join re-evaluates the dim per micro-batch =
  the lookup join's FOR SYSTEM_TIME AS OF semantics at batch
  granularity);
- fan-out: ONE ``foreachBatch`` persisting the enriched batch and
  feeding every sink (T6) — one source scan per batch regardless of
  sink count, and all sinks see the same rows (the reference runs one
  Flink job with multiple sinks for the same reason);
- windowed aggregation: event-time window + watermark in append mode
  (A1/T2/T3) as a separate query over the same stream;
- stream-stream join: one event-time interval join
  (``click_purchase_join``) serving the inner, left-outer and
  full-outer forms, its state bounded by the watermark that also
  drives the outer null emission.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import latest_per_key
from ..operators.enrich import enrich_events
from ..schemas import EVENTS, EVENTS_RAW
from ..session import pinned_conf
from ..sources.tables import (
    _ensure_nanos_conf,
    events_ts_is_nanos,
    load_table,
    normalize_events,
)
from .sinks import Sink

DEFAULT_WATERMARK = "1 minute"

# Shuffle width of the fixture replays. A stateful operator keeps one
# state store per shuffle partition, and each store commits 2
# checkpoint files per micro-batch (its state delta and the delta's
# checksum file): a vanilla driver session's 200 partitions write 400
# files per batch, ~15 s for a fixture-sized batch. Replays pin this
# width for the streaming run only and restore the caller's conf after
# (each replay's checkpoint is fresh, so the locked-in state width
# never conflicts).
REPLAY_SHUFFLE_PARTITIONS = 8

# Checkpoint file manager for local checkpoint dirs. Spark's default
# (FileContextBasedCheckpointFileManager) goes through Hadoop's
# FileContext, and without Hadoop's native library RawLocalFileSystem
# forks shell commands for it: 8 readlink and 2 chmod per atomic file.
# A batch writes 3 such files (offsets, commits, the source log) plus 2
# per state partition (its state delta and the delta's checksum). The
# FileSystem-based manager writes the same files, Spark's checksums
# and Hadoop's .crc files included, forking only the 2 chmod, and
# overwriteIfPossible=false still raises FileAlreadyExists. The one
# difference: on local disk overwriteIfPossible=true keeps the
# existing file (and leaves the temp file beside it) where the default
# replaces it. Spark's contract calls that overwrite "best effort"; it
# only touches a re-executed batch's state delta and checksum, and
# re-executing a batch writes the same state (the crash/restart tests
# in tests/test_streaming.py and tests/test_ext7.py run that path).
CHECKPOINT_FILE_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def replay_width(spark: SparkSession):
    """Context manager: run a fixture replay at
    ``REPLAY_SHUFFLE_PARTITIONS``."""
    return pinned_conf(
        spark, "spark.sql.shuffle.partitions", str(REPLAY_SHUFFLE_PARTITIONS)
    )


def stage_replay_dir(
    sf_dir: str, tmp: str, table: str = "events", copies: int = 2
) -> str:
    """Stage ``tmp/<table>`` as a file-stream source holding the
    fixture ``<table>.parquet`` symlinked once (a.parquet) or twice
    (plus b.parquet). Under maxFilesPerTrigger=1 each copy is one
    micro-batch, so a second copy replays every key of the first.
    Idempotent, so a replay restarting from its checkpoint in the same
    ``tmp`` re-stages over its own directory. Returns the directory.
    Raises ValueError for ``copies`` other than 1 or 2."""
    if copies not in (1, 2):
        raise ValueError(f"copies must be 1 or 2, got {copies!r}")
    data_dir = os.path.join(tmp, table)
    os.makedirs(data_dir, exist_ok=True)
    src = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    for name in ("a", "b")[:copies]:
        link = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.lexists(link):
            os.symlink(src, link)
    return data_dir


def checkpoint_file_manager(checkpoint_dir: str, default_fs: str) -> str | None:
    """The checkpoint file manager to pin for ``checkpoint_dir``:
    ``LOCAL_CHECKPOINT_FILE_MANAGER`` when the dir is on the local file
    system (scheme ``file``, or no scheme and a local ``default_fs``),
    else None, which keeps Spark's default (hdfs://, s3a://, ...)."""
    scheme = urlparse(checkpoint_dir).scheme or urlparse(default_fs).scheme
    return LOCAL_CHECKPOINT_FILE_MANAGER if scheme in ("", "file") else None


def run_stream(
    out: DataFrame, write, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain the streaming frame ``out`` to completion (availableNow)
    through ``write(batch_df, batch_id)``: the one place a stream
    starts. A local checkpoint dir is written through
    ``LOCAL_CHECKPOINT_FILE_MANAGER`` for the stream's lifetime."""
    spark = out.sparkSession
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    manager = checkpoint_file_manager(checkpoint_dir, default_fs)
    pin = nullcontext()
    if manager is not None:
        pin = pinned_conf(spark, CHECKPOINT_FILE_MANAGER_CONF, manager)
    with pin:
        (
            out.writeStream.foreachBatch(write)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def with_proc_time(df: DataFrame) -> DataFrame:
    """Computed processing-time column (SURVEY §2 S4): the reference
    declares ``proc_time AS PROCTIME()`` on its Kafka source (reference
    src/process.py:132). In micro-batch Spark the equivalent is
    ``current_timestamp()`` evaluated per batch. Deliberately kept OUT
    of every oracle-checked query — processing time is irreproducible;
    the declared pipeline uses event time (SURVEY §4.3.2)."""
    return df.withColumn("proc_time", F.current_timestamp())


def read_events_stream(
    spark: SparkSession, events_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events parquet files in a directory,
    normalized to the logical schema (unit-detected ns->us ts, same
    contract as the batch loader). ``availableNow`` replay of the
    fixture = the reference's datagen loop, but deterministic
    (SURVEY §3.3). ``max_files_per_trigger`` bounds each micro-batch
    (and lets tests force multi-batch runs)."""
    _ensure_nanos_conf(spark)
    is_nanos = events_ts_is_nanos(events_dir)
    schema = EVENTS_RAW if is_nanos else EVENTS
    reader = spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)
    return normalize_events(stream) if is_nanos else stream


def run_enriched_fanout(
    spark: SparkSession,
    events_dir: str,
    sf_dir: str,
    sinks: dict[str, Sink],
    checkpoint_dir: str,
    cross_batch_dedup: bool = False,
    max_files_per_trigger: int | None = None,
) -> None:
    """Multi-sink fan-out (T6): one foreachBatch, N sinks.

    The batch is persisted so N sink writes cost one scan; unpersist
    in a finally so a failing sink can't leak executor memory.

    ``cross_batch_dedup`` turns on *stateful* key dedup
    (``dropDuplicates`` on the upsert key): a key replayed in a later
    micro-batch is suppressed — the reference's PRIMARY-KEY-upsert
    semantics across batches, not just within one. Every key is then
    unique, so the per-batch ``latest_per_key`` would be the identity:
    the enrichment is planned once, as part of the streaming query,
    and each batch only persists and fans out. Without it,
    ``latest_per_key`` (a window function, which a stream cannot run)
    and the enrichment are built per batch. State grows with the key
    space; a production deployment with unbounded keys bounds it via
    ``dropDuplicatesWithinWatermark`` instead.
    """
    stream = read_events_stream(spark, events_dir, max_files_per_trigger)
    dim = load_table(spark, sf_dir, "customer")
    if cross_batch_dedup:
        stream = enrich_events(stream.dropDuplicates(["event_id"]), dim)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not cross_batch_dedup:
            batch_df = enrich_events(latest_per_key(batch_df), dim)
        enriched = batch_df.persist()
        try:
            for sink in sinks.values():
                sink.write_batch(enriched, batch_id)
        finally:
            enriched.unpersist()

    run_stream(stream, _process, checkpoint_dir)
    for sink in sinks.values():
        sink.close()


def windowed_stream(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    size: str = "10 minutes",
    key: str = "user_id",
    slide: str | None = None,
) -> DataFrame:
    """Event-time window SUM with watermark (T1-T3); tumbling by
    default, sliding (HOP) when ``slide`` is given — the reference's
    10min/5s HOP parameters run as ``slide="5 seconds"``.

    Append mode emits a window only once the watermark passes its end
    — exactly-once window results, late rows beyond the watermark
    dropped (documented upgrade over the reference's proc-time HOP,
    whose results are irreproducible)."""
    win = F.window("ts", size, slide) if slide else F.window("ts", size)
    return _windowed(events, win, watermark, key)


def session_windowed_stream(
    events: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    gap: str = "5 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Event-time SESSION window SUM: windows extend while events
    arrive within ``gap`` of the last one and close at the first gap —
    data-driven bounds, unlike fixed tumbling/HOP grids. In streaming,
    a session stays open (buffered in the state store) until the
    watermark passes its current end + gap; the watermark is what
    makes session state evictable at all — unbounded-key session
    tracking without it would grow forever. Batch/stream agnostic
    like the fixed-window form."""
    return _windowed(events, F.session_window("ts", gap), watermark, key)


def _windowed(
    events: DataFrame, win, watermark: str, key: str
) -> DataFrame:
    win_col = win.alias("window")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win_col, key)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("engagement_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key,
            "engagement_sum",
        )
    )


def run_windowed(
    spark: SparkSession,
    events_dir: str,
    sink: Sink,
    checkpoint_dir: str,
    watermark: str = DEFAULT_WATERMARK,
    size: str = "10 minutes",
    slide: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the windowed aggregation in append mode into a sink."""
    agg = windowed_stream(
        read_events_stream(spark, events_dir, max_files_per_trigger),
        watermark,
        size=size,
        slide=slide,
    )
    run_stream(agg, sink.write_batch, checkpoint_dir)
    sink.close()


def click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream event-time interval join (beyond the reference,
    which has only the stream-static lookup join J1): purchases within
    one hour after a click by the same user, ``[click_ts, click_ts +
    1h)``. ``how`` is "inner", "left_outer" (every click emits, once
    with NULL purchase fields if no purchase matches) or "full_outer"
    (a purchase no click preceded also emits, with NULL click fields);
    any other ``how`` raises ValueError. ``user_id`` is
    ``coalesce(c_user, p_user)``, which under the inner join is
    ``c_user``, since the condition requires ``c_user = p_user``.

    Works identically on batch and streaming frames. In streaming both
    sides carry watermarks and the join condition bounds the time
    range, so Spark can expire buffered state: click-side rows are
    droppable once the watermark passes click_ts + 1h — without the
    range bound, stream-stream join state grows forever. That state
    bound IS the 100 TB design; the equi half (user_id) drives the
    shuffle partitioning exactly as in the batch interval join.

    An unmatched click is provably unmatched only when the watermark
    passes the end of its match window, so outer null rows emit with
    that delay, driven by the SAME watermark that expires the state (an
    unmatched purchase's window is [p_ts - 1h, p_ts], so its null row
    needs only the same horizon). Matched rows emit as matches arrive.
    """
    if how not in ("inner", "left_outer", "full_outer"):
        raise ValueError(
            f"how must be 'inner', 'left_outer' or 'full_outer', got {how!r}"
        )
    # withWatermark is a documented no-op on batch frames, so the same
    # code path serves the batch oracle and the stream
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )
    return joined.select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def run_session_windowed(
    spark: SparkSession,
    events_dir: str,
    sink: Sink,
    checkpoint_dir: str,
    watermark: str = DEFAULT_WATERMARK,
    gap: str = "5 minutes",
    max_files_per_trigger: int | None = None,
) -> None:
    """Run the session-window aggregation in append mode into a sink.
    A session emits once the watermark passes its end (last event +
    gap) — until then it is buffered, mergeable state."""
    agg = session_windowed_stream(
        read_events_stream(spark, events_dir, max_files_per_trigger),
        watermark,
        gap=gap,
    )
    run_stream(agg, sink.write_batch, checkpoint_dir)
    sink.close()


def run_stream_stream_join(
    spark: SparkSession,
    events_dir: str,
    sink: Sink,
    checkpoint_dir: str,
    how: str = "inner",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drive the stream-stream join over the file-source stream: the
    same source is filtered into two event-time streams and joined
    (``how``: "inner", "left_outer" or "full_outer"). The outer forms
    need ``max_files_per_trigger=1`` so the watermark-advancing
    sentinel and the drain files arrive as separate micro-batches.
    Raises ValueError for any other ``how``, before the stream
    starts."""
    ev = read_events_stream(spark, events_dir, max_files_per_trigger)
    out = click_purchase_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        how=how,
    )
    run_stream(out, sink.write_batch, checkpoint_dir)
    sink.close()


def run_abandoned_clicks(
    spark: SparkSession,
    events_dir: str,
    sink: Sink,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drive the event-time-timer absence detector
    (streaming/stateful.py:abandoned_clicks) over the file-source
    stream into an exactly-once sink. ``max_files_per_trigger=1`` lets
    the replay stage the watermark-advancing sentinel and the drain
    files as separate micro-batches (timer firings lag the watermark
    update by one batch, like append-mode window eviction)."""
    from .stateful import abandoned_clicks

    ev = read_events_stream(spark, events_dir, max_files_per_trigger)
    out = abandoned_clicks(ev)
    run_stream(out, sink.write_batch, checkpoint_dir)
    sink.close()


def dedup_stream_bounded(
    stream: DataFrame, key: str = "event_id", watermark: str = "1 hour"
) -> DataFrame:
    """Cross-batch keyed dedup with BOUNDED state (T4 at 100 TB).

    Plain ``dropDuplicates`` keeps every key ever seen — state grows
    with the key space and a month of 100 TB/day events OOMs the state
    store. ``dropDuplicatesWithinWatermark`` keeps a key only until the
    event-time watermark passes its timestamp + delay: duplicates
    arriving within the watermark horizon are suppressed, state for
    older keys is evicted, and rows older than the watermark are
    dropped as late data (the same contract every watermarked operator
    has). The delay is the replay/out-of-orderness budget — an upsert
    source that can replay a key hours later needs that horizon here.

    tests/test_streaming.py::test_bounded_dedup_state_eviction pins the
    observable semantics: in-horizon duplicates suppressed across
    micro-batches, late replays beyond the horizon not re-emitted.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([key])
