"""Structured Streaming operators: watermarked windowed rollup,
stateful sessionization, and streaming speed-limit inference.

The reference is a pure function over static inputs — it has no
streaming surface (SURVEY.md §2.9) — but the engine's operators are all
expressed as DataFrame transformations, so they lift onto unbounded
inputs unchanged: ``readStream -> transform -> writeStream``. This
module provides the three canonical shapes:

1. ``streaming_event_rollup`` — event-time windowed aggregation with a
   watermark (late-data bound). With ``Trigger.AvailableNow`` it drains
   a static directory incrementally and must equal the batch rollup on
   the same input — that equivalence is the test oracle.
2. ``sessionize`` — custom stateful operator via
   ``applyInPandasWithState`` (gap-based user sessions with timeout),
   the Spark-native shape for operators Spark's built-ins can't
   express.
3. ``streaming_speed_inference`` — the rule-inference cascade applied
   to a stream of road rows: the same native cascade the batch path
   uses; per micro-batch the plan is identical to the batch plan
   (stateless map), demonstrating that the core engine is
   execution-mode agnostic.

Scale notes: the rollup's shuffle is keyed by (window, event_type) —
time-bucketed keys are naturally balanced; state store size is bounded
by the watermark horizon in APPEND/UPDATE mode (the production parquet
sink path). The memory-sink drains here run in COMPLETE mode, where
Spark keeps every window's state for the stream's lifetime — fine for
the bounded test drains, wrong to size a long-running job from.
Sessionization state is per-user; on continuous streams pass
``sessionize(..., timeout_ms=...)`` so idle users are emitted and
EVICTED (memory O(active users), not O(all users ever seen)). Bounded
availableNow drains run timer-free — a pending processing-time timer
keeps an availableNow query alive forever (measured; see sessionize).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """File-source stream over the driver's events table directory.
    ``maxFilesPerTrigger`` keeps micro-batches bounded at scale."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src_dir)
    )


def drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    checkpoint_dir: str,
    sink_table: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drain a bounded stream (Trigger.AvailableNow) into a memory sink
    and return the sink table — ONE definition of the test/oracle drain
    shared by every memory-sink stream in this package (the image
    and trajectory drains import it too), so sink options cannot drift per site. The
    memory sink is TEST-ONLY; see ``streaming_event_rollup``'s
    docstring for the production-sink story."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(sink_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink_table)


def windowed_rollup(
    events: DataFrame, window: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time windowed per-type aggregation; works identically on a
    static or streaming DataFrame (the streaming plan adds the
    watermark-bounded state store)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_event_rollup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_rollup",
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drain ``src_dir`` with Trigger.AvailableNow through the
    watermarked rollup into a memory sink; returns the sink as a
    DataFrame.

    The memory sink is TEST-ONLY: it is not fault-tolerant, and
    complete-mode output is rebuilt per trigger, so a restart with the
    same checkpoint resumes the *source offsets and aggregation state*
    (no input reprocessed, state carried forward) but the in-memory
    table itself is repopulated fresh. For end-to-end exactly-once
    across restarts, point the same pipeline at a transactional file
    sink (e.g. append-mode parquet with the update pattern, or a
    table format with atomic commits) — the checkpoint contract is the
    source/state side, which this function does exercise."""
    stream = read_event_stream(spark, src_dir)
    rolled = windowed_rollup(stream, window, watermark)
    return drain_to_memory(
        spark, rolled, checkpoint_dir, sink_table, output_mode="complete"
    )


def streaming_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_dedup",
    keys: list[str] | None = None,
    watermark: str = "35 days",
    max_files_per_trigger: int = 2,
) -> DataFrame:
    """Streaming ingestion deduplication — the streaming twin of
    ``operators.dedup.exact_dedup``: ``withWatermark`` +
    ``dropDuplicatesWithinWatermark(keys)`` emits the FIRST row seen
    per key (append mode, immediately) and keeps per-key state only
    until the watermark passes the row's event time, so state is
    O(keys within the watermark horizon), not O(stream).

    At 100 TB/day ingestion this is the dedup that works: an exact
    batch groupBy over the full history is unboundedly expensive,
    while the watermarked state store bounds both memory and the
    late-duplicate window explicitly (a duplicate arriving later than
    the watermark delay is NOT caught — that bound is the documented
    contract, tune ``watermark`` to the upstream's redelivery horizon).

    Drains ``src_dir`` with Trigger.AvailableNow into a memory sink
    (test-only, as ``streaming_event_rollup`` documents) and returns
    the sink DataFrame."""
    keys = keys or ["event_id"]
    stream = read_event_stream(spark, src_dir, max_files_per_trigger)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys
    )
    return drain_to_memory(spark, deduped, checkpoint_dir, sink_table)


def streaming_rollup_to_parquet(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    window: str = "6 hours",
    watermark: str = "1 hour",
    available_now: bool = True,
    max_files_per_trigger: int = 1,
):
    """The production sink for the windowed rollup: APPEND-mode parquet
    file sink — the end-to-end exactly-once path the memory sink
    (``streaming_event_rollup``) deliberately is not.

    Exactly-once contract (all public Structured Streaming mechanics):

    - source offsets are committed to the checkpoint's write-ahead log
      before a batch runs and marked done after the sink commits, so a
      restart resumes at the exact batch boundary — no input file is
      ever processed into committed output twice;
    - the parquet sink records every finished batch's files in its
      ``_spark_metadata`` manifest log; files from a batch that died
      mid-write are never listed, and manifest-aware readers (plain
      ``spark.read.parquet`` on the sink dir) ignore them — a kill
      between "files written" and "manifest committed" is invisible;
    - aggregation state lives in the checkpoint's state store, versioned
      per batch, so the resumed query's windows continue from the
      pre-kill state rather than recounting.

    APPEND output mode emits each window exactly once, when the
    watermark passes its end (finalized) — the only output mode a file
    sink (no in-place update) can support for aggregations. Windows
    still open when the input drains stay unemitted until later input
    advances the watermark: correct, and pinned by the kill/resume test
    (``tests/test_streaming.py``), which asserts a run killed inside a
    batch and resumed commits byte-identical output to an uninterrupted
    control run with zero reprocessed input rows.

    Late rows depend on how files group into batches: a crash while
    the file source plans a batch (its ``sources/0`` log appended, the
    offset log not yet) makes the resumed query read that file and the
    next as ONE batch, which meets an older watermark and can keep rows
    the uninterrupted run drops as late (no row is read twice).

    Returns the started StreamingQuery (caller awaits/stops — the
    kill test needs the handle)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(src_dir)
    )
    rolled = windowed_rollup(stream, window, watermark)
    writer = (
        rolled.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="0 seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# Stateful sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
_STATE_SCHEMA = "start long, end long, n int, total double"


GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def _sessions_frame(key, closed) -> pd.DataFrame:
    s, e, cn, tv = zip(*closed)
    return pd.DataFrame(
        {
            "user_id": pd.Series([key[0]] * len(closed), dtype="int64"),
            "session_start": pd.to_datetime(list(s), unit="us"),
            "session_end": pd.to_datetime(list(e), unit="us"),
            "n_events": pd.Series(cn, dtype="int32"),
            "total_value": pd.Series(tv, dtype="float64"),
        }
    )


def _make_session_fn(timeout_ms: int | None):
    """Per-user gap-session kernel factory for applyInPandasWithState
    (Spark 4 also ships transformWithStateInPandas, but its driver
    worker needs the protobuf package; this classic API is
    dependency-free). With ``timeout_ms``, a user idle that long in
    PROCESSING time has their open session emitted and their state
    REMOVED — the eviction that makes state O(active users), not
    O(all users ever seen)."""

    def _session_fn(key, pdfs, state):
        if timeout_ms is not None and state.hasTimedOut:
            # idle user: close out the open session and evict. A
            # later event within GAP of this end starts a NEW session
            # where the batch oracle would have merged — the same
            # out-of-contract lateness the cross-batch note below
            # already carves out, traded for bounded state.
            if state.exists:
                start, end, n, total = state.get
                yield _sessions_frame(key, [(start, end, n, total)])
            state.remove()
            return
        start, end, n, total = (
            state.get if state.exists else (None, None, 0, 0.0)
        )
        ts_all, vals = [], []
        for pdf in pdfs:
            ts_all.append(pdf["ts"].astype("int64") // 1000)  # ns -> us
            vals.append(pdf["value"])
        ts = pd.concat(ts_all).to_numpy()
        vv = pd.concat(vals).to_numpy()
        order = ts.argsort(kind="stable")

        closed = []
        for t, v in zip(ts[order].tolist(), vv[order].tolist()):
            if start is None:
                start, end, n, total = t, t, 1, v
            elif t - end <= GAP_US:
                # late cross-batch arrivals both extend the end AND
                # pull the start back (the batch oracle's global sort
                # sees them in order; lateness beyond GAP of the open
                # session's end is out of contract without a watermark)
                start, end, n, total = (
                    min(start, t), max(end, t), n + 1, total + v,
                )
            else:
                closed.append((start, end, n, total))
                start, end, n, total = t, t, 1, v
        state.update((int(start), int(end), int(n), float(total)))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)

        if closed:
            yield _sessions_frame(key, closed)

    return _session_fn


def sessionize(events: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator: per-user gap sessions via
    ``applyInPandasWithState`` (Arrow-batched; state = one 4-tuple per
    user).

    ``timeout_ms`` is the continuous-stream config: users idle that
    long in PROCESSING time have their open session emitted and their
    state REMOVED, so a long-running stream's state is O(active
    users) — not O(all users ever seen) — and a churned user's last
    session is not parked in the state store forever (set it to the
    session gap in ms for gap-consistent eviction).

    It is OPT-IN rather than the default because a pending
    processing-time timer keeps a ``Trigger.AvailableNow`` query alive
    indefinitely — measured: a 2-file drain ran past batch 158 firing
    empty timer batches instead of terminating — and the bounded-drain
    topology (tests, oracles, catch-up jobs) relies on availableNow
    terminating. Bounded drains therefore run timer-free (NoTimeout)
    and leave each user's final session in state by contract;
    continuous ``processingTime`` streams should pass ``timeout_ms``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(timeout_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def batch_sessions(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch oracle for ``sessionize``: classic gap-and-island windows.
    Used by tests to pin the stateful operator's semantics."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # compare gaps in exact MICROSECONDS: the stateful operator tracks
    # epoch-us, and a whole-second (unix_timestamp) comparison would
    # merge sub-second-straddling gaps the streaming side splits
    gap_us = gap_minutes * 60 * 1_000_000
    marked = events.select(
        "user_id", "ts", "value",
        F.when(
            # events ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP.
            # The session-tz shift the cast introduces cancels in the
            # difference, so the gap itself is exact microseconds.
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
            > gap_us,
            1,
        ).otherwise(0).alias("new_session"),
    ).withColumn(
        "session_no", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    return marked.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.sum("value").alias("total_value"),
    ).drop("session_no")


# ---------------------------------------------------------------------------
# Streaming speed-limit inference
# ---------------------------------------------------------------------------

def streaming_speed_inference(
    spark: SparkSession,
    roads_stream: DataFrame,
    ruleset,
    checkpoint_dir: str,
    sink_table: str = "stream_inference",
) -> DataFrame:
    """Apply the batch inference transformation to a stream of road
    rows (stateless per-row map — no watermark/state needed) and drain
    with AvailableNow into a memory sink. The all-Catalyst cascade's
    broadcast country dim becomes a stream-static broadcast join, which
    Structured Streaming supports natively; the whole per-batch plan
    stays Python-free."""
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    out = infer_speed_limits_native(roads_stream, ruleset)
    projected = out.select(
        "road_id",
        F.col("speed_limit.road_type_name").alias("road_type_name"),
        F.col("speed_limit.certitude").alias("certitude"),
    )
    return drain_to_memory(spark, projected, checkpoint_dir, sink_table)


# ---------------------------------------------------------------------------
# Geo-streaming: watermarked event-time x TILE rollup (live heatmap)
# ---------------------------------------------------------------------------

def tile_windowed_rollup(
    events: DataFrame,
    lon_col: str,
    lat_col: str,
    res: int = 5,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked (event-time window x raster tile) aggregation — the
    streaming twin of the batch tile_rollup, i.e. a live heatmap
    layer. In append/update mode state is bounded by watermark_horizon
    x occupied tiles (the grid at res 5 caps the key space at 2^11
    cells); the COMPLETE-mode memory-sink drain below keeps all
    windows (test-only). Identical plan on a static DataFrame, which
    is the batch oracle."""
    from osm_legal_default_speeds_spark.operators.spatial import grid_cell

    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            grid_cell(F.col(lon_col), F.col(lat_col), res).alias("tile_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket_s"),
            "tile_id",
            "n_events",
            "total_value",
        )
    )


def geo_tagged_events(events: DataFrame) -> DataFrame:
    """Demo geo-tagging for the coordinate-free driver events table:
    id-derived lon/lat (pure integer functions, oracle-reproducible).
    Production event sources carry real lon/lat columns instead."""
    k = F.col("event_id")
    return events.withColumn(
        "lon", (k * 7919 % 360000) / 1000.0 - 180.0
    ).withColumn("lat", (k * 104729 % 170000) / 1000.0 - 85.0)


def streaming_tile_rollup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_tiles",
    res: int = 5,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drain ``src_dir`` with Trigger.AvailableNow through the
    geo-tagged windowed tile rollup into a memory sink (TEST-ONLY —
    see streaming_event_rollup's sink note; streaming_rollup_to_parquet
    is the exactly-once file-sink pattern)."""
    stream = geo_tagged_events(read_event_stream(spark, src_dir))
    rolled = tile_windowed_rollup(stream, "lon", "lat", res, window, watermark)
    return drain_to_memory(
        spark, rolled, checkpoint_dir, sink_table, output_mode="complete"
    )
