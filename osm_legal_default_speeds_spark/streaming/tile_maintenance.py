"""Streaming tile maintenance: continuous segment-changeset ingestion
keeping a persistent vector-tile table current — the Structured
Streaming twin of ``operators/spatial.py::rebuild_changed_tiles`` and
the production shape for continuous OSM-diff ingestion (minutely diffs
arrive as changesets; the planet tile table must never be re-encoded).

Architecture (all public Structured Streaming mechanics; the store is
the generic versioned delta store of ``streaming/delta_store.py`` —
see that module for layout, fold semantics, exactly-once replay, and
the single-writer contract; a version exists once its write-once
``v{N}/manifest.json`` is published, so a crashed commit leaves only an
attempt directory no reader opens):

- the changeset arrives as a parquet file stream of rows
  ``(seg_id, lon0, lat0, lon1, lat1, op)`` with op in
  ('remove', 'upsert') — a moved segment ships BOTH rows (its old
  geometry under 'remove', new under 'upsert'), exactly what
  ``segment_changeset`` emits;
- ``foreachBatch`` computes each micro-batch's DELTA with
  ``rebuild_changed_tiles_delta`` (dirty tiles only; the corpus-sized
  table is scanned, never shuffled) and commits it as an immutable
  version. A commit writes O(|changeset|) rows — the
  full-table-per-version scheme this replaces re-WROTE the whole
  corpus each batch, which at 10^12 tiles makes the write, not the
  compute, the bottleneck;
- ``compact_tile_store`` bounds the reconstruction chain and
  ``delta_store.expire_versions`` reclaims superseded directories (measured
  chain-length costs behind the compact_every=16 default: PLANS.md).

At 10^12-tile scale each micro-batch costs O(|changeset| + features in
dirty tiles) compute AND write; the table itself is only ever read
(broadcast-probed). Compaction is the one full-table write and runs at
an operator-chosen cadence, not per diff.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_legal_default_speeds_spark.operators.spatial import (
    rebuild_changed_tiles_delta,
)
from osm_legal_default_speeds_spark.plans.checkpointed_job import (
    _require_posix_store,
)
from osm_legal_default_speeds_spark.streaming.delta_store import (  # noqa: F401
    base_version,
    bind_stream,
    checkpoint_query_id,
    commit_delta,
    compact_store,
    current_version,
    guard_stream_binding,
    read_state_at,
    validate_batch_id,
)

CHANGESET_SCHEMA = (
    "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double, "
    "op string"
)
_TILES_SCHEMA = (
    "tile_id long, n_features int, byte_len int, tile_blob binary"
)
_KEY = "tile_id"


def read_changeset_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File stream of changeset rows; one file per micro-batch so every
    diff commits its own tile-table version."""
    return (
        spark.readStream.schema(CHANGESET_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def _empty_tiles(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _TILES_SCHEMA)


def read_tiles_at(
    spark: SparkSession, store_dir: str, version: int
) -> DataFrame:
    """Time travel: the tile table as of committed ``version``
    (delta_store.read_state_at keyed on tile_id)."""
    return read_state_at(spark, store_dir, version, _KEY)


def read_current_tiles(spark: SparkSession, store_dir: str) -> DataFrame:
    """The committed tile table (empty with the right schema before the
    first commit) — what a serving layer reads between commits."""
    v = current_version(store_dir)
    if v is None:
        return _empty_tiles(spark)
    return read_tiles_at(spark, store_dir, v)


def compact_tile_store(spark: SparkSession, store_dir: str) -> int | None:
    """Materialize the current delta chain into a new base snapshot and
    publish its manifest (delta_store.compact_store)."""
    return compact_store(spark, store_dir, _KEY)


def _apply_changeset_delta(
    tiles: DataFrame,
    batch: DataFrame,
    res: int,
    broadcast_dirty: bool,
) -> tuple[DataFrame, DataFrame]:
    geom = ["seg_id", "lon0", "lat0", "lon1", "lat1"]
    removed = batch.where(F.col("op") == "remove").select(*geom)
    upserted = batch.where(F.col("op") == "upsert").select(*geom)
    return rebuild_changed_tiles_delta(
        tiles, removed, upserted, res, clip=True,
        broadcast_dirty=broadcast_dirty,
    )


def commit_changeset(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    batch_id: int,
    res: int,
    compact_every: int | None = 16,
    broadcast_dirty: bool = True,
) -> bool:
    """Apply one changeset batch to the store as version ``batch_id``
    — the commit unit `streaming_tile_maintenance` runs per
    micro-batch, exposed for BATCH ingestion (a daily-diff cron job
    needs the same store without a streaming query). Returns False if
    ``batch_id`` is already committed (idempotent replay), True after
    committing. ``batch`` carries the changeset schema
    (:data:`CHANGESET_SCHEMA`). Version ids must be dense and
    ascending — pass ``current_version(store_dir) + 1`` (or 0 for a
    fresh store)."""
    # refuse URI-schemed paths BEFORE creating anything: os.makedirs of
    # 's3://bucket/x' would litter a junk local tree and the rebuild
    # below is expensive (the inference twin guards the same way)
    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    # full pre-flight (replay AND dense-gap) before the rebuild: it
    # materializes changeset-sized intermediates eagerly and decodes
    # dirty blobs, which neither a replayed batch nor a doomed
    # out-of-sequence one should ever pay for
    if not validate_batch_id(store_dir, batch_id):
        return False
    tiles = read_current_tiles(spark, store_dir)
    rebuilt, dirty = _apply_changeset_delta(
        tiles, batch, res, broadcast_dirty
    )
    return commit_delta(
        spark, store_dir, rebuilt, dirty, batch_id, _KEY,
        compact_every=compact_every,
    )


def streaming_tile_maintenance(
    spark: SparkSession,
    changeset_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    res: int,
    compact_every: int | None = 16,
    broadcast_dirty: bool = True,
):
    """Start the maintenance stream; returns the StreamingQuery (caller
    awaits/stops). The stream drains the pending changesets, one file
    per micro-batch (``availableNow``), then stops: the cron shape that
    ``jobs/maintenance_job.py`` re-submits per diff window.
    ``read_current_tiles(spark, store_dir)`` serves the latest committed
    version at any point, including mid-stream.

    ``compact_every`` (default 16): every Nth commit also materializes
    a base snapshot, bounding the reconstruction chain every reader
    (including the NEXT commit's own rebuild) folds — without it the
    chain grows one broadcast-anti-join fold per commit forever
    (cumulative O(N^2) re-reads and an ever-deepening plan), so pass
    None only for short bounded runs that compact manually. Expiry
    stays manual (``delta_store.expire_versions``) so lineage retention
    is an operator policy, not a side effect of ingestion.

    ``broadcast_dirty``: forwarded to
    :func:`rebuild_changed_tiles_delta`. Pass False when micro-batches
    are BULK (the initial base import of a whole corpus arriving as
    one changeset, a re-import wave): the dirty tile set is then
    corpus-sized and must shuffle-join rather than broadcast.

    The store is BOUND to this stream's checkpoint identity on its
    first commit (delta_store.bind_stream): a reset or relocated
    checkpoint renumbers micro-batches from 0, which the idempotent
    replay rule would otherwise silently skip — new changesets dropped,
    store stale, no error. The binding turns that into a loud failure;
    see bind_stream's docstring for remediation."""
    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)

    def _commit(batch: DataFrame, batch_id: int) -> None:
        guard_stream_binding(store_dir, checkpoint_dir)
        commit_changeset(
            spark, store_dir, batch, batch_id, res,
            compact_every=compact_every, broadcast_dirty=broadcast_dirty,
        )

    return (
        read_changeset_stream(spark, changeset_dir)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
