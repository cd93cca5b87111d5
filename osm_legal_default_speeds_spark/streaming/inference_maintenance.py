"""Streaming inference-table maintenance: continuous road-changeset
ingestion keeping the stored speed-limit RESULT table current — the
Structured Streaming twin of ``plans/rules_diff.apply_road_changeset``
(whose batch form repairs a stored table in one call) and the
inference-side counterpart of ``tile_maintenance.py``. Together the
two streams keep BOTH derived tables (inference rows, tile blobs)
current from one OSM-diff feed without ever recomputing the corpus.

The store is the generic versioned delta store
(``streaming/delta_store.py`` — layout, fold semantics, exactly-once
replay, single-writer contract): each commit writes its tables under a
fresh attempt directory and becomes visible only when its write-once
``v{N}/manifest.json`` is published. The per-version delta is cheap by
construction: inference has no cross-row dependencies, so a changeset
touches exactly its own rows — the commit runs the broadcast rule
cascade over the changeset-sized upserts ONLY and writes
O(|changeset|) rows; tombstoning of removed roads happens at read/fold
time via the broadcast dirty-id anti-join, never as a corpus rewrite.

Changeset rows carry ``(road_id, country_code, tags, op)`` with op in
('remove', 'upsert'); a re-tagged or moved road ships only its new row
under 'upsert' (its result row is superseded in place — same key).
'remove' rows need only the id; other columns may be null. Feeds that
know edit recency should add a ``seq`` column
(ROAD_CHANGESET_SCHEMA_SEQ): same-id ops inside one batch then resolve
last-wins on it instead of the order-free fallback rules (see
commit_road_batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_legal_default_speeds_spark.plans.checkpointed_job import (
    _require_posix_store,
)
from osm_legal_default_speeds_spark.streaming.delta_store import (
    commit_delta,
    compact_store,
    current_version,
    guard_stream_binding,
    read_state_at,
)

ROAD_CHANGESET_SCHEMA = (
    "road_id long, country_code string, tags map<string,string>, "
    "op string"
)
# feeds that can carry edit recency (OSM object version / diff
# sequence number) should: same-id collisions inside one coalesced
# micro-batch or multi-file daily batch then resolve LAST-WINS on
# ``seq`` — including upsert-then-remove, which the sequence-less
# schema can only resolve to upsert (ops are unordered within a
# batch). Files missing the column read as null seq and fall back to
# the deterministic hash rule.
ROAD_CHANGESET_SCHEMA_SEQ = ROAD_CHANGESET_SCHEMA + ", seq long"
_KEY = "road_id"


def read_road_changeset_stream(
    spark: SparkSession, src_dir: str, with_seq: bool = False
) -> DataFrame:
    """File stream of road-changeset rows; one file per micro-batch so
    every diff commits its own result-table version.
    ``with_seq`` reads ROAD_CHANGESET_SCHEMA_SEQ so feeds that carry
    edit recency actually reach commit_road_batch's last-wins branch —
    without it the seq column in the files is silently dropped by the
    reader schema. Files missing the column read null seq (hash
    fallback), so mixed feeds are safe."""
    schema = ROAD_CHANGESET_SCHEMA_SEQ if with_seq else ROAD_CHANGESET_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def read_results_at(
    spark: SparkSession, store_dir: str, version: int
) -> DataFrame:
    """Time travel: the result table as of committed ``version``
    (delta_store.read_state_at keyed on road_id)."""
    return read_state_at(spark, store_dir, version, _KEY)


def read_current_results(
    spark: SparkSession, store_dir: str
) -> DataFrame | None:
    """The committed result table, or None before the first commit
    (the result schema is the caller's projection — unknowable before
    version 0 exists)."""
    v = current_version(store_dir)
    if v is None:
        return None
    return read_results_at(spark, store_dir, v)


def compact_results_store(
    spark: SparkSession, store_dir: str
) -> int | None:
    """Materialize the current delta chain into a new base snapshot
    (delta_store.compact_store)."""
    return compact_store(spark, store_dir, _KEY)


def commit_road_batch(
    spark: SparkSession,
    store_dir: str,
    batch: DataFrame,
    batch_id: int,
    ruleset,
    project=None,
    country_col: str = "country_code",
    compact_every: int | None = 16,
    seq_col: str = "seq",
    **infer_kwargs,
) -> bool:
    """Apply one road-changeset batch to the result store as version
    ``batch_id`` — the commit unit the streaming query runs per
    micro-batch, exposed for BATCH ingestion (daily-diff cron).
    Returns False on idempotent replay of a committed id. ``project``
    maps raw inference output onto the stored result schema, same
    contract as apply_road_changeset; it MUST keep the ``road_id``
    column. The cascade runs over the changeset's upserts only — the
    stored table is never read at commit time (contrast the tile
    commit, which must decode dirty blobs). The fresh side is
    ``rules_diff.infer_upserts``, shared with the batch twin: same
    deterministic resolution of duplicate same-id upserts within one
    micro-batch (multiple diff files in one batch-API call, or one
    diff editing an object twice) — without it the store would
    serve duplicate key rows.

    Op ordering: when the batch schema carries ``seq_col``
    (ROAD_CHANGESET_SCHEMA_SEQ), each id's ops resolve LAST-WINS on it
    — a road upserted then removed within one coalesced batch stays
    removed, and an earlier upsert never shadows a later one. EQUAL
    sequence numbers across different ops (a feed stamping seq at file
    granularity) fall back to the same rule as the sequence-less
    contract — the upsert wins — so opting into the column never
    downgrades a documented guarantee to a hash coin-flip; only
    duplicate same-op rows at equal seq fall to the hash rule. Without
    the column, ops within a batch are unordered by contract: any
    upsert wins over a remove for the same id (both still tombstone
    the old row) and duplicate upserts fall to the hash rule."""
    from pyspark.sql import Window

    from osm_legal_default_speeds_spark.plans.rules_diff import (
        infer_upserts,
    )

    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    if seq_col in batch.columns:
        # per-id winner across ops by edit recency; equal/null seq
        # resolves upsert-over-remove (the sequence-less rule), then
        # hash of the full row breaks duplicate same-op rows
        w = Window.partitionBy(_KEY).orderBy(
            F.col(seq_col).desc_nulls_last(),
            (F.col("op") == "upsert").cast("int").desc(),
            F.xxhash64(F.to_json(F.struct(*batch.columns))).desc(),
        )
        winners = (
            batch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        upserted = winners.where(F.col("op") == "upsert").drop("op")
        # the window above already left exactly one row per id, so
        # infer_upserts' own dedup window (identical partitioning)
        # would be a guaranteed-no-op second shuffle per micro-batch
        already_unique = True
    else:
        upserted = batch.where(F.col("op") == "upsert").drop("op")
        already_unique = False
    fresh = infer_upserts(
        upserted, ruleset, id_col=_KEY, country_col=country_col,
        project=project, seq_col=seq_col,
        assume_unique=already_unique, **infer_kwargs,
    )
    touched = batch.select(_KEY).distinct()
    return commit_delta(
        spark, store_dir, fresh, touched, batch_id, _KEY,
        compact_every=compact_every,
    )


def streaming_inference_maintenance(
    spark: SparkSession,
    changeset_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    ruleset,
    project=None,
    compact_every: int | None = 16,
    with_seq: bool = False,
    **infer_kwargs,
):
    """Start the maintenance stream; returns the StreamingQuery (caller
    awaits/stops). The stream drains the pending changesets, one file
    per micro-batch (``availableNow``), then stops.
    ``read_current_results(spark, store_dir)`` serves the latest
    committed version at any point, including mid-stream.
    ``compact_every`` bounds the reader-side reconstruction chain
    (measured costs: PLANS.md); expiry stays manual so lineage
    retention is an operator policy. ``with_seq``: read
    ROAD_CHANGESET_SCHEMA_SEQ so a recency-stamped feed resolves
    same-id ops last-wins (see commit_road_batch). The store is BOUND
    to this stream's checkpoint identity on first commit
    (delta_store.bind_stream): a reset checkpoint's restarted batch
    numbering fails loudly instead of being silently skipped as
    replays."""
    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)

    def _commit(batch: DataFrame, batch_id: int) -> None:
        guard_stream_binding(store_dir, checkpoint_dir)
        commit_road_batch(
            spark, store_dir, batch, batch_id, ruleset,
            project=project, compact_every=compact_every,
            **infer_kwargs,
        )

    return (
        read_road_changeset_stream(spark, changeset_dir, with_seq=with_seq)
        .writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
