"""Generic versioned DELTA store: the LSM/snapshot commit-log pattern
(Iceberg/Delta-style) hand-rolled over plain parquet + write-once
manifest files, factored out of the tile store so every derived table
maintained from a changeset stream shares one implementation — vector
tiles (``tile_maintenance.py``) and inference results
(``inference_maintenance.py``) today.

Store layout (nothing is ever rewritten in place; a version exists
exactly when its manifest does):

- ``v{N}/<attempt>/delta`` — the rows version N changed (new values);
- ``v{N}/<attempt>/dirty`` — the key set version N touched (single key
  column; keys absent from the delta are tombstones for removed rows);
- ``v{N}/manifest.json`` — version N's commit record: lineage (row
  counts, tombstones, bytes, commit wall) and the ``attempt``
  directory holding its tables;
- ``base-{N}/<attempt>/`` + ``base-{N}/manifest.json`` — a compacted
  full snapshot at version N and its commit record;
- ``STREAM_ID`` — the streaming query the store is bound to, if any.

The committed version is the highest N with a published ``v{N}`` or
``base-{N}`` manifest; the base is the highest published ``base-{N}``.
Readers only ever open the attempt a manifest names.

Readers reconstruct any committed version by folding the delta chain
onto the newest base at or below it:
``state = (state anti-join dirty_v) union delta_v`` per step — a
changeset-sized dirty set is broadcast, so the base is scanned ONCE,
shuffle-free, for any chain length; a BULK version's corpus-sized
dirty set (above :data:`BROADCAST_DIRTY_MAX_BYTES` on disk) falls back
to a regular join instead of collecting the corpus to the driver. ``compact_store`` bounds the
chain (measured chain-cost numbers in PLANS.md justify the default
cadence of 16); ``expire_versions`` reclaims superseded directories,
split from compaction because retained deltas ARE the time-travel
lineage.

Exactly-once across crashes: a commit writes its tables under a fresh
attempt directory and only then publishes the manifest with
:func:`~osm_legal_default_speeds_spark.plans.checkpointed_job.publish_once`
(write-once, create-if-absent — the same helper that commits the
checkpointed batch job's per-bucket manifests). A replayed batch id is
detected (a published version ``>= batch_id``) and skipped; a version
is never half-visible because its manifest arrives complete and last;
a crashed writer leaves only an unpublished attempt directory, which
no reader opens and no later commit waits on, so there is no lock to
reclaim on any host. SINGLE WRITER by contract, enforced by the
publish: of two writers racing for version N exactly one creates
``v{N}/manifest.json``, the other raises ``ValueError`` and its attempt
is never read; the dense-version guard rejects stale ids from a
lagging writer. A store written by an older release (a ``CURRENT``
pointer file, or manifests that name no attempt) is refused with a
re-ingest message, never read as empty or partial.

STORE PATH CONTRACT: ``store_dir`` must be a POSIX path on a
filesystem shared between the driver and whatever reads the store —
local disk in local mode, NFS/shared mount under cluster submission —
that supports atomic hard links (``link(2)`` failing with EEXIST on an
existing name). The parquet tables inside go through Spark's Hadoop
IO, but manifests and the stream binding use driver-local ``os`` IO
for that create-if-absent link (Hadoop FS has no portable atomic
create-if-absent on object stores, which is exactly where a commit
record must not be half-visible or silently overwritten). A
URI-schemed path (``hdfs://``, ``s3a://`` …) would silently split the
store — parquet in the distributed FS, manifests on the driver's disk
— so writers refuse it up front (``checkpointed_job._require_posix_store``).
Object-store deployments should mount-translate (s3fs/fuse,
EFS/Filestore) or keep stores on HDFS-NFS gateways.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_legal_default_speeds_spark.plans.checkpointed_job import (
    _require_posix_store,
    publish_once,
)

_MANIFEST = "manifest.json"


def _old_layout(store_dir: str) -> ValueError:
    return ValueError(
        f"{store_dir} is not a delta-format store of this release: it "
        f"was written by an older release (a CURRENT pointer file, or "
        f"version manifests that name no attempt directory) or has "
        f"been modified externally; re-ingest into a fresh store "
        f"directory"
    )


def _manifest(store_dir: str, name: str) -> dict | None:
    """The published commit record of version dir ``name`` (``v{N}``
    or ``base-{N}``), or None when it has none."""
    try:
        with open(os.path.join(store_dir, name, _MANIFEST)) as fh:
            m = json.load(fh)
    except FileNotFoundError:
        return None
    if "attempt" not in m:
        raise _old_layout(store_dir)
    return m


def _committed_dir(store_dir: str, name: str) -> str:
    """The attempt directory the manifest of ``name`` publishes."""
    m = _manifest(store_dir, name)
    if m is None:
        raise ValueError(
            f"{os.path.join(store_dir, name)} has no published "
            f"manifest: the store has been modified externally or is "
            f"corrupted; re-ingest into a fresh store directory"
        )
    return os.path.join(store_dir, name, m["attempt"])


def _latest(store_dir: str, prefix: str) -> int | None:
    """The highest N with a published ``{prefix}{N}`` manifest."""
    try:
        names = os.listdir(store_dir)
    except FileNotFoundError:
        return None
    if "CURRENT" in names:
        raise _old_layout(store_dir)
    found = sorted(
        (
            int(m.group(1))
            for name in names
            if (m := re.fullmatch(prefix + r"(\d+)", name))
        ),
        reverse=True,
    )
    for n in found:
        if os.path.exists(os.path.join(store_dir, f"{prefix}{n}", _MANIFEST)):
            return n  # a higher N without one is an unpublished attempt
    return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if os.path.isfile(os.path.join(path, f))
    )


# a dirty set bigger than this folds as a regular (shuffle) join
# instead of a forced broadcast: a BULK version (initial corpus
# import, re-import wave) has a corpus-sized dirty set, and the
# explicit broadcast hint would bypass autoBroadcastJoinThreshold and
# collect it to the driver. The budget is CUMULATIVE across one
# reconstruction's whole fold chain (a chain of compact_every
# just-under-cap dirty sets would otherwise force compact_every
# broadcasts into one plan — multi-GB on the driver). 64 MB of snappy
# parquet decompresses to a few hundred MB in memory — deliberately
# above Spark's 10 MB autoBroadcastJoinThreshold default (dirty sets
# are single skinny key columns and the anti-join is the fold's hot
# path) but bounded per plan, not per step.
BROADCAST_DIRTY_MAX_BYTES = 64 << 20


def current_version(store_dir: str) -> int | None:
    """The committed version (batch id), or None before first commit: the
    highest published version or base manifest (expiry may have removed
    every version dir at or below the base)."""
    return max(
        (
            n
            for n in (_latest(store_dir, "v"), _latest(store_dir, "base-"))
            if n is not None
        ),
        default=None,
    )


def base_version(store_dir: str) -> int | None:
    """The latest compacted base snapshot's version, or None if the
    store has never been compacted (reconstruction starts empty)."""
    return _latest(store_dir, "base-")


def read_state_at(
    spark: SparkSession, store_dir: str, version: int, key: str
) -> DataFrame:
    """Time travel: the table as of committed ``version`` — the newest
    un-expired base at or below it, with the delta chain folded on top.
    Each fold step is a broadcast anti-join on the changeset-sized
    dirty set plus a union of the delta rows: the base is scanned once,
    shuffle-free, for any chain length. The empty starting state (no
    base) takes its schema from v0's delta, so callers never pass a
    schema."""
    committed = current_version(store_dir)
    if committed is None or version > committed:
        raise ValueError(
            f"version {version} has not been committed "
            f"(the latest is {committed})"
        )
    b = base_version(store_dir)
    if b is not None and b <= version:
        cur = spark.read.parquet(_committed_dir(store_dir, f"base-{b}"))
        lo = b + 1
    else:
        # no base at or below the asked version: the full delta chain
        # from v0 is required. Batch ids are dense, so a missing v0
        # means expire_versions reclaimed the chain — refuse rather
        # than silently reconstruct an empty/partial table.
        if _manifest(store_dir, "v0") is None:
            if b is None:
                # never-compacted store missing its v0: commits are
                # dense from 0 and expiry never runs below a base, so
                # this is corruption / external modification, not a
                # reclaimed chain
                raise ValueError(
                    f"store at {store_dir} has committed versions but "
                    f"no published v0 and no base snapshot: the store "
                    f"has been modified externally or is corrupted; "
                    f"re-ingest into a fresh store directory"
                )
            raise ValueError(
                f"version {version} predates the latest base snapshot "
                f"({b}) and its delta chain has been expired — only "
                f"versions >= {b} remain reconstructible"
            )
        cur = spark.read.parquet(
            os.path.join(_committed_dir(store_dir, "v0"), "delta")
        ).limit(0)
        lo = 0
    budget = BROADCAST_DIRTY_MAX_BYTES  # cumulative across the chain
    for v in range(lo, version + 1):
        vdir = _committed_dir(store_dir, f"v{v}")
        dirty = spark.read.parquet(os.path.join(vdir, "dirty"))
        sz = _dir_bytes(os.path.join(vdir, "dirty"))
        if sz <= budget:
            # forced broadcasts are budgeted across the WHOLE fold so
            # a long chain of near-cap dirty sets cannot stack
            # compact_every broadcasts into one driver-built plan;
            # past the budget the anti-join falls back to Spark's own
            # strategy choice (AQE can still pick broadcast from real
            # runtime stats)
            dirty = F.broadcast(dirty)
            budget -= sz
        delta = spark.read.parquet(os.path.join(vdir, "delta"))
        cur = cur.join(dirty, key, "left_anti").unionByName(delta)
    return cur


def compact_store(
    spark: SparkSession, store_dir: str, key: str
) -> int | None:
    """Materialize the current delta chain into a new base snapshot
    ``base-{v}`` at the committed version ``v`` (its manifest published
    last). Returns the new base version, or None on an empty store.
    Idempotent: re-compacting with no commit since the last compaction
    is a no-op, and a compactor that loses the publish of ``base-{v}``
    to another one returns ``v`` too — both wrote the same state."""
    _require_posix_store(store_dir)
    v = current_version(store_dir)
    if v is None:
        return None
    if base_version(store_dir) == v:
        return v  # already compacted at the committed version
    attempt = uuid.uuid4().hex
    read_state_at(spark, store_dir, v, key).write.parquet(
        os.path.join(store_dir, f"base-{v}", attempt)
    )
    publish_once(
        os.path.join(store_dir, f"base-{v}", _MANIFEST),
        json.dumps({"version": v, "key": key, "attempt": attempt}),
    )
    return v


def expire_versions(store_dir: str) -> list[str]:
    """Reclaim storage the latest base snapshot supersedes: delta
    version dirs at or below the base and older base dirs, each with
    every attempt inside it (published or orphaned by a crash). Split
    from compaction because retained deltas are the time-travel lineage
    — run this only when history before the base is no longer needed.
    Returns the removed directory names."""
    b = base_version(store_dir)
    if b is None:
        return []
    removed = []
    for name in sorted(os.listdir(store_dir)):
        m = re.fullmatch(r"v(\d+)", name)
        if m and int(m.group(1)) <= b:
            removed.append(name)
        m = re.fullmatch(r"base-(\d+)", name)
        if m and int(m.group(1)) < b:
            removed.append(name)
    # unpublish every dir before deleting any: a crash mid-removal
    # must leave no published version whose tables are partly gone
    for name in removed:
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(store_dir, name, _MANIFEST))
    for name in removed:
        shutil.rmtree(os.path.join(store_dir, name))
    return removed


def validate_batch_id(store_dir: str, batch_id: int) -> bool:
    """Pre-flight for a commit: False if ``batch_id`` is already
    committed (idempotent replay — skip the work), raises on a gap in
    the dense version sequence, True when the commit should proceed.
    Call BEFORE computing an expensive delta; a writer that passes it
    and then loses the race for the version fails at
    :func:`commit_delta`'s publish."""
    committed = current_version(store_dir)
    if committed is not None and committed >= batch_id:
        return False
    if batch_id != (0 if committed is None else committed + 1):
        raise ValueError(
            f"batch_id {batch_id} breaks the dense version sequence "
            f"(the latest is {committed}) — readers rely on density to "
            f"fold and to detect expiry"
        )
    return True


_STREAM_ID_NAME = "STREAM_ID"


def stream_binding(store_dir: str) -> str | None:
    """The streaming-query id this store is bound to (recorded by
    :func:`bind_stream` on the stream's first micro-batch), or None
    for an unbound store (fresh, or written only by the batch API)."""
    try:
        with open(os.path.join(store_dir, _STREAM_ID_NAME)) as fh:
            return fh.read().strip() or None
    except OSError:
        return None


def bind_stream(store_dir: str, stream_id: str) -> bool:
    """Bind the store to a streaming query's checkpoint identity.
    Returns True if this call created the binding, False if the store
    was already bound to the SAME id (normal restart/replay), and
    raises if it is bound to a DIFFERENT id.

    Why: the store's idempotent-replay rule skips any batch_id at or
    below the committed version. That is only safe while batch
    numbering comes from the SAME checkpoint lineage — a
    reset/relocated checkpoint renumbers
    micro-batches from 0, so every genuinely NEW changeset would be
    silently skipped as a 'replay' and the store would go stale with
    no error. Binding the checkpoint's query id (the ``id`` field of
    ``<checkpoint>/metadata``, stable across restarts of one
    checkpoint) turns that silent data loss into this loud error.
    Remediation: restore the original checkpoint directory, or start a
    fresh store for the new stream; to intentionally re-home a store,
    delete its STREAM_ID file AND ensure the new stream's batch
    numbering cannot collide with committed versions.

    The binding is published write-once (``publish_once``), so a crash
    mid-bind leaves either no binding or the complete one — never an
    empty file that reads as a foreign binding."""
    if publish_once(os.path.join(store_dir, _STREAM_ID_NAME), stream_id):
        return True
    bound = stream_binding(store_dir)
    if bound == stream_id:
        return False
    raise ValueError(
        f"store {store_dir} is bound to streaming query "
        f"{bound!r} but this stream's checkpoint identity is "
        f"{stream_id!r}: the checkpoint was reset or a different "
        f"stream attached, so its restarted batch numbering would "
        f"be silently skipped as replays. Restore the original "
        f"checkpoint, or point the new stream at a fresh store."
    )


def guard_stream_binding(store_dir: str, checkpoint_dir: str) -> None:
    """Per-micro-batch guard for the streaming maintenance closures:
    bind the store to this checkpoint's query id (loud failure on a
    foreign binding — a reset checkpoint), and refuse to attach a NEW
    stream to a store that already has committed versions, whose
    restarted batch numbering the replay rule would silently skip. A
    missing/unreadable checkpoint metadata degrades to no guard."""
    qid = checkpoint_query_id(checkpoint_dir)
    if qid is None:
        return
    had = current_version(store_dir)
    if bind_stream(store_dir, qid) and had is not None:
        raise ValueError(
            f"stream {qid!r} attached to store {store_dir}, which "
            f"already has committed versions (latest {had}) but no "
            f"stream binding: this stream's micro-batch numbering "
            f"starts at 0, so its commits would be silently skipped "
            f"as replays. Continue ingestion with the batch commit "
            f"API (explicit version ids), or start a fresh store."
        )


def checkpoint_query_id(checkpoint_dir: str) -> str | None:
    """The streaming query id recorded in a Structured Streaming
    checkpoint (``<checkpoint>/metadata``, written at stream start and
    stable across restarts of that checkpoint), or None when the
    metadata is missing/unreadable (guards then degrade gracefully)."""
    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            v = json.load(fh).get("id")
            return v if isinstance(v, str) and v else None
    except (OSError, ValueError):
        return None


def commit_delta(
    spark: SparkSession,
    store_dir: str,
    fresh: DataFrame,
    touched: DataFrame,
    batch_id: int,
    key: str,
    compact_every: int | None = 16,
) -> bool:
    """Commit one version: ``fresh`` is the changed rows' new values,
    ``touched`` the single-``key``-column set of every key the
    changeset affected (``touched ⊇ fresh[key]``; touched keys absent
    from fresh are tombstones). Returns False if ``batch_id`` is
    already committed (idempotent replay), True after committing, and
    raises ``ValueError`` if another writer published ``batch_id``
    while this one wrote. Version ids must be dense and ascending. A commit writes
    O(|changeset|) rows; ``compact_every`` bounds the reconstruction
    chain every reader (including the next commit's own input fold)
    pays."""
    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    if not validate_batch_id(store_dir, batch_id):
        return False
    t0 = time.monotonic()
    vdir = os.path.join(store_dir, f"v{batch_id}")
    attempt = uuid.uuid4().hex
    adir = os.path.join(vdir, attempt)
    # delta first (it may read the old chain), then the dirty set; the
    # attempt is unreachable until the manifest names it
    fresh.write.parquet(os.path.join(adir, "delta"))
    touched.select(key).write.parquet(os.path.join(adir, "dirty"))
    # lineage manifest = the commit record: row counts come from the
    # parquet footers of the files just written (metadata read, no
    # data scan), sizes from the local dir — the audit trail a
    # maintenance operator reads without reconstructing anything
    delta_rows = spark.read.parquet(os.path.join(adir, "delta")).count()
    dirty_rows = spark.read.parquet(os.path.join(adir, "dirty")).count()
    manifest = {
        "version": batch_id,
        "key": key,
        "delta_rows": delta_rows,
        "dirty_keys": dirty_rows,
        "tombstoned_keys": dirty_rows - delta_rows
        if dirty_rows >= delta_rows else None,
        "delta_bytes": _dir_bytes(os.path.join(adir, "delta")),
        "dirty_bytes": _dir_bytes(os.path.join(adir, "dirty")),
        "commit_wall_s": round(time.monotonic() - t0, 3),
        "attempt": attempt,
    }
    if not publish_once(os.path.join(vdir, _MANIFEST), json.dumps(manifest)):
        raise ValueError(
            f"another writer published version {batch_id} of "
            f"{store_dir} first: the store is single-writer by "
            f"contract; this commit's attempt {attempt} is never read"
        )
    if compact_every and (batch_id + 1) % compact_every == 0:
        compact_store(spark, store_dir, key)
    return True


def version_manifest(store_dir: str, version: int) -> dict | None:
    """The lineage manifest commit_delta published for ``version`` (row
    counts, tombstones, bytes, commit wall, attempt) — None for
    versions not committed or reclaimed by expiry."""
    return _manifest(store_dir, f"v{version}")


def diff_versions(
    spark: SparkSession, store_dir: str, v_from: int, v_to: int, key: str
) -> DataFrame:
    """Audit diff between two committed versions WITHOUT reconstructing
    either table: the union of the intervening deltas/dirty sets,
    collapsed to each key's final disposition — ``(key, change)`` with
    change in ('upserted', 'removed'). A key touched then restored to a
    newer value still reports 'upserted' (latest intervening version
    wins); keys untouched in (v_from, v_to] are absent. One honest
    limit: a TRANSIENT key (created after v_from, deleted again before
    v_to) reports 'removed' even though v_from never had it — exact
    transient detection would need v_from's corpus-sized state, and
    downstream consumers treat 'removed' for an absent key as a no-op
    anyway. Work is O(sum of changeset sizes), never corpus-sized."""
    if not 0 <= v_from <= v_to:
        raise ValueError(f"need 0 <= v_from <= v_to, got {v_from}..{v_to}")
    committed = current_version(store_dir)
    if committed is None or v_to > committed:
        raise ValueError(
            f"version {v_to} has not been committed "
            f"(the latest is {committed})"
        )
    parts = []
    for v in range(v_from + 1, v_to + 1):
        m = _manifest(store_dir, f"v{v}")
        if m is None:
            raise ValueError(
                f"v{v} of {store_dir} has been expired — diff is only "
                f"available over retained lineage"
            )
        vdir = os.path.join(store_dir, f"v{v}", m["attempt"])
        dirty = spark.read.parquet(os.path.join(vdir, "dirty")).select(
            F.col(key), F.lit(v).alias("__v")
        )
        kept = spark.read.parquet(os.path.join(vdir, "delta")).select(
            F.col(key), F.lit(v).alias("__v"), F.lit(True).alias("__kept")
        )
        parts.append(dirty.join(kept, [key, "__v"], "left_outer"))
    if not parts:
        # v_from == v_to: an empty range is a valid question with an
        # empty answer, not an error. Take the key's type from the
        # newest version's dirty table, or from the base snapshot when
        # the base is at the newest version (expire_versions may then
        # have reclaimed every version dir)
        if base_version(store_dir) == committed:
            src = _committed_dir(store_dir, f"base-{committed}")
        else:
            src = os.path.join(
                _committed_dir(store_dir, f"v{committed}"), "dirty"
            )
        return spark.read.parquet(src).select(
            key, F.lit("upserted").alias("change")
        ).limit(0)
    allv = parts[0]
    for p in parts[1:]:
        allv = allv.unionByName(p)
    last = allv.groupBy(key).agg(
        F.max_by(F.coalesce(F.col("__kept"), F.lit(False)), F.col("__v")).alias(
            "__kept"
        )
    )
    return last.select(
        key,
        F.when(F.col("__kept"), F.lit("upserted"))
        .otherwise(F.lit("removed"))
        .alias("change"),
    )
