"""Generic versioned DELTA store: the LSM/snapshot commit-log pattern
(Iceberg/Delta-style) hand-rolled over plain parquet + atomic pointer
files, factored out of the tile store so every derived table maintained
from a changeset stream shares one implementation — vector tiles
(``tile_maintenance.py``) and inference results
(``inference_maintenance.py``) today.

Store layout (all committed state is immutable; only pointers move):

- ``v{N}/delta``  — the rows version N changed (new values);
- ``v{N}/dirty``  — the key set version N touched (single key column;
  keys absent from the delta are tombstones for removed rows);
- ``base-{N}``    — a compacted full snapshot at version N;
- ``CURRENT`` / ``BASE`` — atomically renamed pointer files naming the
  newest committed version and the newest base snapshot.

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

Exactly-once across crashes: a replayed batch id is detected
(``CURRENT >= batch_id``) and skipped; a version is never half-visible
because the pointer rename is atomic and happens last. SINGLE WRITER
by contract — the commit fence (``_writer_lock``) makes a second
concurrent writer fail loudly instead of interleaving, the
dense-version guard rejects stale ids from a lagging writer, and
readers only follow committed pointers either way.

STORE PATH CONTRACT: ``store_dir`` must be a POSIX path on a
filesystem shared between the driver and whatever reads the store —
local disk in local mode, NFS/shared mount under cluster submission.
The parquet tables inside go through Spark's Hadoop IO, but the
pointer/manifest/lock files use driver-local ``os`` IO for their
atomic-rename semantics (Hadoop FS rename is not atomic on object
stores, which is exactly where a pointer file must not be
half-visible). A URI-schemed path (``hdfs://``, ``s3a://`` …) would
silently split the store — parquet in the distributed FS, pointers on
the driver's disk — so writers refuse it up front
(:func:`_require_posix_store`). Object-store deployments should
mount-translate (s3fs/fuse, EFS/Filestore) or keep stores on HDFS-NFS
gateways.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import shutil
import socket
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")
_LOCK_NAME = ".writer.lock"


def _require_posix_store(store_dir: str) -> None:
    """Writers refuse URI-schemed store paths up front (see the STORE
    PATH CONTRACT in the module docstring): parquet would land in the
    distributed FS while pointers/locks landed on the driver's local
    disk — a silently split store."""
    if _URI_SCHEME.match(store_dir):
        raise ValueError(
            f"store_dir {store_dir!r} carries a URI scheme: the "
            "store's pointer/manifest/lock files use driver-local "
            "POSIX IO for their atomic-rename semantics, so a "
            "distributed-FS path would split the store (parquet "
            "remote, pointers local). Point store_dir at a POSIX "
            "mount shared between driver and readers instead."
        )


def _holder_is_stale(holder: str) -> bool:
    """True iff the recorded holder is a process on THIS host that no
    longer exists — the one case a restarted job can prove the lock is
    an orphan without a human. A different host, an unparsable record,
    or a live pid all read as held (kill(pid, 0) with EPERM means
    alive-but-foreign, also held)."""
    m = re.search(r"pid=(\d+) host=(\S+)", holder)
    if not m or m.group(2) != socket.gethostname():
        return False
    try:
        os.kill(int(m.group(1)), 0)
        return False
    except ProcessLookupError:
        return True
    except OSError:
        return False


def _reclaim_stale_lock(path: str, observed_holder: str) -> bool:
    """Remove the commit lock iff it still records a provably-dead
    same-host holder. Reclaim is serialized through a kernel-backed
    ``flock`` on a side file — flock needs no staleness protocol of
    its own (the kernel releases it when the holder dies), so N racing
    restarts cannot each remove-and-recreate: only the flock winner
    re-reads the lock UNDER the mutex, re-verifies the holder is still
    dead, and removes it. A plain rename-aside reclaim has a TOCTOU
    hole here (loser renames the winner's FRESH lock aside and both
    enter the critical section). flock-over-NFS caveats don't apply:
    :func:`_holder_is_stale` only ever proves death for same-host
    pids, so every reclaimer shares this kernel. Returns True if the
    caller should retry the O_EXCL acquire."""
    rfd = os.open(f"{path}.reclaim", os.O_CREAT | os.O_WRONLY)
    try:
        try:
            fcntl.flock(rfd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            # another restart is mid-reclaim; let it win and retry the
            # normal acquire (we'll lose O_EXCL to it, which is correct)
            return True
        try:
            with open(path) as fh:
                current = fh.read().strip() or "<empty>"
        except FileNotFoundError:
            return True  # already reclaimed (or released) — just retry
        except OSError:
            return False
        # the observed holder must STILL be on the file (not replaced
        # by a live writer's fresh lock) and still provably dead
        if current == observed_holder and _holder_is_stale(current):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            return True
        return False
    finally:
        os.close(rfd)  # close releases the flock


@contextlib.contextmanager
def _writer_lock(store_dir: str, batch_id: int | str):
    """Cross-process commit fence: O_CREAT|O_EXCL lock file held for
    the commit's critical section, so a second concurrent writer fails
    loudly instead of interleaving half-written versions. The lock
    records holder identity (pid/host); a lock whose recorded pid is
    provably dead ON THIS HOST is reclaimed automatically (serialized
    through a kernel flock side-mutex — see :func:`_reclaim_stale_lock`
    — so two racing restarts cannot both reclaim it) — that keeps the
    job-level exactly-once-replay-across-kills contract hands-off for
    the single-host driver topology. A lock from another host cannot
    be liveness-checked and stays held by design (auto-expiry would
    reintroduce the race) — an operator verifies the pid is gone and
    calls :func:`break_writer_lock`."""
    path = os.path.join(store_dir, _LOCK_NAME)
    for attempt in (0, 1):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                with open(path) as fh:
                    holder = fh.read().strip() or "<empty>"
            except OSError:
                holder = "<unreadable>"
            if (
                attempt == 0
                and _holder_is_stale(holder)
                and _reclaim_stale_lock(path, holder)
            ):
                continue
            raise ValueError(
                f"another writer holds the commit lock on {store_dir} "
                f"({holder}): the store is single-writer by contract; "
                f"if the holder crashed on another host, verify its "
                f"pid is gone and call break_writer_lock()"
            ) from None
    try:
        os.write(
            fd,
            (
                f"pid={os.getpid()} host={socket.gethostname()} "
                f"batch={batch_id} t={int(time.time())}"
            ).encode(),
        )
        os.close(fd)
        yield
    finally:
        try:
            os.remove(path)
        except OSError:
            pass


def break_writer_lock(store_dir: str) -> bool:
    """Operator escape hatch: remove a lock left by a crashed writer
    (verify the recorded pid first). Returns True if a lock was
    removed."""
    path = os.path.join(store_dir, _LOCK_NAME)
    try:
        os.remove(path)
        return True
    except FileNotFoundError:
        return False


def _read_pointer(store_dir: str, name: str) -> int | None:
    ptr = os.path.join(store_dir, name)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return int(fh.read().strip())


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if os.path.isfile(os.path.join(path, f))
    )


def _write_pointer(store_dir: str, name: str, value: int) -> None:
    tmp = os.path.join(store_dir, f".{name}.{value}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(value))
    os.replace(tmp, os.path.join(store_dir, name))  # atomic


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
    """The committed version (batch id), or None before first commit."""
    return _read_pointer(store_dir, "CURRENT")


def base_version(store_dir: str) -> int | None:
    """The latest compacted base snapshot's version, or None if the
    store has never been compacted (reconstruction starts empty)."""
    return _read_pointer(store_dir, "BASE")


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
            f"(CURRENT is {committed})"
        )
    b = base_version(store_dir)
    if b is not None and b <= version:
        cur = spark.read.parquet(os.path.join(store_dir, f"base-{b}"))
        lo = b + 1
    else:
        # no base at or below the asked version: the full delta chain
        # from v0 is required. Batch ids are dense, so a missing v0
        # means expire_versions reclaimed the chain — refuse rather
        # than silently reconstruct an empty/partial table.
        if version >= 0 and not os.path.isdir(
            os.path.join(store_dir, "v0")
        ):
            if b is None:
                # never-compacted store missing its v0: commits are
                # dense from 0 and expiry never runs below a base, so
                # this is corruption / external modification, not a
                # reclaimed chain
                raise ValueError(
                    f"store at {store_dir} has committed versions but "
                    f"no v0 directory and no base snapshot: the store "
                    f"has been modified externally or is corrupted; "
                    f"re-ingest into a fresh store directory"
                )
            raise ValueError(
                f"version {version} predates the latest base snapshot "
                f"({b}) and its delta chain has been expired — only "
                f"versions >= {b} remain reconstructible"
            )
        if not os.path.isdir(os.path.join(store_dir, "v0", "delta")):
            # probe BEFORE the schema read so a pre-delta-format v0
            # (full table directly under v0) gets the loop's friendly
            # migration error, not a raw path-not-found
            raise ValueError(
                f"{os.path.join(store_dir, 'v0')} is not a "
                f"delta-format version (no delta/ table): the store "
                f"was written by an older full-table-per-version "
                f"release or has been modified externally; re-ingest "
                f"into a fresh store directory"
            )
        cur = spark.read.parquet(
            os.path.join(store_dir, "v0", "delta")
        ).limit(0)
        lo = 0
    budget = BROADCAST_DIRTY_MAX_BYTES  # cumulative across the chain
    for v in range(lo, version + 1):
        vdir = os.path.join(store_dir, f"v{v}")
        if not os.path.isdir(os.path.join(vdir, "dirty")):
            # batch ids are dense and expiry only reclaims below the
            # base, so a committed version without delta/dirty tables
            # is a store written by a pre-delta format or external
            # damage — refuse loudly
            raise ValueError(
                f"{vdir} is not a delta-format version (no dirty/ "
                f"table): the store was written by an older "
                f"full-table-per-version release or has been modified "
                f"externally; re-ingest into a fresh store directory"
            )
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
    ``base-{CURRENT}`` and advance the ``BASE`` pointer (atomic, last).
    Returns the new base version, or None on an empty store. Idempotent:
    re-compacting with no commit since the last compaction is a no-op
    (it must be — writing base-{v} FROM base-{v} would be a
    self-overwrite, which Spark rejects)."""
    _require_posix_store(store_dir)
    v = current_version(store_dir)
    if v is None:
        return None
    if base_version(store_dir) == v:
        return v  # already compacted at CURRENT; nothing to fold
    with _writer_lock(store_dir, f"compact@{v}"):
        out = read_state_at(spark, store_dir, v, key)
        out.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"base-{v}")
        )
        _write_pointer(store_dir, "BASE", v)
    return v


def expire_versions(store_dir: str) -> list[str]:
    """Reclaim storage the latest base snapshot supersedes: delta
    version dirs at or below BASE and older base dirs. Split from
    compaction because retained deltas are the time-travel lineage —
    run this only when history before the base is no longer needed.
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
    for name in removed:
        shutil.rmtree(os.path.join(store_dir, name))
    return removed


def validate_batch_id(store_dir: str, batch_id: int) -> bool:
    """Pre-flight for a commit: False if ``batch_id`` is already
    committed (idempotent replay — skip the work), raises on a gap in
    the dense version sequence, True when the commit should proceed.
    Call BEFORE computing an expensive delta; :func:`commit_delta`
    re-checks under the same rules."""
    committed = current_version(store_dir)
    if committed is not None and committed >= batch_id:
        return False
    if batch_id != (0 if committed is None else committed + 1):
        raise ValueError(
            f"batch_id {batch_id} breaks the dense version sequence "
            f"(CURRENT is {committed}) — readers rely on density to "
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

    Why: the store's idempotent-replay rule skips any batch_id <=
    CURRENT. That is only safe while batch numbering comes from the
    SAME checkpoint lineage — a reset/relocated checkpoint renumbers
    micro-batches from 0, so every genuinely NEW changeset would be
    silently skipped as a 'replay' and the store would go stale with
    no error. Binding the checkpoint's query id (the ``id`` field of
    ``<checkpoint>/metadata``, stable across restarts of one
    checkpoint) turns that silent data loss into this loud error.
    Remediation: restore the original checkpoint directory, or start a
    fresh store for the new stream; to intentionally re-home a store,
    delete its STREAM_ID file AND ensure the new stream's batch
    numbering cannot collide with committed versions."""
    path = os.path.join(store_dir, _STREAM_ID_NAME)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
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
    try:
        os.write(fd, stream_id.encode())
    finally:
        os.close(fd)
    return True


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
            f"already has committed versions (CURRENT={had}) but no "
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
    already committed (idempotent replay), True after committing.
    Version ids must be dense and ascending. A commit writes
    O(|changeset|) rows; ``compact_every`` bounds the reconstruction
    chain every reader (including the next commit's own input fold)
    pays."""
    _require_posix_store(store_dir)
    os.makedirs(store_dir, exist_ok=True)
    if not validate_batch_id(store_dir, batch_id):
        return False
    with _writer_lock(store_dir, batch_id):
        # re-validate UNDER the fence: two writers may both have
        # passed the cheap pre-check before either acquired the lock
        if not validate_batch_id(store_dir, batch_id):
            return False
        t0 = time.monotonic()
        vdir = os.path.join(store_dir, f"v{batch_id}")
        # delta first (it may read the old chain), then the dirty set;
        # the version becomes visible only via the pointer
        fresh.write.mode("overwrite").parquet(os.path.join(vdir, "delta"))
        touched.select(key).write.mode("overwrite").parquet(
            os.path.join(vdir, "dirty")
        )
        # lineage manifest BEFORE the pointer (a version is visible
        # only with its manifest): row counts come from the parquet
        # footers of the files just written (metadata read, no data
        # scan), sizes from the local dir — the audit trail a
        # maintenance operator reads without reconstructing anything
        delta_rows = spark.read.parquet(os.path.join(vdir, "delta")).count()
        dirty_rows = spark.read.parquet(os.path.join(vdir, "dirty")).count()
        manifest = {
            "version": batch_id,
            "key": key,
            "delta_rows": delta_rows,
            "dirty_keys": dirty_rows,
            "tombstoned_keys": dirty_rows - delta_rows
            if dirty_rows >= delta_rows else None,
            "delta_bytes": _dir_bytes(os.path.join(vdir, "delta")),
            "dirty_bytes": _dir_bytes(os.path.join(vdir, "dirty")),
            "commit_wall_s": round(time.monotonic() - t0, 3),
        }
        tmp = os.path.join(vdir, ".manifest.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(vdir, "manifest.json"))
        _write_pointer(store_dir, "CURRENT", batch_id)
    # auto-compaction re-acquires the fence itself (outside the
    # commit's critical section — the version is already visible)
    if compact_every and (batch_id + 1) % compact_every == 0:
        compact_store(spark, store_dir, key)
    return True


def version_manifest(store_dir: str, version: int) -> dict | None:
    """The lineage manifest commit_delta wrote for ``version`` (row
    counts, tombstones, bytes, commit wall) — None for versions
    committed before manifests existed or reclaimed by expiry."""
    path = os.path.join(store_dir, f"v{version}", "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


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
            f"version {v_to} has not been committed (CURRENT is {committed})"
        )
    parts = []
    for v in range(v_from + 1, v_to + 1):
        vdir = os.path.join(store_dir, f"v{v}")
        if not os.path.isdir(os.path.join(vdir, "dirty")):
            raise ValueError(
                f"{vdir} has been expired or predates the delta format "
                f"— diff is only available over retained lineage"
            )
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
        # newest RETAINED version's dirty table — the newest version
        # CAN be expired (compact_store sets BASE == CURRENT and
        # expire_versions then reclaims every v-dir at or below BASE),
        # so probe downward and fall back to the base snapshot.
        src = None
        for v in range(committed, -1, -1):
            d = os.path.join(store_dir, f"v{v}", "dirty")
            if os.path.isdir(d):
                src = d
                break
        if src is None:
            b = base_version(store_dir)
            if b is None:
                raise ValueError(
                    f"{store_dir} has no retained version dirs and no "
                    f"base snapshot — store corrupted or externally "
                    f"modified"
                )
            src = os.path.join(store_dir, f"base-{b}")
        dirty0 = spark.read.parquet(src)
        return dirty0.select(
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
