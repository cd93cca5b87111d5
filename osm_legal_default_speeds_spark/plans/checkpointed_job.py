"""Resumable partitioned batch job: per-partition checkpoint manifests
with lineage + row-count/latency metrics.

North-rule contract (BASELINE.json ``north_rule``): the tiling job over
the image/road table must be *resumable from per-partition checkpoints*
with *lineage + row-count/latency metrics written per H3 partition*.
The reference library is a pure function with no I/O
(``LegalDefaultSpeeds.kt:151-156`` returns a value); resumability is a
graft-layer requirement, so the design is Spark-batch-incremental, not
Structured Streaming (SURVEY.md §2.9, §7.6):

- The job space is split into ``num_buckets`` partition buckets by a
  deterministic key expression (e.g. ``tile_id % num_buckets`` — a
  proxy for H3 cell prefix at scale). Buckets are processed in batches
  of ``batch_size`` buckets per Spark job, so driver overhead is
  O(buckets/batch_size), not O(buckets); at 10^12 rows you'd run e.g.
  4096 buckets in batches of 64.
- Each batch writes ``pid=<bucket>/`` parquet partitions via dynamic
  partition overwrite (only the touched buckets are replaced — crash
  mid-batch + rerun is idempotent), then writes one manifest JSON per
  bucket. **Manifest presence is the commit marker**: a bucket with
  data but no manifest is re-processed on resume, so a kill between
  data-write and manifest-write cannot produce wrong output. Every
  commit record goes through :func:`publish_once` (write-once,
  create-if-absent), which the versioned delta store under
  ``streaming/`` shares for its version manifests and stream binding.
- The manifest records lineage (input paths, transform label, input
  row fingerprint) and metrics (row count, batch wall-clock seconds,
  Spark application id), satisfying the per-partition
  lineage + row-count/latency requirement. Row counts come from a
  metadata-only scan of the freshly written parquet (no recompute).

Scale notes: the partition column must be derived *before* the write
shuffle so dynamic overwrite maps buckets to files 1:1; skew across
buckets is bounded because the bucket key hashes the tile id (hot tiles
spread across buckets, and within a batch AQE splits oversized
partitions).

Iceberg mapping (BASELINE.json input_hint names Iceberg):
``run_checkpointed_iceberg`` runs the SAME bucket loop (bucket
derivation, the input persisted once per run, batching, the todo and
skipped sets, resume semantics) and differs only in the per-batch
commit: ``df.writeTo(table).overwritePartitions()``, whose atomic
snapshot commit subsumes the manifest-as-commit-marker protocol. The
committed-bucket set is read from the table's snapshot summaries
instead of the ``_manifests/`` directory, and the lineage payload
rides those summaries. Both jobs share one crash-consistency contract:
a kill between data and commit marker re-processes the bucket, never
corrupts it.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_DIR = "_manifests"
PID_COL = "pid"


def _manifest_path(output_dir: str, pid: int) -> str:
    return os.path.join(output_dir, MANIFEST_DIR, f"pid-{pid}.json")


_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _require_posix_store(path: str) -> None:
    """Refuse a URI-schemed ``path`` up front, before anything is
    written: :func:`publish_once` and the manifest reads use
    driver-local POSIX IO, so the parquet would land in the target FS
    while the commit records landed on the driver's local disk (for
    ``file://``, under a relative ``file:/`` directory in its working
    directory) — a silently split store."""
    if _URI_SCHEME.match(path):
        raise ValueError(
            f"{path!r} carries a URI scheme: the commit records use "
            "driver-local POSIX IO for their atomic create-if-absent "
            "publish, so a URI path would split the store (parquet "
            "in the target FS, commit records on the driver's disk). "
            "Use a plain POSIX path on a mount shared between driver "
            "and readers instead."
        )


def publish_once(path: str, text: str) -> bool:
    """Publish the commit record ``path`` holding ``text``: True if this
    call created it, False if ``path`` already existed (another writer
    published first; its record is left as it was). The text goes to a
    temp file in the target directory, which is then hard-linked to
    ``path``: ``link`` is an atomic create-if-absent, so no reader ever
    sees a partial record and a crash at any step leaves at most a
    stray dot-named temp file, never a half-written ``path``. Needs a
    POSIX filesystem with atomic hard links; this is the one place a
    port to another store (an object store's conditional put) would
    change."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.{uuid.uuid4().hex}.tmp")
    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT, 0o666)
    try:
        try:
            data = text.encode()
            while data:
                data = data[os.write(fd, data):]
        finally:
            os.close(fd)
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def completed_buckets(output_dir: str) -> set[int]:
    """Buckets whose manifest (the commit marker) exists."""
    mdir = os.path.join(output_dir, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return set()
    out = set()
    for name in os.listdir(mdir):
        if name.startswith("pid-") and name.endswith(".json"):
            out.add(int(name[4:-5]))
    return out


def _run_buckets(
    spark: SparkSession,
    make_df: Callable[[SparkSession], DataFrame],
    bucket_expr: str,
    num_buckets: int,
    batch_size: int,
    done: set[int],
    commit: Callable[[DataFrame, list[int]], int],
    fail_after_batches: int | None,
) -> dict:
    """The bucket loop both jobs share: derive each row's bucket,
    persist the input, and hand every batch of not-yet-``done`` buckets
    to ``commit(part, batch)``, which writes the slice, records its
    commit marker and returns the batch's row count.

    The input is computed ONCE per run, not once per batch: a naive
    ``df.where(pid IN batch)`` per batch recomputes the whole upstream
    pipeline buckets/batch_size times (the scan multiplier at 4096
    buckets / batches of 64 = 64 redundant input scans). So the
    bucketed ``make_df`` DataFrame is persisted (memory, spilling to
    disk) on first materialization; later batches read the cache.
    Unpersisted at the end of the run.

    ``fail_after_batches`` injects a crash after N batches (test hook
    for the kill/rerun-identical-output invariant)."""
    df = (
        make_df(spark)
        .withColumn(
            PID_COL,
            F.pmod(F.hash(F.expr(bucket_expr)), F.lit(num_buckets)).cast("int"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    todo = [b for b in range(num_buckets) if b not in done]
    completed: list[int] = []
    total_rows = 0
    try:
        for batch_no, i in enumerate(range(0, len(todo), batch_size)):
            if fail_after_batches is not None and batch_no >= fail_after_batches:
                raise RuntimeError(
                    f"injected failure before batch {batch_no} (test hook)"
                )
            batch = todo[i : i + batch_size]
            total_rows += commit(df.where(F.col(PID_COL).isin(batch)), batch)
            completed.extend(batch)
    finally:
        df.unpersist()
    return {"completed": completed, "skipped": sorted(done), "rows": total_rows}


def run_checkpointed(
    spark: SparkSession,
    make_df: Callable[[SparkSession], DataFrame],
    output_dir: str,
    bucket_expr: str,
    num_buckets: int,
    batch_size: int = 8,
    input_paths: list[str] | None = None,
    transform_label: str = "pipeline",
    lineage_id_col: str | None = None,
    fail_after_batches: int | None = None,
) -> dict:
    """Run ``make_df(spark)`` partitioned into ``num_buckets`` buckets
    of ``bucket_expr`` (a SQL expression over the output columns),
    writing each bucket under ``output_dir/pid=<b>/`` exactly once.

    Already-committed buckets (manifest present) are skipped, so a
    killed run resumes where it stopped and the final output is
    identical to a single uninterrupted run. The input is computed
    once per run (``_run_buckets``).

    ``output_dir`` must be a plain POSIX path: a URI-schemed one
    raises ``ValueError`` (:func:`_require_posix_store`).

    Returns ``{"completed": [...], "skipped": [...], "rows": int}``.
    """
    _require_posix_store(output_dir)

    def commit(part: DataFrame, batch: list[int]) -> int:
        t0 = time.monotonic()
        # lineage fingerprint rides the write as an observation —
        # one pass, no separate aggregation job
        obs = None
        if lineage_id_col is not None:
            obs = Observation()
            part = part.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr(f"bit_xor(xxhash64({lineage_id_col}))").alias("fp"),
            )

        part.write.mode("overwrite").partitionBy(PID_COL).parquet(output_dir)
        wall_s = time.monotonic() - t0
        fingerprint = None
        if obs is not None:
            got = obs.get
            fingerprint = {
                "input_rows": got["n"],
                "id_hash_xor": str(got["fp"]),
            }

        # per-bucket row counts: metadata-only scan of what we
        # wrote. The explicit schema matters on a FRESH output dir
        # whose first batch wrote zero rows (only _SUCCESS, no
        # footers, no partition dirs): schema inference would raise
        # 'Unable to infer schema for Parquet' and wedge the job on
        # that batch forever; with the known schema the scan is
        # simply empty and every bucket records 0 rows.
        counts = {
            r[PID_COL]: r["cnt"]
            for r in spark.read.schema(part.schema)
            .parquet(output_dir)
            .where(F.col(PID_COL).isin(batch))
            .groupBy(PID_COL)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

        os.makedirs(os.path.join(output_dir, MANIFEST_DIR), exist_ok=True)
        rows_total = 0
        for b in batch:
            rows = int(counts.get(b, 0))
            rows_total += rows
            manifest = {
                "pid": b,
                "rows": rows,
                "batch_wall_s": round(wall_s, 4),
                "batch_buckets": batch,
                "lineage": {
                    "transform": transform_label,
                    "inputs": input_paths or [],
                    "bucket_expr": bucket_expr,
                    "num_buckets": num_buckets,
                    "batch_fingerprint": fingerprint,
                },
                "app_id": spark.sparkContext.applicationId,
            }
            # False only if a concurrent run committed the bucket
            # first: its rows are the same deterministic slice
            publish_once(
                _manifest_path(output_dir, b), json.dumps(manifest, indent=1)
            )
        return rows_total

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        return _run_buckets(
            spark, make_df, bucket_expr, num_buckets, batch_size,
            completed_buckets(output_dir), commit, fail_after_batches,
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)


def read_manifests(output_dir: str) -> list[dict]:
    """All committed per-partition manifests, ordered by pid."""
    out = []
    for b in sorted(completed_buckets(output_dir)):
        with open(_manifest_path(output_dir, b)) as f:
            out.append(json.load(f))
    return out


# ---------------------------------------------------------------------------
# Iceberg variant (executable wherever an Iceberg catalog is configured)
# ---------------------------------------------------------------------------

def iceberg_catalog_available(spark: SparkSession, catalog: str) -> bool:
    """True when ``catalog`` is a configured, loadable Iceberg catalog.
    The sandbox has no Iceberg runtime jars, so the smoke test skips;
    the day a catalog exists this returns True and the path below runs
    unmodified."""
    if spark.conf.get(f"spark.sql.catalog.{catalog}", None) is None:
        return False
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:
        return False


def run_checkpointed_iceberg(
    spark: SparkSession,
    make_df: Callable[[SparkSession], DataFrame],
    table: str,
    bucket_expr: str,
    num_buckets: int,
    batch_size: int = 8,
    input_paths: list[str] | None = None,
    transform_label: str = "pipeline",
    fail_after_batches: int | None = None,
) -> dict:
    """The module-docstring Iceberg mapping, executable: the bucket
    loop of ``run_checkpointed`` (``_run_buckets``), but each batch
    commits via ``writeTo(table).overwritePartitions()`` — Iceberg's
    atomic snapshot commit replaces the manifest-as-marker protocol (a
    kill mid-batch leaves the previous snapshot current; nothing to
    clean up). The committed-bucket set is recovered from each
    snapshot's summary properties (the lineage payload rides there
    too, via the public ``snapshot-property.*`` write options), read
    back through the ``<table>.snapshots`` metadata table.

    ``table`` must be an Iceberg identifier (``catalog.db.name``);
    created partitioned-by-pid on first run. Guard calls with
    ``iceberg_catalog_available``."""
    lineage = {
        "transform": transform_label,
        "inputs": input_paths or [],
        "bucket_expr": bucket_expr,
        "num_buckets": num_buckets,
    }
    # per-batch latency lives here (snapshot summaries are immutable
    # post-commit, so wall-clock-to-commit cannot ride the snapshot
    # itself); lineage/buckets/app_id DO ride the snapshot summary and
    # are recoverable via completed_buckets_iceberg / the .snapshots
    # metadata table
    batch_stats: list[dict] = []

    def commit(part: DataFrame, batch: list[int]) -> int:
        t0 = time.monotonic()
        obs = Observation()
        writer = (
            part.observe(obs, F.count(F.lit(1)).alias("n"))
            .writeTo(table)
            .partitionedBy(F.col(PID_COL))
            .option("snapshot-property.job.buckets", json.dumps(batch))
            .option("snapshot-property.job.lineage", json.dumps(lineage))
            .option(
                "snapshot-property.job.app_id",
                spark.sparkContext.applicationId,
            )
        )
        # Existence is checked EXPLICITLY, never inferred from error
        # text: a transient failure whose message happens to contain
        # "not found" must re-raise, not trigger table (re)creation —
        # and creation uses create(), which can never wipe an existing
        # table's committed snapshots the way createOrReplace could.
        if spark.catalog.tableExists(table):
            writer.overwritePartitions()
        else:
            writer.using("iceberg").create()
        rows = obs.get["n"]
        batch_stats.append(
            {
                "buckets": batch,
                "rows": rows,
                "wall_s": round(time.monotonic() - t0, 4),
            }
        )
        return rows

    out = _run_buckets(
        spark, make_df, bucket_expr, num_buckets, batch_size,
        completed_buckets_iceberg(spark, table), commit, fail_after_batches,
    )
    return {**out, "batches": batch_stats}


def completed_buckets_iceberg(spark: SparkSession, table: str) -> set[int]:
    """Committed buckets = union of ``job.buckets`` summary properties
    over all snapshots of ``table`` (empty if the table does not exist
    yet). Existence is checked EXPLICITLY (same contract as the writer
    above): only a missing table/catalog (AnalysisException from
    resolution — incl. the Iceberg runtime being absent entirely)
    degrades to "nothing committed"; a transient network/catalog
    failure reading ``.snapshots`` re-raises instead of silently
    triggering the full-corpus recompute this checkpoint design
    exists to avoid."""
    from pyspark.errors import AnalysisException

    try:
        if not spark.catalog.tableExists(table):
            return set()
    except AnalysisException:
        # unresolvable catalog/namespace (no Iceberg runtime, first
        # run against an uncreated catalog) — first-run semantics
        return set()
    snaps = spark.sql(f"SELECT summary FROM {table}.snapshots").collect()
    done: set[int] = set()
    for r in snaps:
        payload = (r["summary"] or {}).get("job.buckets")
        if payload:
            done.update(json.loads(payload))
    return done
