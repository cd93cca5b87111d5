"""Resumable partitioned job: kill/rerun must produce identical output,
manifests must carry per-partition lineage + metrics, and completed
partitions must be skipped on resume (BASELINE.json north_rule)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.plans.checkpointed_job import (
    MANIFEST_DIR,
    completed_buckets,
    read_manifests,
    run_checkpointed,
)

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata missing"
)

NUM_BUCKETS = 8


def _pipeline(spark):
    """Small deterministic stand-in for the flagship pipeline: tile
    assignment over derived road rows."""
    from osm_legal_default_speeds_spark.operators.spatial import assign_tiles
    from osm_legal_default_speeds_spark.plans.driver_queries import _roads_df

    roads = _roads_df(spark, SF_DIR).select("road_id", "lon", "lat")
    return assign_tiles(roads, tile_res=6)


def _collect_output(spark, out_dir):
    df = spark.read.parquet(out_dir)
    return sorted(
        (r["road_id"], r["tile_id"], r["pid"]) for r in df.collect()
    )


def test_full_run_writes_all_manifests(spark, tmp_path):
    out = str(tmp_path / "full")
    res = run_checkpointed(
        spark,
        _pipeline,
        out,
        bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS,
        batch_size=3,
        input_paths=[f"{SF_DIR}/orders.parquet"],
        transform_label="tile_assign",
        lineage_id_col="road_id",
    )
    assert sorted(res["completed"]) == list(range(NUM_BUCKETS))
    assert res["skipped"] == []
    manifests = read_manifests(out)
    assert len(manifests) == NUM_BUCKETS
    total = sum(m["rows"] for m in manifests)
    assert total == res["rows"] > 0
    for m in manifests:
        assert m["batch_wall_s"] > 0
        assert m["lineage"]["transform"] == "tile_assign"
        assert m["lineage"]["inputs"] == [f"{SF_DIR}/orders.parquet"]
        assert m["lineage"]["batch_fingerprint"]["input_rows"] > 0
        assert m["app_id"]


def test_kill_and_resume_identical_output(spark, tmp_path):
    ref_dir = str(tmp_path / "ref")
    run_checkpointed(
        spark, _pipeline, ref_dir, "tile_id", NUM_BUCKETS, batch_size=3
    )
    expected = _collect_output(spark, ref_dir)

    # killed run: crashes after the first batch of 3 buckets
    out = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(
            spark, _pipeline, out, "tile_id", NUM_BUCKETS,
            batch_size=3, fail_after_batches=1,
        )
    first = completed_buckets(out)
    assert len(first) == 3

    # resume: completes the rest, skips the committed buckets
    res = run_checkpointed(
        spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=3
    )
    assert sorted(res["skipped"]) == sorted(first)
    assert sorted(res["completed"]) == sorted(
        set(range(NUM_BUCKETS)) - first
    )
    assert _collect_output(spark, out) == expected


def test_resume_on_complete_dir_is_noop(spark, tmp_path):
    out = str(tmp_path / "noop")
    run_checkpointed(spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=8)
    res = run_checkpointed(
        spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=8
    )
    assert res["completed"] == []
    assert sorted(res["skipped"]) == list(range(NUM_BUCKETS))
    assert res["rows"] == 0


def test_uri_schemed_output_dir_refused(spark, tmp_path, monkeypatch):
    """A ``file://`` output_dir would split the output: Spark writes the
    parquet to the path, while the driver-local manifest publish would
    create a relative ``file:/...`` directory in the working directory,
    which a rerun from there reads as every bucket committed. The path
    is refused before the input is built or any Spark job runs."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = f"file://{tmp_path}/out"
    built = []

    def make_df(s):
        built.append(True)
        return _pipeline(s)

    with pytest.raises(ValueError, match="URI scheme") as err:
        run_checkpointed(spark, make_df, out, "tile_id", NUM_BUCKETS)
    assert out in str(err.value)
    assert built == []
    assert not (tmp_path / "out").exists()
    assert os.listdir(cwd) == []


def test_data_without_manifest_is_reprocessed(spark, tmp_path):
    """Manifest presence is the commit marker: deleting a manifest (the
    crash-between-write-and-commit case) forces reprocessing of exactly
    that bucket, and output stays identical."""
    out = str(tmp_path / "torn")
    run_checkpointed(spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=8)
    expected = _collect_output(spark, out)
    os.remove(os.path.join(out, MANIFEST_DIR, "pid-5.json"))

    res = run_checkpointed(
        spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=8
    )
    assert res["completed"] == [5]
    assert _collect_output(spark, out) == expected


def test_crash_before_manifest_publish_resumes_identically(
    spark, tmp_path, monkeypatch
):
    """A kill after a batch's data write, between two of its manifest
    publishes: the published bucket stays committed, the rest of the
    batch is re-processed on resume, and the output equals an
    uninterrupted run's."""
    from osm_legal_default_speeds_spark.plans import checkpointed_job

    ref_dir = str(tmp_path / "ref")
    run_checkpointed(
        spark, _pipeline, ref_dir, "tile_id", NUM_BUCKETS, batch_size=3
    )
    expected = _collect_output(spark, ref_dir)

    real = checkpointed_job.publish_once
    calls = []

    def publish(path, text):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("injected crash before the publish")
        return real(path, text)

    out = str(tmp_path / "crashed")
    monkeypatch.setattr(checkpointed_job, "publish_once", publish)
    with pytest.raises(RuntimeError, match="injected crash"):
        run_checkpointed(
            spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=3
        )
    monkeypatch.undo()
    first = completed_buckets(out)
    assert len(first) == 1

    res = run_checkpointed(
        spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=3
    )
    assert sorted(res["skipped"]) == sorted(first)
    assert sorted(res["completed"]) == sorted(
        set(range(NUM_BUCKETS)) - first
    )
    assert _collect_output(spark, out) == expected


def test_manifest_json_shape(spark, tmp_path):
    out = str(tmp_path / "shape")
    run_checkpointed(
        spark, _pipeline, out, "tile_id", num_buckets=4, batch_size=2,
        lineage_id_col="road_id",
    )
    with open(os.path.join(out, MANIFEST_DIR, "pid-0.json")) as f:
        m = json.load(f)
    assert set(m) == {
        "pid", "rows", "batch_wall_s", "batch_buckets", "lineage", "app_id"
    }
    assert m["lineage"]["num_buckets"] == 4


def test_output_layout_supports_partition_pruning(spark, tmp_path):
    """The pid=<bucket> hive layout must let Spark prune partitions on
    a bucket filter: reading one bucket touches one directory (the
    Iceberg-style read path at 10^12 rows: tile-bucket predicates never
    scan the full table)."""
    out = str(tmp_path / "pruned")
    run_checkpointed(spark, _pipeline, out, "tile_id", NUM_BUCKETS, batch_size=8)

    df = spark.read.parquet(out).where(F.col("pid") == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pid predicate must reach the scan as a PartitionFilter (a
    # post-scan Filter node would mean the full table is read)
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2 and "pid" in pf[1][:80], plan
    # and the pruned read returns exactly the bucket-3 rows
    full = spark.read.parquet(out)
    assert df.count() == full.where(F.col("pid") == 3).count() > 0
    manifests = {m["pid"]: m["rows"] for m in read_manifests(out)}
    assert df.count() == manifests[3]


def test_input_scanned_once_per_run(spark, tmp_path):
    """The upstream pipeline must not be recomputed per batch: with the
    persisted-input plan, a per-row accumulator fires once per input
    row for the whole run, not once per batch (the re-scan multiplier
    flagged in round 1)."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(v):
        acc.add(1)
        return v

    def make_df(spark_):
        from osm_legal_default_speeds_spark.operators.spatial import (
            assign_tiles,
        )
        from osm_legal_default_speeds_spark.plans.driver_queries import (
            _roads_df,
        )

        roads = _roads_df(spark_, SF_DIR).select("road_id", "lon", "lat")
        roads = roads.withColumn("road_id", counted(F.col("road_id")))
        return assign_tiles(roads, tile_res=6)

    out = str(tmp_path / "scan_once")
    res = run_checkpointed(
        spark,
        make_df,
        out,
        bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS,
        batch_size=2,  # 4 batches — naive plan would scan 4x
        lineage_id_col="road_id",
    )
    n_input = spark.read.parquet(f"{SF_DIR}/orders.parquet").count()
    assert res["rows"] == n_input
    # speculative/failed task retries could add a handful; 1.5x margin
    # still cleanly distinguishes 1 scan from 4
    assert n_input <= acc.value < int(n_input * 1.5), acc.value


def test_iceberg_commit_runs_the_shared_bucket_loop(spark, monkeypatch):
    """The Iceberg job without Iceberg jars: ``writeTo`` is faked by a
    writer whose commit runs a noop write of the batch, and the table's
    existence and snapshot read-back are stubbed from what it commits.
    The first batch creates the table and later ones overwrite
    partitions, each snapshot carries the job's properties, a resume
    skips the recorded buckets, and the input is computed once per run
    (the parquet job's persisted input)."""
    from pyspark.sql.catalog import Catalog

    from osm_legal_default_speeds_spark.plans import checkpointed_job

    table = "cat.db.ckpt"
    snapshots: list[dict] = []

    class FakeWriter:
        def __init__(self, df):
            self.df = df
            self.props = {}

        def partitionedBy(self, *cols):
            return self

        def option(self, key, value):
            self.props[key] = value
            return self

        def using(self, provider):
            assert provider == "iceberg"
            return self

        def _commit(self, op):
            self.df.write.format("noop").mode("overwrite").save()
            snapshots.append({"op": op, **self.props})

        def create(self):
            self._commit("create")

        def overwritePartitions(self):
            self._commit("overwritePartitions")

    def committed(spark_, table_):
        assert table_ == table
        return {
            b
            for snap in snapshots
            for b in json.loads(snap["snapshot-property.job.buckets"])
        }

    # the session's concrete DataFrame class defines its own writeTo
    monkeypatch.setattr(
        type(spark.range(1)), "writeTo", lambda df, t: FakeWriter(df)
    )
    monkeypatch.setattr(
        Catalog, "tableExists", lambda self, t, dbName=None: bool(snapshots)
    )
    monkeypatch.setattr(checkpointed_job, "completed_buckets_iceberg", committed)

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(v):
        acc.add(1)
        return v

    def make_df(s):
        # the bucket key reads the counted column, so no filter on it
        # can run before the count
        ids = s.range(0, 200, 1, 4).select(counted(F.col("id")).alias("id"))
        return ids.withColumn("tile_id", F.col("id") * 3)

    kw = dict(
        bucket_expr="tile_id", num_buckets=NUM_BUCKETS, batch_size=2,
        input_paths=["in.parquet"], transform_label="tiles",
    )
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpointed_job.run_checkpointed_iceberg(
            spark, make_df, table, fail_after_batches=2, **kw
        )
    first = committed(spark, table)
    assert len(first) == 4
    assert [snap["op"] for snap in snapshots] == ["create", "overwritePartitions"]

    acc.value = 0
    res = checkpointed_job.run_checkpointed_iceberg(spark, make_df, table, **kw)
    assert res["skipped"] == sorted(first)
    assert sorted(res["completed"]) == sorted(set(range(NUM_BUCKETS)) - first)
    assert committed(spark, table) == set(range(NUM_BUCKETS))
    assert [snap["op"] for snap in snapshots[2:]] == ["overwritePartitions"] * 2
    assert [b["buckets"] for b in res["batches"]] == [
        json.loads(snap["snapshot-property.job.buckets"]) for snap in snapshots[2:]
    ]
    for snap in snapshots:
        assert json.loads(snap["snapshot-property.job.lineage"]) == {
            "transform": "tiles", "inputs": ["in.parquet"],
            "bucket_expr": "tile_id", "num_buckets": NUM_BUCKETS,
        }
        assert snap["snapshot-property.job.app_id"] == (
            spark.sparkContext.applicationId
        )
    # the resumed run wrote every row of its buckets once: 2 batches
    # over one computation of the 200 input rows, not one per batch
    assert 0 < res["rows"] < 200
    assert 200 <= acc.value < 300, acc.value


def test_iceberg_smoke_or_skip(spark, tmp_path):
    """Executable Iceberg twin of the manifest-protocol job: runs the
    full write/resume cycle when an Iceberg catalog is configured
    (feature-gated — this sandbox has no Iceberg runtime, so the test
    SKIPS, but the path is the one that runs the day a catalog
    exists)."""
    import pytest as _pytest

    from osm_legal_default_speeds_spark.plans.checkpointed_job import (
        completed_buckets_iceberg,
        iceberg_catalog_available,
        run_checkpointed_iceberg,
    )

    catalog = "graft_ci"
    if not iceberg_catalog_available(spark, catalog):
        _pytest.skip("no Iceberg catalog configured in this environment")

    table = f"{catalog}.db.ckpt_smoke"
    make_df = lambda s: s.range(100).select(  # noqa: E731
        F.col("id"), (F.col("id") * 3).alias("tile_id")
    )
    out = run_checkpointed_iceberg(
        spark, make_df, table, "tile_id", num_buckets=4, batch_size=2
    )
    assert sorted(out["completed"]) == [0, 1, 2, 3]
    assert completed_buckets_iceberg(spark, table) == {0, 1, 2, 3}
    # resume is a no-op
    again = run_checkpointed_iceberg(
        spark, make_df, table, "tile_id", num_buckets=4, batch_size=2
    )
    assert again["completed"] == [] and again["skipped"] == [0, 1, 2, 3]


def test_completed_buckets_iceberg_empty_without_catalog(spark):
    """The snapshot read-back degrades to 'nothing committed' when the
    table (or the whole Iceberg runtime) is absent — first-run
    semantics, not an error."""
    from osm_legal_default_speeds_spark.plans.checkpointed_job import (
        completed_buckets_iceberg,
    )

    assert completed_buckets_iceberg(spark, "no_catalog.db.no_table") == set()


def test_checkpointed_image_job_payload_integrity(spark, tmp_path):
    """The north-rule sentence end-to-end over the IMAGE table:
    image+caption rows are geo-tagged, jurisdiction-resolved (PIP with
    kNN fallback), tile-assigned, and written per-tile-bucket with
    manifests; a mid-run crash resumes to output identical to an
    uninterrupted run, and every resumed row still satisfies the
    per-row payload invariant (lossless exact / PSNR >= 40 dB, caption
    equality) after its round-trip through the partitioned sink."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_cell,
        resolve_jurisdiction,
    )
    from osm_legal_default_speeds_spark.payload.images import (
        decode_and_verify,
        images_from_ids,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        synth_boundaries,
    )

    def make_df(s):
        ids = s.range(0, 192, 1, 4).select(F.col("id"))
        imgs = images_from_ids(ids)
        idc = F.substring("image_id", 5, 19).cast("long")
        tagged = imgs.select(
            "image_id", "bytes", "w", "h", "fmt", "caption",
            ((idc * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
            ((idc * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
        )
        return resolve_jurisdiction(tagged, synth_boundaries()).withColumn(
            "tile_id", grid_cell(F.col("lon"), F.col("lat"), 4)
        )

    out1 = str(tmp_path / "once")
    run_checkpointed(
        spark, make_df, out1, bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS, batch_size=3,
    )

    out2 = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError):
        run_checkpointed(
            spark, make_df, out2, bucket_expr="tile_id",
            num_buckets=NUM_BUCKETS, batch_size=3, fail_after_batches=1,
        )
    res = run_checkpointed(
        spark, make_df, out2, bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS, batch_size=3,
    )
    assert res["skipped"], "the crashed run must have committed batches"

    def snap(d):
        df = spark.read.parquet(d)
        return sorted(
            (
                r["image_id"], bytes(r["bytes"]), r["caption"],
                r["region_code"], r["tile_id"],
            )
            for r in df.collect()
        )

    assert snap(out1) == snap(out2)

    # manifests carry the full row count across partitions
    total = sum(m["rows"] for m in read_manifests(out2))
    assert total == 192

    v = decode_and_verify(
        spark.read.parquet(out2).select(
            "image_id", "bytes", "w", "h", "fmt", "caption"
        )
    )
    assert v.where(~F.col("pixels_ok") | ~F.col("caption_ok")).count() == 0


def test_empty_first_batch_makes_progress(spark, tmp_path):
    """A fresh output dir whose first batch writes ZERO rows (empty
    input, or every row hashing to later buckets) must still commit
    its manifests: without an explicit schema the row-count read-back
    would raise 'Unable to infer schema for Parquet' on the footerless
    directory and wedge the job on batch 0 forever."""

    def empty_pipeline(s):
        from osm_legal_default_speeds_spark.operators.spatial import (
            assign_tiles,
        )
        from osm_legal_default_speeds_spark.plans.driver_queries import (
            _roads_df,
        )

        roads = _roads_df(s, SF_DIR).select("road_id", "lon", "lat")
        return assign_tiles(roads, tile_res=6).where(F.lit(False))

    out = str(tmp_path / "empty")
    res = run_checkpointed(
        spark,
        empty_pipeline,
        out,
        bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS,
        batch_size=3,
        transform_label="empty",
        lineage_id_col="road_id",
    )
    assert sorted(res["completed"]) == list(range(NUM_BUCKETS))
    assert res["rows"] == 0
    manifests = read_manifests(out)
    assert len(manifests) == NUM_BUCKETS
    assert all(m["rows"] == 0 for m in manifests)

    # and a resume over the completed-but-empty dir is a clean no-op
    res2 = run_checkpointed(
        spark,
        empty_pipeline,
        out,
        bucket_expr="tile_id",
        num_buckets=NUM_BUCKETS,
        batch_size=3,
        transform_label="empty",
        lineage_id_col="road_id",
    )
    assert res2["completed"] == []
    assert sorted(res2["skipped"]) == list(range(NUM_BUCKETS))
