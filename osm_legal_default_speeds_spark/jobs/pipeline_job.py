"""spark-submit entry point for the flagship pipeline.

Cluster submission (north rule BASELINE.json:14):

    spark-submit --master <cluster> \
        --py-files osm_legal_default_speeds_spark.zip \
        osm_legal_default_speeds_spark/jobs/pipeline_job.py \
        --sf-dir /data/roads --output /data/out \
        --num-buckets 4096 --batch-size 64

The job runs ``flagship_pipeline`` — road rows -> PIP jurisdiction
with nearest-boundary fallback (``resolve_jurisdiction``, two
broadcast cell-index joins) -> tile assignment -> speed-limit
inference over the broadcast-compiled rule set — and writes its six
columns (road_id, region_code, tile_id, road_type_name, certitude,
result_tags) through a resumable bucketed write with per-partition
lineage manifests (plans.checkpointed_job). Re-running after a kill
resumes from the committed buckets; output is identical to an
uninterrupted run.

The master is supplied by spark-submit; this script only `getOrCreate`s
the session and sets sizing-independent SQL confs (AQE on). Build the
--py-files archive with ``build_pyfiles_zip``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import warnings
import zipfile


def build_pyfiles_zip(dest_path: str, package_root: str | None = None) -> str:
    """Zip the package for --py-files distribution (pure-Python, no
    build step). Deterministic member order; skips caches."""
    if package_root is None:
        package_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
    pkg_name = os.path.basename(package_root)
    # guard BEFORE writing: a mis-pointed root would otherwise leave a
    # plausible-looking zip on disk that imports nothing on the cluster
    assert pkg_name == "osm_legal_default_speeds_spark", package_root
    parent = os.path.dirname(package_root)
    with zipfile.ZipFile(dest_path, "w", zipfile.ZIP_DEFLATED) as zf:
        # don't wrap the walk in sorted(): that exhausts the generator
        # BEFORE the in-place dirs[:] prune can steer traversal, so the
        # __pycache__ skip would be dead code; sorting dirs in place
        # gives deterministic member order AND a live prune
        for root, dirs, files in os.walk(package_root):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, parent))
    return dest_path


def load_default_ruleset():
    """The compiled FULL reference ruleset when the dataset file is
    present, else the embedded mini ruleset with a warning naming the
    missing path — the fallback every job entry point and
    ``__spark_entry__.entry`` share (imports stay lazy so --py-files
    resolution happens on the cluster, not at module import)."""
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        mini_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.rules_compiler import (
        compile_ruleset,
    )
    from osm_legal_default_speeds_spark.sources.rules_json import (
        REFERENCE_DATASET_PATH,
        load_rules_json,
    )

    if os.path.exists(REFERENCE_DATASET_PATH):
        _, road_types, speed_limits, _ = load_rules_json(
            REFERENCE_DATASET_PATH
        )
        return compile_ruleset(road_types, speed_limits)
    warnings.warn(
        "rule dataset not found at REFERENCE_DATASET_PATH "
        f"({REFERENCE_DATASET_PATH}); falling back to the embedded "
        "mini rule set",
        stacklevel=2,
    )
    return mini_ruleset()


def flagship_pipeline(roads, ruleset, boundaries, tile_res: int = 7):
    """The flagship lookup on ``roads`` (road_id, tags, lon, lat): the
    road's jurisdiction (PIP, else nearest boundary), its tile, then the
    native rule cascade for that jurisdiction. Returns road_id,
    region_code, tile_id and the result's road_type_name, certitude and
    result_tags. The one definition ``__spark_entry__.entry``, this job
    and ``bench.py`` share."""
    from pyspark.sql import functions as F

    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_tiles,
        resolve_jurisdiction,
    )
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    located = assign_tiles(
        resolve_jurisdiction(roads, boundaries), tile_res=tile_res
    )
    out = infer_speed_limits_native(located, ruleset, country_col="region_code")
    result = F.col("speed_limit")
    return out.select(
        "road_id",
        "region_code",
        "tile_id",
        result.getField("road_type_name").alias("road_type_name"),
        result.getField("certitude").alias("certitude"),
        result.getField("tags").alias("result_tags"),
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--batch-size", type=int, default=8)
    ap.add_argument("--tile-res", type=int, default=7)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("osm-speeds-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # see bench.py make_spark: fall back from whole-stage codegen
        # when the fused method would exceed the JIT's bytecode limit
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .getOrCreate()
    )
    # NOTE: GC and memory must be configured on the spark-submit command
    # (e.g. --conf spark.executor.extraJavaOptions=-XX:+UseParallelGC,
    # --driver-memory): by the time this builder runs the JVMs are up
    # and such settings would be silently ignored. JDK17's default G1
    # halves per-executor throughput on this engine's allocation-heavy
    # codegen pipelines at ~32 concurrent tasks — see BENCH/BASELINE.md.

    # imports resolved from the --py-files zip on executors and driver
    from osm_legal_default_speeds_spark.plans.checkpointed_job import (
        run_checkpointed,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )

    ruleset = load_default_ruleset()
    boundaries = synth_boundaries()

    def pipeline(spark):
        return flagship_pipeline(
            _roads_df(spark, args.sf_dir), ruleset, boundaries,
            tile_res=args.tile_res,
        )

    summary = run_checkpointed(
        spark,
        pipeline,
        args.output,
        bucket_expr="tile_id",
        num_buckets=args.num_buckets,
        batch_size=args.batch_size,
        input_paths=[args.sf_dir],
        transform_label="flagship_pipeline",
        lineage_id_col="road_id",
    )
    print(json.dumps({"job": "pipeline", **summary}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
