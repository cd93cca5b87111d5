"""spark-submit entry point for continuous diff maintenance: drain the
pending OSM-style changesets into the versioned derived-table stores —
segment diffs into the TILE store, road diffs into the INFERENCE-result
store — then exit (the availableNow cron shape; leave the scheduler to
re-submit per diff window).

Cluster submission (same --py-files packaging as pipeline_job):

    spark-submit --master <cluster> \
        --py-files osm_legal_default_speeds_spark.zip \
        osm_legal_default_speeds_spark/jobs/maintenance_job.py \
        --seg-changesets /data/diffs/segs --tile-store /data/tiles \
        --road-changesets /data/diffs/roads --results-store /data/results \
        --checkpoint /data/ckpt --tile-res 6

Either side may be omitted to maintain just one table. Each store is a
``streaming/delta_store.py`` store: O(|changeset|) commits, time
travel, base-snapshot compaction every ``--compact-every`` commits,
exactly-once replay from the checkpoint across job restarts/kills.
STORE PATH CONTRACT: the ``--tile-store`` / ``--results-store`` paths
must be POSIX mounts shared between the driver and readers (local disk
in local mode, NFS under cluster submission) that support atomic hard
links — each version's manifest is published write-once by a
driver-local create-if-absent link, and the writer refuses URI-schemed
paths up front (see checkpointed_job's ``_require_posix_store``).
GC/memory notes: see pipeline_job (must go on the submit command)."""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seg-changesets")
    ap.add_argument("--tile-store")
    ap.add_argument("--road-changesets")
    ap.add_argument("--results-store")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--tile-res", type=int, default=6)
    ap.add_argument("--compact-every", type=int, default=16)
    ap.add_argument(
        "--bulk", action="store_true",
        help="changesets are bulk imports: shuffle-join the dirty tile "
        "set instead of broadcasting it",
    )
    args = ap.parse_args(argv)
    if bool(args.seg_changesets) != bool(args.tile_store) or bool(
        args.road_changesets
    ) != bool(args.results_store):
        ap.error(
            "--seg-changesets/--tile-store and "
            "--road-changesets/--results-store come in pairs"
        )
    if not (args.tile_store or args.results_store):
        ap.error("nothing to maintain: pass at least one store pair")

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.appName("osm-speeds-maintenance")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .getOrCreate()
    )

    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        current_version,
    )
    from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
        streaming_inference_maintenance,
    )
    from osm_legal_default_speeds_spark.streaming.tile_maintenance import (
        streaming_tile_maintenance,
    )

    queries = []
    if args.tile_store:
        queries.append(
            streaming_tile_maintenance(
                spark,
                args.seg_changesets,
                os.path.join(args.checkpoint, "tiles"),
                args.tile_store,
                args.tile_res,
                compact_every=args.compact_every,
                broadcast_dirty=not args.bulk,
            )
        )
    if args.results_store:
        ruleset = load_default_ruleset()

        def project(out):
            r = F.col("speed_limit")
            return out.select(
                "road_id",
                "country_code",
                r.getField("road_type_name").alias("road_type_name"),
                r.getField("certitude").alias("certitude"),
                r.getField("tags").alias("result_tags"),
            )

        queries.append(
            streaming_inference_maintenance(
                spark,
                args.road_changesets,
                os.path.join(args.checkpoint, "results"),
                args.results_store,
                ruleset,
                project=project,
                compact_every=args.compact_every,
            )
        )
    for q in queries:
        q.awaitTermination()
    print(
        json.dumps(
            {
                "job": "maintenance",
                "tile_version": (
                    current_version(args.tile_store)
                    if args.tile_store else None
                ),
                "results_version": (
                    current_version(args.results_store)
                    if args.results_store else None
                ),
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
