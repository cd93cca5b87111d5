"""The benchmark's workloads. Each one generates its inputs from the seed
(untimed), builds what it can once per session, and then runs one
closed-loop client: the next op starts when the previous one ends.

Package functions are always called through their module object, so a
traced run can swap them for span-recording wrappers.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import time

import numpy as np
import pandas as pd

import inputs
import oracle
import rulegen

from pyspark.sql import functions as F
from pyspark.sql import Observation

from osm_legal_default_speeds_spark.operators import spatial
from osm_legal_default_speeds_spark.payload import images
from osm_legal_default_speeds_spark.plans import (
    checkpointed_job,
    native_cascade,
    reference_engine,
    rules_compiler,
)
from osm_legal_default_speeds_spark.sources import rules_json

CERTITUDES = ("Exact", "FromMaxSpeed", "Fuzzy", "Fallback")
# layer of the spans around the benchmark's own checks inside an op
CHECK_LAYER = "perfbench.check"


def certitude_counts(df) -> dict:
    """Run ``df`` into a noop sink; return its row count and how many
    rows have each certitude."""
    obs = Observation()
    c = F.col("certitude")
    aggs = [F.count(F.lit(1)).alias("rows")] + [
        F.sum((c == k).cast("long")).alias(k) for k in CERTITUDES
    ]
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    got = obs.get
    return {k: int(got[k] or 0) for k in ("rows",) + CERTITUDES}


class OpResult:
    """One op's outcome: rows processed, its time, and the mismatches
    its checks found."""

    def __init__(self, units: int, op_s: float, errors: list[str]):
        self.units = units
        self.op_s = op_s
        self.errors = errors


class Workload:
    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.info: dict = {}
        self.setup_parts: dict[str, float] = {}
        # a traced run swaps in Tracer.span, so actions the benchmark
        # itself starts are charged to the layer whose plan they run
        self.span = lambda name, layer: contextlib.nullcontext()

    def prepare(self, spark) -> None:
        """Generate inputs; untimed."""

    def build(self, spark) -> None:
        """Per-session work before the first op: rule load and compile,
        plan build. Sub-timings go to ``setup_parts``."""

    def op(self, spark, i: int, deep: bool) -> OpResult:
        """One op; ``deep`` adds the expensive oracle comparison."""
        raise NotImplementedError

    def _timed(self, key: str, fn):
        t0 = time.monotonic()
        out = fn()
        self.setup_parts[key] = time.monotonic() - t0
        return out


# --------------------------------------------------------------------------
# flagship_batch
# --------------------------------------------------------------------------

class FlagshipBatch(Workload):
    """Roads -> PIP jurisdiction -> kNN fallback -> tiles -> native rule
    cascade -> resumable bucketed write, the production batch job."""

    name = "flagship_batch"
    WORLD_SEED = 0
    N_ROADS = 50_000
    FILES = 16
    TILE_RES = 7
    INDEX_RES = 6
    NUM_BUCKETS = 16
    BATCH_SIZE = 8
    SAMPLE = 300

    def prepare(self, spark) -> None:
        # one rule set and one world, as in a deployment; the seed
        # draws the roads
        self.rules_path = os.path.join(self.work, "rules.json")
        self.info["ruleset"] = rulegen.write(self.WORLD_SEED, self.rules_path)
        with open(self.rules_path) as fh:
            codes = list(json.load(fh)["speedLimitsByCountryCode"])
        self.bounds = inputs.world(self.WORLD_SEED, codes)
        self.roads = inputs.roads(self.seed, self.N_ROADS, self.bounds)
        self.roads_path = os.path.join(self.work, "roads")
        checksum = inputs.write_parquet(
            self.roads, inputs.ROADS_SCHEMA, self.roads_path, self.FILES
        )
        self.expected_region, self.knn_mask = oracle.regions(
            self.bounds, self.roads["lon"], self.roads["lat"]
        )
        self.info["inputs"] = {
            "roads": self.N_ROADS, "roads_sha": checksum,
            "boundaries": len(self.bounds),
            "knn_fallback_ratio": float(self.knn_mask.mean()),
        }
        self.expected_counts: dict | None = None
        rng = random.Random(f"sample-{self.seed}")
        self.sample_ids = sorted(rng.sample(range(self.N_ROADS), self.SAMPLE))

    def build(self, spark) -> None:
        _, road_types, limits, _ = self._timed(
            "sources.rules_json.load_s",
            lambda: rules_json.load_rules_json(self.rules_path),
        )
        self.ruleset = self._timed(
            "plans.rules_compiler.compile_s",
            lambda: rules_compiler.compile_ruleset(road_types, limits),
        )
        self.engine = reference_engine.LegalDefaultSpeedsEngine(ruleset=self.ruleset)
        boundaries = [spatial.RectBoundary(*b) for b in self.bounds]
        self.located = self.locate(spark.read.parquet(self.roads_path), boundaries)
        t0 = time.monotonic()
        self.df = self.infer(self.located)
        self.df._jdf.queryExecution().executedPlan()
        self.setup_parts["plans.native_cascade.plan_s"] = time.monotonic() - t0

    def locate(self, roads, boundaries):
        """PIP, else the nearest boundary, then tiles. ``jobs.pipeline_job``
        resolves the region with ``pip_region_column`` and
        ``knn_region_column``, one expression branch per boundary; over
        this world's 250 boundaries that plan takes 10 s to build, its
        generated code fails to compile and an op over 50,000 roads takes
        12.6 s on a 4-vCPU host, against 3.6 s here: a run took 140 s of
        the 180 s it may take. The indexed operators are used instead, at
        the index resolution their other callers use; they give the same
        regions."""
        located = spatial.assign_jurisdiction(roads, boundaries, index_res=self.INDEX_RES)
        located = spatial.knn_assign_via_index(
            located, boundaries, out_col="nearest_region", index_res=self.INDEX_RES
        )
        located = located.withColumn(
            "region_code", F.coalesce("region_code", "nearest_region")
        ).drop("nearest_region")
        return spatial.assign_tiles(located, tile_res=self.TILE_RES)

    def infer(self, located):
        out = native_cascade.infer_speed_limits_native(
            located, self.ruleset, country_col="region_code"
        )
        r = F.col("speed_limit")
        return out.select(
            "road_id", "region_code", "tile_id",
            r.getField("road_type_name").alias("road_type_name"),
            r.getField("certitude").alias("certitude"),
            r.getField("tags").alias("result_tags"),
        )

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, "out", f"op-{i}")

    def commit(self, spark, i: int, make_df=None) -> dict:
        make_df = make_df or (lambda _s: self.df)
        return checkpointed_job.run_checkpointed(
            spark, make_df, self.out_dir(i),
            bucket_expr="tile_id", num_buckets=self.NUM_BUCKETS,
            batch_size=self.BATCH_SIZE, input_paths=[self.roads_path],
            transform_label="flagship_pipeline", lineage_id_col="road_id",
        )

    def op(self, spark, i: int, deep: bool) -> OpResult:
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        t0 = time.monotonic()
        summary = self.commit(spark, i)
        op_s = time.monotonic() - t0
        with self.span("perfbench.read_back", CHECK_LAYER):
            counts = self.read_back(spark, i)
        errors = []
        if summary["rows"] != self.N_ROADS or counts["rows"] != self.N_ROADS:
            errors.append(f"rows {summary['rows']}/{counts['rows']} != {self.N_ROADS}")
        if self.expected_counts is None:
            self.expected_counts = counts
        elif counts != self.expected_counts:
            errors.append(f"output counts {counts} != {self.expected_counts}")
        if deep:
            with self.span("perfbench.check_sample", CHECK_LAYER):
                errors += self.check_sample(spark, i)
        return OpResult(self.N_ROADS, op_s, errors)

    def read_back(self, spark, i: int) -> dict:
        """Read the committed table back: row count and certitude mix."""
        return certitude_counts(spark.read.parquet(self.out_dir(i)))

    def check_sample(self, spark, i: int) -> list[str]:
        """Compare a seeded sample of output rows with the reference
        engine and the driver-side spatial oracle."""
        rows = (
            spark.read.parquet(self.out_dir(i))
            .where(F.col("road_id").isin(self.sample_ids))
            .collect()
        )
        errors = []
        if len(rows) != len(self.sample_ids):
            errors.append(f"sample: {len(rows)} rows for {len(self.sample_ids)} ids")
        for row in rows:
            k = row["road_id"]
            want = oracle.flagship_row(
                self.engine, self.expected_region[k], dict(self.roads["tags"][k]),
                float(self.roads["lon"][k]), float(self.roads["lat"][k]), self.TILE_RES,
            )
            got = {
                "region_code": row["region_code"], "tile_id": row["tile_id"],
                "road_type_name": row["road_type_name"], "certitude": row["certitude"],
                "result_tags": None if row["result_tags"] is None else dict(row["result_tags"]),
            }
            if got != want:
                errors.append(f"road {k}: got {got} want {want}")
        return errors[:5]

    def counts_info(self) -> dict:
        return dict(self.expected_counts or {})


# --------------------------------------------------------------------------
# image_curation
# --------------------------------------------------------------------------

class ImageCuration(Workload):
    """Image+caption table -> decode_and_verify -> drop_near_dup_images ->
    write of the curated table. The only workload with Python workers."""

    name = "image_curation"
    N_IMAGES = 1000
    N_CLUSTERS = 25
    LARGEST_CLUSTER = 100
    MAX_HAMMING = 2
    BAND_BITS = 16
    PARTS = 8

    def prepare(self, spark) -> None:
        first = (self.seed % 1000) * self.N_IMAGES
        base = images.images_from_ids(
            spark.range(first, first + self.N_IMAGES, 1, self.PARTS)
        ).toPandas()
        # planted near-duplicate clusters of Zipf-skewed size: copies of
        # a source image's bytes under fresh ids
        rng = np.random.default_rng([self.seed, 29])
        sizes = np.maximum(
            1, (self.LARGEST_CLUSTER / np.arange(1, self.N_CLUSTERS + 1) ** 1.2).astype(int)
        )
        srcs = rng.choice(self.N_IMAGES, size=self.N_CLUSTERS, replace=False)
        nid = 1_000_000 + first
        copies = []
        for src, k in zip(srcs.tolist(), sizes.tolist()):
            dup = base.iloc[[src] * k].copy()
            ids = copy_ids(int(base["image_id"].iloc[src][4:]), nid, k)
            dup["image_id"] = [f"img-{i}" for i in ids]
            nid = ids[-1] + 1
            copies.append(dup)
        meta = pd.concat([base, *copies], ignore_index=True)
        meta = meta.sample(frac=1.0, random_state=self.seed % (2**32)).reset_index(drop=True)
        self.path = os.path.join(self.work, "images")
        checksum = inputs.write_parquet(
            {c: meta[c].tolist() for c in meta.columns},
            inputs.IMAGES_SCHEMA, self.path, self.PARTS,
        )
        self.n_rows = len(meta)
        # verify checks pixels and caption against those generated from
        # the image_id: the base images pass both checks, and copy_ids
        # makes every planted copy fail both
        self.expected = {
            "rows": self.n_rows, "pixels_ok": self.N_IMAGES, "caption_ok": self.N_IMAGES,
        }
        comp = oracle.near_dup_components(meta["phash"].tolist(), self.MAX_HAMMING)
        self.expected["kept"] = comp["kept"]
        self.info["inputs"] = {
            "images": self.n_rows, "base_images": self.N_IMAGES,
            "planted": int(sizes.sum()), "largest_planted_cluster": int(sizes.max()),
            "largest_cluster": comp["largest"], "images_sha": checksum,
        }

    def build(self, spark) -> None:
        self.images_df = spark.read.parquet(self.path)

    def out_dir(self) -> str:
        return os.path.join(self.work, "curated")

    def verify(self) -> dict:
        v = images.decode_and_verify(self.images_df).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("pixels_ok").cast("long")).alias("pixels_ok"),
            F.sum(F.col("caption_ok").cast("long")).alias("caption_ok"),
        )
        with self.span("payload.images.verify_collect", "payload.images"):
            row = v.collect()[0]
        return {k: int(row[k]) for k in ("rows", "pixels_ok", "caption_ok")}

    def curate(self) -> None:
        curated = images.drop_near_dup_images(
            self.images_df, max_hamming=self.MAX_HAMMING, band_bits=self.BAND_BITS
        )
        with self.span("payload.images.curated_write", "payload.images"):
            curated.write.mode("overwrite").parquet(self.out_dir())

    def op(self, spark, i: int, deep: bool) -> OpResult:
        t0 = time.monotonic()
        got = self.verify()
        self.curate()
        op_s = time.monotonic() - t0
        with self.span("perfbench.read_back", CHECK_LAYER):
            got["kept"] = self.read_back(spark)
        errors = [] if got == self.expected else [f"image counts {got} != {self.expected}"]
        return OpResult(self.n_rows, op_s, errors)

    def read_back(self, spark) -> int:
        obs = Observation()
        spark.read.parquet(self.out_dir()).observe(
            obs, F.count(F.lit(1)).alias("kept")
        ).write.format("noop").mode("overwrite").save()
        return int(obs.get["kept"])

    def counts_info(self) -> dict:
        return dict(self.expected)


def copy_ids(src: int, start: int, k: int) -> list[int]:
    """``k`` fresh ids from ``start`` on for copies of image ``src``.
    Captions repeat with the id modulo 210 (7 x 6 x 5 words) and the
    pixel texture is seeded by 31 x id modulo 256, so an id is skipped
    where the caption would repeat the source's or the texture would
    shift by fewer than 16 of 256 levels: a copy then fails the caption
    check and, lossy or not, the pixel check."""
    out, nid = [], start
    while len(out) < k:
        shift = (nid - src) * 31 % 256
        if (nid - src) % 210 and 16 <= shift <= 240:
            out.append(nid)
        nid += 1
    return out


WORKLOADS = {w.name: w for w in (FlagshipBatch, ImageCuration)}
