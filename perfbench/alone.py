"""The traced run's per-layer part: every layer of every workload timed
alone on pre-materialised inputs, under its own span and job group.

Plans are built outside the spans, so a span holds the layer's
execution; driver plan-build time is measured in set-up instead. The
inputs each layer reads are the previous layer's outputs written to
parquet beforehand (the cascade runs over already-located rows, the
bucketed write over already-inferred rows, connected components over
already-found pairs).
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import Observation
from pyspark.sql import functions as F

import trace
import workloads
from osm_legal_default_speeds_spark.operators import dedup, spatial
from osm_legal_default_speeds_spark.payload import images
from osm_legal_default_speeds_spark.plans import checkpointed_job, native_cascade, rules_compiler
from osm_legal_default_speeds_spark.sources import rules_json

# public calls wrapped in spans during traced ops
TRACED_CALLS = (
    (rules_json, ("load_rules_json",)),
    (rules_compiler, ("compile_ruleset",)),
    (spatial, ("assign_jurisdiction", "knn_assign_via_index", "assign_tiles")),
    (native_cascade, ("infer_speed_limits_native",)),
    (checkpointed_job, ("run_checkpointed",)),
    (images, ("decode_and_verify", "drop_near_dup_images", "phash_near_dup_pairs")),
    (dedup, ("connected_components",)),
)

EXEC_LAYERS = (
    "operators.spatial", "plans.native_cascade", "plans.checkpointed_job",
    "payload.images", "operators.dedup",
)
GENERIC = {
    "wall_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "tasks_failed": "count", "task_skew": "ratio",
}
SPECIFIC = {
    "sources.rules_json.load_s": "s",
    "plans.rules_compiler.compile_s": "s",
    "plans.native_cascade.plan_s": "s",
    "operators.spatial.knn_fallback_ratio": "ratio",
    "plans.native_cascade.match_ratio": "ratio",
    "plans.native_cascade.certitude.exact": "count",
    "plans.native_cascade.certitude.from_max_speed": "count",
    "plans.native_cascade.certitude.fuzzy": "count",
    "plans.native_cascade.certitude.fallback": "count",
    "plans.checkpointed_job.bytes_per_row": "bytes",
    "payload.images.verify_s": "s",
    "payload.images.python_cpu_s": "s",
    "payload.images.near_dup_s": "s",
    "payload.images.candidate_pairs": "count",
    "payload.images.pairs_kept": "count",
    "payload.images.largest_bucket": "count",
    "operators.dedup.cc_s": "s",
}
REPS = 2
UNITS = {f"{layer}.{k}": u for layer in EXEC_LAYERS for k, u in GENERIC.items()}
UNITS.update(SPECIFIC)

_CERT_KEYS = dict(zip(workloads.CERTITUDES, ("exact", "from_max_speed", "fuzzy", "fallback")))


def _noop(df, obs=None, *aggs) -> dict:
    if obs is not None:
        df = df.observe(obs, *aggs)
    df.write.format("noop").mode("overwrite").save()
    return obs.get if obs is not None else {}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


class _Layers:
    """Collects the alone runs: one entry per (layer, rep)."""

    def __init__(self, bench, tracer):
        self.bench = bench
        self.tracer = tracer
        self.runs: dict[str, list[dict]] = {}

    def time(self, layer: str, name: str, fn):
        b = self.bench
        w0 = b.probes.worker_cpu_s(b.jvm_pid)
        with self.tracer.span(f"{layer}.{name}.alone", layer) as sp:
            out = fn()
        rec = {
            "name": name, "wall_s": sp["end"] - sp["start"],
            "worker_cpu_s": b.probes.worker_cpu_s(b.jvm_pid) - w0,
            **trace.stage_metrics(b.spark.sparkContext, trace.descendants(self.tracer.spans, sp["id"])),
        }
        self.runs.setdefault(layer, []).append(rec)
        return out

    def generic(self) -> dict:
        """Per layer and rep, sum the layer's alone calls, then take the
        median over reps."""
        out = {}
        for layer in EXEC_LAYERS:
            recs = self.runs[layer]
            names = sorted({r["name"] for r in recs})
            per_rep = [
                [r for r in recs if r["name"] == n] for n in names
            ]
            reps = min(len(p) for p in per_rep)
            for key in GENERIC:
                vals = []
                for i in range(reps):
                    parts = [p[i][key] for p in per_rep]
                    vals.append(max(parts) if key == "task_skew" else sum(parts))
                out[f"{layer}.{key}"] = float(statistics.median(vals))
        return out

    def median(self, layer: str, name: str, key: str = "wall_s") -> float:
        return float(statistics.median(r[key] for r in self.runs[layer] if r["name"] == name))


def _workload(bench, cls):
    """The bench's own workload if it is ``cls``, else a fresh one with
    the same seed, its inputs generated and its plan built."""
    if isinstance(bench.wl, cls):
        return bench.wl
    wl = cls(bench.args.seed, os.path.join(bench.work, f"alone-{cls.name}"))
    os.makedirs(wl.work)
    wl.prepare(bench.spark)
    wl.build(bench.spark)
    return wl


def run_all(bench, tracer) -> dict:
    spark = bench.spark
    L = _Layers(bench, tracer)
    metrics: dict = {}
    scratch = os.path.join(bench.work, "alone")

    # ---- flagship layers -------------------------------------------------
    fl = _workload(bench, workloads.FlagshipBatch)
    for k in ("sources.rules_json.load_s", "plans.rules_compiler.compile_s",
              "plans.native_cascade.plan_s"):
        metrics[k] = float(fl.setup_parts[k])
    metrics["operators.spatial.knn_fallback_ratio"] = fl.info["inputs"]["knn_fallback_ratio"]
    located = fl.located
    loc_path = os.path.join(scratch, "located")
    located.write.parquet(loc_path)
    inferred = fl.infer(spark.read.parquet(loc_path))
    inf_path = os.path.join(scratch, "inferred")
    inferred.write.parquet(inf_path)
    for rep in range(REPS):
        L.time("operators.spatial", "locate", lambda: _noop(located))
        got = L.time("plans.native_cascade", "infer",
                     lambda: workloads.certitude_counts(inferred))
        out_i = 10_000 + rep
        summary = L.time(
            "plans.checkpointed_job", "run_checkpointed",
            lambda: fl.commit(spark, out_i, lambda s: s.read.parquet(inf_path)),
        )
    for k, short in _CERT_KEYS.items():
        metrics[f"plans.native_cascade.certitude.{short}"] = got[k]
    matched = sum(got[k] for k in workloads.CERTITUDES)
    metrics["plans.native_cascade.match_ratio"] = matched / got["rows"]
    metrics["plans.checkpointed_job.bytes_per_row"] = _dir_bytes(fl.out_dir(out_i)) / max(1, summary["rows"])

    # ---- image layers ----------------------------------------------------
    im = _workload(bench, workloads.ImageCuration)
    meta = im.images_df.select("image_id", "phash")
    pairs = images.phash_near_dup_pairs(meta, max_hamming=im.MAX_HAMMING, band_bits=im.BAND_BITS)
    pairs_path = os.path.join(scratch, "pairs")
    pairs.write.parquet(pairs_path)
    pairs_in = spark.read.parquet(pairs_path)
    for _ in range(REPS):
        L.time("payload.images", "verify", im.verify)
        obs = Observation()
        kept = L.time("payload.images", "near_dup",
                      lambda: _noop(pairs, obs, F.count(F.lit(1)).alias("n")))
        L.time("operators.dedup", "cc",
               lambda: _noop(dedup.connected_components(pairs_in)))
    metrics["payload.images.verify_s"] = L.median("payload.images", "verify")
    metrics["payload.images.python_cpu_s"] = L.median("payload.images", "verify", "worker_cpu_s")
    metrics["payload.images.near_dup_s"] = L.median("payload.images", "near_dup")
    metrics["payload.images.pairs_kept"] = int(kept["n"])
    metrics["operators.dedup.cc_s"] = L.median("operators.dedup", "cc")
    metrics.update(_band_stats(meta, im.BAND_BITS))
    metrics.update(L.generic())
    return metrics


def _band_stats(meta, band_bits: int) -> dict:
    """Candidate pairs the phash band join expands, and the largest
    band bucket, from the same band keys the operator derives."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("phash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
        )
        for b in range(nbands)
    ])
    sizes = meta.select(F.explode(bands).alias("bk")).groupBy("bk.band", "bk.key").count()
    row = sizes.agg(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pairs"),
        F.max("count").alias("largest"),
    ).collect()[0]
    return {
        "payload.images.candidate_pairs": int(row["pairs"]),
        "payload.images.largest_bucket": int(row["largest"]),
    }
