#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 4 --trace 0

Run from the repository root. One process, one workload, one closed-loop
client on ``local[max(1, min(4, nproc) - 2)]``:

1. the SparkSession starts and inputs are generated from ``--seed``
   (generation is untimed);
2. set-up: rule load and compile, plan build and the first op;
   ``setup_s`` is process start to the first op's result, less input
   generation;
3. warm-up: ``WARMUP_OPS`` untimed ops;
4. ops are measured for ``--seconds``, at least ``MIN_MEASURED_OPS``;
5. with ``--trace 1`` traced ops alternate with untraced ones instead,
   and every layer is then timed alone on pre-materialised inputs.

Every op's output is checked; a mismatch counts the op as failed, and
the process exits 1 after printing its result. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is the full record (samples, input checksums, rule set, spans file).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the run-time budget allows two warm-up ops; the flagship's JIT curve
# is longer than that, so its measured ops sit at fixed positions on
# the curve's tail
WARMUP_OPS = 2
MIN_MEASURED_OPS = 3
TRACED_OPS = 2
# the package layers' self times in a traced op must sum to the
# untraced op time within this share, or the traced run fails; traced
# and untraced ops are different ops, whose medians differed by up to
# 10 % on a 4-vCPU host
RECONCILE_TOLERANCE = 0.25
DRIVER_HEAP = "2g"

ROOT_LAYER = "perfbench"

END_TO_END = ("setup_s", "rows_per_s", "peak_rss_mb")
UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def new_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    java_opts = " ".join([
        "-XX:+UseParallelGC",
        f"-Xms{DRIVER_HEAP}",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby",
    ])
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .getOrCreate()
    )


class Bench:
    def __init__(self, args, work: str):
        import probes
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        self.args = args
        self.work = work
        # two vCPUs stay free for the driver, the JIT compiler and GC
        # threads: on a 4-vCPU host a third task thread made flagship
        # ops no faster, and rows/s spread from run to run twice as wide
        self.cores = max(1, min(4, os.cpu_count() or 1) - 2)
        self.probes = probes
        self.wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "wl"))
        os.makedirs(self.wl.work)
        self.spark = None
        self.jvm_pid = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_no = 0

    # -- session ---------------------------------------------------------
    def start_session(self) -> None:
        self.spark = new_session(self.work, self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def cpu(self) -> tuple[float, float]:
        return (self.probes.cpu_s(self.jvm_pid), self.probes.worker_cpu_s(self.jvm_pid))

    # -- ops -------------------------------------------------------------
    def run_op(self, deep: bool = False):
        """One op with failure accounting; returns the OpResult with
        ``cpu_s`` (JVM plus Python workers) added, or None if it raised."""
        self.attempted += 1
        i = self.op_no
        self.op_no += 1
        c0 = self.cpu()
        try:
            r = self.wl.op(self.spark, i, deep)
        except Exception:  # an op failure is counted, not fatal
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            traceback.print_exc(file=sys.stderr)
            return None
        c1 = self.cpu()
        r.cpu_s = (c1[0] - c0[0]) + (c1[1] - c0[1])
        if r.errors:
            self.failed += 1
            self.errors.extend(r.errors)
            print("\n".join(r.errors), file=sys.stderr)
        return r

    # -- phases ----------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import stats

        probes = self.probes
        tot0, steal0 = probes.cpu_times()
        self.start_session()
        session_s = time.monotonic() - T_PROCESS
        t = time.monotonic()
        self.wl.prepare(self.spark)
        inputs_s = time.monotonic() - t
        # input generation and its oracles stay out of the peak
        sampler = probes.RssSampler(self.jvm_pid).start()

        self.wl.build(self.spark)
        t1 = time.monotonic()
        r = self.run_op(deep=True)
        if r is None:
            raise RuntimeError("the first op failed")
        first_op_s = time.monotonic() - t1
        # process start to the first op's result, input generation excluded
        setup_s = time.monotonic() - T_PROCESS - inputs_s
        cpu = [r.cpu_s]

        t = time.monotonic()
        for _ in range(WARMUP_OPS):
            r = self.run_op()
            if r is not None:
                cpu.append(r.cpu_s)
        warmup_s = time.monotonic() - t

        ops = []
        trace_metrics, trace_info = {}, {}
        if self.args.trace:
            # the traced run reports per-layer numbers only: its traced
            # and untraced ops replace the measured phase
            trace_metrics, trace_info, ops = self.traced_phase()
        else:
            t_end = time.monotonic() + self.args.seconds
            while len(ops) < MIN_MEASURED_OPS or time.monotonic() < t_end:
                r = self.run_op(deep=len(ops) == 0)
                if r is not None:
                    ops.append(r)
        if not ops:
            raise RuntimeError("no measured op succeeded")

        rss = sampler.stop()
        tot1, steal1 = probes.cpu_times()
        op_s = [r.op_s for r in ops]
        e2e = {
            "setup_s": setup_s,
            "rows_per_s": stats.per_second(ops[0].units, stats.median(op_s)),
            "peak_rss_mb": rss["peak_mb"],
        }
        op_tail, op_p = stats.tail(op_s)
        host = {
            "host.steal_ratio": (steal1 - steal0) / max(1, tot1 - tot0),
            "host.loadavg_1m": probes.loadavg_1m(),
        }
        detail = {
            "workload": self.wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "cores": self.cores,
            "loop": "closed, one client",
            **self.wl.info,
            "output_counts": self.wl.counts_info(),
            "session_s": session_s, "inputs_s": inputs_s,
            "setup_s": setup_s, "first_op_s": first_op_s,
            "setup_parts": self.wl.setup_parts, "warmup_ops": WARMUP_OPS,
            "warmup_s": warmup_s,
            "cpu_per_op_s": cpu,
            "op_s": op_s,
            "measured_cpu_s": [r.cpu_s for r in ops],
            "op_tail": {"value": op_tail, "percentile": op_p, "n": len(op_s)},
            "rss": rss,
            "fail_ratio": stats.fail_ratio(self.attempted, self.failed),
            "errors": self.errors[:10],
            **host, **trace_info,
        }
        if self.args.trace:
            metrics = dict(trace_metrics)
            metrics.update(host)
            metrics.update({
                "spark.session_s": session_s,
                "spark.first_op_s": first_op_s,
                "spark.warmup_s": warmup_s,
                "spark.warmup_ops": WARMUP_OPS,
            })
            units = per_layer_units()
            out = {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())}
        else:
            out = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        result = {
            "correct": self.failed == 0 and trace_info.get("reconciled", True),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": out,
        }
        return result, detail

    def traced_phase(self) -> tuple[dict, dict, list]:
        import alone
        import stats
        import trace
        from workloads import CHECK_LAYER

        tracer = trace.Tracer(self.spark.sparkContext)
        for module, names in alone.TRACED_CALLS:
            for n in names:
                tracer.wrap(module, n)
        traced, untraced, selfs, ops = [], [], [], []
        plain_span = self.wl.span
        self.wl.span = tracer.span
        try:
            # untraced-traced, then traced-untraced: ops still speed up
            # op by op, and a fixed order would bias the overhead
            for k in range(TRACED_OPS):
                for traced_turn in ((False, True) if k % 2 == 0 else (True, False)):
                    if not traced_turn:
                        r = self.run_op()
                        if r is not None:
                            untraced.append(r.op_s)
                            ops.append(r)
                        continue
                    with tracer.span("perfbench.op", ROOT_LAYER) as root:
                        r = self.run_op()
                    if r is not None:
                        traced.append(r.op_s)
                        selfs.append(trace.self_times(tracer.spans, root["id"]))
            metrics = alone.run_all(self, tracer)
        finally:
            tracer.unwrap_all()
            self.wl.span = plain_span
        base = stats.median(untraced)
        layers = sorted({k for s in selfs for k in s})
        self_med = {k: stats.median([s.get(k, 0.0) for s in selfs]) for k in layers}
        # the root span's self time is time no layer accounts for, and
        # the check spans lie outside the timed op: both stay out
        attributed = stats.median(
            [trace.attributed_s(s, (ROOT_LAYER, CHECK_LAYER)) for s in selfs]
        )
        reconcile = attributed / base
        metrics["trace.overhead_ratio"] = stats.median(traced) / base - 1.0
        metrics["trace.reconcile_ratio"] = reconcile
        path = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(path, exist_ok=True)
        spans_file = os.path.join(
            path, f"spans-{self.wl.name}-{self.args.seed}.json"
        )
        tracer.dump(spans_file, {"self_time_median_s": self_med})
        info = {
            "spans_file": os.path.relpath(spans_file, ROOT),
            "traced_op_s": traced, "untraced_op_s": untraced,
            "self_time_median_s": self_med,
            "reconciled": abs(reconcile - 1.0) <= RECONCILE_TOLERANCE,
            "reconcile_tolerance": RECONCILE_TOLERANCE,
        }
        if not info["reconciled"]:
            print(f"layer self times {attributed:.3f} s do not reconcile with the "
                  f"untraced op time {base:.3f} s within {RECONCILE_TOLERANCE:.0%}",
                  file=sys.stderr)
        return metrics, info, ops


def per_layer_units() -> dict:
    import alone

    units = dict(alone.UNITS)
    units.update({
        "spark.session_s": "s", "spark.first_op_s": "s",
        "spark.warmup_s": "s", "spark.warmup_ops": "count",
        "host.steal_ratio": "ratio", "host.loadavg_1m": "load",
        "trace.overhead_ratio": "ratio", "trace.reconcile_ratio": "ratio",
    })
    return units


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    # fail before any output when the package is not beside the benchmark
    import osm_legal_default_speeds_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, d))
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    bench = Bench(args, work)
    try:
        result, detail = bench.run()
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
