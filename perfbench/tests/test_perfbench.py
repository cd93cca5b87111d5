"""Tests of the benchmark harness itself. No SparkSession is started:
the op loop runs against a stub workload and stub probes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH_DIR)

import alone  # noqa: E402
import oracle  # noqa: E402
import rulegen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402
from workloads import WORKLOADS, OpResult  # noqa: E402


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- metric-name schema ----------------------------------------------------

def test_end_to_end_names_and_units_match_benchmark_json(spec):
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == {k: run.UNITS[k] for k in run.END_TO_END}
    assert "setup_s" in declared and declared["setup_s"] == "s"


def test_per_layer_names_and_units_match_benchmark_json(spec):
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == run.per_layer_units()


def test_workloads_match_benchmark_json(spec):
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_every_layer_generic_metric_present():
    units = run.per_layer_units()
    for layer in alone.EXEC_LAYERS:
        for k in alone.GENERIC:
            assert f"{layer}.{k}" in units


# -- tail-percentile rule ----------------------------------------------------

@pytest.mark.parametrize("n,p", [(5, 50.0), (19, 50.0), (20, 50.0), (39, 50.0),
                                 (40, 75.0), (99, 75.0), (100, 90.0), (199, 90.0),
                                 (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    xs = [float(i) for i in range(1, n + 1)]
    value, got = stats.tail(xs)
    assert got == p
    beyond = sum(1 for x in xs if x > value)
    assert beyond >= stats.MIN_BEYOND or p == 50.0


def test_percentile_nearest_rank():
    assert stats.percentile([3.0, 1.0, 2.0, 4.0], 50) == 2.0
    assert stats.percentile([3.0, 1.0, 2.0, 4.0], 75) == 3.0
    assert stats.median([5.0, 1.0, 3.0]) == 3.0


# -- throughput arithmetic -----------------------------------------------------

def test_rows_per_second_uses_the_median_op():
    op_s = [2.0, 10.0, 4.0]
    assert stats.per_second(50_000, stats.median(op_s)) == 12_500.0
    with pytest.raises(ValueError):
        stats.per_second(1, 0.0)


# -- failure accounting --------------------------------------------------------

class _StubWorkload:
    def __init__(self, outcomes):
        self.outcomes = list(outcomes)

    def op(self, spark, i, deep):
        o = self.outcomes.pop(0)
        if o == "raise":
            raise RuntimeError("boom")
        return OpResult(100, 0.5, [] if o == "ok" else ["mismatch"])


def _bench(outcomes):
    b = run.Bench.__new__(run.Bench)
    b.wl = _StubWorkload(outcomes)
    b.spark = None
    b.jvm_pid = 1
    b.probes = types.SimpleNamespace(cpu_s=lambda pid: 1.0, worker_cpu_s=lambda pid: 0.5)
    b.attempted = b.failed = b.op_no = 0
    b.errors = []
    return b


def test_failed_ops_are_counted_against_attempted():
    b = _bench(["ok", "raise", "mismatch", "ok"])
    results = [b.run_op() for _ in range(4)]
    assert b.attempted == 4 and b.failed == 2
    assert results[1] is None
    assert results[2] is not None and results[2].errors == ["mismatch"]
    assert stats.fail_ratio(b.attempted, b.failed) == 0.5
    with pytest.raises(ValueError):
        stats.fail_ratio(0, 0)


# -- spans ---------------------------------------------------------------------

def test_self_times_subtract_covered_child_time():
    spans = [
        {"id": 0, "layer": "perfbench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "a", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "layer": "b", "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "layer": "b", "parent": 0, "start": 5.0, "end": 8.0},
    ]
    st = trace.self_times(spans, 0)
    assert st == {"perfbench": 10.0 - 7.0, "a": 3.0, "b": 4.0}
    assert sum(st.values()) == pytest.approx(10.0)
    assert trace.descendants(spans, 1) == {1, 2}


def test_reconciled_time_leaves_out_the_root_and_the_checks():
    spans = [
        {"id": 0, "layer": "perfbench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "a", "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "layer": "perfbench.check", "parent": 0, "start": 6.0, "end": 9.0},
    ]
    st = trace.self_times(spans, 0)
    assert trace.attributed_s(st, ("perfbench", "perfbench.check")) == 4.0


# -- inputs and oracles ----------------------------------------------------------

def test_rule_set_matches_the_dataset_envelope(tmp_path):
    s = rulegen.write(7, str(tmp_path / "r.json"))
    assert (s["countries"], s["rules"], s["road_types"]) == (242, 1206, 172)
    assert s["with_fallback"] == 238 and s["max_rules_per_country"] == 13
    assert rulegen.write(7, str(tmp_path / "r2.json"))["sha"] == s["sha"]
    data = json.loads((tmp_path / "r.json").read_text())
    subs = [c for c in data["speedLimitsByCountryCode"] if "-" in c]
    assert subs and all(c.split("-")[0] in data["speedLimitsByCountryCode"] for c in subs)
    filters = json.dumps(data["roadTypesByName"])
    for needle in ("fuzzyFilter", "relationFilter", "{urban}", "mph", "width<"):
        assert needle in filters
    tags = json.dumps(data["speedLimitsByCountryCode"])
    assert "maxspeed:hgv:conditional" in tags


def test_rule_set_compiles(tmp_path):
    from osm_legal_default_speeds_spark.plans.native_cascade import _rule_cap_depth
    from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset
    from osm_legal_default_speeds_spark.sources.rules_json import load_rules_json

    rulegen.write(3, str(tmp_path / "r.json"))
    _, rt, sl, _ = load_rules_json(str(tmp_path / "r.json"))
    assert _rule_cap_depth(compile_ruleset(rt, sl)) == 2


def test_region_oracle_pip_then_nearest():
    import numpy as np

    bounds = [("AA", 0.0, 0.0, 10.0, 10.0, 2), ("AA-X", 0.0, 0.0, 5.0, 5.0, 0),
              ("BB", 20.0, 0.0, 30.0, 10.0, 1)]
    got, knn = oracle.regions(bounds, np.array([1.0, 7.0, 16.0, 14.0]), np.array([1.0, 7.0, 5.0, 5.0]))
    assert got == ["AA-X", "AA", "BB", "AA"]
    assert knn.tolist() == [False, False, True, True]


def test_near_dup_components_join_within_radius():
    assert oracle.near_dup_components([0, 1, 3, -1, -1], 2) == {"kept": 2, "largest": 3}


def test_planted_copies_fail_both_verify_checks():
    import numpy as np

    from osm_legal_default_speeds_spark.payload import images
    from workloads import copy_ids

    for src in (0, 1, 2, 209, 255, 5000):
        ids = copy_ids(src, 1_000_000, 60)
        assert len(set(ids)) == 60 and min(ids) >= 1_000_000
        w, h = (int(x[0]) for x in images.image_dims(np.array([src])))
        fmt = str(images.fmt_for(np.array([src]))[0])
        data = images._ENCODERS[fmt](images.reference_pixels(src, w, h))
        src_caption = images.caption_for(np.array([src]))[0]
        for nid in ids:
            px = images.decode_image(data, fmt)
            ref = images.reference_pixels(nid, w, h)
            assert not np.array_equal(ref, px) and images.psnr(ref, px) < 40.0
            assert images.caption_for(np.array([nid]))[0] != src_caption
