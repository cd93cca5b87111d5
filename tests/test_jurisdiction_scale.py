"""Jurisdiction resolution at a realistic boundary count: the
benchmark's generated world of about 250 rectangles (countries with
gaps between them, subdivision stripes inside their parents), checked
against the benchmark's NumPy oracle. The benchmark's input and oracle
modules are imported read-only from ``perfbench/``."""

from __future__ import annotations

import os
import re
import sys

import pytest
from pyspark.sql import functions as F

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import inputs  # noqa: E402
import oracle  # noqa: E402
import rulegen  # noqa: E402

N_ROADS = 5_000


def _located(points, boundaries):
    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_tiles,
        resolve_jurisdiction,
    )

    return assign_tiles(resolve_jurisdiction(points, boundaries), tile_res=7)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def broadcast_scans(df) -> list[list[str]]:
    """Per ``BroadcastExchange`` in ``df``'s executed plan, the leaf
    scans below it (``LocalTableScan``, ``Scan ExistingRDD``, ...),
    read off the plan's tree string by indentation."""
    nodes = []
    for line in _plan(df).splitlines():
        body = line.lstrip(" :+-")
        nodes.append((len(line) - len(body), re.sub(r"^\*(\(\d+\))? ", "", body)))
    out = []
    for i, (depth, node) in enumerate(nodes):
        if not node.startswith("BroadcastExchange"):
            continue
        below = []
        for d, n in nodes[i + 1:]:
            if d <= depth:
                break
            name = n.split("[")[0].strip()
            if "Scan" in name:
                below.append(name)
        out.append(below)
    return out


def assert_broadcasts_are_local(df, n_broadcasts: int) -> None:
    """Every broadcast side of ``df`` is a driver-built local relation:
    no broadcast rebuilds its table from pickled Python rows."""
    scans = broadcast_scans(df)
    assert len(scans) == n_broadcasts, scans
    for below in scans:
        assert not any("ExistingRDD" in s for s in below), scans
        assert "LocalTableScan" in below, scans


def test_resolve_jurisdiction_at_250_boundaries(spark):
    """Regions equal the oracle's for every point, and the plan carries
    no per-boundary CASE fold: its text at 250 boundaries stays within
    10 % of its length at the 13 of ``synth_boundaries``. Behind the
    cascade, every broadcast reads a local relation."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        grid_cell_py,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        synth_boundaries,
    )
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )
    from osm_legal_default_speeds_spark.plans.rules_compiler import (
        compile_ruleset,
    )
    from tests.test_spark_inference import za_defs

    world = inputs.world(0, list(rulegen.generate(0)["speedLimitsByCountryCode"]))
    assert len(world) >= 250
    roads = inputs.roads(7, N_ROADS, world)
    points = spark.createDataFrame(
        list(zip(roads["road_id"].tolist(), roads["lon"].tolist(), roads["lat"].tolist())),
        "road_id long, lon double, lat double",
    )
    located = _located(points, [RectBoundary(*b) for b in world])
    plan = _plan(located)
    small_plan = _plan(_located(points, synth_boundaries()))
    assert "CASE WHEN" not in plan
    assert abs(len(plan) - len(small_plan)) <= 0.1 * len(small_plan)
    # PIP index, kNN index and the cascade's country dim: three
    # broadcasts, each over a local relation (the points stay an RDD)
    inferred = infer_speed_limits_native(
        located.withColumn("tags", F.create_map().cast("map<string,string>")),
        compile_ruleset(*za_defs()),
        country_col="region_code",
    )
    assert_broadcasts_are_local(inferred, 3)

    want, needs_knn = oracle.regions(world, roads["lon"], roads["lat"])
    assert needs_knn.mean() > 0.1  # the kNN fallback is exercised
    rows = sorted(located.collect(), key=lambda r: r["road_id"])
    assert [r["road_id"] for r in rows] == list(range(N_ROADS))
    assert [r["region_code"] for r in rows] == want
    assert all(
        r["tile_id"] == grid_cell_py(r["lon"], r["lat"], 7) for r in rows
    )


def _knn_cell_index_loop(boundaries, res):
    """The per-cell Python loop ``knn_cell_index`` replaced, kept as its
    reference: per cell, every boundary whose lower-bound distance is at
    most the best upper bound, in region_code order."""
    from osm_legal_default_speeds_spark.operators.spatial import grid_nx, grid_ny

    nx, ny = grid_nx(res), grid_ny(res)

    def cell_rect(cell):
        x, y = divmod(cell, ny)
        lon0 = -180.0 + x * 360.0 / nx
        lat0 = -90.0 + y * 180.0 / ny
        return lon0, lat0, lon0 + 360.0 / nx, lat0 + 180.0 / ny

    def min_d2(a, b):
        dx = max(b.lon_min - a[2], a[0] - b.lon_max, 0.0)
        dy = max(b.lat_min - a[3], a[1] - b.lat_max, 0.0)
        return dx * dx + dy * dy

    def max_d2(a, b):
        dx = max(b.lon_min - a[0], a[2] - b.lon_max, 0.0)
        dy = max(b.lat_min - a[1], a[3] - b.lat_max, 0.0)
        return dx * dx + dy * dy

    index = {}
    for cell in range(nx * ny):
        rect = cell_rect(cell)
        best_ub = min(max_d2(rect, b) for b in boundaries)
        cands = [b for b in boundaries if min_d2(rect, b) <= best_ub]
        index[cell] = sorted(cands, key=lambda b: b.region_code)
    return index


@pytest.mark.parametrize("world_seed", [0, 1, 2])
def test_knn_cell_index_matches_loop(world_seed):
    """The NumPy index equals the per-cell loop's, candidate for
    candidate and in order, on the benchmark's generated worlds."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        knn_cell_index,
    )

    codes = list(rulegen.generate(world_seed)["speedLimitsByCountryCode"])
    world = [RectBoundary(*b) for b in inputs.world(world_seed, codes)]
    for res in (4, 6):
        assert knn_cell_index(world, res) == _knn_cell_index_loop(world, res)


def test_knn_cell_index_ties():
    """Hand-made ties: two equal rectangles under different codes (both
    kept, region_code order whatever the input order), an equal pair
    under one code (input order), and a zero-width rectangle lying on a
    cell edge."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        knn_cell_index,
    )

    # res 2: 8 x 4 cells of 45 degrees
    boundaries = [
        RectBoundary("ZZ", 10.0, 10.0, 20.0, 20.0),
        RectBoundary("AA", 10.0, 10.0, 20.0, 20.0),
        RectBoundary("MM", 90.0, -45.0, 90.0, 0.0),  # on the x = 6 edge
        RectBoundary("MM", 90.0, -45.0, 90.0, 0.0, priority=1),
        RectBoundary("BB", -100.0, 50.0, -99.0, 51.0),
    ]
    for res in (2, 4):
        got = knn_cell_index(boundaries, res)
        assert got == _knn_cell_index_loop(boundaries, res)
        for cands in got.values():
            codes = [b.region_code for b in cands]
            assert codes == sorted(codes)
            if "ZZ" in codes:
                assert "AA" in codes
            if "MM" in codes:
                mm = [b.priority for b in cands if b.region_code == "MM"]
                assert mm == [0, 1]
    # the edge rectangle is a candidate on both sides of its edge
    cell_w = knn_cell_index(boundaries, 2)[5 * 4 + 1]
    cell_e = knn_cell_index(boundaries, 2)[6 * 4 + 1]
    assert "MM" in [b.region_code for b in cell_w]
    assert "MM" in [b.region_code for b in cell_e]


def test_empty_boundaries_fail_on_the_driver(spark):
    """No boundary at all is a caller error named on the driver, not a
    bare ``min()`` failure from inside the index build nor a NULL
    region on every row."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_jurisdiction,
        assign_jurisdiction_polygons,
        knn_assign_via_index,
        resolve_jurisdiction,
    )

    points = spark.createDataFrame([(1, 0.0, 0.0)], "road_id long, lon double, lat double")
    for fn in (
        assign_jurisdiction,
        assign_jurisdiction_polygons,
        knn_assign_via_index,
        resolve_jurisdiction,
    ):
        with pytest.raises(ValueError, match="boundaries"):
            fn(points, [])
