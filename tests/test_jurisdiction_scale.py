"""Jurisdiction resolution at a realistic boundary count: the
benchmark's generated world of about 250 rectangles (countries with
gaps between them, subdivision stripes inside their parents), checked
against the benchmark's NumPy oracle. The benchmark's input and oracle
modules are imported read-only from ``perfbench/``."""

from __future__ import annotations

import os
import sys

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


def test_resolve_jurisdiction_at_250_boundaries(spark):
    """Regions equal the oracle's for every point, and the plan carries
    no per-boundary CASE fold: its text at 250 boundaries stays within
    10 % of its length at the 13 of ``synth_boundaries``."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        grid_cell_py,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        synth_boundaries,
    )

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

    want, needs_knn = oracle.regions(world, roads["lon"], roads["lat"])
    assert needs_knn.mean() > 0.1  # the kNN fallback is exercised
    rows = sorted(located.collect(), key=lambda r: r["road_id"])
    assert [r["road_id"] for r in rows] == list(range(N_ROADS))
    assert [r["region_code"] for r in rows] == want
    assert all(
        r["tile_id"] == grid_cell_py(r["lon"], r["lat"], 7) for r in rows
    )
