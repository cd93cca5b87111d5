"""snap_to_segments / tile_smooth / polygon_overlay / simplify_lines:
independent Python twins, geometric invariants, and plan-shape pins."""

import math

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.operators.spatial import (
    PolygonBoundary,
    _dp_keep_mask,
    grid_cell_py,
    grid_nx,
    grid_ny,
    polygon_overlay,
    polygons_to_df,
    rasterize_polygons,
    simplify_lines,
    snap_to_segments,
    tile_smooth,
)


# --------------------------------------------------------------------------
# snap_to_segments
# --------------------------------------------------------------------------

def _snap_py(px, py, x0, y0, x1, y1):
    """Independent clamped-projection twin (plain Python floats)."""
    dx, dy = x1 - x0, y1 - y0
    len2 = dx * dx + dy * dy
    t = 0.0 if len2 == 0 else ((px - x0) * dx + (py - y0) * dy) / len2
    t = min(max(t, 0.0), 1.0)
    qx, qy = x0 + t * dx, y0 + t * dy
    return qx, qy, (px - qx) ** 2 + (py - qy) ** 2


def _brute_best(p, segs, radius):
    """(seg_id, d2) of the nearest segment strictly within radius, ties
    by smallest seg_id; None if none."""
    best = None
    for sid, x0, y0, x1, y1 in segs:
        mid = (x0 + x1) / 2.0
        px = p[1] + math.floor((mid - p[1]) / 360.0 + 0.5) * 360.0
        _, _, d2 = _snap_py(px, p[2], x0, y0, x1, y1)
        if d2 < radius * radius and (best is None or (d2, sid) < best):
            best = (d2, sid)
    return best


def _scatter(n, seed, lo_lon=-178.0, hi_lon=178.0, lo_lat=-80.0, hi_lat=80.0):
    pts = []
    for i in range(n):
        h = (i * 2654435761 + seed * 40503) % 100000
        lon = lo_lon + (h / 100000.0) * (hi_lon - lo_lon)
        h2 = (i * 97 + seed * 7919 + 13) % 100000
        lat = lo_lat + (h2 / 100000.0) * (hi_lat - lo_lat)
        pts.append((i, lon, lat))
    return pts


@pytest.fixture(scope="module")
def snap_fixture(spark):
    pts = _scatter(300, seed=1)
    segs = []
    for i, lon, lat in _scatter(150, seed=2, lo_lon=-170.0, hi_lon=170.0):
        dlon = ((i % 9) - 4) * 0.6
        dlat = ((i % 7) - 3) * 0.4
        segs.append((i, lon, lat, lon + dlon, lat + dlat))
    pdf = spark.createDataFrame(pts, "id long, lon double, lat double")
    sdf = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    return pts, segs, pdf, sdf


def test_snap_matches_brute_force(spark, snap_fixture):
    pts, segs, pdf, sdf = snap_fixture
    radius = 1.2
    got = {
        r["id"]: (r["seg_id"], r["dist"])
        for r in snap_to_segments(pdf, sdf, radius, point_id="id").collect()
    }
    n_matched = 0
    for p in pts:
        best = _brute_best(p, segs, radius)
        if best is None:
            assert p[0] not in got
        else:
            n_matched += 1
            d2, sid = best
            assert got[p[0]][0] == sid
            assert got[p[0]][1] == pytest.approx(math.sqrt(d2), abs=1e-12)
    assert n_matched == len(got) and n_matched > 20


def test_snap_strictly_within_radius(spark, snap_fixture):
    _, _, pdf, sdf = snap_fixture
    radius = 0.8
    rows = snap_to_segments(pdf, sdf, radius, point_id="id").collect()
    assert rows and all(r["dist"] < radius for r in rows)


def test_snap_tie_breaks_by_smallest_seg_id(spark):
    pdf = spark.createDataFrame([(0, 10.0, 10.0)], "id long, lon double, lat double")
    # two identical segments, different ids
    sdf = spark.createDataFrame(
        [(7, 9.0, 10.5, 11.0, 10.5), (3, 9.0, 10.5, 11.0, 10.5)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    [r] = snap_to_segments(pdf, sdf, 1.0, point_id="id").collect()
    assert r["seg_id"] == 3 and r["dist"] == pytest.approx(0.5)


def test_snap_degenerate_point_segment(spark):
    pdf = spark.createDataFrame([(0, 20.0, 20.0)], "id long, lon double, lat double")
    sdf = spark.createDataFrame(
        [(1, 20.3, 20.4, 20.3, 20.4)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    [r] = snap_to_segments(pdf, sdf, 1.0, point_id="id").collect()
    assert r["snap_lon"] == 20.3 and r["snap_lat"] == 20.4
    assert r["dist"] == pytest.approx(0.5)


def test_snap_across_antimeridian(spark):
    """Point at +179.9 snaps to a segment at -179.95 (0.15 deg the
    short way around)."""
    pdf = spark.createDataFrame([(0, 179.9, 5.0)], "id long, lon double, lat double")
    sdf = spark.createDataFrame(
        [(1, -179.95, 4.0, -179.95, 6.0)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    [r] = snap_to_segments(pdf, sdf, 1.0, point_id="id").collect()
    assert r["seg_id"] == 1
    assert r["dist"] == pytest.approx(0.15, abs=1e-9)
    assert r["snap_lat"] == pytest.approx(5.0)


def test_snap_plan_has_no_cross_product(spark, snap_fixture):
    _, _, pdf, sdf = snap_fixture
    plan = snap_to_segments(pdf, sdf, 1.0, point_id="id")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_snap_two_pass_is_bit_identical_to_single_pass(spark, snap_fixture):
    """The density-adaptive fine-first pass must return EXACTLY the
    single-pass rows (same argmin, same tie-break, same doubles): the
    fine pass only accepts a per-point minimum strictly under the fine
    cell side, where the 1-ring lemma certifies it is the global
    argmin; everything else falls back to the contract-res pass. Force
    a fine level two decades under the contract res so both passes
    genuinely run (some points resolve fine, some fall back)."""
    pts, segs, pdf, sdf = snap_fixture
    radius = 1.2

    def key(rows):
        return sorted(
            (r["id"], r["seg_id"], r["snap_lon"], r["snap_lat"], r["dist"])
            for r in rows
        )

    single = key(
        snap_to_segments(pdf, sdf, radius, point_id="id", fine_res=None)
        .collect()
    )
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_res,
    )

    res = within_distance_res(radius)
    forced = key(
        snap_to_segments(
            pdf, sdf, radius, point_id="id", fine_res=res + 2
        ).collect()
    )
    auto = key(
        snap_to_segments(pdf, sdf, radius, point_id="id").collect()
    )
    assert forced == single
    assert auto == single
    # the forced fine level must split the work across both passes on
    # this fixture (otherwise the test proves nothing): some points
    # certify under the fine side, some don't
    fine_side = 180.0 / (1 << (res + 2))
    n_fine = sum(1 for row in single if row[4] < fine_side)
    assert 0 < n_fine < len(single)


def test_snap_fine_res_coarser_than_contract_raises(spark, snap_fixture):
    _, _, pdf, sdf = snap_fixture
    with pytest.raises(ValueError, match="coarser"):
        snap_to_segments(pdf, sdf, 1.2, point_id="id", fine_res=1)
    # the explicit path honors the same res cap the auto path clamps to
    with pytest.raises(ValueError, match="cap"):
        snap_to_segments(pdf, sdf, 1.2, point_id="id", fine_res=40)


def test_snap_repeated_identical_calls_keep_the_cache(spark, snap_fixture):
    """Two identical two-pass snap calls produce sameResult fine-pass
    plans, so the second persist() is a CacheManager no-op against the
    first entry — the eviction must therefore run BEFORE the persist,
    or the second call silently uncaches the plan and the fine join
    runs twice per action (the exact double-compute the cache
    prevents). Pins: results stay bit-identical AND the live cache
    slot is still materialized-cacheable after the repeat."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        _SNAP_FINE_CACHE,
        within_distance_res,
    )

    _, _, pdf, sdf = snap_fixture
    radius = 1.2
    res = within_distance_res(radius)

    def run():
        return sorted(
            (r["id"], r["seg_id"], r["dist"])
            for r in snap_to_segments(
                pdf, sdf, radius, point_id="id", fine_res=res + 2
            ).collect()
        )

    first = run()
    second = run()
    assert first == second
    # exactly one live slot, and it reports a real storage level (an
    # evict-after-persist would have left the plan uncached)
    assert len(_SNAP_FINE_CACHE) == 1
    lvl = _SNAP_FINE_CACHE[0].storageLevel
    assert lvl.useMemory or lvl.useDisk


def test_snap_null_point_ids_match_single_pass(spark):
    """NULL point ids fold into ONE groupBy group in the single-pass
    plan; the two-pass plan must not re-emit that group from the
    coarse pass (a plain left_anti never matches NULL keys). The
    certification lemma covers the merged group's min, so the outputs
    are bit-identical."""
    rows = [
        (None, 10.02, 10.5),   # certifiable: right on a segment
        (None, 14.0, 14.2),    # no segment anywhere near
        (1, 10.5, 10.52),
    ]
    pdf = spark.createDataFrame(rows, "id long, lon double, lat double")
    sdf = spark.createDataFrame(
        [(3, 10.0, 10.5, 11.0, 10.5)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_res,
    )

    res = within_distance_res(1.0)

    def key(out):
        return sorted(
            (
                -(10**18) if r["id"] is None else r["id"],  # None sorts
                r["seg_id"], r["snap_lon"], r["snap_lat"], r["dist"],
            )
            for r in out
        )

    single = key(
        snap_to_segments(pdf, sdf, 1.0, point_id="id", fine_res=None)
        .collect()
    )
    two = key(
        snap_to_segments(pdf, sdf, 1.0, point_id="id", fine_res=res + 3)
        .collect()
    )
    assert two == single
    assert sum(1 for r in single if r[0] == -(10**18)) == 1  # one group


def test_snap_auto_picks_fine_pass_on_dense_input(spark):
    """A dense corpus (many points per occupied cell, well-populated
    cells) must steer the auto heuristic to a genuine fine pass, and
    the result must still match the brute-force oracle exactly."""
    radius = 1.0
    # 2000 points and 600 short segments packed into a 20x20-degree
    # box: ~50+ segments per res-7 cell
    pts = _scatter(2000, seed=5, lo_lon=-10.0, hi_lon=10.0,
                   lo_lat=-10.0, hi_lat=10.0)
    segs = []
    for i, lon, lat in _scatter(600, seed=6, lo_lon=-10.0, hi_lon=10.0,
                                lo_lat=-10.0, hi_lat=10.0):
        segs.append((i, lon, lat, lon + 0.3, lat + 0.2))
    pdf = spark.createDataFrame(pts, "id long, lon double, lat double")
    sdf = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    got = {
        r["id"]: (r["seg_id"], r["dist"])
        for r in snap_to_segments(pdf, sdf, radius, point_id="id").collect()
    }
    for p in pts[:400]:
        best = _brute_best(p, segs, radius)
        if best is None:
            assert p[0] not in got
        else:
            d2, sid = best
            assert got[p[0]][0] == sid
            assert got[p[0]][1] == pytest.approx(math.sqrt(d2), abs=1e-12)


# --------------------------------------------------------------------------
# tile_smooth
# --------------------------------------------------------------------------

def _smooth_py(pts, res, w=(4, 2, 1)):
    nx, ny = grid_nx(res), grid_ny(res)
    counts = {}
    for _, lon, lat in pts:
        c = grid_cell_py(lon, lat, res)
        counts[c] = counts.get(c, 0) + 1
    out = {}
    for c, n in counts.items():
        x, y = divmod(c, ny)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                yy = y + dy
                if yy < 0 or yy >= ny:
                    continue
                ww = w[abs(dx) + abs(dy)]
                tgt = ((x + dx) % nx) * ny + yy
                out[tgt] = out.get(tgt, 0) + ww * n
    return out


def test_tile_smooth_matches_python_twin(spark):
    pts = _scatter(500, seed=3, lo_lat=-88.0, hi_lat=88.0)
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = {r["cell"]: r["density"] for r in tile_smooth(df, "lon", "lat", 4).collect()}
    assert got == _smooth_py(pts, 4)


def test_tile_smooth_spreads_to_empty_neighbors(spark):
    df = spark.createDataFrame([(0, 0.1, 0.1)], "id long, lon double, lat double")
    rows = tile_smooth(df, "lon", "lat", 5).collect()
    # one point -> full 3x3 kernel footprint
    assert len(rows) == 9
    assert sorted(r["density"] for r in rows) == [1, 1, 1, 1, 2, 2, 2, 2, 4]


def test_tile_smooth_rejects_tiny_grid(spark):
    df = spark.createDataFrame([(0, 0.0, 0.0)], "id long, lon double, lat double")
    with pytest.raises(ValueError):
        tile_smooth(df, "lon", "lat", 1)


def test_grid_res_bounds_fail_at_plan_time():
    """res > 30 silently overflows the int64 packed cell id
    (x * ny + y grows as 2^(2*res+1)); res < 0 used to die on Python's
    negative-shift error — both now get the named-parameter guard."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_nx,
        grid_ny,
    )

    for bad in (-1, 31):
        with pytest.raises(ValueError, match=r"\[0, 30\]"):
            grid_nx(bad)
        with pytest.raises(ValueError, match=r"\[0, 30\]"):
            grid_ny(bad)


def test_rolling_hash_rejects_degenerate_mod():
    """mod=0 makes every fingerprint a silent NULL (x % 0 under
    non-ANSI Spark); mod=1 hashes everything to 0."""
    from pyspark.sql import functions as F

    from osm_legal_default_speeds_spark.operators.textops import (
        rolling_hash_from_hashes,
        word_hashes,
    )

    wh = word_hashes(F.split(F.lit("a b"), " "), hex_chars=8)
    for bad in (0, 1):
        with pytest.raises(ValueError, match="mod must be >= 2"):
            rolling_hash_from_hashes(wh, mod=bad)


# --------------------------------------------------------------------------
# polygon_overlay
# --------------------------------------------------------------------------

def _tri(code, cx, cy, r=8.0, priority=0):
    return PolygonBoundary(
        code,
        (((cx - r, cy - r), (cx + r, cy - r), (cx, cy + r)),),
        priority=priority,
    )


def test_polygon_overlay_matches_rasterize_composition(spark):
    la = [_tri("A1", 10.3, 10.3), _tri("A2", 40.3, 10.3)]
    lb = [_tri("B1", 12.3, 12.3), _tri("B2", 80.3, 10.3)]
    res = 6
    got = {
        (r["id_a"], r["id_b"]): (r["n_cells"], r["area_deg2"])
        for r in polygon_overlay(
            polygons_to_df(spark, la), polygons_to_df(spark, lb), res
        ).collect()
    }
    ra = rasterize_polygons(polygons_to_df(spark, la), res).collect()
    rb = rasterize_polygons(polygons_to_df(spark, lb), res).collect()
    bcells = {}
    for r in rb:
        bcells.setdefault(r["cell"], []).append(r["region_code"])
    want = {}
    for r in ra:
        for b in bcells.get(r["cell"], []):
            want[(r["region_code"], b)] = want.get((r["region_code"], b), 0) + 1
    nx, ny = grid_nx(res), grid_ny(res)
    cell_area = (360.0 / nx) * (180.0 / ny)
    assert set(got) == set(want)
    for k, n in want.items():
        assert got[k] == (n, n * cell_area)
    # disjoint pair never appears
    assert ("A2", "B2") not in got and ("A1", "B1") in got


# --------------------------------------------------------------------------
# simplify_lines (Douglas-Peucker)
# --------------------------------------------------------------------------

def _dp_py(xs, ys, tol):
    """Classic textbook DP with sqrt distances — an INDEPENDENT twin of
    the squared-comparison production kernel."""
    n = len(xs)
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        x0, y0, x1, y1 = xs[i], ys[i], xs[j], ys[j]
        seg = math.hypot(x1 - x0, y1 - y0)
        best_d, best_k = -1.0, -1
        for m in range(i + 1, j):
            if seg == 0:
                d = math.hypot(xs[m] - x0, ys[m] - y0)
            else:
                d = abs((x1 - x0) * (ys[m] - y0) - (y1 - y0) * (xs[m] - x0)) / seg
            if d > best_d:
                best_d, best_k = d, m
        if best_d > tol:
            keep[best_k] = True
            stack.append((best_k, j))
            stack.append((i, best_k))
    return keep


def _lines_fixture(spark, n_lines=40):
    rows = []
    for lid in range(n_lines):
        nv = 5 + lid % 9
        xs = [lid * 2.0 + i * 0.5 for i in range(nv)]
        ys = [((lid * (i + 1) * 2654435761) % 1000) / 1000.0 for i in range(nv)]
        rows.append((lid, xs, ys))
    return rows, spark.createDataFrame(
        rows, "line_id long, xs array<double>, ys array<double>"
    )


def test_simplify_matches_independent_twin(spark):
    rows, df = _lines_fixture(spark)
    tol = 0.2
    got = {}
    for r in simplify_lines(df, tol).collect():
        got.setdefault(r["line_id"], []).append((r["seq"], r["x"], r["y"]))
    dropped_any = kept_all = 0
    for lid, xs, ys in rows:
        keep = _dp_py(xs, ys, tol)
        want = [
            (s, x, y)
            for s, (x, y) in enumerate(
                (x, y) for x, y, k in zip(xs, ys, keep) if k
            )
        ]
        assert sorted(got[lid]) == want, f"line {lid}"
        if sum(keep) < len(xs):
            dropped_any += 1
        else:
            kept_all += 1
    assert dropped_any > 0  # the fixture must actually exercise drops
    # endpoints always kept
    for lid, xs, ys in rows:
        pts = sorted(got[lid])
        assert pts[0][1:] == (xs[0], ys[0])
        assert pts[-1][1:] == (xs[-1], ys[-1])


def test_simplify_max_deviation_property(spark):
    """Every DROPPED vertex lies within tol of the segment between its
    enclosing kept pair (the DP guarantee)."""
    rows, df = _lines_fixture(spark, n_lines=25)
    tol = 0.25
    got = {}
    for r in simplify_lines(df, tol).collect():
        got.setdefault(r["line_id"], []).append((r["seq"], r["x"], r["y"]))
    for lid, xs, ys in rows:
        kept = [(x, y) for _, x, y in sorted(got[lid])]
        kept_idx = []
        ki = 0
        for i, (x, y) in enumerate(zip(xs, ys)):
            if ki < len(kept) and (x, y) == kept[ki]:
                kept_idx.append(i)
                ki += 1
        assert ki == len(kept)
        for a, b in zip(kept_idx, kept_idx[1:]):
            x0, y0, x1, y1 = xs[a], ys[a], xs[b], ys[b]
            seg = math.hypot(x1 - x0, y1 - y0)
            for m in range(a + 1, b):
                if seg == 0:
                    d = math.hypot(xs[m] - x0, ys[m] - y0)
                else:
                    d = abs(
                        (x1 - x0) * (ys[m] - y0) - (y1 - y0) * (xs[m] - x0)
                    ) / seg
                assert d <= tol + 1e-12


def test_simplify_idempotent_and_degenerate(spark):
    rows, df = _lines_fixture(spark, n_lines=15)
    tol = 0.2
    first = simplify_lines(df, tol)
    again_in = (
        first.groupBy("line_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("seq", "x", "y"))).alias("v")
        )
        .select(
            "line_id",
            F.transform("v", lambda s: s["x"]).alias("xs"),
            F.transform("v", lambda s: s["y"]).alias("ys"),
        )
    )
    a = sorted(
        (r["line_id"], r["seq"], r["x"], r["y"]) for r in first.collect()
    )
    b = sorted(
        (r["line_id"], r["seq"], r["x"], r["y"])
        for r in simplify_lines(again_in, tol).collect()
    )
    assert a == b
    # collinear line collapses to its endpoints; short lines pass through
    deg = spark.createDataFrame(
        [
            (100, [0.0, 1.0, 2.0, 3.0], [0.0, 0.0, 0.0, 0.0]),
            (101, [5.0, 6.0], [1.0, 2.0]),
            (102, [7.0], [1.0]),
        ],
        "line_id long, xs array<double>, ys array<double>",
    )
    out = {}
    for r in simplify_lines(deg, tol).collect():
        out.setdefault(r["line_id"], []).append((r["x"], r["y"]))
    assert sorted(out[100]) == [(0.0, 0.0), (3.0, 0.0)]
    assert sorted(out[101]) == [(5.0, 1.0), (6.0, 2.0)]
    assert out[102] == [(7.0, 1.0)]


def test_simplify_to_segments_equals_window_formulation(spark):
    """The in-kernel pairing must be bit-identical to
    simplify_lines + lead() over (partition by line_id order by seq)
    — the formulation its oracle spells out — and partition-invariant;
    lines with < 2 kept vertices emit nothing."""
    from pyspark.sql.window import Window

    from osm_legal_default_speeds_spark.operators.spatial import (
        simplify_to_segments,
    )

    rows, df = _lines_fixture(spark)
    # add a single-vertex line: zero segments expected
    df = df.unionAll(
        spark.createDataFrame(
            [(900, [7.0], [1.0])],
            "line_id long, xs array<double>, ys array<double>",
        )
    )
    tol = 0.2
    kept = simplify_lines(df, tol)
    w = Window.partitionBy("line_id").orderBy("seq")
    want = sorted(
        (r["seg_id"], r["lon0"], r["lat0"], r["lon1"], r["lat1"])
        for r in kept.select(
            "line_id",
            "seq",
            F.col("x").alias("lon0"),
            F.col("y").alias("lat0"),
            F.lead("x").over(w).alias("lon1"),
            F.lead("y").over(w).alias("lat1"),
        )
        .where(F.col("lon1").isNotNull())
        .select(
            (F.col("line_id") * 32 + F.col("seq")).alias("seg_id"),
            "lon0", "lat0", "lon1", "lat1",
        )
        .collect()
    )
    got = sorted(
        (r["seg_id"], r["lon0"], r["lat0"], r["lon1"], r["lat1"])
        for r in simplify_to_segments(df, tol, seg_factor=32).collect()
    )
    assert got == want and len(got) > 0
    again = sorted(
        (r["seg_id"], r["lon0"], r["lat0"], r["lon1"], r["lat1"])
        for r in simplify_to_segments(
            df.repartition(7), tol, seg_factor=32
        ).collect()
    )
    assert again == got
    assert not any(sid // 32 == 900 for sid, *_ in got)


# --------------------------------------------------------------------------
# within_distance_join_meters (great-circle)
# --------------------------------------------------------------------------

def _hav_py(lon_a, lat_a, lon_b, lat_b):
    r = math.radians
    a = (
        math.sin(r(lat_b - lat_a) / 2) ** 2
        + math.cos(r(lat_a)) * math.cos(r(lat_b)) * math.sin(r(lon_b - lon_a) / 2) ** 2
    )
    return 2 * 6371000.0 * math.asin(min(math.sqrt(a), 1.0))


def test_haversine_join_matches_brute_force(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    # 800 km: several latitude bands probed per point
    for seed, radius in ((9, 400_000.0), (11, 800_000.0)):
        pts = _scatter(250, seed=seed, lo_lat=-85.0, hi_lat=85.0)
        df = spark.createDataFrame(pts, "id long, lon double, lat double")
        a = df.select(F.col("id").alias("id_a"), "lon", "lat")
        b = df.select(F.col("id").alias("id_b"), "lon", "lat")
        got = {
            (r["id_a"], r["id_b"]): r["dist_m"]
            for r in within_distance_join_meters(
                a, b, radius, lat_cap=84.0, self_pairs=True
            ).collect()
        }
        want = {}
        capped = [p for p in pts if abs(p[2]) <= 84.0]
        for i, (ia, lon1, lat1) in enumerate(capped):
            for ib, lon2, lat2 in capped[i + 1 :]:
                d = _hav_py(lon1, lat1, lon2, lat2)
                if d <= radius:
                    key = (min(ia, ib), max(ia, ib))
                    want[key] = d
        assert set(got) == set(want) and len(want) > 5, (seed, radius)
        for k, d in want.items():
            assert got[k] == pytest.approx(d, rel=1e-12)


def test_haversine_known_city_pair(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    # Paris <-> London: ~343.5 km great-circle
    df = spark.createDataFrame(
        [(1, 2.3522, 48.8566), (2, -0.1276, 51.5072)],
        "id long, lon double, lat double",
    )
    a = df.select(F.col("id").alias("id_a"), "lon", "lat")
    b = df.select(F.col("id").alias("id_b"), "lon", "lat")
    [row] = within_distance_join_meters(
        a, b, 350_000.0, self_pairs=True
    ).collect()
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["dist_m"] == pytest.approx(343_500, rel=0.01)
    # 340 km excludes it
    assert (
        within_distance_join_meters(a, b, 340_000.0, self_pairs=True).count()
        == 0
    )


def test_haversine_join_high_latitude_and_cap(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    # at lat 83.5, 10 degrees of lon is only ~126 km: a naive
    # degree-radius candidate ring would miss the pair
    df = spark.createDataFrame(
        [(1, 0.0, 83.5), (2, 10.0, 83.5), (3, 0.0, 84.9)],
        "id long, lon double, lat double",
    )
    a = df.select(F.col("id").alias("id_a"), "lon", "lat")
    b = df.select(F.col("id").alias("id_b"), "lon", "lat")
    rows = within_distance_join_meters(
        a, b, 200_000.0, lat_cap=84.0, self_pairs=True
    ).collect()
    # (1,2) found despite the wide lon gap; id 3 is beyond the cap ->
    # dropped from the contract
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["dist_m"] == pytest.approx(
        _hav_py(0.0, 83.5, 10.0, 83.5), rel=1e-12
    )


def test_banded_join_high_latitude_band_edges(spark):
    """Pairs straddling a band boundary (lat 6k +- eps at cap 84,
    band_w 6) and high-latitude wide-lon pairs are both captured; the
    out-of-cap point is dropped per contract."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    df = spark.createDataFrame(
        [
            (1, 0.0, 83.5),   # high lat, wide lon gap to 2
            (2, 10.0, 83.5),
            (3, 0.0, 84.9),   # beyond cap -> excluded
            (4, 50.0, 5.999), # band boundary straddle with 5
            (5, 50.0, 6.001),
        ],
        "id long, lon double, lat double",
    )
    a = df.select(F.col("id").alias("id_a"), "lon", "lat")
    b = df.select(F.col("id").alias("id_b"), "lon", "lat")
    rows = within_distance_join_meters(
        a, b, 200_000.0, lat_cap=84.0, self_pairs=True
    ).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in rows)
    assert got == [(1, 2), (4, 5)]


def test_banded_join_property_vs_brute_force(spark):
    """Property sweep: random (radius, lat_cap) combos across the
    accepted envelope, points biased onto band edges / the cap / the
    antimeridian, banded pair set == brute-force haversine pair set.
    Catches band-boundary and res-solve errors the fixed fixtures
    can't (e.g. the worst-lat clamp bug found during round 4)."""
    import math

    from osm_legal_default_speeds_spark.operators.spatial import (
        EARTH_RADIUS_M,
        within_distance_join_meters,
    )

    combos = [
        (1_000.0, 84.0),
        (25_000.0, 60.0),
        (150_000.0, 84.0),
        (400_000.0, 45.0),
        (900_000.0, 75.0),
        (2_000_000.0, 66.0),
    ]
    for ci, (radius, cap) in enumerate(combos):
        # inside the operator's acceptance envelope
        assert math.sin(radius / (2 * EARTH_RADIUS_M)) / math.cos(
            math.radians(cap)
        ) < 1.0
        r_deg = math.degrees(radius / EARTH_RADIUS_M)
        band_w = max(2.0 * r_deg, 6.0)
        pts = []
        i = 0
        # edge-biased lattice: band boundaries +- a hair, the cap, the
        # poles-adjacent exclusion zone, and the antimeridian
        edges = [-cap + k * band_w for k in range(int(2 * cap / band_w) + 1)]
        for e in edges:
            for dlat in (-1e-9, 0.0, 1e-9, -r_deg / 2, r_deg / 2):
                lat = e + dlat
                if abs(lat) <= 89.0:
                    h = (i * 2654435761 + ci * 40503) % 100000
                    lon = -180.0 + (h / 100000.0) * 360.0
                    pts.append((i, lon, lat)); i += 1
        for lat in (cap, -cap, cap + 1e-9, -(cap + 1e-9), cap - 1e-9):
            for lon in (-180.0, 179.999999, 0.0):
                pts.append((i, lon, lat)); i += 1
        df = spark.createDataFrame(pts, "id long, lon double, lat double")
        a = df.select(F.col("id").alias("id_a"), "lon", "lat")
        b = df.select(F.col("id").alias("id_b"), "lon", "lat")
        got = {
            (r["id_a"], r["id_b"])
            for r in within_distance_join_meters(
                a, b, radius, lat_cap=cap, self_pairs=True, with_dist=False
            ).collect()
        }
        capped = [p for p in pts if abs(p[2]) <= cap]
        want = {
            (ia, ib)
            for k, (ia, lon1, lat1) in enumerate(capped)
            for ib, lon2, lat2 in capped[k + 1 :]
            if _hav_py(lon1, lat1, lon2, lat2) <= radius
        }
        assert got == want, (radius, cap, len(got), len(want))


def test_haversine_join_rejects_unbounded_radius(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lon double, lat double")
    with pytest.raises(ValueError):
        within_distance_join_meters(df, df, 5_000_000.0, lat_cap=89.9)


# --------------------------------------------------------------------------
# plan-shape pins for the round-3 operators
# --------------------------------------------------------------------------

def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_tile_smooth_plan_two_partial_aggs_no_join(spark):
    df = spark.createDataFrame(
        _scatter(50, seed=5), "id long, lon double, lat double"
    )
    plan = _plan(tile_smooth(df, "lon", "lat", 5))
    # count rollup + kernel merge, both with map-side partial combine
    assert plan.count("partial_count") + plan.count("partial_sum") >= 2
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_polygon_overlay_plan_no_broadcast_no_cross(spark):
    la = polygons_to_df(spark, [_tri("A", 10.3, 10.3)])
    lb = polygons_to_df(spark, [_tri("B", 12.3, 12.3)])
    plan = _plan(polygon_overlay(la, lb, 6))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_simplify_lines_plan_no_shuffle(spark):
    _, df = _lines_fixture(spark, n_lines=5)
    plan = _plan(simplify_lines(df, 0.2))
    assert "Exchange" not in plan


def test_haversine_join_plan_shuffle_hash(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    df = spark.createDataFrame(
        _scatter(50, seed=6), "id long, lon double, lat double"
    )
    a = df.select(F.col("id").alias("id_a"), "lon", "lat")
    b = df.select(F.col("id").alias("id_b"), "lon", "lat")
    plan = _plan(within_distance_join_meters(a, b, 100_000.0, self_pairs=True))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# segment_components
# --------------------------------------------------------------------------

def _uf_components(segs, quantum=1e-6):
    """Independent union-find twin."""
    parent = {}

    def find(a):
        while parent.setdefault(a, a) != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    bynode = {}
    for sid, x0, y0, x1, y1 in segs:
        find(sid)
        for x, y in ((x0, y0), (x1, y1)):
            node = (
                math.floor(x / quantum + 0.5),
                math.floor(y / quantum + 0.5),
            )
            bynode.setdefault(node, []).append(sid)
    for sids in bynode.values():
        for s in sids[1:]:
            union(sids[0], s)
    return {s: find(s) for s in parent}


@pytest.fixture(scope="module")
def chain_segs(spark):
    segs = []
    for rid in range(60):
        hub = (float(rid % 7) * 3.0, float(rid % 7) * 1.5)
        prev = hub
        for k in range(rid % 3 + 1):
            nxt = (10.0 + rid * 0.61 + k * 0.25, -20.0 + rid * 0.37 + k * 0.1)
            segs.append((rid * 4 + k, prev[0], prev[1], nxt[0], nxt[1]))
            prev = nxt
    # one isolated segment far away
    segs.append((9999, 150.0, 70.0, 150.5, 70.5))
    df = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    return segs, df


def test_segment_components_matches_union_find(spark, chain_segs):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_components,
    )

    segs, df = chain_segs
    got = {
        r["seg_id"]: r["component"]
        for r in segment_components(df).collect()
    }
    assert got == _uf_components(segs)
    # 7 hub components + the isolated one
    assert len(set(got.values())) == 8
    assert got[9999] == 9999


def test_segment_components_quantization_welds_close_endpoints(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_components,
    )

    # endpoints 2e-7 deg apart (below quantum/2): welded; 2e-6: not
    df = spark.createDataFrame(
        [
            (1, 0.0, 0.0, 1.0, 1.0),
            (2, 1.0 + 2e-7, 1.0 - 2e-7, 2.0, 2.0),
            (3, 2.0 + 2e-6, 2.0 + 2e-6, 3.0, 3.0),
        ],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    got = {
        r["seg_id"]: r["component"]
        for r in segment_components(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3}


# --------------------------------------------------------------------------
# segment_intersections
# --------------------------------------------------------------------------

def _xing_py(a, b):
    """Independent parametric-intersection twin; None if parallel or
    outside [0,1]^2."""
    _, ax0, ay0, ax1, ay1 = a
    _, bx0, by0, bx1, by1 = b
    rx, ry = ax1 - ax0, ay1 - ay0
    sx, sy = bx1 - bx0, by1 - by0
    den = rx * sy - ry * sx
    if den == 0:
        return None
    t = ((bx0 - ax0) * sy - (by0 - ay0) * sx) / den
    u = ((bx0 - ax0) * ry - (by0 - ay0) * rx) / den
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return (ax0 + t * rx, ay0 + t * ry)
    return None


@pytest.fixture(scope="module")
def xing_segs(spark):
    segs = []
    for i, lon, lat in _scatter(120, seed=11, lo_lon=-60.0, hi_lon=60.0, lo_lat=-40.0, hi_lat=40.0):
        dlon = ((i % 9) - 4) * 1.7
        dlat = ((i % 7) - 3) * 1.3
        segs.append((i, lon, lat, lon + dlon, lat + dlat))
    df = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    return segs, df


def test_intersections_match_brute_force(spark, xing_segs):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_intersections,
    )

    segs, df = xing_segs
    got = {
        (r["id_a"], r["id_b"]): (r["ix"], r["iy"])
        for r in segment_intersections(df, res=6).collect()
    }
    want = {}
    for i, a in enumerate(segs):
        for b in segs[i + 1 :]:
            p = _xing_py(a, b)
            if p is not None:
                want[(a[0], b[0])] = p
    assert set(got) == set(want) and len(want) >= 30
    for k, (x, y) in want.items():
        assert got[k][0] == pytest.approx(x, abs=1e-12)
        assert got[k][1] == pytest.approx(y, abs=1e-12)


def test_intersections_goldens(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_intersections,
    )

    df = spark.createDataFrame(
        [
            (1, 0.0, -1.0, 0.0, 1.0),    # vertical
            (2, -1.0, 0.0, 1.0, 0.0),    # horizontal: proper X at origin
            (3, 0.0, 1.0, 5.0, 1.0),     # touches seg 1 at its endpoint
            (4, 10.0, 10.0, 12.0, 10.0), # collinear overlap with 5 -> excluded
            (5, 11.0, 10.0, 13.0, 10.0),
            (6, 20.0, 20.0, 29.0, 29.0), # long diagonals crossing mid-way:
            (7, 20.0, 29.0, 29.0, 20.0), # pair shares MANY cells -> one row
        ],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    rows = segment_intersections(df, res=6).collect()
    got = {(r["id_a"], r["id_b"]): (r["ix"], r["iy"]) for r in rows}
    assert len(rows) == len(got)  # no duplicate pair rows
    assert got[(1, 2)] == (0.0, 0.0)
    assert got[(1, 3)] == (0.0, 1.0)
    assert (4, 5) not in got
    assert got[(6, 7)] == (24.5, 24.5)


def test_intersections_plan_no_cross_product(spark, xing_segs):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_intersections,
    )

    _, df = xing_segs
    plan = _plan(segment_intersections(df, res=6))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# polygon_stats
# --------------------------------------------------------------------------

def test_polygon_stats_goldens(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        polygon_stats,
        polygons_to_df,
    )

    square_with_hole = PolygonBoundary(
        "SQ",
        (
            ((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)),
            ((4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)),
        ),
        priority=0,
    )
    tri = PolygonBoundary(
        "TR", (((0.0, 0.0), (4.0, 0.0), (0.0, 3.0)),), priority=1
    )
    [sq, tr] = sorted(
        polygon_stats(
            polygons_to_df(spark, [square_with_hole, tri])
        ).collect(),
        key=lambda r: r["region_code"],
    )
    assert sq["region_code"] == "SQ"
    assert sq["n_rings"] == 2 and sq["n_vertices"] == 8
    assert sq["area_deg2"] == pytest.approx(100.0 - 4.0)
    assert sq["perimeter_deg"] == pytest.approx(40.0 + 8.0)
    assert (sq["lon_min"], sq["lat_min"], sq["lon_max"], sq["lat_max"]) == (
        0.0, 0.0, 10.0, 10.0,
    )
    assert tr["n_rings"] == 1 and tr["n_vertices"] == 3
    assert tr["area_deg2"] == pytest.approx(6.0)
    assert tr["perimeter_deg"] == pytest.approx(12.0)


def test_intersections_reuse_exchange_over_file_source(spark, tmp_path):
    """Scale pin: over a FILE source the self-join's identical
    shuffle-hash sides must collapse to a ReusedExchange — the
    supercover explode + scan runs ONCE (private parquet copy: cache
    substitution by other tests would defeat stage reuse)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_intersections,
    )

    pdir = str(tmp_path / "segs")
    segs = []
    for i, lon, lat in _scatter(200, seed=12, lo_lon=-50.0, hi_lon=50.0, lo_lat=-30.0, hi_lat=30.0):
        segs.append((i, lon, lat, lon + ((i % 9) - 4) * 1.1, lat + ((i % 7) - 3) * 0.9))
    spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    ).write.parquet(pdir)
    df = segment_intersections(spark.read.parquet(pdir), res=6)
    df.collect()  # AQE finalizes the plan during execution
    plan = _plan(df)
    assert "ReusedExchange" in plan or "ReusedQueryStage" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


# --------------------------------------------------------------------------
# vector-tile sink
# --------------------------------------------------------------------------

def test_vector_tiles_round_trip_and_partition_invariance(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        decode_vector_tile,
        encode_vector_tiles,
        rasterize_segments,
    )

    segs = []
    for i, lon, lat in _scatter(80, seed=14, lo_lon=-40.0, hi_lon=40.0, lo_lat=-30.0, hi_lat=30.0):
        segs.append((i, lon, lat, lon + ((i % 9) - 4) * 1.3, lat + ((i % 7) - 3) * 0.8))
    df = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    tiles = {r["tile_id"]: r for r in encode_vector_tiles(df, 6).collect()}

    # decode inverts pack; features match the supercover assignment
    want = {}
    for r in rasterize_segments(df, 6).collect():
        want.setdefault(r["cell"], set()).add(r["seg_id"])
    geom = {s[0]: s for s in segs}
    assert set(tiles) == set(want)
    for tid, row in tiles.items():
        feats = decode_vector_tile(bytes(row["tile_blob"]))
        assert row["n_features"] == len(feats) == len(want[tid])
        assert row["byte_len"] == 8 + 40 * len(feats)
        assert feats == sorted(feats)
        for s, x0, y0, x1, y1 in feats:
            assert (s, x0, y0, x1, y1) == geom[s]

    # byte-identical under a different partitioning
    tiles2 = {
        r["tile_id"]: bytes(r["tile_blob"])
        for r in encode_vector_tiles(df.repartition(13), 6).collect()
    }
    assert {t: bytes(r["tile_blob"]) for t, r in tiles.items()} == tiles2


def _seg_corpora(n=90):
    """Deterministic old/new corpora exercising every changeset kind:
    removals (old-only), adds (new-only), moves (same sid, shifted —
    including across tiles), and a large unchanged majority."""
    base = []
    for i, lon, lat in _scatter(n, seed=21, lo_lon=-40.0, hi_lon=40.0, lo_lat=-30.0, hi_lat=30.0):
        base.append((i, lon, lat, lon + ((i % 9) - 4) * 1.3, lat + ((i % 7) - 3) * 0.8))
    old, new = [], []
    for s in base:
        i = s[0]
        if i % 11 == 3:
            old.append(s)  # removed in new
        elif i % 11 == 7:
            new.append(s)  # added in new
        elif i % 13 == 5:
            old.append(s)  # moved: whole-tile shift in new
            new.append((i, s[1] + 4.0, s[2] - 3.0, s[3] + 4.0, s[4] - 3.0))
        else:
            old.append(s)
            new.append(s)
    return old, new


def test_segment_changeset_classification(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_changeset,
    )

    old, new = _seg_corpora()
    schema = "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    od, nd = spark.createDataFrame(old, schema), spark.createDataFrame(new, schema)
    removed, upserted = segment_changeset(od, nd)
    rm = {r["seg_id"]: tuple(r)[1:] for r in removed.collect()}
    up = {r["seg_id"]: tuple(r)[1:] for r in upserted.collect()}
    oldg = {s[0]: s[1:] for s in old}
    newg = {s[0]: s[1:] for s in new}
    want_rm = {i: g for i, g in oldg.items() if newg.get(i) != g}
    want_up = {i: g for i, g in newg.items() if oldg.get(i) != g}
    assert rm == want_rm and up == want_up
    # all three kinds actually present in the fixture
    assert set(want_rm) - set(want_up)          # pure removals
    assert set(want_up) - set(want_rm)          # pure adds
    assert set(want_rm) & set(want_up)          # moves


@pytest.mark.parametrize("clip", [False, True])
def test_incremental_tiles_equal_full_rebuild(spark, clip):
    """The headline invariant: changeset-applied tiles are
    BIT-IDENTICAL (blob bytes, counts, byte lengths) to a full
    re-encode of the new corpus — emptied tiles dropped, fresh tiles
    created, moved segments cleaned from their old tiles."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
        rebuild_changed_tiles,
        segment_changeset,
    )

    old, new = _seg_corpora()
    schema = "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    od, nd = spark.createDataFrame(old, schema), spark.createDataFrame(new, schema)
    res = 6
    old_tiles = encode_vector_tiles(od, res, clip=clip)
    removed, upserted = segment_changeset(od, nd)
    got = {
        r["tile_id"]: (r["n_features"], r["byte_len"], bytes(r["tile_blob"]))
        for r in rebuild_changed_tiles(
            old_tiles, removed, upserted, res, clip=clip
        ).collect()
    }
    want = {
        r["tile_id"]: (r["n_features"], r["byte_len"], bytes(r["tile_blob"]))
        for r in encode_vector_tiles(nd, res, clip=clip).collect()
    }
    assert got == want
    # the changeset really exercised tile birth and death
    old_ids = {r["tile_id"] for r in old_tiles.select("tile_id").collect()}
    assert set(want) - old_ids and old_ids - set(want)


def test_incremental_tiles_empty_changeset_is_identity(spark):
    """No diff -> the tile table passes through untouched (and the
    bulk-changeset fallback path produces the same result)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
        rebuild_changed_tiles,
    )

    old, _ = _seg_corpora()
    schema = "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    od = spark.createDataFrame(old, schema)
    empty = spark.createDataFrame([], schema)
    tiles = encode_vector_tiles(od, 6, clip=True)
    want = {
        r["tile_id"]: (r["n_features"], r["byte_len"], bytes(r["tile_blob"]))
        for r in tiles.collect()
    }
    for bc in (True, False):
        got = {
            r["tile_id"]: (r["n_features"], r["byte_len"], bytes(r["tile_blob"]))
            for r in rebuild_changed_tiles(
                tiles, empty, empty, 6, clip=True, broadcast_dirty=bc
            ).collect()
        }
        assert got == want, bc


def test_incremental_tiles_plan_never_shuffles_old_tiles(spark):
    """Scale pin: the corpus-sized old_tiles side must reach both its
    joins via broadcast of the DIRTY set — no Exchange may sit between
    the old_tiles parquet scan and its joins."""
    import os

    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
        rebuild_changed_tiles,
        segment_changeset,
    )

    old, new = _seg_corpora()
    schema = "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    od, nd = spark.createDataFrame(old, schema), spark.createDataFrame(new, schema)
    tdir = os.path.join(
        spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
        "inc_tiles_pin",
    )
    encode_vector_tiles(od, 6, clip=True).write.mode("overwrite").parquet(tdir)
    old_tiles = spark.read.parquet(tdir)
    removed, upserted = segment_changeset(od, nd)
    out = rebuild_changed_tiles(old_tiles, removed, upserted, 6, clip=True)
    out.collect()  # AQE finalizes
    plan = _plan(out)
    # judge only the FINAL (post-AQE) plan: stats-less checkpointed
    # intermediates plan as sort-merge initially and AQE converts them
    # to broadcast — the "== Initial Plan ==" section is not what runs
    plan = plan.split("== Initial Plan ==")[0]
    # two broadcast joins against the dirty set (inner fetch + anti carry)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan

    def _indent(line: str) -> int:
        for i, ch in enumerate(line):
            if ch not in " :+-*(0123456789)":
                return i
        return len(line)

    # ancestor walk: between each scan of the persisted tile table and
    # the FIRST join above it (where corpus-sized rows are reduced to
    # the dirty set) there must be no shuffle Exchange — the corpus
    # side is broadcast-joined in place, never repartitioned. Above
    # that join, rows are changeset-sized and exchanges are fine.
    lines = plan.splitlines()
    scan_idxs = [
        i
        for i, ln in enumerate(lines)
        if "Scan parquet" in ln or "FileScan parquet" in ln
    ]
    assert scan_idxs, plan[:2000]
    for si in scan_idxs:
        depth = _indent(lines[si])
        for j in range(si - 1, -1, -1):
            d = _indent(lines[j])
            if d < depth:
                if "Join" in lines[j]:
                    break
                assert "Exchange hashpartitioning" not in lines[j], lines[j]
                depth = d
    from osm_legal_default_speeds_spark.operators.spatial import (
        decode_vector_tile,
    )

    with pytest.raises(ValueError):
        decode_vector_tile(b"XXXX\x00\x00\x00\x00")
    with pytest.raises(ValueError):
        decode_vector_tile(b"VT01\x01\x00\x00\x00" + b"\x00" * 39)


# --------------------------------------------------------------------------
# clip_segments
# --------------------------------------------------------------------------

def test_clip_segments_continuity_and_cell_parity(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        clip_segments,
        rasterize_segments,
    )

    segs = []
    for i, lon, lat in _scatter(60, seed=15, lo_lon=-50.0, hi_lon=50.0, lo_lat=-35.0, hi_lat=35.0):
        segs.append((i, lon, lat, lon + ((i % 9) - 4) * 1.9, lat + ((i % 7) - 3) * 1.4))
    df = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    res = 6
    clips = {}
    for r in clip_segments(df, res).collect():
        clips.setdefault(r["seg_id"], []).append(
            (r["seq"], r["cell"], r["clip_lon0"], r["clip_lat0"], r["clip_lon1"], r["clip_lat1"])
        )
    cells = {}
    for r in rasterize_segments(df, res).collect():
        cells.setdefault(r["seg_id"], []).append((r["seq"], r["cell"]))
    geom = {s[0]: s for s in segs}
    for sid, cl in clips.items():
        cl.sort()
        _, x0, y0, x1, y1 = geom[sid]
        # endpoints exact
        assert (cl[0][2], cl[0][3]) == (x0, y0)
        assert (cl[-1][4], cl[-1][5]) == (x1, y1)
        # seamless: every clip starts where the previous one ended
        for a, b in zip(cl, cl[1:]):
            assert (a[4], a[5]) == (b[2], b[3])
        # order-deduped clip cells == supercover cells
        seen, order = set(), []
        for _, c, *_ in cl:
            if c not in seen:
                seen.add(c)
                order.append(c)
        assert order == [c for _, c in sorted(cells[sid])]


# --------------------------------------------------------------------------
# geohash
# --------------------------------------------------------------------------

def test_geohash_known_vectors_and_twin(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        geohash,
        geohash_py,
    )

    # published reference vectors (geohash.org examples)
    cases = [
        (10.40744, 57.64911, 8, "u4pruydq"),
        (-5.6, 42.6, 5, "ezs42"),
    ]
    for lon, lat, p, want in cases:
        assert geohash_py(lon, lat, p) == want
    pts = _scatter(200, seed=17, lo_lat=-89.9, hi_lat=89.9)
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    for p in (1, 5, 8, 12):
        got = {
            r["id"]: r["g"]
            for r in df.select(
                "id", geohash(F.col("lon"), F.col("lat"), p).alias("g")
            ).collect()
        }
        assert got == {i: geohash_py(lon, lat, p) for i, lon, lat in pts}
    # hierarchy: higher precision refines (prefix property)
    g4 = {r["id"]: r["g"] for r in df.select("id", geohash(F.col("lon"), F.col("lat"), 4).alias("g")).collect()}
    g8 = {r["id"]: r["g"] for r in df.select("id", geohash(F.col("lon"), F.col("lat"), 8).alias("g")).collect()}
    assert all(g8[i].startswith(g4[i]) for i in g4)
    with pytest.raises(ValueError):
        geohash(F.col("lon"), F.col("lat"), 13)


def test_vector_tiles_clipped_geometry(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        clip_segments,
        decode_vector_tile,
        encode_vector_tiles,
    )

    segs = []
    for i, lon, lat in _scatter(50, seed=16, lo_lon=-40.0, hi_lon=40.0, lo_lat=-30.0, hi_lat=30.0):
        segs.append((i, lon, lat, lon + ((i % 9) - 4) * 1.7, lat + ((i % 7) - 3) * 1.1))
    df = spark.createDataFrame(
        segs, "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )
    res = 6
    tiles = {r["tile_id"]: r for r in encode_vector_tiles(df, res, clip=True).collect()}
    want = {}
    for r in clip_segments(df, res).collect():
        want.setdefault(r["cell"], []).append(
            (r["seg_id"], r["clip_lon0"], r["clip_lat0"], r["clip_lon1"], r["clip_lat1"])
        )
    assert set(tiles) == set(want)
    for tid, row in tiles.items():
        feats = decode_vector_tile(bytes(row["tile_blob"]))
        assert feats == sorted(want[tid])
        assert row["n_features"] == len(want[tid])


# --------------------------------------------------------------------------
# quadkey_cell / tile_hotspots (round 4)
# --------------------------------------------------------------------------

def test_quadkey_prefix_property_and_hemisphere(spark):
    """A cell's quadkey at res r starts with its quadkey at every
    coarser res (the prefix-range property that makes string keys
    spatial windows), and the leading digit is the hemisphere bit."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        quadkey_cell,
    )

    pts = spark.createDataFrame(
        [(i, -179.9 + i * 17.3 % 360 - 0.05, -84.0 + (i * 7.7) % 168)
         for i in range(200)],
        "id long, lon double, lat double",
    )
    row = pts.select(
        "lon",
        *[quadkey_cell(F.col("lon"), F.col("lat"), r).alias(f"q{r}")
          for r in (3, 5, 7)],
    ).collect()
    for r_ in row:
        assert len(r_["q3"]) == 4 and len(r_["q5"]) == 6 and len(r_["q7"]) == 8
        assert r_["q7"].startswith(r_["q5"]) and r_["q5"].startswith(r_["q3"])
        assert r_["q3"][0] == ("0" if r_["lon"] < 0 else "1")
        assert set(r_["q7"]) <= set("0123")


def test_tile_hotspots_local_maximum_semantics(spark):
    """Planted density field: one dominant peak, one equal-count tie
    pair (smaller cell id wins), one isolated cell."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_cell_py,
        grid_neighbors_py,
        tile_hotspots,
    )

    res = 5
    # cell centers: res 5 -> nx=64 (5.625 deg), ny=32 (5.625 deg)
    def center(cx, cy):
        return (-180.0 + (cx + 0.5) * 360.0 / 64, -90.0 + (cy + 0.5) * 180.0 / 32)

    rows = []
    rid = 0

    def add(cx, cy, n):
        nonlocal rid
        lon, lat = center(cx, cy)
        for _ in range(n):
            rows.append((rid, lon, lat))
            rid += 1

    add(10, 10, 9)   # peak
    add(11, 10, 4)   # shoulder (suppressed by peak)
    add(20, 20, 5)   # tie pair: same count, adjacent
    add(21, 20, 5)
    add(40, 5, 3)    # isolated
    pts = spark.createDataFrame(rows, "road_id long, lon double, lat double")
    got = {r["cell"]: r["n_points"] for r in tile_hotspots(pts, res=res, min_count=2).collect()}

    peak = grid_cell_py(*center(10, 10), res)
    shoulder = grid_cell_py(*center(11, 10), res)
    tie_a = grid_cell_py(*center(20, 20), res)
    tie_b = grid_cell_py(*center(21, 20), res)
    iso = grid_cell_py(*center(40, 5), res)
    # sanity: the planted pairs really are 1-ring neighbors
    assert shoulder in grid_neighbors_py(peak, res)
    assert tie_b in grid_neighbors_py(tie_a, res)
    assert got[peak] == 9 and shoulder not in got
    assert got[iso] == 3
    winner = min(tie_a, tie_b)
    assert got[winner] == 5 and max(tie_a, tie_b) not in got


# --------------------------------------------------------------------------
# round-5 review regressions: reserved names, tie-breaks, packing guards
# --------------------------------------------------------------------------

def test_assign_jurisdiction_preserves_user_cell_columns(spark):
    """The broadcast-index joins must not clobber a caller's own
    cell/candidates/cands columns (DataFrame.drop removes EVERY column
    of that name) — a grid-encoded upstream naturally carries 'cell'."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        assign_jurisdiction,
        assign_jurisdiction_polygons,
        knn_assign_via_index,
    )

    bounds = [RectBoundary("AA", 0.0, 0.0, 10.0, 10.0, 0)]
    polys = [
        PolygonBoundary(
            "AA", [[(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]], 0
        )
    ]
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0, 999, "keep-me", "mine")],
        "pid long, lon double, lat double, cell long, candidates string, "
        "cands string",
    )
    for out in (
        assign_jurisdiction(pts, bounds),
        assign_jurisdiction_polygons(pts, polys),
        knn_assign_via_index(pts, bounds),
    ):
        row = out.collect()[0]
        assert row["cell"] == 999
        assert row["candidates"] == "keep-me"
        assert row["cands"] == "mine"
        assert row[out.columns[-1]] == "AA"  # region still assigned


def test_pip_paths_agree_on_equal_priority_overlap(spark):
    """assign_jurisdiction (array_min over the candidate struct) and
    resolve_jurisdiction (the same PIP join plus the nearest-boundary
    fallback) must resolve equal-priority overlapping rectangles
    identically — smallest (priority, region_code, ...)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        RectBoundary,
        assign_jurisdiction,
        resolve_jurisdiction,
    )

    bounds = [
        RectBoundary("BB", 0.0, 0.0, 10.0, 10.0, 0),
        RectBoundary("AA", 5.0, 5.0, 15.0, 15.0, 0),  # overlaps BB
    ]
    pts = spark.createDataFrame(
        [(1, 7.0, 7.0), (2, 2.0, 2.0), (3, 12.0, 12.0)],
        "pid long, lon double, lat double",
    )
    for op in (assign_jurisdiction, resolve_jurisdiction):
        got = {r["pid"]: r["region_code"] for r in op(pts, bounds).collect()}
        assert got == {1: "AA", 2: "BB", 3: "AA"}, op.__name__


def test_quantize_node_rejects_overflowing_quantum(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_components,
    )

    segs = spark.createDataFrame(
        [(1, 0.0, 0.0, 1.0, 1.0)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    with pytest.raises(ValueError, match="overflows the node packing"):
        segment_components(segs, quantum=1e-7).collect()
    with pytest.raises(ValueError, match="positive"):
        segment_components(segs, quantum=0.0).collect()


def test_vector_tiles_pack_negative_seg_id(spark):
    """seg_id is a signed long; the 40-byte feature record must pack
    and round-trip negative ids instead of aborting the task with
    struct.error."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        decode_vector_tile,
        encode_vector_tiles,
    )

    segs = spark.createDataFrame(
        [(-5, 1.0, 1.0, 1.1, 1.1), (7, 1.0, 1.0, 1.1, 1.1)],
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double",
    )
    tiles = encode_vector_tiles(segs, res=5, clip=False).collect()
    ids = {
        f[0]
        for t in tiles
        for f in decode_vector_tile(bytes(t["tile_blob"]))
    }
    assert ids == {-5, 7}


def test_within_meters_polar_rows_dropped_mapside(spark):
    """|lat| > lat_cap rows are out of contract; they must produce no
    pairs AND no probe fan-out rows (the explode yields zero rows for
    them instead of 9 shuffled cells killed post-join)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    pts = spark.createDataFrame(
        [(1, 10.0, 89.0), (2, 10.0, 89.0), (3, 10.0, 50.0), (4, 10.001, 50.0)],
        "pid long, lon double, lat double",
    )
    got = sorted(
        (r["pid_a"], r["pid_b"])
        for r in within_distance_join_meters(
            pts.selectExpr("pid AS pid_a", "lon", "lat"),
            pts.selectExpr("pid AS pid_b", "lon", "lat"),
            radius_m=1000.0,
            left_id="pid_a",
            right_id="pid_b",
            self_pairs=True,
        ).collect()
    )
    # polar points 1/2 excluded even though they are 0 m apart
    assert got == [(3, 4)]
