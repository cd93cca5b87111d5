"""Spatial layer: hierarchical grid index, point-in-polygon
jurisdiction selection, kNN border resolution, tile assignment.

This is the graft extension (BASELINE.json north rule): every
geo-tagged row is grid-encoded, PIP-tested against broadcast
country/subdivision boundary polygons to select the legal-speed
jurisdiction, kNN-matched to the nearest boundary for points that fall
in no polygon (border/ocean cells), and raster tiles are assigned per
grid cell with explicit skew-aware salting.

Design notes (scale-first):

- **Grid scheme.** An H3/S2-style hierarchical index, but rectangular
  (equirectangular quadtree) so that every cell function is a pure
  integer expression: cell(lon, lat, res) with 2^(res+1) x 2^res cells.
  Pure-arithmetic cells keep the whole encode/parent/neighbor algebra
  inside whole-stage codegen (no UDF, no library), and make results
  reproducible in any SQL engine (the DuckDB oracle).
  **Known deviation from H3/S2**: equirectangular cells are NOT
  equal-area — cell area shrinks by cos(lat) toward the poles, so
  uniform-on-sphere data loads equatorial tiles ~2x harder at 60 deg
  latitude. Where tile-load uniformity matters, use the exact
  equal-area cell ``grid_cell_ea`` (Lambert cylindrical bands: uniform
  in lon x sin(lat)) or ``hex_cell`` in place of ``assign_tiles``'
  ``grid_cell``; the salted two-phase rollup absorbs residual skew
  either way.
- **PIP join.** Boundaries are a small dim table (10^2..10^5 rows):
  precompute each polygon's covering cells at a coarse resolution on
  the driver, explode to a cell->polygon index, **broadcast** it, and
  equi-join fact rows on their coarse cell — candidates then pass an
  exact containment test. The fact table never shuffles.
- **kNN fallback.** Points in no polygon take the nearest boundary by
  clamped point-to-rectangle distance; with a broadcast dim this is a
  map-side argmin (min_by), again shuffle-free.
- **Tiling + salting.** Tile assignment is deterministic
  (cell at tile_res). Per-tile aggregation is the one genuine shuffle;
  hot cells (megacities) are Zipfian, so the rollup is two-phase:
  groupBy(tile, salt) partial -> groupBy(tile) merge. AQE handles
  residual skew.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from osm_legal_default_speeds_spark.sources.local_table import local_table_df


# --------------------------------------------------------------------------
# Grid index (native integer algebra — codegen'd, SQL-portable)
# --------------------------------------------------------------------------

def _check_grid_res(res: int) -> None:
    # res=-1 would already die on Python's negative shift, but beyond
    # ~30 the packed cell id (x * ny + y, up to 2^(2*res+1)) silently
    # overflows int64 Column arithmetic — wrong cells, no error
    if not 0 <= res <= 30:
        raise ValueError(f"grid res must be in [0, 30], got {res}")


def grid_nx(res: int) -> int:
    _check_grid_res(res)
    return 1 << (res + 1)


def grid_ny(res: int) -> int:
    _check_grid_res(res)
    return 1 << res


def grid_cell_xy(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    nx, ny = grid_nx(res), grid_ny(res)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(ny))
    # clamp the lat/lon == +max edge into the last cell
    x = F.least(F.greatest(x, F.lit(0)), F.lit(nx - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(ny - 1))
    return x, y


def grid_cell(lon: Column, lat: Column, res: int) -> Column:
    """cell_id = x * 2^res + y  (bigint; res fixed per column).

    NULL caveat: the edge clamp uses greatest/least, which SKIP nulls,
    so a null coordinate lands in cell (0, 0) rather than propagating
    null — callers that must distinguish "no geography" gate on
    coordinate nullness first (see sampling.spatial_split)."""
    x, y = grid_cell_xy(lon, lat, res)
    return (x * F.lit(grid_ny(res)) + y).cast("long")


def grid_xy_cont(lon: Column | str, lat: Column | str, res: int) -> tuple[Column, Column]:
    """CONTINUOUS (unfloored) grid coordinates of a point at ``res`` —
    the single definition of the lon/lat -> grid transform that
    ``grid_cell_xy`` floors and every supercover/clip/snap/tile
    operator feeds to ``segment_cells``. One helper, not per-site
    closures: the supercover-completeness lemmas assume the probe cell
    and the supercover cells come from the IDENTICAL transform, so a
    drift between copies would silently break candidate capture."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    nx, ny = grid_nx(res), grid_ny(res)
    return (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx), (
        lat + F.lit(90.0)
    ) / F.lit(180.0) * F.lit(ny)


def segment_grid_coords(
    lon0: str, lat0: str, lon1: str, lat1: str, res: int
) -> tuple[Column, Column, Column, Column]:
    """Both endpoints of a segment through :func:`grid_xy_cont` —
    (x0, y0, x1, y1), the argument shape :func:`segment_cells` takes."""
    x0, y0 = grid_xy_cont(lon0, lat0, res)
    x1, y1 = grid_xy_cont(lon1, lat1, res)
    return x0, y0, x1, y1


def cell_xy(cell: Column, res: int) -> tuple[Column, Column]:
    """Integer-exact (x, y) decode of a cell id. Double division
    ``floor(cell / ny)`` can round the quotient up past the true floor
    near the res cap (cell ~ 2^41), so recover y from the exact
    remainder first; the remaining division is exactly divisible and
    therefore exact in IEEE double."""
    ny = grid_ny(res)
    y = F.pmod(cell, F.lit(ny)).cast("long")
    x = ((cell - y) / F.lit(ny)).cast("long")
    return x, y


def grid_parent(cell: Column, res: int) -> Column:
    """Parent cell id at res-1."""
    x, y = cell_xy(cell, res)
    px = (x / 2).cast("long")  # exact: power-of-two division
    py = (y / 2).cast("long")
    return (px * F.lit(grid_ny(res - 1)) + py).cast("long")


# Z-order (Morton) clustering key — the write-layout companion to the
# grid index: interleaving the cell x/y bits makes lexicographically
# adjacent keys spatially adjacent, so range-partitioning parquet/
# Iceberg writes by the key gives every file a tight lon/lat bounding
# box and min/max column stats prune spatial predicates at the scan
# (the public technique behind Delta/Iceberg Z-ORDER clustering). Pure
# integer bit-math -> bit-identical in the DuckDB twin.

_Z_SPREAD = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _zspread(v: Column) -> Column:
    """Spread the low 32 bits of v so bit i lands at bit 2i (classic
    magic-mask dilation; every mask is positive, so signed-long
    semantics agree across engines)."""
    for shift, mask in _Z_SPREAD:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def zorder_key(x: Column, y: Column) -> Column:
    """Morton interleave of two non-negative ints (< 2^31): bit i of x
    lands at bit 2i, of y at 2i+1."""
    return _zspread(x.cast("long")).bitwiseOR(
        F.shiftleft(_zspread(y.cast("long")), 1)
    )


def zorder_cell(lon: Column, lat: Column, res: int) -> Column:
    """Z-order key of the grid cell at ``res`` (same x/y clamping as
    ``grid_cell``; a DIFFERENT id space — interleaved, not
    ``x * 2^res + y``). ``key >> 2`` is the enclosing quadrant one
    level coarser, so prefix ranges are spatial windows."""
    x, y = grid_cell_xy(lon, lat, res)
    return zorder_key(x, y)


def quadkey_cell(lon: Column, lat: Column, res: int) -> Column:
    """Bing-maps-style base-4 prefix key of the grid cell at ``res``:
    the Morton key rendered as ``res + 1`` digits MSB-first (this grid
    is 2:1 — nx = 2*ny — so the leading digit is x's hemisphere bit,
    always '0' or '1'). Prefix property: every cell's quadkey starts
    with each ancestor's quadkey, so string PREFIX ranges are spatial
    windows — the string twin of the integer z-order key for systems
    that key on strings (object-store key layouts, ``LIKE 'qk%'``
    partition pruning). Pure integer/concat algebra, codegen'd,
    bit-identical in the DuckDB twin."""
    z = zorder_cell(lon, lat, res)
    digits = [
        F.shiftrightunsigned(z, 2 * (res - i))
        .bitwiseAND(F.lit(3))
        .cast("string")
        for i in range(res + 1)
    ]
    return F.concat(*digits)


def tile_hotspots(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 5,
    min_count: int = 1,
) -> DataFrame:
    """Local-maximum hotspot cells: cells whose point count strictly
    beats every 1-ring neighbor (non-max suppression, the raster
    peak-detection step after a density rollup; ties break toward the
    smaller cell id so the result is deterministic). Returns
    (cell, n_points).

    Scale shape: groupBy(cell) count (one shuffle, map-side combine)
    -> each occupied cell SCATTERS its count to its <= 8 neighbors
    (neighbor_cells explode — O(occupied cells), never row-scale) ->
    max-competitor aggregate per target cell -> join back to counts on
    the SAME key, so the join reuses the groupBys' hash partitioning
    (no extra exchange). Cells with no occupied neighbor are hotspots
    by definition (left join, null competitor)."""
    counts = df.groupBy(
        grid_cell(F.col(lon_col), F.col(lat_col), res).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    scattered = (
        counts.select(
            F.col("cell").alias("src"),
            F.col("n"),
            F.explode(neighbor_cells(F.col("cell"), res, 1)).alias("cell"),
        )
        .where(F.col("cell") != F.col("src"))
    )
    best = scattered.groupBy("cell").agg(
        F.max(
            F.struct(F.col("n").alias("n"), (-F.col("src")).alias("tie"))
        ).alias("best")
    )
    mine = F.struct(F.col("n").alias("n"), (-F.col("cell")).alias("tie"))
    # SHUFFLE_HASH, not broadcast: both sides are already
    # hash-partitioned by cell from their groupBys, and the competitor
    # side is O(occupied cells) — unbounded at high res, so letting
    # Spark broadcast it is a scale hazard
    return (
        counts.join(best.hint("shuffle_hash"), "cell", "left")
        .where(
            (F.col("n") >= min_count)
            & (F.col("best").isNull() | (mine > F.col("best")))
        )
        .select("cell", F.col("n").alias("n_points"))
    )


def grid_cell_ea(lon: Column, lat: Column, res: int) -> Column:
    """EQUAL-AREA cell id: longitude uniform x ``sin(lat)`` uniform
    (Lambert cylindrical equal-area bands). Every cell covers the same
    sphere area exactly, unlike the plain equirectangular grid whose
    cells shrink by cos(lat) toward the poles (at 60 deg latitude a cell
    holds half the area, so uniform-on-sphere data makes equatorial
    tiles ~2x hotter). This is the public-knowledge substitute for
    H3/S2's equal-area property (no h3 lib in this environment) while
    keeping the whole encode inside codegen; ids share the
    ``x * 2^res + y`` layout but are a DIFFERENT id space from
    ``grid_cell`` — don't mix them in one column."""
    nx, ny = grid_nx(res), grid_ny(res)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(nx))
    y = F.floor(
        (F.sin(F.radians(lat)) + F.lit(1.0)) / F.lit(2.0) * F.lit(ny)
    )
    x = F.least(F.greatest(x, F.lit(0)), F.lit(nx - 1))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(ny - 1))
    return (x * F.lit(ny) + y).cast("long")


def grid_cell_ea_py(lon: float, lat: float, res: int) -> int:
    import math

    nx, ny = grid_nx(res), grid_ny(res)
    x = int((lon + 180.0) / 360.0 * nx)
    y = int((math.sin(math.radians(lat)) + 1.0) / 2.0 * ny)
    x = min(max(x, 0), nx - 1)
    y = min(max(y, 0), ny - 1)
    return x * ny + y


def grid_cell_py(lon: float, lat: float, res: int) -> int:
    nx, ny = grid_nx(res), grid_ny(res)
    x = int((lon + 180.0) / 360.0 * nx)
    y = int((lat + 90.0) / 180.0 * ny)
    x = min(max(x, 0), nx - 1)
    y = min(max(y, 0), ny - 1)
    return x * ny + y


def neighbor_cells(cell: Column, res: int, k: int = 1) -> Column:
    """Native k-ring: sorted distinct neighbor cell ids (including the
    cell itself); longitude wraps, latitude clamps (edge rows simply
    have fewer neighbors). Pure integer Column algebra — the
    'explode of precomputed neighbor array' candidate generator for
    neighborhood joins (adjacent-tile lookups, border smoothing)
    without any library or UDF. Matches ``grid_neighbors_py``."""
    nx, ny = grid_nx(res), grid_ny(res)
    x, y = cell_xy(cell, res)
    exprs = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            yy = y + dy
            xx = F.pmod(x + dx, F.lit(nx))
            nid = (xx * ny + yy).cast("long")
            exprs.append(F.when((yy >= 0) & (yy < ny), nid))
    return F.array_sort(
        F.array_distinct(F.filter(F.array(*exprs), lambda c: c.isNotNull()))
    )


def grid_neighbors_py(cell: int, res: int, k: int = 1) -> list[int]:
    """k-ring neighborhood (including the cell itself); lon wraps,
    lat clamps."""
    nx, ny = grid_nx(res), grid_ny(res)
    x, y = divmod(cell, ny)
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            yy = y + dy
            if yy < 0 or yy >= ny:
                continue
            xx = (x + dx) % nx
            out.append(xx * ny + yy)
    return sorted(set(out))


# --------------------------------------------------------------------------
# Boundaries: axis-aligned rectangles are the fast path (one comparison
# per edge); general polygons — concave, holed — live below as
# PolygonBoundary with a native even-odd ray cast over packed vertex
# arrays in the same broadcast cell-index join shape.
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class RectBoundary:
    region_code: str  # country or CC-SUB subdivision code
    lon_min: float
    lat_min: float
    lon_max: float
    lat_max: float
    priority: int = 0  # lower wins on overlap (subdivision < country)

    def covering_cells(self, res: int) -> list[int]:
        nx, ny = grid_nx(res), grid_ny(res)
        x0 = min(max(int((self.lon_min + 180.0) / 360.0 * nx), 0), nx - 1)
        x1 = min(max(int((self.lon_max + 180.0) / 360.0 * nx), 0), nx - 1)
        y0 = min(max(int((self.lat_min + 90.0) / 180.0 * ny), 0), ny - 1)
        y1 = min(max(int((self.lat_max + 90.0) / 180.0 * ny), 0), ny - 1)
        return [x * ny + y for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]


_RECT_INDEX_DDL = (
    "cell long, candidates array<struct<priority:int, region_code:string, "
    "lon_min:double, lat_min:double, lon_max:double, lat_max:double>>"
)


def boundary_cell_index_df(spark, boundaries: list[RectBoundary], res: int) -> DataFrame:
    """Driver-side cell -> candidate-polygon-array coverage index (the
    broadcast side of the PIP join). One row per covered cell, with all
    candidate polygons packed in an array — so the fact-side join adds
    exactly one column and never multiplies rows. Built as an Arrow
    local relation (``local_table_df``): the plan holds the rows, so a
    query that broadcasts the index does not unpickle it again (about
    0.2-0.3 s per query for 6,919 rows at res 6 over 250 boundaries)."""
    return _cell_index_df(
        spark, boundaries, res,
        lambda b: {
            "priority": b.priority,
            "region_code": b.region_code,
            "lon_min": b.lon_min,
            "lat_min": b.lat_min,
            "lon_max": b.lon_max,
            "lat_max": b.lat_max,
        },
        _RECT_INDEX_DDL,
    )


def _cell_index_df(spark, boundaries, res: int, candidate, ddl: str) -> DataFrame:
    """The ``by_cell`` grouping both PIP indexes share: one row per
    covered cell holding ``candidate(b)`` for every boundary ``b`` that
    covers it, as an Arrow local relation of schema ``ddl``."""
    by_cell: dict[int, list] = {}
    for b in boundaries:
        cand = candidate(b)
        for cell in b.covering_cells(res):
            by_cell.setdefault(cell, []).append(cand)
    return local_table_df(spark, list(by_cell.items()), ddl)


# --------------------------------------------------------------------------
# PIP jurisdiction assignment
# --------------------------------------------------------------------------

def _pip_join(
    points: DataFrame,
    boundaries: list,
    build_index,
    contains,
    lon_col: str,
    lat_col: str,
    out_col: str,
    index_res: int,
    arg: str,
) -> DataFrame:
    """The broadcast PIP join both boundary kinds share: cell-index
    equi-join, ``contains(lon, lat, candidate)`` filter inside the
    candidate array, (priority, region_code) winner via array_min. An
    empty ``boundaries`` raises ``ValueError`` naming ``arg`` on the
    driver: it would give every point a NULL region."""
    if not boundaries:
        raise ValueError(
            f"{arg} is empty; with no boundaries every point's region "
            "would be NULL"
        )
    # the index columns are RENAMED to reserved names before the join:
    # drop("cell") would otherwise remove a caller's own cell/candidates
    # column (DataFrame.drop drops every column of that name)
    idx = F.broadcast(
        build_index(points.sparkSession, boundaries, index_res)
        .withColumnRenamed("cell", "__pip_icell")
        .withColumnRenamed("candidates", "__pip_cands")
    )
    lon, lat = F.col(lon_col), F.col(lat_col)
    pts = points.withColumn("__pip_cell", grid_cell(lon, lat, index_res))
    joined = pts.join(
        idx, F.col("__pip_cell") == F.col("__pip_icell"), "left"
    )
    winner = F.array_min(
        F.filter(F.col("__pip_cands"), lambda c: contains(lon, lat, c))
    )
    return joined.withColumn(out_col, winner.getField("region_code")).drop(
        "__pip_icell", "__pip_cands", "__pip_cell"
    )


def assign_jurisdiction(
    points: DataFrame,
    boundaries: list[RectBoundary],
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "region_code",
    index_res: int = 6,
) -> DataFrame:
    """Broadcast PIP join: coarse-cell equi-join against the
    cell -> candidate-array index, exact containment filter inside the
    array, min(priority) winner via array_min. Points matching no
    polygon keep out_col null (``resolve_jurisdiction`` fills them
    from the nearest boundary).

    Scale shape: fact side is map-only — one broadcast hash join adding
    one array column, zero row multiplication, zero shuffle, winner
    selection fully inside codegen'd array expressions. An empty
    ``boundaries`` raises ``ValueError`` on the driver.
    """
    return _pip_join(
        points, boundaries, boundary_cell_index_df,
        lambda lon, lat, c: (
            (lon >= c.getField("lon_min"))
            & (lon < c.getField("lon_max"))
            & (lat >= c.getField("lat_min"))
            & (lat < c.getField("lat_max"))
        ),
        lon_col, lat_col, out_col, index_res, "assign_jurisdiction: boundaries",
    )


def _rect_dist(b: RectBoundary, lon: Column, lat: Column) -> Column:
    dx = F.greatest(F.lit(b.lon_min) - lon, lon - F.lit(b.lon_max), F.lit(0.0))
    dy = F.greatest(F.lit(b.lat_min) - lat, lat - F.lit(b.lat_max), F.lit(0.0))
    return dx * dx + dy * dy


def knn_region_column(
    boundaries: list[RectBoundary], lon: Column, lat: Column
) -> Column:
    """Nearest boundary by clamped point-to-rectangle distance: the
    flat reference that ``knn_assign_via_index`` is checked against
    (exact argmin over every boundary — map-side, no shuffle, but the
    expression grows with the boundary count, so pipelines use the
    index). Distance ties break by region_code ascending for
    determinism: ``array_min`` over (distance, code) structs IS
    min-by-(d, code).

    Expression size is LINEAR in the boundary count. The previous
    when-fold formulation compared every distance against a duplicated
    ``least(*dists)`` subtree — O(n^2) expression nodes, which blew
    Janino's 64KB method limit at 13 boundaries; the failed compile +
    interpreter fallback was silently re-paid on every action
    (seconds per run, visible only in the executor logs)."""
    ordered = sorted(boundaries, key=lambda b: b.region_code)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _rect_dist(b, lon, lat).alias("d"),
                    F.lit(b.region_code).alias("r"),
                )
                for b in ordered
            ]
        )
    )
    return best.getField("r")


# --------------------------------------------------------------------------
# General polygons: ray-cast PIP over packed vertex arrays
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class PolygonBoundary:
    """Arbitrary (possibly concave) polygon with optional holes: ring 0
    is the exterior, further rings are holes — even-odd ray casting
    handles both uniformly. Vertices are (lon, lat) pairs; rings need
    not repeat the first vertex."""

    region_code: str
    rings: tuple  # tuple[tuple[(lon, lat), ...], ...]
    priority: int = 0

    @staticmethod
    def from_rect(b: RectBoundary) -> "PolygonBoundary":
        return PolygonBoundary(
            b.region_code,
            (
                (
                    (b.lon_min, b.lat_min),
                    (b.lon_max, b.lat_min),
                    (b.lon_max, b.lat_max),
                    (b.lon_min, b.lat_max),
                ),
            ),
            b.priority,
        )

    def bbox(self) -> tuple[float, float, float, float]:
        xs = [p[0] for r in self.rings for p in r]
        ys = [p[1] for r in self.rings for p in r]
        return min(xs), min(ys), max(xs), max(ys)

    def covering_cells(self, res: int) -> list[int]:
        """Conservative bbox cover — a superset of the true cover is
        sound for candidate generation (the exact test filters)."""
        lon_min, lat_min, lon_max, lat_max = self.bbox()
        return RectBoundary(
            self.region_code, lon_min, lat_min, lon_max, lat_max
        ).covering_cells(res)

    def contains_py(self, lon: float, lat: float) -> bool:
        """Pure-Python differential twin of the Column ray cast."""
        crossings = 0
        for ring in self.rings:
            n = len(ring)
            for i in range(n):
                xi, yi = ring[i]
                xj, yj = ring[(i + 1) % n]
                if (yi > lat) != (yj > lat) and lon < (xj - xi) * (
                    lat - yi
                ) / (yj - yi) + xi:
                    crossings += 1
        return crossings % 2 == 1


_POLY_INDEX_DDL = (
    "cell long, candidates array<struct<priority:int, region_code:string, "
    "rings:array<struct<xs:array<double>, ys:array<double>>>>>"
)


def _ring_crossings(lon: Column, lat: Column, xs: Column, ys: Column) -> Column:
    """Crossing count of the rightward ray from (lon, lat) with one
    ring (PNPOLY rule). Pure array algebra — no UDF. The vertical-span
    test guards the division (interpreted AND short-circuits; double
    division never raises in Spark anyway)."""
    n = F.size(xs)

    def step(acc: Column, i: Column) -> Column:
        j = F.when(i == n, F.lit(1)).otherwise(i + 1)
        xi, yi = F.element_at(xs, i), F.element_at(ys, i)
        xj, yj = F.element_at(xs, j), F.element_at(ys, j)
        crosses = ((yi > lat) != (yj > lat)) & (
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi
        )
        return acc + F.when(crosses, 1).otherwise(0)

    return F.aggregate(F.sequence(F.lit(1), n), F.lit(0), step)


def point_in_polygon_col(lon: Column, lat: Column, rings: Column) -> Column:
    """Even-odd containment of (lon, lat) in ``rings``
    (array<struct<xs, ys>>): odd total ray crossings across all rings —
    exterior + holes handled uniformly, concave polygons exact.
    Boundary points follow the half-open PNPOLY convention."""
    total = F.aggregate(
        rings,
        F.lit(0),
        lambda acc, r: acc
        + _ring_crossings(lon, lat, r.getField("xs"), r.getField("ys")),
    )
    return F.pmod(total, F.lit(2)) == F.lit(1)


def polygon_cell_index_df(
    spark, polygons: list[PolygonBoundary], res: int
) -> DataFrame:
    """cell -> candidate-polygon array with PACKED VERTEX ARRAYS (the
    broadcast side of the general-PIP join). Same one-array-column,
    zero-row-multiplication shape as the rectangle index."""
    return _cell_index_df(
        spark, polygons, res,
        lambda p: {
            "priority": p.priority,
            "region_code": p.region_code,
            "rings": [
                {
                    "xs": [float(v[0]) for v in ring],
                    "ys": [float(v[1]) for v in ring],
                }
                for ring in p.rings
            ],
        },
        _POLY_INDEX_DDL,
    )


def assign_jurisdiction_polygons(
    points: DataFrame,
    polygons: list[PolygonBoundary],
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "region_code",
    index_res: int = 6,
) -> DataFrame:
    """General-polygon PIP join: broadcast coarse-cell equi-join against
    the packed-vertex index, exact ray-cast containment inside the
    candidate array, (priority, region_code) winner via array_min.
    Fact side stays map-only — one broadcast hash join, no shuffle, no
    row multiplication; rectangles remain available as the cheaper
    ``assign_jurisdiction`` fast path. An empty ``polygons`` raises
    ``ValueError`` on the driver."""
    return _pip_join(
        points, polygons, polygon_cell_index_df,
        lambda lon, lat, c: point_in_polygon_col(lon, lat, c.getField("rings")),
        lon_col, lat_col, out_col, index_res,
        "assign_jurisdiction_polygons: polygons",
    )


# --------------------------------------------------------------------------
# Cell-indexed kNN (the scale path for large boundary sets)
# --------------------------------------------------------------------------

def knn_cell_index(
    boundaries: list[RectBoundary], res: int
) -> dict[int, list[RectBoundary]]:
    """Driver-side exact-kNN pruning index: per grid cell, the
    boundaries that can be nearest for SOME point in the cell —
    candidates whose lower-bound distance <= the best upper bound
    (ball-cover pruning). The per-point argmin over this candidate
    list equals the global argmin for every point in the cell. Each
    list is in region_code order (ties in input order), the tie-break
    order of ``knn_region_column``.

    The bounds: a boundary's lower bound is the squared distance
    between the cell rectangle and the boundary rectangle; its upper
    bound is, per axis, the farthest cell edge from the boundary's
    span (0 when the boundary spans the whole cell on that axis).

    Cost is O(cells x boundaries) on the driver at a coarse res
    (res 6 = 8,192 cells), evaluated as NumPy arrays in blocks of
    cells: about 0.12-0.15 s for 250 boundaries at res 6 on a 4-vCPU
    host (a per-cell Python loop over the same bounds takes about
    2 s; the tests keep it as the reference). The per-row cost becomes O(|candidates|) (typically 1-4) instead of
    O(|boundaries|) — the difference between 13 rectangles and 10^5
    admin polygons at 10^12 rows. For boundary sets large enough that
    cells x boundaries hurts on the driver, build the index
    per-boundary instead: expand each boundary's covering cells
    ring-by-ring (grid_neighbors_py) until every cell has a candidate
    whose upper bound beats the ring's lower bound — O(sum of covered
    cells), same resulting index."""
    import numpy as np

    if not boundaries:
        raise ValueError(
            "knn_cell_index: boundaries is empty; the nearest boundary "
            "is undefined without at least one"
        )
    # a stable sort up front, so filtering keeps the tie order
    ordered = sorted(boundaries, key=lambda b: b.region_code)
    b_lon0, b_lat0, b_lon1, b_lat1 = np.array(
        [(b.lon_min, b.lat_min, b.lon_max, b.lat_max) for b in ordered],
        dtype=np.float64,
    ).T
    nx, ny = grid_nx(res), grid_ny(res)
    n_cells = nx * ny
    block = max(1, (1 << 20) // len(ordered))
    index: dict[int, list[RectBoundary]] = {}
    for start in range(0, n_cells, block):
        cells = np.arange(start, min(start + block, n_cells), dtype=np.int64)
        x, y = np.divmod(cells, ny)
        lon0 = (-180.0 + x * 360.0 / nx)[:, None]
        lat0 = (-90.0 + y * 180.0 / ny)[:, None]
        lon1 = lon0 + 360.0 / nx
        lat1 = lat0 + 180.0 / ny
        dx = np.maximum(np.maximum(b_lon0 - lon0, lon1 - b_lon1), 0.0)
        dy = np.maximum(np.maximum(b_lat0 - lat0, lat1 - b_lat1), 0.0)
        best_ub = (dx * dx + dy * dy).min(axis=1)
        dx = np.maximum(np.maximum(b_lon0 - lon1, lon0 - b_lon1), 0.0)
        dy = np.maximum(np.maximum(b_lat0 - lat1, lat0 - b_lat1), 0.0)
        keep = dx * dx + dy * dy <= best_ub[:, None]
        for cell, row in zip(cells.tolist(), keep):
            index[cell] = [ordered[j] for j in np.flatnonzero(row).tolist()]
    return index


# reserved index-column names: see _pip_join (drop("cell") would
# remove a caller's own cell/cands column)
_KNN_INDEX_DDL = (
    "__knn_icell long, __knn_cands array<struct<r:string, "
    "lon_min:double, lat_min:double, lon_max:double, lat_max:double>>"
)


def knn_assign_via_index(
    points: DataFrame,
    boundaries: list[RectBoundary],
    lon_col: str = "lon",
    lat_col: str = "lat",
    out_col: str = "nearest_region",
    index_res: int = 6,
) -> DataFrame:
    """Broadcast cell->candidates equi-join + exact argmin within the
    (tiny) candidate array. Identical results to ``knn_region_column``;
    scales to large boundary sets where the flat per-row scan cannot.
    The fact side stays map-only (one broadcast join, no shuffle). An
    empty ``boundaries`` raises ``ValueError`` on the driver."""
    spark = points.sparkSession
    idx = knn_cell_index(boundaries, index_res)
    rows = [
        (
            cell,
            [
                (b.region_code, b.lon_min, b.lat_min, b.lon_max, b.lat_max)
                for b in cands
            ],
        )
        for cell, cands in idx.items()
    ]
    idx_df = F.broadcast(local_table_df(spark, rows, _KNN_INDEX_DDL))
    lon, lat = F.col(lon_col), F.col(lat_col)
    pts = points.withColumn("__knn_cell", grid_cell(lon, lat, index_res))
    joined = pts.join(
        idx_df, F.col("__knn_cell") == F.col("__knn_icell"), "left"
    )

    def dist(c: Column) -> Column:
        dx = F.greatest(
            c.getField("lon_min") - lon, lon - c.getField("lon_max"), F.lit(0.0)
        )
        dy = F.greatest(
            c.getField("lat_min") - lat, lat - c.getField("lat_max"), F.lit(0.0)
        )
        return dx * dx + dy * dy

    best = F.array_min(
        F.transform(
            F.col("__knn_cands"),
            lambda c: F.struct(dist(c).alias("d"), c.getField("r").alias("r")),
        )
    )
    return joined.withColumn(out_col, best.getField("r")).drop(
        "__knn_icell", "__knn_cands", "__knn_cell"
    )


def resolve_jurisdiction(
    points: DataFrame, boundaries: list[RectBoundary]
) -> DataFrame:
    """The full jurisdiction rule on ``lon``/``lat`` -> ``region_code``:
    the PIP winner, else the nearest boundary. Both halves are
    broadcast cell-index joins, so the plan's size does not grow with
    the boundary count."""
    located = knn_assign_via_index(
        assign_jurisdiction(points, boundaries),
        boundaries,
        out_col="__nearest_region",
    )
    return located.withColumn(
        "region_code", F.coalesce("region_code", "__nearest_region")
    ).drop("__nearest_region")


# --------------------------------------------------------------------------
# Tiling with skew-aware salting
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Hexagonal equal-area index (H3-style, from scratch)
#
# A true HEX binning closing the H3/S2 deviation: pointy-top axial
# hexagons laid over the Lambert cylindrical equal-area plane
# (u = lon + 180 in [0, 360]; v = (sin(lat) + 1) * 180 in [0, 360]).
# Because the (lon, sin lat) map is exactly equal-area, every hex
# covers the SAME sphere area — H3's headline property — and every
# interior cell has exactly 6 neighbors (no pentagon exceptions,
# unlike the icosahedral H3). What this planar layout does NOT give is
# H3's bounded SHAPE distortion: hexes stretch in aspect toward the
# poles (area still exact). All math is public knowledge (axial/cube
# hex coordinates and cube rounding per the standard hex-grid
# literature, e.g. Red Blob Games).
#
# Everything is pure Column arithmetic (codegen'd, SQL-portable):
#   hex_cell(lon, lat, res)   -> bigint id (packed axial q, r)
#   hex_center(cell, res)     -> (lon, lat) of the hex center
#   hex_neighbor_cells(cell)  -> the 6 axial neighbors + self
# ``res`` sets the lattice pitch: size = 360 / (3 * 2^res), i.e.
# roughly 3 * 2^res hex columns across the longitude span.
# --------------------------------------------------------------------------

import math as _math

_HEX_SQRT3 = _math.sqrt(3.0)
_HEX_STRIDE = 1 << 32  # id = (q + offset) * STRIDE + (r + offset)
_HEX_OFF = 1 << 30


def hex_size(res: int) -> float:
    return 360.0 / (3.0 * (1 << res))


def _hex_round(q: Column, r: Column) -> tuple[Column, Column]:
    """Cube rounding: round each cube coordinate, then repair the axis
    with the largest rounding error so x+y+z == 0 stays true."""
    x, z = q, r
    y = -q - r
    rx, ry, rz = F.round(x, 0), F.round(y, 0), F.round(z, 0)
    dx, dy, dz = F.abs(rx - x), F.abs(ry - y), F.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_z = (~fix_x) & (~(dy > dz))
    q_out = F.when(fix_x, -ry - rz).otherwise(rx)
    r_out = F.when(fix_z, -rx - ry).otherwise(rz)
    return q_out.cast("long"), r_out.cast("long")


def hex_cell(lon: Column, lat: Column, res: int) -> Column:
    """Equal-area hex id at ``res`` (pointy-top axial, cube-rounded)."""
    size = hex_size(res)
    u = lon + F.lit(180.0)
    v = (F.sin(F.radians(lat)) + F.lit(1.0)) * F.lit(180.0)
    q = (F.lit(_HEX_SQRT3 / 3.0) * u - v / F.lit(3.0)) / F.lit(size)
    r = (F.lit(2.0 / 3.0) * v) / F.lit(size)
    rq, rr = _hex_round(q, r)
    return (rq + F.lit(_HEX_OFF)) * F.lit(_HEX_STRIDE) + (rr + F.lit(_HEX_OFF))


def hex_qr(cell: Column) -> tuple[Column, Column]:
    # ids reach 2^62: unpack with exact integer bit ops, NOT double
    # division (doubles lose integer exactness above 2^53)
    q = F.shiftright(cell, 32) - F.lit(_HEX_OFF)
    r = cell.bitwiseAND(F.lit(_HEX_STRIDE - 1)) - F.lit(_HEX_OFF)
    return q, r


def hex_center(cell: Column, res: int) -> tuple[Column, Column]:
    """(lon, lat) of the hex center — the raster->vector direction for
    the hex id space (inverse of the Lambert forward map)."""
    size = hex_size(res)
    q, r = hex_qr(cell)
    u = F.lit(size) * (F.lit(_HEX_SQRT3) * q + F.lit(_HEX_SQRT3 / 2.0) * r)
    v = F.lit(size) * (F.lit(1.5) * r)
    lon = u - F.lit(180.0)
    lat = F.degrees(F.asin(v / F.lit(180.0) - F.lit(1.0)))
    return lon, lat


def hex_neighbor_cells(cell: Column) -> Column:
    """The 6 axial neighbors + the cell itself, sorted — uniform for
    every interior cell (no pentagon special case). Edge cells near the
    projection boundary simply have off-lattice neighbors that no data
    row ever maps to (same clamp semantics as the rectangular
    k-ring)."""
    q, r = hex_qr(cell)
    out = []
    for dq, dr in ((0, 0), (1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)):
        out.append(
            (q + F.lit(dq) + F.lit(_HEX_OFF)) * F.lit(_HEX_STRIDE)
            + (r + F.lit(dr) + F.lit(_HEX_OFF))
        )
    return F.array_sort(F.array(*out))


def hex_parent(cell: Column, res: int) -> Column:
    """Parent hex at res-1 (cell size doubles, area x4 — an aperture-4
    hierarchy) under the CENTER rule: a child belongs to the coarser
    hex containing its center. Hex lattices at different pitches are
    not nested (unlike the rect quadtree), so parent boundaries cut
    through some children — the same approximation icosahedral H3
    accepts for its aperture-7 hierarchy; rollups stay exact because
    every child maps to exactly one parent. Pure planar algebra — the
    sphere round-trip (asin then sin) is skipped; only the lattice
    re-quantization at double pitch happens."""
    size = hex_size(res)
    q0, r0 = hex_qr(cell)
    u = F.lit(size) * (F.lit(_HEX_SQRT3) * q0 + F.lit(_HEX_SQRT3 / 2.0) * r0)
    v = F.lit(size) * (F.lit(1.5) * r0)
    psize = hex_size(res - 1)
    q = (F.lit(_HEX_SQRT3 / 3.0) * u - v / F.lit(3.0)) / F.lit(psize)
    r = (F.lit(2.0 / 3.0) * v) / F.lit(psize)
    rq, rr = _hex_round(q, r)
    return (rq + F.lit(_HEX_OFF)) * F.lit(_HEX_STRIDE) + (rr + F.lit(_HEX_OFF))


def hex_cell_py(lon: float, lat: float, res: int) -> int:
    """Pure-Python differential twin of ``hex_cell``."""
    size = hex_size(res)
    u = lon + 180.0
    v = (_math.sin(_math.radians(lat)) + 1.0) * 180.0
    q = (_HEX_SQRT3 / 3.0 * u - v / 3.0) / size
    r = (2.0 / 3.0 * v) / size
    x, z = q, r
    y = -q - r
    # round-half-away-from-zero (Spark HALF_UP / DuckDB ROUND), NOT
    # Python's banker's rounding
    rnd = lambda t: _math.floor(t + 0.5) if t >= 0 else _math.ceil(t - 0.5)  # noqa: E731
    rx, ry, rz = rnd(x), rnd(y), rnd(z)
    dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif not (dy > dz):
        rz = -rx - ry
    return (int(rx) + _HEX_OFF) * _HEX_STRIDE + (int(rz) + _HEX_OFF)


# --------------------------------------------------------------------------
# Raster <-> vector (north-rule keyword: the tiling engine must convert
# both ways — polygons to covering cell sets and cell sets back to
# vector geometry)
# --------------------------------------------------------------------------

def polygons_to_df(spark, polygons: list[PolygonBoundary]) -> DataFrame:
    """Polygon table with PACKED VERTEX ARRAYS — the distributed-side
    representation (one row per polygon; at production scale this is a
    real table of 10^5+ admin boundaries, not a driver list)."""
    rows = [
        (
            p.region_code,
            p.priority,
            [
                {
                    "xs": [float(v[0]) for v in ring],
                    "ys": [float(v[1]) for v in ring],
                }
                for ring in p.rings
            ],
        )
        for p in polygons
    ]
    return spark.createDataFrame(
        rows,
        "region_code string, priority int, "
        "rings array<struct<xs:array<double>, ys:array<double>>>",
    )


def rasterize_polygons(
    polys: DataFrame,
    res: int,
    region_col: str = "region_code",
    cell_col: str = "cell",
) -> DataFrame:
    """RASTER direction: polygon rows -> (region_code, cell) covering
    cells at resolution ``res`` under the cell-CENTER rule (a cell
    belongs to the polygon iff its center point is inside — the
    standard all_touched=False rasterization semantics; even-odd ray
    cast, so concave polygons and holes are exact).

    Fully distributed and native: per polygon the candidate x/y ranges
    come from the ring bbox (array folds), two ``explode(sequence(...))``
    generate the bbox lattice, and the exact center test filters.
    Work = O(polygons x bbox_cells x vertices), spread by polygon AND
    by generated cell across the cluster — no driver-side loop (the
    driver-side ``covering_cells`` used for broadcast-index BUILDS
    stays bbox-conservative; this operator is the exact, scale-out
    rasterizer). Antimeridian-crossing polygons are not split: their
    raw-lon bbox spans most of the grid (correct output under the
    center rule, but the candidate lattice degenerates to a full-width
    scan — split such polygons at +-180 upstream, as all public
    admin-boundary datasets already do)."""
    nx, ny = grid_nx(res), grid_ny(res)
    rings = F.col("rings")
    lon_min = F.aggregate(
        rings, F.lit(float("inf")), lambda a, r: F.least(a, F.array_min(r.getField("xs")))
    )
    lon_max = F.aggregate(
        rings, F.lit(float("-inf")), lambda a, r: F.greatest(a, F.array_max(r.getField("xs")))
    )
    lat_min = F.aggregate(
        rings, F.lit(float("inf")), lambda a, r: F.least(a, F.array_min(r.getField("ys")))
    )
    lat_max = F.aggregate(
        rings, F.lit(float("-inf")), lambda a, r: F.greatest(a, F.array_max(r.getField("ys")))
    )

    def clamp(c: Column, hi: int) -> Column:
        return F.least(F.greatest(c, F.lit(0)), F.lit(hi - 1)).cast("long")

    x0 = clamp(F.floor((lon_min + 180.0) / 360.0 * nx), nx)
    x1 = clamp(F.floor((lon_max + 180.0) / 360.0 * nx), nx)
    y0 = clamp(F.floor((lat_min + 90.0) / 180.0 * ny), ny)
    y1 = clamp(F.floor((lat_max + 90.0) / 180.0 * ny), ny)

    base = polys.select(region_col, "rings", x0.alias("__x0"),
                        x1.alias("__x1"), y0.alias("__y0"), y1.alias("__y1"))
    lattice = (
        base.withColumn("__x", F.explode(F.sequence(F.col("__x0"), F.col("__x1"))))
        .withColumn("__y", F.explode(F.sequence(F.col("__y0"), F.col("__y1"))))
    )
    lon_c = (F.col("__x") + 0.5) / nx * 360.0 - 180.0
    lat_c = (F.col("__y") + 0.5) / ny * 180.0 - 90.0
    return (
        lattice.where(point_in_polygon_col(lon_c, lat_c, F.col("rings")))
        .select(
            region_col,
            (F.col("__x") * ny + F.col("__y")).alias(cell_col),
        )
    )


def vectorize_cells(
    cells: DataFrame,
    res: int,
    region_col: str = "region_code",
    cell_col: str = "cell",
) -> DataFrame:
    """VECTOR direction: (region, cell) raster -> geographic rectangles
    by merging vertical runs of adjacent cells per (region, column) —
    classic run-length vectorization as a gap-and-island window. Output
    one row per run: (region_code, lon_min, lat_min, lon_max, lat_max,
    n_cells); re-rasterizing the rectangles reproduces the input cell
    set exactly (round-trip pinned by pytest).

    Scale shape: the window partitions by (region, x-column) — keys
    are numerous and balanced (a polygon spanning many columns spreads
    over many partitions); no global sort."""
    from pyspark.sql import Window

    ny = grid_ny(res)
    nx = grid_nx(res)
    x, y = cell_xy(F.col(cell_col), res)
    base = cells.select(
        F.col(region_col), x.alias("__x"), y.alias("__y")
    ).dropDuplicates([region_col, "__x", "__y"])
    w = Window.partitionBy(region_col, "__x").orderBy("__y")
    marked = base.withColumn(
        "__brk",
        F.when(F.col("__y") - F.lag("__y").over(w) == 1, 0).otherwise(1),
    ).withColumn(
        "__run",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = marked.groupBy(region_col, "__x", "__run").agg(
        F.min("__y").alias("__ya"),
        F.max("__y").alias("__yb"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    return runs.select(
        region_col,
        (F.col("__x") / nx * 360.0 - 180.0).alias("lon_min"),
        (F.col("__ya") / ny * 180.0 - 90.0).alias("lat_min"),
        ((F.col("__x") + 1) / nx * 360.0 - 180.0).alias("lon_max"),
        ((F.col("__yb") + 1) / ny * 180.0 - 90.0).alias("lat_max"),
        "n_cells",
    )


def assign_tiles(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    tile_res: int = 7,
    tile_col: str = "tile_id",
) -> DataFrame:
    """Tile id = the equirectangular ``grid_cell`` at ``tile_res``: ids
    identical to the SQL-portable oracle algebra (parents, k-rings).
    Callers wanting equal-area tiles apply ``grid_cell_ea`` or
    ``hex_cell`` themselves."""
    return df.withColumn(
        tile_col, grid_cell(F.col(lon_col), F.col(lat_col), tile_res)
    )


def tile_rollup(
    df: DataFrame,
    tile_col: str = "tile_id",
    salt_buckets: int = 16,
    salt_on: str | None = None,
) -> DataFrame:
    """Two-phase salted rollup: groupBy(tile, salt) partial aggregation
    -> groupBy(tile) merge. Defeats Zipfian hot tiles that would
    otherwise pin one reducer.

    The salt must vary WITHIN a tile or it cannot split a hot key:
    default is ``spark_partition_id()`` (row-local; phase one becomes a
    pure map-side combine), or pass ``salt_on`` naming a
    high-cardinality NON-key column (e.g. the row id) hashed into
    ``salt_buckets``. Passing the group key itself is rejected — a salt
    that is a function of the key alone maps every row of the hot key
    to the same reducer, silently disabling the protection. The guard
    is name-based only: it cannot see through an alias or a column
    DERIVED from the tile id (e.g. ``tile_id % 10``), which would
    defeat splitting just as silently — choosing a genuinely row-local
    salt column remains the caller's responsibility.
    Metrics: row count per tile."""
    if salt_on == tile_col:
        raise ValueError(
            f"salt_on={salt_on!r} is the group key: a key-derived salt "
            "cannot split a hot key across reducers; use a row-local "
            "column (e.g. the row id) or the default spark_partition_id()"
        )
    if salt_on is not None and salt_buckets < 1:
        # pmod(x, 0) is NULL under non-ANSI Spark: every row would
        # share one (tile, NULL) salt group — results stay correct but
        # the hot-key protection is silently OFF, the failure mode
        # this operator exists to prevent
        raise ValueError(
            f"salt_buckets must be >= 1 when salt_on is set, got "
            f"{salt_buckets}"
        )
    if salt_on is not None:
        salt = F.pmod(F.crc32(F.col(salt_on).cast("string")), F.lit(salt_buckets))
    else:
        salt = F.spark_partition_id()
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(tile_col, "_salt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return partial.groupBy(tile_col).agg(F.sum("_cnt").cast("long").alias("n_rows"))


# ---------------------------------------------------------------------------
# Linear features: exact supercover rasterization of segments
# ---------------------------------------------------------------------------

def segment_cut_params(
    x0: Column, y0: Column, x1: Column, y1: Column
) -> Column:
    """Sorted distinct parameter cuts in [0, 1] at every integer
    gridline crossing of the segment (continuous cell coordinates) —
    the ONE construction both :func:`segment_cells` (cells = interval
    midpoints) and :func:`clip_segments` (clips = the intervals
    themselves) build on, so the supercover and the clip intervals can
    never desynchronize."""
    dx = x1 - x0
    dy = y1 - y0

    def crossings(a0: Column, delta: Column, lo: Column, hi: Column) -> Column:
        ks = F.when(
            (delta != 0) & (F.floor(hi) >= F.ceil(lo)),
            F.sequence(F.ceil(lo), F.floor(hi)),
        ).otherwise(F.array().cast("array<long>"))
        ts = F.transform(ks, lambda k: (k - a0) / delta)
        return F.filter(ts, lambda t: (t > 0) & (t < 1))

    tx = crossings(x0, dx, F.least(x0, x1), F.greatest(x0, x1))
    ty = crossings(y0, dy, F.least(y0, y1), F.greatest(y0, y1))
    return F.array_sort(
        F.array_distinct(
            F.concat(F.array(F.lit(0.0), F.lit(1.0)), tx, ty)
        )
    )


def segment_cells(
    x0: Column, y0: Column, x1: Column, y1: Column, nx: int, ny: int
) -> Column:
    """Ordered array<struct<cx,cy>> of every grid cell a straight
    segment in CONTINUOUS cell coordinates passes through (exact
    supercover, the line-rasterization dual of rasterize_polygons'
    cell-center rule).

    Algorithm (pure native array math, no iteration): the segment's
    parameter t in [0,1] is cut at every crossing of an integer grid
    line — tx = {(k - x0)/dx : k integer strictly between x0 and x1},
    same for ty — the cut set is sorted, and the MIDPOINT of each
    interval identifies the (unique) cell that interval lies in. Cells
    are emitted in traversal order; corner-exact crossings collapse to
    one cut (array_distinct on t), so only cells the interior actually
    enters appear. All arithmetic is +,-,*,/ and floor on doubles —
    correctly-rounded IEEE in both engines, so the DuckDB twin is
    bit-identical.

    Scale: per-row array work bounded by the segment's cell span; no
    shuffle, no Python. Road-network segments span 1-10 cells at tile
    resolutions, so output fan-out is small and bounded; degenerate
    (point) segments yield exactly their containing cell."""
    dx = x1 - x0
    dy = y1 - y0
    ts = segment_cut_params(x0, y0, x1, y1)
    mids = F.transform(
        F.sequence(F.lit(1), F.size(ts) - 1),
        lambda i: (F.element_at(ts, i) + F.element_at(ts, i + 1)) / 2.0,
    )

    def clamp(c: Column, hi: int) -> Column:
        return F.least(F.greatest(c, F.lit(0)), F.lit(hi - 1))

    cells = F.transform(
        mids,
        lambda m: F.struct(
            clamp(F.floor(x0 + m * dx), nx).alias("cx"),
            clamp(F.floor(y0 + m * dy), ny).alias("cy"),
        ),
    )
    return F.array_distinct(cells)


def rasterize_segments(
    segs: DataFrame,
    res: int,
    id_col: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
) -> DataFrame:
    """Rasterize lon/lat segments onto the res grid: one output row
    per (segment, crossed cell), in traversal order (``seq``). This is
    the road-network coverage operator — which tiles does each way
    touch — and the exact input tile_rollup needs for per-tile road
    statistics. Map-side explode only; the fan-out rides the narrow
    (id, seq, cx, cy, cell) tuple, never the geometry."""
    nx, ny = grid_nx(res), grid_ny(res)

    cells = segment_cells(
        *segment_grid_coords(lon0, lat0, lon1, lat1, res), nx, ny
    )
    return segs.select(
        id_col, F.posexplode(cells).alias("seq", "c")
    ).select(
        id_col,
        "seq",
        F.col("c.cx").alias("cell_x"),
        F.col("c.cy").alias("cell_y"),
        (F.col("c.cx") * ny + F.col("c.cy")).alias("cell"),
    )


# ---------------------------------------------------------------------------
# Tile pyramid: one-pass multi-resolution rollup
# ---------------------------------------------------------------------------

def tile_pyramid(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    min_res: int,
    max_res: int,
) -> DataFrame:
    """Per-cell row counts at EVERY resolution in [min_res, max_res]
    in one pass — the raster-pyramid build (web-map zoom levels,
    density overviews). Each row explodes into one (res, cell) tuple
    per level (cells computed independently per level — cheaper than
    chaining grid_parent and keeps every level a pure function of the
    row), then a single salted-free groupBy aggregates all levels at
    once: ONE shuffle whose map-side partial combine reduces traffic
    to O(distinct (res, cell) per partition), not O(rows x levels).
    The alternative — L successive parent-rollup shuffles — moves less
    map output per stage but pays L exchanges and a barrier per level;
    at 100 TB one combined exchange of all-level partials is strictly
    less data movement because the finest level dominates both."""
    if min_res > max_res:
        raise ValueError("min_res must be <= max_res")
    lon, lat = F.col(lon_col), F.col(lat_col)
    levels = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                grid_cell(lon, lat, r).alias("cell"),
            )
            for r in range(min_res, max_res + 1)
        ]
    )
    return (
        df.select(F.explode(levels).alias("l"))
        .groupBy(F.col("l.res").alias("res"), F.col("l.cell").alias("cell"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )


# --------------------------------------------------------------------------
# Distance-band join ("all pairs within r") — the classic DJ/range
# spatial join (reference's kNN/PIP joins answer "which one"; this
# answers "which all within radius", e.g. roads near a border strip,
# image sites within r of each other for burst dedup).
# --------------------------------------------------------------------------

def within_distance_res(radius: float) -> int:
    """Largest grid res whose square cell side (180/2^res degrees)
    still covers ``radius``, so every pair within the radius lies in
    the 3x3 neighbor ring — the 1-ring candidate guarantee."""
    import math

    if radius <= 0:
        raise ValueError("radius must be > 0")
    return max(0, min(20, int(math.floor(math.log2(180.0 / radius)))))


def _deg_dist2(lon_a: Column, lat_a: Column, lon_b: Column, lat_b: Column) -> Column:
    """Squared planar degree distance with longitude wrap (shorter way
    around the antimeridian). Built from correctly-rounded IEEE ops
    only (+, -, *, abs, least) so the DuckDB twin is bit-identical."""
    adlon = F.abs(lon_a - lon_b)
    dlon = F.least(adlon, F.lit(360.0) - adlon)
    dlat = lat_a - lat_b
    return dlon * dlon + dlat * dlat


def within_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str = "id_a",
    right_id: str = "id_b",
    lon: str = "lon",
    lat: str = "lat",
    self_pairs: bool = False,
) -> DataFrame:
    """All (left row, right row) pairs within planar degree distance
    ``radius`` (longitude wrap-aware): (left_id, right_id, dist).

    Plan: both sides are narrowed to (id, lon, lat) and cell-indexed at
    a res whose cell side covers the radius; the LEFT side explodes its
    3x3 neighbor ring (a 9x multiplication of 3-column rows — the whole
    point is that only this skinny projection is multiplied, never the
    payload), then ONE shuffle-hash equi-join on cell + the exact
    distance filter. Candidates are exact-complete by the 1-ring
    guarantee (``within_distance_res``), and each qualifying pair is
    emitted exactly once because the build side keeps its single home
    cell. Per-pair cost is a handful of codegen'd doubles; there is no
    inequality cross product anywhere.

    At 100 TB: shuffle volume is 9|L| + |R| skinny rows hashed on cell;
    dense-city hot cells are ordinary join skew, which AQE's skew-join
    split handles because both sides are plain equi-join relations.
    Rejoin ids to payloads afterwards (broadcast if the pair set is
    small, shuffle join otherwise) — this operator deliberately returns
    ids only.

    ``self_pairs=True`` treats left/right as the SAME logical table and
    keeps each unordered pair once (``id_a < id_b``). A radius above
    180 degrees raises ``ValueError``: no cell is wide enough for it.
    """
    res = within_distance_res(radius)
    if 180.0 / (1 << res) < radius:
        raise ValueError(
            f"cell side at res {res} is smaller than radius {radius}; "
            "the 1-ring candidate guarantee would not hold"
        )
    cell = grid_cell(F.col(lon), F.col(lat), res)
    probe = left.select(
        F.col(left_id).alias("__ida"),
        F.col(lon).alias("__lona"),
        F.col(lat).alias("__lata"),
        F.explode(neighbor_cells(cell, res, 1)).alias("__cell"),
    )
    build = right.select(
        F.col(right_id).alias("__idb"),
        F.col(lon).alias("__lonb"),
        F.col(lat).alias("__latb"),
        cell.alias("__cell"),
    )
    pair = probe.hint("shuffle_hash").join(
        build.hint("shuffle_hash"), "__cell"
    )
    if self_pairs:
        pair = pair.where(F.col("__ida") < F.col("__idb"))
    d2 = _deg_dist2(
        F.col("__lona"), F.col("__lata"), F.col("__lonb"), F.col("__latb")
    )
    return (
        pair.where(d2 <= F.lit(radius * radius))
        .select(
            F.col("__ida").alias(left_id),
            F.col("__idb").alias(right_id),
            F.sqrt(d2).alias("dist"),
        )
    )


def within_distance_pairs(
    df: DataFrame,
    radius: float,
    id_col: str = "id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Self-join form of :func:`within_distance_join`: each unordered
    pair of distinct rows within ``radius`` exactly once, as
    (id_a, id_b, dist) with id_a < id_b."""
    a = df.select(F.col(id_col).alias("id_a"), lon, lat)
    b = df.select(F.col(id_col).alias("id_b"), lon, lat)
    return within_distance_join(
        a, b, radius, "id_a", "id_b", lon, lat, self_pairs=True
    )


# --------------------------------------------------------------------------
# Map matching: snap points to the nearest road segment within a radius
# (the reference resolves "which jurisdiction does this point belong
# to"; this resolves "which WAY does this GPS/image point belong to" —
# the standard map-matching primitive for attaching camera captures to
# the road network before speed-limit inference).
# --------------------------------------------------------------------------

def point_segment_snap(
    px: Column, py: Column, x0: Column, y0: Column, x1: Column, y1: Column
) -> tuple[Column, Column, Column]:
    """(snap_x, snap_y, d2): closest point on segment (x0,y0)-(x1,y1)
    to p, and the squared distance. Classic clamped projection —
    t = clamp(dot(p-a, b-a) / |b-a|^2, 0, 1) — written with +,-,*,/
    and least/greatest only, so the DuckDB twin (same parenthesization)
    is bit-identical. Degenerate zero-length segments snap to their
    single endpoint (t = 0)."""
    dx = x1 - x0
    dy = y1 - y0
    len2 = dx * dx + dy * dy
    t_raw = F.when(len2 == 0, F.lit(0.0)).otherwise(
        ((px - x0) * dx + (py - y0) * dy) / len2
    )
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    qx = x0 + t * dx
    qy = y0 + t * dy
    ddx = px - qx
    ddy = py - qy
    return qx, qy, ddx * ddx + ddy * ddy


# At most one live fine-pass cache per session (see the eviction note
# inside snap_to_segments). The lock makes the evict-then-persist
# sequence atomic across driver threads (concurrent job submission is
# a normal Spark pattern); the single slot still means concurrent
# two-pass snaps evict each other's cache — correct, just uncached.
_SNAP_FINE_CACHE: list = []
_SNAP_CACHE_LOCK = threading.Lock()


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius: float,
    point_id: str = "id",
    lon: str = "lon",
    lat: str = "lat",
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
    fine_res: int | str | None = "auto",
) -> DataFrame:
    """Snap each point to the nearest segment STRICTLY within planar
    degree distance ``radius``: (point_id, seg_id, snap_lon, snap_lat,
    dist), argmin ties broken by smallest seg_id. Points with no
    segment within the radius are dropped (left-join the result back
    to keep them).

    Plan (the segment twin of ``within_distance_join``, with the ring
    moved to the SMALL side): each point keys in exactly its OWN cell
    at a res whose cell side covers the radius; segments explode their
    exact supercover cells (``segment_cells``) DILATED by one ring;
    ONE shuffle-hash equi-join on cell, the exact clamped-projection
    distance filter, then a groupBy(point) min-struct argmin (which
    also collapses the duplicate candidates a segment meeting a point
    in several cells produces). No inequality cross product anywhere;
    the shuffle carries ONE skinny row per point + ~9 per (segment,
    crossed cell). Map matching has many more probe points than
    segment-cover cells, so dilating the build side instead of ringing
    the probe side cut the join input ~2.3x and the measured sf0.1
    wall 2.25 -> 1.27 s (identical rows).

    Completeness: if dist(p, s) < radius <= cell_side, the closest
    point q on s lies within one cell of p in each axis, and q's cell
    is one of s's supercover cells — so p's cell lies in the 1-ring
    dilation of the supercover and the pair is found. (The STRICT
    inequality matters: at dist == radius == cell_side exactly, a
    lattice-degenerate corner case can place q's only cell outside the
    ring; strictness excludes it in both engines identically.)

    Antimeridian: candidate cells wrap (``neighbor_cells`` pmods lon),
    and the point's longitude is shifted by a whole number of turns
    into the segment's frame before projecting — floor-based, so the
    oracle reproduces it bit-for-bit. Segments themselves must not
    cross +-180 (split upstream, as admin/road datasets do).

    DENSITY ADAPTIVITY (``fine_res``): candidates per point grow with
    the number of segments per radius-sized cell, so on a fixture
    where 10x the rows share the same spatial spread the single-pass
    cost grows ~quadratically per decade while the needed output (one
    argmin per point) grows linearly — measured on the synthetic sf1
    -> sf10 decade as a 1.74 wall-clock exponent (5.5 s -> 307 s)
    BEFORE this pass existed. The argmin does not need every
    candidate within the radius: the 1-ring lemma holds at ANY res,
    so a FINE pass (same machinery at ``fine_res`` > ``res``) whose
    per-point minimum lands strictly under the fine cell side is
    already the true global argmin (the true nearest is at most that
    distance away, hence inside the fine candidate set). Only points
    the fine pass cannot certify (no candidate, or min >= fine side)
    fall back to the contract-res pass — in dense data a vanishing
    fraction. ``fine_res="auto"`` picks the fine level from two cheap
    statistics: k ~ log8(4 * points / occupied-cells) balances the
    build-side explode (grows 2^k for long segments) against the
    candidate volume (shrinks 4^k), CAPPED by log4(4.5 * segments
    per occupied cell) — the population term upper-bounds k so fine
    cells stay populated enough to certify (k = min of the two terms);
    k = 0 degenerates to the exact single-pass plan (sparse
    data pays only the two stats jobs). ``fine_res=None`` forces the
    single pass. Results are bit-identical either way (same scoring
    arithmetic, same min-struct tie-break) — the DuckDB oracle and
    the parity pytest pin it.

    At 100 TB: shuffle volume is 9|P| + sum(cells per segment) skinny
    rows hashed on cell; dense-city hot cells are plain equi-join skew
    (AQE splits them). Payloads never ride along — join ids back. The
    fine pass's resolved set (one skinny row per resolved point) is
    persisted MEMORY_AND_DISK because both the union and the
    fallback's anti-join consume it — recomputing it would double the
    expensive join, and column pruning makes the two subtrees
    non-identical so ReuseExchange cannot be relied on."""
    res = within_distance_res(radius)
    if 180.0 / (1 << res) < radius:
        raise ValueError(
            f"cell side at res {res} is smaller than radius {radius}; "
            "the 1-ring candidate guarantee would not hold"
        )

    def _argmin(pts: DataFrame, r: int, accept2: float) -> DataFrame:
        """One bucketed candidate pass at res ``r``: per-point min
        struct over candidates with d2 strictly under ``accept2``.
        Returns (__pid, m)."""
        nx, ny = grid_nx(r), grid_ny(r)

        cells = segment_cells(
            *segment_grid_coords(lon0, lat0, lon1, lat1, r), nx, ny
        )

        def _ring(c: Column) -> Column:
            """9-cell neighborhood of a supercover struct<cx,cy> as
            encoded ids (lon wrap, lat clamp) — build-side dilation."""
            exprs = []
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    yy = c["cy"] + F.lit(dy)
                    xx = F.pmod(c["cx"] + F.lit(dx), F.lit(nx))
                    nid = (xx * ny + yy).cast("long")
                    exprs.append(F.when((yy >= 0) & (yy < ny), nid))
            return F.filter(F.array(*exprs), lambda e: e.isNotNull())

        dilated = F.array_distinct(F.flatten(F.transform(cells, _ring)))
        build = segments.select(
            F.col(seg_id).alias("__sid"),
            F.col(lon0).alias("__x0"),
            F.col(lat0).alias("__y0"),
            F.col(lon1).alias("__x1"),
            F.col(lat1).alias("__y1"),
            F.explode(dilated).alias("__cell"),
        )
        probe = pts.select(
            F.col(point_id).alias("__pid"),
            F.col(lon).alias("__plon"),
            F.col(lat).alias("__plat"),
            grid_cell(F.col(lon), F.col(lat), r).alias("__cell"),
        )
        cand = probe.hint("shuffle_hash").join(
            build.hint("shuffle_hash"), "__cell"
        )
        # shift the point into the segment's longitude frame (turns)
        mid = (F.col("__x0") + F.col("__x1")) / 2.0
        px = (
            F.col("__plon")
            + F.floor((mid - F.col("__plon")) / 360.0 + 0.5) * 360.0
        )
        qx, qy, d2 = point_segment_snap(
            px, F.col("__plat"),
            F.col("__x0"), F.col("__y0"), F.col("__x1"), F.col("__y1"),
        )
        scored = cand.select(
            "__pid",
            F.struct(
                d2.alias("d2"),
                F.col("__sid").alias("sid"),
                qx.alias("qx"),
                qy.alias("qy"),
            ).alias("__m"),
        ).where(F.col("__m.d2") < F.lit(accept2))
        return scored.groupBy("__pid").agg(F.min("__m").alias("m"))

    if fine_res == "auto":
        import math

        # NOTE: the auto path is EAGER — two small stats jobs run at
        # plan-build time (a points count and a segment-cover agg),
        # and the two-pass plan reads `points` twice (fine probe +
        # anti-join) and `segments` twice (both build sides) at action
        # time. Callers whose inputs are expensive to recompute (e.g.
        # a mapInPandas codec source) should persist them first.
        n_points = points.count()
        cover = rasterize_segments(
            segments, res, id_col=seg_id,
            lon0=lon0, lat0=lat0, lon1=lon1, lat1=lat1,
        )
        st = cover.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct("cell").alias("d"),
        ).head()
        occ = max(int(st["d"]), 1)
        rho = st["n"] / occ  # segments per occupied contract cell
        k_cost = math.log(max(4.0 * n_points / occ, 1.0), 8)
        k_pop = math.log(max(4.5 * rho, 1.0), 4)
        k = max(0, int(round(min(k_cost, k_pop))))
        fine_res = min(res + k, 20)
    elif fine_res is None:
        fine_res = res
    elif not isinstance(fine_res, int):
        raise ValueError(
            f"fine_res must be an int, None, or 'auto', got {fine_res!r}"
        )
    elif fine_res < res:
        raise ValueError(
            f"fine_res {fine_res} is coarser than the contract res "
            f"{res}; the fine-pass certificate needs a smaller cell"
        )
    elif fine_res > 20:
        raise ValueError(
            f"fine_res {fine_res} exceeds the module's res cap of 20 "
            f"(grid math loses cell-boundary precision past the "
            f"double mantissa; the auto path clamps there too)"
        )

    if fine_res <= res:
        best = _argmin(points, res, radius * radius)
    else:
        fine_side = 180.0 / (1 << fine_res)
        accept2 = min(fine_side, radius) ** 2
        resolved = _argmin(points, fine_res, accept2)
        # Bound the cache's lifetime: a lazy plan gives no point to
        # unpersist after "the action" (the caller owns that), so keep
        # at most ONE live fine-pass cache per session — each new
        # two-pass snap evicts the previous call's entry. A caller that
        # executes snap plan A after building snap plan B merely
        # recomputes A's fine pass (correctness unchanged); without
        # this, every invocation leaked a MEMORY_AND_DISK entry for
        # the session's lifetime (bench loops, test suites, services).
        # Evict BEFORE persisting: when the new plan is sameResult as
        # the previous one (identical repeated calls), persist() is a
        # CacheManager no-op against the existing entry and an
        # evict-after would uncache the plan entirely — silently
        # re-introducing the fine-pass double compute.
        with _SNAP_CACHE_LOCK:
            prev = _SNAP_FINE_CACHE.pop() if _SNAP_FINE_CACHE else None
            if prev is not None:
                try:
                    prev.unpersist()
                except Exception:
                    pass
            resolved.persist()  # consumed by the union AND the anti-join
            _SNAP_FINE_CACHE.append(resolved)
        # NULL-safe anti-join: plain left_anti never matches NULL keys,
        # so a resolved NULL-id group would be re-emitted by the coarse
        # pass and the two-pass output would diverge from the
        # single-pass plan (which folds all NULL ids into ONE groupBy
        # group — the certification lemma covers the merged group's
        # min just the same).
        rest = points.join(
            resolved.select(F.col("__pid").alias("__rpid")),
            F.col(point_id).eqNullSafe(F.col("__rpid")),
            "left_anti",
        )
        best = resolved.unionByName(
            _argmin(rest, res, radius * radius)
        )
    return best.select(
        F.col("__pid").alias(point_id),
        F.col("m.sid").alias(seg_id),
        F.col("m.qx").alias("snap_lon"),
        F.col("m.qy").alias("snap_lat"),
        F.sqrt(F.col("m.d2")).alias("dist"),
    )


# --------------------------------------------------------------------------
# Kernel density smoothing over the tile grid (heatmap tiles)
# --------------------------------------------------------------------------

def tile_smooth(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    res: int,
    w_center: int = 4,
    w_edge: int = 2,
    w_corner: int = 1,
) -> DataFrame:
    """Discrete 3x3-kernel density per cell — the heatmap-tile
    operator: (cell, density) where density = sum over the cell's
    neighborhood of kernel_weight * point_count. Integer weights keep
    the aggregate order-independent and bit-exact cross-engine.

    Plan: ONE row-bearing shuffle (groupBy cell -> counts, map-side
    partial combine), then the 9-way kernel SCATTER runs over cells —
    each count row emits (neighbor, w * n) contributions — and a
    second groupBy over O(9 x occupied cells) rows merges them. The
    convolution therefore never touches row-scale data; at 100 TB the
    second exchange moves kilobytes per thousand tiles. Cells with
    zero points but occupied neighbors appear with their smoothed
    mass, exactly like a raster convolution (edge rows clamp at the
    poles, longitude wraps). Requires res >= 2 so the 3-wide kernel
    cannot wrap onto itself."""
    if res < 2:
        raise ValueError("tile_smooth needs res >= 2 (kernel would self-wrap)")
    nx, ny = grid_nx(res), grid_ny(res)
    counts = df.groupBy(
        grid_cell(F.col(lon_col), F.col(lat_col), res).alias("cell")
    ).agg(F.count(F.lit(1)).alias("n"))
    x, y = cell_xy(F.col("cell"), res)
    contribs = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            w = (
                w_center
                if dx == 0 and dy == 0
                else (w_edge if dx == 0 or dy == 0 else w_corner)
            )
            yy = y + dy
            xx = F.pmod(x + dx, F.lit(nx))
            contribs.append(
                F.when(
                    (yy >= 0) & (yy < ny),
                    F.struct(
                        (xx * ny + yy).cast("long").alias("tgt"),
                        F.lit(int(w)).cast("long").alias("w"),
                    ),
                )
            )
    arr = F.filter(F.array(*contribs), lambda c: c.isNotNull())
    scat = counts.select(F.col("n"), F.explode(arr).alias("c"))
    return scat.groupBy(F.col("c.tgt").alias("cell")).agg(
        F.sum(F.col("c.w") * F.col("n")).alias("density")
    )


# --------------------------------------------------------------------------
# Raster-space polygon overlay join (which admin area x which
# ecoregion/coverage layer, with area weights) — the distributed
# alternative to exact polygon clipping: both layers rasterize under
# the cell-center rule and intersect as plain (cell, id) relations.
# --------------------------------------------------------------------------

def polygon_overlay(
    polys_a: DataFrame,
    polys_b: DataFrame,
    res: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Overlay two polygon layers: (id_a, id_b, n_cells, area_deg2)
    for every pair of polygons whose rasterizations share at least one
    cell at ``res``. area_deg2 = n_cells x cell area is the standard
    raster approximation of the intersection area (error O(perimeter x
    cell_side) — pick res to taste; the equal-area grid variant of the
    same composition uses grid_cell_ea ids upstream).

    Plan: two independent exact rasterizations (each a map-side
    explode bounded by bbox x vertices), ONE shuffle-hash equi-join on
    cell (both sides skinny (id, cell) relations — never a
    geometry-by-geometry cross product, which is the naive overlay's
    downfall), and a groupBy pair count whose map-side combine shrinks
    the exchange to O(intersecting pairs). Polygon-count scale is
    unbounded on BOTH sides — neither layer is broadcast."""
    ra = rasterize_polygons(polys_a, res).select(
        F.col("region_code").alias(id_a), "cell"
    )
    rb = rasterize_polygons(polys_b, res).select(
        F.col("region_code").alias(id_b), "cell"
    )
    nx, ny = grid_nx(res), grid_ny(res)
    cell_area = (360.0 / nx) * (180.0 / ny)
    j = ra.hint("shuffle_hash").join(rb.hint("shuffle_hash"), "cell")
    return j.groupBy(id_a, id_b).agg(
        F.count(F.lit(1)).alias("n_cells"),
        (F.count(F.lit(1)) * F.lit(cell_area)).alias("area_deg2"),
    )


# --------------------------------------------------------------------------
# Polyline simplification (Douglas-Peucker) — per-zoom way geometry
# reduction for vector tiles. Rows are independent (one polyline
# each), so the operator is an Arrow-batched mapInPandas with a
# numpy-vectorized split search per recursion level: the classic
# "per-partition imperative logic" case the DataFrame algebra cannot
# express (data-dependent recursion depth), kept off the hot path of
# everything else.
# --------------------------------------------------------------------------

def _dp_keep_mask(xs, ys, tol: float):
    """Boolean keep-mask for one polyline under Douglas-Peucker with
    tolerance ``tol``. All comparisons use SQUARED cross products
    (cross^2 > tol^2 * seg_len2) — pure *,-,+ on doubles, no sqrt/
    hypot — so the DuckDB recursive-CTE oracle computing the identical
    expressions is bit-identical, including argmax tie-breaks (first
    maximum). Stack order is deterministic (left interval first)."""
    import numpy as np

    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    tol2 = tol * tol
    stack = [(0, n - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        x0, y0, x1, y1 = xs[i], ys[i], xs[j], ys[j]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        px = xs[i + 1 : j]
        py = ys[i + 1 : j]
        if seg2 == 0.0:
            ddx = px - x0
            ddy = py - y0
            score = ddx * ddx + ddy * ddy
            thresh = tol2
        else:
            cross = dx * (py - y0) - dy * (px - x0)
            score = cross * cross
            thresh = tol2 * seg2
        k = int(np.argmax(score))  # first max — mirrored by the oracle
        if score[k] > thresh:
            m = i + 1 + k
            keep[m] = True
            stack.append((m, j))
            stack.append((i, m))
    return keep


def simplify_lines(
    lines: DataFrame,
    tol: float,
    id_col: str = "line_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
) -> DataFrame:
    """Douglas-Peucker polyline simplification: one output row per
    KEPT vertex — (line_id, seq, x, y) with seq re-numbered 0..k-1 in
    traversal order. Exploded scalar rows (not arrays) so results are
    engine-portable and hash-stable.

    Guarantees: endpoints always kept; every dropped vertex lies
    within ``tol`` perpendicular degrees of the simplified polyline's
    generating split segment; deterministic (first-max split choice);
    idempotent (running the output through the same tol is a no-op).

    Scale: per-row work is O(n log n) typical / O(n^2) worst on the
    line's OWN vertex count (ways are 10-10^3 vertices), zero shuffle,
    Arrow-batched numpy — the standard per-zoom preprocessing step
    before ``rasterize_segments``/vector-tile encode. Degenerate
    inputs: lines with < 2 vertices pass through unchanged."""
    import pandas as pd

    schema = f"{id_col} long, seq int, x double, y double"

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            ids, seqs, oxs, oys = [], [], [], []
            for lid, xs, ys in zip(pdf[id_col], pdf[xs_col], pdf[ys_col]):
                xs = np.asarray(xs, dtype=np.float64)
                ys = np.asarray(ys, dtype=np.float64)
                n = len(xs)
                if n <= 2:
                    keep = np.ones(n, dtype=bool)
                else:
                    keep = _dp_keep_mask(xs, ys, tol)
                kx = xs[keep]
                ky = ys[keep]
                k = len(kx)
                ids.extend([lid] * k)
                seqs.extend(range(k))
                oxs.extend(kx.tolist())
                oys.extend(ky.tolist())
            yield pd.DataFrame(
                {id_col: ids, "seq": seqs, "x": oxs, "y": oys}
            )

    return lines.mapInPandas(kernel, schema)


def simplify_to_segments(
    lines: DataFrame,
    tol: float,
    id_col: str = "line_id",
    xs_col: str = "xs",
    ys_col: str = "ys",
    seg_factor: int = 32,
) -> DataFrame:
    """Douglas-Peucker simplification emitting way SEGMENTS directly:
    consecutive kept vertices are paired inside the kernel, yielding
    (seg_id, lon0, lat0, lon1, lat1) with
    ``seg_id = line_id * seg_factor + kept_seq`` — bit-identical to
    running :func:`simplify_lines` through a
    ``lead() over (partition by line_id order by seq)`` window, which
    is exactly the formulation this replaces in the tile-build
    pipeline.

    Why a separate operator instead of composing simplify + window:
    the line's vertices are already materialized per row in the
    kernel, so pairing is a numpy slice — while the window version
    pays a full shuffle+sort on line_id AND (the measured killer at
    bench scale) leaves the downstream clip/encode stage at the
    window's post-AQE partition count (3 partitions for a ~100k-row
    shuffle), running the expensive supercover HOF chain 3-wide on 32
    cores. In-kernel pairing keeps the scan's partitioning end-to-end:
    measured 3.4 -> 1.7 s on the chained tile build at sf0.1. At
    cluster scale it removes one whole shuffle per tile-build run.

    ``seg_factor`` must exceed the max kept-vertex count per line for
    seg_ids to be collision-free (kept vertices <= input vertices, so
    the input's own bound works). Lines with < 2 kept vertices emit
    nothing."""
    import pandas as pd

    schema = (
        "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"
    )

    def kernel(batches):
        import numpy as np

        for pdf in batches:
            sids, x0s, y0s, x1s, y1s = [], [], [], [], []
            for lid, xs, ys in zip(pdf[id_col], pdf[xs_col], pdf[ys_col]):
                xs = np.asarray(xs, dtype=np.float64)
                ys = np.asarray(ys, dtype=np.float64)
                n = len(xs)
                if n <= 2:
                    keep = np.ones(n, dtype=bool)
                else:
                    keep = _dp_keep_mask(xs, ys, tol)
                kx = xs[keep]
                ky = ys[keep]
                k = len(kx)
                if k < 2:
                    continue
                base = lid * seg_factor
                sids.extend(base + i for i in range(k - 1))
                x0s.extend(kx[:-1].tolist())
                y0s.extend(ky[:-1].tolist())
                x1s.extend(kx[1:].tolist())
                y1s.extend(ky[1:].tolist())
            yield pd.DataFrame(
                {
                    "seg_id": sids,
                    "lon0": x0s,
                    "lat0": y0s,
                    "lon1": x1s,
                    "lat1": y1s,
                }
            )

    return lines.mapInPandas(kernel, schema)


# --------------------------------------------------------------------------
# Great-circle (meter) metric: haversine distance + meter-radius
# distance-band join. The planar-degree operators above are exact in
# index space; these are the Earth-metric refinements (radius in
# meters means the same thing at every latitude).
# --------------------------------------------------------------------------

EARTH_RADIUS_M = 6371000.0  # mean Earth radius (IUGG sphere)
_DEG_LAT_M = EARTH_RADIUS_M * 3.141592653589793 / 180.0  # meters per degree lat


def haversine_m(
    lon_a: Column, lat_a: Column, lon_b: Column, lat_b: Column
) -> Column:
    """Great-circle distance in meters (haversine form — numerically
    stable for small separations, the case that matters for radius
    joins). Pure built-in trig (codegen'd JVM Math), no UDF."""
    dlat = F.radians(lat_b - lat_a)
    dlon = F.radians(lon_b - lon_a)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat_a))
        * F.cos(F.radians(lat_b))
        * F.sin(dlon / 2)
        * F.sin(dlon / 2)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.least(F.sqrt(a), F.lit(1.0)))


def _grid_cell_rescol(lon: Column, lat: Column, res: Column) -> Column:
    """:func:`grid_cell` with a DATA-DRIVEN res Column. ``pow(2, res)``
    is exact in IEEE double for res <= 20 (the grid cap), so the integer
    algebra is identical to the literal-res version at the same res."""
    ny = F.pow(F.lit(2.0), res).cast("long")
    nx = ny * F.lit(2)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx)
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * ny)
    x = F.least(F.greatest(x, F.lit(0)), nx - F.lit(1))
    y = F.least(F.greatest(y, F.lit(0)), ny - F.lit(1))
    return (x * ny + y).cast("long")


def _neighbor_cells_rescol(lon: Column, lat: Column, res: Column) -> Column:
    """1-ring of :func:`_grid_cell_rescol` cells (lon wrap / lat clamp,
    data-driven res) built DIRECTLY from lon/lat — no encode->decode
    round trip: projection collapse inlines column references into the
    9 ring arms, so routing through the packed cell id would splice ~4
    copies of the full encode into every arm (measured ~1.8x slower on
    the 150 km fixture)."""
    ny = F.pow(F.lit(2.0), res).cast("long")
    nx = ny * F.lit(2)
    x = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx), F.lit(0)),
        nx - F.lit(1),
    )
    y = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * ny), F.lit(0)),
        ny - F.lit(1),
    )
    exprs = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            yy = y + F.lit(dy)
            xx = F.pmod(x + F.lit(dx), nx)
            nid = (xx * ny + yy).cast("long")
            exprs.append(F.when((yy >= F.lit(0)) & (yy < ny), nid))
    return F.array_distinct(F.filter(F.array(*exprs), lambda c: c.isNotNull()))


def within_distance_join_meters(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str = "id_a",
    right_id: str = "id_b",
    lon: str = "lon",
    lat: str = "lat",
    lat_cap: float = 84.0,
    self_pairs: bool = False,
    with_dist: bool = True,
) -> DataFrame:
    """All (left, right) pairs within ``radius_m`` METERS of great-
    circle distance: (left_id, right_id[, dist_m]). The Earth-metric
    twin of :func:`within_distance_join`.

    Rows with |lat| > ``lat_cap`` are OUT OF CONTRACT and silently
    EXCLUDED, map-side before the shuffle (a row-level raise would
    force an extra action, and a poleward row must never produce a
    possibly-incomplete pair list); pre-assert
    ``df.where(F.abs(F.col(lat)) > lat_cap).isEmpty()`` upstream if
    exclusion must be an error. Cap 84 deg covers every inhabited
    place; for polar data, run a second pass and union. A radius
    unbounded in longitude at the cap raises ``ValueError``.

    Candidates: the longitude extent of a meter radius grows as
    1/cos(lat), so one res sized for the cap would force ~13-degree
    cells everywhere at 150 km (~98M candidate pairs for 37.5k points
    -> 128k true pairs). Instead uniform latitude bands are each
    bucketed at the finest res safe for THAT band's worst latitude
    (+ the radius), with the exact spherical extent (asin form; the
    naive r/(R cos lat) under-covers large radii): ~600k candidates.

    Correct-capture proof: a pair (a, b) within ``radius_m`` has
    |dphi| <= radius/R =: r_deg degrees, and band_of(lat) =
    clamp(floor((lat + cap) / w), 0, n-1) is monotone in lat, so b's
    band always lies in [band_of(lat_a - r_deg), band_of(lat_a + r_deg)]
    — the <= 2 consecutive bands a probes (w >= 2 r_deg). Each point
    builds in exactly ONE band -> every pair is discovered exactly
    once, no cross-band dedup. Within band i, both endpoints' |lat| <=
    band_edge + r_deg, the latitude the band's res was solved for ->
    the 1-ring guarantee holds.

    Plan shape: the per-band res is a DATA-DRIVEN lookup —
    ``element_at(<literal res array>, band + 1)`` feeding
    :func:`_grid_cell_rescol` — not an unrolled per-band CaseWhen (28
    bands x 9-cell rings took Catalyst ~11 s and codegen never
    finished), so a 2 m radius (84 bands) costs the same expression
    size as 150 km. The probe explodes <= 2 bands x 9 cells into a
    (band, cell) shuffle-hash equi-join, AQE-splittable.

    ``with_dist=False`` omits the dist_m column: cross-engine oracles
    should compare the PAIR SET (a libm 1-ulp difference can flip a
    printed digit of dist_m, but flips set membership only for pairs
    within ~1e-9 relative of the radius — measure-zero in practice,
    impossible in the synthetic fixtures)."""
    import math

    if not (0.0 < lat_cap < 90.0):
        raise ValueError("lat_cap must be in (0, 90)")
    r_deg_lat = math.degrees(radius_m / EARTH_RADIUS_M)
    band_w = max(2.0 * r_deg_lat, 6.0)
    n_bands = max(1, math.ceil(2.0 * lat_cap / band_w))
    res_list: list[int] = []
    for i in range(n_bands):
        lo = -lat_cap + i * band_w
        hi = min(lo + band_w, lat_cap)
        # every hashed lat (probe or build) is guarded to |lat| <=
        # lat_cap, so the band's worst-case latitude clamps there
        worst = min(max(abs(lo), abs(hi)) + r_deg_lat, lat_cap)
        half = math.sin(radius_m / (2.0 * EARTH_RADIUS_M)) / math.cos(
            math.radians(worst)
        )
        if half >= 1.0:
            raise ValueError(
                f"radius_m={radius_m} unbounded in longitude near "
                f"lat {worst}; lower lat_cap or split polar rows"
            )
        radius_deg = max(r_deg_lat, math.degrees(2.0 * math.asin(half)))
        res_list.append(within_distance_res(radius_deg))
    res_arr = F.array(*[F.lit(r) for r in res_list])

    def guard(c: Column) -> Column:
        return F.when(F.abs(c) <= F.lit(lat_cap), c)

    def band_of(latc: Column) -> Column:
        raw = F.floor((latc + F.lit(lat_cap)) / F.lit(band_w))
        return F.least(
            F.greatest(raw, F.lit(0)), F.lit(n_bands - 1)
        ).cast("int")

    lon_c, lat_g = F.col(lon), guard(F.col(lat))

    # probe: the <= 2 bands the radius interval can touch, each at its
    # own looked-up res (out-of-cap lat -> null band -> filtered out)
    probe_bands = F.array_distinct(
        F.array(
            band_of(lat_g - F.lit(r_deg_lat)),
            band_of(lat_g + F.lit(r_deg_lat)),
        )
    )
    probe = (
        left.select(
            F.col(left_id).alias("__ida"),
            F.col(lon).alias("__lona"),
            lat_g.alias("__lata"),
            F.explode(
                F.filter(probe_bands, lambda b: b.isNotNull())
            ).alias("__band"),
        )
        .withColumn("__res", F.element_at(res_arr, F.col("__band") + 1))
        .select(
            "__ida",
            "__lona",
            "__lata",
            "__band",
            F.explode(
                _neighbor_cells_rescol(
                    F.col("__lona"), F.col("__lata"), F.col("__res")
                )
            ).alias("__cell"),
        )
    )
    # build: each point keys in exactly its OWN band
    build = (
        right.select(
            F.col(right_id).alias("__idb"),
            F.col(lon).alias("__lonb"),
            lat_g.alias("__latb"),
            band_of(lat_g).alias("__band"),
        )
        .where(F.col("__band").isNotNull())
        .withColumn("__res", F.element_at(res_arr, F.col("__band") + 1))
        .withColumn(
            "__cell",
            _grid_cell_rescol(
                F.col("__lonb"), F.col("__latb"), F.col("__res")
            ),
        )
        .drop("__res")
    )
    pair = probe.hint("shuffle_hash").join(
        build.hint("shuffle_hash"), ["__band", "__cell"]
    )
    if self_pairs:
        pair = pair.where(F.col("__ida") < F.col("__idb"))
    d = haversine_m(
        F.col("__lona"), F.col("__lata"), F.col("__lonb"), F.col("__latb")
    )
    out = pair.where(d <= F.lit(float(radius_m)))
    cols = [F.col("__ida").alias(left_id), F.col("__idb").alias(right_id)]
    if with_dist:
        cols.append(d.alias("dist_m"))
    return out.select(*cols)


# --------------------------------------------------------------------------
# Road-network connectivity: connected components over segments that
# share (quantized) endpoints — island/orphan detection, the graph
# operator road-network QA pipelines run before routing or tiling.
# --------------------------------------------------------------------------

_NODE_OFF = 1 << 29  # |quantized coord| < 2^29 at quantum 1e-6
_NODE_STRIDE = 1 << 30


def quantize_node(x: Column, y: Column, quantum: float = 1e-6) -> Column:
    """Pack an endpoint into a single node id by half-up quantization
    to ``quantum`` degrees (floor(v/quantum + 0.5) — exact integer
    floor arithmetic, bit-identical in any engine). 1e-6 deg is ~11 cm
    at the equator: endpoints digitized as 'the same junction' collide,
    float noise below the quantum does not split them."""
    if quantum <= 0:
        raise ValueError(f"quantum must be positive, got {quantum}")
    # the fixed packing holds |quantized coord| < 2^29 for geographic
    # degrees (|v| <= 180); a finer quantum would silently bleed qy
    # into the qx field and fuse unrelated junctions' node ids
    if 180.0 / quantum + 0.5 >= _NODE_OFF:
        raise ValueError(
            f"quantum {quantum} overflows the node packing: need "
            f"180/quantum + 0.5 < 2^29 (quantum > ~3.4e-7 deg)"
        )
    inv = 1.0 / quantum
    qx = F.floor(x * F.lit(inv) + F.lit(0.5)).cast("long")
    qy = F.floor(y * F.lit(inv) + F.lit(0.5)).cast("long")
    return (qx + F.lit(_NODE_OFF)) * F.lit(_NODE_STRIDE) + (qy + F.lit(_NODE_OFF))


def segment_components(
    segs: DataFrame,
    quantum: float = 1e-6,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
    max_iterations: int = 50,
) -> DataFrame:
    """(seg_id, component) where component is the minimum seg_id
    reachable through shared endpoints — each weakly-connected piece
    of the road network gets its min-id representative; isolated
    segments are their own component.

    Plan: endpoints unpivot to 2|S| skinny (seg, node) rows; one
    groupBy(node) takes the min segment per junction; the join-back
    emits (min_seg, seg) star edges — the standard bipartite reduction
    that keeps hub junctions LINEAR in degree instead of quadratic —
    and the O(log n)-round large-star/small-star CC
    (operators/dedup.py::connected_components) resolves components.
    Every stage shuffles on node/seg ids only; geometry never rides a
    shuffle. Megacity junction hubs are groupBy skew, not pair
    explosion."""
    from osm_legal_default_speeds_spark.operators.dedup import (
        connected_components,
    )

    ends = segs.select(
        F.col(seg_id).alias("__seg"),
        quantize_node(F.col(lon0), F.col(lat0), quantum).alias("__node"),
    ).unionAll(
        segs.select(
            F.col(seg_id).alias("__seg"),
            quantize_node(F.col(lon1), F.col(lat1), quantum).alias("__node"),
        )
    )
    m = ends.groupBy("__node").agg(F.min("__seg").alias("__a"))
    edges = (
        ends.join(m, "__node")
        .where(F.col("__seg") != F.col("__a"))
        .select(F.col("__a").alias("id_a"), F.col("__seg").alias("id_b"))
        .distinct()
    )
    cc = connected_components(edges, max_iterations=max_iterations)
    out = (
        segs.select(F.col(seg_id).alias("__seg"))
        .distinct()
        .join(cc, F.col("__seg") == F.col("node"), "left")
        .select(
            F.col("__seg").alias(seg_id),
            F.coalesce(F.col("component"), F.col("__seg")).alias("component"),
        )
    )
    return out


# --------------------------------------------------------------------------
# Line-line spatial join: all pairs of segments that intersect
# (road-crossing / conflict detection). Candidates share a supercover
# cell; the exact parametric predicate and the intersection point are
# pure +,-,*,/ arithmetic, so cross-engine bit-identical.
# --------------------------------------------------------------------------

def segment_intersections(
    segs: DataFrame,
    res: int,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
) -> DataFrame:
    """Every unordered pair of DISTINCT segments with a unique
    intersection point (proper crossings and endpoint touches):
    (id_a, id_b, ix, iy) with id_a < id_b. Collinear overlaps (zero
    cross product) are excluded by contract — their intersection is a
    set, not a point; run :func:`segment_components` for connectivity
    through them.

    Plan: both sides explode their exact supercover cells at ``res``
    (skinny id+geometry rows), ONE shuffle-hash self-equi-join on cell
    with ``id_a < id_b``, the exact predicate
    (t = cross(q-p, s)/cross(r, s), u = cross(q-p, r)/cross(r, s),
    both in [0,1]), then ``distinct`` — a pair sharing several cells
    collapses because the intersection point is computed identically
    on every copy. Never a cross product; the join fan-out is bounded
    by cell co-occupancy, and res trades candidate volume against
    explode fan-out exactly like rasterize_segments.

    Completeness: the intersection point lies ON both segments, so
    each supercover contains a cell containing it; when the point sits
    exactly on a grid line the two covers may pick different adjacent
    cells, but every segment through a boundary point covers a cell
    ring around it, and the covers always share at least one of those
    cells — candidate generation joins on ANY shared cell, not just
    the point's cell."""
    nx, ny = grid_nx(res), grid_ny(res)

    cells = segment_cells(
        *segment_grid_coords(lon0, lat0, lon1, lat1, res), nx, ny
    )
    flat = segs.select(
        F.col(seg_id).alias("__sid"),
        F.col(lon0).alias("__x0"),
        F.col(lat0).alias("__y0"),
        F.col(lon1).alias("__x1"),
        F.col(lat1).alias("__y1"),
        F.explode(cells).alias("__c"),
    ).select(
        "__sid", "__x0", "__y0", "__x1", "__y1",
        (F.col("__c.cx") * ny + F.col("__c.cy")).cast("long").alias("__cell"),
    )
    # identical shuffle-hash-hinted sides -> ReuseExchange computes the
    # supercover explode + scan ONCE (the minhash self-join idiom; a
    # renamed-projection build side defeats plan canonicalization and
    # re-runs the explode); id ordering moves to a post-join filter
    a = flat.hint("shuffle_hash").alias("a")
    b = flat.hint("shuffle_hash").alias("b")
    pair = a.join(b, ["__cell"]).where(F.col("a.__sid") < F.col("b.__sid"))
    rx = F.col("a.__x1") - F.col("a.__x0")
    ry = F.col("a.__y1") - F.col("a.__y0")
    sx = F.col("b.__x1") - F.col("b.__x0")
    sy = F.col("b.__y1") - F.col("b.__y0")
    qpx = F.col("b.__x0") - F.col("a.__x0")
    qpy = F.col("b.__y0") - F.col("a.__y0")
    den = rx * sy - ry * sx
    t = (qpx * sy - qpy * sx) / den
    u = (qpx * ry - qpy * rx) / den
    hit = pair.where(
        (den != 0)
        & (t >= 0.0) & (t <= 1.0)
        & (u >= 0.0) & (u <= 1.0)
    )
    return hit.select(
        F.col("a.__sid").alias("id_a"),
        F.col("b.__sid").alias("id_b"),
        (F.col("a.__x0") + t * rx).alias("ix"),
        (F.col("a.__y0") + t * ry).alias("iy"),
    ).distinct()


# --------------------------------------------------------------------------
# Polygon statistics: shoelace area, perimeter, vertex count, bbox —
# native array folds over the packed ring representation (dim-table
# scale; per-row work O(vertices), no shuffle, no UDF).
# --------------------------------------------------------------------------

def polygon_stats(polys: DataFrame) -> DataFrame:
    """(region_code, n_rings, n_vertices, area_deg2, perimeter_deg,
    lon_min, lat_min, lon_max, lat_max) for the packed-rings polygon
    table (polygons_to_df layout: rings array<struct<xs, ys>>). Area
    is the shoelace sum with holes SUBTRACTED via |outer| - sum|holes|
    (rings are stored with arbitrary orientation, so each ring's
    absolute area is used; ring 0 is the outer ring by the
    PolygonBoundary contract). Planar degree units by design — the
    index-space measure; multiply by the Lambert cell factor or use an
    equal-area projection upstream for km^2."""
    rings = F.col("rings")

    def ring_shoelace2(r: Column) -> Column:
        xs, ys = r.getField("xs"), r.getField("ys")
        n = F.size(xs)
        idx = F.sequence(F.lit(1), n)
        # one ADD per step (acc + (xy - yx)): the DuckDB twin's
        # list_reduce over identical per-vertex terms then rounds in
        # the same order -> bit-identical sums
        return F.abs(
            F.aggregate(
                idx,
                F.lit(0.0),
                lambda acc, i: acc
                + (
                    F.element_at(xs, i)
                    * F.element_at(ys, F.pmod(i, n).cast("int") + 1)
                    - F.element_at(xs, F.pmod(i, n).cast("int") + 1)
                    * F.element_at(ys, i)
                ),
            )
        )

    def ring_perimeter(r: Column) -> Column:
        xs, ys = r.getField("xs"), r.getField("ys")
        n = F.size(xs)
        idx = F.sequence(F.lit(1), n)
        return F.aggregate(
            idx,
            F.lit(0.0),
            lambda acc, i: acc
            + F.sqrt(
                (F.element_at(xs, F.pmod(i, n).cast("int") + 1) - F.element_at(xs, i))
                * (F.element_at(xs, F.pmod(i, n).cast("int") + 1) - F.element_at(xs, i))
                + (F.element_at(ys, F.pmod(i, n).cast("int") + 1) - F.element_at(ys, i))
                * (F.element_at(ys, F.pmod(i, n).cast("int") + 1) - F.element_at(ys, i))
            ),
        )

    # stage the per-ring shoelace array ONCE — Catalyst does not CSE a
    # duplicated O(vertices) aggregate subtree (working-notes fact), so
    # deriving outer + holes from one staged column halves the
    # dominant per-row cost
    sl = F.col("__sl")
    area2 = F.element_at(sl, 1) - F.coalesce(
        F.aggregate(
            F.slice(sl, 2, 1_000_000),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
        F.lit(0.0),
    )
    perim = F.aggregate(
        F.transform(rings, ring_perimeter), F.lit(0.0), lambda a, v: a + v
    )
    nverts = F.aggregate(
        F.transform(rings, lambda r: F.size(r.getField("xs"))),
        F.lit(0),
        lambda a, v: a + v,
    )
    staged = polys.withColumn("__sl", F.transform(rings, ring_shoelace2))
    return staged.select(
        "region_code",
        F.size(rings).alias("n_rings"),
        nverts.alias("n_vertices"),
        (area2 / 2.0).alias("area_deg2"),
        perim.alias("perimeter_deg"),
        F.aggregate(rings, F.lit(float("inf")), lambda a, r: F.least(a, F.array_min(r.getField("xs")))).alias("lon_min"),
        F.aggregate(rings, F.lit(float("inf")), lambda a, r: F.least(a, F.array_min(r.getField("ys")))).alias("lat_min"),
        F.aggregate(rings, F.lit(float("-inf")), lambda a, r: F.greatest(a, F.array_max(r.getField("xs")))).alias("lon_max"),
        F.aggregate(rings, F.lit(float("-inf")), lambda a, r: F.greatest(a, F.array_max(r.getField("ys")))).alias("lat_max"),
    )


# --------------------------------------------------------------------------
# Vector-tile sink: per-tile binary feature blobs (the artifact a tile
# server ships). Deterministic fixed-width format so tiles are
# byte-reproducible across partitionings and engines:
#   header  = b"VT01" + u32 n_features (little-endian)
#   feature = u64 seg_id + 4 x f64 (lon0, lat0, lon1, lat1)  [40 B]
# features sorted by (seg_id, lon0, lat0, lon1, lat1).
# --------------------------------------------------------------------------

VT_MAGIC = b"VT01"
VT_FEATURE_BYTES = 40
VT_HEADER_BYTES = 8
# feature record: <q4d — seg_id is SIGNED (the column type is long and
# simplify_to_segments propagates the caller's line ids into it; an
# unsigned '<Q' pack would abort the task with struct.error on the
# first negative id)


def encode_vector_tiles(
    segs: DataFrame,
    res: int,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
    clip: bool = False,
) -> DataFrame:
    """(tile_id, n_features, byte_len, tile_blob): every segment is
    stamped into each tile it crosses (exact supercover — the standard
    tile-duplication contract, so any single tile renders without its
    neighbors), and each tile packs its features into one
    deterministic binary blob.

    Plan: the supercover explode carries the skinny geometry columns
    (never payloads), ONE groupBy(cell) shuffle whose rows are 40-byte
    features, then an Arrow-batched applyInPandas packs each tile —
    grouped state is one tile's features, bounded by res x density
    (pick a finer res for megacity tiles; a blob must see all its
    features, so salting does not apply). Blob bytes are a pure
    function of the feature SET (sorted before packing), so output is
    partitioning-invariant and byte-reproducible."""
    import pandas as pd

    nx, ny = grid_nx(res), grid_ny(res)

    if clip:
        # store the clipped sub-segment per tile (what production tile
        # encoders ship — a tile renders with no out-of-bounds strokes;
        # same 40-byte feature format, coords are the clip endpoints)
        flat = clip_segments(segs, res, seg_id, lon0, lat0, lon1, lat1).select(
            F.col(seg_id).alias("__sid"),
            F.col("clip_lon0").alias("__x0"),
            F.col("clip_lat0").alias("__y0"),
            F.col("clip_lon1").alias("__x1"),
            F.col("clip_lat1").alias("__y1"),
            F.col("cell").alias("tile_id"),
        )
    else:
        cells = segment_cells(
            *segment_grid_coords(lon0, lat0, lon1, lat1, res), nx, ny
        )
        flat = segs.select(
            F.col(seg_id).alias("__sid"),
            F.col(lon0).alias("__x0"),
            F.col(lat0).alias("__y0"),
            F.col(lon1).alias("__x1"),
            F.col(lat1).alias("__y1"),
            F.explode(cells).alias("__c"),
        ).select(
            "__sid", "__x0", "__y0", "__x1", "__y1",
            (F.col("__c.cx") * ny + F.col("__c.cy")).cast("long").alias("tile_id"),
        )

    # ONE native aggregation (collect_list + array_sort — JVM-side,
    # map-side partial) then a BATCHED pandas UDF that packs thousands
    # of tiles per Arrow batch. A per-group applyInPandas measured
    # ~8x slower here: tile groups are tiny, so per-group Python/
    # pandas-frame overhead dominated the actual byte packing.
    agg = flat.groupBy("tile_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("__sid", "__x0", "__y0", "__x1", "__y1")
            )
        ).alias("__feats")
    )

    import struct as _struct

    from pyspark.sql.functions import pandas_udf

    def _pack_fn(feats):
        out = []
        for fl in feats:
            blob = VT_MAGIC + _struct.pack("<I", len(fl))
            blob += b"".join(
                _struct.pack(
                    "<q4d",
                    f["__sid"], f["__x0"], f["__y0"], f["__x1"], f["__y1"],
                )
                for f in fl
            )
            out.append(blob)
        return pd.Series(out)

    # hint-free form: `from __future__ import annotations` stringifies
    # local type hints, which pandas_udf cannot resolve
    _pack = pandas_udf(_pack_fn, "binary")

    return agg.select(
        "tile_id",
        F.size("__feats").alias("n_features"),
        _pack(F.col("__feats")).alias("tile_blob"),
    ).select(
        "tile_id",
        "n_features",
        F.length("tile_blob").cast("int").alias("byte_len"),
        "tile_blob",
    )


def decode_vector_tile(blob: bytes) -> list[tuple]:
    """Driver/test-side decoder: the exact inverse of the pack format.
    Raises on magic/length mismatch (a truncated tile must never
    render silently)."""
    import struct

    if blob[:4] != VT_MAGIC:
        raise ValueError("bad vector-tile magic")
    (n,) = struct.unpack_from("<I", blob, 4)
    if len(blob) != VT_HEADER_BYTES + n * VT_FEATURE_BYTES:
        raise ValueError("truncated vector tile")
    out = []
    for i in range(n):
        out.append(
            struct.unpack_from("<q4d", blob, VT_HEADER_BYTES + i * VT_FEATURE_BYTES)
        )
    return out


# --------------------------------------------------------------------------
# Tile clipping: the sub-segment each crossed tile actually contains
# (what a real tile encoder stores instead of the whole way). Falls
# directly out of the supercover parameter-cut construction: each cut
# interval IS the clip.
# --------------------------------------------------------------------------

def clip_segments(
    segs: DataFrame,
    res: int,
    id_col: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
) -> DataFrame:
    """One row per (segment, traversal interval): (seg_id, seq, cell,
    clip_lon0, clip_lat0, clip_lon1, clip_lat1) where the clip
    endpoints are the segment interpolated at the interval's parameter
    cuts — consecutive clips share endpoints exactly (t is cut once,
    interpolation is the same IEEE expression), so per-tile geometry
    reassembles seamlessly.

    Same midpoint-cut contract as ``segment_cells``; intervals are NOT
    cell-deduped (a corner-exact cut can split one cell's run into two
    adjacent intervals — both engines produce the identical split, and
    renderers draw them seamlessly). Map-side explode only, fan-out =
    crossed-interval count, geometry rides as 4 doubles."""
    nx, ny = grid_nx(res), grid_ny(res)
    gx0, gy0 = grid_xy_cont(lon0, lat0, res)
    gx1, gy1 = grid_xy_cont(lon1, lat1, res)
    dx = gx1 - gx0
    dy = gy1 - gy0
    ts = segment_cut_params(gx0, gy0, gx1, gy1)

    def clamp(c: Column, hi: int) -> Column:
        return F.least(F.greatest(c, F.lit(0)), F.lit(hi - 1))

    ivals = F.transform(
        F.sequence(F.lit(1), F.size(ts) - 1),
        lambda i: F.struct(
            F.element_at(ts, i).alias("t0"),
            F.element_at(ts, i + 1).alias("t1"),
            clamp(
                F.floor(gx0 + ((F.element_at(ts, i) + F.element_at(ts, i + 1)) / 2.0) * dx),
                nx,
            ).alias("cx"),
            clamp(
                F.floor(gy0 + ((F.element_at(ts, i) + F.element_at(ts, i + 1)) / 2.0) * dy),
                ny,
            ).alias("cy"),
        ),
    )
    dlon = F.col(lon1) - F.col(lon0)
    dlat = F.col(lat1) - F.col(lat0)
    out = segs.select(
        id_col,
        F.col(lon0).alias("__lon0"),
        F.col(lat0).alias("__lat0"),
        dlon.alias("__dlon"),
        dlat.alias("__dlat"),
        F.posexplode(ivals).alias("seq", "v"),
    )
    return out.select(
        id_col,
        "seq",
        (F.col("v.cx") * ny + F.col("v.cy")).cast("long").alias("cell"),
        (F.col("__lon0") + F.col("v.t0") * F.col("__dlon")).alias("clip_lon0"),
        (F.col("__lat0") + F.col("v.t0") * F.col("__dlat")).alias("clip_lat0"),
        (F.col("__lon0") + F.col("v.t1") * F.col("__dlon")).alias("clip_lon1"),
        (F.col("__lat0") + F.col("v.t1") * F.col("__dlat")).alias("clip_lat1"),
    )


# --------------------------------------------------------------------------
# Incremental tile maintenance: apply a segment changeset to an
# existing tile table without rebuilding the corpus — the tile-layer
# analogue of plans/rules_diff.reinfer_changed. Production shape: OSM
# diffs arrive daily as changesets; at 10^12 rows a full re-encode is
# off the table, and because a tile blob is a pure function of its
# sorted feature SET, the incremental result can be (and is, pinned by
# test) bit-identical to a full rebuild.
# --------------------------------------------------------------------------

def segment_changeset(
    old_segs: DataFrame,
    new_segs: DataFrame,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
) -> tuple[DataFrame, DataFrame]:
    """Batch diff of two segment corpora keyed by ``seg_id``:
    (removed, upserted), each with the (seg_id, lon0, lat0, lon1, lat1)
    schema. ``removed`` carries the OLD geometry of segments that
    vanished or moved (needed to know which tiles to clean);
    ``upserted`` carries the NEW geometry of segments that appeared or
    moved. Unchanged segments appear in neither.

    One full-outer shuffle join on seg_id; the two outputs are
    projections of the same joined plan (evaluate both in one pass by
    persisting the join if the corpora are expensive to rescan — in
    production the changeset usually ARRIVES as a changeset and this
    helper is skipped entirely)."""
    o = old_segs.select(
        F.col(seg_id).alias("__sid"),
        F.col(lon0).alias("__olon0"), F.col(lat0).alias("__olat0"),
        F.col(lon1).alias("__olon1"), F.col(lat1).alias("__olat1"),
    )
    n = new_segs.select(
        F.col(seg_id).alias("__sid"),
        F.col(lon0).alias("__nlon0"), F.col(lat0).alias("__nlat0"),
        F.col(lon1).alias("__nlon1"), F.col(lat1).alias("__nlat1"),
    )
    j = o.join(n, "__sid", "full_outer")
    same = (
        F.col("__olon0").eqNullSafe(F.col("__nlon0"))
        & F.col("__olat0").eqNullSafe(F.col("__nlat0"))
        & F.col("__olon1").eqNullSafe(F.col("__nlon1"))
        & F.col("__olat1").eqNullSafe(F.col("__nlat1"))
    )
    removed = j.where(F.col("__olon0").isNotNull() & ~same).select(
        F.col("__sid").alias(seg_id),
        F.col("__olon0").alias(lon0), F.col("__olat0").alias(lat0),
        F.col("__olon1").alias(lon1), F.col("__olat1").alias(lat1),
    )
    upserted = j.where(F.col("__nlon0").isNotNull() & ~same).select(
        F.col("__sid").alias(seg_id),
        F.col("__nlon0").alias(lon0), F.col("__nlat0").alias(lat0),
        F.col("__nlon1").alias(lon1), F.col("__nlat1").alias(lat1),
    )
    return removed, upserted


def rebuild_changed_tiles(
    old_tiles: DataFrame,
    removed_segs: DataFrame,
    upserted_segs: DataFrame,
    res: int,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
    clip: bool = False,
    broadcast_dirty: bool = True,
) -> DataFrame:
    """Apply a segment changeset to an :func:`encode_vector_tiles`
    output table: recompute ONLY the dirty tiles, carry every other
    blob over untouched. Returns the full new tile table
    (tile_id, n_features, byte_len, tile_blob) — BIT-IDENTICAL to
    ``encode_vector_tiles(new_corpus, res, clip=clip)`` (pinned by
    test_incremental_tiles_equal_full_rebuild), because a blob is a
    pure function of its sorted feature set: old features are decoded
    from the dirty tile's own blob, the removed seg ids are dropped,
    the upserted segments' features are merged in, and the set is
    re-sorted and re-packed by the same format.

    ``removed_segs`` must carry the exact OLD geometry that was
    encoded (its supercover names the tiles to clean); ``upserted_segs``
    carries NEW geometry. A moved segment appears in both (see
    :func:`segment_changeset`).

    Scale shape (the point of the operator): every explode/groupBy is
    CHANGESET-proportional, and the corpus-sized ``old_tiles`` is
    scanned twice but NEVER shuffled — the dirty tile set is
    changeset-sized and broadcast into an inner join (fetch dirty
    blobs) and a left-anti join (carry-over). Work is
    O(|changeset| + features in dirty tiles); a daily planet diff
    touches a vanishing fraction of 10^12 tiles.

    The three changeset-proportional intermediates (per-tile removal
    sets, per-tile added features, dirty tile ids) are eagerly
    ``localCheckpoint``ed. The plan references each of them 2-3 times
    and Spark's exchange reuse is unreliable over RDD-backed sources
    (see CLAUDE.md), so lazily they re-run their whole supercover/clip
    explode per reference — measured 4.0 s -> 1.0 s on a sf0.1
    half-corpus changeset, bit-identical output. Memory is bounded by
    the changeset by contract.

    ``broadcast_dirty`` (default True): broadcast the dirty tile-id set
    into the two old_tiles joins — right for the contract's small-diff
    regime. For a BULK changeset (re-import touching a large fraction
    of tiles) pass False: the joins fall back to shuffles and the job
    degrades gracefully toward full-rebuild cost instead of overflowing
    the broadcast limit."""
    carried, rebuilt, _ = _rebuild_changed_tiles_parts(
        old_tiles, removed_segs, upserted_segs, res, seg_id,
        lon0, lat0, lon1, lat1, clip, broadcast_dirty,
    )
    return carried.unionByName(rebuilt)


def rebuild_changed_tiles_delta(
    old_tiles: DataFrame,
    removed_segs: DataFrame,
    upserted_segs: DataFrame,
    res: int,
    seg_id: str = "seg_id",
    lon0: str = "lon0",
    lat0: str = "lat0",
    lon1: str = "lon1",
    lat1: str = "lat1",
    clip: bool = False,
    broadcast_dirty: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The DELTA form of :func:`rebuild_changed_tiles`: returns
    ``(rebuilt, dirty)`` where ``rebuilt`` is the changed tiles' new
    rows (same schema as the full table; emptied tiles absent) and
    ``dirty`` is the single-column ``tile_id`` set of every tile the
    changeset touched (tombstones: dirty ids absent from ``rebuilt``
    were emptied). ``dirty ⊇ rebuilt.tile_id`` always.

    This is the commit unit for a versioned tile STORE: the full-table
    form re-WRITES the whole corpus per commit even though it only
    re-COMPUTES the dirty tiles — at 10^12 tiles the write, not the
    compute, becomes the bottleneck. A delta commit writes
    O(|changeset|) rows; readers reconstruct
    ``current = (previous anti-join dirty) union rebuilt``
    (see ``streaming/tile_maintenance.py``) and a periodic compaction
    bounds the chain length. Semantics invariant (pinned by
    test_tile_maintenance): chain-applying deltas reproduces the
    full-table form bit-for-bit."""
    _, rebuilt, dirty = _rebuild_changed_tiles_parts(
        old_tiles, removed_segs, upserted_segs, res, seg_id,
        lon0, lat0, lon1, lat1, clip, broadcast_dirty,
    )
    return rebuilt, dirty


def _rebuild_changed_tiles_parts(
    old_tiles: DataFrame,
    removed_segs: DataFrame,
    upserted_segs: DataFrame,
    res: int,
    seg_id: str,
    lon0: str,
    lat0: str,
    lon1: str,
    lat1: str,
    clip: bool,
    broadcast_dirty: bool,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared machinery: (carried, rebuilt, dirty) — lazy past the three
    checkpointed intermediates, so a caller that ignores ``carried``
    never pays its anti-join."""
    import pandas as pd
    import struct as _struct

    from pyspark.sql.functions import pandas_udf

    nx, ny = grid_nx(res), grid_ny(res)

    def cover_cells(segs: DataFrame) -> DataFrame:
        """(tile_id, __sid) for every tile the segment's supercover
        crosses — the same midpoint-cut construction the encoder
        stamped, so the dirty set is exact in both clip modes."""
        cells = segment_cells(
            *segment_grid_coords(lon0, lat0, lon1, lat1, res), nx, ny
        )
        return segs.select(
            F.col(seg_id).alias("__sid"), F.explode(cells).alias("__c")
        ).select(
            "__sid",
            (F.col("__c.cx") * ny + F.col("__c.cy")).cast("long").alias("tile_id"),
        )

    rm_cells = cover_cells(removed_segs)
    if clip:
        up_flat = clip_segments(
            upserted_segs, res, seg_id, lon0, lat0, lon1, lat1
        ).select(
            F.col("cell").alias("tile_id"),
            F.struct(
                F.col(seg_id).alias("sid"),
                F.col("clip_lon0").alias("x0"),
                F.col("clip_lat0").alias("y0"),
                F.col("clip_lon1").alias("x1"),
                F.col("clip_lat1").alias("y1"),
            ).alias("__f"),
        )
    else:
        up_flat = cover_cells(upserted_segs).join(
            upserted_segs.select(
                F.col(seg_id).alias("__sid"),
                F.col(lon0).alias("__x0"), F.col(lat0).alias("__y0"),
                F.col(lon1).alias("__x1"), F.col(lat1).alias("__y1"),
            ),
            "__sid",
        ).select(
            "tile_id",
            F.struct(
                F.col("__sid").alias("sid"),
                F.col("__x0").alias("x0"), F.col("__y0").alias("y0"),
                F.col("__x1").alias("x1"), F.col("__y1").alias("y1"),
            ).alias("__f"),
        )

    rm_per_tile = rm_cells.groupBy("tile_id").agg(
        F.collect_set("__sid").alias("__rm_sids")
    )
    add_per_tile = up_flat.groupBy("tile_id").agg(
        F.collect_list("__f").alias("__add_feats")
    )
    rm_per_tile = rm_per_tile.localCheckpoint()
    add_per_tile = add_per_tile.localCheckpoint()
    # dirty derives from the (materialized) aggregates, so the flats
    # are evaluated exactly once each
    dirty = (
        rm_per_tile.select("tile_id")
        .union(add_per_tile.select("tile_id"))
        .distinct()
        .localCheckpoint()
    )
    # corpus-sized side: scanned, never shuffled (broadcast build side)
    dirty_b = F.broadcast(dirty) if broadcast_dirty else dirty
    dirty_old = old_tiles.select("tile_id", "tile_blob").join(
        dirty_b, "tile_id"
    )
    carried = old_tiles.join(dirty_b, "tile_id", "left_anti").select(
        "tile_id", "n_features", "byte_len", "tile_blob"
    )
    # dirty_old carries tile BLOBS: broadcast only when the changeset
    # is small (broadcast_dirty=True); a bulk changeset's dirty-tile
    # blobs would blow the broadcast cap, so shuffle-join instead
    dirty_old_b = F.broadcast(dirty_old) if broadcast_dirty else dirty_old
    base = (
        dirty.join(dirty_old_b, "tile_id", "left")
        .join(rm_per_tile, "tile_id", "left")
        .join(add_per_tile, "tile_id", "left")
    )

    def _rebuild_fn(blobs, rm_sids, add_feats):
        out = []
        for blob, rm, add in zip(blobs, rm_sids, add_feats):
            feats: list[tuple] = []
            if blob is not None:
                feats.extend(decode_vector_tile(bytes(blob)))
            # upsert REPLACES within the tile: drop both removed sids
            # and the upserted sids' old features before merging (a
            # no-op under the segment_changeset contract, where every
            # moved seg ships its old geometry as a remove — but it
            # makes per-tile upserts idempotent under streaming
            # retries)
            drop = set(int(s) for s in rm) if rm is not None else set()
            if add is not None and len(add):
                drop.update(int(a["sid"]) for a in add)
            if drop:
                feats = [f for f in feats if f[0] not in drop]
            if add is not None and len(add):
                feats.extend(
                    (int(a["sid"]), a["x0"], a["y0"], a["x1"], a["y1"])
                    for a in add
                )
            if not feats:
                out.append(None)  # tile emptied -> row dropped below
                continue
            feats.sort()  # tuple order == array_sort struct field order
            blob = VT_MAGIC + _struct.pack("<I", len(feats))
            blob += b"".join(_struct.pack("<q4d", *f) for f in feats)
            out.append(blob)
        return pd.Series(out)

    _rebuild = pandas_udf(_rebuild_fn, "binary")
    rebuilt = (
        base.select(
            "tile_id",
            _rebuild(
                F.col("tile_blob"), F.col("__rm_sids"), F.col("__add_feats")
            ).alias("tile_blob"),
        )
        .where(F.col("tile_blob").isNotNull())
        .select(
            "tile_id",
            ((F.length("tile_blob") - VT_HEADER_BYTES) / VT_FEATURE_BYTES)
            .cast("int")
            .alias("n_features"),
            F.length("tile_blob").cast("int").alias("byte_len"),
            "tile_blob",
        )
    )
    return carried, rebuilt, dirty


# --------------------------------------------------------------------------
# Geohash: the interoperable base32 cell id (same bit-interleave family
# as zorder_key, lon-first, standard alphabet) — pure integer Column
# algebra, so ids match any external geohash library character for
# character and the DuckDB twin is bit-identical.
# --------------------------------------------------------------------------

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Standard geohash string of ``precision`` characters (5 bits
    each, longitude first): quantize lon to ceil(5p/2) bits and lat to
    floor(5p/2), interleave MSB-first, emit base32. Clamps at the
    domain edges like the rest of the grid family. Codegen'd shifts/
    masks + a literal char lookup — no UDF."""
    if not (1 <= precision <= 12):
        raise ValueError("precision must be in [1, 12]")
    bits = 5 * precision
    lonbits = (bits + 1) // 2
    latbits = bits // 2
    x = F.least(
        F.greatest(F.floor((lon + 180.0) / 360.0 * (1 << lonbits)), F.lit(0)),
        F.lit((1 << lonbits) - 1),
    ).cast("long")
    y = F.least(
        F.greatest(F.floor((lat + 90.0) / 180.0 * (1 << latbits)), F.lit(0)),
        F.lit((1 << latbits) - 1),
    ).cast("long")

    def bit(j: int) -> Column:
        if j % 2 == 0:
            return F.shiftright(x, lonbits - 1 - j // 2).bitwiseAND(F.lit(1))
        return F.shiftright(y, latbits - 1 - (j - 1) // 2).bitwiseAND(F.lit(1))

    alphabet = F.array(*[F.lit(c) for c in _GEOHASH32])
    chars = []
    for k in range(precision):
        v = F.lit(0)
        for b in range(5):
            v = v + bit(5 * k + b) * F.lit(1 << (4 - b))
        chars.append(F.element_at(alphabet, (v + 1).cast("int")))
    return F.concat(*chars)


def geohash_py(lon: float, lat: float, precision: int = 8) -> str:
    """Driver/test twin (plain Python, same quantize-interleave)."""
    bits = 5 * precision
    lonbits = (bits + 1) // 2
    latbits = bits // 2
    x = min(max(int((lon + 180.0) / 360.0 * (1 << lonbits)), 0), (1 << lonbits) - 1)
    y = min(max(int((lat + 90.0) / 180.0 * (1 << latbits)), 0), (1 << latbits) - 1)
    out = []
    for k in range(precision):
        v = 0
        for b in range(5):
            j = 5 * k + b
            if j % 2 == 0:
                bitv = (x >> (lonbits - 1 - j // 2)) & 1
            else:
                bitv = (y >> (latbits - 1 - (j - 1) // 2)) & 1
            v = (v << 1) | bitv
        out.append(_GEOHASH32[v])
    return "".join(out)
