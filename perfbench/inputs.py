"""Seeded inputs for the workloads: the boundary world, the road table
and the parquet schemas the inputs are written with.

Everything here runs on the driver with NumPy/pyarrow, outside any
timed region, and the benchmark keeps the exact inputs it hands to the
program for its correctness oracles.
"""

from __future__ import annotations

import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (region_code, lon_min, lat_min, lon_max, lat_max, priority)
Boundary = tuple

GRID_COLS, GRID_ROWS = 20, 10  # 200 country cells over the world


def world(seed: int, rule_codes: list[str]) -> list[Boundary]:
    """About 250 rectangles: one per rule country on a 20 x 10 raster
    with random gaps between neighbours (the kNN fallback's inputs),
    stripes of subdivisions inside their parents, plus 8 subdivisions
    that have no rules of their own (they resolve to the parent's)."""
    rng = random.Random(f"world-{seed}")
    countries = [c for c in rule_codes if "-" not in c]
    subs: dict[str, list[str]] = {}
    for c in rule_codes:
        if "-" in c:
            subs.setdefault(c.split("-", 1)[0], []).append(c)
    if len(countries) > GRID_COLS * GRID_ROWS:
        raise ValueError("more countries than world cells")
    cw, ch = 360.0 / GRID_COLS, 160.0 / GRID_ROWS
    out: list[Boundary] = []
    cells = list(range(GRID_COLS * GRID_ROWS))
    rng.shuffle(cells)
    for i, (cc, cell) in enumerate(zip(countries, cells)):
        gx, gy = cell % GRID_COLS, cell // GRID_COLS
        lon0 = -180.0 + gx * cw + round(rng.uniform(0.5, 2.5), 3)
        lat0 = -80.0 + gy * ch + round(rng.uniform(0.5, 2.5), 3)
        lon1 = -180.0 + (gx + 1) * cw - round(rng.uniform(0.5, 2.5), 3)
        lat1 = -80.0 + (gy + 1) * ch - round(rng.uniform(0.5, 2.5), 3)
        out.append((cc, lon0, lat0, lon1, lat1, 1 + i))
        kids = list(subs.get(cc, []))
        if cc in subs:
            kids.append(f"{cc}-QXYZ")  # a subdivision without rules
        if kids:
            step = (lon1 - lon0) / (len(kids) + 1)
            for k, sub in enumerate(kids):
                out.append((sub, lon0 + k * step, lat0 + 0.25 * (lat1 - lat0),
                            lon0 + (k + 1) * step, lat1, 0))
    return out


def _zipf_index(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


HIGHWAY_MIX = [
    ("residential", 30), ("service", 20), ("unclassified", 10),
    ("tertiary", 8), ("track", 8), ("secondary", 6), ("primary", 5),
    ("living_street", 3), ("footway", 3), ("trunk", 2), ("motorway", 2),
    ("motorway_link", 1), ("pedestrian", 1), ("busway", 0.5), ("road", 0.5),
]
OPTIONAL_KEYS = [
    ("lit", 0.4, ["yes", "no"]),
    ("lanes", 0.3, ["1", "2", "3", "4"]),
    ("maxspeed", 0.25, ["30", "50", "70", "100", "30 mph", "walk", "none", "signals", "25 mph", "80"]),
    ("surface", 0.2, ["asphalt", "gravel", "unpaved", "paving_stones", "dirt"]),
    ("sidewalk", 0.2, ["both", "no", "left", "separate"]),
    ("zone:traffic", 0.15, ["DE:urban", "DE:rural", "FR:urban", "AT:rural"]),
    ("source:maxspeed", 0.05, ["DE:urban", "GB:nsl_single", "FR:rural"]),
    ("width", 0.1, ["3.5", "12 ft", "7.5", "5'6\"", "2.5"]),
    ("maxweight", 0.05, ["3.5", "7.5 t", "12", "20000 lbs"]),
    ("oneway", 0.15, ["yes", "-1", "no"]),
    ("ref", 0.1, ["B 12", "A1", "N 7", "SR 99"]),
    ("motorroad", 0.03, ["yes"]),
    ("dual_carriageway", 0.03, ["yes"]),
    ("hgv", 0.03, ["no", "destination"]),
    ("hazard", 0.01, ["school_zone"]),
    ("construction", 0.01, ["minor"]),
    ("maxspeed:type", 0.05, ["DE:urban", "GB:national"]),
    ("bicycle_road", 0.01, ["yes"]),
]
# keys no rule reads: they ride along in every road's tag map
NOISE_KEYS = [
    ("note", ["checked", "survey 2021", "needs review"]),
    ("operator", ["city", "county", "state"]),
    ("survey:date", ["2019-04-01", "2022-11-30"]),
    ("mapillary", ["1234567890"]),
]
N_TEMPLATES = 400


def tag_templates() -> list[dict[str, str]]:
    """The catalogue of real-looking rule-relevant tag sets; roads draw
    from it with Zipf frequencies. It is the same for every seed, so
    seeds vary which roads carry which tags, not the tag vocabulary."""
    rng = random.Random("templates")
    hw, wts = zip(*HIGHWAY_MIX)
    out, seen = [], set()
    while len(out) < N_TEMPLATES:
        t = {"highway": rng.choices(hw, weights=wts)[0]}
        for key, p, vals in OPTIONAL_KEYS:
            if rng.random() < p:
                t[key] = rng.choice(vals)
        k = tuple(sorted(t.items()))
        if k not in seen:
            seen.add(k)
            out.append(t)
    return out


def roads(seed: int, n: int, bounds: list[Boundary]) -> dict:
    """Column dict for ``n`` roads: road_id, tags (list of (k, v)),
    lon, lat. Locations fall inside a boundary's rectangle widened by
    0.75 degrees, so some land in the gaps between countries and need
    the kNN fallback. How many roads each country has is a heavy-tailed
    property of the world, the same for every seed; the seed draws the
    roads."""
    countries = [b for b in bounds if b[5] > 0]
    density = np.random.default_rng(17).pareto(1.5, len(countries)) + 1.0
    rng = np.random.default_rng([seed, 17])
    templates = tag_templates()
    tpl = _zipf_index(rng, len(templates), n, 1.1)
    which = rng.choice(len(countries), size=n, p=density / density.sum())
    lo = np.array([[b[1], b[2]] for b in countries])[which]
    hi = np.array([[b[3], b[4]] for b in countries])[which]
    u = rng.random((n, 2))
    pt = lo - 0.75 + u * (hi - lo + 1.5)
    lon = np.round(np.clip(pt[:, 0], -179.999, 179.999), 5)
    lat = np.round(np.clip(pt[:, 1], -84.999, 84.999), 5)
    noise_pick = rng.integers(0, 1 << 30, size=n)
    ids = np.arange(n, dtype=np.int64)
    tags = []
    for i in range(n):
        t = list(templates[tpl[i]].items())
        t.append(("name", f"Road {ids[i]}"))
        r = int(noise_pick[i])
        for j, (key, vals) in enumerate(NOISE_KEYS):
            if (r >> (2 * j)) & 3 == 0:
                t.append((key, vals[(r >> 12) % len(vals)]))
        tags.append(t)
    return {"road_id": ids, "tags": tags, "lon": lon, "lat": lat}


ROADS_SCHEMA = pa.schema([
    ("road_id", pa.int64()),
    ("tags", pa.map_(pa.string(), pa.string())),
    ("lon", pa.float64()),
    ("lat", pa.float64()),
])

IMAGES_SCHEMA = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])


def write_parquet(cols: dict, schema: pa.Schema, path: str, files: int) -> str:
    """Write ``cols`` as ``files`` parquet files under ``path``; return
    a checksum of the rows."""
    table = pa.table(cols, schema=schema)
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))
    return checksum(cols)


def checksum(cols: dict) -> str:
    h = hashlib.sha256()
    for name in sorted(cols):
        h.update(name.encode())
        h.update(repr(list(cols[name])).encode())
    return h.hexdigest()[:16]
