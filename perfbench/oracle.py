"""Driver-side oracles the benchmark checks the program's outputs against.

They are independent, row-at-a-time or NumPy formulations of what the
Spark operators compute: the jurisdiction of a point (PIP, then nearest
boundary), its tile, the rule engine's answer for a road, and the
near-duplicate image components.
"""

from __future__ import annotations

import numpy as np

from osm_legal_default_speeds_spark.operators.spatial import grid_cell_py


def regions(bounds: list[tuple], lon: np.ndarray, lat: np.ndarray) -> tuple[list[str], np.ndarray]:
    """(region per point, mask of points no rectangle contains). PIP
    picks the smallest (priority, code, lon_min, lat_min, lon_max,
    lat_max) containing rectangle; outside every rectangle the nearest
    by squared clamped distance wins, ties to the smaller code."""
    by_pip = sorted(bounds, key=lambda b: (b[5], b[0], b[1], b[2], b[3], b[4]))
    b = np.array([[x[1], x[2], x[3], x[4]] for x in by_pip])
    x, y = lon[:, None], lat[:, None]
    inside = (x >= b[:, 0]) & (x < b[:, 2]) & (y >= b[:, 1]) & (y < b[:, 3])
    hit = inside.any(axis=1)
    first = inside.argmax(axis=1)
    by_code = sorted(bounds, key=lambda r: r[0])
    c = np.array([[r[1], r[2], r[3], r[4]] for r in by_code])
    dx = np.maximum(np.maximum(c[:, 0] - x, x - c[:, 2]), 0.0)
    dy = np.maximum(np.maximum(c[:, 1] - y, y - c[:, 3]), 0.0)
    nearest = (dx * dx + dy * dy).argmin(axis=1)
    out = [
        by_pip[first[i]][0] if hit[i] else by_code[nearest[i]][0]
        for i in range(len(lon))
    ]
    return out, ~hit


def flagship_row(engine, region: str, tags: dict, lon: float, lat: float, tile_res: int) -> dict:
    """The expected output row of the flagship job for one road."""
    r = engine.get_speed_limits(region, tags)
    return {
        "region_code": region,
        "tile_id": grid_cell_py(lon, lat, tile_res),
        "road_type_name": None if r is None else r.road_type_name,
        "certitude": None if r is None else r.certitude,
        "result_tags": None if r is None else dict(r.tags),
    }


_BYTE_BITS = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _popcount64(v: np.ndarray) -> np.ndarray:
    return _BYTE_BITS[v.view(np.uint8).reshape(-1, 8)].sum(axis=1)


def near_dup_components(phashes: list[int], max_hamming: int) -> dict:
    """Connected components of the graph joining images whose phashes
    differ in at most ``max_hamming`` bits. Images with equal phashes
    are always joined, so the graph is built over distinct phash values.
    Returns {kept, largest}: one image survives per component, and the
    largest component's size."""
    values = sorted(set(phashes))
    arr = np.array(values, dtype=np.int64).view(np.uint64)
    parent = list(range(len(values)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(values)):
        close = np.nonzero(_popcount64(arr[i + 1:] ^ arr[i]) <= max_hamming)[0]
        for j in close:
            a, b = find(i), find(i + 1 + int(j))
            if a != b:
                parent[max(a, b)] = min(a, b)
    index = {v: i for i, v in enumerate(values)}
    sizes: dict[int, int] = {}
    for h in phashes:
        root = find(index[h])
        sizes[root] = sizes.get(root, 0) + 1
    return {"kept": len(sizes), "largest": max(sizes.values())}
