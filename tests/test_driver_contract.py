"""Replicates the driver's verify loop: every queries() entry at
sf0.01 must match its oracle_sql() twin in DuckDB — row count, schema
column names, and order-insensitive values."""

import dataclasses
import math
import os
import sys

import duckdb
import numpy as np
import pytest

import __spark_entry__ as entry_mod

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
import oracle as perfbench_oracle  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

pytestmark = pytest.mark.skipif(
    not os.path.exists(SF_DIR), reason="driver testdata missing"
)


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def _rows_to_set(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        # rows-only contract (non-SQL-expressible op): must run and
        # produce a stable, non-empty result
        rows = q(spark, SF_DIR).collect()
        assert len(rows) > 0
        return

    sdf = q(spark, SF_DIR)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    con = _duck()
    # Type audit BEFORE value compare: a DECIMAL/HUGEINT oracle column
    # passes the Python value compare silently (Decimal('220.0') ==
    # 220.0 is True) but serializes differently in the external
    # driver's hash — exactly the r03 pack_sequences red row. Fail
    # loudly here so every oracle stays explicitly typed.
    rel = con.sql(sql)
    loose = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if "DECIMAL" in str(t).upper() or "HUGEINT" in str(t).upper()
    ]
    assert not loose, (
        f"{name}: oracle columns must be explicitly typed "
        f"(DECIMAL/HUGEINT serialize version-sensitively): {loose}"
    )
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: columns differ {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    s = _rows_to_set([tuple(r) for r in spark_rows], spark_cols)
    d = _rows_to_set(duck_rows, duck_cols)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:5]
        pytest.fail(f"{name}: value mismatch, first diffs: {diffs}")


def test_driver_window_composition():
    """The correctness driver checks only the FIRST _WINDOW_SIZE
    queries() entries (insertion order). Since round 5 the window is a
    MECHANICAL staleness-first round-robin (sort by last-driver-row
    round, registration order as tie-break). Pin its invariants:

    1. no query outside the window is staler than any query inside
       (the sort is actually staleness-first);
    2. every query that has never had a driver row, or is >=3 rounds
       stale, sits inside the window (mechanically guaranteed while
       their count fits the capacity);
    3. round-5 spot pins: the 4 first-ever-oracled PQ queries, the 6
       r2-stale queries, and the core cascade set lead the window.
    """
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _LAST_DRIVER_ROW,
        _WINDOW_SIZE,
    )

    keys = list(entry_mod.queries())
    window, rest = keys[:_WINDOW_SIZE], keys[_WINDOW_SIZE:]

    max_inside = max(_LAST_DRIVER_ROW.get(q, 0) for q in window)
    min_outside = min(_LAST_DRIVER_ROW.get(q, 0) for q in rest)
    assert max_inside <= min_outside, (
        f"window is not staleness-first: a query inside was last "
        f"verified r{max_inside} while one outside sits at r{min_outside}"
    )

    current_round = max(_LAST_DRIVER_ROW.values()) + 1
    overdue = [
        q for q in rest
        if _LAST_DRIVER_ROW.get(q, 0) <= current_round - 3
    ]
    assert not overdue, f">=3-rounds-stale queries left outside: {overdue}"

    must_be_inside = {
        # first-ever driver rows: the PQ tier, oracled via integer
        # rank surfaces in round 5
        "ann_pq_topk", "ann_pq_rerank", "ann_ivfpq", "ann_ivf_topk_np",
        # last verified in r2; similarity.py was rewritten after
        "ann_topk", "ann_lsh_topk", "embedding_near_dup",
        "events_rollup", "image_meta", "knn_indexed",
        # the core cascade set (reference semantics pins)
        "tagfilter_atoms", "units_normalize",
        "cascade_infer_native", "result_assembly_native",
        "relation_semijoin_native", "override_column_native",
    }
    missing = sorted(must_be_inside - set(window))
    assert not missing, f"rotated out of the driver window: {missing}"


def test_window_ledger_matches_correctness_files():
    """_LAST_DRIVER_ROW is a pinned copy of what the repo-root
    CORRECTNESS_r0*.json files record; recompute and compare so the
    ledger cannot silently go stale when a new round's file lands."""
    import glob
    import json
    import re

    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _LAST_DRIVER_ROW,
    )

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    files = sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")))
    if not files:
        pytest.skip("no CORRECTNESS files present")
    recomputed = {}
    for path in files:
        rnd = int(re.search(r"_r0*(\d+)\.json$", path).group(1))
        for q in json.load(open(path)):
            recomputed[q] = max(recomputed.get(q, 0), rnd)
    # the ledger may lag by exactly the rounds newer than its pin;
    # compare on the rounds it claims to cover
    covered = max(_LAST_DRIVER_ROW.values())
    stale = {
        q: (r, _LAST_DRIVER_ROW.get(q))
        for q, r in recomputed.items()
        if r <= covered and _LAST_DRIVER_ROW.get(q) != r
    }
    assert not stale, (
        f"_LAST_DRIVER_ROW disagrees with CORRECTNESS files (query: "
        f"(actual, ledger)): {stale} — regenerate the ledger"
    )
    newer = sorted(q for q, r in recomputed.items() if r > covered)
    assert not newer or covered >= max(recomputed.values()) - 1, (
        f"ledger is >1 round behind the CORRECTNESS files; fold in: {newer}"
    )


def test_entry_smoke(spark):
    """Every sf0.001 row of ``entry`` equals the benchmark's oracle row:
    the region from a NumPy PIP-else-nearest pass over the same
    boundaries (covers the US-ND subdivision's priority and the gaps
    between rectangles), the grid tile, and the reference engine's
    answer on the default rule set."""
    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )
    from osm_legal_default_speeds_spark.plans.reference_engine import (
        LegalDefaultSpeedsEngine,
    )

    df = entry_mod.entry(spark)
    assert df.columns == [
        "road_id",
        "region_code",
        "tile_id",
        "road_type_name",
        "certitude",
        "result_tags",
    ]
    got = {r["road_id"]: r.asDict() for r in df.collect()}
    entry_sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
    roads = _roads_df(spark, entry_sf_dir).orderBy("road_id").collect()
    assert len(roads) == len(got) == 1500

    bounds = [dataclasses.astuple(b) for b in synth_boundaries()]
    lon = np.array([r["lon"] for r in roads])
    lat = np.array([r["lat"] for r in roads])
    regions, needs_knn = perfbench_oracle.regions(bounds, lon, lat)
    assert needs_knn.any() and "US-ND" in regions
    engine = LegalDefaultSpeedsEngine(ruleset=load_default_ruleset())
    for road, region in zip(roads, regions):
        want = perfbench_oracle.flagship_row(
            engine, region, dict(road["tags"]), road["lon"], road["lat"], 7
        )
        row = got[road["road_id"]]
        if row["result_tags"] is not None:
            row["result_tags"] = dict(row["result_tags"])
        assert {k: row[k] for k in want} == want, road["road_id"]
