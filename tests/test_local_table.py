"""``sources.local_table.local_table_df`` builds the same table as
``spark.createDataFrame(rows, schema)`` — same rows, same JVM-side
schema — for every schema the flagship broadcasts: the rectangle and
polygon PIP indexes, the kNN index and the rule cascade's country dim.
Checked once with the table held in the plan (``LocalTableScan``) and
once with ``spark.sql.execution.arrow.localRelationThreshold=0``, which
sends it through Spark's RDD fallback."""

from __future__ import annotations

import functools

import pytest

from osm_legal_default_speeds_spark import compile_ruleset
from osm_legal_default_speeds_spark.operators.spatial import (
    _KNN_INDEX_DDL,
    _POLY_INDEX_DDL,
    _RECT_INDEX_DDL,
)
from osm_legal_default_speeds_spark.plans.native_cascade import (
    _dim_schema,
    _get_bundle,
)
from osm_legal_default_speeds_spark.sources.local_table import local_table_df
from tests.test_spark_inference import za_defs

_ODD = "Ö'\"\\ é中\U0001f697"  # unicode, quotes, a backslash

_RECT_ROWS = [
    (7, [
        {"priority": 0, "region_code": "US-ND", "lon_min": -1.5,
         "lat_min": 0.0, "lon_max": 2.0, "lat_max": 3.25},
        {"priority": 2, "region_code": _ODD, "lon_min": -180.0,
         "lat_min": -90.0, "lon_max": 180.0, "lat_max": 90.0},
    ]),
    (8, []),
    (9, None),
]

_POLY_ROWS = [
    (1, [{"priority": 1, "region_code": "AA", "rings": [
        {"xs": [0.0, 1.0, 1.0], "ys": [0.0, 0.0, 1.0]},
        {"xs": [0.25, 0.5, 0.5], "ys": [0.1, 0.1, 0.2]},
    ]}]),
    (2, [{"priority": 0, "region_code": _ODD, "rings": []}]),
    (3, [{"priority": 0, "region_code": "BB",
          "rings": [{"xs": [], "ys": []}]}]),
    (4, []),
]

_KNN_ROWS = [
    (0, [(_ODD, 1.0, 2.0, 3.0, 4.0), ("ZZ", 0.0, 0.0, 0.0, 0.0)]),
    (1, []),
]


@functools.cache
def _dim_rows():
    """Hand-made dim rows (both map flavours of a missing fallback) plus
    the ZA rule set's real ones."""
    ruleset = compile_ruleset(*za_defs())
    bundle = _get_bundle(ruleset, "country_code", None, None)
    n_slots = (len(bundle["dim_schema"].fields) - 5) // 3
    assert bundle["dim_schema"] == _dim_schema(n_slots)
    hand = [
        (_ODD, [("n'1", {_ODD: "50"}, {}), ("n2", {}, {"maxspeed": _ODD})],
         False, None, None) + (None,) * (3 * n_slots),
        ("XX", [], True, {}, {}) + (1, 2, "30") * n_slots,
    ]
    return hand + bundle["dim_rows"], bundle["dim_schema"]


def _cases():
    dim_rows, dim_schema = _dim_rows()
    return [
        ("rect_index", _RECT_ROWS, _RECT_INDEX_DDL),
        ("poly_index", _POLY_ROWS, _POLY_INDEX_DDL),
        ("knn_index", _KNN_ROWS, _KNN_INDEX_DDL),
        ("dim", dim_rows, dim_schema),
        ("empty", [], _KNN_INDEX_DDL),
    ]


@pytest.mark.parametrize("threshold", [None, "0"])
def test_local_table_matches_create_dataframe(spark, threshold):
    key = "spark.sql.execution.arrow.localRelationThreshold"
    if threshold is not None:
        spark.conf.set(key, threshold)
    try:
        for name, rows, schema in _cases():
            got = local_table_df(spark, rows, schema)
            want = spark.createDataFrame(rows, schema)
            assert got._jdf.schema().json() == want._jdf.schema().json(), name
            assert got.collect() == want.collect(), name
            if rows:  # Spark plans any empty table as a local one
                plan = got._jdf.queryExecution().executedPlan().toString()
                local = "LocalTableScan" in plan
                assert local == (threshold is None), (name, plan)
    finally:
        spark.conf.unset(key)
