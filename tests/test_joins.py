"""Edge-case pins for the temporal join operators (operators.joins)
and the count-min sketch (operators.sketches): semantics the sf0.01
contract fixtures cannot force (equal-timestamp ties, empty windows,
bucket boundaries, hash collisions)."""

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.operators.joins import (
    asof_join,
    windowed_range_join,
)
from osm_legal_default_speeds_spark.operators.sketches import (
    bucket_hash,
    cms_lookup,
    cms_sketch,
)


def _asof(spark, left_rows, right_rows):
    left = spark.createDataFrame(left_rows, "lid long, k long, ts_us long")
    right = spark.createDataFrame(
        right_rows, "k long, ts_us long, rid long, v string"
    )
    out = asof_join(
        left,
        right,
        on="k",
        left_ts="ts_us",
        right_ts="ts_us",
        payload=["v"],
        tie_break="rid",
    )
    return {
        r["lid"]: (r["asof_ts_us"], r["asof_v"])
        for r in out.collect()
    }


def test_asof_basic_and_no_prior(spark):
    got = _asof(
        spark,
        [(1, 10, 100), (2, 10, 50), (3, 10, 5), (4, 99, 100)],
        [(10, 20, 1, "a"), (10, 70, 2, "b")],
    )
    assert got[1] == (70, "b")  # latest prior
    assert got[2] == (20, "a")  # earlier one
    assert got[3] == (None, None)  # no prior right row -> LEFT nulls
    assert got[4] == (None, None)  # key with no right rows at all


def test_asof_equal_ts_matches_and_tie_break(spark):
    # left at the exact right timestamp matches (>=, DuckDB ASOF);
    # two right rows at the same (k, ts) dedupe to the max tie_break
    got = _asof(
        spark,
        [(1, 10, 20)],
        [(10, 20, 1, "lo"), (10, 20, 9, "hi")],
    )
    assert got[1] == (20, "hi")


def test_asof_matches_per_key_not_globally(spark):
    got = _asof(
        spark,
        [(1, 1, 100), (2, 2, 100)],
        [(1, 50, 1, "k1"), (2, 60, 2, "k2")],
    )
    assert got[1] == (50, "k1")
    assert got[2] == (60, "k2")


def _range_counts(spark, left_rows, right_rows, window_us):
    left = spark.createDataFrame(left_rows, "lid long, k long, ts_us long")
    right = spark.createDataFrame(right_rows, "k long, r_ts long")
    out = windowed_range_join(
        left,
        right,
        on="k",
        left_ts="ts_us",
        right_ts="r_ts",
        window_us=window_us,
        aggs=[F.count(F.lit(1)).alias("n")],
        left_keep=["lid"],
    )
    return {r["lid"]: r["n"] for r in out.collect()}


def test_range_join_window_boundaries(spark):
    # window [ts - 100, ts): ts-100 included, ts excluded
    got = _range_counts(
        spark,
        [(1, 7, 1000)],
        [(7, 900), (7, 999), (7, 1000), (7, 899)],
        100,
    )
    assert got == {1: 2}  # 900 and 999; 1000 (== ts) and 899 excluded


def test_range_join_crosses_bucket_boundary(spark):
    # left at the very start of a bucket: all its window lives in the
    # PREVIOUS bucket — the 2-probe explode must still find it
    got = _range_counts(spark, [(1, 7, 200)], [(7, 150), (7, 101)], 100)
    assert got == {1: 2}


def test_range_join_inner_semantics(spark):
    # left rows with an empty window are absent (documented INNER)
    got = _range_counts(spark, [(1, 7, 1000), (2, 7, 5000)], [(7, 950)], 100)
    assert got == {1: 1}


def test_cms_overestimates_and_is_exact_without_collisions(spark):
    vals = spark.createDataFrame(
        [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 2], "tok string"
    )
    probes = spark.createDataFrame([("a",), ("b",), ("c",)], "tok string")

    wide = cms_sketch(vals, "tok", depth=4, width=4096)
    got = {
        r["tok"]: r["cms_count"]
        for r in cms_lookup(wide, probes, "tok", 4, 4096).collect()
    }
    assert got == {"a": 5, "b": 3, "c": 2}  # no collisions at this width

    # width 1: every value shares the single bucket -> estimate = total
    tiny = cms_sketch(vals, "tok", depth=2, width=1)
    got1 = {
        r["tok"]: r["cms_count"]
        for r in cms_lookup(tiny, probes, "tok", 2, 1).collect()
    }
    assert got1 == {"a": 10, "b": 10, "c": 10}


def test_cms_absent_value_estimates_zero_or_collision(spark):
    vals = spark.createDataFrame([("x",), ("y",)], "tok string")
    probes = spark.createDataFrame([("never-seen",)], "tok string")
    sk = cms_sketch(vals, "tok", depth=4, width=4096)
    (row,) = cms_lookup(sk, probes, "tok", 4, 4096).collect()
    assert row["cms_count"] == 0


# ---------------------------------------------------------------------------
# Z-order key (operators.spatial.zorder_key / zorder_cell)
# ---------------------------------------------------------------------------


def test_sketch_params_fail_at_plan_time(spark):
    """The silent-NULL parameter class: cms width=0 makes every bucket
    h % 0 (NULL under non-ANSI Spark), kmv k<2 indexes ks[0] (1-based
    SQL arrays) at runtime, and a quantile p>1 makes ceil(p*n)
    unreachable — all now rejected on the driver."""
    from osm_legal_default_speeds_spark.operators.sketches import (
        group_quantiles_disc,
        kmv_distinct,
    )

    df = spark.createDataFrame([("a", 1)], "v string, g int")
    with pytest.raises(ValueError, match="depth >= 1 and width >= 1"):
        cms_sketch(df, "v", depth=4, width=0)
    with pytest.raises(ValueError, match="depth >= 1 and width >= 1"):
        cms_lookup(df, df, "v", depth=0, width=16)
    # the public bucket function guards itself, not only its wrappers
    with pytest.raises(ValueError, match="width >= 1"):
        bucket_hash(F.col("v"), 0, 0)
    with pytest.raises(ValueError, match="k >= 2"):
        kmv_distinct(df, "v", k=1)
    with pytest.raises(ValueError, match=r"in \(0, 1\]"):
        group_quantiles_disc(df, "g", "v", ps=[0.5, 1.5])


def test_zorder_known_vectors(spark):
    from osm_legal_default_speeds_spark.operators.spatial import zorder_key

    df = spark.createDataFrame(
        [(5, 3), (0, 0), (1, 0), (0, 1), (2**31 - 1, 0)], "x long, y long"
    ).select(zorder_key(F.col("x"), F.col("y")).alias("z"))
    got = [r["z"] for r in df.collect()]
    # x=0b101,y=0b011 -> z=0b011011 = 27; x bits at even positions
    assert got[0] == 27
    assert got[1] == 0
    assert got[2] == 1  # x bit 0 -> z bit 0
    assert got[3] == 2  # y bit 0 -> z bit 1
    # max 31-bit x dilates without sign corruption
    assert got[4] == sum(1 << (2 * i) for i in range(31))


def test_zorder_quadrant_is_spatial(spark):
    # all 4 cells of one res-1 quadrant (2x2 block) share key >> 2
    from osm_legal_default_speeds_spark.operators.spatial import zorder_key

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", zorder_key(F.col("x"), F.col("y")).alias("z")
    )
    by_quad = {}
    for r in df.collect():
        by_quad.setdefault(r["z"] >> 2, []).append((r["x"], r["y"]))
    assert len(by_quad) == 16  # 8x8 cells -> 16 quadrants of 4
    for cells in by_quad.values():
        xs = [c[0] for c in cells]
        ys = [c[1] for c in cells]
        assert len(cells) == 4
        assert max(xs) - min(xs) == 1 and max(ys) - min(ys) == 1
        assert min(xs) % 2 == 0 and min(ys) % 2 == 0


# ---------------------------------------------------------------------------
# Distance-band join (operators.spatial.within_distance_join/_pairs)
# ---------------------------------------------------------------------------

def _wd_points(spark):
    import random

    random.seed(11)
    rows = [
        (i, random.uniform(-180, 180), random.uniform(-85, 85))
        for i in range(300)
    ]
    # antimeridian pair (wrapped dlon 0.1), pole-edge cluster, exact dup
    rows += [
        (1000, -179.95, 10.0),
        (1001, 179.95, 10.0),
        (1002, 0.0, 84.9),
        (1003, 0.05, 84.8),
        (1004, 0.0, 84.9),
    ]
    return spark.createDataFrame(rows, "id long, lon double, lat double")


def _wd_brute(df, radius):
    from osm_legal_default_speeds_spark.operators.spatial import _deg_dist2

    a, b = df.alias("a"), df.alias("b")
    d2 = _deg_dist2(
        F.col("a.lon"), F.col("a.lat"), F.col("b.lon"), F.col("b.lat")
    )
    return sorted(
        (r.id_a, r.id_b, round(r.dist, 12))
        for r in a.crossJoin(b)
        .where(F.col("a.id") < F.col("b.id"))
        .where(d2 <= radius * radius)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.sqrt(d2).alias("dist"),
        )
        .collect()
    )


@pytest.mark.parametrize("radius", [0.5, 3.0, 11.0])
def test_within_pairs_matches_brute_force(spark, radius):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_pairs,
    )

    df = _wd_points(spark)
    got = sorted(
        (r.id_a, r.id_b, round(r.dist, 12))
        for r in within_distance_pairs(df, radius).collect()
    )
    assert got == _wd_brute(df, radius)
    # each unordered pair exactly once
    assert len(got) == len({(a, b) for a, b, _ in got})
    assert all(a < b for a, b, _ in got)


def test_within_pairs_wraps_antimeridian_and_keeps_zero_dist(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_pairs,
    )

    df = _wd_points(spark)
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in within_distance_pairs(df, 0.5).collect()
    }
    assert (1000, 1001) in pairs  # wrapped dlon = 0.1, planar 359.9
    assert pairs[(1000, 1001)] == pytest.approx(0.1, abs=1e-9)
    assert pairs[(1002, 1004)] == 0.0  # exact duplicate location


def test_within_join_rejects_res_breaking_ring_guarantee(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_pairs,
        within_distance_res,
    )

    df = _wd_points(spark)
    # the derived res 0 has a 180-degree cell side: no ring covers more
    with pytest.raises(ValueError, match="smaller than radius"):
        within_distance_pairs(df, 200.0)
    assert within_distance_res(1.0) == 7
    assert within_distance_res(180.0) == 0
    with pytest.raises(ValueError):
        within_distance_res(0.0)


def test_within_join_plan_has_no_cross_product_or_sort_merge(spark):
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_pairs,
    )

    df = _wd_points(spark)
    plan = within_distance_pairs(df, 2.0)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_asof_null_ts_never_matches(spark):
    # DuckDB ASOF semantics: a comparison with NULL is never true, so
    # a NULL-ts right row matches no left row (under Spark's
    # NULLS-FIRST window sort it would otherwise rank "earliest prior"
    # and match EVERY left row), and a NULL-ts left row comes back
    # with NULL asof columns.
    got = _asof(
        spark,
        [(1, 10, 100), (2, 10, None)],
        [(10, None, 5, "ghost"), (10, 20, 1, "real")],
    )
    assert got[1] == (20, "real")  # ghost never shadows the real row
    assert got[2] == (None, None)  # NULL left ts matches nothing


def test_asof_null_key_never_matches(spark):
    # ASOF's equality prefix (l.k = r.k) never matches a NULL, but the
    # window formulation's partitionBy puts all NULL keys in ONE
    # partition — without the up-front right-side filter a NULL-key
    # left row would be handed a phantom NULL-key right match no plain
    # join (or the DuckDB oracle) would produce.
    got = _asof(
        spark,
        [(1, None, 100), (2, 10, 100)],
        [(None, 20, 1, "ghost"), (10, 30, 2, "real")],
    )
    assert got[1] == (None, None)  # NULL-key left: LEFT nulls
    assert got[2] == (30, "real")  # non-null keys unaffected


def test_range_join_null_key_never_matches(spark):
    # the key equality (l.k = r.k) is null-rejecting: a NULL-key left
    # row gets no window rows (INNER -> absent) even when NULL-key right
    # rows sit inside its window, and NULL-key right rows never leak
    # into a non-null key's aggregate
    got = _range_counts(
        spark,
        [(1, None, 1000), (2, 7, 1000)],
        [(None, 950), (None, 990), (7, 950)],
        100,
    )
    assert got == {2: 1}


def test_asof_rejects_internal_column_collision(spark):
    left = spark.createDataFrame(
        [(1, 10, 100, "x")], "lid long, k long, ts_us long, __ts string"
    )
    right = spark.createDataFrame(
        [(10, 20, 1, "a")], "k long, ts_us long, rid long, v string"
    )
    with pytest.raises(ValueError, match="__ts"):
        asof_join(
            left, right, on="k", left_ts="ts_us", right_ts="ts_us",
            payload=["v"], tie_break="rid",
        )
    # output-name collision (prefix + right_ts) is refused too
    left2 = spark.createDataFrame(
        [(1, 10, 100, 7)], "lid long, k long, ts_us long, asof_ts_us long"
    )
    with pytest.raises(ValueError, match="asof_ts_us"):
        asof_join(
            left2, right, on="k", left_ts="ts_us", right_ts="ts_us",
            payload=["v"], tie_break="rid",
        )


def test_range_join_rejects_nonpositive_window(spark):
    # floor(ts/0) is NULL under non-ANSI Spark -> silently empty result
    left = spark.createDataFrame([(1, 10, 100)], "lid long, k long, ts_us long")
    right = spark.createDataFrame([(10, 50)], "k long, r_ts long")
    for bad in (0, -5):
        with pytest.raises(ValueError, match="window_us"):
            windowed_range_join(
                left, right, on="k", left_ts="ts_us", right_ts="r_ts",
                window_us=bad, aggs=[F.count(F.lit(1)).alias("n")],
                left_keep=["lid"],
            )


def test_range_join_rejects_reserved_bucket_column(spark):
    from osm_legal_default_speeds_spark.operators.joins import (
        windowed_range_join,
    )

    left = spark.createDataFrame(
        [(1, 100, 5)], "k long, ts_us long, __b long"
    )
    right = spark.createDataFrame([(1, 50)], "k long, ts_us long")
    with pytest.raises(ValueError, match="__b"):
        windowed_range_join(
            left, right, "k", "ts_us", "ts_us", 100,
            [F.count(F.lit(1)).alias("n")],
        )


def test_asof_rejects_payload_output_collision(spark):
    from osm_legal_default_speeds_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100, 9.0)], "k long, ts_us long, asof_v double"
    )
    right = spark.createDataFrame(
        [(1, 50, 1.0, 0)], "k long, ts_us long, v double, tb long"
    )
    with pytest.raises(ValueError, match="asof_v"):
        asof_join(
            left, right, "k", payload=["v"], tie_break="tb"
        )
