"""Trajectory operators over timestamped position pings: per-leg
speeds, per-user trajectory rollups, and jurisdiction-aware speeding
detection against the engine's legal-default-speed theme.

Scale shape (the 100 TB contract):

- ONE shuffle per pipeline, keyed by the trajectory owner
  (``user_col``): the lag window, the stats aggregation, and the
  speeding filter all ride the same partitioning — Spark reuses the
  exchange across the window and the groupBy because the keys match.
- Skew = max pings per user, the natural bound for any per-entity
  window; a pathological single-entity feed is a data problem, not a
  plan problem (no cross-entity term exists anywhere).
- The jurisdiction limit table is a broadcast literal map; the PIP
  test is the map-side rect-index join from ``operators.spatial`` —
  nothing corpus-sized crosses a second exchange.

Determinism discipline (driver-oracle rules, as in the
``within_pairs_m`` driver query over ``within_distance_join_meters``
with ``with_dist=False``): raw haversine doubles never leave the
engine. Every cross-engine surface is integer — per-leg
``FLOOR(dist_m)`` BEFORE the sum (an integer sum is exactly
associative, so the rollup is bit-stable under ANY partitioning or
aggregation order; flooring after a float sum would not be),
microsecond ``dt``, floored km/h. A floored value flips only if the
true value sits within ~1 ulp of an integer boundary, which the
deterministic fixtures cannot produce (same margin argument as the
150 km meter join's 0.2 mm).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from osm_legal_default_speeds_spark.operators.spatial import (
    RectBoundary,
    assign_jurisdiction,
    haversine_m,
)

__all__ = [
    "leg_metrics",
    "trajectory_legs",
    "trajectory_stats",
    "speeding_legs",
]

# m/us -> km/h: 1 m/us = 3.6e6 km/h. Keep the literal identical in the
# DuckDB oracle so both engines evaluate the same fp expression.
_M_PER_US_TO_KMH = 3600000.0


def leg_metrics(pairs: DataFrame) -> DataFrame:
    """Shared leg arithmetic over raw pair rows
    (user, id0, id1, lon0, lat0, lon1, lat1, t0_us, t1_us):
    -> (user, id0, id1, lon1, lat1, dt_us, dist_m, speed_kmh).

    Batch (window pairing) and streaming (stateful pairing) both feed
    this SAME Column pipeline, so their distances/speeds are
    bit-identical by construction — the stateful kernel never touches
    trig (numpy libm could differ from JVM Math by an ulp)."""
    dt_us = F.col("t1_us") - F.col("t0_us")
    dist = haversine_m(
        F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1")
    )
    speed = F.when(
        dt_us > 0, dist / dt_us.cast("double") * F.lit(_M_PER_US_TO_KMH)
    )
    return pairs.select(
        "user",
        "id0",
        "id1",
        "lon1",
        "lat1",
        dt_us.alias("dt_us"),
        dist.alias("dist_m"),
        speed.alias("speed_kmh"),
    )


def trajectory_legs(
    pings: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "event_id",
) -> DataFrame:
    """Consecutive-ping legs per user: one row per adjacent pair in
    (``ts_col``, ``id_col``) order (the id tiebreak makes the pairing
    deterministic under timestamp ties), with integer microsecond
    duration, haversine meter distance, and km/h speed.

    Columns: (user, id0, id1, lon1, lat1, dt_us, dist_m, speed_kmh).
    ``dist_m``/``speed_kmh`` are raw doubles — engine-side analytics
    only; cross-engine consumers floor them (see module docstring).
    Zero-duration legs (duplicate timestamps) get NULL speed rather
    than infinity.
    """
    # parquet timestamps are TIMESTAMP_NTZ; cast through session-tz
    # timestamp for unix_micros (same UTC-host convention as
    # plans/trainingdata_queries._events_us). A constant tz offset
    # cancels in the difference. Numeric ts columns pass through.
    if dict(pings.dtypes)[ts_col].startswith("timestamp"):
        to_us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    else:
        to_us = lambda c: c.cast("long")  # noqa: E731
    # alias BEFORE the window and partition on the alias: downstream
    # groupBy("user") then shares the window's exact partitioning
    # attribute, so the stats rollup adds NO second exchange (window
    # on the original column + groupBy on an alias are different
    # attributes to Spark and would re-shuffle).
    base = pings.select(
        F.col(user_col).alias("user"),
        F.col(id_col).alias("id1"),
        F.col(ts_col).alias("t1"),
        F.col(lon_col).alias("lon1"),
        F.col(lat_col).alias("lat1"),
    )
    # NULLS FIRST is pinned EXPLICITLY: Spark's default for ASC is
    # nulls-first but DuckDB's (the driver oracle window) is
    # nulls-last, so a same-(user, ts) tie between a NULL and a
    # non-NULL event_id would pair legs differently across engines if
    # either side relied on its default
    w = Window.partitionBy("user").orderBy(
        F.col("t1").asc_nulls_first(), F.col("id1").asc_nulls_first()
    )
    # partition start is detected with a NON-NULLABLE lag marker, not
    # lag(id): a ping whose PREDECESSOR carries a NULL event_id still
    # has valid coordinates and must produce its leg — filtering on
    # id0 IS NOT NULL would silently drop it
    pairs = (
        base.select(
            "user",
            "id1",
            to_us(F.col("t1")).alias("t1_us"),
            "lon1",
            "lat1",
            F.lag("id1").over(w).alias("id0"),
            to_us(F.lag("t1").over(w)).alias("t0_us"),
            F.lag("lon1").over(w).alias("lon0"),
            F.lag("lat1").over(w).alias("lat0"),
            F.lag(F.lit(1)).over(w).alias("__prev"),
        )
        .where(F.col("__prev").isNotNull())
        .drop("__prev")
    )
    return leg_metrics(pairs)


def trajectory_stats(
    pings: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-user trajectory rollup:
    (user, n_legs, total_m, dur_us, max_kmh_floor, mean_kmh_floor).

    ``total_m`` sums PER-LEG floored integer meters — exactly
    associative, so the result is bit-identical under any partitioning
    (a double sum would depend on shuffle merge order). ``mean`` is
    derived from the two exact integer totals, so it inherits the
    stability. The groupBy key equals the window key, so the whole
    operator is the window's single exchange plus a partial-aggregated
    reduction on already-co-located rows.
    """
    legs = trajectory_legs(pings, user_col, ts_col, lon_col, lat_col, id_col)
    agg = legs.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_legs"),
        F.sum(F.floor(F.col("dist_m")).cast("long")).alias("total_m"),
        F.sum("dt_us").alias("dur_us"),
        F.floor(F.max("speed_kmh")).cast("long").alias("max_kmh_floor"),
    )
    mean_kmh = F.when(
        F.col("dur_us") > 0,
        F.col("total_m").cast("double")
        / F.col("dur_us").cast("double")
        * F.lit(_M_PER_US_TO_KMH),
    )
    return agg.select(
        "user",
        "n_legs",
        "total_m",
        "dur_us",
        "max_kmh_floor",
        F.floor(mean_kmh).cast("long").alias("mean_kmh_floor"),
    )


def speeding_legs(
    pings: DataFrame,
    boundaries: list[RectBoundary],
    limits_kmh: dict[str, int],
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "event_id",
    index_res: int = 6,
) -> DataFrame:
    """Legs faster than the legal limit of the jurisdiction they END
    in: (user, id0, id1, region_code, limit_kmh, speed_kmh_floor).

    The jurisdiction comes from the broadcast rect-index PIP join on
    the leg's end point (``assign_jurisdiction`` — map-side); the
    limit is a literal map lookup (no join). Legs ending outside every
    boundary, or in a region without a limit entry, are not speeding
    verdicts and are dropped. The strict ``>`` compare pairs a
    trig-derived double against an integer literal — a flip needs the
    true speed within ~1 ulp of the limit, which the deterministic
    fixture cannot produce (module docstring).
    """
    legs = trajectory_legs(pings, user_col, ts_col, lon_col, lat_col, id_col)
    return flag_speeding(legs, boundaries, limits_kmh, index_res=index_res)


def flag_speeding(
    legs: DataFrame,
    boundaries: list[RectBoundary],
    limits_kmh: dict[str, int],
    index_res: int = 6,
) -> DataFrame:
    """The jurisdiction-PIP + limit-lookup + strict-compare tail of
    speeding detection, shared VERBATIM by the batch
    (:func:`speeding_legs`) and streaming
    (``streaming.trajectory_stream.streaming_speeding_legs``) paths —
    the pipeline split that keeps streaming == batch bit-exact lives
    in one place, so the compare/floor semantics cannot drift between
    modes. ``legs`` is any trajectory_legs-shaped frame (lon1/lat1 end
    point, speed_kmh)."""
    with_region = assign_jurisdiction(
        legs, boundaries, lon_col="lon1", lat_col="lat1", index_res=index_res
    )
    lim_entries: list[Column] = []
    for code, lim in sorted(limits_kmh.items()):
        lim_entries.extend([F.lit(code), F.lit(int(lim))])
    limit = F.element_at(F.create_map(*lim_entries), F.col("region_code"))
    return (
        with_region.withColumn("limit_kmh", limit)
        .where(
            F.col("limit_kmh").isNotNull()
            & (F.col("speed_kmh") > F.col("limit_kmh").cast("double"))
        )
        .select(
            "user",
            "id0",
            "id1",
            "region_code",
            "limit_kmh",
            F.floor(F.col("speed_kmh")).cast("long").alias("speed_kmh_floor"),
        )
    )
