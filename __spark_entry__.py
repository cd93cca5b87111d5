"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (spatial jurisdiction
resolution + speed-limit inference + tiling) at sf0.001;
``queries()``/``oracle_sql()`` expose one named query per implemented
operator family (SURVEY.md §2) with DuckDB oracle twins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: orders-derived geo-tagged road rows -> grid encode ->
    PIP jurisdiction (broadcast cell-index join) -> kNN fallback ->
    speed-limit inference (all-native Column cascade over broadcast
    compiled rules, plans.native_cascade) -> result struct. Returns the
    enriched DataFrame."""
    from pyspark.sql import functions as F

    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_jurisdiction,
        assign_tiles,
        knn_region_column,
    )
    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    sf_dir = "/root/testdata/sf0.001"
    roads = _roads_df(spark, sf_dir)

    boundaries = synth_boundaries()
    located = assign_jurisdiction(roads, boundaries, index_res=6)
    located = located.withColumn(
        "region_code",
        F.coalesce(
            F.col("region_code"),
            knn_region_column(boundaries, F.col("lon"), F.col("lat")),
        ),
    )
    located = assign_tiles(located, tile_res=7)

    out = infer_speed_limits_native(
        located, load_default_ruleset(), country_col="region_code",
        tags_col="tags",
    )
    return out.select(
        "road_id",
        "region_code",
        "tile_id",
        F.col("speed_limit.road_type_name").alias("road_type_name"),
        F.col("speed_limit.certitude").alias("certitude"),
        F.col("speed_limit.tags").alias("result_tags"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osm_legal_default_speeds_spark.plans.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from osm_legal_default_speeds_spark.plans.driver_queries import ORACLES

    return dict(ORACLES)
