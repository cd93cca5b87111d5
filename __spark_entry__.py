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
    """Flagship at sf0.001: orders-derived geo-tagged road rows through
    ``jobs.pipeline_job.flagship_pipeline`` — PIP jurisdiction with
    nearest-boundary fallback (broadcast cell-index joins) -> tile
    assignment -> native rule cascade (plans.native_cascade) — over
    the default rule set. Returns road_id, region_code, tile_id,
    road_type_name, certitude and result_tags."""
    from osm_legal_default_speeds_spark.jobs.pipeline_job import (
        flagship_pipeline,
        load_default_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )

    sf_dir = "/root/testdata/sf0.001"
    return flagship_pipeline(
        _roads_df(spark, sf_dir), load_default_ruleset(), synth_boundaries()
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from osm_legal_default_speeds_spark.plans.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from osm_legal_default_speeds_spark.plans.driver_queries import ORACLES

    return dict(ORACLES)
