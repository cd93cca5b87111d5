"""PySpark-native spatial rule-inference engine.

A from-scratch reimplementation of the query & data-processing
capabilities of westnordost/osm-legal-default-speeds (reference at
/root/reference, snapshot 2024-10-08), re-expressed Spark-first:

- ``functions``  — tag-filter expression DSL (parser -> AST), unit
  normalization, and native Spark Column compilation of filters.
- ``plans``      — driver-side rule compiler (placeholder inlining,
  cycle check, match-priority precomputation, relevant-key set), the
  speed-limit inference operator (``native_cascade``: the whole
  match cascade and result assembly as Catalyst expressions), and a
  pure-Python reference-semantics engine used as the differential-test
  oracle.
- ``operators``  — distributed operators: spatial grid index / PIP /
  kNN / tiling, dedup, similarity search, text analysis, image payload
  plumbing.
- ``sources``    — dataset loaders (rules JSON) and deterministic
  synthetic fixture generators (images, geo, boundaries).
- ``streaming``  — structured-streaming wrappers of the inference op.

Reference semantics citations use file:line into /root/reference.
"""

from osm_legal_default_speeds_spark.plans.rules_model import (  # noqa: F401
    Certitude,
    Result,
    RoadTypeDef,
    RoadTypeFilterDef,
)
from osm_legal_default_speeds_spark.plans.rules_compiler import (  # noqa: F401
    CompiledRuleSet,
    compile_ruleset,
)
from osm_legal_default_speeds_spark.plans.reference_engine import (  # noqa: F401
    LegalDefaultSpeedsEngine,
)


def __getattr__(name):
    # Lazy re-exports of the Spark-dependent surface so importing the
    # package for the pure-Python engine never touches pyspark.
    if name in ("infer_speed_limits_native", "prune_relevant_tags",
                "is_relevant_tag_key_col"):
        from osm_legal_default_speeds_spark.plans import native_cascade

        return getattr(native_cascade, name)
    if name in ("assign_jurisdiction", "assign_tiles", "tile_rollup",
                "knn_assign_via_index", "resolve_jurisdiction",
                "assign_jurisdiction_polygons", "point_in_polygon_col",
                "PolygonBoundary", "RectBoundary"):
        from osm_legal_default_speeds_spark.operators import spatial

        return getattr(spatial, name)
    if name in ("drop_near_dups", "drop_exact_dups", "curate_corpus",
                "minhash_dedup_pairs", "connected_components"):
        from osm_legal_default_speeds_spark.operators import dedup

        return getattr(dedup, name)
    if name in ("ivf_topk", "lsh_topk", "brute_force_topk",
                "train_codebook"):
        from osm_legal_default_speeds_spark.operators import similarity

        return getattr(similarity, name)
    if name == "load_rules_json":
        from osm_legal_default_speeds_spark.sources import rules_json

        return rules_json.load_rules_json
    raise AttributeError(name)


__version__ = "0.1.0"
