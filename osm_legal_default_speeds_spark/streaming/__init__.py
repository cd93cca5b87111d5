from osm_legal_default_speeds_spark.streaming.event_rollup import (  # noqa: F401
    sessionize,
    streaming_event_rollup,
    streaming_speed_inference,
)
from osm_legal_default_speeds_spark.streaming.delta_store import (  # noqa: F401
    diff_versions,
    version_manifest,
)
from osm_legal_default_speeds_spark.streaming.inference_maintenance import (  # noqa: F401
    commit_road_batch,
    compact_results_store,
    read_current_results,
    read_results_at,
    streaming_inference_maintenance,
)
from osm_legal_default_speeds_spark.streaming.tile_maintenance import (  # noqa: F401
    commit_changeset,
    compact_tile_store,
    read_current_tiles,
    read_tiles_at,
    streaming_tile_maintenance,
)
