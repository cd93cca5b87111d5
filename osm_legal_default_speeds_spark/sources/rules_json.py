"""Rule-dataset JSON source (operator S1).

Deserializes the ``legal_default_speeds.json`` schema documented in the
reference ``README.md:55-79`` / ``demo/src/main/kotlin/SpeedLimitsJson.kt:5-21``:

    {"meta": {...}, "roadTypesByName": {name: {filter?, fuzzyFilter?,
     relationFilter?}}, "speedLimitsByCountryCode": {cc: [{name?, tags}]},
     "warnings": [...]}

The rule tables are tiny dim data (~10k lines of JSON for 172 road
types / 242 countries), so they are parsed on the driver with the json
stdlib and compiled into the broadcast cascade. The rule *order* within
each country list is semantic (match priority) and is kept as list
order.
"""

from __future__ import annotations

import json
from pathlib import Path

from osm_legal_default_speeds_spark.plans.rules_model import (
    RoadTypeDef,
    RoadTypeFilterDef,
)

# Conventional location of the dataset shipped with the reference repo.
# The data (not code) is CC-BY-SA 2.0; see meta.license in the file.
REFERENCE_DATASET_PATH = "/root/reference/demo/distribution/legal_default_speeds.json"


def load_rules_json(path: str | Path):
    """-> (meta: dict, road_types_by_name, speed_limits_by_country_code,
    warnings)."""
    with open(path, "r", encoding="utf-8") as f:
        raw = json.load(f)
    road_types = {
        name: RoadTypeFilterDef(
            filter=d.get("filter"),
            fuzzy_filter=d.get("fuzzyFilter"),
            relation_filter=d.get("relationFilter"),
        )
        for name, d in raw.get("roadTypesByName", {}).items()
    }
    speed_limits = {
        cc: [RoadTypeDef(r.get("name"), dict(r.get("tags", {}))) for r in rules]
        for cc, rules in raw.get("speedLimitsByCountryCode", {}).items()
    }
    return raw.get("meta", {}), road_types, speed_limits, raw.get("warnings", [])
