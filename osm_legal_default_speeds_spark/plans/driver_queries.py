"""Driver-contract queries: one named query per operator family from
SURVEY.md §2, each with a DuckDB oracle-SQL twin.

Every query derives its inputs deterministically from the driver's
TPC-H-ish parquet tables (TESTDATA.md) with pure integer/float
arithmetic on keys, so the Spark implementation (this engine's
operators) and the independent hand-written DuckDB SQL must agree
bit-for-bit. Column names are aliased identically on both sides (the
driver's comparator sorts columns by name before hashing).

Query -> SURVEY §2 coverage (full inventory-to-query map: COVERAGE.md):
  tagfilter_atoms    F1-F12 native Column compilation
  units_normalize    F13 native unit normalization
  bool_precedence    B1-B4, B7/B8 combinators
  effective_country  F14 subdivision -> country fallback
  relevant_keys      F16 map-internal key pruning
  cascade_infer_native     C1-C5 match cascade + A1 first-match
  relation_semijoin_native C6 EXISTS over the relations array
  override_column_native   C7 replacer hook as per-row overrides map
  result_assembly_native   R1-R4 result map algebra incl. conditional
                           capping
  grid_encode        graft: hierarchical grid encode + parent rollup
  grid_encode_ea     graft: equal-area (Lambert band) id space + rollup
  hex_encode         graft: hexagonal equal-area index (axial cube round)
  rasterize_polygons graft: polygon -> covering cells (cell-center rule)
  vectorize_cells    graft: cells -> merged-run rectangles (raster->vector)
  rasterize_segments graft: exact supercover line rasterization (ways)
  tile_pyramid       graft: one-pass multi-resolution tile counts
  pip_jurisdiction   graft: broadcast PIP join (cell index -> exact test)
  pip_polygon        graft: general-polygon PIP (packed-vertex ray cast)
  knn_nearest        graft: kNN border resolution (argmin over dim)
  knn_indexed        graft: cell-indexed kNN (ball-cover pruning)
  tile_rollup        graft: salted two-phase per-tile aggregation (A5)
  sessionize_batch   gap-and-island sessions (stateful-op batch oracle)
plus the training-data set from plans.trainingdata_queries:
  exact_dedup minhash_near_dup simhash_near_dup ngram_jaccard
  text_quality ann_topk ann_lsh_topk embedding_near_dup events_rollup
  events_rollup_streaming image_verify image_features image_resize
  image_phash_near_dup (image_* run real codecs; oracled via
                     integer-exact projections over SQL-regenerated
                     reference pixels since r4)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from osm_legal_default_speeds_spark.functions.sql_exprs import (
    filter_to_column,
    number_with_unit_to_double,
)
from osm_legal_default_speeds_spark.operators.spatial import (
    RectBoundary,
    assign_jurisdiction,
    assign_tiles,
    grid_cell,
    grid_parent,
    knn_region_column,
    resolve_jurisdiction,
    tile_rollup,
)
from osm_legal_default_speeds_spark.plans.native_cascade import (
    infer_speed_limits_native,
    prune_relevant_tags,
)
from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset
from osm_legal_default_speeds_spark.plans.rules_model import (
    RoadTypeDef,
    RoadTypeFilterDef,
)


def _read(
    spark: SparkSession, sf_dir: str, table: str, wide: bool = False
) -> DataFrame:
    """Fixture scan. ``wide=True`` repartitions to 2x cores right after
    the scan: every fixture parquet is ONE file with ONE row group, so
    the scan is a single task and a CPU-heavy map-only prefix
    (supercover rasterize, tokenize->shingle explode, geometry HOF
    chains) would run 1-wide however many cores the host has. The
    widening shuffle moves the raw fixture (<= a few MB) once;
    production inputs have thousands of row-group splits, so a real job
    needs no such step. Measured at sf0.1/local[32]: rasterize_segments
    3.8->0.6 s, semantic_dedup 3.4->1.1 s, cross_doc_spans 4.9->2.2 s.

    Keep the default (narrow) when the per-row map is cheap relative to
    shuffling the row: widening is then a pure exchange tax that also
    forfeits scan-side partial aggregation — measured regressions
    include exact_dedup 0.21->0.66 s (md5-only map), tile_pyramid
    0.18->1.10 s and event_asof_join 0.71->2.21 s (agg/join-rooted
    plans whose first shuffle already carries reduced rows)."""
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if wide:
        df = df.repartition(spark.sparkContext.defaultParallelism * 2)
    return df


# --------------------------------------------------------------------------
# Shared deterministic derivations (single source of truth for both the
# Spark side and the generated oracle SQL)
# --------------------------------------------------------------------------

HIGHWAYS = ["motorway", "residential", "trunk", "living_street", "service"]

# synthetic world: 12 regions on a 30-degree raster with 2-degree gaps
# (gaps exercise the kNN path); US-ND is a higher-priority subdivision
# rectangle inside US.
def synth_boundaries() -> list[RectBoundary]:
    codes = ["DE", "FR", "IT", "ES", "PL", "NL", "GB", "DK", "US", "CA", "MX", "ZA"]
    bs = []
    for i, code in enumerate(codes):
        lon0 = -180.0 + i * 30.0
        lat0 = -60.0 + (i % 4) * 30.0
        bs.append(RectBoundary(code, lon0, lat0, lon0 + 28.0, lat0 + 28.0, priority=i + 1))
    # subdivision inside US (i=8: lon [60, 88), lat [-60, -32))
    bs.append(RectBoundary("US-ND", 65.0, -55.0, 75.0, -45.0, priority=0))
    return bs


def _roads_df(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    """OSM-ish road rows derived from orders: tags map, country code
    with occasional subdivision suffix, deterministic lon/lat.
    ``wide``: see :func:`_read` — pass True only when the consumer runs
    an expensive per-row map before its first shuffle (the geometry
    fixture pipelines and the bench inference cascade do; the cheap
    cell-encode + aggregate queries must not)."""
    k = F.col("o_orderkey")
    o = _read(spark, sf_dir, "orders", wide=wide)
    highway = F.element_at(F.array(*[F.lit(h) for h in HIGHWAYS]), (k % 5 + 1).cast("int"))
    lit_v = F.when(k % 3 == 0, "yes").otherwise("no")
    maxspeed = F.when(k % 4 == 0, F.when(k % 8 == 0, "30 mph").otherwise("50"))
    lanes = (k % 6 + 1).cast("string")
    base = F.create_map(
        F.lit("highway"), highway,
        F.lit("lit"), lit_v,
        F.lit("lanes"), lanes,
    )
    tags = F.when(
        maxspeed.isNotNull(),
        F.map_concat(base, F.create_map(F.lit("maxspeed"), maxspeed)),
    ).otherwise(base)
    country = F.when(k % 7 == 0, "ZA-NC").otherwise("ZA")
    lon = (k * 7919 % 360000) / 1000.0 - 180.0
    lat = (k * 104729 % 170000) / 1000.0 - 85.0
    return o.select(
        k.alias("road_id"),
        country.alias("country_code"),
        tags.alias("tags"),
        lon.alias("lon"),
        lat.alias("lat"),
    )


_ROADS_SQL = """
SELECT o_orderkey AS road_id,
       CASE WHEN o_orderkey % 7 = 0 THEN 'ZA-NC' ELSE 'ZA' END AS country_code,
       ['motorway','residential','trunk','living_street','service'][(o_orderkey % 5 + 1)::INT] AS highway,
       CASE WHEN o_orderkey % 3 = 0 THEN 'yes' ELSE 'no' END AS lit,
       CASE WHEN o_orderkey % 4 = 0 THEN (CASE WHEN o_orderkey % 8 = 0 THEN '30 mph' ELSE '50' END) END AS maxspeed,
       (o_orderkey * 7919 % 360000) / 1000.0 - 180.0 AS lon,
       (o_orderkey * 104729 % 170000) / 1000.0 - 85.0 AS lat
FROM orders
"""


def mini_ruleset():
    """SQL-expressible mini rule set used by the oracle-checked cascade
    query (mirrors the ZA fixture shape: null-separator priority order,
    fuzzy filter, subdivision inputs)."""
    road_types = {
        "motorway": RoadTypeFilterDef("highway=motorway"),
        "living street": RoadTypeFilterDef("highway=living_street"),
        "urban": RoadTypeFilterDef("lit=yes", "highway=residential"),
        # referenced by relevant-keys only; never in the rule list
        "fast road": RoadTypeFilterDef("maxspeed>=100"),
    }
    rules = {
        "ZA": [
            RoadTypeDef("living street", {"maxspeed": "10"}),
            RoadTypeDef("urban", {"maxspeed": "50"}),
            RoadTypeDef(None, {"maxspeed": "100"}),
            RoadTypeDef("motorway", {"maxspeed": "120"}),
        ]
    }
    return compile_ruleset(road_types, rules)


def assembly_ruleset():
    rules = {
        "AB": [
            RoadTypeDef(
                None,
                {
                    "maxspeed": "100",
                    "maxspeed:hgv": "80",
                    "maxspeed:conditional": "90 @ (wet); 40 @ (snow)",
                },
            )
        ]
    }
    return compile_ruleset({}, rules)


# --------------------------------------------------------------------------
# Queries
# --------------------------------------------------------------------------

def q_tagfilter_atoms(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _read(spark, sf_dir, "part")
    base = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("type"), F.col("p_type"),
        F.lit("size"), F.col("p_size").cast("string"),
        F.lit("width"), F.concat(F.col("p_size").cast("string"), F.lit(" cm")),
    )
    tags = F.when(
        F.col("p_size") % 3 == 0,
        F.map_concat(base, F.create_map(F.lit("promo"), F.lit("yes"))),
    ).otherwise(base)
    df = part.select(F.col("p_partkey").alias("part_id"), tags.alias("tags"))
    return df.select(
        "part_id",
        filter_to_column("promo", "tags").alias("has_promo"),
        filter_to_column("!promo", "tags").alias("not_has_promo"),
        filter_to_column("type = ECONOMY", "tags").alias("is_economy"),
        filter_to_column("type != ECONOMY", "tags").alias("not_economy"),
        filter_to_column("~pr.*", "tags").alias("key_like"),
        filter_to_column("!~pr.*", "tags").alias("not_key_like"),
        filter_to_column("size ~ 1[0-9]", "tags").alias("size_teens"),
        filter_to_column("size !~ 1[0-9]", "tags").alias("size_not_teens"),
        filter_to_column("~.ype ~ STANDARD|ECONOMY", "tags").alias("tag_like"),
        filter_to_column("size > 25", "tags").alias("size_gt"),
        filter_to_column("size <= 3", "tags").alias("size_le"),
        filter_to_column("width < 0.2", "tags").alias("narrow"),
    )


SQL_TAGFILTER_ATOMS = """
SELECT p_partkey AS part_id,
       (p_size % 3 = 0) AS has_promo,
       NOT (p_size % 3 = 0) AS not_has_promo,
       (p_type = 'ECONOMY') AS is_economy,
       (p_type <> 'ECONOMY') AS not_economy,
       (p_size % 3 = 0) AS key_like,
       NOT (p_size % 3 = 0) AS not_key_like,
       (p_size BETWEEN 10 AND 19) AS size_teens,
       NOT (p_size BETWEEN 10 AND 19) AS size_not_teens,
       (p_type IN ('STANDARD','ECONOMY')) AS tag_like,
       (p_size > 25) AS size_gt,
       (p_size <= 3) AS size_le,
       (p_size < 20) AS narrow
FROM part
"""


def q_units_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    q = F.floor(F.col("l_quantity")).cast("int").cast("string")
    sel = F.col("l_linenumber") % 6
    val = (
        F.when(sel == 0, q)
        .when(sel == 1, F.concat(q, F.lit(" mph")))
        .when(sel == 2, F.concat(q, F.lit(" km/h")))
        .when(sel == 3, F.lit("RO:urban"))
        .when(sel == 4, F.concat(q, F.lit("st")))
        .otherwise(
            F.concat(q, F.lit(" ft "), (F.col("l_partkey") % 12).cast("string"), F.lit(" in"))
        )
    )
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        val.alias("raw_value"),
        number_with_unit_to_double(val).alias("normalized"),
    )


SQL_UNITS_NORMALIZE = """
WITH src AS (
  SELECT l_orderkey AS order_id, l_linenumber AS line_no,
         CAST(FLOOR(l_quantity) AS INT) AS q,
         (l_partkey % 12) AS inches,
         l_linenumber % 6 AS sel
  FROM lineitem
)
SELECT order_id, line_no,
  CASE sel WHEN 0 THEN q::VARCHAR
           WHEN 1 THEN q::VARCHAR || ' mph'
           WHEN 2 THEN q::VARCHAR || ' km/h'
           WHEN 3 THEN 'RO:urban'
           WHEN 4 THEN q::VARCHAR || 'st'
           ELSE q::VARCHAR || ' ft ' || inches::VARCHAR || ' in' END AS raw_value,
  CASE sel WHEN 0 THEN q::DOUBLE
           WHEN 1 THEN q * 1.609344
           WHEN 2 THEN q * 1.0
           WHEN 3 THEN NULL
           WHEN 4 THEN q * 0.90718474
           ELSE q * 0.3048 + inches * 0.0254 END AS normalized
FROM src
"""


def q_bool_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _read(spark, sf_dir, "part")
    tags = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("type"), F.col("p_type"),
        F.lit("size"), F.col("p_size").cast("string"),
    )
    df = part.select(F.col("p_partkey").alias("part_id"), tags.alias("tags"))
    expr = "(brand = Brand#2 or brand = Brand#7) and !(type = ECONOMY or size > 25)"
    expr2 = "brand = Brand#2 or type = PROMO and size <= 10"  # and binds tighter
    return df.select(
        "part_id",
        filter_to_column(expr, "tags").alias("picked"),
        filter_to_column(expr2, "tags").alias("precedence"),
    )


SQL_BOOL_PRECEDENCE = """
SELECT p_partkey AS part_id,
       ((p_brand = 'Brand#2' OR p_brand = 'Brand#7')
         AND NOT (p_type = 'ECONOMY' OR p_size > 25)) AS picked,
       (p_brand = 'Brand#2' OR (p_type = 'PROMO' AND p_size <= 10)) AS precedence
FROM part
"""


def q_effective_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    base = F.element_at(
        F.array(F.lit("DE"), F.lit("FR"), F.lit("US"), F.lit("ZA")),
        (k % 4 + 1).cast("int"),
    )
    raw = F.when(k % 2 == 0, F.concat(base, F.lit("-S"), (k % 5).cast("string"))).otherwise(base)
    known = ["DE", "FR", "US", "ZA", "US-S1"]
    effective = F.when(raw.isin(known), raw).otherwise(F.substring_index(raw, "-", 1))
    return cust.select(
        k.alias("cust_id"), raw.alias("raw_code"), effective.alias("effective_code")
    )


SQL_EFFECTIVE_COUNTRY = """
WITH src AS (
  SELECT c_custkey AS cust_id,
         CASE WHEN c_custkey % 2 = 0
              THEN ['DE','FR','US','ZA'][(c_custkey % 4 + 1)::INT] || '-S' || (c_custkey % 5)::VARCHAR
              ELSE ['DE','FR','US','ZA'][(c_custkey % 4 + 1)::INT] END AS raw_code
  FROM customer
)
SELECT cust_id, raw_code,
       CASE WHEN raw_code IN ('DE','FR','US','ZA','US-S1') THEN raw_code
            ELSE split_part(raw_code, '-', 1) END AS effective_code
FROM src
"""


def q_relevant_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    ruleset = mini_ruleset()  # relevant keys: highway, lit, maxspeed
    roads = _roads_df(spark, sf_dir)
    pruned = prune_relevant_tags(ruleset, F.col("tags"))
    return roads.select(
        "road_id",
        F.array_join(F.array_sort(F.map_keys(pruned)), ",").alias("kept_keys"),
    )


SQL_RELEVANT_KEYS = f"""
WITH roads AS ({_ROADS_SQL})
SELECT road_id,
       CASE WHEN maxspeed IS NOT NULL THEN 'highway,lit,maxspeed'
            ELSE 'highway,lit' END AS kept_keys
FROM roads
"""


SQL_CASCADE_INFER = f"""
WITH roads AS ({_ROADS_SQL}),
staged AS (
  SELECT road_id, highway, lit, maxspeed,
    CASE WHEN highway = 'motorway' THEN 'motorway'
         WHEN highway = 'living_street' THEN 'living street'
         WHEN lit = 'yes' THEN 'urban' END AS exact_name,
    CASE WHEN maxspeed = '120' THEN 'motorway'
         WHEN maxspeed = '10' THEN 'living street'
         WHEN maxspeed = '50' THEN 'urban' END AS ms_name,
    CASE WHEN highway = 'residential' THEN 'urban' END AS fuzzy_name
  FROM roads
),
resolved AS (
  SELECT road_id, maxspeed,
    CASE WHEN exact_name IS NOT NULL THEN exact_name
         WHEN maxspeed IS NOT NULL AND ms_name IS NOT NULL THEN ms_name
         WHEN fuzzy_name IS NOT NULL THEN fuzzy_name END AS road_type_name,
    CASE WHEN exact_name IS NOT NULL THEN 'Exact'
         WHEN maxspeed IS NOT NULL AND ms_name IS NOT NULL THEN 'FromMaxSpeed'
         WHEN fuzzy_name IS NOT NULL THEN 'Fuzzy'
         ELSE 'Fallback' END AS certitude
  FROM staged
)
SELECT road_id, road_type_name, certitude,
  CASE WHEN maxspeed IS NOT NULL THEN NULL
       ELSE CASE road_type_name WHEN 'motorway' THEN '120'
                                WHEN 'living street' THEN '10'
                                WHEN 'urban' THEN '50'
                                ELSE '100' END END AS out_maxspeed
FROM resolved
"""


def q_cascade_infer_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C5 match cascade + A1 first-match on the all-native Column
    plan (plans.native_cascade) — no Python eval nodes, no shuffle
    (pinned by tests/test_native_cascade.py)."""
    ruleset = mini_ruleset()
    roads = _roads_df(spark, sf_dir)
    out = infer_speed_limits_native(roads, ruleset)
    r = F.col("speed_limit")
    return out.select(
        "road_id",
        r.getField("road_type_name").alias("road_type_name"),
        r.getField("certitude").alias("certitude"),
        F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("out_maxspeed"),
    )


SQL_RESULT_ASSEMBLY = """
SELECT o_orderkey AS road_id,
  'Fallback' AS certitude,
  CASE WHEN o_orderkey % 3 = 0 THEN '100' END AS out_maxspeed,
  CASE WHEN o_orderkey % 3 = 0 THEN '80'
       WHEN o_orderkey % 3 = 2 THEN '80' END AS out_hgv,
  CASE WHEN o_orderkey % 3 = 0 THEN '90 @ (wet); 40 @ (snow)'
       ELSE '40 @ (snow)' END AS out_cond
FROM orders
"""


def q_result_assembly_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1-R4 result map algebra incl. conditional capping, as native
    map expressions (plans.native_cascade)."""
    ruleset = assembly_ruleset()
    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    maxspeed = F.when(k % 3 == 1, "60").when(k % 3 == 2, "90")
    tags = F.when(
        maxspeed.isNotNull(), F.create_map(F.lit("maxspeed"), maxspeed)
    ).otherwise(F.create_map().cast("map<string,string>"))
    roads = o.select(
        k.alias("road_id"), F.lit("AB").alias("country_code"), tags.alias("tags")
    )
    out = infer_speed_limits_native(roads, ruleset)
    t = F.col("speed_limit").getField("tags")
    return out.select(
        "road_id",
        F.col("speed_limit").getField("certitude").alias("certitude"),
        F.element_at(t, F.lit("maxspeed")).alias("out_maxspeed"),
        F.element_at(t, F.lit("maxspeed:hgv")).alias("out_hgv"),
        F.element_at(t, F.lit("maxspeed:conditional")).alias("out_cond"),
    )


def relations_ruleset():
    road_types = {
        "euro road": RoadTypeFilterDef(relation_filter="network=e-road"),
        "urban": RoadTypeFilterDef("lit=yes"),
    }
    rules = {
        "AB": [
            RoadTypeDef("euro road", {"maxspeed": "90"}),
            RoadTypeDef("urban", {"maxspeed": "50"}),
            RoadTypeDef(None, {"maxspeed": "100"}),
        ]
    }
    return compile_ruleset(road_types, rules)


SQL_RELATION_SEMIJOIN = """
SELECT o_orderkey AS road_id,
  CASE WHEN o_orderkey % 3 = 0 THEN 'euro road'
       WHEN o_orderkey % 2 = 0 THEN 'urban' END AS road_type_name,
  CASE WHEN o_orderkey % 3 = 0 OR o_orderkey % 2 = 0 THEN 'Exact'
       ELSE 'Fallback' END AS certitude,
  CASE WHEN o_orderkey % 3 = 0 THEN '90'
       WHEN o_orderkey % 2 = 0 THEN '50'
       ELSE '100' END AS out_maxspeed
FROM orders
"""


SQL_OVERRIDE_COLUMN = """
SELECT o_orderkey AS road_id,
  CASE WHEN o_orderkey % 5 = 0 THEN 'urban'
       WHEN o_orderkey % 5 = 1 THEN NULL
       WHEN o_orderkey % 2 = 0 THEN 'urban' END AS road_type_name,
  CASE WHEN o_orderkey % 5 = 0 THEN 'Exact'
       WHEN o_orderkey % 5 = 1 THEN 'Fallback'
       WHEN o_orderkey % 2 = 0 THEN 'Exact'
       ELSE 'Fallback' END AS certitude
FROM orders
"""


def q_relation_semijoin_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: EXISTS over the road's relations array — a rule whose
    relationFilter matches ANY relation tag-map wins at Exact
    certitude. The relationFilter compiles to an array-local EXISTS
    over the relations column; no shuffle."""
    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    rel = F.when(
        k % 3 == 0,
        F.array(F.create_map(F.lit("type"), F.lit("route"),
                             F.lit("network"), F.lit("e-road"))),
    ).when(
        k % 3 == 1,
        F.array(F.create_map(F.lit("type"), F.lit("route"),
                             F.lit("network"), F.lit("lcn"))),
    ).otherwise(F.array().cast("array<map<string,string>>"))
    lit_v = F.when(k % 2 == 0, "yes").otherwise("no")
    roads = o.select(
        k.alias("road_id"),
        F.lit("AB").alias("country_code"),
        F.create_map(F.lit("lit"), lit_v).alias("tags"),
        rel.alias("relations_tags"),
    )
    out = infer_speed_limits_native(
        roads, relations_ruleset(), relations_col="relations_tags"
    )
    r = F.col("speed_limit")
    return out.select(
        "road_id",
        r.getField("road_type_name").alias("road_type_name"),
        r.getField("certitude").alias("certitude"),
        F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("out_maxspeed"),
    )


def q_override_column_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: the replacer hook as a per-row overrides map column — a
    true entry forces the named road type's predicate regardless of
    tags (e.g. an is-urban signal from the spatial layer). The override
    coalesce is spliced around every hoisted/inlined named predicate,
    incl. placeholder sites."""
    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    overrides = F.when(
        k % 5 == 0, F.create_map(F.lit("urban"), F.lit(True))
    ).when(
        k % 5 == 1, F.create_map(F.lit("urban"), F.lit(False))
    )
    lit_v = F.when(k % 2 == 0, "yes").otherwise("no")
    roads = o.select(
        k.alias("road_id"),
        F.lit("AB").alias("country_code"),
        F.create_map(F.lit("lit"), lit_v).alias("tags"),
        overrides.cast("map<string,boolean>").alias("overrides"),
    )
    out = infer_speed_limits_native(
        roads, relations_ruleset(), overrides_col="overrides"
    )
    r = F.col("speed_limit")
    return out.select(
        "road_id",
        r.getField("road_type_name").alias("road_type_name"),
        r.getField("certitude").alias("certitude"),
    )


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-island sessionization semantics (the batch oracle the
    stateful streaming operator is pinned against), oracle-checked in
    SQL. Timestamps exported as epoch seconds; value sums rounded (the
    two engines fold doubles in different orders)."""
    from osm_legal_default_speeds_spark.streaming.event_rollup import (
        batch_sessions,
    )

    ev = _read(spark, sf_dir, "events")
    s = batch_sessions(ev, gap_minutes=30)
    return s.select(
        "user_id",
        F.unix_timestamp("session_start").alias("start_s"),
        F.unix_timestamp("session_end").alias("end_s"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


SQL_SESSIONIZE_BATCH = """
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END
      AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT *, SUM(new_session) OVER (
    PARTITION BY user_id ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_no
  FROM marked
)
SELECT user_id,
  FLOOR(epoch(MIN(ts)))::BIGINT AS start_s,
  FLOOR(epoch(MAX(ts)))::BIGINT AS end_s,
  COUNT(*)::INT AS n_events,
  ROUND(SUM(value), 4) AS total_value
FROM numbered
GROUP BY user_id, session_no
"""


def q_grid_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    roads = _roads_df(spark, sf_dir)
    cell7 = grid_cell(F.col("lon"), F.col("lat"), 7)
    return roads.select(
        "road_id",
        F.col("lon"),
        F.col("lat"),
        cell7.alias("cell7"),
        grid_parent(cell7, 7).alias("cell6"),
    )


SQL_GRID_ENCODE = f"""
WITH roads AS ({_ROADS_SQL})
SELECT road_id, lon, lat,
  (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256), 0), 255)::BIGINT * 128
   + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 128), 0), 127)::BIGINT) AS cell7,
  (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 128), 0), 127)::BIGINT * 64
   + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 64), 0), 63)::BIGINT) AS cell6
FROM roads
"""


def q_zorder_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) write-clustering key per road at grid res 7,
    plus the enclosing quadrant (``key >> 2``) — the layout key that
    makes file-level min/max stats prune spatial scans. Oracle: the
    identical magic-mask bit dilation in DuckDB integer ops."""
    from osm_legal_default_speeds_spark.operators.spatial import zorder_cell

    roads = _roads_df(spark, sf_dir)
    z7 = zorder_cell(F.col("lon"), F.col("lat"), 7)
    return roads.select(
        "road_id",
        z7.alias("z7"),
        F.shiftright(z7, 2).alias("quad6"),
    )


def _sql_zorder_encode() -> str:
    from osm_legal_default_speeds_spark.operators.spatial import _Z_SPREAD

    # one CTE per dilation stage, both coordinates in lockstep
    stages = []
    prev = "xy"
    for i, (shift, mask) in enumerate(_Z_SPREAD):
        name = f"s{i}"
        stages.append(
            f"{name} AS (SELECT road_id,\n"
            f"  ((x | (x << {shift})) & {mask}) AS x,\n"
            f"  ((y | (y << {shift})) & {mask}) AS y\n"
            f"  FROM {prev})"
        )
        prev = name
    chain = ",\n".join(stages)
    return f"""
WITH roads AS ({_ROADS_SQL}),
xy AS (
  SELECT road_id,
    LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256), 0), 255)::BIGINT AS x,
    LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 128), 0), 127)::BIGINT AS y
  FROM roads
),
{chain}
SELECT road_id, (x | (y << 1)) AS z7, ((x | (y << 1)) >> 2) AS quad6
FROM {prev}
"""


SQL_ZORDER_ENCODE = _sql_zorder_encode()


def q_grid_encode_ea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-area (Lambert cylindrical band) id space end-to-end:
    encode at res 7, roll up through the shared parent layout, and
    aggregate per coarse cell — the skew-relevant property (uniform
    sphere density => uniform cell counts) exercised through a real
    groupBy in the ea id space."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_cell_ea,
        grid_parent,
    )

    roads = _roads_df(spark, sf_dir)
    cell7 = grid_cell_ea(F.col("lon"), F.col("lat"), 7)
    enc = roads.select(
        "road_id",
        cell7.alias("cell7_ea"),
        grid_parent(cell7, 7).alias("cell6_ea"),
    )
    return enc.groupBy("cell6_ea").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.count_distinct(F.col("cell7_ea")).alias("n_children"),
        F.min("road_id").alias("min_road_id"),
    )


SQL_GRID_ENCODE_EA = f"""
WITH roads AS ({_ROADS_SQL}),
enc AS (
  SELECT road_id,
    (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256), 0), 255)::BIGINT * 128
     + LEAST(GREATEST(FLOOR((SIN(RADIANS(lat)) + 1.0) / 2.0 * 128), 0), 127)::BIGINT)
      AS cell7_ea,
    (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 128), 0), 127)::BIGINT * 64
     + LEAST(GREATEST(FLOOR((SIN(RADIANS(lat)) + 1.0) / 2.0 * 64), 0), 63)::BIGINT)
      AS cell6_ea
  FROM roads
)
SELECT cell6_ea, COUNT(*) AS n_roads,
       COUNT(DISTINCT cell7_ea) AS n_children,
       MIN(road_id) AS min_road_id
FROM enc GROUP BY cell6_ea
"""


def _boundaries_case_sql(bs: list[RectBoundary]) -> str:
    """CASE expression choosing the min-priority containing rectangle —
    generated from the same boundary list the Spark side uses."""
    whens = []
    for b in sorted(bs, key=lambda b: b.priority):
        whens.append(
            f"WHEN lon >= {b.lon_min} AND lon < {b.lon_max} "
            f"AND lat >= {b.lat_min} AND lat < {b.lat_max} THEN '{b.region_code}'"
        )
    return "CASE " + " ".join(whens) + " END"


def _boundaries_values_sql(bs: list[RectBoundary]) -> str:
    rows = ", ".join(
        f"('{b.region_code}', {b.lon_min}, {b.lat_min}, {b.lon_max}, {b.lat_max})"
        for b in bs
    )
    return f"(VALUES {rows}) AS b(region_code, lon_min, lat_min, lon_max, lat_max)"


def q_pip_jurisdiction(spark: SparkSession, sf_dir: str) -> DataFrame:
    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    out = assign_jurisdiction(roads, synth_boundaries(), index_res=6)
    return out.select("road_id", "region_code")


SQL_PIP_JURISDICTION = f"""
WITH roads AS ({_ROADS_SQL})
SELECT road_id, {_boundaries_case_sql(synth_boundaries())} AS region_code
FROM roads
"""


def synth_polygons():
    """Non-rectangular synthetic world for the general-PIP query: one
    CONVEX polygon per region (triangles on even slots, hexagons on odd
    slots) laid out on the same 30-degree raster as synth_boundaries,
    plus a higher-priority hexagon subdivision inside US. Convexity is
    only an oracle convenience — the DuckDB twin uses strict half-plane
    sign tests, a genuinely different algorithm from the engine's
    even-odd ray cast (which also handles concave/holed polygons,
    covered by pytest differentials)."""
    import math

    from osm_legal_default_speeds_spark.operators.spatial import (
        PolygonBoundary,
    )

    codes = ["DE", "FR", "IT", "ES", "PL", "NL", "GB", "DK", "US", "CA", "MX", "ZA"]
    polys = []
    for i, code in enumerate(codes):
        cx = -180.0 + i * 30.0 + 14.0
        cy = -60.0 + (i % 4) * 30.0 + 14.0
        if i % 2 == 0:
            ring = (
                (cx - 11.3, cy - 9.7),
                (cx + 12.1, cy - 9.1),
                (cx + 0.7, cy + 11.3),
            )
        else:
            r = 11.0 + 0.7 * (i % 3)
            ring = tuple(
                (
                    round(cx + r * math.cos(math.radians(a)), 3),
                    round(cy + r * math.sin(math.radians(a)), 3),
                )
                for a in range(0, 360, 60)
            )
        polys.append(PolygonBoundary(code, (ring,), priority=i + 1))
    # subdivision hexagon inside the US triangle (priority 0 wins)
    sub = tuple(
        (
            round(74.5 + 4.0 * math.cos(math.radians(a)), 3),
            round(-45.5 + 4.0 * math.sin(math.radians(a)), 3),
        )
        for a in range(0, 360, 60)
    )
    polys.append(PolygonBoundary("US-ND", (sub,), priority=0))
    return polys


def q_pip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-polygon PIP: broadcast packed-vertex cell index + native
    even-odd ray cast; winner by (priority, region_code)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_jurisdiction_polygons,
    )

    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    out = assign_jurisdiction_polygons(roads, synth_polygons(), index_res=6)
    return out.select("road_id", "region_code")


def _polygons_case_sql(polys) -> str:
    """First containing polygon by (priority, code) via STRICT half-plane
    sign tests (vertices are CCW; convex by construction).

    On-boundary divergence (cf. the rect oracle's half-open note): the
    strict ``> 0`` interior test classifies a point exactly ON a polygon
    edge as outside, while the engine's half-open PNPOLY ray cast counts
    bottom/left edges as inside. The synthetic fixture keeps the two in
    agreement by construction — every road coordinate carries a
    fractional offset (``/ 1000.0`` lattice) while polygon vertices sit
    on integer-ish lattice points, so no test point ever lands exactly
    on an edge. Reusing this oracle on data without that guarantee
    would produce edge-point mismatches; that is a fixture property,
    not an engine bug."""
    branches = []
    for p in sorted(polys, key=lambda p: (p.priority, p.region_code)):
        (ring,) = p.rings
        n = len(ring)
        edges = []
        for i in range(n):
            xi, yi = ring[i]
            xj, yj = ring[(i + 1) % n]
            edges.append(
                f"(({xj!r} - {xi!r}) * (lat - {yi!r})"
                f" - ({yj!r} - {yi!r}) * (lon - {xi!r})) > 0"
            )
        branches.append(
            "WHEN " + " AND ".join(edges) + f" THEN '{p.region_code}'"
        )
    return "CASE " + " ".join(branches) + " END"


SQL_PIP_POLYGON = f"""
WITH roads AS ({_ROADS_SQL})
SELECT road_id, {_polygons_case_sql(synth_polygons())} AS region_code
FROM roads
"""


_HEX_RES = 4  # hex size = 360/48 = 7.5 planar units


def q_hex_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal equal-area index end-to-end: encode every road into a
    cube-rounded axial hex id over the Lambert plane, roll up per hex,
    and emit the hex CENTER back-projection (the id -> vector
    direction: linear in lon, asin in lat)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        hex_cell,
        hex_center,
    )

    roads = _roads_df(spark, sf_dir)
    enc = roads.select(
        "road_id", hex_cell(F.col("lon"), F.col("lat"), _HEX_RES).alias("hex_id")
    )
    agg = enc.groupBy("hex_id").agg(
        F.count(F.lit(1)).alias("n_roads"),
        F.min("road_id").alias("min_road_id"),
    )
    lon_c, lat_c = hex_center(F.col("hex_id"), _HEX_RES)
    return agg.select(
        "hex_id",
        "n_roads",
        "min_road_id",
        lon_c.alias("center_lon"),
        lat_c.alias("center_lat"),
    )


def _hex_sql(res: int) -> str:
    import math

    from osm_legal_default_speeds_spark.operators.spatial import hex_size

    size = hex_size(res)
    s3 = math.sqrt(3.0)
    off, stride = 1 << 30, 1 << 32
    return f"""
WITH roads AS ({_ROADS_SQL}),
s1 AS (
  SELECT road_id,
    ({s3!r} / 3.0 * (lon + 180.0) - ((SIN(RADIANS(lat)) + 1.0) * 180.0) / 3.0) / {size!r} AS q,
    (2.0 / 3.0 * ((SIN(RADIANS(lat)) + 1.0) * 180.0)) / {size!r} AS r
  FROM roads
),
s2 AS (
  SELECT road_id, q, r, -q - r AS y,
         ROUND(q) AS rx, ROUND(-q - r) AS ry, ROUND(r) AS rz
  FROM s1
),
s3 AS (
  SELECT road_id, rx, ry, rz,
         ABS(rx - q) AS dx, ABS(ry - y) AS dy, ABS(rz - r) AS dz
  FROM s2
),
s4 AS (
  SELECT road_id,
    CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END AS fq,
    CASE WHEN NOT (dx > dy AND dx > dz) AND NOT (dy > dz)
         THEN -rx - ry ELSE rz END AS fr
  FROM s3
),
enc AS (
  SELECT road_id,
    ((fq::BIGINT + {off}) * {stride} + (fr::BIGINT + {off})) AS hex_id
  FROM s4
),
agg AS (
  SELECT hex_id, COUNT(*) AS n_roads, MIN(road_id) AS min_road_id
  FROM enc GROUP BY hex_id
)
SELECT hex_id, n_roads, min_road_id,
  {size!r} * ({s3!r} * ((hex_id // {stride}) - {off})
              + {s3!r} / 2.0 * ((hex_id % {stride}) - {off})) - 180.0 AS center_lon,
  DEGREES(ASIN({size!r} * (1.5 * ((hex_id % {stride}) - {off})) / 180.0 - 1.0))
    AS center_lat
FROM agg
"""


SQL_HEX_ENCODE = _hex_sql(_HEX_RES)


_RASTER_RES = 6  # nx=128, ny=64


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RASTER direction of the raster<->vector pair: polygon table ->
    covering cells under the cell-center rule (even-odd ray cast).
    The sf_dir argument is unused by design — the operator's input is
    the polygon table itself (the oracle's generate_series lattice is
    the independent twin)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        polygons_to_df,
        rasterize_polygons,
    )

    return rasterize_polygons(
        polygons_to_df(spark, synth_polygons()), res=_RASTER_RES
    )


def q_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR direction: rasterized cells -> merged vertical-run
    rectangles (gap-and-island vectorization)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        polygons_to_df,
        rasterize_polygons,
        vectorize_cells,
    )

    cells = rasterize_polygons(
        polygons_to_df(spark, synth_polygons()), res=_RASTER_RES
    )
    return vectorize_cells(cells, res=_RASTER_RES)


def _rasterize_sql(polys, res: int) -> str:
    """Per-polygon generate_series lattice + STRICT half-plane center
    test (independent twin of the engine's ray cast; same on-boundary
    caveat as SQL_PIP_POLYGON — fixture centers never land on edges)."""
    import math

    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_nx,
        grid_ny,
    )

    nx, ny = grid_nx(res), grid_ny(res)
    parts = []
    for p in sorted(polys, key=lambda p: (p.priority, p.region_code)):
        lon0, lat0, lon1, lat1 = p.bbox()
        x0 = min(max(math.floor((lon0 + 180.0) / 360.0 * nx), 0), nx - 1)
        x1 = min(max(math.floor((lon1 + 180.0) / 360.0 * nx), 0), nx - 1)
        y0 = min(max(math.floor((lat0 + 90.0) / 180.0 * ny), 0), ny - 1)
        y1 = min(max(math.floor((lat1 + 90.0) / 180.0 * ny), 0), ny - 1)
        (ring,) = p.rings
        n = len(ring)
        edges = []
        for i in range(n):
            xi, yi = ring[i]
            xj, yj = ring[(i + 1) % n]
            edges.append(
                f"(({xj!r} - {xi!r}) * (lat - {yi!r})"
                f" - ({yj!r} - {yi!r}) * (lon - {xi!r})) > 0"
            )
        parts.append(
            f"SELECT '{p.region_code}' AS region_code, (x * {ny} + y)::BIGINT AS cell\n"
            f"FROM (SELECT x, y, (x + 0.5) / {nx} * 360.0 - 180.0 AS lon,\n"
            f"             (y + 0.5) / {ny} * 180.0 - 90.0 AS lat\n"
            f"      FROM generate_series({x0}, {x1}) t(x), generate_series({y0}, {y1}) u(y))\n"
            f"WHERE {' AND '.join(edges)}"
        )
    return "\nUNION ALL\n".join(parts)


SQL_RASTERIZE = _rasterize_sql(synth_polygons(), _RASTER_RES)

SQL_VECTORIZE = f"""
WITH cells AS ({SQL_RASTERIZE}),
xy AS (
  SELECT region_code, (cell // 64) AS x, (cell % 64) AS y FROM cells
),
marked AS (
  SELECT region_code, x, y,
    CASE WHEN y - LAG(y) OVER (PARTITION BY region_code, x ORDER BY y) = 1
         THEN 0 ELSE 1 END AS brk
  FROM xy
),
runs AS (
  SELECT region_code, x, y,
    SUM(brk) OVER (PARTITION BY region_code, x ORDER BY y) AS run
  FROM marked
)
SELECT region_code,
       CAST(x AS DOUBLE) / 128 * 360.0 - 180.0 AS lon_min,
       CAST(MIN(y) AS DOUBLE) / 64 * 180.0 - 90.0 AS lat_min,
       CAST(x + 1 AS DOUBLE) / 128 * 360.0 - 180.0 AS lon_max,
       CAST(MAX(y) + 1 AS DOUBLE) / 64 * 180.0 - 90.0 AS lat_max,
       COUNT(*) AS n_cells
FROM runs GROUP BY region_code, x, run
"""


# --------------------------------------------------------------------------
# rasterize_segments / tile_pyramid (linear features + pyramid rollup)
# --------------------------------------------------------------------------

_SEG_RES = 6
_SEG_NX = 1 << (_SEG_RES + 1)
_SEG_NY = 1 << _SEG_RES
_PYR_MIN_RES = 3
_PYR_MAX_RES = 6


def _segs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic short road segments: each road point plus an
    integer-derived lon/lat delta (spans 0-3 cells at res 6 — the
    realistic way-segment fan-out). Wide scan: every consumer
    (rasterize/clip/vector-tile/intersection/snap) runs a supercover
    HOF chain before its first shuffle."""
    r = _roads_df(spark, sf_dir, wide=True)
    return r.select(
        F.col("road_id").alias("seg_id"),
        F.col("lon").alias("lon0"),
        F.col("lat").alias("lat0"),
        (F.col("lon") + (F.col("road_id") % 13 - 6) * 0.7).alias("lon1"),
        (F.col("lat") + (F.col("road_id") % 11 - 5) * 0.45).alias("lat1"),
    )


_SEGS_SQL = f"""
  SELECT road_id AS seg_id, lon AS lon0, lat AS lat0,
    lon + (road_id % 13 - 6) * 0.7 AS lon1,
    lat + (road_id % 11 - 5) * 0.45 AS lat1
  FROM roads
"""


def q_rasterize_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact supercover rasterization of road segments (midpoint-cut
    contract, operators/spatial.py::segment_cells). Oracle: the same
    parameter-cut algorithm in DuckDB list functions — every float op
    is +,-,*,/ or floor/ceil on doubles, so both engines are
    bit-identical."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        rasterize_segments,
    )

    return rasterize_segments(_segs_df(spark, sf_dir), _SEG_RES)


def _sql_crossings(a0: str, a1: str) -> str:
    d = f"({a1} - {a0})"
    lo = f"least({a0}, {a1})"
    hi = f"greatest({a0}, {a1})"
    return f"""CASE WHEN {d} <> 0 AND floor({hi}) >= ceil({lo})
      THEN list_filter(
             list_transform(
               range(ceil({lo})::BIGINT, floor({hi})::BIGINT + 1),
               k -> (k - {a0}) / {d}),
             t -> t > 0 AND t < 1)
      ELSE [] END"""


SQL_RASTERIZE_SEGMENTS = f"""
WITH roads AS ({_ROADS_SQL}),
segs AS ({_SEGS_SQL}),
g AS (
  SELECT seg_id,
    (lon0 + 180.0) / 360.0 * {_SEG_NX} AS x0,
    (lat0 + 90.0) / 180.0 * {_SEG_NY} AS y0,
    (lon1 + 180.0) / 360.0 * {_SEG_NX} AS x1,
    (lat1 + 90.0) / 180.0 * {_SEG_NY} AS y1
  FROM segs
),
tc AS (
  SELECT seg_id, x0, y0, x1, y1,
    list_sort(list_distinct(
      [0.0, 1.0]
      || {_sql_crossings('x0', 'x1')}
      || {_sql_crossings('y0', 'y1')}
    )) AS ts
  FROM g
),
iv AS (
  SELECT seg_id, x0, y0, x1, y1, ts,
    unnest(range(1, len(ts))) AS i
  FROM tc
),
cellrows AS (
  SELECT seg_id, i,
    least(greatest(
      floor(x0 + ((ts[i] + ts[i + 1]) / 2.0) * (x1 - x0)), 0),
      {_SEG_NX - 1})::BIGINT AS cell_x,
    least(greatest(
      floor(y0 + ((ts[i] + ts[i + 1]) / 2.0) * (y1 - y0)), 0),
      {_SEG_NY - 1})::BIGINT AS cell_y
  FROM iv
),
dedup AS (
  SELECT seg_id, i, cell_x, cell_y FROM cellrows
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY seg_id, cell_x, cell_y ORDER BY i) = 1
)
SELECT seg_id,
  ROW_NUMBER() OVER (PARTITION BY seg_id ORDER BY i) - 1 AS seq,
  cell_x, cell_y,
  (cell_x * {_SEG_NY} + cell_y) AS cell
FROM dedup
"""


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-resolution tile counts (raster pyramid) over the
    road points: single exchange carrying all-level partials."""
    from osm_legal_default_speeds_spark.operators.spatial import tile_pyramid

    return tile_pyramid(
        _roads_df(spark, sf_dir), "lon", "lat", _PYR_MIN_RES, _PYR_MAX_RES
    )


def _sql_tile_pyramid() -> str:
    levels = []
    for r in range(_PYR_MIN_RES, _PYR_MAX_RES + 1):
        nx, ny = 1 << (r + 1), 1 << r
        levels.append(
            f"SELECT {r} AS res,\n"
            f"  (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * {nx}), 0), "
            f"{nx - 1})::BIGINT * {ny}\n"
            f"   + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {ny}), 0), "
            f"{ny - 1})::BIGINT) AS cell\n"
            f"FROM roads"
        )
    body = "\nUNION ALL\n".join(levels)
    return f"""
WITH roads AS ({_ROADS_SQL}),
lv AS (
{body}
)
SELECT res, cell, count(*)::BIGINT AS n_rows FROM lv GROUP BY 1, 2
"""


SQL_TILE_PYRAMID = _sql_tile_pyramid()


def q_knn_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    return roads.select(
        "road_id",
        knn_region_column(synth_boundaries(), F.col("lon"), F.col("lat")).alias(
            "nearest_region"
        ),
    )


SQL_KNN_NEAREST = f"""
WITH roads AS ({_ROADS_SQL}),
dists AS (
  SELECT road_id, b.region_code,
    (GREATEST(b.lon_min - lon, lon - b.lon_max, 0.0) * GREATEST(b.lon_min - lon, lon - b.lon_max, 0.0)
     + GREATEST(b.lat_min - lat, lat - b.lat_max, 0.0) * GREATEST(b.lat_min - lat, lat - b.lat_max, 0.0)) AS d
  FROM roads, {_boundaries_values_sql(synth_boundaries())}
)
SELECT road_id, region_code AS nearest_region
FROM dists
QUALIFY ROW_NUMBER() OVER (PARTITION BY road_id ORDER BY d, region_code) = 1
"""


def q_tile_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring neighbor expansion (native Column algebra): one row per
    (road, neighbor cell of its tile) — the candidate generator for
    neighborhood joins."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        neighbor_cells,
    )

    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    tiled = assign_tiles(roads, tile_res=4)
    return tiled.select(
        "road_id",
        F.col("tile_id"),
        F.explode(neighbor_cells(F.col("tile_id"), 4, 1)).alias("neighbor_cell"),
    )


def _sql_tile_neighbors() -> str:
    # mirror neighbor_cells arithmetic at res 4 (nx=32, ny=16)
    nx, ny = 32, 16
    terms = []
    for dx in range(-1, 2):
        for dy in range(-1, 2):
            terms.append(
                f"CASE WHEN y + {dy} >= 0 AND y + {dy} < {ny} "
                f"THEN ((((x + {dx}) % {nx}) + {nx}) % {nx}) * {ny} + (y + {dy}) END"
            )
    arr = "[" + ", ".join(terms) + "]"
    return f"""
WITH roads AS ({_ROADS_SQL}),
tiled AS (
  SELECT road_id,
    (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * {nx}), 0), {nx - 1})::BIGINT * {ny}
     + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {ny}), 0), {ny - 1})::BIGINT)
      AS tile_id
  FROM roads
),
xy AS (
  SELECT road_id, tile_id,
         (tile_id // {ny})::BIGINT AS x, (tile_id % {ny})::BIGINT AS y
  FROM tiled
)
SELECT road_id, tile_id, u.neighbor_cell
FROM xy,
  UNNEST(list_sort(list_distinct(list_filter({arr}, c -> c IS NOT NULL))))
    AS u(neighbor_cell)
"""


SQL_TILE_NEIGHBORS = _sql_tile_neighbors()


WITHIN_RADIUS = 1.0  # degrees; res auto-picks 7 (cell side 1.406 >= r)


def q_within_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band self-join: every unordered pair of sampled roads
    within 1 planar degree (lon wrap-aware), via the 1-ring
    cell-bucketed equi-join — no inequality cross product. Oracle: the
    genuinely different brute-force inequality join over the same
    subset (the oracle is O(n^2); the operator is the scale path).

    Points are md5-scattered rather than the roads lattice: the
    lattice's pairwise distances depend only on the id offset, and no
    offset lands inside 1 degree, so it cannot exercise the join."""
    from osm_legal_default_speeds_spark.operators.sketches import unit_hash
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_pairs,
    )

    k = F.col("road_id")
    roads = (
        _roads_df(spark, sf_dir)
        .where(k % 3 == 0)
        .select(
            "road_id",
            (unit_hash(F.concat(k.cast("string"), F.lit(":lon"))) * 360.0 - 180.0).alias("lon"),
            (unit_hash(F.concat(k.cast("string"), F.lit(":lat"))) * 170.0 - 85.0).alias("lat"),
        )
    )
    return within_distance_pairs(roads, WITHIN_RADIUS, id_col="road_id")


_UNIT_DENOM_SQL = repr(float(1 << 60))

SQL_WITHIN_PAIRS = f"""
WITH roads AS ({_ROADS_SQL}),
pts AS (
  SELECT road_id,
    ('0x' || substring(md5(road_id::VARCHAR || ':lon'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 360.0 - 180.0 AS lon,
    ('0x' || substring(md5(road_id::VARCHAR || ':lat'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 170.0 - 85.0 AS lat
  FROM roads WHERE road_id % 3 = 0
),
cand AS (
  SELECT a.road_id AS id_a, b.road_id AS id_b,
         LEAST(ABS(a.lon - b.lon), 360.0 - ABS(a.lon - b.lon)) AS dlon,
         a.lat - b.lat AS dlat
  FROM pts a JOIN pts b ON a.road_id < b.road_id
)
SELECT id_a, id_b, sqrt(dlon * dlon + dlat * dlat) AS dist
FROM cand
WHERE dlon * dlon + dlat * dlat <= {WITHIN_RADIUS * WITHIN_RADIUS!r}
"""


def q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    tiled = assign_tiles(roads, tile_res=5)
    return tile_rollup(tiled, tile_col="tile_id", salt_buckets=16)


SQL_TILE_ROLLUP = f"""
WITH roads AS ({_ROADS_SQL})
SELECT (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 64), 0), 63)::BIGINT * 32
        + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 32), 0), 31)::BIGINT) AS tile_id,
       COUNT(*) AS n_rows
FROM roads
GROUP BY 1
"""


from osm_legal_default_speeds_spark.plans.trainingdata_queries import (  # noqa: E402
    TRAININGDATA_ORACLES,
    TRAININGDATA_QUERIES,
)

QUERIES = {
    "tagfilter_atoms": q_tagfilter_atoms,
    "units_normalize": q_units_normalize,
    "bool_precedence": q_bool_precedence,
    "effective_country": q_effective_country,
    "relevant_keys": q_relevant_keys,
    "cascade_infer_native": q_cascade_infer_native,
    "result_assembly_native": q_result_assembly_native,
    "grid_encode": q_grid_encode,
    "grid_encode_ea": q_grid_encode_ea,
    "zorder_encode": q_zorder_encode,
    "hex_encode": q_hex_encode,
    "rasterize_polygons": q_rasterize,
    "vectorize_cells": q_vectorize,
    "rasterize_segments": q_rasterize_segments,
    "tile_pyramid": q_tile_pyramid,
    "pip_jurisdiction": q_pip_jurisdiction,
    "pip_polygon": q_pip_polygon,
    "knn_nearest": q_knn_nearest,
    "tile_rollup": q_tile_rollup,
    "tile_neighbors": q_tile_neighbors,
    "within_pairs": q_within_pairs,
    "relation_semijoin_native": q_relation_semijoin_native,
    "override_column_native": q_override_column_native,
    "sessionize_batch": q_sessionize_batch,
    **TRAININGDATA_QUERIES,
}

ORACLES = {
    "tagfilter_atoms": SQL_TAGFILTER_ATOMS,
    "units_normalize": SQL_UNITS_NORMALIZE,
    "bool_precedence": SQL_BOOL_PRECEDENCE,
    "effective_country": SQL_EFFECTIVE_COUNTRY,
    "relevant_keys": SQL_RELEVANT_KEYS,
    # the native Column plan answers the same contract as the Arrow path
    "cascade_infer_native": SQL_CASCADE_INFER,
    "result_assembly_native": SQL_RESULT_ASSEMBLY,
    "grid_encode": SQL_GRID_ENCODE,
    "grid_encode_ea": SQL_GRID_ENCODE_EA,
    "zorder_encode": SQL_ZORDER_ENCODE,
    "hex_encode": SQL_HEX_ENCODE,
    "rasterize_polygons": SQL_RASTERIZE,
    "vectorize_cells": SQL_VECTORIZE,
    "rasterize_segments": SQL_RASTERIZE_SEGMENTS,
    "tile_pyramid": SQL_TILE_PYRAMID,
    "pip_jurisdiction": SQL_PIP_JURISDICTION,
    "pip_polygon": SQL_PIP_POLYGON,
    "knn_nearest": SQL_KNN_NEAREST,
    "tile_rollup": SQL_TILE_ROLLUP,
    "tile_neighbors": SQL_TILE_NEIGHBORS,
    "within_pairs": SQL_WITHIN_PAIRS,
    "relation_semijoin_native": SQL_RELATION_SEMIJOIN,
    "override_column_native": SQL_OVERRIDE_COLUMN,
    "sessionize_batch": SQL_SESSIONIZE_BATCH,
    **TRAININGDATA_ORACLES,
    # the cell index is an exact pruning of the flat argmin scan, so
    # the indexed path shares the full-scan oracle
    "knn_indexed": SQL_KNN_NEAREST,
}


# --------------------------------------------------------------------------
# Round-3 additions: map matching, heatmap smoothing, polygon overlay,
# Douglas-Peucker simplification
# --------------------------------------------------------------------------

SNAP_RADIUS = 1.0  # degrees; res auto-picks 7 (cell side 1.40625 >= r)


def q_snap_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: snap sampled road points to the nearest (strictly
    within 1 degree) road segment from a DISJOINT sample, via supercover
    cell bucketing + 1-ring candidate join + min-struct argmin. Oracle:
    brute-force cross join with the identical clamped-projection
    arithmetic (the oracle is O(|P| x |S|); the operator is the scale
    path)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        snap_to_segments,
    )

    pts = (
        _roads_df(spark, sf_dir)
        .where(F.col("road_id") % 3 == 1)
        .select("road_id", "lon", "lat")
    )
    # the operator contract requires segments split at +-180; the raw
    # _segs_df fixture lets lon1 run past the antimeridian (harmless
    # for rasterize_segments, whose oracle clamps identically), so keep
    # only segments that stay in range (|lon0| <= 170 bounds lon1 by
    # 170 + 4.2 < 180)
    segs = _segs_df(spark, sf_dir).where(
        (F.col("seg_id") % 3 == 2) & (F.abs(F.col("lon0")) <= 170.0)
    )
    return snap_to_segments(
        pts, segs, SNAP_RADIUS, point_id="road_id"
    )


SQL_SNAP_SEGMENTS = f"""
WITH roads AS ({_ROADS_SQL}),
segs0 AS ({_SEGS_SQL}),
pts AS (SELECT road_id, lon, lat FROM roads WHERE road_id % 3 = 1),
segs AS (SELECT * FROM segs0 WHERE seg_id % 3 = 2 AND ABS(lon0) <= 170.0),
cand AS (
  SELECT p.road_id, s.seg_id,
    p.lon + FLOOR(((s.lon0 + s.lon1) / 2.0 - p.lon) / 360.0 + 0.5) * 360.0 AS px,
    p.lat AS py, s.lon0 AS x0, s.lat0 AS y0,
    s.lon1 - s.lon0 AS dx, s.lat1 - s.lat0 AS dy
  FROM pts p CROSS JOIN segs s
),
proj AS (
  SELECT road_id, seg_id, px, py, x0, y0, dx, dy,
    LEAST(GREATEST(CASE WHEN dx * dx + dy * dy = 0.0 THEN 0.0
      ELSE ((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy) END,
      0.0), 1.0) AS t
  FROM cand
),
scored AS (
  SELECT road_id, seg_id, x0 + t * dx AS qx, y0 + t * dy AS qy,
    (px - (x0 + t * dx)) * (px - (x0 + t * dx))
      + (py - (y0 + t * dy)) * (py - (y0 + t * dy)) AS d2
  FROM proj
)
SELECT road_id, seg_id, qx AS snap_lon, qy AS snap_lat, sqrt(d2) AS dist
FROM scored WHERE d2 < {SNAP_RADIUS * SNAP_RADIUS!r}
QUALIFY ROW_NUMBER() OVER (PARTITION BY road_id ORDER BY d2, seg_id) = 1
"""


_SMOOTH_RES = 5  # nx=64, ny=32 (shared with tile_rollup's grid)


def q_tile_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap tiles: 3x3 discrete-kernel (4/2/1) density smoothing of
    road-point counts. Cells with zero points but occupied neighbors
    receive mass, exactly like a raster convolution."""
    from osm_legal_default_speeds_spark.operators.spatial import tile_smooth

    return tile_smooth(
        _roads_df(spark, sf_dir), "lon", "lat", _SMOOTH_RES
    )


def _sql_tile_smooth(res: int) -> str:
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_nx,
        grid_ny,
    )

    nx, ny = grid_nx(res), grid_ny(res)
    kernel = ",".join(
        f"({dx},{dy},{4 if dx == 0 and dy == 0 else (2 if dx == 0 or dy == 0 else 1)})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return f"""
WITH roads AS ({_ROADS_SQL}),
counts AS (
  SELECT (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * {nx}), 0), {nx - 1})::BIGINT * {ny}
          + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {ny}), 0), {ny - 1})::BIGINT) AS cell,
         COUNT(*)::BIGINT AS n
  FROM roads GROUP BY 1
),
xy AS (SELECT cell, n, (cell // {ny})::BIGINT AS x, (cell % {ny})::BIGINT AS y FROM counts),
scat AS (
  SELECT ((((x + k.dx) % {nx}) + {nx}) % {nx}) * {ny} + (y + k.dy) AS cell,
         k.w::BIGINT * n AS c
  FROM xy, (VALUES {kernel}) k(dx, dy, w)
  WHERE y + k.dy >= 0 AND y + k.dy < {ny}
)
SELECT cell, SUM(c)::BIGINT AS density FROM scat GROUP BY 1
"""


SQL_TILE_SMOOTH = _sql_tile_smooth(_SMOOTH_RES)


def synth_overlay_squares():
    """Second polygon layer for the overlay query: 24.6-degree CCW
    squares ('ecoregions') on a 30 x 50 degree lattice offset from the
    jurisdiction layer. Vertex coordinates carry .3/.7 fractional
    offsets so no res-6 cell center lands exactly on an edge (same
    fixture guarantee as synth_polygons — the strict half-plane oracle
    and the half-open ray cast then agree)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        PolygonBoundary,
    )

    polys = []
    s = 24.6
    for i in range(12):
        x0 = -180.0 + i * 30.0 + 3.7
        for j in range(3):
            y0 = -75.0 + j * 50.0 + 2.3
            ring = (
                (x0, y0),
                (x0 + s, y0),
                (x0 + s, y0 + s),
                (x0, y0 + s),
            )
            polys.append(
                PolygonBoundary(f"E{i:02d}{j}", (ring,), priority=i * 3 + j)
            )
    return polys


def q_polygon_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-space overlay of the jurisdiction polygons x the
    ecoregion squares at res 6: (id_a, id_b, n_cells, area_deg2) per
    intersecting pair — the distributed alternative to exact clipping.
    sf_dir is unused by design: both inputs are polygon tables."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        polygon_overlay,
        polygons_to_df,
    )

    return polygon_overlay(
        polygons_to_df(spark, synth_polygons()),
        polygons_to_df(spark, synth_overlay_squares()),
        res=_RASTER_RES,
    )


def _overlay_sql() -> str:
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_nx,
        grid_ny,
    )

    nx, ny = grid_nx(_RASTER_RES), grid_ny(_RASTER_RES)
    cell_area = (360.0 / nx) * (180.0 / ny)
    return f"""
WITH ra AS ({_rasterize_sql(synth_polygons(), _RASTER_RES)}),
rb AS ({_rasterize_sql(synth_overlay_squares(), _RASTER_RES)})
SELECT ra.region_code AS id_a, rb.region_code AS id_b,
       COUNT(*)::BIGINT AS n_cells,
       COUNT(*) * {cell_area!r}::DOUBLE AS area_deg2
FROM ra JOIN rb USING (cell)
GROUP BY 1, 2
"""


SQL_POLYGON_OVERLAY = _overlay_sql()


_DP_TOL = 0.1


def _lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic zigzag polylines (5-11 vertices) anchored at road
    points: x advances 0.5/step, y wiggles by an integer-hash fraction
    of 0.3 degrees — enough structure that DP both keeps and drops
    interior vertices at tol 0.1."""
    # wide: consumers run Douglas-Peucker HOF recursion pre-shuffle
    r = _roads_df(spark, sf_dir, wide=True).where(F.col("road_id") % 5 == 0)
    n = (F.col("road_id") % 7 + 5).cast("int")
    seq = F.sequence(F.lit(0), (n - 1).cast("int"))
    xs = F.transform(seq, lambda i: F.col("lon") + i * 0.5)
    ys = F.transform(
        seq,
        lambda i: F.col("lat")
        + ((F.col("road_id") * (i + F.lit(1)) * F.lit(2654435761)) % 1000)
        / 1000.0
        * 0.3,
    )
    return r.select(
        F.col("road_id").alias("line_id"), xs.alias("xs"), ys.alias("ys")
    )


def q_simplify_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker at tol 0.1 over the zigzag fixture, exploded to
    (line_id, seq, x, y) kept-vertex rows. Oracle: the IDENTICAL
    squared-cross-product recursion as a DuckDB recursive CTE over the
    same lists — every split decision compares bit-identical doubles,
    including the first-max argmax tie-break (list_position of
    list_max)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        simplify_lines,
    )

    return simplify_lines(_lines_df(spark, sf_dir), tol=_DP_TOL)


def _simplify_sql(tol: float) -> str:
    tol2 = tol * tol
    return f"""
WITH RECURSIVE roads AS ({_ROADS_SQL}),
lines AS (
  SELECT road_id AS line_id,
    list_transform(range(0, 5 + road_id % 7), i -> lon + i * 0.5) AS xs,
    list_transform(range(0, 5 + road_id % 7),
      i -> lat + ((road_id * (i + 1) * 2654435761) % 1000) / 1000.0 * 0.3) AS ys
  FROM roads WHERE road_id % 5 = 0
),
splits(line_id, i, j) AS (
  SELECT line_id, 1::BIGINT, len(xs)::BIGINT FROM lines
  UNION ALL
  SELECT s.line_id,
         CASE WHEN b.b = 0 THEN s.i ELSE t.k END,
         CASE WHEN b.b = 0 THEN t.k ELSE s.j END
  FROM splits s
  JOIN lines l ON l.line_id = s.line_id,
  LATERAL (SELECT l.xs[s.i] AS x0, l.ys[s.i] AS y0,
                  l.xs[s.j] - l.xs[s.i] AS dx, l.ys[s.j] - l.ys[s.i] AS dy) g,
  LATERAL (SELECT g.dx * g.dx + g.dy * g.dy AS seg2) g2,
  LATERAL (SELECT CASE WHEN g2.seg2 = 0.0
             THEN list_transform(range(s.i + 1, s.j),
               m -> (l.xs[m] - g.x0) * (l.xs[m] - g.x0)
                    + (l.ys[m] - g.y0) * (l.ys[m] - g.y0))
             ELSE list_transform(range(s.i + 1, s.j),
               m -> (g.dx * (l.ys[m] - g.y0) - g.dy * (l.xs[m] - g.x0))
                    * (g.dx * (l.ys[m] - g.y0) - g.dy * (l.xs[m] - g.x0)))
           END AS scores,
           CASE WHEN g2.seg2 = 0.0 THEN {tol2!r} ELSE {tol2!r} * g2.seg2 END AS thresh) sc,
  LATERAL (SELECT s.i + list_position(sc.scores, list_max(sc.scores)) AS k,
                  list_max(sc.scores) AS mx) t,
  (VALUES (0), (1)) b(b)
  WHERE s.j > s.i + 1 AND t.mx > sc.thresh
),
kept AS (
  SELECT DISTINCT line_id, idx FROM (
    SELECT line_id, i AS idx FROM splits
    UNION ALL SELECT line_id, j AS idx FROM splits)
),
out AS (
  SELECT kept.line_id,
         ROW_NUMBER() OVER (PARTITION BY kept.line_id ORDER BY idx) - 1 AS seq,
         l.xs[idx] AS x, l.ys[idx] AS y
  FROM kept JOIN lines l ON l.line_id = kept.line_id
)
SELECT line_id, seq::INT AS seq, x, y FROM out
"""


SQL_SIMPLIFY_LINES = _simplify_sql(_DP_TOL)


QUERIES.update(
    {
        "snap_segments": q_snap_segments,
        "tile_smooth": q_tile_smooth,
        "polygon_overlay": q_polygon_overlay,
        "simplify_lines": q_simplify_lines,
    }
)

ORACLES.update(
    {
        "snap_segments": SQL_SNAP_SEGMENTS,
        "tile_smooth": SQL_TILE_SMOOTH,
        "polygon_overlay": SQL_POLYGON_OVERLAY,
        "simplify_lines": SQL_SIMPLIFY_LINES,
    }
)


# --------------------------------------------------------------------------
# Great-circle meter-radius join
# --------------------------------------------------------------------------

HAVERSINE_RADIUS_M = 150000.0  # 150 km
_HAV_LAT_CAP = 84.0


def q_within_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-metric distance-band self-join: every unordered pair of
    md5-scattered road points within 150 km GREAT-CIRCLE distance
    (|lat| <= 84 contract). Pair IDS only — dist_m stays engine-side
    so a libm 1-ulp wobble cannot flip a hash digit; set membership
    flips only for pairs within ~0.2 mm of the radius, which the
    scattered fixture cannot produce. Oracle: brute-force inequality
    join with the identical haversine expression.

    The operator's latitude-banded candidates (a res per band) cut the
    150 km fixture's candidates ~160x against one worst-latitude res
    (98M -> ~600k) and the measured sf0.1 time 2.2 -> 1.3 s. wide=True:
    the probe explode + ring math is an expensive map before the first
    shuffle."""
    from osm_legal_default_speeds_spark.operators.sketches import unit_hash
    from osm_legal_default_speeds_spark.operators.spatial import (
        within_distance_join_meters,
    )

    k = F.col("road_id")
    pts = (
        _roads_df(spark, sf_dir, wide=True)
        .where(k % 4 == 0)
        .select(
            "road_id",
            (unit_hash(F.concat(k.cast("string"), F.lit(":mlon"))) * 360.0 - 180.0).alias("lon"),
            (unit_hash(F.concat(k.cast("string"), F.lit(":mlat"))) * 170.0 - 85.0).alias("lat"),
        )
    )
    a = pts.select(F.col("road_id").alias("id_a"), "lon", "lat")
    b = pts.select(F.col("road_id").alias("id_b"), "lon", "lat")
    return within_distance_join_meters(
        a,
        b,
        HAVERSINE_RADIUS_M,
        lat_cap=_HAV_LAT_CAP,
        self_pairs=True,
        with_dist=False,
    )


SQL_WITHIN_PAIRS_M = f"""
WITH roads AS ({_ROADS_SQL}),
pts AS (
  SELECT road_id,
    ('0x' || substring(md5(road_id::VARCHAR || ':mlon'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 360.0 - 180.0 AS lon,
    ('0x' || substring(md5(road_id::VARCHAR || ':mlat'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 170.0 - 85.0 AS lat
  FROM roads WHERE road_id % 4 = 0
),
capped AS (SELECT * FROM pts WHERE ABS(lat) <= {_HAV_LAT_CAP!r}),
cand AS (
  SELECT a.road_id AS id_a, b.road_id AS id_b,
    SIN(RADIANS(b.lat - a.lat) / 2) AS sdlat,
    SIN(RADIANS(b.lon - a.lon) / 2) AS sdlon,
    COS(RADIANS(a.lat)) * COS(RADIANS(b.lat)) AS cc
  FROM capped a JOIN capped b ON a.road_id < b.road_id
)
SELECT id_a, id_b FROM cand
WHERE 2.0 * 6371000.0 * ASIN(LEAST(SQRT(sdlat * sdlat + cc * sdlon * sdlon), 1.0))
      <= {HAVERSINE_RADIUS_M!r}
"""


QUERIES.update({"within_pairs_m": q_within_pairs_m})
ORACLES.update({"within_pairs_m": SQL_WITHIN_PAIRS_M})


# --------------------------------------------------------------------------
# Road-network connectivity (segment_components)
# --------------------------------------------------------------------------

def _chain_segs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chains of 1-3 segments per sampled road, each chain's FIRST
    endpoint welded onto one of 97 shared hub junctions — so chains
    hanging off the same hub form one connected component. Interior
    vertices are road-specific (the 1e-3 road lattice + k*0.25/k*0.1
    offsets), so no accidental cross-chain welds beyond the hubs,
    and any residual quantized collision is deterministic in both
    engines anyway."""
    r = _roads_df(spark, sf_dir).where(F.col("road_id") % 5 == 0)
    rid = F.col("road_id")
    h = rid % 97
    hx = h * 3.0 - 144.0
    hy = h * 1.7 - 80.0
    n = (rid % 3 + 1).cast("int")
    k = F.explode(F.sequence(F.lit(0), (n - 1))).alias("k")
    seg = r.select(rid.alias("road_id"), "lon", "lat", hx.alias("hx"), hy.alias("hy"), k)
    kk = F.col("k")
    return seg.select(
        (F.col("road_id") * 4 + kk).alias("seg_id"),
        F.when(kk == 0, F.col("hx")).otherwise(F.col("lon") + kk * 0.25).alias("lon0"),
        F.when(kk == 0, F.col("hy")).otherwise(F.col("lat") + kk * 0.1).alias("lat0"),
        (F.col("lon") + (kk + 1) * 0.25).alias("lon1"),
        (F.col("lat") + (kk + 1) * 0.1).alias("lat1"),
    )


def q_segment_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road-network islands: weakly-connected components over chain
    segments welded at quantized junctions. Engine: bipartite min-per-
    node star edges + O(log n) large-star/small-star CC. Oracle: the
    genuinely different transitive-closure recursion (walks CTE)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_components,
    )

    return segment_components(_chain_segs_df(spark, sf_dir))


_CHAIN_SQL = """
  SELECT road_id * 4 + k AS seg_id,
    CASE WHEN k = 0 THEN (road_id % 97) * 3.0 - 144.0 ELSE lon + k * 0.25 END AS lon0,
    CASE WHEN k = 0 THEN (road_id % 97) * 1.7 - 80.0 ELSE lat + k * 0.1 END AS lat0,
    lon + (k + 1) * 0.25 AS lon1,
    lat + (k + 1) * 0.1 AS lat1
  FROM roads, UNNEST(range(0, road_id % 3 + 1)) t(k)
  WHERE road_id % 5 = 0
"""

SQL_SEGMENT_COMPONENTS = f"""
WITH RECURSIVE roads AS ({_ROADS_SQL}),
chain AS ({_CHAIN_SQL}),
ends AS (
  SELECT seg_id, lon0 AS x, lat0 AS y FROM chain
  UNION ALL SELECT seg_id, lon1 AS x, lat1 AS y FROM chain
),
nds AS (
  SELECT seg_id,
    (FLOOR(x * 1000000.0 + 0.5)::BIGINT + 536870912) * 1073741824
      + (FLOOR(y * 1000000.0 + 0.5)::BIGINT + 536870912) AS node
  FROM ends
),
m AS (SELECT node, MIN(seg_id) AS a FROM nds GROUP BY node),
edges0 AS (
  SELECT DISTINCT m.a AS s, n.seg_id AS d
  FROM nds n JOIN m USING (node) WHERE n.seg_id <> m.a
),
edges AS (SELECT s, d FROM edges0 UNION SELECT d, s FROM edges0),
walks(node, r) AS (
  SELECT s, d FROM edges
  UNION
  SELECT w.node, e.d FROM walks w JOIN edges e ON w.r = e.s
),
comp AS (
  SELECT node AS seg_id, least(node, min(r)) AS component
  FROM walks GROUP BY node
)
SELECT c.seg_id, COALESCE(comp.component, c.seg_id) AS component
FROM (SELECT DISTINCT seg_id FROM chain) c
LEFT JOIN comp USING (seg_id)
"""


QUERIES.update({"segment_components": q_segment_components})
ORACLES.update({"segment_components": SQL_SEGMENT_COMPONENTS})


# --------------------------------------------------------------------------
# North-star composition over the REAL image payload table:
# image+caption rows (actual codecs) -> grid encode -> PIP
# jurisdiction -> kNN border fallback -> per-(region, tile) rollup.
# --------------------------------------------------------------------------

_IMG_GEO_RES = 5
_IMG_GEO_LIMIT = 1600


def q_image_geo_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json north-star sentence as one oracled query: the
    REAL payload generator (mapInPandas codecs) produces image+caption
    rows; each image is geo-tagged (id-derived lon/lat — pure integer
    functions DuckDB reproduces), grid-encoded, PIP-tested against the
    broadcast jurisdiction rectangles with kNN fallback for ocean/
    border points, and rolled up per (region, tile): image count,
    total pixels, count of png-coded rows, lexicographic-min image_id.
    Pins that real payload rows (not just id projections) survive the
    whole spatial pipeline with their metadata intact."""
    from osm_legal_default_speeds_spark.payload.images import images_from_ids

    o = _read(spark, sf_dir, "orders")
    ids = o.where(F.col("o_orderkey") < _IMG_GEO_LIMIT).select(
        F.col("o_orderkey").alias("id")
    )
    imgs = images_from_ids(ids)
    idc = F.substring("image_id", 5, 19).cast("long")
    lon = (idc * 7919 % 360000) / 1000.0 - 180.0
    lat = (idc * 104729 % 170000) / 1000.0 - 85.0
    tagged = imgs.select(
        "image_id",
        "w",
        "h",
        "fmt",
        lon.alias("lon"),
        lat.alias("lat"),
    )
    placed = resolve_jurisdiction(tagged, synth_boundaries()).select(
        "image_id",
        "w",
        "h",
        "fmt",
        "region_code",
        grid_cell(F.col("lon"), F.col("lat"), _IMG_GEO_RES).alias("tile_id"),
    )
    return placed.groupBy("region_code", "tile_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum((F.col("w") * F.col("h")).cast("long")).alias("total_px"),
        F.sum(F.when(F.col("fmt") == "png", 1).otherwise(0))
        .cast("long")
        .alias("n_png"),
        F.min("image_id").alias("first_image"),
    )


def _image_geo_sql() -> str:
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_nx,
        grid_ny,
    )

    nx, ny = grid_nx(_IMG_GEO_RES), grid_ny(_IMG_GEO_RES)
    return f"""
WITH base AS (
  SELECT o_orderkey AS id,
    (o_orderkey * 7919 % 360000) / 1000.0 - 180.0 AS lon,
    (o_orderkey * 104729 % 170000) / 1000.0 - 85.0 AS lat,
    (24 + (o_orderkey % 5) * 8)::INT AS w,
    (16 + (o_orderkey % 7) * 8)::INT AS h,
    ['png','raw','q6'][(o_orderkey % 3 + 1)::INT] AS fmt
  FROM orders WHERE o_orderkey < {_IMG_GEO_LIMIT}
),
pip AS (
  SELECT *, {_boundaries_case_sql(synth_boundaries())} AS pip_region FROM base
),
knn AS (
  SELECT id, region_code AS knn_region FROM (
    SELECT p.id, b.region_code,
      ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY
        (GREATEST(b.lon_min - p.lon, p.lon - b.lon_max, 0.0) * GREATEST(b.lon_min - p.lon, p.lon - b.lon_max, 0.0)
         + GREATEST(b.lat_min - p.lat, p.lat - b.lat_max, 0.0) * GREATEST(b.lat_min - p.lat, p.lat - b.lat_max, 0.0)),
        b.region_code) AS rn
    FROM pip p, {_boundaries_values_sql(synth_boundaries())}
  ) WHERE rn = 1
),
placed AS (
  SELECT COALESCE(p.pip_region, k.knn_region) AS region_code,
    (LEAST(GREATEST(FLOOR((p.lon + 180.0) / 360.0 * {nx}), 0), {nx - 1})::BIGINT * {ny}
     + LEAST(GREATEST(FLOOR((p.lat + 90.0) / 180.0 * {ny}), 0), {ny - 1})::BIGINT) AS tile_id,
    p.w, p.h, p.fmt, p.id
  FROM pip p JOIN knn k USING (id)
)
SELECT region_code, tile_id,
  COUNT(*)::BIGINT AS n_images,
  SUM((w * h)::BIGINT)::BIGINT AS total_px,
  SUM(CASE WHEN fmt = 'png' THEN 1 ELSE 0 END)::BIGINT AS n_png,
  MIN('img-' || id) AS first_image
FROM placed GROUP BY 1, 2
"""


SQL_IMAGE_GEO_ROLLUP = _image_geo_sql()

QUERIES.update({"image_geo_rollup": q_image_geo_rollup})
ORACLES.update({"image_geo_rollup": SQL_IMAGE_GEO_ROLLUP})


# --------------------------------------------------------------------------
# Line-line intersection join + polygon statistics
# --------------------------------------------------------------------------

_XING_RES = 6


def q_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Road-crossing detection: every unordered pair of sampled
    segments with a unique intersection point, with the point.
    Engine: supercover-cell-bucketed self-join + exact parametric
    predicate; oracle: brute-force O(n^2) inequality join with the
    identical arithmetic. Same |lon0| <= 170 in-range contract as
    snap_segments (segments must not run past +-180)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        segment_intersections,
    )

    segs = _segs_df(spark, sf_dir).where(
        (F.col("seg_id") % 4 == 1) & (F.abs(F.col("lon0")) <= 170.0)
    )
    return segment_intersections(segs, _XING_RES)


SQL_SEGMENT_INTERSECTIONS = f"""
WITH roads AS ({_ROADS_SQL}),
segs0 AS ({_SEGS_SQL}),
segs AS (SELECT * FROM segs0 WHERE seg_id % 4 = 1 AND ABS(lon0) <= 170.0),
cand AS (
  SELECT a.seg_id AS id_a, b.seg_id AS id_b,
    a.lon0 AS ax0, a.lat0 AS ay0,
    a.lon1 - a.lon0 AS rx, a.lat1 - a.lat0 AS ry,
    b.lon1 - b.lon0 AS sx, b.lat1 - b.lat0 AS sy,
    b.lon0 - a.lon0 AS qpx, b.lat0 - a.lat0 AS qpy
  FROM segs a JOIN segs b ON a.seg_id < b.seg_id
),
scored AS (
  SELECT id_a, id_b, ax0, ay0, rx, ry,
    rx * sy - ry * sx AS den,
    (qpx * sy - qpy * sx) / (rx * sy - ry * sx) AS t,
    (qpx * ry - qpy * rx) / (rx * sy - ry * sx) AS u
  FROM cand
)
SELECT id_a, id_b, ax0 + t * rx AS ix, ay0 + t * ry AS iy
FROM scored
WHERE den <> 0 AND t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0
"""


def q_polygon_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area / perimeter / vertex counts / bbox over the
    jurisdiction polygon table — native array folds, one ADD per fold
    step so the DuckDB list_reduce twin rounds in the identical order
    (bit-exact doubles). sf_dir unused by design (polygon dim input)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        polygon_stats,
        polygons_to_df,
    )

    return polygon_stats(polygons_to_df(spark, synth_polygons()))


def _polygon_stats_sql() -> str:
    rows = []
    for p in synth_polygons():
        (ring,) = p.rings
        xs = "[" + ",".join(repr(float(x)) for x, _ in ring) + "]::DOUBLE[]"
        ys = "[" + ",".join(repr(float(y)) for _, y in ring) + "]::DOUBLE[]"
        rows.append(f"('{p.region_code}', {xs}, {ys})")
    values = ",\n".join(rows)
    return f"""
WITH polys(region_code, xs, ys) AS (VALUES {values}),
t AS (SELECT region_code, xs, ys, len(xs) AS n FROM polys)
SELECT region_code,
  1::INT AS n_rings,
  n::INT AS n_vertices,
  abs(list_reduce(list_transform(range(1, n + 1),
      i -> xs[i] * ys[i % n + 1] - xs[i % n + 1] * ys[i]),
    (a, b) -> a + b)) / 2.0 AS area_deg2,
  list_reduce(list_transform(range(1, n + 1),
      i -> sqrt((xs[i % n + 1] - xs[i]) * (xs[i % n + 1] - xs[i])
              + (ys[i % n + 1] - ys[i]) * (ys[i % n + 1] - ys[i]))),
    (a, b) -> a + b) AS perimeter_deg,
  list_min(xs) AS lon_min, list_min(ys) AS lat_min,
  list_max(xs) AS lon_max, list_max(ys) AS lat_max
FROM t
"""


SQL_POLYGON_STATS = _polygon_stats_sql()

QUERIES.update(
    {
        "segment_intersections": q_segment_intersections,
        "polygon_stats": q_polygon_stats,
    }
)
ORACLES.update(
    {
        "segment_intersections": SQL_SEGMENT_INTERSECTIONS,
        "polygon_stats": SQL_POLYGON_STATS,
    }
)


# --------------------------------------------------------------------------
# Geo-streaming: windowed tile rollup (streaming == batch oracle)
# --------------------------------------------------------------------------

def q_events_tile_rollup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live-heatmap layer through Structured Streaming: geo-tagged
    events drain via Trigger.AvailableNow through the watermarked
    (window x tile) aggregation; the batch SQL twin over the same
    table IS the oracle (streaming/batch equivalence)."""
    import tempfile

    from osm_legal_default_speeds_spark.streaming.event_rollup import (
        streaming_tile_rollup,
    )

    from osm_legal_default_speeds_spark.plans.trainingdata_queries import (
        _staged_events_dir,
    )

    d = _staged_events_dir(spark, sf_dir)
    ck = tempfile.mkdtemp(prefix="evt_ck_")
    out = streaming_tile_rollup(
        spark, d, ck, sink_table="q_stream_tiles", res=5, window="6 hours"
    )
    return out.select(
        "bucket_s",
        "tile_id",
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


SQL_EVENTS_TILE_ROLLUP = """
WITH geo AS (
  SELECT ts, value,
    (event_id * 7919 % 360000) / 1000.0 - 180.0 AS lon,
    (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
  FROM events
)
SELECT (FLOOR(epoch(ts) / 21600) * 21600)::BIGINT AS bucket_s,
  (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 64), 0), 63)::BIGINT * 32
   + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 32), 0), 31)::BIGINT) AS tile_id,
  COUNT(*) AS n_events,
  ROUND(SUM(value), 4) AS total_value
FROM geo
GROUP BY 1, 2
"""

QUERIES.update({"events_tile_rollup_streaming": q_events_tile_rollup_streaming})
ORACLES.update({"events_tile_rollup_streaming": SQL_EVENTS_TILE_ROLLUP})


# --------------------------------------------------------------------------
# Vector-tile sink
# --------------------------------------------------------------------------

def q_vector_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile binary feature blobs over the in-range road segments.
    The compared columns (tile assignment, feature count, byte length)
    are fully oracled by the proven supercover SQL — byte_len comes
    from length(tile_blob), so the pack UDF itself is in the measured
    and verified path; exact blob bytes are pinned by the round-trip
    pytest."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
    )

    segs = _segs_df(spark, sf_dir).where(
        (F.col("seg_id") % 4 == 3) & (F.abs(F.col("lon0")) <= 170.0)
    )
    tiles = encode_vector_tiles(segs, _SEG_RES)
    return tiles.select(
        "tile_id",
        "n_features",
        F.length("tile_blob").cast("int").alias("byte_len"),
    )


SQL_VECTOR_TILES = f"""
WITH sc AS ({SQL_RASTERIZE_SEGMENTS})
SELECT cell AS tile_id,
       COUNT(*)::INT AS n_features,
       (8 + 40 * COUNT(*))::INT AS byte_len
FROM sc
WHERE seg_id % 4 = 3 AND ABS((seg_id * 7919 % 360000) / 1000.0 - 180.0) <= 170.0
GROUP BY cell
"""

QUERIES.update({"vector_tiles": q_vector_tiles})
ORACLES.update({"vector_tiles": SQL_VECTOR_TILES})


# --------------------------------------------------------------------------
# Tile clipping
# --------------------------------------------------------------------------

def q_clip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile sub-segment clipping (what tile encoders store):
    interval endpoints from the same parameter-cut construction as the
    supercover, interpolated in degree space — every float op is
    +,-,*,/ or floor/ceil, so the DuckDB twin is bit-identical."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        clip_segments,
    )

    segs = _segs_df(spark, sf_dir).where(F.col("seg_id") % 4 == 2)
    return clip_segments(segs, _SEG_RES)


SQL_CLIP_SEGMENTS = f"""
WITH roads AS ({_ROADS_SQL}),
segs0 AS ({_SEGS_SQL}),
segs AS (SELECT * FROM segs0 WHERE seg_id % 4 = 2),
g AS (
  SELECT seg_id, lon0, lat0, lon1, lat1,
    (lon0 + 180.0) / 360.0 * {_SEG_NX} AS x0,
    (lat0 + 90.0) / 180.0 * {_SEG_NY} AS y0,
    (lon1 + 180.0) / 360.0 * {_SEG_NX} AS x1,
    (lat1 + 90.0) / 180.0 * {_SEG_NY} AS y1
  FROM segs
),
tc AS (
  SELECT seg_id, lon0, lat0, lon1, lat1, x0, y0, x1, y1,
    list_sort(list_distinct(
      [0.0, 1.0]
      || {_sql_crossings('x0', 'x1')}
      || {_sql_crossings('y0', 'y1')}
    )) AS ts
  FROM g
),
iv AS (
  SELECT *, unnest(range(1, len(ts))) AS i FROM tc
)
SELECT seg_id, (i - 1)::INT AS seq,
  (least(greatest(
     floor(x0 + ((ts[i] + ts[i + 1]) / 2.0) * (x1 - x0)), 0),
     {_SEG_NX - 1})::BIGINT * {_SEG_NY}
   + least(greatest(
     floor(y0 + ((ts[i] + ts[i + 1]) / 2.0) * (y1 - y0)), 0),
     {_SEG_NY - 1})::BIGINT) AS cell,
  lon0 + ts[i] * (lon1 - lon0) AS clip_lon0,
  lat0 + ts[i] * (lat1 - lat0) AS clip_lat0,
  lon0 + ts[i + 1] * (lon1 - lon0) AS clip_lon1,
  lat0 + ts[i + 1] * (lat1 - lat0) AS clip_lat1
FROM iv
"""

QUERIES.update({"clip_segments": q_clip_segments})
ORACLES.update({"clip_segments": SQL_CLIP_SEGMENTS})


# --------------------------------------------------------------------------
# Geohash encode
# --------------------------------------------------------------------------

_GH_PRECISION = 8


def q_geohash_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interoperable base32 geohash per road (standard alphabet,
    lon-first interleave — verified against the classic published
    vectors in pytest), plus a per-prefix rollup proving the id's
    hierarchy property (prefix = coarser cell)."""
    from osm_legal_default_speeds_spark.operators.spatial import geohash

    roads = _roads_df(spark, sf_dir).select("road_id", "lon", "lat")
    g = roads.select(
        "road_id",
        geohash(F.col("lon"), F.col("lat"), _GH_PRECISION).alias("gh8"),
    )
    return g.select(
        "road_id", "gh8", F.substring("gh8", 1, 4).alias("gh4")
    )


def _geohash_sql(precision: int) -> str:
    bits = 5 * precision
    lonbits = (bits + 1) // 2
    latbits = bits // 2
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = []
    for k in range(precision):
        terms = []
        for b in range(5):
            j = 5 * k + b
            if j % 2 == 0:
                terms.append(f"(((x >> {lonbits - 1 - j // 2}) & 1) * {1 << (4 - b)})")
            else:
                terms.append(f"(((y >> {latbits - 1 - (j - 1) // 2}) & 1) * {1 << (4 - b)})")
        chars.append(f"substr('{alphabet}', ({' + '.join(terms)})::INT + 1, 1)")
    concat = " || ".join(chars)
    return f"""
WITH roads AS ({_ROADS_SQL}),
q AS (
  SELECT road_id,
    LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * {1 << lonbits}), 0), {(1 << lonbits) - 1})::BIGINT AS x,
    LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {1 << latbits}), 0), {(1 << latbits) - 1})::BIGINT AS y
  FROM roads
),
enc AS (SELECT road_id, {concat} AS gh8 FROM q)
SELECT road_id, gh8, substr(gh8, 1, 4) AS gh4 FROM enc
"""


SQL_GEOHASH_ENCODE = _geohash_sql(_GH_PRECISION)

QUERIES.update({"geohash_encode": q_geohash_encode})
ORACLES.update({"geohash_encode": SQL_GEOHASH_ENCODE})


def q_vector_tiles_clipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-geometry tile blobs (production tile-encoder mode):
    feature count and byte length oracled via the clip-interval SQL
    grouped per tile; exact clipped bytes pinned by pytest round-trip."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
    )

    segs = _segs_df(spark, sf_dir).where(F.col("seg_id") % 4 == 2)
    tiles = encode_vector_tiles(segs, _SEG_RES, clip=True)
    return tiles.select(
        "tile_id",
        "n_features",
        F.length("tile_blob").cast("int").alias("byte_len"),
    )


SQL_VECTOR_TILES_CLIPPED = f"""
WITH c AS ({SQL_CLIP_SEGMENTS})
SELECT cell AS tile_id,
       COUNT(*)::INT AS n_features,
       (8 + 40 * COUNT(*))::INT AS byte_len
FROM c GROUP BY cell
"""

QUERIES.update({"vector_tiles_clipped": q_vector_tiles_clipped})
ORACLES.update({"vector_tiles_clipped": SQL_VECTOR_TILES_CLIPPED})


# --------------------------------------------------------------------------
# End-to-end tile build: simplify -> re-segment -> clip -> encode
# --------------------------------------------------------------------------

def q_tile_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full distributed vector-tile build in one query: zigzag
    polylines are Douglas-Peucker-simplified, consecutive kept
    vertices become way segments, each segment is clipped to the tiles
    it crosses, and per-tile blobs are packed — returning the oracled
    surface (tile, feature count, byte length). Every stage's
    arithmetic is the same bit-exact construction its standalone
    oracle proves, so the chained DuckDB twin reproduces the whole
    pipeline.

    The segment stage is the in-kernel pairing
    (:func:`simplify_to_segments`) — bit-identical seg_ids/coords to
    the lead()-window formulation the oracle spells out, but with no
    line_id shuffle, and the clip/encode stage keeps the widened
    scan's partitioning instead of the window's post-AQE 3 partitions
    (measured 3.4 -> 1.7 s at sf0.1)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
        simplify_to_segments,
    )

    segs = simplify_to_segments(
        _lines_df(spark, sf_dir), tol=_DP_TOL, seg_factor=32
    )
    tiles = encode_vector_tiles(segs, _SEG_RES, clip=True)
    return tiles.select(
        "tile_id",
        "n_features",
        F.length("tile_blob").cast("int").alias("byte_len"),
    )


SQL_TILE_BUILD_E2E = f"""
WITH kept AS ({SQL_SIMPLIFY_LINES}),
paired AS (
  SELECT line_id, seq, x AS lon0, y AS lat0,
         LEAD(x) OVER (PARTITION BY line_id ORDER BY seq) AS lon1,
         LEAD(y) OVER (PARTITION BY line_id ORDER BY seq) AS lat1
  FROM kept
),
segs AS (
  SELECT line_id * 32 + seq AS seg_id, lon0, lat0, lon1, lat1
  FROM paired WHERE lon1 IS NOT NULL
),
g AS (
  SELECT seg_id,
    (lon0 + 180.0) / 360.0 * {_SEG_NX} AS x0,
    (lat0 + 90.0) / 180.0 * {_SEG_NY} AS y0,
    (lon1 + 180.0) / 360.0 * {_SEG_NX} AS x1,
    (lat1 + 90.0) / 180.0 * {_SEG_NY} AS y1
  FROM segs
),
tc AS (
  SELECT seg_id, x0, y0, x1, y1,
    list_sort(list_distinct(
      [0.0, 1.0]
      || {_sql_crossings('x0', 'x1')}
      || {_sql_crossings('y0', 'y1')}
    )) AS ts
  FROM g
),
iv AS (SELECT *, unnest(range(1, len(ts))) AS i FROM tc),
cells AS (
  SELECT
    (least(greatest(
       floor(x0 + ((ts[i] + ts[i + 1]) / 2.0) * (x1 - x0)), 0),
       {_SEG_NX - 1})::BIGINT * {_SEG_NY}
     + least(greatest(
       floor(y0 + ((ts[i] + ts[i + 1]) / 2.0) * (y1 - y0)), 0),
       {_SEG_NY - 1})::BIGINT) AS tile_id
  FROM iv
)
SELECT tile_id, COUNT(*)::INT AS n_features,
       (8 + 40 * COUNT(*))::INT AS byte_len
FROM cells GROUP BY tile_id
"""

QUERIES.update({"tile_build_e2e": q_tile_build_e2e})
ORACLES.update({"tile_build_e2e": SQL_TILE_BUILD_E2E})


# --------------------------------------------------------------------------
# Round-4 additions: quadkey prefix index, hotspot non-max suppression
# --------------------------------------------------------------------------


def q_quadkey_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base-4 prefix keys at res 7 (8 digits) plus the parent prefix —
    the string-keyed spatial layout twin of zorder_encode. Oracle: the
    identical Morton dilation, rendered digit-by-digit."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        quadkey_cell,
    )

    roads = _roads_df(spark, sf_dir)
    qk = quadkey_cell(F.col("lon"), F.col("lat"), 7)
    return roads.select(
        "road_id",
        qk.alias("qk7"),
        F.substring(qk, 1, 7).alias("qk_parent"),
    )


def _sql_quadkey_encode() -> str:
    from osm_legal_default_speeds_spark.operators.spatial import _Z_SPREAD

    stages = []
    prev = "xy"
    for i, (shift, mask) in enumerate(_Z_SPREAD):
        name = f"s{i}"
        stages.append(
            f"{name} AS (SELECT road_id,\n"
            f"  ((x | (x << {shift})) & {mask}) AS x,\n"
            f"  ((y | (y << {shift})) & {mask}) AS y\n"
            f"  FROM {prev})"
        )
        prev = name
    chain = ",\n".join(stages)
    digits = " || ".join(
        f"((z >> {2 * (7 - i)}) & 3)::VARCHAR" for i in range(8)
    )
    return f"""
WITH roads AS ({_ROADS_SQL}),
xy AS (
  SELECT road_id,
    LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256), 0), 255)::BIGINT AS x,
    LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * 128), 0), 127)::BIGINT AS y
  FROM roads
),
{chain},
zz AS (SELECT road_id, (x | (y << 1)) AS z FROM {prev})
SELECT road_id, {digits} AS qk7,
       substring({digits}, 1, 7) AS qk_parent
FROM zz
"""


SQL_QUADKEY_ENCODE = _sql_quadkey_encode()

QUERIES.update({"quadkey_encode": q_quadkey_encode})
ORACLES.update({"quadkey_encode": SQL_QUADKEY_ENCODE})


HOTSPOT_RES = 5  # nx=64, ny=32


def q_tile_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-max-suppression hotspots over md5-scattered points at res 5
    (the roads lattice is too uniform to produce local maxima worth
    testing). Oracle: the same counts with an 8-neighbor scatter
    replicated as a CASE-list join and a two-level max/min tie-break
    aggregate — a genuinely different formulation of the same
    competitor rule."""
    from osm_legal_default_speeds_spark.operators.sketches import unit_hash
    from osm_legal_default_speeds_spark.operators.spatial import (
        tile_hotspots,
    )

    k = F.col("road_id")
    pts = _roads_df(spark, sf_dir).select(
        "road_id",
        (unit_hash(F.concat(k.cast("string"), F.lit(":hx"))) * 360.0 - 180.0).alias("lon"),
        (unit_hash(F.concat(k.cast("string"), F.lit(":hy"))) * 170.0 - 85.0).alias("lat"),
    )
    return tile_hotspots(pts, res=HOTSPOT_RES, min_count=2)


def _sql_tile_hotspots() -> str:
    nx, ny = 64, 32
    terms = []
    for dx in range(-1, 2):
        for dy in range(-1, 2):
            if dx == 0 and dy == 0:
                continue
            terms.append(
                f"CASE WHEN y + {dy} >= 0 AND y + {dy} < {ny} "
                f"THEN ((((x + {dx}) % {nx}) + {nx}) % {nx}) * {ny} + (y + {dy}) END"
            )
    arr = "[" + ", ".join(terms) + "]"
    return f"""
WITH roads AS ({_ROADS_SQL}),
pts AS (
  SELECT road_id,
    ('0x' || substring(md5(road_id::VARCHAR || ':hx'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 360.0 - 180.0 AS lon,
    ('0x' || substring(md5(road_id::VARCHAR || ':hy'), 1, 15))::BIGINT
      / {_UNIT_DENOM_SQL} * 170.0 - 85.0 AS lat
  FROM roads
),
counts AS (
  SELECT
    (LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * {nx}), 0), {nx - 1})::BIGINT * {ny}
     + LEAST(GREATEST(FLOOR((lat + 90.0) / 180.0 * {ny}), 0), {ny - 1})::BIGINT)
      AS cell,
    COUNT(*)::BIGINT AS n
  FROM pts GROUP BY 1
),
xy AS (
  SELECT cell, n, (cell // {ny})::BIGINT AS x, (cell % {ny})::BIGINT AS y
  FROM counts
),
scattered AS (
  SELECT xy.cell AS src, xy.n, u.tgt AS cell
  FROM xy, UNNEST(list_filter({arr}, c -> c IS NOT NULL)) AS u(tgt)
  WHERE u.tgt <> xy.cell
),
nbmax AS (SELECT cell, MAX(n) AS bn FROM scattered GROUP BY cell),
nbbest AS (
  SELECT s.cell, a.bn, MIN(s.src) AS bsrc
  FROM scattered s JOIN nbmax a ON s.cell = a.cell AND s.n = a.bn
  GROUP BY s.cell, a.bn
)
SELECT c.cell, c.n AS n_points
FROM counts c LEFT JOIN nbbest b ON c.cell = b.cell
WHERE c.n >= 2
  AND (b.cell IS NULL OR c.n > b.bn OR (c.n = b.bn AND c.cell < b.bsrc))
"""


SQL_TILE_HOTSPOTS = _sql_tile_hotspots()

QUERIES.update({"tile_hotspots": q_tile_hotspots})
ORACLES.update({"tile_hotspots": SQL_TILE_HOTSPOTS})


# --------------------------------------------------------------------------
# Driver-window ordering — MECHANICAL since round 5. The correctness
# driver checks the FIRST _WINDOW_SIZE entries of queries() in
# insertion order; rounds 1-4 curated the head by hand, which let
# verification staleness accumulate (six queries went unchecked from
# r2 to r4). The policy is now a staleness-first round-robin:
#
#   sort all registered queries by (last round with a driver
#   CORRECTNESS row, raw registration order) ascending
#
# so never-checked queries lead, then the least-recently-verified.
# With W=50 and ~105 queries a full rotation takes 3 rounds, which is
# the optimum the window capacity allows: no query outside the window
# is ever staler than one inside, and anything >=3 rounds stale is
# mechanically guaranteed a slot. _LAST_DRIVER_ROW is the pinned
# ledger (source of truth: CORRECTNESS_r0*.json at the repo root);
# tests/test_driver_contract.py::test_window_ledger_matches_correctness_files
# recomputes it from those files so a stale ledger fails loudly, and
# test_driver_window_composition pins the staleness-first invariants.
# Everything past the window remains registered and pytest-oracled
# (the contract test runs the FULL registry, not just the window).
#
# Round-5 outcome of this sort: the 4 PQ/IVF+PQ queries (first-ever
# driver rows, newly oracled via integer rank surfaces), the 6
# r2-stale queries (ann_topk, ann_lsh_topk, embedding_near_dup,
# events_rollup, image_meta, knn_indexed — similarity.py was rewritten
# in r4 after their last check), then 40 of the 49 r3-verified
# queries, including the full core-cascade set (tagfilter_atoms,
# units_normalize, cascade_infer{,_native}, result_assembly{,_native},
# relation_semijoin{,_native}, override_column{,_native}). Deferred to
# round 6 (latest-registered of the r3 group — untouched text/sampling
# ops): repetition_stats, source_stats, kmv_distinct, hash_sample,
# stratified_sample, weighted_mixture, decontaminate, chunk_docs,
# pii_redact.
# --------------------------------------------------------------------------

_WINDOW_SIZE = 50

# query -> last round with a driver CORRECTNESS row; absent = never.
_LAST_DRIVER_ROW = {
    "ann_ivf_topk": 4, "ann_lsh_topk": 2, "ann_lsh_topk_partial": 4,
    "ann_multiprobe": 4, "ann_topk": 2, "aspect_buckets": 4,
    "audio_features": 4, "bool_precedence": 3, "cascade_incremental": 4,
    "cascade_infer": 3, "cascade_infer_native": 3, "chunk_docs": 3,
    "clean_lines": 4, "clip_segments": 4, "cms_counts": 4,
    "cross_doc_spans": 3, "curate_corpus": 3, "curate_images": 4,
    "decontaminate": 3, "drop_near_dups": 3, "dup_components": 3,
    "effective_country": 3, "embedding_near_dup": 2, "event_asof_join": 4,
    "events_dedup_streaming": 4, "events_rollup": 2, "events_rollup_streaming": 4,
    "events_tile_rollup_streaming": 4, "exact_dedup": 3, "geo_quota_sample": 4,
    "geohash_encode": 4, "grid_encode": 3, "grid_encode_ea": 3,
    "hash_sample": 3, "hex_encode": 3, "image_caption_conflicts": 4,
    "image_features": 4, "image_geo_rollup": 4, "image_meta": 2,
    "image_patch_containment": 4, "image_patches": 4, "image_phash_near_dup": 4,
    "image_resize": 4, "image_shard_assign": 4, "image_text_quality": 4,
    "image_verify": 4, "image_verify_streaming": 4, "kmv_distinct": 3,
    "knn_indexed": 2, "knn_nearest": 3, "length_quantiles": 3,
    "line_dedup": 4, "minhash_near_dup": 3, "multimodal_dup_classes": 4,
    "ngram_jaccard": 3, "override_column": 3, "override_column_native": 3,
    "pack_sequences": 4, "pii_redact": 3, "pip_jurisdiction": 3,
    "pip_polygon": 3, "polygon_overlay": 4, "polygon_stats": 4,
    "quadkey_encode": 4, "rasterize_polygons": 3, "rasterize_segments": 3,
    "relation_semijoin": 3, "relation_semijoin_native": 3, "relevant_keys": 3,
    "repetition_stats": 3, "result_assembly": 3, "result_assembly_native": 3,
    "segment_components": 4, "segment_intersections": 4, "semantic_dedup": 4,
    "sessionize_batch": 3, "simhash_near_dup": 3, "simplify_lines": 4,
    "snap_segments": 4, "source_stats": 3, "spatial_split": 4,
    "speeding_legs": 4, "stratified_sample": 3, "tagfilter_atoms": 3,
    "text_quality": 3, "tfidf_top_terms": 3, "tile_build_e2e": 4,
    "tile_hotspots": 4, "tile_neighbors": 3, "tile_pyramid": 3,
    "tile_rollup": 3, "tile_smooth": 4, "tiles_incremental": 4,
    "top_tokens": 3, "trajectory_stats": 4, "units_normalize": 3,
    "vector_tiles": 4, "vector_tiles_clipped": 4, "vectorize_cells": 3,
    "video_frame_sample": 4, "weighted_mixture": 3, "window_attribution": 4,
    "within_pairs": 3, "within_pairs_m": 4, "zorder_encode": 3,
}


def _window_reorder(d: dict) -> dict:
    """Staleness-first round-robin over the full registry (see the
    policy note above). Applied to QUERIES and ORACLES with the same
    primary key (ledger staleness), but the tie-break is each dict's
    OWN insertion rank and the two dicts register shared keys in
    different relative positions — so their final orders are NOT
    positionally aligned. That is fine: the driver and the contract
    test look oracles up BY NAME, never by position; nothing may rely
    on positional pairing across the two dicts."""
    order = {q: i for i, q in enumerate(d)}
    ranked = sorted(d, key=lambda q: (_LAST_DRIVER_ROW.get(q, 0), order[q]))
    return {q: d[q] for q in ranked}


# --------------------------------------------------------------------------
# Trajectory operators (operators/trajectory.py): per-user ping legs,
# trajectory rollup, and jurisdiction-aware speeding detection — the
# events-table twin of the speed-limit theme (reference inference says
# what the limit IS; these measure who exceeds it).
# --------------------------------------------------------------------------

# Deterministic ping fixture: a per-user base position plus an
# integer-derived drift per event — sized so consecutive same-user
# events (hours apart at sf0.01) move up to ~500 km, putting leg
# speeds in a band that straddles the synthetic legal limits. Pure integer arithmetic then one
# decimal multiply, bit-identical in both engines.
def _pings_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    u, k = F.col("user_id"), F.col("event_id")
    lon = (u * 7919 % 340).cast("double") - 170.0 + (k % 97).cast("double") * 0.05
    lat = (u * 104729 % 160).cast("double") - 80.0 + (k % 83).cast("double") * 0.04
    return e.select(
        "event_id", "user_id", "ts", lon.alias("lon"), lat.alias("lat")
    )


_PINGS_SQL = """
  SELECT event_id, user_id, ts,
    (user_id * 7919 % 340)::DOUBLE - 170.0 + (event_id % 97)::DOUBLE * 0.05 AS lon,
    (user_id * 104729 % 160)::DOUBLE - 80.0 + (event_id % 83)::DOUBLE * 0.04 AS lat
  FROM events
"""

# the same haversine expression tree the engine evaluates
# (operators/spatial.py::haversine_m), textually replicated so both
# engines run the identical fp ops in the identical order
_HAV_SQL = (
    "2.0 * 6371000.0 * asin(least(sqrt("
    "sin(radians(lat1 - lat0) / 2) * sin(radians(lat1 - lat0) / 2)"
    " + cos(radians(lat0)) * cos(radians(lat1))"
    " * sin(radians(lon1 - lon0) / 2) * sin(radians(lon1 - lon0) / 2)"
    "), 1.0))"
)

_LEGS_SQL = f"""
  SELECT user_id AS user, id0, id1, lon1, lat1,
    epoch_us(t1) - epoch_us(t0) AS dt_us,
    {_HAV_SQL} AS dist_m
  FROM (
    SELECT user_id, event_id AS id1, ts AS t1, lon AS lon1, lat AS lat1,
      lag(event_id) OVER w AS id0,
      lag(ts) OVER w AS t0,
      lag(lon) OVER w AS lon0,
      lag(lat) OVER w AS lat0,
      -- partition-start sentinel, NOT id0 IS NOT NULL: a NULL-id
      -- predecessor still produces a leg (operators/trajectory.py)
      lag(1) OVER w AS has_prev
    FROM pings
    -- NULLS FIRST explicit on BOTH engines: Spark defaults ASC to
    -- nulls-first, DuckDB to nulls-last — a (ts, NULL-id) tie would
    -- otherwise pair legs differently (operators/trajectory.py)
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
  ) WHERE has_prev IS NOT NULL
"""


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup. Every cross-engine column is exact
    integer arithmetic (per-leg floored meters summed as BIGINT — see
    operators/trajectory.py module docstring for why flooring happens
    BEFORE the sum)."""
    from osm_legal_default_speeds_spark.operators.trajectory import (
        trajectory_stats,
    )

    return trajectory_stats(_pings_df(spark, sf_dir))


SQL_TRAJECTORY_STATS = f"""
WITH pings AS ({_PINGS_SQL}),
legs AS ({_LEGS_SQL})
SELECT user,
  count(*)::BIGINT AS n_legs,
  SUM(CAST(FLOOR(dist_m) AS BIGINT))::BIGINT AS total_m,
  SUM(dt_us)::BIGINT AS dur_us,
  CAST(FLOOR(MAX(CASE WHEN dt_us > 0
      THEN dist_m / dt_us::DOUBLE * 3600000.0 END)) AS BIGINT)
    AS max_kmh_floor,
  CAST(FLOOR(CASE WHEN SUM(dt_us) > 0
      THEN (SUM(CAST(FLOOR(dist_m) AS BIGINT))::DOUBLE)
           / (SUM(dt_us)::DOUBLE) * 3600000.0 END) AS BIGINT)
    AS mean_kmh_floor
FROM legs
GROUP BY user
"""

# synthetic legal limits per synth_boundaries region (km/h); US-ND is
# the higher-priority subdivision rectangle inside US
SPEED_LIMITS_KMH = {
    "DE": 100, "FR": 80, "IT": 90, "ES": 90, "PL": 90, "NL": 100,
    "GB": 96, "DK": 80, "US": 105, "CA": 100, "MX": 110, "ZA": 120,
    "US-ND": 110,
}


def q_speeding_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legs exceeding the END-point jurisdiction's legal limit.
    Engine: rect-index broadcast PIP + literal map lookup; oracle: the
    proven min-priority CASE rect arithmetic + a CASE limit table —
    only ids, region, the integer limit, and floored km/h cross
    engines."""
    from osm_legal_default_speeds_spark.operators.trajectory import (
        speeding_legs,
    )

    return speeding_legs(
        _pings_df(spark, sf_dir), synth_boundaries(), SPEED_LIMITS_KMH
    )


def _limits_case_sql() -> str:
    whens = " ".join(
        f"WHEN region_code = '{c}' THEN {v}"
        for c, v in sorted(SPEED_LIMITS_KMH.items())
    )
    return f"CASE {whens} END"


SQL_SPEEDING_LEGS = f"""
WITH pings AS ({_PINGS_SQL}),
legs AS ({_LEGS_SQL}),
regioned AS (
  SELECT user, id0, id1, dt_us, dist_m,
    {_boundaries_case_sql(synth_boundaries()).replace("lon ", "lon1 ").replace("lat ", "lat1 ")} AS region_code
  FROM legs
),
lim AS (
  SELECT *, {_limits_case_sql()} AS limit_kmh FROM regioned
)
SELECT user, id0, id1, region_code, limit_kmh,
  CAST(FLOOR(dist_m / dt_us::DOUBLE * 3600000.0) AS BIGINT) AS speed_kmh_floor
FROM lim
WHERE limit_kmh IS NOT NULL AND dt_us > 0
  AND dist_m / dt_us::DOUBLE * 3600000.0 > limit_kmh::DOUBLE
"""

QUERIES.update(
    {"trajectory_stats": q_trajectory_stats, "speeding_legs": q_speeding_legs}
)
ORACLES.update(
    {"trajectory_stats": SQL_TRAJECTORY_STATS, "speeding_legs": SQL_SPEEDING_LEGS}
)


# --------------------------------------------------------------------------
# Incremental tile maintenance (operators/spatial.py::
# rebuild_changed_tiles): apply a deterministic segment changeset to
# the previous tile table and recompute ONLY the dirty tiles. The
# oracle is the FULL clipped rebuild of the new corpus
# (SQL_VECTOR_TILES_CLIPPED verbatim — the same oracle the full-build
# query answers), so a green row proves the incremental path converges
# to the full build exactly. (Registration POSITION does not control
# window membership: the staleness-first reorder runs LAST, over the
# full registry, so new operators with no ledger row rank as
# maximally stale and rotate straight into the next driver window —
# tiles_incremental and cascade_incremental got r4 rows this way.)
# --------------------------------------------------------------------------

def q_tiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New corpus N = the vector_tiles_clipped corpus (seg_id % 4 == 2).
    Old corpus O is derived from N deterministically: every sid
    % 3 == 0 is ABSENT from O (-> added), every remaining sid % 5 == 0
    is SHIFTED in O (-> moved, dirtying both old and new tiles), plus
    O-only segments from the % 4 == 1 stripe (-> removed). The query
    encodes O, diffs O -> N, applies the changeset, and returns the
    oracled surface of the resulting tile table — which must equal the
    full build over N (the oracle is SQL_VECTOR_TILES_CLIPPED
    unchanged; bytes are pinned bit-level in pytest)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        encode_vector_tiles,
        rebuild_changed_tiles,
        segment_changeset,
    )

    sid = F.col("seg_id")
    segs_new = _segs_df(spark, sf_dir).where(sid % 4 == 2)
    old_core = segs_new.where(sid % 3 != 0).select(
        "seg_id",
        F.when(sid % 5 == 0, F.col("lon0") + 4.0).otherwise(F.col("lon0")).alias("lon0"),
        F.when(sid % 5 == 0, F.col("lat0") - 3.0).otherwise(F.col("lat0")).alias("lat0"),
        F.when(sid % 5 == 0, F.col("lon1") + 4.0).otherwise(F.col("lon1")).alias("lon1"),
        F.when(sid % 5 == 0, F.col("lat1") - 3.0).otherwise(F.col("lat1")).alias("lat1"),
    )
    old_extra = _segs_df(spark, sf_dir).where((sid % 4 == 1) & (sid % 9 == 0))
    segs_old = old_core.unionByName(old_extra)
    # materialize the operator's INPUTS once (production shape: the
    # previous tile table is a stored table and the changeset arrives
    # as data; rebuild_changed_tiles references old_tiles twice and
    # each changeset side feeds two sub-plans — without this, every
    # reference re-runs the encode/diff pipelines. With this plus the
    # operator's own dirty-set materialization: 7.1 s -> 0.93 s at
    # sf0.1, identical output)
    old_tiles = encode_vector_tiles(segs_old, _SEG_RES, clip=True).localCheckpoint()
    removed, upserted = segment_changeset(segs_old, segs_new)
    removed, upserted = removed.localCheckpoint(), upserted.localCheckpoint()
    out = rebuild_changed_tiles(old_tiles, removed, upserted, _SEG_RES, clip=True)
    return out.select(
        "tile_id",
        "n_features",
        F.length("tile_blob").cast("int").alias("byte_len"),
    )


QUERIES.update({"tiles_incremental": q_tiles_incremental})
ORACLES.update({"tiles_incremental": SQL_VECTOR_TILES_CLIPPED})


def q_cascade_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-keyed incremental inference (rules_diff.apply_road_changeset,
    the OSM-diff flow). The stored table is built from a STALE corpus —
    a corrupted tag stripe plus phantom rows — and one changeset
    (remove the phantoms, upsert the stripe's true rows) repairs it.
    The implied final corpus is exactly the fixture, so the result must
    ride the full-cascade oracle VERBATIM: any carry-over/drop/union
    defect surfaces as a hash mismatch against SQL_CASCADE_INFER."""
    from osm_legal_default_speeds_spark.plans.rules_diff import (
        apply_road_changeset,
    )

    ruleset = mini_ruleset()
    roads = _roads_df(spark, sf_dir)
    r = F.col("speed_limit")

    def flat(out: DataFrame) -> DataFrame:
        return out.select(
            "road_id",
            r.getField("road_type_name").alias("road_type_name"),
            r.getField("certitude").alias("certitude"),
            F.element_at(
                r.getField("tags"), F.lit("maxspeed")
            ).alias("out_maxspeed"),
        )

    stale = F.col("road_id") % 10 == 3
    stale_stripe = roads.where(stale).withColumn(
        "tags", F.create_map(F.lit("highway"), F.lit("unclassified_xx"))
    )
    phantoms = roads.where(F.col("road_id") % 10 == 7).withColumn(
        "road_id", F.col("road_id") + F.lit(1_000_000_000)
    )
    old_corpus = (
        roads.where(~stale).unionByName(stale_stripe).unionByName(phantoms)
    )
    old_results = flat(infer_speed_limits_native(old_corpus, ruleset))
    return apply_road_changeset(
        old_results,
        phantoms.select("road_id"),
        roads.where(stale),
        ruleset,
        project=flat,
    )


# same oracle as the full cascade: the changeset repairs the stale
# corpus back to exactly the fixture
QUERIES.update({"cascade_incremental": q_cascade_incremental})
ORACLES.update({"cascade_incremental": SQL_CASCADE_INFER})


# The window reorder runs LAST so the staleness sort sees every
# registered query, including the late-round additions above.
QUERIES = _window_reorder(QUERIES)
ORACLES = _window_reorder(ORACLES)
