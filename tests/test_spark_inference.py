"""Spark operator tests: the inference operator's per-name predicates
and null-relation handling must agree with the pure-Python reference
engine row-for-row (differential oracle), and the native Column compiler
must agree with the AST evaluator. The operator's main differentials
live in test_native_cascade.py."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from osm_legal_default_speeds_spark import (
    LegalDefaultSpeedsEngine,
    RoadTypeDef,
    RoadTypeFilterDef,
    compile_ruleset,
)
from osm_legal_default_speeds_spark.functions.sql_exprs import (
    filter_to_column,
    number_with_unit_to_double,
)
from osm_legal_default_speeds_spark.functions.tagfilter_parser import parse_tag_filter
from osm_legal_default_speeds_spark.functions.units import parse_number_with_unit
from osm_legal_default_speeds_spark.plans.native_cascade import (
    infer_speed_limits_native,
    is_relevant_tag_key_col,
    prune_relevant_tags,
)

INPUT_SCHEMA = StructType(
    [
        StructField("road_id", StringType()),
        StructField("country_code", StringType()),
        StructField("tags", MapType(StringType(), StringType())),
        StructField("relations_tags", ArrayType(MapType(StringType(), StringType()))),
        StructField("overrides", MapType(StringType(), BooleanType())),
    ]
)


def za_defs():
    road_types = {
        "living street": RoadTypeFilterDef("highway=living_street"),
        "alley": RoadTypeFilterDef("{urban} and alley=yes"),
        "urban": RoadTypeFilterDef("lit=yes", "highway=residential"),
        "urban state road": RoadTypeFilterDef("{urban} and {state road}"),
        "rural": RoadTypeFilterDef(None, "sidewalk=no"),
        "dual carriageway": RoadTypeFilterDef("dual_carriageway=yes"),
        "motorway": RoadTypeFilterDef("highway=motorway"),
        "state road": RoadTypeFilterDef(None, None, "type=route and ref~ZA.*"),
        "rural state road": RoadTypeFilterDef("{rural} and {state road}"),
        "road in construction": RoadTypeFilterDef("~construction|proposed~yes"),
        "imaginary road": RoadTypeFilterDef("~imagination:.*"),
    }
    rules = {
        "ZA": [
            RoadTypeDef("road in construction", {"maxspeed": "0"}),
            RoadTypeDef("living street", {"maxspeed": "10"}),
            RoadTypeDef("alley", {"maxspeed": "5"}),
            RoadTypeDef("urban state road", {"maxspeed": "60"}),
            RoadTypeDef("urban", {"maxspeed": "50"}),
            RoadTypeDef(None, {"maxspeed": "100"}),
            RoadTypeDef("rural", {"maxspeed": "100"}),
            RoadTypeDef("dual carriageway", {"maxspeed": "110"}),
            RoadTypeDef("rural state road", {"maxspeed": "115"}),
            RoadTypeDef("motorway", {"maxspeed": "120"}),
            RoadTypeDef("imaginary road", {"maxspeed": "999"}),
        ]
    }
    return road_types, rules


ZA_CASES = [
    ("ZA", {"lit": "no"}, [], None),
    ("ZA", {"lit": "yes"}, [], None),
    ("ZA", {"maxspeed": "110"}, [], None),
    ("ZA", {"highway": "residential"}, [], None),
    ("ZA-NC", {"lit": "yes"}, [], None),
    ("ZA-NC", {"maxspeed": "50"}, [], None),
    ("GY", {"lit": "yes"}, [], None),
    ("ZA", {"highway": "motorway", "lit": "yes", "dual_carriageway": "yes"}, [], None),
    ("ZA", {"lit": "yes", "dual_carriageway": "yes"}, [], None),
    ("ZA", {"highway": "living_street", "lit": "yes"}, [], None),
    ("ZA", {"lit": "yes", "sidewalk": "no"}, [], None),
    ("ZA", {"lit": "yes", "sidewalk": "no", "maxspeed": "110"}, [], None),
    ("ZA", {"sidewalk": "no", "maxspeed": "110"}, [], None),
    ("ZA", {"lit": "yes", "alley": "yes"}, [], None),
    ("ZA", {"highway": "residential", "alley": "yes"}, [], None),
    (
        "ZA",
        {"sidewalk": "no"},
        [{"type": "route", "ref": "Bus 1234"}, {"type": "route", "ref": "ZA 2"}],
        None,
    ),
    ("ZA", {"lit": "yes"}, [{"type": "route", "ref": "ZA 2"}], None),
    ("ZA", {}, [], {"urban": True}),
    ("ZA", {"alley": "yes"}, [], {"urban": True}),
    ("ZA", {"highway": "residential"}, [], {"state road": True}),
    ("ZA", {"maxspeed": "RO:urban", "lit": "yes"}, [], None),
    ("ZA", {"construction": "yes"}, [], None),
    ("ZA", {"imagination:1": "rainbow"}, [], None),
]


def _expected(engine, cases):
    out = []
    for cc, tags, rels, ovr in cases:
        r = engine.get_speed_limits(cc, tags, rels, overrides=ovr)
        out.append(None if r is None else (r.road_type_name, r.tags, r.certitude))
    return out


FILTER_EXPRS = [
    "shop",
    "!shop",
    "shop = car",
    "shop != car",
    "~shop|craft",
    "!~shop|craft",
    "shop ~ car|boat",
    "shop !~ car|boat",
    "~shop|craft ~ car|boat",
    "~n.[ms]e",
    "width > 3.5",
    "width >= 3.5",
    "width < 3.5",
    "width <= 3.5",
    "maxspeed > 30mph",
    "maxwidth > 4'6\"",
    "(highway = residential or highway = tertiary) and !name",
    "highway and !(shop or craft)",
    "lit != yes and width < 2m",
    # real-regex atom (not rewritable to an IN-set) — pins the \A/\z
    # anchoring: Java's $ matches before a final line terminator, so a
    # ^$-anchored rlike would accept "residential\n" that the AST's
    # re.fullmatch rejects
    'highway ~ "residential|unclassified.*"',
    '~"highwa.*" ~ "resi.*"',
]

FILTER_TAGS = [
    {},
    {"shop": "car"},
    {"shop": "boat"},
    {"shop": "yes"},
    {"craft": "pottery"},
    {"name": "a name yo"},
    {"nase": "x"},
    {"width": "3.5"},
    {"width": "3.6"},
    {"width": "11'6\""},
    {"width": "broad"},
    {"maxspeed": "48.3"},
    {"maxspeed": "30.0 mph"},
    {"maxspeed": "48.2 km/h"},
    {"highway": "residential"},
    {"highway": "tertiary", "name": "Main St"},
    {"highway": "motorway", "shop": "car"},
    {"lit": "no", "width": "1.5"},
    {"lit": "yes", "width": "1.5"},
    # trailing-newline value/key: must NOT fullmatch any anchored regex
    {"highway": "residential\n"},
    {"highway\n": "residential"},
]


def test_native_filter_columns_match_ast(spark):
    """filter_to_column (JVM codegen path) == AST evaluator for every
    (expr, tags) pair."""
    rows = [Row(case_id=i, tags=t) for i, t in enumerate(FILTER_TAGS)]
    schema = StructType(
        [
            StructField("case_id", StringType()),
            StructField("tags", MapType(StringType(), StringType())),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    cols = [
        filter_to_column(e, "tags").alias(f"f{j}") for j, e in enumerate(FILTER_EXPRS)
    ]
    got = df.select("case_id", *cols).collect()
    by_id = {r["case_id"]: r for r in got}
    for i, tags in enumerate(FILTER_TAGS):
        for j, e in enumerate(FILTER_EXPRS):
            expected = parse_tag_filter(e).matches(tags, lambda n: False)
            actual = by_id[str(i)][f"f{j}"]
            assert actual == expected, f"expr={e!r} tags={tags!r}: {actual} != {expected}"


UNIT_VALUES = [
    "",
    "1.0",
    "1",
    ".1",
    "5'8\"",
    "5 ft 8 in",
    "5ft8in",
    "1m",
    "1 km/h",
    "1 kph",
    "1 t",
    "1 '",
    '1 "',
    "1 yd",
    "1 lbs",
    "1 mm",
    "1 mph",
    "1 st",
    "1 cwt",
    "1 bananas",
    "1 bananas 3 feet",
    "speed 1 mph",
    "RO:urban",
    "walk",
    "none",
    "-1",
    "30 mph",
    "48.3",
    "1e3",
    "1.",
    # trailing-newline / leading-whitespace forms: pin the \A/\z
    # anchoring of the native patterns (Java's $ matches before a
    # final newline, so "5'8\"\n" would wrongly parse with ^$) and
    # the first-char guard (" 30" rejected before parseDouble trims)
    "30\n",
    "30 mph\n",
    "5'8\"\n",
    " 30",
    "\t30",
]


def test_native_unit_parse_matches_python(spark):
    df = spark.createDataFrame([Row(v=v) for v in UNIT_VALUES])
    got = df.select("v", number_with_unit_to_double(F.col("v")).alias("d")).collect()
    for r in got:
        expected = parse_number_with_unit(r["v"])
        if expected is None:
            assert r["d"] is None, f"{r['v']!r}: {r['d']} != None"
        else:
            assert r["d"] == pytest.approx(expected, abs=1e-12), f"{r['v']!r}"


def test_native_road_type_predicates_match_engine(spark):
    """The hoisted kernel's per-name predicates (hoisted placeholder
    columns, relation exists, overrides) == engine filtersMatch for the
    ZA fixture. One country per road-type name, whose only rule is that
    name with empty tags: the name matches exactly iff certitude is
    Exact, and fuzzily iff it is Exact or Fuzzy."""
    road_types, _ = za_defs()
    names = list(road_types)
    ruleset = compile_ruleset(
        road_types,
        {f"X{k}": [RoadTypeDef(name, {})] for k, name in enumerate(names)},
    )
    engine = LegalDefaultSpeedsEngine(ruleset=ruleset)

    rows = [
        Row(
            road_id=f"r{i}_{k}",
            country_code=f"X{k}",
            tags=t,
            relations_tags=rel,
            overrides=ovr,
        )
        for i, (_, t, rel, ovr) in enumerate(ZA_CASES)
        for k in range(len(names))
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags", overrides_col="overrides"
    )
    got = {
        r["road_id"]: r["cert"]
        for r in out.select(
            "road_id", F.col("speed_limit.certitude").alias("cert")
        ).collect()
    }
    matched = {False: {"Exact"}, True: {"Exact", "Fuzzy"}}

    for i, (cc, tags, rels, ovr) in enumerate(ZA_CASES):
        for k, name in enumerate(names):
            for fuzzy in (False, True):
                # reference filtersMatchReplace semantics via the engine
                found = engine._find_road_type_by_tags(
                    [RoadTypeDef(name, {})],
                    [0],
                    tags,
                    rels,
                    fuzzy,
                    (lambda n, ev, _ovr=ovr or {}: _ovr.get(n) if _ovr.get(n) is not None else ev()),
                )
                expected = found is not None
                actual = got[f"r{i}_{k}"] in matched[fuzzy]
                assert actual == expected, (cc, tags, rels, ovr, name, fuzzy)


def test_prune_and_relevant_key_col(spark):
    road_types, rules = za_defs()
    ruleset = compile_ruleset(road_types, rules)
    df = spark.createDataFrame(
        [
            Row(
                tags={
                    "highway": "x",
                    "opening_hours": "8-12",
                    "imagination:1": "rainbow",
                    "urban": "yes",
                }
            )
        ],
        StructType([StructField("tags", MapType(StringType(), StringType()))]),
    )
    # this fixture ruleset never filters on maxspeed, so pruning drops
    # the input maxspeed (disabling FromMaxSpeed/R1): the operator must
    # say so out loud
    with pytest.warns(UserWarning, match="'maxspeed' is not a relevant key"):
        pruned_col = prune_relevant_tags(ruleset, "tags")
    pruned = df.select(pruned_col.alias("t")).collect()[0]["t"]
    assert set(pruned) == {"highway", "imagination:1"}

    keys_df = spark.createDataFrame(
        [Row(k="highway"), Row(k="opening_hours"), Row(k="imagination:1"), Row(k="{urban}")]
    )
    got = {
        r["k"]: r["rel"]
        for r in keys_df.select(
            "k", is_relevant_tag_key_col(ruleset, "k").alias("rel")
        ).collect()
    }
    assert got == {
        "highway": True,
        "opening_hours": False,
        "imagination:1": True,
        "{urban}": False,
    }


def test_knn_indexed_matches_flat_scan(spark):
    """Cell-indexed kNN (broadcast candidate join) must equal the flat
    per-row argmin over all boundaries, including deep-ocean points
    far from every rectangle and tie cells."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        knn_assign_via_index,
        knn_region_column,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import (
        _roads_df,
        synth_boundaries,
    )

    bs = synth_boundaries()
    roads = _roads_df(spark, "/root/testdata/sf0.001").select(
        "road_id", "lon", "lat"
    )
    flat = roads.select(
        "road_id",
        knn_region_column(bs, F.col("lon"), F.col("lat")).alias("r"),
    )
    indexed = knn_assign_via_index(roads, bs, index_res=6).select(
        "road_id", F.col("nearest_region").alias("r")
    )
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, indexed.collect())
    )


def test_tile_rollup_plan_is_two_phase(spark):
    """Plan-shape pin: the salted rollup must show partial aggregation
    by (tile, salt) BEFORE the exchange and a merge by tile after —
    the shuffle carries one row per (tile, salt), never per input row
    (SURVEY §2.7 A5 / hard-part 5)."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        assign_tiles,
        tile_rollup,
    )
    from osm_legal_default_speeds_spark.plans.driver_queries import _roads_df

    roads = _roads_df(spark, "/root/testdata/sf0.001").select(
        "road_id", "lon", "lat"
    )
    df = tile_rollup(assign_tiles(roads, tile_res=5), salt_buckets=16)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two aggregation levels around one exchange
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 phases
    assert "Exchange" in plan
    first_exchange = plan.index("Exchange")
    # a partial aggregate keyed by the salt must appear BELOW (after in
    # the printed tree) the exchange — i.e. map-side combine exists
    assert "_salt" in plan[first_exchange:]


def test_neighbor_cells_matches_python(spark):
    """Native k-ring Column == pure-Python grid_neighbors_py on a
    sample of cells incl. poles and the antimeridian wrap."""
    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_neighbors_py,
        grid_nx,
        grid_ny,
        neighbor_cells,
    )

    res, k = 4, 1
    nx, ny = grid_nx(res), grid_ny(res)
    cells = [0, 1, ny - 1, ny, 7 * ny + 5, (nx - 1) * ny, nx * ny - 1]
    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    got = {
        r["cell"]: list(r["nbrs"])
        for r in df.select(
            "cell", neighbor_cells(F.col("cell"), res, k).alias("nbrs")
        ).collect()
    }
    for c in cells:
        assert got[c] == grid_neighbors_py(c, res, k), c


def test_tile_rollup_salt_rejects_group_key(spark):
    from osm_legal_default_speeds_spark.operators.spatial import tile_rollup

    df = spark.range(10).select(F.col("id").alias("tile_id"))
    with pytest.raises(ValueError, match="group key"):
        tile_rollup(df, salt_on="tile_id")
    # salt_buckets=0 would make pmod(x, 0) NULL — one (tile, NULL)
    # salt group, i.e. the hot-key protection silently OFF
    with pytest.raises(ValueError, match="salt_buckets must be >= 1"):
        tile_rollup(df, salt_on="other_col", salt_buckets=0)


def test_tile_rollup_salt_splits_hot_key(spark):
    """Skewed generator: 90% of rows land on one tile. A row-local salt
    must spread the hot tile's partial aggregation across buckets, and
    the merged counts must still be exact."""
    from osm_legal_default_speeds_spark.operators.spatial import tile_rollup

    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 97)
         .cast("long").alias("tile_id"),
    ).repartition(8)

    out = {r["tile_id"]: r["n_rows"] for r in
           tile_rollup(df, salt_buckets=16, salt_on="row_id").collect()}
    assert out[7] == sum(1 for i in range(n) if i % 10 < 9 or i % 97 == 7)

    # the hot tile's rows really hash into many salt buckets (the
    # property the rejected key-derived salt lacks: it would be 1)
    salt = F.pmod(F.crc32(F.col("row_id").cast("string")), F.lit(16))
    n_buckets = (
        df.where(F.col("tile_id") == 7).select(salt.alias("s"))
        .distinct().count()
    )
    assert n_buckets == 16


def test_equal_area_grid_matches_python_and_equalizes_bands(spark):
    """grid_cell_ea == python twin, and its latitude bands hold equal
    sin-lat spans (exact equal area), unlike the equirectangular grid."""
    import math

    from osm_legal_default_speeds_spark.operators.spatial import (
        grid_cell_ea,
        grid_cell_ea_py,
        grid_ny,
    )

    pts = [
        (i, (i * 7919 % 360000) / 1000.0 - 180.0,
         (i * 104729 % 170000) / 1000.0 - 85.0)
        for i in range(2000)
    ]
    df = spark.createDataFrame(pts, "pid int, lon double, lat double")
    res = 4
    out = {
        r["pid"]: r["tile_id"]
        for r in df.select(
            "pid", grid_cell_ea(F.col("lon"), F.col("lat"), res).alias("tile_id")
        ).collect()
    }
    for pid, lon, lat in pts:
        assert out[pid] == grid_cell_ea_py(lon, lat, res), (pid, lon, lat)

    # equal-area property: band y covers sin(lat) in [2y/ny - 1, ...)
    ny = grid_ny(res)
    for pid, lon, lat in pts[:200]:
        y = out[pid] % ny
        s = (math.sin(math.radians(lat)) + 1.0) / 2.0 * ny
        assert y == min(max(int(s), 0), ny - 1)


def test_null_relation_element_parity(spark):
    """A null ELEMENT inside the relations array (legal in
    array<map<string,string>>) must be treated as non-matching. The
    cascade's exists() evaluates the null element to null -> coalesced
    false; the pure engine sees the filtered list."""
    road_types, rules = za_defs()
    ruleset = compile_ruleset(road_types, rules)
    engine = LegalDefaultSpeedsEngine(ruleset=ruleset)

    cases = [
        # relation filter matters for this fixture ({bus route})
        ("ZA", {"sidewalk": "no"}, [None], None),
        ("ZA", {"sidewalk": "no"},
         [None, {"type": "route", "ref": "ZA 2"}], None),
        ("ZA", {"highway": "residential"}, [None, None], None),
    ]
    rows = [
        Row(road_id=f"r{i}", country_code=cc, tags=t,
            relations_tags=rels, overrides=o)
        for i, (cc, t, rels, o) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags", overrides_col="overrides"
    )
    direct = {r["road_id"]: r["speed_limit"] for r in out.collect()}

    for i, (cc, t, rels, o) in enumerate(cases):
        exp = engine.get_speed_limits(
            cc, t, [m for m in rels if m is not None], overrides=o
        )
        got = direct[f"r{i}"]
        if exp is None:
            assert got is None, f"case {i}"
        else:
            assert got is not None, f"case {i}"
            assert got.road_type_name == exp.road_type_name, f"case {i}"
            assert (got.tags or {}) == exp.tags, f"case {i}"
            assert got.certitude == exp.certitude, f"case {i}"
