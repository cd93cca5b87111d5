"""The all-native Column cascade (plans.native_cascade) must agree
with the pure-Python reference engine on the ZA differential corpus,
and its physical plan must be map-only: no Python evaluation nodes and
no shuffle exchange."""

import os

import pytest
from pyspark.sql import Row, functions as F

from osm_legal_default_speeds_spark import (
    LegalDefaultSpeedsEngine,
    compile_ruleset,
)
from osm_legal_default_speeds_spark.operators.spatial import (
    assign_tiles,
    resolve_jurisdiction,
)
from osm_legal_default_speeds_spark.plans.driver_queries import synth_boundaries
from osm_legal_default_speeds_spark.plans.native_cascade import (
    create_result_tags_native,
    infer_speed_limits_native,
    stage_result_tags,
)
from osm_legal_default_speeds_spark.plans.reference_engine import (
    create_result_tags,
)
from osm_legal_default_speeds_spark.sources.rules_json import (
    REFERENCE_DATASET_PATH,
    load_rules_json,
)
from tests.test_jurisdiction_scale import assert_broadcasts_are_local
from tests.test_spark_inference import (
    INPUT_SCHEMA,
    ZA_CASES,
    _expected,
    za_defs,
)


def _run_native(spark, ruleset, cases):
    rows = [
        Row(
            road_id=f"r{i}",
            country_code=cc,
            tags=tags,
            relations_tags=rels,
            overrides=ovr,
        )
        for i, (cc, tags, rels, ovr) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA).repartition(4)
    out = infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags", overrides_col="overrides"
    )
    return {r["road_id"]: r["speed_limit"] for r in out.collect()}


def _check(got, expected):
    for i, exp in enumerate(expected):
        g = got[f"r{i}"]
        if exp is None:
            assert g is None, f"case {i}: expected None, got {g}"
        else:
            assert g is not None, f"case {i}: expected {exp}, got None"
            assert (g.road_type_name, g.tags, g.certitude) == exp, f"case {i}"


def test_native_cascade_za_differential(spark):
    road_types, rules = za_defs()
    ruleset = compile_ruleset(road_types, rules)
    engine = LegalDefaultSpeedsEngine(ruleset=ruleset)
    got = _run_native(spark, ruleset, ZA_CASES)
    _check(got, _expected(engine, ZA_CASES))


@pytest.mark.skipif(
    not os.path.exists(REFERENCE_DATASET_PATH), reason="reference dataset missing"
)
def test_native_cascade_full_dataset_differential(spark):
    _, road_types, speed_limits, _ = load_rules_json(REFERENCE_DATASET_PATH)
    ruleset = compile_ruleset(road_types, speed_limits)
    engine = LegalDefaultSpeedsEngine(ruleset=ruleset)

    countries = ["DE", "US-ND", "DK", "FR", "GB", "IT", "US", "AU-NSW", "BE-VLG", "ZZ"]
    tag_grid = [
        {},
        {"highway": "motorway"},
        {"highway": "residential", "lit": "yes"},
        {"highway": "trunk", "dual_carriageway": "yes", "lanes": "4"},
        {"maxspeed": "50"},
        {"maxspeed": "30 mph"},
        {"maxspeed": "RO:urban"},
        {"highway": "living_street"},
        {"highway": "service", "service": "driveway"},
        {"lanes": "2", "oneway": "yes"},
    ]
    rel_grid = [
        [],
        [{"type": "route", "route": "road", "network": "US:I"}],
        [{"type": "route", "route": "road", "network": "US:US"}],
    ]
    cases = [
        (cc, tags, rels, None)
        for cc in countries
        for tags in tag_grid
        for rels in rel_grid
    ]
    got = _run_native(spark, ruleset, cases)
    _check(got, _expected(engine, cases))


# -- R1-R4 native map algebra vs the Python kernel ------------------------

ASSEMBLY_CASES = [
    # (rule_tags, input_tags) — the reference's limitSpeedsTo corpus
    # (LegalDefaultSpeedsTest.kt:218-411) plus depth/edge extensions
    ({"maxspeed": "60", "maxspeed:hgv": "80", "maxspeed:mofa": "50"}, {}),
    ({"maxspeed": "35 mph", "maxspeed:hgv": "40 mph", "maxspeed:mofa": "10 mph"}, {}),
    ({"maxspeed": "60", "maxspeed:conditional": "80 @ (x); 50 @ (y)"}, {}),
    (
        {"maxspeed": "35 mph", "maxspeed:conditional": "35 mph @ (x); 20 mph @ (y)"},
        {},
    ),
    ({"maxspeed": "60", "maxspeed:conditional": "80 @ (x); 60 @ (y)"}, {}),
    ({"maxspeed": "60", "maxspeed:hgv:conditional": "80 @ (x); 50 @ (y)"}, {}),
    ({"maxspeed:hgv": "60", "maxspeed:hgv:conditional": "80 @ (x); 50 @ (y)"}, {}),
    ({"maxspeed:hgv": "60", "maxspeed:hgv:conditional": "80 @ (x); 60 @ (y)"}, {}),
    (
        {"maxspeed": "100", "maxspeed:hgv": "80", "maxspeed:mofa": "50"},
        {"maxspeed": "80"},
    ),
    (
        {"maxspeed": "100", "maxspeed:hgv": "80"},
        {"maxspeed": "80", "maxspeed:hgv": "50"},
    ),
    (
        {"maxspeed": "100", "maxspeed:hgv": "80", "maxspeed:mofa": "50"},
        {"maxspeed": "100", "maxspeed:mofa": "50"},
    ),
    ({"maxspeed": "100"}, {"maxspeed": "RO:urban"}),  # implicit maxspeed
    ({"maxspeed": "100"}, {"maxspeed": "none"}),
    ({}, {"anything": "else"}),
    # unparsable conditional entries are kept (LegalDefaultSpeeds.kt:278)
    ({"maxspeed": "60", "maxspeed:conditional": "walk @ (z); 80 @ (x)"}, {}),
    # input subtag caps rule conditionals (cap via input-provided chain)
    (
        {"maxspeed:hgv:conditional": "70 @ (x); 30 @ (y)"},
        {"maxspeed:hgv": "50"},
    ),
    # minspeed-style unrelated keys pass through untouched
    ({"maxspeed": "60", "minspeed": "30", "surface": "asphalt"}, {}),
]


def test_native_result_assembly_matches_python(spark):
    rows = [
        Row(case_id=i, rule_tags=rt, in_tags=it)
        for i, (rt, it) in enumerate(ASSEMBLY_CASES)
    ]
    df = spark.createDataFrame(
        rows,
        "case_id int, rule_tags map<string,string>, in_tags map<string,string>",
    )
    out = stage_result_tags(
        df, F.col("in_tags"), F.col("rule_tags"), "result", max_cap_depth=4
    ).select("case_id", "result")
    got = {r["case_id"]: r["result"] for r in out.collect()}
    for i, (rt, it) in enumerate(ASSEMBLY_CASES):
        assert got[i] == create_result_tags(it, rt), f"case {i}: {rt} / {it}"


def test_create_result_tags_native_single_column(spark):
    """The nested single-Column form (used by fixtures/tests) agrees
    with the staged form on a shallow case."""
    df = spark.createDataFrame(
        [({"maxspeed": "60"}, {"maxspeed": "100", "maxspeed:hgv": "80"})],
        "t map<string,string>, rt map<string,string>",
    )
    r = df.select(
        create_result_tags_native(F.col("t"), F.col("rt"), 2).alias("r")
    ).collect()[0]["r"]
    assert r == create_result_tags({"maxspeed": "60"}, {"maxspeed": "100", "maxspeed:hgv": "80"})


def test_native_cascade_plan_is_map_only(spark):
    """Scale pin: the native plan must contain no Python eval node and
    no hash-partitioning shuffle — broadcast join + projections only —
    and every broadcast side, alone and behind the jurisdiction joins,
    is a local relation held in the plan, never pickled Python rows."""
    road_types, rules = za_defs()
    ruleset = compile_ruleset(road_types, rules)
    rows = [
        Row(road_id="r0", country_code="ZA", tags={"lit": "yes"},
            relations_tags=[], overrides=None)
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    out = infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags", overrides_col="overrides"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no Arrow/Batch Python nodes
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert_broadcasts_are_local(out, 1)

    # behind resolve -> tiles, as the flagship runs it: the PIP index,
    # the kNN index and the dim are all broadcast from local relations
    points = spark.createDataFrame(
        [(1, {"highway": "motorway"}, 10.0, 10.0)],
        "road_id long, tags map<string,string>, lon double, lat double",
    )
    located = assign_tiles(
        resolve_jurisdiction(points, synth_boundaries()), tile_res=7
    )
    flagship = infer_speed_limits_native(located, ruleset, country_col="region_code")
    assert_broadcasts_are_local(flagship, 3)


def test_dim_cache_is_per_session_and_unpinned(spark):
    """The compiled bundle's broadcast-dim DataFrame cache lives ON the
    session object (weak-keyed by a per-bundle token): the same session
    reuses its dim, a different session (same-JVM newSession here; a
    full restart in production) builds its OWN dim instead of reusing a
    DataFrame bound to a dead/foreign session, and this module adds NO
    global reference that would pin a dropped session. (A module-level
    session->dim map cannot do this: the dim DataFrame strongly
    references its session, so the value->key cycle defeats weak keying
    and pins every session forever — the design this test replaced.)"""
    import gc
    import weakref

    from osm_legal_default_speeds_spark.plans.native_cascade import (
        _get_bundle,
    )

    ruleset = compile_ruleset(*za_defs())
    # the SAME bundle cache entry the inference calls below use: keyed
    # on (ruleset, country/relations/overrides cols)
    bundle = _get_bundle(
        ruleset, "country_code", "relations_tags", "overrides"
    )
    token = bundle["dim_token"]

    rows = [
        Row(
            road_id="r0",
            country_code="ZA",
            tags={"highway": "residential"},
            relations_tags=None,
            overrides=None,
        )
    ]
    df = spark.createDataFrame(rows, INPUT_SCHEMA)
    infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags",
        overrides_col="overrides",
    ).collect()
    dims = spark.__dict__.get("_nc_dim_cache")
    assert dims is not None and token in dims
    dim_a = dims[token]

    # same session, second run: the dim DataFrame is REUSED
    infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags",
        overrides_col="overrides",
    ).collect()
    assert dims[token] is dim_a

    # a NEW session object (same JVM) must get its own entry — a dim
    # created under another session must never be served to it
    s2 = spark.newSession()
    df2 = s2.createDataFrame(rows, INPUT_SCHEMA)
    infer_speed_limits_native(
        df2, ruleset, relations_col="relations_tags",
        overrides_col="overrides",
    ).collect()
    dims2 = s2.__dict__.get("_nc_dim_cache")
    assert dims2 is not None and dims2 is not dims
    assert dims2[token] is not dim_a
    assert dims[token] is dim_a  # the main session's dim is untouched

    # no module-level pin: once PySpark's OWN last-session pins move on
    # (SparkSession._activeSession, set by createDataFrame, and the
    # RDD.toDF monkey-patch closure, both of which hold the most recent
    # session by design), dropping the last external reference to s2
    # collects the session AND its cached dim — proving the cache adds
    # no reference of its own
    s2_ref = weakref.ref(s2)
    dim2_ref = weakref.ref(dims2[token])
    del df2, dims2, s2
    _ = spark.newSession()  # steal the RDD.toDF monkey-patch pin
    # reset SparkSession._activeSession back to the main session
    spark.createDataFrame(rows, INPUT_SCHEMA).collect()
    gc.collect()
    assert s2_ref() is None, (
        "a dropped session survived — the dim cache (or another module "
        "global) is pinning sessions"
    )
    assert dim2_ref() is None, "a dropped session's dim DataFrame survived"

    # the main session's cache is unaffected by s2's collection
    assert spark.__dict__["_nc_dim_cache"][token] is dim_a


def test_max_cap_depth_reaches_slow_assembly(spark):
    """The cap-unroll depth the kernel derives from the rule set
    (``_rule_cap_depth``) must be deep enough for the rule set's
    nested ``maxspeed:hgv:conditional`` (level 2). Rows with a parsable
    input maxspeed take the staged R1-R4 assembly, where the level-2
    cap prunes "80 @ (wet)" against maxspeed 60 but keeps it under 100;
    a depth-1 unroll would keep it in both."""
    import osm_legal_default_speeds_spark.plans.native_cascade as nc
    from osm_legal_default_speeds_spark.plans.rules_model import RoadTypeDef

    road_types, rules = za_defs()
    # one nested conditional subtag: the rule set's cap depth is 2
    rules["ZA"] = [
        RoadTypeDef(
            r.name, {**r.tags, "maxspeed:hgv:conditional": "80 @ (wet)"}
        )
        if r.name == "motorway"
        else r
        for r in rules["ZA"]
    ]
    ruleset = compile_ruleset(road_types, rules)
    assert nc._rule_cap_depth(ruleset) == 2
    cases = [
        ("ZA", {"highway": "motorway", "maxspeed": "60"}, None, None),
        ("ZA", {"highway": "motorway", "maxspeed": "100"}, None, None),
        ("ZA", {"highway": "motorway"}, None, None),
    ]
    engine = LegalDefaultSpeedsEngine(ruleset=ruleset)
    expected = _expected(engine, cases)
    assert "maxspeed:hgv:conditional" not in expected[0][1]
    assert "maxspeed:hgv:conditional" in expected[1][1]
    _check(_run_native(spark, ruleset, cases), expected)


def test_native_replaces_existing_result_col(spark):
    """When result_col already exists on the input: withColumn
    semantics (replace in place), never a duplicated column name."""
    ruleset = compile_ruleset(*za_defs())
    df = spark.createDataFrame(
        [
            Row(
                road_id="r0",
                country_code="ZA",
                tags={"highway": "motorway"},
                relations_tags=None,
                overrides=None,
            )
        ],
        INPUT_SCHEMA,
    ).withColumn("speed_limit", F.lit("stale"))
    out = infer_speed_limits_native(
        df, ruleset, relations_col="relations_tags", overrides_col="overrides"
    )
    assert out.columns.count("speed_limit") == 1
    # downstream reference must resolve (AMBIGUOUS_REFERENCE otherwise)
    row = out.select("speed_limit").collect()[0]["speed_limit"]
    assert row is not None and row["certitude"] == "Exact"


def test_negated_placeholder_cycle_raises_clearly(spark):
    """A placeholder cycle reachable only through negated !{...}
    references passes compile-time rejection (reference parity:
    getPlaceholders skips NotPlaceholder, BooleanExpression.kt:84-92;
    the reference stack-overflows at query time on such rules). The
    native engine must build the full expression DAG up front, so it
    raises a clear ValueError instead of a RecursionError."""
    from osm_legal_default_speeds_spark.plans.rules_model import (
        RoadTypeDef,
        RoadTypeFilterDef,
    )

    road_types = {
        "A": RoadTypeFilterDef("!{B}", None, None),
        "B": RoadTypeFilterDef("!{A}", None, None),
    }
    rules = {"XX": [RoadTypeDef("A", {"maxspeed": "10"})]}
    ruleset = compile_ruleset(road_types, rules)  # compiles, as in the reference
    df = spark.createDataFrame(
        [("XX", {"highway": "x"})], "country_code string, tags map<string,string>"
    )
    with pytest.raises(ValueError, match="circular placeholders"):
        infer_speed_limits_native(df, ruleset)
