"""The all-native Column cascade (plans.native_cascade) must agree
with the pure-Python reference engine on the ZA differential corpus,
and its physical plan must be map-only: no Python evaluation nodes and
no shuffle exchange."""

import os
import re

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
    infer_speed_limits_native,
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
    # a parsable input root below the rule's caps the rule's subtag
    ({"maxspeed": "100", "maxspeed:hgv": "80"}, {"maxspeed": "60"}),
]


def test_native_result_assembly_matches_python(spark):
    """Each case through the operator: one country per case whose only
    rule is a fallback with the case's rule tags. Every case runs
    twice: as given (the pre-capped fast path where it applies) and
    with an input ``maxspeed:zz`` key, which forces the staged R1-R4
    algebra; both must equal the Python kernel on the same input."""
    from osm_legal_default_speeds_spark.plans.rules_model import RoadTypeDef

    ruleset = compile_ruleset(
        {},
        {f"C{i}": [RoadTypeDef(None, rt)] for i, (rt, _) in enumerate(ASSEMBLY_CASES)},
    )
    inputs = [
        (f"C{i}", rt, variant)
        for i, (rt, it) in enumerate(ASSEMBLY_CASES)
        for variant in (it, {**it, "maxspeed:zz": "999"})
    ]
    df = spark.createDataFrame(
        [(j, cc, tags) for j, (cc, _, tags) in enumerate(inputs)],
        "road_id int, country_code string, tags map<string,string>",
    )
    got = {
        r["road_id"]: r["speed_limit"]
        for r in infer_speed_limits_native(df, ruleset).collect()
    }
    for j, (_, rt, tags) in enumerate(inputs):
        assert got[j].certitude == "Fallback", (rt, tags)
        assert got[j].tags == create_result_tags(tags, rt), (rt, tags)


def plan_operators(df) -> list[str]:
    """Operator names of ``df``'s executed plan, top-down, with ids,
    codegen stage markers and arguments stripped."""
    out = []
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        body = re.sub(r"^\*(\(\d+\))? ", "", line.lstrip(" :+-"))
        out.append(re.match(r"[A-Za-z]+", body).group(0))
    return out


# executed-plan operators of resolve -> tiles -> cascade, top-down
FLAGSHIP_PLAN_SHAPE = [
    "AdaptiveSparkPlan",
    # result struct, winner, first-match positions
    "Project", "Project", "Project",
    "BroadcastHashJoin",  # the country dim
    # match array, hoisted predicates, input tags + effective country
    "Project", "Project", "Project",
    "Project",  # kNN region coalesce
    "BroadcastHashJoin",  # kNN index
    "Project",  # PIP containment
    "BroadcastHashJoin",  # PIP index
    "Project",  # PIP grid cell
    "Scan",
    "BroadcastExchange", "LocalTableScan",
    "BroadcastExchange", "LocalTableScan",
    "BroadcastExchange", "LocalTableScan",
]


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
    # the plan's shape: PIP join, kNN join, tiles and the cascade's
    # projections, each broadcast from a local relation
    assert plan_operators(flagship) == FLAGSHIP_PLAN_SHAPE


def test_inference_does_not_pin_a_dropped_session(spark):
    """The compiled bundle is cached per rule set but holds no
    DataFrame: each call builds its broadcast dim on the caller's
    session. So once PySpark's OWN last-session pins move on
    (SparkSession._activeSession, set by createDataFrame, and the
    RDD.toDF monkey-patch closure, both of which hold the most recent
    session by design), a dropped session that ran an inference is
    collected with everything it owns."""
    import gc
    import weakref

    from pyspark.sql import DataFrame

    from osm_legal_default_speeds_spark.plans.native_cascade import (
        _get_bundle,
    )

    ruleset = compile_ruleset(*za_defs())
    rows = [
        Row(
            road_id="r0",
            country_code="ZA",
            tags={"highway": "residential"},
            relations_tags=None,
            overrides=None,
        )
    ]
    s2 = spark.newSession()
    df2 = s2.createDataFrame(rows, INPUT_SCHEMA)
    out2 = infer_speed_limits_native(
        df2, ruleset, relations_col="relations_tags",
        overrides_col="overrides",
    )
    assert out2.collect()[0]["speed_limit"] is not None
    bundle = _get_bundle(ruleset, "country_code", "relations_tags", "overrides")
    assert not any(isinstance(v, DataFrame) for v in bundle.values())

    s2_ref = weakref.ref(s2)
    out2_ref = weakref.ref(out2)
    del df2, out2, s2
    _ = spark.newSession()  # steal the RDD.toDF monkey-patch pin
    # reset SparkSession._activeSession back to the main session
    spark.createDataFrame(rows, INPUT_SCHEMA).collect()
    gc.collect()
    assert s2_ref() is None, (
        "a dropped session survived — a module global is pinning sessions"
    )
    assert out2_ref() is None, "a dropped session's inference output survived"


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
