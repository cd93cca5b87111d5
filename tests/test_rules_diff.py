"""Incremental rule maintenance: fingerprint sensitivity and the
incremental == full-recompute equivalence invariant."""

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset
from osm_legal_default_speeds_spark.plans.rules_diff import (
    changed_countries,
    country_fingerprints,
    reinfer_changed,
)
from osm_legal_default_speeds_spark.plans.rules_model import (
    RoadTypeDef,
    RoadTypeFilterDef,
)


def _road_types():
    return {
        "motorway": RoadTypeFilterDef("highway=motorway"),
        "living street": RoadTypeFilterDef("highway=living_street"),
        "urban": RoadTypeFilterDef("lit=yes", "highway=residential"),
    }


def _rules(za_motorway="120"):
    return {
        "ZA": [
            RoadTypeDef("living street", {"maxspeed": "10"}),
            RoadTypeDef("urban", {"maxspeed": "50"}),
            RoadTypeDef(None, {"maxspeed": "100"}),
            RoadTypeDef("motorway", {"maxspeed": za_motorway}),
        ],
        "DE": [
            RoadTypeDef("urban", {"maxspeed": "50"}),
            RoadTypeDef("motorway", {"maxspeed": "130"}),
        ],
        "FR-IDF": [
            RoadTypeDef("urban", {"maxspeed": "30"}),
        ],
    }


def test_fingerprints_detect_rule_and_roadtype_edits():
    rt, sl = _road_types(), _rules()
    base = country_fingerprints(rt, sl)
    assert changed_countries(base, country_fingerprints(rt, _rules())) == []
    # one country's value edit flags exactly that country
    assert changed_countries(
        base, country_fingerprints(rt, _rules(za_motorway="130"))
    ) == ["ZA"]
    # a global road-type edit conservatively flags every country
    rt2 = dict(_road_types())
    rt2["motorway"] = RoadTypeFilterDef("highway~motorway|trunk")
    assert changed_countries(base, country_fingerprints(rt2, sl)) == [
        "DE", "FR-IDF", "ZA",
    ]
    # added / removed countries flag
    sl2 = dict(_rules())
    sl2["NL"] = [RoadTypeDef(None, {"maxspeed": "100"})]
    del sl2["DE"]
    assert changed_countries(base, country_fingerprints(rt, sl2)) == ["DE", "NL"]


def test_effective_country_fallback(spark):
    """The cascade's F14 expression, which reinfer_changed routes by."""
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        effective_country,
    )

    df = spark.createDataFrame(
        [("ZA",), ("ZA-NC",), ("FR-IDF",), ("DE-BY",), (None,)],
        "country_code string",
    )
    ruleset = compile_ruleset(_road_types(), _rules())  # ZA, DE, FR-IDF
    got = [
        r["eff"]
        for r in df.select(
            effective_country(ruleset, F.col("country_code")).alias("eff")
        ).collect()
    ]
    assert got == ["ZA", "ZA", "FR-IDF", "DE", None]


@pytest.fixture()
def roads(spark):
    rows = []
    # None exercises reinfer_changed's NULL-country carry-over: such
    # rows never match country-keyed rules, so the incremental path
    # must carry them over unchanged and still equal a full recompute
    countries = ["ZA", "ZA-NC", "DE", "DE-BY", "FR-IDF", "XX", None]
    highways = ["motorway", "residential", "living_street"]
    for i in range(240):
        rows.append(
            (
                i,
                countries[i % len(countries)],
                {
                    "highway": highways[i % 3],
                    "lit": "yes" if i % 2 == 0 else "no",
                },
            )
        )
    return spark.createDataFrame(
        rows, "road_id long, country_code string, tags map<string,string>"
    )


def test_incremental_equals_full_recompute(spark, roads):
    old_rs = compile_ruleset(_road_types(), _rules())
    new_rules = _rules(za_motorway="130")
    new_rs = compile_ruleset(_road_types(), new_rules)
    changed = changed_countries(
        country_fingerprints(_road_types(), _rules()),
        country_fingerprints(_road_types(), new_rules),
    )
    assert changed == ["ZA"]

    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    def flat(df):
        r = F.col("speed_limit")
        return df.select(
            "road_id",
            "country_code",
            r.getField("road_type_name").alias("rt"),
            r.getField("certitude").alias("cert"),
            F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("ms"),
        )

    old_results = flat(infer_speed_limits_native(roads, old_rs))
    inc = reinfer_changed(
        roads,
        old_results,
        new_rs,
        changed,
        project=flat,
    )
    # the incremental path must equal a full recompute under new rules
    full = flat(infer_speed_limits_native(roads, new_rs))
    k = lambda r: (r["road_id"], r["country_code"], r["rt"], r["cert"], r["ms"])
    inc_rows = sorted(map(k, flat_results(inc)))
    full_rows = sorted(map(k, flat_results(full)))
    assert inc_rows == full_rows and len(inc_rows) == 240
    # only ZA / ZA-* rows may differ from the old results
    old_rows = {r["road_id"]: k(r) for r in flat_results(old_results)}
    diff_ids = [
        t[0] for t in inc_rows if old_rows[t[0]] != t
    ]
    assert diff_ids  # the ZA motorway edit must actually change rows
    eff = {
        r["road_id"]: r["country_code"]
        for r in roads.collect()
    }
    assert all(eff[i].startswith("ZA") for i in diff_ids)


def flat_results(df):
    # `flat` output and reinfer output share columns; plain collect
    return df.collect()


def test_empty_change_set_is_pure_carry_over(spark, roads):
    rs = compile_ruleset(_road_types(), _rules())
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    r = F.col("speed_limit")
    old_results = infer_speed_limits_native(roads, rs).select(
        "road_id",
        "country_code",
        r.getField("certitude").alias("cert"),
    )
    r2 = F.col("speed_limit")
    inc = reinfer_changed(
        roads, old_results, rs, [],
        project=lambda df: df.select(
            "road_id", "country_code",
            r2.getField("certitude").alias("cert"),
        ),
    )
    a = sorted(tuple(x) for x in old_results.collect())
    b = sorted(tuple(x) for x in inc.collect())
    assert a == b


def test_removed_subdivision_reinfers_under_parent(spark, roads):
    """Dropping a subdivision's rules must RE-infer its roads under the
    parent country, not carry over results computed from deleted
    rules (the stale-correctness case the raw-code routing covers)."""
    rt = _road_types()
    old_rules = _rules()
    new_rules = dict(_rules())
    del new_rules["FR-IDF"]  # FR-IDF roads now have NO rules at all
    old_rs = compile_ruleset(rt, old_rules)
    new_rs = compile_ruleset(rt, new_rules)
    changed = changed_countries(
        country_fingerprints(rt, old_rules),
        country_fingerprints(rt, new_rules),
    )
    assert changed == ["FR-IDF"]

    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )

    r = F.col("speed_limit")

    def proj(df):
        return df.select(
            "road_id", "country_code", r.getField("certitude").alias("cert")
        )

    old_results = proj(infer_speed_limits_native(roads, old_rs))
    inc = reinfer_changed(
        roads, old_results, new_rs, changed,
        project=proj,
    )
    full = proj(infer_speed_limits_native(roads, new_rs))
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    # and the FR-IDF rows genuinely changed (they had Exact urban
    # matches before; with no FR rules they must now be null-certitude)
    fr = {t[0]: t[2] for t in map(tuple, inc.collect()) if t[1] == "FR-IDF"}
    fr_old = {t[0]: t[2] for t in map(tuple, old_results.collect()) if t[1] == "FR-IDF"}
    assert fr and fr != fr_old


def test_road_changeset_equals_full_recompute(spark, roads):
    """apply_road_changeset (the ROW-keyed axis: rules unchanged, the
    ROADS changed — the OSM-diff flow) must be bit-identical to fully
    re-inferring the implied new corpus. The changeset exercises every
    kind: pure removals, re-tagged rows (including country flips to
    and from NULL), and brand-new rows."""
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )
    from osm_legal_default_speeds_spark.plans.rules_diff import (
        apply_road_changeset,
    )

    rs = compile_ruleset(_road_types(), _rules())
    r = F.col("speed_limit")

    def flat(df):
        return df.select(
            "road_id",
            "country_code",
            r.getField("road_type_name").alias("rt"),
            r.getField("certitude").alias("cert"),
            F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("ms"),
        )

    old_results = flat(infer_speed_limits_native(roads, rs))

    removed = {5, 12}
    schema = "road_id long, country_code string, tags map<string,string>"
    modified = [
        (7, "DE", {"highway": "motorway", "lit": "no"}),   # re-tagged
        (14, None, {"highway": "residential"}),            # country -> NULL
        (20, "ZA", {"highway": "living_street"}),          # NULL -> country
    ]
    added = [
        (1000, "ZA-NC", {"highway": "motorway"}),
        (1001, None, {"highway": "residential", "lit": "yes"}),
    ]
    upserted = spark.createDataFrame(modified + added, schema)
    removed_df = spark.createDataFrame([(i,) for i in removed], "road_id long")

    inc = apply_road_changeset(old_results, removed_df, upserted, rs, project=flat)

    touched = removed | {row[0] for row in modified}
    new_corpus = roads.where(~F.col("road_id").isin(list(touched))).unionByName(
        upserted
    )
    full = flat(infer_speed_limits_native(new_corpus, rs))
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))
    assert inc.count() == 240 - len(removed) + len(added)

    # bulk mode (shuffle anti-join) computes the same table
    inc_bulk = apply_road_changeset(
        old_results, removed_df, upserted, rs, project=flat,
        broadcast_ids=False,
    )
    assert sorted(map(tuple, inc_bulk.collect())) == sorted(
        map(tuple, full.collect())
    )

    # empty changeset is the identity
    empty_ids = spark.createDataFrame([], "road_id long")
    empty_roads = spark.createDataFrame([], schema)
    same = apply_road_changeset(
        old_results, empty_ids, empty_roads, rs, project=flat
    )
    assert sorted(map(tuple, same.collect())) == sorted(
        map(tuple, old_results.collect())
    )


def test_composed_road_and_rule_changesets(spark, roads):
    """The two incremental axes COMPOSE: apply a road changeset under
    the old rules, then reinfer_changed for a rule edit — the result
    must equal a full inference of the new corpus under the new rules.
    (Safe because reinfer_changed recomputes every row whose effective
    country changed; rows inferred under old rules in unchanged
    countries are identical under the new rules by fingerprint.)"""
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )
    from osm_legal_default_speeds_spark.plans.rules_diff import (
        apply_road_changeset,
    )

    old_rs = compile_ruleset(_road_types(), _rules())
    new_rules = _rules(za_motorway="130")
    new_rs = compile_ruleset(_road_types(), new_rules)
    changed = changed_countries(
        country_fingerprints(_road_types(), _rules()),
        country_fingerprints(_road_types(), new_rules),
    )
    r = F.col("speed_limit")

    def flat(df):
        return df.select(
            "road_id",
            "country_code",
            r.getField("road_type_name").alias("rt"),
            r.getField("certitude").alias("cert"),
            F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("ms"),
        )

    old_results = flat(infer_speed_limits_native(roads, old_rs))

    schema = "road_id long, country_code string, tags map<string,string>"
    removed_df = spark.createDataFrame([(3,), (10,)], "road_id long")
    upserted = spark.createDataFrame(
        [
            (0, "ZA", {"highway": "motorway"}),      # re-tag in the changed country
            (500, "DE", {"highway": "motorway"}),    # add in an unchanged one
        ],
        schema,
    )
    # axis 1: roads changed, old rules
    step1 = apply_road_changeset(old_results, removed_df, upserted, old_rs, project=flat)
    # the stored table between steps (materialized, not a lazy chain)
    step1 = spark.createDataFrame(step1.collect(), step1.schema)
    # axis 2: rules changed — needs the NEW corpus for routing
    new_corpus = roads.where(~F.col("road_id").isin([3, 10, 0])).unionByName(upserted)
    step2 = reinfer_changed(
        new_corpus, step1, new_rs, changed,
        project=flat,
    )
    full = flat(infer_speed_limits_native(new_corpus, new_rs))
    assert sorted(map(tuple, step2.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_infer_upserts_assume_unique_skips_dedup_window(spark, roads):
    """assume_unique (set by commit_road_batch's seq path, which
    already ran the per-id winner window over the full changeset) must
    skip infer_upserts' own dedup window — an identical, guaranteed
    no-op second shuffle otherwise — while producing exactly the same
    rows on per-id-unique input."""
    from osm_legal_default_speeds_spark.plans.rules_diff import (
        infer_upserts,
    )

    rs = compile_ruleset(_road_types(), _rules())
    dedup = infer_upserts(roads, rs)
    fast = infer_upserts(roads, rs, assume_unique=True)
    assert "row_number" in dedup._jdf.queryExecution().analyzed().toString()
    assert (
        "row_number"
        not in fast._jdf.queryExecution().analyzed().toString()
    )
    key = lambda rows: sorted(map(repr, rows))  # noqa: E731
    assert key(dedup.collect()) == key(fast.collect())
