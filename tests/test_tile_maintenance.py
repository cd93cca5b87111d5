"""Streaming tile maintenance: a changeset file stream keeps the
persistent tile table bit-identical to a full re-encode of whatever
corpus the applied diffs imply — including every INTERMEDIATE version
(delta-chain time travel), across a stream restart (checkpoint replay
skips committed versions; new diffs keep applying), and through
compaction + expiry (base snapshot materialization changes no
serving-visible state; expiry reclaims only superseded dirs)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.operators.spatial import (
    encode_vector_tiles,
)
from osm_legal_default_speeds_spark.streaming.delta_store import (
    expire_versions,
    version_manifest,
)
from osm_legal_default_speeds_spark.streaming.tile_maintenance import (
    base_version,
    commit_changeset,
    compact_tile_store,
    current_version,
    read_current_tiles,
    read_tiles_at,
    streaming_tile_maintenance,
)

RES = 6
SCHEMA = "seg_id long, lon0 double, lat0 double, lon1 double, lat1 double"


def _corpus(version: int) -> list[tuple]:
    """Deterministic corpus per version: v1 = base; each later version
    removes the sid % 7 == v stripe, adds a fresh sid range, and moves
    the sid % 5 == v stripe by a whole tile."""
    segs = {}
    for i in range(60):
        lon = -40.0 + (i * 37 % 80)
        lat = -30.0 + (i * 23 % 60)
        segs[i] = (i, lon, lat, lon + (i % 9 - 4) * 1.3, lat + (i % 7 - 3) * 0.8)
    for v in range(2, version + 1):
        for i in list(segs):
            if i % 7 == v:
                del segs[i]
            elif i in segs and i % 5 == v:
                s = segs[i]
                segs[i] = (i, s[1] + 4.0, s[2] - 3.0, s[3] + 4.0, s[4] - 3.0)
        for i in range(100 * v, 100 * v + 5):
            lon = -35.0 + (i % 70)
            lat = -25.0 + (i % 50)
            segs[i] = (i, lon, lat, lon + 2.0, lat + 1.0)
    return sorted(segs.values())


def _changeset(old: list[tuple], new: list[tuple]) -> list[tuple]:
    og = {s[0]: s for s in old}
    ng = {s[0]: s for s in new}
    rows = []
    for i, s in og.items():
        if ng.get(i) != s:
            rows.append(s + ("remove",))
    for i, s in ng.items():
        if og.get(i) != s:
            rows.append(s + ("upsert",))
    return rows


def _stage_changesets(spark, tmp_path, versions: range) -> str:
    """One single-parquet-file changeset per version step, mtime-ordered
    so the file stream batches them in sequence."""
    src = str(tmp_path / "changesets")
    os.makedirs(src, exist_ok=True)
    for v in versions:
        old = _corpus(v - 1) if v > 1 else []
        rows = _changeset(old, _corpus(v))
        d = str(tmp_path / f"cs_build_{v}")
        spark.createDataFrame(rows, SCHEMA + ", op string").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        [part] = glob.glob(f"{d}/part-*.parquet")
        dst = f"{src}/f{v:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + v, 1_700_000_000 + v))
    return src


def _tiles_map(df):
    return {
        r["tile_id"]: (r["n_features"], r["byte_len"], bytes(r["tile_blob"]))
        for r in df.collect()
    }


def _full_build(spark, version: int):
    corpus = spark.createDataFrame(_corpus(version), SCHEMA)
    return _tiles_map(encode_vector_tiles(corpus, RES, clip=True))


def test_streaming_maintenance_matches_full_rebuild_per_version(
    spark, tmp_path
):
    src = _stage_changesets(spark, tmp_path, range(1, 4))
    store = str(tmp_path / "store")
    q = streaming_tile_maintenance(
        spark, src, str(tmp_path / "ck"), store, RES
    )
    q.awaitTermination()
    assert current_version(store) == 2  # batch ids 0, 1, 2
    # final state == full rebuild of the final corpus, bit for bit
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 3
    )
    # lineage (time travel): every intermediate version reconstructs
    # to the full rebuild of ITS corpus — a serving layer can pin any
    # un-expired historical version
    for batch_id, version in ((0, 1), (1, 2)):
        got = _tiles_map(read_tiles_at(spark, store, batch_id))
        assert got == _full_build(spark, version), batch_id
    # the commit unit is the DELTA: after the base batch, each version
    # dir holds changeset-proportional rows, not the whole corpus
    full_n = len(_full_build(spark, 3))
    for batch_id in (1, 2):
        vdir = f"{store}/v{batch_id}/" + version_manifest(store, batch_id)[
            "attempt"
        ]
        delta_n = spark.read.parquet(f"{vdir}/delta").count()
        dirty_n = spark.read.parquet(f"{vdir}/dirty").count()
        assert 0 < delta_n <= dirty_n < full_n, (batch_id, delta_n, dirty_n)


def test_compaction_and_expiry(spark, tmp_path):
    """compact_tile_store materializes the chain into a base snapshot
    (state bit-identical before/after), new commits fold from the base,
    and expire_versions reclaims exactly the superseded dirs while
    the current state keeps serving."""
    src = _stage_changesets(spark, tmp_path, range(1, 3))
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    q = streaming_tile_maintenance(spark, src, ck, store, RES)
    q.awaitTermination()
    assert current_version(store) == 1 and base_version(store) is None

    before = _tiles_map(read_current_tiles(spark, store))
    assert compact_tile_store(spark, store) == 1
    assert base_version(store) == 1
    assert _tiles_map(read_current_tiles(spark, store)) == before
    # idempotent: re-compacting with no new commit is a no-op (must
    # not self-overwrite base-1)
    assert compact_tile_store(spark, store) == 1
    assert _tiles_map(read_current_tiles(spark, store)) == before
    # uncommitted versions refuse instead of serving stale state
    with pytest.raises(ValueError, match="not been committed"):
        read_tiles_at(spark, store, 99)

    # a later diff commits a delta on top of the base
    for v in range(3, 4):
        rows = _changeset(_corpus(v - 1), _corpus(v))
        d = str(tmp_path / f"cs_late_{v}")
        spark.createDataFrame(rows, SCHEMA + ", op string").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        [part] = glob.glob(f"{d}/part-*.parquet")
        dst = f"{src}/f{v:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + v, 1_700_000_000 + v))
    q = streaming_tile_maintenance(spark, src, ck, store, RES)
    q.awaitTermination()
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 3
    )

    removed = expire_versions(store)
    assert sorted(removed) == ["v0", "v1"]  # superseded by base-1
    assert not os.path.exists(f"{store}/v0")
    assert os.path.isdir(f"{store}/base-1") and os.path.isdir(f"{store}/v2")
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 3
    )
    # time travel to an expired version refuses instead of silently
    # reconstructing an empty/partial table; un-expired versions serve
    with pytest.raises(ValueError, match="expired"):
        read_tiles_at(spark, store, 0)
    assert _tiles_map(read_tiles_at(spark, store, 1)) == _full_build(
        spark, 2
    )


def test_streaming_compact_every(spark, tmp_path):
    """compact_every folds the chain during ingestion: after 3 commits
    with compact_every=2, a base exists at version 1 and the final
    state still matches the full rebuild bit-for-bit."""
    src = _stage_changesets(spark, tmp_path, range(1, 4))
    store = str(tmp_path / "store")
    q = streaming_tile_maintenance(
        spark, src, str(tmp_path / "ck"), store, RES, compact_every=2,
    )
    q.awaitTermination()
    assert current_version(store) == 2
    assert base_version(store) == 1
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 3
    )


def test_streaming_maintenance_restart_and_replay(spark, tmp_path):
    src = _stage_changesets(spark, tmp_path, range(1, 3))
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    q = streaming_tile_maintenance(spark, src, ck, store, RES)
    q.awaitTermination()
    assert current_version(store) == 1

    # restart with no new input: checkpoint replays nothing, the
    # committed pointer is untouched
    q = streaming_tile_maintenance(spark, src, ck, store, RES)
    q.awaitTermination()
    assert current_version(store) == 1
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 2
    )

    # a new diff file lands; the restarted stream applies exactly it
    for v in range(3, 4):
        old = _corpus(v - 1)
        rows = _changeset(old, _corpus(v))
        d = str(tmp_path / f"cs_late_{v}")
        spark.createDataFrame(rows, SCHEMA + ", op string").coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        [part] = glob.glob(f"{d}/part-*.parquet")
        dst = f"{src}/f{v:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + v, 1_700_000_000 + v))
    q = streaming_tile_maintenance(spark, src, ck, store, RES)
    q.awaitTermination()
    assert current_version(store) == 2
    assert _tiles_map(read_current_tiles(spark, store)) == _full_build(
        spark, 3
    )


def test_changeset_fixture_exercises_all_kinds(spark):
    """The evolution really contains removes, adds, and moves at every
    step (guards the fixture against silently degenerating)."""
    for v in (2, 3):
        rows = _changeset(_corpus(v - 1), _corpus(v))
        rm = {r[0] for r in rows if r[-1] == "remove"}
        up = {r[0] for r in rows if r[-1] == "upsert"}
        assert rm - up and up - rm and rm & up, v


def _rand_corpus_seq(seed: int, n_versions: int):
    """Seeded random corpus evolution: each step removes, moves, and
    adds random segments (deterministic LCG — no global random state)."""
    state = seed * 2654435761 % (2**31)

    def rnd():
        nonlocal state
        state = (1103515245 * state + 12345) % (2**31)
        return state

    segs = {}
    for i in range(40):
        lon = -60.0 + rnd() % 120
        lat = -40.0 + rnd() % 80
        segs[i] = (i, lon, lat, lon + rnd() % 7 - 3.0, lat + rnd() % 5 - 2.0)
    out = [sorted(segs.values())]
    nxt = 1000
    for _ in range(n_versions - 1):
        for i in sorted(segs):
            r = rnd() % 10
            if r < 2:
                del segs[i]
            elif r < 4:
                s = segs[i]
                dx, dy = rnd() % 9 - 4.0, rnd() % 7 - 3.0
                segs[i] = (i, s[1] + dx, s[2] + dy, s[3] + dx, s[4] + dy)
        for _ in range(rnd() % 4 + 1):
            lon = -60.0 + rnd() % 120
            lat = -40.0 + rnd() % 80
            segs[nxt] = (nxt, lon, lat, lon + 1.5, lat - 1.0)
            nxt += 1
        out.append(sorted(segs.values()))
    return out


@pytest.mark.parametrize("seed", [7, 41])
def test_batch_commit_random_differential(spark, tmp_path, seed):
    """Property sweep of the batch commit API: random changeset
    sequences (removes/moves/adds), commits interleaved with automatic
    compaction (compact_every=2) — EVERY version reconstructs
    bit-identical to a full re-encode of its corpus, and replaying a
    committed id is a no-op."""
    versions = _rand_corpus_seq(seed, 4)
    store = str(tmp_path / f"store{seed}")
    for b, corpus in enumerate(versions):
        old = versions[b - 1] if b else []
        rows = _changeset(old, corpus)
        batch = spark.createDataFrame(rows, SCHEMA + ", op string")
        assert commit_changeset(
            spark, store, batch, b, RES, compact_every=2
        )
    assert not commit_changeset(  # replay
        spark, store,
        spark.createDataFrame([], SCHEMA + ", op string"),
        len(versions) - 1, RES,
    )
    with pytest.raises(ValueError, match="dense"):
        commit_changeset(
            spark, store,
            spark.createDataFrame([], SCHEMA + ", op string"),
            len(versions) + 3, RES,
        )
    assert base_version(store) is not None  # compaction really ran
    for b, corpus in enumerate(versions):
        want = _tiles_map(
            encode_vector_tiles(
                spark.createDataFrame(corpus, SCHEMA), RES, clip=True
            )
        )
        assert _tiles_map(read_tiles_at(spark, store, b)) == want, (seed, b)


def test_one_changeset_maintains_both_derived_tables(spark, tmp_path):
    """The production claim (PLANS.md): ONE OSM-style diff stream keeps
    BOTH derived tables current — the versioned tile store on the
    geometry axis (commit_changeset) and the stored inference table on
    the tag axis (rules_diff.apply_road_changeset) — each bit-identical
    to a full recompute of the implied corpus, at changeset-sized work.
    The same _changeset rows feed both: remove/upsert geometry rows for
    the tiles, the upsert ids' road rows (tags derived per seg id) for
    the inference."""
    from osm_legal_default_speeds_spark.plans.native_cascade import (
        infer_speed_limits_native,
    )
    from osm_legal_default_speeds_spark.plans.rules_compiler import (
        compile_ruleset,
    )
    from osm_legal_default_speeds_spark.plans.rules_diff import (
        apply_road_changeset,
    )
    from osm_legal_default_speeds_spark.plans.rules_model import (
        RoadTypeDef,
        RoadTypeFilterDef,
    )

    rs = compile_ruleset(
        {
            "motorway": RoadTypeFilterDef("highway=motorway"),
            "urban": RoadTypeFilterDef("lit=yes", "highway=residential"),
        },
        {
            "ZA": [
                RoadTypeDef("urban", {"maxspeed": "60"}),
                RoadTypeDef("motorway", {"maxspeed": "120"}),
            ],
            "DE": [RoadTypeDef("motorway", {"maxspeed": "130"})],
        },
    )
    hw = ["motorway", "residential", "living_street"]
    cc = ["ZA", "DE", "ZA-NC", None]

    def road_rows(seg_rows):
        return [
            (
                i,
                cc[i % 4],
                {"highway": hw[i % 3], "lit": "yes" if i % 2 == 0 else "no"},
            )
            for (i, *_geom) in seg_rows
        ]

    road_schema = "road_id long, country_code string, tags map<string,string>"
    r = F.col("speed_limit")

    def flat(df):
        return df.select(
            "road_id",
            "country_code",
            r.getField("road_type_name").alias("rt"),
            r.getField("certitude").alias("cert"),
        )

    def res_map(df):
        return {t[0]: t for t in map(tuple, df.collect())}

    store = str(tmp_path / "both_store")
    results = None
    for v in (1, 2, 3):
        old = _corpus(v - 1) if v > 1 else []
        rows = _changeset(old, _corpus(v))
        batch = spark.createDataFrame(rows, SCHEMA + ", op string")
        # geometry axis: delta commit to the versioned tile store
        assert commit_changeset(spark, store, batch, v - 1, RES)
        # tag axis: the same changeset's ids update the result table
        removed_df = batch.where("op = 'remove'").select(
            F.col("seg_id").alias("road_id")
        )
        upserted = spark.createDataFrame(
            road_rows([row for row in rows if row[-1] == "upsert"]),
            road_schema,
        )
        if results is None:
            results = flat(infer_speed_limits_native(upserted, rs))
        else:
            results = apply_road_changeset(
                results, removed_df, upserted, rs, project=flat
            )
        results = spark.createDataFrame(
            results.collect(), results.schema
        )  # snapshot: the stored table, not a growing lazy plan
        # both tables equal a full recompute of the implied corpus
        want_tiles = _full_build(spark, v)
        assert _tiles_map(read_current_tiles(spark, store)) == want_tiles
        full_roads = spark.createDataFrame(
            road_rows(_corpus(v)), road_schema
        )
        want_res = res_map(flat(infer_speed_limits_native(full_roads, rs)))
        assert res_map(results) == want_res, v
