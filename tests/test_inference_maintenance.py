"""Streaming inference-table maintenance: every committed version of
the result store must equal a full re-inference of the corpus the
changeset stream implies at that point (the same invariant the tile
store pins on the geometry axis), plus replay idempotence, the dense
version guard, compaction, and expiry over the shared delta store."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from osm_legal_default_speeds_spark.plans.native_cascade import (
    infer_speed_limits_native,
)
from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset
from osm_legal_default_speeds_spark.plans.rules_model import (
    RoadTypeDef,
    RoadTypeFilterDef,
)
from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
    ROAD_CHANGESET_SCHEMA,
    ROAD_CHANGESET_SCHEMA_SEQ,
    commit_road_batch,
    compact_results_store,
    read_current_results,
    read_results_at,
    streaming_inference_maintenance,
)
from osm_legal_default_speeds_spark.streaming.delta_store import (
    base_version,
    current_version,
    expire_versions,
    version_manifest,
)

ROAD_SCHEMA = "road_id long, country_code string, tags map<string,string>"
HW = ["motorway", "residential", "living_street"]
CC = ["ZA", "DE", "ZA-NC", None]


def _ruleset():
    return compile_ruleset(
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


def _tags(i: int, v: int) -> dict:
    # v enters the lit flip so a re-tag stripe really changes results
    return {"highway": HW[i % 3], "lit": "yes" if (i + v) % 2 == 0 else "no"}


def _corpus(version: int) -> dict[int, tuple]:
    """Deterministic corpus per version: v1 = base; each later version
    removes the id % 7 == v stripe, re-tags the id % 5 == v stripe, and
    adds a fresh id range."""
    rows = {i: (i, CC[i % 4], _tags(i, 0)) for i in range(40)}
    for v in range(2, version + 1):
        for i in list(rows):
            if i % 7 == v:
                del rows[i]
            elif i in rows and i % 5 == v:
                rows[i] = (i, CC[i % 4], _tags(i, v))
        for i in range(100 * v, 100 * v + 4):
            rows[i] = (i, CC[i % 4], _tags(i, 1))
    return rows


def _changeset(old: dict, new: dict) -> list[tuple]:
    out = []
    for i, r in old.items():
        if new.get(i) != r:
            out.append((i, None, None, "remove"))
    for i, r in new.items():
        if old.get(i) != r:
            out.append(r + ("upsert",))
    return out


def _flat(df):
    r = F.col("speed_limit")
    return df.select(
        "road_id",
        r.getField("road_type_name").alias("rt"),
        r.getField("certitude").alias("cert"),
        F.element_at(r.getField("tags"), F.lit("maxspeed")).alias("ms"),
    )


def _res_map(df):
    return {t[0]: t for t in map(tuple, df.collect())}


def _full(spark, version: int):
    roads = spark.createDataFrame(
        sorted(_corpus(version).values()), ROAD_SCHEMA
    )
    return _res_map(_flat(infer_speed_limits_native(roads, _ruleset())))


def _stage_changesets(spark, tmp_path, versions: range) -> str:
    src = str(tmp_path / "road_changesets")
    os.makedirs(src, exist_ok=True)
    for v in versions:
        old = _corpus(v - 1) if v > 1 else {}
        rows = _changeset(old, _corpus(v))
        d = str(tmp_path / f"rcs_build_{v}")
        spark.createDataFrame(rows, ROAD_CHANGESET_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(d)
        [part] = glob.glob(f"{d}/part-*.parquet")
        dst = f"{src}/f{v:03d}.parquet"
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + v, 1_700_000_000 + v))
    return src


def test_streaming_maintenance_matches_full_inference_per_version(
    spark, tmp_path
):
    src = _stage_changesets(spark, tmp_path, range(1, 5))
    store = str(tmp_path / "res_store")
    q = streaming_inference_maintenance(
        spark,
        src,
        str(tmp_path / "ckpt"),
        store,
        _ruleset(),
        project=_flat,
        compact_every=2,
    )
    q.awaitTermination()
    assert current_version(store) == 3
    assert base_version(store) is not None  # auto-compaction ran
    for b, v in enumerate(range(1, 5)):
        assert _res_map(read_results_at(spark, store, b)) == _full(
            spark, v
        ), v
    # serving read == newest version
    assert _res_map(read_current_results(spark, store)) == _full(spark, 4)


def test_batch_commit_replay_guard_compact_expire(spark, tmp_path):
    store = str(tmp_path / "res_store_b")
    for b, v in enumerate(range(1, 4)):
        old = _corpus(v - 1) if v > 1 else {}
        batch = spark.createDataFrame(
            _changeset(old, _corpus(v)), ROAD_CHANGESET_SCHEMA
        )
        assert commit_road_batch(
            spark, store, batch, b, _ruleset(), project=_flat,
            compact_every=None,
        )
    # replay of a committed id is a no-op (stream checkpoint semantics)
    assert not commit_road_batch(
        spark, store,
        spark.createDataFrame([], ROAD_CHANGESET_SCHEMA),
        2, _ruleset(), project=_flat,
    )
    with pytest.raises(ValueError, match="dense"):
        commit_road_batch(
            spark, store,
            spark.createDataFrame([], ROAD_CHANGESET_SCHEMA),
            7, _ruleset(), project=_flat,
        )
    assert _res_map(read_current_results(spark, store)) == _full(spark, 3)
    # manual compaction then expiry: the current state survives, the
    # pre-base lineage is reclaimed, expired versions refuse loudly
    assert compact_results_store(spark, store) == 2
    removed = expire_versions(store)
    assert removed == ["v0", "v1", "v2"]
    assert _res_map(read_current_results(spark, store)) == _full(spark, 3)
    with pytest.raises(ValueError, match="expired"):
        read_results_at(spark, store, 1)


def test_pre_delta_format_store_refused(spark, tmp_path):
    """Stores in an older layout must fail with the migration message,
    never read as empty or partial: the full-table-per-version layout
    (v0/table), and the pointer layout of the previous release
    (v0/{delta,dirty} beside a manifest that names no attempt, plus a
    CURRENT pointer file) — refused by readers and writers alike, with
    or without its pointer file."""
    store = tmp_path / "old_store"
    (store / "v0").mkdir(parents=True)
    spark.createDataFrame([(1, "x")], "road_id long, v string").write.parquet(
        str(store / "v0" / "table")
    )
    with open(store / "CURRENT", "w") as fh:
        fh.write("0")
    with pytest.raises(ValueError, match="delta-format"):
        read_results_at(spark, str(store), 0)

    pointer_store = tmp_path / "pointer_store"
    rows = spark.createDataFrame([(1, "x")], "road_id long, v string")
    rows.write.parquet(str(pointer_store / "v0" / "delta"))
    rows.select("road_id").write.parquet(str(pointer_store / "v0" / "dirty"))
    with open(pointer_store / "v0" / "manifest.json", "w") as fh:
        json.dump({"version": 0, "key": "road_id", "delta_rows": 1}, fh)
    with open(pointer_store / "CURRENT", "w") as fh:
        fh.write("0")
    batch = spark.createDataFrame(
        [(2, "ZA", {"highway": "motorway"}, "upsert")], ROAD_CHANGESET_SCHEMA
    )
    with pytest.raises(ValueError, match="delta-format"):
        read_results_at(spark, str(pointer_store), 0)
    with pytest.raises(ValueError, match="delta-format"):
        commit_road_batch(
            spark, str(pointer_store), batch, 1, _ruleset(), project=_flat
        )
    os.remove(pointer_store / "CURRENT")
    with pytest.raises(ValueError, match="delta-format"):
        read_results_at(spark, str(pointer_store), 0)


def test_duplicate_upserts_in_one_batch_resolve_to_one_row(spark, tmp_path):
    """Two upserts for the same road in one micro-batch (coalesced diff
    files, or one diff editing an object twice) must commit ONE result
    row, picked deterministically — not duplicate key rows."""
    store = str(tmp_path / "dup_store")
    batch = spark.createDataFrame(
        [
            (1, "ZA", {"highway": "motorway"}, "upsert"),
            (1, "ZA", {"highway": "residential", "lit": "yes"}, "upsert"),
            (1, "ZA", {"highway": "motorway"}, "upsert"),  # exact dup
            (2, "DE", {"highway": "motorway"}, "upsert"),
        ],
        ROAD_CHANGESET_SCHEMA,
    )
    assert commit_road_batch(
        spark, store, batch, 0, _ruleset(), project=_flat,
    )
    rows = read_current_results(spark, store).collect()
    assert sorted(r["road_id"] for r in rows) == [1, 2]
    # deterministic: a second store fed the same batch picks the same row
    store2 = str(tmp_path / "dup_store2")
    commit_road_batch(spark, store2, batch, 0, _ruleset(), project=_flat)
    assert _res_map(read_current_results(spark, store)) == _res_map(
        read_current_results(spark, store2)
    )


def test_bulk_dirty_set_is_not_broadcast(spark, tmp_path, monkeypatch):
    """A version whose dirty set exceeds the broadcast cap must fold as
    a regular join — the forced broadcast would collect a corpus-sized
    key set to the driver on every read after a bulk import."""
    from osm_legal_default_speeds_spark.streaming import delta_store

    store = str(tmp_path / "bulk_store")
    batch = spark.createDataFrame(
        [(i, CC[i % 4], _tags(i, 0), "upsert") for i in range(50)],
        ROAD_CHANGESET_SCHEMA,
    )
    commit_road_batch(spark, store, batch, 0, _ruleset(), project=_flat)
    monkeypatch.setattr(delta_store, "BROADCAST_DIRTY_MAX_BYTES", 1)
    folded = read_current_results(spark, store)
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    # and the fold is still correct
    assert len(folded.collect()) == 50


def test_version_manifest_and_diff(spark, tmp_path):
    """Every commit writes a lineage manifest (row counts, tombstones,
    bytes, wall) and diff_versions reports each touched key's final
    disposition across a version range without reconstructing state."""
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        diff_versions,
        version_manifest,
    )

    store = str(tmp_path / "mstore")
    for b, v in enumerate(range(1, 4)):
        old = _corpus(v - 1) if v > 1 else {}
        batch = spark.createDataFrame(
            _changeset(old, _corpus(v)), ROAD_CHANGESET_SCHEMA
        )
        commit_road_batch(
            spark, store, batch, b, _ruleset(), project=_flat,
            compact_every=None,
        )
    m0 = version_manifest(store, 0)
    assert m0["version"] == 0 and m0["key"] == "road_id"
    assert m0["delta_rows"] == len(_corpus(1))
    assert m0["dirty_keys"] == len(_corpus(1)) and m0["tombstoned_keys"] == 0
    assert m0["delta_bytes"] > 0 and m0["commit_wall_s"] > 0
    m1 = version_manifest(store, 1)
    c1, c2 = _corpus(1), _corpus(2)
    assert m1["tombstoned_keys"] == len(set(c1) - set(c2))
    assert version_manifest(store, 99) is None

    # diff v0 (corpus 1) -> v2 (corpus 3): final dispositions
    d = {
        r["road_id"]: r["change"]
        for r in diff_versions(spark, store, 0, 2, "road_id").collect()
    }
    c3 = _corpus(3)
    gone = set(c1) - set(c3)
    assert gone and all(d[i] == "removed" for i in gone)
    retagged_or_new = {
        i for i in c3 if i not in c1 or c3[i] != c1[i]
    }
    assert retagged_or_new and all(
        d[i] == "upserted" for i in retagged_or_new
    )
    untouched = {i for i in c3 if i in c1 and c3[i] == c1[i]}
    assert untouched and not (set(d) & untouched)
    with pytest.raises(ValueError, match="committed"):
        diff_versions(spark, store, 0, 9, "road_id")


def test_seq_column_resolves_ops_last_wins(spark, tmp_path):
    """With a seq column (ROAD_CHANGESET_SCHEMA_SEQ), same-id ops in
    one batch resolve by edit recency: upsert-then-remove stays
    removed, remove-then-upsert resurrects, and the newest of several
    upserts wins — regardless of row order in the batch."""
    rows = [
        # road 1: upserted at seq 1, removed at seq 2 -> absent
        (1, "ZA", {"highway": "motorway"}, "upsert", 1),
        (1, None, None, "remove", 2),
        # road 2: removed at seq 1, re-upserted at seq 3 -> present
        (2, None, None, "remove", 1),
        (2, "DE", {"highway": "motorway"}, "upsert", 3),
        # road 3: two upserts, the later one (residential+lit) wins
        (3, "ZA", {"highway": "motorway"}, "upsert", 1),
        (3, "ZA", {"highway": "residential", "lit": "yes"}, "upsert", 2),
        # road 4: null seq loses to any real seq
        (4, "ZA", {"highway": "motorway"}, "upsert", None),
        (4, None, None, "remove", 1),
    ]
    for tag, ordered in (("fwd", rows), ("rev", rows[::-1])):
        store = str(tmp_path / f"seq_store_{tag}")
        batch = spark.createDataFrame(ordered, ROAD_CHANGESET_SCHEMA_SEQ)
        assert commit_road_batch(
            spark, store, batch, 0, _ruleset(), project=_flat,
        )
        got = _res_map(read_current_results(spark, store))
        assert sorted(got) == [2, 3], tag
        assert got[3][3] == "60", tag  # urban maxspeed from the re-tag


def test_seqless_schema_keeps_legacy_resolution(spark, tmp_path):
    """Without a seq column the documented order-free contract holds:
    an upsert beats a remove for the same id (both tombstone the old
    row) and duplicate upserts fall to the deterministic hash rule."""
    store = str(tmp_path / "legacy_store")
    batch = spark.createDataFrame(
        [
            (1, "ZA", {"highway": "motorway"}, "upsert"),
            (1, None, None, "remove"),
        ],
        ROAD_CHANGESET_SCHEMA,
    )
    commit_road_batch(spark, store, batch, 0, _ruleset(), project=_flat)
    rows = read_current_results(spark, store).collect()
    assert [r["road_id"] for r in rows] == [1]


def _attempts(store: str, name: str) -> list[str]:
    """The attempt directories under version dir ``name``."""
    return sorted(
        d for d in os.listdir(os.path.join(store, name))
        if os.path.isdir(os.path.join(store, name, d))
    )


def _publish_fails_once(monkeypatch, suffix: str) -> None:
    """Make the store's publish of the commit record ending in
    ``suffix`` raise once: a writer killed after writing its tables,
    before publishing them."""
    from osm_legal_default_speeds_spark.streaming import delta_store

    real = delta_store.publish_once
    failed = []

    def publish(path, text):
        if path.endswith(suffix) and not failed:
            failed.append(path)
            raise RuntimeError("injected crash before the publish")
        return real(path, text)

    monkeypatch.setattr(delta_store, "publish_once", publish)


def _version_batch(spark, v: int):
    old = _corpus(v - 1) if v > 1 else {}
    return spark.createDataFrame(
        _changeset(old, _corpus(v)), ROAD_CHANGESET_SCHEMA
    )


def test_commit_fence_rejects_racing_writer(spark, tmp_path, monkeypatch):
    """The single-writer contract is mechanical without a lock: when a
    second writer publishes version N between the first writer's
    pre-check and its publish, the first raises, its attempt is never
    read, and N+1 still commits. A compactor that loses the publish of
    base-N returns N, as a re-compaction does."""
    from osm_legal_default_speeds_spark.streaming import delta_store

    store = str(tmp_path / "fence_store")

    def batch(road_id):
        return spark.createDataFrame(
            [(road_id, "ZA", {"highway": "motorway"}, "upsert")],
            ROAD_CHANGESET_SCHEMA,
        )

    assert commit_road_batch(
        spark, store, batch(1), 0, _ruleset(), project=_flat,
    )
    real = delta_store.publish_once
    raced = []

    def racing_publish(path, text):
        if path.endswith(os.path.join("v1", "manifest.json")) and not raced:
            raced.append(path)
            # writer B passed the same pre-check and publishes first
            assert commit_road_batch(
                spark, store, batch(2), 1, _ruleset(), project=_flat,
            )
        if path.endswith(os.path.join("base-2", "manifest.json")) and (
            len(raced) == 1
        ):
            raced.append(path)
            assert delta_store.compact_store(spark, store, "road_id") == 2
        return real(path, text)

    monkeypatch.setattr(delta_store, "publish_once", racing_publish)
    with pytest.raises(ValueError, match="another writer published version 1"):
        commit_road_batch(spark, store, batch(3), 1, _ruleset(), project=_flat)
    winner = version_manifest(store, 1)["attempt"]
    assert len(_attempts(store, "v1")) == 2 and winner in _attempts(store, "v1")
    # version 1 is writer B's: the loser's road 3 is never read
    assert sorted(_res_map(read_current_results(spark, store))) == [1, 2]
    assert commit_road_batch(
        spark, store, batch(4), 2, _ruleset(), project=_flat,
    )
    assert sorted(_res_map(read_current_results(spark, store))) == [1, 2, 4]

    assert delta_store.compact_store(spark, store, "road_id") == 2
    assert len(raced) == 2 and base_version(store) == 2
    assert len(_attempts(store, "base-2")) == 2
    assert sorted(_res_map(read_current_results(spark, store))) == [1, 2, 4]


def test_crash_before_commit_publish(spark, tmp_path, monkeypatch):
    """A commit killed between its data write and its manifest publish
    leaves the store at its last published version; retrying the batch
    id reconstructs every version bit-identical to an uninterrupted
    run, and expiry reclaims the orphaned attempt with its version
    dir."""
    clean = str(tmp_path / "clean_store")
    store = str(tmp_path / "crash_store")
    for b in range(3):
        commit_road_batch(
            spark, clean, _version_batch(spark, b + 1), b, _ruleset(),
            project=_flat, compact_every=None,
        )
    assert commit_road_batch(
        spark, store, _version_batch(spark, 1), 0, _ruleset(),
        project=_flat, compact_every=None,
    )
    _publish_fails_once(monkeypatch, os.path.join("v1", "manifest.json"))
    with pytest.raises(RuntimeError, match="injected crash"):
        commit_road_batch(
            spark, store, _version_batch(spark, 2), 1, _ruleset(),
            project=_flat, compact_every=None,
        )
    assert current_version(store) == 0
    assert version_manifest(store, 1) is None
    [orphan] = _attempts(store, "v1")
    assert _res_map(read_current_results(spark, store)) == _full(spark, 1)

    for b in (1, 2):
        assert commit_road_batch(
            spark, store, _version_batch(spark, b + 1), b, _ruleset(),
            project=_flat, compact_every=None,
        )
    assert version_manifest(store, 1)["attempt"] != orphan
    for b in range(3):
        assert _res_map(read_results_at(spark, store, b)) == _res_map(
            read_results_at(spark, clean, b)
        ), b

    assert compact_results_store(spark, store) == 2
    assert expire_versions(store) == ["v0", "v1", "v2"]
    assert not os.path.exists(os.path.join(store, "v1"))
    assert _res_map(read_current_results(spark, store)) == _res_map(
        read_current_results(spark, clean)
    )


def test_crash_before_compaction_publish(spark, tmp_path, monkeypatch):
    """A compaction killed between writing its base snapshot and
    publishing it leaves the store serving its published chain; the
    retried compaction serves the same state bit-identically, and the
    orphaned attempt goes with its base dir once a newer base
    supersedes it, also through an expiry killed midway."""
    store = str(tmp_path / "compact_crash_store")
    for b in range(2):
        commit_road_batch(
            spark, store, _version_batch(spark, b + 1), b, _ruleset(),
            project=_flat, compact_every=None,
        )
    before = _res_map(read_current_results(spark, store))
    _publish_fails_once(
        monkeypatch, os.path.join("base-1", "manifest.json")
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_results_store(spark, store)
    assert base_version(store) is None and current_version(store) == 1
    [orphan] = _attempts(store, "base-1")
    assert _res_map(read_current_results(spark, store)) == before

    assert compact_results_store(spark, store) == 1
    assert base_version(store) == 1
    assert _res_map(read_current_results(spark, store)) == before
    assert before == _full(spark, 2)
    assert orphan in _attempts(store, "base-1")

    commit_road_batch(
        spark, store, _version_batch(spark, 3), 2, _ruleset(),
        project=_flat, compact_every=None,
    )
    assert compact_results_store(spark, store) == 2
    # an expiry killed before it removed anything has already
    # unpublished every dir it reclaims: pre-base versions refuse
    # instead of reading partly deleted tables, and a rerun finishes
    def crash(path):
        raise RuntimeError("injected crash in the expiry")

    monkeypatch.setattr(shutil, "rmtree", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        expire_versions(store)
    monkeypatch.undo()
    with pytest.raises(ValueError, match="expired"):
        read_results_at(spark, store, 1)
    assert _res_map(read_current_results(spark, store)) == _full(spark, 3)
    assert expire_versions(store) == ["base-1", "v0", "v1", "v2"]
    assert not os.path.exists(os.path.join(store, "base-1"))
    assert _res_map(read_current_results(spark, store)) == _full(spark, 3)


def test_equal_seq_across_ops_upsert_wins(spark, tmp_path):
    """Equal (non-null) sequence numbers across DIFFERENT ops — a feed
    stamping seq at file granularity — fall back to the sequence-less
    rule (upsert wins), never the hash coin-flip: opting into the seq
    column must not downgrade a documented guarantee."""
    rows = [
        (1, "ZA", {"highway": "motorway"}, "upsert", 5),
        (1, None, None, "remove", 5),
        # equal-seq duplicate UPSERTS still fall to the hash rule, but
        # both candidates are upserts so the road is present either way
        (2, "ZA", {"highway": "motorway"}, "upsert", 7),
        (2, "DE", {"highway": "motorway"}, "upsert", 7),
    ]
    for tag, ordered in (("fwd", rows), ("rev", rows[::-1])):
        store = str(tmp_path / f"eqseq_store_{tag}")
        batch = spark.createDataFrame(ordered, ROAD_CHANGESET_SCHEMA_SEQ)
        assert commit_road_batch(
            spark, store, batch, 0, _ruleset(), project=_flat,
        )
        got = _res_map(read_current_results(spark, store))
        assert sorted(got) == [1, 2], tag
        assert got[1][1] == "motorway", tag


def test_diff_versions_empty_range_survives_expiry(spark, tmp_path):
    """diff_versions(v, v) must return the empty (key, change) frame
    even after compact_store + expire_versions reclaimed EVERY v-dir
    (BASE == CURRENT): the empty-range schema probe cannot assume the
    newest version dir is retained."""
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        diff_versions,
    )

    store = str(tmp_path / "expired_diff_store")
    batch = spark.createDataFrame(
        [(1, "ZA", {"highway": "motorway"}, "upsert")],
        ROAD_CHANGESET_SCHEMA,
    )
    assert commit_road_batch(
        spark, store, batch, 0, _ruleset(), project=_flat,
    )
    assert compact_results_store(spark, store) == 0
    assert expire_versions(store)  # v0 reclaimed
    assert not os.path.isdir(os.path.join(store, "v0"))
    d = diff_versions(spark, store, 0, 0, "road_id")
    assert d.columns == ["road_id", "change"]
    assert d.count() == 0


def test_commit_road_batch_refuses_uri_path_before_work(
    spark, tmp_path, monkeypatch
):
    """The STORE PATH CONTRACT's up-front refusal applies at this
    writer's entry point too: a URI-schemed path must fail BEFORE
    os.makedirs plants a literal local 's3a:' tree and before the
    inference runs."""
    monkeypatch.chdir(tmp_path)
    batch = spark.createDataFrame(
        [(1, "ZA", {"highway": "motorway"}, "upsert")],
        ROAD_CHANGESET_SCHEMA,
    )
    with pytest.raises(ValueError, match="URI scheme"):
        commit_road_batch(
            spark, "s3a://bucket/store", batch, 0, _ruleset(),
            project=_flat,
        )
    assert os.listdir(tmp_path) == []  # no stray local directory tree


def test_uri_schemed_store_path_refused(spark, tmp_path):
    """A URI-schemed store path would split the store (parquet via
    Hadoop IO, manifests via driver-local POSIX IO) — writers refuse it
    up front (STORE PATH CONTRACT in delta_store's docstring)."""
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        commit_delta,
        compact_store,
    )

    fresh = spark.createDataFrame([(1, "x")], "road_id long, v string")
    with pytest.raises(ValueError, match="URI scheme"):
        commit_delta(
            spark, "s3a://bucket/store", fresh,
            fresh.select("road_id"), 0, "road_id",
        )
    with pytest.raises(ValueError, match="URI scheme"):
        compact_store(spark, "hdfs://nn/store", "road_id")


def test_fold_broadcast_budget_is_cumulative(spark, tmp_path, monkeypatch):
    """The forced-broadcast budget spans the WHOLE fold chain, not one
    step: with a budget sized to the first dirty set only, a 3-version
    reconstruction forces exactly one broadcast anti-join — a chain of
    near-cap dirty sets can no longer stack compact_every forced
    broadcasts into a single driver-built plan."""
    from osm_legal_default_speeds_spark.streaming import delta_store

    store = str(tmp_path / "budget_store")
    for v in range(3):
        batch = spark.createDataFrame(
            [(i, CC[i % 2], _tags(i, v), "upsert") for i in range(40)],
            ROAD_CHANGESET_SCHEMA,
        )
        commit_road_batch(spark, store, batch, v, _ruleset(), project=_flat)
    first_dirty = delta_store.version_manifest(store, 0)["dirty_bytes"]
    monkeypatch.setattr(
        delta_store, "BROADCAST_DIRTY_MAX_BYTES", first_dirty
    )
    folded = read_current_results(spark, store)
    # count FORCED hints in the logical plan: Spark remains free to
    # pick broadcast from real stats for the unhinted steps (it does,
    # for these tiny dirty sets — that path respects
    # autoBroadcastJoinThreshold, which is the point of the budget)
    plan = folded._jdf.queryExecution().analyzed().toString()
    assert plan.count("ResolvedHint") == 1, plan[:3000]
    assert len(folded.collect()) == 40  # fold still correct


def test_bind_stream_primitives(tmp_path):
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        bind_stream,
        stream_binding,
    )

    store = str(tmp_path / "bind_store")
    os.makedirs(store)
    assert stream_binding(store) is None
    assert bind_stream(store, "qid-a") is True  # created
    assert stream_binding(store) == "qid-a"
    assert bind_stream(store, "qid-a") is False  # same stream: replay
    with pytest.raises(ValueError, match="bound to streaming query"):
        bind_stream(store, "qid-b")


def test_bind_stream_crash_mid_bind_does_not_wedge(tmp_path, monkeypatch):
    """A crash while writing the binding must not leave an empty
    binding that reads as a foreign stream: binding the same query id
    again succeeds."""
    from osm_legal_default_speeds_spark.streaming.delta_store import (
        bind_stream,
        stream_binding,
    )

    store = str(tmp_path / "wedge_store")
    os.makedirs(store)
    real_write = os.write
    crashed = []

    def write(fd, data):
        if data == b"qid-a" and not crashed:
            crashed.append(fd)
            raise OSError("injected crash in the binding's write")
        return real_write(fd, data)

    monkeypatch.setattr(os, "write", write)
    with pytest.raises(OSError, match="injected crash"):
        bind_stream(store, "qid-a")
    assert crashed and stream_binding(store) is None
    assert bind_stream(store, "qid-a") is True
    assert stream_binding(store) == "qid-a"


def test_reset_checkpoint_fails_loudly(spark, tmp_path):
    """A reset/relocated checkpoint renumbers micro-batches from 0; the
    replay rule would silently skip every NEW changeset. The store's
    stream binding must turn that silent data loss into an error."""
    src = _stage_changesets(spark, tmp_path, range(1, 3))
    store = str(tmp_path / "reset_store")
    q = streaming_inference_maintenance(
        spark, src, str(tmp_path / "ckpt_a"), store, _ruleset(),
        project=_flat,
    )
    q.awaitTermination()
    assert current_version(store) == 1

    # new changeset arrives, but the operator 'reset the stream' by
    # pointing it at a fresh checkpoint: batch numbering restarts at 0
    old, new = _corpus(2), _corpus(3)
    d = str(tmp_path / "rcs_build_extra")
    spark.createDataFrame(
        _changeset(old, new), ROAD_CHANGESET_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(d)
    [part] = glob.glob(f"{d}/part-*.parquet")
    shutil.copy(part, f"{src}/f999.parquet")

    q2 = streaming_inference_maintenance(
        spark, src, str(tmp_path / "ckpt_b"), store, _ruleset(),
        project=_flat,
    )
    with pytest.raises(Exception, match="bound to streaming query"):
        q2.awaitTermination()
    # the store is untouched, not silently stale-but-plausible
    assert current_version(store) == 1


def test_stream_refuses_preexisting_unbound_store(spark, tmp_path):
    """Attaching a NEW stream to a store already populated by the batch
    commit API must fail loudly: the stream's batch numbering starts at
    0 and every commit would be skipped as a replay of versions the
    batch API already wrote."""
    store = str(tmp_path / "mixed_store")
    batch = spark.createDataFrame(
        _changeset({}, _corpus(1)), ROAD_CHANGESET_SCHEMA
    )
    assert commit_road_batch(spark, store, batch, 0, _ruleset(), project=_flat)
    assert current_version(store) == 0

    src = _stage_changesets(spark, tmp_path, range(1, 2))
    q = streaming_inference_maintenance(
        spark, src, str(tmp_path / "ckpt_mixed"), store, _ruleset(),
        project=_flat,
    )
    with pytest.raises(Exception, match="already has committed versions"):
        q.awaitTermination()
    assert current_version(store) == 0


def test_streaming_with_seq_upsert_then_remove_stays_removed(spark, tmp_path):
    """with_seq=True reads ROAD_CHANGESET_SCHEMA_SEQ so a recency-
    stamped feed reaches commit_road_batch's last-wins branch: a road
    upserted (seq=1) then removed (seq=2) inside ONE coalesced file
    stays removed. The default reader (sequence-less schema) resolves
    the same file upsert-wins — the documented order-free fallback."""
    rows = [
        (1, "DE", {"highway": "motorway"}, "upsert", 1),
        (1, None, None, "remove", 2),
        (2, "DE", {"highway": "motorway"}, "upsert", 1),
    ]
    src = str(tmp_path / "seq_changesets")
    os.makedirs(src)
    d = str(tmp_path / "seq_build")
    spark.createDataFrame(rows, ROAD_CHANGESET_SCHEMA_SEQ).coalesce(
        1
    ).write.mode("overwrite").parquet(d)
    [part] = glob.glob(f"{d}/part-*.parquet")
    shutil.copy(part, f"{src}/f001.parquet")

    store_seq = str(tmp_path / "seq_store")
    q = streaming_inference_maintenance(
        spark, src, str(tmp_path / "ckpt_seq"), store_seq, _ruleset(),
        project=_flat, with_seq=True,
    )
    q.awaitTermination()
    assert set(_res_map(read_current_results(spark, store_seq))) == {2}

    store_noseq = str(tmp_path / "noseq_store")
    q = streaming_inference_maintenance(
        spark, src, str(tmp_path / "ckpt_noseq"), store_noseq, _ruleset(),
        project=_flat,
    )
    q.awaitTermination()
    assert set(_res_map(read_current_results(spark, store_noseq))) == {1, 2}
