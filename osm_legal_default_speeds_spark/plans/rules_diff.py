"""Incremental rule maintenance.

The reference's rule dataset is regenerated monthly from the wiki
(`/root/reference/parser/main.py` CI loop); at 10^12 stored inference
rows, recomputing the world because three countries edited a speed
table is absurd. This module gives the targeted-recompute path:

1. ``country_fingerprints`` — a canonical digest of every input that
   can change a country's inferences: its own rule list PLUS the
   global road-type filter table (placeholder inlining and fuzzy
   filters make road types a global input, so a road-type edit
   conservatively invalidates every country — stale results are a
   correctness bug, over-recompute is only a cost).
2. ``changed_countries`` — fingerprint diff (added / removed /
   edited).
3. ``reinfer_changed`` — recompute ONLY roads whose EFFECTIVE country
   (subdivision → country fallback included: a ZA edit must recompute
   ZA-NC roads that fall back to ZA) is in the changed set; all other
   rows carry over from the previous result table untouched. The
   write side composes with the checkpointed job's dynamic partition
   overwrite — country is the leading partition column, so only
   changed partitions rewrite.
4. ``apply_road_changeset`` — the ROW-keyed twin for the other input
   axis: the rules are unchanged but the ROADS changed (the OSM
   minutely/daily diff). Inference is per-row, so a changeset touches
   exactly its own rows: drop the removed/re-tagged ids from the
   stored results, infer the upserted rows, union. The geometry-side
   counterpart is ``operators/spatial.py::rebuild_changed_tiles`` /
   the versioned tile store — together they keep BOTH derived tables
   (inference results, tile blobs) current under a diff stream
   without ever recomputing the corpus.

Scale: the decision is driver-side over the rule DIM (KBs); the data
pass is one partition-prunable filter plus the normal broadcast
cascade over the changed subset. Nothing row-scale moves for
unchanged countries.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json

from pyspark.sql import DataFrame, functions as F

from osm_legal_default_speeds_spark.plans.native_cascade import (
    effective_country,
    infer_speed_limits_native,
)


def _canon(obj):
    """Canonical JSON-able form: dataclasses to sorted dicts, dict
    keys sorted, tuples to lists — deterministic across processes."""
    if dataclasses.is_dataclass(obj) and not isinstance(obj, type):
        return {
            k: _canon(v)
            for k, v in sorted(dataclasses.asdict(obj).items())
        }
    if isinstance(obj, dict):
        return {str(k): _canon(v) for k, v in sorted(obj.items())}
    if isinstance(obj, (list, tuple)):
        return [_canon(v) for v in obj]
    return obj


def _digest(obj) -> str:
    return hashlib.md5(
        json.dumps(_canon(obj), sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()


def country_fingerprints(road_types: dict, speed_limits: dict) -> dict[str, str]:
    """country -> digest of (its rule list, the global road-type
    table). Equal fingerprints guarantee equal inference behavior for
    that country; a differing global table changes every fingerprint
    (conservative by design, see module docstring)."""
    global_part = _digest(road_types)
    return {
        cc: _digest([global_part, _canon(rules)])
        for cc, rules in speed_limits.items()
    }


def changed_countries(old_fps: dict[str, str], new_fps: dict[str, str]) -> list[str]:
    """Sorted country codes whose inferences may differ: added,
    removed, or fingerprint-changed."""
    out = set()
    for cc in set(old_fps) | set(new_fps):
        if old_fps.get(cc) != new_fps.get(cc):
            out.add(cc)
    return sorted(out)


def reinfer_changed(
    roads: DataFrame,
    old_results: DataFrame,
    new_ruleset,
    changed: list[str],
    id_col: str = "road_id",
    country_col: str = "country_code",
    project=None,
    **infer_kwargs,
) -> DataFrame:
    """Carry over ``old_results`` rows whose effective country is
    unchanged; re-infer the rest under ``new_ruleset``. ``project``
    maps the raw inference output (input columns + the result struct)
    onto ``old_results``' stored schema — pass the same projection the
    original job used; None keeps the raw columns. Effective-country
    routing follows the NEW ruleset's country list (the cascade's own
    ``effective_country``).

    The changed set is a tiny literal IN-list (pushed into the scan),
    so at scale this is a partition-pruned read of the changed
    countries plus a semi-join-free carry-over of everything else.

    NULL-country rows are always CARRIED OVER, never re-inferred:
    ``is_changed`` null-propagates (NULL isin(...) is NULL, filtered
    out of ``redo_in``), and ``keep_ids`` re-admits them explicitly.
    That is correct by construction — a NULL country can never match a
    country-keyed rule under the old or the new ruleset, so its result
    (fallback-only inference) cannot change when rules change. Pinned
    by test_incremental_equals_full_recompute's NULL-country row."""
    eff = effective_country(new_ruleset, F.col(country_col))
    # route by the NEW ruleset's effective country AND by the raw code:
    # a REMOVED subdivision (in changed, absent from the new ruleset)
    # makes its roads fall back to the parent country, which may itself
    # be unchanged — matching only on eff would carry their old
    # (deleted-rules) results over, the stale-correctness bug this
    # module exists to prevent
    is_changed = (
        (eff.isin(list(changed)) | F.col(country_col).isin(list(changed)))
        if changed
        else F.lit(False)
    )
    redo_in = roads.where(is_changed)
    keep_ids = roads.where(~is_changed | F.col(country_col).isNull()).select(
        id_col
    )
    redo = infer_speed_limits_native(
        redo_in, new_ruleset, country_col=country_col, **infer_kwargs
    )
    if project is not None:
        redo = project(redo)
    keep = old_results.join(keep_ids, id_col, "left_semi")
    return keep.unionByName(redo.select(*old_results.columns))


def infer_upserts(
    upserted_roads: DataFrame,
    ruleset,
    id_col: str = "road_id",
    country_col: str = "country_code",
    project=None,
    seq_col: str | None = None,
    assume_unique: bool = False,
    **infer_kwargs,
) -> DataFrame:
    """Infer the changeset's upserted rows — the shared 'fresh side' of
    :func:`apply_road_changeset` (batch) and
    ``streaming/inference_maintenance.commit_road_batch`` (streaming),
    factored so the twins cannot drift.

    At-most-one result row per ``id_col`` is guaranteed: a changeset
    carrying several upserts for the same road (two edits of one
    object in one diff window, or multiple diff files coalesced into
    one micro-batch) resolves to ONE row. With ``seq_col`` named and
    present (an OSM object version / diff sequence number), resolution
    is LAST-WINS on that column — edit recency, the semantics a
    coalesced multi-file batch actually wants — with null sequence
    numbers losing to any real one. Without it (or as the tie-break
    among equal sequence numbers), the greatest xxhash64 of the row's
    JSON decides: deterministic and order-independent
    (parquet/micro-batch row order is not), but unrelated to recency —
    so feeds without a sequence column SHOULD pre-resolve same-id
    edits; the hash rule only makes an unresolved feed deterministic
    instead of silently duplicating the key in the stored table.
    ``seq_col`` is dropped before inference (it is feed lineage, not a
    road attribute).

    ``assume_unique``: the caller guarantees at most one row per
    ``id_col`` (e.g. commit_road_batch's seq path already ran the
    per-id winner window over the FULL changeset, ops included) — skip
    the dedup window here instead of paying an identical, guaranteed
    no-op second shuffle per micro-batch."""
    from pyspark.sql import Window

    if assume_unique:
        deduped = upserted_roads
    else:
        row_hash = F.xxhash64(
            F.to_json(F.struct(*upserted_roads.columns))
        ).desc()
        if seq_col is not None and seq_col in upserted_roads.columns:
            order = [F.col(seq_col).desc_nulls_last(), row_hash]
        else:
            order = [row_hash]
        w = Window.partitionBy(id_col).orderBy(*order)
        deduped = (
            upserted_roads.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    if seq_col is not None and seq_col in deduped.columns:
        deduped = deduped.drop(seq_col)
    fresh = infer_speed_limits_native(
        deduped, ruleset, country_col=country_col, **infer_kwargs
    )
    if project is not None:
        fresh = project(fresh)
    return fresh


def apply_road_changeset(
    old_results: DataFrame,
    removed_ids: DataFrame,
    upserted_roads: DataFrame,
    ruleset,
    id_col: str = "road_id",
    country_col: str = "country_code",
    project=None,
    broadcast_ids: bool = True,
    seq_col: str | None = None,
    **infer_kwargs,
) -> DataFrame:
    """Apply a ROAD changeset to a stored inference-result table under
    an UNCHANGED ruleset: the row-keyed twin of :func:`reinfer_changed`
    (which handles the rule-change axis). Inference has no cross-row
    dependencies, so the update is exact by construction — drop every
    id the changeset names, infer the upserted rows, union; pinned
    bit-identical to a full re-inference of the implied corpus by
    test_rules_diff.

    ``removed_ids`` is a single-``id_col`` DataFrame naming rows that
    vanished; ``upserted_roads`` carries full road rows (new or
    re-tagged/moved — a modified road needs only its new row here, its
    id is dropped from the old results automatically). ``project``
    maps raw inference output onto ``old_results``' stored schema,
    same contract as :func:`reinfer_changed`.

    Scale shape: the dropped-id set is changeset-sized and broadcast
    into ONE left-anti join (the corpus-sized result table is scanned,
    never shuffled), and the inference side is the normal broadcast
    cascade over changeset-sized input. Pass ``broadcast_ids=False``
    for a BULK changeset (initial import, re-import wave) — the
    anti-join then degrades gracefully to a shuffle instead of
    overflowing the broadcast limit. Composes with the checkpointed
    job's partitioned write the same way reinfer_changed does.
    Duplicate same-id upserts resolve deterministically to one row
    (see :func:`infer_upserts`)."""
    touched = (
        removed_ids.select(id_col)
        .unionByName(upserted_roads.select(id_col))
        .distinct()
    )
    if broadcast_ids:
        touched = F.broadcast(touched)
    keep = old_results.join(touched, id_col, "left_anti")
    fresh = infer_upserts(
        upserted_roads, ruleset, id_col=id_col, country_col=country_col,
        project=project, seq_col=seq_col, **infer_kwargs,
    )
    return keep.unionByName(fresh.select(*old_results.columns))
