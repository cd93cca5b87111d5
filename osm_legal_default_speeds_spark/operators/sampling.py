"""Deterministic sampling for training-data pipelines.

Real corpus pipelines sample three ways, and all three must be
REPRODUCIBLE (a rerun, a different engine, or a different partition
count must pick the same rows — `df.sample()` guarantees none of
that):

- ``hash_sample``: Bernoulli by content hash — keep rows whose
  engine-portable unit hash (md5-prefix, operators.sketches) falls
  below the fraction. Deterministic in the KEY, independent of
  partitioning, engine, and row order; map-side only — one Filter in
  the scan stage, no shuffle (the md5 predicate itself cannot reach
  the parquet reader, but column pruning still applies).
- ``stratified_sample``: exactly n rows per group — the n SMALLEST
  unit hashes win. ``key_col`` must uniquely identify rows (use the id
  column, or sample after exact dedup): winners are selected BY KEY
  VALUE, so duplicate keys would return every row sharing a winning
  key and break the exactly-n contract. Implemented as the two-stage
  partial top-k (chunked per-partition sorts, no single hot reducer),
  not a global per-group sort.
- ``weighted_mixture``: per-group Bernoulli rates from a small
  weights table (the classic training-mixture reweighting, e.g.
  upsample curated sources / downsample crawl): broadcast the weights
  dim, filter map-side. Rows of groups absent from the weights table
  are dropped (explicit opt-in mixture).

``salt`` decorrelates repeated draws: different salts give
independent samples, the same salt reproduces the same sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from osm_legal_default_speeds_spark.operators.sketches import (
    _UNIT_DENOM,
    unit_hash,
)


def _salted_unit(col, salt: str):
    """Salted engine-portable unit hash — sketches.unit_hash over the
    salted key (kept as one expression so all sampling operators and
    their DuckDB twins share a single hash definition). Numeric keys
    cast through their plain string form (identical in DuckDB's
    implicit || cast)."""
    return unit_hash(F.concat(F.lit(salt + ":"), col.cast("string")))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed on ``key_col``.
    Rows with a NULL key are ALWAYS dropped (even at fraction=1.0):
    the salted hash of a null key is null and the comparison reads
    false — identical in the DuckDB twin, so the behavior is part of
    the cross-engine contract. Pre-coalesce the key if null-key rows
    must participate."""
    return df.where(_salted_unit(F.col(key_col), salt) < F.lit(fraction))


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    salt: str = "s0",
) -> DataFrame:
    """Exactly min(n, group size) rows per group — group size counted
    over NON-NULL keys: a null key hashes to null (sorts first in the
    winner struct) yet can never match the semi-join, so without the
    exclusion below it would silently consume a winner slot and the
    group would return n-1 rows. Null-key rows are never sampled,
    matching hash_sample's null contract. The n smallest salted unit
    hashes of ``key_col`` win, picked by ``similarity.topk_per_query``
    over the score -hash (negation is exact, so its (-score, key) order
    is (hash, key)): stage 1 slices n per (partition, group), so no
    reducer ever sorts a group's full membership in one task (the
    collect_list partial buffers themselves are not truncated before
    the exchange). A NULL group VALUE is a group like any other
    (matching the SQL twin's PARTITION BY) — the semi-join compares
    groups with eqNullSafe."""
    from osm_legal_default_speeds_spark.operators.similarity import (
        topk_per_query,
    )

    u = _salted_unit(F.col(key_col), salt).alias("__u")
    base = df.withColumn("__u", u)
    ranked = topk_per_query(
        base.where(F.col(key_col).isNotNull()).select(
            group_col, key_col, (-F.col("__u")).alias("__s")
        ),
        n,
        query_id_col=group_col,
        id_col=key_col,
        sim_col="__s",
    )
    winners = ranked.select(
        F.col(group_col).alias("__wg"), F.col(key_col).alias("__wk")
    )
    return (
        base.join(
            F.broadcast(winners),
            # eqNullSafe on the GROUP: groupBy keeps a null group key
            # (and so does the DuckDB twin's PARTITION BY), so the
            # null group must sample its n rows like any other — a
            # plain == would null-extend and silently drop the whole
            # group. The KEY comparison stays plain ==: null keys are
            # excluded from the winner set above by contract.
            base[group_col].eqNullSafe(F.col("__wg"))
            & (base[key_col] == F.col("__wk")),
            "left_semi",
        )
        .drop("__u")
    )


def weighted_mixture(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: dict[str, float],
    salt: str = "s0",
) -> DataFrame:
    """Per-group Bernoulli rates: keep a row iff its salted unit hash <
    its group's weight. Weights ship as a literal CASE (a broadcast
    join for a big weights table has the same plan shape); groups
    without a weight are dropped, and so are rows with a NULL key
    (null hash compares false — same contract as hash_sample)."""
    w = F.lit(None).cast("double")
    expr = None
    for g, frac in sorted(weights.items()):
        cond = F.col(group_col) == g
        expr = F.when(cond, F.lit(frac)) if expr is None else expr.when(
            cond, F.lit(frac)
        )
    w = expr.otherwise(F.lit(None)) if expr is not None else w
    return df.where(
        w.isNotNull() & (_salted_unit(F.col(key_col), salt) < w)
    )


def sample_sql_unit(col_expr: str, salt: str = "s0") -> str:
    """DuckDB twin of the salted unit hash."""
    return (
        f"(('0x' || substring(md5('{salt}:' || {col_expr}), 1, 15))::BIGINT"
        f" / {_UNIT_DENOM!r})"
    )


def spatial_split(
    df: DataFrame,
    lon_col: str,
    lat_col: str,
    res: int = 4,
    train: float = 0.8,
    val: float = 0.1,
    salt: str = "split0",
) -> DataFrame:
    """Leakage-free geographic train/val/test split: the split is a
    function of the enclosing grid CELL, never of the row, so two
    images meters apart (same landmark photographed twice, adjacent
    street-view frames) can never straddle train and test — the
    spatial-autocorrelation leak that makes random row splits
    overstate geo-model accuracy (spatial cross-validation; block by
    location, not by row). ``res`` sets the block size: pick it
    coarser than the autocorrelation range of the signal.

    Deterministic and engine-portable (salted md5 unit hash of the
    cell id), map-side only — a pure Column on the scan stage, zero
    shuffles, any partitioning. Adds a ``split`` column.

    NULL coordinates get a NULL split: a row without geography has no
    spatial block, and silently routing it to ``test`` (what a bare
    CASE's else-branch would do) skews the held-out set — callers
    decide whether such rows join a split or are dropped."""
    from osm_legal_default_speeds_spark.operators.spatial import grid_cell

    if not (0.0 <= train and 0.0 <= val and train + val <= 1.0):
        raise ValueError(
            f"spatial_split fractions out of range: train={train}, "
            f"val={val} (need train>=0, val>=0, train+val<=1; test "
            f"gets the 1-train-val remainder)"
        )
    # the null gate must be explicit: grid_cell's edge clamp uses
    # greatest/least, which SKIP nulls, so a null coordinate would
    # silently clamp into cell (0, 0) instead of propagating null
    cell = F.when(
        F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull(),
        grid_cell(F.col(lon_col), F.col(lat_col), res),
    )
    u = _salted_unit(cell, salt)
    return df.withColumn(
        "split",
        F.when(u < F.lit(train), F.lit("train"))
        .when(u < F.lit(train + val), F.lit("val"))
        .when(u.isNotNull(), F.lit("test")),
    )


def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_count_col,
    max_tokens: int,
    n_shards: int = 64,
    salt: str = "pack0",
) -> DataFrame:
    """Deterministic sequence packing for LLM training: assign every
    document to a (shard, seq_no) training-sequence slot by running
    token total: a document belongs to the sequence its FIRST token
    falls in (``floor(start / max_tokens)``) — the standard streaming
    packing rule. Guarantees: a shard's documents are contiguous
    across its sequences (no token gaps), and every sequence's total is
    < ``max_tokens`` + its largest document. NOT guaranteed: a minimum
    fill — a document overshooting a boundary can leave the next
    sequence mostly pre-consumed (average fill approaches
    ``max_tokens`` when documents are much smaller than the window,
    the regime packing is for).

    Deterministic by construction: shard = salted hash bucket of the
    key, order within a shard = (salted unit hash, key) — independent
    of input partitioning, so a rerun or another engine packs
    identically (the property that makes packed-dataset builds
    resumable and auditable). ``key_col`` must uniquely identify rows
    (pack AFTER dedup, or pass the id column): two rows with an equal
    key have no defined order, so a boundary straddling them would be
    assigned nondeterministically.

    Scale shape: ONE shuffle, keyed by shard (n_shards controls
    parallelism; the window's running sum is per-shard and streams in
    sort order — no global sort, no driver state). Returns the input
    plus (shard, seq_no).
    """
    if max_tokens <= 0:
        # floor(start / 0) is NULL under non-ANSI Spark: every row
        # would get a silent NULL seq_no (same failure class as
        # windowed_range_join's window_us guard)
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    # normalize a column-NAME string to a Column up front: F.sum would
    # tolerate the name, but the `cum - token_count_col` arithmetic
    # below would treat it as a string LITERAL (NumberFormatException
    # under ANSI, all-null seq_no silently without)
    tc = (
        F.col(token_count_col)
        if isinstance(token_count_col, str)
        else token_count_col
    )
    u = _salted_unit(F.col(key_col), salt)
    # shard from an independent salt so shard and order decorrelate;
    # same single hash definition (unit in [0,1) scaled and floored,
    # identical in the SQL twin)
    shard = F.floor(
        _salted_unit(F.col(key_col), salt + "/shard") * F.lit(n_shards)
    ).cast("int")
    base = df.withColumn("__u", u).withColumn("shard", shard)
    w = (
        Window.partitionBy("shard")
        .orderBy("__u", key_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(tc).over(w)
    seq = F.floor((cum - tc) / F.lit(max_tokens)).cast("long")
    return base.withColumn("seq_no", seq).drop("__u")
