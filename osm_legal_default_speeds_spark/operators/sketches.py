"""Mergeable sketches for corpus statistics, built to be
ORACLE-REPRODUCIBLE: the hash is an md5-prefix (identical in any
engine), the merge is a deterministic k-smallest set union, and the
estimator is plain double arithmetic — so unlike HLL(++), whose
register layout is engine-private, every number a sketch produces here
can be recomputed bit-for-bit by the DuckDB twin.

KMV (k minimum values) distinct-count sketch — public algorithm
(Bar-Yossef et al., "Counting distinct elements in a data stream",
RANDOM'02): hash every value to a uniform unit double, keep the k
smallest DISTINCT hashes; if fewer than k distinct hashes exist the
count is exact, otherwise estimate (k-1) / kth_smallest. Standard
error ~ 1/sqrt(k-2).

Scale shape (the reason to sketch at all): stage 1 truncates to the k
smallest distinct hashes PER INPUT PARTITION — groupBy(group,
partition_id) + collect_list + slice — before the merge, so the merge
exchange carries at most partitions x k doubles per group, versus
COUNT(DISTINCT), whose exchange carries every distinct value.
``collect_list``'s partial aggregation cannot truncate, so the stage-1
exchange still carries one 8-byte hash per input row (far narrower than
raw values). The plan is all-native: no Python worker runs, and the
output matches the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_UNIT_DENOM = float(1 << 60)  # md5 15-hex-digit prefix spans [0, 16^15)


def unit_hash(col: Column) -> Column:
    """Engine-portable uniform hash to [0, 1): first 15 hex digits of
    md5 as a long over 16^15. Identical in DuckDB:
    ``('0x' || substring(md5(x), 1, 15))::BIGINT / 2^60``."""
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return h / F.lit(_UNIT_DENOM)


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Per-group KMV distinct-count estimate for ``col``.

    Output: group cols + ``est_distinct`` (double; EXACT when the group
    has fewer than k distinct hashes) + ``kmv_k`` (the k actually
    available, = min(k, distinct), letting a reader judge the error
    bar). NULL and NaN group keys stay distinct groups, as in Spark's
    and DuckDB's GROUP BY; see the module docstring for the plan.
    """
    if k < 2:
        # the estimator divides (k-1) by the kth smallest hash: k=0
        # would index ks[0] (a runtime INVALID_ARRAY_INDEX — SQL
        # arrays are 1-based) and k=1 estimates 0 for every saturated
        # group; the KMV error bound (~1/sqrt(k-2)) wants k >> 2 anyway
        raise ValueError(f"kmv_distinct needs k >= 2, got {k}")
    groups = list(group_cols or [])
    u = unit_hash(F.col(col)).alias("__u")
    part = F.spark_partition_id().alias("__pid")
    # null values are ignored BEFORE grouping (the oracle's WHERE col
    # IS NOT NULL): a group with only null values emits no row
    hashed = df.where(F.col(col).isNotNull()).select(*groups, u, part)

    k_smallest = F.slice(
        F.array_sort(F.array_distinct(F.collect_list("__u"))), 1, k
    ).alias("__ks")
    stage1 = (
        hashed.groupBy(*groups, "__pid")
        .agg(k_smallest)
        .select(*groups, F.explode("__ks").alias("__u"))
    )
    merged = stage1.groupBy(*groups).agg(k_smallest)
    n = F.size("__ks")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.element_at("__ks", k)
    )
    return merged.select(
        *groups,
        est.alias("est_distinct"),
        F.least(n, F.lit(k)).cast("long").alias("kmv_k"),
    )


def kmv_sql(table_expr: str, col: str, k: int, group_cols: list[str]) -> str:
    """DuckDB twin of ``kmv_distinct`` (same hash, same merge, same
    estimator — bit-identical output)."""
    g = ", ".join(group_cols)
    gsel = (g + ",") if g else ""
    gby = f"GROUP BY {g}" if g else ""
    return f"""
WITH hashed AS (
  SELECT {gsel}
    (('0x' || substring(md5({col}), 1, 15))::BIGINT / {_UNIT_DENOM!r}) AS u
  FROM {table_expr}
  WHERE {col} IS NOT NULL  -- null inputs are ignored, as in Spark
),
merged AS (
  SELECT {gsel}
    list_slice(list_sort(list_distinct(list(u))), 1, {k}) AS ks
  FROM hashed {gby}
)
SELECT {gsel}
  CASE WHEN len(ks) < {k} THEN len(ks)::DOUBLE
       ELSE {float(k - 1)!r} / ks[{k}] END AS est_distinct,
  LEAST(len(ks), {k}) AS kmv_k
FROM merged
"""


# ---------------------------------------------------------------------------
# Histogram-based exact quantiles (discrete domains)
# ---------------------------------------------------------------------------

def group_quantiles_disc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: list[float],
) -> DataFrame:
    """Exact discrete (type-1) quantiles per group: for each p the
    SMALLEST value whose cumulative count reaches ceil(p * n). Pure
    selection — no interpolation arithmetic — so the result is a real
    data value and bit-identical in any engine.

    NULL values are excluded up front: quantiles are defined over the
    non-null values (NULLs would inflate n), and the engines sort them
    oppositely (Spark windows are NULLS FIRST, DuckDB NULLS LAST), so
    keeping them would shift the cumulative counts differently per
    engine. A group with only NULL values emits no row.

    Output: group_col, n (group NON-NULL row count), q_<p> per
    requested p (quantile column names use the percent with
    '.' -> '_').

    Scale shape (the point): a naive per-group sort is a full shuffle
    of the DATA; here the first aggregation collapses rows into a
    (group, value) HISTOGRAM — map-side combined, so the exchange
    carries one row per distinct value per group per map task. For
    discrete domains (token counts, lengths, status codes) that
    histogram is tiny regardless of corpus size; the cumulative-sum
    window then runs over histogram rows only. ceil(p * n) is IEEE
    double multiply + ceil in BOTH engines, so boundary cases (0.9 * n
    landing on an exact integer's ulp neighborhood) resolve
    identically."""
    from pyspark.sql import Window

    bad = [p for p in ps if not 0.0 < p <= 1.0]
    if bad:
        # p > 1 makes ceil(p*n) unreachable -> a silent NULL quantile
        # on every group; p <= 0 is not a type-1 quantile (ceil(0)=0
        # degenerates to the minimum regardless of p)
        raise ValueError(f"quantile probabilities must be in (0, 1]: {bad}")
    hist = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w_cum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = hist.withColumn("__cum", F.sum("__cnt").over(w_cum)).withColumn(
        "__n", F.sum("__cnt").over(w_all)
    )
    aggs = [F.max("__n").cast("long").alias("n")]
    for p in ps:
        name = "q_" + str(p).replace(".", "_")
        target = F.ceil(F.lit(float(p)) * F.col("__n").cast("double"))
        aggs.append(
            F.min(
                F.when(F.col("__cum") >= target, F.col(value_col))
            ).alias(name)
        )
    return cum.groupBy(group_col).agg(*aggs)


def group_quantiles_sql(
    table_expr: str, group_col: str, value_col: str, ps: list[float]
) -> str:
    """DuckDB twin of ``group_quantiles_disc`` — same histogram,
    cumulative window, ceil(p*n) selection, and NULL-value exclusion."""
    qcols = ",\n  ".join(
        f"MIN(CASE WHEN cum >= CEIL({float(p)!r} * n::DOUBLE) "
        f"THEN {value_col} END) AS q_{str(p).replace('.', '_')}"
        for p in ps
    )
    return f"""
WITH hist AS (
  SELECT {group_col}, {value_col}, COUNT(*) AS cnt
  FROM {table_expr}
  WHERE {value_col} IS NOT NULL  -- quantiles over non-null values
  GROUP BY {group_col}, {value_col}
),
cum AS (
  SELECT {group_col}, {value_col}, cnt,
    SUM(cnt) OVER (
      PARTITION BY {group_col} ORDER BY {value_col}
      ROWS UNBOUNDED PRECEDING
    ) AS cum,
    SUM(cnt) OVER (PARTITION BY {group_col}) AS n
  FROM hist
)
SELECT {group_col}, MAX(n)::BIGINT AS n,
  {qcols}
FROM cum GROUP BY {group_col}
"""


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan, "An improved data stream
# summary: the count-min sketch and its applications", J. Algorithms
# 2005). depth x width integer counters; point estimate = min over the
# depth rows. All-integer, md5-prefix-hashed -> every estimate is
# bit-identical in the DuckDB twin.
#
# Scale shape: the sketch build is explode(depth) -> groupBy(j, bucket)
# COUNT(*); partial aggregation truncates each map task's contribution
# to <= depth x width rows BEFORE the exchange, so the shuffle carries
# O(tasks x depth x width) counters no matter how many input values —
# the entire reason to sketch frequencies instead of groupBy(value).
# Lookups broadcast the (<= depth x width)-row sketch.
# ---------------------------------------------------------------------------


def bucket_hash(col: Column, j: int, width: int) -> Column:
    """Row j's bucket for a value: md5 15-hex prefix of ``"j:" + value``
    as a positive long, mod width. DuckDB twin:
    ``('0x' || substring(md5(j::VARCHAR || ':' || x), 1, 15))::BIGINT
    % width``."""
    if width < 1:
        # h % 0 is a silent NULL under non-ANSI Spark
        raise ValueError(f"bucket_hash needs width >= 1, got width={width}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 15), 16, 10
    ).cast("long")
    return h % F.lit(int(width))


def _check_cms_params(depth: int, width: int) -> None:
    # width=0 makes every bucket `h % 0` — a silent NULL under
    # non-ANSI Spark, so the whole sketch collapses into one NULL
    # bucket per row; depth=0 explodes an empty array and silently
    # drops every input/probe row
    if depth < 1 or width < 1:
        raise ValueError(
            f"count-min sketch needs depth >= 1 and width >= 1, got "
            f"depth={depth}, width={width}"
        )


def _jb_structs(col: str, depth: int, width: int) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                bucket_hash(F.col(col), j, width).alias("bucket"),
            )
            for j in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Build the sketch: one pass, each value lands in one bucket per
    depth row. Returns (j int, bucket long, c long) — at most
    depth x width rows (absent buckets are zero)."""
    _check_cms_params(depth, width)
    jb = F.explode(_jb_structs(col, depth, width)).alias("jb")
    return (
        df.select(jb)
        .groupBy(F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-estimate the count of each probe value: min over the
    depth rows, with absent buckets counting 0. The sketch side is
    broadcast (it is <= depth x width rows by construction)."""
    _check_cms_params(depth, width)
    pj = probes.select(
        F.col(col), F.explode(_jb_structs(col, depth, width)).alias("jb")
    ).select(col, F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    joined = pj.join(F.broadcast(sketch), ["j", "bucket"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cms_count")
    )


def cms_sql(
    table_expr: str,
    col: str,
    probe_expr: str,
    depth: int = 4,
    width: int = 256,
) -> str:
    """DuckDB twin of cms_sketch + cms_lookup over ``table_expr``'s
    ``col`` values, probing the values produced by ``probe_expr`` (a
    SELECT yielding one column named ``tok``). Bit-identical: integer
    counters, identical hash."""
    return f"""
WITH vals AS (SELECT {col} AS v FROM {table_expr}),
js AS (SELECT unnest(range(0, {depth})) AS j),
sk AS (
  SELECT j,
         ('0x' || substring(md5(j::VARCHAR || ':' || v), 1, 15))::BIGINT
           % {width} AS bucket,
         COUNT(*)::BIGINT AS c
  FROM vals CROSS JOIN js GROUP BY 1, 2
),
probes AS ({probe_expr}),
pj AS (
  SELECT p.tok, j.j,
         ('0x' || substring(md5(j.j::VARCHAR || ':' || p.tok), 1, 15))::BIGINT
           % {width} AS bucket
  FROM probes p CROSS JOIN js j
)
SELECT pj.tok, MIN(COALESCE(sk.c, 0))::BIGINT AS cms_count
FROM pj LEFT JOIN sk ON pj.j = sk.j AND pj.bucket = sk.bucket
GROUP BY 1
"""
