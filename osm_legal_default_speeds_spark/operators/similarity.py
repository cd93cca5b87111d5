"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k (the exact baseline) and an LSH-bucketed
approximate variant (the scale path).

Numeric discipline: every reduction is an explicit sequential
left-to-right fold over doubles (``F.aggregate``), so results are
bit-reproducible and identical to the DuckDB oracle's ``list_reduce``
fold — no dependence on engine-internal summation order.

Scale shape:

- Brute force broadcasts the (small) query set; per input row the work
  is an O(Q*d) map-side loop in codegen — no shuffle until the final
  per-query top-k, which carries only (query_id, vec_id, sim).
  Top-k uses a window over query_id — Q partitions; for large Q,
  ``topk_per_query`` is the two-stage alternative.
- The LSH variant buckets both sides with random-hyperplane signatures
  (deterministic +-1 planes shipped as literals), joins on the bucket,
  and ranks within buckets: candidate count drops from N*Q to
  N*Q/2^planes on average; skewed buckets are split by AQE.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (order-pinned for reproducibility)."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _default_centroids(
    vectors: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """The deterministic first-``n_centroids``-by-id codebook shared by
    every entry point that defaults its centroids (ivf_topk,
    ivfpq_topk, semantic_dedup). The pushed-down ``id < n_centroids``
    filter is the cheap path, but it silently under-fills — or returns
    an EMPTY codebook — when ids don't start at 0 (sharded/offset ids
    are real; this module itself creates +10000-offset dup ids), which
    crashed the np kernels and made the Column path dedup/return
    nothing. Fall back to orderBy.limit (TakeOrdered, a per-partition
    partial top-k — no global sort) exactly like train_codebook's init
    does when the filter under-fills."""
    fast = vectors.where(F.col(id_col) < n_centroids)
    if fast.count() < n_centroids:
        fast = vectors.orderBy(id_col).limit(n_centroids)
    return fast.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("centroid_vec"),
    )


def _window_topk(
    scored: DataFrame, k: int, q: str, i: str, s: str
) -> DataFrame:
    """The per-query rank every ANN entry point ends with: row_number
    over (``s`` desc, ``i`` asc) within ``q``, keep ranks <= k. Ties
    break by id ascending (deterministic); output (q, i, s, rank)."""
    w = Window.partitionBy(q).orderBy(F.col(s).desc(), F.col(i).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q, i, s, "rank")
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast cross join + window
    rank. Ties break by vec_id ascending (deterministic)."""
    q = F.broadcast(queries.select(query_id_col, query_vec_col))
    scored = vectors.select(id_col, vec_col).crossJoin(q).select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim"),
    )
    return _window_topk(scored, k, query_id_col, id_col, "sim")


def hyperplanes(dim: int, num_planes: int, seed: int = 1) -> list[list[float]]:
    """Deterministic +-1 hyperplanes from a tiny LCG — identical
    literals on the Spark and oracle sides by construction."""
    planes = []
    state = seed & 0x7FFFFFFF
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append(1.0 if (state >> 16) & 1 else -1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit p = [dot(vec, plane_p) > 0],
    packed into a long. Sequential folds; plane vectors are literals."""
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        proj = dot(vec, lit_plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def probe_masks(num_planes: int, probe_radius: int) -> list[int]:
    """XOR masks of every bucket within Hamming distance
    ``probe_radius`` of a signature (mask 0 = the bucket itself),
    sorted for determinism."""
    from itertools import combinations

    masks = []
    for r in range(probe_radius + 1):
        for bits in combinations(range(num_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return sorted(masks)


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: equi-join on the hyperplane bucket, exact
    cosine rank within the probed buckets.

    ``probe_radius``: multi-probe recall control — each query also
    probes every bucket within this Hamming distance of its own
    signature (radius 1 adds ``len(planes)`` probes, lifting recall for
    near-boundary vectors where one projection flipped sign). Probing
    explodes only the BROADCAST query side; the vector side is still
    hashed once and joined once, and since each vector lives in exactly
    one bucket and a query's probe buckets are distinct, no (query,
    vector) pair is scored twice — no dedup shuffle needed."""
    v = vectors.select(
        id_col, vec_col, lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    q = queries.select(
        query_id_col,
        query_vec_col,
        lsh_bucket(F.col(query_vec_col), planes).alias("bucket"),
    )
    if probe_radius > 0:
        masks = probe_masks(len(planes), probe_radius)
        q = q.select(
            query_id_col,
            query_vec_col,
            F.explode(
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(m)).cast("long")
                        for m in masks
                    ]
                )
            ).alias("bucket"),
        )
    q = F.broadcast(q)
    scored = v.join(q, "bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim"),
    )
    return _window_topk(scored, k, query_id_col, id_col, "sim")


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec: Column,
    n: int,
    out: str,
    metric: str = "cosine",
) -> DataFrame:
    """Append ``out`` = array of the ``n`` nearest centroid ids by
    ``metric`` (ties by centroid id): broadcast codebook collected into
    one array column, per-row sort of (-sim, cid) structs. Map-side
    only.

    metric="cosine" is the ivf_topk oracle contract. metric="dot"
    scores dot(vec, cvec) — pass PRE-NORMALIZED centroids and the
    argmax equals cosine's at a third of the interpreted-fold cost
    (no norm(vec)/norm(cvec) recomputation per centroid); used by
    semantic_dedup."""
    cent = F.broadcast(centroids)
    joined = df.crossJoin(
        cent.groupBy().agg(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").alias("cid"),
                    F.col("centroid_vec").alias("cvec"),
                )
            ).alias("__cbook")
        )
    )
    if metric == "cosine":
        sim = lambda c: cosine(vec, c.getField("cvec"))
    elif metric == "dot":
        sim = lambda c: dot(vec, c.getField("cvec"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    cells = F.transform(
        F.col("__cbook"),
        lambda c: F.struct(
            (-sim(c)).alias("negcos"),
            c.getField("cid").alias("cid"),
        ),
    )
    return joined.withColumn(
        out,
        F.slice(
            F.transform(F.array_sort(cells), lambda s: s.getField("cid")),
            1,
            n,
        ),
    ).drop("__cbook")


def assign_cells_np(
    df: DataFrame,
    codebook: list[tuple[int, list[float]]],
    vec_col: str,
    n: int,
    out: str,
    tree_probe: int | None = None,
) -> DataFrame:
    """NumPy matmul production twin of ``assign_cells``: the C x d
    codebook ships normalized in the UDF closure; each Arrow batch
    scores ALL rows against ALL centroids with one matmul
    ((batch x d) @ (d x C)) and emits the ``n`` nearest centroid ids
    (ties by centroid id ascending, matching ``assign_cells``).

    Why it exists: the Column-fold ``assign_cells`` evaluates an
    interpreted higher-order cosine per (row, centroid) — fine at
    oracle scale (C <= 32), a scale-killer at production C (2^14+).
    Here the per-row cost is a vectorized C loop. ``assign_cells``
    stays the bit-exact oracle twin; this path is pinned by a
    tolerance/parity pytest (numpy pairwise summation differs from
    sequential folds in the last ulps).

    ``tree_probe``: two-level coarse quantization (the FAISS
    IVF-on-IVF shape) for codebooks where even ONE matmul against all
    C centroids is the bottleneck. The first ceil(sqrt(C)) centroids
    act as an L1 codebook (same deterministic-prefix convention as
    every codebook in this module); each centroid is pre-assigned to
    its nearest L1 parent in the closure, and each row scores the L1
    level first, then only the member centroids of its ``tree_probe``
    best L1 groups (expanding past ``tree_probe`` groups best-first
    only if they hold fewer than ``n`` candidates). Per-row cost drops
    from O(C*d) to O((sqrt(C)*tree_probe + sqrt(C))*d) expected —
    the flat-assignment term is what turns a grown-with-n codebook
    quadratic at 10^9 rows. APPROXIMATE by construction (the true
    nearest centroid can live under a non-probed L1 parent — same
    recall trade as IVF probing itself); ``tree_probe >= ceil(sqrt(C))``
    probes every group — the same candidate universe and tie-break as
    the flat scan, pinned equal up to last-ulp BLAS ties (per-group
    sub-matmuls may reduce in a different order than one full GEMM).
    The n=1 corpus-assignment case runs a fully vectorized kernel
    (rows grouped per probed L1 parent, one sub-matmul per group, a
    running (sim desc, cid asc) argmax — no per-row Python). Measured
    on the 200k-vec sf10 corpus with a stratified codebook, probe=4:
    C=4,081 flat 5.8 s vs tree 3.5 s (agreement 0.976); C=16,667
    flat 26.1 s vs tree 3.9 s — 6.7x, with the tree wall ~flat in C
    (the O(sqrt C) shape). The probing guarantee is a CLUSTERED-data
    property: on isotropic random vectors agreement degrades toward
    the probed fraction, which is not what embedding corpora look
    like (and is pinned by the clustered-fixture pytest).

    Map-side only — mapInPandas, no shuffle, no join."""
    cids = np.asarray([c[0] for c in codebook], dtype=np.int64)
    if cids.size and (
        cids.max() > np.iinfo(np.int32).max
        or cids.min() < np.iinfo(np.int32).min
    ):
        # the output schema stores cells as array<int>; a silent
        # pandas->Arrow wrap would alias rows into wrong cells
        raise ValueError(
            "centroid ids must fit int32 (cells are stored as "
            "array<int>); re-index the codebook to dense small ids"
        )
    cm = np.asarray([c[1] for c in codebook], dtype=np.float64)  # (C, d)
    cnorm = np.linalg.norm(cm, axis=1, keepdims=True)
    cnorm[cnorm == 0.0] = 1.0
    cn = cm / cnorm
    n_keep = min(n, len(cids))
    in_cols = df.columns
    schema = df.withColumn(
        out, F.array().cast("array<int>")
    ).schema

    use_tree = tree_probe is not None and len(cids) >= 4
    if tree_probe is not None and tree_probe < 1:
        raise ValueError(f"tree_probe must be >= 1, got {tree_probe}")
    if use_tree:
        n_l1 = int(math.ceil(math.sqrt(len(cids))))
        l1 = cn[:n_l1]  # (L1, d) — deterministic prefix convention
        # nearest L1 parent per centroid; np.argmax takes the FIRST
        # max, i.e. ties break to the lowest L1 index. Each group's
        # members are pre-sorted cid-ascending so a first-occurrence
        # argmax inside a group IS the lowest-cid tie-break.
        parents = np.argmax(cn @ l1.T, axis=1)  # (C,)
        groups = []
        for g in range(n_l1):
            members = np.where(parents == g)[0]
            groups.append(members[np.argsort(cids[members], kind="stable")])

    def _rank(row: np.ndarray, cand: np.ndarray) -> list[int]:
        """Deterministic (sim desc, cid asc) top-n_keep over the
        candidate positions, shared by both paths."""
        order = np.lexsort((cids[cand], -row))[:n_keep]
        return [int(cids[cand[i]]) for i in order]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.ndim == 1:  # empty batch
                pdf[out] = pd.Series([], dtype=object)
                yield pdf
                continue
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            mn = mat / norms
            cells = []
            if use_tree and n_keep == 1:
                # Vectorized corpus-assignment path (the case that
                # runs over 10^9 rows): NO per-row Python. Rows are
                # grouped by each of their tree_probe best L1 parents
                # in turn; each (probe rank, group) pair is ONE
                # sub-matmul over that group's members, folded into a
                # running (sim desc, cid asc) argmax. Probing the
                # same group at two ranks is harmless (running max).
                b = mn.shape[0]
                sims_l1 = mn @ l1.T  # (batch, L1)
                p_eff = min(tree_probe, n_l1)
                # p_eff best L1 groups per row; order within the
                # selection does not matter for a running max
                if p_eff < n_l1:
                    top_l1 = np.argpartition(
                        -sims_l1, p_eff - 1, axis=1
                    )[:, :p_eff]
                else:
                    top_l1 = np.broadcast_to(
                        np.arange(n_l1), (b, n_l1)
                    )
                best_sim = np.full(b, -np.inf)
                best_cid = np.full(b, np.iinfo(np.int64).max)
                for j in range(top_l1.shape[1]):
                    gids = top_l1[:, j]
                    for g in np.unique(gids):
                        members = groups[g]
                        if len(members) == 0:
                            continue
                        rows = np.where(gids == g)[0]
                        sims = mn[rows] @ cn[members].T
                        am = np.argmax(sims, axis=1)  # first max =
                        # lowest cid (members pre-sorted cid-asc)
                        ms = sims[np.arange(len(rows)), am]
                        mc = cids[members][am]
                        upd = (ms > best_sim[rows]) | (
                            (ms == best_sim[rows]) & (mc < best_cid[rows])
                        )
                        ri = rows[upd]
                        best_sim[ri] = ms[upd]
                        best_cid[ri] = mc[upd]
                # a row whose probed groups were ALL empty (possible
                # when parents concentrate) falls back to a flat scan
                miss = np.where(np.isinf(best_sim))[0]
                if len(miss):
                    sims = mn[miss] @ cn.T
                    for i, r in enumerate(miss):
                        row = sims[i]
                        cand = np.arange(len(cids))
                        best_cid[r] = _rank(row, cand)[0]
                cells = [[int(c)] for c in best_cid]
            elif use_tree:
                sims_l1 = mn @ l1.T  # (batch, L1)
                for r in range(mn.shape[0]):
                    # best-first L1 groups; stable sort = index-asc ties
                    order_l1 = np.argsort(-sims_l1[r], kind="stable")
                    parts: list[np.ndarray] = []
                    have = 0
                    for p, g in enumerate(order_l1):
                        if p >= tree_probe and have >= n_keep:
                            break
                        members = groups[g]
                        if len(members):
                            parts.append(members)
                            have += len(members)
                    cand = (
                        np.concatenate(parts)
                        if parts
                        else np.arange(len(cids))
                    )
                    row = mn[r] @ cn[cand].T
                    cells.append(_rank(row, cand))
            else:
                sims = mn @ cn.T  # (batch, C)
                for r in range(sims.shape[0]):
                    row = sims[r]
                    # partial select then full sort of the survivors;
                    # lexsort keys: primary -sim, secondary cid asc
                    if n_keep < len(cids):
                        cand = np.argpartition(-row, n_keep - 1)[:n_keep]
                        # argpartition breaks ties at the cutoff
                        # boundary arbitrarily; the contract is
                        # cid-ascending — so widen the candidate set
                        # with EVERY index tied at the boundary value
                        # before the deterministic sort (duplicate
                        # centroids are real in deduped corpora)
                        kth = row[cand].min()
                        cand = np.union1d(cand, np.where(row == kth)[0])
                    else:
                        cand = np.arange(len(cids))
                    cells.append(_rank(row[cand], cand))
            pdf = pdf.copy()
            pdf[out] = cells
            yield pdf

    return df.mapInPandas(assign, schema).select(*in_cols, out)


def train_codebook(
    vectors: DataFrame,
    n_centroids: int,
    n_iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Lloyd's k-means codebook for ``ivf_topk``: deterministic init
    (the first ``n_centroids`` vectors by id), cosine assignment, mean
    update. Each iteration is one Spark job — broadcast-codebook
    assignment (map-side) followed by a groupBy(cell) of per-dimension
    averages (64 codegen'd avg aggregates, no explode); the C x d
    result is tiny and collects to the driver, which builds the next
    codebook. Cells that lose all members keep their previous centroid.

    Returns a (centroid_id, centroid_vec) DataFrame pluggable straight
    into ``ivf_topk(centroids=...)``."""
    spark = vectors.sparkSession
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])

    # Deterministic init WITHOUT a full sort of the vector table: ids
    # below n_centroids are selected with a pushed-down filter (like
    # ivf_topk's default codebook) and ordered driver-side. Falls back
    # to the orderBy.limit global sort only when ids are sparse enough
    # that the filter under-fills the codebook.
    init = vectors.where(F.col(id_col) < n_centroids).collect()
    if len(init) < n_centroids:
        init = vectors.orderBy(id_col).limit(n_centroids).collect()
    # truncate after sorting: duplicate or negative ids can make the
    # filtered set larger than n_centroids, and the codebook size is a
    # contract (old behavior: orderBy.limit)
    init = sorted(init, key=lambda r: r[id_col])[:n_centroids]
    book = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(init)
    ]

    v = vectors.select(id_col, vec_col)
    for _ in range(n_iters):
        cent_df = spark.createDataFrame(
            book, "centroid_id int, centroid_vec array<double>"
        )
        assigned = assign_cells(v, cent_df, F.col(vec_col), 1, "__c")
        assigned = assigned.withColumn(
            "cell", F.element_at(F.col("__c"), 1)
        )
        means = (
            assigned.groupBy("cell")
            .agg(
                *[
                    F.avg(F.col(vec_col).getItem(i)).alias(f"d{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        new_book = dict(book)
        for r in means:
            new_book[r["cell"]] = [float(r[f"d{i}"]) for i in range(dim)]
        book = sorted(new_book.items())
    return spark.createDataFrame(
        book, "centroid_id int, centroid_vec array<double>"
    )


def topk_per_query(
    scored: DataFrame,
    k: int,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Scalable per-query top-k over a (query_id, vec_id, sim) frame —
    the large-Q alternative to ``Window.partitionBy(query_id)``.

    A global window puts EVERY candidate for a query on one task
    (full sort of that query's candidates); past broadcastable query
    sets the hot query becomes a straggler. Here stage 1 takes the
    partial top-k per (input partition, query) and stage 2 merges the
    partials with a tiny final agg per query; no global per-query sort
    ever happens and no reducer sees more than one chunk's candidates.

    Stage 1 is groupBy(partition_id, query) + collect_list + slice:
    all-native and plan-transparent, but ``collect_list``'s partial
    aggregation cannot truncate, so the stage-1 exchange still carries
    every candidate row (inside per-(partition, query) buffers) — the
    win over the window is skew-spreading and chunked sorts, NOT
    shuffle volume.

    Output rows/order semantics are identical to the window form:
    rank by (-sim, id asc), deterministic. One divergence at the edges:
    a NULL sim (zero-norm vector) sorts LAST under the window's
    DESC-nulls-last but FIRST in the struct array_sort; callers feeding
    zero-norm vectors should filter them (the ANN entry points never
    produce null sims on the unit-norm embeddings they document)."""
    entry = F.struct(
        (-F.col(sim_col)).alias("negsim"), F.col(id_col).alias("vid")
    )
    partial = (
        scored.groupBy(F.spark_partition_id().alias("__pid"), query_id_col)
        .agg(F.slice(F.array_sort(F.collect_list(entry)), 1, k).alias("__tk"))
        .select(query_id_col, F.explode("__tk").alias("__e"))
    )
    merged = (
        partial.groupBy(query_id_col)
        .agg(F.slice(F.array_sort(F.collect_list("__e")), 1, k).alias("__tk"))
        .select(query_id_col, F.posexplode("__tk").alias("__rank0", "__e"))
    )
    return merged.select(
        query_id_col,
        F.col("__e.vid").alias(id_col),
        (-F.col("__e.negsim")).alias(sim_col),
        (F.col("__rank0") + 1).cast("int").alias("rank"),
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_centroids: int,
    nprobe: int = 2,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: DataFrame | None = None,
    np_assign: bool = False,
    tree_probe: int | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer partitions vectors into
    centroid cells; each query probes its ``nprobe`` nearest cells and
    ranks exact cosine inside them. The classic inverted-file trade:
    recall grows with nprobe, cost with nprobe/n_centroids.

    ``centroids``: optional (centroid_id, centroid_vec) DataFrame — a
    trained k-means codebook in production. Defaults to a deterministic
    sample (the first ``n_centroids`` vectors by id), which keeps the
    operator fully oracle-checkable; the join/assignment shape is
    identical whichever codebook is supplied.

    Scale shape: the codebook is broadcast for both the vector-side
    cell assignment (map-side argmax of cosine over C centroids) and
    the query-side probe list; the candidate join is a bucket equi-join
    on cell id (AQE splits skewed cells), never all-pairs.

    ``np_assign``: production cell assignment — one matmul per Arrow
    batch via ``assign_cells_np`` instead of the interpreted
    per-centroid Column fold. Required at production C (2^14+), where
    the fold path would evaluate C higher-order cosines per row. The
    codebook is collected driver-side (C x d doubles — MBs even at
    2^16 x 768) and ships in the UDF closure.

    ``tree_probe``: two-level CORPUS-side cell assignment (see
    ``assign_cells_np``) — at 10^9 rows with a grown-with-corpus C,
    the flat n x C assignment matmul is the dominant term; the tree
    cuts it to ~sqrt(C) x (1 + tree_probe). Query-side probe lists
    stay flat/exact (queries are few). Approximate like any coarse
    probing; np_assign only."""
    if tree_probe is not None and not np_assign:
        raise ValueError(
            "tree_probe requires np_assign=True (the Column fold path "
            "has no two-level assignment — it would silently run the "
            "flat O(n*C*d) scan the caller asked to avoid)"
        )
    if centroids is None:
        centroids = _default_centroids(
            vectors, n_centroids, id_col, vec_col
        )
    if np_assign:
        book = [
            (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
            for r in centroids.collect()
        ]
        book.sort(key=lambda c: c[0])
        v = assign_cells_np(
            vectors.select(id_col, vec_col), book, vec_col, 1, "__vc",
            tree_probe=tree_probe,
        )
        q = assign_cells_np(
            queries.select(query_id_col, query_vec_col),
            book,
            query_vec_col,
            nprobe,
            "__qc",
        )
    else:
        v = assign_cells(
            vectors.select(id_col, vec_col),
            centroids,
            F.col(vec_col),
            1,
            "__vc",
        )
        q = assign_cells(
            queries.select(query_id_col, query_vec_col),
            centroids,
            F.col(query_vec_col),
            nprobe,
            "__qc",
        )
    v = v.withColumn("cell", F.element_at(F.col("__vc"), 1)).drop("__vc")
    q = q.select(
        query_id_col,
        query_vec_col,
        F.explode(F.col("__qc")).alias("cell"),
    )
    scored = v.join(F.broadcast(q), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(query_vec_col)).alias("sim"),
    )
    return _window_topk(scored, k, query_id_col, id_col, "sim")


def brute_force_topk_np(
    vectors: DataFrame,
    queries: list[tuple],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrow/NumPy fast path for exact cosine top-k: the query set is
    shipped as a normalized ndarray in the UDF closure; each Arrow
    batch computes ALL pairwise similarities with one matmul
    ((batch x d) @ (d x Q)) and emits per-batch partial top-k rows;
    the global per-query top-k is a final tiny window over
    (partitions x Q x k) candidate rows.

    ~100x over the fold-based Column path at scale (vectorized C loop
    vs interpreted per-element HOF). The fold path
    (``brute_force_topk``) stays the differential-oracle twin: numpy's
    pairwise-summation dot products differ from sequential folds in
    the last ulps, so this variant is pinned by a tolerance test, not
    the bit-exact oracle.

    ``queries``: list of (query_id, vector) pairs, small enough to
    broadcast in the closure (the classic ANN-serving shape).
    Zero-norm queries take the same 1e-300 clamp as the PQ kernels'
    shared ``_adc_tables`` (raw-dot scores instead of NaN poisoning the
    whole column); the fold twin emits NULL sims for that degenerate
    input — a documented twin divergence."""
    qids = [q[0] for q in queries]
    qm = np.asarray([q[1] for q in queries], dtype=np.float64)  # (Q, d)
    qn = qm / np.maximum(
        np.linalg.norm(qm, axis=1, keepdims=True), 1e-300
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                # empty Arrow batch: axis-1 ops on a (0,)-shaped mat
                # would raise (same guard as every sibling kernel)
                yield pd.DataFrame(
                    {"query_id": [], id_col: [], "sim": []}
                )
                continue
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (mat / norms) @ qn.T  # (batch, Q)
            n_keep = min(k, len(ids))
            # per-batch partial top-k per query. Tie-safe: a bare
            # argpartition cuts boundary ties arbitrarily (duplicate
            # embeddings score identically), making the partials
            # batch-layout-dependent; keeping every row tied with the
            # k-th value lets the final (sim desc, id asc) window stay
            # deterministic for any partitioning (same contract as the
            # PQ kernels).
            out_q, out_id, out_sim = [], [], []
            for qi in range(len(qids)):
                col = sims[:, qi]
                cand = _keep_topk_with_ties(col, n_keep)
                for i in cand:
                    out_q.append(qids[qi])
                    out_id.append(ids[i])
                    out_sim.append(col[i])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "sim": out_sim}
            )

    partial = vectors.select(id_col, vec_col).mapInPandas(
        score, f"query_id long, {id_col} long, sim double"
    )
    return _window_topk(partial, k, "query_id", id_col, "sim")


def embedding_near_dup_pairs(
    vectors: DataFrame,
    planes: list[list[float]],
    min_cosine: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join: rows in
    the same hyperplane bucket with cosine >= min_cosine. Each row's
    norm is staged as a column BEFORE the self-join so the O(pairs)
    term pays ONE interpreted dot fold per pair instead of three
    (cosine() would refold both sides' norms for every pair the row
    appears in); dot(a,b)/(na*nb) is the identical float expression,
    so the output is bit-identical to the inlined form."""
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("nrm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    # shuffle-hash self-join on the bucket: identical Exchange
    # subplans -> the hyperplane-signature pipeline is computed once
    # (ReuseExchange) and the vector table is never broadcast (see
    # operators/dedup.py::minhash_dedup_pairs for the full argument)
    a = v.hint("shuffle_hash").alias("a")
    b = v.hint("shuffle_hash").alias("b")
    return (
        a.join(b, "bucket")
        .where(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            (
                dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= min_cosine)
    )


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze & Schmid, "Product quantization
# for nearest neighbor search", TPAMI 2011) — the memory-compression
# scale path: a d-dim float vector (d x 8 bytes) becomes m single-byte
# codes, so a 100 TB float corpus serves ANN from ~1.5 TB of codes.
#
# Division of labor at scale:
# - training runs on a DETERMINISTIC pushed-down SAMPLE collected to
#   the driver (the standard practice — FAISS trains PQ on a sample);
#   the codebooks are m x ksub x (d/m) doubles, trivially broadcast;
# - ENCODING is the distributed pass: one narrow mapInPandas matmul
#   per subspace, no shuffle, output is the tiny codes column;
# - SERVING (adc) scans codes only: per query a (m x ksub) lookup
#   table is built once driver-side, each Arrow batch scores rows by
#   table-gather + sum (never touching floats of the corpus), with
#   per-batch partial top-k so the final window sees
#   partitions x Q x k candidate rows, exactly like
#   brute_force_topk_np.
# ---------------------------------------------------------------------------


def train_pq(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iters: int = 10,
    sample_ids: int = 4096,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Per-subspace Lloyd's k-means codebooks, shape (m, ksub, d/m).
    Deterministic: the sample is the pushed-down ``id < sample_ids``
    filter ordered by id, init is the first ksub sample subvectors,
    ties in assignment break to the lowest centroid index (argmin).

    Like ``_default_centroids`` / ``train_codebook``'s init, the cheap
    pushed-down filter silently under-fills when ids don't start at 0
    (sharded/offset ids — this module itself creates +10000-offset dup
    ids); fall back to orderBy.limit (TakeOrdered partial top-k, no
    global sort) so such corpora train on the requested sample size
    instead of a truncated — or empty — one."""
    rows = vectors.where(F.col(id_col) < sample_ids).select(
        id_col, vec_col
    ).collect()
    if len(rows) < sample_ids:
        rows = (
            vectors.orderBy(id_col)
            .limit(sample_ids)
            .select(id_col, vec_col)
            .collect()
        )
    rows.sort(key=lambda r: r[id_col])
    if not rows:
        raise ValueError("train_pq: input has no vectors to sample")
    X = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    if n < ksub:
        raise ValueError(f"sample of {n} rows cannot seed ksub={ksub}")
    dsub = d // m
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        C = Xs[:ksub].copy()
        for _ in range(n_iters):
            d2 = (
                (Xs * Xs).sum(1)[:, None]
                - 2.0 * (Xs @ C.T)
                + (C * C).sum(1)[None, :]
            )
            a = np.argmin(d2, axis=1)
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = Xs[mask].mean(0)
                # empty cells keep their previous centroid (same
                # convention as train_codebook)
        books[s] = C
    return books


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed PQ encoding: (id, codes array<int> of length m).
    One narrow mapInPandas pass; per subspace the batch scores all
    ksub centroids with a single matmul and argmins (the row's own
    squared norm is constant per row, so it is dropped)."""
    m, ksub, dsub = codebooks.shape
    books = codebooks.copy()
    cnorm = (books * books).sum(axis=2)  # (m, ksub)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.ndim == 1:  # empty batch: 2-D slicing would raise
                yield pd.DataFrame({id_col: [], "codes": []})
                continue
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                Xs = mat[:, s * dsub : (s + 1) * dsub]
                d2 = cnorm[s][None, :] - 2.0 * (Xs @ books[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, codes array<int>"
    )


def pq_decode_np(codes: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Reconstruct (n, d) vectors from (n, m) codes — test helper for
    the reconstruction-error invariant."""
    m, ksub, dsub = codebooks.shape
    return np.concatenate(
        [codebooks[s][codes[:, s]] for s in range(m)], axis=1
    )


def _adc_tables(queries: list[tuple], codebooks: np.ndarray):
    """The ADC lookup tables shared by :func:`pq_adc_topk` and
    :func:`ivfpq_topk`: ``qtab[qi, s, c]`` = normalized-query
    subvector . codebook entry, ``ntab[s, c]`` = |entry|^2. One
    construction site keeps the two kernels' float math in provable
    lockstep (the ivfpq degenerate-equality test depends on it); the
    zero-norm query guard lives here for the same reason."""
    m, ksub, dsub = codebooks.shape
    qids = [q[0] for q in queries]
    qm = np.asarray([q[1] for q in queries], dtype=np.float64)
    qn = qm / np.maximum(
        np.linalg.norm(qm, axis=1, keepdims=True), 1e-300
    )
    qtab = np.einsum(
        "qsd,scd->qsc", qn.reshape(len(qids), m, dsub), codebooks
    )
    ntab = (codebooks * codebooks).sum(axis=2)
    return qids, qn, qtab, ntab


def _keep_topk_with_ties(col: np.ndarray, n_keep: int) -> np.ndarray:
    """Indices of the ``n_keep`` best scores INCLUDING every row tied
    with the kept k-th value. A bare argpartition cuts boundary ties
    arbitrarily, which makes partial top-k batch-layout-dependent
    (identical PQ codes — real in deduped corpora — score identically);
    keeping the ties lets the final (score desc, id asc) window stay
    deterministic for any partitioning."""
    if col.size <= n_keep:
        return np.arange(col.size)
    part = np.argpartition(-col, n_keep - 1)[:n_keep]
    kth = col[part].min()
    return np.nonzero(col >= kth)[0]


def pq_adc_topk(
    codes_df: DataFrame,
    queries: list[tuple],
    codebooks: np.ndarray,
    k: int = 5,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, the m x ksub
    inner-product table q_s . c and the shared reconstructed-norm
    table |c|^2 are precomputed; each batch's score is a table gather
    + sum, normalized by the reconstructed vector norm (approximate
    cosine). Output (query_id, id, score, rank); per-batch partial
    top-k (boundary ties kept) keeps the final window tiny."""
    m = codebooks.shape[0]
    qids, _, qtab, ntab = _adc_tables(queries, codebooks)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            if len(ids) == 0:
                # same empty-batch guard as the ivfpq_topk kernel:
                # codes[:, s] on a 0-row batch would raise IndexError
                yield pd.DataFrame(
                    {"query_id": [], id_col: [], "score": []}
                )
                continue
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)
            sims = np.zeros((len(qids), len(ids)), dtype=np.float64)
            rn2 = np.zeros(len(ids), dtype=np.float64)
            for s in range(m):
                cs = codes[:, s]
                sims += qtab[:, s, :][:, cs]
                rn2 += ntab[s, cs]
            rn = np.sqrt(rn2)
            rn[rn == 0.0] = 1.0
            sims /= rn[None, :]
            out_q, out_id, out_sim = [], [], []
            for qi in range(len(qids)):
                col = sims[qi]
                for i in _keep_topk_with_ties(col, min(k, col.size)):
                    out_q.append(qids[qi])
                    out_id.append(ids[i])
                    out_sim.append(col[i])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "score": out_sim}
            )

    partial = codes_df.select(id_col, "codes").mapInPandas(
        score, f"query_id long, {id_col} long, score double"
    )
    return _window_topk(partial, k, "query_id", id_col, "score")


def _exact_rerank(
    vectors: DataFrame,
    cand: DataFrame,
    queries: list[tuple],
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Exact cosine re-rank of per-query candidate ids ``cand``
    (query_id, id): fetch only the candidate rows' full-precision
    vectors via a broadcast semi-join, score, window top-k. Shared by
    the PQ and IVF+PQ coarse-to-fine serving paths."""
    qdf = cand.sparkSession.createDataFrame(
        [(q[0], list(map(float, q[1]))) for q in queries],
        "query_id long, query_vec array<double>",
    )
    full = vectors.select(id_col, vec_col).join(
        F.broadcast(cand.select(id_col).distinct()), id_col, "left_semi"
    )
    scored = (
        cand.join(full, id_col)
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            id_col,
            cosine(F.col(vec_col), F.col("query_vec")).alias("sim"),
        )
    )
    return _window_topk(scored, k, "query_id", id_col, "sim")


def pq_adc_rerank_topk(
    vectors: DataFrame,
    codes_df: DataFrame,
    queries: list[tuple],
    codebooks: np.ndarray,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Coarse-to-fine PQ serving (the FAISS IVFPQ+refine composition):
    an ADC shortlist over the stored 1-byte-per-subspace codes, then an
    EXACT cosine re-rank of only the shortlisted candidates against the
    full-precision ``vectors``. Output (query_id, id, sim, rank) — sims
    are exact, so recall is bounded only by whether the true neighbors
    survive the shortlist (measured on the sf1 corpus: recall@10
    0.381 raw ADC -> 0.588 at shortlist=50 -> 0.738 at 200;
    BENCH/BASELINE.md).

    Scale shape: the corpus is scanned as CODES (m bytes/vector); only
    ``queries x shortlist`` full-precision rows move — fetched by a
    broadcast semi-join of the shortlist's candidate ids into the
    vector table — and the re-rank is a candidate-local window,
    never a corpus cross join."""
    short = pq_adc_topk(codes_df, queries, codebooks, k=shortlist, id_col=id_col)
    return _exact_rerank(
        vectors, short.select("query_id", id_col), queries, k, vec_col, id_col
    )


def ivfpq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    coarse_book: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fused coarse-cell assignment + PQ encoding: ONE mapInPandas pass
    emits ``(id, cell, codes)`` — the inverted-list layout the IVF+PQ
    scan wants STORED. Fusing matters twice: a separate
    assign-then-join pays a corpus-wide shuffle join of two stat-less
    UDF outputs (sort-merge, and the skinny post-join shuffle
    AQE-coalesces to a few partitions — the window-shuffle trap in
    CLAUDE.md), and stored cells let the serving scan prune unprobed
    cells at the source. ``coarse_book``: [(cid, vec)] sorted by cid —
    assignment is normalized-dot argmax with cid-ascending ties,
    matching :func:`assign_cells_np`; PQ codes match
    :func:`pq_encode` exactly."""
    m, ksub, dsub = codebooks.shape
    books = codebooks.copy()
    cnorm2 = (books * books).sum(axis=2)
    cids = np.asarray([c[0] for c in coarse_book], dtype=np.int64)
    if cids.size and (
        cids.max() > np.iinfo(np.int32).max
        or cids.min() < np.iinfo(np.int32).min
    ):
        # cell is stored as int (int32); silent truncation would alias
        # cells — same guard as assign_cells_np
        raise ValueError(
            "coarse centroid ids must fit int32 (cell column is int); "
            "re-index the codebook to dense small ids"
        )
    cm = np.asarray([c[1] for c in coarse_book], dtype=np.float64)
    cnm = np.linalg.norm(cm, axis=1, keepdims=True)
    cnm[cnm == 0.0] = 1.0
    cn = cm / cnm

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if mat.ndim == 1:  # empty batch
                yield pd.DataFrame(
                    {id_col: [], "cell": [], "codes": []}
                )
                continue
            norms = np.linalg.norm(mat, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            sims = (mat / norms) @ cn.T
            # book sorted by cid => argmax's first-max IS the lowest
            # cid among ties, matching assign_cells_np's lexsort
            cell = cids[np.argmax(sims, axis=1)].astype(np.int32)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                Xs = mat[:, s * dsub : (s + 1) * dsub]
                d2 = cnorm2[s][None, :] - 2.0 * (Xs @ books[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": cell,
                    "codes": list(codes),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        enc, f"{id_col} long, cell int, codes array<int>"
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: list[tuple],
    codebooks: np.ndarray,
    n_centroids: int,
    nprobe: int = 8,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    codes_df: DataFrame | None = None,
    rerank_shortlist: int | None = None,
) -> DataFrame:
    """IVF+PQ — the full production ANN composition (FAISS IndexIVFPQ):
    a coarse quantizer partitions the corpus into cells, each query
    probes its ``nprobe`` nearest cells, and asymmetric-distance PQ
    scoring runs over ONLY the probed cells' byte codes. With
    ``rerank_shortlist`` set, the ADC shortlist is re-ranked exactly
    against the full-precision vectors (coarse -> code -> exact).

    Invariant (pinned by test): ``nprobe == n_centroids`` degenerates
    to the full ADC scan — bit-identical to :func:`pq_adc_topk` — so
    cell pruning is the ONLY approximation this operator adds on top
    of PQ itself.

    Scale shape at 10^9+ rows: the corpus is stored and scanned as
    ``(cell, m-byte code)`` rows (:func:`ivfpq_encode` — pass its
    output as ``codes_df``, or leave ``codes_df=None`` to fuse encode
    into this call); an IN-list filter on the union of all probed
    cells prunes the scan itself, the Arrow kernel then ADC-gathers
    each query's scores over ONLY its own probed rows (per-query index
    mask — never a per-query join, and never a full Q x N matrix),
    the coarse codebook and probe lists ship in the UDF closure
    (C x d doubles — MBs), and the optional re-rank moves only
    queries x shortlist full-precision rows. A ``codes_df`` WITHOUT a
    cell column is accepted but pays a corpus-wide join of two
    stat-less UDF outputs — store cells with the codes instead.
    ``centroids`` defaults to the deterministic
    first-``n_centroids``-by-id codebook (same convention as
    :func:`ivf_topk`); pass a trained k-means codebook in
    production."""
    if centroids is None:
        centroids = _default_centroids(
            vectors, n_centroids, id_col, vec_col
        )
    book = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in centroids.collect()
    ]
    book.sort(key=lambda c: c[0])
    # coarse codebook + per-query probe lists, driver-side (C x d)
    cids = np.asarray([c[0] for c in book], dtype=np.int64)
    cmat = np.asarray([c[1] for c in book], dtype=np.float64)
    cnm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnm[cnm == 0.0] = 1.0
    cn = cmat / cnm
    qids, qn, qtab, ntab = _adc_tables(queries, codebooks)
    sims_qc = qn @ cn.T
    nprobe = min(nprobe, len(book))
    probe_arrs = []
    for qi in range(len(qids)):
        # same normalized-dot + cid-ascending tie-break as
        # assign_cells_np / the fused encoder
        order = np.lexsort((cids, -sims_qc[qi]))[:nprobe]
        probe_arrs.append(np.sort(cids[order]))

    if codes_df is None:
        coded = ivfpq_encode(
            vectors, codebooks, book, vec_col=vec_col, id_col=id_col
        )
    elif "cell" in codes_df.columns:
        # the stored inverted-list layout (ivfpq_encode output)
        coded = codes_df
    else:
        # compatibility: codes stored without cells — pay one join of
        # two UDF outputs. Store cells with the codes instead
        # (ivfpq_encode): the stat-less join-back picks sort-merge and
        # its skinny output AQE-coalesces to a few partitions, the
        # window-shuffle trap CLAUDE.md documents.
        cells = assign_cells_np(
            vectors.select(id_col, vec_col), book, vec_col, 1, "__vc"
        ).select(id_col, F.element_at(F.col("__vc"), 1).alias("cell"))
        coded = codes_df.join(cells, id_col)
    # scan ONLY rows in some query's probed cell: the IN-list prunes
    # at the scan (or right after the fused encode), so the kernel
    # never sees the (C - probed)/C fraction of the corpus
    all_probed = sorted({int(c) for arr in probe_arrs for c in arr})
    coded = coded.where(F.col("cell").isin(all_probed))

    m = codebooks.shape[0]

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            cell_arr = pdf["cell"].to_numpy()
            codes = np.asarray(list(pdf["codes"]), dtype=np.int64)
            if len(ids) == 0:
                yield pd.DataFrame(
                    {"query_id": [], id_col: [], "score": []}
                )
                continue
            # reconstructed norms once per row (shared across queries)
            rn2 = np.zeros(len(ids), dtype=np.float64)
            for s in range(m):
                rn2 += ntab[s, codes[:, s]]
            rn = np.sqrt(rn2)
            rn[rn == 0.0] = 1.0
            out_q, out_id, out_sim = [], [], []
            n_keep_target = k if rerank_shortlist is None else rerank_shortlist
            for qi in range(len(qids)):
                idx = np.nonzero(np.isin(cell_arr, probe_arrs[qi]))[0]
                if idx.size == 0:
                    continue
                # ADC gather over ONLY the probed rows — same per-
                # element adds as pq_adc_topk's full-matrix kernel, so
                # nprobe = C stays bit-identical to the full scan
                acc = np.zeros(idx.size, dtype=np.float64)
                sub = codes[idx]
                for s in range(m):
                    acc += qtab[qi, s, sub[:, s]]
                col = acc / rn[idx]
                for i in _keep_topk_with_ties(
                    col, min(n_keep_target, idx.size)
                ):
                    out_q.append(qids[qi])
                    out_id.append(ids[idx[i]])
                    out_sim.append(col[i])
            yield pd.DataFrame(
                {"query_id": out_q, id_col: out_id, "score": out_sim}
            )

    partial = coded.select(id_col, "codes", "cell").mapInPandas(
        score, f"query_id long, {id_col} long, score double"
    )
    kk = k if rerank_shortlist is None else rerank_shortlist
    short = _window_topk(partial, kk, "query_id", id_col, "score")
    if rerank_shortlist is None:
        return short
    return _exact_rerank(
        vectors, short.select("query_id", id_col), queries, k, vec_col, id_col
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup: Abbas et al. 2023,
# arXiv:2303.09540) — cluster the embedding space with a coarse
# codebook, then inside each cluster drop every vector that has a
# lower-id near-identical neighbor (cosine >= min_cosine). The cluster
# pass turns the O(n^2) pairwise scan into O(n^2 / C): production runs
# pick C ~ n/1000 so each cell holds ~10^3 vectors and the per-cell
# self-join stays tiny; the oracle-scale default (first-n codebook,
# interpreted fold cosine) is exactly ivf_topk's, and the production
# assignment path is assign_cells_np (NumPy matmul, mapInPandas).
# ---------------------------------------------------------------------------


def semantic_dedup(
    vectors: DataFrame,
    n_centroids: int | str = "auto",
    min_cosine: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    np_assign: bool = False,
    np_pairs: bool = False,
    target_cell_rows: int = 1024,
    tree_probe: int | None = None,
) -> DataFrame:
    """Keep one representative of every cluster-local near-duplicate
    group: (``id_col``, cell) for surviving rows.

    Drop rule: a row is dropped iff SOME lower-id row in its cell has
    cosine >= min_cosine with it, where cosine is evaluated as the dot
    of the per-row pre-normalized vectors (mathematically identical to
    dot/(|a||b|), last-ulp different — the oracle twin mirrors the
    normalized form exactly). This is the deterministic greedy variant of
    SemDeDup's keep-one rule — no component closure needed, because
    semantic dup groups are cliques at practical thresholds; contrast
    drop_near_dups, which closes over components for text). The cell
    self-join uses SHUFFLE_HASH hints on both (identical) sides so the
    assignment pipeline is computed once (ReuseExchange) and nothing
    corpus-sized is broadcast; the final anti-join broadcasts the
    known-small loser set explicitly.

    Scale guidance (measured on the synthetic sf1 decade, see
    BENCH/BASELINE.md): total cost is O(n*C*d) assignment plus
    O(n^2/C*d) in-cell pairs, so ``n_centroids`` must GROW with the
    corpus to keep cells bounded — a fixed C reads as a quadratic
    decade slope. That guidance is now the DEFAULT:
    ``n_centroids="auto"`` sizes the codebook as
    ``ceil(n / target_cell_rows)`` from one count of the input, which
    keeps expected cell population constant across corpus growth and
    the decade slope output-proportional. Pass an explicit int to pin
    the codebook (the driver-oracle query does, so its SQL twin can
    enumerate the same first-C centroids). Past ~10k rows/cell the
    in-cell work is matmul-shaped and ``np_assign``/``np_pairs`` win
    decisively (20k vecs: 23 s interpreted at C=32 vs 3.4 s numpy at
    C=320); below that the interpreted Column path is faster (0.96 s
    vs ~2 s at 2k vecs) because Arrow transfer dominates.

    The residual asymptotic term: with auto C = n/target, the flat
    assignment matmul is O(n*C*d) = O(n^2*d/target) — negligible at
    sandbox scales, the dominant term at 10^9 rows. ``tree_probe``
    (np_assign only) switches the assignment to the two-level coarse
    quantizer in ``assign_cells_np`` (O(n*sqrt(C)*(1+probe)*d)),
    trading exact cell assignment for probed assignment exactly like
    IVF serving does; near-identical vectors score identically and
    therefore land in the SAME probed cell, so planted-duplicate
    recall is unaffected (pinned by pytest)."""
    v_in = vectors.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if n_centroids == "auto":
        if centroids is not None:
            n_centroids = 0  # unused: the codebook is caller-supplied
        else:
            n = v_in.count()
            n_centroids = max(1, -(-n // target_cell_rows))
    elif not isinstance(n_centroids, int):
        raise ValueError(
            f"n_centroids must be an int or 'auto', got {n_centroids!r}"
        )
    if tree_probe is not None and not np_assign:
        raise ValueError(
            "tree_probe requires np_assign=True (the Column fold path "
            "has no two-level assignment)"
        )
    if centroids is None:
        centroids = _default_centroids(v_in, n_centroids, "vid", "vec")
    # Normalize the (tiny) codebook once, then assign by plain DOT:
    # same argmax as cosine (|vec| is constant across centroids,
    # |cnvec| = 1) at a third of the interpreted-fold cost per
    # (row, centroid). The norm is staged as its OWN column so the
    # interpreted transform pays it once per centroid, not once per
    # ELEMENT (no HOF CSE — the same trap the row side below stages
    # nrm for); same arithmetic per element, bit-identical output.
    cn = centroids.withColumn("__cnrm", norm(F.col("centroid_vec"))).select(
        "centroid_id",
        F.transform(
            F.col("centroid_vec"),
            lambda x: x.cast("double") / F.col("__cnrm"),
        ).alias("centroid_vec"),
    )
    if np_assign:
        codebook = [
            (r["centroid_id"], list(r["centroid_vec"]))
            for r in cn.collect()
        ]
        # sort by centroid id: collect() order is partition order, and
        # assign_cells_np's tree_probe L1 level is the codebook PREFIX
        # — an unsorted book would make the probed assignment depend
        # on the run's partitioning (the flat path lexsorts on cid and
        # is order-proof either way)
        codebook.sort(key=lambda c: c[0])
        assigned = assign_cells_np(
            v_in, codebook, "vec", 1, "cells", tree_probe=tree_probe
        )
    else:
        assigned = assign_cells(
            v_in, cn, F.col("vec"), 1, "cells", metric="dot"
        )
    # Stage NORMALIZED vectors before the pair join, with the norm as
    # its OWN column referenced twice — Catalyst's CollapseProject
    # would otherwise re-inline the norm fold into the transform
    # lambda and evaluate it once PER ELEMENT (no HOF CSE, see
    # CLAUDE.md); the shuffle on cell then materializes nvec, so each
    # of the O(n^2/C) pairs pays ONE dot fold instead of three.
    staged = assigned.withColumn("nrm", norm(F.col("vec")))
    v = staged.select(
        "vid",
        F.transform(
            F.col("vec"), lambda x: x.cast("double") / F.col("nrm")
        ).alias("nvec"),
        "nrm",
        F.element_at("cells", 1).alias("cell"),
    )
    if np_pairs:
        # Production pair scoring (the shape SemDeDup actually runs):
        # one dense (m x d) @ (d x m) matmul per cell via
        # applyInPandas — ONE exchange on cell, no row-pair
        # multiplication through the shuffle. Cells are sized ~n/C by
        # codebook choice, so m ~ 10^3 and the matmul is trivial.
        # Rows-only semantics (numpy pairwise summation differs from
        # the fold in the last ulps); fold-path parity is pytest-pinned.
        def drop_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            vids = pdf["vid"].to_numpy()
            order = np.argsort(vids)
            vids = vids[order]
            mat = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["nvec"]]
            )[order]
            sims = mat @ mat.T
            iu = np.triu_indices(len(vids), k=1)
            losers = np.unique(iu[1][sims[iu] >= min_cosine])
            return pd.DataFrame({"vid": vids[losers]})

        losers = v.groupBy("cell").applyInPandas(drop_cell, "vid long")
    else:
        a = v.hint("shuffle_hash").alias("a")
        b = v.hint("shuffle_hash").alias("b")
        pair_dot = F.aggregate(
            F.zip_with(
                F.col("a.nvec"), F.col("b.nvec"), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        losers = (
            a.join(b, "cell")
            .where(F.col("a.vid") < F.col("b.vid"))
            .where(pair_dot >= F.lit(min_cosine))
            .select(F.col("b.vid").alias("vid"))
            .distinct()
        )
    return (
        v.select("vid", "cell")
        .join(F.broadcast(losers), "vid", "left_anti")
        # surface the caller's id name, not the internal alias
        .select(F.col("vid").alias(id_col), "cell")
    )
