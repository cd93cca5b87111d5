"""Deduplication operators: exact, MinHash+LSH, SimHash banding,
n-gram Jaccard — the wide half of a training-data pipeline.

Design for 100 TB:

- **Exact dedup** groups by a fixed-width digest of the payload
  (md5/sha2), never by the payload itself: the shuffle carries 16-32
  bytes + ids per row, not documents/images.
- **MinHash LSH** is fully native Column algebra: shingling via
  higher-order array functions, per-permutation hashes via ``xxhash64``
  (JVM, seeded) or md5-prefix strings (engine-portable for the DuckDB
  oracle), banding via digest-of-slice. Candidate generation is an
  equi-join on (band, key) — row multiplication bounded by collision
  rate, never a cross product. Signatures (64 x 8B) are the only wide
  payload.
- **SimHash** banding reuses the pigeonhole trick on bit-bands of one
  64/16-bit fingerprint (see payload.images.phash_near_dup_pairs for the
  image twin).
- Self-joins carry an ``id_a < id_b`` predicate inside the join
  condition so Catalyst prunes the mirrored half before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from osm_legal_default_speeds_spark.operators.textops import tokens


def widen_narrow_scan(df: DataFrame, partitions: int | None) -> DataFrame:
    """Optionally repartition a narrow source BEFORE a CPU-amplifying
    map stage (tokenize -> shingle -> explode multiplies rows ~n_tokens
    times and is the dominant cost of the MinHash pipeline).

    Why this exists: scan parallelism is bounded by parquet row groups.
    A small input (one file, one row group) scans as 1-2 tasks, so the
    expensive map stage runs 2-wide however many cores the cluster has
    — measured 2.0x end-to-end on the sf0.1 bench (3.2 s -> 1.6 s at
    local[32]). Shuffling the RAW docs here moves 1x data to unlock
    N-wide execution of the ~shingles-per-doc x amplification that
    follows.

    At 100 TB the corpus has thousands of row groups and scan splits
    already exceed cores — leave ``partitions=None`` (no-op) there;
    an unconditional repartition would be a full-corpus shuffle."""
    return df if partitions is None else df.repartition(partitions)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups by content digest: (digest, rep_id = min id,
    n_dups). Map-side partial aggregation applies; the shuffle carries
    only (digest, id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per content digest."""
    reps = exact_dedup_groups(df, text_col, id_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, id_col, "left_semi")


def drop_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    num_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """End-to-end near-duplicate removal — the operator a training-data
    pipeline actually runs: MinHash+LSH candidate pairs -> connected
    components over the pair graph -> keep the minimum-id
    representative of every duplicate group (docs in no group survive
    untouched).

    Scale shape: pair generation is band-bucketed (never all-pairs),
    components iterate joins keyed on node ids over the PAIR list only
    (collision-bounded, tiny next to the corpus), and the final filter
    is an anti-join of the corpus against the non-representative
    members."""
    pairs = minhash_dedup_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
    )
    cc = connected_components(pairs)
    losers = cc.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float | None = 0.5,
    lang: str | None = None,
    num_hashes: int = 16,
    num_bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """The standard training-corpus curation pipeline as one
    composition: exact dedup (hash-groupBy, keep min-id) -> near-dup
    removal (MinHash+LSH -> components -> representatives) -> quality/
    language filter (``operators.textops`` features). Returns the
    surviving rows of ``df`` (original columns).

    Order matters at scale: exact dedup first shrinks the corpus with
    a digest-keyed shuffle that carries 16 bytes + id per row; the LSH
    stage then shingles only survivors; the quality filter is map-side
    over a staged token array — and computes ONLY the two features the
    filter consumes (the full with_text_features set would pay the
    16 interpreted simhash folds, the word-hash stagings, and the BPE
    regex scan per row just to discard them)."""
    from osm_legal_default_speeds_spark.operators.textops import (
        lang_id_from_tokens,
        quality_score_from_tokens,
        tokens,
    )

    kept = drop_exact_dups(df, text_col, id_col)
    kept = drop_near_dups(
        kept,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        num_bands=num_bands,
        shingle_n=shingle_n,
        threshold=threshold,
        portable=portable,
    )
    if min_quality is not None or lang is not None:
        # identical expressions to with_text_features' quality /
        # lang_pred columns (value-for-value the same filter), staged
        # over one token array and combined into ONE predicate so the
        # array is shared
        t = F.col("__tokens")
        cond = None
        if min_quality is not None:
            cond = quality_score_from_tokens(t, lang or "en") >= F.lit(
                min_quality
            )
        if lang is not None:
            lc = lang_id_from_tokens(t) == F.lit(lang)
            cond = lc if cond is None else (cond & lc)
        kept = (
            kept.withColumn("__tokens", tokens(F.col(text_col)))
            .where(cond)
            .select(*df.columns)
        )
    return kept


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array (multiset; min-hash only
    needs the set). Token arrays shorter than n yield one truncated
    shingle.

    ``t`` should be a STAGED column (an attribute from a prior
    projection), not an inline ``tokens(text)`` subtree: the transform
    lambda references ``t`` once per shingle, higher-order functions
    evaluate interpreted, and Catalyst does not CSE duplicated subtrees
    — an inlined tokenize would re-split the full text for EVERY
    shingle, O(tokens^2) per document (CLAUDE.md, commit d50c7de).
    Referencing ``t`` twice here (count + lambda) also keeps
    CollapseProject from re-inlining the staged projection."""
    n_sh = F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.array_join(F.slice(t, i + 1, n), " "),
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the raw text — Column-level convenience
    for pair-sized inputs (ngram_jaccard on post-LSH candidates).
    O(tokens^2) per document when interpreted (see
    :func:`shingles_from_tokens`); DataFrame-level corpus scans should
    stage the token array as a column and call the ``_from_tokens``
    core instead."""
    return shingles_from_tokens(tokens(text), n)


def minhash_signature(
    text: Column, num_hashes: int = 64, shingle_n: int = 3, portable: bool = False
) -> Column:
    """MinHash signature array. ``portable=False`` (production): per-
    permutation ``xxhash64(shingle, seed=j)`` -> array<long>; JVM-fast.
    ``portable=True`` (differential-oracle mode): min of md5 hex-prefix
    strings ``md5('<j>:' || shingle)`` -> array<string> — bit-identical
    in any engine with md5 (lexicographic min over fixed-width lowercase
    hex == numeric min)."""
    sh = shingles(text, shingle_n)

    # NB: closure factories, not default args — PySpark derives HOF
    # arity from the lambda's parameter count.
    def md5_min(j: int) -> Column:
        return F.array_min(
            F.transform(
                sh, lambda s: F.substring(F.md5(F.concat(F.lit(f"{j}:"), s)), 1, 16)
            )
        )

    def xx_min(j: int) -> Column:
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(j))))

    make = md5_min if portable else xx_min
    return F.array(*[make(j) for j in range(num_hashes)])


def minhash_bands(sig: Column, num_bands: int, rows_per_band: int) -> Column:
    """array<struct<band int, key string>> — band key = md5 digest of the
    band's signature slice."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band).cast(
                            "array<string>"
                        ),
                        "|",
                    )
                ).alias("key"),
            )
            for b in range(num_bands)
        ]
    )


def estimated_jaccard(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    eq = F.zip_with(sig_a, sig_b, lambda x, y: x == y)
    return F.size(F.filter(eq, lambda b: b)).cast("double") / F.lit(float(num_hashes))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
    portable: bool = False,
    pre_partitions: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signatures as ``(doc, sig array)`` via the
    scale-correct explode -> groupBy formulation: one shingle row per
    (doc, shingle), one native hash call per (shingle, seed), then
    ``num_hashes`` ``min`` aggregates with map-side partial combine.

    This beats the pure-Column formulation (array of ``num_hashes``
    ``array_min(transform(shingles, ...))`` expressions) by orders of
    magnitude: higher-order functions evaluate interpreted (outside
    codegen) and Catalyst does not CSE the duplicated shingle subtree,
    so that shape re-tokenizes every document ``num_hashes`` times —
    and again on each side of the LSH self-join. Here the signature is
    *data* after the aggregation: it crosses the join shuffle as bytes,
    never recomputed. Identical results to ``minhash_signature``.

    ``pre_partitions``: see :func:`widen_narrow_scan` — set it when the
    source scans narrower than the cluster (small files); leave None at
    corpus scale."""
    df = widen_narrow_scan(df, pre_partitions)
    # stage the token array: inlined, the interpreted shingle transform
    # would re-tokenize the full text once per shingle (O(tokens^2) per
    # doc — see shingles_from_tokens)
    sh = df.withColumn("__t", tokens(F.col(text_col))).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__t"), shingle_n))
        ).alias("s"),
    )
    if portable:
        mins = [
            F.min(F.substring(F.md5(F.concat(F.lit(f"{j}:"), F.col("s"))), 1, 16)).alias(f"m{j}")
            for j in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.col("s"), F.lit(j))).alias(f"m{j}")
            for j in range(num_hashes)
        ]
    agg = sh.groupBy("doc").agg(*mins)
    return agg.select(
        "doc", F.array(*[F.col(f"m{j}") for j in range(num_hashes)]).alias("sig")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    num_bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    portable: bool = False,
    pre_partitions: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash LSH:
    signature -> band -> equi-join on (band, key) -> estimated Jaccard
    filter. Returns (id_a, id_b, est_jaccard), id_a < id_b, deduped
    across bands. ``pre_partitions``: see :func:`widen_narrow_scan`."""
    if not 1 <= num_bands <= num_hashes:
        # num_bands > num_hashes makes rows_per_band 0 and EVERY band
        # key md5('') for every doc — the band equi-join degenerates to
        # an all-pairs cross product with no error, a job-killer at
        # corpus scale
        raise ValueError(
            f"need 1 <= num_bands <= num_hashes, got num_bands="
            f"{num_bands}, num_hashes={num_hashes}"
        )
    if num_hashes % num_bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by num_bands "
            f"({num_bands}); the remainder hashes would be silently "
            f"ignored by the banding"
        )
    rows_per_band = num_hashes // num_bands
    base = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, portable, pre_partitions
    ).select(
        "doc",
        "sig",
        F.explode(
            minhash_bands(F.col("sig"), num_bands, rows_per_band)
        ).alias("bk"),
    ).select(
        "doc", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # SHUFFLE_HASH self-join on the band bucket, both sides hinted:
    # the two join inputs are then IDENTICAL Exchange subplans and
    # Spark's ReuseExchange computes the shingle->signature aggregation
    # ONCE (a broadcast join here would both rebuild the aggregation
    # for the build side and — fatally at corpus scale — broadcast the
    # corpus-sized signature table to every executor). The id_a < id_b
    # half-pruning moves to a post-join filter; bucket equi-keys stay
    # the join condition so AQE can split skewed buckets.
    a = base.hint("shuffle_hash").alias("a")
    b = base.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            estimated_jaccard(F.col("a.sig"), F.col("b.sig"), num_hashes).alias(
                "est_jaccard"
            ),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification-grade, for candidate pairs)
# ---------------------------------------------------------------------------

def ngram_jaccard(text_a: Column, text_b: Column, n: int = 3) -> Column:
    """Exact Jaccard over distinct word-n-gram sets. O(|a|*|b|) set ops
    per pair — use on candidate pairs (post-LSH), not all pairs."""
    sa = F.array_distinct(shingles(text_a, n))
    sb = F.array_distinct(shingles(text_b, n))
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return inter / union


# ---------------------------------------------------------------------------
# Connected components: near-dup pairs -> duplicate groups
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Duplicate groups from a pair list: ``(node, component)`` where
    ``component`` is the minimum node id reachable through the pair
    graph — the canonical representative real dedup pipelines keep.

    Alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm); converges in O(log n) ROUNDS regardless of graph shape
    — a path of length 10^6 needs ~20 rounds, where per-round
    min-label propagation needs 10^6. Edges are kept oriented
    large->small (src > dst) between rounds.

    large-star(u): every strictly-larger neighbor of u is rewired to
    min(N(u) ∪ {u}). small-star(u): every smaller-or-equal neighbor —
    and u itself — is rewired to that minimum. Both halves are a
    groupBy(node).min + an equi-join back keyed on node id (scale-out
    shuffles, AQE splits skew), nothing else; the edge set shrinks
    monotonically toward a star forest, so later rounds get cheaper.

    Stopping rule: after each round the edges are ``localCheckpoint``ed
    (truncating lineage) and tested for being a star forest, in one
    action that collects no data — no node is both a src and a dst,
    and no src has more than one out-edge. Both half-rounds preserve
    connectivity (Kiveris et al.), so in a star forest each star is a
    whole component, and since src > dst its centre is the component
    minimum: every edge is already (node, component). A star forest is
    also a fixed point of both half-rounds (each leaf's only neighbor
    is its centre, and the centre's neighbors are all larger), so a
    run that reaches one could only repeat it: the test stops on the
    same edges a fixed-point probe would, one round and one probe
    earlier. Near-duplicate clusters are cliques, which the first
    round already turns into stars.

    Raises ``RuntimeError`` if ``max_iterations`` rounds end without a
    star forest — silent unconverged labels would be wrong component
    ids. A self-pair ``(a, a)`` is no duplicate relation and adds no
    edge: a node paired only with itself gets no row, like any node
    outside the pair list. Ids of any orderable type (long, string)
    keep their type in the output.
    """
    # orient once: (max, min) per pair, drop self-pairs
    edges = (
        pairs.select(
            F.greatest(F.col(a_col), F.col(b_col)).alias("src"),
            F.least(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    def _half_round(edges: DataFrame, large: bool) -> DataFrame:
        if large:
            # symmetrize so every node sees its full neighborhood
            nb = edges.unionAll(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                )
            )
        else:
            nb = edges  # already oriented large->small: nbrs v <= u
        mins = nb.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select(
            "src", F.least(F.col("mn"), F.col("src")).alias("mn")
        )
        if large:
            # rewire only strictly-larger neighbors: (v, m) for v > u;
            # m <= u < v, so no self-edge, and the duplicates are left
            # to small-star's min and closing distinct (one shuffle
            # fewer per round)
            return (
                nb.join(mins, "src")
                .where(F.col("dst") > F.col("src"))
                .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            )
        # rewire smaller neighbors AND u itself
        out = nb.join(mins, "src").select(
            F.col("dst").alias("src"), F.col("mn").alias("dst")
        ).unionAll(mins.select("src", F.col("mn").alias("dst")))
        return out.where(F.col("src") != F.col("dst")).distinct()

    def _is_star_forest(edges: DataFrame) -> bool:
        # one aggregation: per node, its out-degree (as src) and
        # in-degree (as dst); a centre with a parent or a leaf with two
        # parents breaks the forest
        deg = (
            edges.select(
                F.inline(F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("n_out"),
                        F.lit(0).alias("n_in"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("n_out"),
                        F.lit(1).alias("n_in"),
                    ),
                ))
            )
            .groupBy("node")
            .agg(F.sum("n_out").alias("n_out"), F.sum("n_in").alias("n_in"))
        )
        bad = (F.col("n_out") > 1) | (
            (F.col("n_out") > 0) & (F.col("n_in") > 0)
        )
        return deg.where(bad).limit(1).count() == 0

    for _ in range(max_iterations):
        edges = _half_round(edges, large=True)
        edges = _half_round(edges, large=False)
        edges = edges.localCheckpoint(eager=True)  # truncate lineage
        if _is_star_forest(edges):
            # every edge is (node, component_min); every dst is a root,
            # which appears only as dst -> add its self-label
            roots = edges.select(F.col("dst").alias("node")).distinct()
            return edges.select(
                F.col("src").alias("node"),
                F.col("dst").alias("component"),
            ).unionAll(
                roots.select("node", F.col("node").alias("component"))
            )
    raise RuntimeError(
        "connected_components did not converge in "
        f"{max_iterations} rounds; raise max_iterations"
    )


def dup_groups_from_pairs(
    pairs: DataFrame, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """(component, member_count) group summary over the pair graph —
    singletons (docs with no near-dup) are not part of the pair list
    and therefore not emitted."""
    cc = connected_components(pairs, a_col, b_col)
    return cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        # component IS the min reachable node id (connected_components
        # contract) and is itself a member, so rep_id == component; an
        # alias, not a redundant min aggregate
    ).withColumn("rep_id", F.col("component"))


# ---------------------------------------------------------------------------
# SimHash banding
# ---------------------------------------------------------------------------

def simhash_near_dup_pairs(
    df: DataFrame,
    simhash_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 16,
    num_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs on a precomputed simhash column via bit-band LSH
    (pigeonhole: hamming < num_bands => >= 1 exact band match)."""
    if not 1 <= num_bands <= bits:
        # num_bands > bits gives band_bits=0/mask=0, so every doc's key
        # is 0 in every band — an all-pairs cross product with no error
        raise ValueError(
            f"need 1 <= num_bands <= bits, got num_bands={num_bands}, "
            f"bits={bits}"
        )
    if bits % num_bands:
        raise ValueError(
            f"bits ({bits}) must be divisible by num_bands "
            f"({num_bands}); the high remainder bits would be "
            f"silently excluded from every band"
        )
    if max_hamming >= num_bands:
        # pigeonhole needs hamming < num_bands for a guaranteed band
        # match; beyond that true pairs silently leak through
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < num_bands "
            f"({num_bands}): the pigeonhole recall guarantee only "
            f"covers pairs whose differing bits cannot fill every band"
        )
    band_bits = bits // num_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sh"), b * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
            for b in range(num_bands)
        ]
    )
    base = (
        df.select(F.col(id_col).alias("doc"), F.col(simhash_col).alias("sh"))
        .withColumn("bk", F.explode(bands))
        .select("doc", "sh", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )
    # shuffle-hash self-join on the band bucket: identical Exchange
    # subplans -> ReuseExchange computes any upstream simhash pipeline
    # once, and nothing corpus-sized is broadcast (see
    # minhash_dedup_pairs for the full argument)
    a = base.hint("shuffle_hash").alias("a")
    b = base.hint("shuffle_hash").alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_overlap: int = 8,
) -> DataFrame:
    """Drop training documents that share >= ``min_overlap`` distinct
    word n-grams with the eval set's POOLED n-gram set (the union
    across all eval texts) — the benchmark-decontamination step of
    public LLM data pipelines. Note the pooling: a doc overlapping k/2
    grams with each of two different eval texts is dropped at threshold
    k — strictly MORE conservative than a per-eval-document rule (to
    replicate a specific paper's per-document variant, run this once
    per eval document or carry an eval-doc id through the join).

    Scale shape: the eval side reduces to a distinct n-gram set and is
    BROADCAST (eval suites are thousands of docs — MBs of grams);
    training docs explode to (doc, gram), hit the broadcast in a
    map-side semi-ish inner join, and a groupBy(doc) counts DISTINCT
    matching grams — the only shuffle, carrying one row per (matched
    doc, matched gram), bounded by the contamination rate, not the
    corpus. Clean docs never shuffle at all; the final filter is a
    broadcast anti-join of the corpus against the contaminated-id list.

    Returns the surviving rows of ``docs`` (original columns).
    """
    # token arrays staged per side: see shingles_from_tokens (inlined
    # tokenize re-splits the text once per shingle, O(tokens^2)/doc)
    gram = F.explode(
        F.array_distinct(shingles_from_tokens(F.col("__t"), shingle_n))
    )
    eval_grams = (
        eval_docs.withColumn("__t", tokens(F.col(text_col)))
        .select(gram.alias("g"))
        .distinct()
    )
    hits = (
        docs.withColumn("__t", tokens(F.col(text_col)))
        .select(F.col(id_col).alias("__d"), gram.alias("g"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("__d")
        .agg(F.count_distinct("g").alias("__hits"))
        .where(F.col("__hits") >= min_overlap)
        .select(F.col("__d").alias(id_col))
    )
    return docs.join(F.broadcast(hits), id_col, "left_anti")


def cross_doc_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Cross-document duplicated-SUBSTRING detection — the span-level
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better" (ACL 2022): whole-doc dedup misses a
    boilerplate paragraph pasted into thousands of otherwise-unique
    pages; this finds it. Every word ``n``-gram occurring in >= 2
    DISTINCT docs marks a span ``[pos, min(pos + n, len))``; per doc,
    overlapping/adjacent spans merge into islands (the classic
    running-max island scan) and the output is per-doc island coverage:

      (id, n_tokens, dup_span_tokens, n_spans, dup_span_frac)

    Scale shape: grams are hashed to 16-byte md5 BEFORE the shuffle
    (the exchange carries (id, len, pos, 16B), never gram text); the
    shared-gram filter is a groupBy(gh) with map-side partial
    aggregation; the hits join is a plain equi-join on gh (skew =
    boilerplate grams — exactly what AQE skew splitting handles); the
    island scan is one window per doc over HIT rows only (clean docs
    never reach it). Within-doc-only repeats are excluded by
    count_distinct(id) >= 2 (that signal is repetition_stats').

    Deliberate recompute: the gram pipeline runs once per consumer
    (the shared-gram agg prunes to (gh, id), so plan canonicalization
    cannot reuse the probe side's exchange). Persisting the gram table
    instead was measured ~25% faster cold at sf0.1 — but the gram
    table is ~2x the corpus, so at 100 TB materializing it trades
    cheap, perfectly parallel map CPU for cluster-wide storage and
    eviction pressure; recompute is the scale-correct default."""
    # staged token array: __len and the shingle transform share it, and
    # the inlined form would re-tokenize once per shingle (O(tokens^2)
    # per doc — see shingles_from_tokens)
    t = F.col("__t")
    g = docs.withColumn("__t", tokens(F.col(text_col))).select(
        id_col,
        F.size(t).alias("__len"),
        F.posexplode(shingles_from_tokens(t, n)).alias("pos", "gram"),
    ).select(
        id_col, "__len", "pos", F.md5(F.col("gram")).alias("gh")
    )
    shared = (
        g.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("gh")
    )
    hits = g.join(shared, "gh")

    span_end = F.least(F.col("pos") + F.lit(n), F.col("__len"))
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = hits.withColumn(
        "__new",
        (
            F.col("pos")
            > F.coalesce(F.max(span_end).over(w_prev), F.lit(-1))
        ).cast("int"),
    ).withColumn("__isl", F.sum("__new").over(w_run))
    islands = marked.groupBy(id_col, "__isl").agg(
        (
            F.least(F.max("pos") + F.lit(n), F.max("__len"))
            - F.min("pos")
        )
        .cast("long")
        .alias("cov")
    )
    per_doc = islands.groupBy(id_col).agg(
        F.sum("cov").alias("dup_span_tokens"),
        F.count(F.lit(1)).alias("n_spans"),
    )
    # plain size(tokenize) — evaluated once per row, nothing to stage
    lens = docs.select(
        id_col, F.size(tokens(F.col(text_col))).alias("n_tokens")
    )
    return lens.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("dup_span_tokens", F.lit(0)).alias("dup_span_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        (
            F.coalesce("dup_span_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("dup_span_frac"),
    )
