"""Fully native (JVM/codegen) Column compilation of the match cascade.

This is the SURVEY.md §2.4 C1 mapping assembled end-to-end: the whole
``getSpeedLimits`` pipeline (``LegalDefaultSpeeds.kt:151-304``) as pure
Catalyst expressions — no Python workers, no Arrow transfer, no shuffle.
The plan shape:

1. **Hoisted match predicates with manual CSE.** For every road-type
   name reachable from any country's rule list, compile
   ``anyRelationMatches(relationFilter) OR filter [OR fuzzyFilter]``
   (``LegalDefaultSpeeds.kt:213-223``) to a boolean column via
   ``functions.sql_exprs.filter_to_column``. Placeholders (B5/B6)
   resolve to *column references* of the referenced name's boolean —
   staged in topological DAG order — so each predicate is evaluated
   once per row no matter how many placeholders reference it (Catalyst
   does not CSE duplicated subtrees; staging shared columns is the
   documented workaround). Names whose placeholder closure contains no
   fuzzyFilter share one column between the exact and fuzzy stages.
2. **Boolean match arrays.** The per-name booleans are packed into two
   ``array<boolean>`` columns indexed by a global ``name_idx``, so rule
   evaluation is an O(1) array read instead of a name dispatch.
3. **Broadcast country dim + unrolled first-match.** A 242-row dim
   carries each country's rules in C1 scan-priority order
   (``_scan_order``, ``LegalDefaultSpeeds.kt:186-205``) as an array of
   (name, tags) structs plus one flattened ``name_idx``/``maxspeed``
   column per scan slot (≤13 per the shipped dataset). ``min(priority)
   among matches`` then unrolls into a short-circuiting CASE over the
   slots — whole-stage-codegen friendly, no interpreted higher-order
   function in the match path. The dim is an Arrow-built local
   relation (``sources.local_table.local_table_df``), so the plan holds
   its rows and each query's broadcast reads them from a
   ``LocalTableScan`` instead of unpickling them again.
4. **Cascade + native result assembly.** Certitude = first non-null of
   Exact / FromMaxSpeed / Fuzzy / Fallback positions
   (``LegalDefaultSpeeds.kt:161-183``); R1-R4 result map algebra
   (``:250-304``) is native map expressions staged one cap level per
   column (``_assembly_columns``), gated by a pre-capped-per-rule fast
   path for inputs that cannot influence capping (the common case —
   proof in ``_get_bundle``): fast rows skip the staged algebra.

Scale: map-only — the fact table never shuffles and never crosses into
Python. Per-row cost is dominated by evaluating the hoisted predicate
columns (~2x191 small codegen'd map probes for the full dataset).

Speed-cap recursion (R3) is unrolled to the rule set's own deepest
``maxspeed:*`` nesting (``_rule_cap_depth``; the shipped dataset's
deepest key, ``maxspeed:hgv:conditional``, is level 2). That bound is
exact, not an approximation: results hold only rule-origin keys, so no
deeper cap level can change an output.

The relevant-key pruning projection (F16,
``LegalDefaultSpeeds.kt:241-247``) lives here too as a native
``map_filter`` expression (``prune_relevant_tags``): Catalyst prunes
top-level columns but cannot prune inside a MapType.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from osm_legal_default_speeds_spark.functions.sql_exprs import (
    assemble_match_expr,
    filter_to_column,
    number_with_unit_to_double,
)
from osm_legal_default_speeds_spark.plans.rules_compiler import (
    CompiledRuleSet,
    all_placeholder_names,
)
from osm_legal_default_speeds_spark.sources.local_table import local_table_df

_EMPTY_TAGS = "map<string,string>"


# --------------------------------------------------------------------------
# relevant-key pruning (F16)
# --------------------------------------------------------------------------

def is_relevant_tag_key_col(ruleset: CompiledRuleSet, key_col: Column | str) -> Column:
    """Native boolean Column equivalent of isRelevantTagKey
    (LegalDefaultSpeeds.kt:246-247)."""
    k = F.col(key_col) if isinstance(key_col, str) else key_col
    strings = sorted(ruleset.relevant_key_strings)
    cond = k.isin(*strings) if strings else F.lit(False)
    regex = ruleset.combined_key_regex()
    if regex is not None:
        cond = cond | k.rlike(regex)
    return cond


def prune_relevant_tags(ruleset: CompiledRuleSet, tags_col: Column | str) -> Column:
    """Native map-internal column pruning: keep only tag keys any rule
    filter can reference. Runs JVM-side (whole-stage codegen), shrinking
    the payload before shuffles.

    Warns when ``maxspeed`` itself is not a relevant key: pruning would
    then drop the input maxspeed, silently disabling the FromMaxSpeed
    cascade stage (C3) and R1 input-echo subtraction. Real rule sets
    always filter on maxspeed, so this never fires in production."""
    if not ruleset.is_relevant_tag_key("maxspeed"):
        warnings.warn(
            "prune_relevant_tags: 'maxspeed' is not a relevant key in "
            "this rule set, so pruning drops the input maxspeed and "
            "disables the FromMaxSpeed stage / R1 input-echo semantics",
            stacklevel=2,
        )
    tags = F.col(tags_col) if isinstance(tags_col, str) else tags_col
    return F.map_filter(tags, lambda k, v: is_relevant_tag_key_col(ruleset, k))


# --------------------------------------------------------------------------
# R1-R4 result assembly as native map algebra
# --------------------------------------------------------------------------

def _parse(v: Column) -> Column:
    return number_with_unit_to_double(v)


def _is_implicit(k: Column, v: Column) -> Column:
    """R2 (LegalDefaultSpeeds.kt:260-261): an input maxspeed whose value
    does not unit-parse (e.g. RO:urban) is implicit."""
    return (k == F.lit("maxspeed")) & _parse(v).isNull()


def _colon_depth(k: Column) -> Column:
    """Number of ':' in k, without array allocation."""
    return F.length(k) - F.length(F.replace(k, F.lit(":"), F.lit("")))


def _finalize_entries(entries: Column) -> Column:
    """Entries array -> map, dropping the null-valued (deleted) slots
    the level passes leave behind (deferring the drop avoids a filter +
    map rebuild per level)."""
    return F.map_from_entries(
        F.filter(entries, lambda e: e.getField("value").isNotNull())
    )


def _cap_level_entries(entries: Column, level: int, parsed: Column) -> Column:
    """One unrolled recursion level of limitSpeedsTo
    (LegalDefaultSpeeds.kt:263-304): cap every ``maxspeed:...`` key at
    exactly ``level`` segments below the root with the running minimum
    of its parsable ancestor values (the chain min equals the reference
    recursion's effect because caps only shrink down the chain), prune
    ``:conditional`` list entries, and drop keys at/over the cap.
    Entries-in / entries-out: deleted entries become null-valued.

    ``parsed`` is the key -> unit-parsed-double map staged ONCE from
    the merged map (the parse tree is ~400 interpreted nodes; these
    lambdas run interpreted, so parse-call count dominates). Reading
    ancestors from the level-0 parse is sound even though earlier
    levels delete keys: a deleted ancestor's value was >= its own
    chain cap, and that cap's members are ancestors of this key too,
    so including the stale value can never lower the chain min below
    a cap that is present anyway. (A ``:conditional`` value's parse
    could in principle change after pruning, but a conditional key is
    never an ancestor — no ``x:conditional:y`` keys exist.)

    Two array passes per level — pass A stages (cm, pruned) per entry
    (each is referenced multiple times downstream and conditional
    pruning costs one parse per list item), pass B derives the final
    value."""

    def chain_min(k: Column) -> Column:
        caps = [
            F.element_at(parsed, F.substring_index(k, ":", i))
            for i in range(1, level + 1)
        ]
        return caps[0] if len(caps) == 1 else F.least(*caps)

    def pass_a(e: Column) -> Column:
        k = e.getField("key")
        v = e.getField("value")
        at_level = (
            v.isNotNull()
            & k.startswith("maxspeed:")
            & (_colon_depth(k) == F.lit(level))
        )
        cm = F.when(at_level, chain_min(k))
        # conditional-list pruning (R4, LegalDefaultSpeeds.kt:274-287):
        # keep entries whose speed-before-" @ " is unparsable or < cap;
        # one parse per item (speed staged in a struct, filtered, then
        # the original item text re-extracted)
        pruned = F.array_join(
            F.transform(
                F.filter(
                    F.transform(
                        F.split(v, "; "),
                        lambda it: F.struct(
                            _parse(F.split(it, " @ ").getItem(0)).alias("s"),
                            it.alias("t"),
                        ),
                    ),
                    lambda x: x.getField("s").isNull()
                    | (x.getField("s") < cm),
                ),
                lambda x: x.getField("t"),
            ),
            "; ",
        )
        return F.struct(
            k.alias("key"),
            v.alias("value"),
            cm.alias("cm"),
            F.when(cm.isNotNull() & k.endswith(":conditional"), pruned).alias(
                "pv"
            ),
        )

    def pass_b(s: Column) -> Column:
        k = s.getField("key")
        v = s.getField("value")
        cm = s.getField("cm")
        pv = s.getField("pv")
        new_v = (
            F.when(cm.isNull(), v)
            .when(
                pv.isNotNull(),
                # empty after pruning, or remnant parses >= cap -> drop
                F.when(pv == F.lit(""), F.lit(None).cast("string")).when(
                    _parse(pv) >= cm, F.lit(None).cast("string")
                ).otherwise(pv),
            )
            # non-conditional values never change across levels, so the
            # level-0 parsed map is exact here
            .when(F.element_at(parsed, k) >= cm, F.lit(None).cast("string"))
            .otherwise(v)
        )
        return F.struct(k.alias("key"), new_v.alias("value"))

    return F.transform(F.transform(entries, pass_a), pass_b)


def _assembly_columns(
    in_tags: str, rule_tags: str, out_col: str, max_cap_depth: int
) -> list[tuple[str, Column]]:
    """R1-R4 (LegalDefaultSpeeds.kt:250-304) as an ordered list of
    (column_name, expression) staging steps over column NAMES: merge
    rule tags with non-implicit input tags (input wins), cap
    ``maxspeed:*`` subtags/conditionals against the effective maxspeed
    with per-subkey running minima, then subtract the non-implicit
    input keys so only *additional* tags remain. Each level is staged
    as its own column, so the planner converts constant-size
    expressions (the nested form is super-linear in depth) and each
    level is evaluated once per row (Catalyst does not CSE duplicated
    subtrees). Pure expression data, independent of any DataFrame, so
    it is compiled once per ruleset and reused."""
    cols: list[tuple[str, Column]] = [
        (
            "__nc_a_nimp",
            F.map_filter(F.col(in_tags), lambda k, v: ~_is_implicit(k, v)),
        ),
        (
            "__nc_a_m0",
            F.map_zip_with(
                F.col(rule_tags),
                F.col("__nc_a_nimp"),
                lambda k, rv, iv: F.coalesce(iv, rv),
            ),
        ),
        # every merged value unit-parsed exactly once (see
        # _cap_level_entries)
        (
            "__nc_a_pv",
            F.transform_values(F.col("__nc_a_m0"), lambda k, v: _parse(v)),
        ),
        # levels operate on the entries ARRAY (deleted entries become
        # null-valued slots); one map rebuild at the very end instead
        # of map_entries + filter + map_from_entries per level
        ("__nc_a_e0", F.map_entries(F.col("__nc_a_m0"))),
    ]
    for level in range(1, max_cap_depth + 1):
        cols.append(
            (
                f"__nc_a_e{level}",
                _cap_level_entries(
                    F.col(f"__nc_a_e{level - 1}"), level, F.col("__nc_a_pv")
                ),
            )
        )
    cols.append(
        (
            out_col,
            F.map_filter(
                _finalize_entries(F.col(f"__nc_a_e{max_cap_depth}")),
                lambda k, v: ~F.map_contains_key(F.col("__nc_a_nimp"), k),
            ),
        )
    )
    return cols


# --------------------------------------------------------------------------
# hoisted match-predicate columns (manual CSE over the placeholder DAG)
# --------------------------------------------------------------------------

def _placeholder_closure(
    ruleset: CompiledRuleSet, frontier: set[str]
) -> set[str]:
    """Close a name set over placeholder references: returns
    ``frontier`` plus every name transitively reachable through
    ``road_type_filters``' placeholders. Shared by _reachable_names
    (seed = names in scan orders) and _get_bundle's hoisting decision
    (seed = directly-referenced placeholder targets) so the two sets
    can never silently disagree on traversal rules."""
    seen: set[str] = set()
    while frontier:
        seen |= frontier
        nxt: set[str] = set()
        for n in frontier:
            cf = ruleset.road_type_filters.get(n)
            if cf is not None:
                nxt |= all_placeholder_names(cf)
        frontier = nxt - seen
    return seen


def _reachable_names(ruleset: CompiledRuleSet) -> list[str]:
    """Names appearing in any country's scan order, plus their
    placeholder closures, in deterministic order."""
    in_rules: set[str] = set()
    for cc, rules in ruleset.speed_limits_by_country.items():
        for i in ruleset.scan_order_by_country[cc]:
            in_rules.add(rules[i].name)
    return sorted(_placeholder_closure(ruleset, in_rules))


def _topo_levels(ruleset: CompiledRuleSet, names: list[str]) -> dict[str, int]:
    """Placeholder-DAG depth per name. The compile-time cycle check
    (rules_compiler._check_for_circular_placeholders) collects POSITIVE
    ``{x}`` placeholders only — pinned to the reference's
    getPlaceholders (BooleanExpression.kt:84-92), which skips
    NotPlaceholder — so a cycle reachable only through negated
    ``!{x}`` references compiles fine (as it does in the reference,
    where it stack-overflows at query time). This engine must build
    the full expression DAG up front, so such a cycle is detected here
    and rejected with a clear error instead of a RecursionError."""
    memo: dict[str, int] = {}
    in_progress: set[str] = set()

    def level(n: str) -> int:
        if n in memo:
            return memo[n]
        if n in in_progress:
            raise ValueError(
                f'circular placeholders involving road type "{n}" '
                f"(reachable only through negated !{{...}} references, "
                f"which compile-time rejection — reference parity — "
                f"does not cover); the native engine cannot build an "
                f"expression DAG for this rule set"
            )
        in_progress.add(n)
        try:
            cf = ruleset.road_type_filters.get(n)
            deps = all_placeholder_names(cf) if cf is not None else set()
            memo[n] = 1 + max((level(d) for d in deps), default=-1)
        finally:
            in_progress.discard(n)
        return memo[n]

    for n in names:
        level(n)
    return memo


def _fuzzy_sensitive(ruleset: CompiledRuleSet, names: list[str]) -> set[str]:
    """Names whose match can differ between the exact and fuzzy stages:
    a fuzzyFilter anywhere in the placeholder closure (the fuzzy flag
    propagates into placeholder evaluation, LegalDefaultSpeeds.kt:218,222)."""
    memo: dict[str, bool] = {}

    def sens(n: str) -> bool:
        if n in memo:
            return memo[n]
        memo[n] = False  # cycle guard (DAG anyway)
        cf = ruleset.road_type_filters.get(n)
        out = cf is not None and (
            cf.fuzzy_filter is not None
            or any(sens(d) for d in all_placeholder_names(cf))
        )
        memo[n] = out
        return out

    return {n for n in names if sens(n)}


def _numeric_compare_keys(ruleset: CompiledRuleSet, names: list[str]) -> list[str]:
    """Distinct tag keys used by numeric-comparison atoms in the road
    and fuzzy filters of the given names (NOT relation filters — those
    compare against the relation's map, not the road's). One parsed
    column per key replaces every duplicated unit-parse subtree."""
    from osm_legal_default_speeds_spark.functions.tagfilter_ast import (
        HasTagGreaterOrEqualThan,
        HasTagGreaterThan,
        HasTagLessOrEqualThan,
        HasTagLessThan,
        Leaf,
    )

    cmp_types = (
        HasTagGreaterOrEqualThan,
        HasTagGreaterThan,
        HasTagLessOrEqualThan,
        HasTagLessThan,
    )
    keys: set[str] = set()

    def walk(e) -> None:
        if isinstance(e, Leaf) and isinstance(e.value, cmp_types):
            keys.add(e.value.key)
        for c in getattr(e, "nodes", ()):
            walk(c)

    for n in names:
        cf = ruleset.road_type_filters.get(n)
        if cf is None:
            continue
        for expr in (cf.filter, cf.fuzzy_filter):
            if expr is not None:
                walk(expr)
    return sorted(keys)


# --------------------------------------------------------------------------
# broadcast country dim
# --------------------------------------------------------------------------

def _dim_schema(n_slots: int) -> StructType:
    fields = [
        StructField("__nc_cc", StringType()),
        StructField(
            "__nc_rules",
            ArrayType(
                StructType(
                    [
                        StructField("name", StringType()),
                        StructField(
                            "rtags", MapType(StringType(), StringType())
                        ),
                        StructField(
                            "ctags", MapType(StringType(), StringType())
                        ),
                    ]
                )
            ),
        ),
        StructField("__nc_has_fb", BooleanType()),
        StructField("__nc_fb_tags", MapType(StringType(), StringType())),
        StructField("__nc_fb_ctags", MapType(StringType(), StringType())),
    ]
    for j in range(n_slots):
        fields.append(StructField(f"__nc_s{j}_nidx", IntegerType()))
        fields.append(StructField(f"__nc_s{j}_fidx", IntegerType()))
        fields.append(StructField(f"__nc_s{j}_ms", StringType()))
    return StructType(fields)


def _dim_data(
    ruleset: CompiledRuleSet,
    name_idx: dict[str, int],
    fuzzy_idx: dict[str, int],
):
    """Rows + schema for the broadcast country dim (each inference call
    builds its Arrow local relation from them). ``name_idx``
    addresses a rule name's exact-stage boolean in the combined match
    array; ``fuzzy_idx`` its fuzzy-stage boolean (equal to ``name_idx``
    for names whose match cannot differ under fuzzy). Each rule also
    carries ``ctags`` — its result tags PRE-CAPPED against an empty
    input (the pure-Python kernel runs once per rule on the driver) —
    the runtime fast path for rows whose input cannot alter capping."""
    from osm_legal_default_speeds_spark.plans.reference_engine import (
        create_result_tags,
    )

    n_slots = max(
        (len(s) for s in ruleset.scan_order_by_country.values()), default=0
    )
    rows = []
    for cc in sorted(ruleset.speed_limits_by_country):
        rules = ruleset.speed_limits_by_country[cc]
        scan = ruleset.scan_order_by_country[cc]
        arr = [
            (
                rules[i].name,
                dict(rules[i].tags),
                create_result_tags({}, rules[i].tags),
            )
            for i in scan
        ]
        fb_idx = ruleset.fallback_index_by_country[cc]
        row: list = [
            cc,
            arr,
            fb_idx is not None,
            dict(rules[fb_idx].tags) if fb_idx is not None else None,
            create_result_tags({}, rules[fb_idx].tags)
            if fb_idx is not None
            else None,
        ]
        for j in range(n_slots):
            if j < len(scan):
                r = rules[scan[j]]
                row.append(name_idx[r.name])
                row.append(fuzzy_idx[r.name])
                row.append(r.tags.get("maxspeed"))
            else:
                row.append(None)
                row.append(None)
                row.append(None)
        rows.append(tuple(row))
    return rows, _dim_schema(n_slots), n_slots


# --------------------------------------------------------------------------
# the operator
# --------------------------------------------------------------------------

def effective_country(ruleset: CompiledRuleSet, cc: Column) -> Column:
    """Subdivision -> country fallback (F14, LegalDefaultSpeeds.kt:
    157-159): a code with rules of its own stands; otherwise the part
    before '-' is the effective country."""
    known = sorted(ruleset.speed_limits_by_country)
    return F.when(cc.isin(*known), cc).otherwise(F.split(cc, "-").getItem(0))


def _rule_cap_depth(ruleset: CompiledRuleSet) -> int:
    """Deepest ``maxspeed:*`` nesting among RULE output tags. Sound as
    the cap-unroll bound: the final result contains only rule-origin
    keys (non-implicit input keys are subtracted at the end, and the
    only implicit key is the root ``maxspeed``), so capping levels
    deeper than any rule key could only delete input-origin keys that
    are subtracted anyway. Input keys still participate as cap
    *ancestors* at shallower levels — the chain-min lookup reads the
    merged map, which includes them."""
    depth = 0
    for rules in ruleset.speed_limits_by_country.values():
        for r in rules:
            for k in r.tags:
                if k.startswith("maxspeed:"):
                    depth = max(depth, k.count(":"))
    return depth


def infer_speed_limits_native(
    df: DataFrame,
    ruleset: CompiledRuleSet,
    country_col: str = "country_code",
    tags_col: str = "tags",
    relations_col: str | None = None,
    overrides_col: str | None = None,
    result_col: str = "speed_limit",
) -> DataFrame:
    """The reference's ``getSpeedLimits`` as a whole-DataFrame
    transformation on the all-native plan described in the module
    docstring. Appends a ``result_col`` struct (road_type_name, tags,
    certitude) — null when no rule matched (mirrors the reference
    returning null, LegalDefaultSpeeds.kt:159,183); a pre-existing
    ``result_col`` is replaced in place.

    ``relations_col``: optional array<map<string,string>> column with the
    tags of relations the road belongs to (C6).
    ``overrides_col``: optional map<string,boolean> column forcing named
    road-type predicates per row (the columnar replacerFn, C7) — e.g. an
    ``is_urban`` signal from a spatial layer."""
    spark = df.sparkSession
    bundle = _get_bundle(ruleset, country_col, relations_col, overrides_col)

    in_tags = "__nc_tags"
    orig_cols = list(df.columns)
    out = df.withColumns(
        {
            in_tags: F.coalesce(
                F.col(tags_col), F.create_map().cast(_EMPTY_TAGS)
            ),
            "__nc_eff": bundle["eff"],
        }
    )
    if bundle["num_batch"]:
        out = out.withColumns(bundle["num_batch"])
    for batch in bundle["level_batches"]:
        out = out.withColumns(batch)

    out = out.select(
        *orig_cols,
        in_tags,
        "__nc_eff",
        bundle["m_array"].alias("__nc_m"),
        bundle["tms"].alias("__nc_tms"),
    )

    # built per call from the bundle's rows: the bundle holds no
    # DataFrame, so nothing here outlives or pins the session
    dim = local_table_df(spark, bundle["dim_rows"], bundle["dim_schema"])
    out = out.join(
        F.broadcast(dim),
        F.col("__nc_eff") == F.col("__nc_cc"),
        "left",
    )

    # first narrowing projection after the join: slot columns, the
    # match array, and the per-country rule array are all consumed here
    # or one step later and never carried further (each surviving stage
    # re-copies the row)
    out = out.select(
        *orig_cols,
        in_tags,
        bundle["pos_e"].alias("__nc_pe"),
        bundle["pos_f"].alias("__nc_pf"),
        bundle["pos_m"].alias("__nc_pm"),
        "__nc_has_fb",
        "__nc_fb_tags",
        "__nc_fb_ctags",
        "__nc_rules",
        bundle["fastok"].alias("__nc_fastok"),
    )
    # second narrowing projection: winner extracted, rule array dropped
    out = out.select(
        *orig_cols,
        in_tags,
        "__nc_fastok",
        bundle["cert"].alias("__nc_cert"),
        bundle["wname"].alias("__nc_wname"),
        bundle["wtags"].alias("__nc_wtags"),
        bundle["wctags"].alias("__nc_wctags"),
    )

    for name, col in bundle["assembly"]:
        out = out.withColumn(name, col)
    out = out.withColumn(result_col, bundle["result_struct"])

    # withColumn above REPLACED a pre-existing result_col in place, so
    # only append the name when it is new — appending unconditionally
    # would select the same name twice (AMBIGUOUS_REFERENCE downstream)
    keep = orig_cols + ([] if result_col in orig_cols else [result_col])
    return out.select(*keep)


_BUNDLE_CACHE: dict = {}


def _get_bundle(
    ruleset: CompiledRuleSet,
    country_col: str,
    relations_col: str | None,
    overrides_col: str | None,
):
    """Compile-once bundle of every df-independent Column for this
    (ruleset, options) pair. Building ~300 predicate expressions plus
    the assembly HOFs costs seconds of py4j round-trips; Column objects
    are immutable and bind by name, so they are safely reusable across
    DataFrames and queries."""
    key = (id(ruleset), country_col, relations_col, overrides_col)
    hit = _BUNDLE_CACHE.get(key)
    if hit is not None and hit[0] is ruleset:
        # LRU touch: re-insert at the end so eviction targets the
        # least-recently-USED entry, not merely the first-inserted
        _BUNDLE_CACHE.pop(key)
        _BUNDLE_CACHE[key] = hit
        return hit[1]
    if len(_BUNDLE_CACHE) > 8:
        # evict only the OLDEST entry (dict preserves insertion order):
        # clearing everything would force seconds of py4j expression
        # recompilation for rulesets still in active use
        _BUNDLE_CACHE.pop(next(iter(_BUNDLE_CACHE)))

    names = _reachable_names(ruleset)
    name_idx = {n: i for i, n in enumerate(names)}
    levels = _topo_levels(ruleset, names)
    fuzzy_names = _fuzzy_sensitive(ruleset, names)
    t = F.col("__nc_tags")
    rels = F.col(relations_col) if relations_col is not None else None
    ovr = F.col(overrides_col) if overrides_col is not None else None


    # one unit-parsed column per distinct numeric-comparison key: the
    # parse tree is ~250 nodes and Catalyst does not CSE duplicates, so
    # 47 comparison atoms over 3 keys become 3 parses per row
    num_keys = _numeric_compare_keys(ruleset, names)
    num_col = {k: f"__nc_n{i}" for i, k in enumerate(num_keys)}
    num_batch = {
        num_col[k]: number_with_unit_to_double(
            F.element_at(t, F.lit(k))
        ).cast("float")  # float32 like the reference (TagFilter.kt:98)
        for k in num_keys
    }

    def numeric_operand(key: str) -> Column:
        return F.col(num_col[key])

    # Hoist a column ONLY for names that are placeholder-referenced
    # (transitively): those are the shared subtrees that need manual
    # CSE. Everything else inlines its predicate straight into the
    # match-array constructor, evaluated exactly once there. This keeps
    # every projection under spark.sql.codegen.maxFields (default 100)
    # — hoisting all ~190 names produced 287-column projections, which
    # silently lose codegen and fall back to interpreted evaluation.
    seed: set[str] = set()
    for n in names:
        cf = ruleset.road_type_filters.get(n)
        if cf is not None:
            seed |= all_placeholder_names(cf)
    shared = _placeholder_closure(ruleset, seed)

    def ecol(n: str) -> str:
        return f"__nc_e{name_idx[n]}"

    def fcol(n: str) -> str:
        return f"__nc_f{name_idx[n]}" if n in fuzzy_names else ecol(n)

    def e_expr(n: str) -> Column:
        return assemble_match_expr(
            ruleset.road_type_filters.get(n), t, rels, ovr, n, False,
            lambda ref: F.col(ecol(ref)), numeric_operand,
        )

    def f_expr(n: str) -> Column:
        return assemble_match_expr(
            ruleset.road_type_filters.get(n), t, rels, ovr, n, True,
            lambda ref: F.col(fcol(ref)), numeric_operand,
        )

    level_batches: list[dict] = []
    max_level = max((levels[n] for n in shared), default=0)
    for lvl in range(max_level + 1):
        batch: dict[str, Column] = {}
        for n in sorted(n for n in shared if levels[n] == lvl):
            batch[ecol(n)] = e_expr(n)
            if n in fuzzy_names:
                batch[fcol(n)] = f_expr(n)
        if batch:
            level_batches.append(batch)

    # ONE index-addressed boolean array: exact-stage entries first
    # (position = name_idx), then one extra entry per fuzzy-SENSITIVE
    # name (fuzzy-insensitive names share their exact entry via
    # fuzzy_idx == name_idx, so no predicate is evaluated twice)
    fz_list = [n for n in names if n in fuzzy_names]
    fuzzy_idx = {n: name_idx[n] for n in names}
    for rank, n in enumerate(fz_list):
        fuzzy_idx[n] = len(names) + rank

    def m_elem(n: str, fuzzy: bool) -> Column:
        if n in shared:
            return F.col(fcol(n) if fuzzy else ecol(n))
        return f_expr(n) if fuzzy else e_expr(n)

    m_entries = [m_elem(n, False) for n in names] + [
        m_elem(n, True) for n in fz_list
    ]
    m_array = (
        F.array(*m_entries) if m_entries else F.array().cast("array<boolean>")
    )

    dim_rows, dim_schema, n_slots = _dim_data(ruleset, name_idx, fuzzy_idx)

    # unrolled first-match over scan slots (C1 -> min(priority))
    def first_pos(match_slot) -> Column:
        whens = None
        for j in range(n_slots):
            cond = match_slot(j)
            whens = (
                F.when(cond, F.lit(j + 1))
                if whens is None
                else whens.when(cond, F.lit(j + 1))
            )
        return whens if whens is not None else F.lit(None).cast("int")

    # NB: the slot index is NULL for rows whose country missed the dim
    # (and for empty slots). element_at(array, NULL) must not be relied
    # on: this Spark build's codegen subexpression elimination returns
    # the FIRST ELEMENT for a null index instead of null (observed:
    # element_at(array(true), NULL) = true), which manufactured phantom
    # matches for unknown countries. Guard the null index explicitly.
    m_arr = F.col("__nc_m")

    def slot_lookup(idx_col: Column) -> Column:
        return F.when(
            idx_col.isNotNull(),
            F.coalesce(F.element_at(m_arr, idx_col + 1), F.lit(False)),
        ).otherwise(F.lit(False))

    pos_e = first_pos(
        lambda j: slot_lookup(F.col(f"__nc_s{j}_nidx"))
    )
    pos_f = first_pos(
        lambda j: slot_lookup(F.col(f"__nc_s{j}_fidx"))
    )
    # FromMaxSpeed: plain string equality, NOT unit-normalized (C3,
    # LegalDefaultSpeeds.kt:225-239; LegalDefaultSpeedsTest.kt:106-111)
    pos_m = first_pos(
        lambda j: F.col(f"__nc_s{j}_ms") == F.col("__nc_tms")
    )

    pe, pf, pm = F.col("__nc_pe"), F.col("__nc_pf"), F.col("__nc_pm")
    cert = (
        F.when(pe.isNotNull(), F.lit("Exact"))
        .when(pm.isNotNull(), F.lit("FromMaxSpeed"))
        .when(pf.isNotNull(), F.lit("Fuzzy"))
        .when(F.col("__nc_has_fb"), F.lit("Fallback"))
    )
    wpos = F.coalesce(pe, pm, pf)
    # same null-index guard as the slot lookups above
    w = F.when(
        wpos.isNotNull(), F.element_at(F.col("__nc_rules"), wpos)
    )
    wname = w.getField("name")
    wtags = F.coalesce(
        w.getField("rtags"),
        F.when(cert == "Fallback", F.col("__nc_fb_tags")),
    )
    wctags = F.coalesce(
        w.getField("ctags"),
        F.when(cert == "Fallback", F.col("__nc_fb_ctags")),
    )

    # Result-assembly FAST PATH. If the input has NO parsable root
    # maxspeed and NO maxspeed:* key, the input cannot influence
    # capping: (a) an unparsable input maxspeed is implicit, so the
    # merged root is the rule's own value; (b) every capped key and
    # every chain ancestor then comes from the rule alone — i.e. the
    # capped map equals ``ctags``, the rule's result tags pre-computed
    # against an empty input by the Python kernel on the driver; (c)
    # the remaining work is only the R1 subtraction: drop keys present
    # in the input (all non-implicit under this guard except the root,
    # which is exempt because an implicit root is never subtracted).
    # Rows that fail the guard take the full staged R1-R4 algebra,
    # whose stages are themselves gated on ~fastok so fast rows pay
    # one boolean per stage.
    fastok = ~(
        _parse(F.col("__nc_tms")).isNotNull()
        | F.exists(
            F.map_keys(t), lambda k: k.startswith("maxspeed:")
        )
    )
    fast = F.col("__nc_fastok")
    fast_tags = F.map_filter(
        F.col("__nc_wctags"),
        lambda k, v: ~F.map_contains_key(t, k) | (k == F.lit("maxspeed")),
    )

    assembly = [
        (name, F.when(~fast, col))
        for name, col in _assembly_columns(
            "__nc_tags", "__nc_wtags", "__nc_rtags", _rule_cap_depth(ruleset)
        )
    ]
    result_struct = F.when(
        F.col("__nc_cert").isNotNull(),
        F.struct(
            F.col("__nc_wname").alias("road_type_name"),
            F.when(fast, fast_tags)
            .otherwise(F.col("__nc_rtags"))
            .alias("tags"),
            F.col("__nc_cert").alias("certitude"),
        ),
    )

    bundle = {
        "eff": effective_country(ruleset, F.col(country_col)),
        "num_batch": num_batch,
        "level_batches": level_batches,
        "m_array": m_array,
        "tms": F.element_at(t, F.lit("maxspeed")),
        "dim_rows": dim_rows,
        "dim_schema": dim_schema,
        "pos_e": pos_e,
        "pos_f": pos_f,
        "pos_m": pos_m,
        "cert": cert,
        "wname": wname,
        "wtags": wtags,
        "wctags": wctags,
        "fastok": fastok,
        "assembly": assembly,
        "result_struct": result_struct,
    }
    _BUNDLE_CACHE[key] = (ruleset, bundle)
    return bundle
