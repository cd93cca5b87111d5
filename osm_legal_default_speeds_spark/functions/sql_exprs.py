"""Native Spark Column compilation of tag-filter semantics.

The JVM-side / whole-stage-codegen path: compiles a parsed tag-filter
AST into a ``pyspark.sql.Column`` over a ``map<string,string>`` column,
and provides a native expression for unit-normalizing number parsing.
Used for predicates known at plan time (fixed filters, the
driver-contract oracle queries, pushdown-able pre-filters) and, per
road-type name, by the all-native cascade (``plans.native_cascade``).

Correctness notes mirrored from the reference:
- regex atoms use FULL-string matching (``RegexOrSet.kt:22``): every
  compiled pattern is anchored ``\\A(?:...)\\z`` because Spark's
  ``rlike`` is substring search (SURVEY.md §4.3 -
  "correctness-critical") and Java's ``$`` still matches before a
  final line terminator,
- alternation-only patterns are emitted as IN-lists
  (``RegexOrSet.kt:5-27``) — Catalyst can't do this rewrite for us
  because the pattern arrives as data, not as a SQL literal,
- numeric comparisons run in float32 like the reference's Kotlin
  ``Float`` (``TagFilter.kt:95-102``).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, functions as F

from osm_legal_default_speeds_spark.functions.tagfilter_ast import (
    AllOf,
    AnyOf,
    BooleanExpression,
    HasKey,
    HasKeyLike,
    HasTag,
    HasTagGreaterOrEqualThan,
    HasTagGreaterThan,
    HasTagLessOrEqualThan,
    HasTagLessThan,
    HasTagLike,
    HasTagValueLike,
    Leaf,
    Not,
    NotHasKey,
    NotHasKeyLike,
    NotHasTag,
    NotHasTagValueLike,
    NotPlaceholder,
    Placeholder,
    RegexOrSet,
)
from osm_legal_default_speeds_spark.functions.tagfilter_parser import parse_tag_filter
from osm_legal_default_speeds_spark.functions.units import UNIT_FACTORS

# Anchored (fullmatch) regexes mirroring functions.units. \A/\z, not
# ^/$: Java's $ also matches just before a FINAL line terminator, so a
# ^...$ anchor accepts "30 mph\n" that the Python scalar's fullmatch
# (and the reference's matchEntire) reject; \z is the absolute end.
_PLAIN_NUMBER_PATTERN = (
    r"\A\s*([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\s*\z"
)
_WITH_UNIT_PATTERN = "\\A([0-9]+|[0-9]*\\.[0-9]+)\\s*([a-z/'\"]+)\\z"
_FEET_INCH_PATTERN = "\\A([0-9]+)\\s*(?:'|ft)\\s*([0-9]+)\\s*(?:\"|in)\\z"


def number_with_unit_to_double(value: Column) -> Column:
    """Native equivalent of ``parse_number_with_unit``
    (NumberWithUnitParser.kt:3-50): null unless the string is a plain
    number, number+known unit, or feet-inches; result normalized to
    km/h / m / t."""
    first = F.substring(value, 1, 1)
    guard = first.rlike("^[0-9.]$")

    last = F.substring(value, -1, 1)
    last_is_wordy = last.rlike("^[A-Za-z\"']$")

    plain = F.when(value.rlike(_PLAIN_NUMBER_PATTERN), value.cast("double"))

    unit_factor_map = F.create_map(
        *[F.lit(x) for kv in UNIT_FACTORS.items() for x in kv]
    )
    unit_num = F.regexp_extract(value, _WITH_UNIT_PATTERN, 1)
    unit_name = F.regexp_extract(value, _WITH_UNIT_PATTERN, 2)
    with_unit = F.when(
        (unit_num != "") & F.element_at(unit_factor_map, unit_name).isNotNull(),
        unit_num.cast("double") * F.element_at(unit_factor_map, unit_name),
    )

    feet = F.regexp_extract(value, _FEET_INCH_PATTERN, 1)
    inches = F.regexp_extract(value, _FEET_INCH_PATTERN, 2)
    feet_inch = F.when(
        feet != "",
        feet.cast("double") * F.lit(UNIT_FACTORS["ft"])
        + inches.cast("double") * F.lit(UNIT_FACTORS["in"]),
    )

    return F.when(
        value.isNotNull() & (value != "") & guard,
        F.when(~last_is_wordy, plain).otherwise(F.coalesce(with_unit, feet_inch)),
    )


def _anchored(pattern: str) -> str:
    # \A/\z, not ^/$: Java's $ matches just before a final line
    # terminator, so ^(?:p)$ on rlike accepts "residential\n" that the
    # reference's matchEntire and the Arrow kernel's re.fullmatch
    # reject — a silent native-vs-Python engine divergence.
    return f"\\A(?:{pattern})\\z"


def _regex_or_set_match(ros: RegexOrSet, col: Column) -> Column:
    """IN-list for alternation-only patterns, anchored rlike otherwise."""
    if ros.is_set:
        return col.isin(*sorted(ros.members))
    return col.rlike(_anchored(ros.pattern))


def _cmp_operand(tags: Column, key: str) -> Column:
    # float32 like the reference (TagFilter.kt:98)
    return number_with_unit_to_double(F.element_at(tags, F.lit(key))).cast("float")


PlaceholderResolver = Callable[[str], Column]
NumericOperandResolver = Callable[[str], Column]


def filter_to_column(
    expr: BooleanExpression | str,
    tags: Column | str,
    resolve_placeholder: PlaceholderResolver | None = None,
    numeric_operand: NumericOperandResolver | None = None,
) -> Column:
    """Compile a tag-filter AST (or DSL string) to a boolean Column over
    a map<string,string> column. Placeholders require a resolver (the
    native cascade resolves each to the referenced road type's staged
    boolean column — B5/B6 DAG substitution, sound because cycles are
    rejected).

    ``numeric_operand``: optional key -> Column hook for the comparison
    atoms' unit-normalized operand. The parse tree
    (``number_with_unit_to_double``) is large; callers compiling many
    filters over the same input column stage one parsed column per
    distinct key and resolve to it here — Catalyst does not CSE the
    duplicated subtrees on its own."""
    if isinstance(expr, str):
        expr = parse_tag_filter(expr)
    t = F.col(tags) if isinstance(tags, str) else tags

    def c(node: BooleanExpression) -> Column:
        if isinstance(node, Leaf):
            return _atom_to_column(node.value, t, numeric_operand)
        if isinstance(node, AllOf):
            out = c(node.nodes[0])
            for n in node.nodes[1:]:
                out = out & c(n)
            return out
        if isinstance(node, AnyOf):
            out = c(node.nodes[0])
            for n in node.nodes[1:]:
                out = out | c(n)
            return out
        if isinstance(node, Not):
            return ~c(node.nodes[0])
        if isinstance(node, Placeholder):
            if resolve_placeholder is None:
                raise ValueError(f"No placeholder resolver for {{{node.value}}}")
            return resolve_placeholder(node.value)
        if isinstance(node, NotPlaceholder):
            if resolve_placeholder is None:
                raise ValueError(f"No placeholder resolver for !{{{node.value}}}")
            return ~resolve_placeholder(node.value)
        raise TypeError(f"Unknown node {type(node)}")

    return c(expr)


def _atom_to_column(
    atom, tags: Column, numeric_operand: NumericOperandResolver | None = None
) -> Column:
    def cmp_op(key: str) -> Column:
        if numeric_operand is not None:
            return numeric_operand(key)
        return _cmp_operand(tags, key)

    if isinstance(atom, HasKey):
        return F.map_contains_key(tags, atom.key)
    if isinstance(atom, NotHasKey):
        return ~F.map_contains_key(tags, atom.key)
    if isinstance(atom, HasTag):
        return F.element_at(tags, F.lit(atom.key)).eqNullSafe(F.lit(atom.value))
    if isinstance(atom, NotHasTag):
        return ~F.element_at(tags, F.lit(atom.key)).eqNullSafe(F.lit(atom.value))
    if isinstance(atom, HasKeyLike):
        return F.exists(
            F.map_keys(tags), lambda k: _regex_or_set_match(atom.regex, k)
        )
    if isinstance(atom, NotHasKeyLike):
        return ~F.exists(
            F.map_keys(tags), lambda k: _regex_or_set_match(atom.regex, k)
        )
    if isinstance(atom, HasTagValueLike):
        v = F.element_at(tags, F.lit(atom.key))
        return F.coalesce(_regex_or_set_match(atom.regex, v), F.lit(False))
    if isinstance(atom, NotHasTagValueLike):
        v = F.element_at(tags, F.lit(atom.key))
        return v.isNull() | ~_regex_or_set_match(atom.regex, v)
    if isinstance(atom, HasTagLike):
        return F.exists(
            F.map_entries(tags),
            lambda e: _regex_or_set_match(atom.key_regex, e.getField("key"))
            & _regex_or_set_match(atom.value_regex, e.getField("value")),
        )
    if isinstance(atom, HasTagLessThan):
        return F.coalesce(
            cmp_op(atom.key) < F.lit(atom.value).cast("float"),
            F.lit(False),
        )
    if isinstance(atom, HasTagGreaterThan):
        return F.coalesce(
            cmp_op(atom.key) > F.lit(atom.value).cast("float"),
            F.lit(False),
        )
    if isinstance(atom, HasTagLessOrEqualThan):
        return F.coalesce(
            cmp_op(atom.key) <= F.lit(atom.value).cast("float"),
            F.lit(False),
        )
    if isinstance(atom, HasTagGreaterOrEqualThan):
        return F.coalesce(
            cmp_op(atom.key) >= F.lit(atom.value).cast("float"),
            F.lit(False),
        )
    raise TypeError(f"Unknown atom {type(atom)}")


def assemble_match_expr(
    cf,
    tags: Column,
    rels: Column | None,
    ovr: Column | None,
    name: str,
    fuzzy: bool,
    resolve,
    numeric_operand=None,
) -> Column:
    """filtersMatch for one road type (LegalDefaultSpeeds.kt:207-223),
    as the hoisted-column native cascade (plans.native_cascade) builds
    it for every reachable name:

        coalesce(overrides[name],
                 coalesce(anyRelationMatches(relationFilter) OR filter
                          [OR fuzzyFilter], false))

    Placeholders inside the relationFilter resolve via ``resolve``
    against the *road's* context, not the relation map (kt:218-222);
    numeric operands inside it DO read the relation map, which is why
    ``numeric_operand`` (road-side staged unit-parse columns) is never
    forwarded into the exists() branch."""
    parts: list[Column] = []
    if cf is not None:
        if cf.relation_filter is not None and rels is not None:
            rf = cf.relation_filter
            parts.append(
                F.exists(rels, lambda rel: filter_to_column(rf, rel, resolve))
            )
        if cf.filter is not None:
            parts.append(
                filter_to_column(cf.filter, tags, resolve, numeric_operand)
            )
        if fuzzy and cf.fuzzy_filter is not None:
            parts.append(
                filter_to_column(cf.fuzzy_filter, tags, resolve, numeric_operand)
            )
    if parts:
        expr = parts[0]
        for p in parts[1:]:
            expr = expr | p
        expr = F.coalesce(expr, F.lit(False))
    else:
        expr = F.lit(False)
    if ovr is not None:
        return F.coalesce(F.element_at(ovr, F.lit(name)), expr)
    return expr
