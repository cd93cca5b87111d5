"""Pure-Python reference-semantics kernel.

Row-level implementation of the reference query lifecycle
(``LegalDefaultSpeeds.kt:151-304``), driven by a ``CompiledRuleSet``.
It serves two roles:

- the differential-test oracle for the Spark operators,
- the driver-side pre-capping of each rule's result tags that
  ``plans.native_cascade`` ships in its broadcast country dim.

The match cascade (``LegalDefaultSpeeds.kt:161-183``):
  1. Exact       — first rule whose filter matches (priority order C1)
  2. FromMaxSpeed — reverse string-equality lookup on rule tags'
     ``maxspeed`` (``LegalDefaultSpeeds.kt:225-239``; NOT unit-normalized)
  3. Fuzzy       — stage 1 with the fuzzyFilter disjunct enabled
  4. Fallback    — the name==None rule, if present

Unlike the reference (which re-evaluates placeholders on every
occurrence), placeholder evaluations are memoized per query — sound
because evaluation is pure given (row, fuzzy, overrides) and cycles are
rejected at compile time.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from osm_legal_default_speeds_spark.functions.units import parse_number_with_unit
from osm_legal_default_speeds_spark.plans.rules_compiler import (
    CompiledRuleSet,
    compile_ruleset,
)
from osm_legal_default_speeds_spark.plans.rules_model import (
    Certitude,
    Result,
    RoadTypeDef,
    RoadTypeFilterDef,
)

ReplacerFn = Callable[[str, Callable[[], bool]], bool]


class LegalDefaultSpeedsEngine:
    """Drop-in equivalent of the reference ``LegalDefaultSpeeds`` class."""

    def __init__(
        self,
        road_types_by_name: Mapping[str, RoadTypeFilterDef] | None = None,
        speed_limits_by_country_code: Mapping[str, Sequence[RoadTypeDef]] | None = None,
        *,
        ruleset: CompiledRuleSet | None = None,
    ):
        if ruleset is None:
            ruleset = compile_ruleset(
                road_types_by_name or {}, speed_limits_by_country_code or {}
            )
        self.ruleset = ruleset

    # -- entry point 3 (LegalDefaultSpeeds.kt:246-247) --
    def is_relevant_tag_key(self, key: str) -> bool:
        return self.ruleset.is_relevant_tag_key(key)

    # -- entry point 2 (LegalDefaultSpeeds.kt:151-184) --
    def get_speed_limits(
        self,
        country_code: str,
        tags: Mapping[str, str],
        relations_tags: Sequence[Mapping[str, str]] = (),
        replacer_fn: ReplacerFn | None = None,
        overrides: Mapping[str, bool] | None = None,
    ) -> Result | None:
        """``overrides`` is the columnar form of ``replacer_fn``: a map
        name -> forced boolean (the per-row override column in the
        distributed operator, C7). If both are given, ``replacer_fn``
        wins."""
        rs = self.ruleset
        rules = rs.speed_limits_by_country.get(country_code)
        scan: Sequence[int]
        fallback_idx = None
        if rules is None:
            # subdivision -> country fallback (LegalDefaultSpeeds.kt:157-159)
            cc = country_code.split("-", 1)[0]
            rules = rs.speed_limits_by_country.get(cc)
            if rules is None:
                return None
            scan = rs.scan_order_by_country[cc]
            fallback_idx = rs.fallback_index_by_country[cc]
        else:
            scan = rs.scan_order_by_country[country_code]
            fallback_idx = rs.fallback_index_by_country[country_code]

        if replacer_fn is None:
            if overrides:
                ov = overrides

                def replacer_fn(name, ev, _ov=ov):
                    forced = _ov.get(name)
                    return forced if forced is not None else ev()

            else:
                replacer_fn = _default_replacer

        # 1. Exact
        rule = self._find_road_type_by_tags(rules, scan, tags, relations_tags, False, replacer_fn)
        if rule is not None:
            return Result(rule.name, create_result_tags(tags, rule.tags), Certitude.EXACT)

        # 2. FromMaxSpeed
        rule = _find_road_type_by_max_speed(rules, scan, tags)
        if rule is not None:
            return Result(rule.name, create_result_tags(tags, rule.tags), Certitude.FROM_MAX_SPEED)

        # 3. Fuzzy
        rule = self._find_road_type_by_tags(rules, scan, tags, relations_tags, True, replacer_fn)
        if rule is not None:
            return Result(rule.name, create_result_tags(tags, rule.tags), Certitude.FUZZY)

        # 4. Fallback
        if fallback_idx is not None:
            rule = rules[fallback_idx]
            return Result(rule.name, create_result_tags(tags, rule.tags), Certitude.FALLBACK)
        return None

    def _find_road_type_by_tags(
        self, rules, scan, tags, relations_tags, fuzzy, replacer_fn
    ) -> RoadTypeDef | None:
        memo: dict[str, bool] = {}

        def match_replace(name: str) -> bool:
            cached = memo.get(name)
            if cached is not None:
                return cached
            result = replacer_fn(name, lambda: filters_match(name))
            memo[name] = result
            return result

        def filters_match(name: str) -> bool:
            # LegalDefaultSpeeds.kt:213-223: the placeholder receives the
            # *road's* tags and relations, the fuzzy flag propagates, and
            # the replacer wraps every named evaluation.
            cf = self.ruleset.road_type_filters.get(name)
            if cf is None:
                return False
            if cf.relation_filter is not None and any(
                cf.relation_filter.matches(rel, match_replace) for rel in relations_tags
            ):
                return True
            if cf.filter is not None and cf.filter.matches(tags, match_replace):
                return True
            return bool(
                fuzzy
                and cf.fuzzy_filter is not None
                and cf.fuzzy_filter.matches(tags, match_replace)
            )

        for i in scan:
            rule = rules[i]
            if match_replace(rule.name):
                return rule
        return None


def _default_replacer(name: str, evaluate: Callable[[], bool]) -> bool:
    return evaluate()


def _find_road_type_by_max_speed(rules, scan, tags) -> RoadTypeDef | None:
    """Reverse lookup by plain string equality on 'maxspeed'
    (LegalDefaultSpeeds.kt:225-239); pinned as NOT unit-normalized by
    LegalDefaultSpeedsTest.kt:106-111."""
    maxspeed = tags.get("maxspeed")
    if maxspeed is None:
        return None
    for i in scan:
        rule = rules[i]
        if rule.tags.get("maxspeed") == maxspeed:
            return rule
    return None


def is_implicit_max_speed(key: str, value: str) -> bool:
    """maxspeed=RO:urban style values must not shadow explicit rule
    speeds (LegalDefaultSpeeds.kt:260-261)."""
    return key == "maxspeed" and parse_number_with_unit(value) is None


def create_result_tags(tags: Mapping[str, str], road_type_tags: Mapping[str, str]) -> dict:
    """Result map algebra R1-R4 (LegalDefaultSpeeds.kt:250-304):
    merge (input wins except implicit maxspeed), cap speeds, then
    subtract non-implicit input keys so only *additional* tags remain."""
    result = dict(road_type_tags)
    for k, v in tags.items():
        if not is_implicit_max_speed(k, v):
            result[k] = v
    maxspeed = parse_number_with_unit(result.get("maxspeed"))
    _limit_speeds_to(result, "maxspeed", maxspeed)
    for k, v in tags.items():
        if not is_implicit_max_speed(k, v):
            result.pop(k, None)
    return result


def _limit_speeds_to(result: dict, key: str, maxspeed: float | None) -> None:
    """R3/R4 speed capping (LegalDefaultSpeeds.kt:263-304). Recurses per
    subkey with the running minimum speed."""
    prefix = key + ":"
    if maxspeed is not None:
        for k in [k for k in result if k.startswith(prefix)]:
            v = result[k]
            if k.endswith(":conditional"):
                # prune conditional list entries whose speed parses and is
                # >= the cap; unparsable entries are kept
                # (LegalDefaultSpeeds.kt:274-287)
                kept = []
                for item in v.split("; "):
                    speed = parse_number_with_unit(item.split(" @ ")[0])
                    if speed is None or speed < maxspeed:
                        kept.append(item)
                new_conditional = "; ".join(kept)
                if not new_conditional:
                    del result[k]
                    continue
                result[k] = new_conditional
                v = new_conditional
            speed = parse_number_with_unit(v)
            if speed is not None and speed >= maxspeed:
                del result[k]
    # recurse down (maxspeed:hgv:conditional under maxspeed:hgv etc.)
    for subkey in [k for k in result if k.startswith(prefix)]:
        sub_value = result.get(subkey)
        sub_maxspeed = parse_number_with_unit(sub_value) if sub_value is not None else None
        candidates = [m for m in (maxspeed, sub_maxspeed) if m is not None]
        _limit_speeds_to(result, subkey, min(candidates) if candidates else None)
