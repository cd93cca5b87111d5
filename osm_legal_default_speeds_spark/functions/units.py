"""Unit-normalizing number parsing.

Reimplements the semantics of the reference's
``NumberWithUnitParser.kt:3-50`` (``withOptionalUnitToDoubleOrNull``):
a tag value like ``"30 mph"`` normalizes to km/h, ``"5'8\""`` to
meters, ``"2st"`` to tonnes; an unknown unit or a non-numeric string
yields ``None``. Canonical units are km/h (speed), m (length) and
t (weight).

Used in three places:
- parse-time constant folding of comparison literals
  (``TagFilterExpressionParser.kt:194``),
- runtime comparison atoms F10-F12 (``filters/TagFilter.kt:95-102``),
- result assembly speed capping / implicit-maxspeed detection
  (``LegalDefaultSpeeds.kt:253-304``).

Also exports the unit-factor table consumed by the native Spark Column
compiler in ``functions.sql_exprs``.
"""

from __future__ import annotations

import re

# Factors to the canonical unit per dimension: km/h, meters, tonnes.
# Mirrors NumberWithUnitParser.kt:30-50 bit-for-bit (the doubles must
# match so comparisons agree with the reference).
UNIT_FACTORS: dict[str, float] = {
    # speed -> km/h
    "km/h": 1.0,
    "kph": 1.0,
    "mph": 1.609344,
    # width/length/height -> meters
    "m": 1.0,
    "mm": 0.001,
    "cm": 0.01,
    "km": 1000.0,
    "ft": 0.3048,
    "'": 0.3048,
    "in": 0.0254,
    '"': 0.0254,
    "yd": 0.9144,
    "yds": 0.9144,
    # weight -> tonnes
    "t": 1.0,
    "kg": 0.001,
    "st": 0.90718474,  # short tons
    "lt": 1.0160469,  # long tons
    "lb": 0.00045359237,
    "lbs": 0.00045359237,
    "cwt": 0.05080234544,  # imperial (=long) hundredweight
}

# NumberWithUnitParser.kt:27-28. The reference's \s runs on the JVM,
# where it is the ASCII class [ \t\n\x0b\f\r]; Python's Unicode \s
# would additionally accept U+00A0 etc., diverging BOTH from the
# reference and from the native Column twin (sql_exprs, whose rlike is
# JVM regex) — so the JVM class is spelled out.
_JVM_WS = r"[ \t\n\x0b\f\r]"
_FEET_INCH_RE = re.compile(
    rf"([0-9]+){_JVM_WS}*(?:'|ft){_JVM_WS}*([0-9]+){_JVM_WS}*(?:\"|in)"
)
_WITH_UNIT_RE = re.compile(rf"([0-9]+|[0-9]*\.[0-9]+){_JVM_WS}*([a-z/'\"]+)")

# Plain-number grammar accepted by Java's Double.parseDouble for inputs
# that already passed the first-char-is-digit-or-dot guard (no sign, no
# hex, no underscores in practice for OSM values; leading/trailing
# whitespace is trimmed by parseDouble). fullmatch-anchored.
# KNOWN (intentional) narrowings vs the full parseDouble grammar, kept
# so the Python scalar and the native Column twin (sql_exprs, Spark
# cast) agree with EACH OTHER: hex-float literals
# ("0x1p3" -> 8.0 in Kotlin, None here — Spark's cast can't parse them
# either) and [\x00-\x20] control-char padding ("30\x1f" -> 30.0 in
# Kotlin via trim, None here — _JVM_WS covers only the 6 \s chars).
# Both shapes are absent from real OSM maxspeed values.
_PLAIN_NUMBER_RE = re.compile(
    rf"{_JVM_WS}*([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?{_JVM_WS}*"
)


def parse_number_with_unit(value: str | None) -> float | None:
    """``"30 mph"`` -> 48.28032, ``"60"`` -> 60.0, junk -> None."""
    if not value:
        return None
    first = value[0]
    if not ("0" <= first <= "9") and first != ".":
        return None
    last = value[-1]
    if not last.isalpha() and last not in "\"'":
        # bare number (NumberWithUnitParser.kt:7)
        if _PLAIN_NUMBER_RE.fullmatch(value):
            try:
                return float(value)
            except ValueError:
                return None
        return None

    m = _WITH_UNIT_RE.fullmatch(value)
    if m:
        try:
            v = float(m.group(1))
        except ValueError:
            return None
        factor = UNIT_FACTORS.get(m.group(2))
        if factor is None:
            return None
        return v * factor

    m = _FEET_INCH_RE.fullmatch(value)
    if m:
        return int(m.group(1)) * UNIT_FACTORS["ft"] + int(m.group(2)) * UNIT_FACTORS["in"]

    return None

