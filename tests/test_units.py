"""Ported from the reference NumberWithUnitParserKtTest.kt:1-78."""

import pytest

from osm_legal_default_speeds_spark.functions.units import (
    parse_number_with_unit,
)

FT = 0.3048
IN = 0.0254


def test_empty():
    assert parse_number_with_unit("") is None
    assert parse_number_with_unit(None) is None


def test_number():
    assert parse_number_with_unit("1.0") == 1.0
    assert parse_number_with_unit("1") == 1.0
    assert parse_number_with_unit("1.00") == 1.0
    assert parse_number_with_unit("0.1") == 0.1
    assert parse_number_with_unit(".1") == 0.1


def test_feet_and_inches():
    ft5in8 = 5 * FT + 8 * IN
    assert parse_number_with_unit('5\'8"') == ft5in8
    assert parse_number_with_unit('5\' 8"') == ft5in8
    assert parse_number_with_unit('5  \'  8 "') == ft5in8
    assert parse_number_with_unit("5 ft 8 in") == ft5in8
    assert parse_number_with_unit("5ft8in") == ft5in8


def test_standard_units():
    assert parse_number_with_unit("1m") == 1.0
    assert parse_number_with_unit("1 m") == 1.0
    assert parse_number_with_unit("1 km/h") == 1.0
    assert parse_number_with_unit("1 kph") == 1.0
    assert parse_number_with_unit("1 t") == 1.0


def test_feet():
    assert parse_number_with_unit("1 ft") == FT
    assert parse_number_with_unit("1 '") == FT


def test_inches():
    assert parse_number_with_unit("1 in") == IN
    assert parse_number_with_unit('1 "') == IN


def test_yards():
    assert parse_number_with_unit("1 yd") == 0.9144
    assert parse_number_with_unit("1 yds") == 0.9144


def test_pounds():
    assert parse_number_with_unit("1 lb") == 0.00045359237
    assert parse_number_with_unit("1 lbs") == 0.00045359237


def test_other_units():
    assert parse_number_with_unit("1 mm") == 0.001
    assert parse_number_with_unit("1 cm") == 0.01
    assert parse_number_with_unit("1 km") == 1000.0
    assert parse_number_with_unit("1 kg") == 0.001
    assert parse_number_with_unit("1 mph") == 1.609344
    assert parse_number_with_unit("1 st") == 0.90718474
    assert parse_number_with_unit("1 lt") == 1.0160469
    assert parse_number_with_unit("1 cwt") == 0.05080234544


def test_unknown_units():
    assert parse_number_with_unit("1 bananas") is None
    assert parse_number_with_unit("1 bananas 3 feet") is None
    assert parse_number_with_unit("speed 1 mph") is None


def test_implicit_maxspeed_values_do_not_parse():
    assert parse_number_with_unit("RO:urban") is None
    assert parse_number_with_unit("walk") is None
    assert parse_number_with_unit("none") is None


def test_no_sign_or_inf():
    assert parse_number_with_unit("-1") is None
    assert parse_number_with_unit("+1") is None
    assert parse_number_with_unit("inf") is None
    assert parse_number_with_unit("nan") is None


def test_unicode_whitespace_rejected_like_jvm():
    """The reference's regexes and toDoubleOrNull run on the JVM: \\s
    is ASCII [ \\t\\n\\x0b\\f\\r] and parseDouble rejects U+00A0 — and
    the native Column twin (Spark rlike = JVM regex) already behaves
    that way, so the Python parser must too or the engines disagree on
    wiki-scraped values carrying non-breaking spaces."""
    assert parse_number_with_unit("30 mph") == pytest.approx(48.28032)
    assert parse_number_with_unit("30\u00a0mph") is None
    assert parse_number_with_unit("30\u00a0") is None
    # trailing ASCII whitespace is parseDouble-trimmed; LEADING fails
    # the reference's first-char digit/dot guard before any trim
    assert parse_number_with_unit("30 ") == 30.0
    assert parse_number_with_unit(" 30 ") is None
