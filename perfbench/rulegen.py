"""Seeded full-scale rule set in the reference ``legal_default_speeds.json``
schema.

The shape follows the published dataset's envelope: 172 road types,
242 country codes (including ``CC-SUB`` subdivisions), about 1,206 rule
rows, at most 13 rules per country and about 238 countries with an
unnamed fallback rule. The filters use every construct the compiler and
the native cascade handle: placeholders (a DAG up to four levels deep,
some negated), fuzzy filters, relation filters, regex keys and values,
unit comparisons, conditional output tags and ``maxspeed:*`` keys
nested to depth 2.

Everything is a pure function of the seed, so the JSON bytes (and their
sha256) repeat exactly for a given seed.
"""

from __future__ import annotations

import hashlib
import json
import random

N_ROAD_TYPES = 172
N_COUNTRIES = 242
N_RULES = 1206
MAX_RULES_PER_COUNTRY = 13
N_WITHOUT_FALLBACK = 4

# hand-written core road types: the names other types build on
CORE_ROAD_TYPES: dict[str, dict] = {
    "urban": {
        "filter": 'lit=yes or ~zone:traffic|zone:maxspeed|source:maxspeed'
                  ' ~ "[A-Z-]+:urban"',
        "fuzzyFilter": "highway~residential|living_street|service"
                       " or sidewalk~both|left|right|yes|separate",
    },
    "rural": {
        "filter": '~zone:traffic|zone:maxspeed|source:maxspeed ~ "[A-Z-]+:rural"',
        "fuzzyFilter": "!{urban} and highway~primary|secondary|tertiary|unclassified|track",
    },
    "motorway": {"filter": "highway~motorway|motorway_link"},
    "motorroad": {"filter": "motorroad=yes or expressway=yes"},
    "trunk": {"filter": "highway~trunk|trunk_link"},
    "living street": {"filter": "highway=living_street or living_street=yes"},
    "pedestrian zone": {"filter": "highway=pedestrian"},
    "bicycle road": {"filter": "bicycle_road=yes or cyclestreet=yes"},
    "school zone": {"filter": "hazard=school_zone or school_zone=yes"},
    "dual carriageway": {
        "filter": "dual_carriageway=yes or (oneway=yes and lanes>=2)",
        "fuzzyFilter": "width>=12m",
    },
    "state road": {
        "filter": 'ref~"[A-Z]{1,2} ?[0-9]+"',
        "relationFilter": 'type=route and route=road and network~"[A-Z]{2}:(national|state)"',
    },
    "urban motorway": {"filter": "{motorway} and {urban}"},
    "rural motorway": {"filter": "{motorway} and !{urban}"},
    "urban trunk": {"filter": "{trunk} and {urban}"},
    "rural trunk": {"filter": "{trunk} and {rural}"},
    "urban state road": {"filter": "{urban} and {state road}"},
    "rural state road": {"filter": "{rural} and {state road}"},
    "rural dual carriageway": {"filter": "{rural} and {dual carriageway}"},
    "narrow rural road": {"filter": "{rural} and width<4m", "fuzzyFilter": "{rural} and lanes=1"},
    "unpaved road": {"filter": "surface~unpaved|gravel|dirt|ground|grass|compacted"},
    "road with heavy traffic ban": {"filter": "maxweight<=7.5t or hgv=no"},
    "low-speed zone": {"filter": "maxspeed<=20 or zone:maxspeed~\"[A-Z]{2}:(20|30)\""},
    "construction road": {"filter": "~construction|proposed ~ yes|minor|major"},
    "imaginary road": {"filter": "~imaginary:.*"},
}

HIGHWAY_CLASSES = [
    "primary", "secondary", "tertiary", "unclassified", "residential",
    "service", "track", "road", "busway", "primary_link", "secondary_link",
    "tertiary_link",
]

# qualifier -> (name template, filter template, fuzzy template or None)
QUALIFIERS = [
    ("urban {h} road", "{{urban}} and highway={h}", None),
    ("rural {h} road", "{{rural}} and highway={h}", "!{{urban}} and highway={h} and lanes>=1"),
    ("{h} road with 2 lanes", "highway={h} and lanes>=2", "highway={h} and width>=6.5m"),
    ("{h} road with 4 lanes", "highway={h} and lanes>=4", None),
    ("narrow {h} road", "highway={h} and width<=13ft", None),
    ("unpaved {h} road", "highway={h} and {{unpaved road}}", None),
    ("lit {h} road", "highway={h} and lit=yes", None),
    ("one-way {h} road", "highway={h} and oneway~yes|-1", None),
    ("state {h} road", "highway={h} and {{state road}}", None),
    ("heavy-restricted {h} road", "highway={h} and {{road with heavy traffic ban}}", None),
    ("urban {h} road with 2 lanes", "{{urban {h} road}} and lanes>=2", None),
    ("rural {h} road with 2 lanes", "{{rural {h} road}} and lanes>=2", None),
    ("fast {h} road", "highway={h} and maxspeed>55mph", None),
    ("signed {h} road", "highway={h} and maxspeed:type~\"[A-Z]{{2}}:.*\"", None),
]

SPEEDS = ["30", "40", "50", "60", "70", "80", "90", "100", "110", "120", "130"]
MPH_SPEEDS = ["20 mph", "25 mph", "30 mph", "40 mph", "50 mph", "60 mph", "70 mph"]
CONDITIONS = ["wet", "snow", "22:00-06:00", "weight>7.5t", "trailer", "Mo-Fr 07:00-17:00"]


def _letters(rng: random.Random, k: int, taken: set) -> str:
    while True:
        code = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(k))
        if code not in taken:
            taken.add(code)
            return code


def road_types(rng: random.Random) -> dict[str, dict]:
    out = dict(CORE_ROAD_TYPES)
    combos = [(q, h) for q in QUALIFIERS for h in HIGHWAY_CLASSES]
    # the "... with 2 lanes" derivations reference their parent name,
    # so parents go first and only derivations with a present parent
    # are kept (placeholders must resolve)
    rng.shuffle(combos)
    combos.sort(key=lambda c: "with 2 lanes" in c[0][0] and c[0][0].startswith(("urban", "rural")))
    for (name_t, filt_t, fuzzy_t), h in combos:
        if len(out) >= N_ROAD_TYPES:
            break
        name = name_t.format(h=h)
        filt = filt_t.format(h=h)
        parent = filt[1:filt.index("}")] if filt.startswith("{") and "}" in filt else None
        if parent is not None and parent not in out:
            continue
        d = {"filter": filt}
        if fuzzy_t is not None:
            d["fuzzyFilter"] = fuzzy_t.format(h=h)
        out[name] = d
    if len(out) != N_ROAD_TYPES:
        raise RuntimeError(f"generated {len(out)} road types, wanted {N_ROAD_TYPES}")
    return out


def _country_codes(rng: random.Random) -> list[str]:
    """Country codes, then ``CC-SUB`` subdivisions of 8 of them."""
    taken: set = set()
    n_sub = 42
    countries = [_letters(rng, 2, taken) for _ in range(N_COUNTRIES - n_sub)]
    parents = rng.sample(countries, 8)
    subs: dict[str, list[str]] = {p: [] for p in parents}
    sub_taken: set = set()
    for i in range(n_sub):
        p = parents[i % len(parents)]
        subs[p].append(f"{p}-{_letters(rng, 2 + (i % 2), sub_taken)}")
    return countries + [s for p in parents for s in subs[p]]


def _rule_counts(rng: random.Random, n: int) -> list[int]:
    counts = [min(MAX_RULES_PER_COUNTRY, max(1, int(rng.gauss(5, 2.5)))) for _ in range(n)]
    counts[0] = MAX_RULES_PER_COUNTRY
    i = 0
    while sum(counts) != N_RULES:
        j = (i * 7919) % n
        i += 1
        if sum(counts) < N_RULES and counts[j] < MAX_RULES_PER_COUNTRY:
            counts[j] += 1
        elif sum(counts) > N_RULES and counts[j] > 2:
            counts[j] -= 1
    return counts


def _tags(rng: random.Random, mph: bool, name: str | None) -> dict[str, str]:
    speeds = MPH_SPEEDS if mph else SPEEDS
    if name is not None and "motorway" in name and not mph and rng.random() < 0.3:
        top = "none"
    elif name is not None and ("living" in name or "pedestrian" in name):
        top = "walk" if rng.random() < 0.5 else speeds[0]
    else:
        top = rng.choice(speeds)
    tags = {"maxspeed": top}
    r = rng.random()
    if r < 0.5:
        tags["maxspeed:hgv"] = rng.choice(speeds[: max(1, len(speeds) // 2 + 1)])
    if r < 0.25:
        tags["maxspeed:hgv:conditional"] = f"{rng.choice(speeds[:4])} @ ({rng.choice(CONDITIONS)})"
    if rng.random() < 0.3:
        tags["maxspeed:conditional"] = f"{rng.choice(speeds[:5])} @ ({rng.choice(CONDITIONS)})"
    if rng.random() < 0.2:
        tags["maxspeed:bus"] = rng.choice(speeds)
    if rng.random() < 0.1:
        tags["maxspeed:coach:conditional"] = f"{rng.choice(speeds[:6])} @ (wet)"
    if rng.random() < 0.1:
        tags["minspeed"] = rng.choice(speeds[:3])
    return tags


def generate(seed: int) -> dict:
    """The rule set as a JSON-ready dict for ``seed``."""
    rng = random.Random(f"rules-{seed}")
    rts = road_types(rng)
    names = sorted(rts)
    codes = _country_codes(rng)
    counts = _rule_counts(rng, len(codes))
    no_fallback = set(rng.sample(codes[1:], N_WITHOUT_FALLBACK))
    mph = set(rng.sample(codes, 12))
    # a Zipf-ish preference over road types: a few names appear in most
    # countries, the long tail in a handful
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(names))]
    order = names[:]
    rng.shuffle(order)
    order = [n for n in CORE_ROAD_TYPES] + [n for n in order if n not in CORE_ROAD_TYPES]
    limits: dict[str, list] = {}
    for cc, k in zip(codes, counts):
        fallback = cc not in no_fallback
        n_named = k - 1 if fallback else k
        chosen: list[str] = []
        while len(chosen) < n_named:
            n = rng.choices(order, weights=weights)[0]
            if n not in chosen:
                chosen.append(n)
        rules = [{"name": n, "tags": _tags(rng, cc in mph, n)} for n in chosen]
        if fallback:
            fb = {"tags": _tags(rng, cc in mph, None)}
            # mostly first (the common layout); sometimes mid-list, which
            # exercises the two-pass scan order
            pos = 0 if rng.random() < 0.85 else rng.randrange(len(rules) + 1)
            rules.insert(pos, fb)
        limits[cc] = rules
    return {
        "meta": {
            "source": "perfbench.rulegen",
            "seed": seed,
            "license": "synthetic",
        },
        "roadTypesByName": {n: rts[n] for n in names},
        "speedLimitsByCountryCode": limits,
        "warnings": [],
    }


def write(seed: int, path: str) -> dict:
    """Write the seed's rule set to ``path``; return its summary record
    ``{source, countries, rules, road_types, sha}``."""
    data = generate(seed)
    blob = json.dumps(data, sort_keys=True, separators=(",", ":")).encode()
    with open(path, "wb") as fh:
        fh.write(blob)
    return summary(data, blob)


def summary(data: dict, blob: bytes) -> dict:
    lim = data["speedLimitsByCountryCode"]
    return {
        "source": data["meta"]["source"],
        "countries": len(lim),
        "rules": sum(len(v) for v in lim.values()),
        "road_types": len(data["roadTypesByName"]),
        "with_fallback": sum(1 for v in lim.values() if any("name" not in r for r in v)),
        "max_rules_per_country": max(len(v) for v in lim.values()),
        "sha": hashlib.sha256(blob).hexdigest()[:16],
    }
