"""Full 38-province / 456-city dictionary + the compiled locate matcher.

Pins the flattened semantics of detect_location_from_text
(utils.py:336-437) at the real dim size, including the reference loop's
break structure: exact city names break the city loop (first exact match
wins), part/abbreviation matches don't (the LAST matching city wins —
'jakarta' alone → Jakarta Timur), a match in an earlier province beats
anything in a later one, and the province fallback only applies when no
city term matched. Boundary semantics are the reference's \\b regex: terms
behind punctuation ('di bandung!', '(jakarta)') still match."""

from __future__ import annotations

from mbgspark.locations import (
    CITY_ABBREVIATIONS,
    LOCATE_BUCKETS,
    LOCATION_SEPARATORS,
    build_full_locations_dim,
    locate_bucket,
    locate_compiled,
)
from mbgspark.locations_data import INDONESIA_LOCATIONS


def test_dim_shape_and_order():
    rows = build_full_locations_dim()
    assert len(INDONESIA_LOCATIONS) == 38
    assert sum(len(v) for v in INDONESIA_LOCATIONS.values()) == 456
    # every canonical city present as a term row
    terms = {r[3] for r in rows}
    assert "jakarta selatan" in terms and "surabaya" in terms
    # all abbreviations present
    assert set(CITY_ABBREVIATIONS) <= terms
    # dict_order strictly increasing and unique terms
    orders = [r[2] for r in rows]
    assert orders == sorted(orders) and len(set(orders)) == len(orders)
    assert len(terms) == len(rows)
    # every province fallback row sits below every city row
    city_max = max(r[2] for r in rows if r[1] is not None)
    prov_min = min(r[2] for r in rows if r[1] is None)
    assert prov_min > city_max
    by_term = {r[3]: r for r in rows}
    # tier A before tier B within a province: the exact 'jakarta selatan'
    # row outranks the part row 'jakarta' (Case-1 break beats Case-2)
    assert by_term["jakarta selatan"][2] < by_term["jakarta"][2]
    # reversed tier-B order: the shared part 'jakarta' resolves to the LAST
    # DKI city carrying it (the reference keeps overwriting detected_city)
    assert by_term["jakarta"][1] == "jakarta timur"


def test_hybrid_first_match_semantics(spark):
    rows = build_full_locations_dim()
    fact = spark.createDataFrame(
        [
            (1, "kunjungan di Jakarta Selatan kemarin"),   # exact multi-word (tier A)
            (2, "acara sby keren"),                        # abbreviation
            (3, "warga jawa barat senang"),                # part 'barat' shadows province
            (4, "tinggal di bandung, dekat alun-alun"),    # separator prep
            (5, "tidak ada lokasi disini"),                # no match
            (6, "provinsi gorontalo mantap"),              # province fallback
            (7, "jakarta"),                                # bare part → last DKI city
            (8, "di bandung!"),                            # punctuation boundary
            (9, "(jakarta)"),                              # punctuation boundary
        ],
        "id bigint, text string",
    )
    got = {
        r["id"]: (r["province"], r["city"])
        for r in locate_compiled(fact, rows, "id", "text").collect()
    }
    # Case-1 exact match breaks the reference's city loop — it beats every
    # part row, so 'Jakarta Selatan' resolves exactly (utils.py:366-371)
    assert got[1] == ("dki jakarta", "jakarta selatan")
    assert got[2] == ("jawa timur", "surabaya")
    # Case-2 part matches don't break the loop: the LAST matching city
    # wins — 'barat' resolves to jakarta barat (DKI precedes jawa barat's
    # province fallback, and no exact name matches)
    assert got[3] == ("dki jakarta", "jakarta barat")
    assert got[4] == ("jawa barat", "bandung")
    assert got[5] == (None, None)
    # 'gorontalo' appears as a CITY under Sulawesi Tengah in the reference's
    # JSON (a data quirk reproduced faithfully) — the city row wins over the
    # gorontalo province fallback
    assert got[6] == ("sulawesi tengah", "gorontalo")
    # last-match-wins among the DKI part rows (reference loop trace)
    assert got[7] == ("dki jakarta", "jakarta timur")
    # \b boundaries: punctuation does not block a match
    assert got[8] == ("jawa barat", "bandung")
    assert got[9] == ("dki jakarta", "jakarta timur")


def test_compiled_unmatched_rows_stay_null_under_ansi(spark):
    """No match must read as null (province, city) in an ANSI session too
    (Spark's default): there Spark 4.1's ``element_at`` with a NULL index
    returns the last array element, which would locate every unmatched
    row at the dictionary's last term."""
    from mbgspark.pipeline import run_etl
    from mbgspark.schema import DEFAULT_LOCATIONS

    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        fact = spark.createDataFrame(
            [(1, "tidak ada lokasi disini"), (2, "di bandung")],
            "id bigint, text string",
        )
        got = {
            r["id"]: (r["province"], r["city"])
            for r in locate_compiled(
                fact, build_full_locations_dim(), "id", "text"
            ).collect()
        }
        assert got == {1: (None, None), 2: ("jawa barat", "bandung")}
        raw = spark.createDataFrame(
            [("1", "netral saja", None), ("2", "acara di sby", "user")],
            "_id string, text string, author_name string",
        ).selectExpr("*", "timestamp'2025-01-01 00:00:00' AS created_at")
        got = {
            r["_id"]: (r["city"], r["location_detected"])
            for r in run_etl(raw, DEFAULT_LOCATIONS).collect()
        }
        assert got == {"1": (None, False), "2": ("surabaya", True)}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_compiled_and_hybrid_strategies_agree(spark):
    """locate_compiled (constant-map projection) must return the
    reference's (province, city) for every row, including on natural text
    with no injected locations, and the plain first match for a dictionary
    whose rows share dict_order values."""
    from pyspark.sql import functions as F

    from mbgspark.io import load_table

    rows = build_full_locations_dim()
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    edge = spark.createDataFrame(
        list(enumerate(_EDGE_TEXTS, -len(_EDGE_TEXTS))),
        "doc_id bigint, text string",
    )
    fact = d.select("doc_id", F.col("text")).unionByName(edge)
    texts = {r["doc_id"]: r["text"] for r in fact.collect()}

    def run(dim):
        return {
            r["doc_id"]: (r["province"], r["city"])
            for r in locate_compiled(fact, dim, "doc_id", "text").collect()
        }

    a = run(rows)
    assert a == {i: _ref_detect(t) for i, t in texts.items()}
    assert len(a) > len(_EDGE_TEXTS)
    # dictionary rows that share a dict_order: each keeps its own
    # (province, city), and among tied matches the earlier row wins
    tied = [(p, c, o // 3, t) for p, c, o, t in rows]
    assert run(tied) == {i: _first_match(tied, t) for i, t in texts.items()}
    small = [
        ("pa", "ca", 1, "alpha"),
        ("pb", "cb", 1, "beta"),
        ("pc", None, 0, "gamma delta"),
        ("pd", "cd", 0, "delta"),
    ]
    tie_texts = ["beta", "beta alpha", "delta gamma", "gamma delta beta", "x"]
    tie_fact = spark.createDataFrame(
        list(enumerate(tie_texts)), "id bigint, text string"
    )
    got = {
        r["id"]: (r["province"], r["city"])
        for r in locate_compiled(tie_fact, small, "id", "text").collect()
    }
    assert got == {
        0: ("pb", "cb"),
        1: ("pa", "ca"),
        2: ("pd", "cd"),
        3: ("pc", None),
        4: (None, None),
    }


def test_run_etl_plan_size_does_not_grow_with_dictionary(spark):
    """The dictionary enters ``run_etl``'s plan as constants, not as
    expression trees: Catalyst re-analyzes and re-optimizes the plan on
    every streaming micro-batch, so its size is a fixed cost per batch.
    The analyzed plan over the reference's 602 terms holds at most 5 %
    more expression nodes than over the lifecycle's 12 (a dictionary
    written into the plan as code put ~8× as many there)."""
    from mbgspark.jvmseam import node_expressions, walk_expression, walk_plan
    from mbgspark.pipeline import run_etl
    from mbgspark.schema import DEFAULT_LOCATIONS

    raw = spark.createDataFrame(
        [], "_id string, text string, author_name string, created_at timestamp"
    )

    def nodes(dim):
        plan = run_etl(raw, dim)._jdf.queryExecution().analyzed()
        return sum(
            1
            for n in walk_plan(plan)
            for e in node_expressions(n)
            for _ in walk_expression(e)
        )

    full, small = nodes(build_full_locations_dim()), nodes(DEFAULT_LOCATIONS)
    assert full <= 1.05 * small, (full, small)


def _bucket_edge_tokens() -> list[str]:
    """Non-term tokens aimed at the compiled strategy's bucketed lookup:
    for every bucket, a token that lands in it without being a term — a
    near miss of a term in a non-empty bucket (same length and first
    letter), a repeated letter in an empty one, whose map is empty."""
    rows = build_full_locations_dim()
    terms = {t for _p, _c, _o, t in rows}
    singles = sorted(t for t in terms if " " not in t)
    by_bucket: dict[int, str] = {}
    for t in singles:
        near = t[:-1] + ("x" if t[-1] != "x" else "q")
        if near not in terms:
            by_bucket.setdefault(locate_bucket(near), near)
    for n in range(1, 40):
        for ch in "abcdefghijklmnopqrstuvwxyz":
            by_bucket.setdefault(locate_bucket(ch * n), ch * n)
    assert len(by_bucket) == LOCATE_BUCKETS
    assert not terms & set(by_bucket.values())
    empty = set(range(LOCATE_BUCKETS)) - {locate_bucket(t) for t in singles}
    assert empty, "no empty bucket left to exercise an empty map"
    return [by_bucket[b] for b in sorted(by_bucket)]


# locate kernel edge cases, shared by the equivalence and reference tests
_EDGE_TEXTS = [
    "di  bandung",                       # double space: an empty token
    "   ",
    "jakarta  selatan",                  # double space inside a phrase
    " ".join(_bucket_edge_tokens()),     # every bucket, no term
    "bandunx di sby",                    # near miss next to a real term
    "\u00fcber bandung",                 # non-ASCII first letters
    "\u00e9lan \u4e2d\u6587 jakarta selatan",
    "\U0001f600 sby \U0001f600",
    "kota hujan",                        # first word present, phrase absent
    "kalimantan raya",
    "tanjung sungai muara",
    "jawa xyz barat",
    # multi-word candidates: two sharing a first word, both present; the
    # first word twice (the phrase only at the second); a 3-word term; an
    # escaped '-' the separator translate leaves unmatchable; the last
    # word a token only elsewhere, with the phrase glued to a letter
    "jakarta utara dan jakarta selatan",
    "jakarta raya jakarta barat",
    "ke nusa tenggara barat",
    "bagan siapi-api",
    "jakarta selatanku selatan",
]


def _ref_detect(text):
    """Literal Python re-implementation of the reference's nested loop
    (utils.py:336-432, with the repo's documented working-alias Case 3) —
    the parity truth both fuzz tests compare locate_compiled against.
    Python's unicode-aware \\b is the boundary semantics being mirrored."""
    import re

    s = text.lower()
    for sep in ["-", "/", "\\", "|", "_", ",", ";", "."]:
        s = s.replace(sep, " ")
    dp = dc = None
    for province, cities in INDONESIA_LOCATIONS.items():
        for city in cities:
            cl = city.lower()
            if re.search(r"\b" + re.escape(cl) + r"\b", s):
                dp, dc = province, city
                break
            for part in cl.split():
                if len(part) > 2 and re.search(
                    r"\b" + re.escape(part) + r"\b", s
                ):
                    dp, dc = province, city
                    break
            for ab, full in CITY_ABBREVIATIONS.items():
                if full == cl and re.search(
                    r"\b" + re.escape(ab) + r"\b", s
                ):
                    dp, dc = province, city
                    break
        if dc:
            break
    if not dc:
        from mbgspark.locations import province_variations

        for province in INDONESIA_LOCATIONS:
            pl = province.lower()
            for v in [pl, *province_variations(pl)]:
                if v and re.search(r"\b" + re.escape(v) + r"\b", s):
                    dp = province
                    break
            if dp:
                break
    return (dp.lower() if dp else None, dc.lower() if dc else None)


def _first_match(dim_rows, text):
    """The plain first-match rule over any dictionary: rows in a stable
    sort by dict_order, and the first term found \\b-bounded (Python's
    unicode-aware ``re``) in the lowercased, separator-translated text
    wins."""
    import re

    s = text.lower()
    for sep in LOCATION_SEPARATORS:
        s = s.replace(sep, " ")
    for p, c, _o, t in sorted(dim_rows, key=lambda r: r[2]):
        if re.search(r"\b" + re.escape(t) + r"\b", s):
            return (p, c)
    return (None, None)


def test_reference_loop_parity_fuzz(spark):
    """Drive locate_compiled against _ref_detect over texts that hit
    every break-path: exact-vs-part tiers, last-match overwrite,
    cross-province precedence, punctuation boundaries (ASCII and unicode),
    separator translation, province fallback."""
    rows = build_full_locations_dim()
    ref_detect = _ref_detect

    texts = [
        "kunjungan di Jakarta Selatan kemarin",
        "jakarta",
        "tangerang selatan",          # exact 'tangerang' breaks before 'tangerang selatan'
        "jakarta, selatan",           # 1:1 translate → double space → multi-word no-match
        "tinggal di bandung-kota",    # 'kota' part of Aceh's Kota Bakti wins (earlier province)
        "warga jawa barat senang",
        "yogyakarta dan semarang",    # exact 'semarang' is an earlier Jawa Tengah city
        "solo gudeg",
        "(jakarta)",
        "di bandung!",
        "banda aceh!",
        "jaksel jaktim",
        "riau kepulauan",
        "kalt timur",
        "sul tenggara",
        "ntb",
        "nothing here at all",
        "",
        # unicode punctuation boundaries (VERDICT r3 item 5): the
        # reference's Python \b sees a boundary at curly quotes, dashes,
        # ellipsis, NBSP, ZWSP, soft hyphen — the translate table must too
        "di \u201cjakarta\u201d kemarin",     # curly double quotes
        "menuju bandung\u2014kota",          # em-dash
        "\u00absurabaya\u00bb mantap",       # guillemets
        "sby\u2026 keren",                   # ellipsis after abbreviation
        "di\u00a0bandung",                   # no-break space
        "jakarta\u200bselatan",              # zero-width space splits tokens
        "\u2026bandung\u2026",
        "kota\u2013baru",                    # en-dash
        "jawa\u00adtengah",                  # soft hyphen
        "ke jakarta\u201a selatan",          # low-9 quote between words
        "di yogyakarta\u2032",               # prime
        # unicode LETTERS must NOT create boundaries (Python \w matches
        # them): glued terms stay unmatched on the glued side
        "caf\u00e9jakarta selatan",          # é-glued first word
        "jakarta selatan\u00e9 asik",        # é-glued last word
        "caf\u00e9bandung",                  # é-glued single word → no match
        "bandung\u00e9",                     # trailing é-glue → no match
        *_EDGE_TEXTS,
    ]
    fact = spark.createDataFrame(
        list(enumerate(texts)), "id bigint, text string"
    )
    expected = {i: ref_detect(t) for i, t in enumerate(texts)}
    got = {
        r["id"]: (r["province"], r["city"])
        for r in locate_compiled(fact, rows, "id", "text").collect()
    }
    assert got == expected


def test_reference_loop_parity_random_fuzz(spark):
    """Seeded random fuzz (the round-3 3,000-case one-off, now pinned and
    extended with unicode punctuation): texts are random compositions of
    dictionary terms, noise words, ASCII/unicode punctuation glue, and —
    for single-word terms only — unicode LETTER glue (which must suppress
    the match). locate_compiled must agree with _ref_detect on every
    one. Unicode-letter glue on multi-word terms is exercised by the
    curated cases instead: combined with the same term's words appearing
    free elsewhere in one text it hits the documented residual corner of
    the per-document token guard."""
    import random

    from mbgspark.locations import UNICODE_BOUNDARY_CHARS

    rows = build_full_locations_dim()
    rng = random.Random(20260814)
    singles = [t for _p, _c, _o, t in rows if " " not in t]
    multis = [t for _p, _c, _o, t in rows if " " in t]
    noise = ["foo", "dunia", "makan", "bergizi", "xyz", "hello", "12", "ok"]
    punct_glue = list("!?()[]:#@'\"") + list(UNICODE_BOUNDARY_CHARS[:24])
    letter_glue = ["\u00e9", "\u00fc", "\u00f1", "\u00df"]

    def segment():
        kind = rng.random()
        if kind < 0.35:
            w = rng.choice(singles)
            g = rng.random()
            if g < 0.3:
                return rng.choice(punct_glue) + w + rng.choice(punct_glue)
            if g < 0.45:
                # unicode-letter glue: must NOT match (Python \w covers é)
                return rng.choice(letter_glue) + w
            if g < 0.55:
                return w + rng.choice(letter_glue)
            return w
        if kind < 0.55:
            t = rng.choice(multis)
            g = rng.random()
            if g < 0.3:
                return rng.choice(punct_glue) + t + rng.choice(punct_glue)
            if g < 0.4:
                # unicode punct INSIDE the phrase: kills the multi-word
                # match (reference needs a literal space) but may free the
                # component words as tokens
                return t.replace(" ", rng.choice(punct_glue), 1)
            return t
        return rng.choice(noise)

    texts = [
        " ".join(segment() for _ in range(rng.randint(1, 4)))
        for _ in range(240)
    ]
    fact = spark.createDataFrame(
        list(enumerate(texts)), "id bigint, text string"
    )
    expected = {i: _ref_detect(t) for i, t in enumerate(texts)}
    got = {
        r["id"]: (r["province"], r["city"])
        for r in locate_compiled(fact, rows, "id", "text").collect()
    }
    diffs = {
        i: (got[i], expected[i], texts[i])
        for i in expected
        if got[i] != expected[i]
    }
    assert not diffs, dict(list(diffs.items())[:5])


def test_run_etl_locate_matches_python_first_match_fuzz(spark):
    """pipeline.run_etl locates with locate_compiled for the lifecycle's
    12-term DEFAULT_LOCATIONS as well: over seeded random tweets its
    (province, city) must equal _first_match on the text it searches,
    clean_text + ' ' + lower(author_name). The tweets mix terms with
    ASCII and unicode punctuation glue, unicode-letter glue (single-word
    terms only, as in the random fuzz above), separators, upper case, and
    null or non-null author names."""
    import datetime as dt
    import random

    from mbgspark.locations import UNICODE_BOUNDARY_CHARS
    from mbgspark.pipeline import run_etl
    from mbgspark.schema import DEFAULT_LOCATIONS

    rng = random.Random(20261019)
    singles = [t for _p, _c, _o, t in DEFAULT_LOCATIONS if " " not in t]
    multis = [t for _p, _c, _o, t in DEFAULT_LOCATIONS if " " in t]
    noise = ["program", "mbg", "bagus", "gagal", "di", "jakarta", "selatan",
             "kota", "http://x.co/a", "@dinas", "#mbg", "12"]
    punct_glue = list("!?()[]:#@'\"") + list(UNICODE_BOUNDARY_CHARS[:24])
    letter_glue = ["\u00e9", "\u00fc", "\u00f1", "\u00df"]

    def segment():
        kind = rng.random()
        if kind < 0.3:
            w = rng.choice(singles)
            g = rng.random()
            if g < 0.25:
                w = rng.choice(punct_glue) + w + rng.choice(punct_glue)
            elif g < 0.35:
                w = rng.choice(letter_glue) + w
            elif g < 0.45:
                w = w + rng.choice(letter_glue)
        elif kind < 0.5:
            w = rng.choice(multis)
            g = rng.random()
            if g < 0.25:
                w = rng.choice(punct_glue) + w + rng.choice(punct_glue)
            elif g < 0.45:
                w = w.replace(" ", rng.choice(LOCATION_SEPARATORS), 1)
            elif g < 0.55:
                w = w.replace(" ", rng.choice(punct_glue), 1)
        else:
            w = rng.choice(noise)
        return w.upper() if rng.random() < 0.2 else w

    def phrase(lo, hi):
        return " ".join(segment() for _ in range(rng.randint(lo, hi)))

    ts = dt.datetime(2025, 1, 1)
    raw = [
        (
            str(i),
            phrase(1, 5),
            None if rng.random() < 0.4 else phrase(1, 2),
            ts + dt.timedelta(hours=i),
        )
        for i in range(1200)
    ]
    df = spark.createDataFrame(
        raw, "_id string, text string, author_name string, created_at timestamp"
    )
    out = run_etl(df, DEFAULT_LOCATIONS).collect()
    assert len(out) == len(raw)
    authors = {i: a for i, _t, a, _ts in raw}
    diffs = {}
    for r in out:
        search = r["clean_text"] + " " + (authors[r["_id"]] or "").lower()
        want = _first_match(DEFAULT_LOCATIONS, search)
        if (r["province"], r["city"]) != want:
            diffs[r["_id"]] = ((r["province"], r["city"]), want, search)
        assert r["location_detected"] == (r["city"] is not None)
        assert r["location_checked"] is True
    assert not diffs, dict(list(diffs.items())[:5])
    located = [r for r in out if r["city"] is not None]
    # both outcomes, and author-only hits, are exercised
    assert 0 < len(located) < len(out)
    assert any(
        authors[r["_id"]] is not None
        and _first_match(DEFAULT_LOCATIONS, r["clean_text"]) == (None, None)
        for r in located
    )
