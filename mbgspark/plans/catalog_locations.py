"""Gate query for the FULL location dictionary (VERDICT r1 item 4).

Runs first-match location detection over `documents` with the reference's
real 38-province / 456-city dictionary (602 flattened term rows with the
reference loop's two-tier break semantics — exact names first-wins,
part/abbrev matches last-wins, province fallback below; locations.py),
through the compiled map-lookup matcher (locate_compiled, the same one the
lifecycle's detect_locations runs; pinned against a literal
re-implementation of the reference loop in tests/test_locations_full.py).
Documents get deterministic Indonesian location snippets injected (cycling
doc_id % 8) so every matching tier — exact multi-word city, abbreviation,
punctuation boundaries, province fallback, separator normalization, part
shadowing, no-match — is exercised; the untouched English text also
participates, so accidental matches (e.g. the token 'solo') are part of the
checked surface on BOTH engines.

Oracle: the identical construction in DuckDB — same dim VALUES, same
separator translate + non-word token split + \\b-regex multi-word verify,
same min(dict_order) first-match — checked row-per-document
(~600 rows at sf0.001, ~6k at sf0.01)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mbgspark.locations import (
    LOCATION_SEPARATORS,
    TOKEN_BOUNDARY_CHARS,
    _term_pattern,
    build_full_locations_dim,
    locate_compiled,
)
from mbgspark.io import ensure_width
from mbgspark.plans.catalog_core import _t

_DIM_ROWS = build_full_locations_dim()

# one injection per matching tier; doc_id % 8 cycles deterministically
_INJECT = [
    " kunjungan di Jakarta Selatan",  # exact multi-word beats the 'jakarta' part rows (tier A < tier B)
    " acara (sby) keren!",  # abbreviation alias behind punctuation (\b boundary)
    " warga jawa barat senang",  # part 'barat' (tier B) shadows the jawa-barat province fallback
    " tinggal di bandung-kota",  # separator normalization — 'kota' part of Aceh's 'Kota Bakti' wins (earlier province)
    " dari pekanbaru",  # exact single-word city
    " orang smg asli",  # abbreviation
    " provinsi sulawesi tenggara",  # province fallback path
    "",  # no injection — natural text only
]


def _inject_expr():
    expr = F.when(F.col("doc_id") % 8 == 0, F.lit(_INJECT[0]))
    for i in range(1, 7):
        expr = expr.when(F.col("doc_id") % 8 == i, F.lit(_INJECT[i]))
    return expr.otherwise(F.lit(""))


def locate_full_dim(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fact = ensure_width(
        d.select(
            "doc_id", F.concat(F.col("text"), _inject_expr()).alias("text")
        ),
        by="doc_id",
    )
    # ^ small-file scan = 1-2 splits; widen the regex-prep + explode map
    # (same test-SF ergonomic as _dup_corpus / the lifecycle raw build)
    out = locate_compiled(fact, _DIM_ROWS, "doc_id", "text")
    return out.select("doc_id", "province", "city").orderBy("doc_id")


def _sql_lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _dim_values() -> str:
    parts = []
    for prov, city, order, term in _DIM_ROWS:
        c = _sql_lit(city) if city is not None else "CAST(NULL AS VARCHAR)"
        # multi-word terms carry their \b-bounded verify pattern (DuckDB
        # single-quoted literals keep backslashes verbatim — no doubling)
        # plus their first/last words for the token guards that restore
        # unicode-\b parity (see locations.locate_compiled)
        if " " in term:
            p = _sql_lit(_term_pattern(term))
            words = term.split(" ")
            w1, w2 = _sql_lit(words[0]), _sql_lit(words[-1])
        else:
            p = w1 = w2 = "CAST(NULL AS VARCHAR)"
        parts.append(
            f"({_sql_lit(prov)}, {c}, {order}, {_sql_lit(term)}, {p}, {w1}, {w2})"
        )
    return ",\n  ".join(parts)


_CASE_INJECT = "\n".join(
    f"             WHEN {i} THEN {_sql_lit(s)}" for i, s in enumerate(_INJECT[:7])
)

_SEPS = "".join(LOCATION_SEPARATORS)

LOCATE_FULL_DIM_SQL = f"""
WITH dim(province, city, dict_order, term, pat, w1, w2) AS (VALUES
  {_dim_values()}
),
raw AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 8 AS INT)
{_CASE_INJECT}
             ELSE '' END AS text
  FROM documents
),
prep AS (
  SELECT doc_id,
         translate(lower(text), {_sql_lit(_SEPS)}, {_sql_lit(" " * len(_SEPS))}) AS s,
         translate(lower(text), {_sql_lit(TOKEN_BOUNDARY_CHARS)},
                   {_sql_lit(" " * len(TOKEN_BOUNDARY_CHARS))}) AS tf
  FROM raw
),
tk AS (
  SELECT doc_id, string_split(tf, ' ') AS t, s
  FROM prep
),
hit AS (
  SELECT doc_id, min(dict_order) AS mo
  FROM tk JOIN dim ON
    CASE WHEN pat IS NULL THEN list_contains(t, term)
         ELSE list_contains(t, w1) AND list_contains(t, w2)
              AND position(term IN s) > 0 AND regexp_matches(s, pat) END
  GROUP BY doc_id
)
SELECT r.doc_id, m.province, m.city
FROM raw r
LEFT JOIN (
  SELECT h.doc_id, d2.province, d2.city
  FROM hit h JOIN dim d2 ON d2.dict_order = h.mo
) m ON r.doc_id = m.doc_id
ORDER BY r.doc_id
"""

LOCATIONS_CATALOG: dict[str, tuple] = {
    "locate_full_dim": (locate_full_dim, LOCATE_FULL_DIM_SQL),
}
