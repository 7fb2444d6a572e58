"""Text-cleaning scalar layer — SURVEY.md §2.9 (C1–C14).

The reference has TWO distinct cleaner variants (easy to conflate — SURVEY §7
risk register), both kept here as named column transforms:

- ``clean_for_analysis``  (utils.py:28-50): URLs REMOVED, ``@x → [MENTION]``,
  ``#x → [HASHTAG]``, whitespace collapse, trim, lowercase.
- ``clean_at_ingest``  (src/resilient_scraper.py:868-889): URLs → ``[LINK]``,
  ``@x → [MENTION]``, ``#x → x`` (keep the word), whitespace collapse, trim.

All pure ``pyspark.sql.functions`` — JVM-side, inside whole-stage codegen; no
Python UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

URL_RE = r"http\S+|www\S+"
MENTION_RE = r"@\w+"
HASHTAG_RE = r"#\w+"
HASHTAG_KEEP_RE = r"#(\w+)"
WS_RE = r"\s+"


def _collapse_ws(c: Column) -> Column:
    return F.trim(F.regexp_replace(c, WS_RE, " "))


def clean_for_analysis(c: Column) -> Column:
    """Analytics cleaner (utils.py:28-50): C1 strip URLs, C3 mention token,
    C4 hashtag token, C5 collapse+trim, C6 lowercase."""
    c = F.regexp_replace(c, URL_RE, "")
    c = F.regexp_replace(c, MENTION_RE, "[MENTION]")
    c = F.regexp_replace(c, HASHTAG_RE, "[HASHTAG]")
    return F.lower(_collapse_ws(c))


def clean_at_ingest(c: Column) -> Column:
    """Ingest cleaner (src/resilient_scraper.py:868-889): C2 URL → [LINK],
    C3 mention token, C4 keep hashtag word, C5 collapse+trim (no lowercase —
    raw-case text is preserved; lowering happens at store time, :920)."""
    c = F.regexp_replace(c, URL_RE, "[LINK]")
    c = F.regexp_replace(c, MENTION_RE, "[MENTION]")
    c = F.regexp_replace(c, HASHTAG_KEEP_RE, "$1")
    return _collapse_ws(c)


def normalized_text_key(c: Column) -> Column:
    """D2 dedup key (resilient_scraper.py:354): hash(lower(trim(text)))."""
    return F.xxhash64(F.lower(F.trim(c)))


def strip_markup(c: Column) -> Column:
    """Web-corpus markup stripper — the boilerplate-removal step upstream
    of every HTML-sourced training-data pipeline (the reference scrapes
    rendered pages, so its stored text is already tag-free; this is the
    generalization for raw-HTML sources): drop <script>/<style> blocks
    WITH their contents, strip remaining tags, decode the six common
    entities, collapse whitespace. Chained regexp_replace — pure codegen,
    row-local, zero shuffles; (?is) makes block removal case-insensitive
    and dot-matches-newline so multi-line blocks go in one pass."""
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    # bare-tag pass requires a plausible tag-start char (letter, '/', or
    # '!'): unescaped comparison operators in scraped plain text
    # ('if i < n and j > 0') must NOT be treated as a tag and deleted
    c = F.regexp_replace(c, r"(?s)<[a-zA-Z/!][^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return _collapse_ws(c)
