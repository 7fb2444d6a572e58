"""Cleaning chain unit tests — the two variants must NOT be conflated
(SURVEY §7 risk register): analytics removes URLs + tokenizes hashtags;
ingest keeps a [LINK] token + unwraps hashtags."""

from pyspark.sql import functions as F

from mbgspark.functions.cleaning import (
    clean_at_ingest,
    clean_for_analysis,
    normalized_text_key,
)
from mbgspark.locations import prep_location_text

RAW = "Cek  #MBG   @user http://x.co/a dan www.b.c  Bagus!"


def _one(spark, col):
    return spark.createDataFrame([(RAW,)], "t string").select(col.alias("o")).first()["o"]


def test_clean_for_analysis(spark):
    assert (
        _one(spark, clean_for_analysis(F.col("t")))
        == "cek [hashtag] [mention] dan bagus!"
    )


def test_clean_at_ingest(spark):
    # URLs → [LINK], hashtag keeps word, case preserved
    assert (
        _one(spark, clean_at_ingest(F.col("t")))
        == "Cek MBG [MENTION] [LINK] dan [LINK] Bagus!"
    )


def test_normalize_separators(spark):
    # C8 (utils.py:358-361): the location matcher's own text prep maps
    # ``- / \ | _ , ; .`` to spaces pre-match
    assert (
        _one(
            spark,
            prep_location_text(F.lit("a-b/c|d_e,f;g.h")),
        )
        == "a b c d e f g h"
    )


def test_normalized_text_key_equal_for_case_space_variants(spark):
    df = spark.createDataFrame(
        [("  Hello World ",), ("hello world",)], "t string"
    ).select(normalized_text_key(F.col("t")).alias("k"))
    keys = [r["k"] for r in df.collect()]
    assert keys[0] == keys[1]


def test_strip_markup_blocks_tags_entities(spark):
    """script/style bodies are dropped entirely (including a bare '<'
    inside the script), other tags become whitespace, the six common
    entities decode, and double-encoded &amp;lt; decodes exactly one
    level (to &lt;, not <)."""
    from pyspark.sql import functions as F

    from mbgspark.functions.cleaning import strip_markup

    cases = [
        (1, '<p>Hello <b>world</b></p>', "Hello world"),
        (2, '<script>if (a < b) { alert("x") }</script>keep', "keep"),
        (3, '<STYLE type="x">p { color: red }</STYLE>kept', "kept"),
        (4, 'a&nbsp;b &amp; c &lt;tag&gt; &quot;q&quot; &#39;s&#39;', 'a b & c <tag> "q" \'s\''),
        (5, "Tom &amp;lt; Jerry", "Tom &lt; Jerry"),
        (6, "<div\nclass='x'>multi\nline</div>", "multi line"),
        (7, "no markup at all", "no markup at all"),
        # unescaped comparison operators are NOT tags — scraped plain
        # text / code must survive the bare-tag pass
        (8, "if i < n and j > 0 then loop", "if i < n and j > 0 then loop"),
        (9, "a <br/>b < c", "a b < c"),
    ]
    df = spark.createDataFrame(
        [(i, raw) for i, raw, _ in cases], "id bigint, raw string"
    )
    got = {
        r["id"]: r["out"]
        for r in df.select("id", strip_markup(F.col("raw")).alias("out")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
