from pyspark.sql import functions as F

from mbgspark.operators.locate import (
    containment_join_first_match,
    fuzzy_top1_join,
    two_pass_locate,
)
from mbgspark.pipeline import locations_dim


def test_first_match_respects_dict_order(spark):
    dim = locations_dim(spark)
    facts = spark.createDataFrame(
        # mentions both surabaya (order 10) and jaksel (order 3): jaksel wins
        [(1, "kunjungan ke surabaya dan jaksel hari ini")],
        "id bigint, txt string",
    )
    out = containment_join_first_match(facts, dim, "id", "txt", "term").collect()
    assert len(out) == 1
    assert out[0]["city"] == "jakarta selatan"  # via the jaksel alias row


def test_abbreviation_alias_matches(spark):
    dim = locations_dim(spark)
    facts = spark.createDataFrame([(1, "acara di sby besok")], "id bigint, txt string")
    out = containment_join_first_match(facts, dim, "id", "txt", "term").first()
    assert out["city"] == "surabaya"
    assert out["province"] == "jawa timur"


def test_regex_variant_word_bounded(spark):
    dim = locations_dim(spark)
    # 'bdgx' must NOT match the 'bdg' alias: matching is by whole token
    facts = spark.createDataFrame([(1, "kata bdgx bukan kota")], "id bigint, txt string")
    out = containment_join_first_match(facts, dim, "id", "txt", "term")
    assert out.count() == 0


def test_fuzzy_top1(spark):
    dim = locations_dim(spark).select("term", "city", "province").distinct()
    facts = spark.createDataFrame([(1, "surabya")], "id bigint, tok string")
    out = fuzzy_top1_join(facts, dim, "id", "tok", "term", max_distance=2).first()
    assert out["city"] == "surabaya"
    assert out["lev_dist"] == 1


def test_two_pass_exact_then_fuzzy(spark):
    dim = locations_dim(spark)
    facts = spark.createDataFrame(
        [(1, "di bandung kemarin"), (2, "di bandng kemarin"), (3, "tanpa kota")],
        "id bigint, txt string",
    )
    out = two_pass_locate(facts, dim, "id", "txt", "term", fuzzy_max_distance=1)
    rows = {r["id"]: (r["term"], r["match_kind"]) for r in out.collect()}
    assert rows[1] == ("bandung", "exact")
    assert rows[2] == ("bandung", "fuzzy")
    assert 3 not in rows  # 'tanpa'→? nothing within distance 1


def test_partial_ratio_top1_matches_reference_semantics(spark):
    from mbgspark.operators.locate import partial_ratio_top1

    terms = [
        ("jakarta selatan", "dki jakarta", "jakarta selatan"),
        ("bandung", "jawa barat", "bandung"),
        ("surabaya", "jawa timur", "surabaya"),
    ]
    df = spark.createDataFrame(
        [
            (1, "tinggal di jakrta selatan sekarang"),   # 1-char typo → high partial
            (2, "kota bandung juara"),                   # exact substring → 100
            (3, "tidak ada kota disini"),                # below threshold → nulls
        ],
        "id int, text string",
    )
    got = {
        r["id"]: (r["city"], r["score"])
        for r in partial_ratio_top1(df, "id", "text", terms, threshold=70).collect()
    }
    assert got[2] == ("bandung", 100)
    assert got[1][0] == "jakarta selatan" and got[1][1] >= 90
    assert got[3] == (None, None)


def test_explode_tokens_rejects_multiword_terms(spark):
    import pytest
    from mbgspark.operators.locate import containment_join_first_match

    fact = spark.createDataFrame([(1, "di jakarta selatan")], "id int, text string")
    dim = spark.createDataFrame(
        [("jakarta selatan", 1)], "term string, dict_order int"
    )
    with pytest.raises(ValueError, match="single-word"):
        containment_join_first_match(
            fact, dim, "id", "text", "term", explode_tokens=True
        )


def test_explode_tokens_rejects_duplicate_order_values(spark):
    """ADVICE r12: the min(order)+join-back argmin is keyed on order_col,
    so duplicate order values could attribute a fact row to a same-order
    term it never matched — fail loud instead."""
    import pytest
    from mbgspark.operators.locate import containment_join_first_match

    fact = spark.createDataFrame([(1, "di bandung")], "id int, text string")
    dim = spark.createDataFrame(
        [("bandung", 1), ("jakarta", 1)], "term string, dict_order int"
    )
    with pytest.raises(ValueError, match="unique order_col"):
        containment_join_first_match(
            fact, dim, "id", "text", "term", explode_tokens=True
        )


def test_explode_tokens_rejects_null_order_values(spark):
    """r14: a null order_col never equi-joins back through the argmin,
    so that term's matches would silently vanish — fail loud (the probe
    is the same single aggregation job as the multi-word/duplicate
    checks, ADVICE r13)."""
    import pytest
    from mbgspark.operators.locate import containment_join_first_match

    fact = spark.createDataFrame([(1, "di bandung")], "id int, text string")
    dim = spark.createDataFrame(
        [("bandung", None), ("jakarta", 2)], "term string, dict_order int"
    )
    with pytest.raises(ValueError, match="non-null order_col"):
        containment_join_first_match(
            fact, dim, "id", "text", "term", explode_tokens=True
        )
