"""chunk_documents edge semantics: short docs, exact boundaries, overlap."""

from unittest.mock import patch

from mbgspark.operators.textstats import chunk_documents


def _chunks(spark, text, chunk=5, stride=3):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = (
        chunk_documents(df, "doc_id", "text", chunk, stride)
        .orderBy("chunk_idx")
        .collect()
    )
    return [(r["chunk_idx"], r["chunk_text"], r["chunk_len"]) for r in rows]


def test_short_doc_single_chunk(spark):
    assert _chunks(spark, "a b c") == [(0, "a b c", 3)]


def test_exact_window_no_extra_chunk(spark):
    # exactly chunk_tokens tokens → one chunk, not a trailing empty one
    assert _chunks(spark, "a b c d e") == [(0, "a b c d e", 5)]


def test_overlap_and_tail(spark):
    # 8 tokens, chunk 5 stride 3: [0..4], [3..7] — the windows overlap by 2
    got = _chunks(spark, "a b c d e f g h")
    assert got == [(0, "a b c d e", 5), (1, "d e f g h", 5)]


def test_empty_text_one_empty_chunk(spark):
    # split('') yields one empty token — mirrors the oracle's semantics
    assert _chunks(spark, "") == [(0, "", 1)]


def test_unigram_surprise_orders_rare_heavy_docs_higher(spark):
    """Docs made of common tokens score low; rare-token docs score high;
    the surface is exact integer micro-nats (hash-stable by design)."""
    import math

    from mbgspark.operators.textstats import unigram_surprise

    rows = [(i, "common words repeated here") for i in range(9)]
    rows.append((100, "zyxqv unique"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r.asDict() for r in unigram_surprise(d).collect()}
    assert out[0]["n_tokens"] == 4
    assert out[100]["mean_surprise_micronats"] > out[0]["mean_surprise_micronats"]
    # exact value check: 38 total tokens; each common token appears 9x
    total = 38
    exp_common = round(-math.log(9 / total) * 1e6)
    got = out[0]["mean_surprise_micronats"]
    assert abs(got - exp_common) <= 1


def test_tfidf_top_terms_ranks_distinctive_tokens_first(spark):
    from mbgspark.operators.textstats import tfidf_top_terms

    d = spark.createDataFrame(
        [
            (1, "shared shared apple"),
            (2, "shared banana banana"),
            (3, "shared cherry"),
        ],
        "doc_id bigint, text string",
    )
    rows = tfidf_top_terms(d, "doc_id", "text", k=2).collect()
    got = {(r["doc_id"], r["rank"]): (r["term"], r["score_micro"]) for r in rows}
    import math

    idf_rare = round(math.log(3 / 1) * 1e6)
    # the doc-unique token outranks the corpus-wide 'shared' (idf 0)
    assert got[(1, 1)][0] == "apple" and abs(got[(1, 1)][1] - idf_rare) <= 1
    assert got[(2, 1)] == ("banana", 2 * got[(1, 1)][1] // 1)
    assert got[(1, 2)] == ("shared", 0)  # ln(3/3) = 0


def test_bigram_surprise_flags_shuffled_transitions(spark):
    """Bigram surprise catches improbable transitions between common
    words (the failure mode unigram surprise is blind to), excludes
    <2-token docs, and the exact add-one value matches the closed form."""
    import math

    from mbgspark.operators.textstats import bigram_surprise

    rows = [(i, "alpha beta alpha beta alpha") for i in range(9)]
    rows.append((100, "beta alpha beta alpha beta"))  # reversed transitions
    rows.append((200, "alpha"))  # 1 token -> no bigrams -> absent
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r.asDict() for r in bigram_surprise(d).collect()}
    assert 200 not in out
    assert out[0]["n_bigrams"] == 4
    # corpus: 9 docs of (ab,ba,ab,ba) + 1 doc of (ba,ab,ba,ab); V=2
    # C(ab)=9*2+2=20, C(ba)=9*2+2=20; ctx(alpha)=ctx(beta)=20
    # P = (20+1)/(20+2) for every transition -> same score everywhere
    exp = round(-math.log(21 / 22) * 1e6)
    assert abs(out[0]["mean_bigram_surprise_micronats"] - exp) <= 1
    assert out[0]["mean_bigram_surprise_micronats"] == out[100][
        "mean_bigram_surprise_micronats"
    ]
    # now make doc-100's transitions genuinely rare: distinct words
    d2 = spark.createDataFrame(
        [(i, "one two one two one") for i in range(9)] + [(100, "two one seven")],
        "doc_id bigint, text string",
    )
    out2 = {r["doc_id"]: r.asDict() for r in bigram_surprise(d2).collect()}
    assert (
        out2[100]["mean_bigram_surprise_micronats"]
        > out2[0]["mean_bigram_surprise_micronats"]
    )


def test_bigram_vectorized_matches_fold(spark, bigram_on):
    """bigram_surprise's vectorized path (driver-model broadcast +
    mapInPandas scoring, r8) is a physical rewrite only: identical rows
    to the fold join across the doc-shape edge cases — null text, empty,
    0/1-token, tab/padding whitespace, case folding, repeated bigrams —
    and on the real sf0.001 documents table. Also pins the routing: the
    vectorized plan carries the Python hop, the fold does not, and a
    too-small model cap falls back to the fold plan."""
    from mbgspark.operators import textstats as ts

    rows = [
        (1, None),
        (2, ""),
        (3, "one"),
        (4, "  \tOne   TWO  "),         # trim(' ') keeps the tab token
        (5, "one two one two one"),
        (6, "ONE TWO ONE TWO ONE"),      # folds to the same transitions as 5
        (7, "alpha beta gamma delta"),
        (8, "beta alpha"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    key = lambda r: r["doc_id"]  # noqa: E731
    fold = bigram_on(d, vectorized=False).collect()
    vec = bigram_on(d, vectorized=True).collect()
    assert sorted(fold, key=key) == sorted(vec, key=key)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    f2 = bigram_on(docs, vectorized=False).collect()
    v2 = bigram_on(docs, vectorized=True).collect()
    assert sorted(f2, key=key) == sorted(v2, key=key)
    assert len(f2) > 0

    # cap overflow: the vectorized probe-fetch falls back to the fold join
    with patch.object(ts, "LM_VECTORIZED_MIN_BYTES", 0), patch.object(
        ts, "LM_MODEL_DRIVER_CAP", 1
    ):
        capped = ts.bigram_surprise(docs)
    assert "MapInPandas" not in (
        capped._jdf.queryExecution().executedPlan().toString()
    )
    assert sorted(capped.collect(), key=key) == sorted(f2, key=key)


def test_bigram_vectorized_null_id_group(spark, bigram_on):
    """Null doc_ids with scoreable text get the fold's null-GROUP
    semantics on the vectorized path too (ADVICE r8): every null-id
    doc folds into ONE null-id output row, and the bigint id column
    never round-trips through pandas as NaN-bearing float64. Covers
    multiple null-id docs (merged), a null-id doc with <2 tokens
    (ignored), and the all-null and no-null corpus edges."""
    rows = [
        (1, "one two one two one"),
        (None, "one two one"),         # scoreable, null id
        (None, "two one two"),         # merges with the row above
        (None, "one"),                 # <2 tokens: contributes nothing
        (2, "two one"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    key = lambda r: (r["doc_id"] is None, r["doc_id"] or 0)  # noqa: E731
    fold = sorted(bigram_on(d, vectorized=False).collect(), key=key)
    vec = sorted(bigram_on(d, vectorized=True).collect(), key=key)
    assert fold == vec
    nulls = [r for r in vec if r["doc_id"] is None]
    assert len(nulls) == 1 and nulls[0]["n_bigrams"] == 4

    # all-null corpus: exactly the one null-group row on both paths
    d2 = spark.createDataFrame(
        [(None, "alpha beta"), (None, "beta alpha")], "doc_id bigint, text string"
    )
    f2 = sorted(bigram_on(d2, vectorized=False).collect(), key=key)
    v2 = sorted(bigram_on(d2, vectorized=True).collect(), key=key)
    assert f2 == v2 and len(v2) == 1 and v2[0]["doc_id"] is None

    # no-null corpus: the null branch must not emit a phantom row
    d3 = spark.createDataFrame([(7, "alpha beta")], "doc_id bigint, text string")
    v3 = bigram_on(d3, vectorized=True).collect()
    assert [r["doc_id"] for r in v3] == [7]


def test_normalize_unicode_folds_combining_marks(spark):
    """NFC folds decomposed sequences to precomposed; ASCII and None pass
    through untouched."""
    from pyspark.sql import functions as F

    from mbgspark.operators.textstats import normalize_unicode

    rows = [
        (1, "cafe\u0301"),  # decomposed
        (2, "plain ascii"),
        (3, None),
        (4, "co\u0308rdinate"),  # decomposed
    ]
    d = spark.createDataFrame(rows, "id bigint, text string")
    out = {r["id"]: r["nfc_text"] for r in normalize_unicode(d).collect()}
    assert out[1] == "caf\u00e9"  # precomposed
    assert out[2] == "plain ascii"
    assert out[3] is None
    assert out[4] == "c\u00f6rdinate"  # precomposed


def test_bm25_ranks_rare_term_docs_first(spark):
    """A doc hitting the rare query term outranks docs hitting only the
    common one; docs without any query term are absent; hit counts are
    per-doc distinct query terms."""
    from mbgspark.operators.textstats import bm25_search

    rows = (
        [(i, "common filler words here") for i in range(20)]
        + [(100, "common rareword filler")]
        + [(200, "nothing relevant at all")]
    )
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in bm25_search(d, ["common", "rareword"], k=50).collect()}
    assert 200 not in got
    assert got[100]["n_query_terms_hit"] == 2
    assert all(got[100]["score_micro"] > v["score_micro"] for k, v in got.items() if k != 100)


def test_word_dropout_rate_determinism_and_seed_variation(spark):
    """Drop rate lands near the configured 15%, the same seed reproduces
    the identical augmentation, and a different seed changes the mask."""
    from pyspark.sql import functions as F

    from mbgspark.io import load_table
    from mbgspark.operators.textstats import augment_word_dropout

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    a1 = augment_word_dropout(d, "doc_id", "text", rate_e4=1500, seed="s1")
    tot = a1.agg(
        F.sum("n_dropped").alias("drop"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n"),
    ).first()
    rate = tot["drop"] / tot["n"]
    assert 0.10 < rate < 0.20, rate

    a1b = augment_word_dropout(d, "doc_id", "text", rate_e4=1500, seed="s1")
    assert (
        a1.select("doc_id", "augmented_text").collect()
        == a1b.select("doc_id", "augmented_text").collect()
    )
    a2 = augment_word_dropout(d, "doc_id", "text", rate_e4=1500, seed="s2")
    diff = (
        a1.select("doc_id", F.col("augmented_text").alias("x"))
        .join(a2.select("doc_id", F.col("augmented_text").alias("y")), "doc_id")
        .filter(F.col("x") != F.col("y"))
        .count()
    )
    assert diff > 0


def test_tfidf_cosine_stop_term_cutoff_bounds_blocks_not_scores(spark):
    """The max_block_df blocking cutoff (VERDICT r4 item 3): a pair
    sharing ONLY an over-cutoff stop term never forms, a pair sharing
    any rare term survives WITH ITS EXACT UNCAPPED COSINE (the dot
    re-joins full top-k lists), and when every block is under the
    cutoff the capped and uncapped outputs are identical."""
    from pyspark.sql import functions as F  # noqa: F401

    from mbgspark.operators.textstats import tfidf_cosine_pairs

    # 'common' tops every doc; rarepair tops only docs 1/2
    rows = [
        (1, "common common rarepair alpha"),
        (2, "common common rarepair beta"),
        (3, "common common gamma delta"),
        (4, "common common epsilon zeta"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")

    uncapped = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cos_e6"])
        for r in tfidf_cosine_pairs(
            d, "doc_id", "text", k=3, min_cos_e6=1, max_block_df=None
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cos_e6"])
        for r in tfidf_cosine_pairs(
            d, "doc_id", "text", k=3, min_cos_e6=1, max_block_df=3
        ).collect()
    }
    # 'common' (block df 4 > 3) is no longer a blocking key: pairs that
    # shared only it are gone, the rare-term pair survives
    assert (1, 2) in capped
    assert (3, 4) not in capped and (1, 3) not in capped
    # the survivor's score is the EXACT uncapped score (incl. the shared
    # stop term's contribution to the dot)
    assert capped[(1, 2)] == uncapped[(1, 2)]
    assert uncapped[(1, 2)][0] == 2  # common + rarepair both shared

    # cutoff above every block size -> identical output
    wide = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cos_e6"])
        for r in tfidf_cosine_pairs(
            d, "doc_id", "text", k=3, min_cos_e6=1, max_block_df=100
        ).collect()
    }
    assert wide == uncapped

