from pyspark.sql import functions as F

from mbgspark.operators import dedup as dd
from mbgspark.sources.ingest import dedup_ingest_batch


def test_dedup_by_key(tweets_raw):
    assert dd.dedup_by_key(tweets_raw, "_id").count() == 6  # 7 rows, one dup id


def test_dedup_by_normalized_text(tweets_raw):
    # after id-dedup: 6 rows, one exact-text dup pair (ids 1 & 5)
    out = dd.dedup_by_normalized_text(dd.dedup_by_key(tweets_raw, "_id"), "text")
    assert out.count() == 5


def test_ingest_cascade_matches_reference_order(tweets_raw):
    assert dedup_ingest_batch(tweets_raw).count() == 5


def test_keep_latest_per_key(tweets_raw):
    out = dd.keep_latest_per_key(tweets_raw, "_id", "scraped_at")
    row = out.filter(F.col("_id") == "2").first()
    assert row["like_count"] == 2  # the later-scraped duplicate wins


def test_minhash_finds_planted_near_dup(spark):
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(1, 30))  # first token dropped
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "id bigint, t string"
    )
    pairs = dd.minhash_near_dups(df, "id", "t", threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.9


def test_simhash_identical_for_identical_text(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "id bigint, t string",
    )
    rows = {r["id"]: r["simhash"] for r in dd.simhash32(df, "id", "t").collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_embedding_near_dups_blocked_vs_exact(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    exact = dd.embedding_near_dups(df, threshold=0.99)
    assert [(r["id_a"], r["id_b"]) for r in exact.collect()] == [(1, 2)]
    blocked = dd.embedding_near_dups(df, threshold=0.99, block_bits=2)
    assert [(r["id_a"], r["id_b"]) for r in blocked.collect()] == [(1, 2)]


def test_lsh_bucket_cap_bounds_viral_duplicate(spark):
    """A text duplicated N times lands N rows in one band bucket; the
    skew guard must drop that bucket (exact dedup's job) while normal
    near-dup pairs still surface, and the monitoring companion reports
    exactly the dropped buckets."""
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(1, 30))
    viral = " ".join(f"v{i}" for i in range(30))
    rows = [(1, base), (2, near)] + [(100 + i, viral) for i in range(50)]
    df = spark.createDataFrame(rows, "id bigint, t string")
    capped = dd.minhash_near_dups(
        df, "id", "t", threshold=0.5, max_bucket_size=10
    )
    got = [(p["id_a"], p["id_b"]) for p in capped.collect()]
    assert got == [(1, 2)]  # viral cluster suppressed, real near-dup kept
    uncapped = dd.minhash_near_dups(
        df, "id", "t", threshold=0.5, max_bucket_size=None
    )
    assert uncapped.count() == 1 + 50 * 49 // 2  # quadratic without the guard

    shingled = dd.with_word_shingles(df, "id", "t", 3)
    sig = dd.minhash_signature(shingled, "id", 8)
    over = dd.lsh_oversized_buckets(sig, "id", 4, 2, max_bucket_size=10)
    assert all(r["bucket_n"] == 50 for r in over.collect())
    assert over.count() == 4  # the viral text's 4 band buckets


def _py_simhash32(text: str) -> int:
    """Python mirror of simhash32's portable construction (bit b = MSB of
    md5 hex nibble b, ±1 votes, positive-sum bits set)."""
    import hashlib

    votes = [0] * 32
    for tok in text.lower().strip().split():
        if not tok:
            continue
        h = hashlib.md5(tok.encode()).hexdigest()
        for b in range(32):
            votes[b] += 1 if h[b] in "89abcdef" else -1
    return sum(1 << b for b in range(32) if votes[b] > 0)


def test_simhash_near_dups_hamming_buckets(spark):
    """Manku-style pair generation: identical texts pair at hamming 0;
    whether a perturbed text pairs is decided by the SAME arithmetic as a
    Python mirror of the signature (SimHash is majority-vote based, so a
    one-word edit flips exactly the bits whose vote margin it crosses —
    the mirror computes which); unrelated texts don't pair; the
    pigeonhole precondition is enforced."""
    import pytest

    words = [f"w{i}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(["CHANGED"] + words[1:])
    other = " ".join(f"zz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "id bigint, t string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_near_dups(df, "id", "t", bands=4, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 0
    exp_near = bin(_py_simhash32(base) ^ _py_simhash32(near)).count("1")
    if exp_near <= 3:
        assert got[(1, 3)] == exp_near
    else:
        assert (1, 3) not in got
    exp_other = bin(_py_simhash32(base) ^ _py_simhash32(other)).count("1")
    assert exp_other > 3 and not any(4 in p for p in got)
    with pytest.raises(ValueError, match="pigeonhole"):
        dd.simhash_near_dups(df, "id", "t", bands=4, max_hamming=4)


def test_duplicated_spans_surface_shared_boilerplate(spark):
    """Substring-level dedup candidates: a boilerplate sentence shared by
    otherwise-different docs must surface with its distinct-doc count and
    min-id example; unique text must not."""
    boiler = "please subscribe to our newsletter for more updates today"
    rows = [
        (1, "alpha beta gamma " + boiler),
        (2, boiler + " delta epsilon zeta"),
        (3, "totally unrelated words here nothing shared at all okay"),
        (4, "alpha beta gamma " + boiler),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id bigint, t string")
    out = dd.duplicated_spans(df, "id", "t", k=6, min_docs=2, top=100)
    got = {r["span"]: (r["n_docs"], r["example_doc"]) for r in out.collect()}
    # every 6-gram inside the boilerplate is shared by docs 1, 2, 4
    assert got["please subscribe to our newsletter for"] == (3, 1)
    # doc-3 text stays below min_docs
    assert not any("unrelated" in s for s in got)
    # ranking: shared-by-3 spans come before shared-by-2 spans
    first = out.first()
    assert first["n_docs"] == 3


def test_multiprobe_embedding_recall(spark):
    """MEASURED recall gate for approximate embedding dedup (VERDICT r3
    item 2): on the embeddings table with +0.03-perturbed copies planted
    (near-dup pairs whose near-zero components flip sign — the case a
    single sign-bucket blocking misses), multi-table blocking must reach
    >= 0.95 recall vs the block_bits=0 exact baseline. The single-table
    recall is asserted < 1.0 to pin that the test corpus actually
    exercises the hyperplane-straddling failure mode."""
    from mbgspark.io import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 200
    )
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    pert = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.03).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(pert)

    def pairset(df):
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    exact = pairset(
        dd.embedding_near_dups(corpus, threshold=0.95, block_bits=0)
    )
    assert len(exact) >= 40  # the planted pairs qualify at the threshold
    single = pairset(
        dd.embedding_near_dups(corpus, threshold=0.95, block_bits=4)
    )
    multi = pairset(
        dd.embedding_near_dups_multiprobe(
            corpus, threshold=0.95, block_bits=4, tables=4
        )
    )
    single_recall = len(single & exact) / len(exact)
    multi_recall = len(multi & exact) / len(exact)
    assert single_recall < 1.0  # the failure mode is present in the corpus
    assert multi_recall >= 0.95, (multi_recall, single_recall)
    # approximate blocking never invents pairs: both are verified subsets
    assert single <= exact and multi <= exact

    # VERDICT r4 item 2: the NO-ARGUMENT default self-sizes from the
    # corpus and must clear the same gates
    auto = pairset(dd.embedding_near_dups_multiprobe(corpus, threshold=0.95))
    assert auto <= exact
    assert len(auto & exact) / len(exact) >= 0.95


def test_auto_multiprobe_params_follow_corpus_size(spark):
    """The self-sizing rule (VERDICT r4 item 2): gate-scale corpora keep
    bucket depth at the floor, the measured 20k-vector stress scale
    resolves to the measured-fast (8, 8), and tables·bits never exceeds
    the vector dim."""
    small = spark.range(250).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(64)]).alias("embedding"),
    )
    assert dd.auto_multiprobe_params(small) == (4, 8)

    big = spark.range(20000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(64)]).alias("embedding"),
    )
    assert dd.auto_multiprobe_params(big) == (8, 8)

    narrow = spark.range(20000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(8)]).alias("embedding"),
    )
    bits, tables = dd.auto_multiprobe_params(narrow)
    assert bits * tables <= 8

    empty = small.filter(F.col("vec_id") < 0)
    assert dd.auto_multiprobe_params(empty) == (4, 1)


def test_incremental_never_pairs_corpus_with_itself(spark):
    """The corpus contains two identical docs (9001/9002) — a batch-vs-corpus
    run must NOT emit that pair (it was found at their own ingest time),
    while batch docs match both corpus and each other with sources tagged."""
    from mbgspark.operators.dedup import minhash_near_dups_incremental

    dup_text = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (9001, dup_text),
            (9002, dup_text),  # corpus-internal exact dup: must not pair
            (9003, "completely different content about spark physical plans"),
        ],
        "id: long, t: string",
    )
    batch = spark.createDataFrame(
        [
            (1, dup_text),  # matches corpus 9001+9002
            (2, dup_text),  # and batch-internal with id 1
            (3, "unrelated fresh text with no duplicate anywhere at all ok"),
        ],
        "id: long, t: string",
    )
    out = minhash_near_dups_incremental(
        batch, corpus, "id", "t", k=3, num_hashes=8, bands=4, threshold=0.5
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["match_source"] for r in out}
    assert (9001, 9002) not in pairs and (9002, 9001) not in pairs
    assert pairs[(1, 9001)] == "corpus" and pairs[(2, 9002)] == "corpus"
    assert pairs[(1, 2)] == "batch"
    assert all(a in (1, 2, 3) for a, _ in pairs)  # id_a is always a batch doc
    assert not any(a == 3 or b == 3 for a, b in pairs)


def test_incremental_bucket_cap_counts_combined_population(spark):
    """A viral corpus bucket (many near-identical corpus docs) must be
    dropped even though the BATCH side alone is under the cap."""
    from mbgspark.operators.dedup import minhash_near_dups_incremental

    viral = "spam spam spam wonderful spam spam spam baked beans spam"
    corpus = spark.createDataFrame(
        [(100 + i, viral) for i in range(30)], "id: long, t: string"
    )
    batch = spark.createDataFrame([(1, viral)], "id: long, t: string")
    capped = minhash_near_dups_incremental(
        batch, corpus, "id", "t", threshold=0.5, max_bucket_size=10
    ).count()
    uncapped = minhash_near_dups_incremental(
        batch, corpus, "id", "t", threshold=0.5, max_bucket_size=None
    ).count()
    assert capped == 0
    assert uncapped == 30


def test_incremental_indexed_mode_never_rescans_corpus(spark, tmp_path):
    """The indexed incremental route — the corpus index written once with
    ``write_minhash_index``, each batch probed with
    ``probe_minhash_index`` — reads only the index: the lookup plan holds
    no scan of the corpus parquet, yet still finds a batch doc's stored
    copy."""
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        F.col("doc_id").alias("id"), F.col("text").alias("t")
    )
    index = str(tmp_path / "index")
    dd.check_minhash_index(spark, index)
    dd.write_minhash_index(index, -1, *dd.build_minhash_index(corpus, "id", "t"), "id")
    doc_id, text = (
        corpus.filter(F.size(F.split("t", " ")) >= 10).orderBy("id").first()
    )
    batch = spark.createDataFrame(
        [(9_000_001, text), (9_000_002, "some fresh batch document text here")],
        "id: long, t: string",
    )
    pairs = dd.probe_minhash_index(
        index, 0, *dd.build_minhash_index(batch, "id", "t"), "id", 0.6, []
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert plan.count("FileScan parquet") > 0  # the index arrays read
    assert (9_000_001, doc_id, 1.0, "corpus") in [tuple(r) for r in pairs.collect()]


def test_mask_spans_removes_boilerplate_longest_first(spark):
    from mbgspark.operators.dedup import mask_spans

    df = spark.createDataFrame(
        [
            (1, "INTRO the shared legal disclaimer text END unique tail one"),
            (2, "the shared legal disclaimer text END and another body"),
            (3, "nothing duplicated in here at all"),
        ],
        "doc_id: long, text: string",
    )
    spans = [
        "the shared legal disclaimer text end",      # longer span
        "shared legal disclaimer",                    # overlapping shorter
    ]
    out = {r["doc_id"]: r["masked_text"] for r in mask_spans(df, spans).collect()}
    assert out[1] == "intro unique tail one"
    assert out[2] == "and another body"
    assert out[3] == "nothing duplicated in here at all"
    # longest-first: the long span was removed intact, so the shorter
    # overlapping one never split it
    assert "disclaimer" not in out[1] and "disclaimer" not in out[2]


def test_mask_spans_is_row_local(spark):
    from mbgspark.operators.dedup import mask_spans

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        mask_spans(df, ["some span here", "another span"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """The signature-agreement estimate is an unbiased MinHash estimator:
    on near-identical pairs (J >= 0.5 by construction) the 8-hash
    estimate lands within the estimator's granularity band of exact, and
    identical docs estimate exactly 1.0."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),   # exact dup
            (3, "beta gamma delta epsilon zeta eta theta iota"),    # near dup
            (4, "completely different words appear in this one here")]
    df = spark.createDataFrame(rows, "id bigint, t string")
    from mbgspark.operators.dedup import minhash_estimate_pairs

    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in minhash_estimate_pairs(df, "id", "t", threshold=0.3).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)]["jaccard"] == 1.0
    assert got[(1, 2)]["minhash_est_e4"] == 10000
    for pair, d in got.items():
        # 8 hashes -> granularity 1250; allow two components of slack
        assert abs(d["minhash_est_e4"] - d["jaccard"] * 10000) <= 2 * 1250 + 1, d


def test_auto_multiprobe_mixed_explicit_defaults_respect_dim(spark):
    """Mixed explicit/derived sizing resolves against the explicit value
    (review r5): explicit deep bits cap the derived tables at
    dim // bits, and explicit tables clamp the derived bits — the
    tables*bits <= dim invariant holds in every mix."""
    big = spark.range(20000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(64)]).alias("embedding"),
    )
    bits, tables = dd.auto_multiprobe_params(big, block_bits=16)
    assert (bits, tables) == (16, 4)  # not the auto-bits-derived 8 tables
    bits, tables = dd.auto_multiprobe_params(big, tables=8)
    assert tables == 8 and bits * tables <= 64
    narrow = spark.range(20000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(8)]).alias("embedding"),
    )
    bits, tables = dd.auto_multiprobe_params(narrow, block_bits=4)
    assert (bits, tables) == (4, 2)


def test_oversized_metrics_zero_not_null_on_shingleless_corpus(spark):
    """A corpus whose docs are all shorter than the shingle size yields
    an EMPTY bucket frame — the metrics row must still read (0, 0), not
    (NULL, NULL) (review r5: SUM over zero rows is NULL unguarded)."""
    tiny = spark.createDataFrame(
        [(1, "one two"), (2, "three"), (3, "four five")],
        "doc_id bigint, text string",
    )
    metrics: list = []
    pairs = dd.minhash_near_dups(tiny, "doc_id", "text", metrics_out=metrics)
    drop_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors, obs = dd.observe_oversized(
        tiny.join(drop_ids, "doc_id", "left_anti"), metrics[0], "shingleless"
    )
    assert survivors.count() == 3
    assert obs.get == {"oversized_buckets": 0, "oversized_rows": 0}


def test_auto_multiprobe_rejects_unfittable_explicit_values(spark):
    """Explicit knobs that cannot fit the vector width raise instead of
    silently truncating every bucket key toward one global bucket
    (review r5 second pass)."""
    import pytest

    narrow = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(8)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="block_bits"):
        dd.auto_multiprobe_params(narrow, block_bits=16)
    with pytest.raises(ValueError, match="tables"):
        dd.auto_multiprobe_params(narrow, tables=16)


def test_ngram_jaccard_driver_matches_distributed(spark, ngram_on):
    """ngram_jaccard_pairs' driver path (under the row cap) is a
    physical rewrite only: identical (id_a, id_b, jaccard) sets to the
    distributed join — same tokenization (ASCII \\s+, trim-space-only,
    leading/trailing empty tokens), same truncated tail shingles, same
    4-dp HALF_UP jaccard — across doc-shape edge cases."""
    rows = [
        (1, None),                       # null text: empty shingle set
        (2, ""),                         # empty: [""] token -> "" shingle dropped
        (3, "  \tHello   world  "),      # tab survives trim(' '); leading "" token
        (4, "hello world"),              # 2-token doc, k=3 truncated shingle
        (5, "a b"),
        (6, "A B"),                      # case-folds to the same shingle as 5
        (7, "one two three four five"),
        (8, "one two three four five six"),
        (9, "\tx\ty\tz\t"),              # tab-separated, trailing empty token
        (10, "one two three four"),
    ]
    df = spark.createDataFrame(rows, "id bigint, t string")
    drv = ngram_on(df, distributed=False, threshold=0.1)
    dist = ngram_on(df, distributed=True, threshold=0.1)
    assert drv == dist
    assert drv  # non-degenerate
    assert (5, 6, 1.0) in drv  # case folding unified the shingles


def test_ngram_jaccard_auto_overflow_falls_back(spark, ngram_on, monkeypatch):
    """The driver path falls back to the distributed join on row overflow
    AND on candidate-pair overflow, producing the same rows either way."""
    texts = [(i, f"w{i} common one two three shared tail") for i in range(1, 9)]
    df = spark.createDataFrame(texts, "id bigint, t string")
    want = ngram_on(df, distributed=True, threshold=0.2)
    monkeypatch.setattr(dd, "NGRAM_DRIVER_ROW_CAP", 3)  # 8 rows overflow
    got = sorted(
        tuple(r) for r in dd.ngram_jaccard_pairs(df, "id", "t", threshold=0.2).collect()
    )
    assert got == want
    monkeypatch.setattr(dd, "NGRAM_DRIVER_ROW_CAP", 100_000)
    monkeypatch.setattr(dd, "NGRAM_DRIVER_PAIR_CAP", 5)  # 8C2=28 pairs overflow
    got2 = sorted(
        tuple(r) for r in dd.ngram_jaccard_pairs(df, "id", "t", threshold=0.2).collect()
    )
    assert got2 == want


def test_minhash_frames_keep_their_persisted_schema(spark, tmp_path):
    """``write_minhash_index`` persists ``build_minhash_index`` output
    under ``GATE_META`` and routes each band row to a hash bucket of
    (band_idx, band_key). A type drift in the builders (band_idx int ->
    bigint, say) or in the writer's bucket expression would silently
    re-bucket the rows an earlier version wrote, and their
    near-duplicates would be missed with no error — so the schemas
    (names, types, nullability) and one doc's band buckets, as written to
    disk, are pinned here."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    assert dd.GATE_META["layout"] == "bucketed-v1"
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "id bigint, t string")
    shingled = dd.with_word_shingles(df, "id", "t")
    bands, arrays = dd.build_minhash_index(df, "id", "t")
    id_field = StructField("id", LongType(), True)
    assert shingled.schema == StructType(
        [id_field, StructField("shingle", StringType(), False)]
    )
    assert dd.with_shingle_array(df, "id", "t").schema == StructType(
        [id_field, StructField("shingles", ArrayType(StringType(), False), False)]
    )
    assert dd.minhash_signature(shingled, "id").schema == StructType(
        [id_field, StructField("sig", ArrayType(StringType(), True), False)]
    )
    assert bands.schema == StructType(
        [
            id_field,
            StructField("band_idx", IntegerType(), False),
            StructField("band_key", StringType(), False),
        ]
    )
    assert arrays.schema == StructType(
        [id_field, StructField("__shingles", ArrayType(StringType(), False), False)]
    )
    index = str(tmp_path / "index")
    dd.write_minhash_index(index, 0, bands, arrays, "id")
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{index}/bands")
        .filter("id = 1")
        .select("band_idx", "band_key", "__bucket")
        .collect()
    )
    assert got == [
        (0, "2e8d846d7e644fa1f5498118d3502e54", 4),
        (1, "8986a69ff1cb7ba9a336e88571adf1ef", 41),
        (2, "33ef99d3e1c51c7b881cd45f09743730", 10),
        (3, "305cb3fd720c4a8feeb3b12348265839", 38),
    ]


def _probe_corpus_and_batch(spark, tmp_path):
    """A 40-doc corpus written as generation -1 of an index, and a batch
    holding a near-dup of corpus doc 3, an exact copy of corpus doc 7, a
    batch-internal near-dup pair (102, 103) and a novel doc."""
    import random

    rng = random.Random(11)

    def text():
        return " ".join(f"w{rng.randrange(500)}" for _ in range(30))

    corpus = [(i, text()) for i in range(40)]
    novel = text()
    batch = [
        (100, "changed " + corpus[3][1].split(" ", 1)[1]),
        (101, corpus[7][1]),
        (102, novel),
        (103, novel + " tail"),
        (104, text()),
    ]
    c_df = spark.createDataFrame(corpus, "id bigint, t string")
    b_df = spark.createDataFrame(batch, "id bigint, t string")
    index = str(tmp_path / "index")
    dd.check_minhash_index(spark, index)
    dd.write_minhash_index(index, -1, *dd.build_minhash_index(c_df, "id", "t"), "id")
    return index, c_df, b_df


def _probe_pairs(index, b_df, persisted, metrics):
    pairs = dd.probe_minhash_index(
        index, 0, *dd.build_minhash_index(b_df, "id", "t"), "id", 0.5,
        persisted, metrics_out=metrics,
    )
    return sorted(tuple(r) for r in pairs.collect())


def test_probe_minhash_index_matches_self_contained_incremental(spark, tmp_path):
    """Probing a corpus index written with ``write_minhash_index`` gives
    the pairs ``minhash_near_dups_incremental`` computes from the corpus
    text itself. The lean path caps nothing, persists nothing, and
    reports zero drops."""
    index, c_df, b_df = _probe_corpus_and_batch(spark, tmp_path)
    persisted, metrics = [], []
    got = _probe_pairs(index, b_df, persisted, metrics)
    want = sorted(
        tuple(r)
        for r in dd.minhash_near_dups_incremental(
            b_df, c_df, "id", "t", threshold=0.5
        ).collect()
    )
    assert got == want
    assert [(a, b, src) for a, b, _, src in got] == [
        (100, 3, "corpus"), (101, 7, "corpus"), (102, 103, "batch"),
    ]
    assert got[1][2] == 1.0
    assert persisted == []
    assert tuple(metrics[0].first()) == (0, 0)


def test_probe_minhash_index_overflow_path_matches_lean(spark, tmp_path, monkeypatch):
    """With the candidate cap at 0 every probe with a candidate takes the
    distributed, bucket-capped overflow path. On a corpus with no
    oversized bucket its pairs equal the lean broadcast path's."""
    index, _, b_df = _probe_corpus_and_batch(spark, tmp_path)
    lean = _probe_pairs(index, b_df, [], None)
    monkeypatch.setattr(dd, "INDEX_PROBE_CAND_CAP", 0)
    persisted, metrics = [], []
    try:
        got = _probe_pairs(index, b_df, persisted, metrics)
        assert len(persisted) == 1  # the overflow candidates, left to the caller
        assert tuple(metrics[0].first()) == (0, 0)
    finally:
        for df in persisted:
            df.unpersist()
    assert len(lean) == 3
    assert got == lean


def _py4j_calls(monkeypatch, build) -> int:
    """py4j round trips made while ``build`` runs, counted on its second
    run (the first warms lazily-resolved JVM handles). py4j's object-
    release messages are excluded: their number follows Python GC timing,
    which is also why GC is off while counting."""
    import gc

    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    build()
    send = ClientServerConnection.send_command
    calls = 0

    def counting(self, command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            calls += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    gc.disable()
    try:
        build()
    finally:
        gc.enable()
        monkeypatch.setattr(ClientServerConnection, "send_command", send)
    return calls


def test_minhash_builders_py4j_budget(spark, monkeypatch):
    """Driver plan-build cost of the near-dup builders, as py4j round
    trips: a layer metric host load cannot move. The builders are SQL
    expression strings; per-element Python Column trees cost about 8
    round trips per ``F.*`` call (2 088 / 3 895 / 1 584 here when they
    were built that way)."""
    batch = spark.createDataFrame(
        [(i, f"w{i % 7} alpha beta gamma delta {i % 3}") for i in range(20)],
        "id bigint, t string",
    )
    corpus = spark.createDataFrame(
        [(100 + i, f"w{i % 5} alpha beta gamma {i}") for i in range(20)],
        "id bigint, t string",
    )
    budgets = {
        "minhash_near_dups": (lambda: dd.minhash_near_dups(batch, "id", "t"), 600),
        "minhash_near_dups_incremental": (
            lambda: dd.minhash_near_dups_incremental(batch, corpus, "id", "t"),
            600,
        ),
        "build_minhash_index": (lambda: dd.build_minhash_index(batch, "id", "t"), 200),
    }
    calls = {name: _py4j_calls(monkeypatch, b) for name, (b, _) in budgets.items()}
    assert all(calls[name] <= cap for name, (_, cap) in budgets.items()), calls


def test_minhash_builders_quote_names_and_reject_backticks(spark):
    """Column names are interpolated into SQL expression strings
    backtick-quoted, so non-identifier names work; a name that itself
    holds a backtick cannot be quoted and raises, as does a signature
    wider than the 8 windows two md5 parses cover."""
    import pytest

    texts = ["a b c d e f g h", "a b c d e f g x", "p q r s t u v w"]
    plain = spark.createDataFrame(list(enumerate(texts)), "id bigint, t string")
    odd = plain.toDF("doc id", "the-text")
    got = dd.minhash_near_dups(odd, "doc id", "the-text", threshold=0.5).collect()
    assert sorted(map(tuple, got)) == sorted(
        map(tuple, dd.minhash_near_dups(plain, "id", "t", threshold=0.5).collect())
    )
    assert [tuple(r)[:2] for r in got] == [(0, 1)]
    with pytest.raises(ValueError, match="backtick"):
        dd.with_word_shingles(plain.toDF("id", "t`x"), "id", "t`x")
    with pytest.raises(ValueError, match="num_hashes"):
        dd.minhash_signature(dd.with_word_shingles(plain, "id", "t"), "id", 9)
