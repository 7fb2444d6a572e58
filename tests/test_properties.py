"""Property-based tests (SURVEY §5): invariants that must hold for ANY
input, not just fixtures. Spark round trips are expensive, so each property
runs a bounded number of hypothesis examples with batched evaluation —
every example is a whole column, not a separate Spark job.
"""

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mbgspark.functions.cleaning import clean_for_analysis, normalized_text_key
from mbgspark.io import merge_by_key
from mbgspark.operators.dedup import dedup_by_key

TEXT = st.text(
    alphabet=string.ascii_letters + string.digits + " \t\n#@.:/-_",
    max_size=80,
)
SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@SETTINGS
def test_clean_for_analysis_idempotent(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    out = df.select(
        clean_for_analysis(F.col("t")).alias("once")
    ).withColumn("twice", clean_for_analysis(F.col("once")))
    for r in out.collect():
        assert r["twice"] == r["once"]


@given(texts=st.lists(TEXT, min_size=1, max_size=8))
@SETTINGS
def test_normalized_key_case_and_pad_invariant(spark, texts):
    rows = [(t, "  " + t.upper() + " ") for t in texts]
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.select(
        (normalized_text_key(F.col("a")) == normalized_text_key(F.col("b"))).alias("eq")
    )
    assert all(r["eq"] for r in out.collect())


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=12
    )
)
@SETTINGS
def test_dedup_by_key_unique_and_subset(spark, rows):
    df = spark.createDataFrame(rows, "k int, v int")
    out = dedup_by_key(df, "k").collect()
    keys = [r["k"] for r in out]
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})
    assert all((r["k"], r["v"]) in rows for r in out)


@given(
    base=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 50)), max_size=8),
    upd=st.lists(st.tuples(st.integers(0, 4), st.integers(51, 99)), max_size=8),
)
@SETTINGS
def test_merge_by_key_idempotent_and_update_wins(spark, base, upd):
    schema = "_id int, scraped_at int"
    s = spark.createDataFrame(base, schema) if base else spark.createDataFrame([], schema)
    u = spark.createDataFrame(upd, schema) if upd else spark.createDataFrame([], schema)
    once = merge_by_key(s, u, key="_id", order_col="scraped_at")
    twice = merge_by_key(once, u, key="_id", order_col="scraped_at")
    got_once = sorted((r["_id"], r["scraped_at"]) for r in once.collect())
    got_twice = sorted((r["_id"], r["scraped_at"]) for r in twice.collect())
    assert got_once == got_twice  # replay converges (D3 upsert semantics)
    upd_keys = {k for k, _ in upd}
    latest_upd = {k: max(v for kk, v in upd if kk == k) for k in upd_keys}
    for k, v in got_once:
        if k in upd_keys:
            assert v == latest_upd[k]  # update side wins over store


def test_line_filter_is_idempotent_fixpoint(spark):
    """Property: re-filtering already-filtered text keeps every line —
    the C4 rules are a projection (f(f(x)) = f(x))."""
    from pyspark.sql import functions as F

    from mbgspark.io import load_table
    from mbgspark.operators.curation import with_line_filter

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.lit("\nnav | bar\nA proper sentence for the filter to keep.\nok"),
        ).alias("text"),
    )
    once = with_line_filter(d, "text").select(
        "doc_id", F.col("line_filtered_text").alias("text")
    )
    twice = with_line_filter(once, "text")
    bad = twice.filter(
        (F.col("n_kept_lines") != F.col("n_lines"))
        & (F.col("text") != "")
    ).count()
    assert bad == 0


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**12), min_size=1,
                 max_size=12, unique=True)
)
@SETTINGS
def test_split_assign_total_function(spark, ids):
    """Every row gets exactly one split, and the assignment of an id never
    depends on which other ids are present (corpus-growth stability)."""
    from mbgspark.operators.profiling import split_assign

    df = spark.createDataFrame([(i,) for i in ids], "doc_id: long")
    rows = {r["doc_id"]: r["split"] for r in split_assign(df, "doc_id").collect()}
    assert set(rows) == set(ids)
    assert set(rows.values()) <= {"train", "val", "test"}
    # stability: each id alone gets the same split as in the batch
    solo = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            spark.createDataFrame([(ids[0],)], "doc_id: long"), "doc_id"
        ).collect()
    }
    assert solo[ids[0]] == rows[ids[0]]


@given(texts=st.lists(TEXT, min_size=1, max_size=6))
@SETTINGS
def test_mask_spans_matches_python_reference(spark, texts):
    """Span masking equals the literal Python reference: chained
    longest-first str.replace on the normalized surface, then whitespace
    re-collapse. (Masking is deliberately NOT idempotent: the collapse
    can butt two fragments together into a fresh span occurrence — e.g.
    'a a b b' with span 'a b' — exactly as chained replace does; a second
    pass is the caller's choice, same as re-running the span miner.)"""
    from mbgspark.operators.dedup import mask_spans

    spans = ["a b", "the quick fox"]

    def ref(t: str) -> str:
        s = t.strip().lower()
        for sp in sorted(spans, key=len, reverse=True):
            s = s.replace(sp, " ")
        return " ".join(s.split())

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id: long, text: string")
    got = {r["doc_id"]: r["masked_text"] for r in mask_spans(df, spans).collect()}
    for i, t in enumerate(texts):
        assert got[i] == ref(t), (t, got[i], ref(t))


@given(
    vals=st.lists(st.integers(min_value=0, max_value=10**15), min_size=1,
                  max_size=20)
)
@SETTINGS
def test_length_histogram_partitions_all_rows(spark, vals):
    """Bucket counts sum to the row count and every bucket is the exact
    bit length of its members (no float-log boundary drift)."""
    from mbgspark.operators.profiling import length_histogram

    df = spark.createDataFrame([(v,) for v in vals], "n: long")
    out = length_histogram(df, "n").collect()
    assert sum(r["cnt"] for r in out) == len(vals)
    expect = {}
    for v in vals:
        b = v.bit_length() if v > 0 else 0
        expect[b] = expect.get(b, 0) + 1
    assert {r["len_bucket"]: r["cnt"] for r in out} == expect


WORDS = st.lists(
    st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "common", "stop", "rare1", "rare2"]
    ),
    min_size=1,
    max_size=6,
)


@given(docs=st.lists(WORDS, min_size=2, max_size=8), cutoff=st.integers(1, 6))
@SETTINGS
def test_tfidf_cutoff_subset_and_score_preserving(spark, docs, cutoff):
    """For ANY corpus and ANY cutoff: capped pairs ⊆ uncapped pairs, and
    every surviving pair keeps its exact uncapped (n_shared_terms,
    cos_e6) — the df stop-term cutoff changes WHICH pairs form, never
    their score (VERDICT r4 item 3)."""
    from mbgspark.operators.textstats import tfidf_cosine_pairs

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id bigint, text string",
    )
    unc = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cos_e6"])
        for r in tfidf_cosine_pairs(
            d, "doc_id", "text", k=3, min_cos_e6=1, max_block_df=None
        ).collect()
    }
    cap = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cos_e6"])
        for r in tfidf_cosine_pairs(
            d, "doc_id", "text", k=3, min_cos_e6=1, max_block_df=cutoff
        ).collect()
    }
    assert set(cap) <= set(unc)
    for pair, score in cap.items():
        assert score == unc[pair]


def test_tfidf_zero_norm_pairs_same_under_ansi(spark):
    """When every idf is 0 (every doc holds every term) the norms are 0:
    an ANSI session must return the rows the ANSI-off session does, not
    fail with DIVIDE_BY_ZERO."""
    from mbgspark.operators.textstats import tfidf_cosine_pairs

    d = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate([["alpha"], ["alpha"]])],
        "doc_id bigint, text string",
    )

    def pairs():
        out = tfidf_cosine_pairs(d, "doc_id", "text", k=3, min_cos_e6=1)
        return sorted(map(tuple, out.collect()))

    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        off = pairs()
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = pairs()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert on == off


@given(
    n=st.integers(1, 10_000_000),
    dim=st.sampled_from([4, 8, 16, 64, 256]),
)
@SETTINGS
def test_auto_multiprobe_invariant_any_corpus_shape(spark, n, dim):
    """For ANY corpus size and vector width, the derived multiprobe
    config satisfies tables*block_bits <= dim and block_bits >= 1 — the
    key-truncation impossibility invariant (review r5). Checked against
    a closed-form mirror of the rule (the Spark call only reads
    count+dim); the companion test below pins the mirror to the real
    operator on a sampled grid."""
    import math

    # mirror of auto_multiprobe_params' arithmetic (the Spark call is
    # count+dim only; the property is about the closed-form rule)
    bits = max(4, math.ceil(math.log2(max(n, 1) / 80)))
    bits = min(bits, dim)
    tables = max(1, min(8, dim // max(bits, 1)))
    assert 1 <= bits <= dim
    assert tables >= 1
    assert tables * bits <= dim


def test_auto_multiprobe_spark_matches_rule_mirror(spark):
    """The Spark-side derivation equals the closed-form mirror for a
    sampled (n, dim) grid — ties the property test above to the real
    operator."""
    import math

    from mbgspark.operators.dedup import auto_multiprobe_params

    # (200000, 4) exercises the dim clamp: raw bits would be 12, the
    # vector width forces 4 (review r5 third pass: the earlier grid
    # never reached the clamp)
    for n, dim in [(50, 8), (500, 64), (5000, 16), (20000, 64), (200000, 4)]:
        d = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(float(i)) for i in range(dim)]).alias("embedding"),
        )
        bits = min(max(4, math.ceil(math.log2(n / 80))), dim)
        tables = max(1, min(8, dim // bits))
        assert auto_multiprobe_params(d) == (bits, tables), (n, dim)

    # mixed-explicit paths keep the product invariant on the real operator
    d64 = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i)) for i in range(64)]).alias("embedding"),
    )
    for kwargs in ({"block_bits": 16}, {"tables": 8}, {"block_bits": 8, "tables": 8}):
        bits, tables = auto_multiprobe_params(d64, **kwargs)
        assert tables * bits <= 64, (kwargs, bits, tables)


@given(
    vecs=st.lists(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=-1e3,
                    max_value=1e3,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=4,
                max_size=4,
            ),
            st.lists(
                st.floats(
                    min_value=-1e3,
                    max_value=1e3,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=4,
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=8,
    )
)
@SETTINGS
def test_cosine_prenorm_bit_identical(spark, vecs):
    """The r7 norm-hoist contract: cosine_sim_prenorm with vec_norm columns
    is BIT-identical to cosine_sim on any float32 input — the hoist moves
    the norm folds out of the pair loop without reordering a single IEEE
    operation, so round(.., 4) knife-edges cannot flip between the two
    forms (the property every pair scorer now relies on). Compared as
    exact doubles, not rounded. Zero-norm vectors are excluded: both
    forms divide by the norm product identically (ANSI div-by-zero /
    NaN under ansi=false), so they add nothing to the hoist property."""
    import math

    from hypothesis import assume

    from mbgspark.operators.dedup import cosine_sim, cosine_sim_prenorm, vec_norm

    for a, b in vecs:
        assume(math.sqrt(sum(x * x for x in a)) > 1e-6)
        assume(math.sqrt(sum(x * x for x in b)) > 1e-6)
    df = spark.createDataFrame(
        vecs, "a array<float>, b array<float>"
    )
    out = df.select(
        cosine_sim(F.col("a"), F.col("b")).alias("direct"),
        cosine_sim_prenorm(
            F.col("a"),
            F.col("b"),
            vec_norm(F.col("a")),
            vec_norm(F.col("b")),
        ).alias("hoisted"),
    ).collect()
    for r in out:
        # exact equality on doubles (both NaN for zero vectors is fine:
        # NaN != NaN, so compare via repr which canonicalizes nan)
        assert repr(r["direct"]) == repr(r["hoisted"]), r


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), max_size=40
    )
)
@settings(deadline=None, max_examples=200)
def test_driver_union_find_matches_bruteforce(edges):
    """The pure-Python union-find behind connected_components' auto path
    labels every node with its component's MIN id — checked against a
    brute-force transitive closure on random small graphs (self-loops and
    duplicate edges included by construction of the strategy)."""
    from mbgspark.operators.components import _driver_union_find

    got = dict(_driver_union_find(edges))
    nodes = {x for e in edges for x in e}
    assert set(got) == nodes
    # brute force: grow each node's reachable set to a fixpoint
    adj = {n: {n} for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    comp = {n: {n} for n in nodes}
    changed = True
    while changed:
        changed = False
        for n in nodes:
            new = set().union(*(adj[m] for m in comp[n])) | comp[n]
            if new != comp[n]:
                comp[n] = new
                changed = True
    assert got == {n: min(comp[n]) for n in nodes}


@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(
                alphabet=string.ascii_letters + string.digits + " \t\n\r\x0b\x0c",
                max_size=60,
            ),
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_bigram_vectorized_property_equivalence(spark, bigram_on, texts):
    """bigram_surprise fold ≡ vectorized on ANY doc list within the
    documented ASCII envelope (random whitespace runs incl. every char of
    Java's default \\s class, nulls, empties) — the hypothesis upgrade of
    the fixed-fixture pin: the Python re.ASCII tokenizer twin and the
    absent-row semantics must agree for arbitrary token shapes."""
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    key = lambda r: r["doc_id"]  # noqa: E731
    fold = sorted(bigram_on(df, vectorized=False).collect(), key=key)
    vec = sorted(bigram_on(df, vectorized=True).collect(), key=key)
    assert fold == vec


@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet="ab \t", max_size=25),  # tiny alphabet: forces
        ),                                           # shared shingles/pairs
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_ngram_driver_property_equivalence(spark, ngram_on, texts):
    """ngram_jaccard_pairs driver ≡ distributed on ANY doc list in the
    ASCII envelope — random short docs over a 2-letter alphabet maximize
    candidate-pair collisions, the regime where a tokenization or
    rounding divergence would actually surface."""
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "id bigint, t string")
    assert ngram_on(df, distributed=False, k=2, threshold=0.3) == ngram_on(
        df, distributed=True, k=2, threshold=0.3
    )


@given(
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=15, max_size=15),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_minhash_numeric_min_is_string_min(spark, windows):
    """The r12 hash family's load-bearing identity: for FIXED-WIDTH
    lowercase hex, numeric min (a 60-bit bigint, the HashAggregate path)
    rendered back through lower(lpad(hex(...), 15, '0')) equals the
    lexicographic string min the DuckDB oracle computes. Property-pinned
    over arbitrary 15-hex windows including all-zero and max values; the
    numeric windows themselves come from two md5 parses, pinned by
    ``test_minhash_two_parse_windows_equal_direct_parse``."""
    from mbgspark.operators.dedup import _render_sig_hex

    df = spark.createDataFrame([(w,) for w in windows], "w string")
    got = (
        df.selectExpr("min(CAST(conv(w, 16, 10) AS BIGINT)) AS h0")
        .selectExpr(f"{_render_sig_hex('h0')} AS r")
        .first()["r"]
    )
    assert got == min(windows)


@given(
    st.lists(
        st.text(alphabet="0123456789abcdef", min_size=32, max_size=32),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
def test_minhash_two_parse_windows_equal_direct_parse(spark, hexes):
    """The signature kernel parses each 32-char md5 twice (chars 1–15 and
    15–29) and shifts the eight 15-char windows out of the two parses.
    Window i must equal the direct parse conv(substr(m, 2i+1, 15), 16, 10)
    for every i in 0..7 — over arbitrary hex, all-'0', all-'f', and
    variants that differ only at char 15, the nibble both parses share."""
    from mbgspark.operators.dedup import _hex_parses, _sig_window

    ms = hexes + ["0" * 32, "f" * 32]
    ms += [m[:14] + c + m[15:] for m in ms for c in "078f"]
    df = spark.createDataFrame([(m,) for m in ms], "m string")
    rows = (
        df.selectExpr("m", *_hex_parses("m"))
        .selectExpr(
            "m",
            f"array({', '.join(_sig_window(i) for i in range(8))}) AS two",
            "array("
            + ", ".join(
                f"CAST(conv(substr(m, {2 * i + 1}, 15), 16, 10) AS BIGINT)"
                for i in range(8)
            )
            + ") AS direct",
        )
        .collect()
    )
    assert len(rows) == len(ms)
    bad = [(r["m"], r["two"], r["direct"]) for r in rows if r["two"] != r["direct"]]
    assert not bad, bad[:3]
