"""Text-analysis operators for a training-data pipeline: language ID,
quality scoring, token counting, chunking, document fingerprinting,
n-gram surprise, BM25 and TF-IDF similarity.

Column expressions (whole-stage codegen), deterministic, and reproducible
in an ANSI-SQL oracle — no model weights and no table-generating
functions. Python runs in two places only: ``normalize_unicode``'s
pandas UDF (Spark has no Unicode normalizer) and the size-selected
vectorized side of ``bigram_surprise``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbgspark.io import _FANOUT_MIN_BYTES, ensure_width

# Tiny per-language marker-word lists (n-gram heuristic stand-in). On real
# corpora swap for charset n-gram profiles; the operator shape is identical.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "fr": ("le", "la", "et"),
    "de": ("der", "die", "und"),
}

BPE_ISH_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _tokens(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "pred_lang") -> DataFrame:
    """Language-ID heuristic: argmax of marker-word hit counts, 'unk' on zero.
    Deterministic tiebreak: alphabetically-first language wins strict ties."""
    toks = _tokens(F.col(text_col))
    hit_cols = []
    tmp = df.withColumn("__toks", toks)
    for lang, markers in sorted(LANG_MARKERS.items()):
        in_list = ", ".join(f"'{m}'" for m in markers)
        tmp = tmp.withColumn(
            f"__h_{lang}", F.expr(f"size(filter(__toks, t -> t IN ({in_list})))")
        )
        hit_cols.append(lang)
    expr = F.lit("unk")
    max_h = F.greatest(*[F.col(f"__h_{lang}") for lang in hit_cols])
    for lang in reversed(hit_cols):
        expr = F.when(
            (F.col(f"__h_{lang}") == max_h) & (max_h > 0), F.lit(lang)
        ).otherwise(expr)
    out_df = tmp.withColumn(out, expr)
    return out_df.drop("__toks", *[f"__h_{lang}" for lang in hit_cols])


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: char length, token count, mean token length,
    punctuation ratio, stopword ratio, and a composite [0,1] score.
    Mirrors the shape of C13/F3 length gating (resilient_scraper.py:399)."""
    t = F.trim(F.col(text_col))
    toks = F.split(F.lower(t), r"\s+")
    n_chars = F.length(t).cast("bigint")
    n_tokens = F.size(toks).cast("bigint")
    punct = (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("bigint")
    stop_hits = F.expr(
        "size(filter(split(lower(trim(" + text_col + ")), '\\\\s+'),"
        " t -> t IN ('the','a','of','and','to')))"
    ).cast("bigint")
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_token_len",
            F.round(F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0)), 4),
        )
        .withColumn(
            "punct_ratio",
            F.round(F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0)), 4),
        )
        .withColumn(
            "stopword_ratio",
            F.round(F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0)), 4),
        )
        .withColumn(
            "quality_score",
            F.round(
                F.least(
                    F.lit(1.0),
                    (F.least(n_tokens, F.lit(100)) / 100.0) * 0.5
                    + F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(0.0) * 0.5,
                ),
                4,
            ),
        )
    )


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters runs / digit runs / single symbols)."""
    t = F.lower(F.trim(F.col(text_col)))
    return df.withColumn(
        "ws_tokens", F.size(F.split(t, r"\s+")).cast("bigint")
    ).withColumn(
        "bpe_tokens", F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_RE), 0)).cast("bigint")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
    stride: int = 15,
) -> DataFrame:
    """Split documents into overlapping token windows (chunk_tokens wide,
    advancing by stride) — the context-window chunking step of a
    pretraining-data pipeline. Distributed shape: tokens are materialized
    ONCE per row (never inside a per-element lambda — see
    with_word_shingles), chunk offsets come from sequence()+explode, and
    the slice/join stay JVM-side; no shuffle at all until a consumer
    aggregates. Emits (id, chunk_idx, chunk_text, chunk_len)."""
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    ).withColumn("__n", F.size("__toks"))
    # number of chunks: 1 + ceil(max(0, n - chunk) / stride); last window may
    # be short but never empty
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(F.col("__n") - chunk_tokens, F.lit(0)) / stride)
    ).cast("int")
    return (
        toks.withColumn(
            "chunk_idx", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(
                    "__toks", F.col("chunk_idx") * stride + 1, chunk_tokens
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.col("__n") - F.col("chunk_idx") * stride
            ).cast("bigint").alias("chunk_len"),
        )
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (portable across engines), plus a sorted-unique-token "shape" fingerprint
    that survives word reordering (rolling-hash analog)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    shape = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(norm, " ")))))
    return df.withColumn("fingerprint", F.md5(norm)).withColumn("shape_fingerprint", shape)


def unigram_surprise(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-unigram-LM quality score — the deterministic analog of the
    LM-perplexity filter CCNet-style pipelines use (score docs by how
    surprising their tokens are under a language model; here the LM is the
    corpus's own unigram distribution, so no external model is needed and
    both engines compute identical values):

        surprise(token) = -ln(count(token) / total_tokens)
        score(doc)      = mean over the doc's token occurrences

    Low scores = highly stereotyped text (boilerplate, templates); high
    scores = rare-token-heavy text (gibberish, codes) — trim both tails.

    One explode feeds everything: the (id, token) TF aggregate, then the
    corpus token count as a window sum over the SAME token-partitioned
    shuffle of that (|doc-vocab|-sized) set — a separate frequency
    aggregate + equi-join back to the occurrence rows would recompute the
    whole explode per consumer (column pruning makes the subtrees differ,
    so Spark cannot ReusedExchange them; measured 3× slower cold at
    sf0.1). The corpus total rides a lazy 1-row aggregate off a narrow
    scan (size of the filtered token array per row — no second explode).
    The per-TOKEN surprise is quantized to integer micro-nats
    (floor(x·10⁶ + 0.5)) BEFORE the tf-weighted per-doc sum, so the
    output surface is exact-integer arithmetic — engine libm differences
    cannot reach the driver hash (same device as the kmeans oracle). The
    per-doc mean is half-up integer division of that sum.

    Emits (id, n_tokens, mean_surprise_micronats).

    Both corpus passes sit behind ``io.ensure_width`` with the byte floor
    (see bigram_surprise; pass-through at real scale).
    """
    from pyspark.sql import Window

    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    tf = toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__tf"))
    total = df.agg(
        F.sum(
            F.size(
                F.filter(
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                    lambda x: x != "",
                )
            )
        )
        .cast("bigint")
        .alias("__total")
    )
    w = Window.partitionBy("__tok")
    sup = (
        tf.withColumn("__c", F.sum("__tf").over(w))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "__sup",
            F.floor(
                -F.log(F.col("__c") / F.col("__total")) * 1000000 + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    return (
        sup.groupBy(id_col)
        .agg(
            F.sum("__tf").cast("bigint").alias("n_tokens"),
            F.sum(F.col("__tf") * F.col("__sup")).alias("__sum_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("(2 * __sum_micro + n_tokens) div (2 * n_tokens)")
            .cast("bigint")
            .alias("mean_surprise_micronats"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k characteristic terms by TF-IDF — the classic
    keyword-extraction / topic-drift surface over a corpus.

    score(doc, token) = tf(doc, token) · floor(ln(N / df(token))·10⁶ + 0.5)

    The IDF is quantized to integer micro-nats per TOKEN (same device as
    ``unigram_surprise``), so scores are exact BIGINT products and the
    ranking is engine-portable. Ties break token-ascending.

    Shape: one explode + (id, token) hash aggregate for TF, then DF as a
    window count over the SAME token-partitioned shuffle of that
    (|doc-vocab|-sized) set — a separate DF aggregate + equi-join would
    recompute the whole TF lineage per consumer (column pruning makes the
    subtrees differ, so Spark cannot ReusedExchange them; measured ~45%
    slower at sf0.1). N is a lazy 1-row aggregate off a narrow scan of
    the source (a doc has ≥1 token iff its trimmed text is non-empty) —
    no third derivation of the explode, no eager driver count. The
    per-doc top-k is array_sort + slice over each doc's own
    (score, token) list — row-local, no corpus-wide window, no global
    sort. Emits (id, rank, term, score_micro) rows, rank 1-based.

    Input rides ``io.ensure_width`` with the byte floor (see
    bigram_surprise; pass-through at real scale)."""
    from pyspark.sql import Window

    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    tf = toks.groupBy(id_col, "__tok").agg(F.count("*").alias("__tf"))
    n_docs = df.filter(F.trim(F.lower(F.col(text_col))) != "").agg(
        F.count("*").alias("__n")
    )
    w = Window.partitionBy("__tok")
    scored = (
        tf.withColumn("__df", F.count("*").over(w))
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "__tok",
            (
                F.col("__tf")
                * F.floor(
                    F.log(F.col("__n").cast("double") / F.col("__df")) * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("__score"),
        )
    )
    packed = scored.groupBy(id_col).agg(
        F.slice(
            F.array_sort(
                F.collect_list(F.struct((-F.col("__score")).alias("n"), F.col("__tok").alias("t")))
            ),
            1,
            k,
        ).alias("__top")
    )
    return packed.select(
        id_col, F.posexplode("__top").alias("__pos", "__e")
    ).select(
        id_col,
        (F.col("__pos") + 1).cast("bigint").alias("rank"),
        F.col("__e.t").alias("term"),
        (-F.col("__e.n")).cast("bigint").alias("score_micro"),
    )


# ------------------------------------------- composite quality filter ----


def gopher_quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int = 100000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 12.0,
    min_stop_hits: int = 1,
    min_alpha_word_e4: int = 6000,
) -> DataFrame:
    """Composite document-quality gate in the style of Gopher's quality
    rules (Rae et al. 2021, table A1 — public): token-count bounds, mean
    word length bounds, a minimum stopword requirement, and a minimum
    fraction of words containing an alphabetic character. Emits
    ``keep`` (bigint 0/1) and ``drop_reasons`` — the ';'-joined sorted rule
    names that fired (empty string = clean) — so a curation run can both
    filter AND account for WHY documents fell out, per domain.

    Entirely row-local narrow projections: zero shuffles, zero UDFs — every
    rule is a codegen'd column expression, so this runs at scan speed over
    100 TB. The token array is materialized ONCE in its own projection and
    every rule reads the column: inlining the regex split into each rule
    re-tokenizes the document per rule (measured 9.4 s vs 3-ish s at the
    N=20 stress corpus — the same trap documented at with_word_shingles).
    Ratios use exact e4 fixed-point so the oracle can't fp-drift. Alpha
    detection uses translate-against-[a-z] length comparison — equivalent
    to `token contains [a-z]` but without a per-token regex engine call.

    The one exception to "zero shuffles" is ``io.ensure_width`` at the
    input: row-group-bounded scan parallelism serializes the tokenize on
    single-row-group corpus files (sf1 measured: whole query one task);
    the guard is a pass-through on any real multi-row-group corpus.
    """
    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    t = F.trim(F.col(text_col))
    pre = df.select(
        F.col(id_col),
        F.length(t).cast("bigint").alias("__nc"),
        F.split(F.lower(t), r"\s+").alias("__tk"),
    )
    toks = F.col("__tk")
    n_tokens = F.size(toks).cast("bigint")
    n_chars = F.col("__nc")
    # mean word length bounds, compared in exact integer cross-multiplied
    # form: n_chars/n_tokens < lo  <=>  n_chars*10 < lo*10*n_tokens
    mean_lo = (n_chars * 10 < int(min_mean_word_len * 10) * n_tokens)
    mean_hi = (n_chars * 10 > int(max_mean_word_len * 10) * n_tokens)
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "to"))
    ).cast("bigint")
    alpha_words = F.size(
        F.filter(
            toks,
            lambda x: F.length(F.translate(x, "abcdefghijklmnopqrstuvwxyz", ""))
            < F.length(x),
        )
    ).cast("bigint")
    rules = [
        ("too_few_tokens", n_tokens < min_tokens),
        ("too_many_tokens", n_tokens > max_tokens),
        ("mean_word_len_low", mean_lo),
        ("mean_word_len_high", mean_hi),
        ("too_few_stopwords", stop_hits < min_stop_hits),
        (
            "low_alpha_ratio",
            # alpha_words/n_tokens < min_alpha_word_e4/10000, exact
            alpha_words * 10000 < F.lit(min_alpha_word_e4) * n_tokens,
        ),
    ]
    reason_arr = F.array_sort(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in rules]),
            lambda x: x.isNotNull(),
        )
    )
    # No global sort: the output is corpus-sized, and a global orderBy's
    # range sampler re-executes this scan-fed projection to pick bounds —
    # measured at sf1 it exactly DOUBLED the query (4.1 s vs 1.9 s).
    # Callers needing order sort the (narrow) result themselves.
    return pre.select(
        F.col(id_col),
        F.concat_ws(";", reason_arr).alias("drop_reasons"),
        (F.size(reason_arr) == 0).cast("bigint").alias("keep"),
    )


#: Bigram-model rows fetched to the driver by ``bigram_surprise``'s
#: vectorized path — the cap-guarded probe-fetch bound (same idiom as
#: the dedup/components driver strategies): collect ``limit(cap+1)`` in
#: ONE action, fall back to the fold join on overflow. 2M (w1, w2, int)
#: rows is a few hundred MB of driver dict, comfortably under the bound
#: that legalizes the other families' broadcasts.
#: Measured (tools/drivercap_audit.py, r9): a cap-sized model (2M rows
#: collected + dict + pickled broadcast) peaks at 1.48 GB python /
#: 3.7 GB JVM RSS — the heaviest of the four driver strategies — and
#: paired concurrently with a cap-sized union-find in one session the
#: driver peaks at 1.6 GB python / 6.0 GB JVM: two cap-sized queries
#: coexist with headroom, no cap reduction owed.
LM_MODEL_DRIVER_CAP = 2_000_000

#: Corpus leaf bytes (COMPRESSED file bytes — the parquet footer stats
#: ``io.ensure_width``'s byte floor reads) above which the vectorized
#: scoring pass pays
#: for its Python stage: measured wash at sf0.1 (0.6 MB documents file),
#: 2.3× win at sf1 (6 MB), slight loss at sf0.01 — the crossover sits
#: between the first two (SCALE.md r8 A/B table).
LM_VECTORIZED_MIN_BYTES = 2 << 20


def bigram_surprise(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-bigram-LM quality score. NOTE: when the vectorized path is
    picked (see below) the model-build job runs EAGERLY at plan-build
    time — one collect per invocation, O(model-build), not the usual lazy
    builder contract.

    The conditional-probability upgrade
    of ``unigram_surprise`` and the closest deterministic analog of the
    KenLM-perplexity filter CCNet-style pipelines run (`score docs by how
    surprising each token is GIVEN its predecessor`); the LM is the
    corpus's own add-one-smoothed bigram distribution, so both engines
    compute identical values with no external model:

        P(w2|w1)       = (C(w1,w2) + 1) / (C(w1 as context) + V)
        surprise(pair) = -ln P(w2|w1)        [integer micro-nats]
        score(doc)     = mean over the doc's bigram occurrences

    Unigram surprise flags rare WORDS; bigram surprise flags improbable
    TRANSITIONS — shuffled/spliced text scores high here even when every
    individual word is common, which is exactly the failure mode n-gram-LM
    quality filters exist to catch.

    Plan: the per-row token array feeds a row-local zip_with over its
    two adjacent slices to pair consecutive tokens (greatest(n-1,0)
    keeps <2-token docs at an empty pair array — a sequence(1, n-1)
    formulation would count DOWN through [1,0] on 1-token docs). The
    corpus bigram model lives on a |corpus-bigram-vocab|-sized frame:
    one explode → groupBy(w1,w2) whose map-side partial collapses the
    occurrence stream inside the scan, then the w1-as-context count is
    a window over that SAME tiny frame (not over occurrences). Scoring
    is a second explode pass joined against the model frame — AQE
    broadcasts it when the vocabulary is small and falls back to a
    shuffle join (with AQE skew mitigation, which windows never get)
    when it is not — followed by a partial-aggregated per-doc rollup,
    so NOTHING shuffles at occurrence scale in the common case. An
    earlier formulation windowed corpus counts over the per-doc
    (id,w1,w2) TF frame to stay single-pass; measured at sf1 that
    shuffled 2.6 M rows to derive 9.3 k corpus stats (SCALE.md r7) —
    the second narrow explode pass is cheaper than the occurrence-scale
    shuffle at every SF measured, and the gap widens with corpus size.
    V (distinct token types) rides a 1-row broadcast off a narrow
    second scan. The per-PAIR surprise is quantized to integer
    micro-nats (floor(x*1e6 + 0.5)) BEFORE the per-doc occurrence sum;
    the mean is half-up integer division — the whole output surface is
    exact-integer, so engine libm drift cannot reach the driver hash.

    Emits (id, n_bigrams, mean_bigram_surprise_micronats); docs with
    fewer than two tokens have no bigrams and are absent by definition.

    All three corpus passes sit behind ``io.ensure_width`` with the byte
    floor: scan parallelism is bounded by row groups, and a single-row-
    group corpus file would serialize every tokenize/explode pass on one
    core (sf1 measured: the whole 5.2 s runtime was single-task). At real
    scale the guard is a pass-through.

    Two physical paths, same rows. The fold is the all-JVM plan above.
    The vectorized path keeps the model build (explode → groupBy →
    window) but replaces the SECOND occurrence explode + model join +
    per-doc rollup with a cap-guarded driver fetch of the |bigram-vocab|
    model (``limit(LM_MODEL_DRIVER_CAP+1)`` — ONE action) broadcast into a
    single ``mapInPandas`` scoring pass: each task tokenizes its docs
    (``re.ASCII \\s+`` + trim-space-only + lower — the pinned Python twin
    of the JVM tokenizer, see ``dedup._ngram_jaccard_driver``) and sums
    micro-nat surprises from the dict, so nothing shuffles at occurrence
    scale in the scoring half. The per-pair surprises are read FROM the
    JVM-computed model frame, so no libm divergence is introduced; a
    tokenization divergence would KeyError loudly rather than mis-score.
    Same-process A/B at sf1: fold 3.8–4.9 s, vectorized 1.7–2.4 s
    (SCALE.md r8). The vectorized path runs when the corpus leaf bytes
    clear ``LM_VECTORIZED_MIN_BYTES`` (the measured crossover; the probe
    is the same footer-stats read ``ensure_width``'s floor uses, no job)
    and the model fits the cap; model overflow falls back to the fold
    join, which is the 100 TB path (open-vocabulary corpora blow the
    driver cap — the cap IS the legality bound, exactly like the
    broadcast families).
    """
    from pyspark.sql import Window

    from mbgspark import jvmseam

    leaf = jvmseam.leaf_size_bytes(df.select(id_col, text_col))
    vectorized = leaf is not None and leaf >= LM_VECTORIZED_MIN_BYTES

    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    toks = F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    pairs = F.expr(
        "zip_with(slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
        "slice(__toks, 2, greatest(size(__toks) - 1, 0)), "
        "(x, y) -> struct(x AS w1, y AS w2))"
    )
    occ = (
        df.select(F.col(id_col), toks.alias("__toks"))
        .select(F.col(id_col), F.explode(pairs).alias("__bg"))
        .select(F.col(id_col), F.col("__bg.w1"), F.col("__bg.w2"))
    )
    vocab = df.select(
        F.explode(F.filter(_tokens(F.col(text_col)), lambda x: x != "")).alias("__t")
    ).agg(F.countDistinct("__t").cast("bigint").alias("__V"))
    bg = occ.groupBy("w1", "w2").agg(F.count("*").alias("__bc"))
    sup = (
        bg.withColumn("__ctx", F.sum("__bc").over(Window.partitionBy("w1")))
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__sup",
            F.floor(
                -F.log((F.col("__bc") + 1) / (F.col("__ctx") + F.col("__V")))
                * 1000000
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .select("w1", "w2", "__sup")
    )
    if vectorized:
        fetched = sup.limit(LM_MODEL_DRIVER_CAP + 1).collect()
        if len(fetched) <= LM_MODEL_DRIVER_CAP:
            return _bigram_score_vectorized(df, id_col, text_col, fetched)
        # model overflow: fall through to the fold join (the scale path)
    return (
        occ.join(sup, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("__sup").alias("__sum_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr("(2 * __sum_micro + n_bigrams) div (2 * n_bigrams)")
            .cast("bigint")
            .alias("mean_bigram_surprise_micronats"),
        )
    )


def _bigram_score_vectorized(
    df: DataFrame, id_col: str, text_col: str, model_rows
) -> DataFrame:
    """The scoring half of ``bigram_surprise``'s vectorized path:
    broadcast the driver-fetched (w1, w2, sup_micronats) model and score
    every doc in one ``mapInPandas`` pass. ``df`` is the already
    width-ensured (id, text) projection; output schema and absent-row
    semantics (docs with <2 tokens emit nothing) match the fold exactly —
    pinned by ``test_bigram_vectorized_matches_fold``.

    Null ids get the fold's null-GROUP semantics, not per-row scoring:
    the fold's ``groupBy(id)`` collapses every null-id doc into ONE
    output row, and Arrow would anyway hand a nullable bigint id column
    to pandas as float64-with-NaN (corrupting the bigint output schema).
    So null-id rows are split off JVM-side, scored by the same pandas
    pass emitting per-batch partial sums, and folded into a single
    null-id row with one tiny aggregate; the non-null hot path stays
    shuffle-free. Pinned by ``test_bigram_vectorized_null_id_group``."""
    import re

    model = {(r[0], r[1]): r[2] for r in model_rows}
    bcast = df.sparkSession.sparkContext.broadcast(model)
    ws = re.compile(r"\s+", re.ASCII)
    id_type = df.schema[id_col].dataType.simpleString()
    # Integer mean identical to the fold's JVM expression: both branches
    # below and the fold compute (2*sum + n) div (2*n) in bigint.
    mean_expr = (
        F.expr("(2 * __sum_micro + n_bigrams) div (2 * n_bigrams)")
        .cast("bigint")
        .alias("mean_bigram_surprise_micronats")
    )

    def _doc_sums(m, t):
        toks = (
            [w for w in ws.split(t.strip(" ").lower()) if w]
            if t is not None
            else []
        )
        n = len(toks) - 1
        if n < 1:
            return None
        s = 0
        for j in range(n):
            # KeyError here = tokenizer divergence from the JVM
            # model build — fail loudly, never mis-score
            s += m[(toks[j], toks[j + 1])]
        return n, s

    def _sums(it):
        import pandas as pd

        m = bcast.value
        for pdf in it:
            ids, nbgs, sums = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                ns = _doc_sums(m, t)
                if ns is None:
                    continue
                ids.append(i)
                nbgs.append(ns[0])
                sums.append(ns[1])
            yield pd.DataFrame(
                {id_col: ids, "n_bigrams": nbgs, "__sum_micro": sums}
            )

    def _sums_no_id(it):
        import pandas as pd

        m = bcast.value
        for pdf in it:
            nbgs, sums = [], []
            for t in pdf[text_col]:
                ns = _doc_sums(m, t)
                if ns is None:
                    continue
                nbgs.append(ns[0])
                sums.append(ns[1])
            yield pd.DataFrame({"n_bigrams": nbgs, "__sum_micro": sums})

    sums_schema = f"{id_col} {id_type}, n_bigrams bigint, __sum_micro bigint"
    scored = (
        df.filter(F.col(id_col).isNotNull())
        .mapInPandas(_sums, schema=sums_schema)
        .select(F.col(id_col), F.col("n_bigrams"), mean_expr)
    )
    # Null-id branch: partial sums per batch (id column dropped BEFORE
    # the pandas pass — Arrow would hand an all-null bigint column to
    # pandas as float64 NaN), one global fold into the single null-group
    # row the fold would emit. The isNull filter pushes to the
    # scan (parquet null_count stats skip clean row groups), so a corpus
    # with no null ids pays ~nothing for this.
    null_group = (
        df.filter(F.col(id_col).isNull())
        .select(text_col)
        .mapInPandas(_sums_no_id, schema="n_bigrams bigint, __sum_micro bigint")
        .agg(
            F.sum("n_bigrams").alias("n_bigrams"),
            F.sum("__sum_micro").alias("__sum_micro"),
        )
        .where(F.col("n_bigrams").isNotNull())
        .select(
            F.lit(None).cast(id_type).alias(id_col),
            F.col("n_bigrams"),
            mean_expr,
        )
    )
    return scored.unionByName(null_group)


def normalize_unicode(
    df: DataFrame, text_col: str = "text", out: str = "nfc_text", form: str = "NFC"
) -> DataFrame:
    """Unicode normalization (NFC by default) — the canonicalization step
    multilingual corpora need before dedup/fingerprinting: 'café' typed
    as e+combining-acute and as precomposed U+00E9 are different byte
    strings (different md5, different shingles) but the SAME text; NFC
    folds them together. Spark has no built-in normalizer, so this is a
    deliberate Arrow pandas-UDF hop (Python's unicodedata implements the
    same Unicode standard as DuckDB's utf8proc `nfc_normalize`, so the
    surface stays oracle-checkable) — row-local, zero shuffles, and the
    ONLY Python in the chain; everything downstream (md5, split) stays
    JVM-side. Batch cost is one Arrow round trip; at 100 TB this is a
    narrow map riding the ingest scan."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(returnType="string")
    def _norm(s):  # annotations omitted: PEP-563 stringified hints break
        # pandas_udf's signature inspection under future-annotations
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return df.withColumn(out, _norm(F.col(text_col)))


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the inverted-index sparse
    scoring path that sits between exact keyword filters (F4) and dense
    ANN: rank documents for a bag-of-terms query by

        score(D,Q) = sum_t IDF(t) * tf * (k1+1) / (tf + k1*(1-b+b*|D|/avgdl))
        IDF(t)     = ln((N - df + 0.5) / (df + 0.5) + 1)    [BM25+-style floor]

    Distributed shape = the inverted index read path: ONE explode feeds
    the (doc, term) TF aggregate; the aggregate is immediately filtered
    to the (broadcast) query terms, so everything after the TF shuffle is
    |query|-bounded; df comes from a hash aggregate of that filtered set,
    N / avgdl ride a 1-row broadcast off a narrow second scan. Top-k is
    TakeOrderedAndProject — no global sort. At 100 TB the TF aggregate is
    the persisted inverted index (parquet partitioned by term bucket);
    this operator IS the query-time plan over it.

    Per-(doc,term) scores are quantized to integer micro-units before the
    per-doc sum (the repo-standard device), so ranking and the output
    surface are hash-stable across engines. Emits the top-k
    (id, n_query_terms_hit, score_micro), ties broken by id.

    Input rides ``io.ensure_width`` with the byte floor (see
    bigram_surprise; pass-through at real scale)."""
    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    terms = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col),
        F.explode(F.filter(_tokens(F.col(text_col)), lambda x: x != "")).alias(
            "__tok"
        ),
    )
    tf = (
        toks.groupBy(id_col, "__tok")
        .agg(F.count("*").alias("__tf"))
        .filter(F.col("__tok").isin(terms))
    )
    dl = df.select(
        F.col(id_col),
        F.size(F.filter(_tokens(F.col(text_col)), lambda x: x != "")).alias("__dl"),
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__N"), F.avg("__dl").alias("__avgdl")
    )
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                (F.col("__N") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0
            ),
        )
        .withColumn(
            "__s",
            F.floor(
                F.col("__idf")
                * F.col("__tf")
                * (k1 + 1.0)
                / (
                    F.col("__tf")
                    + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
                )
                * 1000000
                + F.lit(0.5)
            ).cast("bigint"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_query_terms_hit"),
            F.sum("__s").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc(id_col))
        .limit(k)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_cos_e6: int = 100000,
    max_block_df: int | None = 100,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity between documents — the
    sparse-vector member of the near-dup family (Jaccard sees token SETS,
    embeddings see dense vectors; this sees WEIGHTED term overlap, so two
    docs sharing only their most characteristic terms score high even
    when their full token sets barely overlap).

    Scale shape = top-term blocking on the inverted index: each doc is
    pruned to its top-k TF-IDF terms (``tfidf_top_terms`` — row-local
    after one TF shuffle); candidate pairs come from an equi-self-join
    on those terms, then the dot aggregates per pair — never all-pairs.

    The blocking key carries a STOP-TERM CUTOFF (VERDICT r4 item 3): a
    term held as a top term by more than ``max_block_df`` documents is
    excluded from CANDIDATE GENERATION (not from scoring), so block
    sizes — and with them candidate volume, ≤ vocab·max_block_df²/2 —
    are bounded by construction instead of by vocabulary luck. Without
    it, a cohort sharing a tiny vocabulary degenerates toward all-pairs
    (measured r4: 5,030 docs over ~60 words → 4.5M pairs / 54 s).
    Surviving pairs keep their EXACT uncapped cosine: the dot re-joins
    the full top-k term lists, so only pairs sharing NO sub-cutoff term
    are lost — precisely the pairs whose every shared term is a
    cohort-wide stopword, the least characteristic matches. When every
    block is under the cutoff the output is identical to the uncapped
    join. ``max_block_df=None`` opts into the unbounded single-join
    (the r4 behavior). Norms are per-doc row-local sums. All
    integer-micro weights: products are exact in double, the cosine is
    quantized to e6 before the driver hash.

    Emits (id_a, id_b, n_shared_terms, cos_e6 >= min_cos_e6)."""
    from pyspark.sql import Window

    t = tfidf_top_terms(df, id_col, text_col, k)
    # accumulate norms/dots in DOUBLE, mirroring the oracle exactly: a
    # corpus-unique term repeated ~220+ times at web-scale N pushes
    # score_micro^2 past 2^63, where a bigint sum would wrap silently
    # (ANSI off) while the oracle's double does not — same values, same
    # rounding, no overflow cliff
    w_d = F.col("score_micro").cast("double")
    norms = t.groupBy(id_col).agg(
        F.sqrt(F.sum(w_d * F.col("score_micro"))).alias("__norm")
    )
    a = t.select(
        F.col(id_col).alias("id_a"),
        "term",
        F.col("score_micro").cast("double").alias("__wa"),
    )
    b = t.select(
        F.col(id_col).alias("id_b"), "term", F.col("score_micro").alias("__wb")
    )
    if max_block_df is None:
        dots = (
            a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
                F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"),
            )
        )
    else:
        # block df = how many docs hold the term in their top-k — the
        # block size itself, counted over the SAME term-partitioned
        # shuffle (window, not a second aggregate lineage)
        rare = (
            t.withColumn(
                "__bdf", F.count(F.lit(1)).over(Window.partitionBy("term"))
            )
            .filter(F.col("__bdf") <= max_block_df)
            .select(id_col, "term")
        )
        cand = (
            rare.select(F.col(id_col).alias("id_a"), "term")
            .join(rare.select(F.col(id_col).alias("id_b"), "term"), "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # full dot for surviving candidates: re-join the complete top-k
        # lists so the cutoff changes WHICH pairs form, never their score
        dots = (
            cand.join(a, "id_a")
            .join(b.withColumnRenamed("__wb", "__wb_"), ["id_b", "term"])
            .groupBy("id_a", "id_b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
                F.sum(F.col("__wa") * F.col("__wb_")).alias("__dot"),
            )
        )
    na = norms.select(F.col(id_col).alias("id_a"), F.col("__norm").alias("__na"))
    nb = norms.select(F.col(id_col).alias("id_b"), F.col("__norm").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared_terms",
            # try_divide: when every idf is 0 the norms are 0, and the
            # cosine is NULL (the pair drops) under ANSI as well
            F.floor(
                F.try_divide(F.col("__dot"), F.col("__na") * F.col("__nb"))
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        .filter(F.col("cos_e6") >= min_cos_e6)
        .orderBy("id_a", "id_b")
    )


def augment_word_dropout(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_e4: int = 1500,
    seed: str = "aug",
    out: str = "augmented_text",
) -> DataFrame:
    """Deterministic word-dropout augmentation — the training-data
    augmentation family (drop ~rate of tokens to make near-copies for
    contrastive/denoising objectives), derandomized the repo way: token
    position i of doc d drops iff the first 4 md5 hex chars of
    'seed|d|i' sort below the e4 rate's hex cutoff (the
    stratified-sample device applied per-token). Same (seed, doc) →
    same augmentation on any engine/partitioning, different seeds →
    independent drop masks (epoch-varied augmentation = vary the seed).
    Row-local: tokens materialize once, the mask is a filter() lambda
    over (token, position) pairs — zero shuffles. Emits the original
    row plus (augmented_text, n_dropped)."""
    cutoff = f"{min(65535, rate_e4 * 65536 // 10000):04x}"
    toks = F.filter(_tokens(F.col(text_col)), lambda x: x != "")
    pairs = F.expr(
        "transform(__toks, (t, i) -> struct(t AS t, "
        f"substring(md5(concat('{seed}', '|', cast({id_col} as string), '|', "
        "cast(i as string))), 1, 4) AS h))"
    )
    kept = F.filter(F.col("__pairs"), lambda p: p["h"] >= F.lit(cutoff))
    return (
        df.withColumn("__toks", toks)
        .withColumn("__pairs", pairs)
        .withColumn(out, F.array_join(F.transform(kept, lambda p: p["t"]), " "))
        .withColumn(
            "n_dropped",
            (F.size("__toks") - F.size(kept)).cast("bigint"),
        )
        .drop("__toks", "__pairs")
    )

