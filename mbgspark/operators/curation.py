"""Corpus-curation operators for a large-scale training-data pipeline:
benchmark-contamination detection, Gopher-style repetition filters, PII
detection/redaction, deterministic stratified sampling, sequence packing,
corpus n-gram statistics, and domain-mixture accounting.

These extend the reference's curation surface (its quality gate is the
min-length filter, src/resilient_scraper.py:399) to what a pretraining
pipeline actually runs before tokenization. Every operator is a pure
column-expression / equi-join composition — no Python in the hot path —
and is reproducible in an ANSI-SQL oracle (md5-only hashing,
integer-scaled fractions so no float ever reaches a hashed surface).

Scale notes (100 TB):
- contamination is an n-gram equi-join against the benchmark gram set —
  never all-pairs; the benchmark side (eval suites: thousands of docs) is
  broadcast, so the corpus side stays a narrow map + one hash aggregate.
- repetition stats are fully row-local (token/bigram signals are per-doc
  array expressions — zero shuffles, r14); everything else is narrow
  until the final agg.
- stratified sampling is a stateless hash filter — zero shuffles, any
  executor can evaluate it, and re-runs are reproducible (md5, not rand()).
- sequence packing is windowed per shard: shards are independent, so the
  cumulative sum parallelizes and no global sort exists anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mbgspark.io import _FANOUT_MIN_BYTES, ensure_width
from mbgspark.operators.dedup import with_word_shingles

# ------------------------------------------------------- contamination ----

# fold-vs-vectorized crossover for broadcast-bench pair scoring — shared
# definition lives next to the other pair-scoring machinery (see
# dedup.VECTORIZED_PAIR_CROSSOVER for the measured basis)
from mbgspark.operators.dedup import (  # noqa: E402
    VECTORIZED_PAIR_CROSSOVER as _VECTORIZED_PAIR_CROSSOVER,
)


def contamination_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Flag corpus documents whose word n-grams overlap a benchmark set —
    the decontamination step run before pretraining so eval data never
    leaks into the training corpus.

    Shape: distinct benchmark n-grams (small: eval suites are thousands of
    docs) broadcast to an equi-join against the corpus's exploded n-grams,
    then one count per doc. The corpus is never self-joined and the
    benchmark never leaves the broadcast — at 100 TB the corpus side is a
    narrow map + single hash aggregate. For a benchmark too large to
    broadcast, drop the hint and the same plan becomes a shuffle equi-join.

    Emits every corpus row + ``contaminated_ngrams`` (distinct overlapping
    n-grams) and ``is_contaminated`` (>= min_hits).
    """
    bench_grams = (
        with_word_shingles(benchmark, id_col, text_col, k=n)
        .select("shingle")
        .distinct()
    )
    doc_grams = with_word_shingles(corpus, id_col, text_col, k=n)
    # count(*), not countDistinct (r14): (id, shingle) rows are distinct
    # by construction — with_word_shingles array_distincts per doc before
    # the explode, and the broadcast side is itself distinct so the join
    # cannot multiply rows. countDistinct planned a redundant extra
    # keyed-by-(id, shingle) aggregation layer over the hit set just to
    # re-prove that uniqueness (same structural argument as
    # duplicated_spans' count(*) == distinct-doc frequency).
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_ngrams"))
    )
    return (
        corpus.join(hits, id_col, "left")
        .withColumn(
            "contaminated_ngrams",
            F.coalesce(F.col("contaminated_ngrams"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "is_contaminated", F.col("contaminated_ngrams") >= F.lit(min_hits)
        )
    )


# ---------------------------------------------------- repetition filters ----


def with_repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - ``dup_token_frac_e4``: 1 - distinct_tokens/tokens, in exact ten-
      thousandths (a document that keeps repeating the same words scores
      high);
    - ``top_bigram_cnt`` and ``top_bigram_frac_e4``: occurrences of the
      most frequent word bigram and its share of all bigram slots (catches
      boilerplate / TV-static repetition that token-level stats miss).

    Fractions are emitted as integer ten-thousandths (floor(x*1e4 + 0.5),
    identical half-up in Spark and DuckDB) so no raw double reaches a
    hashed oracle surface.

    Shape (r14): ENTIRELY row-local — every signal, including the
    top-bigram count, is a per-document expression over the token array,
    so the operator does ZERO shuffles (the previous shape exploded
    bigram occurrences into a (doc, bigram) aggregate + a per-doc max +
    an equi-join back — 291k shuffled records at sf0.1 to compute what
    each row already knew; interleaved A/B: 0.90 → 0.43 s at sf0.1,
    2.38 → 1.46 s at sf1, values asserted equal). The top-bigram count
    is the longest run in the SORTED bigram array — one interpreted
    ``aggregate`` pass over ~tokens elements per row, cheaper than
    shipping every occurrence through an exchange at every SF measured.

    PLAN TRAP (the bigram_surprise lesson, still load-bearing):
    ``__toks`` must never be referenced INSIDE a lambda — CollapseProject
    inlines the regex split into interpreted lambda bodies (no CSE
    there), re-splitting the text per element, O(tokens²). The bigram
    array is therefore built with ``zip_with`` over two ``slice``s of
    ``__toks`` — slices are lambda ARGUMENTS, evaluated once — and the
    run-length ``aggregate`` references only its own lambda variables.

    Input rides ``io.ensure_width`` with the byte floor (see
    textstats.bigram_surprise; pass-through at real scale).
    """
    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("__toks"),
    )
    n1 = "greatest(size(__toks) - 1, 0)"
    bg = (
        f"zip_with(slice(__toks, 1, {n1}), slice(__toks, 2, {n1}),"
        " (x, y) -> concat(x, ' ', y))"
    )
    top_run = (
        f"aggregate(array_sort({bg}),"
        " named_struct('prev', cast(null as string), 'run', 0L, 'best', 0L),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', if(x <=> a.prev, a.run + 1L, 1L),"
        "   'best', greatest(a.best, if(x <=> a.prev, a.run + 1L, 1L))),"
        " a -> a.best)"
    )
    stats = toks.select(
        id_col,
        F.size("__toks").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).cast("bigint").alias("n_distinct"),
        # coalesce: NULL text → NULL token array → NULL aggregate, but the
        # pre-r14 join shape (and the DuckDB oracle's left-join coalesce)
        # emit 0 there — keep that surface (ADVICE r14)
        F.coalesce(F.expr(top_run), F.lit(0).cast("bigint"))
        .cast("bigint")
        .alias("top_bigram_cnt"),
    )
    e4 = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("bigint")  # noqa: E731
    return stats.select(
        id_col,
        "n_tokens",
        e4(
            F.when(
                F.col("n_tokens") > 0,
                1 - F.col("n_distinct") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0))
        ).alias("dup_token_frac_e4"),
        "top_bigram_cnt",
        e4(
            F.when(
                F.col("n_tokens") > 1,
                F.col("top_bigram_cnt") / (F.col("n_tokens") - 1),
            ).otherwise(F.lit(0.0))
        ).alias("top_bigram_frac_e4"),
    )


# ------------------------------------------------------------------- PII ----

# Portable between Java regex (Spark) and RE2 (DuckDB): no lookaround, no
# backreferences.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
URL_RE = r"https?://\S+"
PHONE_RE = r"\+?\d[\d -]{7,}\d"


def with_pii_redaction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detect and mask PII-shaped spans: emails, URLs, phone-number runs.

    Counts are taken on the original text; redaction replaces in the order
    email -> URL -> phone so a digit run inside an already-masked URL can't
    be re-matched as a phone number. Pure regexp column expressions —
    whole-stage codegen, zero shuffles, linear scan at any scale.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return (
        df.withColumn(
            "n_emails", F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).cast("bigint")
        )
        .withColumn(
            "n_urls", F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0)).cast("bigint")
        )
        .withColumn(
            "n_phones", F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).cast("bigint")
        )
        .withColumn("redacted_text", redacted)
    )


# ------------------------------------------------------- URL / domain ----


def with_url_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document URL accounting for web-scraped corpora: URL count,
    distinct-domain count, and the sorted distinct domain list as one
    comma-joined string (a deterministic, hash-stable surface — array
    columns stay out of the compare path). The inputs to a domain-level
    blocklist filter or the per-domain aggregation `domain_mixture` runs.

    Pure regexp column expressions (same `URL_RE` the PII scan uses) —
    whole-stage codegen, zero shuffles, linear scan at any scale.
    """
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
    domains = F.array_distinct(
        F.transform(
            urls,
            lambda u: F.lower(F.regexp_extract(u, r"https?://([^/?#\s]+)", 1)),
        )
    )
    return (
        df.withColumn("n_urls", F.size(urls).cast("bigint"))
        .withColumn("n_domains", F.size(domains).cast("bigint"))
        .withColumn("domain_list", F.concat_ws(",", F.array_sort(domains)))
    )


# -------------------------------------------- line-level boilerplate ----


def with_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 3,
) -> DataFrame:
    """C4-style line-level boilerplate cleanup (Raffel et al. 2020 §2.2,
    the public rule set): keep a line only if it (a) carries at least
    ``min_words`` whitespace words and (b) ends in terminal punctuation
    (. ! ? or a closing quote) — the filter that strips nav menus, cookie
    banners and list fragments from web-scraped text. Emits the cleaned
    text (kept lines re-joined) plus line accounting columns.

    One ``split`` + ``filter`` lambda over the line array per row — a
    narrow codegen'd map, zero shuffles, no explode (the array stays
    row-local, so no corpus × lines row amplification)."""
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda ln: (
            F.size(F.split(F.trim(ln), r"\s+")) >= min_words
        )
        & F.trim(ln).rlike(r"[.!?\"']$"),
    )
    return (
        df.withColumn("n_lines", F.size(lines).cast("bigint"))
        .withColumn("n_kept_lines", F.size(kept).cast("bigint"))
        .withColumn("line_filtered_text", F.concat_ws("\n", kept))
    )


# ------------------------------------------------- stratified sampling ----


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    id_col: str = "doc_id",
    default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff the first 4
    hex digits of md5(id || salt) fall below floor(rate * 65536) — a pure
    stateless hash filter, so the sample is reproducible across runs,
    engines, and partitionings (rand() is none of those), and re-running
    with a larger rate strictly grows the sample (nested samples for
    scaling-law curves). Changing ``salt`` draws an independent sample.

    Zero shuffles: the filter evaluates row-local everywhere. This is how a
    mixture step downweights over-represented languages/domains at 100 TB —
    no count pass, no global state.
    """
    bucket = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 4
    )

    def keep_for(rate: float) -> F.Column:
        # rate >= 1.0 must short-circuit: floor(1.0 * 65536) formats as the
        # 5-char hex '10000', and a 4-char bucket compares lexicographically
        # ('ffff' < '10000' is False) — the cutoff encoding only covers
        # rates in [0, 1).
        if rate >= 1.0:
            return F.lit(True)
        return bucket < F.lit(f"{max(0, int(rate * 65536)):04x}")

    keep = F.lit(False)
    for stratum in sorted(rates):
        keep = F.when(F.col(strata_col) == stratum, keep_for(rates[stratum])).otherwise(
            keep
        )
    if default_rate > 0:
        keep = F.coalesce(keep, F.lit(False)) | (
            ~F.col(strata_col).isin(list(rates)) & keep_for(default_rate)
        )
    return df.filter(keep)


# --------------------------------------------------- sequence packing ----


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "bpe_tokens",
    budget: int = 2048,
    num_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in id
    order within a shard, and a document belongs to the training sequence
    its starting token offset falls into (floor(offset / budget)) — the
    GPT-style "concatenate everything, slice every ``budget`` tokens"
    layout, tracked at document granularity.

    Sharding (pmod(id, num_shards)) is what makes this scale: the running
    offset is a window sum PARTITIONED BY shard, so shards pack in
    parallel and no global sort or single-reducer cumsum exists. At 100 TB
    num_shards is set to O(cluster parallelism) and each shard's window
    spills independently.

    Emits (shard, doc_id, n_tokens, tok_offset, seq_id) — all integers.
    """
    shard = F.pmod(F.col(id_col), F.lit(num_shards)).cast("bigint")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            shard.alias("shard"),
            F.col(id_col),
            F.col(token_col).cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "tok_offset",
            (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint"),
        )
        .withColumn(
            "seq_id", F.floor(F.col("tok_offset") / F.lit(budget)).cast("bigint")
        )
    )


# ------------------------------------------------- corpus n-gram stats ----


def top_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
) -> DataFrame:
    """Corpus-wide top-k word n-grams by document frequency (per-doc
    distinct, so boilerplate repeated inside one doc doesn't dominate) —
    the corpus-statistics pass behind boilerplate detection and stop-list
    construction.

    Shape: narrow shingle map → explode → one hash aggregate (map-side
    partials shrink the shuffle to |distinct n-grams|) → global top-k
    (TakeOrderedAndProject: each partition contributes at most k rows, so
    the driver never sees more than k * partitions). Deterministic
    tiebreak: count desc, n-gram asc.
    """
    grams = with_word_shingles(df, id_col, text_col, k=n)
    return (
        grams.groupBy("shingle")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(F.col("shingle").alias("ngram"), "cnt")
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
    )


# --------------------------------------------------- domain mixture ----


def domain_mixture(
    df: DataFrame,
    domain_col: str = "source",
    token_col: str = "bpe_tokens",
    target_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Domain-mixture accounting: per-domain document and token counts,
    each domain's share of the corpus in exact ppm, and — when target
    mixture weights are given — the sampling multiplier (target/actual, in
    ten-thousandths) a mixing step would apply.

    One hash aggregate over |domains| groups plus a broadcast-sized window
    for the total: the heavy input collapses before any wide operation.
    All surfaces are integers (ppm / e4 scaling, half-up in both engines).

    The multiplier divides the RAW token counts (target_weight · total /
    domain_tokens), not the rounded ppm share: a domain under ~0.5 ppm
    floors to token_share_ppm = 0, and dividing by that would null out the
    multiplier for exactly the under-represented domains a mixing step
    most needs to upweight. Domains with zero tokens get a null
    multiplier (nothing to sample from — upweighting is undefined).
    """
    agg = df.groupBy(domain_col).agg(
        F.count("*").cast("bigint").alias("docs"),
        F.sum(F.col(token_col).cast("bigint")).alias("tokens"),
    )
    total = Window.partitionBy()
    total_tokens = F.sum("tokens").over(total)
    out = agg.withColumn(
        "token_share_ppm",
        F.floor(F.col("tokens") * 1000000 / total_tokens + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    if target_weights:
        w_expr = F.lit(None).cast("double")
        for dom in sorted(target_weights):
            w_expr = F.when(
                F.col(domain_col) == dom, F.lit(target_weights[dom])
            ).otherwise(w_expr)
        out = out.withColumn(
            "multiplier_e4",
            F.when(
                F.col("tokens") > 0,
                F.floor(
                    w_expr * 10000 * total_tokens / F.col("tokens") + F.lit(0.5)
                ).cast("bigint"),
            ),
        )
    return out


def apply_domain_mixture(
    df: DataFrame,
    domain_col: str = "source",
    token_col: str = "bpe_tokens",
    target_weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The mixing step ``domain_mixture`` accounts for, actually applied:
    domains OVER their target (multiplier < 1) are deterministically
    downsampled at rate = multiplier via the same md5-bucket filter as
    ``stratified_sample``; domains at/under target keep every row —
    upweighting needs duplication, which is the trainer's epoch-repeat
    concern, not a filter (the accounting frame says by how much).

    Exact integer arithmetic end-to-end: the keep cutoff is
    multiplier_e4 · 65536 div 10⁴ rendered as 4-digit lowercase hex and
    string-compared against the row's 4-hex md5 bucket (fixed-width
    lowercase hex compares numerically; only multipliers < 1 reach the
    compare, so the 5-hex '10000' rate-1.0 bug class can't occur).
    Sampling is keyed on (domain, id) so it is reproducible under any
    partitioning and independent across domains. Plan shape: the
    accounting aggregate collapses to |domains| rows and broadcast-joins
    back — two scans of the input, zero corpus-sized shuffles."""
    mix = domain_mixture(df, domain_col, token_col, target_weights)
    rates = mix.select(domain_col, "multiplier_e4")
    joined = df.join(F.broadcast(rates), domain_col, "left")
    bucket = F.substring(
        F.md5(
            F.concat_ws("|", F.col(domain_col), F.col(id_col).cast("string"))
        ),
        1,
        4,
    )
    cutoff_hex = F.lpad(
        F.lower(
            F.hex(F.expr("CAST(multiplier_e4 * 65536 div 10000 AS BIGINT)"))
        ),
        4,
        "0",
    )
    keep = (
        F.col("multiplier_e4").isNull()
        | (F.col("multiplier_e4") >= 10000)
        | (bucket < cutoff_hex)
    )
    return joined.filter(keep).drop("multiplier_e4")


# ------------------------------------------- embedding decontamination ----


def embedding_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus vector,
    the max cosine similarity against the (broadcast) benchmark set, plus a
    contamination flag at ``threshold``. The semantic complement of
    ``contamination_flags`` — n-gram overlap misses paraphrased eval items;
    embedding similarity catches them.

    Plan shape for 100 TB: the benchmark side is eval-suite-sized (10^3-10^4
    vectors); the corpus is scanned ONCE, scored against the replicated
    bench set, then max-reduced per corpus id. The corpus is never
    self-joined and never collected. An EMPTY benchmark yields an empty
    result (inner-cross-join semantics on BOTH paths), not all-clean
    rows — callers should treat "no benchmark" as "skip the check", not
    call this with zero bench rows.

    Two physical paths, same logical result (pair-scoring sums can differ
    in the last ulp; both surfaces round to 4 decimals, and the
    equivalence is property-pinned in tests), picked by the measured
    crossover ``_VECTORIZED_PAIR_CROSSOVER`` on |corpus|·|bench|:

    - below it, the fold: broadcast nested-loop crossJoin, cosine via
      zip_with/aggregate (JVM interpreted higher-order fold), map-side
      partial max so the shuffle carries one narrow row per corpus vector.
      Zero Python in the plan; the bench frame itself is broadcast by
      Spark's own machinery.
    - at or above it, the vectorized path: the bench matrix (bounded by
      the SAME eval-suite size contract that justifies broadcasting it) is
      collected once and shipped in the mapInPandas closure; each Arrow
      batch of corpus rows scores as ONE numpy matmul (B×d @ d×N) and
      emits its own row-local max — no pair rows ever exist, no shuffle at
      all. Interpreted HOFs don't codegen, so at 10^2+ bench vectors per
      corpus row the C-loop matmul wins by an order of magnitude (sf1
      measured: SCALE.md r7).

    The Python stage carries a ~1.3 s session-fixed floor (bench-collect
    job + Arrow round trip) that the fold doesn't pay, while the fold pays
    ~0.5 µs per PAIR that the matmul doesn't; equal at ~2e6 pairs on the
    r7 container (fold: 78k pairs 0.46 s / 7.8M pairs 4.5 s; vectorized
    flat ~1.3 s at both — SCALE.md). The selection costs two count jobs
    at plan-build time — single-column scans that are noise next to
    either scoring pass, and at real scale the answer is always
    "vectorized" anyway.
    """
    from mbgspark.operators.dedup import cosine_sim_prenorm, vec_norm

    if corpus.count() * bench.count() >= _VECTORIZED_PAIR_CROSSOVER:
        return _embedding_contamination_vectorized(
            corpus, bench, id_col, vec_col, threshold
        )

    # self-norms hoisted per ROW on each side (vec_norm) — the pair loop
    # then folds only the dot product: 1 interpreted array fold per pair
    # instead of 3, bit-identical doubles (sf1 measured: 7.4 s → SCALE.md)
    b = F.broadcast(
        bench.select(
            F.col(id_col).alias("__bench_id"),
            F.col(vec_col).alias("__bv"),
            vec_norm(F.col(vec_col)).alias("__bn"),
        )
    )
    c = ensure_width(
        corpus.select(
            F.col(id_col),
            F.col(vec_col).alias("__cv"),
            vec_norm(F.col(vec_col)).alias("__cn"),
        ),
        by=id_col,  # the groupBy-max below rides the widening exchange (r15)
    )
    return (
        c.crossJoin(b)
        .select(
            F.col(id_col),
            cosine_sim_prenorm(
                F.col("__cv"), F.col("__bv"), F.col("__cn"), F.col("__bn")
            ).alias("__sim"),
        )
        .groupBy(id_col)
        .agg(F.round(F.max("__sim"), 4).alias("max_bench_sim"))
        .select(
            id_col,
            "max_bench_sim",
            (F.col("max_bench_sim") >= threshold).cast("bigint").alias(
                "is_contaminated"
            ),
        )
        .orderBy(id_col)
    )


def _embedding_contamination_vectorized(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """``embedding_contamination``'s vectorized body: one numpy
    matmul per Arrow batch against the closure-shipped bench matrix.

    Semantics mirrored from the fold path exactly:
    - null BENCH vectors contribute no pairs (fold: null sim, max skips
      nulls) — dropped from the matrix here;
    - a null CORPUS vector has every pair-sim null (fold: max over all-null
      → null row) — emitted with a null ``max_bench_sim`` here;
    - zero-norm vectors score 0/0 = NaN on both paths, but the Arrow
      transfer maps pandas NaN to SQL null, so this path emits null where
      the fold emits NaN — both read "no meaningful similarity", and no
      finite-norm input can hit it;
    - rounding stays ON THE PLAN SIDE (``F.round`` HALF_UP — numpy rounds
      half-even, a real knife-edge difference), so only the raw fp sums
      differ between paths (last-ulp, order of summation).
    """
    import numpy as np
    import pandas as pd

    # Bounded collect: the bench side is eval-suite-sized by the operator's
    # contract — the same bound that makes F.broadcast(bench) legal in the
    # fold path makes this explicit driver materialization legal here.
    all_bench = bench.select(vec_col).collect()
    bench_rows = [r[0] for r in all_bench if r[0] is not None]
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, max_bench_sim double"
    base = corpus.select(id_col, vec_col)
    if not all_bench:
        # zero bench ROWS: the fold's inner cross join yields no pairs
        return base.limit(0).select(
            id_col,
            F.lit(None).cast("double").alias("max_bench_sim"),
            F.lit(None).cast("bigint").alias("is_contaminated"),
        )
    if not bench_rows:
        # bench rows exist but every VECTOR is null: the fold still pairs
        # them, max over all-null sims → one null-sim row per corpus id
        # (ADVICE r7 — the two paths must agree on this input)
        return base.select(
            id_col,
            F.lit(None).cast("double").alias("max_bench_sim"),
            F.lit(None).cast("bigint").alias("is_contaminated"),
        ).orderBy(id_col)
    bmat = np.asarray(bench_rows, dtype=np.float64)  # (N, d)
    bnorm = np.sqrt((bmat * bmat).sum(axis=1))  # (N,)
    # Pre-normalize the bench matrix ONCE (r8): the earlier
    # `(cmat @ bmat.T) / np.outer(cnorm, bnorm)` materialized TWO extra
    # B×N temporaries per batch (the outer-product matrix and the
    # division result) — measured 26× slower than matmul + one in-place
    # row division at the sf10 shard shape (11.45 → 0.44 s, SCALE.md).
    # Values move by last-ulp only (6e-16 max on that shape) — the same
    # divergence class the fold↔vectorized contract already documents.
    with np.errstate(divide="ignore", invalid="ignore"):
        bmat_n = bmat / bnorm[:, None]  # (N, d); zero-norm row → NaN row

    def _score(batches):
        for pdf in batches:
            vecs = pdf[vec_col]
            mask = vecs.notna().to_numpy()
            sims = np.full(len(pdf), np.nan)
            if mask.any():
                cmat = np.asarray(list(vecs[mask]), dtype=np.float64)  # (B, d)
                cnorm = np.sqrt((cmat * cmat).sum(axis=1))  # (B,)
                with np.errstate(divide="ignore", invalid="ignore"):
                    pair = cmat @ bmat_n.T  # (B, N), the ONLY B×N temp
                    pair /= cnorm[:, None]
                sims[mask] = pair.max(axis=1)
            out = pd.DataFrame({id_col: pdf[id_col], "max_bench_sim": sims})
            # null corpus vector → null result row (NaN would survive the
            # Arrow transfer as a double NaN, which is NOT null in Spark)
            out.loc[~mask, "max_bench_sim"] = None
            yield out

    return (
        ensure_width(base)
        .mapInPandas(_score, out_schema)
        .select(
            id_col,
            F.round("max_bench_sim", 4).alias("max_bench_sim"),
        )
        .select(
            id_col,
            "max_bench_sim",
            (F.col("max_bench_sim") >= threshold).cast("bigint").alias(
                "is_contaminated"
            ),
        )
        .orderBy(id_col)
    )


# ------------------------------------------------- mixture interleave ----


def mixture_interleave(
    df: DataFrame,
    domain_col: str,
    weights_e4: dict[str, int],
    id_col: str = "doc_id",
    default_e4: int = 10000,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted domain interleave — the ORDERING counterpart
    of ``apply_domain_mixture`` (which decides what to keep, this decides
    in what sequence a pretraining run consumes it): the r-th document of
    domain d (r = md5-hash rank within the domain) gets the exact integer
    position key ``pos_key = r * 1e8 div weight_e4(d)``, so a domain with
    weight 0.5 contributes every 2nd slot, 0.1 every 10th — a weighted
    round-robin with no randomness, reproducible across engines.

    No global sort: pos_key is a COLUMN; the writer that materializes the
    curriculum range-partitions on it (same discipline as
    ``shuffle.corpus_shuffle``). The only shuffle here is the per-domain
    rank window. Weights are e4 fixed-point integers; the arithmetic is
    bigint-exact in Spark and any SQL oracle.
    """
    from pyspark.sql import Window

    if default_e4 <= 0 or any(w <= 0 for w in weights_e4.values()):
        raise ValueError(
            "mixture_interleave weights must be positive e4 integers; "
            "drop a domain entirely with apply_domain_mixture/stratified_sample "
            "instead of weighting it 0"
        )
    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(domain_col).orderBy(h, F.col(id_col))
    weight = F.lit(default_e4)
    for dom in sorted(weights_e4):
        weight = F.when(F.col(domain_col) == dom, F.lit(weights_e4[dom])).otherwise(
            weight
        )
    return (
        df.select(
            F.col(id_col),
            F.col(domain_col),
            F.row_number().over(w).cast("bigint").alias("within_rank"),
            weight.cast("bigint").alias("__w"),
        )
        # true integer division (div), not float `/` + cast — the latter
        # truncates a double and drifts from any bigint-exact oracle
        .withColumn(
            "pos_key", F.expr("(within_rank * 100000000) div __w").cast("bigint")
        )
        .drop("__w")
    )


def domain_cap(
    df: DataFrame,
    domain_col: str,
    id_col: str = "doc_id",
    cap: int = 100,
    salt: str = "",
) -> DataFrame:
    """Per-domain frequency cap — the crawl-pipeline quota step (C4-style
    corpora cap documents per registered domain so a single prolific site
    cannot dominate the mixture): keep at most ``cap`` docs per domain,
    chosen DETERMINISTICALLY as the cap lowest md5(salt|id) ranks — the
    same hash-order device as group_sample/stratified_sample, so the
    survivor set is reproducible, stable under partitioning, and NESTED
    (a larger cap keeps a superset). One window per domain partition —
    the partition key is the skew axis itself, but the window only ranks
    and truncates (no buffering beyond the running count). Emits the
    surviving rows + their rank."""
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.concat_ws("|", F.lit(str(salt)), F.col(id_col).cast("string"))),
        id_col,
    )
    return (
        df.withColumn("domain_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("domain_rank") <= cap)
    )
