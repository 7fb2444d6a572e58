"""Deduplication operators — SURVEY.md §2.4 (D1–D3) plus the scale-out
near-duplicate suite a 100 TB training-data pipeline needs (exact hash,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine).

Reference semantics:
- D1 dedup-by-key: session set of seen ``_id``s, first-wins
  (src/resilient_scraper.py:55,352,357) → ``dropDuplicates([key])``.
- D2 dedup-by-normalized-text: ``hash(text.strip().lower())`` membership
  (src/resilient_scraper.py:354-358) → xxhash64 key + dropDuplicates.
- D3 idempotent upsert / keep-latest (src/resilient_scraper.py:944-951) →
  ``row_number() over (partition by key order by ts desc) = 1``.

Scale notes: every dedup here is a hash-shuffle on the dedup key — Spark does
partial (map-side) aggregation automatically for dropDuplicates; the MinHash
path turns an O(n²) similarity problem into band-bucket equi-joins, which AQE
can re-plan for skewed buckets. Portability note for oracles: signatures are
built from md5 strings (identical in Spark / DuckDB / Python), never from
engine-private hash functions.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mbgspark import jvmseam
from mbgspark.io import _FANOUT_MIN_BYTES, ensure_width


# ---------------------------------------------------------------- D1-D3 ----

def dedup_by_key(df: DataFrame, key: str = "_id") -> DataFrame:
    """D1: first-wins by key (src/resilient_scraper.py:55,352)."""
    return df.dropDuplicates([key])


def dedup_by_normalized_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """D2: dedup on hash(lower(trim(text))) (src/resilient_scraper.py:354-358)."""
    return (
        df.withColumn("__tkey", F.xxhash64(F.lower(F.trim(F.col(text_col)))))
        .dropDuplicates(["__tkey"])
        .drop("__tkey")
    )


def keep_latest_per_key(
    df: DataFrame, key: str, order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """D3 batch analog of upsert: keep newest row per key, deterministic
    tiebreak (src/resilient_scraper.py:944-951)."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------- near-dup: shingling ----
#
# The MinHash/LSH builders below are written as SQL expression strings
# (``selectExpr``, ``filter``/``F.expr`` with SQL lambda syntax), not as
# per-element Python ``Column`` trees: in PySpark 4 every ``F.*`` call is
# about 8 py4j round trips (function lookup, call-site origin, the call,
# one ArrayList.add per list element), so a builder that composes Columns
# element by element costs thousands of round trips of driver time per
# plan, while one expression string is parsed by the JVM in one call.
# ``tests/test_dedup.py`` pins the round-trip budget of the hot builders.


def _q(name: str) -> str:
    """Backtick-quote a column name for interpolation into a SQL
    expression string."""
    if "`" in name:
        raise ValueError(
            f"column names containing backticks are not supported: {name!r}"
        )
    return f"`{name}`"


def _tokens(text_col: str) -> str:
    """Token array of lower(trim(text)), split on Java ``\\s+``."""
    return rf"split(lower(trim({_q(text_col)})), '\\s+')"


def _shingles_of(toks: str, k: int) -> str:
    """Distinct k-word shingle ARRAY over the token-array column ``toks``.
    ``toks`` must be an ATTRIBUTE (a column aliased in its own
    projection), not an inline expression: the split must never end up
    inside a lambda body (the CollapseProject O(words²) trap — see
    with_word_shingles). try_element_at, not element_at: for docs shorter
    than k the tail shingle reads past the array, which must yield NULL
    (concat_ws skips it) under ANSI sessions too — element_at would THROW
    there."""
    t = _q(toks)
    words = ", ".join(f"try_element_at({t}, i + {j + 1})" for j in range(k))
    return (
        f"array_distinct(filter(transform(sequence(0, greatest(size({t}) - {k}, 0)),"
        f" i -> concat_ws(' ', {words})), s -> s != ''))"
    )


def with_word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    out: str = "shingle",
) -> DataFrame:
    """Distinct k-word shingles of lower(trim(text)), one row per
    (id, shingle). Pure built-ins: split + sequence + transform +
    array_distinct + explode — a NARROW map, zero shuffles.

    Set semantics are enforced per row (array_distinct before the explode):
    with id in every output row, per-row distinct ≡ the global
    (id, shingle) DISTINCT, so the shuffle the global distinct would pay is
    pure waste — and because every consumer (signature min, intersection
    counts) re-derives this lineage, removing the shuffle de-noises the
    whole dedup pipeline (measured at sf0.1: minhash best-of-4 spread
    1.1–1.6 s → 0.81–0.95 s).

    The token array is materialized in its OWN projection before the
    higher-order transform: inlining the split into the lambda makes Spark
    re-evaluate the regex split per array element (O(words²) per doc) —
    measured 13× slower at sf0.1.

    Deliberately NOT behind ``io.ensure_width``: every consumer (signature
    min, intersection counts, band rows) aggregates right after the
    explode and re-derives this lineage per consumer, so the widening
    exchange is paid once per consumer while the shuffle that follows
    already spreads the real work — measured at sf1 a consistent small
    LOSS for minhash_near_dups and dedup_incremental (4.2 → 4.5 s / 4.2 →
    4.8 s steady-state A/B), unlike the row-local/windowed text operators
    where it wins 5×."""
    pre = df.selectExpr(_q(id_col), f"{_tokens(text_col)} AS __toks")
    return pre.selectExpr(
        _q(id_col), f"explode({_shingles_of('__toks', k)}) AS {_q(out)}"
    )


#: bits of one 15-hex-char signature window
_WINDOW_MASK = (1 << 60) - 1
#: two 15-char parses (chars 1–15 and 15–29) cover windows 0..7
_MAX_HASHES = 8


def _hex_parses(hex32: str) -> list[str]:
    """The two parses of a 32-char lowercase hex expression every
    signature window is derived from: ``__p0`` = chars 1–15 and ``__p1``
    = chars 15–29, each a 60-bit bigint."""
    return [
        f"CAST(conv(substring({hex32}, 1, 15), 16, 10) AS BIGINT) AS __p0",
        f"CAST(conv(substring({hex32}, 15, 15), 16, 10) AS BIGINT) AS __p1",
    ]


def _sig_window(i: int) -> str:
    """Window i (hex chars 2i+1 .. 2i+15, as a 60-bit bigint) from the two
    parses: its top 15−2i nibbles are __p0's low nibbles shifted up, its
    low 2i+1 nibbles are __p1's top nibbles shifted down. Both sources
    put char 15 at the same nibble (position 2i), so the OR is exact."""
    return (
        f"((shiftleft(__p0, {8 * i}) & {_WINDOW_MASK})"
        f" | shiftright(__p1, {56 - 8 * i}))"
    )


def _render_sig_hex(h: str) -> str:
    """Render a numeric window back to the oracle's 15-hex-char lowercase
    window string (hex() is uppercase and strips leading zeros; lpad+lower
    restores the md5 substring exactly)."""
    return f"lower(lpad(hex({h}), 15, '0'))"


def _sig_aggs(num_hashes: int) -> list[str]:
    """THE MinHash hash-family definition — hash i = min over the doc's
    shingles of the 15-hex-char (60-bit) md5 window starting at offset
    2i, for i < 8. Every signature consumer (``minhash_signature``, and
    through it ``minhash_estimate_pairs``, and the DuckDB oracle's
    _MINHASH_SIG_COLS) must agree on these VALUES exactly — bucketer and
    estimator silently disagree otherwise — so the definition lives in
    one place.

    The windows are not parsed one by one: ``_hex_parses`` parses
    md5(shingle) TWICE per row, P0 = chars 1–15 and P1 = chars 15–29, and
    window i = ((P0 << 8i) & (2^60−1)) | (P1 >> (56 − 8i)) is shifted
    out of the two (``_sig_window``). Two parses cover windows 0..7 and
    no more, hence the 8-window limit (``_MAX_HASHES``); the eight conv
    calls they replace were most of the signature stage's per-row cost.

    The Spark side takes the min NUMERICALLY (a 60-bit bigint): min over
    a mutable long buffer plans as a whole-stage-codegen HashAggregate
    with map-side partial combine, where min over a STRING buffer plans
    as ObjectHashAggregate, whose 128-key sort-based fallback degenerates
    to a full sort of every shingle row per aggregation — measured 939 MB
    of sort spill PER SIGNATURE PASS at sf10 (r12 two-decade ledger
    sweep). Fixed-width lowercase hex is order-isomorphic to its numeric
    value, so ``_render_sig_hex`` reproduces the oracle's lexicographic
    string min bit-for-bit (the oracle keeps the plain string min)."""
    return [f"min({_sig_window(i)})" for i in range(num_hashes)]


def minhash_signature(
    shingled: DataFrame, id_col: str, num_hashes: int = 8, shingle_col: str = "shingle"
) -> DataFrame:
    """Portable MinHash: hash function i is the 15-hex-char window of
    md5(shingle) starting at offset 2i, so ONE md5 per shingle yields all
    ``num_hashes`` functions — 8× less hashing than independent
    md5(i || shingle) per permutation, measured the dominant cost of the
    near-dup pipeline. The md5 is parsed twice per shingle row and the
    windows are shifted out of the two parses (see ``_sig_aggs``), which
    caps ``num_hashes`` at 8: a larger value raises ``ValueError``.
    sig_i = min of window i over the doc's shingles (numeric inside the
    agg, rendered back to the lexicographic-min hex string in the
    aggregate's result): a valid min-wise family for dedup purposes, and
    bit-identical across Spark, DuckDB, and Python — the property the
    correctness oracle needs. Output: (id, sig array<string>). One
    shuffle (groupBy id); the md5 both parses read is computed once per
    row under subexpression elimination."""
    if not 1 <= num_hashes <= _MAX_HASHES:
        raise ValueError(
            f"num_hashes must be in 1..{_MAX_HASHES} (two md5 parses cover "
            f"8 windows), got {num_hashes}"
        )
    parsed = shingled.selectExpr(
        _q(id_col), *_hex_parses(f"md5({_q(shingle_col)})")
    )
    sig = ", ".join(_render_sig_hex(m) for m in _sig_aggs(num_hashes))
    return parsed.groupBy(id_col).agg(F.expr(f"array({sig}) AS sig"))


def _lsh_band_rows(
    signatures: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band_idx, band_key) rows: each signature window md5-folded into
    its band bucket key — the shared front half of candidate generation
    and the oversized-bucket monitor."""
    structs = []
    for b in range(bands):
        windows = ", ".join(
            f"element_at(sig, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        structs.append(
            f"struct({b} AS band_idx, md5(concat_ws('|', {windows})) AS band_key)"
        )
    return signatures.selectExpr(_q(id_col), f"inline(array({', '.join(structs)}))")


def _oversized_metrics_row(spark) -> DataFrame:
    """The one-row all-zero (oversized_buckets, oversized_rows) metrics
    frame for a disabled cap (nothing can be dropped) — the same schema
    ``_capped_bucket_rows`` folds from a real cap, so the caller's
    observability fold reads one shape either way."""
    return spark.range(1).selectExpr(
        "CAST(0 AS BIGINT) AS oversized_buckets",
        "CAST(0 AS BIGINT) AS oversized_rows",
    )


def observed_or_direct(obs, metrics_df: DataFrame) -> dict:
    """Resolve an ``Observation`` that rode a possibly-folded lineage.

    The metrics frames here are one-row global aggregates crossJoined into
    the caller's output (the AQE-elimination-proof shape — see
    ``_oversized_metrics_row``), but when the OUTPUT side itself is
    runtime-empty, AQE's empty-relation propagation folds the crossJoin
    and the observed node never executes. ``Observation.get`` would then
    raise an opaque JVM assertion. Instead of classifying that exception
    by its prose (ADVICE r5: a bare except also swallows py4j
    connectivity failures and interrupted actions), this probes the JVM
    ``Observation.getRowOrEmpty`` — non-blocking beyond its internal
    ≤100 ms wait — AFTER the caller's action has completed: a real
    metrics row (≥1 field — ``observe`` requires at least one aggregate)
    decodes through the normal ``obs.get`` path; an absent row OR the
    schema-less zero-field ``Row.empty`` Spark 4.1 notifies when the
    observed node was eliminated means the metrics never arrived, so the
    one-row aggregate is evaluated directly (TRUE counts, one extra run
    of the metrics lineage). A real failure inside that direct
    evaluation propagates — this never converts errors into zeros."""
    if jvmseam.observation_delivered(obs):
        return obs.get
    return metrics_df.first().asDict()


class ResilientObservation:
    """Duck-types the ``Observation.get`` surface over
    ``observed_or_direct``: callers holding this handle read ``.get``
    exactly like a plain ``Observation``, but a fold-eliminated ride-along
    (e.g. a corpus that curates to zero survivors) resolves to the direct
    evaluation of the metrics aggregate instead of raising. Reading
    ``.get`` before any action on the observed output is also defined: it
    computes the metrics directly rather than blocking forever."""

    def __init__(self, obs, metrics_df: DataFrame):
        self._obs = obs
        self._metrics_df = metrics_df

    @property
    def get(self) -> dict:
        return observed_or_direct(self._obs, self._metrics_df)


def observe_oversized(
    survivors: DataFrame, metrics_df: DataFrame, name: str
) -> tuple[DataFrame, ResilientObservation]:
    """Ride the one-row oversized metrics frame (``metrics_out``) along
    ``survivors``: observed as Observation ``name``, broadcast-crossJoined
    in (×1) and its columns dropped, so an action on the returned frame
    delivers the metrics. Returns that frame and the
    ``ResilientObservation`` to read ``.get`` from after the action."""
    from pyspark.sql import Observation

    obs = Observation(name)
    mrow = metrics_df.observe(
        obs,
        F.max("oversized_buckets").alias("oversized_buckets"),
        F.max("oversized_rows").alias("oversized_rows"),
    )
    survivors = survivors.crossJoin(F.broadcast(mrow)).drop(
        "oversized_buckets", "oversized_rows"
    )
    return survivors, ResilientObservation(obs, metrics_df)


def report_oversized(
    handle: ResilientObservation, on_metrics, batch_id: int
) -> None:
    """Pass an ``observe_oversized`` handle's counts to a gate's
    ``on_metrics`` callback, after the write that carried the ride-along."""
    got = handle.get
    on_metrics(
        batch_id,
        {
            "oversized_buckets": got.get("oversized_buckets") or 0,
            "oversized_rows": got.get("oversized_rows") or 0,
        },
    )


def incremental_drop_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """Batch ids a near-dup gate drops for incremental verified pairs: a
    ``corpus`` match drops its batch doc ``id_a``, a ``batch`` pair drops
    ``id_b`` (the lower id survives)."""
    return (
        pairs.filter(F.col("match_source") == "corpus")
        .select(F.col("id_a").alias(id_col))
        .unionByName(
            pairs.filter(F.col("match_source") == "batch")
            .select(F.col("id_b").alias(id_col))
        )
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 1000,
    metrics_out: list | None = None,
) -> DataFrame:
    """Band the signature; docs sharing any band bucket become candidate pairs.

    ONE hash shuffle on (band_idx, band_key), never a cross join; this is
    what keeps near-dup detection feasible at 100 TB. Pairs are minted
    per bucket from a cap-bounded sorted id array (r14 — see the inline
    note below; the r13 shape self-joined the band rows on the bucket
    key, which duplicated the signature subtree per join side). Output
    distinct (id_a < id_b) pairs.

    ``max_bucket_size`` is the production skew guard: a text duplicated N
    times puts N rows in ONE band bucket which would mint N² pairs —
    the semantic pair explosion no join-level skew handling can fix (a
    single viral doc at 100 TB would mint ~10¹⁰ pairs). Buckets larger
    than the cap are dropped from pair generation BEFORE their ids are
    packed (use ``lsh_oversized_buckets`` to monitor what was skipped —
    mega-clusters of identical text belong to exact dedup, which runs
    first in the curation pipeline and has no quadratic step). ``None``
    disables the guard entirely — and since r14's pair-array reshape
    that now means an UNCAPPED bucket packs all its ids into one
    collect_list row and mints all ~n²/2 pair structs inside that single
    row's array (the r13 self-join streamed them instead): a viral
    bucket under ``None`` risks a single-row executor OOM, not just a
    big shuffle (ADVICE r14). ``None`` is for bounded soaks and
    explosion baselines (tools/skew_soak.py --uncapped); shipped callers
    keep the cap.

    Dropping is silent by design inside this LAZY plan (a warning would
    need an action); drops are made observable through two channels
    (ADVICE r3). ``metrics_out`` carries the COUNTS on the caller's own
    action, with no second band-row pass; ``lsh_oversized_buckets``
    names WHICH buckets were dropped, (band_idx, band_key, bucket_n), in
    a pass of its own, so the caller can log them or route their members
    to exact dedup. Mega-clusters of IDENTICAL text are not lost either
    way: exact dedup runs before LSH in the curation pipeline; what the
    cap skips is near-identical (non-exact) clusters above the cap, which
    is why production pipelines should monitor.

    ``metrics_out`` (VERDICT r4 item 4) is the zero-extra-pass monitoring
    channel: pass a list and a ONE-ROW metrics DataFrame —
    ``(oversized_buckets, oversized_rows)``, a global aggregate over the
    bucket-size frame the cap computes anyway — is appended for the
    caller to fold into its own output lineage (``observe_oversized``
    crossJoins the broadcast row and ``observe()``s it).
    A global aggregate is the one shape that survives AQE: its output is
    exactly one row even on empty input, so empty-relation propagation
    can never fold it away — whereas observing the pre-filter bucket
    frame directly (the first implementation) lost the metrics whenever
    ANY downstream stage (the pair self-join, the verify joins, the
    caller's anti-join) came up runtime-empty and AQE dropped the
    then-unreferenced observed subtree, stages-already-executed
    notwithstanding."""
    eligible = _capped_bucket_rows(
        _lsh_band_rows(signatures, id_col, bands, rows_per_band),
        max_bucket_size, metrics_out, signatures.sparkSession,
    )
    # Pair generation (r14): pack each eligible bucket's ids into ONE
    # sorted array (a collect_list bounded by the cap when one is set —
    # _capped_bucket_rows' window filter has already dropped every bucket
    # larger than the cap, so no viral bucket is materialized and the r12
    # unbounded-collect_list spill class cannot recur; under
    # max_bucket_size=None the list and its pair array are unbounded —
    # see the docstring) and emit each id's pairs with its successors
    # row-locally. This replaces the band self-join — whose two aliased
    # sides duplicated the whole signature subtree in the static plan —
    # with a partition-local aggregate that rides the window's own
    # exchange (grouping keys == partition keys). Interleaved A/B:
    # 2.25 → 1.94 s at sf0.1, 5.07 → 4.64 s at sf1, output identical.
    # The sort lives INSIDE the aggregate so the pair lambda references
    # only an Aggregate output attribute — an alias in a Project below
    # would be inlined into the lambda body and re-sorted per element
    # (the CollapseProject trap). Successors are selected by VALUE
    # (y > x), not by slice index: bucket ids are unique so the two are
    # equivalent, the filter depends on the lambda variable (so the
    # lambda-inlined-scalar lint stays clean — a size(__ids) slice bound
    # would be an invariant subtree re-evaluated per element), and a
    # null id compares null and drops — exactly the old join predicate's
    # a.id < b.id semantics.
    lists = eligible.groupBy("band_idx", "band_key").agg(
        F.expr(f"array_sort(collect_list({_q(id_col)})) AS __ids")
    )
    return lists.selectExpr(
        "inline(flatten(transform(__ids, x ->"
        " transform(filter(__ids, y -> y > x), y -> struct(x AS id_a, y AS id_b)))))"
    ).distinct()


def _capped_bucket_rows(
    band_rows: DataFrame,
    max_bucket_size: int | None,
    metrics_out: list | None,
    spark,
) -> DataFrame:
    """The band rows of buckets with 2 <= n <= cap (n >= 2 when the cap
    is None), with the oversized-bucket monitoring of
    ``lsh_candidate_pairs`` (``metrics_out``) —
    single-sourced so the candidate and incremental paths can't drift.

    Bucket sizes via a KEYED WINDOW over the one band exchange, not a
    separate groupBy + anti-join (the r12 reshape). The first
    implementation sized buckets in their own aggregation lineage and
    anti-joined the blacklist; per-consumer pruning defeated exchange
    reuse, so the whole signature pipeline recomputed per lineage and the
    band rows shuffled twice (~4M of the 6.9M sf10 ledger records). The
    window count rides the ONE band-bucket exchange that pair generation
    needs anyway (the pair rollup / bucket join after it keys on the same
    columns), so sizing costs zero additional shuffle — and it bounds the
    rollup: WHEN THE CAP IS SET, the n <= cap filter runs BEFORE any
    bucket's ids are packed into an array, so no viral bucket is ever
    materialized in an aggregation buffer (with max_bucket_size=None that
    guarantee does not hold — see lsh_candidate_pairs). It also makes the
    n >= 2 filter free: ~94% of band rows sit in singleton buckets
    (random 128-bit keys) that can never mint a pair."""
    counted = band_rows.selectExpr(
        "*", "count(1) OVER (PARTITION BY band_idx, band_key) AS __n"
    )
    if max_bucket_size is None:
        if metrics_out is not None:
            metrics_out.append(_oversized_metrics_row(spark))
        return counted.filter("__n >= 2").drop("__n")
    over = counted.filter(f"__n > {max_bucket_size}")
    if metrics_out is not None:
        # a one-row global aggregate (AQE-elimination-proof: it emits one
        # row even on empty input), computed from the window-counted
        # rows: row count IS oversized_rows; buckets need the distinct
        # key count
        metrics_out.append(
            over.selectExpr(
                "CAST(count(DISTINCT struct(band_idx, band_key)) AS BIGINT)"
                " AS oversized_buckets",
                "CAST(count(1) AS BIGINT) AS oversized_rows",
            )
        )
    return counted.filter(f"__n >= 2 AND __n <= {max_bucket_size}").drop("__n")


def lsh_oversized_buckets(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Monitoring companion to ``lsh_candidate_pairs``: the (band_idx,
    band_key, bucket_n) buckets the cap would drop, so a pipeline can log
    them / route their members to exact dedup instead of silently skipping."""
    return (
        _lsh_band_rows(signatures, id_col, bands, rows_per_band)
        .groupBy("band_idx", "band_key")
        .agg(F.expr("CAST(count(1) AS BIGINT) AS bucket_n"))
        .filter(f"bucket_n > {max_bucket_size}")
    )


def with_shingle_array(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct k-word shingles of lower(trim(text)) as ONE array column per
    row — no explode, no shuffle. The narrow-map twin of with_word_shingles;
    preferred when per-doc shingle sets fit in a row (true for any sane doc:
    ~1 shingle per word). Tokens are split in their own projection — see
    with_word_shingles for why inlining the split into the lambda is 13×
    slower, and for why neither builder sits behind ``io.ensure_width``
    (consumers aggregate immediately; measured loss at sf1)."""
    pre = df.selectExpr(_q(id_col), f"{_tokens(text_col)} AS __toks")
    return pre.selectExpr(_q(id_col), f"{_shingles_of('__toks', k)} AS {_q(out)}")


def candidate_ids(pairs: DataFrame, id_col: str) -> DataFrame:
    """Distinct ids appearing on either side of a pair frame, derived
    with ONE pairs consumer: ``explode(array(id_a, id_b))`` instead of
    the union-of-two-projections shape, which duplicated the ENTIRE pair
    subtree (signature → bands → bucket window → rollup) once per union
    branch in the static plan (r15, guide §2.4). ReuseExchange dedupes
    the execution either way; what this buys is the static tree AQE has
    to walk, stage-cache bookkeeping, and planning time — measured as
    part of the minhash stage-count drop (37 → 25 stages with the
    verify-side trims)."""
    return pairs.selectExpr(f"explode(array(id_a, id_b)) AS {_q(id_col)}").distinct()


def jaccard_verify_arrays(
    arrays: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
    arr_col: str = "shingles",
    prefiltered: bool = False,
) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs via per-doc shingle ARRAYS:
    the candidate set (LSH output — small by construction) joins the array
    lineage twice and the intersection is size(array_intersect) per pair —
    no counts aggregation, no (id, shingle) shuffle join as in the
    row-formulation.

    Join strategy is left to AQE ON PURPOSE — no broadcast hint. A forced
    broadcast(pairs) plans the candidate subtree as eager broadcast JOBS
    that cannot share work with the main job, so the shared shingle
    aggregation both sides hang off gets computed twice (measured at 100k
    docs: 19.5 s hinted vs 8.8 s unhinted first-run — warm runs tie); and
    at 100 TB an unbounded candidate count must be allowed to degrade to a
    shuffle join instead of OOMing the driver. AQE still picks broadcast
    at runtime whenever the pair set is actually small. Never join a
    dataset carrying the arrays themselves on the build side (measured:
    1.7× regression at 14k pairs) — only ids travel to the probe.

    ``prefiltered`` (r15): the caller vouches that ``arrays`` is already
    restricted to candidate ids (minhash_near_dups semi-joins it on
    ``candidate_ids`` before calling). The id_b-candidate pre-join is
    then pure overhead — it re-derives the whole pair subtree a third
    time in the static plan and its inner equi-join cannot change the
    output (ids absent from id_b simply match nothing) — so skip it.
    Callers passing UNFILTERED arrays (the distributed ngram path) keep
    the default: there the pre-join is what keeps the id_b build side
    candidate-sized."""
    aa = arrays.selectExpr(f"{_q(id_col)} AS id_a", f"{_q(arr_col)} AS __sa")
    bb = arrays.selectExpr(f"{_q(id_col)} AS id_b", f"{_q(arr_col)} AS __sb")
    j = aa.join(pairs, "id_a")
    bb_cand = bb if prefiltered else bb.join(pairs.select("id_b").distinct(), "id_b")
    return _jaccard_at_least(
        j.join(bb_cand, "id_b"), threshold, "id_a", "id_b", "jaccard"
    )


def _jaccard_at_least(joined: DataFrame, threshold: float, *cols: str) -> DataFrame:
    """The ``cols`` of the rows of a (__sa, __sb) shingle-array pair frame
    whose exact Jaccard, rounded to 4 places as ``jaccard``, is at least
    ``threshold`` — the one verify kernel both verify paths share."""
    inter = "size(array_intersect(__sa, __sb))"
    return (
        joined.selectExpr(
            "*", f"round({inter} / (size(__sa) + size(__sb) - {inter}), 4) AS jaccard"
        )
        .filter(f"jaccard >= {float(threshold)!r}D")
        .select(*cols)
    )


# ngram_jaccard_pairs' driver-path caps: the row cap bounds the probe-fetch
# (100k (id, text) rows ≈ tens of MB on the driver — same sizing idiom as
# components._DRIVER_EDGE_CAP and the broadcast thresholds); the pair cap
# aborts mid-build if shared-shingle buckets mint a quadratic candidate set
# the driver shouldn't hold (the distributed join spreads that same set
# across executors instead).
# Measured (tools/drivercap_audit.py, r9): a row-cap-sized corpus (100k
# 20-word docs, 1.8M-entry shingle dicts) peaks at 0.71 GB python /
# 1.5 GB JVM RSS — the smallest footprint of the four driver strategies.
NGRAM_DRIVER_ROW_CAP = 100_000
NGRAM_DRIVER_PAIR_CAP = 2_000_000


class _PairOverflow(Exception):
    """Internal: the driver ngram path exceeded NGRAM_DRIVER_PAIR_CAP."""


def _ngram_jaccard_driver(
    rows, k: int, threshold: float, pair_cap: int
) -> list[tuple]:
    """Driver-side twin of the distributed ngram-Jaccard join, row-for-row
    identical by construction:

    - tokens: ``re.split(r"\\s+", text.strip(' ').lower())`` with
      ``re.ASCII`` — Java's default ``\\s`` is the ASCII class
      ``[ \\t\\n\\x0B\\f\\r]``, exactly Python's ``\\s`` under re.ASCII, and
      ``F.trim`` strips 0x20 only, exactly ``str.strip(' ')``;
    - shingles: ``" ".join(toks[i:i+k])`` for i in 0..max(n-k, 0) —
      Python slice truncation ≡ concat_ws skipping the NULLs
      ``element_at`` yields past the end (ANSI off); empty-string
      shingles dropped, per-doc DISTINCT (≡ array_distinct);
    - jaccard: IEEE double division then ``Decimal(float).quantize(4,
      ROUND_HALF_UP)`` — ``Decimal(float)`` is the exact binary expansion,
      the same value ``java.math.BigDecimal(double)`` sees, so the 4-dp
      HALF_UP surface is bit-identical to ``F.round(..., 4)``;
    - keep if rounded jaccard >= threshold, id_a < id_b.

    Raises ``_PairOverflow`` past ``pair_cap`` candidate pairs so the
    caller can fall back to the distributed join."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    ws = re.compile(r"\s+", re.ASCII)
    sets: dict = {}
    for rid, text in rows:
        if text is None:
            sets[rid] = frozenset()
            continue
        toks = ws.split(text.strip(" ").lower())
        n = len(toks)
        sh = {
            " ".join(toks[i : i + k]) for i in range(max(n - k, 0) + 1)
        }
        sh.discard("")
        sets[rid] = frozenset(sh)
    buckets: dict = {}
    for rid, sh in sets.items():
        for s in sh:
            buckets.setdefault(s, []).append(rid)
    cand: set = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
        if len(cand) > pair_cap:
            raise _PairOverflow()
    q4 = Decimal("0.0001")
    out = []
    for a, b in cand:
        sa, sb = sets[a], sets[b]
        n_inter = len(sa & sb)
        jac = n_inter / (len(sa) + len(sb) - n_inter)
        jac = float(Decimal(jac).quantize(q4, rounding=ROUND_HALF_UP))
        if jac >= threshold:
            out.append((a, b, jac))
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram (k-word shingle) Jaccard similarity join: candidate
    pairs = any shared shingle (equi-join on shingle, no LSH), verified
    ``>= threshold``. Columns ``(id_a, id_b, jaccard)``, id_a < id_b,
    unordered.

    Mirrors ``connected_components``' cap-guarded driver idiom:
    exact-Jaccard corpora are bounded by construction in every pipeline
    that uses this operator (the LSH variant is the scale path for
    open-ended corpora — this join is inherently quadratic in
    shared-shingle buckets on ANY engine), so a corpus under
    ``NGRAM_DRIVER_ROW_CAP`` rows is probe-fetched with one
    ``limit(cap+1)`` action and joined on the driver (~10 sequential
    sub-second Spark stages collapse to one scan). The driver twin is
    row-for-row identical — see ``_ngram_jaccard_driver`` for the
    tokenization/rounding equivalence argument.

    On row OR candidate-pair overflow the distributed join runs instead:
    shingle arrays stay per-row, BOTH self-join sides alias the SAME
    exploded subtree so Spark shares the shingle-keyed shuffle (measured
    2.0 → 1.8 s warm, 5.8 → 1.8 s cold at sf0.1), and the verify is a
    pair→doc join + array_intersect. ``tests/test_dedup.py`` pins both
    paths against each other (the caps patched to 0 force the
    distributed one)."""
    fetched = (
        df.select(F.col(id_col), F.col(text_col))
        .limit(NGRAM_DRIVER_ROW_CAP + 1)
        .collect()
    )
    if len(fetched) <= NGRAM_DRIVER_ROW_CAP:
        try:
            out = _ngram_jaccard_driver(
                [(r[0], r[1]) for r in fetched],
                k,
                threshold,
                NGRAM_DRIVER_PAIR_CAP,
            )
        except _PairOverflow:
            out = None
        if out is not None:
            from mbgspark.session import local_result_df

            id_type = df.schema[id_col].dataType.simpleString()
            return local_result_df(
                df.sparkSession,
                out,
                f"id_a {id_type}, id_b {id_type}, jaccard double",
            )
    shingled = with_shingle_array(df, id_col, text_col, k)
    ex = shingled.select(id_col, F.explode("shingles").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return jaccard_verify_arrays(shingled, pairs, id_col, threshold)


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
    metrics_out: list | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → signature → band buckets →
    candidate pairs → exact-Jaccard verify. All equi-joins and group-bys;
    shingling is a narrow zero-shuffle map and verification is broadcast
    joins + array_intersect, so the only shuffles are the signature groupBy
    and the LSH band-bucket join — exactly the two that must exist.

    The shingle lineage is NOT persisted even though the DAG derives it three
    times (signature build + both verify sides): it is a narrow map over the
    scan and whole-stage-codegen'd, so recomputing is cheaper than
    materializing corpus × ~words shingle rows — and at 100 TB caching the
    shingle table is infeasible anyway; re-scan is the strategy that
    survives scale."""
    # Non-null ids are an input contract, enforced up front (r15). Pairs
    # can never contain a null id regardless (the bucket rollup's
    # collect_list skips nulls; the verify equi-joins drop them), so the
    # filter is output-invariant — what it buys is plan-level: the
    # verify side's candidate semi-join infers isnotnull(id) and pushes
    # it below the corpus lineage, while the signature side's copy used
    # to lack it, so the two copies of any corpus-widening exchange
    # canonicalized differently and ReuseExchange could not collapse
    # them — the corpus text was shuffled TWICE (guide §2.4). With the
    # constraint stated once here, both lineages carry it and the
    # widener is written once (ledger at sf0.1: 37,868 → 32,838 rec,
    # −29% shuffle bytes; the only observable shift is that an all-null-
    # id phantom row no longer counts toward bucket-cap sizes, which the
    # non-null contract makes unreachable).
    df = df.filter(f"{_q(id_col)} IS NOT NULL")
    shingled = with_word_shingles(df, id_col, text_col, k)
    # The signature aggregation is SKINNY on purpose (min() windows only,
    # classic partial-combining HashAggregate). The first implementation
    # packed collect_list(shingle) into the same aggregation so "every
    # consumer hangs off one reused exchange" — measured false at scale
    # (r12 two-decade ledger sweep): per-consumer column pruning
    # canonicalizes the three consumers differently, so the fat agg ran
    # up to 3× anyway, and at sf10 the list-building partial agg spilled
    # 1.48 GB while the fat frame crossed the broadcast threshold into
    # full-corpus SortMergeJoin sorts (0.94 GB more spill).
    sig = minhash_signature(shingled, id_col, num_hashes)
    pairs = lsh_candidate_pairs(
        sig, id_col, bands, num_hashes // bands,
        max_bucket_size=max_bucket_size, metrics_out=metrics_out,
    )
    # Build shingle arrays only for docs that appear in a candidate pair:
    # the row-local array map is filtered by a semi-join on the candidate
    # ids (Catalyst pushes the id-only semi below the array projection,
    # so non-candidates never tokenize). Since r15 the pair subtree has
    # exactly TWO static-plan consumers — the verify probe join and the
    # single-explode candidate_ids — both hanging off the one pairs
    # distinct exchange (the union-shaped cand_ids duplicated the pair
    # subtree per union branch, and the id_b pre-join inside the verify
    # re-derived it a fourth time; prefiltered=True drops that one
    # output-invariantly). r15 re-measured the alternative VERDICT r14
    # item 1 proposed
    # — verify from raw text joined once to the pairs, candidate subtree
    # appearing once instead of four times (static tree 68 → 12
    # Exchanges, stage census 38 → 25) — and REJECTED it: sf0.1
    # interleaved cached-plan A/B was flat (old 1.58 vs new 1.66 best —
    # the duplicated static subtrees cost almost nothing because
    # ReuseExchange dedupes their execution), while sf1 LOST 1.7× with
    # bimodal 60 s spikes (the second text join's build side carries
    # pairs×text — a fat broadcast that degrades to shuffling corpus
    # text when AQE mis-sizes it). The same text-verify reshape applied
    # to the batch-bounded incremental path also lost (sf0.1 2.03 → 2.59
    # best, sf1 flat). Per-doc candidate arrays + slim id-only
    # broadcasts remain the scale shape.
    arrays = with_shingle_array(df, id_col, text_col, k, out="__shingles").join(
        candidate_ids(pairs, id_col), id_col, "semi"
    )
    return jaccard_verify_arrays(
        arrays, pairs, id_col, threshold, "__shingles", prefiltered=True
    )


def build_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """The ingest-time MinHash index: (band_rows, shingle_arrays) for a
    corpus — the two lineages every incremental near-dup lookup needs.
    Production persists BOTH on disk with ``write_minhash_index`` and
    probes them with ``probe_minhash_index``: Spark's ReuseExchange only collapses duplicated subtrees whose
    canonical plans are identical, and per-consumer column pruning makes
    them differ, so an UN-persisted corpus lineage is recomputed once per
    plan consumer (measured: the self-contained incremental path pays ~6
    corpus passes). With the index materialized, a batch lookup touches
    the corpus zero times."""
    rows_per_band = num_hashes // bands
    sig = minhash_signature(
        with_word_shingles(df, id_col, text_col, k), id_col, num_hashes
    )
    band_rows = _lsh_band_rows(sig, id_col, bands, rows_per_band)
    arrays = with_shingle_array(df, id_col, text_col, k, out="__shingles")
    return band_rows, arrays


def minhash_near_dups_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
    metrics_out: list | None = None,
) -> DataFrame:
    """Incremental near-dup detection — the production mode at 100 TB: a
    new ingest batch is checked against the EXISTING corpus (and against
    itself) without ever re-pairing the corpus with itself. Corpus-corpus
    pairs were found when those docs were ingested; regenerating them every
    batch is the quadratic cost this operator exists to avoid.

    Output: (id_a, id_b, jaccard, match_source) with id_a always a batch
    doc; match_source is 'corpus' (id_b in corpus) or 'batch' (batch-
    internal pair, id_a < id_b). Ids SHOULD be disjoint across sides;
    an id present in both pairs with itself (jaccard 1.0) and is
    reported as a corpus match — the streaming near-dup gate's
    ``probe_minhash_index`` (pinned equal to this operator) relies on
    exactly this for replay idempotence (a re-delivered doc matches its
    stored copy and is rejected).

    Shape: both sides get the same shingle -> packed-signature lineage as
    ``minhash_near_dups``; candidate generation joins BATCH band rows
    against corpus band rows and against themselves — never corpus x
    corpus — so per-batch cost is ~|batch| x bucket-overlap, independent
    of corpus pair volume. At production scale the corpus band rows and
    shingle arrays are a persisted index (write them once per ingest with
    the batch's own signatures: the 'index' IS this lineage materialized,
    and the streaming gate probes exactly that with
    ``probe_minhash_index``); recomputing them here keeps the operator
    self-contained for one-shot checks such as the ``dedup_incremental``
    catalog row.
    The ``max_bucket_size`` skew guard counts the COMBINED (batch+corpus)
    bucket population: a viral corpus bucket joined by even one batch row
    would otherwise emit bucket_n pairs per batch doc."""
    # Index discipline (measured at 100k corpus rows, N=20 stress): an
    # un-materialized corpus lineage is recomputed once per plan consumer
    # — Spark's ReuseExchange only collapses subtrees whose CANONICAL
    # plans are identical, and per-consumer column pruning (one consumer
    # needs min-hash windows, another shingle arrays) makes every copy
    # unique, so this self-contained path pays ~6 corpus passes (~20 s,
    # 2x the full non-incremental pipeline at that scale). It stays for
    # bounded runs and one-shot jobs; production materializes the corpus
    # index ONCE at ingest (``write_minhash_index``) and probes it with
    # ``probe_minhash_index``, so a batch lookup touches the corpus
    # lineage zero times and its cost scales with the BATCH.
    # Same non-null-id contract as minhash_near_dups (r15): the verify
    # joins push isnotnull(id) below the arrays lineage but not the
    # bands lineage, which de-canonicalized the two copies of the corpus
    # widener exchange and shuffled the corpus text twice. Stating the
    # constraint once up front restores ReuseExchange (ledger at sf0.1:
    # 35,360 → 30,360 rec, −29% shuffle bytes; sf1 interleaved A/B mean
    # 2.45 → 2.34 s). Output-invariant: null-id rows can never reach the
    # output (the verify equi-joins drop them).
    batch = batch.filter(f"{_q(id_col)} IS NOT NULL")
    corpus = corpus.filter(f"{_q(id_col)} IS NOT NULL")
    b_bands, b_arrays = build_minhash_index(
        batch, id_col, text_col, k, num_hashes, bands
    )
    c_bands, c_arrays = build_minhash_index(
        corpus, id_col, text_col, k, num_hashes, bands
    )

    pairs = incremental_candidate_pairs(
        b_bands,
        c_bands,
        id_col,
        max_bucket_size=max_bucket_size,
        metrics_out=metrics_out,
        spark=batch.sparkSession,
    )
    arrays = b_arrays.unionByName(c_arrays)
    return verify_candidate_pairs(arrays, pairs, id_col, threshold)


def incremental_candidate_pairs(
    b_bands: DataFrame,
    c_bands: DataFrame,
    id_col: str,
    max_bucket_size: int | None = 1000,
    metrics_out: list | None = None,
    spark=None,
) -> DataFrame:
    """Candidate-generation half of ``minhash_near_dups_incremental``:
    batch band rows joined against (batch ∪ corpus) band rows under the
    combined bucket-size guard — never corpus × corpus. Split out (r6) so
    ``probe_minhash_index`` can take it as its overflow path and run an
    action on the candidates (collect the touched id-buckets) BEFORE
    deciding which corpus shingle arrays to read for verification; the
    one-plan path above composes it directly with
    ``verify_candidate_pairs``. When the corpus band rows are a pruned
    read (only buckets the batch probes), the guard's oversized counts
    cover the PROBED buckets — the buckets where pair suppression can
    actually happen this batch."""
    band_rows = b_bands.selectExpr("*", "'b' AS __side").unionByName(
        c_bands.selectExpr("*", "'c' AS __side")
    )
    # combined (batch+corpus) bucket population: a viral corpus bucket
    # joined by even one batch row would emit bucket_n pairs per doc. The
    # n >= 2 filter drops singleton buckets before the join.
    band_rows = _capped_bucket_rows(
        band_rows, max_bucket_size, metrics_out, spark
    )
    # ONE bucket join: batch rows against ALL rows
    a = band_rows.filter("__side = 'b'").selectExpr(
        "band_idx", "band_key", f"{_q(id_col)} AS id_a"
    )
    b = band_rows.selectExpr(
        "band_idx", "band_key", f"{_q(id_col)} AS id_b", "__side AS __side_b"
    )
    return _side_pairs(a, b).distinct()


def _side_pairs(a: DataFrame, b: DataFrame, *extra: str) -> DataFrame:
    """The batch × (batch ∪ corpus) band-bucket join: ``a`` holds batch
    rows as ``id_a``, ``b`` every row as ``id_b`` tagged ``__side_b``
    'b' or 'c'. Corpus-corpus pairs are excluded by the side predicate —
    never generated, never filtered out — and batch pairs keep
    id_a < id_b. ``extra`` are further output expressions."""
    return (
        a.join(b, ["band_idx", "band_key"])
        .filter("__side_b = 'c' OR (__side_b = 'b' AND id_a < id_b)")
        .selectExpr(
            "id_a",
            "id_b",
            "CASE WHEN __side_b = 'c' THEN 'corpus' ELSE 'batch' END AS match_source",
            *extra,
        )
    )


def verify_candidate_pairs(
    arrays: DataFrame, pairs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification half of the incremental pipeline, with
    PAIRS consumed exactly once: ``jaccard_verify_arrays`` joins the pair
    frame twice (probe + candidate-id semi-join), which duplicates the
    whole candidate subtree in the plan — tolerable when pairs is cheap,
    but here the pair tree holds the band join + bucket guard. The pair
    side is small by LSH construction, so AQE broadcasts it into both
    array joins and the (indexed or narrow-map) arrays are probed in
    place, never shuffled; match_source rides through."""
    sa = arrays.selectExpr(f"{_q(id_col)} AS id_a", "__shingles AS __sa")
    sb = arrays.selectExpr(f"{_q(id_col)} AS id_b", "__shingles AS __sb")
    return _jaccard_at_least(
        pairs.join(sa, "id_a").join(sb, "id_b"),
        threshold, "id_a", "id_b", "jaccard", "match_source",
    )


# -------------------------------------------------- persisted MinHash index ----
# ``build_minhash_index`` output on disk, in generations: the layout the
# streaming indexed gate (``streaming.start_neardup_gate_sink_indexed``)
# keeps. ``{index}/bands`` and ``{index}/arrays`` are each partitioned by
# ``__gate_batch`` (the generation) and then ``__bucket``, with the layout
# recorded in the ``GATE_META_FILE`` sidecar at the index root. Check,
# write and probe below are the only code that knows it.

#: Hash-bucket modulus of the index's band and shingle-array paths. It is
#: baked into every ``__bucket`` directory name, so it is part of the
#: on-disk layout, not a tuning knob.
GATE_BUCKETS = 64

#: Sidecar filename at the index root recording the on-disk layout.
GATE_META_FILE = "_gate_meta.json"

#: The one layout the index is read and written in: bucket-pruned band rows
#: AND shingle arrays under ``GATE_BUCKETS``. The sidecar holds exactly
#: this dict (key order included, so indexes written by earlier versions
#: open unchanged); any other recorded value fails fast.
GATE_META = {
    "layout": "bucketed-v1",
    "num_buckets": GATE_BUCKETS,
    "index_arrays": True,
}

#: Most candidate pairs ``probe_minhash_index`` collects through its lean
#: broadcast join; above it the probe takes the distributed, bucket-capped
#: ``incremental_candidate_pairs``.
INDEX_PROBE_CAND_CAP = 100_000

_BAND_BUCKET = f"pmod(xxhash64(band_idx, band_key), {GATE_BUCKETS})"


def _id_bucket(id_col: str) -> str:
    return f"pmod(xxhash64({_q(id_col)}), {GATE_BUCKETS})"


def minhash_index_paths(index_path: str) -> tuple[str, str]:
    """The (bands, arrays) directories of the index at ``index_path``."""
    root = index_path.rstrip("/")
    return root + "/bands", root + "/arrays"


def check_minhash_index(spark, index_path: str) -> None:
    """Record ``GATE_META`` in a fresh index's sidecar, or fail fast on an
    index that records any other layout — or has band rows but no
    sidecar: pruned reads under a different modulus or a missing arrays
    path would silently miss near-dups. Call it before the first write,
    so a later crash can never leave band rows without a sidecar."""
    meta_path = index_path.rstrip("/") + "/" + GATE_META_FILE
    raw = jvmseam.fs_read_utf8(spark, meta_path)
    meta = None if raw is None else json.loads(raw)
    fs, bands = jvmseam.hadoop_fs(spark, minhash_index_paths(index_path)[0])
    if meta is None and not fs.exists(bands):
        jvmseam.fs_write_utf8(spark, meta_path, json.dumps(GATE_META))
    elif meta != GATE_META:
        recorded = (
            f"no {GATE_META_FILE} beside its band rows"
            if meta is None
            else f"{GATE_META_FILE} = {json.dumps(meta)}"
        )
        raise ValueError(
            f"near-dup gate index at {index_path} has {recorded}; this "
            f"gate reads only {json.dumps(GATE_META)}. Rebuild the "
            "index from the store with build_minhash_index."
        )


def write_minhash_index(
    index_path: str,
    generation: int,
    bands: DataFrame,
    arrays: DataFrame,
    id_col: str,
) -> None:
    """Write ``build_minhash_index``'s (bands, arrays) as generation
    ``generation`` of the index at ``index_path``, each sub-partitioned by
    ``__bucket``: the band key's hash bucket for band rows, the doc id's
    for arrays.

    Each is a STATIC overwrite of the generation's own directory (the
    Hive-layout path readers discover as ``__gate_batch=G``), not a
    dynamic-partition overwrite of the whole path: the commit then never
    lists or stages the other generations (measured ~2× cheaper per write
    at a 256-partition index), and a rewrite wipes the ENTIRE directory
    of a partial earlier attempt instead of only the sub-partitions the
    new rows touch. Rows are clustered by bucket first so each bucket dir
    gets ~1 file per generation — without this every shuffle task holding
    rows for a bucket emits its own file, and the pruned reads this
    layout exists for drown in file-open overhead. Arrays are written
    first and bands LAST, so a crash in between leaves no band rows for
    the generation rather than band rows without arrays."""
    bands_path, arrays_path = minhash_index_paths(index_path)
    for df, path, bucket in (
        (arrays, arrays_path, _id_bucket(id_col)),
        (bands, bands_path, _BAND_BUCKET),
    ):
        (
            df.withColumn("__bucket", F.expr(bucket))
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(f"{path}/__gate_batch={int(generation)}")
        )


def _read_before(spark, path: str, generation: int, buckets: list) -> DataFrame:
    # generations strictly before ``generation``, pruned to ``buckets``
    return (
        spark.read.parquet(path)
        .filter(
            (F.col("__gate_batch") < generation) & F.col("__bucket").isin(buckets)
        )
        .drop("__gate_batch", "__bucket")
    )


def probe_minhash_index(
    index_path: str,
    generation: int,
    b_bands: DataFrame,
    b_arrays: DataFrame,
    id_col: str,
    threshold: float,
    persisted: list,
    metrics_out: list | None = None,
) -> DataFrame:
    """Verified near-dup pairs of a batch against the index's generations
    ``< generation``, with the output of ``minhash_near_dups_incremental``:
    (id_a, id_b, jaccard, match_source), id_a always a batch doc.
    ``b_bands``/``b_arrays`` are the batch's ``build_minhash_index``
    frames; the corpus text is never touched.

    Both index reads are bucket-pruned. Band rows are read only from the
    buckets the batch probes (a corpus row in any other bucket cannot
    equi-join a batch row). The candidate PAIRS then come to the driver
    through ONE broadcast-join action: the batch band rows broadcast
    against the pruned scan, no shuffle, no distinct (duplicates across
    bands dedupe driver-side). Shingle arrays are read only from the
    corpus candidates' id buckets — near-dup candidates are rare, so the
    verify read touches a handful of bucket directories. Two driver
    collects are bucket LISTS (≤ ``GATE_BUCKETS`` values each).

    Candidates are small by LSH construction; the limit
    ``INDEX_PROBE_CAND_CAP`` + 1 guards the collect. The lean path caps
    nothing — every candidate is verified exactly, so ``metrics_out``
    gets literal zeros. On overflow the probe falls back to the
    distributed ``incremental_candidate_pairs``, which applies the
    bucket-size cap and reports its real drops; those candidates are
    persisted and appended to ``persisted``, for the caller to unpersist
    after its last action on the pairs."""
    spark = b_bands.sparkSession
    bands_path, arrays_path = minhash_index_paths(index_path)
    probe_buckets = [
        r[0]
        for r in b_bands.selectExpr(f"{_BAND_BUCKET} AS __b").distinct().collect()
    ]
    c_bands = _read_before(spark, bands_path, generation, probe_buckets)
    a_rows = b_bands.selectExpr("band_idx", "band_key", f"{_q(id_col)} AS id_a")
    all_rows = b_bands.selectExpr(
        "band_idx", "band_key", f"{_q(id_col)} AS id_b", "'b' AS __side_b"
    ).unionByName(
        c_bands.selectExpr(
            "band_idx", "band_key", f"{_q(id_col)} AS id_b", "'c' AS __side_b"
        )
    )
    lean = _side_pairs(
        F.broadcast(a_rows), all_rows, f"{_id_bucket('id_b')} AS __b"
    )
    got_rows = lean.limit(INDEX_PROBE_CAND_CAP + 1).collect()
    if len(got_rows) <= INDEX_PROBE_CAND_CAP:
        cand = spark.createDataFrame(
            sorted({(r[0], r[1], r[2]) for r in got_rows}),
            lean.select("id_a", "id_b", "match_source").schema,
        )
        # corpus-side id buckets, free from the collected rows
        cand_buckets = sorted({r[3] for r in got_rows if r[2] == "corpus"})
        if metrics_out is not None:
            metrics_out.append(_oversized_metrics_row(spark))
    else:
        cand = incremental_candidate_pairs(
            b_bands, c_bands, id_col, metrics_out=metrics_out, spark=spark
        ).persist()
        persisted.append(cand)
        cand_buckets = [
            r[0]
            for r in cand.filter("match_source = 'corpus'")
            .selectExpr(f"{_id_bucket('id_b')} AS __b")
            .distinct()
            .collect()
        ]
    # [] ⇒ no corpus candidates at all this batch
    c_arrays = (
        _read_before(spark, arrays_path, generation, cand_buckets)
        if cand_buckets
        else b_arrays.limit(0)
    )
    return verify_candidate_pairs(
        b_arrays.unionByName(c_arrays), cand, id_col, threshold
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    min_docs: int = 2,
    top: int = 50,
) -> DataFrame:
    """Substring-level duplication candidates — the exact-substring dedup
    family (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better"): k-word spans appearing in >= ``min_docs`` DISTINCT
    documents, ranked by document frequency with an example (min-id)
    document per span. Doc-level dedup (exact/MinHash) misses a
    boilerplate paragraph shared by otherwise-different documents; this
    surfaces exactly those spans. Merging adjacent hit spans into maximal
    duplicated substrings is a downstream row-local step.

    Shape: the zero-shuffle shingle map (per-doc distinct spans, so
    count(*) == distinct-doc frequency) + ONE hash aggregate keyed on the
    span + TakeOrderedAndProject for the top-k — linear in corpus size,
    same discipline as the corpus n-gram stats."""
    sh = with_word_shingles(df, id_col, text_col, k, out="span")
    return (
        sh.groupBy("span")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min(id_col).alias("example_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), "span")
        .limit(top)
    )


# ------------------------------------------------------------- simhash ----

def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over word tokens, portable construction.

    Bit b of a token's hash = MSB of the b-th hex nibble of md5(token)
    (i.e. nibble ≥ 8) — pure string ops, bit-identical in Spark / DuckDB /
    Python, no hex→int conversion needed. Each bit votes ±1 per token
    occurrence; simhash bit b = 1 iff the vote sum is positive.

    Physical shape: explode(token) → explode(32 bit positions) → two hash
    aggregations — linear in corpus size, no cross join, shuffles on
    (id, bit) then (id). Input rides ``io.ensure_width`` with the byte
    floor (see textstats.bigram_surprise)."""
    df = ensure_width(df.select(id_col, text_col), min_bytes=_FANOUT_MIN_BYTES)
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    hashed = toks.withColumn("h", F.md5("tok"))
    bits = hashed.select(
        id_col,
        F.posexplode(F.split(F.substring("h", 1, 32), "(?!^)")).alias("bit", "nib"),
    ).withColumn(
        "vote", F.when(F.col("nib").isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1)
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    # pyspark's F.shiftleft only takes a literal shift amount; the SQL form
    # accepts a column expression.
    bit_value = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)) AS BIGINT)")
    return votes.groupBy(id_col).agg(
        F.sum(F.when(F.col("v") > 0, bit_value).otherwise(F.lit(0).cast("long")))
        .cast("bigint")
        .alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup PAIRS via hamming-distance bucketing (Manku et
    al., "Detecting Near-Duplicates for Web Crawling", WWW'07): the
    32-bit signature splits into ``bands`` contiguous bit-bands; any pair
    within hamming distance < bands shares at least one band EXACTLY
    (pigeonhole), so candidates are a (band_idx, band_value) equi-join —
    never all-pairs — and the verify is one ``bit_count(xor)`` per
    candidate. Requires ``max_hamming < bands`` for the pigeonhole
    guarantee (enforced).

    Band width trades selectivity for corpus size like the embedding
    blocker's bits: 32/bands bits per band gives 2^(32/bands) buckets, so
    the default (4 × 8-bit bands, 256 buckets) fits ~10³-10⁴ docs; at
    larger corpora use fewer/wider bands (bands=2 → 65,536 buckets but
    pigeonhole only covers hamming ≤ 1) or a wider signature. MinHash+LSH
    remains the primary near-dup path (Jaccard on shingles is a sharper
    similarity than 32-bit hamming); this is the cheap-signature
    alternative the SimHash family exists for."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < bands; got "
            f"max_hamming={max_hamming}, bands={bands}"
        )
    if 32 % bands:
        raise ValueError(f"bands must divide 32, got {bands}")
    sig = simhash32(df, id_col, text_col)
    bits_per = 32 // bands
    mask = (1 << bits_per) - 1
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"shiftright(simhash, {b * bits_per}) & {mask}").alias(
                    "band_val"
                ),
            )
            for b in range(bands)
        ]
    )
    bands_df = sig.select(
        F.col(id_col), F.col("simhash"), F.explode(band_arr).alias("bd")
    ).select(id_col, "simhash", "bd.band_idx", "bd.band_val")
    a, b = bands_df.alias("a"), bands_df.alias("b")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
        .withColumn("hamming", F.expr("CAST(bit_count(__sa ^ __sb) AS INT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -------------------------------------------------- embedding near-dup ----


# fold-vs-vectorized crossover for broadcast-side pair scoring, in PAIRS
# (|stream| × |broadcast|): below it a JVM zip_with/aggregate fold's
# zero-Python plan wins on fixed overhead (~1.3 s Python-stage floor for
# the mapInPandas path); above it the numpy matmul's ~1000× cheaper
# per-pair cost dominates. Measured r7 on 64-dim vectors at local[32]
# (SCALE.md); shared by embedding_contamination and brute_force_topk.
VECTORIZED_PAIR_CROSSOVER = 2_000_000


def vec_norm(v: Column) -> Column:
    """``sqrt(sum(v_i^2))`` — the self-norm factor of ``cosine_sim``,
    exposed so pair-scoring joins can compute it ONCE per vector (a
    row-local column on each join side) instead of once per PAIR.
    Bit-identical to the norms inside ``cosine_sim``: the same aggregate
    expression over the same array yields the same double whether it is
    evaluated per pair or materialized per row, so ``round(.., 4)``
    knife-edges cannot move (the r6 exact-decimal lesson applied to
    float reordering: don't reorder — hoist)."""
    return F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def dot_product(a: Column, b: Column) -> Column:
    """Element-wise dot product of two array<float|double> columns
    (zip_with + aggregate, sequential left-fold sum — the summation order
    every oracle's list_dot_product agrees with)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns with built-in
    higher-order functions (zip_with dot product + aggregate norms) — JVM-side,
    no Python round trip.

    Spark's higher-order array functions run INTERPRETED (outside
    whole-stage codegen), so the three 64-element folds here are the
    per-pair unit cost of every scorer. On an n×m pair stream use
    ``cosine_sim_prenorm`` with ``vec_norm`` columns hoisted onto each
    side — 1 fold per pair instead of 3, identical doubles (measured at
    sf1: contamination_embedding, SCALE.md r7 row)."""
    return dot_product(a, b) / (vec_norm(a) * vec_norm(b))


def cosine_sim_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine_sim`` with both self-norms precomputed (``vec_norm``
    hoisted to a per-row column on each join side before the pair join).
    Same expression tree per pair — ``dot/(na*nb)`` — so results are
    bit-identical to ``cosine_sim``; only the redundant per-pair norm
    folds disappear."""
    return dot_product(a, b) / (na * nb)


def _sign_bucket(v: Column, dims: list[int]) -> Column:
    """Deterministic sign-hyperplane bucket key over the given dims."""
    return F.concat_ws(
        "",
        *[
            (F.element_at(v, d + 1) >= 0).cast("int").cast("string")
            for d in dims
        ],
    )


def auto_multiprobe_params(
    emb: DataFrame,
    vec_col: str = "embedding",
    target_bucket_size: int = 80,
    block_bits: int | None = None,
    tables: int | None = None,
) -> tuple[int, int]:
    """Derive (block_bits, tables) from the corpus itself — the measured
    sizing rule (r4, SCALE.md) promoted from docstring guidance to the
    DEFAULT (VERDICT r4 item 2): one cheap aggregate reads corpus count
    and vector width, then

      block_bits = max(4, ceil(log2(n / target_bucket_size)))   (≤ dim)
      tables     = max(1, min(8, dim // block_bits))

    Bucket occupancy is ~n/2^block_bits per table, so holding occupancy
    near ``target_bucket_size`` keeps candidate volume ~tables·n·target/2
    — linear in n by construction. Tables scale WITH bits because miss
    probability is (1 − p^bits)^tables: deeper buckets are more
    selective per table, so recall needs more independent tables. At the
    measured 20k-vector/64-dim stress this yields exactly the fast
    configuration (8 bits, 8 tables): 21.6 s / recall 0.994 where the
    old fixed (4, 4) ran 182 s at recall 0.989. The dim cap keeps
    axis-subset tables in range (tables·block_bits ≤ dim — beyond it,
    element_at returns NULL and concat_ws silently shortens keys).

    Mixed explicit/derived calls resolve against each other, not against
    the fully-auto values: an explicit ``block_bits`` makes the derived
    tables = max(1, min(8, dim // block_bits)) — deriving tables from
    the AUTO bits instead would let explicit-deep buckets silently
    exceed dim (review r5) — and an explicit ``tables`` clamps the
    derived bits to dim // tables. An explicit value that can't fit the
    vector width at all (tables > dim, or block_bits > dim) raises:
    out-of-range dims silently truncate every bucket key toward one
    global bucket, the quadratic blowup the sizing exists to prevent."""
    import math

    n, dim = emb.agg(
        F.count(F.lit(1)), F.min(F.size(F.col(vec_col)))
    ).first()
    if not n or not dim:
        return (
            block_bits if block_bits is not None else 4,
            tables if tables is not None else 1,
        )
    dim = int(dim)
    if block_bits is not None and block_bits > dim:
        raise ValueError(
            f"block_bits={block_bits} exceeds the vector dim {dim}; keys "
            "would silently truncate (element_at past the end is NULL)"
        )
    if tables is not None and tables > dim:
        raise ValueError(
            f"tables={tables} exceeds the vector dim {dim}; even 1-bit "
            "tables cannot fit (tables*block_bits must be <= dim)"
        )
    if (
        block_bits is not None
        and tables is not None
        and block_bits * tables > dim
    ):
        raise ValueError(
            f"tables*block_bits = {tables}*{block_bits} exceeds the vector "
            f"dim {dim}; axis-subset tables past the end produce "
            "silently-truncated keys"
        )
    if block_bits is None:
        bits = max(4, math.ceil(math.log2(max(n, 1) / target_bucket_size)))
        bits = min(bits, dim)
        if tables is not None:
            # explicit tables: the derived bits must still fit the dims
            bits = max(1, min(bits, dim // max(tables, 1)))
    else:
        bits = block_bits
    if tables is None:
        tables = max(1, min(8, dim // max(bits, 1)))
    return bits, tables


def embedding_near_dups_multiprobe(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_bits: int | None = None,
    tables: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTI-TABLE sign-bucket blocking
    — the recall fix for the single-blocking ``embedding_near_dups``
    (VERDICT r3 item 2): one sign-bucket table misses any pair whose
    vectors straddle one of its hyperplanes (near-zero components flip
    sign under perturbation), and unlike LSH banding it has no
    false-negative bound. Here table t buckets on the signs of dims
    [t·block_bits, (t+1)·block_bits); a pair is a candidate if it shares
    its bucket in ANY table, so a miss needs a sign flip in EVERY table —
    the band-OR construction of MinHash-LSH applied to dense vectors.
    Measured on the embeddings testdata (64 dims, +0.03 perturbed copies,
    threshold 0.95): single-table recall 0.62, 4-table recall 1.00 vs the
    ``embedding_near_dups(block_bits=0)`` exact baseline
    (tests/test_dedup.py::test_multiprobe_embedding_recall; SCALE.md).

    Physical shape: one posexplode to (id, table, bucket) rows — ``tables``
    rows per vector, a narrow map — then a bucket equi-join for candidate
    pairs (distinct), then vectors join back for the exact cosine verify.
    All equi-joins; no corpus crossJoin on any path; scales like the LSH
    text pipeline. Requires ``tables · block_bits ≤ dim`` (out-of-range
    dims make element_at return NULL and concat_ws silently shortens the
    key, degrading selectivity, not correctness).

    SIZING: bucket occupancy is ~n/2^block_bits per table, so candidate
    volume grows as tables · n²/2^(block_bits+1) — fixed bits means
    quadratic candidates once n outgrows the bucket count (measured at
    20k vectors: (4,4) = 16 buckets/table took 182 s where (8,8) took
    21.6 s at HIGHER recall, 0.994 vs 0.989). Since round 5 the default
    (``block_bits=None``/``tables=None``) COMPUTES itself from a cheap
    corpus count at plan-build time via ``auto_multiprobe_params`` —
    block_bits ≈ log2(n / target_bucket_size), tables capped so
    tables·block_bits ≤ dim (miss probability is (1 − p^bits)^tables for
    per-dim sign-stability p; p ≈ 0.9 for the +0.03 perturbation here).
    Pass explicit values to pin a configuration (the catalog gate query
    does, so its oracle replays the same buckets). Passing BOTH
    explicitly skips the sizing aggregate entirely — deliberately
    action-free, so the caller owns the tables·block_bits ≤ dim
    invariant on that path (mixed and auto calls are validated; route
    through ``auto_multiprobe_params`` to validate an explicit pair
    against a corpus)."""
    if block_bits is None or tables is None:
        block_bits, tables = auto_multiprobe_params(
            emb, vec_col, block_bits=block_bits, tables=tables
        )
    tbl = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.array(
                *[
                    _sign_bucket(
                        F.col(vec_col),
                        list(range(t * block_bits, (t + 1) * block_bits)),
                    )
                    for t in range(tables)
                ]
            )
        ).alias("tbl", "bk"),
    )
    a, b = tbl.alias("a"), tbl.alias("b")
    pairs = (
        a.join(b, ["tbl", "bk"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        vec_norm(F.col(vec_col)).alias("__na"),
    )
    vb = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        vec_norm(F.col(vec_col)).alias("__nb"),
    )
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
                ),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_near_dups(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, block_bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    DEFAULT is the scale-safe blocked path (block_bits=4): rows are bucketed
    by the signs of `block_bits` leading dimensions (a deterministic
    hyperplane family), and only same-bucket pairs are compared — the LSH
    analog for dense vectors, a bucket equi-join instead of corpus².
    ``block_bits=0`` requests the exact all-pairs crossJoin: a correctness
    baseline you must opt into explicitly — it cannot be reached by
    default, because at 100 TB it is a scale-killer (VERDICT r1 item 6).

    Recall caveat: ONE blocking table misses any pair straddling one of
    its hyperplanes (measured 0.62 on perturbed copies — see
    ``embedding_near_dups_multiprobe``, which unions candidates from
    several independent dim-subset tables and is the production-recall
    path)."""
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        vec_norm(F.col(vec_col)).alias("__na"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        vec_norm(F.col(vec_col)).alias("__nb"),
    )
    if block_bits:
        # signs of the first block_bits dims: a crude but deterministic
        # hyperplane family adequate for bucketing
        dims = list(range(block_bits))
        a = a.withColumn("bk", _sign_bucket(F.col("va"), dims))
        b = b.withColumn("bk", _sign_bucket(F.col("vb"), dims))
        joined = a.join(b, "bk").drop("bk")
    else:
        # CartesianProduct schedules left×right SPLIT-COUNT tasks, and the
        # split count comes from the FILE, not the filtered row count — a
        # bounded baseline query over a big corpus file (16 splits/side)
        # paid 256 near-empty tasks, and the r10 canonical split layout
        # (32 files/table) would pay 1024 (measured: 4.6 s of scheduling
        # floor for 400 surviving rows at sf10). Repartition each side to
        # ~√parallelism so the product lands at ~session parallelism: the
        # exchange moves only post-filter rows (tiny for the baseline's
        # bounded inputs; linear — and condemned anyway — for a big
        # opt-in input, where this path is documented as the scale-killer
        # you must ask for).
        import math

        side = max(1, math.ceil(math.sqrt(
            emb.sparkSession.sparkContext.defaultParallelism
        )))
        joined = a.repartition(side).crossJoin(b.repartition(side))
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("va"), F.col("vb"), F.col("__na"), F.col("__nb")
                ),
                4,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def mask_spans(
    df: DataFrame,
    spans: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "masked_text",
) -> DataFrame:
    """Exact-substring dedup TRANSFORMATION (Lee et al. 2021 §4): remove
    every occurrence of the given duplicated spans from each document.
    ``spans`` is the bounded output of ``duplicated_spans`` (top-k by doc
    frequency — a model parameter, same contract as k-means centroids),
    applied longest-first so an overlapping shorter span cannot break a
    longer one before it is removed, then whitespace is re-collapsed.

    Row-local: the span list compiles into a chain of replace() calls in
    ONE codegen'd projection — zero shuffles, zero UDFs, linear at any
    corpus size. Masking is on lower(trim(text)) — the same normalized
    surface the span mining runs on. NOT idempotent by construction: the
    whitespace collapse can butt two fragments into a fresh occurrence
    ('a a b b' with span 'a b' → 'a b'); run a second mine+mask round if
    residual spans matter, exactly like chained str.replace would."""
    expr = F.lower(F.trim(F.col(text_col)))
    for s in sorted(spans, key=len, reverse=True):
        expr = F.replace(expr, F.lit(s), F.lit(" "))
    expr = F.trim(F.regexp_replace(expr, r"\s+", " "))
    return df.withColumn(out_col, expr)


def minhash_estimate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """MinHash as an ESTIMATOR, not just a bucketer: for every verified
    near-dup pair, emit the signature-agreement estimate
    ``matching components / num_hashes`` alongside the exact Jaccard —
    E[agreement] = J(a,b), the classic MinHash identity. This is the
    diagnostic pipelines use to TUNE the (hashes, bands) budget: when
    estimates track exact Jaccard tightly at 8 hashes the budget is
    right; systematic spread says add hashes before trusting LSH recall
    math at a new threshold. At 100 TB the estimate is also what a
    verify-free fast path would ship (signatures only, corpus text never
    re-joined) — this surface measures exactly what that would cost in
    accuracy.

    Same skinny-signature + candidate-restricted packing shape as
    ``minhash_near_dups`` (see the r12 rationale there: the old ONE
    packed aggregation recomputed per pruned consumer and sort-spilled
    at sf10); the estimate is a row-local zip over the two 8-element
    signature arrays on the already-verified pair set. est_e4 is
    integer-exact (matches * 10000 div num_hashes)."""
    shingled = with_word_shingles(df, id_col, text_col, k)
    sig = minhash_signature(shingled, id_col, num_hashes)
    pairs = lsh_candidate_pairs(
        sig, id_col, bands, num_hashes // bands, max_bucket_size=max_bucket_size
    )
    arrays = (
        shingled.join(candidate_ids(pairs, id_col), id_col, "semi")
        .groupBy(id_col)
        .agg(F.expr("collect_list(shingle) AS __shingles"))
    )
    verified = jaccard_verify_arrays(
        arrays, pairs, id_col, threshold, "__shingles", prefiltered=True
    )
    sa = sig.selectExpr(f"{_q(id_col)} AS id_a", "sig AS __sa")
    sb = sig.selectExpr(f"{_q(id_col)} AS id_b", "sig AS __sb")
    return verified.join(sa, "id_a").join(sb, "id_b").selectExpr(
        "id_a",
        "id_b",
        "jaccard",
        "CAST(floor(size(filter(zip_with(__sa, __sb, (x, y) -> x = y), m -> m))"
        f" * 10000 / {num_hashes}) AS BIGINT) AS minhash_est_e4",
    )
