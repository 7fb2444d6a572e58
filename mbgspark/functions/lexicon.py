"""Deterministic lexicon sentiment classifier — SURVEY.md §2.10 X1 fallback.

The reference's sentiment stage is a HuggingFace model (utils.py:53-92) —
heavyweight and environment-dependent, so correctness tests use a
lexicon-backed classifier with the SAME output contract
``(label string, confidence_score double)`` and the same error semantics:
null/empty text → ('neutral', 0.0) (utils.py:81-92), input truncated to 512
chars (utils.py:85-86).  Score = matched_tokens / total_tokens (FIXTURES.md §4).

Pure column expressions (no UDF): tokens via split, polarity via
higher-order-function filters. A lambda is interpreted (``filter`` is a
CodegenFallback expression), so the projection holding the filters runs
outside whole-stage codegen; no Python runs per row, and the rule is
reproducible in an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Testdata-vocabulary lexicon (used by the oracle query set).
POSITIVE = ("fast", "big", "vector", "spark")
NEGATIVE = ("slow", "small", "dup", "error")

# Indonesian lexicon for the tweet pipeline (FIXTURES.md §4).
# note: "gratis" is deliberately absent — it's part of the program's own
# name (Makan Bergizi Gratis), not a sentiment signal
POSITIVE_ID = ("bagus", "sehat", "berhasil", "baik", "mantap")
NEGATIVE_ID = ("gagal", "korupsi", "buruk", "basi", "keracunan", "rugi")


def token_hits(tokens_col_name: str, words: tuple[str, ...]) -> Column:
    """Occurrence count of lexicon words in a tokens array column (by name)."""
    in_list = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter({tokens_col_name}, t -> t IN ({in_list})))")


def with_lexicon_sentiment(
    df,
    text_col: str = "text",
    positive: tuple[str, ...] = POSITIVE,
    negative: tuple[str, ...] = NEGATIVE,
):
    """Add tokens/pos_hits/neg_hits/label/confidence_score columns.

    Truncation to 512 chars mirrors utils.py:85-86; empty → neutral/0.0
    mirrors utils.py:81-92.
    """
    # null text → '' so size()/division guards see 1 empty token, not null
    # (reference: missing text → ('NEUTRAL', 0.0), utils.py:81-92).
    # Three staged selects, not 8 withColumns: every Dataset creation
    # re-runs the analyzer over the whole upstream plan, so batching the
    # column additions cuts the driver-side build cost of callers that
    # stack this onto an already-wide lineage.
    cols = df.columns
    toks = df.select(
        "*",
        F.split(
            F.lower(F.trim(F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, 512))),
            " ",
        ).alias("__tokens"),
    )
    hits = toks.select(
        "*",
        token_hits("__tokens", positive).cast("bigint").alias("pos_hits"),
        token_hits("__tokens", negative).cast("bigint").alias("neg_hits"),
        F.size("__tokens").cast("bigint").alias("total_tokens"),
    )
    return hits.select(
        *cols,
        "pos_hits",
        "neg_hits",
        "total_tokens",
        lexicon_label().alias("label"),
        lexicon_score().alias("confidence_score"),
    )


def lexicon_label() -> Column:
    return (
        F.when(F.col("total_tokens") <= 0, F.lit("neutral"))
        .when(F.col("pos_hits") > F.col("neg_hits"), F.lit("positive"))
        .when(F.col("pos_hits") < F.col("neg_hits"), F.lit("negative"))
        .otherwise(F.lit("neutral"))
    )


def lexicon_score() -> Column:
    return F.round(
        F.when(F.col("total_tokens") <= 0, F.lit(0.0)).otherwise(
            (F.col("pos_hits") + F.col("neg_hits")) / F.col("total_tokens")
        ),
        4,
    )
