"""Aggregation / analytics layer — SURVEY.md §2.6–§2.8 (A1–A8, O1–O6, U1–U3).

These feed the reference's dashboard surface (README.md:84-94): sentiment
distribution, trends over time, per-region breakdowns, engagement stats,
top-k tokens.  Everything is declarative groupBy/agg/window — partial
aggregation (map-side combine) and AQE coalescing come free from Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def frequency(df: DataFrame, col: str) -> DataFrame:
    """A3 value_counts (notebook cells 11/15): deterministic order."""
    return (
        df.groupBy(col)
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc(col))
    )


def conditional_rollup(df: DataFrame, preds: dict[str, Column]) -> DataFrame:
    """A5 single-pass multi-predicate counts
    (fix_unprocessed_monthly_tweets.py:204-211)."""
    return df.agg(
        *[F.sum(F.when(p, 1).otherwise(0)).cast("bigint").alias(name) for name, p in preds.items()]
    )


def daily_trend(df: DataFrame, ts_col: str, category_col: str) -> DataFrame:
    """A8 trend: per-day × category counts."""
    return (
        df.groupBy(
            F.to_date(F.col(ts_col)).alias("day"), F.col(category_col)
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("day", category_col)
    )


def top_k_tokens(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """A8 top keywords: explode(split(lower(text))) → count → top-k with total
    tie-break. At scale this is the classic skew-prone agg — partial
    aggregation handles it; the final top-k is a tiny sorted limit."""
    return (
        df.select(F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def item_cooccurrence(
    df,
    user_col: str,
    item_col: str,
    min_co_users: int = 2,
    max_items_per_user: int | None = 200,
):
    """Item co-occurrence mining — the item2item collaborative-filtering /
    basket-analysis shape: for every item pair, how many users touched
    BOTH, with the lift ``P(a,b) / (P(a)·P(b))`` that separates genuine
    affinity from two items being individually popular.

    Scale shape: the quadratic step is the self-join of the DISTINCT
    (user, item) set on user — a power user with u items mints u²/2
    pairs, the same blow-up mode as a viral LSH bucket, so the
    ``max_items_per_user`` guard caps each user's contribution to a
    deterministic md5-ordered subset (None disables; the cap device and
    its rationale mirror dedup's ``max_bucket_size``). Everything else
    is bounded aggregates; lift's denominators ride a broadcast item-
    count table and a 1-row user total.

    Emits (item_a, item_b, co_users, lift_e4) for pairs with
    ``co_users >= min_co_users``."""
    from pyspark.sql import Window

    ui = df.select(F.col(user_col).alias("u"), F.col(item_col).alias("i")).distinct()
    if max_items_per_user is not None:
        w = Window.partitionBy("u").orderBy(F.md5(F.col("i").cast("string")), "i")
        ui = (
            ui.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_items_per_user)
            .drop("__rn")
        )
    a = ui.select("u", F.col("i").alias("item_a"))
    b = ui.select("u", F.col("i").alias("item_b"))
    co = (
        a.join(b, "u")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_users"))
        .filter(F.col("co_users") >= min_co_users)
    )
    item_users = ui.groupBy("i").agg(F.count(F.lit(1)).alias("__iu"))
    total = ui.agg(F.countDistinct("u").alias("__n"))
    ia = item_users.select(F.col("i").alias("item_a"), F.col("__iu").alias("__ua"))
    ib = item_users.select(F.col("i").alias("item_b"), F.col("__iu").alias("__ub"))
    return (
        co.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "co_users",
            F.floor(
                F.col("co_users")
                * F.col("__n")
                / (F.col("__ua") * F.col("__ub"))
                * 10000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("lift_e4"),
        )
        .orderBy("item_a", "item_b")
    )
