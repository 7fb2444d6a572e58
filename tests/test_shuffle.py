"""Deterministic corpus shuffle + balanced shard assignment."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from mbgspark.operators.shuffle import deterministic_shuffle_shards


def _expected_ntile(ids, seed, n_shards):
    keyed = sorted(
        (hashlib.md5(f"{seed}|{i}".encode()).hexdigest(), i) for i in ids
    )
    n = len(keyed)
    q, r = divmod(n, n_shards)
    out = {}
    for z, (_k, i) in enumerate(keyed):
        if z < (q + 1) * r:
            out[i] = z // (q + 1) + 1
        else:
            out[i] = r + (z - (q + 1) * r) // max(q, 1) + 1
    return out


def test_shards_match_exact_ntile_and_balance(spark):
    """The distributed bucket-offset plan must reproduce the naive
    ntile() OVER (ORDER BY md5key) bit-for-bit, with ±1 balanced shards.
    503 rows / 7 shards exercises the remainder (503 = 7*71 + 6)."""
    ids = list(range(503))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    out = deterministic_shuffle_shards(df, "doc_id", "s1", 7)
    got = {r["doc_id"]: r["shard"] for r in out.collect()}
    assert got == _expected_ntile(ids, "s1", 7)
    sizes = sorted(
        r["c"] for r in out.groupBy("shard").agg(F.count("*").alias("c")).collect()
    )
    assert sizes == [71, 72, 72, 72, 72, 72, 72]


def test_shuffle_seeded_and_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id bigint")
    a = {r["doc_id"]: (r["shard"], r["shuffle_key"])
         for r in deterministic_shuffle_shards(df, "doc_id", "x", 4).collect()}
    b = {r["doc_id"]: (r["shard"], r["shuffle_key"])
         for r in deterministic_shuffle_shards(df, "doc_id", "x", 4).collect()}
    c = {r["doc_id"]: (r["shard"], r["shuffle_key"])
         for r in deterministic_shuffle_shards(df, "doc_id", "y", 4).collect()}
    assert a == b          # reproducible
    assert a != c          # a new seed reshuffles
    # fewer rows than shards: ntile gives the first n shards one row each
    tiny = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    got = sorted(
        r["shard"]
        for r in deterministic_shuffle_shards(tiny, "doc_id", "s", 5).collect()
    )
    assert got == [1, 2]


def test_shuffle_plan_has_no_global_corpus_sort(spark):
    """The scale pin (VERDICT r3 item 6): rank comes from a window
    PARTITIONED BY the key-prefix bucket plus broadcast offsets — the
    corpus is never globally sorted (no global=true Sort in the plan) and
    the only single-partition step is the tiny per-bucket offsets
    rollup."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id bigint")
    out = deterministic_shuffle_shards(df, "doc_id", "s", 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "global=true" not in plan
    assert "windowspecdefinition(__bk" in plan  # rank is bucket-partitioned


def test_budget_sample_nested_and_exact(spark):
    from pyspark.sql import functions as F

    from mbgspark.operators.shuffle import budget_sample

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 10).alias("w")
    )
    small = budget_sample(df, "doc_id", "w", budget=3000, seed="z")
    big = budget_sample(df, "doc_id", "w", budget=9000, seed="z")
    s_ids = {r["doc_id"] for r in small.select("doc_id").collect()}
    b_rows = {r["doc_id"]: r["cum_weight"] for r in big.collect()}
    # nested: the smaller budget's sample is a subset of the larger's
    assert s_ids <= set(b_rows)
    # exact: every kept row's inclusive cumsum respects the budget, and
    # total weight of the big sample is within one max-weight of 9000
    assert all(v <= 9000 for v in b_rows.values())
    total = sum(
        r["w"] for r in df.filter(F.col("doc_id").isin(list(b_rows))).collect()
    )
    assert 9000 - 107 <= total <= 9000
    # partitioning-independent
    again = {
        r["doc_id"]
        for r in budget_sample(df.repartition(7), "doc_id", "w", 3000, seed="z")
        .select("doc_id").collect()
    }
    assert again == s_ids


def test_budget_sample_no_global_sort(spark):
    from pyspark.sql import functions as F

    from mbgspark.operators.shuffle import budget_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        budget_sample(df, "doc_id", "n_chars", 10000)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus-wide windows are partitioned by bucket; the only
    # unpartitioned window runs over the <=65k aggregated bucket rows
    assert "windowspecdefinition(__bk" in plan


def test_weighted_sample_is_weight_proportional_and_deterministic(spark):
    """A-ES derandomized: same (seed, corpus) -> identical sample; across
    many seeds, 10x-weighted items are drawn far more often than
    1x-weighted ones (the probability contract); zero-weight rows never
    appear."""
    from pyspark.sql import functions as F

    from mbgspark.operators.shuffle import weighted_sample_topn

    rows = [(i, 10 if i < 50 else 1) for i in range(100)] + [(1000, 0)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")

    s1 = weighted_sample_topn(df, "id", "w", n=20, seed="a").collect()
    s2 = weighted_sample_topn(df, "id", "w", n=20, seed="a").collect()
    assert [r["id"] for r in s1] == [r["id"] for r in s2]
    assert all(r["id"] != 1000 for r in s1)

    heavy = 0
    for seed in range(12):
        got = weighted_sample_topn(df, "id", "w", n=20, seed=str(seed)).collect()
        assert len(got) == 20
        heavy += sum(1 for r in got if r["id"] < 50)
    # expectation: heavy items (10x weight, half the corpus) dominate the
    # draw; 12 seeds x 20 draws = 240, heavy expectation ~> 200; require
    # a wide-margin majority to keep the test noise-proof
    assert heavy >= 170, heavy


def test_weighted_sample_is_nested_in_n(spark):
    """Same seed: the top-n sample is a strict prefix-superset chain in
    n — the property that makes sample-size ladders comparable (the
    A-ES key ordering is fixed; n only moves the cut)."""
    rows = [(i, (i % 13) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    from mbgspark.operators.shuffle import weighted_sample_topn

    prev: set = set()
    for n in (10, 25, 60, 120):
        cur = {
            r["id"] for r in weighted_sample_topn(df, "id", "w", n=n, seed="x").collect()
        }
        assert len(cur) == n
        assert prev <= cur
        prev = cur
