"""Profiling/diagnostics operator tests: functional edge cases the sf
parquet can't produce (nulls, tiny groups, boundary buckets) plus the
100 TB plan-shape pins for the new suite."""

from unittest.mock import patch

from pyspark.sql import functions as F

from mbgspark.operators import curation
from mbgspark.operators.curation import embedding_contamination
from mbgspark.operators.profiling import (
    group_sample,
    heavy_hitters,
    length_histogram,
    profile_table,
    split_assign,
)
from mbgspark.operators.textstats import gopher_quality_filter

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ------------------------------------------------------------ profiler ----


def test_profile_table_nulls_and_metrics(spark):
    df = spark.createDataFrame(
        [(1, "aa"), (2, None), (3, "bbbb"), (None, "aa")],
        "k: int, s: string",
    )
    rows = {r["column_name"]: r for r in profile_table(df, ["k", "s"]).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_null"] == 1
    assert rows["k"]["n_distinct"] == 3
    assert rows["k"]["min_val"] == "1" and rows["k"]["max_val"] == "3"
    assert rows["k"]["avg_len_e2"] == 100  # "1","2","3" are 1 char each
    assert rows["s"]["n_null"] == 1 and rows["s"]["n_distinct"] == 2
    # (2+2+4)/3 * 100 = 266.67 -> 267 half-up
    assert rows["s"]["avg_len_e2"] == 267


def test_profile_table_is_single_scan(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    plan = _plan(profile_table(df, ["o_custkey", "o_orderstatus"]))
    # multi-distinct compiles to ONE scan + Expand, not one scan per column
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


# -------------------------------------------------------- heavy hitters ----


def test_heavy_hitters_exact_shares(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 6 + ["b"] * 3 + ["c"]], "k: string"
    )
    out = heavy_hitters(df, "k", k=2).collect()
    assert [(r["k"], r["cnt"], r["share_ppm"]) for r in out] == [
        ("a", 6, 600000),
        ("b", 3, 300000),
    ]


def test_heavy_hitters_no_unpartitioned_window(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(heavy_hitters(df, "l_suppkey", k=20))
    # total joins in as a broadcast single-row agg, not a global window
    # funnelling every distinct key through one task
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


# --------------------------------------------------------- split assign ----


def test_split_assign_first_match_wins_and_total(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id")
    counts = {r["split"]: r["cnt"] for r in
              out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(counts.values()) == 2000
    # md5 is uniform: 90/5/5 within generous tolerance at n=2000
    assert 1700 < counts["train"] < 1900
    assert 40 < counts["val"] < 180
    assert 40 < counts["test"] < 180
    # determinism: same assignment on re-run and independent of partitioning
    again = {r["split"]: r["cnt"] for r in
             split_assign(df.repartition(7), "doc_id")
             .groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert again == counts


def test_split_assign_is_row_local(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(split_assign(df, "doc_id"))
    assert "Exchange" not in plan  # zero shuffles


def test_split_assign_salt_draws_independent_assignment(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = split_assign(df, "doc_id").select("doc_id", "split")
    b = split_assign(df, "doc_id", salt="v2").select(
        "doc_id", F.col("split").alias("split_b")
    )
    moved = a.join(b, "doc_id").filter(F.col("split") != F.col("split_b")).count()
    assert moved > 0


# --------------------------------------------------------- group sample ----


def test_group_sample_deterministic_and_bounded(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet")
    out = group_sample(df, "lang", "doc_id", k=3)
    sizes = out.groupBy("lang").agg(F.count("*").alias("c")).collect()
    assert all(r["c"] <= 3 for r in sizes)
    ids1 = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    ids2 = sorted(
        r["doc_id"]
        for r in group_sample(df.repartition(11), "lang", "doc_id", k=3)
        .select("doc_id").collect()
    )
    assert ids1 == ids2


# ----------------------------------------------------- length histogram ----


def test_length_histogram_exact_bit_buckets(spark):
    df = spark.createDataFrame(
        [(0,), (1,), (2,), (3,), (4,), (1023,), (1024,), (None,)],
        "n: int",
    )
    out = {r["len_bucket"]: (r["cnt"], r["total_len"])
           for r in length_histogram(df, "n").collect()}
    assert out[0] == (2, None) or out[0][0] == 2  # 0 and NULL both bucket 0
    assert out[1] == (1, 1)          # 1 -> bit length 1
    assert out[2] == (2, 5)          # 2,3
    assert out[3] == (1, 4)          # 4
    assert out[10] == (1, 1023)      # 1023 -> 10 bits
    assert out[11] == (1, 1024)      # 1024 -> 11 bits (exact boundary)


# ------------------------------------------- embedding decontamination ----


def test_embedding_contamination_broadcasts_bench(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    bench = e.filter(F.col("vec_id") % 50 == 0)
    df = embedding_contamination(corpus, bench, "vec_id", "embedding", 0.3)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # map-side partial max: the shuffle carries one row per corpus vector
    assert "partial_max" in plan


def test_embedding_contamination_flags_planted_copy(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    bench = e.filter(F.col("vec_id") < 3)
    # plant an exact copy of bench vector 1 into the corpus
    corpus = e.filter(F.col("vec_id").isin([1, 10, 11])).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    out = {r["vec_id"]: r for r in
           embedding_contamination(corpus, bench, "vec_id", "embedding", 0.99)
           .collect()}
    assert out[1001]["is_contaminated"] == 1
    assert out[1001]["max_bench_sim"] == 1.0


def _contamination(corpus, bench, vectorized):
    """``embedding_contamination`` (threshold 0.30) on one forced path: a
    pair crossover of 0 picks the numpy matmul, an unreachable one the
    fold. Only the fold joins (its bench broadcast nested loop), so that
    plan marker makes a patch that stops steering fail."""
    crossover = 0 if vectorized else float("inf")
    with patch.object(curation, "_VECTORIZED_PAIR_CROSSOVER", crossover):
        df = embedding_contamination(corpus, bench, "vec_id", "embedding", 0.30)
    assert ("NestedLoopJoin" in _plan(df)) != vectorized
    return df


def _sims(df):
    return {
        r["vec_id"]: (r["max_bench_sim"], r["is_contaminated"])
        for r in df.collect()
    }


def test_embedding_contamination_vectorized_matches_fold(spark):
    """The numpy-matmul path is a physical rewrite only: every
    (max_bench_sim, is_contaminated) pair equals the fold path's after the
    shared round-4 surface (raw sums may differ in the last ulp)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    bench = e.filter(F.col("vec_id") % 50 == 0)
    fold = _sims(_contamination(corpus, bench, vectorized=False))
    assert fold == _sims(_contamination(corpus, bench, vectorized=True))


def test_embedding_contamination_vectorized_plan_has_no_pairs(spark):
    """The vectorized plan is pair-free: no join of any kind, one
    Python (Arrow) stage, null corpus vectors pass through as null rows,
    and an empty bench yields an empty frame (inner-cross-join contract)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 50 != 0).withColumn(
        "embedding",
        F.when(F.col("vec_id") == 1, F.lit(None)).otherwise(F.col("embedding")),
    )
    bench = e.filter(F.col("vec_id") % 50 == 0)
    df = _contamination(corpus, bench, vectorized=True)
    plan = _plan(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    rows = {r["vec_id"]: r for r in df.collect()}
    assert rows[1]["max_bench_sim"] is None
    assert rows[1]["is_contaminated"] is None
    # zero bench rows: the vectorized body returns its empty frame
    # before any Python stage
    empty = _contamination(corpus, bench.limit(0), vectorized=True)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "vec_id", "max_bench_sim", "is_contaminated",
    ]


def test_embedding_contamination_auto_crossover(spark):
    """The operator picks the fold below the measured pair crossover (this
    corpus) — pinned via the module constant so a future re-measurement
    updates one number, not this test."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    bench = e.filter(F.col("vec_id") % 50 == 0)
    assert corpus.count() * bench.count() < curation._VECTORIZED_PAIR_CROSSOVER
    df = embedding_contamination(corpus, bench, "vec_id", "embedding", 0.30)
    assert "MapInPandas" not in _plan(df)  # fold side of the crossover


# ------------------------------------------------- gopher quality gate ----


def test_gopher_quality_reasons(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and went to sleep"),  # clean
            (2, "a b"),                       # too few tokens + mean len low
            (3, "0 1 2 3 4 5 6 7 8 9 10 11"),  # no stopwords, no alpha
            (4, "aaaaaaaaaaaaaaaaaaaaaaaaa " * 5 + "the of a to and"),
        ],
        "doc_id: long, text: string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_filter(df).collect()}
    assert out[1]["keep"] == 1 and out[1]["drop_reasons"] == ""
    assert out[2]["keep"] == 0
    assert "too_few_tokens" in out[2]["drop_reasons"]
    assert "mean_word_len_low" in out[2]["drop_reasons"]
    assert out[3]["keep"] == 0
    assert "too_few_stopwords" in out[3]["drop_reasons"]
    assert "low_alpha_ratio" in out[3]["drop_reasons"]
    assert out[4]["keep"] == 0
    assert "mean_word_len_high" in out[4]["drop_reasons"]
    # reasons are sorted
    for r in out.values():
        parts = r["drop_reasons"].split(";") if r["drop_reasons"] else []
        assert parts == sorted(parts)


def test_gopher_quality_is_row_local(spark):
    # every rule is a codegen'd column expression: no Python eval, no
    # aggregate, no sort — the gate is a pure scan-speed projection (the
    # former presentational orderBy re-executed the whole projection in
    # the range sampler; SCALE.md r7). The only exchange allowed is
    # io.ensure_width's RoundRobin exchange (row-group-bounded parallelism —
    # fires on this single-row-group fixture, pass-through at scale);
    # anything hash/range-partitioned would mean a real shuffle crept in.
    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(gopher_quality_filter(df, "doc_id", "text"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Aggregate" not in plan
    assert "Sort" not in plan
    assert plan.count("Exchange") == plan.count("Exchange RoundRobinPartitioning")


# -------------------------------------------------------- snapshot diff ----


def test_snapshot_diff_statuses(spark):
    from mbgspark.operators.profiling import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id: long, text: string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "id: long, text: string"
    )
    out = {r["id"]: r["status"]
           for r in snapshot_diff(old, new, "id", ["text"]).collect()}
    assert out == {2: "changed", 3: "removed", 4: "added"}
    full = {r["id"]: r["status"]
            for r in snapshot_diff(old, new, "id", ["text"],
                                   keep_unchanged=True).collect()}
    assert full[1] == "unchanged" and len(full) == 4


def test_snapshot_diff_joins_hashes_not_bodies(spark):
    from mbgspark.operators.profiling import snapshot_diff

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(snapshot_diff(df, df, "doc_id", ["text"]))
    # the join input is (id, md5) — document text is hashed BEFORE the
    # shuffle, so no exchange carries the text column
    for exch in plan.split("Exchange")[1:]:
        first_line = exch.split("\n")[0]
        assert "text" not in first_line, first_line


# ----------------------------------------------------- numeric profiler ----


def test_profile_numeric_exact_percentiles(spark):
    from mbgspark.operators.profiling import profile_numeric

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (4.0,), (None,)], "v: double"
    )
    r = profile_numeric(df, ["v"]).collect()[0]
    assert r["n_values"] == 4 and r["n_null"] == 1
    assert r["min_val"] == 1.0 and r["max_val"] == 4.0
    assert r["avg_val"] == 2.5
    assert r["median_val"] == 2.5          # exact interpolated
    assert r["p95_val"] == 3.85            # 1 + 0.95*3 interpolation


def test_profile_numeric_single_distinct_value(spark):
    """mn == mx puts every row in bucket 0 via the greatest() span guard;
    quantiles of a constant column are the constant."""
    from mbgspark.operators.profiling import profile_numeric

    df = spark.createDataFrame([(7.5,)] * 9, "v: double")
    r = profile_numeric(df, ["v"]).collect()[0]
    assert r["n_values"] == 9 and r["n_null"] == 0
    assert r["min_val"] == r["max_val"] == r["avg_val"] == 7.5
    assert r["median_val"] == 7.5 and r["p95_val"] == 7.5


def test_profile_numeric_all_null_column(spark):
    """An all-null column keeps its moments row (n_values=0, null
    min/max/avg) and NULL quantiles via the left join — the null
    sentinel row carries the column through the histogram."""
    from mbgspark.operators.profiling import profile_numeric

    df = spark.createDataFrame(
        [(1.0, None), (2.0, None)], "a: double, b: double"
    )
    rows = {r["column_name"]: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert rows["b"]["n_values"] == 0 and rows["b"]["n_null"] == 2
    assert rows["b"]["min_val"] is None and rows["b"]["avg_val"] is None
    assert rows["b"]["median_val"] is None and rows["b"]["p95_val"] is None
    assert rows["a"]["n_values"] == 2 and rows["a"]["median_val"] == 1.5


def test_profile_numeric_single_scan(spark):
    """100 TB pin: the whole numeric profile (moments + exact quantiles)
    hangs off ONE histogram shuffle — the AQE-final executed plan reads
    the base table exactly once, every other consumer is a
    ReusedExchange (r12 regression: 8 FileScans, VERDICT r12)."""
    from mbgspark.operators.profiling import profile_numeric

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    prof = profile_numeric(df, ["l_quantity", "l_discount"])
    prof.collect()  # pin the AQE-FINAL plan, not the initial one
    plan = _plan(prof).split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1, plan
    assert "ReusedExchange" in plan, plan
    # the exchange-reuse guard (__v + 0.0*__cnt) must not cost the hash
    # aggregate class: a struct-rider variant planned SortAggregate —
    # per-partition sorts of the whole distinct-value set (agg_audit r12)
    assert "SortAggregate" not in plan, plan


def test_profile_numeric_stats_rollup_maps_once(spark):
    """r15 pin (VERDICT r14 next-round #3): the stats rollup's MAP side
    runs exactly once. The quantile branch's rng copy references every
    rollup aggregate through value-neutral riders, ordered to match the
    probe copy's function-appearance order, so the two rollup partial
    aggs canonicalize identically and ReuseExchange collapses them — a
    bare (__mn, __mx) select let ColumnPruning strip the other three
    aggregates and the 583k-row rollup map side ran twice. partial_min
    appears only in the rollup's map-side HashAggregate, so its count in
    the AQE-final plan IS the number of executed rollup map sides."""
    from mbgspark.operators.profiling import profile_numeric

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    prof = profile_numeric(df, ["l_quantity", "l_discount"])
    prof.collect()
    plan = _plan(prof).split("== Initial Plan ==")[0]
    assert plan.count("partial_min") == 1, plan


def test_profile_numeric_empty_input_both_paths_agree(spark):
    """Empty-input contract (ADVICE r13): an empty table profiles to an
    EMPTY result — zero rows — while a one-row frame still
    yields one row per column. (The name is kept from when an approx
    path was checked against the same contract; that path is deleted.)"""
    from mbgspark.operators.profiling import profile_numeric

    df = spark.createDataFrame([], "a: double, b: double")
    assert profile_numeric(df, ["a", "b"]).count() == 0
    one = spark.createDataFrame([(1.0, None)], "a: double, b: double")
    assert profile_numeric(one, ["a", "b"]).count() == 2


def test_split_leakage_flags_planted_cross_split_duplicates(spark):
    """A val/test doc that exactly duplicates (or merely reorders the
    words of) a train doc is flagged; novel eval docs are not."""
    from mbgspark.operators.profiling import split_assign, split_leakage

    base = spark.createDataFrame(
        [(i, f"unique text number {i}") for i in range(200)],
        "doc_id bigint, text string",
    )
    splits = {r["doc_id"]: r["split"] for r in split_assign(base, "doc_id").collect()}
    train_ids = [i for i, s in splits.items() if s == "train"]
    eval_ids = [i for i, s in splits.items() if s != "train"]
    assert train_ids and eval_ids
    # plant: first eval doc copies a train doc verbatim; second eval doc
    # reorders the words of another train doc (shape-only leak)
    t0, t1 = train_ids[0], train_ids[1]
    rows = []
    for i in range(200):
        if eval_ids and i == eval_ids[0]:
            rows.append((i, f"unique text number {t0}"))
        elif len(eval_ids) > 1 and i == eval_ids[1]:
            rows.append((i, f"number {t1} text unique"))
        else:
            rows.append((i, f"unique text number {i}"))
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["split"]: r.asDict() for r in split_leakage(d).collect()}
    exact = sum(v["n_exact_leaked"] for v in out.values())
    shape = sum(v["n_shape_leaked"] for v in out.values())
    assert exact == 1
    # the verbatim copy also collides on shape; the reorder only on shape
    assert shape == 2
    assert sum(v["n_docs"] for v in out.values()) == len(eval_ids)


def test_cardinality_sketches_merge_across_partitions(spark):
    """The scale contract of HLL sketches: per-day sketches roll up to the
    GLOBAL distinct count without touching raw keys again — union estimate
    within 5% of exact (here, at modest cardinality, typically exact)."""
    from pyspark.sql import functions as F

    from mbgspark.io import load_table
    from mbgspark.operators.profiling import (
        build_cardinality_sketches,
        estimate_sketch_union,
    )

    e = load_table(spark, "/root/testdata/sf0.01", "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = build_cardinality_sketches(e, "day", "user_id")
    assert daily.columns == ["day", "hll_sketch", "n_rows"]
    est = estimate_sketch_union(daily)
    exact = e.select(F.count_distinct("user_id")).first()[0]
    assert abs(est - exact) <= 0.05 * exact, (est, exact)


def test_count_min_overestimates_only_and_merges(spark):
    """CM guarantees: estimate >= exact for every key; sketches of two
    corpora merged cell-wise equal the sketch of their union."""
    from pyspark.sql import functions as F

    from mbgspark.operators.profiling import cm_estimate, count_min_sketch

    a = spark.createDataFrame([(i % 7,) for i in range(100)], "k bigint")
    b = spark.createDataFrame([(i % 13,) for i in range(80)], "k bigint")
    u = a.unionByName(b)

    sk_u = count_min_sketch(u, "k", width=32, depth=3)
    est = {
        r["k"]: r["cm_est"]
        for r in cm_estimate(sk_u, u, "k", width=32, depth=3).collect()
    }
    exact = {r["k"]: r["cnt"] for r in u.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact), (est, exact)

    merged = (
        count_min_sketch(a, "k", width=32, depth=3)
        .unionByName(count_min_sketch(b, "k", width=32, depth=3))
        .groupBy("h", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sk_u.collect()))


def test_psi_zero_on_identical_and_large_on_shift(spark):
    """Identical distributions give PSI exactly 0 (p_i == q_i term-wise);
    a hard mix shift crosses the 0.25 'action' threshold; a mild shift
    lands between."""
    from mbgspark.operators.profiling import distribution_drift_psi

    base = spark.createDataFrame(
        [(i, "a" if i % 10 < 5 else "b") for i in range(1000)], "id bigint, b string"
    )
    same = distribution_drift_psi(base, base, "b").first()
    assert same["psi_micro"] == 0

    hard = spark.createDataFrame(
        [(i, "a" if i % 10 < 9 else "b") for i in range(1000)], "id bigint, b string"
    )
    shifted = distribution_drift_psi(base, hard, "b").first()
    assert shifted["psi_micro"] > 250_000, shifted["psi_micro"]

    mild = spark.createDataFrame(
        [(i, "a" if i % 10 < 6 else "b") for i in range(1000)], "id bigint, b string"
    )
    m = distribution_drift_psi(base, mild, "b").first()
    assert 0 < m["psi_micro"] < shifted["psi_micro"]


def test_chi2_zero_when_independent_large_when_associated(spark):
    """Perfectly independent columns give chi2 exactly 0 (obs == exp in
    every cell); a deterministic association blows it up; dof is
    (|A|-1)(|B|-1)."""
    from mbgspark.operators.profiling import chi2_independence

    indep = spark.createDataFrame(
        [(i, f"a{i % 2}", f"b{i % 3}") for i in range(600)],
        "id bigint, x string, y string",
    )
    r = chi2_independence(indep, "x", "y").first()
    assert r["chi2_micro"] == 0 and r["dof"] == 2 and r["n_cells"] == 6

    assoc = spark.createDataFrame(
        [(i, f"a{i % 2}", f"b{i % 2}") for i in range(600)],
        "id bigint, x string, y string",
    )
    r2 = chi2_independence(assoc, "x", "y").first()
    # perfect association on a 2x2 table: chi2 == N
    assert r2["chi2_micro"] == 600 * 1_000_000 and r2["dof"] == 1


def test_cusum_closed_form_matches_recursion(spark):
    """The window-stacked closed form C_t = S_t - min(S) must equal the
    textbook recursion max(0, C_{t-1} + x_t - k) on a planted shift
    series, and flag the shift region."""
    from mbgspark.plans.catalog_profiling import cusum_daily_orders  # noqa: F401
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    xs = [10] * 20 + [14] * 10  # sustained +4 shift at t=20
    k = sum(xs) // len(xs)
    df = spark.createDataFrame(
        [(f"d{i:03d}", x) for i, x in enumerate(xs)], "day string, cnt bigint"
    )
    def closed_form(frame, allowance):
        w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
        s = frame.withColumn("s", F.sum(F.col("cnt") - allowance).over(w))
        return {
            r["day"]: r["cusum_pos"]
            for r in s.withColumn("m", F.least(F.lit(0), F.min("s").over(w)))
            .select("day", (F.col("s") - F.col("m")).alias("cusum_pos"))
            .collect()
        }

    def recursion(series, allowance):
        c, expect = 0, {}
        for i, x in enumerate(series):
            c = max(0, c + x - allowance)
            expect[f"d{i:03d}"] = c
        return expect

    got = closed_form(df, k)
    assert got == recursion(xs, k)
    assert got["d029"] > 0 and got["d010"] == 0

    # the regression the least(0, ...) fix guards: a series STARTING
    # above the allowance — without the implicit S_0=0 the closed form
    # zeroed the first step
    xs2 = [15, 15, 8, 8, 8]
    df2 = spark.createDataFrame(
        [(f"d{i:03d}", x) for i, x in enumerate(xs2)], "day string, cnt bigint"
    )
    assert closed_form(df2, 10) == recursion(xs2, 10)


def test_check_constraints_counts_planted_violations(spark):
    """Each rule counts its own planted violations independently: dup
    keys, null date, non-positive price, out-of-domain status, orphan FK."""
    from mbgspark.operators.profiling import check_constraints

    ref = spark.createDataFrame([(1,), (2,)], "rk bigint")
    df = spark.createDataFrame(
        [
            (1, "2020-01-01", 10.0, "OK", 1),
            (1, "2020-01-02", 5.0, "OK", 2),     # dup key
            (2, None, 0.0, "BAD", 99),           # null date, 0 price, bad status, orphan fk
            (3, "2020-01-03", -1.0, "OK", 1),    # negative price
        ],
        "k bigint, d string, p double, s string, fkc bigint",
    )
    got = {
        r["rule"]: r["n_violations"]
        for r in check_constraints(
            df,
            unique=["k"],
            not_null=["d"],
            positive=["p"],
            in_set={"s": ["OK"]},
            fk=[("fkc", ref, "rk")],
        ).collect()
    }
    assert got == {
        "unique:k": 1,
        "not_null:d": 1,
        "positive:p": 2,
        "in_set:s": 1,
        "fk:fkc": 1,
    }


def test_mad_detector_flags_planted_spike_not_dragged_by_it(spark):
    """A 10x spike day is flagged by the robust z (>3) while every
    near-uniform day stays well under it — the property mean/stddev
    z-scores lose when the spike drags the mean."""
    from pyspark.sql import functions as F

    rows = [(f"2024-01-{d:02d}", 1000 + (d % 5)) for d in range(1, 21)]
    rows[6] = ("2024-01-07", 10000)  # planted spike
    daily = spark.createDataFrame(rows, "day string, cnt bigint")
    med = daily.agg(F.expr("percentile(cnt, 0.5)").alias("m"))
    dev = daily.crossJoin(F.broadcast(med)).withColumn(
        "ad", F.abs(F.col("cnt") - F.col("m"))
    )
    mad = dev.agg(F.expr("percentile(ad, 0.5)").alias("d"))
    z = {
        r["day"]: r["z"]
        for r in dev.crossJoin(F.broadcast(mad))
        .withColumn("z", F.col("ad") / (F.col("d") * 1.4826))
        .collect()
    }
    assert z["2024-01-07"] > 3
    assert all(v <= 3 for d, v in z.items() if d != "2024-01-07")


def test_mad_zero_guard_flat_series_yields_null_in_both_engines(spark, tmp_path):
    """A flat daily series (every day shares the median count) makes
    MAD = 0 and the robust z undefined: the catalog query emits NULL
    robust_z_e4 and NULL is_anomaly on every day, and the DuckDB oracle
    agrees row-for-row instead of erroring on an infinity cast
    (ADVICE r4)."""
    import datetime as dt

    import duckdb

    from mbgspark.plans.catalog_profiling import MAD_SQL, mad_anomalous_days

    rows = [
        (dt.datetime(2024, 1, d, h), f"u{h}")
        for d in range(1, 8)
        for h in range(4)  # exactly 4 events every day -> MAD = 0
    ]
    spark.createDataFrame(rows, "ts timestamp, user_id string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))

    got = mad_anomalous_days(spark, str(tmp_path)).collect()
    assert len(got) == 7
    assert all(r["robust_z_e4"] is None and r["is_anomaly"] is None for r in got)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    oracle = con.execute(MAD_SQL).fetchall()
    assert [(r["day"], r["cnt"], r["robust_z_e4"], r["is_anomaly"]) for r in got] == [
        tuple(row) for row in oracle
    ]


def test_embedding_contamination_all_null_bench_matches_fold(spark):
    """A bench with ROWS but all-null VECTORS is not an empty bench: the
    fold still cross-joins it and emits one null-sim row per corpus id.
    The vectorized path must agree (ADVICE r7), while a bench with
    zero rows stays the empty-result inner-join contract on both."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 50 != 0).limit(20)
    null_bench = (
        e.filter(F.col("vec_id") % 50 == 0)
        .limit(3)
        .withColumn("embedding", F.lit(None).cast("array<double>"))
    )
    fold = _sims(_contamination(corpus, null_bench, vectorized=False))
    vec = _sims(_contamination(corpus, null_bench, vectorized=True))
    assert fold == vec
    assert len(fold) == 20
    assert all(v == (None, None) for v in fold.values())
