"""Physical-plan regression tests — the 100 TB design properties.

Correctness says the query returns the right rows; these tests pin HOW:
filters reach the parquet scan, projections prune the read schema, bounded
dims broadcast instead of shuffling, and nothing degenerates into a
cartesian product. A plan that silently regresses on any of these still
passes the oracle at sf0.01 but falls over at cluster scale — this file is
the guard. (Plans are inspected unexecuted; the whole file runs in seconds.)
"""

from pathlib import Path

import pytest

from mbgspark.plans.catalog import CATALOG

SF = "/root/testdata/sf0.001"
TOOLS = str(Path(__file__).resolve().parents[1] / "tools")


def plan_of(spark, name: str) -> str:
    # PushedFilters lists print timestamp literals in full since the NTZ
    # pin (e.g. '1996-01-01 00:00:00.0'), and the default 100-char scan
    # metadata cap can cut an assertion token in half
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    df = CATALOG[name][0](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q2_date_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q2")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_q1_scan_prunes_columns(spark):
    plan = plan_of(spark, "q1")
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>" in plan


def test_q12_equijoin_broadcasts_customer(spark):
    plan = plan_of(spark, "q12")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q18r_multijoin_all_dims_broadcast(spark):
    plan = plan_of(spark, "q18r")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q10_containment_join_is_hash_not_nested_loop(spark):
    # explode_tokens strategy: token equi-join, not a per-row dim scan
    plan = plan_of(spark, "q10")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_stays_equijoin(spark):
    # the whole point of LSH banding: candidate generation is an equi-join
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_multiprobe_stays_equijoin(spark):
    # multi-table blocking is the LSH band-OR for dense vectors: candidate
    # generation must be a (table, bucket) equi-join — the all-pairs
    # crossJoin exists only behind the explicit block_bits=0 opt-in
    plan = plan_of(spark, "dedup_embedding_multiprobe")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_shuffle_has_no_global_sort_of_corpus(spark):
    # balanced sharding computes rank per key-prefix bucket; the only
    # single-partition window is the <=65k-row offsets rollup
    plan = plan_of(spark, "corpus_shuffle_shards")
    assert "windowspecdefinition(__bk" in plan


@pytest.mark.parametrize("name", ["dup_spans", "dedup_simhash_pairs"])
def test_new_dedup_surfaces_stay_equijoin(spark, name):
    # span aggregation has no join at all; simhash candidates are a
    # (band_idx, band_val) equi-join — neither may plan a cross product
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_resample_broadcasts_rates_back(spark):
    # the |domains|-row accounting frame must broadcast back onto the
    # corpus — the corpus itself never shuffles for the resample filter
    plan = plan_of(spark, "mixture_resample")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_q14_aggregate_has_mapside_partial(spark):
    # partial (map-side) aggregation before the shuffle
    plan = plan_of(spark, "q14")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_q26_lexicon_has_no_python_udf(spark):
    # X1's fallback is pure column expressions — no Python round trip
    plan = plan_of(spark, "q26")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_sentiment_udf_is_arrow_not_batch(spark):
    # the model path must use Arrow-vectorized transfer, never row pickling
    plan = plan_of(spark, "sentiment_pandas_udf")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("name", ["q21", "q20"])
def test_set_ops_stay_hash_based(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan


def test_tpch_q3_broadcasts_customer_shuffles_fact(spark):
    # the only shuffle join allowed is orders⋈lineitem on orderkey; the
    # filtered customer dim must broadcast
    plan = plan_of(spark, "shipping_priority_top10")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # segment filter pushed to the customer scan, not evaluated post-join
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_tpch_q5_snowflake_dims_all_broadcast(spark):
    # 5 joins total; the 4 dimension hops (customer, supplier, nation,
    # region) broadcast — at most one non-broadcast (fact⋈fact) join
    plan = plan_of(spark, "region_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cube_is_single_pass_expand(spark):
    # CUBE must plan as one scan + Expand, not a union of re-scans
    plan = plan_of(spark, "cube_flag_status")
    assert "Expand" in plan
    assert plan.count("FileScan") == 1


def test_period_sets_use_hash_joins_not_cartesian(spark):
    plan = plan_of(spark, "customer_period_sets")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exists_plans_as_semi_join_with_date_pushdown(spark):
    # correlated EXISTS must become a LEFT SEMI join (no duplicate-order
    # inflation, no subquery re-execution); the quarter filter reaches the
    # orders scan
    plan = plan_of(spark, "exists_shipped_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_order_histogram_two_level_agg_single_fact_scan(spark):
    # Q13 shape: each table scanned once; both aggregation levels get a
    # map-side partial
    plan = plan_of(spark, "cust_order_histogram")
    assert plan.count("FileScan") == 2
    assert plan.count("HashAggregate") >= 4  # 2 levels x partial+final


def test_gapfill_spine_joins_without_cartesian(spark):
    # the 1-row min/max agg -> sequence/explode spine must join the daily
    # rollup via a hash join, not a nested loop over the fact
    plan = plan_of(spark, "daily_gapfill")
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_curate_corpus_single_scan_no_python(spark):
    # the whole curation lineage (quality + langid + tokens + fingerprint +
    # dedup window + agg) must stay JVM-side over ONE scan of documents
    plan = plan_of(spark, "curate_corpus")
    assert plan.count("FileScan") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q6_all_predicates_pushed_to_scan(spark):
    # scan-dominated query: pushdown active on all 3 filter columns and the
    # read schema pruned to exactly the 4 touched columns. (PushedFilters
    # lines are TRUNCATED with '…' in plan strings, so assert on the head
    # of the list + the untruncated ReadSchema, not the full filter list.)
    plan = plan_of(spark, "forecast_revenue")
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity)" in plan
    )
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp" in plan
    )


def test_q1_wide_agg_single_pass(spark):
    # 8 aggregates, ONE scan, one partial+final hash agg — no re-scans
    plan = plan_of(spark, "pricing_summary")
    assert plan.count("FileScan") == 1
    assert plan.count("HashAggregate") == 2


def test_merge_store_scan_carries_partition_filter(spark, tmp_path):
    # partition-scoped merge (VERDICT r1 item 7): when merging a batch that
    # touches only some event_date partitions, the store-side scan must
    # carry a PartitionFilter on event_date — merge cost tracks touched
    # days, not store size
    from pyspark.sql import functions as F

    from mbgspark.io import merge_by_key, write_partitioned

    store_path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [("1", "a", "2025-01-01"), ("2", "b", "2025-01-02"), ("3", "c", "2025-01-03")],
        "_id string, scraped_at string, event_date string",
    )
    write_partitioned(base, store_path, "event_date")
    batch = spark.createDataFrame(
        [("2", "b2", "2025-01-02")], "_id string, scraped_at string, event_date string"
    )
    touched = [r["event_date"] for r in batch.select("event_date").distinct().collect()]
    existing = spark.read.parquet(store_path).filter(F.col("event_date").isin(touched))
    merged = merge_by_key(existing, batch, key="_id", order_col="scraped_at")
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_date" in plan or "PartitionFilters: [event_date" in plan
    # and the merge result covers only the touched day
    assert {r["event_date"] for r in merged.collect()} == {"2025-01-02"}
    assert merged.count() == 1


def test_search_url_c12_reference_encoding(spark):
    # C12 (resilient_scraper.py:274-275): exactly the reference's three
    # replacements, other reserved chars left bare
    from pyspark.sql import functions as F

    from mbgspark.sources.ingest import daily_search_query, search_url

    df = spark.createDataFrame([("2025-01-05",)], "d string")
    q = daily_search_query("Makan Bergizi Gratis OR MBG lang:id", F.to_date("d"))
    got = df.select(search_url(q).alias("u")).collect()[0]["u"]
    assert got == (
        "https://x.com/search?q=Makan%20Bergizi%20Gratis%20OR%20MBG%20"
        "lang%3Aid%20since%3A2025-01-05%20until%3A2025-01-06"
        "&src=typed_query&f=live"
    )


def test_locate_full_dim_is_narrow_no_joins(spark):
    # the compiled-map matcher must stay ONE narrow projection: no join
    # operators, no Python eval — on the 602-term dictionary and on the
    # lifecycle's 12 terms alike; the only exchanges are the test-SF width
    # repartition and the final sort or aggregation
    for name in ("locate_full_dim", "etl_lifecycle"):
        plan = plan_of(spark, name)
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("FileScan") == 1, name


def test_kmeans_assignment_stays_jvm_side(spark):
    # the iterative k-means' per-row assignment is a compiled expression —
    # no Python eval anywhere in the final plan, single scan of embeddings
    plan = plan_of(spark, "kmeans_clusters")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_benchmark_broadcasts_no_cartesian(spark):
    # benchmark gram set broadcasts; the corpus is never self-joined
    plan = plan_of(spark, "contamination_check")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curation_suite_stays_jvm_side(spark):
    # every curation pass is built-ins only: no Python eval in any plan
    for name in (
        "contamination_check",
        "repetition_stats",
        "pii_redaction",
        "stratified_sample_counts",
        "sequence_packing",
        "top_bigrams",
        "domain_mixture",
    ):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_top_bigrams_topk_never_global_sorts(spark):
    # top-k must be TakeOrderedAndProject (k rows per partition reach the
    # driver), not a full Sort of the distinct-ngram table
    plan = plan_of(spark, "top_bigrams")
    assert "TakeOrderedAndProject" in plan


def test_minhash_bucket_cap_stays_cheap_and_equijoin(spark):
    """The skew guard is a KEYED window count riding the band self-join's
    own exchange (r12 reshape): the capped plan must stay free of
    cartesian/nested-loop joins, and the window must be partitioned by
    the band keys — never global. History: an earlier sf0.1-only A/B
    rejected the window for an agg+anti-join blacklist, but that
    measurement compared guard mechanics in isolation; the two-decade
    ledger sweep (r12) showed the blacklist's separate aggregation
    lineage defeats exchange reuse, recomputing the whole signature
    pipeline per consumer and double-shuffling the band rows (~4M of
    6.9M sf10 records) — the window shape is 25% faster at sf10 with
    linear records across sf0.1→sf1→sf10 and zero spill."""
    import mbgspark.operators.dedup as dd
    from mbgspark.plans.catalog_ext import _dup_corpus

    corpus = _dup_corpus(spark, "/root/testdata/sf0.001")
    capped = dd.minhash_near_dups(corpus, "id", "t", threshold=0.5)
    uncapped = dd.minhash_near_dups(
        corpus, "id", "t", threshold=0.5, max_bucket_size=None
    )
    pc = capped._jdf.queryExecution().executedPlan().toString()
    pu = uncapped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pc and "BroadcastNestedLoopJoin" not in pc
    assert "CartesianProduct" not in pu and "BroadcastNestedLoopJoin" not in pu
    # the bucket-size window is keyed on the band columns (the join's own
    # partitioning) in BOTH plans — the n >= 2 singleton drop applies
    # capped or not; a global (AllTuples) window here would be a
    # regression the plan lint also catches
    assert "windowspecdefinition(band_idx" in pc
    assert "windowspecdefinition(band_idx" in pu
    # the signature aggregation must stay a codegen HashAggregate — the
    # numeric min family exists precisely because min-over-STRING plans
    # as ObjectHashAggregate, whose 128-key sort-based fallback was the
    # 939 MB/pass sf10 spill. The only ObjectHashAggregate allowed is
    # the candidate-restricted collect_list arrays packing.
    import re

    for plan in (pc, pu):
        assert "SortAggregate" not in plan
        for m in re.findall(r"ObjectHashAggregate\(keys=\S+ functions=\[\w+", plan):
            assert "collect_list" in m, m


def test_dedup_incremental_stays_equijoin(spark):
    # candidate generation is a band-bucket equi-join: a regression to a
    # cartesian/nested-loop pairing would be quadratic in the corpus
    plan = plan_of(spark, "dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_incremental"])
def test_minhash_corpus_widener_canonicalizes_once(spark, name):
    """r15 pin: every copy of the corpus-widening RoundRobin exchange in a
    minhash plan must share ONE canonical form — the precondition for
    AQE's stage cache to materialize the corpus shuffle once. Before the
    upfront isnotnull(id) contract, the verify side's candidate semi-join
    pushed isnotnull below ITS copy only, the copies de-canonicalized,
    and the corpus text was shuffled twice (ledger: −29% shuffle bytes
    when this collapsed). >1 distinct canonical form = the regression."""
    from mbgspark.jvmseam import node_class, physical_plan_root, walk_plan

    import re

    df = CATALOG[name][0](spark, SF)
    root = physical_plan_root(df)
    forms = set()
    for node in walk_plan(root):
        if node_class(node) != "ShuffleExchangeExec":
            continue
        # the widener is the only REPARTITION_BY_NUM exchange in these
        # plans (hashpartitioning(id) since the r15 keyed widener;
        # RoundRobinPartitioning before it)
        if "REPARTITION_BY_NUM" not in node.toString():
            continue
        # canonicalized() normalizes expression ids but toString still
        # prints each node instance's plan_id tag — strip it, or every
        # copy is trivially "distinct" and the pin can never pass
        forms.add(re.sub(r", \[plan_id=\d+\]", "", node.canonicalized().toString()))
    assert len(forms) == 1, f"{len(forms)} distinct widener forms:\n" + "\n---\n".join(forms)


def test_mixture_interleave_one_window_no_global_sort(spark):
    # one rank window partitioned by source; pos_key is a column, so the
    # only unpartitioned sort is the catalog query's own output orderBy
    plan = plan_of(spark, "mixture_interleave")
    assert plan.count("Window") == 1
    assert "windowspecdefinition(source" in plan


def test_snapshot_diff_full_outer_on_hashes(spark):
    plan = plan_of(spark, "corpus_snapshot_diff")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_volume_shipping_all_dims_broadcast(spark):
    plan = plan_of(spark, "volume_shipping")
    # supplier/customer/nation×2 all broadcast; the one shuffle join is
    # lineitem⋈orders
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_trailing_30d_is_range_frame_partitioned(spark):
    plan = plan_of(spark, "trailing_30d_revenue")
    assert "RangeFrame" in plan and "INTERVAL '-30' DAY" in plan
    assert "windowspecdefinition(o_custkey" in plan


def test_large_orders_single_lineitem_agg(spark):
    # the HAVING subquery IS the outer aggregate — lineitem scanned once
    plan = plan_of(spark, "large_orders")
    assert plan.count("FileScan parquet") <= 3  # lineitem + orders + customer


def test_waiting_suppliers_correlates_via_hash_joins(spark):
    """Q21's two correlated quantifiers must decorrelate into hash
    semi/anti joins on l_orderkey — no nested-loop, no cartesian — and
    the 'F'-status filter pushes to the orders scan."""
    plan = plan_of(spark, "waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_lm_bigram_two_pass_explode(spark):
    """The restructured bigram LM (SCALE.md r7) runs exactly three
    Generates: the pair-occurrence explode appears TWICE (once feeding the
    vocab-sized model aggregate, once feeding the scoring join — two
    narrow passes beat windowing corpus stats over the occurrence-scale TF
    frame), plus the 1-row vocab count. A fourth would mean a plan
    consumer re-exploding the corpus; the vocab total must ride a
    broadcast, never a cartesian."""
    plan = plan_of(spark, "lm_bigram_score")
    assert plan.count("Generate") == 3, plan.count("Generate")
    assert plan.count("CartesianProduct") == 0


def test_lm_bigram_vectorized_scoring_has_no_shuffle(spark, bigram_on):
    """The r8 vectorized scoring pass is shuffle-FREE on the hot path:
    once the model is fetched at plan build, the non-null lineage is
    scan → (fanout) → MapInPandas → row-local projections — nothing
    moves at occurrence scale. The ONLY exchange allowed is the r9
    null-id-group branch's SinglePartition scalar fold (one partial row
    per task crosses it, never occurrence-scale data). Any other
    exchange means the scoring half regressed toward the fold's join."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    vec = bigram_on(docs, vectorized=True)
    plan = vec._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas _sums(" in plan  # hot path present
    exch = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exch) == 1 and "SinglePartition" in exch[0], plan
    assert vec.count() > 0


def test_split_leakage_probes_are_equijoins(spark):
    """Both fingerprint probes are hash equi-joins against DISTINCT train
    sets (left joins cannot multiply rows), nothing nested-loop."""
    plan = plan_of(spark, "split_leakage_counts")
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("LeftOuter") == 2


def test_hard_negatives_broadcasts_query_side(spark):
    """Hard-negative mining broadcasts the (small) query side; the corpus
    streams — the BNLJ is the intended broadcast shape, scaling with
    corpus size, not corpus squared."""
    plan = plan_of(spark, "hard_negatives")
    assert "BroadcastNestedLoopJoin BuildRight" in plan


def test_inter_event_gaps_window_is_user_partitioned(spark):
    """The lag window partitions by user_id — no 'move all data to a
    single partition' global window."""
    plan = plan_of(spark, "inter_event_gaps")
    assert "hashpartitioning(user_id" in plan


def test_weighted_sample_is_takeordered_no_shuffle(spark):
    """A-ES sampling is a row-local key projection + distributed top-n:
    zero exchanges, TakeOrderedAndProject — the corpus is never sorted or
    shuffled."""
    plan = plan_of(spark, "weighted_sample_docs")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Exchange") == 0, plan.count("Exchange")


def test_count_min_probes_are_equijoins(spark):
    """CM sketch build + probe stay hash equi-joins on (h, bucket);
    nothing cartesian/nested-loop."""
    plan = plan_of(spark, "count_min_user_events")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_top_supplier_max_is_broadcast(spark):
    """Q15's scalar max joins as a 1-row broadcast, not a shuffled join,
    and the quarter filter reaches the lineitem scan."""
    plan = plan_of(spark, "top_supplier")
    assert "BroadcastExchange" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_scd2_apply_is_hash_joins_only(spark):
    """SCD2 maintenance: the fate of every row comes from hash joins —
    no nested loop, no cartesian anywhere in the versioned union — and
    the (current ⋈ updates) decision join appears EXACTLY once: versions
    emit via a row-local struct-array explode, not the former
    union-of-three-projections that re-ran the dimension join per branch
    (SCALE.md r7)."""
    plan = plan_of(spark, "scd2_customer_dim")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("FullOuter") == 1, plan.count("FullOuter")
    assert plan.count("Generate explode") == 1


def test_dq_scalar_rules_fuse_into_one_aggregate(spark):
    """The null/positive/domain rules share ONE aggregation over one
    orders scan (scan count = orders + customer FK side only)."""
    plan = plan_of(spark, "dq_checks_orders")
    assert plan.count("Scan parquet") <= 4, plan.count("Scan parquet")
    assert "Cartesian" not in plan


def test_event_transitions_window_is_user_partitioned(spark):
    """The lead() window partitions by user — never a global window over
    the stream; the probability denominator windows over the bounded
    types^2 aggregate."""
    plan = plan_of(spark, "event_transitions")
    assert "hashpartitioning(user_id" in plan


def test_augment_dropout_is_single_narrow_projection(spark):
    """Word dropout is row-local: zero exchanges (the former
    presentational sort re-executed the projection in its range
    sampler — SCALE.md r7), zero joins."""
    plan = plan_of(spark, "augment_dropout")
    assert plan.count("Exchange") == 0, plan.count("Exchange")
    assert "Join" not in plan


def test_label_noise_vote_is_bounded_aggregates(spark):
    """The audit's only non-equi piece is the broadcast query side of
    the top-k scorer; votes and the argmax are hash aggregates."""
    plan = plan_of(spark, "label_noise")
    assert "Cartesian" not in plan
    assert plan.count("BroadcastNestedLoop") == 1  # the broadcast scorer


def test_tfidf_cosine_capped_blocking_is_equijoins_no_cartesian(spark):
    """The r5 stop-term blocking cutoff keeps the sparse-cosine plan
    all-equi-join: candidate generation, the full-top-k dot re-join and
    the norm joins are hash/sort-merge joins — no CartesianProduct, and
    the only nested-loop join is the bounded 1-row corpus-count
    broadcast inside tfidf_top_terms (one per consumer lineage) — and
    the blocking-df count is a window over the SAME term partitioning,
    not a second aggregate lineage."""
    plan = plan_of(spark, "tfidf_cosine")
    assert "CartesianProduct" not in plan
    # every BNLJ in this plan must be the 1-row __n global-count
    # broadcast (one per consumer copy of the top-terms lineage)
    import re

    bnlj = plan.count("BroadcastNestedLoopJoin")
    n_count_aggs = len(
        re.findall(
            r"HashAggregate\(keys=\[\], functions=\[count\(1\)\], output=\[__n#",
            plan,
        )
    )
    assert bnlj > 0 and bnlj == n_count_aggs, (bnlj, n_count_aggs)
    assert "windowspecdefinition(term" in plan


def test_plan_lint_clean(spark):
    """The whole catalog stays free of the lint anti-patterns (cartesians,
    row-at-a-time Python, scan-fed global sorts and windows, non-anchor
    unlisted BNLJs, per-pair and per-element recomputes, sort-class
    aggregates outside the allowlist) — tools/plan_lint.py run in-process
    over every entry.
    A new catalog query with any of these shapes fails here, not in a
    future round's manual audit."""
    import sys

    sys.path.insert(0, TOOLS)
    import plan_lint

    findings = []
    for name in CATALOG:
        df = CATALOG[name][0](spark, SF)
        findings.extend(plan_lint.lint_plan(df, name))
    assert findings == []


def test_plan_lint_flags_scanfed_sort(spark):
    """The scanfed-sort rule actually FIRES (r8 regression pin: the r7
    form matched rangepartitioning exchanges, which never exist in the
    pre-exchange ``sparkPlan`` — the rule was dead and 'clean' was
    vacuous for it). A scan→project→global-orderBy plan must flag;
    a post-aggregate order and a within-partition sort must not."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, TOOLS)
    import plan_lint

    scan = spark.read.parquet(f"{SF}/orders.parquet")
    bad = scan.select("o_orderkey").orderBy("o_orderkey")
    assert any("scanfed-sort" in f for f in plan_lint.lint_plan(bad, "neg"))
    ok = (
        scan.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )
    assert plan_lint.lint_plan(ok, "ok") == []
    local = scan.sortWithinPartitions("o_orderkey")
    assert plan_lint.lint_plan(local, "local") == []


def test_plan_lint_flags_lambda_inlined_scalar(spark):
    """The lambda-inlined-scalar rule actually FIRES on the r10
    quantize_int8 bug shape (a per-row array_max referenced inside a
    transform lambda — Catalyst inlines it per element, ~64x work;
    VERDICT r10 item 2 mechanized). The fixed shape (array_repeat +
    zip_with), a bare outer-column read, a cast over one, and an
    aggregate() whose FINISH divides by an outer scalar must all stay
    clean — reading an outer value per element is free; recomputing one
    is not, and finish runs once per row."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, TOOLS)
    import plan_lint

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "id int, v array<double>"
    )
    maxabs = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))

    # the exact pre-fix quantize shape: scalar inside the lambda body
    bad = df.withColumn(
        "q", F.transform(F.col("v"), lambda x: x * F.lit(127.0) / maxabs)
    )
    finds = plan_lint.lint_plan(bad, "neg")
    assert any("lambda-inlined-scalar" in f for f in finds), finds
    assert any("array_max" in f for f in finds), finds

    # the post-fix shape: scalar hoisted through array_repeat, zip_with
    # reads it back per element
    rep = F.array_repeat(maxabs, F.size(F.col("v")))
    good = df.withColumn(
        "q",
        F.zip_with(
            F.col("v"), rep, lambda x, m: F.floor(x * F.lit(127.0) / m)
        ),
    )
    assert plan_lint.lint_plan(good, "fixed") == []

    # bare outer-column reads and trivial wrappers over them are allowed
    ok_attr = df.withColumn(
        "q", F.transform(F.col("v"), lambda x: x * F.col("id").cast("double"))
    )
    assert plan_lint.lint_plan(ok_attr, "attr") == []

    # aggregate() finish lambda runs once per ROW — an outer scalar there
    # is not a per-element recompute
    ok_finish = df.withColumn(
        "m",
        F.aggregate(
            F.col("v"),
            F.lit(0.0),
            lambda acc, x: acc + x,
            lambda acc: acc / F.sqrt(F.size(F.col("v")).cast("double")),
        ),
    )
    assert plan_lint.lint_plan(ok_finish, "finish") == []

    # ...but the same scalar inside the MERGE lambda IS per element
    bad_merge = df.withColumn(
        "m",
        F.aggregate(
            F.col("v"),
            F.lit(0.0),
            lambda acc, x: acc + x / F.sqrt(F.size(F.col("v")).cast("double")),
        ),
    )
    finds = plan_lint.lint_plan(bad_merge, "negmerge")
    assert any("lambda-inlined-scalar" in f for f in finds), finds


def test_scorer_bnlj_stream_sides_fanned(spark):
    """Every broadcast-pair SCORER (similarity/curation per-pair cosine,
    the class the r10 IVF fix belongs to) must fan out its stream side or
    inherit a shuffle upstream — a BNLJ inherits the STREAM side's
    partition count, and a single-file corpus arrives as ONE split, so an
    unfanned scorer serializes millions of per-pair folds onto one task
    (VERDICT r10 item 4 mechanized). Expected counts per scorer row at
    sf0.001 (where the size-selected scorers resolve to the fold/BNLJ side):
    (fanned, bounded-unfanned). The only legitimate unfanned BNLJs are
    the IVF PROBE joins, whose stream is the bounded query frame —
    |queries| x n_cells pairs, where a fanout would cost more than the
    scoring. A scorer losing its fanout shows up as a fanned-count drop;
    a new unfanned BNLJ shows up as a bounded-count rise — both fail."""
    import sys

    sys.path.insert(0, TOOLS)
    from plan_lint import _SHUFFLE_INDUCING

    from mbgspark.jvmseam import node_class, physical_plan_root, walk_plan
    from mbgspark.plans.catalog import CATALOG

    expected = {
        # brute-force fold: corpus fanned, queries broadcast
        "ann_cosine_topk": (1, 0),
        # int8 path, same fold shape
        "ann_quantized_topk": (1, 0),
        # assignment join fanned (build_ivf_index), probe join bounded
        "ann_ivf_topk": (1, 1),
        "ann_ivf_kmeans_topk": (1, 1),
        # label-aware fold: corpus fanned, labeled queries broadcast
        "hard_negatives": (1, 0),
        # probe-set fold: corpus fanned, probe set broadcast
        "label_noise": (1, 0),
        # sign-block residual BNLJ under the bucket equi-join: fanned
        "dedup_embedding": (1, 0),
        # eval-suite bench fold: corpus fanned, bench broadcast
        "contamination_embedding": (1, 0),
    }
    for name, (want_fanned, want_bounded) in expected.items():
        df = CATALOG[name][0](spark, SF)
        fanned = bounded = 0
        for node in walk_plan(physical_plan_root(df)):
            if node_class(node) != "BroadcastNestedLoopJoinExec":
                continue
            side = 1 if "BuildRight" in node.simpleString(200) else 0
            build = node.children().apply(side)
            onerow = any(
                "keys=[]" in b.simpleString(200)
                for b in walk_plan(build)
                if "Aggregate" in node_class(b)
            )
            if onerow:
                continue  # 1-row metric anchors don't multiply cardinality
            stream = node.children().apply(1 - side)
            if any(
                node_class(b) in _SHUFFLE_INDUCING for b in walk_plan(stream)
            ):
                fanned += 1
            else:
                bounded += 1
        assert (fanned, bounded) == (want_fanned, want_bounded), (
            name, fanned, bounded,
        )


def test_plan_lint_flags_bnlj_pair_recompute(spark):
    """The bnlj-pair-recompute rule FIRES on the pre-r11
    containment_join_first_match shapes (tokenize/lower inside the join
    condition — recomputed per (row x term) pair; r11 SCALE.md entry) and
    stays quiet on both fixed shapes, on cheap-arithmetic range
    conditions, and on genuinely two-sided conditions (levenshtein)."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, TOOLS)
    import plan_lint

    d = spark.createDataFrame([(1, "spark streams")], "id int, text string")
    dim = spark.createDataFrame([("spark", 1)], "kw string, dict_order int")
    b = F.broadcast(dim)

    # old membership shape: split(lower(text)) inside the condition
    bad1 = d.join(
        b,
        F.array_contains(
            F.split(F.lower(F.col("text")), r"\s+"), F.col("kw")
        ),
    )
    finds = plan_lint.lint_plan(bad1, "neg1")
    assert any("bnlj-pair-recompute" in f for f in finds), finds

    # old regex shape: lower(text) and the concat'd pattern per pair
    bad2 = d.crossJoin(b).filter(
        F.expr("lower(text) rlike concat('\\\\b', kw, '\\\\b')")
    )
    finds = plan_lint.lint_plan(bad2, "neg2")
    assert any("bnlj-pair-recompute" in f for f in finds), finds

    # fixed membership shape: tokens pre-projected, bare-attr condition
    good1 = (
        d.withColumn("__toks", F.split(F.lower(F.col("text")), r"\s+"))
        .join(b, F.array_contains(F.col("__toks"), F.col("kw")))
        .drop("__toks")
    )
    assert [
        f for f in plan_lint.lint_plan(good1, "ok1") if "recompute" in f
    ] == []

    # two-sided condition: levenshtein(stream, build) is per-pair by
    # nature — nothing to pre-project
    ok2 = d.crossJoin(b).filter(
        F.levenshtein(F.col("text"), F.col("kw")) <= 2
    )
    assert [
        f for f in plan_lint.lint_plan(ok2, "ok2") if "recompute" in f
    ] == []

    # cheap arithmetic on one side (range-join scaffolding) is allowed
    e = spark.createDataFrame([(1, 5)], "id int, r int")
    f2 = spark.createDataFrame([(2, 7)], "id2 int, r2 int")
    ok3 = e.join(
        F.broadcast(f2),
        (F.col("r") >= F.col("r2") - 6) & (F.col("r") <= F.col("r2")),
    )
    assert [
        f for f in plan_lint.lint_plan(ok3, "ok3") if "recompute" in f
    ] == []


def test_plan_lint_flags_scanfed_global_window(spark):
    """The scanfed-global-window rule FIRES on a global (unpartitioned)
    window fed directly by a scan — every row lands on ONE task, the
    window twin of scanfed-sort — and stays quiet on the two legitimate
    shapes: a keyed window (hash-distributed) and a global window over an
    aggregate (the summary-frame shape all 18 catalog global windows
    use)."""
    import sys

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    sys.path.insert(0, TOOLS)
    import plan_lint

    scan = spark.read.parquet(f"{SF}/orders.parquet")

    bad = scan.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    finds = plan_lint.lint_plan(bad, "neg")
    assert any("scanfed-global-window" in f for f in finds), finds

    keyed = scan.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderkey")
        ),
    )
    assert [
        f for f in plan_lint.lint_plan(keyed, "keyed") if "window" in f
    ] == []

    summary = (
        scan.groupBy("o_orderstatus")
        .agg(F.sum("o_totalprice").alias("rev"))
        .withColumn(
            "share",
            F.col("rev") / F.sum("rev").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    assert [
        f for f in plan_lint.lint_plan(summary, "summary") if "window" in f
    ] == []

    # ADVICE r11 false negative: a global window fed by a JOIN of a raw
    # scan with an aggregated side. The old any()-over-subtree check saw
    # the aggregate and passed; every path must be bounded — the scan
    # branch still funnels every row through one task. Must FLAG.
    agg_side = scan.groupBy("o_orderstatus").agg(
        F.avg("o_totalprice").alias("avg_price")
    )
    mixed = scan.join(agg_side, "o_orderstatus").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    finds = plan_lint.lint_plan(mixed, "mixed")
    assert any("scanfed-global-window" in f for f in finds), finds

    # and the all-branches-bounded join shape stays quiet: both inputs
    # aggregated before the global window
    agg_b = scan.groupBy("o_orderpriority").agg(
        F.count("*").alias("n")
    ).withColumn("o_orderstatus", F.lit("O"))
    both = agg_side.join(agg_b, "o_orderstatus").withColumn(
        "rn", F.row_number().over(Window.orderBy("avg_price"))
    )
    assert [
        f for f in plan_lint.lint_plan(both, "both") if "window" in f
    ] == []


def test_plan_lint_flags_sort_aggregate(spark):
    """The sort-aggregate rule (the r12 SortAggregate detector) actually
    FIRES: a NEW sort-class aggregate outside the audited allowlist is a
    finding; inherent packings (collect_list) and allowlisted rows are
    counted as allowlisted instead. The whole-catalog run is
    test_plan_lint_clean."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, TOOLS)
    import plan_lint

    orders = spark.read.parquet(f"{SF}/orders.parquet")

    # min over a string column = immutable buffer -> sort-class -> flags;
    # count over the same grouping = codegen HashAggregate -> clean
    bad = orders.groupBy("o_custkey").agg(F.min("o_orderpriority").alias("m"))
    finds = plan_lint.lint_plan(bad, "neg")
    assert finds and all("neg: sort-aggregate" in f for f in finds), finds
    good = orders.groupBy("o_custkey").agg(F.count("o_orderpriority").alias("n"))
    allowed: list[str] = []
    assert plan_lint.lint_plan(good, "ok", allowed) == [] and allowed == []

    # min over a struct = SortAggregate, not in any allowlist -> flags
    bad = orders.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderpriority", "o_orderkey")).alias("b")
    )
    finds = plan_lint.lint_plan(bad, "some_new_query")
    assert finds and "SortAggregate" in finds[0], finds

    # collect_list is inherent wherever it appears -> allowlisted
    packing = orders.groupBy("o_custkey").agg(
        F.collect_list("o_orderstatus").alias("v")
    )
    allowed = []
    assert plan_lint.lint_plan(packing, "some_new_query", allowed) == []
    assert allowed, allowed

    # numeric min = codegen HashAggregate -> no sort-class nodes at all
    good = orders.groupBy("o_custkey").agg(F.min("o_orderkey").alias("m"))
    allowed = []
    assert plan_lint.lint_plan(good, "some_new_query", allowed) == []
    assert allowed == []

    # catalog spot-check: the reshaped minhash row's only sort-class
    # aggregate is the candidate-restricted collect_list packing
    allowed = []
    df = CATALOG["dedup_minhash_lsh"][0](spark, SF)
    assert plan_lint.lint_plan(df, "dedup_minhash_lsh", allowed) == []
    assert allowed and all("collect_list" in line for line in allowed), allowed
