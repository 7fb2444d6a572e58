from pyspark.sql import functions as F

from mbgspark.operators.analytics import (
    conditional_rollup,
    frequency,
    top_k_tokens,
)


def test_frequency_deterministic_order(spark):
    df = spark.createDataFrame([("a",), ("b",), ("b",), ("c",), ("c",)], "x string")
    out = [(r["x"], r["cnt"]) for r in frequency(df, "x").collect()]
    assert out == [("b", 2), ("c", 2), ("a", 1)]


def test_conditional_rollup_single_pass(spark):
    df = spark.createDataFrame([(1, None), (2, "x"), (None, "y")], "a int, b string")
    row = conditional_rollup(
        df, {"a_null": F.col("a").isNull(), "b_null": F.col("b").isNull()}
    ).first()
    assert (row["a_null"], row["b_null"]) == (1, 1)


def test_top_k_tokens(spark):
    df = spark.createDataFrame([("a b a",), ("b a",)], "t string")
    out = [(r["token"], r["cnt"]) for r in top_k_tokens(df, "t", k=2).collect()]
    assert out == [("a", 3), ("b", 2)]


def test_entry_contract(spark):
    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == ["province", "sentiment_label", "cnt", "avg_conf_e4", "n_days"]


def test_multimodal_stub_contract(spark):
    """Real decode raises; fake decode is deterministic over bytes."""
    import hashlib

    import pytest

    from mbgspark.operators.multimodal import decode_image, extract_features

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")
    assert decode_image(b"abc", fake=True) == decode_image(b"abc", fake=True)

    df = spark.createDataFrame(
        [(1, "image/png", bytearray(b"pixels"), 2, 2, None)],
        "media_id bigint, media_type string, content binary, width int, height int, sample_rate int",
    )
    feats = extract_features(df).first()
    assert feats["n_bytes"] == 6
    assert len(feats["feat"]) == 8
    assert feats["content_hash"] == hashlib.md5(b"pixels").hexdigest()


def test_approx_count_distinct_within_tolerance(spark):
    # HLL++ approx aggregate: the scale path for distincts where exact
    # count(DISTINCT) would shuffle the full value set; default rsd 5%
    from mbgspark.io import load_table
    from pyspark.sql import functions as F

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    row = o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).first()
    # rsd is a standard deviation, not a bound — allow a few sigma
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.1


def test_driver_window_packing_invariants():
    """The driver checks the FIRST 50 queries() entries; the packing is
    load-bearing (VERDICT r3 item 1). Guard: no duplicates or typos in
    the priority list, the window is exactly re-packable, and every
    catalog entry has an oracle (rows-only entries would silently weaken
    the gate)."""
    from mbgspark.plans.catalog import CATALOG, _PRIORITY, oracle_sql_map

    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate in priority list"
    missing = [n for n in _PRIORITY if n not in CATALOG]
    assert not missing, f"priority names not in catalog: {missing}"
    names = list(CATALOG)
    assert len(names) >= 50
    # the 50-slot window is exactly the head of the priority list
    assert names[:50] == _PRIORITY[:50]
    # every entry keeps a full value-hash oracle
    assert set(oracle_sql_map()) == set(CATALOG)


def test_cluster_profile_sizing_math():
    from mbgspark.session import cluster_profile

    # 100 TB shuffle at 256 MB target -> ~409,600 partitions, not 8,000 cores*2
    p = cluster_profile(executors=1000, cores_per_executor=4, est_shuffle_tb=100)
    assert int(p["spark.sql.shuffle.partitions"]) == 100 * 1024 * 1024 // 256
    assert int(p["spark.sql.files.maxPartitionBytes"]) == 256 * 1024 * 1024
    # without an estimate: 2x total cores floor
    p2 = cluster_profile(executors=10, cores_per_executor=4)
    assert p2["spark.sql.shuffle.partitions"] == "80"


def test_cluster_profile_applies_to_session(spark):
    # conf keys are all runtime-settable except shuffle partitions being
    # session-level — apply and read back on the live session
    from mbgspark.session import cluster_profile

    p = cluster_profile(executors=2, cores_per_executor=2)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for k, v in p.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_item_cooccurrence_cap_bounds_power_users(spark):
    """A power user with many items contributes at most cap items (so at
    most cap*(cap-1)/2 pairs); lift separates genuine affinity (always
    co-occurring pair) from popularity."""
    from pyspark.sql import functions as F  # noqa: F401

    from mbgspark.operators.analytics import item_cooccurrence

    rows = []
    for u in range(10):
        rows += [(u, "a"), (u, "b")]          # a,b always together
    for u in range(5):
        rows += [(u, "c")]                     # c popular but independent
    rows += [(99, f"i{j}") for j in range(50)]  # power user, 50 items
    df = spark.createDataFrame(rows, "u bigint, i string")

    out = item_cooccurrence(df, "u", "i", min_co_users=1, max_items_per_user=5)
    pairs = {(r["item_a"], r["item_b"]): r for r in out.collect()}
    # the power user's contribution is capped: at most C(5,2)=10 pairs
    power_pairs = [p for p in pairs if p[0].startswith("i") and p[1].startswith("i")]
    assert len(power_pairs) == 10
    assert pairs[("a", "b")]["co_users"] == 10
    # perfect affinity: lift = P(ab)/(P(a)P(b)) = 1/(10/11 * 10/11) > 1
    assert pairs[("a", "b")]["lift_e4"] > 10000


def test_every_catalog_entry_builds_a_plan(spark):
    """Catalog-wide analysis smoke: every one of the 160 builders
    constructs and ANALYZES its plan against the gate tables (schema
    resolution, column references, UDF registration) — registration
    bitrot in any entry fails here in seconds instead of surfacing as a
    driver-row error. Execution is parity's job; this is the compile
    gate."""
    from mbgspark.plans.catalog import CATALOG

    sf = "/root/testdata/sf0.001"
    failures = []
    for name, (builder, _) in CATALOG.items():
        try:
            df = builder(spark, sf)
            df.schema  # forces analysis
        except Exception as e:  # noqa: BLE001
            failures.append((name, str(e).splitlines()[0]))
    assert not failures, failures
