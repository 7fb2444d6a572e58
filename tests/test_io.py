import datetime as dt

from pyspark.sql import functions as F

from mbgspark.io import (
    existing_partition_values,
    merge_by_key,
    write_partitioned,
)


def _store(spark, rows):
    return spark.createDataFrame(
        rows, "_id string, v int, scraped_at timestamp, event_date string"
    )


def test_merge_by_key_update_wins(spark):
    ts = dt.datetime
    existing = _store(spark, [("a", 1, ts(2025, 1, 1), "2025-01-01")])
    updates = _store(spark, [("a", 2, ts(2025, 1, 1), "2025-01-01"),
                             ("b", 3, ts(2025, 1, 2), "2025-01-02")])
    out = merge_by_key(existing, updates).orderBy("_id").collect()
    assert [(r["_id"], r["v"]) for r in out] == [("a", 2), ("b", 3)]


def test_merge_idempotent(spark):
    ts = dt.datetime
    existing = _store(spark, [("a", 1, ts(2025, 1, 1), "2025-01-01")])
    updates = _store(spark, [("a", 2, ts(2025, 1, 2), "2025-01-02")])
    once = merge_by_key(existing, updates)
    twice = merge_by_key(once, updates)
    assert sorted(once.collect()) == sorted(twice.collect())
    assert twice.count() == 1


def test_partitioned_write_and_partition_listing(spark, tmp_path):
    ts = dt.datetime
    path = str(tmp_path / "store")
    df = _store(
        spark,
        [("a", 1, ts(2025, 1, 1), "2025-01-01"), ("b", 2, ts(2025, 1, 2), "2025-01-02")],
    )
    write_partitioned(df, path)
    # partition values round-trip through Spark's type inference (str → date)
    vals = {str(r["event_date"]) for r in existing_partition_values(spark, path, "event_date").collect()}
    assert vals == {"2025-01-01", "2025-01-02"}
    # dynamic overwrite touches only the day it carries
    write_partitioned(
        _store(spark, [("a", 9, ts(2025, 1, 1), "2025-01-01")]), path, mode="overwrite"
    )
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert back.filter(F.col("_id") == "a").first()["v"] == 9


def test_write_partitioned_compacts_small_files(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from mbgspark.io import write_partitioned

    df = (
        spark.range(1000)
        .withColumn("event_date", F.concat(F.lit("2025-01-0"), (F.col("id") % 3 + 1)))
        .repartition(8)  # simulate many upstream tasks
    )
    compacted = str(tmp_path / "compacted")
    sharded = str(tmp_path / "sharded")
    write_partitioned(df, compacted, "event_date")
    write_partitioned(df, sharded, "event_date", compact=False)
    n_compact = len(glob.glob(f"{compacted}/event_date=*/*.parquet"))
    n_shard = len(glob.glob(f"{sharded}/event_date=*/*.parquet"))
    # one file per day vs one per (task, day)
    assert n_compact == 3
    assert n_shard > n_compact
    assert spark.read.parquet(compacted).count() == 1000


def test_merge_by_key_partition_prune_hits_store_scan(spark, tmp_path):
    """Batch merge with partition_col must prune the store scan to the
    partitions the updates touch (PartitionFilters, not a post-scan
    filter), and still produce the same merged rows for those partitions."""
    from pyspark.sql import functions as F

    from mbgspark.io import merge_by_key, write_partitioned

    store_path = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, f"2025-01-{1 + i % 5:02d}", 1, f"old{i}") for i in range(50)],
        "_id bigint, event_date string, scraped_at bigint, val string",
    )
    write_partitioned(base, store_path, "event_date")
    updates = spark.createDataFrame(
        [(3, "2025-01-04", 2, "new3"), (999, "2025-01-04", 2, "new999")],
        "_id bigint, event_date string, scraped_at bigint, val string",
    )
    existing = spark.read.parquet(store_path)
    merged = merge_by_key(
        existing, updates, "_id", "scraped_at", partition_col="event_date"
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [event_date" in plan.replace(
        "PartitionFilters: [isnotnull(event_date#", "PartitionFilters: [event_date"
    ) or "event_date IN" in plan
    rows = {r["_id"]: r["val"] for r in merged.collect()}
    # only the touched partition's store rows participate
    assert rows[3] == "new3" and rows[999] == "new999"
    assert all(
        str(r["event_date"]) == "2025-01-04" for r in merged.collect()
    )  # str(): partition-column type inference reads the value back as DATE
    # update-wins + untouched keys of the touched partition retained
    assert rows[8] == "old8" and len(rows) == 11


def test_merge_by_key_partition_col_keeps_update_type_under_ansi(spark, tmp_path):
    """A store read infers its day partition column as DATE while the
    updates carry it as STRING. The merged column must be the updates'
    STRING with ANSI on as it is with ANSI off, not narrowed to DATE."""
    store_path = str(tmp_path / "store")
    write_partitioned(
        _store(spark, [("a", 1, dt.datetime(2025, 1, 1), "2025-01-01"),
                       ("b", 1, dt.datetime(2025, 1, 2), "2025-01-02")]),
        store_path,
        "event_date",
    )
    updates = _store(spark, [("a", 2, dt.datetime(2025, 1, 3), "2025-01-01"),
                             ("c", 3, dt.datetime(2025, 1, 3), "2025-01-01")])

    def merged():
        out = merge_by_key(
            spark.read.parquet(store_path), updates, partition_col="event_date"
        )
        rows = sorted((r["_id"], r["v"], r["event_date"]) for r in out.collect())
        return out.schema["event_date"].dataType.simpleString(), rows

    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "false")
        off = merged()
        spark.conf.set("spark.sql.ansi.enabled", "true")
        on = merged()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    want = ("string", [("a", 2, "2025-01-01"), ("c", 3, "2025-01-01")])
    assert off == want
    assert on == want


def test_merge_and_reprocess_keep_update_type_under_ansi(spark, tmp_path, tweets_raw):
    """Without ``partition_col`` too, a store read's DATE-inferred
    ``event_date`` comes back as the updates' STRING under ANSI — for a
    plain ``merge_by_key`` and for ``pipeline.reprocess``, which merges
    the whole store."""
    from mbgspark.pipeline import locations_dim, reprocess, run_etl
    from mbgspark.sources.ingest import dedup_ingest_batch

    store_path = str(tmp_path / "store")
    write_partitioned(
        _store(spark, [("a", 1, dt.datetime(2025, 1, 1), "2025-01-01")]),
        store_path,
        "event_date",
    )
    updates = _store(spark, [("a", 2, dt.datetime(2025, 1, 3), "2025-01-01")])
    dim = locations_dim(spark)
    etl_path = str(tmp_path / "etl")
    write_partitioned(run_etl(dedup_ingest_batch(tweets_raw), dim), etl_path, "event_date")

    prior = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        merged = merge_by_key(spark.read.parquet(store_path), updates)
        stored = spark.read.parquet(etl_path)
        assert stored.schema["event_date"].dataType.simpleString() == "date"
        _, updated = reprocess(
            stored.withColumn("sentiment_label", F.lit(None).cast("string")), dim
        )
        assert merged.schema["event_date"].dataType.simpleString() == "string"
        assert [(r["_id"], r["v"], r["event_date"]) for r in merged.collect()] == [
            ("a", 2, "2025-01-01")
        ]
        assert updated.schema["event_date"].dataType.simpleString() == "string"
        want = {str(r["event_date"]) for r in stored.collect()}
        assert {r["event_date"] for r in updated.collect()} == want
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)


def test_merge_by_key_null_partition_updates_not_duplicated(spark):
    """An update row with a NULL partition value must still MERGE against
    the existing NULL-partition rows — plain isin(touched) never matches
    NULL, which pruned those rows away and re-inserted the key as a
    duplicate (ADVICE r3)."""
    from mbgspark.io import merge_by_key

    existing = spark.createDataFrame(
        [(1, 1, "old1", None), (2, 1, "old2", "2025-01-01")],
        "_id bigint, scraped_at bigint, val string, event_date string",
    )
    updates = spark.createDataFrame(
        [(1, 2, "new1", None)],
        "_id bigint, scraped_at bigint, val string, event_date string",
    )
    merged = merge_by_key(
        existing, updates, "_id", "scraped_at", partition_col="event_date"
    ).collect()
    rows = {r["_id"]: r["val"] for r in merged}
    # key 1 updated in place (no duplicate); partition-2 row pruned away
    # (untouched partition — the dynamic-overwrite contract)
    assert rows == {1: "new1"}
    assert len(merged) == 1


def test_csv_roundtrip_with_schema_and_complex_guard(spark, tmp_path):
    from pyspark.sql import functions as F

    from mbgspark.io import read_csv_docs, write_csv

    d = spark.createDataFrame(
        [(1, "hello, world", 3.5), (2, 'quote "inside"', None)],
        "id bigint, text string, score double",
    )
    path = str(tmp_path / "csv_out")
    write_csv(d, path)
    back = read_csv_docs(
        spark, path, schema="id bigint, text string, score double"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, d.collect()))
    # complex columns fail fast at the writer, not deep in a job
    import pytest

    with pytest.raises(ValueError, match="complex columns"):
        write_csv(d.withColumn("arr", F.array("id")), str(tmp_path / "bad"))


def test_compact_store_reduces_files_preserves_rows(spark, tmp_path, fault_fs):
    import os

    import pytest

    from mbgspark.io import compact_store

    store = str(tmp_path / "frag_store")
    # simulate months of appends: 6 small batches -> many files per partition
    for b in range(6):
        (
            spark.range(b * 100, (b + 1) * 100)
            .selectExpr(
                "id", "CAST(date_add('2025-01-01', CAST(id % 3 AS INT)) AS STRING) AS event_date"
            )
            .repartition(4)
            .write.mode("append")
            .partitionBy("event_date")
            .parquet(store)
        )
    before = sum(
        1 for _, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")
    )
    rows_before = sorted(r["id"] for r in spark.read.parquet(store).collect())
    # a stale aside sibling: a compaction cut inside its final delete,
    # after both renames (the delete removes one part file, then dies)
    disarm = fault_fs("delete", after_renames=1)
    with pytest.raises(RuntimeError, match="injected fault"):
        compact_store(spark, store, "event_date")
    disarm()
    assert len(os.listdir(tmp_path)) == 2  # the store and its stale sibling
    after = compact_store(spark, store, "event_date")
    rows_after = sorted(r["id"] for r in spark.read.parquet(store).collect())
    assert rows_after == rows_before
    assert os.listdir(tmp_path) == ["frag_store"]
    assert after <= 3  # one file per partition
    assert after < before


def test_partitioned_store_prunes_untouched_days(spark, tmp_path):
    """The store layout's core promise: a one-day query against a
    date-partitioned store plans PartitionFilters and reads ONE partition
    directory — at 100 TB across years of days, this is the difference
    between a seconds-long read and a full scan."""
    from pyspark.sql import functions as F

    from mbgspark.io import write_partitioned

    store = str(tmp_path / "day_store")
    df = spark.range(0, 3000).select(
        F.col("id"),
        F.date_format(
            F.expr("date_add(DATE '2025-03-01', CAST(id % 30 AS INT))"), "yyyy-MM-dd"
        ).alias("event_date"),
    )
    write_partitioned(df, store, "event_date")
    q = spark.read.parquet(store).filter(F.col("event_date") == "2025-03-05")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # the filter binds as a partition predicate, not a data predicate
    assert "(event_date" in plan.split("PartitionFilters")[1].split("]")[0]
    assert q.count() == 100


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Z-ordered files must cover a narrow slice of BOTH filter columns
    (parquet min/max pruning then works for predicates on either), where
    a single-column sort leaves the second column's per-file span at
    ~full range. Verified from the real parquet footers."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mbgspark.io import load_table, write_zordered

    o = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_custkey", "o_totalprice"
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(o, zpath, "o_custkey", "o_totalprice", num_files=16)
    (
        o.repartitionByRange(16, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(spath)
    )

    def mean_span(path, col):
        import glob

        spans, glo_min, glo_max = [], None, None
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        mins.append(c.statistics.min)
                        maxs.append(c.statistics.max)
            if mins:
                spans.append(max(maxs) - min(mins))
                glo_min = min(mins) if glo_min is None else min(glo_min, min(mins))
                glo_max = max(maxs) if glo_max is None else max(glo_max, max(maxs))
        return sum(spans) / len(spans) / (glo_max - glo_min)

    # both layouts: first column well-localized in the z layout too
    z_b = mean_span(zpath, "o_totalprice")
    s_b = mean_span(spath, "o_totalprice")
    z_a = mean_span(zpath, "o_custkey")
    # sorted-by-custkey files each cover ~full totalprice range
    assert s_b > 0.8, s_b
    # 16 files = 4 leading Morton bits = 2 top bits per dimension: each
    # file covers ~1/4 of BOTH ranges (plus range-boundary spill)
    assert z_b < 0.5 * s_b, (z_b, s_b)
    assert z_a < 0.5, z_a


def test_retention_sweep_drops_only_old_partitions(spark, tmp_path):
    """Partitions below the cutoff are deleted directory-wise; surviving
    data is untouched and still readable; dry_run only lists."""
    from pyspark.sql import functions as F

    from mbgspark.io import retention_sweep, write_partitioned

    df = spark.createDataFrame(
        [(i, f"2020-01-{d:02d}") for d in (1, 2, 3) for i in range(5)],
        "id bigint, event_date string",
    )
    store = str(tmp_path / "store")
    write_partitioned(df, store, "event_date")

    # dry_run is the DEFAULT (audit-first): listing deletes nothing —
    # and an OMITTED dry_run with matches warns loudly (ADVICE r5: the
    # default flipped from destructive; pre-flip callers must not read
    # the returned list as deletions performed)
    import pytest

    with pytest.warns(UserWarning, match="NOT deleted"):
        preview = retention_sweep(spark, store, "event_date", "2020-01-03")
    assert preview == ["2020-01-01", "2020-01-02"]
    assert spark.read.parquet(store).count() == 15  # dry run deleted nothing

    # explicit dry_run=True audits silently
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        assert retention_sweep(
            spark, store, "event_date", "2020-01-03", dry_run=True
        ) == ["2020-01-01", "2020-01-02"]

    dropped = retention_sweep(spark, store, "event_date", "2020-01-03", dry_run=False)
    assert dropped == ["2020-01-01", "2020-01-02"]
    left = spark.read.parquet(store)
    assert left.count() == 5
    # partition values are type-inferred on read (string -> date here)
    assert left.select(
        F.min(F.col("event_date").cast("string")),
        F.max(F.col("event_date").cast("string")),
    ).first() == ("2020-01-03", "2020-01-03")


def test_retention_sweep_rejects_mixed_width_partition_values(spark, tmp_path):
    """Lexicographic retention needs fixed-width values: a store mixing
    '2020-1-5'-style and ISO values raises instead of silently
    mis-sorting ('2020-1-5' < '2020-01-06' lexicographically)."""
    import pytest

    from mbgspark.io import retention_sweep, write_partitioned

    df = spark.createDataFrame(
        [(1, "2020-01-05"), (2, "2020-1-6")], "id bigint, event_date string"
    )
    store = str(tmp_path / "mixed_store")
    write_partitioned(df, store, "event_date")
    with pytest.raises(ValueError, match="fixed-width"):
        retention_sweep(spark, store, "event_date", "2020-01-06")


def test_retention_sweep_raises_on_unreadable_store(spark, tmp_path):
    """Only a missing or empty store lists no partitions. A store whose
    one file has a corrupt footer must raise, not report a clean store
    while an expired day is still on disk."""
    import pytest

    from mbgspark.io import retention_sweep

    day = tmp_path / "store" / "event_date=2020-01-01"
    day.mkdir(parents=True)
    (day / "part-00000.parquet").write_bytes(b"PAR1 not a parquet footer")
    with pytest.raises(Exception, match="readParquetFooters"):
        retention_sweep(spark, str(tmp_path / "store"), "event_date",
                        "2020-01-05", dry_run=True)
    assert retention_sweep(spark, str(tmp_path / "missing"), "event_date",
                           "2020-01-05", dry_run=True) == []
    (tmp_path / "emptied").mkdir()
    assert retention_sweep(spark, str(tmp_path / "emptied"), "event_date",
                           "2020-01-05", dry_run=True) == []


# ---------------------------------------------- Mongo migration contract ----


def _oid(n: int) -> str:
    """ObjectId-like 24-hex string, as the Spark Mongo connector surfaces
    `_id` after the README's cast-to-string."""
    return f"{n:024x}"


def _mongo_day_fixture(spark, day_docs):
    """Mongo-connector-shaped frame for one per-day collection
    (`monthly_tweets_{YYYYMMDD}`, reference utils.py:567-592): nested
    {content, metadata, metrics, sentiment_analysis, processing_status}
    docs in TWEET_DOC_SCHEMA — the same shape resilient_scraper.py:916-934
    stores and the connector infers."""
    from mbgspark.schema import TWEET_DOC_SCHEMA

    return spark.createDataFrame(day_docs, TWEET_DOC_SCHEMA)


def test_mongo_migration_recipe_end_to_end(spark, tmp_path):
    """VERDICT r5 item 2 / README 'Migrating live reference data out of
    MongoDB': the documented per-collection chain — connector-shaped
    nested docs → flatten → merge_by_key(partition-scoped) →
    write_partitioned — lands a store equal to the hand-built expected
    one, including the reference's upsert semantics for a tweet
    re-scraped on a later day (latest scraped_at wins, key keeps its
    partition)."""
    import os

    ts = dt.datetime
    loc = ("dki jakarta", "jakarta pusat", "location_field", "Jakarta Pusat")

    def doc(n, text, created, scraped, likes, sentiment=None):
        return (
            _oid(n),
            (text, text.lower()),
            ("Author", f"@a{n}", created, scraped, loc, f"https://x.com/{n}"),
            (0, 0, likes),
            sentiment,
            (sentiment is not None, True),
            loc,
        )

    day1 = [
        doc(1, "MBG hari pertama", ts(2025, 1, 1, 8), ts(2025, 1, 1, 9), 5,
            ("positive", 0.9)),
        doc(2, "tweet kedua", ts(2025, 1, 1, 10), ts(2025, 1, 1, 11), 2),
    ]
    # day 2: one novel doc + doc 1 re-scraped (newer scraped_at, likes grew)
    day2 = [
        doc(3, "tweet ketiga", ts(2025, 1, 2, 8), ts(2025, 1, 2, 9), 1),
        doc(1, "MBG hari pertama", ts(2025, 1, 1, 8), ts(2025, 1, 2, 12), 50,
            ("positive", 0.95)),
    ]

    store = str(tmp_path / "tweets_store")
    for day_iso, docs in (("2025-01-01", day1), ("2025-01-02", day2)):
        raw = _mongo_day_fixture(spark, docs)
        # the README's flatten select: nested doc -> TWEET_RAW_SCHEMA-ish
        # flat row; a re-scraped tweet keeps its own created-date
        # partition (the merge sink's touched-partitions contract)
        flat = raw.select(
            F.col("_id").cast("string").alias("_id"),
            F.col("content.text").alias("text"),
            F.col("metadata.created_at").alias("created_at"),
            F.col("metadata.scraped_at").alias("scraped_at"),
            F.col("metadata.author_handle").alias("author_handle"),
            F.col("metrics.like_count").alias("like_count"),
        ).withColumn("event_date", F.date_format("created_at", "yyyy-MM-dd"))
        if os.path.isdir(store):
            merged = merge_by_key(
                spark.read.parquet(store), flat,
                key="_id", order_col="scraped_at", partition_col="event_date",
            )
            write_partitioned(merged, store, "event_date")
        else:
            write_partitioned(flat, store, "event_date")

    got = sorted(
        (r["_id"], r["text"], r["like_count"], r["scraped_at"],
         str(r["event_date"]))
        for r in spark.read.parquet(store).collect()
    )
    want = sorted([
        # doc 1: the day-2 re-scrape won (scraped_at 2025-01-02 12:00,
        # likes 50), still in its created-date partition
        (_oid(1), "MBG hari pertama", 50, ts(2025, 1, 2, 12), "2025-01-01"),
        (_oid(2), "tweet kedua", 2, ts(2025, 1, 1, 11), "2025-01-01"),
        (_oid(3), "tweet ketiga", 1, ts(2025, 1, 2, 9), "2025-01-02"),
    ])
    assert got == want

    # replaying day 2 (the resumable-ingest crash case) converges: same rows
    raw = _mongo_day_fixture(spark, day2)
    flat = raw.select(
        F.col("_id").cast("string").alias("_id"),
        F.col("content.text").alias("text"),
        F.col("metadata.created_at").alias("created_at"),
        F.col("metadata.scraped_at").alias("scraped_at"),
        F.col("metadata.author_handle").alias("author_handle"),
        F.col("metrics.like_count").alias("like_count"),
    ).withColumn("event_date", F.date_format("created_at", "yyyy-MM-dd"))
    merged = merge_by_key(
        spark.read.parquet(store), flat,
        key="_id", order_col="scraped_at", partition_col="event_date",
    )
    write_partitioned(merged, store, "event_date")
    again = sorted(
        (r["_id"], r["text"], r["like_count"], r["scraped_at"],
         str(r["event_date"]))
        for r in spark.read.parquet(store).collect()
    )
    assert again == want


def test_mongo_fixture_flattens_with_reference_defaults(spark):
    """schema.flatten_tweets (P1) over the connector-shaped fixture:
    missing enrichment (NULL sentiment_analysis struct) flattens to the
    reference's get(..., '')/0.0/False defaults."""
    from mbgspark.schema import flatten_tweets

    ts = dt.datetime
    docs = [
        (
            _oid(7),
            ("raw text", None),
            (None, "@h", ts(2025, 1, 1), ts(2025, 1, 1), None, None),
            (None, None, 3),
            None,
            (None, None),
            None,
        )
    ]
    flat = flatten_tweets(_mongo_day_fixture(spark, docs)).collect()[0]
    assert flat["_id"] == _oid(7)
    assert flat["text"] == "raw text"
    assert flat["clean_text"] == ""
    assert flat["sentiment_label"] == ""
    assert flat["sentiment_confidence"] == 0.0
    assert flat["sentiment_analyzed"] is False
    assert flat["reply_count"] == 0
    assert flat["like_count"] == 3


# ----------------------------------------------------------- ensure_width ----


def _check_ensure_width(spark, cases):
    """Run ``(case, input, kwargs, widened?)`` rows through io.ensure_width.
    An input that is not widened must come back as the SAME object (the
    100 TB property: a production table with thousands of splits must
    never pay a corpus-wide shuffle here); a widened one has exactly
    ``defaultParallelism`` partitions and its values intact. With ``by``
    the exchange is hash-keyed, so a downstream groupBy(by) plans no
    exchange of its own."""
    import mbgspark.io as io

    n = spark.sparkContext.defaultParallelism
    for case, df, kwargs, widened in cases:
        out = io.ensure_width(df, **kwargs)
        if not widened:
            assert out is df, case
            continue
        assert out is not df, case
        assert out.rdd.getNumPartitions() == n, case
        assert out.count() == df.count(), case  # values survive
        plan = out.groupBy("doc_id").count()._jdf.queryExecution().executedPlan()
        exchanges = plan.toString().count("Exchange")
        if "by" in kwargs:  # the groupBy rides the keyed exchange
            assert exchanges == 1, case
        else:  # round-robin widening, then the groupBy's own exchange
            assert exchanges == 2, case


def _narrow_and_wide(spark):
    narrow = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    assert narrow.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    return narrow, narrow.repartition(spark.sparkContext.defaultParallelism)


def test_fanout_scan_gate(spark):
    """With a byte floor (the row-local text operators' call), ensure_width
    widens only when BOTH conditions hold: fewer partitions than session
    parallelism AND leaf bytes over the floor. Small inputs pass through
    untouched (the exchange would cost more than the single-core pass it
    parallelizes); an input already at parallelism is untouched regardless
    of size."""
    import mbgspark.io as io

    narrow, wide = _narrow_and_wide(spark)
    _check_ensure_width(spark, [
        ("under the byte floor", narrow, {"min_bytes": io._FANOUT_MIN_BYTES}, False),
        ("over the byte floor", narrow, {"min_bytes": 1}, True),
        ("already at width", wide, {"min_bytes": 1}, False),
        ("already at width, keyed", wide, {"by": "doc_id", "min_bytes": 1}, False),
    ])


def test_widen_narrow_scan_gate(spark):
    """Without a byte floor (the heavy-map callers: shingle, minhash,
    locate, broadcast-join scorers), ensure_width widens every narrow
    input regardless of byte size, passes an already-wide or streaming
    input through untouched, and with ``by`` hash-partitions on the id so
    a downstream groupBy(id) rides the widener's exchange."""
    narrow, wide = _narrow_and_wide(spark)
    stream = spark.readStream.format("rate").load()
    _check_ensure_width(spark, [
        ("floor 0, narrow", narrow, {}, True),
        ("keyed, narrow", narrow, {"by": "doc_id"}, True),
        ("already at width", wide, {}, False),
        ("already at width, keyed", wide, {"by": "doc_id"}, False),
        ("streaming", stream, {}, False),
        ("streaming, keyed", stream, {"by": "value"}, False),
    ])


def test_fanout_leaf_bytes_probe_is_live(spark):
    """_leaf_bytes must return the REAL parquet footer size, not the
    assume-big fallback: if a PySpark upgrade breaks the py4j probe, this
    fails loudly instead of the gate silently fanning out every small
    input (see _leaf_bytes docstring)."""
    import os

    import mbgspark.io as io

    path = "/root/testdata/sf0.001/documents.parquet"
    df = spark.read.parquet(path).select("doc_id", "text")
    probed = io._leaf_bytes(df)
    actual = os.path.getsize(path)
    assert probed < io._FANOUT_MIN_BYTES  # NOT the fallback value
    assert 0 < probed <= actual * 3  # footer-derived, same order as the file
    assert probed >= actual // 3


def test_load_table_reads_directory_shaped_tables(spark, tmp_path):
    """A table may be one parquet FILE or a DIRECTORY of part files (the
    production layout; tools/make_split.py builds it at scale). load_table
    must read both shapes through the same path, and the directory shape
    must arrive with one split per part file so scans parallelize without
    ensure_width's exchange (r9, SCALE.md 'directory-shaped tables')."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mbgspark.io import load_table

    sf_dir = tmp_path / "sfdir"
    d = sf_dir / "documents.parquet"
    d.mkdir(parents=True)
    rows = [(i, f"doc number {i} text") for i in range(90)]
    for p in range(3):
        chunk = rows[p * 30 : (p + 1) * 30]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in chunk], type=pa.int64()),
                    "text": pa.array([r[1] for r in chunk]),
                }
            ),
            str(d / f"part-{p:05d}.parquet"),
        )
    df = load_table(spark, str(sf_dir), "documents")
    assert df.count() == 90
    assert sorted(r["doc_id"] for r in df.collect()) == list(range(90))
    # file-granular splits: at least one task per part file
    assert df.rdd.getNumPartitions() >= 3
