"""Streaming parity — X5-X8 driven through real readStream/writeStream with
availableNow triggers (micro-batch files on disk, not mocks)."""

import json

from pyspark.sql import functions as F

from mbgspark.streaming import (
    GATE_COMPACT_STAGING,
    daily_counts_stream,
    dedup_stream,
    read_tweet_stream,
    session_counts_stream,
    start_merge_sink,
)


def _write_batch(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{len(list(path.iterdir()))}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows))


R1 = {
    "_id": "1", "text": "hello world one", "created_at": "2025-01-01T10:00:00Z",
    "scraped_at": "2025-01-01T11:00:00Z", "tweet_url": "u", "author_handle": "h",
    "author_name": "n", "location": None, "reply_count": 1, "retweet_count": 1,
    "like_count": 1,
}
R1B = {**R1, "like_count": 5, "scraped_at": "2025-01-01T12:00:00Z"}  # re-delivery
R2 = {**R1, "_id": "2", "text": "second tweet here", "created_at": "2025-01-02T09:00:00Z"}


def test_stream_dedup_and_window(spark, tmp_path):
    src = tmp_path / "src"
    _write_batch(src, [R1, R1B, R2])
    stream = read_tweet_stream(spark, str(src))
    deduped = dedup_stream(stream)
    counts = daily_counts_stream(deduped)
    q = (
        counts.writeStream.format("memory")
        .queryName("daily_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r["day_start"]): r["cnt"]
        for r in spark.sql("select * from daily_counts").collect()
    }
    # tumbling day windows align to midnight; the _id=1 re-delivery was deduped
    assert got == {"2025-01-01 00:00:00": 1, "2025-01-02 00:00:00": 1}


def test_foreachbatch_merge_sink_idempotent(spark, tmp_path):
    src = tmp_path / "src2"
    store = str(tmp_path / "store")
    ckpt1, ckpt2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    _write_batch(src, [R1, R2])
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)), store, ckpt1, available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(store).count() == 2

    # second delivery of _id=1 with newer scraped_at → update, not duplicate
    _write_batch(src, [R1B])
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)), store, ckpt2, available_now=True
    )
    q.awaitTermination(120)
    back = spark.read.parquet(store)
    assert back.count() == 2
    assert back.filter(F.col("_id") == "1").first()["like_count"] == 5


def test_stateful_counts_survive_restart(spark, tmp_path):
    from mbgspark.streaming import stateful_author_counts

    src = tmp_path / "src3"
    ckpt = str(tmp_path / "ck3")

    def run_once(name):
        # memory sink can't recover from a checkpoint; foreachBatch can
        got = {}

        def collect(batch_df, batch_id):
            for r in batch_df.collect():
                got[r["author_handle"]] = (r["total_cnt"], r["total_likes"])

        q = (
            stateful_author_counts(read_tweet_stream(spark, str(src)))
            .writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    _write_batch(src, [R1, R2])  # handle h: 2 rows, 2 likes
    got1 = run_once("state_run1")
    assert got1 == {"h": (2, 2)}

    # restart from the same checkpoint: state must carry over
    _write_batch(src, [R1B])  # 1 more row, 5 likes
    got2 = run_once("state_run2")
    assert got2 == {"h": (3, 7)}


def test_max_files_per_trigger_paces_batches(spark, tmp_path):
    # O3 pacing analog (max_per_page=50): 3 source files with
    # maxFilesPerTrigger=1 must process as 3 distinct micro-batches
    src = tmp_path / "src4"
    for r in (R1, R1B, R2):
        _write_batch(src, [r])
    batches = []

    def collect(batch_df, batch_id):
        batches.append(batch_df.count())

    q = (
        read_tweet_stream(spark, str(src), max_files_per_trigger=1)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert batches == [1, 1, 1]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    # stream-static join: micro-batches enrich against a broadcast dim
    # without stopping the stream (the streaming analog of J1's bounded-dim
    # contract)
    from pyspark.sql import functions as F

    src = tmp_path / "src5"
    _write_batch(src, [R1, R2])
    dim = spark.createDataFrame(
        [("h", "verified")], "author_handle string, badge string"
    )
    stream = read_tweet_stream(spark, str(src)).join(
        F.broadcast(dim), "author_handle", "left"
    )
    rows = []

    def collect(batch_df, batch_id):
        rows.extend(batch_df.select("_id", "badge").collect())

    q = (
        stream.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ck5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {(r["_id"], r["badge"]) for r in rows} == {("1", "verified"), ("2", "verified")}


def test_stream_session_windows_merge_across_batches(spark, tmp_path):
    # one event in batch 1, two in batch 2; the 10:20 event is within the
    # 30-min gap of 10:00, so session_window must MERGE state across
    # micro-batches (maxFilesPerTrigger=1 forces separate batches); 12:00
    # starts a fresh session. end = last event + gap.
    src = tmp_path / "sess_src"
    _write_batch(src, [R1])
    _write_batch(
        src,
        [
            {**R1, "_id": "s2", "created_at": "2025-01-01T10:20:00Z"},
            {**R1, "_id": "s3", "created_at": "2025-01-01T12:00:00Z"},
        ],
    )
    stream = read_tweet_stream(spark, str(src), max_files_per_trigger=1)
    q = (
        session_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["session_start"]), str(r["session_end"])): r["cnt"]
        for r in spark.sql("select * from sessions").collect()
    }
    assert got == {
        ("2025-01-01 10:00:00", "2025-01-01 10:50:00"): 2,
        ("2025-01-01 12:00:00", "2025-01-01 12:30:00"): 1,
    }


def test_stream_stream_interval_join(spark, tmp_path):
    # stream-stream inner join with an event-time interval condition: a
    # "view" stream joins the "click" stream for the same _id within
    # [view, view + 1h]. Both sides carry watermarks so Spark can bound the
    # buffered state; availableNow drains both sources.
    views_src = tmp_path / "ss_views"
    clicks_src = tmp_path / "ss_clicks"
    _write_batch(views_src, [R1, R2])  # views at 10:00 (id 1), 09:00 day2 (id 2)
    _write_batch(
        clicks_src,
        [
            {**R1, "created_at": "2025-01-01T10:30:00Z"},  # within 1h of view 1
            {**R2, "created_at": "2025-01-02T11:00:00Z"},  # 2h after view 2: out
        ],
    )
    views = (
        read_tweet_stream(spark, str(views_src))
        .select("_id", F.col("created_at").alias("view_ts"))
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        read_tweet_stream(spark, str(clicks_src))
        .select(F.col("_id").alias("c_id"), F.col("created_at").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("_id") == F.col("c_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    rows = []

    def collect(batch_df, batch_id):
        rows.extend(batch_df.select("_id").collect())

    q = (
        joined.writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r["_id"] for r in rows] == ["1"]


def test_stream_curation_gate_composes_with_dedup_and_merge(spark, tmp_path):
    """The curation column operators (quality score, lang-ID, token
    counts) are pure projections, so they must run UNCHANGED on a
    streaming DataFrame — a nightly-batch curation gate and a streaming
    ingest gate are the same code. Pipeline: readStream → quality/token
    gate → cross-batch dedup → idempotent merge sink; low-quality rows
    never reach the store, re-deliveries update instead of duplicate."""
    from mbgspark.operators.textstats import (
        with_quality_score,
        with_token_counts,
    )

    src = tmp_path / "cur_src"
    store = str(tmp_path / "cur_store")
    good = {
        **R1,
        "text": "the quick brown fox jumps over a lazy dog of the meadow today",
    }
    short = {**R1, "_id": "9", "text": "tiny"}  # fails the n_tokens gate
    _write_batch(src, [good, {**good, "like_count": 7}, short])

    stream = read_tweet_stream(spark, str(src))
    gated = with_token_counts(
        with_quality_score(stream, "text"), "text"
    ).filter((F.col("n_tokens") >= 5) & (F.col("quality_score") >= 0.2))
    q = start_merge_sink(
        dedup_stream(gated.drop("n_chars")),
        store,
        str(tmp_path / "cur_ck"),
        available_now=True,
    )
    q.awaitTermination(120)
    back = spark.read.parquet(store)
    rows = back.collect()
    assert [r["_id"] for r in rows] == ["1"]  # short doc gated out, dup deduped
    assert rows[0]["ws_tokens"] == 13 and rows[0]["quality_score"] >= 0.2


def test_cardinality_sink_folds_sketches_and_replay_is_noop(spark, tmp_path):
    """Per-day HLL sketch rows accumulate across micro-batches; replaying
    the same keys leaves every estimate unchanged (HLL union idempotence
    — the sink's exactly-once story); total distinct = one union over the
    day rows, never a rescan of raw keys."""
    from mbgspark.streaming import read_tweet_stream, start_cardinality_sink

    src = tmp_path / "csrc"
    store = str(tmp_path / "cstore")

    def run(ckpt):
        q = start_cardinality_sink(
            read_tweet_stream(spark, str(src)),
            store,
            str(tmp_path / ckpt),
            key_col="author_handle",
            ts_col="created_at",
            available_now=True,
        )
        q.awaitTermination(120)

    day1 = [dict(R1, _id=str(i), author_handle=f"a{i % 3}") for i in range(10)]
    _write_batch(src, day1)
    run("ck_a")
    day2 = [
        dict(R2, _id=str(100 + i), author_handle=f"b{i % 5}") for i in range(10)
    ]
    _write_batch(src, day2)
    run("ck_b")

    est = {
        r["day"]: r["est"]
        for r in spark.read.parquet(store)
        .select("day", F.hll_sketch_estimate("hll_sketch").alias("est"))
        .collect()
    }
    assert est == {"2025-01-01": 3, "2025-01-02": 5}

    # replay batch 1 with a fresh checkpoint: union is idempotent
    run("ck_replay")
    est2 = {
        r["day"]: r["est"]
        for r in spark.read.parquet(store)
        .select("day", F.hll_sketch_estimate("hll_sketch").alias("est"))
        .collect()
    }
    assert est2 == est
    total = (
        spark.read.parquet(store)
        .agg(F.hll_sketch_estimate(F.expr("hll_union_agg(hll_sketch)")).alias("t"))
        .first()["t"]
    )
    assert total == 8


def _sketch_estimates(spark, store):
    return {
        r["day"]: r["est"]
        for r in spark.read.parquet(store)
        .select("day", F.hll_sketch_estimate("hll_sketch").alias("est"))
        .collect()
    }


def _run_cardinality_sink(spark, src, store, ckpt):
    from mbgspark.streaming import start_cardinality_sink

    start_cardinality_sink(
        read_tweet_stream(spark, str(src)),
        store,
        ckpt,
        key_col="author_handle",
        ts_col="created_at",
        available_now=True,
    ).awaitTermination(120)


def test_cardinality_sink_recovers_staged_generation_after_crash(
    spark, tmp_path, fault_fs
):
    """Crash-window recovery for the staged sketch-store swap (ADVICE
    r4): if a crash lands between the swap's two renames (live store
    aside, staged generation in), the live path is missing but the
    staged copy is the fully-committed newest generation — the restarted
    fold renames it into place before folding, so no prior day's sketch
    is ever lost. The crash is injected into ``io.swap_store`` itself,
    after its first rename."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "crsrc"
    store = str(tmp_path / "crstore")
    ck = str(tmp_path / "cr_ck")

    day1 = [dict(R1, _id=str(i), author_handle=f"a{i % 3}") for i in range(10)]
    _write_batch(src, day1)
    _run_cardinality_sink(spark, src, store, ck)

    day2 = [
        dict(R2, _id=str(100 + i), author_handle=f"b{i % 5}") for i in range(10)
    ]
    _write_batch(src, day2)
    disarm = fault_fs("rename", after_renames=1)
    with pytest.raises(StreamingQueryException, match="injected fault"):
        _run_cardinality_sink(spark, src, store, ck)
    disarm()
    # the crash state: store renamed aside, staged generation not yet in
    assert not os.path.exists(store)

    _run_cardinality_sink(spark, src, store, ck)  # batch 1 replays
    # day 1's sketches survived the crash; day 2 folded on top
    assert _sketch_estimates(spark, store) == {"2025-01-01": 3, "2025-01-02": 5}
    assert [p for p in os.listdir(tmp_path) if p.startswith("crstore")] == [
        "crstore"
    ]


def test_cardinality_sink_partial_delete_keeps_every_day(
    spark, tmp_path, fault_fs
):
    """A recursive delete on the local FS removes files one by one, so a
    crash inside it leaves part of the directory behind. The fold's swap
    must never delete the live store in place: a crash inside its
    delete, which here removes one part file and then dies, must leave
    every earlier day's sketch readable after the restart. The store
    starts as two days backfilled one append each (one part file per
    day), so a partial delete of the live store would drop a day that
    the restarted fold then rewrites out of the store for good."""
    import pytest
    from pyspark.errors import StreamingQueryException

    src = tmp_path / "pdsrc"
    store = str(tmp_path / "pdstore")
    ck = str(tmp_path / "pd_ck")
    for day, n in (("2025-01-01", 3), ("2025-01-02", 5)):
        spark.createDataFrame(
            [(day, f"{day}-a{i}") for i in range(n)], "day string, author string"
        ).groupBy("day").agg(
            F.hll_sketch_agg("author").alias("hll_sketch")
        ).coalesce(1).write.mode("append").parquet(store)
    assert _sketch_estimates(spark, store) == {"2025-01-01": 3, "2025-01-02": 5}

    r3 = {**R1, "created_at": "2025-01-03T09:00:00Z"}
    _write_batch(
        src, [dict(r3, _id=str(i), author_handle=f"c{i % 2}") for i in range(6)]
    )
    disarm = fault_fs("delete")
    with pytest.raises(StreamingQueryException, match="injected fault"):
        _run_cardinality_sink(spark, src, store, ck)
    disarm()

    _run_cardinality_sink(spark, src, store, ck)  # the batch replays
    assert _sketch_estimates(spark, store) == {
        "2025-01-01": 3,
        "2025-01-02": 5,
        "2025-01-03": 2,
    }


def test_merge_sink_restarts_from_checkpoint_after_mid_batch_crash(spark, tmp_path):
    """Kill-and-restart recovery for the merge sink (VERDICT r4 item 5;
    reference analog: the browser-restart recovery loop,
    resilient_etl.py:388-404). The crash state is constructed exactly as
    Spark leaves it when a query dies mid-batch: the checkpoint's
    offsets/N exists but commits/N does not — the batch's side effect
    (the store merge) already ran, the commit never landed. On restart
    the engine re-delivers batch N from the recorded offsets; the keyed
    merge is idempotent, so the store converges to the single-run
    result."""
    src = tmp_path / "crash_src"
    store = str(tmp_path / "crash_store")
    ck = tmp_path / "crash_ck"

    # batch 0 processed and committed...
    _write_batch(src, [R1, R2])
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)), store, str(ck), available_now=True
    )
    q.awaitTermination(120)
    assert spark.read.parquet(store).count() == 2

    # ...then "crash mid-batch": erase the commit marker, keeping the
    # offset — the on-disk state of a query killed between side effect
    # and commit
    commit0 = ck / "commits" / "0"
    assert commit0.exists()
    commit0.unlink()
    crc = ck / "commits" / ".0.crc"  # local-FS checksum twin of the marker
    if crc.exists():
        crc.unlink()

    # more data arrives while the job is down
    _write_batch(src, [R1B])

    # restart from the SAME checkpoint: batch 0 replays (merge no-op),
    # then the new file processes as the next batch
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)), store, str(ck), available_now=True
    )
    q.awaitTermination(120)

    back = spark.read.parquet(store)
    assert back.count() == 2
    assert back.filter(F.col("_id") == "1").first()["like_count"] == 5

    # equality with the no-crash single run over the same source
    fresh_store = str(tmp_path / "fresh_store")
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)),
        fresh_store,
        str(tmp_path / "fresh_ck"),
        available_now=True,
    )
    q.awaitTermination(120)
    cols = sorted(back.columns)
    got = sorted(map(tuple, back.select(*cols).collect()))
    want = sorted(map(tuple, spark.read.parquet(fresh_store).select(*cols).collect()))
    assert got == want


def test_merge_sink_survives_compaction_cut_between_renames(
    spark, tmp_path, fault_fs
):
    """io.compact_store swaps the compacted copy in with two renames
    (live store aside, staged copy in). A crash between them leaves NO
    store at the path; the next merge batch must not mistake that for a
    first batch and overwrite the store with its own rows. The crash is
    injected into the swap after its first rename; the batch fails,
    compact_store finishes the swap, and the replayed batch merges on
    top of every old row."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from mbgspark.io import compact_store

    src = tmp_path / "cc_src"
    store = str(tmp_path / "cc_store")
    ck = str(tmp_path / "cc_ck")
    _write_batch(src, [R1, R2])
    start_merge_sink(
        read_tweet_stream(spark, str(src)), store, ck, available_now=True
    ).awaitTermination(120)

    # the cut: compacted copy staged, first rename done, second not
    disarm = fault_fs("rename", after_renames=1)
    with pytest.raises(RuntimeError, match="injected fault"):
        compact_store(spark, store)
    disarm()
    assert not os.path.exists(store)

    r3 = {**R1, "_id": "3", "text": "third one", "created_at": "2025-01-03T09:00:00Z"}
    _write_batch(src, [r3])
    with pytest.raises(StreamingQueryException, match="__compact_"):
        start_merge_sink(
            read_tweet_stream(spark, str(src)), store, ck, available_now=True
        ).awaitTermination(120)

    compact_store(spark, store)  # finishes the interrupted swap
    assert sorted(r["_id"] for r in spark.read.parquet(store).collect()) == ["1", "2"]
    assert [p for p in os.listdir(tmp_path) if p.startswith("cc_store")] == [
        "cc_store"
    ]

    start_merge_sink(  # the failed batch replays from the checkpoint
        read_tweet_stream(spark, str(src)), store, ck, available_now=True
    ).awaitTermination(120)
    got = sorted(r["_id"] for r in spark.read.parquet(store).collect())
    assert got == ["1", "2", "3"]


def test_indexed_neardup_gate_admits_once_and_replays_idempotently(spark, tmp_path):
    """The index-maintaining gate (production form): later batches gate
    against the persisted MinHash index only (corpus text untouched),
    near-dups of stored docs are rejected, and a mid-batch crash
    (commit marker erased) replays to the identical store — partition-
    scoped idempotent overwrites, no append duplication. A restart with a
    FRESH checkpoint would start again at batch 0 and hide every stored
    batch behind the __gate_batch < N read; it fails fast instead of
    re-admitting doc 11. Once the store and both index paths are folded
    into the -1 base with compact_gate_store, a fresh checkpoint replays
    the whole source to the same store: it is a fixpoint of the gate."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from mbgspark.streaming import (
        compact_gate_store,
        start_neardup_gate_sink_indexed,
    )

    src = tmp_path / "ig_src"
    store = str(tmp_path / "ig_store")
    index = str(tmp_path / "ig_index")
    ck = tmp_path / "ig_ck"

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "quick brown fox jumps over the lazy dog near the river bank"
    other = "completely unrelated text about catalyst physical plan pruning rules"

    gate_metrics: list = []

    def run(ck=ck):
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = start_neardup_gate_sink_indexed(
            stream, store, index, str(ck), threshold=0.5, available_now=True,
            on_metrics=lambda bid, m: gate_metrics.append((bid, m)),
        )
        q.awaitTermination(120)
        return sorted(r["doc_id"] for r in spark.read.parquet(store).collect())

    # batch 0: batch-internal near-dup collapses (lower id wins)
    _write_batch(src, [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": near},
        {"doc_id": 3, "text": other},
    ])
    assert run() == [1, 3]

    # batch 1 (same checkpoint): near-dup of STORED doc rejected via the
    # index; novel doc admitted
    _write_batch(src, [
        {"doc_id": 10, "text": near},
        {"doc_id": 11, "text": "fresh novel content with entirely new vocabulary tokens"},
    ])
    assert run() == [1, 3, 11]

    # crash state: batch 1's side effects applied, commit marker gone
    commit1 = ck / "commits" / "1"
    assert commit1.exists()
    commit1.unlink()
    crc = ck / "commits" / ".1.crc"
    if crc.exists():
        crc.unlink()

    # restart from the same checkpoint: batch 1 replays onto its own
    # partitions — store converges to the single-run result
    assert run() == [1, 3, 11]

    # the index mirrors the admitted set exactly (one arrays row per doc)
    arr = spark.read.parquet(f"{index}/arrays")
    assert sorted(r["doc_id"] for r in arr.collect()) == [1, 3, 11]

    # the metrics channel fired per batch incl. the replayed one; no
    # bucket exceeded the cap on this corpus
    assert len(gate_metrics) >= 3
    assert all(m["oversized_buckets"] == 0 for _, m in gate_metrics)

    # fresh checkpoint over the same source: its batch 0 holds every file,
    # while the store already holds __gate_batch=1
    with pytest.raises(StreamingQueryException, match="__gate_batch=1"):
        run(tmp_path / "ig_ck_fresh")
    assert sorted(r["doc_id"] for r in spark.read.parquet(store).collect()) == [
        1, 3, 11,
    ]

    # the fresh-checkpoint recipe: fold the store and both index paths
    # into the -1 base, then replay the whole source under a new
    # checkpoint — every doc exact-matches its folded copy
    for path in (store, f"{index}/bands", f"{index}/arrays"):
        compact_gate_store(spark, path)
    reported = len(gate_metrics)
    assert run(tmp_path / "ig_ck_compacted") == [1, 3, 11]
    # the zero-survivor batch folds the ride-along away and still reports
    assert gate_metrics[reported:] == [
        (0, {"oversized_buckets": 0, "oversized_rows": 0})
    ]


def test_indexed_gate_recovers_from_first_batch_partial_write(spark, tmp_path):
    """ADVICE r5 (medium): a crash during the FIRST batch can leave a
    subset of the gate's three output paths on disk (here: bands written,
    store/arrays not — the pre-fix trigger ordering). The replay must NOT
    take the indexed branch and die on a path-does-not-exist read; it
    falls back to the self-contained branch (equivalent for batch 0) and
    converges to the correct store."""
    import shutil

    from mbgspark.operators.dedup import (
        build_minhash_index,
        check_minhash_index,
        write_minhash_index,
    )
    from mbgspark.streaming import start_neardup_gate_sink_indexed

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "quick brown fox jumps over the lazy dog near the river bank"
    src = tmp_path / "pb_src"
    store = str(tmp_path / "pb_store")
    index = str(tmp_path / "pb_index")
    ck = str(tmp_path / "pb_ck")

    # simulate the crash remnant: batch 0's bands partition exists,
    # nothing else does. The meta sidecar is ALWAYS present in this
    # window (r7: the gate records it at first contact, before any
    # data write), so the remnant includes it.
    check_minhash_index(spark, index)
    remnant = spark.createDataFrame(
        [(1, base), (3, "completely unrelated text about plan pruning")],
        "doc_id long, text string",
    )
    write_minhash_index(
        index, 0, *build_minhash_index(remnant, "doc_id", "text"), "doc_id"
    )
    shutil.rmtree(f"{index}/arrays")

    _write_batch(src, [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": near},
        {"doc_id": 3, "text": "completely unrelated text about plan pruning"},
    ])
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = start_neardup_gate_sink_indexed(
        stream, store, index, ck, threshold=0.5, available_now=True,
    )
    q.awaitTermination(120)
    assert sorted(r["doc_id"] for r in spark.read.parquet(store).collect()) == [1, 3]
    # the replayed batch 0 overwrote the remnant partition in place
    bands = spark.read.parquet(f"{index}/bands")
    assert bands.select("__gate_batch").distinct().collect()[0][0] == 0


def test_compact_gate_store_preserves_gate_semantics(spark, tmp_path):
    """compact_gate_store folds every __gate_batch partition into the -1
    base generation: file count drops, the gate keeps rejecting near-dups
    of pre-compaction admissions (the < N read contract still sees the
    base), and the final store matches the uncompacted twin run. Also
    pins the staged-swap crash recovery: a committed staging dir left by
    a crashed call is adopted, not rebuilt."""
    import glob
    import os

    from mbgspark.streaming import (
        compact_gate_store,
        start_neardup_gate_sink_indexed,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "quick brown fox jumps over the lazy dog near the river bank"
    batches = [
        [{"doc_id": 1, "text": base},
         {"doc_id": 2, "text": "unrelated text about catalyst plan pruning"}],
        [{"doc_id": 10, "text": "fresh novel content with new vocabulary"}],
        # post-compaction batch: near-dup of a PRE-compaction admission
        [{"doc_id": 20, "text": near},
         {"doc_id": 21, "text": "another entirely different document body"}],
    ]

    def run(root, upto, compact_after=None):
        store, index, ck = f"{root}/store", f"{root}/index", f"{root}/ck"
        for i in range(upto):
            _write_batch(tmp_path / f"{os.path.basename(root)}_src{i}", [])
            src = tmp_path / f"{os.path.basename(root)}_src"
            os.makedirs(src, exist_ok=True)
            with open(src / f"b{i}.json", "w") as f:
                for d in batches[i]:
                    import json as _json

                    f.write(_json.dumps(d) + "\n")
            q = start_neardup_gate_sink_indexed(
                spark.readStream.schema("doc_id long, text string").json(str(src)),
                store, index, ck, threshold=0.5, available_now=True,
            )
            q.awaitTermination(120)
            if compact_after is not None and i == compact_after:
                for p in (store, f"{index}/bands", f"{index}/arrays"):
                    assert compact_gate_store(spark, p) >= 1
        return sorted(r["doc_id"] for r in spark.read.parquet(store).collect())

    plain = run(str(tmp_path / "nc"), 3)
    compacted = run(str(tmp_path / "cc"), 3, compact_after=1)
    assert plain == compacted == [1, 2, 10, 21]  # 20 rejected vs base

    # compaction actually shrank the file count
    n_cc = len(glob.glob(f"{tmp_path}/cc/index/bands/**/*.parquet", recursive=True))
    n_nc = len(glob.glob(f"{tmp_path}/nc/index/bands/**/*.parquet", recursive=True))
    assert n_cc < n_nc

    # crash recovery: a COMMITTED staging snapshot (what a crashed call
    # leaves between its manifest write and the swap) is adopted, not
    # rebuilt — and the adoption's deletes are scoped to the manifest
    # (ADVICE r6): a batch dir written AFTER the snapshot (a restarted
    # stream between the crash and the retry) must survive with its data.
    import json as _json

    store = f"{tmp_path}/cc/store"
    staging = store + GATE_COMPACT_STAGING
    rows_before = sorted(
        r["doc_id"] for r in spark.read.parquet(store).collect()
    )
    dirs_before = [
        d for d in os.listdir(store) if d.startswith("__gate_batch=")
    ]
    (
        spark.read.parquet(store)
        .drop("__gate_batch")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(staging)
    )
    assert os.path.exists(f"{staging}/_SUCCESS")
    with open(f"{staging}/_COMPACT_MANIFEST.json", "w") as f:
        _json.dump({"dirs": dirs_before}, f)
    # post-crash, pre-retry: the restarted stream admitted one more batch
    spark.createDataFrame(
        [(99, "a wholly new post crash document body")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{store}/__gate_batch=7")
    assert compact_gate_store(spark, store) == 0  # adopted, not rebuilt
    back = sorted(r["doc_id"] for r in spark.read.parquet(store).collect())
    assert back == sorted(rows_before + [99])  # post-snapshot batch survived
    # a second call now folds the surviving batch dir into the base
    assert compact_gate_store(spark, store) >= 1


def test_compact_incomplete_staging_discarded_and_rebuilt(spark, tmp_path):
    """A staging dir missing the manifest (crash between the parquet
    write and the manifest write) is an incomplete remnant: discarded and
    the compaction rebuilt from the live batch dirs — never adopted with
    an unknown snapshot scope."""
    import os

    from mbgspark.streaming import compact_gate_store

    store = str(tmp_path / "inc_store")
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.parquet(f"{store}/__gate_batch=0")
    staging = store + GATE_COMPACT_STAGING
    # committed parquet (has _SUCCESS) but NO manifest
    spark.createDataFrame(
        [(50, "stale snapshot row")], "doc_id long, text string"
    ).coalesce(1).write.parquet(staging)
    assert os.path.exists(f"{staging}/_SUCCESS")
    assert compact_gate_store(spark, store) == 1  # rebuilt, not adopted
    got = sorted(r["doc_id"] for r in spark.read.parquet(store).collect())
    assert got == [1, 2]  # the stale snapshot's row never surfaced
    assert not os.path.exists(staging)


def test_indexed_gate_meta_validates_restart_params(spark, tmp_path):
    """ADVICE r6 (medium): the bucket modulus and the arrays path are
    baked into the on-disk index layout, so the gate records GATE_META in
    _gate_meta.json on first contact — byte-for-byte the sidecar earlier
    versions wrote — and a restart over any other recorded layout fails
    fast, naming it, instead of silently probing the wrong buckets or
    silently admitting near-dups."""
    import json as _json

    import pytest
    from pyspark.errors import StreamingQueryException

    from mbgspark import jvmseam
    from mbgspark.operators.dedup import GATE_META, GATE_META_FILE
    from mbgspark.streaming import start_neardup_gate_sink_indexed

    src = tmp_path / "mv_src"
    store = str(tmp_path / "mv_store")
    index = str(tmp_path / "mv_index")

    def run(ck_tag):
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = start_neardup_gate_sink_indexed(
            stream, store, index, str(tmp_path / ck_tag), threshold=0.5,
            available_now=True,
        )
        q.awaitTermination(120)

    _write_batch(src, [{"doc_id": 1, "text": "the quick brown fox jumps over"}])
    run("mv_ck0")
    with open(f"{index}/_gate_meta.json") as f:
        raw = f.read()
    assert raw == (
        '{"layout": "bucketed-v1", "num_buckets": 64, "index_arrays": true}'
    )
    assert _json.loads(raw) == GATE_META

    _write_batch(src, [{"doc_id": 2, "text": "entirely new second document"}])
    for i, meta in enumerate([
        {"layout": "bucketed-v1", "num_buckets": 32, "index_arrays": True},
        {"layout": "bucketed-v1", "num_buckets": 64, "index_arrays": False},
        {"layout": "unbucketed-v0", "num_buckets": None, "index_arrays": True},
    ]):
        jvmseam.fs_write_utf8(spark, f"{index}/{GATE_META_FILE}", _json.dumps(meta))
        with pytest.raises(
            StreamingQueryException, match="build_minhash_index"
        ) as err:
            run(f"mv_bad{i}")
        assert _json.dumps(meta) in str(err.value)
    # the recorded default keeps working
    jvmseam.fs_write_utf8(spark, f"{index}/{GATE_META_FILE}", _json.dumps(GATE_META))
    run("mv_ck0")
    got = sorted(r["doc_id"] for r in spark.read.parquet(store).collect())
    assert got == [1, 2]


def test_indexed_gate_legacy_error_paths(spark, tmp_path):
    """An index with band rows but no _gate_meta.json fails fast with the
    rebuild instruction instead of guessing its layout: pruning under a
    guessed modulus silently misses near-dups."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from mbgspark.operators.dedup import build_minhash_index, write_minhash_index
    from mbgspark.streaming import start_neardup_gate_sink_indexed

    legacy = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    write_minhash_index(  # index rows written without the sidecar
        str(tmp_path / "lb_index"),
        -1,
        *build_minhash_index(legacy, "doc_id", "text"),
        "doc_id",
    )
    src = tmp_path / "lb_src"
    _write_batch(src, [{"doc_id": 5, "text": "whatever new document"}])
    q = start_neardup_gate_sink_indexed(
        spark.readStream.schema("doc_id long, text string").json(str(src)),
        str(tmp_path / "lb_store"), str(tmp_path / "lb_index"),
        str(tmp_path / "lb_ck"), available_now=True,
    )
    with pytest.raises(StreamingQueryException, match="no _gate_meta.json"):
        q.awaitTermination(120)
    assert not (tmp_path / "lb_store").exists()


def test_indexed_gate_auto_compaction(spark, tmp_path):
    """VERDICT r6 item 3: compact_every triggers compact_gate_store from
    inside the gate once enough live batch partitions accumulate — final
    store contents identical to the no-compaction twin, file state folded
    into the __gate_batch=-1 base."""
    import os

    from mbgspark.streaming import start_neardup_gate_sink_indexed

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "quick brown fox jumps over the lazy dog near the river bank"
    batches = [
        [{"doc_id": 1, "text": base}],
        [{"doc_id": 10, "text": "fresh novel content with new vocabulary"}],
        # post-compaction batch: near-dup of a folded admission
        [{"doc_id": 20, "text": near},
         {"doc_id": 21, "text": "another entirely different document body"}],
    ]

    def run(tag, compact_every):
        store = str(tmp_path / f"{tag}_store")
        src = tmp_path / f"{tag}_src"
        for i, rows in enumerate(batches):
            os.makedirs(src, exist_ok=True)
            import json as _json

            with open(src / f"b{i}.json", "w") as f:
                for d in rows:
                    f.write(_json.dumps(d) + "\n")
            q = start_neardup_gate_sink_indexed(
                spark.readStream.schema("doc_id long, text string").json(str(src)),
                store, str(tmp_path / f"{tag}_index"),
                str(tmp_path / f"{tag}_ck"), threshold=0.5,
                available_now=True, compact_every=compact_every,
            )
            q.awaitTermination(120)
        return store, sorted(
            r["doc_id"] for r in spark.read.parquet(store).collect()
        )

    _, plain = run("ac_off", None)
    store_on, compacted = run("ac_on", 2)
    assert plain == compacted == [1, 10, 21]  # 20 rejected vs folded base
    # the fold actually happened: a -1 base exists in the store
    assert os.path.isdir(f"{store_on}/__gate_batch=-1")


def test_streaming_etl_lifecycle_matches_batch_twin(spark, tmp_path):
    """VERDICT r6 item 5: the one-call streaming lifecycle surface
    (read_tweet_stream → run_etl → merge sink) parity-pinned against the
    BATCH lifecycle on the same fixture — same rows, same columns, same
    locate/label decisions, with the stream's re-delivered tweet resolved
    by keep-latest exactly like the batch merge would."""
    from mbgspark.operators.dedup import keep_latest_per_key
    from mbgspark.pipeline import run_etl
    from mbgspark.schema import DEFAULT_LOCATIONS, TWEET_RAW_SCHEMA
    from mbgspark.streaming import start_etl_lifecycle_sink

    t1 = {
        "_id": "1", "text": "pelayanan di bandung sangat bagus dan sehat",
        "created_at": "2025-01-01T10:00:00Z",
        "scraped_at": "2025-01-01T11:00:00Z", "tweet_url": "u1",
        "author_handle": "h1", "author_name": "alice", "location": None,
        "reply_count": 1, "retweet_count": 0, "like_count": 1,
    }
    t2 = {
        "_id": "2", "text": "program gagal total di jakarta selatan, buruk",
        "created_at": "2025-01-02T09:00:00Z",
        "scraped_at": "2025-01-02T09:30:00Z", "tweet_url": "u2",
        "author_handle": "h2", "author_name": "bob", "location": None,
        "reply_count": 0, "retweet_count": 2, "like_count": 0,
    }
    t3 = {
        "_id": "3", "text": "no location mentioned at all here",
        "created_at": "2025-01-02T12:00:00Z",
        "scraped_at": "2025-01-02T12:30:00Z", "tweet_url": "u3",
        "author_handle": "h3", "author_name": "carol", "location": None,
        "reply_count": 0, "retweet_count": 0, "like_count": 3,
    }
    t1b = {**t1, "like_count": 9, "scraped_at": "2025-01-01T12:00:00Z"}

    src = tmp_path / "lc_src"
    store = str(tmp_path / "lc_store")
    ck = str(tmp_path / "lc_ck")

    _write_batch(src, [t1, t2])
    q = start_etl_lifecycle_sink(
        spark, str(src), store, ck, available_now=True
    )
    q.awaitTermination(120)
    # second delivery on the same checkpoint: novel tweet + re-delivery
    _write_batch(src, [t3, t1b])
    q = start_etl_lifecycle_sink(
        spark, str(src), store, ck, available_now=True
    )
    q.awaitTermination(120)

    # batch twin on the SAME fixture files = the oracle
    batch_raw = spark.read.schema(TWEET_RAW_SCHEMA).json(
        str(src), multiLine=False
    )
    twin = keep_latest_per_key(
        run_etl(batch_raw, spark.createDataFrame(
            DEFAULT_LOCATIONS,
            "province string, city string, dict_order int, term string",
        )),
        key="_id", order_col="scraped_at",
    )

    got_df = spark.read.parquet(store)
    cols = sorted(twin.columns)
    assert sorted(got_df.columns) == cols
    norm = lambda df: sorted(
        map(tuple, df.select(*[F.col(c).cast("string") for c in cols]).collect())
    )
    got, want = norm(got_df), norm(twin)
    assert got == want
    # the lifecycle actually enriched: locate + label happened
    by_id = {r[cols.index("_id")]: r for r in got}
    assert by_id["1"][cols.index("city")] == "bandung"
    assert by_id["2"][cols.index("city")] == "jakarta selatan"
    assert by_id["3"][cols.index("city")] is None
    assert by_id["1"][cols.index("like_count")] == "9"  # keep-latest won


def test_compact_target_files_builds_directory_shaped_base(spark, tmp_path):
    """VERDICT r9 item 5 plumbing: ``compact_gate_store(target_files=N)``
    with N > 1 folds the flat store into a base generation of exactly N
    part files (the 100 TB directory shape), content-identical to the
    single-file fold."""
    import os

    from mbgspark.streaming import compact_gate_store

    def seed(tag):
        store = str(tmp_path / f"{tag}_store")
        for b in range(3):
            spark.range(b * 100, b * 100 + 100).selectExpr(
                "id AS doc_id", "concat('body ', id) AS text"
            ).write.mode("overwrite").parquet(f"{store}/__gate_batch={b}")
        return store

    single, multi = seed("single"), seed("multi")
    assert compact_gate_store(spark, single) == 3
    assert compact_gate_store(spark, multi, target_files=4) == 3

    def parts(store):
        base = f"{store}/__gate_batch=-1"
        return sorted(f for f in os.listdir(base) if f.endswith(".parquet"))

    assert len(parts(single)) == 1
    assert len(parts(multi)) == 4
    a = spark.read.parquet(single).drop("__gate_batch")
    b = spark.read.parquet(multi).drop("__gate_batch")
    assert sorted(r["doc_id"] for r in a.collect()) == sorted(
        r["doc_id"] for r in b.collect()
    )


def test_merge_sink_max_records_per_file_bounds_day_files(spark, tmp_path):
    """``start_merge_sink(max_records_per_file=...)`` flows to the store
    writer: a day partition splits into ceil(rows/bound) part files —
    the many-part directory shape — while keyed merge semantics hold."""
    import os

    src = tmp_path / "src_mrpf"
    rows = [
        {**R1, "_id": str(i), "scraped_at": "2025-01-01T11:00:00Z"}
        for i in range(6)
    ]
    _write_batch(src, rows)
    store = str(tmp_path / "store_mrpf")
    q = start_merge_sink(
        read_tweet_stream(spark, str(src)),
        store,
        str(tmp_path / "ck_mrpf"),
        available_now=True,
        max_records_per_file=2,
    )
    q.awaitTermination(120)
    day = f"{store}/event_date=2025-01-01"
    files = [f for f in os.listdir(day) if f.endswith(".parquet")]
    assert len(files) == 3  # 6 rows / 2 per file
    assert spark.read.parquet(store).count() == 6


def test_lifecycle_sink_transforms_each_batch_once(spark, tmp_path):
    """Each lifecycle micro-batch runs clean → label → locate once: the
    merge sink persists the batch, so the touched-partition collect and
    the write share one pass. Read from the status store, the stages of a
    micro-batch over an existing store read the source file's rows exactly
    once — an unpersisted batch is a LogicalRDD that both actions re-read
    from the file. Every other stage with input reads the persisted batch
    back, which Spark counts as one record per cached column batch (one
    here: a small file is one partition). The second file's days are new,
    so the store scan prunes to nothing and adds no input records."""
    from mbgspark import jvmseam
    from mbgspark.streaming import start_etl_lifecycle_sink

    def tweets(day, n):
        return [
            {
                **R1,
                "_id": f"{day}-{i}",
                "text": f"program mbg di bandung bagus nomor {i}",
                "created_at": f"2025-01-0{day}T10:00:00Z",
                "scraped_at": f"2025-01-0{day}T11:00:00Z",
            }
            for i in range(n)
        ]

    src = tmp_path / "once_src"
    store = str(tmp_path / "once_store")
    ck = str(tmp_path / "once_ck")
    for day, n in ((1, 30), (2, 20)):
        _write_batch(src, tweets(day, n))
        marker = jvmseam.last_stage_id(spark)
        q = start_etl_lifecycle_sink(spark, str(src), store, ck, available_now=True)
        q.awaitTermination(120)
        jvmseam.last_stage_id(spark)  # drains the listener bus
        reads = sorted(
            s.inputRecords()
            for s in jvmseam.retained_stages(spark, marker)
            if s.inputRecords()
        )
        assert reads == [1] * (len(reads) - 1) + [n], (day, reads)
    assert spark.read.parquet(store).count() == 50
