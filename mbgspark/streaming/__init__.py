"""Structured Streaming parity — SURVEY.md §2.10 X5–X8.

The reference's "resilient continue-from-last" loop (resilient_etl.py:
176-662) — skip-processed days, re-run upserts, recover from crashes — maps
to Structured Streaming primitives:

- X5 resumable ingest  = file source + checkpointing + idempotent
  foreachBatch merge (exactly-once replaces retry-and-upsert).
- X6 daily tumbling window = ``window(created_at, '1 day')``.
- X7 late data = event-time columns + watermark bounding state, never
  dropping data inside the `days_back` horizon (config/config.json:7).
- X8 cross-batch dedup = ``dropDuplicatesWithinWatermark`` (state-store
  backed analog of the session-lifetime seen-id sets,
  resilient_scraper.py:55-56).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mbgspark import jvmseam
from mbgspark.io import (
    merge_by_key,
    recover_store_swap,
    staged_path,
    store_exists,
    swap_store,
    unfinished_swap,
    write_partitioned,
)
from mbgspark.operators.dedup import keep_latest_per_key
from mbgspark.schema import TWEET_RAW_SCHEMA


def _start_foreach_batch(
    stream: DataFrame, fn, checkpoint_path: str, available_now: bool
) -> StreamingQuery:
    """Start ``fn`` as the stream's foreachBatch sink, checkpointed at
    ``checkpoint_path``; ``available_now`` drains what is there and stops."""
    writer = stream.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


#: Suffix of the sibling ``compact_gate_store`` stages a fold in. It
#: sits beside the store, not inside it: a staged name like
#: ``__gate_batch=-1__old`` would read as a partition.
GATE_COMPACT_STAGING = ".__compact_staging"


def _gate_batch_dirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the ``__gate_batch=N`` partition directories under
    ``path`` (none when it does not exist)."""
    fs, p = jvmseam.hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith("__gate_batch=")
    ]


def read_tweet_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """X5 ingest source: JSON micro-batch files of flat scrape records.
    maxFilesPerTrigger is the pacing analog of the reference's per-page cap
    (O3, max_per_page=50)."""
    reader = spark.readStream.schema(TWEET_RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def dedup_stream(df: DataFrame, watermark: str = "30 days") -> DataFrame:
    """X8: keyed dedup across micro-batches; watermark bounds the seen-key
    state (≈ days_back horizon, config/config.json:7)."""
    return df.withWatermark("created_at", watermark).dropDuplicatesWithinWatermark(["_id"])


def daily_counts_stream(df: DataFrame, watermark: str | None = None) -> DataFrame:
    """X6/X7: tumbling 1-day event-time window; late rows land in their
    event-time day as long as they're inside the watermark horizon.

    Pass ``watermark=None`` when the upstream (e.g. dedup_stream) already
    set one — Spark disallows redefining it mid-pipeline."""
    if watermark:
        df = df.withWatermark("created_at", watermark)
    return (
        df.groupBy(F.window("created_at", "1 day").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("day_start"), "cnt")
    )


def session_counts_stream(
    df: DataFrame,
    key_col: str = "author_handle",
    gap: str = "30 minutes",
    watermark: str = "1 day",
) -> DataFrame:
    """Event-time sessionization on a live stream: per-key activity bursts
    separated by ``gap`` of silence become one session row (the streaming
    twin of the batch ``sessionize_events`` gaps-and-islands query).
    ``session_window`` merges overlapping state across micro-batches; the
    watermark both bounds that state and decides when a session is final
    (append mode emits a session only once it can no longer grow)."""
    return (
        df.withWatermark("created_at", watermark)
        .groupBy(F.col(key_col), F.session_window("created_at", gap).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "cnt",
        )
    )


def stateful_author_counts(
    stream: DataFrame,
    key_col: str = "author_handle",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the
    Spark-native version of the reference's session-lifetime per-author
    accumulators (A6 running totals, resilient_scraper.py:1272-1274), but
    with durable state: counts survive micro-batch boundaries AND query
    restarts through the checkpoint's state store.

    State per key: (total count, like sum). Each micro-batch emits the
    updated running totals for the keys it touched (update semantics).
    Uses NoTimeout — the key space is bounded (authors); swap in
    ProcessingTimeTimeout for unbounded keys needing TTL eviction."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, total_cnt bigint, total_likes bigint"
    state_schema = "cnt bigint, likes bigint"

    def update(key, pdfs, state: GroupState):
        rows = 0
        likes = 0
        for pdf in pdfs:
            rows += len(pdf)
            likes += int(pd.to_numeric(pdf["like_count"], errors="coerce").fillna(0).sum())
        if state.exists:
            (cnt0, likes0) = state.get
        else:
            cnt0, likes0 = 0, 0
        state.update((cnt0 + rows, likes0 + likes))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "total_cnt": [cnt0 + rows],
                "total_likes": [likes0 + likes],
            }
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_merge_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key: str = "_id",
    available_now: bool = False,
    max_records_per_file: int = 5_000_000,
) -> StreamingQuery:
    """X5 idempotent sink: per-micro-batch MERGE into the partitioned store.

    foreachBatch + keep-latest merge + dynamic partition overwrite ⇒ replayed
    batches (crash recovery) converge to the same store state — the
    exactly-once analog of Mongo upsert (resilient_scraper.py:944-972).

    ``max_records_per_file`` flows to ``write_partitioned``: at 100 TB a
    hot day is MANY part files under its partition directory, a store
    shape the bound produces automatically; the soak harness lowers it
    to force that directory shape at test scale (tools/merge_soak.py).

    Each batch is persisted for the length of ``_merge``: foreachBatch hands
    over a LogicalRDD, which column pruning cannot see past, so every action
    on it re-runs the whole upstream transform (for the lifecycle sink,
    clean → label → locate) — once for the touched-partition collect in
    ``merge_by_key`` and again for the write. A replayed batch is still
    recomputed from the source, so exactly-once is unchanged."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.withColumn(
            "event_date", F.date_format("created_at", "yyyy-MM-dd")
        ).persist()
        try:
            # Only a genuinely-missing store means "first batch"; any other
            # read failure (transient FS error, corrupt footer) must surface,
            # not silently drop previously stored rows via the overwrite.
            if store_exists(spark, store_path):
                existing = spark.read.parquet(store_path)
                # Partition-scoped merge: the window only needs to see store
                # rows in the partitions this batch touches (a re-delivered
                # key keeps its created_at, hence its partition — same
                # contract as the reference's per-day collections,
                # utils.py:583-584). The isin filter prunes at the store
                # scan, so merge cost tracks touched days, not store size;
                # dynamic partition overwrite then replaces only those days.
                merged = merge_by_key(
                    existing,
                    batch_df,
                    key=key,
                    order_col="scraped_at",
                    partition_col="event_date",
                )
            else:
                # a missing store beside a swap sibling is an
                # io.compact_store swap cut between its two renames, not a
                # first batch: writing now would replace the stored rows
                sib = unfinished_swap(spark, store_path)
                if sib is not None:
                    raise RuntimeError(
                        f"merge sink: no store at {store_path} but {sib} "
                        "exists — an interrupted io.compact_store swap; "
                        "re-run compact_store to finish it, then restart "
                        "the stream"
                    )
                # no store yet — still dedup re-delivered keys in the batch
                merged = keep_latest_per_key(
                    batch_df, key=key, order_col="scraped_at"
                )
            write_partitioned(
                merged,
                store_path,
                "event_date",
                max_records_per_file=max_records_per_file,
            )
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(stream, _merge, checkpoint_path, available_now)


def start_etl_lifecycle_sink(
    spark: SparkSession,
    source_path: str,
    store_path: str,
    checkpoint_path: str,
    dim: DataFrame | list | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """§3.1 end-to-end as ONE streaming surface — the streaming twin of
    the reference's resilient per-day loop (resilient_etl.py:176-431):
    ``read_tweet_stream`` → clean → lexicon label → event_date → locate →
    idempotent keyed merge sink. The transform lineage is ``run_etl``
    ITSELF — batch and streaming lifecycles share one code path, so the
    batch output is the streaming oracle (parity-pinned in
    test_streaming), and every strategy decision inside it (compiled
    location map, no-UDF cleaning, lexicon labeling) applies unchanged.
    The only stream-specific step is pre-collecting the broadcast-sized
    locations dim: ``detect_locations`` collects a batch dim lazily, but
    a streaming plan must not embed a collect — the dim rows are resolved
    here, once, before the stream starts. Exactly-once is the merge
    sink's: keyed keep-latest upsert per micro-batch, so re-delivered
    tweets update in place and crash replays converge."""
    from mbgspark.pipeline import locations_dim, run_etl

    if dim is None:
        dim = locations_dim(spark)
    dim_rows = dim.collect() if isinstance(dim, DataFrame) else dim
    stream = read_tweet_stream(spark, source_path, max_files_per_trigger)
    transformed = run_etl(stream, dim_rows)
    return start_merge_sink(
        transformed, store_path, checkpoint_path, available_now=available_now
    )


def start_neardup_gate_sink_indexed(
    stream: DataFrame,
    store_path: str,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    available_now: bool = False,
    on_metrics=None,
    compact_every: int | None = None,
    compact_target_files: int = 1,
) -> StreamingQuery:
    """Streaming near-duplicate ingest gate: each micro-batch is checked
    against everything already admitted and against itself, and only
    novel documents are stored — a crawler feeding a 100 TB corpus admits
    a document exactly once (the session-lifetime seen-id and seen-text
    sets of the reference, resilient_scraper.py:55-56,352-358, made
    durable).

    ADMISSION POLICY: a batch doc that near-dups ANY stored doc (MinHash
    jaccard ≥ ``threshold``) is dropped; for a batch-internal pair the
    lower id survives (greedy, the keep-first convention of the batch
    dedup operators). A re-delivered doc exact-matches its stored copy
    (jaccard 1.0 ≥ any threshold) and is dropped too, so replaying a
    batch admits nothing twice.

    The check reads a persisted MinHash index (``build_minhash_index``
    band rows + shingle arrays, ``dedup``'s format), never the store's
    text. Each batch:

    1. probes the index with ``dedup.probe_minhash_index`` against the
       generations strictly before this one (``__gate_batch < N``),
       reading only the band buckets this batch probes and the shingle
       arrays of the CANDIDATES' buckets — near-dup candidates are rare,
       so the verify read touches a handful of bucket directories instead
       of the whole arrays store,
    2. writes the survivors to the store, partitioned by ``__gate_batch``
       = batch id, and their own index rows as generation N with
       ``dedup.write_minhash_index`` — each a static overwrite of this
       batch's own partition directory.

    Exactly-once without markers or swaps: every write is an IDEMPOTENT
    overwrite of this batch's own partition. A crash anywhere mid-batch
    leaves prior partitions untouched (the gate only ever reads
    ``__gate_batch < N``, so a half-written partition N is invisible to
    the replay's inputs); the replayed batch recomputes the identical
    survivor set from identical inputs — deterministic operators, same
    checkpoint offsets — and overwrites partition N in place. The one
    asymmetric window is the FIRST batch, where only a subset of the
    three paths may exist after a crash; the gate therefore takes the
    indexed branch only when every path that branch reads exists, and
    the index writer writes the branch-trigger path (bands) last (ADVICE
    r5). Partition-idempotent multi-sink writes are the third
    exactly-once strategy in this module, beside the merge sink's keyed
    upsert and the sketch store's staged swap.

    FRESH-CHECKPOINT RULE: the batch ids come from the checkpoint, so a
    restart with a new checkpoint starts again at N = 0 and the ``< N``
    read would hide every stored batch. Batch N therefore fails fast when
    the store holds any ``__gate_batch`` partition above N; the compacted
    ``-1`` base never trips it. Resume with the original checkpoint, or
    first fold the store and both index paths (``<index_path>/bands`` and
    ``/arrays``) into that base with ``compact_gate_store``, then
    restart: every batch of the new checkpoint reads the base, so
    replaying the whole source admits nothing — the store is a fixpoint
    of the gate. (A store holding only batch 0 cannot be told apart from
    a replay of batch 0.)

    MEASURED COST (see SCALE.md r6 row for the numbers of record):
    per-batch cost is the batch lineage + a band-row read of the probed
    buckets + an arrays read of the CANDIDATE buckets only, so it does
    not grow with store text size. The survivors are persisted for the
    batch (the metrics ride-along and all three writes read them) and
    unpersisted in a finally, with the probe's overflow candidates. Each
    batch writes at most min(rows, ``dedup.GATE_BUCKETS``) files per
    index path. Store readers see one extra ``__gate_batch`` partition
    column (ingestion metadata — drop it or use it as arrival lineage).

    ``on_metrics(batch_id, {"oversized_buckets": n, "oversized_rows": n})``
    surfaces the LSH bucket-cap drops per micro-batch: the one-row
    ``metrics_out`` frame rides the survivors' store write through
    ``dedup.observe_oversized``, so a viral mega-cluster arriving on the
    stream shows up the batch it lands. Its counts cover the PROBED
    buckets — the only buckets where pair suppression can happen this
    batch. A zero-survivor batch (routine under replay) folds the
    ride-along away; the handle then evaluates the aggregate directly,
    which is cheap here because the metrics lineage reads the index, not
    the corpus text.

    LAYOUT RULE: the first batch of a query runs
    ``dedup.check_minhash_index`` before any data write: a fresh index
    gets the ``dedup.GATE_META`` sidecar; any other recorded layout, and
    an index with band rows but no sidecar, fails fast naming what is
    recorded. Such an index is rebuilt from the store with
    ``build_minhash_index``.

    ``compact_every=N`` turns on in-line store maintenance: after a
    batch's writes, when the store holds ≥ N live batch partitions the
    gate folds store+index into the ``__gate_batch=-1`` base generation
    via ``compact_gate_store`` — safe mid-stream because foreachBatch is
    the store's only writer and compaction runs strictly between this
    batch's writes and the next batch's reads; a crash mid-compaction is
    healed by the manifest-scoped recovery on the next batch (or the
    next manual call). This bounds the long-running stream's file count
    at O(compact_every × buckets) instead of O(batches × buckets).
    ``compact_target_files`` sizes the folded FLAT-store base generation
    (bucketed index paths keep their bucket layout regardless): the
    default 1 suits test-scale stores, but a base generation one task
    can rewrite stops existing long before 100 TB — a production stream
    sets this to its store's natural part count so the fold stays a
    directory of parallel-written parts (the same many-files shape
    tools/make_split.py exercises on the batch side)."""
    from mbgspark.operators.dedup import (
        build_minhash_index,
        check_minhash_index,
        incremental_drop_ids,
        minhash_index_paths,
        minhash_near_dups,
        observe_oversized,
        probe_minhash_index,
        report_oversized,
        write_minhash_index,
    )

    bands_path, arrays_path = minhash_index_paths(index_path)
    # checked once per query: the gate is the index's only writer, so the
    # on-disk layout cannot change under a running gate
    layout_checked: list[bool] = []

    def _gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not layout_checked:
            check_minhash_index(spark, index_path)
            layout_checked.append(True)
        stored = [
            int(d.split("=", 1)[1]) for d in _gate_batch_dirs(spark, store_path)
        ]
        if max(stored, default=-1) > batch_id:
            raise RuntimeError(
                f"near-dup gate store at {store_path} already holds "
                f"__gate_batch={max(stored)} but this query is at batch "
                f"{batch_id}: it was started with a fresh checkpoint, and "
                "the __gate_batch < N read would hide the stored batches and "
                "re-admit their documents. Restart with the original "
                "checkpoint, or first fold the store and both index paths "
                "into the -1 base with compact_gate_store."
            )
        batch_df = batch_df.dropDuplicates([id_col])
        slim = batch_df.select(id_col, text_col)
        metrics: list[DataFrame] = [] if on_metrics else None
        # ADVICE r5 (medium): the indexed branch reads bands + arrays. A
        # crash during the FIRST batch between the store write and the
        # later index writes can leave a subset of the three paths
        # existing; guarding only bands_path would send the replay into
        # the indexed branch and a hard path-does-not-exist read,
        # permanently stalling the stream. Require EVERY path the branch
        # reads to exist; otherwise fall back to the self-contained
        # branch — equivalent for batch 0, since the indexed branch
        # filters to __gate_batch < 0 = nothing anyway, and batch 0 is
        # the only batch that can be missing a path (later batches write
        # every path per batch, and partial partition N is invisible
        # behind the < N filter).
        indexed_ready = store_exists(spark, bands_path) and store_exists(
            spark, arrays_path
        )
        keep: list[DataFrame] = []
        try:
            if indexed_ready:
                b_bands, b_arrays = build_minhash_index(slim, id_col, text_col)
                pairs = probe_minhash_index(
                    index_path, batch_id, b_bands, b_arrays, id_col, threshold,
                    persisted=keep, metrics_out=metrics,
                )
                drop_ids = incremental_drop_ids(pairs, id_col)
            else:
                pairs = minhash_near_dups(
                    slim, id_col, text_col, threshold=threshold,
                    metrics_out=metrics,
                )
                drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
            survivors = batch_df.join(drop_ids, id_col, "left_anti")
            handle = None
            if on_metrics:
                survivors, handle = observe_oversized(
                    survivors, metrics[0], f"neardup_gate_idx_{batch_id}"
                )
            # micro-batch-sized: persist (post-observe, so the metrics
            # ride the one materializing action) so the three partition
            # writes don't each re-run the verify join and its pruned
            # index reads
            survivors = survivors.persist()
            keep.append(survivors)
            # Write order: store first, then the index (arrays, bands
            # LAST) — bands is the branch trigger above, so a first-batch
            # crash mid-sequence leaves either no bands (→ clean fallback
            # branch on replay) or a complete path set. The store write
            # is a static overwrite of this batch's own directory, like
            # the index writer's.
            survivors.write.mode("overwrite").parquet(
                f"{store_path.rstrip('/')}/__gate_batch={int(batch_id)}"
            )
            s_bands, s_arrays = build_minhash_index(
                survivors.select(id_col, text_col), id_col, text_col
            )
            write_minhash_index(index_path, batch_id, s_bands, s_arrays, id_col)
            if handle is not None:
                # a folded ride-along (zero survivors) is evaluated
                # directly — cheap here, the metrics lineage reads the
                # index, not the corpus
                report_oversized(handle, on_metrics, batch_id)
            if compact_every:
                # in-line maintenance: fold live batch partitions into the
                # -1 base once enough accumulate. Runs strictly between
                # this batch's writes and the next batch's reads — the
                # gate is the only writer, so the no-concurrent-batch
                # precondition of compact_gate_store holds; a replay of
                # THIS batch after a post-compaction crash converges
                # (its docs exact-match their folded copies in the base
                # and partition N overwrites to empty). Crash
                # mid-compaction heals via the staged snapshot's manifest
                # on the next trigger.
                live = [
                    d
                    for d in _gate_batch_dirs(spark, store_path)
                    if d != "__gate_batch=-1"
                ]
                if len(live) >= compact_every:
                    compact_gate_store(
                        spark, store_path, target_files=compact_target_files
                    )
                    compact_gate_store(spark, arrays_path)
                    compact_gate_store(spark, bands_path)
        finally:
            for df_ in keep:
                df_.unpersist()

    return _start_foreach_batch(stream, _gate, checkpoint_path, available_now)


def compact_gate_store(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """Offline maintenance for the gate's batch-partitioned stores
    (the survivors store and each index path of
    ``start_neardup_gate_sink_indexed``): fold every ``__gate_batch=N``
    partition into ONE base generation at ``__gate_batch=-1``, with one
    file per bucket (bucketed index paths keep their ``__bucket``
    sub-partitions; the flat store compacts to a single file set). The
    gate only ever reads ``__gate_batch < N`` with N ≥ 0, so the ``-1``
    base stays visible to every future batch — the read contract is
    unchanged, and the long-running stream's file count resets from
    O(batches × buckets) to O(buckets). Returns the number of batch
    partitions folded.

    Crash-safe by a staged swap of its own (``io.swap_store`` replaces a
    whole directory; this replaces a SET of partitions inside one): the
    compacted generation is written to a ``GATE_COMPACT_STAGING``
    sibling first (outside the store, so readers never see a mixed
    layout), together with a MANIFEST of exactly the batch directories
    it snapshots, then those directories are deleted and the staging
    directory renamed to ``__gate_batch=-1``. Every crash point resolves
    on the next call: a staging dir bearing both ``_SUCCESS`` and the
    manifest is adopted — the deletes are SCOPED TO THE MANIFEST (ADVICE
    r6: batches written between a crashed compaction and the retry —
    e.g. by a restarted stream — are NOT covered by the snapshot and
    must survive; they stay in place as live partitions beside the
    promoted base, which is exactly the store's normal mixed state). A
    staging dir missing either marker is an incomplete remnant:
    discarded and rebuilt.
    Safe to run whenever no batch is concurrently WRITING — i.e. with
    the stream stopped, or from inside the gate's own foreachBatch
    (``compact_every``), which is the only writer.

    ``target_files`` sizes the FLAT store's folded base: 1 (default)
    coalesces to one task's output — right for test-scale stores;
    > 1 repartitions to exactly that many parts (the directory-shaped
    base a 100 TB store needs — no single task could rewrite it), at
    the cost of one round-robin shuffle of bytes the fold was rewriting
    anyway. Bucketed index paths ignore it (their layout is the bucket
    sub-partitioning)."""
    import json

    staging = path.rstrip("/") + GATE_COMPACT_STAGING
    manifest_path = staging + "/_COMPACT_MANIFEST.json"
    def _p(s: str):
        return jvmseam.hadoop_path(spark, s)

    fs, _ = jvmseam.hadoop_fs(spark, path)

    def _swap(dirs: list[str]) -> None:
        for d in dirs:
            tgt = _p(f"{path.rstrip('/')}/{d}")
            if fs.exists(tgt) and not fs.delete(tgt, True):
                raise RuntimeError(f"compact_gate_store: failed to drop {tgt}")
        # the manifest must not be promoted into the live partition —
        # parquet readers ignore _-prefixed files, but leaving it there
        # would let a LATER adoption misread a stale snapshot scope
        if fs.exists(_p(manifest_path)):
            fs.delete(_p(manifest_path), False)
        if not fs.rename(_p(staging), _p(f"{path.rstrip('/')}/__gate_batch=-1")):
            raise RuntimeError(
                f"compact_gate_store: failed to promote {staging}"
            )

    # recovery: adopt a fully-committed staging generation left by a
    # crashed earlier call, deleting ONLY the batch dirs its manifest
    # records — any dir not in the manifest was written after the
    # snapshot and keeps its data by staying live
    if fs.exists(_p(staging + "/_SUCCESS")) and fs.exists(_p(manifest_path)):
        raw = jvmseam.fs_read_utf8(spark, manifest_path)
        _swap(json.loads(raw)["dirs"])
        return 0
    if fs.exists(_p(staging)):
        fs.delete(_p(staging), True)  # incomplete remnant

    dirs = _gate_batch_dirs(spark, path)
    if not dirs:
        return 0
    df = spark.read.parquet(path)
    bucketed = "__bucket" in df.columns
    if bucketed:
        (
            df.drop("__gate_batch")
            .repartition(F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(staging)
        )
    elif target_files > 1:
        # directory-shaped base (the 100 TB layout): a deterministic
        # round-robin repartition — one extra shuffle of the store bytes,
        # but the fold is a full rewrite anyway, and coalesce() can only
        # REDUCE partitions (a small-file store reads as few partitions,
        # so coalesce(32) would silently emit a near-single-file base)
        df.drop("__gate_batch").repartition(target_files).write.mode(
            "overwrite"
        ).parquet(staging)
    else:
        # flat survivors store, test-scale default: one task's output
        df.drop("__gate_batch").coalesce(1).write.mode("overwrite").parquet(
            staging
        )
    # commit marker pair: _SUCCESS (parquet committer) + the manifest —
    # written AFTER the data, so a crash in between reads as incomplete
    jvmseam.fs_write_utf8(spark, manifest_path, json.dumps({"dirs": dirs}))
    _swap(dirs)
    return len(dirs)


def start_cardinality_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_path: str,
    key_col: str = "author",
    ts_col: str = "created_at",
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming distinct-count sketches: each micro-batch's keys fold
    into ONE per-day HLL sketch row (``hll_sketch_agg``), merged with the
    stored sketch via ``hll_union`` — the streaming form of
    ``profiling.build_cardinality_sketches``. The store holds a few KB
    per day REGARDLESS of key cardinality, and never the raw keys: this
    is how a 100 TB ingest answers "distinct authors per day / this
    month" without ever reshuffling history ("how many total" is one
    ``hll_union_agg`` over the day rows). Exactly-once convergence has a
    different source than the merge sink's keyed upsert: HLL union is
    IDEMPOTENT (folding the same keys twice is a no-op), so a replayed
    batch leaves every estimate unchanged. The store deliberately holds
    ONLY idempotent state — an earlier draft also kept a summed row
    counter, but foreachBatch is at-least-once and a replayed batch
    would inflate any additive column; a counter belongs in the keyed
    merge sink, where re-delivered keys upsert instead of adding. Rows
    with a NULL timestamp fold into an '__unknown__' day row rather
    than a NULL key (a NULL day would match neither isin(touched) nor
    its negation below and silently vanish on the next merge).

    The store rewrite is a staged swap, not ``mode("overwrite")`` on the
    live path (ADVICE r4: overwrite is delete-then-write — a crash
    between the two permanently loses every prior day's sketch, and the
    checkpoint will NOT replay old batches to rebuild them). Each fold
    writes the next generation to ``io.staged_path`` and swaps it in
    with ``io.swap_store`` — the same rename-aside protocol as
    ``io.compact_store``, which never deletes the live store in place —
    and starts with ``io.recover_store_swap``, which finishes any swap a
    crash cut. Every crash point therefore resolves to a complete store
    + an at-least-once batch replay, which HLL-union idempotence
    absorbs. Staging also removes the read-while-overwriting-self
    hazard, so the fold writes the plan directly instead of collecting
    rows through the driver.
    """

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        recover_store_swap(spark, store_path)
        day_sketches = batch_df.groupBy(
            F.coalesce(
                F.date_format(ts_col, "yyyy-MM-dd"), F.lit("__unknown__")
            ).alias("day")
        ).agg(F.hll_sketch_agg(key_col).alias("hll_sketch"))
        if store_exists(spark, store_path):
            existing = spark.read.parquet(store_path)
            touched = [r["day"] for r in day_sketches.select("day").distinct().collect()]
            hit = existing.filter(F.col("day").isin(touched))
            untouched = existing.filter(~F.col("day").isin(touched))
            merged_hit = (
                hit.select("day", "hll_sketch")
                .unionByName(day_sketches)
                .groupBy("day")
                .agg(F.expr("hll_union_agg(hll_sketch)").alias("hll_sketch"))
            )
            out = untouched.unionByName(merged_hit)
        else:
            out = day_sketches
        # stage the next generation (reads the live store, writes the
        # sibling — no self-overwrite), then swap it into place
        out.coalesce(1).write.mode("overwrite").parquet(
            staged_path(store_path)
        )
        swap_store(spark, store_path)

    return _start_foreach_batch(stream, _fold, checkpoint_path, available_now)
