"""Readers / writers — SURVEY.md §2.1 (S1–S13).

The reference's storage model is one MongoDB collection per day named
``{prefix}{YYYYMMDD}`` (utils.py:567-604) plus daily/monthly labeled JSON
exports (resilient_etl.py:574-584).  Spark-first mapping:

- canonical store  = date-partitioned Parquet (``partitionBy("event_date")``);
  the collection name becomes the partition value (S11), collection-range
  enumeration (S12) becomes Catalyst partition pruning on a BETWEEN predicate.
- JSON export (S7/S13) = ``df.write.json`` with the same shape.
- Mongo bulk upsert (S8/S9) = keyed merge: keep-latest-per-key + partition
  overwrite (idempotent; D3 semantics of resilient_scraper.py:944-972).
- index creation (S10, utils.py:594-604) = no-op: partition pruning + Parquet
  min/max stats give the same access paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mbgspark import jvmseam

# Driver-generated testdata catalog (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session plan cache: a DataFrame is an immutable logical plan, so the
# (session, dir, table) triple can be built once — every cache hit skips a
# parquet-footer schema read (~0.1 s of driver time per table per query
# build). Keyed weakly so a stopped session's plans can't be resurrected by
# CPython id reuse.
try:
    from weakref import WeakKeyDictionary

    _TABLE_CACHE: "WeakKeyDictionary" = WeakKeyDictionary()
except Exception:  # pragma: no cover - weakref always available in practice
    _TABLE_CACHE = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S3 full scan: one parquet file per table. Column pruning + predicate
    pushdown are Catalyst's job once the plan is declarative.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which Spark
    only reads via the nanosAsLong legacy flag; rebuild a proper timestamp
    (µs truncation — same as DuckDB's TIMESTAMP_NS → TIMESTAMP behavior).
    Session conf is pinned here so this works on ANY session, not just
    get_spark()'s (the driver brings its own)."""
    from mbgspark.session import ensure_session_conf

    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session not weak-referenceable
        per_session = {}
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    ensure_session_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer div, not `/`: double division loses precision at
            # nanosecond-epoch magnitudes (~1.7e18 > 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # fallback when inferTimestampNTZ couldn't be pinned off (conf
            # immutable): NTZ → session-tz timestamp is value-preserving
            # under the UTC session pin and keeps one timestamp type on
            # every query surface
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


# below this input size the fanout exchange's fixed cost exceeds the
# single-core pass it parallelizes (measured r7: gopher at a 0.6 MB corpus
# 0.23 s unfanned vs 0.61 s fanned; at 6 MB 1.9 s unfanned vs 0.35 s fanned)
_FANOUT_MIN_BYTES = 4 * 1024 * 1024


def ensure_width(df: DataFrame, by: str | None = None, min_bytes: int = 0) -> DataFrame:
    """Spread a narrow input across the session's cores — the engine's one
    partition-width rule. Returns ``df`` untouched if it is streaming, if
    ``min_bytes`` is set and the input's leaf bytes fall under it, or if
    it already has at least ``defaultParallelism`` partitions; otherwise
    repartitions to ``defaultParallelism``, hash-partitioned on ``by`` when
    given, round-robin when not.

    Why: parquet scan parallelism is bounded by ROW GROUPS, not by
    ``files.maxPartitionBytes``, so a small single-row-group file arrives
    as one task and any CPU-heavy per-row pass over it (tokenize, shingle,
    minhash, the 600-term locate, a broadcast-crossJoin scorer whose
    parallelism is its stream side's partition count) serializes on one
    core (sf1 measured: bigram scoring wholly single-task;
    contamination_embedding 148 s of 202 s on one core). A production
    table arrives in many splits, so there the rule is a pass-through and
    the plan is untouched.

    ``min_bytes``: skip the exchange on inputs whose fixed cost it would
    exceed. Row-local text operators pass ``_FANOUT_MIN_BYTES``. Callers
    whose per-row work is heavy regardless of row size pass nothing — a
    broadcast-join stream side does |broadcast| units of work per row, so
    a 3 MB vector file can carry 4×10⁸ cosines. The byte check runs first
    because it reads optimizer footer stats only, while the split-count
    probe (``df.rdd``) forces physical planning.

    ``by`` (r15): hash-partition on a unique row id instead of round-robin.
    A downstream groupBy(``by``) then satisfies its ClusteredDistribution
    from this exchange and plans none of its own (the minhash signature
    groupBy, the contamination fold's per-id max), and the round-robin
    sort-before-repartition is skipped; spread is equivalent for a unique
    id. Apply on the narrowest projection available."""
    if df.isStreaming:  # sources size their own micro-batches
        return df
    if min_bytes and _leaf_bytes(df) < min_bytes:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions() or 1) >= n:
        return df
    if by is not None:
        return df.repartition(n, F.col(by))
    return df.repartition(n)


def _leaf_bytes(df: DataFrame) -> int:
    """Sum of the plan's LEAF-relation sizeInBytes (for parquet: file
    bytes, straight from the footer index — no job). Leaf stats, not the
    plan root's: Project stats scale by SCHEMA default widths (every
    string = 20 bytes), so a projected text column under-reports ~30×.
    Touches JVM internals (collectLeaves via py4j) — pinned by a loud
    test against the physical file size so a PySpark upgrade that breaks
    the probe fails the suite instead of silently degrading the fanout
    gate to always-fan-out (the failure direction: a wrong small-input
    plan costs one tiny exchange, never a wrong answer)."""
    size = jvmseam.leaf_size_bytes(df)
    return _FANOUT_MIN_BYTES if size is None else size  # None: assume big


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the catalog to ``spark.sql`` under the canonical names."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_json_docs(spark: SparkSession, path_or_glob: str, schema=None) -> DataFrame:
    """S1/S2: JSON scan; a path glob replaces the reference's filename-regex
    directory walk (utils.py:283-297)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path_or_glob)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7/S13: JSON export (json.dump analog, resilient_etl.py:574-584)."""
    df.write.mode(mode).json(path)


def read_csv_docs(
    spark: SparkSession,
    path_or_glob: str,
    schema=None,
    header: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """S1/S2 CSV twin of ``read_json_docs`` — the other flat-record
    interchange format a scraper-side producer realistically hands over.
    Always pass ``schema`` in production: schema inference is a full extra
    pass over the data. ``multiline`` only for quoted embedded newlines —
    it disables record-level splitting, so files stop being splittable and
    one file = one task; keep it off for 100 TB inputs."""
    reader = spark.read.option("header", str(header).lower()).option(
        "multiLine", str(multiline).lower()
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path_or_glob)


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", header: bool = True
) -> None:
    """CSV export mirror of ``write_json``. Complex columns (arrays,
    structs) are not CSV-representable — callers flatten/stringify first
    (fail-fast here beats a writer error deep in a job)."""
    bad = [f.name for f in df.schema.fields if not f.dataType.typeName() in (
        "string", "integer", "long", "double", "float", "boolean", "date",
        "timestamp", "short", "byte", "decimal",
    )]
    if bad:
        raise ValueError(
            f"CSV cannot represent complex columns {bad}; flatten or "
            "stringify them before export"
        )
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "event_date",
    mode: str = "overwrite",
    compact: bool = True,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Canonical store writer: per-day collections (utils.py:583-584) become
    partitions. Dynamic partition overwrite so a re-run replaces only the days
    it touched — the batch analog of the reference's per-day upsert loop.

    ``compact=True`` repartitions by the partition column before writing, so
    each partition directory gets ONE file instead of one-per-upstream-task
    (the small-files problem: a 32-task day writes 32 shards; across years of
    daily partitions that's metadata pressure every reader pays forever).
    ``maxRecordsPerFile`` re-splits oversized days so a single hot date
    can't become one giant file — the two options together bound file
    count from BOTH sides."""
    if compact:
        df = df.repartition(partition_col)
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(partition_col)
        .parquet(path)
    )


#: Siblings of a store while ``swap_store`` replaces it: the next
#: generation is staged at ``path + _STAGED``, and the live store is
#: renamed to ``path + _ASIDE`` while the staged copy takes its place.
_STAGED, _ASIDE = "__compact_tmp", "__compact_old"


def staged_path(path: str) -> str:
    """Where a store's next generation is written (a complete parquet
    job, ``_SUCCESS`` included) before ``swap_store`` puts it in place."""
    return path.rstrip("/") + _STAGED


def _swap_paths(spark: SparkSession, path: str):
    path = path.rstrip("/")
    fs, store = jvmseam.hadoop_fs(spark, path)
    sibs = [jvmseam.hadoop_path(spark, path + s) for s in (_STAGED, _ASIDE)]
    return (fs, store, *sibs)


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise RuntimeError(f"store swap: failed to rename {src} to {dst}")


def swap_store(spark: SparkSession, path: str) -> None:
    """Replace the store at ``path`` with its committed ``staged_path``
    copy by rename-aside on the session's Hadoop FS: rename the live
    store aside, rename the staged copy in, delete the aside copy; a
    failed rename raises. The live store is never deleted in place — a
    recursive delete removes files one by one, and a crash inside it
    leaves a partial store the next reader takes for a whole one. Every
    crash point leaves the store or a committed staged copy, which
    ``recover_store_swap`` resolves."""
    fs, store, staged, aside = _swap_paths(spark, path)
    had_store = bool(fs.exists(store))
    if had_store:
        _rename(fs, store, aside)
    _rename(fs, staged, store)
    if had_store:
        fs.delete(aside, True)


def recover_store_swap(spark: SparkSession, path: str) -> None:
    """Finish a ``swap_store`` a crash cut; call it before reading the
    store. No store but a committed staged copy (``_SUCCESS`` present) is
    a cut between the renames: the staged copy is renamed in. An aside
    copy beside the store is a cut before the final delete: it is
    deleted, since renaming onto an existing directory is FS-specific."""
    fs, store, staged, aside = _swap_paths(spark, path)
    committed = jvmseam.hadoop_path(spark, staged_path(path) + "/_SUCCESS")
    if not fs.exists(store) and fs.exists(committed):
        _rename(fs, staged, store)
    if fs.exists(aside) and fs.exists(store):
        fs.delete(aside, True)


def unfinished_swap(spark: SparkSession, path: str) -> str | None:
    """The sibling of a ``swap_store`` cut at ``path`` (no store, but a
    staged or aside sibling), else ``None``. A writer that would create a
    missing store asks first: the stored rows are in the sibling."""
    fs, store, staged, aside = _swap_paths(spark, path)
    if not fs.exists(store):
        for sib in (aside, staged):
            if fs.exists(sib):
                return sib.toString()
    return None


def compact_store(
    spark: SparkSession,
    path: str,
    partition_col: str = "event_date",
    max_records_per_file: int = 5_000_000,
) -> int:
    """Store maintenance: rewrite a partitioned parquet store so every
    partition holds one file per ``max_records_per_file`` records —
    undoing small-files accumulation from months of incremental
    ``mode=append`` batches (each append leaves one-file-per-task; a 100 TB
    store appended daily reads thousands of tiny footers per partition
    until compacted). Returns the number of files after compaction.

    The rewrite goes to ``staged_path(path)`` and ``swap_store`` renames
    it in, so a reader never sees a half-written mix; partition values
    are preserved exactly. Each call first runs ``recover_store_swap``,
    which finishes a swap an earlier call left cut; while a swap is cut
    between its renames, ``streaming.start_merge_sink`` refuses to write.
    Run this from the maintenance window of an ingest pipeline, not
    per-batch — per-batch compaction is write amplification.
    """
    recover_store_swap(spark, path)
    (
        spark.read.parquet(path)
        .repartition(partition_col)
        .write.mode("overwrite")  # also replaces a staged copy cut mid-write
        .option("maxRecordsPerFile", str(max_records_per_file))
        .partitionBy(partition_col)
        .parquet(staged_path(path))
    )
    swap_store(spark, path)
    fs, store_p = jvmseam.hadoop_fs(spark, path)
    n = 0
    files = fs.listFiles(store_p, True)
    while files.hasNext():
        n += files.next().getPath().getName().endswith(".parquet")
    return n


def merge_by_key(
    existing: DataFrame,
    updates: DataFrame,
    key: str = "_id",
    order_col: str = "scraped_at",
    partition_col: str | None = None,
) -> DataFrame:
    """S8/S9 + D3: idempotent upsert — union then keep-latest-per-key.

    The reference re-scrapes the same tweet and relies on
    ``UpdateOne({_id}, {$set}, upsert=True)`` (resilient_scraper.py:944-951) so
    re-deliveries update rather than duplicate.  Batch Spark equivalent:
    ``row_number() over (partition by key order by order_col desc) = 1``.
    Ties break toward the update side (is_update desc) to mirror $set-wins.

    ``partition_col``: prune ``existing`` to the partitions the updates
    touch before the window (the same touched-partitions contract as the
    streaming merge sink — a re-delivered key keeps its partition value).
    Without it, a caller handing in a full store scan pays a store-wide
    shuffle for a one-day update; with it, merge cost tracks touched
    partitions and the isin filter lands as a PartitionFilter on the store
    scan (plan-pinned). The returned frame then only covers touched
    partitions — pair with dynamic partition overwrite, exactly like the
    sink.

    Every column the two sides share comes back with the updates' type,
    with or without ANSI and with or without ``partition_col``: a store
    read infers its partition column's type (a day string reads back as
    DATE) while the updates carry the written type, and without ANSI the
    union widens both to STRING where under ANSI it narrows to DATE. The
    cast compares ``simpleString()`` so nullability never adds one, and
    it runs AFTER the prune, so the filter stays on the raw column and
    prunes at the scan.

    Passing ``partition_col`` makes plan CONSTRUCTION eager: the touched
    partition values are collect()ed here (one tiny distinct over the
    updates), not at action time. NULL partition values in the updates are
    handled explicitly with an ``isNull`` branch — a plain ``isin`` never
    matches NULL, which would prune away existing NULL-partition rows and
    turn a re-delivered NULL-partition key into a duplicate (ADVICE r3)."""
    if partition_col is not None:
        touched = [
            r[partition_col]
            for r in updates.select(partition_col).distinct().collect()
        ]
        non_null = [v for v in touched if v is not None]
        pred = F.col(partition_col).isin(non_null)
        if len(non_null) < len(touched):
            pred = pred | F.col(partition_col).isNull()
        existing = existing.filter(pred)
    up_types = {f.name: f.dataType for f in updates.schema.fields}
    recast = {
        f.name: F.col(f.name).cast(up_types[f.name])
        for f in existing.schema.fields
        if f.name in up_types
        and f.dataType.simpleString() != up_types[f.name].simpleString()
    }
    if recast:
        existing = existing.withColumns(recast)
    ex = existing.withColumn("__is_update", F.lit(0))
    up = updates.withColumn("__is_update", F.lit(1))
    w = Window.partitionBy(key).orderBy(
        F.col("__is_update").desc(), F.col(order_col).desc_nulls_last()
    )
    return (
        ex.unionByName(up, allowMissingColumns=True)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__is_update")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table for repeated co-located joins (the 100 TB
    lever the reference's per-key upsert loop maps to): two tables bucketed
    AND sorted on the same key with the same bucket count join with NO
    shuffle and NO sort — the exchange the plain join would pay on every
    run is paid once at write time. Spark only honors bucketing through the
    catalog, hence saveAsTable rather than a path write."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def store_exists(spark: SparkSession, path: str) -> bool:
    """True iff the store path exists on the session's Hadoop filesystem —
    the explicit check that replaces catch-any-exception-as-missing."""
    fs, p = jvmseam.hadoop_fs(spark, path)
    return bool(fs.exists(p))


def existing_partition_values(spark: SparkSession, path: str, partition_col: str) -> DataFrame:
    """F6 skip-scan support: list partition values already materialized, for
    the incremental loader's anti-join (resilient_etl.py:304-318). A missing
    store has none, and neither has an empty one (``retention_sweep``
    leaves that when every day expired); any other read failure (a
    corrupt footer, an unreadable file) raises rather than reporting a
    clean store."""
    if store_exists(spark, path):
        fs, p = jvmseam.hadoop_fs(spark, path)
        if len(fs.listStatus(p)):
            return spark.read.parquet(path).select(partition_col).distinct()
    return spark.createDataFrame([], f"{partition_col} string")


def interleave_bits(qa, qb, bits: int = 8):
    """Morton/Z-order bit interleave of two pre-quantized integer columns
    (each in [0, 2^bits)): z = ...a1 b1 a0 b0. Pure bitwise column
    expressions — whole-stage codegen, row-local."""
    z = F.lit(0)
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(F.shiftright(qa, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(qb, i).bitwiseAND(F.lit(1)), 2 * i)
            )
        )
    return z.cast("bigint")


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 8,
    num_files: int = 8,
) -> None:
    """Z-order (Morton-curve) file layout over TWO filter columns — the
    data-skipping lever for scans filtered on either or both dimensions:
    each column is min/max-quantized to ``bits`` bits, the bits are
    interleaved, and files are range-partitioned + sorted on the Z key.
    Every output file then covers a NARROW range of BOTH columns, so
    parquet footer min/max stats prune files for predicates on either
    column — a single-column sort gives perfect pruning on one dimension
    and none on the other (measured in test_io at 16 files: mean
    per-file span of BOTH columns drops to ~1/4 of global range, where a
    sort on the first column leaves the second at ~full range).

    The min/max bounds are a 2x2 model collected to the driver (bounded,
    like every centroid/dim collect in this repo); production pipelines
    would source them from table stats. repartitionByRange does the
    balanced range split (sampled range exchange, no global sort);
    sortWithinPartitions keeps row groups tight within each file."""
    mn_a, mx_a, mn_b, mx_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    if mn_a is None or mn_b is None:  # empty input: write the empty dataset
        df.write.mode("overwrite").parquet(path)
        return
    span = float(2**bits)
    qa = F.least(
        F.lit(2**bits - 1),
        F.floor((F.col(col_a) - F.lit(mn_a)) * span / (float(mx_a - mn_a) + 1e-9)),
    ).cast("bigint")
    qb = F.least(
        F.lit(2**bits - 1),
        F.floor((F.col(col_b) - F.lit(mn_b)) * span / (float(mx_b - mn_b) + 1e-9)),
    ).cast("bigint")
    keyed = df.withColumn("__z", interleave_bits(qa, qb, bits))
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def retention_sweep(
    spark: SparkSession,
    path: str,
    partition_col: str,
    keep_after: str,
    dry_run: bool | None = None,
) -> list[str]:
    """Partition retention for the day-partitioned store: drop partitions
    whose value sorts strictly below ``keep_after`` (ISO dates compare
    lexicographically) — the maintenance sweep the reference's
    per-day collections imply (old days age out; utils.py's
    collection-per-date naming is the same lifecycle). Deletion is
    per-partition-directory, so the store never rewrites surviving data
    — at 100 TB this is a metadata operation per dropped day, not a
    copy. Returns the dropped partition values.

    Deletes through the Hadoop FileSystem API resolved from the path's
    scheme, so the sweep works identically on ``file://``, ``hdfs://``
    and ``s3a://`` stores (ADVICE r4: a local ``shutil.rmtree`` silently
    deletes NOTHING on remote filesystems while still reporting the
    partitions dropped). A partition that fails to delete — or that the
    filesystem reports missing after the delete call — raises
    ``RuntimeError`` naming it: a retention list must never claim a drop
    that didn't happen. ``dry_run`` defaults to True (audit-first):
    callers list, review, then re-invoke with ``dry_run=False`` — and
    because this default FLIPPED from the original destructive-by-default
    signature (ADVICE r5: a pre-flip caller omitting ``dry_run`` now
    silently deletes nothing while receiving the same non-empty dropped
    list), an OMITTED ``dry_run`` with matching partitions emits a loud
    ``UserWarning`` saying no deletion happened. Pass ``dry_run=True``
    explicitly to audit silently."""
    defaulted = dry_run is None
    if defaulted:
        dry_run = True
    values = [
        r[partition_col]
        for r in existing_partition_values(spark, path, partition_col).collect()
    ]
    mixed = [v for v in values if v is not None and len(str(v)) != len(keep_after)]
    if mixed:
        raise ValueError(
            "retention_sweep compares partition values lexicographically, "
            f"which needs fixed-width values; found width-mismatched {mixed[:5]} "
            f"vs cutoff {keep_after!r}"
        )
    doomed = sorted(v for v in values if v is not None and str(v) < keep_after)
    if defaulted and doomed:
        import warnings

        warnings.warn(
            f"retention_sweep: dry_run not specified — defaulting to "
            f"dry_run=True, so the {len(doomed)} matching partition(s) were "
            f"LISTED but NOT deleted. Pass dry_run=False to delete, or "
            f"dry_run=True to silence this warning.",
            UserWarning,
            stacklevel=2,
        )
    if not dry_run:
        for v in doomed:
            fs, part_path = jvmseam.hadoop_fs(
                spark, os.path.join(path, f"{partition_col}={v}")
            )
            # recursive delete; False return = not deleted (missing or
            # failure) — re-check existence to distinguish, and raise on
            # a partition that survives the call
            deleted = bool(fs.delete(part_path, True))
            if not deleted and bool(fs.exists(part_path)):
                raise RuntimeError(
                    f"retention_sweep: failed to delete partition "
                    f"{partition_col}={v} under {path}"
                )
    return [str(v) for v in doomed]
