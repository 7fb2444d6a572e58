"""Merge-sink soak on the DIRECTORY-SHAPED day store (VERDICT r9 item 5).

The gate soak covers the near-dup sink; this covers the OTHER long-running
streaming surface — ``start_merge_sink`` (keyed keep-latest upsert into an
event_date-partitioned store) — under the three conditions a production
store actually lives in:

- **many-part partitions**: ``max_records_per_file`` is set low enough
  that every day directory holds many part files (the 100 TB shape),
  and the soak asserts the bound holds per batch: files-per-day stays
  O(day_rows / max_records_per_file), never one-per-upstream-task creep;
- **a mid-soak retention sweep** (``io.retention_sweep``, dry_run=False):
  old days age out while the stream keeps appending newer days; the soak
  asserts the dropped days are GONE, the surviving days untouched
  (checksum unchanged), and later batches never resurrect them;
- **a kill-before-commit replay**: after the soak, the store+checkpoint
  pair is cloned and the LAST batch's checkpoint commit marker deleted —
  exactly the crash window between foreachBatch returning and the commit
  write — then the stream restarts so Structured Streaming replays that
  batch against a store that already contains its rows. The replayed
  twin must be content-identical to the uninterrupted one (the keyed
  keep-latest merge + dynamic partition overwrite convergence claim,
  now exercised on the many-part layout);
- **a MID-SOAK kill-mid-write crash** (r11, mirroring the gate soak's
  kill-mid-compaction): at ``crash_at`` the LIVE lineage is crashed in
  the other window — DURING ``write_partitioned``'s dynamic partition
  overwrite — by restoring the store to its pre-batch state, injecting
  the litter an interrupted overwrite job leaves (``_temporary`` task
  dirs inside a day partition, a ``.spark-staging-*`` dir at the store
  root, both holding junk ``.parquet`` bytes), and deleting the batch's
  commit marker while its offset entry stays. The restart must replay
  the batch against the PRE-batch store, converge bit-identically to
  the recorded uninterrupted hash, ignore the hidden litter, and the
  soak then CONTINUES on the crashed-and-recovered lineage — proving
  the store stays writable after a real crash, not just comparable in
  a clone.

Rows are tweets in the merge sink's contract shape (_id/created_at/
scraped_at/text); each batch spans several days and RE-DELIVERS a slice
of the previous batch's ids with a later scraped_at, so every batch
exercises the update path, not just inserts.

Usage: python tools/merge_soak.py [rows_per_batch] [batches] [max_rec_per_file]
       (defaults: 200000 8 5000)
Prints one JSON line per phase and a summary; exits non-zero on any
invariant violation. Scratch stores go under .bench_work/merge_soak in
this checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from mbgspark.io import retention_sweep
from mbgspark.jvmseam import app_shuffle_write_records, last_stage_id
from mbgspark.session import get_spark
from mbgspark.streaming import start_merge_sink


# under the checkout (git-ignored), so two checkouts can run side by side
BASE = os.path.join(REPO, ".bench_work", "merge_soak")
DAYS_PER_BATCH = 4  # each batch spans 4 consecutive days, advancing 2/batch


def write_batch(spark, src: str, batch: int, rows: int) -> None:
    """One JSON batch file: ``rows`` tweets over DAYS_PER_BATCH days;
    the first 10% re-deliver batch-1 ids with a later scraped_at. A
    re-delivered key KEEPS its created_at (hence its partition) — the
    merge sink's partition-scoped read contract — so the day is derived
    from the id itself (origin batch + row index), never from the
    delivering batch."""
    os.makedirs(src, exist_ok=True)
    redeliver = rows // 10 if batch > 0 else 0
    df = (
        spark.range(rows)
        .withColumn(
            "_id",
            F.when(
                F.col("id") < redeliver,
                # ids from the PREVIOUS batch's novel range
                F.col("id") + (batch - 1) * 1_000_000 + redeliver,
            ).otherwise(F.col("id") + batch * 1_000_000),
        )
        .withColumn(
            "__day",
            2 * (F.col("_id") / 1_000_000).cast("int")
            + F.pmod(F.col("_id") % 1_000_000, F.lit(DAYS_PER_BATCH)),
        )
        .withColumn(
            "created_at",
            F.expr("timestamp'2025-01-01 12:00:00' + make_interval(0,0,0,__day)"),
        )
        .withColumn(
            "scraped_at",
            F.expr(f"timestamp'2025-03-01' + make_interval(0,0,0,0,0,{batch})"),
        )
        .withColumn("text", F.concat(F.lit("tweet body "), F.col("_id")))
        .select("_id", "created_at", "scraped_at", "text")
    )
    df.coalesce(1).write.mode("overwrite").json(f"{src}/.staging_b{batch}")
    part = [
        f
        for f in os.listdir(f"{src}/.staging_b{batch}")
        if f.endswith(".json")
    ][0]
    shutil.move(f"{src}/.staging_b{batch}/{part}", f"{src}/b{batch}.json")
    shutil.rmtree(f"{src}/.staging_b{batch}")


def run_stream(spark, src: str, store: str, ck: str, mrpf: int) -> None:
    # the manager unregisters a terminated query from its active map
    # asynchronously; a back-to-back restart on the same checkpoint can
    # trip the concurrent-use guard — drain before starting (bounded)
    deadline = time.time() + 30
    while spark.streams.active and time.time() < deadline:
        time.sleep(0.1)
    if spark.streams.active:
        raise TimeoutError("previous streaming query never deregistered")
    stream = spark.readStream.schema(
        "_id long, created_at timestamp, scraped_at timestamp, text string"
    ).json(src)
    q = start_merge_sink(
        stream, store, ck, available_now=True, max_records_per_file=mrpf
    )
    if not q.awaitTermination(1200):
        q.stop()
        raise TimeoutError("merge sink still running after 1200 s")


def day_file_counts(store: str) -> dict[str, int]:
    out: dict[str, int] = {}
    if not os.path.isdir(store):
        return out
    for d in sorted(os.listdir(store)):
        if d.startswith("event_date="):
            p = os.path.join(store, d)
            out[d.split("=", 1)[1]] = sum(
                1 for f in os.listdir(p) if f.endswith(".parquet")
            )
    return out


def content_hash(spark, store: str) -> dict:
    row = (
        spark.read.parquet(store)
        .agg(
            F.count("*").alias("rows"),
            F.sum(F.xxhash64("_id", "scraped_at", "text")).alias("h"),
        )
        .collect()[0]
    )
    return {"rows": row["rows"], "h": row["h"]}


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    mrpf = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000

    # get_spark pins non-ANSI: the content checksum SUMs xxhash64 values,
    # which must wrap, not raise
    spark = get_spark("merge_soak")
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(BASE, ignore_errors=True)
    src, store, ck = f"{BASE}/src", f"{BASE}/store", f"{BASE}/ck"

    sweep_at = batches // 2
    # mid-soak, strictly AFTER the retention sweep: the crash block
    # snapshots the pre-batch store and compares replay to the post-batch
    # hash, so it must bracket a sweep-free batch. The raw (2*batches)//3
    # degenerates for small counts (== sweep_at at batches<=2 -> spurious
    # divergence; == 0 at batches=1 -> copytree of a store that doesn't
    # exist yet), hence the guard; with batches<2 no crash phase runs.
    crash_at = max(sweep_at + 1, 1) if batches >= 2 else None
    per_day = rows // DAYS_PER_BATCH  # rows a batch contributes to one day
    # per-batch WORK ledger (shuffle records written by each batch's
    # merge jobs, summed over the stages after a last_stage_id marker —
    # exact however many older stages the status store evicts): seconds
    # swing with neighbor load, records don't — the crash replay below
    # must not just
    # converge to the same CONTENT, it must do the same WORK
    batch_xrec: dict[int, int] = {}
    for b in range(batches):
        write_batch(spark, src, b, rows)
        if b == crash_at:
            # snapshot the pre-batch store: the mid-write crash below
            # restores it (an interrupted dynamic overwrite has not yet
            # committed any day dir, so the visible store IS pre-batch)
            shutil.copytree(store, f"{BASE}/pre_b{b}_store")
        t0 = time.time()
        x0 = last_stage_id(spark)
        run_stream(spark, src, store, ck, mrpf)
        batch_xrec[b] = app_shuffle_write_records(spark, after_stage=x0)
        counts = day_file_counts(store)
        # many-part bound: a day holds ≤ 2 batches' worth of rows (the
        # 2-day overlap), compacted to one task then split by mrpf
        worst = max(counts.values())
        bound = (2 * per_day) // mrpf + 2
        assert worst <= bound, f"file-count creep: {worst} > {bound} ({counts})"
        assert min(counts.values()) > 1, (
            f"store is not directory-shaped: a day has a single part ({counts})"
        )
        print(
            json.dumps(
                {
                    "phase": "batch",
                    "batch": b,
                    "secs": round(time.time() - t0, 2),
                    "xrec": batch_xrec[b],
                    "days": len(counts),
                    "day_files_max": worst,
                    "day_files_bound": bound,
                }
            ),
            flush=True,
        )
        if b == sweep_at:
            # drop every day older than the current batch's window start
            cutoff = f"2025-01-{2 * b + 1:02d}"
            before = day_file_counts(store)
            survivors_hash = {
                d: c for d, c in before.items() if d >= cutoff
            }
            dropped = retention_sweep(
                spark, store, "event_date", keep_after=cutoff, dry_run=False
            )
            after = day_file_counts(store)
            assert all(d >= cutoff for d in after), f"sweep left old days: {after}"
            assert {d: after[d] for d in survivors_hash} == survivors_hash, (
                "sweep touched surviving partitions"
            )
            print(
                json.dumps(
                    {"phase": "retention", "cutoff": cutoff, "dropped": dropped}
                ),
                flush=True,
            )
        if b == crash_at:
            # ---- mid-soak kill-MID-WRITE crash on the LIVE lineage ----
            # An interrupted dynamic partition overwrite leaves: the
            # store visibly PRE-batch (no day dir committed), task
            # _temporary litter inside a day partition, job staging
            # litter at the store root, an offset entry for the batch,
            # and no commit marker. Reconstruct exactly that, restart,
            # and require bit-identical convergence with the recorded
            # uninterrupted state — then keep soaking on this lineage.
            post_hash = content_hash(spark, store)
            shutil.rmtree(store)
            shutil.move(f"{BASE}/pre_b{b}_store", store)
            day = sorted(
                d for d in os.listdir(store) if d.startswith("event_date=")
            )[-1]
            lit1 = f"{store}/{day}/_temporary/0/_temporary/attempt_0001"
            os.makedirs(lit1)
            with open(f"{lit1}/part-00000-junk.c000.snappy.parquet", "w") as fh:
                fh.write("not parquet")
            lit2 = f"{store}/.spark-staging-cafef00d/{day}"
            os.makedirs(lit2)
            with open(f"{lit2}/part-00001-junk.c000.snappy.parquet", "w") as fh:
                fh.write("also not parquet")
            # post-crash restart = fresh driver: new query id (metadata
            # dropped with its checksum sidecar), commit marker gone,
            # offset entry retained
            for f2 in ("metadata", ".metadata.crc"):
                p = f"{ck}/{f2}"
                if os.path.exists(p):
                    os.remove(p)
            commits = sorted(
                int(f2)
                for f2 in os.listdir(f"{ck}/commits")
                if not f2.startswith(".")
            )
            for f2 in (f"{commits[-1]}", f".{commits[-1]}.crc"):
                p = f"{ck}/commits/{f2}"
                if os.path.exists(p):
                    os.remove(p)
            x0 = last_stage_id(spark)
            run_stream(spark, src, store, ck, mrpf)  # replays batch b only
            replay_xrec = app_shuffle_write_records(spark, after_stage=x0)
            replayed = content_hash(spark, store)
            assert replayed == post_hash, (
                "mid-write crash replay diverged",
                replayed,
                post_hash,
            )
            # identical WORK, not just identical content: the replay runs
            # the same input against the same restored pre-batch store,
            # so its shuffle records must equal the original batch's
            assert replay_xrec == batch_xrec[b], (
                "crash replay did different work",
                replay_xrec,
                batch_xrec[b],
            )
            counts = day_file_counts(store)
            assert max(counts.values()) <= bound, (
                f"post-crash file-count creep: {counts}"
            )
            print(
                json.dumps(
                    {
                        "phase": "crash_midwrite",
                        "batch": b,
                        "replayed_commit": commits[-1],
                        "identical": True,
                        "xrec": replay_xrec,
                        "xrec_original": batch_xrec[b],
                        "hash": post_hash,
                    }
                ),
                flush=True,
            )

    # no later batch may have resurrected a swept day (re-deliveries
    # always originate in the previous batch, whose days postdate the
    # cutoff — asserted, not assumed)
    cutoff = f"2025-01-{2 * sweep_at + 1:02d}"
    assert all(d >= cutoff for d in day_file_counts(store)), (
        f"a post-sweep batch resurrected a swept day: {day_file_counts(store)}"
    )

    # ---- kill-before-commit replay -----------------------------------
    # Twin A: untouched final store. Twin B: clone store+checkpoint,
    # delete the last commit marker (crash between foreachBatch and the
    # commit write), restart — the engine replays the final batch.
    final = content_hash(spark, store)
    twin_store, twin_ck = f"{BASE}/twin_store", f"{BASE}/twin_ck"
    shutil.copytree(store, twin_store)
    shutil.copytree(ck, twin_ck)
    # the clone keeps the original query id (ck/metadata); the in-JVM
    # StreamingQueryManager refuses to run "the same query" twice in one
    # session — drop the id file (offset/commit logs are id-independent)
    # so the replay runs as a fresh query over the cloned logs, exactly
    # what a post-crash restart on another driver would do. The local
    # checksum FS keeps a .metadata.crc sidecar: leaving it behind makes
    # the fresh metadata write read as a concurrent writer — remove both.
    for f in ("metadata", ".metadata.crc"):
        p = f"{twin_ck}/{f}"
        if os.path.exists(p):
            os.remove(p)
    commits = sorted(
        int(f) for f in os.listdir(f"{twin_ck}/commits") if not f.startswith(".")
    )
    for f in (f"{commits[-1]}", f".{commits[-1]}.crc"):
        p = f"{twin_ck}/commits/{f}"
        if os.path.exists(p):
            os.remove(p)
    x0 = last_stage_id(spark)
    run_stream(spark, src, twin_store, twin_ck, mrpf)
    twin_xrec = app_shuffle_write_records(spark, after_stage=x0)
    replayed = content_hash(spark, twin_store)
    same = replayed == final
    print(
        json.dumps(
            {
                "phase": "crash_replay",
                "replayed_batch": commits[-1],
                "identical": same,
                # reported, not asserted equal: the twin store already
                # holds the final batch's rows, so the replayed merge
                # reads bigger day partitions than the original run —
                # legitimately different work converging to the same
                # content (the mid-soak crash phase asserts work
                # identity, where the store IS restored pre-batch)
                "xrec": twin_xrec,
                "xrec_original": batch_xrec[batches - 1],
                "final": final,
                "replayed": replayed,
            }
        ),
        flush=True,
    )
    if not same:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
