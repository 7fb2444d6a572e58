"""Long-haul soak of the indexed streaming near-dup gate (VERDICT r7
item 5): a ≥1M-doc store, MANY consecutive batches with in-line
compaction (``compact_every``) firing repeatedly, demonstrating

- flat per-batch wall time across compaction cycles (no creep from
  accumulating batch partitions), and
- bounded on-disk state: live ``__gate_batch=`` partition count resets
  every cycle and total file counts stay O(buckets), not O(batches).

Then a kill-mid-compaction replay AT THE SOAKED STORE: two copies of the
final store get one more batch dir; one compacts uninterrupted, the
other first has a committed-staging crash state constructed (snapshot
parquet + manifest — exactly what a crash between the manifest write and
the swap leaves, the same construction as
``test_compact_gate_store_preserves_gate_semantics``) so its compact
call takes the adoption path. Both must end with identical doc_id sets.

Reuses gate_bench's corpus/seed/batch construction so the store layout
is the gate's own. Prints one JSON line per batch and one summary line.

Usage: python tools/gate_soak.py [N_docs] [batches] [compact_every] [target_files]
       (defaults: 1000000 12 3 1)
Scratch stores go under .bench_work/gate_soak in this checkout.

``target_files`` > 1 runs the soak in the DIRECTORY-SHAPED store mode
(VERDICT r9 item 5): in-line compaction folds the flat store base to
that many part files instead of one — the 100 TB shape, where the base
generation is a directory of parallel-written parts that no single task
could rewrite. The replay twins compact with the same target, so the
crash-adoption path is exercised on the many-part layout too.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gate_bench import (  # noqa: E402
    batch_docs,
    make_texts,
    seed_mode,
    write_batch_file,
)

from mbgspark.jvmseam import app_shuffle_write_records, last_stage_id  # noqa: E402
from mbgspark.session import get_spark  # noqa: E402
from mbgspark.streaming import (  # noqa: E402
    GATE_COMPACT_STAGING,
    compact_gate_store,
    start_neardup_gate_sink_indexed,
)

# under the checkout (git-ignored), so two checkouts can run side by side
BASE = os.path.join(REPO, ".bench_work", "gate_soak")


def _live_dirs(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        d
        for d in os.listdir(path)
        if d.startswith("__gate_batch=") and d != "__gate_batch=-1"
    ]


def _file_count(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(".") and f != "_SUCCESS")
    return n


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    ce = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    target_files = int(sys.argv[4]) if len(sys.argv) > 4 else 1

    spark = get_spark("gate_soak")
    spark.sparkContext.setLogLevel("ERROR")

    root = f"{BASE}/pruned_{n}"
    shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    texts = make_texts(n)
    seed_mode(spark, texts, root)
    print(
        json.dumps({"phase": "seed", "n": n, "secs": round(time.time() - t0, 1)}),
        flush=True,
    )

    store, index, ck = f"{root}/store", f"{root}/index", f"{root}/ck"
    for b in range(batches):
        write_batch_file(f"{root}/src", b, batch_docs(texts, b))
        stream = spark.readStream.schema("doc_id long, text string").json(
            f"{root}/src"
        )
        t0 = time.time()
        x0 = last_stage_id(spark)
        q = start_neardup_gate_sink_indexed(
            stream,
            store,
            index,
            ck,
            threshold=0.5,
            available_now=True,
            compact_every=ce,
            compact_target_files=target_files,
        )
        # awaitTermination returns False on timeout WITHOUT raising; a
        # hung batch must fail loudly, not let the soak read a store the
        # query is still writing (ADVICE r8)
        if not q.awaitTermination(1200):
            q.stop()
            raise TimeoutError(f"batch {b}: gate sink still running after 1200 s")
        secs = round(time.time() - t0, 2)
        xrec = app_shuffle_write_records(spark, after_stage=x0)
        print(
            json.dumps(
                {
                    "phase": "batch",
                    "batch": b,
                    "secs": secs,
                    "xrec": xrec,
                    "store_rows": spark.read.parquet(store).count(),
                    "live_store_dirs": len(_live_dirs(store)),
                    "live_band_dirs": len(_live_dirs(f"{index}/bands")),
                    "store_files": _file_count(store),
                    "index_files": _file_count(index),
                }
            ),
            flush=True,
        )

    # ---- kill-mid-compaction replay at the soaked store -----------------
    # Both twins receive the same extra batch dir; "crash" additionally
    # gets a committed staging snapshot whose manifest covers only the
    # PRE-extra dirs — the adoption must keep the extra dir's data.
    extra = spark.createDataFrame(
        [(99_999_999, "a wholly new post crash document body")],
        "doc_id long, text string",
    )
    results = {}
    for twin in ("plain", "crash"):
        twin_store = f"{root}/twin_{twin}"
        shutil.rmtree(twin_store, ignore_errors=True)
        shutil.copytree(store, twin_store)
        if twin == "crash":
            staging = twin_store + GATE_COMPACT_STAGING
            # manifest scope = EVERY dir the snapshot subsumes, including
            # the old -1 base (what the real compaction records)
            dirs_at_snapshot = [
                d
                for d in os.listdir(twin_store)
                if d.startswith("__gate_batch=")
            ]
            # repartition, not coalesce: coalesce only REDUCES the count,
            # so a small twin store read as fewer splits would stage
            # near-single-part and never exercise the many-part adoption
            # path (the pitfall compact_gate_store's own comment records;
            # ADVICE r10)
            (
                spark.read.parquet(twin_store)
                .drop("__gate_batch")
                .repartition(max(4, target_files))
                .write.mode("overwrite")
                .parquet(staging)
            )
            with open(f"{staging}/_COMPACT_MANIFEST.json", "w") as f:
                json.dump({"dirs": dirs_at_snapshot}, f)
        extra.write.mode("overwrite").parquet(f"{twin_store}/__gate_batch=9999")
        x0 = last_stage_id(spark)
        folded_1 = compact_gate_store(spark, twin_store, target_files=target_files)
        folded_2 = compact_gate_store(spark, twin_store, target_files=target_files)
        compact_xrec = app_shuffle_write_records(spark, after_stage=x0)
        df = spark.read.parquet(twin_store)
        results[twin] = {
            "folded": [folded_1, folded_2],
            # work ledger, reported not asserted equal: the crash twin
            # takes the staging-adoption path (reads the snapshot, not
            # the batch dirs), legitimately different work converging to
            # the same id set
            "compact_xrec": compact_xrec,
            "rows": df.count(),
            "id_hash": df.selectExpr(
                "sum(hash(doc_id)) AS h", "count(distinct doc_id) AS d"
            ).collect()[0].asDict(),
            "files": _file_count(twin_store),
        }
    same = (
        results["plain"]["rows"] == results["crash"]["rows"]
        and results["plain"]["id_hash"] == results["crash"]["id_hash"]
    )
    print(
        json.dumps({"phase": "crash_replay", "identical": same, **results}),
        flush=True,
    )
    if not same:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
