"""Streaming near-dup gate cost: the bucket-pruned index gate, alone and
with in-line compaction (compact_every=2 — the fold fires in batch 1, so
batch 2's time is the post-compaction cost).

Methodology (r5 protocol, r6 pruned form): seed a store of N docs (~40
random words each from a 40k-word vocab), then time THREE consecutive
100-doc availableNow batches per mode (90 novel docs + 10 near-dups of
stored docs) against the same seeded corpus state per mode. The seed is
a __gate_batch=-1 store partition, and its index generation -1 written by
dedup's check_minhash_index + write_minhash_index, the routines the gate
itself uses. Per-batch seconds include the availableNow stream start/stop.
Each mode must end batch b at N + 90·(b+1) stored docs (novel docs
admitted, near-dups rejected); otherwise the script exits 1. One untimed
batch on a 500-doc store runs first, so neither mode pays the process's
cold start.

Usage: python tools/gate_bench.py [N_docs ...]   (default: 50000 200000)
Prints one JSON line per (store_size, mode). Scratch stores go under
.bench_work/gate_bench in this checkout.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from mbgspark.operators.dedup import (
    build_minhash_index,
    check_minhash_index,
    write_minhash_index,
)
from mbgspark.session import get_spark
from mbgspark.streaming import start_neardup_gate_sink_indexed

# under the checkout (git-ignored), so two checkouts can run side by side
BASE = os.path.join(REPO, ".bench_work", "gate_bench")


def make_texts(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(40_000)
    ]
    return [" ".join(rng.choice(vocab) for _ in range(40)) for _ in range(n)]


def batch_docs(texts: list[str], batch_no: int) -> list[dict]:
    rng = random.Random(1000 + batch_no)
    docs = []
    base_id = 10_000_000 + batch_no * 1000
    # 10 near-dups of stored docs: one word replaced
    for i in range(10):
        words = texts[rng.randrange(len(texts))].split()
        words[0] = "zzchanged"
        docs.append({"doc_id": base_id + i, "text": " ".join(words)})
    # 90 novel docs
    vocab_rng = random.Random(2000 + batch_no)
    for i in range(10, 100):
        words = [
            "".join(vocab_rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
            for _ in range(40)
        ]
        docs.append({"doc_id": base_id + i, "text": " ".join(words)})
    return docs


def write_batch_file(src_dir: str, batch_no: int, docs: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, f"b{batch_no}.json"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def seed_mode(spark, texts: list[str], root: str) -> None:
    docs = spark.createDataFrame(
        list(zip(range(len(texts)), texts)), "doc_id long, text string"
    ).repartition(32)
    store = f"{root}/store"
    # __gate_batch=-1 so a fresh checkpoint's batch 0 (filter
    # __gate_batch < 0) still sees the seed
    docs.withColumn("__gate_batch", F.lit(-1)).write.mode("overwrite").partitionBy(
        "__gate_batch"
    ).parquet(store)
    # the gate fails fast on band rows without the layout meta sidecar
    check_minhash_index(spark, f"{root}/index")
    bands, arrays = build_minhash_index(docs, "doc_id", "text")
    write_minhash_index(f"{root}/index", -1, bands, arrays, "doc_id")


def run_batch(spark, texts: list[str], root: str, b: int, compact: bool) -> float:
    """Gate batch ``b`` through one availableNow stream; its seconds."""
    write_batch_file(f"{root}/src", b, batch_docs(texts, b))
    stream = spark.readStream.schema("doc_id long, text string").json(f"{root}/src")
    t0 = time.time()
    q = start_neardup_gate_sink_indexed(
        stream, f"{root}/store", f"{root}/index", f"{root}/ck",
        threshold=0.5, available_now=True,
        # the compact mode folds mid-stream after 2 live batch
        # partitions accumulate — batch 2's time is then the
        # post-compaction cost of record (VERDICT r6 item 3)
        compact_every=2 if compact else None,
    )
    q.awaitTermination(600)
    return round(time.time() - t0, 2)


def warm_up(spark) -> None:
    """One untimed gate batch on a small seeded store, so the process's
    first stream start and first gate code paths are not billed to
    whichever mode runs first (cold, its batch 0 ran ~1.5× slower)."""
    root = f"{BASE}/warmup"
    shutil.rmtree(root, ignore_errors=True)
    texts = make_texts(500)
    seed_mode(spark, texts, root)
    run_batch(spark, texts, root, 0, compact=False)
    shutil.rmtree(root)


def run_mode(spark, texts: list[str], mode: str, n: int) -> dict:
    root = f"{BASE}/{mode}_{n}"
    shutil.rmtree(root, ignore_errors=True)
    seed_mode(spark, texts, root)
    times = []
    admitted = []
    for b in range(3):
        times.append(run_batch(spark, texts, root, b, mode == "pruned_compact"))
        admitted.append(spark.read.parquet(f"{root}/store").count())
    return {"mode": mode, "store_n": n, "batch_secs": times, "store_counts": admitted}


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 200_000]
    spark = get_spark("gate_bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    bad = []
    for n in sizes:
        texts = make_texts(n)
        for mode in ("pruned", "pruned_compact"):
            res = run_mode(spark, texts, mode, n)
            print(json.dumps(res), flush=True)
            if res["store_counts"] != [n + 90 * (b + 1) for b in range(3)]:
                bad.append(f"{mode} at N={n}")
    if bad:
        sys.exit(f"store counts other than N + 90·(b+1): {', '.join(bad)}")


if __name__ == "__main__":
    main()
