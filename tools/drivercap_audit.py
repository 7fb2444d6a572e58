"""Driver-cap boundary audit under concurrent load (VERDICT r8 item 6).

The four cap-guarded driver strategies each argue "cap-sized data fits
comfortably on the driver" — but each argument implicitly assumes ONE
query owns the driver heap:

- ``components.connected_components``: 1M (src, dst) edges
  (``_DRIVER_EDGE_CAP``);
- ``dedup.ngram_jaccard_pairs``: 100k (id, text) rows + shingle
  dicts (``NGRAM_DRIVER_ROW_CAP`` / ``NGRAM_DRIVER_PAIR_CAP``);
- ``textstats.bigram_surprise`` vectorized path: 2M (w1, w2, int) model
  rows (``LM_MODEL_DRIVER_CAP``);
- ``similarity.brute_force_topk`` vectorized: the query-side matrix
  (bounded by the broadcast contract, no fixed row cap — audited at a
  representative 20k × 64 floats).

This script builds a cap-SIZED workload for each (synthetic, generated
JVM-side; the bigram corpus round-trips through a scratch parquet under
``.bench_work/drivercap_audit`` so its leaf reports file bytes), runs
each alone and then the two heaviest CONCURRENTLY in one session (Spark supports concurrent actions from
threads), and samples VmRSS of the Python driver AND the JVM child at
50 ms to report the true peak per phase. The output is the sizing
evidence each module docstring cites.

Usage: python tools/drivercap_audit.py [phases...]   (default: all + concurrent)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

# scratch parquet under the checkout (git-ignored)
WORK = os.path.join(REPO, ".bench_work", "drivercap_audit")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _java_children() -> list[int]:
    me = os.getpid()
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                parts = f.read().split()
            if int(parts[3]) == me and "java" in parts[1]:
                pids.append(int(p))
        except (OSError, IndexError, ValueError):
            continue
    return pids


class PeakSampler:
    """Max VmRSS (python, jvm) observed between start() and stop()."""

    def __init__(self):
        self._stop = threading.Event()
        self.peak_py = 0
        self.peak_java = 0
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_py = max(self.peak_py, _rss_kb(me))
            # re-enumerate every tick (cheap at 50 ms cadence): a JVM
            # (re)spawned mid-phase would be invisible to a pid list
            # cached at construction, silently under-reporting peak_java
            self.peak_java = max(
                self.peak_java, sum(_rss_kb(p) for p in _java_children())
            )
            time.sleep(0.05)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def phase_components(spark):
    """1M-edge chain graph — one giant component, the worst label-churn
    shape for union-find; exactly _DRIVER_EDGE_CAP rows fetched."""
    from mbgspark.operators.components import connected_components

    edges = spark.range(1_000_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(edges)
    n = out.count()
    assert n == 1_000_001, n
    return {"rows_fetched": 1_000_000, "nodes": n}


def phase_ngram(spark):
    """100k-row corpus (the exact NGRAM_DRIVER_ROW_CAP) of 20-word docs;
    tokens globally unique so the bucket dicts carry the full 1.8M
    shingles while the pair set stays empty — isolates the fetch+dict
    footprint from pair-output noise."""
    from mbgspark.operators.dedup import ngram_jaccard_pairs

    docs = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 19), j -> concat('w', id * 20 + j)))"
        ).alias("text"),
    )
    out = ngram_jaccard_pairs(docs, "doc_id", "text")
    n = out.count()
    assert n == 0, n
    return {"rows_fetched": 100_000, "pairs": n}


def phase_bigram(spark):
    """100k docs x 21 globally-unique tokens -> exactly 2M distinct
    bigrams = LM_MODEL_DRIVER_CAP model rows collected + dict + pickled
    broadcast — the heaviest single driver allocation of the four. The
    docs round-trip through parquet: ``bigram_surprise`` picks its path
    from the leaf's file bytes, and a ``spark.range`` leaf reports far
    less than ``LM_VECTORIZED_MIN_BYTES``, so it would audit the fold."""
    from mbgspark.jvmseam import node_class, physical_plan_root, walk_plan
    from mbgspark.operators.textstats import bigram_surprise

    path = os.path.join(WORK, "bigram_docs")
    spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "concat_ws(' ', transform(sequence(0, 20), j -> concat('t', id * 21 + j)))"
        ).alias("text"),
    ).write.mode("overwrite").parquet(path)
    out = bigram_surprise(spark.read.parquet(path))
    plan = walk_plan(physical_plan_root(out))
    assert any(node_class(n) == "MapInPandasExec" for n in plan), "fold path"
    n = out.count()
    shutil.rmtree(path)
    assert n == 100_000, n
    return {"model_rows": 2_000_000, "docs_scored": n}


def phase_bruteforce(spark):
    """20k query vectors x 64 dims against a 100k corpus, vectorized —
    the query side collects + ships in the mapInPandas closure."""
    from mbgspark.operators.similarity import brute_force_topk

    mk = (
        "transform(sequence(0, 63), j -> cast(sin(id * 64 + j) as float))"
    )
    corpus = spark.range(100_000).select(
        F.col("id").alias("vec_id"), F.expr(mk).alias("embedding")
    )
    queries = spark.range(20_000).select(
        (F.col("id") + 1_000_000).alias("vec_id"), F.expr(mk).alias("embedding")
    )
    out = brute_force_topk(corpus, queries, k=3, strategy="vectorized")
    n = out.count()
    assert n == 60_000, n
    return {"query_rows": 20_000, "topk_rows": n}


PHASES = {
    "components": phase_components,
    "ngram": phase_ngram,
    "bigram": phase_bigram,
    "bruteforce": phase_bruteforce,
}


def run_phase(spark, name, fn) -> dict:
    t0 = time.time()
    with PeakSampler() as s:
        extra = fn(spark)
    rec = {
        "phase": name,
        "secs": round(time.time() - t0, 2),
        "peak_py_mb": s.peak_py // 1024,
        "peak_java_mb": s.peak_java // 1024,
        **extra,
    }
    print(json.dumps(rec), flush=True)
    return rec


def main() -> None:
    from mbgspark.session import get_spark

    wanted = [a for a in sys.argv[1:] if not a.startswith("-")] or [
        "components",
        "ngram",
        "bigram",
        "bruteforce",
        "concurrent",
    ]
    spark = get_spark("drivercap_audit")
    baseline = {"py_mb": _rss_kb(os.getpid()) // 1024}
    java_pids = _java_children()
    baseline["java_mb"] = sum(_rss_kb(p) for p in java_pids) // 1024
    print(json.dumps({"phase": "baseline", **baseline}), flush=True)

    for name in wanted:
        if name == "concurrent":
            # the two heaviest driver allocations at once: the 2M-row
            # bigram model and the 1M-edge union-find
            results: dict = {}

            def worker(nm):
                t0 = time.time()
                extra = PHASES[nm](spark)
                results[nm] = {"secs": round(time.time() - t0, 2), **extra}

            t0 = time.time()
            with PeakSampler() as s:
                ts = [
                    threading.Thread(target=worker, args=(nm,))
                    for nm in ("bigram", "components")
                ]
                for t in ts:
                    t.start()
                for t in ts:
                    t.join()
            print(
                json.dumps(
                    {
                        "phase": "concurrent(bigram+components)",
                        "secs": round(time.time() - t0, 2),
                        "peak_py_mb": s.peak_py // 1024,
                        "peak_java_mb": s.peak_java // 1024,
                        "per_phase": results,
                    }
                ),
                flush=True,
            )
        else:
            run_phase(spark, name, PHASES[name])


if __name__ == "__main__":
    main()
