"""Time arbitrary CATALOG rows on Spark at a given SF dir, with each
timed run's stage census.

bench.py is pinned to the driver's HEADLINE set; the scale octaves
(VERDICT r9 items 2-4: the r9-mask embedding baseline, the key-skew
octave, the split-layout sweep) need the same protocol on NON-headline
rows (ann_ivf_topk, label_centroids, jl_projection, ...). For each named
catalog row this tool warms the Spark plan at sf0.001 (JIT/codegen, per
bench.py's rationale), then times best-of-2 at the real SF with the noop
sink (full compute, no collect cost) — byte-for-byte the bench.py
measurement — and reports with the best run its ``jvmseam.stage_census``:

- ``n_stages``: stages of that run that ran tasks (the AppStatusStore
  stages after a ``jvmseam.last_stage_id`` marker taken just before it);
- ``stage_sec``: the union of those stages' task-active intervals.
  wall − stage_sec ≈ driver/AQE re-planning + scheduling gaps (VERDICT
  r14 items 1/7: dedup_minhash_lsh's inter-stage gaps were ~40% of its
  sf0.1 wall).

DuckDB oracle timings of the same rows: ``tools/bench_oracle.py``.

Usage: python tools/row_bench.py SF_DIR NAME [NAME...]
Prints one JSON line:
  {"sf_dir": ..., "spark": {name: s}, "n_stages": {name: n},
   "stage_sec": {name: s}, "spark_total": s, ...}
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import ITERATIVE, run_one
from mbgspark.jvmseam import last_stage_id, stage_census
from mbgspark.plans.catalog import CATALOG
from mbgspark.session import get_spark

WARM_DIR = "/root/testdata/sf0.001"


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: row_bench.py SF_DIR NAME [NAME...]")
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        sys.exit(f"row_bench: not in CATALOG: {unknown}")

    spark = get_spark("row_bench")
    spark.sparkContext.setLogLevel("ERROR")
    missed_warm: list[str] = []
    for name in names:
        try:
            run_one(spark, name, WARM_DIR)
        except Exception as exc:
            # a failed warm run skews this row off bench.py's protocol —
            # only the FIRST timed run is cold (best-of-2 is still
            # reported, and the min is usually the warmed second run),
            # so the skew is bounded but real; say so AND mark the row
            # in the JSON so downstream readers see it (ADVICE r10/r11)
            print(
                f"row_bench: WARM RUN FAILED for {name} ({exc}); first "
                "timed run will be cold (best-of-2 still reported)"
            )
            missed_warm.append(name)
    spark_times: dict[str, float] = {}
    n_stages: dict[str, int] = {}
    stage_sec: dict[str, float] = {}
    for name in names:
        runs = []
        for _ in range(2):
            marker = last_stage_id(spark)
            sec = run_one(spark, name, sf_dir)
            runs.append((sec, *stage_census(spark, marker)))
        sec, n, active = min(runs)
        spark_times[name] = round(sec, 3)
        n_stages[name] = n
        stage_sec[name] = round(active, 3)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "spark": spark_times,
                "n_stages": n_stages,
                "stage_sec": stage_sec,
                "spark_total": round(sum(spark_times.values()), 3),
                "iterative_cold": sorted(set(names) & ITERATIVE),
                "missed_warm": missed_warm,
            }
        )
    )


if __name__ == "__main__":
    main()
