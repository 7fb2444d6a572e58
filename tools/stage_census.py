"""Per-query stage census — the AQE-overhead instrument (VERDICT r14
items 1/7: dedup_minhash_lsh runs ~40 stages whose inter-stage gaps are
~40% of its sf0.1 wall; the r15 done-bar is a material stage-count drop).

For each named catalog row: run it once to warm (plan + JIT at the same
SF, per bench.py's protocol rationale), then run it again and report

- ``n_stages``: stages attributable to the timed run (the retained
  AppStatusStore stages after a ``jvmseam.last_stage_id`` marker — exact
  however many older stages the store evicts);
- ``stage_sec``: length of the union of the stages' (firstTaskLaunchedTime,
  completionTime) intervals — the time tasks were actually running, each
  second counted once however many stages ran concurrently in it;
- ``wall_sec``: the noop-sink wall. wall − stage_sec ≈ driver/AQE
  re-planning + scheduling gaps, the overhead this census exists to see.

Usage: python tools/stage_census.py SF_DIR NAME [NAME...]
Prints one JSON line per row.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mbgspark.jvmseam import last_stage_id, retained_stages
from mbgspark.plans.catalog import CATALOG
from mbgspark.session import get_spark


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals: overlapping stages
    are counted once, not once per stage."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _stages_since(spark, marker: int) -> dict[int, tuple[float, float] | None]:
    """{stageId: (start_sec, end_sec)} for every retained stage after
    ``marker`` that ran tasks (``None`` when its times cannot be read)."""
    last_stage_id(spark)  # drains the listener bus
    out: dict[int, tuple[float, float] | None] = {}
    for st in retained_stages(spark, marker):
        sid = int(st.stageId())
        try:
            t0 = st.firstTaskLaunchedTime()
            t1 = st.completionTime()
            if t0 is None or t1 is None:
                continue
            # java.util.Date via py4j in Option wrappers
            ms0 = t0.get().getTime() if hasattr(t0, "get") else t0.getTime()
            ms1 = t1.get().getTime() if hasattr(t1, "get") else t1.getTime()
            out[sid] = (ms0 / 1000.0, ms1 / 1000.0)
        except Exception:
            out[sid] = None
    return out


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        sys.exit(f"not in CATALOG: {unknown}")
    spark = get_spark("stage_census")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        builder = CATALOG[name][0]
        spark.sparkContext.setJobDescription(f"census-warm: {name}")
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        marker = last_stage_id(spark)
        spark.sparkContext.setJobDescription(f"census: {name}")
        t0 = time.time()
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        new = _stages_since(spark, marker)
        print(
            json.dumps(
                {
                    "name": name,
                    "n_stages": len(new),
                    "stage_sec": round(
                        union_length([iv for iv in new.values() if iv]), 3
                    ),
                    "wall_sec": round(wall, 3),
                }
            )
        )


if __name__ == "__main__":
    main()
