"""Shuffle-bytes ledger — a load-independent regression instrument.

Every bench adjudication this repo has done (r7 window-noise evidence,
r9 q12 drift, r11 drifter A/B) fought the same confound: SECONDS vary
2-3x with invisible neighbor load, while the work a plan does is fixed.
This tool records the work itself: for each named catalog row it drives
the query's own executed plan and sums the executed-plan metrics that
are deterministic for a given (plan, data) pair —

- ``shuffleRecordsWritten``: exactly reproducible run-to-run;
- ``shuffleBytesWritten``: stable modulo compression framing (<1%);
- ``spillSize``: memory-discipline invariant — expected 0 at bench SFs;
- ``peakMemory``: indicative only (sized by partition count), reported
  but not a regression key.

A future round that changes a plan and sees seconds move can diff THIS
ledger instead of re-litigating the window: bytes/records moved = the
plan really does different work; bytes flat + seconds up = load.

The metric walk lives in ``mbgspark.jvmseam.executed_plan_metrics``
(the one module allowed to touch JVM internals — the seam-confinement
pin test enforces it): AQE query stages and plan subqueries are walked,
and the driver is the DataFrame's OWN QueryExecution, so metrics land
on the inspected tree.

Usage: python tools/shuffle_ledger.py [--no-isolate] [--static-plan]
           [SF_DIR] [NAME...]
       (defaults: /root/testdata/sf0.1, bench.py's HEADLINE set)
Prints one JSON line per query plus a totals line; exits 1 if any
query SPILLS (the suite-wide zero-spill invariant).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from mbgspark.jvmseam import executed_plan_metrics
from mbgspark.plans.catalog import CATALOG
from mbgspark.session import get_spark

KEYS = ("shuffleBytesWritten", "shuffleRecordsWritten", "spillSize", "peakMemory")

# Rows whose executed-plan records are NOT a pure function of (plan,
# data) under AQE. Root cause (diagnosed r14, revising the NOTES_r13
# §12 "warm-up attribution" reading): these plans have an AQE
# stage-materialization RACE — the probe side of a join plans an
# ENSURE_REQUIREMENTS hash exchange, and whether that exchange's shuffle
# is WRITTEN before AQE's runtime stats convert the join to broadcast
# (AQEShuffleRead local) depends on stage completion order, i.e. on box
# load, not on session order (reproduced: the same fresh-session capture
# of dedup_semantic_keep_best returns 1649/1685/1979 records as CPU load
# varies — the deltas are exactly the racy exchanges' row counts).
# Fix (VERDICT r13 #2): capture each of these rows in an ISOLATED fresh
# subprocess with AQE DISABLED — the static plan writes every planned
# exchange exactly once, so the record is deterministic by construction.
# The production/bench path keeps AQE on (the dynamic conversion is the
# right 100 TB behavior — it SAVES work when it wins the race); only
# this instrument's regression key needs the static twin, and only for
# these rows (the other 160 catalog plans are AQE-stable: fwd/rev
# full-catalog runs agree bit-for-bit on every record).
ISOLATE = {
    "dup_components",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "dedup_semantic_keep_best",
}

# Capture-mode contract (r15, adjudicating VERDICT r14 "What's wrong" #1):
# an ISOLATE row's record is NOT column-comparable with a shared-session
# AQE-on capture of the same plan. Verified at identical code:
# dup_components captures (5595 B, peak 26 MB) shared/AQE-on — exactly
# the LEDGER_r13 row — and (6911 B, peak 1.29 GB) isolated/AQE-off —
# exactly the LEDGER_r14 row. The bytes delta is the planned exchanges
# AQE would convert/localize at runtime; the 50× peakMemory delta is
# task-count scaling: peakMemory sums fixed per-task operator
# reservations, and the static plan runs every consumer at the full
# declared partition count with no AQE coalescing. So the r13→r14
# dup_components "drift" was the instrument's capture-mode switch
# (8e9c026), not a plan change. Every row now records its capture mode
# so ledger_diff refuses cross-mode comparisons instead of reporting
# phantom movement.



def ledger_for(df) -> dict:
    return executed_plan_metrics(df, KEYS)


def _isolated_row(sf_dir: str, name: str) -> dict:
    """Capture one catalog row in a fresh static-plan (AQE-off)
    subprocess session; returns its ledger record. Fails loud on a
    non-zero exit that produced no row (a spilling row still returns its
    record — the caller applies the zero-spill policy uniformly)."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--no-isolate",
         "--static-plan", sf_dir, name],
        capture_output=True, text=True,
    )
    for line in p.stdout.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        row = json.loads(line)
        if row.get("query") == name:
            row.pop("query")
            return row
    raise RuntimeError(
        f"shuffle_ledger: isolated capture of {name} produced no record "
        f"(exit {p.returncode}):\n{p.stderr[-2000:]}"
    )


def main() -> int:
    args = sys.argv[1:]
    isolate = "--no-isolate" not in args
    if not isolate:
        args.remove("--no-isolate")
    static_plan = "--static-plan" in args
    if static_plan:
        args.remove("--static-plan")
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:] or list(HEADLINE)
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        sys.exit(f"shuffle_ledger: not in CATALOG: {unknown}")
    spark = get_spark(
        "shuffle_ledger",
        extra_conf=(
            {"spark.sql.adaptive.enabled": "false"} if static_plan else None
        ),
    )
    spark.sparkContext.setLogLevel("ERROR")
    totals = {k: 0 for k in KEYS}
    spilled = []
    for name in names:
        if isolate and name in ISOLATE:
            row = _isolated_row(sf_dir, name)
            row["capture"] = "isolated-static"
        else:
            df = CATALOG[name][0](spark, sf_dir)
            row = ledger_for(df)
            row["capture"] = "static" if static_plan else "shared-aqe"
        for k in KEYS:
            totals[k] += row[k]
        if row["spillSize"]:
            spilled.append(name)
        print(json.dumps({"query": name, **row}), flush=True)
    print(json.dumps({"query": "__total__", **totals, "spilled": spilled}))
    return 1 if spilled else 0


if __name__ == "__main__":
    raise SystemExit(main())
