"""Automated xrec scaling sweep — the superlinear-pair detector.

Runs the shuffle ledger for the same catalog rows across an SF ladder
and prints each row's shuffle-record growth factor per step. Records
are load-independent, so a hidden pair blowup shows up as
xrec >> data-growth regardless of box noise — this is the instrument
that caught the r12 minhash fat-agg wall (40.7x on 10x data) one
decade after the first sweep saw linear growth.

A row FLAGS (exit 1) when its growth exceeds ``factor x slack`` on any
step, or when it spills at any SF. Text-derived rows legitimately run
slightly superlinear in their gram fanout (contamination_check's 13.1x
on 10x data is text-length-bounded, not pairing) — that is what the
default slack absorbs; a real pair blowup lands far outside it.

Start the ladder at sf0.1 or above: a near-empty base SF inflates the
first step's ratio arithmetically (contamination_check measures 29x
from sf0.01 simply because its sf0.01 gram base is tiny) — that is a
denominator artifact, not work growth.

Usage: python tools/ledger_scaling.py SF_DIR [SF_DIR...] -- NAME [NAME...]
       [--factor 10] [--slack 1.6]
Example (the r12 two-decade sweep):
       python tools/ledger_scaling.py /root/testdata/sf0.1 /tmp/sf1 /tmp/sf10 \
           -- dedup_minhash_lsh contamination_check repetition_stats
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from shuffle_ledger import ledger_for  # noqa: E402

from mbgspark.plans.catalog import CATALOG  # noqa: E402
from mbgspark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    factor, slack = 10.0, 1.6
    if "--factor" in args:
        i = args.index("--factor")
        factor = float(args[i + 1])
        del args[i : i + 2]
    if "--slack" in args:
        i = args.index("--slack")
        slack = float(args[i + 1])
        del args[i : i + 2]
    if "--" not in args:
        sys.exit(__doc__)
    split = args.index("--")
    sf_dirs, names = args[:split], args[split + 1 :]
    if len(sf_dirs) < 2 or not names:
        sys.exit(__doc__)
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        sys.exit(f"ledger_scaling: not in CATALOG: {unknown}")

    spark = get_spark("ledger_scaling")
    spark.sparkContext.setLogLevel("ERROR")

    rows: dict[str, list[dict]] = {n: [] for n in names}
    for sf in sf_dirs:
        for n in names:
            rows[n].append(ledger_for(CATALOG[n][0](spark, sf)))

    bound = factor * slack
    flagged: list[str] = []
    for n in names:
        recs = [r["shuffleRecordsWritten"] for r in rows[n]]
        spills = [r["spillSize"] for r in rows[n]]
        growth = [
            round(b / a, 2) if a else (float("inf") if b else 1.0)
            for a, b in zip(recs, recs[1:])
        ]
        bad = [g for g in growth if g > bound] or [s for s in spills if s]
        if bad:
            flagged.append(n)
        print(
            json.dumps(
                {
                    "query": n,
                    "records": recs,
                    "growth": growth,
                    "spill": spills,
                    "flag": bool(bad),
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "sf_dirs": sf_dirs,
                "bound_per_step": bound,
                "flagged": flagged,
            }
        )
    )
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
