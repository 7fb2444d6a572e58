"""Time the DuckDB oracles of catalog queries (default: the HEADLINE bench
set) at a given SF dir — the one home of oracle timing; tools/row_bench.py
times the Spark side of any row.

The bench bar is "Spark within ~2x of the driver's DuckDB oracle at the
same SF" (VERDICT r4/r5 protocol), and VERDICT r5 item 7 asks for a
per-query Spark/DuckDB RATIO comparison across SFs (sf0.1 vs sf1): any
query whose ratio degrades >2x between SFs gets a plan audit. bench.py
times the Spark side; this tool times the matching oracles on the same
parquet so the ratios can be computed without hand-running DuckDB.

Protocol mirrors bench.py: one warm pass (DuckDB plans are cheap but the
OS page cache matters at sf1), then BEST-OF-3 timed passes per query
(VERDICT r13 #7: single-pass oracle numbers swung 6.58 s vs 9.27 s on
locate_full_dim at the same SF purely from neighbor load, making the
recorded Spark/oracle ratio noisy from the ORACLE side; min-of-3 is the
same noise discipline bench.py applies to the Spark side). Queries
with no SQL oracle (intentionally approximate ops) are skipped and
listed.

Usage: python tools/bench_oracle.py [sf_dir] [names...]
  # sf_dir defaults to the sf0.1 test corpus; names: any CATALOG rows (a
  # name not in CATALOG exits with an error) — no names = the headline set
Prints one JSON line: {"oracle_total": s, "queries": {...}, "skipped": [...]}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from mbgspark.plans.catalog import CATALOG
from tools.parity import duck_connection


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or HEADLINE
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        sys.exit(f"bench_oracle: not in CATALOG: {unknown}")
    con = duck_connection(sf_dir)
    timings: dict[str, float] = {}
    skipped: list[str] = []
    for name in names:
        sql = CATALOG[name][1]
        if sql is None:
            skipped.append(name)
            continue
        con.execute(sql).fetchall()  # warm (page cache + catalog)
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            con.execute(sql).fetchall()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
    print(
        json.dumps(
            {
                "metric": "oracle_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "skipped": skipped,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
