"""Key-skew octave: plain vs salted vs AQE-skew on the q12/q18r shapes.

VERDICT r9 item 3: the `operators/skew.py` salted variants are
oracle-checked only at uniform key shapes; this octave builds a corpus
where ONE join/group key holds ~50% of all fact rows and measures which
physical strategy actually wins — so the pinned guidance ("when do I
reach for salted_join vs trusting AQE?") is measured, not argued.

Corpus: `orders` from a make_sf1 corpus (sf10 → 14.85M rows) rewritten
so every even row's o_custkey becomes one hot key (deterministic row
parity, not rand() — replays byte-identical). `customer` is untouched
(sf10 → 1.485M rows ≈ 150 MB: far above the 10 MB broadcast threshold,
exactly the "build side too big to broadcast" regime salting targets).

Join octave (q12 shape: orders ⋈ customer on custkey, full projected
output materialized to the noop sink):
  plain   — sort-merge join, AQE skew-split OFF (the naive 100 TB plan:
            the hot key's ~7.4M rows land on ONE task)
  aqe     — sort-merge join, AQE skew-split ON (session default)
  salted  — operators.skew.salted_join, buckets=16, skew-split OFF
  bcast   — broadcast(customer) hint (reference point: sidesteps the
            shuffle entirely while the build side still fits one
            executor; the regime boundary, not the general answer)

Count-distinct octave (q18r agg shape: distinct orders per custkey):
  plain   — F.countDistinct (Spark's Expand + two-stage partial agg)
  salted  — operators.skew.salted_count_distinct, buckets=16

Every strategy's result is checksummed (row count + sum of a value
column) and asserted identical before its time is reported.

Usage: python tools/key_skew_octave.py [src=/tmp/sf10] [runs=2]
Prints one JSON line with per-strategy best-of-N seconds + checksums.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mbgspark.operators.skew import salted_count_distinct, salted_join
from mbgspark.session import get_spark

HOT_KEY = 1  # an existing custkey in every make_sf1 corpus (copy 0)


def build_skewed_orders(src: str, dst: str) -> str:
    """Rewrite orders so even rows carry HOT_KEY (~50% of the table)."""
    out = f"{dst}/orders.parquet"
    if os.path.exists(out):
        return out
    os.makedirs(dst, exist_ok=True)
    tbl = pq.read_table(f"{src}/orders.parquet")
    n = tbl.num_rows
    mask = pa.array(np.arange(n) % 2 == 0)
    custkey = pc.if_else(mask, pa.scalar(HOT_KEY, pa.int64()), tbl["o_custkey"])
    tbl = tbl.set_column(tbl.schema.get_field_index("o_custkey"), "o_custkey", custkey)
    pq.write_table(tbl, out)
    return out


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    # always under /tmp — src may live in the read-only testdata tree
    skew_dir = "/tmp/" + os.path.basename(src.rstrip("/")) + "_skewkey"
    orders_path = build_skewed_orders(src, skew_dir)

    spark = get_spark("key_skew_octave")
    spark.sparkContext.setLogLevel("ERROR")

    def orders():
        return spark.read.parquet(orders_path)

    def customer():
        return spark.read.parquet(f"{src}/customer.parquet")

    # ---- join octave (q12 shape) -------------------------------------
    def join_builder(strategy: str):
        o = orders().withColumnRenamed("o_custkey", "custkey")
        c = customer().withColumnRenamed("c_custkey", "custkey")
        if strategy == "salted":
            j = salted_join(o, c, on="custkey", buckets=16)
        elif strategy == "bcast":
            j = o.join(F.broadcast(c), on="custkey")
        else:
            j = o.join(c, on="custkey")
        return j.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")

    def set_conf(broadcast: bool, skew: bool) -> None:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", "10m" if broadcast else "-1"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew).lower())

    def checksum_join(df):
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("o_orderkey", "c_name")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    results: dict[str, dict] = {"join": {}, "count_distinct": {}}
    join_strategies = [
        ("plain", dict(broadcast=False, skew=False)),
        ("aqe", dict(broadcast=False, skew=True)),
        ("salted", dict(broadcast=False, skew=False)),
        ("bcast", dict(broadcast=False, skew=False)),  # explicit hint, no auto
    ]
    join_sums: dict[str, tuple] = {}
    for name, conf in join_strategies:
        set_conf(**conf)
        # warm once (JIT/codegen) then best-of-N on the real data
        join_builder(name).limit(1).collect()
        best = min(
            _timed(lambda: join_builder(name).write.format("noop").mode("overwrite").save())
            for _ in range(runs)
        )
        join_sums[name] = checksum_join(join_builder(name))
        results["join"][name] = round(best, 3)
    set_conf(broadcast=True, skew=True)
    assert len(set(join_sums.values())) == 1, f"join checksums diverge: {join_sums}"

    # ---- count-distinct octave (q18r agg shape) ----------------------
    def cd_builder(strategy: str):
        o = orders()
        if strategy == "salted":
            out = salted_count_distinct(o, "o_custkey", "o_orderkey", buckets=16)
            return out.withColumnRenamed("distinct_o_orderkey", "n_orders")
        return o.groupBy("o_custkey").agg(
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders")
        )

    def checksum_cd(df):
        row = df.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("o_custkey", "n_orders")).alias("h")
        ).collect()[0]
        return (row["n"], row["h"])

    cd_sums: dict[str, tuple] = {}
    for name in ("plain", "salted"):
        cd_builder(name).limit(1).collect()
        best = min(
            _timed(lambda: cd_builder(name).write.format("noop").mode("overwrite").save())
            for _ in range(runs)
        )
        cd_sums[name] = checksum_cd(cd_builder(name))
        results["count_distinct"][name] = round(best, 3)
    assert len(set(cd_sums.values())) == 1, f"count-distinct checksums diverge: {cd_sums}"

    hot_rows = orders().filter(F.col("o_custkey") == HOT_KEY).count()
    total = orders().count()
    print(
        json.dumps(
            {
                "src": src,
                "orders_rows": total,
                "hot_key_rows": hot_rows,
                "hot_frac": round(hot_rows / total, 4),
                "results": results,
                "join_checksum": list(next(iter(join_sums.values()))),
                "cd_checksum": list(next(iter(cd_sums.values()))),
            }
        )
    )


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return time.time() - t0


if __name__ == "__main__":
    main()
