"""As-of (point-in-time) join — an operator Spark lacks natively, built as a
composition of DataFrame ops (one window pass, no pandas round trip).

For each left row, find the right row with the greatest ``right_ts`` ≤
``left_ts`` within the same key — the standard time-series enrichment join
(trades→quotes, clicks→views). The distributed formulation is NOT a range
theta-join (quadratic) but union + per-key sort + carry-forward:

    tag sides → unionByName → window last(value, ignorenulls=True)
    over (partition by key order by ts, side rows unbounded preceding)
    → keep left rows

One shuffle + sort per key partition — the same cost as any keyed window,
linear in |left| + |right|, skew-handled by AQE like any other shuffle. At
equal timestamps the right row sorts FIRST (side 0 < 1), giving "at or
before" semantics — identical to DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts``,
which the oracle uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
) -> DataFrame:
    """Left as-of join: every left row, enriched with ``right_vals`` from
    the most recent right row at-or-before its timestamp (nulls when no
    prior right row exists)."""
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    for v in right_vals:
        l_tagged = l_tagged.withColumn(f"__r_{v}", F.lit(None).cast(right.schema[v].dataType))
    # a null-timestamp right row can never be "the most recent at-or-
    # before" anything, but under asc-nulls-first ordering it would sort
    # ahead of EVERYTHING in the window and leak its values into
    # null-timestamp left rows — exclude it (pinned by
    # tests/test_asof.py::test_cogrouped_asof_handles_null_timestamps)
    r_tagged = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in right_vals],
    )
    l_cols = [c for c in l_tagged.columns if c in left.columns or c in ("__ts", "__side") or c.startswith("__r_")]
    unioned = l_tagged.select(*l_cols).unionByName(r_tagged, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"__r_{v}"), ignorenulls=True).over(w).alias(f"__asof_{v}")
            for v in right_vals
        ],
    )
    out = carried.filter(F.col("__side") == 1)
    for v in right_vals:
        out = out.withColumn(f"asof_{v}", F.col(f"__asof_{v}"))
    drop = ["__ts", "__side"] + [f"__r_{v}" for v in right_vals] + [f"__asof_{v}" for v in right_vals]
    return out.drop(*drop)

