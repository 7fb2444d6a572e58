"""As-of join semantics: at-or-before matching, exact-timestamp ties match,
no-prior-row yields null, and keys never cross."""

import datetime as dt

from mbgspark.operators.asof import as_of_join

T = dt.datetime


def test_asof_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, 10, T(2025, 1, 1, 12, 0, 0)),   # after r2 → matches r2
            (2, 10, T(2025, 1, 1, 10, 0, 0)),   # exact tie with r1 → matches r1
            (3, 10, T(2025, 1, 1, 9, 0, 0)),    # before all → null
            (4, 20, T(2025, 1, 1, 12, 0, 0)),   # other key, no rights → null
        ],
        "event_id int, user_id int, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, T(2025, 1, 1, 10, 0, 0), 100.0),  # r1
            (10, T(2025, 1, 1, 11, 0, 0), 200.0),  # r2
        ],
        "user_id int, ts timestamp, price double",
    )
    out = {
        r["event_id"]: r["asof_price"]
        for r in as_of_join(left, right, "user_id", "ts", "ts", ["price"]).collect()
    }
    assert out == {1: 200.0, 2: 100.0, 3: None, 4: None}


def test_scd2_apply_semantics_and_idempotence(spark):
    """Changed keys close+reopen, unchanged-attr updates are no-ops,
    new keys insert, history passes through — and replaying the SAME
    batch leaves the dimension identical (idempotence)."""
    from pyspark.sql import functions as F  # noqa: F401

    from mbgspark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [
            (1, "A", "2020-01-01", None),
            (1, "Z", "2019-01-01", "2020-01-01"),  # history row
            (2, "B", "2020-01-01", None),
            (3, "C", "2020-01-01", None),
        ],
        "k bigint, seg string, valid_from string, valid_to string",
    )
    updates = spark.createDataFrame(
        [
            (1, "A2", "2021-06-01"),  # changed
            (2, "B", "2021-06-01"),   # same attrs: no-op
            (9, "NEW", "2021-06-01"), # new key
        ],
        "k bigint, seg string, eff string",
    )
    out = scd2_apply(dim, updates, "k", ["seg"], "eff")
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(
        [
            (1, "Z", "2019-01-01", "2020-01-01"),
            (1, "A", "2020-01-01", "2021-06-01"),
            (1, "A2", "2021-06-01", None),
            (2, "B", "2020-01-01", None),
            (3, "C", "2020-01-01", None),
            (9, "NEW", "2021-06-01", None),
        ]
    )
    replay = scd2_apply(out, updates, "k", ["seg"], "eff")
    assert sorted(map(tuple, replay.collect())) == rows


def test_cogrouped_asof_handles_null_timestamps(spark):
    """NULL-timestamp left rows get null asof values, and a null-timestamp
    right row never leaks its value into them (under asc-nulls-first
    ordering it would sort ahead of every left row of its key). The name
    is kept from the deleted cogrouped-pandas twin; the rows below are
    the ones that twin was pinned to."""
    left = spark.createDataFrame(
        [(1, 100, 10), (1, None, 11), (2, 50, 20)],
        "user_id bigint, ts bigint, event_id bigint",
    )
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, None, 9.9), (2, 60, 2.0)],
        "user_id bigint, vts bigint, vval double",
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["asof_vval"])
        for r in as_of_join(left, right, "user_id", "ts", "vts", ["vval"]).collect()
    )
    assert got == [(1, 10, 1.0), (1, 11, None), (2, 20, None)]


def test_scd2_rejects_late_arriving_updates(spark):
    """An update effective before the current version's valid_from would
    invert the validity interval — scd2_apply raises instead."""
    import pytest

    from mbgspark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "A", "2021-01-01", None)],
        "k bigint, seg string, valid_from string, valid_to string",
    )
    late = spark.createDataFrame(
        [(1, "B", "2020-06-01")], "k bigint, seg string, eff string"
    )
    with pytest.raises(ValueError, match="late-arriving"):
        scd2_apply(dim, late, "k", ["seg"], "eff")


def test_cogrouped_asof_same_name_timestamps(spark):
    """Left and right timestamp columns sharing a name (the common
    layout) join at-or-before like distinct names do. The name is kept
    from the deleted cogrouped-pandas twin; the rows below are the ones
    that twin was pinned to."""
    left = spark.createDataFrame(
        [(1, 100, 10), (1, 80, 11), (2, 50, 20)],
        "user_id bigint, ts bigint, event_id bigint",
    )
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 100, 2.0), (2, 60, 3.0)],
        "user_id bigint, ts bigint, vval double",
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["asof_vval"])
        for r in as_of_join(left, right, "user_id", "ts", "ts", ["vval"]).collect()
    )
    assert got == [(1, 10, 2.0), (1, 11, None), (2, 20, None)]


def test_cogrouped_asof_rejects_right_ts_in_right_vals(spark):
    """right_vals may carry the right timestamp column itself: the join
    returns it as ``asof_ts``. (The deleted cogrouped-pandas twin had to
    reject this request, hence the name.)"""
    left = spark.createDataFrame(
        [(1, 100, 10)], "user_id bigint, lts bigint, event_id bigint"
    )
    right = spark.createDataFrame([(1, 90)], "user_id bigint, ts bigint")
    got = as_of_join(left, right, "user_id", "lts", "ts", ["ts"]).collect()
    assert got[0]["asof_ts"] == 90

