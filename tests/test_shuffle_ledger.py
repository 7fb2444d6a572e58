"""Smoke pin for tools/shuffle_ledger.py — the load-independent
regression instrument (SCALE.md r11). Guards the jvmseam-style metric
walk against PySpark renames and pins the two properties the protocol
relies on: records are exactly reproducible, and the bench-SF suite
never spills."""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_ledger_deterministic_and_spill_free(spark):
    from shuffle_ledger import KEYS, ledger_for

    from mbgspark.plans.catalog import CATALOG

    sf = "/root/testdata/sf0.001"
    a = ledger_for(CATALOG["q12"][0](spark, sf))
    b = ledger_for(CATALOG["q12"][0](spark, sf))
    for k in KEYS:
        assert k in a
    # a join+projection MUST shuffle something, exactly the same twice
    assert a["shuffleRecordsWritten"] > 0
    assert a["shuffleRecordsWritten"] == b["shuffleRecordsWritten"]
    # bytes are compression-framed: task packing can shift them a few
    # dozen bytes between in-session reruns (observed 21 B on 33 kB);
    # RECORDS are the exact regression key, bytes the ~1% sanity band
    assert abs(a["shuffleBytesWritten"] - b["shuffleBytesWritten"]) <= max(
        64, a["shuffleBytesWritten"] // 100
    )
    assert a["spillSize"] == 0
    assert a["out_rows"] == b["out_rows"] > 0

    # a pure scan→projection row shuffles NOTHING (the q1 shape)
    z = ledger_for(CATALOG["q1"][0](spark, sf))
    assert z["shuffleRecordsWritten"] == 0 and z["spillSize"] == 0


def test_ledger_diff_of_back_to_back_runs_is_empty(spark):
    """The adjudication contract (VERDICT r11 item 2): two back-to-back
    ledger runs of the same plans on the same data diff EMPTY — so any
    non-empty diff against the committed ledger of record is a real plan
    change, never noise. Also pins the failure direction: a doctored row
    (records bumped, spill injected) must be reported."""
    from ledger_diff import diff_ledgers
    from shuffle_ledger import ledger_for

    from mbgspark.plans.catalog import CATALOG

    sf = "/root/testdata/sf0.001"
    names = ["q12", "q14", "dedup_exact", "locate_full_dim"]
    run_a = {n: {"query": n, **ledger_for(CATALOG[n][0](spark, sf))} for n in names}
    run_b = {n: {"query": n, **ledger_for(CATALOG[n][0](spark, sf))} for n in names}
    failures, _warnings = diff_ledgers(run_a, run_b)
    assert failures == [], failures

    doctored = {n: dict(r) for n, r in run_b.items()}
    doctored["q12"]["shuffleRecordsWritten"] += 1
    doctored["q14"]["spillSize"] = 4096
    failures, _ = diff_ledgers(run_a, doctored)
    assert any("q12: records" in f for f in failures), failures
    assert any("q14: SPILLS" in f for f in failures), failures
    # a missing row is a failure too (headline-set drift)
    del doctored["dedup_exact"]
    failures, _ = diff_ledgers(run_a, doctored)
    assert any("only in OLD" in f for f in failures), failures

    # --subset adjudicates a TARGETED re-run (VERDICT r12 #7): NEW
    # covering only part of OLD is the documented workflow, reported as
    # a warning; per-row movement still fails; a row only in NEW (no
    # baseline) still fails
    partial = {n: dict(run_b[n]) for n in ["q12", "q14"]}
    failures, warnings = diff_ledgers(run_a, partial, subset=True)
    assert failures == [], failures
    assert any("not re-run" in w for w in warnings), warnings
    partial["q12"]["shuffleRecordsWritten"] += 1
    failures, _ = diff_ledgers(run_a, partial, subset=True)
    assert any("q12: records" in f for f in failures), failures
    extra = {**partial, "brand_new": dict(run_b["q14"], query="brand_new")}
    failures, _ = diff_ledgers(run_a, extra, subset=True)
    assert any("only in NEW" in f for f in failures), failures


def test_ledger_diff_summary_counts_rows_not_groups():
    """VERDICT r13 #3: the summary must count ROWS per category, not
    failure-string groups — a 3-row additive group is '3 row(s) only in
    NEW', never '1 row(s) moved' — and additive rows are reported
    distinctly from record movement (HEADLINE-growth adjudication
    language). Pure-dict fixture; no Spark session needed."""
    from ledger_diff import diff_ledgers, summary_line

    def row(name, records=100, bytes_=1000, spill=0, out=5):
        return {
            "query": name,
            "shuffleRecordsWritten": records,
            "shuffleBytesWritten": bytes_,
            "spillSize": spill,
            "out_rows": out,
        }

    old = {n: row(n) for n in ["a", "b", "c"]}

    # 3 additive rows + 1 moved row + 1 spilling row, all at once
    new = {n: row(n) for n in ["a", "b", "c", "x", "y", "z"]}
    new["a"]["shuffleRecordsWritten"] += 7
    new["b"]["spillSize"] = 4096
    res = diff_ledgers(old, new)
    assert res.moved_rows == ["a"]
    assert res.spilled_rows == ["b"]
    assert res.only_new == ["x", "y", "z"]
    line = summary_line(res, len(new))
    assert "1 row(s) moved" in line, line
    assert "1 row(s) spilling" in line, line
    assert "3 row(s) only in NEW" in line, line
    assert "HEADLINE growth" in line, line

    # pure HEADLINE growth: no 'moved' language at all in the summary
    grown = {n: row(n) for n in ["a", "b", "c", "d", "e"]}
    res = diff_ledgers(old, grown)
    assert res.moved_rows == [] and res.only_new == ["d", "e"]
    line = summary_line(res, len(grown))
    assert "moved" not in line, line
    assert "2 row(s) only in NEW" in line, line

    # clean diff still reads as the legacy load-adjudication line and
    # still unpacks as the legacy 2-tuple
    failures, warnings = diff_ledgers(old, {n: row(n) for n in old})
    assert failures == [] and warnings == []
    res = diff_ledgers(old, {n: row(n) for n in old})
    assert "records identical" in summary_line(res, 3)

    # missing rows (set drift, non-subset) count rows too
    res = diff_ledgers(old, {"a": row("a")})
    line = summary_line(res, 1)
    assert "2 row(s) only in OLD" in line, line


def test_ledger_diff_capture_mode_peak_adjudication():
    """r15 (VERDICT r14 item 5): the 26 MB -> 1.29 GB dup_components
    peakMemory move was the r14 switch to isolated/AQE-off capture for
    ISOLATE rows — task-count scaling of fixed per-task reservations,
    not a plan change. Rows now carry their capture mode; the diff must
    (a) say cross-mode peaks are not comparable instead of staying
    silent, (b) flag a >2x same-mode peak move as context, and (c) stay
    quiet on same-mode in-band peaks. Pure-dict fixture."""
    from ledger_diff import diff_ledgers

    def row(name, peak, capture=None):
        r = {
            "query": name,
            "shuffleRecordsWritten": 100,
            "shuffleBytesWritten": 1000,
            "spillSize": 0,
            "out_rows": 5,
            "peakMemory": peak,
        }
        if capture:
            r["capture"] = capture
        return r

    # (a) cross-mode: adjudicated as not-comparable, no phantom movement
    old = {"dc": row("dc", 26_017_744, "shared-aqe")}
    new = {"dc": row("dc", 1_294_726_784, "isolated-static")}
    failures, warnings = diff_ledgers(old, new)
    assert failures == [], failures
    assert any("not comparable across modes" in w for w in warnings), warnings

    # (b) same-mode 50x peak move: context warning
    new_same = {"dc": row("dc", 1_294_726_784, "shared-aqe")}
    failures, warnings = diff_ledgers(old, new_same)
    assert failures == [], failures
    assert any("peakMemory" in w for w in warnings), warnings

    # (c) same-mode, in-band: silent
    new_flat = {"dc": row("dc", 27_000_000, "shared-aqe")}
    failures, warnings = diff_ledgers(old, new_flat)
    assert failures == [] and warnings == [], (failures, warnings)
