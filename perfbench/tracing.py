"""Spans and execution statistics for the traced benchmark run.

Spans are recorded from outside the engine: ``Tracer.install`` replaces
module attributes that the engine resolves at call time (for example
``mbgspark.pipeline.apply_cleaning``, which ``run_etl`` looks up as a
module global) with timing wrappers, and ``uninstall`` puts the originals
back. Nothing under ``mbgspark/`` is edited.

Execution statistics come from Spark's status store: the stages that
completed between two snapshots, which in a process with one client
thread are the stages of the work done in between.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from contextlib import contextmanager

# (module, attribute) pairs wrapped in a traced run; each span is named
# "<module tail>.<attribute>"
TRACED = [
    ("mbgspark.pipeline", "run_etl"),
    ("mbgspark.pipeline", "apply_cleaning"),
    ("mbgspark.pipeline", "label_sentiment"),
    ("mbgspark.pipeline", "detect_locations"),
    ("mbgspark.streaming", "start_etl_lifecycle_sink"),
    ("mbgspark.streaming", "merge_by_key"),
    ("mbgspark.streaming", "write_partitioned"),
    ("mbgspark.operators.dedup", "minhash_near_dups"),
    ("mbgspark.operators.dedup", "minhash_signature"),
    ("mbgspark.operators.dedup", "lsh_candidate_pairs"),
    ("mbgspark.operators.dedup", "jaccard_verify_arrays"),
    ("mbgspark.operators.dedup", "minhash_near_dups_incremental"),
    ("mbgspark.operators.components", "connected_components"),
    ("mbgspark.operators.components", "canonical_by_component"),
]


class Tracer:
    """In-memory span recorder. A span opened on a thread with no open
    span (a foreachBatch callback runs on a py4j callback thread) takes
    the innermost span open on the main thread as its parent, because the
    main thread is blocked in that span waiting for the stream."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.get_ident()
        self._t0 = time.perf_counter()
        self._saved: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter() - self._t0
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(
                {
                    "run": self.run_id,
                    "id": sid,
                    "parent": parent,
                    "name": name,
                    "start": start,
                    "end": time.perf_counter() - self._t0,
                }
            )

    def install(self) -> None:
        for mod_name, attr in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            name = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        while self._saved:
            mod, attr, orig = self._saved.pop()
            setattr(mod, attr, orig)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        """Self time of each span, by id: its duration minus the part of
        its interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[int, float] = {}
        for s in self.spans:
            clipped = [
                (max(a, s["start"]), min(b, s["end"]))
                for a, b in children.get(s["id"], [])
            ]
            covered = union_length([iv for iv in clipped if iv[1] > iv[0]])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        own = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps({**s, "self": own[s["id"]]}) + "\n")


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


# ------------------------------------------------------ status store ----


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def last_stage_id(spark) -> int:
    return max((s["id"] for s in stages(spark, summaries=False)), default=-1)


def stages(spark, summaries: bool = True, after: int = -1) -> list[dict]:
    """Retained stages with id > ``after`` as plain dicts. With
    ``summaries`` each carries its median and max task run time."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    quantiles = gw.new_array(jvm.double, 2 if summaries else 0)
    if summaries:
        quantiles[0], quantiles[1] = 0.5, 1.0
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.stageList(
        jvm.java.util.ArrayList(), False, summaries, quantiles, jvm.java.util.ArrayList()
    ).iterator()
    out = []
    while it.hasNext():
        st = it.next()
        sid = int(st.stageId())
        if sid <= after:
            continue
        row = {
            "id": sid,
            "status": str(st.status().toString()),
            "tasks": int(st.numCompleteTasks()),
            "failed_tasks": int(st.numFailedTasks()),
            "run_ms": int(st.executorRunTime()),
            "gc_ms": int(st.jvmGcTime()),
            "shuffle_write_bytes": int(st.shuffleWriteBytes()),
            "shuffle_write_records": int(st.shuffleWriteRecords()),
            "spill_bytes": int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
            "start_ms": _opt_ms(st.firstTaskLaunchedTime()),
            "end_ms": _opt_ms(st.completionTime()),
            "task_p50_ms": None,
            "task_max_ms": None,
        }
        dist = st.taskMetricsDistributions()
        if summaries and dist.isDefined():
            rt = dist.get().executorRunTime()
            row["task_p50_ms"], row["task_max_ms"] = float(rt.apply(0)), float(rt.apply(1))
        out.append(row)
    return out


def exec_metrics(rows: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """The ``exec.*`` per-layer metrics over a set of stages."""
    done = [r for r in rows if r["status"] == "COMPLETE"]
    task_s = sum(r["run_ms"] for r in done) / 1000.0
    active = union_length(
        [
            (r["start_ms"] / 1000.0, r["end_ms"] / 1000.0)
            for r in done
            if r["start_ms"] is not None and r["end_ms"] is not None
        ]
    )
    skews = [
        r["task_max_ms"] / r["task_p50_ms"]
        for r in done
        if r["tasks"] > 1 and r["task_p50_ms"]
    ]
    return {
        "exec.stages": len(done),
        "exec.tasks": sum(r["tasks"] for r in done),
        "exec.task_s": task_s,
        "exec.core_busy_frac": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "exec.stage_active_s": active,
        "exec.sched_gap_s": max(0.0, wall_s - active),
        "exec.gc_s": sum(r["gc_ms"] for r in done) / 1000.0,
        "exec.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in done),
        "exec.shuffle_records": sum(r["shuffle_write_records"] for r in done),
        "exec.spill_bytes": sum(r["spill_bytes"] for r in done),
        "exec.task_skew": max(skews, default=1.0),
        "exec.failed_tasks": sum(r["failed_tasks"] for r in rows),
    }
