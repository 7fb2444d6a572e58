"""Every reach into Spark's JVM internals, in one place.

The engine is DataFrame-first and public-API-only with five deliberate
exceptions, all py4j / private-attribute probes that buy something the
public API cannot express. A PySpark major upgrade that renames any of
these private surfaces should fail the suite in ONE obvious module —
this one — instead of silently degrading three operators in three files
(VERDICT r7 item: the probe count was growing and scattered). Each seam
documents its failure direction; none can produce a wrong answer when it
breaks, only extra cost or a loud test failure.

Seams (pin tests co-located in ``tests/test_jvmseam.py``):

1. ``observation_delivered`` — ``Observation._jo.getRowOrEmpty()``.
   Distinguishes "metrics row arrived" from "observed node was folded
   away by AQE's empty-relation propagation" without blocking and
   without classifying exception prose. Failure direction: probe
   unavailable → caller recomputes the metrics aggregate directly
   (extra run of a one-row lineage, never a wrong value).
2. ``leaf_size_bytes`` — ``df._jdf.queryExecution().optimizedPlan()
   .collectLeaves()`` stats. Sums LEAF-relation sizeInBytes (parquet
   footer bytes, no job); leaf stats, not the root's, because Project
   stats scale strings by schema default widths (~30× under-report on
   text columns). Failure direction: ``None`` → ``io.ensure_width``'s
   byte floor assumes "big" and widens, costing at most one tiny exchange.
3. ``physical_plan_root`` / ``walk_plan`` / ``node_class`` /
   ``node_expressions`` / ``walk_expression`` — the pre-exchange
   physical plan tree via ``df._jdf.queryExecution().sparkPlan()``,
   plus each node's Catalyst expression trees (same TreeNode
   ``children`` Seq API). Read-only plan introspection for the
   catalog-wide lint (``tools/plan_lint.py``) and the plan-shape
   tests; the expression walk feeds the lambda-inlining and
   pair-recompute rules (r11). Failure direction: the lint errors
   loudly in pytest.
4. ``hadoop_fs`` / ``hadoop_path`` / ``fs_read_utf8`` / ``fs_write_utf8``
   — the session's Hadoop FileSystem via ``spark._jvm``. PySpark ships
   no public FS API; the streaming gate's sidecars, compaction
   manifests, and retention sweeps need exists/rename/delete and tiny
   UTF-8 sidecar reads/writes that travel with the store on any Hadoop-
   compatible FS (local, HDFS, S3A) instead of assuming ``os.path``.
   Failure direction: loud AttributeError at the call site.
5. ``app_shuffle_write_records`` / ``stage_census`` / ``last_stage_id``
   / ``retained_stages`` — the core ``AppStatusStore`` stage list via
   ``sc._jsc.sc().statusStore()``. Shuffle-write records (or any stage
   metric) of the stages after a stage-id marker, the per-BATCH work
   ledger for streaming soaks (``executed_plan_metrics`` covers plans
   the caller drives itself; a foreachBatch micro-batch's jobs are only
   visible here), and the stage count and task-active seconds of one
   timed catalog row (``tools/row_bench.py``). The store evicts its
   oldest stages first, so a unit of work stays exact as long as it runs
   fewer than ``spark.ui.retainedStages`` stages (default 1000). Failure
   direction: loud Py4JError in the soak, ``row_bench`` and the pin tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


# --------------------------------------------------------- 1. Observation ----
def observation_delivered(obs) -> bool | None:
    """Probe whether an ``Observation``'s metrics row actually arrived.

    Returns ``True`` when a real row with ≥1 field is waiting (decode it
    through the normal ``obs.get``), ``False`` when the JVM reports no
    row or Spark 4.1's schema-less zero-field ``Row.empty`` (the
    observed node was eliminated — e.g. AQE folded an empty side of a
    crossJoin — so the metrics never ran), and ``None`` when the private
    ``_jo`` handle is gone (PySpark renamed it; the pin test fails
    loudly, and callers fall back to direct evaluation).

    ``getRowOrEmpty`` is non-blocking beyond its internal ≤100 ms wait —
    call it only AFTER the caller's action on the observed plan has
    completed.
    """
    jo = getattr(obs, "_jo", None)
    if jo is None:
        return None
    jopt = jo.getRowOrEmpty()
    return (not jopt.isEmpty()) and jopt.get().size() > 0


# ---------------------------------------------------------- 2. leaf stats ----
def leaf_size_bytes(df: DataFrame) -> int | None:
    """Sum of the optimized plan's LEAF-relation ``sizeInBytes`` (for
    parquet scans: file bytes straight from the footer index — no job).
    Returns ``None`` if the probe fails on some future plan shape so the
    caller chooses its own safe direction (``io.ensure_width`` assumes big)."""
    try:
        size = 0
        it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
        while it.hasNext():
            size += int(str(it.next().stats().sizeInBytes()))
        return size
    except Exception:
        return None


# --------------------------------------------------- 3. physical plan walk ----
def physical_plan_root(df: DataFrame):
    """The pre-exchange physical plan (``sparkPlan`` — EnsureRequirements
    has not run, so broadcast/join build sides are still direct children,
    which is what the lint's fat-BNLJ anchor check relies on)."""
    return df._jdf.queryExecution().sparkPlan()


def walk_plan(node):
    """Depth-first generator over a JVM plan node and its children."""
    yield node
    cs = node.children()
    for i in range(cs.size()):
        yield from walk_plan(cs.apply(i))


def node_class(node) -> str:
    """Simple JVM class name of a plan node (e.g. ``SortMergeJoinExec``)."""
    return node.getClass().getSimpleName()


def executed_plan_metrics(df: DataFrame, keys: tuple[str, ...]) -> dict:
    """Drive ``df``'s OWN QueryExecution (``executedPlan().execute()
    .count()`` — a noop write would run a separate QueryExecution and
    leave every metric zero) and sum the named executed-plan SQLMetrics
    across the tree, walking into AQE query stages and scalar-subquery
    plans. Returns ``{key: summed value, "out_rows": n}``. The
    shuffle-bytes ledger (``tools/shuffle_ledger.py``) is the consumer;
    failure direction: loud AttributeError in the ledger run and its
    smoke test."""

    def _walk_exec(node):
        yield node
        c = node.getClass().getSimpleName()
        if c == "AdaptiveSparkPlanExec":
            yield from _walk_exec(node.executedPlan())
            return
        if "QueryStageExec" in c:
            yield from _walk_exec(node.plan())
            return
        subs = node.subqueries()
        for i in range(subs.size()):
            yield from _walk_exec(subs.apply(i))
        cs = node.children()
        for i in range(cs.size()):
            yield from _walk_exec(cs.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    rows = plan.execute().count()
    tot = {k: 0 for k in keys}
    for node in _walk_exec(plan):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            k = str(kv._1())
            if k in tot:
                tot[k] += kv._2().value()
    tot["out_rows"] = rows
    return tot


def node_expressions(node):
    """Generator over a plan node's top-level Catalyst expressions (the
    JVM ``SparkPlan.expressions`` Seq). Same read-only introspection
    contract as ``walk_plan``; used by the lambda-inlining lint rule."""
    exprs = node.expressions()
    for i in range(exprs.size()):
        yield exprs.apply(i)


def walk_expression(expr):
    """Depth-first generator over a Catalyst expression and its children
    (expressions share TreeNode's ``children`` Seq API with plan nodes)."""
    yield expr
    cs = expr.children()
    for i in range(cs.size()):
        yield from walk_expression(cs.apply(i))


# ------------------------------------------------------------ 4. Hadoop FS ----
def hadoop_path(spark: SparkSession, path: str):
    """A JVM ``org.apache.hadoop.fs.Path`` for ``path``."""
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` under the session's Hadoop
    configuration — exists/rename/delete that work on any Hadoop-
    compatible FS, not just the local one."""
    p = hadoop_path(spark, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def fs_read_utf8(spark: SparkSession, path: str) -> str | None:
    """Contents of a small UTF-8 sidecar file (meta/manifest JSON) via
    the Hadoop FS API, or ``None`` if absent. Small files only — the
    whole payload round-trips through one py4j string."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()


def fs_write_utf8(spark: SparkSession, path: str, data: str) -> None:
    """Overwrite ``path`` with ``data`` (UTF-8) via the Hadoop FS API."""
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()


# ----------------------------------------------- 5. app-level stage metrics ----
def app_shuffle_write_records(
    spark: SparkSession, after_stage: int = -1
) -> int:
    """``shuffleWriteRecords`` summed over the stages the core
    AppStatusStore retains whose id is above ``after_stage``. Callers take
    ``last_stage_id`` before a unit of work (e.g. one streaming
    micro-batch) and pass it here afterwards — the load-independent
    per-batch work ledger the soak tools attach to crash/replay evidence.
    Stage ids only grow and the store evicts the oldest stages first, so
    the marker keeps the sum exact even when stages from before it are
    evicted in between (a before/after diff of two app-wide sums is not).
    The listener bus is drained first, so every stage that already ran is
    counted without polling.

    Uses the full ``stageList(statuses, details, taskMetrics,
    quantiles, taskStatus)`` signature (the zero-arg Scala overloads are
    default-argument synthetics py4j cannot resolve). Retention caveat:
    the store keeps ``spark.ui.retainedStages`` stages (default 1000);
    the sum misses stages after the marker only once that many stages
    ran after it."""
    _drain_listener_bus(spark)
    return int(
        sum(s.shuffleWriteRecords() for s in retained_stages(spark, after_stage))
    )


def stage_census(spark: SparkSession, after_stage: int = -1) -> tuple[int, float]:
    """``(n_stages, stage_sec)`` of the unit of work after a
    ``last_stage_id`` marker: ``n_stages`` counts the retained stages above
    ``after_stage`` that ran tasks; ``stage_sec`` is the length of the
    union of their (firstTaskLaunchedTime, completionTime) intervals — the
    time tasks were actually running, each second counted once however
    many stages ran concurrently in it. A timed run's wall − stage_sec is
    its driver/AQE re-planning and scheduling gaps. Same marker and
    retention contract as ``app_shuffle_write_records``."""
    _drain_listener_bus(spark)
    intervals: list[tuple[float, float]] = []
    for st in retained_stages(spark, after_stage):
        t0, t1 = st.firstTaskLaunchedTime(), st.completionTime()
        if t0.isDefined() and t1.isDefined():
            intervals.append(
                (t0.get().getTime() / 1000.0, t1.get().getTime() / 1000.0)
            )
    return len(intervals), union_length(intervals)


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


def last_stage_id(spark: SparkSession) -> int:
    """Highest stage id the AppStatusStore holds, -1 when it holds none:
    the marker for ``app_shuffle_write_records``/``stage_census``/
    ``retained_stages``. The listener bus is drained first, so a stage that
    already ran cannot reach the store after the marker is taken and count
    as later work."""
    _drain_listener_bus(spark)
    return max((s.stageId() for s in retained_stages(spark)), default=-1)


def _drain_listener_bus(spark: SparkSession) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def retained_stages(spark: SparkSession, after_stage: int = -1):
    """Iterate the AppStatusStore's retained stage summaries (StageData)
    whose id is above ``after_stage``."""
    gw = spark.sparkContext._gateway
    jvm = gw.jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    it = stages.iterator()
    while it.hasNext():
        stage = it.next()
        if stage.stageId() > after_stage:
            yield stage
