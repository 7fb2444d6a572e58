"""Pin tests for mbgspark.jvmseam — the ONE module allowed to touch
Spark's JVM internals (``_jo``, ``_jdf``, ``_jvm``, ``_jsc``). A PySpark
upgrade that renames any of those private surfaces must fail HERE, loudly
and with a message naming the degradation, instead of silently changing
operator behavior in three different files (VERDICT r7: consolidate the
probes and co-locate their pins)."""

import os
import subprocess
import sys

from pyspark.sql import Observation
from pyspark.sql import functions as F

from mbgspark import jvmseam


# --------------------------------------------------------- 1. Observation ----
def test_observation_probe_seam_pinned(spark):
    """``observed_or_direct``'s fold-detection rests on the private
    ``Observation._jo`` handle and its ``getRowOrEmpty`` JVM method. If a
    PySpark upgrade renames either, the probe would SILENTLY degrade to
    always-recompute (an extra metrics-lineage run per read — cost, not
    wrongness). Pin the seam loudly: (a) the attributes exist with the
    assumed JVM surface; (b) on a delivered observation the probe says
    True; (c) a never-notified observation says False (callers evaluate
    directly instead of blocking)."""
    df = spark.range(10)
    obs = Observation("seam_pin")
    df.observe(obs, F.count(F.lit(1)).alias("n")).collect()

    jo = getattr(obs, "_jo", None)
    assert jo is not None, (
        "Observation._jo is gone: PySpark renamed the private JVM "
        "handle; update jvmseam.observation_delivered or the "
        "fold-fallback silently degrades to always-recompute"
    )
    jopt = jo.getRowOrEmpty()
    assert not jopt.isEmpty(), (
        "getRowOrEmpty returned an empty Option for a delivered "
        "observation; the probe's non-folded detection no longer holds"
    )
    assert jopt.get().size() == 1

    assert jvmseam.observation_delivered(obs) is True

    obs2 = Observation("seam_pin_unobserved")
    spark.range(5).observe(obs2, F.count(F.lit(1)).alias("n"))  # no action
    assert jvmseam.observation_delivered(obs2) is False


def test_observed_or_direct_routes_through_seam(spark):
    """The dedup caller's behavior contract over the seam: a delivered
    observation decodes through ``obs.get`` (proven with a decoy metrics
    frame whose direct evaluation would differ); an undelivered one
    resolves through the direct branch instead of blocking."""
    from mbgspark.operators import dedup as dd

    df = spark.range(10)
    obs = Observation("seam_route")
    df.observe(obs, F.count(F.lit(1)).alias("n")).collect()
    decoy = spark.range(1).select(F.lit(-999).cast("bigint").alias("n"))
    assert dd.observed_or_direct(obs, decoy) == {"n": 10}

    obs2 = Observation("seam_route_unobserved")
    spark.range(5).observe(obs2, F.count(F.lit(1)).alias("n"))  # no action
    assert dd.observed_or_direct(obs2, decoy) == {"n": -999}


# ---------------------------------------------------------- 2. leaf stats ----
def test_leaf_bytes_probe_is_live(spark):
    """``leaf_size_bytes`` must return the REAL parquet footer size, not
    ``None``: if a PySpark upgrade breaks the py4j probe, this fails
    loudly instead of the width gate silently widening every small
    input (see the seam docstring for the failure direction)."""
    path = "/root/testdata/sf0.001/documents.parquet"
    df = spark.read.parquet(path).select("doc_id", "text")
    probed = jvmseam.leaf_size_bytes(df)
    actual = os.path.getsize(path)
    assert probed is not None, (
        "leaf_size_bytes probe broke: collectLeaves/stats surface "
        "renamed — io.ensure_width's byte floor now always widens"
    )
    assert 0 < probed <= actual * 3  # footer-derived, same order as the file
    assert probed >= actual // 3


def test_leaf_bytes_sums_both_join_sides(spark):
    a = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    b = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    joined = a.join(b, a.o_custkey == b.c_custkey)
    total = jvmseam.leaf_size_bytes(joined)
    assert total >= jvmseam.leaf_size_bytes(a) + jvmseam.leaf_size_bytes(b) - 1


# --------------------------------------------------- 3. physical plan walk ----
def test_plan_walk_seam_pinned(spark):
    """The lint's plan introspection: ``sparkPlan`` reachable, children
    iterable, class names the Scala ones the rules match on. A rename
    here fails the catalog lint too (test_plan_lint_clean) — this pin
    localizes the diagnosis to the seam."""
    df = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    root = jvmseam.physical_plan_root(df)
    classes = [jvmseam.node_class(n) for n in jvmseam.walk_plan(root)]
    assert any("HashAggregate" in c for c in classes), classes
    # the PRE-exchange property itself: EnsureRequirements has not run,
    # so the partial→final agg pair has no Exchange between them yet and
    # a join's build side is still a direct child (the fat-BNLJ anchor
    # check depends on this). If an Exchange ever shows up here, the
    # lint's child-index assumptions are void.
    assert not any("Exchange" in c for c in classes), classes
    # ...while the post-EnsureRequirements plan DOES have one (under AQE
    # the executed plan is an AdaptiveSparkPlanExec leaf wrapper, so read
    # its string form, which prints the whole current plan)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in executed, executed
    # simpleString is what the lint's rangepartitioning/BuildRight/keys=[]
    # substring rules read
    assert isinstance(root.simpleString(200), str)


# ------------------------------------------------------------ 4. Hadoop FS ----
def test_hadoop_fs_seam_pinned(spark, tmp_path):
    """exists / mkdirs / rename / recursive delete — the exact FS verbs
    the streaming gate's sidecars, compaction manifests, and retention
    sweeps use."""
    fs, p = jvmseam.hadoop_fs(spark, str(tmp_path / "seam_dir"))
    assert not fs.exists(p)
    assert fs.mkdirs(p)
    assert fs.exists(p)
    q = jvmseam.hadoop_path(spark, str(tmp_path / "seam_dir2"))
    assert fs.rename(p, q)
    assert fs.exists(q) and not fs.exists(p)
    assert fs.delete(q, True)
    assert not fs.exists(q)


# ------------------------------------------------------------- exclusivity ----
def test_jvm_internals_confined_to_seam():
    """No module outside jvmseam (and the pin tests) may touch the
    private JVM surfaces. Grep-enforced so the next probe lands in the
    seam instead of re-scattering."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(jvmseam.__file__)))
    out = subprocess.run(
        [
            "grep",
            "-rln",
            "--include=*.py",  # a stray __pycache__ .pyc is not an offender
            "-e",
            r"_jdf",
            "-e",
            r"\._jo\b",
            "-e",
            r"_jvm",
            "-e",
            r"_jsc",
            os.path.join(pkg_root, "mbgspark"),
            os.path.join(pkg_root, "tools"),
        ],
        capture_output=True,
        text=True,
    )
    offenders = {
        os.path.relpath(line, pkg_root)
        for line in out.stdout.splitlines()
        if line.strip()
    }
    allowed = {"mbgspark/jvmseam.py"}
    assert offenders <= allowed, sorted(offenders - allowed)


def test_app_shuffle_records_seam_pinned(spark):
    """Seam 5: shuffle-write records via the core AppStatusStore. The
    stages after a ``last_stage_id`` marker, one job whose shuffle record
    count is deterministic (partial agg of k = id % 10 over 4 input
    partitions -> 4 x 10 partial rows), must sum to exactly 40 — however
    many older stages the store evicts meanwhile. A py4j rename of
    statusStore/stageList fails here loudly."""
    from pyspark.sql import functions as F

    marker = jvmseam.last_stage_id(spark)
    (
        spark.range(0, 1000, 1, 4)
        .withColumn("k", F.col("id") % 10)
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # stage completion posts to the status store asynchronously; the
    # seam drains the listener bus, so one read is exact
    delta = jvmseam.app_shuffle_write_records(spark, after_stage=marker)
    assert delta == 40, delta


def test_stage_census_seam_pinned(spark):
    """Seam 5's census on the same groupBy job: the partial and the final
    aggregate each run as a stage with tasks, and the union of their task
    intervals is positive and fits inside the job's wall time."""
    import time

    from pyspark.sql import functions as F

    marker = jvmseam.last_stage_id(spark)
    t0 = time.time()
    (
        spark.range(0, 1000, 1, 4)
        .withColumn("k", F.col("id") % 10)
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    wall = time.time() - t0
    n_stages, stage_sec = jvmseam.stage_census(spark, marker)
    assert n_stages >= 2, n_stages
    assert 0 < stage_sec <= wall, (stage_sec, wall)


def test_union_length_counts_overlap_once():
    """The census's stage time is the union of the stages' active
    intervals, so concurrent stages are counted once."""
    from mbgspark.jvmseam import union_length

    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (2.0, 4.0)]) == 3.0  # disjoint: sum
    assert union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0  # overlapping
    assert union_length([(0.0, 5.0), (1.0, 2.0)]) == 5.0  # nested
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0  # touching
    assert union_length([(4.0, 6.0), (0.0, 1.0), (0.5, 2.0)]) == 4.0  # unsorted
