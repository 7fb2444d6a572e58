"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_catchup --seed 1 --seconds 24 --trace 0

Run it from the repository root. It generates the workload's seeded
inputs under ``.bench_work/``, starts one Spark driver (local[nproc]),
warms it up on inputs made from another seed, runs the closed loop of
one client for as many passes as take about ``--seconds`` on a quiet
4-core host, checks the outputs, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. A wrong output
exits 1; a run that cannot start (no engine beside it) exits 2 before
printing any result. Each run also appends a stamped record to
``.bench_work/results/<workload>.jsonl`` and, when traced, writes its
spans beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def rss_bytes(pids: list[int], page: int) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the driver process tree (Python and JVM) and keeps the
    peak; the tree itself is re-read every tenth sample."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        n = 0
        while not self._halt.is_set():
            if n % 10 == 0:
                pids = process_tree(os.getpid())
            self.peak = max(self.peak, rss_bytes(pids, page))
            n += 1
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def git_stamp() -> dict:
    def git(*a: str) -> str | None:
        try:
            r = subprocess.run(
                ["git", *a], cwd=ROOT, capture_output=True, text=True, timeout=20
            )
        except (OSError, subprocess.TimeoutExpired):
            return None
        return r.stdout.strip() if r.returncode == 0 else None

    sha = git("rev-parse", "HEAD")
    dirty = git("status", "--porcelain") if sha else None
    return {"git_sha": sha, "git_dirty": bool(dirty) if sha else None}


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(a: list[int], b: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``/proc/stat`` samples: a loaded host shows here."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def configure_env(work: str, cores: int) -> None:
    """Driver settings fixed by the benchmark, applied before the JVM
    starts: local[cores] with one shuffle partition per core, a 2 GB
    heap instead of the engine's 8 GB default (the inputs need far less,
    and the cap bounds what a run can take from a host it shares), and
    every scratch file inside the run's work directory (no JVM perf-data
    file in /tmp).

    The heap is reserved but not touched at start, and the young
    generation is fixed at 512 MB: the collector then reuses the same
    young regions instead of resizing them with measured pause times,
    so the sampled RSS is that fixed young part plus what the engine
    keeps (old generation, off-heap, Python) and does not swing with GC
    timing from run to run."""
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": " ".join(
                [
                    "-XX:ReservedCodeCacheSize=512m",
                    "-Xms2g",
                    "-Xmn512m",
                    "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}",
                ]
            ),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
        }
    )
    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, HERE]
    try:
        import mbgspark  # noqa: F401
    except ImportError as e:
        print(f"the engine is not importable beside the benchmark: {e}", file=sys.stderr)
        return 2

    load_start = os.getloadavg()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores)

    from pyspark import SparkContext
    import pyspark

    from mbgspark.session import ensure_session_conf, get_spark
    from workloads import WORKLOADS

    jvm_proc = []

    def watchdog() -> None:
        print(f"run exceeded {DEADLINE_S} s; stopping", file=sys.stderr)
        for p in jvm_proc:
            p.kill()
            p.wait()
        os._exit(3)

    timer = threading.Timer(DEADLINE_S, watchdog)
    timer.daemon = True
    timer.start()

    def stop_jvm() -> None:
        """Stop the session and wait for the driver JVM to exit."""
        if not jvm_proc:
            return
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        SparkContext._gateway.shutdown()
        proc = jvm_proc[0]
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    wl = WORKLOADS[args.workload](work, args.seed)
    cpu_start = cpu_times()
    try:
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        sampler = RssSampler()
        sampler.start()
        t = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        ensure_session_conf(spark)
        session_s = time.perf_counter() - t
        jvm_proc.append(SparkContext._gateway.proc)
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        java = spark._jvm.System.getProperty("java.version")
        phases = {"session_s": session_s, **wl.setup()}
        if args.trace:
            outs, metrics, errors = traced_run(args, spark, wl, phases, cores, results)
            undeclared = set(metrics) - set(declared)
            if undeclared:
                raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {sorted(undeclared)}")
            metrics = {k: metrics.get(k, 0) for k in declared}
        else:
            out = wl.run(args.seconds)
            errors = wl.check()
            outs = [out]
            metrics = {
                "setup_s": sum(phases.values()),
                "items_per_s": out.items / out.wall,
            }
        peak_mb = sampler.stop()
        if not args.trace:
            metrics["peak_rss_mb"] = peak_mb
    finally:
        stop_jvm()
        timer.cancel()
        shutil.rmtree(work, ignore_errors=True)

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "cpu_steal_frac": steal_frac(cpu_start, cpu_times()),
        **git_stamp(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
    }
    result = {
        "correct": not errors,
        "attempted": sum(o.attempted for o in outs),
        "failed": sum(o.failed for o in outs),
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }
    samples = {"latencies": [x for o in outs for x in o.latencies], "peak_rss_mb": peak_mb}
    record = {"stamp": stamp, "gen_s": gen_s, "setup_phases": phases, "samples": samples,
              "errors": errors, **result}
    with open(os.path.join(results, f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"stamp": stamp, "samples": samples}))
    print(json.dumps(result))
    return 0 if not errors else 1


def traced_run(args, spark, wl, phases: dict, cores: int, results: str):
    """Half the run untraced, half traced, then the workload's probes.
    Returns both halves' outcomes, the per-layer metrics and
    the check errors; the spans go to ``results``."""
    import tracing as tr

    untraced = wl.run(args.seconds / 2)
    tracer = tr.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    first = tr.last_stage_id(spark)
    tracer.install()
    t = time.perf_counter()
    try:
        out = wl.run(args.seconds / 2, tracer)
    finally:
        tracer.uninstall()
    wall = time.perf_counter() - t
    layer = tr.exec_metrics(tr.stages(spark, after=first), wall, cores)
    errors = wl.check()
    probed, probe_errors = wl.probe(tracer, out)
    layer.update(probed)
    tracer.write(os.path.join(results, f"spans-{tracer.run_id}.jsonl"))
    ops = [untraced, out]
    layer.update(
        {
            "session.start_s": phases["session_s"],
            "session.warmup_s": phases["warmup_s"],
            "trace.op_p50_overhead_s": statistics.median(out.latencies)
            - statistics.median(untraced.latencies),
            "trace.items_per_s_overhead": untraced.items / untraced.wall - out.items / out.wall,
            "ops_failed_frac": sum(o.failed for o in ops) / max(sum(o.attempted for o in ops), 1),
        }
    )
    return ops, layer, errors + probe_errors


if __name__ == "__main__":
    sys.exit(main())
