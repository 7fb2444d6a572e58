"""The benchmark workloads, each driven through the engine's public
functions only.

Every workload has the same shape, which ``run.py`` drives:

- ``generate()`` writes the seeded inputs (not timed, not part of set-up);
- ``setup()`` warms the session on inputs made from another seed;
  returns its phase times;
- ``run(seconds, tracer)`` is the closed loop of one client: a fixed
  number of whole passes (a catch-up, a curation pass) that last about
  ``seconds`` on a 4-core host (see ``Workload.passes``); returns one
  latency per operation, the items processed and the failures;
- ``check()`` compares the outputs with what the generator planted or
  with an independent computation; returns a list of mismatches;
- ``probe()`` (traced run only) measures what span wrappers cannot see:
  the execution time of layers Spark fuses into one stage, found by
  timing successively longer prefixes of the same lineage; returns the
  per-layer metrics and any further check errors.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

import gen
from mbgspark import io, jvmseam, locations, pipeline, streaming
from mbgspark.operators import analytics, components, dedup
from mbgspark.schema import TWEET_RAW_SCHEMA

# added to the run's seed for the warm-up slice, so warm-up never sees
# the measured inputs
WARM_SEED_OFFSET = 1_000_003
ISO_MS = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def best_noop_s(df, reps: int = 3) -> float:
    return min(noop_s(df) for _ in range(reps))


def files_per_partition(store: str) -> dict[str, int]:
    return {
        d: sum(1 for f in os.listdir(os.path.join(store, d)) if f.endswith(".parquet"))
        for d in os.listdir(store)
        if d.startswith("event_date=")
    }


class Outcome:
    """What a timed loop returns: per-operation latencies, items done,
    operations attempted and failed, the loop's busy wall time, and
    latency samples per operation name."""

    def __init__(self):
        self.latencies: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0
        self.samples: dict[str, list] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"operation failed: {what}", file=sys.stderr)
        traceback.print_exc()

    @contextmanager
    def op(self, name: str, tracer=None):
        """One operation: counted as attempted, recorded as a span when
        tracing, timed into ``latencies`` and ``samples[name]``; an
        exception counts it as failed and propagates."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(name) if tracer else nullcontext():
                yield
        except Exception:
            self.fail(name)
            raise
        lat = time.perf_counter() - t
        self.latencies.append(lat)
        self.samples.setdefault(name, []).append(lat)


class Workload:
    """Inputs are generated before the session starts; ``spark`` is set
    once it has."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def passes(self, seconds: float) -> int:
        """How many passes a run of ``seconds`` measures. The count follows
        from ``seconds`` alone, not from how fast the passes go, so every
        run at one setting does the same work: a loop that stopped on the
        clock would run fewer passes on a loaded host, and weigh its first,
        slowest pass more. ``PASS_S`` is the seconds a warm pass takes on
        a quiet 4-core host."""
        return max(1, round(seconds / self.PASS_S))


# ---------------------------------------------------------------- ETL ----


class EtlCatchup(Workload):
    """Closed loop: a lifecycle sink takes the next day file as soon as the
    previous micro-batch commits; each catch-up lands all day files into an
    empty store."""

    DAYS = 4
    PER_DAY = 2500
    PASS_S = 8.0

    def generate(self) -> None:
        self.src = self.path("days")
        self.warm_src = self.path("warm_days")
        self.expect = gen.write_etl_days(self.src, self.seed, self.DAYS, self.PER_DAY)
        gen.write_etl_days(self.warm_src, self.seed + WARM_SEED_OFFSET, 3, 500)
        self.dim = locations.build_full_locations_dim()

    def _catchup(self, src: str, tag: str):
        base = self.path(tag)
        shutil.rmtree(base, ignore_errors=True)
        t = time.perf_counter()
        q = streaming.start_etl_lifecycle_sink(
            self.spark,
            src,
            os.path.join(base, "store"),
            os.path.join(base, "ck"),
            dim=self.dim,
            available_now=True,
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, q.recentProgress, os.path.join(base, "store")

    def setup(self) -> dict:
        t = time.perf_counter()
        self._catchup(self.warm_src, "warm")
        return {"warmup_s": time.perf_counter() - t}

    def run(self, seconds: float, tracer=None) -> Outcome:
        out = Outcome()
        out.samples["progress"] = []
        for _ in range(self.passes(seconds)):
            t = time.perf_counter()
            try:
                with tracer.span("etl.catchup") if tracer else nullcontext():
                    wall, progress, store = self._catchup(self.src, "run")
            except Exception:
                # the failed micro-batch is the one operation lost
                out.wall += time.perf_counter() - t
                out.attempted += 1
                out.fail("etl catch-up")
                continue
            out.wall += wall
            self.store = store
            # rows committed: every delivered row of every day file (the
            # progress numInputRows counts each action on a batch again)
            out.items += self.expect["rows_delivered"]
            for p in progress:
                out.attempted += 1
                out.latencies.append(p["durationMs"]["triggerExecution"] / 1000.0)
                out.samples["progress"].append(dict(p["durationMs"]))
        return out

    def check(self) -> list[str]:
        e = self.expect
        store = self.spark.read.parquet(self.store)
        row = store.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_distinct("_id").alias("ids"),
            F.sum(F.when(pipeline.unprocessed_predicate(), 1).otherwise(0)).alias("unprocessed"),
            F.sum(F.when(F.col("city").isNotNull(), 1).otherwise(0)).alias("located"),
            *[
                F.sum(F.when(F.col("sentiment_label") == lab, 1).otherwise(0)).alias(lab)
                for lab in e["labels"]
            ],
        ).first()
        errors = []
        if row["rows"] != e["ids"] or row["ids"] != e["ids"]:
            errors.append(f"etl: {row['rows']} rows / {row['ids']} ids, expected {e['ids']}")
        if row["unprocessed"]:
            errors.append(f"etl: {row['unprocessed']} rows match unprocessed_predicate")
        if row["located"] != e["located"]:
            errors.append(f"etl: {row['located']} located rows, planted {e['located']}")
        for lab, n in e["labels"].items():
            if row[lab] != n:
                errors.append(f"etl: {row[lab]} {lab} labels, planted {n}")
        latest = e["latest_scrape"]
        got = {
            r[0]: r[1]
            for r in store.filter(F.col("_id").isin(list(latest)))
            .select("_id", F.date_format("scraped_at", ISO_MS))
            .collect()
        }
        stale = [k for k, v in latest.items() if got.get(k) != v]
        if stale:
            errors.append(f"etl: {len(stale)} re-delivered ids lack their latest scraped_at")
        self.hit_rate = row["located"] / max(row["rows"], 1)
        return errors

    def probe(self, tracer, traced: Outcome) -> tuple[dict, list[str]]:
        spark = self.spark
        last = os.path.join(self.src, sorted(os.listdir(self.src))[-1])
        raw = spark.read.schema(TWEET_RAW_SCHEMA).json(last)
        cleaned = pipeline.apply_cleaning(raw)
        labeled = pipeline.label_sentiment(cleaned)
        dated = labeled.withColumn("event_date", F.date_format("created_at", "yyyy-MM-dd"))
        full = pipeline.detect_locations(dated, self.dim)
        t_raw, t_clean, t_label, t_dated, t_full = (
            best_noop_s(df) for df in (raw, cleaned, labeled, dated, full)
        )
        existing = spark.read.parquet(self.store)
        touched = [r[0] for r in full.select("event_date").distinct().collect()]
        merged = io.merge_by_key(
            existing, full, key="_id", order_col="scraped_at", partition_col="event_date"
        )
        t_merge = best_noop_s(merged)
        files_read = jvmseam.executed_plan_metrics(merged, ("numFiles",))["numFiles"]
        existing_rows = existing.filter(F.col("event_date").isin(touched)).count()
        dash, errors = self._dashboard_probe()
        # rewriting the last day's partitions with the same merged rows
        # leaves the store's content unchanged
        t = time.perf_counter()
        io.write_partitioned(merged, self.store, "event_date")
        t_write = time.perf_counter() - t
        per_part = files_per_partition(self.store)
        progress = traced.samples["progress"]

        def dur(key: str) -> float:
            return statistics.median(p.get(key, 0) for p in progress) if progress else 0.0

        return {
            **dash,
            "streaming.batches": len(progress),
            "streaming.add_batch_ms_p50": dur("addBatch"),
            "streaming.query_planning_ms_p50": dur("queryPlanning"),
            "streaming.get_batch_ms_p50": dur("getBatch"),
            "streaming.latest_offset_ms_p50": dur("latestOffset"),
            "streaming.wal_commit_ms_p50": dur("walCommit"),
            "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
            "pipeline.plan_s": statistics.median(tracer.durations("pipeline.run_etl")),
            "functions.cleaning.exec_s": t_clean - t_raw,
            "functions.lexicon.exec_s": t_label - t_clean,
            "locations.exec_s": t_full - t_dated,
            "locations.hit_rate": self.hit_rate,
            "io.merge.plan_s": statistics.median(tracer.durations("streaming.merge_by_key")),
            "io.merge.exec_s": t_merge - t_full,
            "io.merge.partitions_touched": len(touched),
            "io.merge.existing_rows_read": existing_rows,
            "io.write.exec_s": t_write - t_merge,
            "io.write.files": sum(per_part[f"event_date={d}"] for d in touched),
            "io.store.files_per_partition_max": max(per_part.values()),
            "io.merge.files_read": files_read,
        }, errors

    def _dashboard_probe(self) -> tuple[dict, list[str]]:
        """The dashboard's read side over the store the catch-up wrote: each
        query type built fresh over the whole date range and collected
        three times, its first result checked against DuckDB."""
        a, b = self.expect["first_day"], self.expect["last_day"]

        def window():
            return self.spark.read.parquet(self.store).filter(
                F.col("event_date").between(F.lit(a).cast("date"), F.lit(b).cast("date"))
            )

        plan_s, latency, files, first = [], {}, [], {}
        for qtype, (build, _sql) in QUERIES.items():
            for _ in range(3):
                t0 = time.perf_counter()
                src = window()
                t1 = time.perf_counter()
                df = build(src)
                plan_s.append(time.perf_counter() - t1)
                rows = df.collect()
                latency.setdefault(qtype, []).append(time.perf_counter() - t0)
            first[qtype] = [tuple(r) for r in rows]
            files.append(
                jvmseam.executed_plan_metrics(build(window()), ("numFiles",))["numFiles"]
            )
        med = {k: statistics.median(v) for k, v in latency.items()}
        return {
            "io.scan.files_read": statistics.mean(files),
            "analytics.plan_s": statistics.median(plan_s),
            "analytics.frequency.p50_s": statistics.median(
                latency["frequency_label"] + latency["frequency_province"]
            ),
            "analytics.daily_trend.p50_s": med["daily_trend"],
            "analytics.top_k_tokens.p50_s": med["top_k_tokens"],
            "analytics.conditional_rollup.p50_s": med["conditional_rollup"],
        }, check_against_duckdb(self.store, _window_sql(a, b), first)


# ------------------------------------------ dashboard reads of the store ----


def _window_sql(d0: str, d1: str) -> str:
    return f"event_date BETWEEN DATE '{d0}' AND DATE '{d1}'"


# query type -> (engine query over a filtered store, DuckDB SQL over the
# same window); every engine query is one call into operators.analytics
QUERIES = {
    "frequency_label": (
        lambda df: analytics.frequency(df, "sentiment_label"),
        "SELECT sentiment_label, count(*) FROM s WHERE {w} GROUP BY 1 "
        "ORDER BY 2 DESC, 1 ASC NULLS FIRST",
    ),
    "frequency_province": (
        lambda df: analytics.frequency(df, "province"),
        "SELECT province, count(*) FROM s WHERE {w} GROUP BY 1 "
        "ORDER BY 2 DESC, 1 ASC NULLS FIRST",
    ),
    "daily_trend": (
        lambda df: analytics.daily_trend(df, "created_at", "sentiment_label"),
        "SELECT CAST(created_at AS DATE), sentiment_label, count(*) FROM s "
        "WHERE {w} GROUP BY 1, 2 ORDER BY 1 ASC NULLS FIRST, 2 ASC NULLS FIRST",
    ),
    "top_k_tokens": (
        lambda df: analytics.top_k_tokens(df, "clean_text", 20),
        "SELECT t, count(*) FROM (SELECT unnest(regexp_split_to_array("
        "lower(clean_text), '\\s+')) AS t FROM s WHERE {w}) WHERE t <> '' "
        "GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT 20",
    ),
    "conditional_rollup": (
        lambda df: analytics.conditional_rollup(
            df,
            {
                "unprocessed": pipeline.unprocessed_predicate(),
                "located": F.col("city").isNotNull(),
                "negative": F.col("sentiment_label") == "negative",
            },
        ),
        "SELECT sum(CASE WHEN clean_text IS NULL OR sentiment_label IS NULL "
        "OR NOT coalesce(location_checked, false) THEN 1 ELSE 0 END), "
        "sum(CASE WHEN city IS NOT NULL THEN 1 ELSE 0 END), "
        "sum(CASE WHEN sentiment_label = 'negative' THEN 1 ELSE 0 END) "
        "FROM s WHERE {w}",
    ),
}


def check_against_duckdb(store: str, window: str, results: dict) -> list[str]:
    """Compare each query type's engine rows over ``store`` with DuckDB
    reading the same parquet files under the same ``window`` predicate."""
    import duckdb

    con = duckdb.connect()
    try:
        glob = os.path.join(store, "*", "*.parquet").replace("'", "''")
        con.execute(
            f"CREATE VIEW s AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)"
        )
        errors = []
        for qtype, rows in results.items():
            want = con.execute(QUERIES[qtype][1].format(w=window)).fetchall()
            if [tuple(r) for r in want] != rows:
                errors.append(f"analytics: {qtype} where {window} differs from DuckDB")
        return errors
    finally:
        con.close()


# ------------------------------------------------------------- curate ----

SHINGLE_K = 3
THRESHOLD = 0.6
BANDS = 4


def shingles(text: str) -> frozenset:
    toks = re.split(r"\s+", text.strip(" ").lower(), flags=re.ASCII)
    sh = {" ".join(toks[i : i + SHINGLE_K]) for i in range(max(len(toks) - SHINGLE_K, 0) + 1)}
    sh.discard("")
    return frozenset(sh)


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Curate(Workload):
    """Repeated curation passes of three timed steps each, every step one
    operation: MinHash near-dups -> connected components; keep the
    canonical doc per component and write the survivors; check one
    new-day batch against the curated corpus."""

    DOCS = 12000
    VIRAL = 1100
    BATCH = 1000
    PARTS = 4
    PASS_S = 6.5

    def generate(self) -> None:
        self.data = gen.make_curate_corpus(self.seed, self.DOCS, self.VIRAL, self.BATCH)
        gen.write_docs(self.path("corpus"), self.data["corpus"], self.PARTS)
        gen.write_docs(self.path("batch"), self.data["batch"], 1)
        # warm-up runs the plans at the measured data sizes (the adaptive
        # planner picks plans by size), on a corpus from another seed
        warm = gen.make_curate_corpus(
            self.seed + WARM_SEED_OFFSET, self.DOCS, self.VIRAL, self.BATCH
        )
        gen.write_docs(self.path("warm", "corpus"), warm["corpus"], self.PARTS)
        gen.write_docs(self.path("warm", "batch"), warm["batch"], 1)

    def _docs(self, name: str):
        return self.spark.read.schema("id bigint, text string").json(self.path(name))

    def _pass(self, corpus: str, batch: str, out: Outcome, tracer=None):
        """The curation steps in order, each one operation of ``out``."""
        curated = self.path("curated")
        with out.op("curate.near_dups", tracer):
            docs = self._docs(corpus)
            comp = components.connected_components(dedup.minhash_near_dups(docs, "id", "text"))
        with out.op("curate.write", tracer):
            components.canonical_by_component(docs, comp, "id").write.mode(
                "overwrite"
            ).parquet(curated)
        with out.op("curate.incremental", tracer):
            inc = dedup.minhash_near_dups_incremental(
                self._docs(batch), self.spark.read.parquet(curated), "id", "text"
            ).collect()
        return comp, inc

    def setup(self) -> dict:
        t = time.perf_counter()
        self._pass("warm/corpus", "warm/batch", Outcome())
        return {"warmup_s": time.perf_counter() - t}

    def run(self, seconds: float, tracer=None) -> Outcome:
        out = Outcome()
        for _ in range(self.passes(seconds)):
            t = time.perf_counter()
            try:
                with tracer.span("curate.pass") if tracer else nullcontext():
                    self.comp, self.inc = self._pass("corpus", "batch", out, tracer)
            except Exception:
                out.wall += time.perf_counter() - t
                continue
            out.wall += time.perf_counter() - t
            out.items += self.DOCS
        return out

    def check(self) -> list[str]:
        d = self.data
        sh = {i: shingles(t) for i, t in d["corpus"] + d["batch"]}
        metrics: list = []
        near = dedup.minhash_near_dups(self._docs("corpus"), "id", "text", metrics_out=metrics)
        # the one-row bucket-cap metrics ride the pairs' own execution
        rows = near.crossJoin(F.broadcast(metrics[0])).collect()
        self.pairs = [(r.id_a, r.id_b) for r in rows]
        self.oversized = rows[0].oversized_buckets if rows else 0
        errors = []
        bad = 0
        for r in rows:
            j = jaccard(sh[r.id_a], sh[r.id_b])
            bad += j < THRESHOLD or abs(j - r.jaccard) > 1e-3
        if bad:
            errors.append(f"curate: {bad} of {len(rows)} pairs fail the recomputed Jaccard")
        if self.oversized != BANDS:
            errors.append(f"curate: {self.oversized} oversized buckets, expected {BANDS}")
        # independent union-find: every member but a component's minimum id goes
        root: dict[int, int] = {}

        def find(x: int) -> int:
            while root.setdefault(x, x) != x:
                x = root[x]
            return x

        for a, b in self.pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        dropped = {x for x in root if find(x) != x}
        labels = self.comp.collect()
        if {r.id for r in labels if r.id != r.component} != dropped:
            errors.append("curate: non-canonical ids differ from an independent union-find")
        kept = {r.id for r in self.spark.read.parquet(self.path("curated")).select("id").collect()}
        if kept != {i for i, _ in d["corpus"]} - dropped:
            errors.append(f"curate: {len(kept)} survivors, expected {len(d['corpus']) - len(dropped)}")
        bad_inc = sum(jaccard(sh[r.id_a], sh[r.id_b]) < THRESHOLD for r in self.inc)
        if bad_inc:
            errors.append(f"curate: {bad_inc} incremental pairs fail the recomputed Jaccard")
        found = set(self.pairs)
        self.recall = sum((min(p), max(p)) in found for p in d["planted"]) / len(d["planted"])
        self.clusters = len({r.component for r in labels})
        return errors

    def probe(self, tracer, traced: Outcome) -> tuple[dict, list[str]]:
        docs = self._docs("corpus").filter(F.col("id").isNotNull())
        sig = dedup.minhash_signature(dedup.with_word_shingles(docs, "id", "text", SHINGLE_K), "id")
        cand = dedup.lsh_candidate_pairs(sig, "id")
        full = dedup.minhash_near_dups(docs, "id", "text")
        t_sig, t_cand, t_full = (best_noop_s(df) for df in (sig, cand, full))
        t = time.perf_counter()
        components.connected_components(full)
        t_cc = time.perf_counter() - t
        n_cand = cand.count()
        files = jvmseam.executed_plan_metrics(full, ("numFiles",))["numFiles"]
        return {
            "dedup.signature_s": t_sig,
            "dedup.candidates_s": t_cand - t_sig,
            "dedup.verify_s": t_full - t_cand,
            "dedup.incremental_s": statistics.median(traced.samples["curate.incremental"]),
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": len(self.pairs),
            "dedup.verify_yield": len(self.pairs) / max(n_cand, 1),
            "dedup.oversized_buckets": self.oversized,
            "dedup.planted_recall": self.recall,
            "components.s": t_cc - t_full,
            "components.clusters": self.clusters,
            "io.scan.files_read": files,
        }, []


WORKLOADS = {"etl_catchup": EtlCatchup, "curate": Curate}
