"""Regenerate PLANS.md: formatted physical plans of the flagship queries
with the scale-relevant properties called out. Run after changing any plan.

Each entry is planned in its own process, and the ids it borrows from
process-wide counters — expression ids (``#N``), ``plan_id=N``, RDD ids and
PySpark lambda names (``x_N``) — are renumbered in first-seen order, so an
entry's text depends only on its own plan, not on the entries before it.
(A fresh process matters beyond the text: Spark's distinct-aggregate
rewrite orders its Expand projections by expression-id hashes.)

Usage: python tools/explain_dump.py > PLANS.md
       python tools/explain_dump.py NAME...   # just those plans' text
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mbgspark.plans.catalog import CATALOG
from mbgspark.session import get_spark

SF = "/root/testdata/sf0.001"

ANNOTATED = {
    "q2": "date-window filter: predicates reach the parquet scan "
    "(PushedFilters: GreaterThanOrEqual/LessThan on o_orderdate) and only "
    "the filtered column is read",
    "q10": "containment join via token explode + BroadcastHashJoin on "
    "token = term, then a per-row min(dict_order) as a codegen "
    "HashAggregate joined back to the (uniqueness-guarded) broadcast dim "
    "— no per-row dimension scan, no nested loop, no sort-class argmin",
    "q18r": "four-table rollup: every dimension side is a BroadcastHashJoin "
    "(zero shuffle joins), aggregation has a map-side partial",
    "dedup_minhash_lsh": "LSH candidate generation packs each band bucket "
    "into one cap-bounded sorted id array riding the bucket window's own "
    "exchange and emits pairs row-locally (r14 — replaces the band "
    "self-join); nothing in the plan is a CartesianProduct — pair volume "
    "is governed by banding and the bucket cap, not corpus²",
    "etl_lifecycle": "the whole clean → label → locate lifecycle is ONE "
    "narrow chain of projections (locate is the constant-table projection, "
    "no join; the lexicon filters and the locate lambdas are interpreted, "
    "so their projections sit outside whole-stage codegen) followed by a "
    "single aggregation shuffle; the leading exchange (hash on _id) is "
    "the test-SF width fix (small-file scan = 2 splits), not part of the "
    "shape",
    "locate_full_dim": "the full 602-term dictionary locate as one narrow "
    "projection over three folded constants (bucketed term→rank maps "
    "probed per token, bucketed first-word→multi-word candidates checked "
    "by contains + \\b RLIKE, hit rows read by rank) — the plan is the "
    "same size for any dictionary; zero joins, and no shuffle but the "
    "test-SF width exchange and the final sort; the lifecycle's "
    "detect_locations runs the same matcher",
    "exists_shipped_priority": "correlated EXISTS planned as a LEFT SEMI "
    "join — one pass per side, the quarter filter pushed to the orders scan",
    "cust_order_histogram": "two cascaded aggregations; the second operates "
    "on one row per customer so its shuffle is dimension-sized",
    "curate_corpus": "quality + langid + token counts + fingerprint + keyed "
    "dedup window + per-language agg over a SINGLE documents scan, fully "
    "JVM-side (no Python eval in the plan)",
    "daily_gapfill": "sequence/explode date spine from the data's own "
    "min/max — generated distributed, joined hash-style, never a driver loop",
    "dedup_semantic_keep_best": "pairs → components → keeper in one lineage: "
    "the keeper argmax is a max_by hash aggregate over the cluster id with "
    "the tie-break inside the ordering struct — no window over the corpus",
    "url_stats": "URL/domain extraction is a pure regexp projection — zero "
    "joins, zero shuffles before the output sort",
    "line_filter_stats": "C4 line rules as a row-local split+filter lambda — "
    "the line array never explodes, so no corpus × lines amplification",
    "quality_surprise": "two-pass unigram LM: vocab-sized frequency "
    "aggregate, then a token equi-join + per-doc aggregate; the surprise "
    "surface is integer micro-nats (no float on the hashed output)",
    "tfidf_terms": "TF and DF are cascaded hash aggregates (DF reads the "
    "already doc-vocab-sized TF set); N rides a broadcast 1-row aggregate; "
    "per-doc top-k is a row-local array_sort+slice — no corpus window",
    "corpus_shuffle_shards": "seeded global shuffle without a global sort: "
    "the scan reads ONLY the id column, the rank window is PARTITIONED BY "
    "the md5-prefix bucket, per-bucket offsets arrive via a "
    "BroadcastHashJoin from a tiny (≤65k-row) rollup — the only "
    "SinglePartition exchange in the plan — and the ntile shard id is a "
    "closed-form integer projection",
    "dedup_embedding_multiprobe": "multi-table blocking is one posexplode "
    "to (table, bucket) rows + a bucket equi-join for candidates + vector "
    "joins for the exact-cosine verify — no CartesianProduct anywhere; "
    "all-pairs exists only behind the explicit block_bits=0 opt-in",
    "ann_ivf_kmeans_topk": "identical join shape to ann_ivf_topk — the "
    "trained k-means centroid table is a broadcast literal (bounded model "
    "parameters), assignment/probing broadcast against it, candidates an "
    "equi-join on cell id",
    "dedup_incremental": "incremental batch-vs-corpus near-dup: band "
    "equi-joins only (no corpus self-pairing by construction — the side "
    "predicate excludes corpus×corpus before any pair exists); with a "
    "materialized ingest-time index the corpus lineage disappears from "
    "the lookup plan entirely",
    "contamination_embedding": "embedding decontamination: the benchmark "
    "side is a BroadcastNestedLoopJoin replicate (bounded eval suite), "
    "cosine evaluated in codegen, partial_max collapses to one row per "
    "corpus vector before the shuffle",
    "gopher_quality": "composite quality gate: one tokenization "
    "projection feeding every rule as codegen'd expressions — zero "
    "joins, zero aggregates, the only exchange is the output orderBy",
    "profile_orders": "one-pass multi-column profiler: the exact "
    "count(DISTINCT) set compiles to a single scan + Expand with "
    "map-side partials, never one scan per column",
    "profile_lineitem_numeric": "numeric profiler (r13 reshape): ONE "
    "FileScan + one map-side-combined (column, value) histogram "
    "exchange; moments AND exact median/p95 both hang off it (every "
    "other consumer is a ReusedExchange in the AQE-final plan), the "
    "cumulative-rank windows run per (column, value-bucket), and no "
    "aggregate is sort-class",
    "token_budget_sample": "budget-filling prefix sample: per-bucket "
    "sums + a window over the tiny bucket aggregate + bucket-partitioned "
    "cumulative windows — the corpus is never globally sorted",
    "waiting_suppliers": "TPC-H Q21: both correlated quantifiers "
    "decorrelated to hash joins on l_orderkey — the EXISTS a LeftSemi, "
    "the NOT EXISTS a LeftAnti against the late set; no nested loop, "
    "the 'F' status filter pushed to the orders scan",
    "lm_bigram_score": "bigram LM: ONE pair-explode feeds the TF "
    "aggregate; corpus bigram and context counts are two layered "
    "windows over that aggregated set (the second window's key is a "
    "prefix of the first's); V joins as a broadcast 1-row aggregate — "
    "exactly two Generates in the plan, pinned",
    "weighted_sample_docs": "derandomized A-ES sampling: the key is a "
    "row-local projection and the sample a TakeOrderedAndProject — "
    "ZERO exchanges in the whole plan",
    "bm25_topk": "BM25 retrieval: the TF aggregate is filtered to the "
    "broadcast query terms immediately, so everything after the one "
    "shuffle is query-bounded; N/avgdl ride 1-row broadcasts; top-k is "
    "TakeOrderedAndProject",
    "zorder_keys": "Morton layout key: min/max bounds via a 1-row "
    "broadcast, quantization + 8-bit interleave pure codegen bit math — "
    "no shuffle before the output sort",
}


# one (prefix)(counter) pattern per counter family; lambda names share one
# JVM counter across x/y/z, so they share one renumbering
_COUNTERS = (
    re.compile(r"(lambda \w+_)(\d+)(?=#)"),
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)"),
)


def renumber(text: str) -> str:
    """Each counter family's values → 1, 2, … in first-seen order."""
    for pattern in _COUNTERS:
        seen: dict[str, int] = {}
        text = pattern.sub(
            lambda m: m.group(1) + str(seen.setdefault(m.group(2), len(seen) + 1)),
            text,
        )
    return text


def main() -> None:
    names = sys.argv[1:]
    if names:
        spark = get_spark("plans")
        spark.sparkContext.setLogLevel("ERROR")
        for name in names:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                CATALOG[name][0](spark, SF).explain(mode="formatted")
            print(renumber(buf.getvalue()), end="")
        return
    print("# PLANS — physical plans of the flagship queries")
    print()
    print("Generated by `python tools/explain_dump.py` at sf0.001 (plan shape")
    print("is data-size independent; AQE may further coalesce at runtime).")
    print("Regression-guarded in `tests/test_plan_shapes.py`.")
    for name, note in ANNOTATED.items():
        plan = subprocess.run(
            [sys.executable, os.path.abspath(__file__), name],
            check=True,
            capture_output=True,
            text=True,
        ).stdout
        print(f"\n## {name}\n\n{note}.\n\n```\n{plan}```")


if __name__ == "__main__":
    main()
