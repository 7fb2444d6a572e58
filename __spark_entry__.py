"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship §3.1 ETL lifecycle on sf0.001.
queries()    — 164 catalog queries: SURVEY.md §2.11 core (q1–q28), the
               warehouse join suite, the LLM-data-pipeline suite (dedup /
               similarity / text analysis / multimodal plumbing), the
               corpus-curation suite (decontamination, repetition filters,
               PII redaction, stratified sampling, sequence packing,
               n-gram stats, domain mixture/resample/interleave), the
               profiling/diagnostics suite (column + numeric profilers,
               heavy hitters, splits, samples, histograms, snapshot diff,
               embedding decontamination, Gopher gate, incremental
               dedup), the full 602-term location dictionary, k-means,
               and the reprocess idempotence invariant. ALL 164 carry
               DuckDB oracles, and parity is checked over all of them.
oracle_sql() — matching DuckDB SQL per query.

Implementation lives in the ``mbgspark`` package.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mbgspark.plans.catalog import oracle_sql_map, query_map


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the full §3.1 ETL lifecycle (clean → broadcast
    containment locate → lexicon label → event-date rollup) on sf0.001 —
    the reference's run_etl re-expressed as one declarative lineage."""
    from mbgspark.plans.catalog_lifecycle import etl_lifecycle

    return etl_lifecycle(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return query_map()


def oracle_sql() -> dict[str, str]:
    return oracle_sql_map()
