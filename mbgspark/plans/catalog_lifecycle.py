"""The §3.1 run_etl lifecycle as an oracle-checked catalog query.

Everything upstream proves operators in isolation; this query drives the
REAL pipeline entry point (mbgspark.pipeline.run_etl: clean → locate →
label → event-date) end-to-end inside the correctness gate. Documents
become tweet-shaped raw records with deterministic city/author/timestamp
injection (same construction in Spark and the DuckDB oracle, like the
dedup perturbed corpus), and the output is the dashboard-style rollup:
per-province × sentiment distribution with day coverage (README.md:84-94
analog over testdata).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mbgspark.pipeline import run_etl
from mbgspark.io import ensure_width
from mbgspark.plans.catalog_core import _t
from mbgspark.schema import DEFAULT_LOCATIONS

# deterministic injections — cycle by doc_id % 4; Indonesian city + lexicon
# words so clean/locate/label all have non-trivial work to do
_INJECT = [
    " kunjungan Jakarta Selatan bagus #MBG",
    " program di sby gagal http://x.co/a",
    " acara bandung sehat @dinas",
    "",
]


def etl_lifecycle(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    inject = F.when(F.col("doc_id") % 4 == 0, F.lit(_INJECT[0]))
    for i, s in enumerate(_INJECT[1:-1], start=1):
        inject = inject.when(F.col("doc_id") % 4 == i, F.lit(s))
    inject = inject.otherwise(F.lit(""))
    raw = d.select(
        F.col("doc_id").cast("string").alias("_id"),
        F.concat(F.col("text"), inject).alias("text"),
        F.when(F.col("doc_id") % 10 == 3, F.lit("Dinas Smg"))
        .otherwise(F.lit("user"))
        .alias("author_name"),
        F.expr(
            "timestampadd(DAY, CAST(doc_id % 31 AS INT),"
            " timestamp'2025-01-01 00:00:00')"
        ).alias("created_at"),
    )
    raw = ensure_width(raw, by="_id")
    # ^ the small-file documents scan yields 1-2 splits, which would pin the
    # whole clean→locate→label map to 2 cores; a 5k-row shuffle buys wide
    # execution (measured at sf0.1: exec 0.77 s → 0.45 s). Production scans
    # have enough splits; this is a test-SF ergonomic.
    # pass the dim as plain rows: the compiled matcher needs driver-side
    # values anyway, so skip the createDataFrame+collect round trip
    out = run_etl(raw, DEFAULT_LOCATIONS, id_col="_id", event_ts_col="created_at")
    return (
        out.groupBy(
            F.coalesce("province", F.lit("unknown")).alias("province"),
            "sentiment_label",
        )
        .agg(
            F.count("*").alias("cnt"),
            # confidence_score is a 4dp-rounded value — avg() of it can tie
            # exactly at the 4dp half boundary, where Spark HALF_UP and
            # DuckDB fp-rounding disagree (the curate_corpus round-1 driver
            # failure). Exact integer surface instead: per-row
            # floor(c·10⁴+0.5) → BIGINT sum → half-up integer division.
            F.sum(
                F.floor(F.col("confidence_score") * 10000 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("__sum_conf_e4"),
            F.countDistinct("event_date").cast("bigint").alias("n_days"),
        )
        .select(
            "province",
            "sentiment_label",
            "cnt",
            F.expr("(2 * __sum_conf_e4 + cnt) div (2 * cnt)")
            .cast("bigint")
            .alias("avg_conf_e4"),
            "n_days",
        )
        .orderBy("province", "sentiment_label")
    )


_DIM_VALUES = ",\n  ".join(
    f"('{p}', '{c}', {o}, '{t}')" for (p, c, o, t) in DEFAULT_LOCATIONS
)

ETL_LIFECYCLE_SQL = r"""
WITH raw AS (
  SELECT CAST(doc_id AS VARCHAR) AS _id,
         text || CASE CAST(doc_id % 4 AS INT)
                   WHEN 0 THEN ' kunjungan Jakarta Selatan bagus #MBG'
                   WHEN 1 THEN ' program di sby gagal http://x.co/a'
                   WHEN 2 THEN ' acara bandung sehat @dinas'
                   ELSE '' END AS text,
         CASE WHEN doc_id % 10 = 3 THEN 'Dinas Smg' ELSE 'user' END AS author_name,
         TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 31) * INTERVAL 1 DAY AS created_at
  FROM documents
),
cleaned AS (
  SELECT _id, author_name, created_at,
         lower(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           text,
           'http\S+|www\S+', '', 'g'),
           '@\w+', '[MENTION]', 'g'),
           '#\w+', '[HASHTAG]', 'g'),
           '\s+', ' ', 'g'))) AS clean_text
  FROM raw
),
dim(province, city, dict_order, term) AS (VALUES
  {DIM_VALUES}
),
search AS (
  SELECT *, translate(clean_text || ' ' || lower(coalesce(author_name, '')),
                      '-/\|_,;.', '        ') AS s FROM cleaned
),
first_hit AS (
  SELECT _id, min(dict_order) AS mo
  FROM search JOIN dim ON regexp_matches(s, '\b' || term || '\b')
  GROUP BY _id
),
located AS (
  SELECT c.*, m.province
  FROM search c
  LEFT JOIN (SELECT f._id, d2.province FROM first_hit f
             JOIN dim d2 ON d2.dict_order = f.mo) m USING (_id)
),
toks AS (
  SELECT *, string_split(lower(trim(substr(clean_text, 1, 512))), ' ') AS t
  FROM located
),
labeled AS (
  SELECT province, created_at,
         len(list_filter(t, x -> x IN ('bagus','sehat','berhasil','baik','mantap'))) AS ph,
         len(list_filter(t, x -> x IN ('gagal','korupsi','buruk','basi','keracunan','rugi'))) AS nh,
         len(t) AS tot
  FROM toks
),
scored AS (
  SELECT province, created_at,
         CASE WHEN tot <= 0 THEN 'neutral'
              WHEN ph > nh THEN 'positive'
              WHEN ph < nh THEN 'negative'
              ELSE 'neutral' END AS sentiment_label,
         round(CASE WHEN tot <= 0 THEN 0.0
                    ELSE (ph + nh) / CAST(tot AS DOUBLE) END, 4) AS confidence_score
  FROM labeled
)
SELECT coalesce(province, 'unknown') AS province, sentiment_label,
       count(*) AS cnt,
       CAST((2 * sum(CAST(floor(confidence_score * 10000 + 0.5) AS BIGINT))
             + count(*)) // (2 * count(*)) AS BIGINT) AS avg_conf_e4,
       CAST(count(DISTINCT strftime(created_at, '%Y-%m-%d')) AS BIGINT) AS n_days
FROM scored
GROUP BY 1, 2 ORDER BY 1, 2
""".replace("{DIM_VALUES}", _DIM_VALUES)

def reprocess_idempotent(spark, sf_dir):
    """§3.3 idempotence invariant as a driver-visible query
    (fix_unprocessed_monthly_tweets.py:229-234, VERDICT r1 item 9):
    reprocess() over a fully-unprocessed store, then reprocess() again over
    the updated store — the second work set MUST be empty. One lazily
    evaluated DAG: run1's work count (= every store row, since nothing is
    processed yet) unioned with run2's (must be 0). The oracle is the
    trivial restatement: count(documents) and 0."""
    from mbgspark.pipeline import reprocess
    from mbgspark.schema import DEFAULT_LOCATIONS

    d = _t(spark, sf_dir, "documents")
    store0 = d.select(
        F.col("doc_id").cast("string").alias("_id"),
        F.col("text"),
        F.lit("user").alias("author_name"),
        F.expr(
            "timestampadd(DAY, CAST(doc_id % 31 AS INT),"
            " timestamp'2025-01-01 00:00:00')"
        ).alias("created_at"),
        F.expr(
            "timestampadd(DAY, CAST(doc_id % 31 AS INT),"
            " timestamp'2025-01-02 00:00:00')"
        ).alias("scraped_at"),
        # enrichment columns exist but are all-null: the $exists:false state
        F.lit(None).cast("string").alias("clean_text"),
        F.lit(None).cast("string").alias("sentiment_label"),
        F.lit(None).cast("double").alias("confidence_score"),
        F.lit(None).cast("boolean").alias("location_checked"),
    )
    work1, store1 = reprocess(store0, DEFAULT_LOCATIONS)
    work2, _ = reprocess(store1, DEFAULT_LOCATIONS)
    r1 = work1.agg(F.count("*").alias("work_cnt")).select(
        F.lit("run1").alias("run"), "work_cnt"
    )
    r2 = work2.agg(F.count("*").alias("work_cnt")).select(
        F.lit("run2").alias("run"), "work_cnt"
    )
    return r1.unionByName(r2).orderBy("run")


REPROCESS_IDEMPOTENT_SQL = """
SELECT 'run1' AS run, count(*) AS work_cnt FROM documents
UNION ALL
SELECT 'run2' AS run, 0 AS work_cnt
ORDER BY run
"""

LIFECYCLE: dict[str, tuple] = {
    "etl_lifecycle": (etl_lifecycle, ETL_LIFECYCLE_SQL),
    "reprocess_idempotent": (reprocess_idempotent, REPROCESS_IDEMPOTENT_SQL),
}
