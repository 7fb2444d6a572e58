"""End-to-end lifecycles — SURVEY.md §3.

§3.1 ``run_etl``: ingest → clean → locate → label → merge(store, key=_id,
partition=event_date) → export. The reference's per-day while-loop collapses
into one declarative lineage; Catalyst parallelizes across days because
event_date is just a partition column.

§3.3 ``reprocess``: store.filter(unprocessed) → clean/locate/label → merge —
the idempotence-proving entry point (run twice ⇒ second work set is empty,
fix_unprocessed_monthly_tweets.py:229-234).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbgspark.functions.cleaning import clean_for_analysis
from mbgspark.functions.lexicon import with_lexicon_sentiment
from mbgspark.io import merge_by_key
from mbgspark.locations import locate_compiled
from mbgspark.schema import DEFAULT_LOCATIONS, LOCATIONS_DIM_SCHEMA


def locations_dim(spark: SparkSession, rows=None) -> DataFrame:
    """The (province, city, dict_order, term) dimension incl. alias rows
    (utils.py:300-333 + 384-394). Tiny — collected into the compiled
    matcher."""
    return spark.createDataFrame(rows or DEFAULT_LOCATIONS, LOCATIONS_DIM_SCHEMA)


def apply_cleaning(df: DataFrame, text_col: str = "text") -> DataFrame:
    """X4 (utils.py:95-154): add clean_text + cleaning status flag — a pure
    column pipeline, no UDF."""
    return df.withColumn("clean_text", clean_for_analysis(F.col(text_col))).withColumn(
        "cleaning_completed", F.lit(True)
    )


def detect_locations(df: DataFrame, dim, id_col: str = "_id") -> DataFrame:
    """J1 first-match location detection against text + author name
    (utils.py:336-437; author concat per :351-352). Unmatched tweets keep
    null province/city.

    ``dim`` is a DataFrame (collected — it's driver-small) or an
    already-materialized list of rows/tuples, which skips the collect job
    entirely.

    Every dictionary, the lifecycle's 12 terms and the full 602, runs
    through ``locations.locate_compiled``: one narrow projection over
    three constant tables, O(tokens) per row, zero joins. It searches
    text + author name; its own text prep translates the separators
    (utils.py:358-361), so 'jakarta-selatan' matches the multi-word term.
    "location_checked" is the analog of the field EXISTING in Mongo; a
    tweet with no detectable location is still processed."""
    rows = dim.collect() if isinstance(dim, DataFrame) else dim
    base = df.withColumn(
        "__search",
        F.expr("concat_ws(' ', clean_text, lower(coalesce(author_name, '')))"),
    )
    out = locate_compiled(base, rows, id_col, "__search")
    return out.drop("__search").withColumn(
        "location_detected", F.col("city").isNotNull()
    ).withColumn("location_checked", F.lit(True))


def label_sentiment(df: DataFrame, text_col: str = "clean_text") -> DataFrame:
    """X1 with the deterministic lexicon classifier (model path is a
    pluggable strategy; correctness tests use the lexicon — SURVEY §7)."""
    from mbgspark.functions.lexicon import NEGATIVE_ID, POSITIVE_ID

    labeled = with_lexicon_sentiment(df, text_col, POSITIVE_ID, NEGATIVE_ID)
    return labeled.withColumnRenamed("label", "sentiment_label").withColumn(
        "sentiment_analyzed", F.lit(True)
    ).drop("pos_hits", "neg_hits", "total_tokens")


def unprocessed_predicate():
    """F2 ($or of missing fields, fix_unprocessed_monthly_tweets.py:96-111).

    Mongo's ``$exists:false`` means the stage never ran — distinct from
    "ran but found nothing" (a null city on a checked tweet is complete)."""
    return (
        F.col("clean_text").isNull()
        | F.col("sentiment_label").isNull()
        | ~F.coalesce(F.col("location_checked"), F.lit(False))
    )


def run_etl(
    raw: DataFrame,
    dim: DataFrame,
    id_col: str = "_id",
    event_ts_col: str = "created_at",
) -> DataFrame:
    """§3.1 transform lineage on ingested flat records: clean → label →
    event_date partition column → locate. Caller writes via
    io.write_partitioned / io.merge_by_key."""
    out = apply_cleaning(raw)
    out = label_sentiment(out)
    out = out.withColumn("event_date", F.date_format(event_ts_col, "yyyy-MM-dd"))
    return detect_locations(out, dim, id_col)


def reprocess(
    store: DataFrame, dim: DataFrame, id_col: str = "_id"
) -> tuple[DataFrame, DataFrame]:
    """§3.3: returns (work_set, updated_store). Second invocation on
    updated_store must yield an empty work set (idempotence invariant)."""
    work = store.filter(unprocessed_predicate())
    base_cols = [
        c
        for c in store.columns
        if c
        not in (
            "clean_text",
            "cleaning_completed",
            "province",
            "city",
            "location_detected",
            "location_checked",
            "sentiment_label",
            "confidence_score",
            "sentiment_analyzed",
            "event_date",
        )
    ]
    fixed = run_etl(work.select(*base_cols), dim, id_col)
    updated = merge_by_key(store, fixed, key=id_col, order_col="scraped_at")
    return work, updated


def incremental_dates(
    candidate_dates: DataFrame, existing_dates: DataFrame, date_col: str = "event_date"
) -> DataFrame:
    """F6 skip-scan (resilient_etl.py:304-318): left-anti join of candidate
    partition values against already-materialized partitions — only new days
    get processed."""
    return candidate_dates.join(existing_dates, date_col, "left_anti")
