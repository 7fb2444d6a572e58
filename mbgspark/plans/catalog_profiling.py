"""Profiling / diagnostics query set: the observability layer of a
training-data pipeline — column profiling, skew diagnostics, deterministic
dataset splits, per-group inspection samples, length distributions,
embedding-space decontamination, and the Gopher composite quality gate.

Extends the reference's summary/inspection surface (dashboard aggregates,
resilient_etl.py's per-run count logging — SURVEY.md A8/M4) to the checks a
100 TB curation run needs between stages. Contract rules as in
catalog_core: identical aliases in Spark and SQL, total ordering, exact
integer fixed-point surfaces (ppm / e2 / e4), md5-only hashing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mbgspark.operators.curation import embedding_contamination
from mbgspark.operators.profiling import (
    cardinality_check,
    group_sample,
    snapshot_diff,
    heavy_hitters,
    length_histogram,
    profile_numeric,
    profile_table,
    split_assign,
    split_leakage,
)
from mbgspark.operators.textstats import gopher_quality_filter
from mbgspark.plans.catalog_core import _t

# ------------------------------------------------------ column profiler --


def profile_orders(spark, sf_dir):
    """One-pass profile of four orders columns (string / int / timestamp) —
    null counts, exact distinct counts, min/max, mean serialized length."""
    return profile_table(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"],
    )


def _profile_col_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_val,
       CAST(max({c}) AS VARCHAR) AS max_val,
       CAST(floor(CASE WHEN count({c}) > 0
                       THEN sum(length(CAST({c} AS VARCHAR))) * 100.0 / count({c})
                       ELSE 0.0 END + 0.5) AS BIGINT) AS avg_len_e2
FROM orders"""


PROFILE_ORDERS_SQL = (
    " UNION ALL ".join(
        _profile_col_sql(c)
        for c in ["o_custkey", "o_orderdate", "o_orderpriority", "o_orderstatus"]
    )
    + " ORDER BY column_name"
)


def profile_lineitem_numeric(spark, sf_dir):
    """Numeric profile of three lineitem measures: exact sort-based median
    and p95 alongside count/null/min/max/mean, one aggregation pass."""
    return profile_numeric(
        _t(spark, sf_dir, "lineitem"),
        ["l_discount", "l_extendedprice", "l_quantity"],
    )


def _profile_num_sql(c: str) -> str:
    return f"""
SELECT '{c}' AS column_name,
       CAST(count({c}) AS BIGINT) AS n_values,
       CAST(count(*) - count({c}) AS BIGINT) AS n_null,
       round(min(CAST({c} AS DOUBLE)), 4) AS min_val,
       round(max(CAST({c} AS DOUBLE)), 4) AS max_val,
       round(avg(CAST({c} AS DOUBLE)), 4) AS avg_val,
       round(quantile_cont(CAST({c} AS DOUBLE), 0.5), 4) AS median_val,
       round(quantile_cont(CAST({c} AS DOUBLE), 0.95), 4) AS p95_val
FROM lineitem"""


PROFILE_NUMERIC_SQL = (
    " UNION ALL ".join(
        _profile_num_sql(c) for c in ["l_discount", "l_extendedprice", "l_quantity"]
    )
    + " ORDER BY column_name"
)


# ------------------------------------------------------- heavy hitters --


def heavy_hitter_keys(spark, sf_dir):
    """Top-20 lineitem supplier keys by row count with exact ppm share —
    the pre-join skew diagnostic feeding operators.skew's salting levers."""
    return heavy_hitters(_t(spark, sf_dir, "lineitem"), "l_suppkey", k=20)


HEAVY_HITTERS_SQL = """
WITH c AS (SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY l_suppkey),
t AS (SELECT count(*) AS total FROM lineitem)
SELECT l_suppkey, CAST(cnt AS BIGINT) AS cnt,
       CAST(floor(cnt * 1000000.0 / total + 0.5) AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
ORDER BY cnt DESC, l_suppkey
LIMIT 20
"""


# -------------------------------------------------------- split assign --

# cutoffs: floor(0.90 * 65536) = 58982 = 0xe666; floor(0.95 * 65536) = 0xf333
_SPLIT_BUCKET = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)"


def split_assign_counts(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by md5 bucket of
    doc_id, rolled up per (split, lang). Row-local assignment: a document's
    split never changes as the corpus grows."""
    d = split_assign(_t(spark, sf_dir, "documents"), "doc_id")
    return (
        d.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("split", "lang")
    )


SPLIT_ASSIGN_SQL = f"""
WITH s AS (
  SELECT lang,
         CASE WHEN {_SPLIT_BUCKET} < 'e666' THEN 'train'
              WHEN {_SPLIT_BUCKET} < 'f333' THEN 'val'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, CAST(count(*) AS BIGINT) AS cnt
FROM s GROUP BY split, lang ORDER BY split, lang
"""


# ------------------------------------------------------- split leakage --


def split_leakage_counts(spark, sf_dir):
    """Train→eval leakage audit: per non-train split, how many docs share
    an exact or an order-insensitive (token-set) fingerprint with any
    train doc — the intra-corpus counterpart of contamination_check."""
    return split_leakage(_t(spark, sf_dir, "documents"), "doc_id", "text")


SPLIT_LEAKAGE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN {_SPLIT_BUCKET} < 'e666' THEN 'train'
              WHEN {_SPLIT_BUCKET} < 'f333' THEN 'val'
              ELSE 'test' END AS split,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         md5(array_to_string(list_sort(list_distinct(string_split(
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))), ' '))
           AS sfp
  FROM documents
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN fp IN (SELECT fp FROM d WHERE split = 'train')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_leaked,
       CAST(sum(CASE WHEN sfp IN (SELECT sfp FROM d WHERE split = 'train')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shape_leaked
FROM d WHERE split <> 'train'
GROUP BY split ORDER BY split
"""


# -------------------------------------------------------- group sample --


def group_sample_per_lang(spark, sf_dir):
    """Deterministic 5-doc inspection sample per language: the five docs
    whose md5(doc_id) sorts first within each lang — same five every run."""
    return group_sample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", k=5
    ).select("doc_id", "lang", "sample_rank").orderBy("lang", "sample_rank")


GROUP_SAMPLE_SQL = """
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
  FROM documents)
WHERE sample_rank <= 5
ORDER BY lang, sample_rank
"""


# ---------------------------------------------------- length histogram --


def doc_length_histogram(spark, sf_dir):
    """Log2-bucketed document length distribution (bucket = bit-length of
    n_chars, exact integer arithmetic — no float log at bucket edges)."""
    return length_histogram(_t(spark, sf_dir, "documents"), "n_chars")


LENGTH_HISTOGRAM_SQL = """
SELECT CAST(CASE WHEN n_chars > 0 THEN length(bin(n_chars)) ELSE 0 END AS BIGINT)
         AS len_bucket,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_len
FROM documents
GROUP BY len_bucket
ORDER BY len_bucket
"""


# ----------------------------------------- embedding decontamination ----


def contamination_embedding(spark, sf_dir):
    """Embedding-space decontamination: vectors with vec_id % 50 == 0 stand
    in for the eval suite; every other vector reports its max cosine
    against that (broadcast) benchmark set, flagged at 0.30. The semantic
    complement of the n-gram contamination_check."""
    e = _t(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") % 50 != 0)
    bench = e.filter(F.col("vec_id") % 50 == 0)
    return embedding_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.30
    )


CONTAMINATION_EMBEDDING_SQL = """
WITH b AS (SELECT CAST(embedding AS DOUBLE[]) AS bv
           FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id % 50 <> 0),
m AS (
  SELECT vec_id,
         round(max(list_dot_product(cv, bv)
               / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(bv, bv)))),
               4) AS max_bench_sim
  FROM c CROSS JOIN b GROUP BY vec_id)
SELECT vec_id, max_bench_sim,
       CAST(CASE WHEN max_bench_sim >= 0.30 THEN 1 ELSE 0 END AS BIGINT)
         AS is_contaminated
FROM m ORDER BY vec_id
"""


# ------------------------------------------------- gopher quality gate --


def gopher_quality(spark, sf_dir):
    """Composite Gopher-style quality gate over documents: keep flag +
    ';'-joined sorted drop reasons, all codegen'd row-local expressions."""
    return gopher_quality_filter(_t(spark, sf_dir, "documents"))


GOPHER_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS tk,
         length(trim(text)) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, n_chars,
         len(tk) AS n_tokens,
         len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS stop_hits,
         len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha_words
  FROM t),
f AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN n_tokens < 5 THEN 'too_few_tokens' END,
           CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
           CASE WHEN n_chars * 10 < 30 * n_tokens THEN 'mean_word_len_low' END,
           CASE WHEN n_chars * 10 > 120 * n_tokens THEN 'mean_word_len_high' END,
           CASE WHEN stop_hits < 1 THEN 'too_few_stopwords' END,
           CASE WHEN alpha_words * 10000 < 6000 * n_tokens THEN 'low_alpha_ratio' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM r)
SELECT doc_id,
       -- array_to_string([]) is NULL in DuckDB; Spark's concat_ws gives ''
       coalesce(array_to_string(reasons, ';'), '') AS drop_reasons,
       CAST(CASE WHEN len(reasons) = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM f
"""


# -------------------------------------------------------- snapshot diff --


def corpus_snapshot_diff(spark, sf_dir):
    """Between-runs corpus audit: snapshot v2 removes doc_id % 97 == 0,
    appends ' v2' to text of doc_id % 89 == 0, and adds 20 new docs
    (ids + 500000); the diff reports every added/removed/changed id."""
    d = _t(spark, sf_dir, "documents")
    old = d.select("doc_id", "text")
    changed = F.when(
        F.col("doc_id") % 89 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    new = (
        d.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", changed.alias("text"))
        .unionByName(
            d.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 500000).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(old, new, "doc_id", ["text"]).orderBy("doc_id")


SNAPSHOT_DIFF_SQL = """
WITH oh AS (SELECT doc_id, md5(coalesce(text, '')) AS h FROM documents),
newsnap AS (
  SELECT doc_id,
         CASE WHEN doc_id % 89 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
  UNION ALL
  SELECT doc_id + 500000, text FROM documents WHERE doc_id < 20
),
nh AS (SELECT doc_id, md5(coalesce(text, '')) AS h FROM newsnap),
j AS (
  SELECT coalesce(oh.doc_id, nh.doc_id) AS doc_id,
         CASE WHEN oh.h IS NULL THEN 'added'
              WHEN nh.h IS NULL THEN 'removed'
              WHEN oh.h <> nh.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id)
SELECT doc_id, status FROM j WHERE status <> 'unchanged' ORDER BY doc_id
"""


# ------------------------------------------- quality reasons by domain --


def quality_by_domain(spark, sf_dir):
    """Per-source curation accounting: how many docs each Gopher rule
    drops in each source — the dashboard a 100 TB curation run watches to
    catch a crawler or domain gone bad. One gate pass + one explode of
    the (tiny) per-doc reason list + one hash aggregate."""
    d = _t(spark, sf_dir, "documents")
    gated = gopher_quality_filter(d, "doc_id", "text")
    joined = gated.join(d.select("doc_id", "source"), "doc_id")
    return (
        joined.filter(F.col("keep") == 0)
        .select(
            "source",
            F.explode(F.split("drop_reasons", ";")).alias("reason"),
        )
        .groupBy("source", "reason")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("source", "reason")
    )


QUALITY_BY_DOMAIN_SQL = """
WITH t AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS tk,
         length(trim(text)) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, n_chars,
         len(tk) AS n_tokens,
         len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS stop_hits,
         len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha_words
  FROM t),
f AS (
  SELECT doc_id,
         list_sort(list_filter([
           CASE WHEN n_tokens < 5 THEN 'too_few_tokens' END,
           CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
           CASE WHEN n_chars * 10 < 30 * n_tokens THEN 'mean_word_len_low' END,
           CASE WHEN n_chars * 10 > 120 * n_tokens THEN 'mean_word_len_high' END,
           CASE WHEN stop_hits < 1 THEN 'too_few_stopwords' END,
           CASE WHEN alpha_words * 10000 < 6000 * n_tokens THEN 'low_alpha_ratio' END
         ], x -> x IS NOT NULL)) AS reasons
  FROM r),
x AS (
  SELECT d.source, unnest(f.reasons) AS reason
  FROM f JOIN documents d USING (doc_id)
  WHERE len(f.reasons) > 0)
SELECT source, reason, CAST(count(*) AS BIGINT) AS cnt
FROM x GROUP BY source, reason ORDER BY source, reason
"""


# -------------------------------------------------- event analytics ------


def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel over the event stream: per user the first view,
    the first click AFTER that view, the first purchase AFTER that click;
    reported as per-stage user counts. Strictly-ordered semantics (a
    click before any view does not count) — the classic product-analytics
    query. Each stage is a keyed aggregate joined to the previous
    stage's (small) user set."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    stage = lambda name, df: df.agg(
        F.lit(name).alias("stage"), F.count(F.lit(1)).cast("bigint").alias("users")
    )
    return (
        stage("1_view", v)
        .unionByName(stage("2_view_click", c))
        .unionByName(stage("3_view_click_purchase", p))
        .orderBy("stage")
    )


FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id)
SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users FROM v
UNION ALL
SELECT '2_view_click', CAST(count(*) AS BIGINT) FROM c
UNION ALL
SELECT '3_view_click_purchase', CAST(count(*) AS BIGINT) FROM p
ORDER BY stage
"""



def funnel_latency(spark, sf_dir):
    """Time-to-convert distribution per funnel hop: exact interpolated
    median and p90 seconds from first view to the first subsequent click,
    and from that click to the first subsequent purchase — the latency
    companion to funnel_view_click_purchase (counts say HOW MANY convert;
    this says HOW FAST, which is what timeout/abandonment decisions key
    on). Same staged keyed aggregates; the latency rollup is one bounded
    aggregate per hop over µs-exact differences."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    vc = c.join(v, "user_id").select(
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("gap_us")
    )
    cp = p.join(c, "user_id").select(
        (F.unix_micros("t3") - F.unix_micros("t2")).alias("gap_us")
    )

    def hop(name, df):
        return df.agg(
            F.lit(name).alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1000000.0, 2).alias(
                "median_s"
            ),
            F.round(F.expr("percentile(gap_us, 0.9)") / 1000000.0, 2).alias(
                "p90_s"
            ),
        )

    return hop("view_to_click", vc).unionByName(
        hop("click_to_purchase", cp)
    ).orderBy("hop")


FUNNEL_LATENCY_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts > t1 GROUP BY e.user_id),
p AS (
  SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts > t2 GROUP BY e.user_id),
vc AS (
  SELECT epoch_us(t2) - epoch_us(t1) AS gap_us FROM c JOIN v USING (user_id)),
cp AS (
  SELECT epoch_us(t3) - epoch_us(t2) AS gap_us FROM p JOIN c USING (user_id))
SELECT 'click_to_purchase' AS hop, CAST(count(*) AS BIGINT) AS n_users,
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 2) AS median_s,
       round(quantile_cont(gap_us, 0.9) / 1000000.0, 2) AS p90_s
FROM cp
UNION ALL
SELECT 'view_to_click', CAST(count(*) AS BIGINT),
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 2),
       round(quantile_cont(gap_us, 0.9) / 1000000.0, 2)
FROM vc
ORDER BY hop
"""



def event_transitions(spark, sf_dir):
    """First-order Markov transition matrix of the event stream: for each
    (event_type -> next event_type) hop within a user's timeline, the
    observed count and the conditional probability P(next|current) in
    exact e4 — the journey model behind next-action prediction and
    Markov-chain attribution. One user-partitioned lead() window over the
    raw stream, then a bounded |types|^2 aggregate; the row denominator
    rides a window over that tiny aggregate, never the events."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_row = Window.partitionBy("event_type")
    return (
        hops.withColumn("__row_total", F.sum("cnt").over(w_row))
        .select(
            "event_type",
            "next_type",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.floor(F.col("cnt") * 10000 / F.col("__row_total") + F.lit(0.5))
            .cast("bigint")
            .alias("p_e4"),
        )
        .orderBy("event_type", "next_type")
    )


EVENT_TRANSITIONS_SQL = """
WITH hops AS (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
c AS (
  SELECT event_type, next_type, count(*) AS cnt
  FROM hops WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, CAST(cnt AS BIGINT) AS cnt,
       CAST(floor(cnt * 10000
                  / CAST(sum(cnt) OVER (PARTITION BY event_type) AS DOUBLE)
                  + 0.5) AS BIGINT) AS p_e4
FROM c ORDER BY event_type, next_type
"""



def embedding_drift(spark, sf_dir):
    """Embedding-space drift between corpus snapshots, per label: cosine
    between the label's mean vector in v1 and in the deterministically
    mutated v2 (every 13th vector dropped, every 11th shifted +0.05 on
    all dims — the in-query snapshot device) — the model-monitoring
    alarm for "did this class's representation move". Means are computed
    at the (label, dim) grain (posexplode + hash agg — the
    label_centroids shape, shuffle width |labels|*dims) and quantized to
    integer micro BEFORE the cosine, so the dot/norm arithmetic is exact
    in double and the e6 output is hash-stable. Emits
    (label, n_v1, n_v2, cos_e6)."""
    e = _t(spark, sf_dir, "embeddings")
    v2 = e.filter(F.col("vec_id") % 13 != 0).withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 11 == 0,
            F.transform("embedding", lambda x: x + F.lit(0.05)),
        ).otherwise(F.col("embedding")),
    )

    def mean_micro(df):
        return (
            df.select("label", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("label", "dim")
            .agg(
                F.floor(F.avg(F.col("x").cast("double")) * 1000000 + F.lit(0.5))
                .cast("bigint")
                .alias("m"),
                F.count(F.lit(1)).alias("__rows"),
            )
        )

    m1 = mean_micro(e).select(
        "label", "dim", F.col("m").alias("m1"), F.col("__rows").alias("r1")
    )
    m2 = mean_micro(v2).select(
        "label", "dim", F.col("m").alias("m2"), F.col("__rows").alias("r2")
    )
    return (
        m1.join(m2, ["label", "dim"])
        .groupBy("label")
        .agg(
            (F.max("r1")).cast("bigint").alias("n_v1"),
            (F.max("r2")).cast("bigint").alias("n_v2"),
            F.floor(
                F.sum(F.col("m1").cast("double") * F.col("m2"))
                / (
                    F.sqrt(F.sum(F.col("m1").cast("double") * F.col("m1")))
                    * F.sqrt(F.sum(F.col("m2").cast("double") * F.col("m2")))
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("cos_e6"),
        )
        .orderBy("label")
    )


EMBEDDING_DRIFT_SQL = """
WITH v1 AS (
  SELECT label, g.i AS dim, embedding[g.i + 1] AS x
  FROM embeddings, LATERAL unnest(generate_series(0, 63)) AS g(i)
),
v2 AS (
  SELECT label, g.i AS dim,
         embedding[g.i + 1]
           + CASE WHEN vec_id % 11 = 0 THEN 0.05 ELSE 0 END AS x
  FROM embeddings, LATERAL unnest(generate_series(0, 63)) AS g(i)
  WHERE vec_id % 13 <> 0
),
m1 AS (
  SELECT label, dim,
         CAST(floor(avg(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS m,
         count(*) AS r
  FROM v1 GROUP BY label, dim
),
m2 AS (
  SELECT label, dim,
         CAST(floor(avg(CAST(x AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS m,
         count(*) AS r
  FROM v2 GROUP BY label, dim
)
SELECT label,
       CAST(max(m1.r) AS BIGINT) AS n_v1,
       CAST(max(m2.r) AS BIGINT) AS n_v2,
       CAST(floor(sum(CAST(m1.m AS DOUBLE) * m2.m)
                  / (sqrt(sum(CAST(m1.m AS DOUBLE) * m1.m))
                     * sqrt(sum(CAST(m2.m AS DOUBLE) * m2.m)))
                  * 1000000 + 0.5) AS BIGINT) AS cos_e6
FROM m1 JOIN m2 USING (label, dim)
GROUP BY label ORDER BY label
"""



def top_session_paths(spark, sf_dir):
    """Top-20 user journeys: the TIME-ordered event-type path within each
    (user, day) — 'view>view>click>purchase' — ranked by how many
    user-days follow it. The "what do users actually do" query behind
    flow dashboards and funnel design. Ordered aggregation device:
    collect_list of (ts, event_id, type) structs -> array_sort (struct
    ordering = time order with a deterministic id tiebreak) -> row-local
    transform+join; the path table the top-k reads is
    |distinct paths|-sized. Day is the session proxy here; swap in
    sessionize_events' island ids for gap-based sessions — the path
    aggregation is identical."""
    e = _t(spark, sf_dir, "events")
    paths = (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(20)
    )


TOP_PATHS_SQL = """
WITH paths AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id, CAST(ts AS DATE)
)
SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
FROM paths GROUP BY path
ORDER BY n_user_days DESC, path
LIMIT 20
"""



def rolling_distinct_users(spark, sf_dir):
    """Rolling distinct users over the trailing 7 PRESENT days — the
    classic sliding-distinct problem, solved the only way it scales:
    per-day HLL sketches unioned over a ROWS window (sketches merge;
    raw distinct sets cannot without re-shuffling every key per window
    position). The exact rolling count is computed alongside FOR THE
    GATE ONLY (a rank-distance self-join — affordable at gate SF,
    exactly what production avoids) and the hash-checked surface is the
    exact value + the sketch's 5%-accuracy flag, the HLL/quantile
    contract device."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    est = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("__est"),
    )
    # exact: rank days, join each target day to its trailing 6 ranks
    days = daily.select("day").withColumn(
        "__r", F.row_number().over(Window.orderBy("day"))
    )
    ud = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    exact = (
        days.alias("t")
        .join(days.alias("s"), F.expr("s.__r BETWEEN t.__r - 6 AND t.__r"))
        .join(ud.alias("u"), F.expr("u.day = s.day"))
        .groupBy(F.col("t.day").alias("day"))
        .agg(F.countDistinct("u.user_id").cast("bigint").alias("rolling7_exact"))
    )
    return (
        exact.join(est, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "rolling7_exact",
            (F.abs(F.col("__est") - F.col("rolling7_exact")) * 20
             <= F.col("rolling7_exact"))
            .cast("bigint")
            .alias("sketch_ok"),
        )
        .orderBy("day")
    )


ROLLING_DISTINCT_SQL = """
WITH days AS (
  SELECT day, row_number() OVER (ORDER BY day) AS r FROM (
    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
),
ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
SELECT strftime(t.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS rolling7_exact,
       CAST(1 AS BIGINT) AS sketch_ok
FROM days t
JOIN days s ON s.r BETWEEN t.r - 6 AND t.r
JOIN ud u ON u.day = s.day
GROUP BY t.day ORDER BY day
"""



def rfm_segments(spark, sf_dir):
    """RFM segmentation grid: users bucketed into recency/frequency/
    monetary quintiles (ntile over the per-user feature vector) and the
    grid cells counted — the standard segmentation table marketing/
    retention teams read. All three ntile windows run over the
    150-row-per-group user_features OUTPUT (the bounded-window
    precedent), never the raw events; recency ranks ascending (recent =
    1) while frequency/monetary rank descending (heavy = 1), the RFM
    convention."""
    from pyspark.sql import Window

    f = user_features(spark, sf_dir)
    seg = f.select(
        "user_id",
        F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .alias("r_quintile"),
        F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_quintile"),
        F.ntile(5).over(Window.orderBy(F.desc("monetary"), F.asc("user_id")))
        .alias("m_quintile"),
    )
    return (
        seg.groupBy("r_quintile", "f_quintile", "m_quintile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.col("r_quintile").cast("bigint").alias("r_quintile"),
            F.col("f_quintile").cast("bigint").alias("f_quintile"),
            F.col("m_quintile").cast("bigint").alias("m_quintile"),
            "n_users",
        )
        .orderBy("r_quintile", "f_quintile", "m_quintile")
    )


RFM_SQL = """
WITH anchor AS (SELECT max(ts) AS e FROM events),
per_type AS (
  SELECT user_id, event_type, count(*) AS n, max(ts) AS last_ts,
         sum(CAST(value AS DECIMAL(12,2))) AS v
  FROM events GROUP BY user_id, event_type
),
f AS (
  SELECT user_id,
         date_diff('day', CAST(max(last_ts) AS DATE),
                   CAST((SELECT e FROM anchor) AS DATE)) AS recency_days,
         sum(n) AS frequency, CAST(round(sum(v), 2) AS DOUBLE) AS monetary
  FROM per_type GROUP BY user_id
),
seg AS (
  SELECT user_id,
         ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r_quintile,
         ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f_quintile,
         ntile(5) OVER (ORDER BY monetary DESC, user_id ASC) AS m_quintile
  FROM f
)
SELECT CAST(r_quintile AS BIGINT) AS r_quintile,
       CAST(f_quintile AS BIGINT) AS f_quintile,
       CAST(m_quintile AS BIGINT) AS m_quintile,
       CAST(count(*) AS BIGINT) AS n_users
FROM seg GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""



def mad_anomalous_days(spark, sf_dir):
    """Robust anomalous-day detection: days whose event count deviates
    from the MEDIAN by more than 3 scaled MADs (median absolute
    deviation x 1.4826 ~ sigma under normality) — the outlier detector
    that, unlike mean/stddev z-scores, is not dragged by the outliers it
    hunts. Two exact-percentile passes over the bounded daily series
    (each a one-row broadcast back onto it); the robust-z surface is e4
    integer. Emits only flagged days (plus the stats that flagged
    them). The synthetic event stream is uniform (no genuinely anomalous
    days), so the surface emits EVERY day with its robust z and the
    flag — a flagged-only output would be a 0-row gate query, which is
    no evidence at all (the Q22 lesson).

    MAD = 0 (at least half the days share the median count — plausible
    on a flat series) makes the robust z undefined: the guard emits
    NULL for robust_z_e4 AND is_anomaly on every day, identically in
    both engines (ADVICE r4 — unguarded, Spark floors Infinity to
    garbage while DuckDB errors casting it, a divergent failure)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    med = daily.agg(F.expr("percentile(cnt, 0.5)").alias("__med"))
    dev = daily.crossJoin(F.broadcast(med)).withColumn(
        "__ad", F.abs(F.col("cnt") - F.col("__med"))
    )
    mad = dev.agg(F.expr("percentile(__ad, 0.5)").alias("__mad"))
    return (
        dev.crossJoin(F.broadcast(mad))
        .withColumn(
            "robust_z_e4",
            F.when(
                F.col("__mad") > 0,
                F.floor(
                    F.col("__ad") / (F.col("__mad") * 1.4826) * 10000 + F.lit(0.5)
                ).cast("bigint"),
            ),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("cnt").cast("bigint").alias("cnt"),
            "robust_z_e4",
            (F.col("robust_z_e4") > 30000).cast("bigint").alias("is_anomaly"),
        )
        .orderBy("day")
    )


MAD_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt FROM events GROUP BY 1
),
med AS (SELECT quantile_cont(cnt, 0.5) AS m FROM daily),
dev AS (
  SELECT day, cnt, abs(cnt - (SELECT m FROM med)) AS ad FROM daily
),
mad AS (SELECT quantile_cont(ad, 0.5) AS d FROM dev),
scored AS (
  SELECT day, cnt,
         CASE WHEN (SELECT d FROM mad) > 0
              THEN CAST(floor(ad / ((SELECT d FROM mad) * 1.4826) * 10000 + 0.5)
                        AS BIGINT)
         END AS robust_z_e4
  FROM dev
)
SELECT strftime(day, '%Y-%m-%d') AS day, CAST(cnt AS BIGINT) AS cnt,
       robust_z_e4,
       CAST(robust_z_e4 > 30000 AS BIGINT) AS is_anomaly
FROM scored
ORDER BY day
"""


def cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by the week of their first
    event; for each (cohort_week, week_offset) the count of cohort users
    active that week. First-event aggregate + distinct (user, week)
    activity + one keyed join — the standard retention triangle."""
    e = _t(spark, sf_dir, "events")
    # integer div, never float-divide-then-cast: DuckDB CASTs doubles to
    # int by ROUNDING while Spark truncates — div agrees everywhere
    week = F.expr("datediff(ts, DATE '2024-01-01') div 7")
    first = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    cohort = first.select(
        "user_id",
        F.expr("datediff(t0, DATE '2024-01-01') div 7").alias("cohort_week"),
    )
    active = e.select("user_id", week.alias("week")).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            F.col("cohort_week").cast("bigint").alias("cohort_week"),
            (F.col("week") - F.col("cohort_week")).cast("bigint").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


COHORT_SQL = """
WITH first AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', min(ts)) // 7 AS cohort_week
  FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '2024-01-01', ts) // 7 AS week
  FROM events)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(week - cohort_week AS BIGINT) AS week_offset,
       CAST(count(*) AS BIGINT) AS active_users
FROM active JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------- outlier report ----


def outlier_orders(spark, sf_dir):
    """Extreme-value report per order-priority class: orders above their
    class's exact p99, with the distance above it and a classic Tukey
    1.5-IQR flag (informative on skewed real data; uniform synthetic data
    has none, which the flag makes visible instead of silently emptying
    the report). Per-class quantiles are a bounded aggregate (one row per
    class) broadcast back onto the fact."""
    o = _t(spark, sf_dir, "orders")
    fences = (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.25)").alias("__q1"),
            F.expr("percentile(o_totalprice, 0.75)").alias("__q3"),
            F.expr("percentile(o_totalprice, 0.99)").alias("__p99"),
        )
        .select(
            "o_orderpriority",
            F.col("__p99"),
            (F.col("__q3") + 1.5 * (F.col("__q3") - F.col("__q1"))).alias("__tukey"),
        )
    )
    return (
        o.join(F.broadcast(fences), "o_orderpriority")
        .filter(F.col("o_totalprice") > F.col("__p99"))
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("o_totalprice") - F.col("__p99"), 2).alias("above_p99"),
            (F.col("o_totalprice") > F.col("__tukey")).cast("bigint").alias(
                "is_tukey_outlier"
            ),
        )
        .orderBy("o_orderpriority", F.desc("o_totalprice"), "o_orderkey")
    )


OUTLIER_ORDERS_SQL = """
WITH fences AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.99) AS p99,
         quantile_cont(o_totalprice, 0.75)
           + 1.5 * (quantile_cont(o_totalprice, 0.75)
                    - quantile_cont(o_totalprice, 0.25)) AS tukey
  FROM orders GROUP BY o_orderpriority)
SELECT o.o_orderpriority, o_orderkey, o_totalprice,
       round(o_totalprice - p99, 2) AS above_p99,
       CAST(CASE WHEN o_totalprice > tukey THEN 1 ELSE 0 END AS BIGINT)
         AS is_tukey_outlier
FROM orders o JOIN fences f ON o.o_orderpriority = f.o_orderpriority
WHERE o_totalprice > p99
ORDER BY 1, o_totalprice DESC, o_orderkey
"""


# ------------------------------------------ curation pipeline v2 --------


def curate_corpus_v2(spark, sf_dir):
    """End-to-end curation with the round's new ops in ONE lineage:
    Gopher gate -> exact dedup (md5 fingerprint, keep lowest id) ->
    deterministic train/val/test split -> per-split doc/char accounting.
    The batch pipeline a pretraining run executes before tokenization;
    every stage is the already-oracled operator, composed."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    gated = gopher_quality_filter(d, "doc_id", "text").filter(F.col("keep") == 1)
    kept = d.join(gated.select("doc_id"), "doc_id")
    w = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    uniq = kept.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    )
    split = split_assign(uniq, "doc_id")
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length(F.trim("text"))).cast("bigint").alias("n_chars"),
        )
        .orderBy("split")
    )


CURATE_V2_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\\s+') AS tk,
         length(trim(text)) AS n_chars
  FROM documents),
r AS (
  SELECT doc_id, text, n_chars,
         len(tk) AS n_tokens,
         len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS stop_hits,
         len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS alpha_words
  FROM t),
keepers AS (
  SELECT doc_id, text, n_chars FROM r
  WHERE NOT (n_tokens < 5 OR n_tokens > 100000
             OR n_chars * 10 < 30 * n_tokens OR n_chars * 10 > 120 * n_tokens
             OR stop_hits < 1 OR alpha_words * 10000 < 6000 * n_tokens)),
uniq AS (
  SELECT doc_id, n_chars,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM keepers),
assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN {_SPLIT_BUCKET} < 'e666' THEN 'train'
              WHEN {_SPLIT_BUCKET} < 'f333' THEN 'val'
              ELSE 'test' END AS split
  FROM uniq WHERE rn = 1)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars
FROM assigned GROUP BY split ORDER BY split
"""


# ----------------------------------------------- cardinality sketches --


def cardinality_sketch_users(spark, sf_dir):
    """Distinct users per event_type, exact, with the HLL sketch accuracy
    contract pinned in-query: sketch_ok = 1 iff the mergeable-sketch
    estimate lands within 5% of exact. The oracle asserts the contract
    (literal 1), so a sketch drifting out of tolerance FAILS the hash
    gate rather than passing unnoticed."""
    return cardinality_check(
        _t(spark, sf_dir, "events"), "event_type", "user_id"
    )


CARDINALITY_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       CAST(1 AS BIGINT) AS sketch_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


# ------------------------------------------------- data-quality gate --


def dq_checks_orders(spark, sf_dir):
    """Pre-publish contract gate over orders: key uniqueness, non-null
    date, positive price, status domain, and customer FK integrity —
    one row per rule with its violation count (all 0 on healthy data,
    which is exactly what the oracle pins)."""
    from mbgspark.operators.profiling import check_constraints

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return check_constraints(
        o,
        unique=["o_orderkey"],
        not_null=["o_orderdate"],
        positive=["o_totalprice"],
        in_set={"o_orderstatus": ["F", "O", "P"]},
        fk=[("o_custkey", c, "c_custkey")],
    )


DQ_CHECKS_SQL = """
SELECT 'fk:o_custkey' AS rule,
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer
                               WHERE c_custkey = o.o_custkey)) AS BIGINT)
         AS n_violations
UNION ALL
SELECT 'in_set:o_orderstatus',
       CAST((SELECT count(*) FROM orders
             WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
UNION ALL
SELECT 'not_null:o_orderdate',
       CAST((SELECT count(*) FROM orders WHERE o_orderdate IS NULL) AS BIGINT)
UNION ALL
SELECT 'positive:o_totalprice',
       CAST((SELECT count(*) FROM orders
             WHERE NOT (o_totalprice > 0)) AS BIGINT)
UNION ALL
SELECT 'unique:o_orderkey',
       CAST((SELECT coalesce(sum(c - 1), 0) FROM
             (SELECT count(*) AS c FROM orders GROUP BY o_orderkey)) AS BIGINT)
ORDER BY rule
"""


# ------------------------------------------------ approx quantile check --


def quantile_sketch_check(spark, sf_dir):
    """Exact per-status order-value median/p95 with the approx-sketch
    accuracy contract pinned in-query: ok flags = 1 iff Spark's
    percentile_approx (Greenwald-Khanna, accuracy 1000 ⇒ rank error
    ≤ 0.1%) lands inside the exact ±2%-RANK bracket — the contract GK
    actually guarantees. (A relative-VALUE tolerance is data-dependent
    and broke on sparse groups: at ~500 rows the exact percentile
    INTERPOLATES between order statistics while the sketch returns a
    real data value, and the adjacent-value gap alone exceeded 1% —
    caught by the sf0.001 parity sweep.) Same device as the HLL check:
    the engine-specific sketch value never reaches the hash — the
    CONTRACT does, so sketch drift fails the gate instead of passing
    unnoticed. At 100 TB the sketch is the only affordable path (exact
    percentile sorts each group); this is its standing honesty check."""
    o = _t(spark, sf_dir, "orders")
    exact50 = F.expr("percentile(o_totalprice, 0.5)")
    exact95 = F.expr("percentile(o_totalprice, 0.95)")
    ap50 = F.percentile_approx("o_totalprice", 0.5, 1000)
    ap95 = F.percentile_approx("o_totalprice", 0.95, 1000)

    def in_rank_bracket(ap, lo_p, hi_p):
        return (ap >= F.expr(f"percentile(o_totalprice, {lo_p})")) & (
            ap <= F.expr(f"percentile(o_totalprice, {hi_p})")
        )

    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(exact50, 2).alias("median_exact"),
            F.round(exact95, 2).alias("p95_exact"),
            in_rank_bracket(ap50, 0.48, 0.52)
            .cast("bigint")
            .alias("median_sketch_ok"),
            in_rank_bracket(ap95, 0.93, 0.97)
            .cast("bigint")
            .alias("p95_sketch_ok"),
        )
        .orderBy("o_orderstatus")
    )


QUANTILE_SKETCH_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS median_exact,
       round(quantile_cont(o_totalprice, 0.95), 2) AS p95_exact,
       CAST(1 AS BIGINT) AS median_sketch_ok,
       CAST(1 AS BIGINT) AS p95_sketch_ok
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------- CUSUM change-point --


def cusum_daily_orders(spark, sf_dir):
    """CUSUM change-point statistics over the daily order-count series —
    the sequential drift detector (catches small sustained shifts a
    per-day z-score misses). The textbook recursion
    ``C_t = max(0, C_{t-1} + x_t - k)`` looks iterative, but it has the
    closed form ``C_t = S_t - min(0, min_{s<=t} S_s)`` with
    ``S_t = sum_{i<=t}(x_i - k)`` (the 0 is the implicit empty-prefix
    S_0 — dropping it breaks any series that starts ABOVE the mean,
    caught by the recursion-equality unit test) — two stacked window
    passes, no loop,
    no UDF. Windows run over the POST-AGGREGATE daily series (hundreds of
    rows), the same bounded-window precedent as dod_order_delta; k is
    the global mean daily count (integer division, broadcast 1-row).
    All-integer surface. Emits (day, cnt, cusum_pos, cusum_neg)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    k = daily.agg(
        F.floor(F.sum("cnt") / F.count(F.lit(1))).cast("bigint").alias("__k")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    s = daily.crossJoin(F.broadcast(k)).withColumn(
        "__s", F.sum(F.col("cnt") - F.col("__k")).over(w)
    )
    return (
        s.withColumn("__smin", F.least(F.lit(0), F.min("__s").over(w)))
        .withColumn("__smax", F.greatest(F.lit(0), F.max("__s").over(w)))
        .select(
            "day",
            F.col("cnt").cast("bigint").alias("cnt"),
            (F.col("__s") - F.col("__smin")).cast("bigint").alias("cusum_pos"),
            (F.col("__smax") - F.col("__s")).cast("bigint").alias("cusum_neg"),
        )
        .orderBy("day")
    )


CUSUM_SQL = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day, count(*) AS cnt
  FROM orders GROUP BY 1
),
k AS (SELECT CAST(floor(sum(cnt) / count(*)) AS BIGINT) AS k FROM daily),
s AS (
  SELECT day, cnt,
         sum(cnt - (SELECT k FROM k)) OVER (
           ORDER BY day ROWS UNBOUNDED PRECEDING) AS s
  FROM daily
)
SELECT day, CAST(cnt AS BIGINT) AS cnt,
       CAST(s - least(0, min(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
            AS BIGINT) AS cusum_pos,
       CAST(greatest(0, max(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)) - s
            AS BIGINT) AS cusum_neg
FROM s ORDER BY day
"""


# ------------------------------------------------------- feature store --


def user_features(spark, sf_dir):
    """Per-user ML feature vector in ONE aggregation pass over events —
    the feature-store materialization shape: recency (days from last
    event to corpus end), frequency, monetary sum, distinct event types,
    and the modal event type (deterministic max_by tie-break via the
    (count, type) struct ordering). The corpus-end anchor rides a 1-row
    broadcast so the whole thing is a single keyed aggregate + a
    row-local projection — no second scan, no window over raw events."""
    e = _t(spark, sf_dir, "events")
    anchor = e.agg(F.max("ts").alias("__end"))
    per_type = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("__n"), F.max("ts").alias("__last"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("__v"),
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("__n").cast("bigint").alias("frequency"),
            F.round(F.sum("__v"), 2).cast("double").alias("monetary"),
            F.count(F.lit(1)).cast("bigint").alias("n_event_types"),
            F.max("__last").alias("__last_ts"),
            F.expr(
                # lexicographic (zero-padded count | type) == (count, type)
                # ordering — a struct ordering key is Spark-only; the padded
                # string is portable to the DuckDB oracle's max_by
                "max_by(event_type, concat(lpad(cast(__n as string), 10, '0'),"
                " '|', event_type))"
            ).alias("modal_event_type"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("__end"), F.col("__last_ts"))
            .cast("bigint")
            .alias("recency_days"),
            "frequency",
            "monetary",
            "n_event_types",
            "modal_event_type",
        )
        .orderBy("user_id")
    )


USER_FEATURES_SQL = """
WITH anchor AS (SELECT max(ts) AS e FROM events),
per_type AS (
  SELECT user_id, event_type, count(*) AS n, max(ts) AS last_ts,
         sum(CAST(value AS DECIMAL(12,2))) AS v
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(date_diff('day', CAST(max(last_ts) AS DATE),
                      CAST((SELECT e FROM anchor) AS DATE)) AS BIGINT)
         AS recency_days,
       CAST(sum(n) AS BIGINT) AS frequency,
       CAST(round(sum(v), 2) AS DOUBLE) AS monetary,
       CAST(count(*) AS BIGINT) AS n_event_types,
       max_by(event_type, lpad(CAST(n AS VARCHAR), 10, '0') || '|' || event_type)
         AS modal_event_type
FROM per_type
GROUP BY user_id ORDER BY user_id
"""


def loo_target_encode(spark, sf_dir):
    """Leave-one-out target encoding of order priority against order
    value — the leakage-safe categorical encoder for ML training: each
    row's encoding is the mean of OTHER rows' targets in its category,
    (sum - own) / (n - 1). One bounded category aggregate broadcast back
    onto the fact; integer-cent arithmetic keeps the surface exact until
    the final 2-dp division."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    cat = o.select("o_orderkey", "o_orderpriority", cents.alias("__c"))
    aggd = cat.groupBy("o_orderpriority").agg(
        F.sum("__c").alias("__sum"), F.count(F.lit(1)).alias("__n")
    )
    return (
        cat.join(F.broadcast(aggd), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.when(
                F.col("__n") > 1,
                F.round(
                    (F.col("__sum") - F.col("__c"))
                    / (F.col("__n") - 1)
                    / 100.0,
                    2,
                ),
            ).alias("loo_mean_price"),
        )
        .orderBy("o_orderkey")
    )


LOO_ENCODE_SQL = """
WITH cat AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders WHERE o_custkey < 50
),
aggd AS (
  SELECT o_orderpriority, sum(c) AS s, count(*) AS n
  FROM cat GROUP BY o_orderpriority
)
SELECT o_orderkey, o_orderpriority,
       CASE WHEN n > 1
            THEN round((s - c) / CAST(n - 1 AS DOUBLE) / 100.0, 2)
            END AS loo_mean_price
FROM cat JOIN aggd USING (o_orderpriority)
ORDER BY o_orderkey
"""


# ----------------------------------------------------------- PSI drift --


def drift_psi(spark, sf_dir):
    """Distribution-drift PSI between the corpus and a deterministically
    mutated next snapshot (every 89th doc dropped; every 97th doc grown
    by 40 chars — the same in-query mutation device as
    corpus_snapshot_diff), over two features: the log2 length bucket and
    the language. One PSI row per feature, integer micro-units."""
    from mbgspark.operators.profiling import distribution_drift_psi

    d = _t(spark, sf_dir, "documents")
    grown = F.col("n_chars") + F.when(F.col("doc_id") % 97 == 0, 40).otherwise(0)
    new = d.filter(F.col("doc_id") % 89 != 0).withColumn("n_chars", grown)

    def len_bucket(frame):
        n = F.col("n_chars").cast("bigint")
        return frame.select(
            F.when(n > 0, F.length(F.bin(n))).otherwise(F.lit(0))
            .cast("bigint")
            .alias("b")
        )

    psi_len = distribution_drift_psi(len_bucket(d), len_bucket(new), "b").select(
        F.lit("len_bucket").alias("feature"), "n_buckets", "psi_micro"
    )
    psi_lang = distribution_drift_psi(
        d.select(F.col("lang").alias("b")), new.select(F.col("lang").alias("b")), "b"
    ).select(F.lit("lang").alias("feature"), "n_buckets", "psi_micro")
    return psi_len.unionByName(psi_lang).orderBy("feature")


def _psi_sql(old_sel: str, new_sel: str, feature: str) -> str:
    return f"""
SELECT '{feature}' AS feature, CAST(nb AS BIGINT) AS n_buckets,
       CAST(sum(term_micro) AS BIGINT) AS psi_micro
FROM (
  SELECT nb,
         CAST(floor(((c1 + 1.0) / (n1 + nb) - (c2 + 1.0) / (n2 + nb))
                    * ln(((c1 + 1.0) / (n1 + nb)) / ((c2 + 1.0) / (n2 + nb)))
                    * 1000000 + 0.5) AS BIGINT) AS term_micro
  FROM (
    SELECT b,
           coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2,
           sum(coalesce(c1, 0)) OVER () AS n1,
           sum(coalesce(c2, 0)) OVER () AS n2,
           count(*) OVER () AS nb
    FROM (SELECT b, count(*) AS c1 FROM ({old_sel}) GROUP BY b) o
    FULL OUTER JOIN (SELECT b, count(*) AS c2 FROM ({new_sel}) GROUP BY b) n
    USING (b)
  )
) GROUP BY nb"""


_OLD_LEN = """SELECT CASE WHEN n_chars > 0 THEN length(bin(n_chars)) ELSE 0 END AS b
FROM documents"""
_NEW_LEN = """SELECT CASE WHEN nc > 0 THEN length(bin(nc)) ELSE 0 END AS b FROM (
  SELECT n_chars + CASE WHEN doc_id % 97 = 0 THEN 40 ELSE 0 END AS nc
  FROM documents WHERE doc_id % 89 <> 0)"""
_OLD_LANG = "SELECT lang AS b FROM documents"
_NEW_LANG = "SELECT lang AS b FROM documents WHERE doc_id % 89 <> 0"

DRIFT_PSI_SQL = (
    _psi_sql(_OLD_LEN, _NEW_LEN, "len_bucket")
    + " UNION ALL "
    + _psi_sql(_OLD_LANG, _NEW_LANG, "lang")
    + " ORDER BY feature"
)


# ------------------------------------------------ chi-square association --


def chi2_lang_source(spark, sf_dir):
    """Chi-square independence of (lang, source) over documents — the
    association-drift alarm (PSI sees marginal shifts; this catches one
    source changing its language mix). Exact integer micro surface."""
    from mbgspark.operators.profiling import chi2_independence

    return chi2_independence(_t(spark, sf_dir, "documents"), "lang", "source")


CHI2_SQL = """
WITH observed AS (
  SELECT lang AS a, source AS b, count(*) AS obs
  FROM documents GROUP BY lang, source
),
lattice AS (
  SELECT a, b
  FROM (SELECT DISTINCT a FROM observed)
  CROSS JOIN (SELECT DISTINCT b FROM observed)
),
cells AS (
  SELECT a, b, coalesce(obs, 0) AS obs
  FROM lattice LEFT JOIN observed USING (a, b)
),
m AS (
  SELECT a, b, obs,
         sum(obs) OVER (PARTITION BY a) AS ra,
         sum(obs) OVER (PARTITION BY b) AS cb,
         sum(obs) OVER () AS n,
         (SELECT count(DISTINCT lang) FROM documents) AS na,
         (SELECT count(DISTINCT source) FROM documents) AS nb
  FROM cells
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST((any_value(na) - 1) * (any_value(nb) - 1) AS BIGINT) AS dof,
       CAST(sum(CAST(floor(pow(obs - ra * cb / CAST(n AS DOUBLE), 2)
                           / (ra * cb / CAST(n AS DOUBLE))
                           * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS chi2_micro
FROM m
"""


# ----------------------------------------------------- count-min sketch --


def count_min_user_events(spark, sf_dir):
    """Count-Min sketch frequency estimates vs exact per-user event
    counts: the 4x256-counter sketch answers every point query with a
    deterministic (md5-hashed) overestimate — est >= exact cell-wise, and
    both engines compute identical counters, so the estimate column
    itself is value-hash checked (not just a tolerance flag, unlike the
    engine-specific HLL binaries)."""
    from mbgspark.operators.profiling import cm_estimate, count_min_sketch

    e = _t(spark, sf_dir, "events")
    sketch = count_min_sketch(e, "user_id", width=256, depth=4)
    est = cm_estimate(sketch, e, "user_id", width=256, depth=4)
    exact = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")
    )
    return exact.join(est, "user_id").orderBy("user_id")


COUNT_MIN_SQL = """
WITH probes AS (
  SELECT user_id, g.i AS h,
         (('0x' || substr(md5(CAST(g.i AS VARCHAR) || '|'
                              || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
          % 256) AS bucket
  FROM events, LATERAL unnest(generate_series(0, 3)) AS g(i)
),
sketch AS (SELECT h, bucket, count(*) AS cnt FROM probes GROUP BY h, bucket),
keyprobes AS (SELECT DISTINCT user_id, h, bucket FROM probes),
est AS (
  SELECT user_id, min(coalesce(cnt, 0)) AS cm_est
  FROM keyprobes LEFT JOIN sketch USING (h, bucket)
  GROUP BY user_id
),
exact AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id)
SELECT user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
       CAST(cm_est AS BIGINT) AS cm_est
FROM exact JOIN est USING (user_id)
ORDER BY user_id
"""


# ---------------------------------------------------- inter-event gaps --


def inter_event_gaps(spark, sf_dir):
    """Per-user inter-event-time distribution: exact interpolated median
    and p90 of the gaps between consecutive events (microsecond-exact lag
    arithmetic; percentiles interpolate over integers, deterministic in
    both engines), plus the max gap — the dwell/engagement profile that
    feeds sessionization-timeout and bot-detection thresholds. One window
    pass partitioned by user (no global sort), one aggregate."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.withColumn("__prev_us", F.lag(F.unix_micros("ts")).over(w))
        .withColumn("__gap_us", F.unix_micros("ts") - F.col("__prev_us"))
        .filter(F.col("__gap_us").isNotNull())
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
            F.round(F.expr("percentile(__gap_us, 0.5)") / 1000000.0, 2).alias(
                "median_gap_s"
            ),
            F.round(F.expr("percentile(__gap_us, 0.9)") / 1000000.0, 2).alias(
                "p90_gap_s"
            ),
            (F.max("__gap_us") / F.lit(1000000)).cast("bigint").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


INTER_EVENT_GAPS_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT user_id,
       CAST(count(*) + 1 AS BIGINT) AS n_events,
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 2) AS median_gap_s,
       round(quantile_cont(gap_us, 0.9) / 1000000.0, 2) AS p90_gap_s,
       CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""


PROFILING = {
    "contamination_embedding": (contamination_embedding, CONTAMINATION_EMBEDDING_SQL),
    "profile_orders": (profile_orders, PROFILE_ORDERS_SQL),
    "profile_lineitem_numeric": (profile_lineitem_numeric, PROFILE_NUMERIC_SQL),
    "heavy_hitter_keys": (heavy_hitter_keys, HEAVY_HITTERS_SQL),
    "split_assign_counts": (split_assign_counts, SPLIT_ASSIGN_SQL),
    "split_leakage_counts": (split_leakage_counts, SPLIT_LEAKAGE_SQL),
    "group_sample_per_lang": (group_sample_per_lang, GROUP_SAMPLE_SQL),
    "doc_length_histogram": (doc_length_histogram, LENGTH_HISTOGRAM_SQL),
    "gopher_quality": (gopher_quality, GOPHER_QUALITY_SQL),
    "corpus_snapshot_diff": (corpus_snapshot_diff, SNAPSHOT_DIFF_SQL),
    "quality_by_domain": (quality_by_domain, QUALITY_BY_DOMAIN_SQL),
    "curate_corpus_v2": (curate_corpus_v2, CURATE_V2_SQL),
    "outlier_orders": (outlier_orders, OUTLIER_ORDERS_SQL),
    "funnel_view_click_purchase": (funnel_view_click_purchase, FUNNEL_SQL),
    "cohort_retention": (cohort_retention, COHORT_SQL),
    "inter_event_gaps": (inter_event_gaps, INTER_EVENT_GAPS_SQL),
    "cardinality_sketch_users": (cardinality_sketch_users, CARDINALITY_SQL),
    "count_min_user_events": (count_min_user_events, COUNT_MIN_SQL),
    "drift_psi": (drift_psi, DRIFT_PSI_SQL),
    "chi2_lang_source": (chi2_lang_source, CHI2_SQL),
    "user_features": (user_features, USER_FEATURES_SQL),
    "loo_target_encode": (loo_target_encode, LOO_ENCODE_SQL),
    "cusum_daily_orders": (cusum_daily_orders, CUSUM_SQL),
    "quantile_sketch_check": (quantile_sketch_check, QUANTILE_SKETCH_SQL),
    "dq_checks_orders": (dq_checks_orders, DQ_CHECKS_SQL),
    "funnel_latency": (funnel_latency, FUNNEL_LATENCY_SQL),
    "event_transitions": (event_transitions, EVENT_TRANSITIONS_SQL),
    "embedding_drift": (embedding_drift, EMBEDDING_DRIFT_SQL),
    "top_session_paths": (top_session_paths, TOP_PATHS_SQL),
    "rolling_distinct_users": (rolling_distinct_users, ROLLING_DISTINCT_SQL),
    "rfm_segments": (rfm_segments, RFM_SQL),
    "mad_anomalous_days": (mad_anomalous_days, MAD_SQL),
}
