"""Extension query set: the operations a large-scale training-data pipeline
needs beyond the reference's own surface (north-star scope) — dedup suite
(exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding-cosine),
similarity search (brute-force + IVF), text analysis (lang-ID, quality,
token counts, fingerprints), and multimodal binary-column plumbing.

Near-dup queries synthesize their own duplicates (the testdata corpus has
none): a perturbed copy of low-id documents is unioned in with id+1000000,
IDENTICALLY in the Spark builder and the DuckDB oracle, so both engines see
the same corpus and the expected pairs are non-trivial.

Portability rules as in catalog_core: md5-based hashing only (bit-identical
across engines), rounded floats, total ordering, bigint casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbgspark.io import ensure_width
from mbgspark.operators import dedup as dd
from mbgspark.operators.multimodal import extract_features, frame_sample
from mbgspark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    hard_negative_topk,
    kmeans_assignments,
    quantized_topk,
)
from mbgspark.operators.textstats import (
    chunk_documents,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
    with_token_counts,
)
from mbgspark.plans.catalog_core import _money_sum, _t

# ------------------------------------------------------------------ dedup --

# Shared perturbed-corpus construction (Spark + SQL twins).
DUP_SQL_UNION = """
  SELECT doc_id AS id, lower(trim(text)) AS t FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS id,
         lower(trim(substr(text, strpos(text, ' ') + 1))) AS t
  FROM documents WHERE doc_id < 30
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies (first token dropped) of doc_id < 30.

    Repartitioned to the session's default parallelism: the documents
    parquet at test SFs is one small file (1–2 scan splits), which would pin
    the downstream shingle explode — the expensive narrow map of the whole
    dedup suite — to 2 of 32 cores (measured: shingling alone 1.3 s at
    sf0.1, ~16× under-parallelized). The 5k-row shuffle costs ~50 ms and
    buys wide execution; at production scale the scan has enough splits on
    its own and a corpus builder would skip this. Width capped at 16: the
    full 32 over-schedules tiny tasks (measured best-of-3 at sf0.1:
    rep=0 1.76 s, rep=32 1.60 s, rep=16 1.23 s for the minhash pipeline)."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(F.col("doc_id").alias("id"), F.lower(F.trim("text")).alias("t"))
    pert = (
        d.filter(F.col("doc_id") < 30)
        .select(
            (F.col("doc_id") + 1000000).alias("id"),
            F.lower(
                F.trim(F.expr("substring(text, instr(text, ' ') + 1)"))
            ).alias("t"),
        )
    )
    # hash-widen by id (r15): the minhash signature groupBy(id) rides the
    # widener exchange instead of adding its own (see ensure_width)
    return ensure_width(base.unionByName(pert), by="id")


def dedup_exact(spark, sf_dir):
    """Exact dedup via content-hash groupBy: fingerprint → keeper (min id) +
    copy count. Corpus = documents ∪ exact copies of doc_id < 50."""
    d = _t(spark, sf_dir, "documents")
    base = d.select(F.col("doc_id").alias("id"), F.col("text"))
    copies = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("id"), F.col("text")
    )
    return (
        base.unionByName(copies)
        .groupBy(F.md5(F.lower(F.trim("text"))).alias("fingerprint"))
        .agg(F.min("id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .orderBy("fingerprint")
    )


DEDUP_EXACT_SQL = """
WITH unioned AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50
)
SELECT md5(lower(trim(text))) AS fingerprint, min(id) AS keeper_id,
       count(*) AS n_copies
FROM unioned GROUP BY 1 ORDER BY fingerprint
"""


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(8) + LSH(4 bands × 2) near-dup pairs, Jaccard-verified ≥ 0.5."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.minhash_near_dups(
        corpus, "id", "t", k=3, num_hashes=8, bands=4, threshold=0.5
    ).orderBy("id_a", "id_b")


# 15-hex-char (60-bit) windows — the values must match
# operators/dedup._sig_aggs exactly, not the expressions: the Spark side
# parses each md5 twice (chars 1–15 and 15–29), shifts the eight windows
# out of the two parses, takes the min numerically for HashAggregate
# planning and renders back; fixed-width lowercase hex makes the string
# min here identical
_MINHASH_SIG_COLS = ",\n         ".join(
    f"min(substr(md5(shingle), {2 * i + 1}, 15)) AS h{i}" for i in range(8)
)
_MINHASH_BANDS = "\n  UNION ALL\n".join(
    f"  SELECT id, {b} AS band_idx, md5(h{2*b} || '|' || h{2*b+1}) AS band_key FROM sig"
    for b in range(4)
)

DEDUP_MINHASH_SQL = f"""
WITH unioned AS ({DUP_SQL_UNION}),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
sig AS (
  SELECT id, {_MINHASH_SIG_COLS}
  FROM sh GROUP BY id
),
bands AS (
{_MINHASH_BANDS}
),
-- skew guard mirror: drop band buckets larger than max_bucket_size=1000
-- (lsh_candidate_pairs default) before pair generation
bands_sized AS (
  SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
  FROM bands
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands_sized a JOIN bands_sized b USING (band_idx, band_key)
  WHERE a.id < b.id AND a.bucket_n <= 1000
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5 ORDER BY id_a, id_b
"""



def dedup_minhash_estimate(spark, sf_dir):
    """MinHash signature-agreement Jaccard ESTIMATES alongside exact
    Jaccard for every verified near-dup pair — the accuracy surface of
    the verify-free fast path and the (hashes, bands) tuning diagnostic."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.minhash_estimate_pairs(
        corpus, "id", "t", k=3, num_hashes=8, bands=4, threshold=0.5
    ).orderBy("id_a", "id_b")


_MINHASH_EST_MATCHES = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(8)
)

DEDUP_MINHASH_EST_SQL = f"""
WITH unioned AS ({DUP_SQL_UNION}),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
sig AS (
  SELECT id, {_MINHASH_SIG_COLS}
  FROM sh GROUP BY id
),
bands AS (
{_MINHASH_BANDS}
),
bands_sized AS (
  SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bucket_n
  FROM bands
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands_sized a JOIN bands_sized b USING (band_idx, band_key)
  WHERE a.id < b.id AND a.bucket_n <= 1000
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
)
SELECT j.id_a, j.id_b, j.jaccard,
       CAST(floor(({_MINHASH_EST_MATCHES}) * 10000.0 / 8) AS BIGINT)
         AS minhash_est_e4
FROM jac j
JOIN sig sa ON sa.id = j.id_a
JOIN sig sb ON sb.id = j.id_b
WHERE j.jaccard >= 0.5
ORDER BY j.id_a, j.id_b
"""



def dedup_strategy_venn(spark, sf_dir):
    """Strategy-comparison report: duplicate pairs found by EXACT
    normalized-text match vs by MinHash near-dup (jaccard >= 0.5), as a
    Venn of pair sets — the tuning surface for "is near-dup adding
    anything over exact, and is LSH losing exact pairs". The invariant
    worth watching: exact duplicates share every band, so exact_only can
    exceed 0 ONLY when the bucket cap dropped a viral bucket — this
    report is where that loss becomes visible in one number. At
    production scale persist BOTH pair frames before the comparison
    (the index-discipline rule): each side's lineage — the exact
    self-join and the full MinHash pipeline — appears once in this
    lazy plan, but per-side column pruning blocks ReuseExchange of the
    shared corpus scans, so materializing the (small) pair sets is the
    cost model a real audit wants anyway. Caveat:
    documents with EMPTY normalized text can also land in exact_only
    without any cap involvement — they form exact md5 pairs but produce
    no shingles, so they never reach the band stage; on corpora with
    empty docs, read exact_only alongside a min-length gate."""
    corpus = _dup_corpus(spark, sf_dir)
    exact_pairs = (
        corpus.alias("a")
        .join(
            corpus.alias("b"),
            (F.md5(F.col("a.t")) == F.md5(F.col("b.t")))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    near_pairs = dd.minhash_near_dups(
        corpus, "id", "t", k=3, num_hashes=8, bands=4, threshold=0.5
    ).select("id_a", "id_b")
    # ONE full-outer pass classifies every pair — three separate
    # inner/anti branches would re-derive both expensive pair lineages
    # per branch (per-branch pruning defeats ReuseExchange, the
    # build_ivf_index lesson); the literal 3-row spine keeps empty
    # categories present with n_pairs = 0
    j = exact_pairs.withColumn("__e", F.lit(1)).join(
        near_pairs.withColumn("__n", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    cat = (
        F.when(F.col("__e").isNotNull() & F.col("__n").isNotNull(), "both")
        .when(F.col("__e").isNotNull(), "exact_only")
        .otherwise("near_only")
    )
    counts = j.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    spine = spark.createDataFrame(
        [("both",), ("exact_only",), ("near_only",)], "category string"
    )
    return (
        spine.join(counts, "category", "left")
        .select(
            "category",
            F.coalesce("__c", F.lit(0)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("category")
    )


DEDUP_VENN_SQL = f"""
WITH unioned AS ({DUP_SQL_UNION}),
exact_pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM unioned a JOIN unioned b
    ON md5(a.t) = md5(b.t) AND a.id < b.id
),
near_pairs AS (
  SELECT id_a, id_b FROM ({DEDUP_MINHASH_SQL.replace("ORDER BY id_a, id_b", "")})
)
SELECT 'both' AS category,
       CAST((SELECT count(*) FROM exact_pairs e
             JOIN near_pairs n USING (id_a, id_b)) AS BIGINT) AS n_pairs
UNION ALL
SELECT 'exact_only',
       CAST((SELECT count(*) FROM exact_pairs e
             WHERE NOT EXISTS (SELECT 1 FROM near_pairs n
                               WHERE n.id_a = e.id_a AND n.id_b = e.id_b))
            AS BIGINT)
UNION ALL
SELECT 'near_only',
       CAST((SELECT count(*) FROM near_pairs n
             WHERE NOT EXISTS (SELECT 1 FROM exact_pairs e
                               WHERE e.id_a = n.id_a AND e.id_b = n.id_b))
            AS BIGINT)
ORDER BY category
"""


def dedup_incremental(spark, sf_dir):
    """Incremental MinHash near-dup: a 45-doc ingest batch (two perturbed
    copies per source doc — first token dropped, ids +1M / +2M) checked
    against the documents corpus and against itself; corpus-corpus pairs
    are never generated (they were found at their own ingest time).
    match_source says which side each hit came from."""
    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        F.col("doc_id").alias("id"), F.lower(F.trim("text")).alias("t")
    )
    corpus = ensure_width(corpus, by="id")  # sig groupBy rides (r15)
    drop_first = F.lower(F.trim(F.expr("substring(text, instr(text, ' ') + 1)")))
    b1 = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 1000000).alias("id"), drop_first.alias("t")
    )
    b2 = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 2000000).alias("id"), drop_first.alias("t")
    )
    return dd.minhash_near_dups_incremental(
        b1.unionByName(b2), corpus, "id", "t",
        k=3, num_hashes=8, bands=4, threshold=0.5,
    ).orderBy("id_a", "id_b")


def _minhash_side_sql(side: str) -> str:
    """Shared shingle -> signature -> band CTE chain for one side."""
    bands = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band_idx, md5(h{2*b} || '|' || h{2*b+1}) AS band_key"
        f" FROM {side}sig"
        for b in range(4)
    )
    return f"""
{side}toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM {side}),
{side}sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM {side}toks,
       LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
{side}sig AS (
  SELECT id, {_MINHASH_SIG_COLS}
  FROM {side}sh GROUP BY id
),
{side}bands AS (
{bands}
)"""


DEDUP_INCREMENTAL_SQL = f"""
WITH corpus AS (SELECT doc_id AS id, lower(trim(text)) AS t FROM documents),
batch AS (
  SELECT doc_id + 1000000 AS id,
         lower(trim(substr(text, strpos(text, ' ') + 1))) AS t
  FROM documents WHERE doc_id < 30
  UNION ALL
  SELECT doc_id + 2000000 AS id,
         lower(trim(substr(text, strpos(text, ' ') + 1))) AS t
  FROM documents WHERE doc_id < 15
),{_minhash_side_sql('corpus')},{_minhash_side_sql('batch')},
comb AS (
  SELECT band_idx, band_key FROM corpusbands
  UNION ALL SELECT band_idx, band_key FROM batchbands
),
ok AS (
  SELECT band_idx, band_key FROM comb
  GROUP BY band_idx, band_key HAVING count(*) <= 1000
),
bok AS (SELECT b.* FROM batchbands b JOIN ok USING (band_idx, band_key)),
cok AS (SELECT c.* FROM corpusbands c JOIN ok USING (band_idx, band_key)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, 'corpus' AS match_source
  FROM bok a JOIN cok b USING (band_idx, band_key)
  UNION
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, 'batch' AS match_source
  FROM bok a JOIN bok b USING (band_idx, band_key) WHERE a.id < b.id
),
allsh AS (SELECT * FROM corpussh UNION ALL SELECT * FROM batchsh),
counts AS (SELECT id, count(*) AS n_sh FROM allsh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, c.match_source, count(*) AS n_inter
  FROM cand c
  JOIN allsh sa ON sa.id = c.id_a
  JOIN allsh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard,
         match_source
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
)
SELECT id_a, id_b, jaccard, match_source
FROM jac WHERE jaccard >= 0.5 ORDER BY id_a, id_b
"""


def dup_spans(spark, sf_dir):
    """Substring-level duplication candidates over the perturbed corpus:
    6-word spans in >= 2 distinct docs, top-50 by doc frequency — the
    exact-substring dedup surface doc-level dedup misses (a shared
    boilerplate paragraph inside otherwise-different documents)."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.duplicated_spans(corpus, "id", "t", k=6, min_docs=2, top=50)


_SPAN6 = "concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5])"

DUP_SPANS_SQL = f"""
WITH unioned AS ({DUP_SQL_UNION}),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, {_SPAN6} AS span
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 5, 1))) AS g(i)
  WHERE {_SPAN6} <> ''
),
agg AS (
  SELECT span, CAST(count(*) AS BIGINT) AS n_docs, min(id) AS example_doc
  FROM sh GROUP BY span
)
SELECT span, n_docs, example_doc FROM agg
WHERE n_docs >= 2
ORDER BY n_docs DESC, span
LIMIT 50
"""


def dedup_simhash(spark, sf_dir):
    """32-bit SimHash signature per document over the perturbed corpus."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.simhash32(corpus, "id", "t").orderBy("id")


DEDUP_SIMHASH_SQL = """
WITH unioned AS ({union}),
toks AS (
  SELECT id, unnest(string_split_regex(t, '\\s+')) AS tok FROM unioned
),
bits AS (
  SELECT id, g.i - 1 AS bit,
         CASE WHEN substr(md5(tok), CAST(g.i AS INTEGER), 1)
                   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS vote
  FROM (SELECT id, tok FROM toks WHERE tok <> '') x,
       LATERAL unnest(generate_series(1, 32)) AS g(i)
),
votes AS (SELECT id, bit, sum(vote) AS v FROM bits GROUP BY id, bit)
SELECT id,
       CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                     ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY id ORDER BY id
""".format(union=DUP_SQL_UNION)


def dedup_simhash_pairs(spark, sf_dir):
    """SimHash hamming-bucket near-dup pairs (Manku WWW'07 shape) over the
    bounded perturbed corpus (id < 300 ∪ perturbed — same subset as the
    n-gram suite: 8-bit bands give 256 buckets, so candidates stay
    bounded at gate SFs; the operator docstring carries the band-width
    sizing rule for larger corpora)."""
    corpus = _dup_corpus(spark, sf_dir).filter(
        (F.col("id") < 300) | (F.col("id") >= 1000000)
    )
    return dd.simhash_near_dups(
        corpus, "id", "t", bands=4, max_hamming=3
    ).orderBy("id_a", "id_b")


DEDUP_SIMHASH_PAIRS_SQL = """
WITH unioned0 AS ({union}),
unioned AS (SELECT * FROM unioned0 WHERE id < 300 OR id >= 1000000),
toks AS (
  SELECT id, unnest(string_split_regex(t, '\\s+')) AS tok FROM unioned
),
bits AS (
  SELECT id, g.i - 1 AS bit,
         CASE WHEN substr(md5(tok), CAST(g.i AS INTEGER), 1)
                   IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END AS vote
  FROM (SELECT id, tok FROM toks WHERE tok <> '') x,
       LATERAL unnest(generate_series(1, 32)) AS g(i)
),
votes AS (SELECT id, bit, sum(vote) AS v FROM bits GROUP BY id, bit),
sig AS (
  SELECT id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY id
),
bands AS (
  SELECT id, simhash, b.b AS band_idx, (simhash >> (b.b * 8)) & 255 AS band_val
  FROM sig, (VALUES (0), (1), (2), (3)) AS b(b)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b USING (band_idx, band_val)
  WHERE a.id < b.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
ORDER BY id_a, id_b
""".format(union=DUP_SQL_UNION)


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (3-word shingle) Jaccard similarity join: candidate pairs
    = any shared shingle (equi-join on shingle, no LSH), verified ≥ 0.5.
    Subset (doc_id < 300 ∪ perturbed < 30) keeps the all-shared-pairs
    blow-up bounded — the LSH variant is the scale path. Delegates to
    ``dedup.ngram_jaccard_pairs`` (r8): ``auto`` resolves to the driver
    twin on this by-construction-bounded corpus (~10 sequential tiny-data
    stages collapse to one scan) with the shared-exchange distributed
    join as the overflow path. Unordered (driver hash is order-insensitive;
    the r8 live scanfed-sort lint flagged the old presentational orderBy —
    its sampler re-ran the scan lineage in the distributed path)."""
    corpus = _dup_corpus(spark, sf_dir).filter(
        (F.col("id") < 300) | (F.col("id") >= 1000000)
    )
    return dd.ngram_jaccard_pairs(corpus, "id", "t", k=3, threshold=0.5)


DEDUP_NGRAM_SQL = f"""
WITH unioned0 AS ({DUP_SQL_UNION}),
unioned AS (SELECT * FROM unioned0 WHERE id < 300 OR id >= 1000000),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
)
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
"""


def dup_components(spark, sf_dir):
    """Duplicate-cluster identification: the n-gram Jaccard pairs become an
    undirected graph and ``connected_components`` assigns each doc its
    cluster (= min doc id in its connected component) plus the cluster
    size — the step that turns pairwise matches into one-keeper-per-group
    semantic dedup. Oracle: DuckDB recursive-CTE transitive closure."""
    from mbgspark.operators.components import connected_components

    edges = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(edges, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return comp.join(sizes, "component").select(
        "id", "component", "cluster_size"
    ).orderBy("id")


DUP_COMPONENTS_SQL = f"""
WITH RECURSIVE unioned0 AS ({DUP_SQL_UNION}),
unioned AS (SELECT * FROM unioned0 WHERE id < 300 OR id >= 1000000),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
),
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS comp FROM und
  UNION
  SELECT und.a AS id, reach.comp FROM und JOIN reach ON reach.id = und.b
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY component)
SELECT c.id, c.component, s.cluster_size
FROM comp c JOIN sizes s USING (component)
ORDER BY c.id
"""



def dup_cluster_histogram(spark, sf_dir):
    """Dedup observability rollup: the duplicate-cluster SIZE DISTRIBUTION
    (how many clusters of each size, how many docs they hold) — the
    one-glance answer to "how duplicated is this corpus and is it a few
    mega-clusters or a long tail". Rides the exact dup_components
    lineage; the rollup is a two-level bounded aggregate."""
    from mbgspark.operators.components import connected_components

    edges = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(edges, "id_a", "id_b")
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


DUP_CLUSTER_HIST_SQL = DUP_COMPONENTS_SQL.replace(
    """SELECT c.id, c.component, s.cluster_size
FROM comp c JOIN sizes s USING (component)
ORDER BY c.id""",
    """SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size""",
)


def dedup_semantic_keep_best(spark, sf_dir):
    """The COMPLETE semantic-dedup chain as one lineage: n-gram Jaccard
    pairs → connected components (large-star/small-star) → quality-aware
    canonical selection — per duplicate cluster keep the longest document
    (ties → min id); singletons survive untouched. This is the
    one-keeper-per-group policy a curation pipeline actually ships, with
    quality (here: char length — engine-identical, tokenizer-free) rather
    than min-id deciding the keeper. Oracle: same pair pipeline +
    recursive-CTE closure + window argmax in DuckDB."""
    from mbgspark.operators.components import (
        canonical_best_by_component,
        connected_components,
    )

    corpus = _dup_corpus(spark, sf_dir).filter(
        (F.col("id") < 300) | (F.col("id") >= 1000000)
    )
    edges = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(edges, "id_a", "id_b")
    docs = corpus.withColumn("score", F.length("t").cast("bigint"))
    kept = canonical_best_by_component(docs, comp, "id", "score")
    return kept.select(
        "id", F.col("component").cast("bigint").alias("component"), "score"
    ).orderBy("id")


DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE unioned0 AS ({{DUP_SQL_UNION}}),
unioned AS (SELECT * FROM unioned0 WHERE id < 300 OR id >= 1000000),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b USING (shingle) WHERE a.id < b.id
),
counts AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
),
jac AS (
  SELECT id_a, id_b,
         round(n_inter / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
  FROM inter
  JOIN counts ca ON ca.id = id_a
  JOIN counts cb ON cb.id = id_b
),
pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS comp FROM und
  UNION
  SELECT und.a AS id, reach.comp FROM und JOIN reach ON reach.id = und.b
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT u.id, coalesce(c.component, u.id) AS component,
         CAST(length(u.t) AS BIGINT) AS score
  FROM unioned u LEFT JOIN comp c ON c.id = u.id
),
ranked AS (
  SELECT id, component, score,
         row_number() OVER (PARTITION BY component
                            ORDER BY score DESC, id ASC) AS rn
  FROM labeled
)
SELECT id, CAST(component AS BIGINT) AS component, score
FROM ranked WHERE rn = 1 ORDER BY id
""".replace("{DUP_SQL_UNION}", DUP_SQL_UNION)


def dedup_embedding_keep_best(spark, sf_dir):
    """The embedding-space dedup chain end-to-end — the dense-vector twin
    of dedup_semantic_keep_best: exact cosine pairs (>= 0.99) over
    vec_id < 200 ∪ scaled copies → connected components → one keeper per
    cluster by highest label (integer-exact stand-in for a quality
    score; ties → min id). Together the two chains cover both dedup
    modalities (token-set and embedding) pairs→clusters→canonical."""
    from mbgspark.operators.components import (
        canonical_best_by_component,
        connected_components,
    )

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = e.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        F.col("label").cast("bigint").alias("score"),
    )
    copies = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
        F.col("label").cast("bigint").alias("score"),
    )
    unioned = base.unionByName(copies)
    edges = dd.embedding_near_dups(
        unioned.select("vec_id", "embedding"), "vec_id", "embedding",
        threshold=0.99, block_bits=0,
    ).select("id_a", "id_b")
    comp = connected_components(edges, "id_a", "id_b")
    kept = canonical_best_by_component(
        unioned.select(F.col("vec_id").alias("id"), "score"), comp, "id", "score"
    )
    return kept.select(
        "id", F.col("component").cast("bigint").alias("component"), "score"
    ).orderBy("id")


DEDUP_EMB_KEEP_BEST_SQL = """
WITH RECURSIVE unioned AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS BIGINT) AS score
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2),
         CAST(label AS BIGINT)
  FROM embeddings WHERE vec_id < 200
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM unioned a CROSS JOIN unioned b
  WHERE a.vec_id < b.vec_id
    AND round(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
          4) >= 0.99
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a AS id, a AS comp FROM und
  UNION
  SELECT und.a AS id, reach.comp FROM und JOIN reach ON reach.id = und.b
),
comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
labeled AS (
  SELECT u.vec_id AS id, coalesce(c.component, u.vec_id) AS component, u.score
  FROM unioned u LEFT JOIN comp c ON c.id = u.vec_id
),
ranked AS (
  SELECT id, component, score,
         row_number() OVER (PARTITION BY component
                            ORDER BY score DESC, id ASC) AS rn
  FROM labeled
)
SELECT id, CAST(component AS BIGINT) AS component, score
FROM ranked WHERE rn = 1 ORDER BY id
"""


def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.99 over vec_id < 200 ∪ scaled
    (×2) copies — scaled copies are exact cosine-duplicates of their source."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = e.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    return dd.embedding_near_dups(
        # block_bits=0: the explicit opt-in to exact all-pairs — this query
        # IS the correctness baseline the blocked variant is checked against
        base.unionByName(copies), "vec_id", "embedding", threshold=0.99,
        block_bits=0,
    ).orderBy("id_a", "id_b")


DEDUP_EMBEDDING_SQL = """
WITH unioned AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
  FROM embeddings WHERE vec_id < 200
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               4) AS cos_sim
  FROM unioned a CROSS JOIN unioned b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.99 ORDER BY id_a, id_b
"""


def dedup_embedding_blocked(spark, sf_dir):
    """The embeddings scale path in the gate: sign-hyperplane blocking
    (block_bits=2) turns the all-pairs cosine into a bucket equi-join; only
    same-bucket pairs are compared. Same planted duplicates as
    dedup_embedding — scaled copies share their source's bucket by
    construction (scaling preserves signs), so recall on the planted pairs
    is exact and the oracle replays the bucketing in SQL."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = e.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    return dd.embedding_near_dups(
        base.unionByName(copies), "vec_id", "embedding",
        threshold=0.99, block_bits=2,
    ).orderBy("id_a", "id_b")


DEDUP_EMBEDDING_BLOCKED_SQL = """
WITH unioned AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
  FROM embeddings WHERE vec_id < 200
),
bucketed AS (
  SELECT *, CAST(v[1] >= 0 AS INTEGER) || CAST(v[2] >= 0 AS INTEGER) AS bk
  FROM unioned
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
               4) AS cos_sim
  FROM bucketed a JOIN bucketed b USING (bk) WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.99 ORDER BY id_a, id_b
"""


def dedup_embedding_multiprobe(spark, sf_dir):
    """Multi-table sign-bucket embedding dedup (the recall path — VERDICT
    r3 item 2): 4 independent 4-dim sign-bucket tables, candidates =
    same-bucket in ANY table, exact-cosine verify >= 0.95. Planted dups are
    +0.03-PERTURBED copies (not scaled): their near-zero components flip
    sign, which a single blocking table misses (measured recall 0.62) and
    the multi-table union recovers (measured 1.00 —
    tests/test_dedup.py::test_multiprobe_embedding_recall). The oracle
    replays the same tables/buckets/verify in SQL."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    base = e.select(
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    copies = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + 0.03).alias(
            "embedding"
        ),
    )
    return dd.embedding_near_dups_multiprobe(
        base.unionByName(copies), "vec_id", "embedding",
        threshold=0.95, block_bits=4, tables=4,
    ).orderBy("id_a", "id_b")


_MP_BUCKET_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT vec_id, {t} AS tbl, {bk} AS bk FROM unioned".format(
        t=t,
        bk=" || ".join(
            f"CAST(v[{t * 4 + d + 1}] >= 0 AS INTEGER)" for d in range(4)
        ),
    )
    for t in range(4)
)

DEDUP_EMBEDDING_MULTIPROBE_SQL = f"""
WITH unioned AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 1000000, list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.03)
  FROM embeddings WHERE vec_id < 50
),
buckets AS (
{_MP_BUCKET_SELECTS}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b USING (tbl, bk)
  WHERE a.vec_id < b.vec_id
),
pairs AS (
  SELECT id_a, id_b,
         round(list_dot_product(ua.v, ub.v)
               / (sqrt(list_dot_product(ua.v, ua.v)) * sqrt(list_dot_product(ub.v, ub.v))),
               4) AS cos_sim
  FROM cand
  JOIN unioned ua ON ua.vec_id = cand.id_a
  JOIN unioned ub ON ub.vec_id = cand.id_b
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.95 ORDER BY id_a, id_b
"""


# ------------------------------------------------------- similarity search --

def ann_cosine_topk(spark, sf_dir):
    """Exact cosine top-3 for query vectors vec_id < 5 against the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=3)


ANN_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT query_id, match_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               4) AS cos_sim
  FROM c CROSS JOIN q WHERE match_id <> query_id
)
SELECT query_id, match_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
ORDER BY query_id, rnk
"""


def ann_quantized_topk(spark, sf_dir):
    """Cosine top-3 on int8-quantized vectors (4x-smaller representation —
    the PQ-style first-pass ranking surface). Approximate w.r.t. float
    cosine but fully deterministic: the quantization grid and the integer
    dot products are exact in both engines, so this gets a value-hash
    check, not rows-only."""
    e = _t(spark, sf_dir, "embeddings")
    return quantized_topk(e, e.filter(F.col("vec_id") < 5), k=3)


ANN_QUANTIZED_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
quant AS (
  SELECT vec_id,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0.0
              THEN list_transform(v, x -> 0.0)
              ELSE list_transform(v, x ->
                     floor(x * 127.0
                           / list_max(list_transform(v, y -> abs(y)))
                           + 0.5))
         END AS qv
  FROM base
),
q AS (SELECT vec_id AS query_id, qv AS qqv FROM quant WHERE vec_id < 5),
c AS (SELECT vec_id AS match_id, qv AS cv FROM quant),
scored AS (
  SELECT query_id, match_id,
         round(list_dot_product(qqv, cv)
               / (sqrt(list_dot_product(qqv, qqv))
                  * sqrt(list_dot_product(cv, cv))), 4) AS cos_sim
  FROM c CROSS JOIN q WHERE match_id <> query_id
)
SELECT query_id, match_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
ORDER BY query_id, rnk
"""


def zorder_keys(spark, sf_dir):
    """Morton/Z-order key per order over (o_custkey, o_totalprice) — the
    data-skipping layout key ``io.write_zordered`` range-partitions on.
    Quantization bounds come from an in-query 1-row broadcast min/max
    (integer arithmetic for the key column, identical IEEE doubles for
    the price column), and the 8-bit interleave is pure bit math — every
    z value is hash-checked against the oracle's replica."""
    from mbgspark.io import interleave_bits

    o = _t(spark, sf_dir, "orders")
    b = F.broadcast(
        o.agg(
            F.min("o_custkey").alias("mna"),
            F.max("o_custkey").alias("mxa"),
            F.min("o_totalprice").alias("mnb"),
            F.max("o_totalprice").alias("mxb"),
        )
    )
    w = o.crossJoin(b)
    qa = F.least(
        F.lit(255),
        F.floor(
            (F.col("o_custkey") - F.col("mna"))
            * 256.0
            / (F.col("mxa") - F.col("mna") + 1e-9)
        ),
    ).cast("bigint")
    qb = F.least(
        F.lit(255),
        F.floor(
            (F.col("o_totalprice") - F.col("mnb"))
            * 256.0
            / (F.col("mxb") - F.col("mnb") + 1e-9)
        ),
    ).cast("bigint")
    return w.select(
        "o_orderkey", interleave_bits(qa, qb, 8).alias("zkey")
    ).orderBy("o_orderkey")


_Z_INTERLEAVE = " | ".join(
    f"((((qa >> {i}) & 1) << {2 * i + 1}) | (((qb >> {i}) & 1) << {2 * i}))"
    for i in range(8)
)

ZORDER_SQL = f"""
WITH b AS (
  SELECT min(o_custkey) AS mna, max(o_custkey) AS mxa,
         min(o_totalprice) AS mnb, max(o_totalprice) AS mxb
  FROM orders
),
q AS (
  SELECT o_orderkey,
         CAST(least(255, floor((o_custkey - mna) * 256.0 / (mxa - mna + 1e-9)))
              AS BIGINT) AS qa,
         CAST(least(255, floor((o_totalprice - mnb) * 256.0 / (mxb - mnb + 1e-9)))
              AS BIGINT) AS qb
  FROM orders CROSS JOIN b
)
SELECT o_orderkey, CAST({_Z_INTERLEAVE} AS BIGINT) AS zkey
FROM q ORDER BY o_orderkey
"""



def jl_projection(spark, sf_dir):
    """JL sign-projection of the 64-dim embeddings to 16 dims — long
    format (vec_id, dim, value_e6); the oracle bakes the identical
    md5-derived +-1 matrix and replays the same sequential fold."""
    from mbgspark.operators.similarity import jl_project

    e = _t(spark, sf_dir, "embeddings")
    return jl_project(e, "embedding", 64, 16, "jl", "vec_id")


def _jl_sql() -> str:
    from mbgspark.operators.similarity import jl_sign_matrix

    signs = jl_sign_matrix("jl", 16, 64)
    scale = 1.0 / (16 ** 0.5)
    branches = "\n  UNION ALL\n".join(
        f"""  SELECT vec_id, {k} AS dim,
         CAST(floor(list_sum(list_transform(range(1, 65),
                j -> CAST(embedding[j] AS DOUBLE) * ([{', '.join(str(x) for x in signs[k])}])[j]))
              * {scale!r} * 1000000 + 0.5) AS BIGINT) AS value_e6
  FROM embeddings"""
        for k in range(16)
    )
    return (
        "SELECT vec_id, CAST(dim AS BIGINT) AS dim, value_e6 FROM (\n"
        + branches
        + "\n)"
    )


JL_SQL = _jl_sql()



def item_cooccurrence_events(spark, sf_dir):
    """Item2item co-occurrence over events: item = props.k, pairs of
    items touched by the same user with co-user counts and lift (e4).
    Per-user item cap = 200 (inactive here: 100 possible items) — the
    quadratic guard mirrors dedup's bucket cap."""
    from mbgspark.operators.analytics import item_cooccurrence

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item"),
    )
    return item_cooccurrence(e, "user_id", "item", min_co_users=25)


ITEM_COOC_SQL = """
WITH ui AS (
  SELECT DISTINCT user_id AS u,
         CAST(json_extract(props, '$.k') AS BIGINT) AS i
  FROM events
),
co AS (
  SELECT a.i AS item_a, b.i AS item_b, count(*) AS co_users
  FROM ui a JOIN ui b ON a.u = b.u AND a.i < b.i
  GROUP BY 1, 2
  HAVING count(*) >= 25
),
iu AS (SELECT i, count(*) AS users FROM ui GROUP BY i),
t AS (SELECT count(DISTINCT u) AS n FROM ui)
SELECT item_a, item_b, CAST(co_users AS BIGINT) AS co_users,
       CAST(floor(co_users * n / CAST(ua.users * ub.users AS DOUBLE)
                  * 10000 + 0.5) AS BIGINT) AS lift_e4
FROM co
JOIN iu ua ON ua.i = item_a
JOIN iu ub ON ub.i = item_b
CROSS JOIN t
ORDER BY item_a, item_b
"""



def label_noise(spark, sf_dir):
    """k-NN label-noise audit over the full embeddings table: vectors
    whose 3 nearest neighbors majority-vote a different label are
    flagged as suspects."""
    from mbgspark.operators.similarity import label_noise_flags

    return label_noise_flags(_t(spark, sf_dir, "embeddings"), k=3)


LABEL_NOISE_SQL = """
WITH c AS (
  -- norms precomputed once per vector, not once per PAIR: identical
  -- floats (sqrt(dot(v,v)) is deterministic), 3x fewer dot products —
  -- the difference between the n^2 oracle finishing and timing out at sf1
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, label
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings)
),
scored AS (
  SELECT q.vec_id AS query_id, m.vec_id AS match_id, m.label AS nl,
         round(list_dot_product(q.v, m.v) / (q.nrm * m.nrm), 4) AS cos_sim
  FROM c q CROSS JOIN c m WHERE q.vec_id <> m.vec_id
),
nn AS (
  SELECT query_id, match_id, nl FROM (
    SELECT query_id, match_id, nl,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, match_id) AS rnk
    FROM scored) WHERE rnk <= 3
),
votes AS (
  SELECT query_id, nl, count(*) AS n FROM nn GROUP BY query_id, nl
),
top_vote AS (
  SELECT query_id,
         max_by(nl, lpad(CAST(n AS VARCHAR), 10, '0') || '|'
                    || lpad(CAST(nl AS VARCHAR), 10, '0')) AS neighbor_label,
         CAST(max(n) AS BIGINT) AS n_agree,
         CAST(sum(n) AS BIGINT) AS total
  FROM votes GROUP BY query_id
)
SELECT e.vec_id, e.label, t.neighbor_label,
       CAST(coalesce(t.n_agree, 0) AS BIGINT) AS n_agree,
       CAST(t.neighbor_label IS NOT NULL AND t.neighbor_label <> e.label
            AND t.n_agree * 2 > t.total AS BIGINT) AS is_suspect
FROM embeddings e LEFT JOIN top_vote t ON t.query_id = e.vec_id
ORDER BY e.vec_id
"""


def hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: top-3 most-similar vectors with a
    DIFFERENT label, per query vector vec_id < 5."""
    e = _t(spark, sf_dir, "embeddings")
    return hard_negative_topk(e, e.filter(F.col("vec_id") < 5), k=3)


HARD_NEGATIVES_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS query_label
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv,
         label AS match_label
  FROM embeddings
),
scored AS (
  SELECT query_id, query_label, match_id, match_label,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
               4) AS cos_sim
  FROM c CROSS JOIN q
  WHERE match_id <> query_id AND match_label <> query_label
)
SELECT query_id, query_label, match_id, match_label, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
ORDER BY query_id, rnk
"""


def ann_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-3 (the 100 TB scale path). Approximate
    w.r.t. exact top-k, but fully deterministic — so the oracle replays the
    same quantize→probe→rank plan in SQL and the driver gets a value-hash
    check, not just rows-only."""
    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.filter(F.col("vec_id") < 5), k=3, n_cells=16, nprobe=4)


_COS = (
    "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b}))), {nd})"
)

ANN_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
cents AS (
  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cent
  FROM embeddings ORDER BY vec_id LIMIT 16
),
assigned AS (
  SELECT match_id, cv, cell_id FROM (
    SELECT c.match_id, c.cv, cents.cell_id,
           row_number() OVER (
             PARTITION BY c.match_id
             ORDER BY {_COS.format(a='cv', b='cent', nd=6)} DESC, cents.cell_id
           ) AS rn
    FROM c CROSS JOIN cents
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT q.query_id, q.qv, cents.cell_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS.format(a='qv', b='cent', nd=6)} DESC, cents.cell_id
           ) AS rn
    FROM q CROSS JOIN cents
  ) WHERE rn <= 4
),
scored AS (
  SELECT query_id, match_id, {_COS.format(a='qv', b='cv', nd=4)} AS cos_sim
  FROM assigned JOIN probes USING (cell_id)
  WHERE match_id <> query_id
)
SELECT query_id, match_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rnk
FROM scored
QUALIFY rnk <= 3
ORDER BY query_id, rnk
"""


def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-3 with a TRAINED quantizer: k-means centroids (k=16, 2
    Lloyd iterations, deterministic first-16 seeds) replace the first-16
    seed vectors as IVF cells — same join shape, better-centered cells
    (the swap ivf_topk's round-2 docstring promised; VERDICT r3 item 7).
    Fully deterministic (6dp-quantized centroids, pinned tie-breaks), so
    the oracle unrolls the same 2 iterations in SQL and feeds the
    resulting centroid table to the same quantize→probe→rank plan."""
    from mbgspark.operators.similarity import kmeans_centroids

    e = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(e, k=16, iterations=2)
    return ivf_topk(
        e, e.filter(F.col("vec_id") < 5), k=3, nprobe=4, centroids=cents
    )


def _ann_ivf_kmeans_sql(k_cells: int = 16, iterations: int = 2, dims: int = 64) -> str:
    parts = _kmeans_cte_parts(k_cells, iterations, dims)
    parts += [
        "cents AS (",
        f"  SELECT c AS cell_id, cent FROM c{iterations}",
        "),",
        "corpus AS (SELECT vec_id AS match_id, v AS cv FROM e),",
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),",
        "assigned AS (",
        "  SELECT match_id, cv, cell_id FROM (",
        "    SELECT corpus.match_id, corpus.cv, cents.cell_id,",
        "           row_number() OVER (",
        "             PARTITION BY corpus.match_id",
        f"             ORDER BY {_COS.format(a='cv', b='cent', nd=6)} DESC, cents.cell_id",
        "           ) AS rn",
        "    FROM corpus CROSS JOIN cents",
        "  ) WHERE rn = 1",
        "),",
        "probes AS (",
        "  SELECT query_id, qv, cell_id FROM (",
        "    SELECT q.query_id, q.qv, cents.cell_id,",
        "           row_number() OVER (",
        "             PARTITION BY q.query_id",
        f"             ORDER BY {_COS.format(a='qv', b='cent', nd=6)} DESC, cents.cell_id",
        "           ) AS rn",
        "    FROM q CROSS JOIN cents",
        "  ) WHERE rn <= 4",
        "),",
        "scored AS (",
        f"  SELECT query_id, match_id, {_COS.format(a='qv', b='cv', nd=4)} AS cos_sim",
        "  FROM assigned JOIN probes USING (cell_id)",
        "  WHERE match_id <> query_id",
        ")",
        "SELECT query_id, match_id, cos_sim,",
        "       CAST(row_number() OVER (PARTITION BY query_id",
        "                               ORDER BY cos_sim DESC, match_id) AS BIGINT) AS rnk",
        "FROM scored",
        "QUALIFY rnk <= 3",
        "ORDER BY query_id, rnk",
    ]
    return "\n".join(parts)


# ------------------------------------------------------------ text analysis --

def langid_confusion(spark, sf_dir):
    """Marker-word language-ID vs the labeled lang column (confusion matrix)."""
    d = _t(spark, sf_dir, "documents")
    return (
        with_lang_id(d, "text")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("cnt"))
        .orderBy("lang", "pred_lang")
    )


LANGID_SQL = """
WITH hits AS (
  SELECT lang,
         len(list_filter(tk, x -> x IN ('der','die','und'))) AS h_de,
         len(list_filter(tk, x -> x IN ('the','and','of'))) AS h_en,
         len(list_filter(tk, x -> x IN ('el','la','de'))) AS h_es,
         len(list_filter(tk, x -> x IN ('le','la','et'))) AS h_fr
  FROM (SELECT lang, string_split_regex(lower(trim(text)), '\\s+') AS tk FROM documents)
),
pred AS (
  SELECT lang,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'unk'
              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM hits
)
SELECT lang, pred_lang, count(*) AS cnt FROM pred
GROUP BY lang, pred_lang ORDER BY lang, pred_lang
"""


def quality_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_quality_score(d, "text").select(
        "doc_id",
        F.col("n_chars").alias("q_chars"),
        "n_tokens",
        "mean_token_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


QUALITY_SQL = """
WITH base AS (
  SELECT doc_id, trim(text) AS t,
         string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
m AS (
  SELECT doc_id,
         length(t) AS n_chars,
         len(tk) AS n_tokens,
         length(t) - length(regexp_replace(t, '[^\\w\\s]', '', 'g')) AS punct,
         len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS stop_hits
  FROM base
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS q_chars,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN n_tokens > 0 THEN n_chars / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 4) AS mean_token_len,
       round(CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END, 4) AS punct_ratio,
       round(CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END, 4) AS stopword_ratio,
       round(least(1.0, (least(n_tokens, 100) / 100.0) * 0.5
                   + (CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) * 0.5), 4)
         AS quality_score
FROM m
"""


def token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_token_counts(d, "text").select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
FROM documents
"""


def fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_fingerprint(d, "text").select(
        "doc_id", "fingerprint", "shape_fingerprint"
    )


FINGERPRINT_SQL = """
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id, md5(norm) AS fingerprint,
       md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' '))
         AS shape_fingerprint
FROM n
"""


def locate_two_pass(spark, sf_dir):
    """The reference's cheap-to-expensive location plan (utils.py:509-511):
    exact token containment first; only the unmatched remainder pays the
    fuzzy levenshtein pass. Oracle replays both passes in SQL."""
    from mbgspark.operators.locate import two_pass_locate
    from mbgspark.plans.catalog_core import KEYWORD_DIM

    d = _t(spark, sf_dir, "documents")
    dim = spark.createDataFrame(KEYWORD_DIM, "kw string, dict_order int")
    return (
        two_pass_locate(d, dim, "doc_id", "text", "kw", fuzzy_max_distance=2)
        .orderBy("doc_id", "kw")
    )


def _two_pass_sql() -> str:
    from mbgspark.plans.catalog_core import KEYWORD_DIM_SQL

    return rf"""
WITH dim AS (SELECT * FROM {KEYWORD_DIM_SQL}),
exact AS (
  SELECT doc_id, kw FROM documents CROSS JOIN dim
  WHERE list_contains(string_split_regex(lower(text), '\s+'), kw)
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dict_order) = 1
),
rem AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM exact)
),
remtok AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM rem
),
fuzzy AS (
  SELECT doc_id, kw FROM (
    SELECT r.doc_id, d.kw, levenshtein(r.tok, d.kw) AS lev
    FROM (SELECT doc_id, tok FROM remtok WHERE tok <> '') r
    CROSS JOIN dim d
    WHERE levenshtein(r.tok, d.kw) <= 2
  ) QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY lev, kw) = 1
)
SELECT doc_id, kw, 'exact' AS match_kind FROM exact
UNION ALL
SELECT doc_id, kw, 'fuzzy' AS match_kind FROM fuzzy
ORDER BY doc_id, kw
"""


def salted_segment_revenue(spark, sf_dir):
    """Hot-key-safe join in the graded gate: orders ⋈ customer through
    operators.skew.salted_join (key spread over 8 salt buckets), then the
    per-segment revenue rollup. Oracle is the PLAIN join — salting must be
    result-invisible."""
    from mbgspark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return (
        salted_join(o, c, "custkey", buckets=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("order_cnt"),
            _money_sum("o_totalprice", "revenue"),
        )
        .orderBy("c_mktsegment")
    )


SALTED_SEGMENT_SQL = """
SELECT c_mktsegment, count(*) AS order_cnt,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def asof_click_view(spark, sf_dir):
    """As-of join in the gate: each click event enriched with the timestamp
    of the same user's most recent at-or-before view event, plus the gap in
    seconds. Oracle: DuckDB's native ASOF LEFT JOIN. Output carries view_ts
    (not the view's id) so exact-tie right rows — impossible in this data,
    but theoretically ambiguous — would still hash identically."""
    from mbgspark.operators.asof import as_of_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts")
    )
    joined = as_of_join(clicks, views, "user_id", "ts", "ts", ["view_ts"])
    # gap in exact integer microseconds: no float division/rounding can
    # reach the hashed surface, so ms-aligned gaps can't tie at a boundary
    return joined.select(
        "event_id",
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("asof_view_ts"))
        .cast("bigint")
        .alias("gap_us"),
    ).orderBy("event_id")


ASOF_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (SELECT user_id, ts FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id,
       -- exact integer-microsecond diff: same arithmetic as Spark's
       -- unix_micros subtraction, no float on the hashed surface
       CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
ORDER BY c.event_id
"""


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def pivot_event_types(spark, sf_dir):
    """Wide pivot: per-user event counts, one column per event type. The
    pivot value list is pinned (never inferred) — at scale inference is an
    extra job over the whole input; the oracle is plain conditional
    aggregation."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


PIVOT_SQL = """
SELECT user_id,
       {cols}
FROM events GROUP BY user_id ORDER BY user_id
""".format(
    cols=",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS {t}"
        for t in EVENT_TYPES
    )
)


def json_props_extract(spark, sf_dir):
    """JSON column parsing (the real S6 mechanism — raw scrape records land
    as JSON and are schematized with from_json): extract props.k, aggregate
    per event type. Malformed/missing keys become nulls, not errors."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k int"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("p.k").alias("n_with_k"),
            F.sum("p.k").cast("bigint").alias("sum_k"),
            F.max("p.k").cast("bigint").alias("max_k"),
        )
        .orderBy("event_type")
    )


JSON_PROPS_SQL = """
SELECT event_type,
       count(CAST(json_extract(props, '$.k') AS INTEGER)) AS n_with_k,
       CAST(sum(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def sessionize_events(spark, sf_dir):
    """Event-time sessionization: per-user sessions split at 3-day
    inactivity gaps, via Spark's built-in session_window (state-store
    backed in streaming; plain aggregation in batch). Oracle replays the
    classic gaps-and-islands formulation (lag → new-session flag →
    running sum) — same session boundaries by construction."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "3 days").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            _money_sum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "sess_start")
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 3 DAY
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id, min(ts) AS sess_start, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM numbered GROUP BY user_id, sess_id
ORDER BY user_id, sess_start
"""


def percentile_by_status(spark, sf_dir):
    """Exact interpolated percentiles (median + p90) of order totals per
    status — Spark's percentile() and DuckDB's quantile_cont share the
    linear-interpolation definition, so values hash-match after rounding."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.count("*").alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


PERCENTILE_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       count(*) AS cnt
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def grouped_string_agg(spark, sf_dir):
    """Ordered string aggregation: per region, the sorted nation roster as
    one delimited string (collect_list → array_sort → array_join ≙
    string_agg ORDER BY)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
        .orderBy("r_name")
    )


STRING_AGG_SQL = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# value tiers for the range join — inclusive bounds, deterministic
VALUE_TIERS = [
    (0.0, 5.0, "tiny"),
    (5.0, 25.0, "small"),
    (25.0, 100.0, "medium"),
    (100.0, 1000.0, "large"),
]
VALUE_TIERS_SQL = (
    "(VALUES "
    + ", ".join(f"({lo}, {hi}, '{t}')" for lo, hi, t in VALUE_TIERS)
    + ") AS tiers(lo, hi, tier)"
)


def range_join_value_tiers(spark, sf_dir):
    """Banded range join in the gate: events.value joined to inclusive
    [lo, hi] tiers through the band-bucket equi-join (operators/rangejoin),
    rolled up per (event_type, tier). Boundary values (e.g. 5.0) match BOTH
    adjacent tiers — identically in the SQL oracle's plain theta-join."""
    from mbgspark.operators.rangejoin import banded_range_join

    e = _t(spark, sf_dir, "events").select("event_type", "value")
    tiers = spark.createDataFrame(VALUE_TIERS, "lo double, hi double, tier string")
    return (
        banded_range_join(e, tiers, "value", "lo", "hi", band_width=25.0)
        .groupBy("event_type", "tier")
        .agg(
            F.count("*").alias("cnt"),
            _money_sum("value", "sum_value"),
        )
        .orderBy("event_type", "tier")
    )


RANGE_JOIN_SQL = f"""
SELECT event_type, tier, count(*) AS cnt, CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_value
FROM events JOIN {VALUE_TIERS_SQL}
  ON value >= lo AND value <= hi
GROUP BY event_type, tier ORDER BY event_type, tier
"""


def rollup_status_priority(spark, sf_dir):
    """Hierarchical subtotal rollup (Spark's free built-in the reference's
    dashboard layer would use — SURVEY §2.6 note): counts + revenue at
    (status, priority), (status), and grand-total levels. Nulls from
    aggregated-out levels are labeled so the hash compare is total."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            _money_sum("o_totalprice", "revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "cnt",
            "revenue",
        )
        .orderBy("status", "priority")
    )


ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, '<all>') AS status,
       coalesce(o_orderpriority, '<all>') AS priority,
       count(*) AS cnt, CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY status, priority
"""


def trend_moving_avg(spark, sf_dir):
    """A8 trend smoothing: daily order counts with a 7-day trailing moving
    average over an ordered window frame (rows between 6 preceding and
    current)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("ma7", F.round(F.avg("cnt").over(w), 4))
        .orderBy("day")
        .limit(60)
    )


TREND_MA_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS cnt
  FROM orders GROUP BY 1
)
SELECT day, cnt,
       round(avg(cnt) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily ORDER BY day LIMIT 60
"""


def sentiment_pandas_udf(spark, sf_dir):
    """X1 through the REAL UDF surface: the lexicon classifier strategy runs
    as an Arrow-batched pandas UDF (same plumbing the HF model uses), then
    the q26 label-distribution rollup. Oracle = the q26 SQL — both paths
    must agree because the strategy semantics are identical."""
    from mbgspark.functions.sentiment import with_sentiment_udf

    d = _t(spark, sf_dir, "documents")
    return (
        with_sentiment_udf(d, "text")
        .groupBy("label")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.avg("confidence_score"), 4).alias("avg_conf"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------- multimodal --

def multimodal_features(spark, sf_dir):
    """Binary-column plumbing through Arrow/mapInPandas: documents.text is
    encoded to bytes (stand-in for image/audio payloads), shipped through the
    pandas feature extractor, and summarized. The oracle recomputes byte
    length + md5 in SQL — verifying the Python round trip byte-for-byte."""
    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
    )
    return (
        extract_features(media, fake_decode=True)
        .select("media_id", "media_type", "n_bytes", "content_hash")
    )


MULTIMODAL_SQL = """
SELECT doc_id AS media_id, 'text/plain' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash
FROM documents
"""

def multimodal_frame_index(spark, sf_dir):
    """Video frame-sampling plumbing: every-3rd fake frame index per media
    payload (frame count derived from byte length; decode itself stays
    stubbed — the row-explosion shape is the tested part)."""
    d = _t(spark, sf_dir, "documents")
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return (
        frame_sample(media, every_n=3)
        .select("media_id", F.col("frame_idx").cast("bigint").alias("frame_idx"))
    )


MULTIMODAL_FRAMES_SQL = """
SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx
FROM documents,
     LATERAL unnest(generate_series(
       0, CAST(octet_length(encode(text)) AS INT) // 1024, 3)) AS g(f)
"""


def curate_corpus(spark, sf_dir):
    """End-to-end training-data curation over `documents` in ONE lineage:
    quality gate (min tokens + composite score) → marker-word language ID,
    dropping unidentifiable docs → exact dedup keeping the lowest doc_id per
    normalized-text fingerprint → per-language corpus stats (docs, token
    budget, mean quality). This is the pipeline a 100 TB pretraining corpus
    runs nightly; every stage is a pure column expression or a keyed window,
    so the only shuffles are the fingerprint partition and the final tiny
    per-language agg. Generalizes SURVEY §2.10 X4 (per-doc enrichment,
    `utils.py:95-154`) + §2.4 dedup to corpus curation."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    d = with_quality_score(d, "text")
    d = with_lang_id(d, "text")
    d = with_token_counts(d, "text")
    d = with_fingerprint(d, "text")
    kept = d.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("quality_score") >= 0.2)
        & (F.col("pred_lang") != "unk")
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    uniq = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    # avg quality in exact integer ten-thousandths: quality_score is a
    # 4dp-rounded value, so avg() of it ties at the 4dp half boundary —
    # Spark HALF_UP vs DuckDB fp-rounding flipped the round-1 driver hash.
    # Per-row floor(q·10⁴ + 0.5) → exact BIGINT sum → half-up integer
    # division keeps every hashed bit engine-independent.
    return (
        uniq.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
            F.sum(
                F.floor(F.col("quality_score") * 10000 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("__sum_q_e4"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
            ).alias("langid_agree"),
        )
        .select(
            "lang",
            "n_docs",
            "total_ws_tokens",
            "total_bpe_tokens",
            F.expr("(2 * __sum_q_e4 + n_docs) div (2 * n_docs)")
            .cast("bigint")
            .alias("avg_quality_e4"),
            "langid_agree",
        )
        .orderBy("lang")
    )


CURATE_SQL = """
WITH base AS (
  SELECT doc_id, lang, trim(text) AS t,
         string_split_regex(lower(trim(text)), '\\s+') AS tk,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
),
m AS (
  SELECT doc_id, lang, norm,
         length(t) AS n_chars,
         len(tk) AS n_tokens,
         len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS stop_hits,
         len(list_filter(tk, x -> x IN ('der','die','und'))) AS h_de,
         len(list_filter(tk, x -> x IN ('the','and','of'))) AS h_en,
         len(list_filter(tk, x -> x IN ('el','la','de'))) AS h_es,
         len(list_filter(tk, x -> x IN ('le','la','et'))) AS h_fr,
         len(regexp_extract_all(lower(t), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
           AS bpe_tokens
  FROM base
),
scored AS (
  SELECT doc_id, lang, norm,
         CAST(n_tokens AS BIGINT) AS ws_tokens,
         CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
         round(least(1.0, (least(n_tokens, 100) / 100.0) * 0.5
               + (CASE WHEN n_tokens > 0
                       THEN stop_hits / CAST(n_tokens AS DOUBLE)
                       ELSE 0.0 END) * 0.5), 4) AS quality_score,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'unk'
              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
              ELSE 'fr' END AS pred_lang,
         md5(norm) AS fingerprint,
         n_tokens
  FROM m
),
kept AS (
  SELECT * FROM scored
  WHERE n_tokens >= 5 AND quality_score >= 0.2 AND pred_lang <> 'unk'
),
uniq AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST((2 * sum(CAST(floor(quality_score * 10000 + 0.5) AS BIGINT))
             + count(*)) // (2 * count(*)) AS BIGINT) AS avg_quality_e4,
       CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
         AS langid_agree
FROM uniq GROUP BY lang ORDER BY lang
"""


def chunk_windows(spark, sf_dir):
    """Sliding-window chunking (20-token windows, stride 15) of documents —
    the context-window prep stage of a pretraining pipeline, as pure
    sequence/explode/slice column work (no UDF, no shuffle)."""
    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, "doc_id", "text", 20, 15)


CHUNK_WINDOWS_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
n AS (SELECT doc_id, tk, len(tk) AS n FROM t),
c AS (
  SELECT doc_id, tk, n,
         unnest(generate_series(
           0,
           CAST(1 + ceil(greatest(n - 20, 0) / 15.0) AS INT) - 1
         )) AS chunk_idx
  FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(list_slice(tk, chunk_idx * 15 + 1, chunk_idx * 15 + 20), ' ')
         AS chunk_text,
       CAST(least(20, n - chunk_idx * 15) AS BIGINT) AS chunk_len
FROM c
"""


def label_centroids(spark, sf_dir):
    """Per-label embedding centroids, the distributed way: posexplode the
    vector to (label, dim_idx, value) rows and hash-aggregate per
    (label, idx) — the mean over EVERY dimension is computed in one
    shuffle whose width is |labels|·dims, independent of corpus size
    (the k-means/update-step shape). Output trimmed to the first 4 dims
    for a compact deterministic check; the aggregation runs over all of
    them."""
    e = _t(spark, sf_dir, "embeddings")
    pos = e.select("label", F.posexplode("embedding").alias("idx", "v"))
    return (
        pos.groupBy("label", "idx")
        # + 0.0 folds IEEE negative zero to +0.0 (-0.0 + 0.0 = +0.0):
        # a tiny-negative mean rounds to zero as -0.0 in DuckDB but
        # +0.0 in Spark, and the byte-level value hash sees them as
        # different rows (surfaced by the r9 sf1 corpus; both sides
        # carry the same normalization)
        .agg((F.round(F.avg("v"), 4) + F.lit(0.0)).alias("m"), F.count("*").alias("n"))
        .filter(F.col("idx") < 4)
        .orderBy("label", "idx")
    )


LABEL_CENTROIDS_SQL = """
SELECT label, CAST(i.idx AS INT) AS idx,
       round(avg(embedding[i.idx + 1]), 4) + 0.0 AS m,
       count(*) AS n
FROM embeddings, (VALUES (0), (1), (2), (3)) AS i(idx)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _kmeans_clusters(spark, sf_dir):
    """Deterministic Lloyd's k-means (k=8, 3 iterations, first-k seeds) on
    the embeddings table; output = per-cluster size + exact-integer inertia.
    Iterative, but every source of nondeterminism is pinned — first-k seeds,
    fixed iteration count, centroids quantized to 6dp after each update,
    argmin ties to the lowest cluster id — so a DuckDB twin exists: the
    3 iterations unrolled as a generated CTE chain (see _kmeans_sql) whose
    per-row distance uses list_reduce, the same left-fold Spark's
    aggregate() expression compiles to. Only the k·dims centroid matrix
    ever reaches the driver; the corpus itself is never collected."""
    e = _t(spark, sf_dir, "embeddings")
    out = kmeans_assignments(e, k=8, iterations=3)
    return (
        out.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            # inertia in exact e4 integers: per-row floor(dist·10⁴+0.5) is
            # bit-identical across engines (same fold over the same doubles),
            # and the BIGINT sum is order-independent
            F.sum(F.floor(F.col("dist") * 10000 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("inertia_e4"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_vectors",
            "inertia_e4",
        )
        .orderBy("cluster")
    )


def _kmeans_cte_parts(k: int, iterations: int, dims: int) -> list[str]:
    """Shared unrolled Lloyd's-iteration CTE chain (seeds → assign →
    quantized centroid update, repeated), ending with c{iterations} =
    the final centroid table. Used by both the kmeans_clusters oracle and
    the ann_ivf_kmeans_topk oracle (which consumes the centroids as its
    IVF quantizer)."""
    dist_expr = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        "j -> (e.v[j] - cc.cent[j]) * (e.v[j] - cc.cent[j])), "
        "(a, b) -> a + b)"
    )
    parts = [
        "WITH e AS (",
        "  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        "  FROM embeddings",
        "),",
        "c0 AS (",
        "  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cent",
        f"  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})",
        "),",
    ]
    for i in range(1, iterations + 1):
        prev = f"c{i - 1}"
        parts += [
            f"d{i} AS (",
            f"  SELECT e.vec_id, cc.c, {dist_expr} AS dist",
            f"  FROM e CROSS JOIN {prev} cc",
            "),",
            f"a{i} AS (",
            "  SELECT vec_id, c AS cluster FROM (",
            "    SELECT vec_id, c, row_number() OVER (",
            "      PARTITION BY vec_id ORDER BY dist, c) AS rn",
            f"    FROM d{i}) WHERE rn = 1",
            "),",
            f"m{i} AS (",
            "  SELECT a.cluster AS c, j.j AS idx,",
            "         floor(avg(e.v[j.j]) * 1000000 + 0.5) / 1000000 AS m",
            f"  FROM a{i} a JOIN e USING (vec_id)",
            f"  CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS j) j",
            "  GROUP BY 1, 2",
            "),",
            f"c{i} AS (",
            "  SELECT prev.c, coalesce(nc.cent, prev.cent) AS cent",
            f"  FROM {prev} prev LEFT JOIN (",
            f"    SELECT c, list(m ORDER BY idx) AS cent FROM m{i} GROUP BY c",
            "  ) nc USING (c)",
            "),",
        ]
    return parts


def _kmeans_sql(k: int = 8, iterations: int = 3, dims: int = 64) -> str:
    """The DuckDB twin of kmeans_assignments: the fixed iteration count is
    unrolled into a generated CTE chain (assign → quantized centroid update,
    repeated), then the final assignment is rolled up. Mirrors the Spark
    side op for op: same first-k seeds, same left-fold distance, same
    floor(·10⁶+0.5)/10⁶ centroid quantization, same lowest-id argmin
    tie-break, same empty-cluster carry-forward."""
    dist_expr = (
        f"list_reduce(list_transform(range(1, {dims + 1}), "
        "j -> (e.v[j] - cc.cent[j]) * (e.v[j] - cc.cent[j])), "
        "(a, b) -> a + b)"
    )
    parts = _kmeans_cte_parts(k, iterations, dims)
    fin = iterations + 1
    parts += [
        f"d{fin} AS (",
        f"  SELECT e.vec_id, cc.c, {dist_expr} AS dist",
        f"  FROM e CROSS JOIN c{iterations} cc",
        "),",
        f"a{fin} AS (",
        "  SELECT vec_id, c AS cluster, dist FROM (",
        "    SELECT vec_id, c, dist, row_number() OVER (",
        "      PARTITION BY vec_id ORDER BY dist, c) AS rn",
        f"    FROM d{fin}) WHERE rn = 1",
        ")",
        "SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n_vectors,",
        "       CAST(sum(CAST(floor(dist * 10000 + 0.5) AS BIGINT)) AS BIGINT)",
        "         AS inertia_e4",
        f"FROM a{fin} GROUP BY cluster ORDER BY cluster",
    ]
    return "\n".join(parts)


KMEANS_SQL = _kmeans_sql()




def dup_span_report(spark, sf_dir):
    """Per-document exact-substring duplication report: which of the
    corpus's top-50 duplicated 6-word spans each document contains —
    the doc-level accounting that drives span masking (mask_spans). The
    top-span list is bounded (model parameter); the per-doc containment
    join is the shingle explode against that broadcast list."""
    corpus = _dup_corpus(spark, sf_dir)
    top = dd.duplicated_spans(corpus, "id", "t", k=6, min_docs=2, top=50).select("span")
    sh = dd.with_word_shingles(corpus, "id", "t", k=6, out="span")
    return (
        sh.join(F.broadcast(top), "span")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.concat_ws("|", F.array_sort(F.collect_list("span"))).alias("spans"),
        )
        .orderBy("id")
    )


_SPAN6_REPORT = _SPAN6  # same 6-word span construction as dup_spans

DUP_SPAN_REPORT_SQL = f"""
WITH unioned AS ({DUP_SQL_UNION}),
toks AS (SELECT id, string_split_regex(t, '\\s+') AS tk FROM unioned),
sh AS (
  SELECT DISTINCT id, {_SPAN6_REPORT} AS span
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 5, 1))) AS g(i)
  WHERE {_SPAN6_REPORT} <> ''
),
agg AS (
  SELECT span, count(*) AS n_docs
  FROM sh GROUP BY span HAVING count(*) >= 2
),
top AS (SELECT span FROM agg ORDER BY n_docs DESC, span LIMIT 50)
SELECT id, CAST(count(*) AS BIGINT) AS n_dup_spans,
       array_to_string(list_sort(list(span ORDER BY span)), '|') AS spans
FROM sh JOIN top USING (span)
GROUP BY id ORDER BY id
"""


EXT: dict[str, tuple] = {
    "curate_corpus": (curate_corpus, CURATE_SQL),
    "chunk_windows": (chunk_windows, CHUNK_WINDOWS_SQL),
    "label_centroids": (label_centroids, LABEL_CENTROIDS_SQL),
    "kmeans_clusters": (
        lambda spark, sf_dir: _kmeans_clusters(spark, sf_dir),
        KMEANS_SQL,  # unrolled deterministic twin — full hash oracle
    ),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_minhash_estimate": (dedup_minhash_estimate, DEDUP_MINHASH_EST_SQL),
    "dedup_strategy_venn": (dedup_strategy_venn, DEDUP_VENN_SQL),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dup_spans": (dup_spans, DUP_SPANS_SQL),
    "dup_span_report": (dup_span_report, DUP_SPAN_REPORT_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_SQL),
    "dedup_semantic_keep_best": (dedup_semantic_keep_best, DEDUP_KEEP_BEST_SQL),
    "dedup_embedding_keep_best": (dedup_embedding_keep_best, DEDUP_EMB_KEEP_BEST_SQL),
    "dup_components": (dup_components, DUP_COMPONENTS_SQL),
    "dup_cluster_histogram": (dup_cluster_histogram, DUP_CLUSTER_HIST_SQL),
    "dedup_embedding": (dedup_embedding, DEDUP_EMBEDDING_SQL),
    "dedup_embedding_blocked": (dedup_embedding_blocked, DEDUP_EMBEDDING_BLOCKED_SQL),
    "dedup_embedding_multiprobe": (
        dedup_embedding_multiprobe,
        DEDUP_EMBEDDING_MULTIPROBE_SQL,
    ),
    "ann_cosine_topk": (ann_cosine_topk, ANN_TOPK_SQL),
    "ann_quantized_topk": (ann_quantized_topk, ANN_QUANTIZED_SQL),
    "hard_negatives": (hard_negatives, HARD_NEGATIVES_SQL),
    "label_noise": (label_noise, LABEL_NOISE_SQL),
    "zorder_keys": (zorder_keys, ZORDER_SQL),
    "jl_projection": (jl_projection, JL_SQL),
    "item_cooccurrence_events": (item_cooccurrence_events, ITEM_COOC_SQL),
    "ann_ivf_topk": (ann_ivf_topk, ANN_IVF_SQL),
    "ann_ivf_kmeans_topk": (ann_ivf_kmeans_topk, _ann_ivf_kmeans_sql()),
    "langid_confusion": (langid_confusion, LANGID_SQL),
    "quality_scores": (quality_scores, QUALITY_SQL),
    "token_counts": (token_counts, TOKEN_COUNT_SQL),
    "fingerprints": (fingerprints, FINGERPRINT_SQL),
    "multimodal_features": (multimodal_features, MULTIMODAL_SQL),
    "multimodal_frame_index": (multimodal_frame_index, MULTIMODAL_FRAMES_SQL),
    "sentiment_pandas_udf": (sentiment_pandas_udf, None),  # SQL filled below
    "locate_two_pass": (locate_two_pass, None),  # SQL filled below
    "salted_segment_revenue": (salted_segment_revenue, SALTED_SEGMENT_SQL),
    "rollup_status_priority": (rollup_status_priority, ROLLUP_SQL),
    "trend_moving_avg": (trend_moving_avg, TREND_MA_SQL),
    "asof_click_view": (asof_click_view, ASOF_SQL),
    "range_join_value_tiers": (range_join_value_tiers, RANGE_JOIN_SQL),
    "percentile_by_status": (percentile_by_status, PERCENTILE_SQL),
    "grouped_string_agg": (grouped_string_agg, STRING_AGG_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "pivot_event_types": (pivot_event_types, PIVOT_SQL),
    "json_props_extract": (json_props_extract, JSON_PROPS_SQL),
}


def _late_bind_sentiment_oracle() -> None:
    # identical semantics to q26's column-expression lexicon → same oracle
    from mbgspark.plans.catalog_core import Q26_SQL

    EXT["sentiment_pandas_udf"] = (sentiment_pandas_udf, Q26_SQL)
    EXT["locate_two_pass"] = (locate_two_pass, _two_pass_sql())


_late_bind_sentiment_oracle()
