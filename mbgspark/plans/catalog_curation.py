"""Curation query set: the pre-tokenization passes of a training-data
pipeline — benchmark decontamination, repetition quality filters, PII
redaction, deterministic stratified sampling, sequence packing, corpus
n-gram stats, and domain-mixture accounting.

Extends the reference's curation surface (min-length gate,
src/resilient_scraper.py:399; dedup, :352-358) to full corpus-curation
semantics. Portability rules as in catalog_core: md5-only hashing, every
fraction emitted as an exact integer surface (ppm / ten-thousandths via
floor(x + 0.5), identical half-up in Spark and DuckDB), total ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mbgspark.operators.shuffle import budget_sample, weighted_sample_topn
from mbgspark.operators.curation import (
    contamination_flags,
    mixture_interleave,
    domain_mixture,
    pack_sequences,
    stratified_sample,
    top_ngrams,
    with_pii_redaction,
    with_repetition_stats,
)
from mbgspark.functions.cleaning import strip_markup
from mbgspark.operators.textstats import with_token_counts
from mbgspark.io import ensure_width
from mbgspark.plans.catalog_core import _t

# --------------------------------------------------------- contamination --


def contamination_check(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 41 == 0 stand in for
    the eval suite; every other document is flagged by distinct 3-gram
    overlap (>= 2 overlapping grams = contaminated)."""
    d = ensure_width(
        _t(spark, sf_dir, "documents"), by="doc_id"
    )  # widen the 1-split test-SF scan for the shingle explode; hash by
    # doc_id so the per-doc hit count rides the widener exchange (r15)
    bench = d.filter(F.col("doc_id") % 41 == 0)
    corpus = d.filter(F.col("doc_id") % 41 != 0)
    return (
        contamination_flags(corpus, bench, "doc_id", "text", n=3, min_hits=2)
        .select(
            "doc_id",
            "contaminated_ngrams",
            F.col("is_contaminated").cast("bigint").alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1], tk[i+2]) <> ''
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
hits AS (
  SELECT doc_id, count(*) AS c
  FROM sh JOIN bench USING (shingle)
  WHERE doc_id % 41 <> 0
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.c, 0) AS BIGINT) AS contaminated_ngrams,
       CAST(CASE WHEN coalesce(h.c, 0) >= 2 THEN 1 ELSE 0 END AS BIGINT)
         AS is_contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 41 <> 0
ORDER BY doc_id
"""


# ------------------------------------------------------ repetition stats --


def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (dup-token fraction, top-bigram
    count/fraction) per document, integer-scaled surfaces only.

    The test-SF documents parquet is a single scan split, which would pin
    the bigram transform+explode — the expensive narrow map here — to one
    core (measured 6.4 s of 7.2 s at sf0.1); repartitioning to the session
    width first makes it a wide map (same idiom as _dup_corpus). At
    production scale the scan has enough splits on its own."""
    d = ensure_width(_t(spark, sf_dir, "documents"), by="doc_id")
    return with_repetition_stats(d, "doc_id", "text").orderBy("doc_id")


REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
base AS (
  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_distinct,
         [tk[i] || ' ' || tk[i+1] FOR i IN range(1, len(tk))] AS bgs
  FROM toks
),
bg AS (SELECT doc_id, unnest(bgs) AS bg FROM base),
c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
top AS (SELECT doc_id, max(c) AS top_cnt FROM c GROUP BY doc_id)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(floor((CASE WHEN b.n_tokens > 0
                        THEN 1 - b.n_distinct / CAST(b.n_tokens AS DOUBLE)
                        ELSE 0.0 END) * 10000 + 0.5) AS BIGINT)
         AS dup_token_frac_e4,
       CAST(coalesce(t.top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
       CAST(floor((CASE WHEN b.n_tokens > 1
                        THEN coalesce(t.top_cnt, 0) / CAST(b.n_tokens - 1 AS DOUBLE)
                        ELSE 0.0 END) * 10000 + 0.5) AS BIGINT)
         AS top_bigram_frac_e4
FROM base b LEFT JOIN top t USING (doc_id)
ORDER BY doc_id
"""


# ----------------------------------------------------------------- PII --

# PII-bearing spans are synthesized deterministically (the testdata corpus
# has none): append an email / URL / phone to id-selected documents,
# IDENTICALLY in the Spark builder and the oracle, so detection counts and
# redaction are non-trivial in both engines.


def pii_redaction(spark, sf_dir):
    """Email/URL/phone detection counts + md5 of the redacted text."""
    d = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact u"), sid, F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" see https://ex.co/d"), sid),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" call +62 812-3456-"),
                (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return (
        with_pii_redaction(d.withColumn("text", aug), "text")
        .select(
            "doc_id",
            "n_emails",
            "n_urls",
            "n_phones",
            F.md5("redacted_text").alias("redacted_md5"),
        )
    )


PII_SQL = """
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' see https://ex.co/d' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' call +62 812-3456-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, 'https?://\\S+')) AS BIGINT) AS n_urls,
       CAST(len(regexp_extract_all(t, '\\+?\\d[\\d -]{7,}\\d')) AS BIGINT) AS n_phones,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
               'https?://\\S+', '<URL>', 'g'),
             '\\+?\\d[\\d -]{7,}\\d', '<PHONE>', 'g')) AS redacted_md5
FROM aug
"""


# ------------------------------------------------------- URL / domain --


def url_stats(spark, sf_dir):
    """Per-doc URL/domain accounting over documents with deterministic URL
    snippets injected (doc_id % 4 cycles; natural text participates too)."""
    from mbgspark.operators.curation import with_url_stats

    d = _t(spark, sf_dir, "documents")
    inject = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(" see https://a.example.org/p/1 and https://b.example.net/q?x=1"),
        )
        .when(F.col("doc_id") % 4 == 1, F.lit(" ref http://cdn.a.example.org/x"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" at (https://b.example.net)"))
        .otherwise(F.lit(""))
    )
    raw = d.select("doc_id", F.concat("text", inject).alias("text"))
    return with_url_stats(raw, "text").select(
        "doc_id", "n_urls", "n_domains", "domain_list"
    )


URL_STATS_SQL = r"""
WITH raw AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN ' see https://a.example.org/p/1 and https://b.example.net/q?x=1'
           WHEN 1 THEN ' ref http://cdn.a.example.org/x'
           WHEN 2 THEN ' at (https://b.example.net)'
           ELSE '' END AS text
  FROM documents
),
u AS (
  SELECT doc_id, regexp_extract_all(text, 'https?://\S+') AS urls FROM raw
),
d AS (
  SELECT doc_id, CAST(len(urls) AS BIGINT) AS n_urls,
         list_sort(list_distinct(list_transform(urls,
           x -> lower(regexp_extract(x, 'https?://([^/?#\s]+)', 1))))) AS doms
  FROM u
)
SELECT doc_id, n_urls, CAST(len(doms) AS BIGINT) AS n_domains,
       -- DuckDB array_to_string([]) is NULL; Spark concat_ws([]) is ''
       coalesce(array_to_string(doms, ','), '') AS domain_list
FROM d
"""


# -------------------------------------------- line-level boilerplate --


def line_filter_stats(spark, sf_dir):
    """C4-style line filter over documents with injected multi-line
    boilerplate (nav bars, fragments) cycling doc_id % 3; the natural
    single-line text participates too."""
    from mbgspark.operators.curation import with_line_filter

    d = _t(spark, sf_dir, "documents")
    inject = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(
                "\nHome | About | Contact\n"
                "This sentence is long enough to survive the filter.\nOK"
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit("\nShort\nAnother good sentence stays right here."),
        )
        .otherwise(F.lit(""))
    )
    raw = d.select("doc_id", F.concat("text", inject).alias("text"))
    return with_line_filter(raw, "text").select(
        "doc_id", "n_lines", "n_kept_lines", "line_filtered_text"
    )


LINE_FILTER_SQL = r"""
WITH raw AS (
  SELECT doc_id,
         text || CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN e'\nHome | About | Contact\nThis sentence is long enough to survive the filter.\nOK'
           WHEN 1 THEN e'\nShort\nAnother good sentence stays right here.'
           ELSE '' END AS text
  FROM raw0
),
l AS (
  SELECT doc_id, string_split(text, e'\n') AS lines FROM raw
),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, ln ->
           len(string_split_regex(trim(ln), '\s+')) >= 3
           AND regexp_matches(trim(ln), '[.!?"'']$')) AS kept
  FROM l
)
SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       coalesce(array_to_string(kept, e'\n'), '') AS line_filtered_text
FROM k
""".replace("raw0", "documents")


# ---------------------------------------------- unigram-LM surprise --


def quality_surprise(spark, sf_dir):
    """Corpus-unigram-LM surprise score per document (integer micro-nats) —
    the model-free analog of CCNet's LM-perplexity quality filter."""
    from mbgspark.operators.textstats import unigram_surprise

    d = _t(spark, sf_dir, "documents")
    return unigram_surprise(d, "doc_id", "text").orderBy("doc_id")


SURPRISE_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
),
freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
sup AS (
  SELECT tok,
         CAST(floor(-ln(cnt / CAST((SELECT sum(cnt) FROM freq) AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS sup_micro
  FROM freq
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST((2 * sum(s.sup_micro) + count(*)) // (2 * count(*)) AS BIGINT)
         AS mean_surprise_micronats
FROM toks t JOIN sup s USING (tok)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


# ---------------------------------------------- bigram-LM surprise --


def lm_bigram_score(spark, sf_dir):
    """Corpus-bigram-LM surprise per document (integer micro-nats) — the
    conditional-transition upgrade of quality_surprise; the deterministic
    analog of the CCNet KenLM-perplexity filter. Unordered (driver hash is
    order-insensitive; r8 dropped the presentational orderBy — its range
    sampler would re-execute the vectorized strategy's whole Python
    scoring pass, and the lint's revived scanfed-sort rule flags exactly
    that shape)."""
    from mbgspark.operators.textstats import bigram_surprise

    d = _t(spark, sf_dir, "documents")
    return bigram_surprise(d, "doc_id", "text")


BIGRAM_SURPRISE_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
),
occ AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM d, unnest(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2
),
tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM occ GROUP BY doc_id, w1, w2),
vocab AS (
  SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ts) AS tok FROM d)
),
sup AS (
  SELECT doc_id, tf,
         sum(tf) OVER (PARTITION BY w1, w2) AS bc,
         sum(tf) OVER (PARTITION BY w1)     AS ctx
  FROM tf
),
scored AS (
  SELECT doc_id, tf,
         CAST(floor(-ln((bc + 1)
                        / CAST(ctx + (SELECT v FROM vocab) AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS sup_micro
  FROM sup
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST((2 * sum(tf * sup_micro) + sum(tf)) // (2 * sum(tf)) AS BIGINT)
         AS mean_bigram_surprise_micronats
FROM scored GROUP BY doc_id
"""


# ------------------------------------------------------ domain cap --


def domain_cap_survivors(spark, sf_dir):
    """Per-source frequency cap: at most 15 docs per source survive
    (each source holds 25 at the gate SF, so the cap genuinely drops rows),
    chosen by md5 hash order (reproducible, nested in the cap)."""
    from mbgspark.operators.curation import domain_cap

    return (
        domain_cap(_t(spark, sf_dir, "documents"), "source", "doc_id", cap=15)
        .select("doc_id", "source", "domain_rank")
        .orderBy("source", "domain_rank")
    )


DOMAIN_CAP_SQL = """
SELECT doc_id, source, domain_rank FROM (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5('|' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
           AS domain_rank
  FROM documents)
WHERE domain_rank <= 15
ORDER BY source, domain_rank
"""


# ---------------------------------------------- sparse TF-IDF cosine --


def tfidf_cosine(spark, sf_dir):
    """Sparse-vector near-dup: cosine over top-3 TF-IDF terms, pairs
    blocked by shared characteristic terms (never all-pairs), with the
    stop-term blocking cutoff (max_block_df=100, VERDICT r4 item 3):
    a term topping more than 100 docs is too common to generate
    candidates, which bounds block sizes by construction — the fix for
    the vocabulary-degenerate worst case this synthetic corpus (~60-word
    vocabulary) exercises. Surviving pairs keep their exact uncapped
    cosine (the dot re-joins full top-k lists); the oracle replays the
    identical cutoff."""
    from mbgspark.operators.textstats import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=3,
        min_cos_e6=600000,
        max_block_df=100,
    )


TFIDF_COSINE_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
         CAST(floor(ln(CAST((SELECT count(DISTINCT doc_id) FROM tf) AS DOUBLE)
                       / df) * 1000000 + 0.5) AS BIGINT) AS idf_micro
  FROM dfreq
),
scored AS (
  SELECT t.doc_id, t.tok, CAST(t.tf * i.idf_micro AS BIGINT) AS score
  FROM tf t JOIN idf i USING (tok)
),
ranked AS (
  SELECT doc_id, tok, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rn
  FROM scored
),
top AS (SELECT doc_id, tok AS term, score FROM ranked WHERE rn <= 3),
norms AS (
  SELECT doc_id, sqrt(sum(CAST(score AS DOUBLE) * score)) AS nrm
  FROM top GROUP BY doc_id
),
bdf AS (SELECT term, count(*) AS bdf FROM top GROUP BY term),
rare AS (
  SELECT t.doc_id, t.term FROM top t JOIN bdf USING (term) WHERE bdf <= 100
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.id_a, c.id_b,
         count(*) AS n_shared_terms,
         sum(CAST(a.score AS DOUBLE) * b.score) AS dot
  FROM cand c
  JOIN top a ON a.doc_id = c.id_a
  JOIN top b ON b.doc_id = c.id_b AND b.term = a.term
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT id_a, id_b, CAST(n_shared_terms AS BIGINT) AS n_shared_terms,
         CAST(floor(dot / (na.nrm * nb.nrm) * 1000000 + 0.5) AS BIGINT)
           AS cos_e6
  FROM dots
  JOIN norms na ON na.doc_id = id_a
  JOIN norms nb ON nb.doc_id = id_b
)
WHERE cos_e6 >= 600000
ORDER BY id_a, id_b
"""


# ----------------------------------------------------- BM25 retrieval --


def bm25_topk(spark, sf_dir):
    """BM25 top-10 for a 3-term keyword query over documents — the
    inverted-index sparse retrieval path (one TF shuffle, query-bounded
    everything after). Float literals in the oracle mirror the Spark
    expression ORDER exactly (1.2 + 1.0, not 2.2) so both engines round
    identically before the micro quantization."""
    from mbgspark.operators.textstats import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), ["table", "spark", "query"], k=10
    )


BM25_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ('table', 'spark', 'query')
  GROUP BY doc_id, tok
),
dl AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS dl
  FROM documents
),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         CAST(floor(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                    * tf * (1.2 + 1.0)
                    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                    * 1000000 + 0.5) AS BIGINT) AS s
  FROM tf
  JOIN dfq USING (tok)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_query_terms_hit,
       CAST(sum(s) AS BIGINT) AS score_micro
FROM scored GROUP BY doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 10
"""


# ----------------------------------------------- unicode NFC round-trip --


def nfc_roundtrip(spark, sf_dir):
    """Unicode NFC normalization (Arrow pandas UDF) exercised on real
    corpus text plus an in-query DECOMPOSED suffix (e + combining acute,
    o + combining diaeresis): both engines append the same combining-mark
    sequence, normalize, and must produce the precomposed form --
    matches_expected pins the fold, the md5 hash pins every byte. The
    stored testdata is ASCII (NFC is the identity on it), so the suffix
    is what makes this a real normalization check rather than a no-op
    scan; Python's unicodedata and DuckDB's utf8proc implement the same
    Unicode standard, which is what makes the UDF oracle-checkable."""
    from mbgspark.operators.textstats import normalize_unicode

    d = _t(spark, sf_dir, "documents")
    decomposed = " cafe\u0301 co\u0308rdinate"  # combining marks
    precomposed = " caf\u00e9 c\u00f6rdinate"  # NFC folds to e-acute / o-umlaut
    aug = d.select(
        "doc_id",
        F.col("text").alias("orig"),
        F.concat(F.col("text"), F.lit(decomposed)).alias("text"),
    )
    out = normalize_unicode(aug, "text", "nfc_text")
    return out.select(
        "doc_id",
        F.md5("nfc_text").alias("nfc_md5"),
        (F.col("nfc_text") == F.concat(F.col("orig"), F.lit(precomposed)))
        .cast("bigint")
        .alias("matches_expected"),
    )


NFC_SQL = """
WITH aug AS (
  SELECT doc_id, text,
         text || ' cafe' || chr(769) || ' co' || chr(776) || 'rdinate' AS raw
  FROM documents
)
SELECT doc_id, md5(nfc_normalize(raw)) AS nfc_md5,
       CAST(nfc_normalize(raw)
            = text || ' caf' || chr(233) || ' c' || chr(246) || 'rdinate'
            AS BIGINT) AS matches_expected
FROM aug
"""


# ------------------------------------------------ weighted A-ES sample --


def weighted_sample_docs(spark, sf_dir):
    """Deterministic Efraimidis–Spirakis weighted sample: 50 documents
    drawn without replacement with probability proportional to length
    (n_chars) — the length-weighted inspection/eval draw."""
    return weighted_sample_topn(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", n=50, seed="r4"
    )


WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, n_chars, sample_key_micro FROM (
  SELECT doc_id, n_chars,
         CAST(floor(
           -ln((('0x' || substr(md5('r4|' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1)
               / 4503599627370497.0)
           / CAST(n_chars AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS sample_key_micro
  FROM documents WHERE n_chars > 0)
ORDER BY sample_key_micro, doc_id
LIMIT 50
"""


# ---------------------------------------------- markup strip round-trip --


def markup_strip_roundtrip(spark, sf_dir):
    """strip_markup exercised on real corpus text: each document is
    wrapped in a deterministic HTML shell (tags + a <script> whose BODY
    contains a bare '<', a <style> block, and entity-encoded text) and
    stripped back; matches_expected pins that stripping recovers the
    whitespace-collapsed original plus the decoded entity suffix. The
    stored testdata is already tag-free (the reference scrapes rendered
    pages), so the wrap happens in-query — both engines build and strip
    the same markup, making this a value-hash parity check of the regex
    chain itself, not a no-op scan."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><head><style>p{color:red}</style></head><body><p id="d'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit(
            '</p><script type="text/javascript">var x = 1 < 2;</script>'
            "&nbsp;<b>Q&amp;A</b></body></html>"
        ),
    )
    base = F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))
    stripped = strip_markup(html)
    return d.select(
        "doc_id",
        F.md5(stripped).alias("stripped_md5"),
        (stripped == F.concat(base, F.lit(" Q&A")))
        .cast("bigint")
        .alias("matches_expected"),
    )


MARKUP_STRIP_SQL = r"""
WITH h AS (
  SELECT doc_id,
         '<html><head><style>p{color:red}</style></head><body><p id="d'
           || doc_id || '">' || text
           || '</p><script type="text/javascript">var x = 1 < 2;</script>'
           || '&nbsp;<b>Q&amp;A</b></body></html>' AS html,
         trim(regexp_replace(text, '\s+', ' ', 'g')) AS base
  FROM documents
),
s AS (
  SELECT doc_id, base,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<[a-zA-Z/!][^>]*>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '\s+', ' ', 'g')) AS stripped
  FROM h
)
SELECT doc_id, md5(stripped) AS stripped_md5,
       CAST(stripped = base || ' Q&A' AS BIGINT) AS matches_expected
FROM s
"""


# --------------------------------------------------- TF-IDF top terms --


def tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by integer-exact TF-IDF."""
    from mbgspark.operators.textstats import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=3).orderBy("doc_id", "rank")


TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM documents)
  WHERE tok <> ''
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
idf AS (
  SELECT tok,
         CAST(floor(ln(CAST((SELECT count(DISTINCT doc_id) FROM tf) AS DOUBLE)
                       / df) * 1000000 + 0.5) AS BIGINT) AS idf_micro
  FROM dfreq
),
scored AS (
  SELECT t.doc_id, t.tok, CAST(t.tf * i.idf_micro AS BIGINT) AS score
  FROM tf t JOIN idf i USING (tok)
),
ranked AS (
  SELECT doc_id, tok, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rn
  FROM scored
)
SELECT doc_id, CAST(rn AS BIGINT) AS rank, tok AS term, score AS score_micro
FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank
"""


# ------------------------------------------------- word-dropout augment --


def augment_dropout(spark, sf_dir):
    """Deterministic ~15% word-dropout augmentation of every document —
    same (seed, doc, position) mask on both engines (DuckDB's lambda
    index is 1-based, hence the i-1 in the oracle)."""
    from mbgspark.operators.textstats import augment_word_dropout

    return (
        augment_word_dropout(_t(spark, sf_dir, "documents"), "doc_id", "text")
        .select("doc_id", F.md5("augmented_text").alias("aug_md5"), "n_dropped")
    )


AUGMENT_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
k AS (
  SELECT doc_id, len(tk) AS n,
         list_filter(
           list_transform(tk, (x, i) -> CASE
             WHEN substring(md5('aug' || '|' || CAST(doc_id AS VARCHAR) || '|'
                                || CAST(i - 1 AS VARCHAR)), 1, 4) >= '2666'
             THEN x END),
           x -> x IS NOT NULL) AS kept
  FROM t
)
SELECT doc_id, md5(array_to_string(kept, ' ')) AS aug_md5,
       CAST(n - len(kept) AS BIGINT) AS n_dropped
FROM k
"""


# ------------------------------------------------- stratified sampling --

SAMPLE_RATES = {"en": 0.5, "es": 0.25, "zh": 0.1}
SAMPLE_DEFAULT = 0.05


def stratified_sample_counts(spark, sf_dir):
    """Deterministic md5-bucket stratified sampling by language: per-lang
    total vs sampled counts (en 50 %, es 25 %, zh 10 %, others 5 %)."""
    d = _t(spark, sf_dir, "documents")
    samp = stratified_sample(
        d, "lang", SAMPLE_RATES, "doc_id", default_rate=SAMPLE_DEFAULT
    )
    tot = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("total_docs"))
    kept = samp.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("sampled_docs")
    )
    return (
        tot.join(kept, "lang", "left")
        .withColumn(
            "sampled_docs",
            F.coalesce(F.col("sampled_docs"), F.lit(0)).cast("bigint"),
        )
        .orderBy("lang")
    )


# cutoffs: floor(rate * 65536) as 4-digit lowercase hex (see operator)
_CUT = {s: f"{int(r * 65536):04x}" for s, r in SAMPLE_RATES.items()}
_CUT_DEFAULT = f"{int(SAMPLE_DEFAULT * 65536):04x}"

STRATIFIED_SQL = f"""
WITH b AS (
  SELECT lang, substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
  FROM documents
),
keep AS (
  SELECT lang FROM b
  WHERE (lang = 'en' AND h < '{_CUT["en"]}')
     OR (lang = 'es' AND h < '{_CUT["es"]}')
     OR (lang = 'zh' AND h < '{_CUT["zh"]}')
     OR (lang NOT IN ('en', 'es', 'zh') AND h < '{_CUT_DEFAULT}')
)
SELECT t.lang, t.total_docs, CAST(coalesce(k.c, 0) AS BIGINT) AS sampled_docs
FROM (SELECT lang, CAST(count(*) AS BIGINT) AS total_docs
      FROM documents GROUP BY lang) t
LEFT JOIN (SELECT lang, count(*) AS c FROM keep GROUP BY lang) k USING (lang)
ORDER BY lang
"""


# --------------------------------------------------- sequence packing --


def sequence_packing(spark, sf_dir):
    """Concat-and-chunk packing of BPE-ish token counts into 256-token
    sequences across 4 id-sharded parallel streams."""
    d = _t(spark, sf_dir, "documents")
    d = with_token_counts(d, "text")
    return (
        pack_sequences(d, "doc_id", "bpe_tokens", budget=256, num_shards=4)
        .select("shard", "doc_id", "n_tokens", "tok_offset", "seq_id")
        .orderBy("doc_id")
    )


PACKING_SQL = """
WITH t AS (
  SELECT CAST(doc_id % 4 AS BIGINT) AS shard, doc_id,
         CAST(len(regexp_extract_all(lower(trim(text)),
              '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT shard, doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS tok_offset
  FROM t
)
SELECT shard, doc_id, n_tokens, tok_offset,
       CAST(floor(tok_offset / 256) AS BIGINT) AS seq_id
FROM o
ORDER BY doc_id
"""


# ------------------------------------------------- corpus n-gram stats --


def top_bigrams(spark, sf_dir):
    """Top-20 word bigrams by document frequency (cnt desc, bigram asc)."""
    d = _t(spark, sf_dir, "documents")
    return top_ngrams(d, "doc_id", "text", n=2, k=20)


TOP_BIGRAMS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', tk[i], tk[i+1]) AS shingle
  FROM toks, LATERAL unnest(generate_series(1, greatest(len(tk) - 1, 1))) AS g(i)
  WHERE concat_ws(' ', tk[i], tk[i+1]) <> ''
)
SELECT shingle AS ngram, CAST(count(*) AS BIGINT) AS cnt
FROM sh GROUP BY shingle
ORDER BY cnt DESC, ngram
LIMIT 20
"""


# --------------------------------------------------- domain mixture --

MIX_WEIGHTS = {f"src{i}": 0.05 for i in range(20)}


def domain_mixture_plan(spark, sf_dir):
    """Per-source doc/token counts, exact-ppm token share, and the
    uniform-target sampling multiplier a mixing step would apply."""
    d = _t(spark, sf_dir, "documents")
    d = with_token_counts(d, "text")
    return domain_mixture(
        d, "source", "bpe_tokens", target_weights=MIX_WEIGHTS
    ).orderBy("source")


DOMAIN_MIX_SQL = """
WITH a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs,
         CAST(sum(CAST(len(regexp_extract_all(lower(trim(text)),
              '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)) AS BIGINT) AS tokens
  FROM documents GROUP BY source
),
s AS (
  SELECT source, docs, tokens,
         CAST(floor(tokens * 1000000 / CAST((SELECT sum(tokens) FROM a) AS DOUBLE)
                    + 0.5) AS BIGINT) AS token_share_ppm
  FROM a
)
SELECT source, docs, tokens, token_share_ppm,
       CASE WHEN tokens > 0 THEN
         CAST(floor(0.05 * 10000 * CAST((SELECT sum(tokens) FROM a) AS DOUBLE)
                    / tokens + 0.5) AS BIGINT)
       END AS multiplier_e4
FROM s
ORDER BY source
"""


def mixture_resample(spark, sf_dir):
    """domain_mixture APPLIED (operators/curation.apply_domain_mixture):
    over-target domains deterministically downsampled at their multiplier
    rate, under-target domains kept whole; summarized per source so the
    gate checks both which rows survived (md5-bucket determinism) and the
    integer cutoff arithmetic. Oracle replays multiplier → hex cutoff →
    filter → rollup in SQL."""
    from mbgspark.operators.curation import apply_domain_mixture

    d = _t(spark, sf_dir, "documents")
    d = with_token_counts(d, "text")
    kept = apply_domain_mixture(
        d, "source", "bpe_tokens", target_weights=MIX_WEIGHTS, id_col="doc_id"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("docs_after"),
            F.sum(F.col("bpe_tokens").cast("bigint")).alias("tokens_after"),
        )
        .orderBy("source")
    )


MIXTURE_RESAMPLE_SQL = """
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(trim(text)),
              '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS bpe_tokens
  FROM documents
),
a AS (SELECT source, sum(bpe_tokens) AS tokens FROM tok GROUP BY source),
m AS (
  SELECT source,
         CASE WHEN tokens > 0 THEN
           CAST(floor(0.05 * 10000 * CAST((SELECT sum(tokens) FROM a) AS DOUBLE)
                      / tokens + 0.5) AS BIGINT)
         END AS multiplier_e4
  FROM a
),
kept AS (
  SELECT t.source, t.bpe_tokens
  FROM tok t JOIN m USING (source)
  WHERE m.multiplier_e4 IS NULL OR m.multiplier_e4 >= 10000
     OR substr(md5(t.source || '|' || CAST(t.doc_id AS VARCHAR)), 1, 4)
        < lpad(lower(hex(CAST(m.multiplier_e4 * 65536 // 10000 AS BIGINT))), 4, '0')
)
SELECT source, CAST(count(*) AS BIGINT) AS docs_after,
       CAST(sum(bpe_tokens) AS BIGINT) AS tokens_after
FROM kept GROUP BY source ORDER BY source
"""


# --------------------------------------- corpus shuffle + shard balance --

def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic seeded corpus shuffle + exact-ntile shard balance
    (operators/shuffle.py — the post-packing step of a pretraining
    pipeline; VERDICT r3 item 6), summarized per shard so the gate checks
    BOTH the balance (row counts ±1) and the order (min/max shuffle key
    per shard must tile the md5 keyspace in shard order). The oracle is
    the naive single-partition formulation — ``ntile(7) OVER (ORDER BY
    key)`` — which the distributed bucket-offset plan must reproduce
    bit-for-bit."""
    from mbgspark.operators.shuffle import deterministic_shuffle_shards

    d = _t(spark, sf_dir, "documents").select("doc_id")
    sharded = deterministic_shuffle_shards(d, "doc_id", "r4seed", 7)
    return (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("shuffle_key").alias("first_key"),
            F.max("shuffle_key").alias("last_key"),
        )
        .orderBy("shard")
    )


SHUFFLE_SHARDS_SQL = """
WITH keyed AS (
  SELECT doc_id,
         md5('r4seed' || '|' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents
),
t AS (
  SELECT doc_id, k,
         CAST(ntile(7) OVER (ORDER BY k, doc_id) AS BIGINT) AS shard
  FROM keyed
)
SELECT shard, count(*) AS n_rows, min(k) AS first_key, max(k) AS last_key
FROM t GROUP BY shard ORDER BY shard
"""


def mixture_interleave_plan(spark, sf_dir):
    """Deterministic weighted curriculum interleave: down-weighted sources
    (src1 x0.5, src2 x0.2, src3 x0.1) spread proportionally later/father
    apart in the integer pos_key order a pretraining reader consumes."""
    return mixture_interleave(
        _t(spark, sf_dir, "documents"),
        "source",
        {"src1": 5000, "src2": 2000, "src3": 1000},
    ).orderBy("pos_key", "source", "doc_id")


MIXTURE_INTERLEAVE_SQL = """
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS within_rank,
         CASE source WHEN 'src1' THEN 5000 WHEN 'src2' THEN 2000
                     WHEN 'src3' THEN 1000 ELSE 10000 END AS w
  FROM documents)
SELECT doc_id, source, within_rank,
       CAST((within_rank * 100000000) // w AS BIGINT) AS pos_key
FROM r ORDER BY pos_key, source, doc_id
"""


def token_budget_sample(spark, sf_dir):
    """Budget-filling sample: the seeded-hash-order prefix of documents
    whose cumulative char count stays within 40,000 — the reproducible
    "give me N tokens" ladder step, computed with distributed prefix
    sums (never a global sort)."""
    d = _t(spark, sf_dir, "documents")
    return (
        budget_sample(d, "doc_id", "n_chars", budget=40000, seed="s1")
        .select("doc_id", "n_chars", "cum_weight")
        .orderBy("doc_id")
    )


TOKEN_BUDGET_SQL = """
WITH k AS (
  SELECT doc_id, n_chars,
         md5('s1|' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents),
c AS (
  SELECT doc_id, n_chars,
         CAST(sum(n_chars) OVER (
           ORDER BY key, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_weight
  FROM k)
SELECT doc_id, n_chars, cum_weight FROM c
WHERE cum_weight <= 40000 ORDER BY doc_id
"""


CURATION = {
    "contamination_check": (contamination_check, CONTAMINATION_SQL),
    "repetition_stats": (repetition_stats, REPETITION_SQL),
    "pii_redaction": (pii_redaction, PII_SQL),
    "stratified_sample_counts": (stratified_sample_counts, STRATIFIED_SQL),
    "sequence_packing": (sequence_packing, PACKING_SQL),
    "top_bigrams": (top_bigrams, TOP_BIGRAMS_SQL),
    "domain_mixture": (domain_mixture_plan, DOMAIN_MIX_SQL),
    "url_stats": (url_stats, URL_STATS_SQL),
    "line_filter_stats": (line_filter_stats, LINE_FILTER_SQL),
    "quality_surprise": (quality_surprise, SURPRISE_SQL),
    "lm_bigram_score": (lm_bigram_score, BIGRAM_SURPRISE_SQL),
    "augment_dropout": (augment_dropout, AUGMENT_SQL),
    "markup_strip_roundtrip": (markup_strip_roundtrip, MARKUP_STRIP_SQL),
    "weighted_sample_docs": (weighted_sample_docs, WEIGHTED_SAMPLE_SQL),
    "nfc_roundtrip": (nfc_roundtrip, NFC_SQL),
    "bm25_topk": (bm25_topk, BM25_SQL),
    "tfidf_cosine": (tfidf_cosine, TFIDF_COSINE_SQL),
    "domain_cap_survivors": (domain_cap_survivors, DOMAIN_CAP_SQL),
    "tfidf_terms": (tfidf_terms, TFIDF_SQL),
    "corpus_shuffle_shards": (corpus_shuffle_shards, SHUFFLE_SHARDS_SQL),
    "mixture_resample": (mixture_resample, MIXTURE_RESAMPLE_SQL),
    "mixture_interleave": (mixture_interleave_plan, MIXTURE_INTERLEAVE_SQL),
    "token_budget_sample": (token_budget_sample, TOKEN_BUDGET_SQL),
}
