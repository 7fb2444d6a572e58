"""Unit tests for the corpus-curation operators (contamination, repetition
filters, PII redaction, stratified sampling, sequence packing, n-gram stats,
domain mixture)."""

from __future__ import annotations

from unittest.mock import patch

from pyspark.sql import functions as F

from mbgspark.operators.curation import (
    contamination_flags,
    domain_mixture,
    pack_sequences,
    stratified_sample,
    top_ngrams,
    with_pii_redaction,
    with_repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_contamination_flags_overlap_counts(spark):
    bench = _docs(spark, [(100, "the quick brown fox jumps high")])
    corpus = _docs(
        spark,
        [
            (1, "the quick brown fox sat"),      # shares 2 trigrams
            (2, "quick brown fox jumps today"),  # shares 2 trigrams
            (3, "a completely different text"),  # shares 0
            (4, "the quick brown cat"),          # shares 1 trigram
        ],
    )
    out = {
        r["doc_id"]: (r["contaminated_ngrams"], r["is_contaminated"])
        for r in contamination_flags(corpus, bench, n=3, min_hits=2).collect()
    }
    assert out[1] == (2, True)
    assert out[2] == (2, True)
    assert out[3] == (0, False)
    assert out[4] == (1, False)


def test_repetition_stats_crafted(spark):
    d = _docs(
        spark,
        [
            (1, "spam spam spam spam"),  # 4 tokens, 1 distinct, bigram 'spam spam' x3
            (2, "all words here differ"),
            (3, "one"),  # single token: no bigrams
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in with_repetition_stats(d).collect()}
    assert out[1]["dup_token_frac_e4"] == 7500  # 1 - 1/4
    assert out[1]["top_bigram_cnt"] == 3
    assert out[1]["top_bigram_frac_e4"] == 10000  # 3 of 3 bigram slots
    assert out[2]["dup_token_frac_e4"] == 0
    assert out[2]["top_bigram_cnt"] == 1
    assert out[3]["top_bigram_cnt"] == 0
    assert out[3]["top_bigram_frac_e4"] == 0


def test_pii_redaction_masks_and_counts(spark):
    d = _docs(
        spark,
        [(1, "mail a.b@x.org or see https://x.org/d?q=1 or call +62 812-3456-7890 ok")],
    )
    r = with_pii_redaction(d).collect()[0]
    assert (r["n_emails"], r["n_urls"], r["n_phones"]) == (1, 1, 1)
    assert r["redacted_text"] == "mail <EMAIL> or see <URL> or call <PHONE> ok"


def test_pii_digits_in_url_not_double_counted_in_redaction(spark):
    d = _docs(spark, [(1, "go https://t.co/123-456-7890-123 now")])
    r = with_pii_redaction(d).collect()[0]
    # the URL consumes the digit run during redaction (email -> url -> phone)
    assert r["redacted_text"] == "go <URL> now"


def test_stratified_sample_deterministic_and_nested(spark):
    d = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id bigint, lang string",
    )
    small = stratified_sample(d, "lang", {"en": 0.2}, "doc_id")
    big = stratified_sample(d, "lang", {"en": 0.6}, "doc_id")
    ids_small = {r["doc_id"] for r in small.collect()}
    ids_small2 = {r["doc_id"] for r in small.collect()}
    ids_big = {r["doc_id"] for r in big.collect()}
    assert ids_small == ids_small2  # reproducible
    assert ids_small <= ids_big  # nested: larger rate strictly grows sample
    # rate lands near 20% of the 1000 'en' rows (md5 is uniform)
    assert 120 <= len(ids_small) <= 280
    # 'de' has no rate and default_rate=0 -> fully dropped
    assert all(i % 2 == 0 for i in ids_small)
    salted = stratified_sample(d, "lang", {"en": 0.2}, "doc_id", salt="v2")
    assert {r["doc_id"] for r in salted.collect()} != ids_small


def test_pack_sequences_budget_and_shards(spark):
    d = spark.createDataFrame(
        [(i, 100) for i in range(8)], "doc_id bigint, n_tok bigint"
    )
    out = pack_sequences(d, "doc_id", "n_tok", budget=250, num_shards=2)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}
    # shard 0 holds ids 0,2,4,6 with offsets 0,100,200,300
    assert [rows[i]["tok_offset"] for i in (0, 2, 4, 6)] == [0, 100, 200, 300]
    assert [rows[i]["seq_id"] for i in (0, 2, 4, 6)] == [0, 0, 0, 1]
    assert all(rows[i]["shard"] == 1 for i in (1, 3, 5, 7))


def test_top_ngrams_document_frequency(spark):
    d = _docs(
        spark,
        [
            (1, "red fish red fish"),  # 'red fish' once per doc (distinct)
            (2, "red fish blue fish"),
            (3, "blue fish only"),
        ],
    )
    out = {r["ngram"]: r["cnt"] for r in top_ngrams(d, n=2, k=3).collect()}
    assert out["red fish"] == 2  # doc frequency, not occurrences (3)
    assert out["blue fish"] == 2


def test_domain_mixture_shares_and_multiplier(spark):
    d = spark.createDataFrame(
        [(1, "a", 300), (2, "a", 450), (3, "b", 250)],
        "doc_id bigint, source string, tok bigint",
    )
    out = {
        r["source"]: r.asDict()
        for r in domain_mixture(
            d, "source", "tok", target_weights={"a": 0.5, "b": 0.5}
        ).collect()
    }
    assert out["a"]["docs"] == 2 and out["a"]["tokens"] == 750
    assert out["a"]["token_share_ppm"] == 750000
    assert out["b"]["token_share_ppm"] == 250000
    # b is under-represented 2x vs its 0.5 target -> multiplier 2.0 (e4)
    assert out["b"]["multiplier_e4"] == 20000
    assert out["a"]["multiplier_e4"] == 6667  # 0.5 / 0.75


def test_connected_components_chain_cycle_and_canonical(spark):
    from mbgspark.operators.components import (
        canonical_by_component,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 6)],  # chain, pair, cycle
        "id_a bigint, id_b bigint",
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6}
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 10)], "doc_id bigint, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in canonical_by_component(
            docs, connected_components(edges), "doc_id"
        ).collect()
    )
    assert kept == [1, 4, 6, 9]  # min per cluster + untouched singleton 9


def test_stratified_sample_rate_one_keeps_everything(spark):
    """rate >= 1.0 must short-circuit: its hex cutoff would be the 5-char
    '10000', which compares lexicographically BELOW most 4-char buckets
    ('ffff' < '10000' is False) and silently kept ~1/16 of the stratum."""
    d = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id bigint, lang string",
    )
    kept = stratified_sample(d, "lang", {"en": 1.0}, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == list(range(0, 400, 2))
    # over-unity rates behave as keep-all too
    kept2 = stratified_sample(d, "lang", {"en": 1.5}, "doc_id")
    assert kept2.count() == 200
    # default_rate >= 1.0 keeps every unlisted stratum
    kept3 = stratified_sample(d, "lang", {"en": 0.0}, "doc_id", default_rate=1.0)
    assert sorted(r["doc_id"] for r in kept3.collect()) == list(range(1, 400, 2))


def test_domain_mixture_sub_ppm_domain_gets_finite_multiplier(spark):
    """A domain holding < 0.5 ppm of tokens floors to token_share_ppm = 0;
    the multiplier must come from the raw counts, not the rounded ppm."""
    rows = [(i, "big", 1000000) for i in range(3)] + [(99, "tiny", 1)]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, tok bigint")
    out = {
        r["source"]: r.asDict()
        for r in domain_mixture(
            d, "source", "tok", target_weights={"big": 0.9, "tiny": 0.1}
        ).collect()
    }
    assert out["tiny"]["token_share_ppm"] == 0
    # 0.1 * 3000001 / 1 tokens * 1e4 = 3000001000 — finite, non-null
    assert out["tiny"]["multiplier_e4"] == 3000001000
    assert out["big"]["multiplier_e4"] == 9000  # 0.9 / ~1.0


def test_apply_domain_mixture_downsamples_only_over_target(spark):
    """The mixing step applied: a domain holding ~3x its target weight is
    downsampled to ~1/3 deterministically; the under-target domain keeps
    every row; unlisted domains (null multiplier) keep every row."""
    from mbgspark.operators.curation import apply_domain_mixture

    rows = (
        [(i, "big", 10) for i in range(600)]
        + [(1000 + i, "small", 10) for i in range(100)]
        + [(2000 + i, "other", 10) for i in range(50)]
    )
    d = spark.createDataFrame(rows, "doc_id bigint, source string, tok bigint")
    kept = apply_domain_mixture(
        d, "source", "tok", {"big": 0.3, "small": 0.3}, "doc_id"
    )
    by_src = {
        r["source"]: r["c"]
        for r in kept.groupBy("source").agg(F.count("*").alias("c")).collect()
    }
    # big: target 0.3 of 7500 tokens = 2250 vs actual 6000 -> rate 0.375
    assert 150 < by_src["big"] < 300  # ~600 * 0.375, md5-bucket variance
    assert by_src["small"] == 100    # under target: kept whole
    assert by_src["other"] == 50     # unlisted: null multiplier, kept
    # deterministic: the same rows survive on re-run
    again = apply_domain_mixture(
        d, "source", "tok", {"big": 0.3, "small": 0.3}, "doc_id"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def _components(edges, star):
    """``connected_components`` labels on one forced path: an edge cap of
    0 sends every non-empty edge frame to the distributed star loop. The
    driver path returns a one-slice local frame, so a plan with no
    Exchange marks it — a patch that stops steering fails here."""
    from mbgspark.operators import components as C

    cap = 0 if star else C._DRIVER_EDGE_CAP
    with patch.object(C, "_DRIVER_EDGE_CAP", cap):
        out = C.connected_components(edges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange" in plan) == star, plan
    return {r["id"]: r["component"] for r in out.collect()}


def test_star_components_long_chain_converges_logarithmically(spark):
    """A 60-node path (diameter 59) — the adversarial shape for label
    propagation (templated spam drifting one token per doc). The star
    loop must converge well inside its round budget (O(log n)) and agree
    with the driver union-find."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a bigint, id_b bigint"
    )
    star = _components(chain, star=True)
    assert star == {i: 0 for i in range(61)}
    assert _components(chain, star=False) == star


def test_star_components_raise_when_round_budget_runs_out(spark):
    """The star loop RAISES ConvergenceError instead of returning
    silently-wrong labels when its fixpoint is not reached within
    ``_MAX_STAR_ROUNDS``: one round cannot collapse the 60-node chain."""
    import pytest

    from mbgspark.operators import components as C

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a bigint, id_b bigint"
    )
    with patch.object(C, "_MAX_STAR_ROUNDS", 1), patch.object(
        C, "_DRIVER_EDGE_CAP", 0
    ):
        with pytest.raises(C.ConvergenceError):
            C.connected_components(chain)


def test_star_and_union_find_agree_on_mixed_graph(spark):
    edges = spark.createDataFrame(
        # two cliques bridged by a chain + a separate cycle + a pair
        [(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (11, 12), (12, 20),
         (20, 21), (21, 22), (20, 22), (30, 31), (31, 32), (32, 30),
         (40, 41)],
        "id_a bigint, id_b bigint",
    )
    star = _components(edges, star=True)
    assert _components(edges, star=False) == star
    assert set(star.values()) == {1, 30, 40}


def test_canonical_best_by_component_keeps_highest_score(spark):
    """Quality-aware canonical selection: the longest doc per cluster wins
    (ties -> min id); singletons always survive."""
    from mbgspark.operators.components import (
        canonical_best_by_component,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (99, 1)],
        "doc_id bigint, score bigint",
    )
    kept = canonical_best_by_component(
        docs, connected_components(edges), "doc_id", "score"
    )
    got = {r["doc_id"]: r["component"] for r in kept.collect()}
    # cluster {1,2,3}: 2 and 3 tie at 9 -> min id 2; cluster {10,11} -> 10;
    # singleton 99 keeps itself
    assert got == {2: 1, 10: 10, 99: 99}


def test_star_and_union_find_agree_on_self_loops(spark):
    """A node whose ONLY edge is a self-loop must survive as its own
    component on BOTH paths (ADVICE r3: the star loop dropped it)."""
    edges = spark.createDataFrame(
        [(1, 2), (5, 5), (2, 2)], "id_a bigint, id_b bigint"
    )
    for star in (True, False):
        assert _components(edges, star) == {1: 1, 2: 1, 5: 5}, star


def test_canonical_best_guards(spark):
    """canonical_best_by_component rejects a pre-existing 'component'
    column (silent join collision) and non-numeric ids (the (score, -id)
    tie-break needs negation) — ADVICE r3."""
    import pytest

    from mbgspark.operators.components import canonical_best_by_component

    comp = spark.createDataFrame([(1, 1)], "id bigint, component bigint")
    with_comp = spark.createDataFrame(
        [(1, 2, 3)], "doc_id bigint, component bigint, score bigint"
    )
    with pytest.raises(ValueError, match="component"):
        canonical_best_by_component(with_comp, comp, "doc_id", "score")
    str_ids = spark.createDataFrame(
        [("a", 3)], "doc_id string, score bigint"
    )
    with pytest.raises(ValueError, match="numeric id"):
        canonical_best_by_component(str_ids, comp, "doc_id", "score")


def test_url_stats_counts_and_domains(spark):
    from mbgspark.operators.curation import with_url_stats

    d = spark.createDataFrame(
        [
            (1, "see https://A.Example.org/p and http://b.net/x?q=1 plus https://a.example.org/other"),
            (2, "no links here"),
            (3, "(https://c.io)"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in with_url_stats(d, "text").collect()}
    assert out[1]["n_urls"] == 3 and out[1]["n_domains"] == 2
    assert out[1]["domain_list"] == "a.example.org,b.net"  # lowercased, deduped, sorted
    assert out[2]["n_urls"] == 0 and out[2]["domain_list"] == ""
    # \S+ runs to whitespace, so the closing paren rides along — faithful
    # to the PII scan's URL_RE
    assert out[3]["domain_list"] == "c.io)"


def test_line_filter_c4_rules(spark):
    from mbgspark.operators.curation import with_line_filter

    d = spark.createDataFrame(
        [
            (1, "Home | About | Contact\nThis line has enough words here.\nOK\nShe said \"stop now please!\""),
            (2, "single fragment"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in with_line_filter(d, "text").collect()}
    # nav bar: no terminal punct; 'OK': too short; quoted line: kept
    assert out[1]["n_lines"] == 4 and out[1]["n_kept_lines"] == 2
    assert out[1]["line_filtered_text"] == (
        'This line has enough words here.\nShe said "stop now please!"'
    )
    assert out[2]["n_kept_lines"] == 0 and out[2]["line_filtered_text"] == ""


def test_mixture_interleave_spacing_and_determinism(spark):
    from mbgspark.operators.curation import mixture_interleave

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "heavy" if i % 2 == 0 else "light") for i in range(200)],
        "doc_id: long, domain: string",
    )
    out = mixture_interleave(df, "domain", {"light": 5000}, id_col="doc_id")
    rows = out.collect()
    # exact integer spacing: default-weight docs every 1e4 slots, the
    # half-weight domain every 2e4 — its r-th doc lands twice as far out
    for r in rows:
        w = 5000 if r["domain"] == "light" else 10000
        assert r["pos_key"] == (r["within_rank"] * 100000000) // w
    # partitioning-independent
    again = mixture_interleave(
        df.repartition(7), "domain", {"light": 5000}, id_col="doc_id"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # consumption order: among the first 100 slots by pos_key, the heavy
    # domain contributes ~2x the light one
    first = sorted(rows, key=lambda r: (r["pos_key"], r["domain"], r["doc_id"]))[:99]
    heavy = sum(1 for r in first if r["domain"] == "heavy")
    assert abs(heavy - 66) <= 1


def test_domain_cap_is_deterministic_and_nested(spark):
    """The cap keeps exactly min(cap, n) per domain, the same survivors
    every run, and a larger cap keeps a strict superset (nested — the
    property mixture re-caps rely on)."""
    from pyspark.sql import functions as F

    from mbgspark.operators.curation import domain_cap

    rows = [(i, f"d{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")

    def ids(cap):
        return {
            r["doc_id"]
            for r in domain_cap(df, "source", "doc_id", cap=cap).collect()
        }

    s5, s5b, s10 = ids(5), ids(5), ids(10)
    assert s5 == s5b and len(s5) == 15 and len(s10) == 30
    assert s5 < s10
    per = (
        domain_cap(df, "source", "doc_id", cap=5)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert all(r["n"] == 5 for r in per)


def _observed_neardup_survivors(df, name, **kw):
    """Near-dup survivors (``id_b`` of every verified pair anti-joined
    away, keep-first) with the oversized-bucket metrics row from
    ``metrics_out`` riding them through ``dedup.observe_oversized``."""
    from pyspark.sql import functions as F

    from mbgspark.operators.dedup import minhash_near_dups, observe_oversized

    metrics: list = []
    pairs = minhash_near_dups(df, "doc_id", "text", metrics_out=metrics, **kw)
    drop_ids = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return observe_oversized(
        df.join(drop_ids, "doc_id", "left_anti"), metrics[0], name
    )


def test_curation_neardup_emits_oversized_metrics_without_extra_action(spark):
    """VERDICT r4 item 4: a planted mega-cluster of NEAR-identical
    (non-exact) texts that blows past the LSH bucket cap surfaces in the
    pipeline's own Observation metrics as a side effect of the one
    survivors action — no opt-in plumbing, no second band-row pass. A
    clean corpus reports zero oversized buckets through the same
    channel."""
    from pyspark.sql import functions as F

    base = "shared viral boilerplate text repeated across the whole cluster"
    mega = spark.range(300).select(
        F.col("id").alias("doc_id"),
        # unique trailing token: no two texts are equal, so they all
        # reach LSH and land in the same band buckets
        F.concat(F.lit(base + " tail"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    clean = spark.createDataFrame(
        [(1000 + i, f"totally distinct document number {i} about topic {i}") for i in range(5)],
        "doc_id bigint, text string",
    )
    corpus = mega.unionByName(clean)

    survivors, obs = _observed_neardup_survivors(
        corpus, "mega", threshold=0.5, max_bucket_size=100
    )
    n = survivors.count()  # the ONE action; metrics ride it
    got = obs.get
    assert got["oversized_buckets"] >= 1
    assert got["oversized_rows"] > 100
    # capped buckets generate no pairs, so the mega-cluster survives
    # intact (observable, not silently shrunk) and clean docs survive
    assert n == 305

    s2, obs2 = _observed_neardup_survivors(
        spark.createDataFrame(
            [(i, f"unique text {i} with its own words {i*7}") for i in range(20)],
            "doc_id bigint, text string",
        ),
        "clean",
        max_bucket_size=100,
    )
    assert s2.count() == 20
    assert obs2.get["oversized_buckets"] == 0


def test_curation_neardup_metrics_survive_zero_survivor_fold(spark):
    """ADVICE r5: when the survivors are runtime-empty, AQE's
    empty-relation propagation folds the metrics crossJoin and the
    Observation never fires — the returned handle must resolve to the
    TRUE metrics by direct evaluation instead of raising an opaque JVM
    assertion. Pinned on the empty corpus (the zero-survivor case) and
    on reading metrics BEFORE any action (defined as direct evaluation,
    not an indefinite block)."""
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    survivors, obs = _observed_neardup_survivors(empty, "empty")
    assert survivors.count() == 0  # the action; ride-along folded
    got = obs.get
    assert got == {"oversized_buckets": 0, "oversized_rows": 0}

    # metrics read with NO prior action: direct evaluation, true zeros
    _, obs2 = _observed_neardup_survivors(
        spark.createDataFrame(
            [(i, f"distinct text {i} about {i*13}") for i in range(5)],
            "doc_id bigint, text string",
        ),
        "no_action",
    )
    assert obs2.get["oversized_buckets"] == 0


def test_connected_components_auto_matches_star_and_falls_back(spark):
    """The driver union-find produces the exact star labels on every
    fixture shape (chain + pair + cycle + self-loops), and above the edge
    cap the operator falls back to the distributed star loop (pinned by
    patching the cap to 0)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 6), (9, 9)],
        "id_a bigint, id_b bigint",
    )
    star = _components(edges, star=True)
    driver = _components(edges, star=False)
    assert driver == star == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 9}


def test_connected_components_auto_null_endpoints(spark):
    """The driver path must tolerate null edge endpoints exactly like the
    star path's null-propagating filters: the edge is dropped entirely
    (ADVICE r7 — None used to reach the driver union-find and TypeError).
    Labels from both paths agree on the same frame."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (6, 7)],
        "id_a bigint, id_b bigint",
    )
    driver = _components(edges, star=False)
    star = _components(edges, star=True)
    assert driver == star == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}
