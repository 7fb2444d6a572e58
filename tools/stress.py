"""Scale-stress harness: run the heavy operators on a corpus scaled N×.

The documents table is replicated ``n`` times with every token hash-rewritten
per copy (substr(md5(token || copy), 1, 8)) so copies share NO vocabulary —
cross-copy near-duplicate pairs cannot exist and pair counts stay linear in
n, which is what separates "the operator scales" from "the planted-dup clique
exploded". Each copy also plants 30 near-duplicates (first token dropped,
same construction as the catalog's dup corpus), so MinHash recall is
checkable: expect ≈ 30·n verified pairs.

Usage: python tools/stress.py [n] [sf_dir]
Prints one timing line per operator plus a JSON summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mbgspark.io import load_table
from mbgspark.operators import dedup as dd
from mbgspark.operators.textstats import with_fingerprint, with_token_counts
from mbgspark.session import get_spark


def scaled_corpus(spark, sf_dir: str, n: int):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = []
    for i in range(n):
        rewritten = F.array_join(
            F.transform(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t, i=i: F.substring(F.md5(F.concat(t, F.lit(str(i)))), 1, 8),
            ),
            " ",
        )
        base = d.select(
            (F.col("doc_id") + i * 10_000_000).alias("id"), rewritten.alias("t")
        )
        planted = base.filter(F.col("id") % 10_000_000 < 30).select(
            (F.col("id") + 1_000_000).alias("id"),
            F.expr("substring(t, instr(t, ' ') + 1)").alias("t"),
        )
        copies.append(base.unionByName(planted))
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    # Persisted: the generated corpus is a 20-way union with per-token md5
    # rewriting whose recompute (~1 s per consumer at n=20) would otherwise
    # be billed to every operator — an op whose plan consumes the corpus
    # several times (e.g. a token explode + a final join) was overstated
    # ~2.5×. Production inputs are parquet scans, where a re-scan is
    # column-pruned and cheap; caching here restores that cost model so
    # each timing is the OPERATOR's.
    corpus = scaled_corpus(spark, sf_dir, n).persist()
    n_rows = corpus.count()
    results: dict[str, dict] = {}

    def run(name, df):
        # force FULL materialization with the noop sink: a count() lets
        # Catalyst prune every projected column, so narrow map operators
        # (compiled locate, token counts, PII scan) would measure the scan,
        # not the operator (found when "0.2 s" compiled-locate numbers
        # didn't survive a noop-write cross-check)
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        out_rows = df.count()
        results[name] = {
            "sec": round(dt, 2),
            "out_rows": out_rows,
            "rows_per_sec": int(n_rows / dt),
        }
        print(f"{name:24s} {dt:7.2f}s  out={out_rows}  ({int(n_rows/dt):,} rows/s)")

    run("exact_dedup", corpus.groupBy(F.md5("t")).agg(F.min("id")))
    run("minhash_lsh_neardup", dd.minhash_near_dups(corpus, "id", "t", 3, 8, 4, 0.5))
    run("simhash", dd.simhash32(corpus, "id", "t"))
    run("token_counts", with_token_counts(corpus, "t"))
    run("fingerprints", with_fingerprint(corpus, "t"))

    # full 602-term dictionary locate (hash-rewritten tokens ≅ a corpus
    # where almost nothing matches — the common case)
    from mbgspark.locations import build_full_locations_dim, locate_compiled

    dim_rows = build_full_locations_dim()
    run("locate_compiled_602", locate_compiled(corpus, dim_rows, "id", "t"))

    # curation composite (quality gate + fingerprint dedup keep-first):
    # the catalog's curate_corpus minus langid, on the scaled corpus
    from pyspark.sql import Window

    from mbgspark.operators.textstats import with_quality_score

    cur = with_fingerprint(with_quality_score(corpus, "t"), "t")
    w = Window.partitionBy("fingerprint").orderBy("id")
    uniq = (
        cur.filter(F.col("n_tokens") >= 5)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    run("curation_pipeline", uniq)

    # curation suite on the scaled corpus: contamination (every 41st base
    # doc is the "benchmark"), repetition stats, PII scan, deterministic
    # sampling, packing, dup-cluster components over the planted pairs
    from mbgspark.operators.components import connected_components
    from mbgspark.operators.curation import (
        contamination_flags,
        pack_sequences,
        stratified_sample,
        with_pii_redaction,
        with_repetition_stats,
    )

    bench = corpus.filter(F.col("id") % 41 == 0)
    rest = corpus.filter(F.col("id") % 41 != 0)
    run("contamination", contamination_flags(rest, bench, "id", "t", n=3, min_hits=2))
    run("repetition_stats", with_repetition_stats(corpus, "id", "t"))
    run("pii_scan", with_pii_redaction(corpus, "t"))
    run(
        "stratified_sample",
        stratified_sample(
            corpus.withColumn("g", (F.col("id") % 2).cast("string")),
            "g",
            {"0": 0.3, "1": 0.1},
            "id",
        ),
    )
    run(
        "sequence_packing",
        pack_sequences(
            with_token_counts(corpus, "t"), "id", "bpe_tokens", 2048, 32
        ),
    )
    planted_edges = corpus.filter(
        (F.col("id") % 10_000_000 >= 1_000_000) & (F.col("id") % 10_000_000 < 1_000_030)
    ).select(
        (F.col("id") - 1_000_000).alias("id_a"), F.col("id").alias("id_b")
    )
    run("components", connected_components(planted_edges))

    # seeded shuffle + balanced shards (VERDICT r3 item 6): exact-ntile
    # shard assignment over the scaled corpus, no global sort (the rank
    # window partitions by key-prefix bucket; pinned in test_shuffle.py)
    from mbgspark.operators.shuffle import deterministic_shuffle_shards

    run("shuffle_shards", deterministic_shuffle_shards(corpus, "id", "r4", 64))

    # embedding multiprobe dedup, vector corpus scaled WITH n: ceil(n/10)
    # copies of the embeddings table, each copy's dims ROTATED by a
    # distinct offset — cross-copy cosines become pseudo-random (rotations
    # misalign every dim), so near-dup pairs exist only within a copy
    # (base vs its +0.03 perturbation) and pair count stays linear in
    # copies, the same anti-clique discipline as the token-rewritten text
    # corpus. The recall property itself is gated in test_dedup.py; this
    # measures runtime/pair-linearity at growing vector counts.
    emb = load_table(spark, sf_dir, "embeddings")
    n_emb = max(1, n // 10)
    e_parts = []
    for i in range(n_emb):
        rot = (7 * i) % 64
        rotated = F.expr(
            f"concat(slice(embedding, {rot + 1}, {64 - rot}),"
            f" slice(embedding, 1, {rot}))"
        )
        base_e = emb.select(
            (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
            F.transform(rotated, lambda x: x.cast("double")).alias("embedding"),
        )
        pert_e = base_e.select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x + 0.03).alias("embedding"),
        )
        e_parts.append(base_e.unionByName(pert_e))
    emb_corpus = e_parts[0]
    for p in e_parts[1:]:
        emb_corpus = emb_corpus.unionByName(p)
    # block_bits/tables SELF-SIZED (VERDICT r4 item 2): the default now
    # derives (bits, tables) from a cheap corpus count at plan-build time
    # via auto_multiprobe_params with NO argument passed. The rule is
    # asserted against this corpus's actual size (n_emb copies × 2 ×
    # |embeddings|): at N=50 (20,000 vectors, 64 dims) it resolves to
    # the measured-fast (8, 8) (21.6 s vs 182 s for the old fixed
    # (4, 4), recall 0.994 vs 0.989); at N=20 (8,000 vectors) to (7, 8).
    import math

    n_vec = emb_corpus.count()
    auto_bits, auto_tables = dd.auto_multiprobe_params(emb_corpus)
    want_bits = min(64, max(4, math.ceil(math.log2(n_vec / 80))))
    print(
        f"auto multiprobe params: block_bits={auto_bits} tables={auto_tables}"
        f" (n={n_vec}, rule bits={want_bits})"
    )
    assert (auto_bits, auto_tables) == (want_bits, min(8, 64 // want_bits)), (
        auto_bits,
        auto_tables,
        n_vec,
    )
    run(
        "embedding_multiprobe",
        dd.embedding_near_dups_multiprobe(emb_corpus, threshold=0.95),
    )

    # adversarial skew: ONE text duplicated 100k times puts 100k rows into
    # each of its 4 band buckets — uncapped, the LSH self-join would mint
    # ~2×10¹⁰ candidate pairs from that single text. The bucket cap
    # (max_bucket_size=1000 default) must drop those buckets so the output
    # is exactly the planted near-dup pairs again, and the monitoring
    # companion must surface the 4 dropped buckets.
    viral_n = 100_000
    viral_text = " ".join(f"viral{i}" for i in range(30))
    viral = spark.range(viral_n).select(
        (F.col("id") + 900_000_000).alias("id"), F.lit(viral_text).alias("t")
    )
    skew_corpus = corpus.unionByName(viral)
    run(
        "minhash_lsh_skew_capped",
        dd.minhash_near_dups(skew_corpus, "id", "t", 3, 8, 4, 0.5),
    )
    sig = dd.minhash_signature(dd.with_word_shingles(viral, "id", "t", 3), "id", 8)
    run("lsh_oversized_monitor", dd.lsh_oversized_buckets(sig, "id", 4, 2, 1000))

    # ---- round-4 additions: incremental dedup + profiling suite ----
    # incremental: a 30-doc batch (fresh perturbations of copy-0 docs)
    # against the FULL scaled corpus. The contract under test at scale:
    # per-batch verify-pair volume tracks the BATCH (~30 + 30 planted
    # overlaps), not the corpus's own 30*n planted pairs — corpus-corpus
    # pairs are never regenerated.
    batch = (
        corpus.filter(F.col("id") < 30)
        .select(
            (F.col("id") + 2_000_000).alias("id"),
            F.expr("substring(t, instr(t, ' ') + 1)").alias("t"),
        )
    )
    run(
        "incremental_neardup_b30",
        dd.minhash_near_dups_incremental(batch, corpus, "id", "t", 3, 8, 4, 0.5),
    )
    # production mode (the corpus index written once at ingest, each batch
    # probing it with probe_minhash_index) is soaked by gate_bench/gate_soak

    from mbgspark.operators.profiling import heavy_hitters, profile_table, snapshot_diff
    from mbgspark.operators.textstats import gopher_quality_filter

    run("gopher_quality_gate", gopher_quality_filter(corpus, "id", "t"))
    mutated = corpus.select(
        "id",
        F.when(F.col("id") % 97 == 0, F.concat("t", F.lit(" v2"))).otherwise(
            F.col("t")
        ).alias("t"),
    ).filter(F.col("id") % 89 != 0)
    run("snapshot_diff", snapshot_diff(corpus, mutated, "id", ["t"]))
    run("profile_2col", profile_table(corpus, ["id", "t"]))
    run("heavy_hitters_mod1k", heavy_hitters(corpus.select((F.col("id") % 1000).alias("k")), "k"))

    # ---- round-4 second session: LM scoring, leakage audit, quantized ANN ----
    # bigram surprise on the hash-rewritten corpus is the worst case for
    # the (w1,w2) window: virtually every bigram is unique, so the
    # aggregated set is ~as large as the occurrence set — if it stays
    # linear here, real corpora (heavy bigram reuse) are strictly easier.
    from mbgspark.operators.profiling import split_leakage
    from mbgspark.operators.similarity import quantized_topk
    from mbgspark.operators.textstats import bigram_surprise

    run("bigram_surprise", bigram_surprise(corpus, "id", "t"))
    # leakage probes: the planted near-dups share no EXACT fingerprint with
    # their originals (first token dropped), so expected leak counts are 0
    # — the measurement is the probe-join cost at corpus scale
    run("split_leakage", split_leakage(corpus, "id", "t"))
    run(
        "quantized_topk_q5",
        quantized_topk(
            emb_corpus, emb_corpus.filter(F.col("vec_id") < 5), k=3
        ),
    )

    # ---- round-4 closing batch ----
    # tfidf_cosine on the hash-rewritten corpus exercises the
    # vocabulary-degenerate worst case: tokens are rewritten per COPY,
    # so each 5,030-doc copy still shares the generator's tiny
    # vocabulary internally and uncapped blocking degrades toward
    # intra-copy all-pairs (measured r4: 4.5M pairs, 54 s at N=20).
    # Since round 5 the DEFAULT max_block_df=100 stop-term cutoff bounds
    # block sizes by construction (VERDICT r4 item 3) — both variants
    # run here so SCALE.md carries capped time + pair-recall vs uncapped
    from mbgspark.operators.textstats import bigram_surprise  # noqa: F811
    from mbgspark.operators.textstats import bm25_search, tfidf_cosine_pairs

    run(
        "tfidf_cosine_pairs_capped",
        tfidf_cosine_pairs(corpus, "id", "t", k=3, min_cos_e6=600000),
    )
    run(
        "tfidf_cosine_pairs_uncapped",
        tfidf_cosine_pairs(
            corpus, "id", "t", k=3, min_cos_e6=600000, max_block_df=None
        ),
    )
    # BM25 over the scaled corpus for 3 terms drawn from copy-0's
    # rewritten vocabulary (they exist; other copies' tokens differ)
    sample_terms = [
        r["t"].split()[0] for r in corpus.filter(F.col("id") < 3).collect()
    ]
    run("bm25_topk", bm25_search(corpus, sample_terms, "id", "t", k=10))
    # label-noise audit through the IVF path (the corpus-scale form)
    from mbgspark.operators.similarity import ivf_topk, label_noise_flags

    # persist: the audit consumes the embedding lineage from several
    # plan branches (assignment, probe, verify, labels) and the 5-way
    # union+rotate generator would recompute per consumer (the
    # build_minhash_index lesson; un-persisted this measured 156 s)
    emb_labeled = emb_corpus.withColumn(
        "label", (F.col("vec_id") % 7).cast("int")
    ).persist()
    n_vec = emb_labeled.count()
    # CELLS SELF-SIZE (VERDICT r4 item 2): n_cells=None derives sqrt(n)
    # from a corpus count at plan-build time (auto_ivf_cells) — 16 cells
    # at 20k vectors measured 383 s where sqrt(n)=141 measured 55 s,
    # same recall machinery; now the fast number needs NO argument
    from mbgspark.operators.similarity import auto_ivf_cells

    auto_cells = auto_ivf_cells(emb_labeled)
    print(f"auto ivf cells: {auto_cells} (n={n_vec})")
    assert abs(auto_cells - n_vec**0.5) <= 1, (auto_cells, n_vec)
    nn = ivf_topk(emb_labeled, emb_labeled, k=3, nprobe=4)
    run("label_noise_ivf", label_noise_flags(emb_labeled, k=3, neighbors=nn))

    expected_pairs = 30 * n
    found = results["minhash_lsh_neardup"]["out_rows"]
    print(
        json.dumps(
            {
                "corpus_rows": n_rows,
                "scale_factor_n": n,
                "planted_pairs": expected_pairs,
                "minhash_pairs_found": found,
                "skew_capped_pairs": results["minhash_lsh_skew_capped"]["out_rows"],
                "skew_dropped_buckets": results["lsh_oversized_monitor"]["out_rows"],
                "incremental_pairs": results["incremental_neardup_b30"]["out_rows"],
                "ops": results,
            }
        )
    )


if __name__ == "__main__":
    main()
