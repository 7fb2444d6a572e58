"""Similarity search over an embedding column (array<float>).

- ``brute_force_topk``: exact cosine top-k of every query vector against the
  corpus — the correctness baseline. Query side is broadcast (queries are
  few); the corpus side streams, so the join is a BroadcastNestedLoopJoin
  that scales with corpus size, not corpus².
- ``ivf_topk``: the scale path — a deterministic IVF-style coarse quantizer:
  corpus vectors are assigned to the nearest of C centroids (centroids =
  first C corpus vectors by id, a deterministic seed choice), queries probe
  only their ``nprobe`` nearest cells. Turns all-pairs into a cell-bucketed
  equi-join, the same shape a 1000-executor ANN job wants.

Scores are rounded to 4 dp with id tiebreaks so results hash stably across
engines (SURVEY.md §2.11 determinism rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mbgspark.io import ensure_width
from mbgspark.operators.dedup import cosine_sim, cosine_sim_prenorm, vec_norm


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "fold",
) -> DataFrame:
    """Exact cosine top-k per query vector (excluding self-matches).

    Two physical strategies, same logical result (the tie order —
    cos_sim desc at 4 dp, match_id asc — is identical; raw fp sums can
    differ in the last ulp, below the shared rounding):

    - ``"fold"``: corpus streams against the broadcast query side;
      cosine via zip_with/aggregate, window rank per query. Zero Python.
      The crossJoin's parallelism equals CORPUS partitions — and a small
      parquet corpus arrives as ONE partition, serializing the whole n*m
      score pass on a single task (observed at sf1: 20k x 20k on one
      core) — so the corpus is repartitioned to session parallelism
      first; the exchange moves only the corpus rows.
    - ``"vectorized"``: the query matrix (bounded by the same contract
      that justifies broadcasting it) ships in a mapInPandas closure;
      each Arrow batch of corpus rows scores as ONE numpy matmul and
      emits only its LOCAL top-k per query (top-k distributes over
      batches), so the scored pair frame never exists — the global rank
      runs over |batches|·|queries|·k candidate rows. The per-candidate
      sim is quantized to e4 inside the batch (floor(x·1e4 + 0.5), the
      repo-standard device) so local and global ranking use the same
      key; null corpus vectors are dropped (the fold ranks them last —
      visible only when a query has fewer than k finite matches).
      Interpreted HOFs don't codegen: at 10^2+ queries per corpus row
      the matmul wins by an order of magnitude (measured at 2M pairs:
      fold 2.3 s, vectorized 1.0 s, identical output).
    - ``"auto"``: pick by the measured crossover
      (``dedup.VECTORIZED_PAIR_CROSSOVER``); costs two bounded count
      jobs at plan-build time, and at real query volumes the answer is
      always "vectorized".
    """
    if strategy == "auto":
        from mbgspark.operators.dedup import VECTORIZED_PAIR_CROSSOVER

        pairs = corpus.count() * queries.count()
        strategy = "vectorized" if pairs >= VECTORIZED_PAIR_CROSSOVER else "fold"
    if strategy == "vectorized":
        return _brute_force_topk_vectorized(corpus, queries, k, id_col, vec_col)
    if strategy != "fold":
        raise ValueError(f"unknown brute_force_topk strategy: {strategy!r}")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            vec_norm(F.col(vec_col)).alias("__qn"),
        )
    )
    c = ensure_width(
        corpus.select(
            F.col(id_col).alias("match_id"),
            F.col(vec_col).alias("cv"),
            vec_norm(F.col(vec_col)).alias("__cn"),
        )
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("match_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "match_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


def _brute_force_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """``brute_force_topk(strategy="vectorized")`` body. Bounded collect
    of the query side (same size contract as its broadcast in the fold
    path); per-batch matmul + local top-k; global rank over the tiny
    candidate union. See brute_force_topk for semantics."""
    import numpy as np
    import pandas as pd

    # Query-side collect bounded by the broadcast contract (no fixed row
    # cap). Measured (tools/drivercap_audit.py, r9): 20k × 64-float
    # queries against a 100k corpus peaks at 0.36 GB python RSS — the
    # query matrix, not this collect, is the footprint that matters.
    rows = (
        queries.select(id_col, vec_col).where(F.col(vec_col).isNotNull()).collect()
    )
    id_type = corpus.schema[id_col].dataType.simpleString()
    cand_schema = f"query_id {id_type}, match_id {id_type}, __sim_e4 bigint"
    base = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("cv")
    ).where(F.col("cv").isNotNull())
    if not rows:
        return base.limit(0).select(
            F.col("match_id").alias("query_id"),
            F.col("match_id"),
            F.lit(None).cast("double").alias("cos_sim"),
            F.lit(None).cast("bigint").alias("rnk"),
        )
    qids = [r[0] for r in rows]
    qmat = np.asarray([r[1] for r in rows], dtype=np.float64)  # (Q, d)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))  # (Q,)
    # Pre-normalized query matrix (r8): avoids the per-batch B×Q
    # outer-product + division temporaries (26× on big shards — see
    # curation._embedding_contamination_vectorized); last-ulp only.
    with np.errstate(divide="ignore", invalid="ignore"):
        qmat_n = qmat / qnorm[:, None]  # (Q, d)
    qid_arr = np.asarray(qids)

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.asarray(list(pdf["cv"]), dtype=np.float64)  # (B, d)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = cmat @ qmat_n.T  # (B, Q), the ONLY B×Q temp
                sims /= cnorm[:, None]
            # Half-up AWAY FROM ZERO, matching F.round's BigDecimal
            # HALF_UP on negative cosines too (ADVICE r7: plain
            # floor(x*1e4+0.5) rounds -0.64995 toward +inf).
            sim_e4 = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5)
            mids = pdf["match_id"].to_numpy()
            # the self-match exclusion mirrors the fold's join filter
            sim_e4[mids[:, None] == qid_arr[None, :]] = np.nan
            out = {c: [] for c in ("query_id", "match_id", "__sim_e4")}
            kk = min(k, sim_e4.shape[0])
            for j in range(sim_e4.shape[1]):
                col = sim_e4[:, j]
                valid = ~np.isnan(col)
                if not valid.any():
                    continue
                vidx = np.flatnonzero(valid)
                # local top-k by the GLOBAL rank key: (-sim_e4, match_id)
                order = np.lexsort((mids[vidx], -col[vidx]))[:kk]
                sel = vidx[order]
                out["query_id"].extend([qids[j]] * len(sel))
                out["match_id"].extend(mids[sel])
                out["__sim_e4"].extend(col[sel].astype(np.int64))
            yield pd.DataFrame(out)

    cands = ensure_width(base).mapInPandas(_score, cand_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__sim_e4"), F.asc("match_id")
    )
    return (
        cands.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "match_id",
            (F.col("__sim_e4") / 1e4).alias("cos_sim"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )


def auto_ivf_cells(corpus: DataFrame) -> int:
    """Derive the IVF cell count from the corpus itself — the measured
    √n sizing rule (r4, SCALE.md: 16 cells at 20k vectors = 383 s on the
    label-noise audit vs √n = 141 cells = 55 s, same recall machinery)
    promoted from docstring guidance to the DEFAULT (VERDICT r4 item 2).
    Candidates per query ~ n·nprobe/n_cells, so n_cells = √n keeps probe
    cost ~√n·nprobe — sub-linear by construction. One cheap count at
    plan-build time; floor of 4 cells so tiny corpora still partition."""
    import math

    n = corpus.count()
    return max(4, int(round(math.sqrt(max(n, 1)))))


def build_ivf_index(
    corpus: DataFrame,
    n_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The IVF index: every corpus vector assigned to its nearest
    centroid cell — ``(match_id, cv, cell_id)``, the corpus side of
    ``ivf_topk``'s cell-bucketed join. ``n_cells=None`` (the default)
    auto-sizes to √n via ``auto_ivf_cells``; explicit ``centroids`` fix
    the cell count themselves, so no auto count runs."""
    if n_cells is None and centroids is None:
        n_cells = auto_ivf_cells(corpus)
    cents = _centroid_table(corpus, n_cells, id_col, vec_col, centroids)
    # Assignment is an n × n_cells broadcast crossJoin whose parallelism
    # equals the CORPUS side's partition count — fan it out to session
    # cores like every other broadcast scorer (r10: the un-fanned 8-way
    # scan serialized 3.2M cosine folds onto a straggler at sf10; see
    # SCALE.md). Top-1 per vector is a hash-aggregate min_by on the
    # identical rank key (a_sim desc, cell_id asc — encoded as a
    # (-a_sim, cell_id) struct min), NOT a row_number window: the agg
    # combines map-side, so the shuffle carries n rows, not n × n_cells,
    # and no sort happens. Same argmax, same rounding, identical output.
    # The negation lives on a_sim (always double), never on cell_id: a
    # default-built index carries the caller's id_col as cell_id, and
    # negating a string column casts to double → NULL under the non-ANSI
    # sessions this engine pins, which would make the equal-sim tie-break
    # nondeterministic (ADVICE r10).
    scored = (
        ensure_width(
            corpus.select(
                F.col(id_col).alias("match_id"),
                F.col(vec_col).alias("cv"),
                vec_norm(F.col(vec_col)).alias("__cvn"),
            )
        )
        .crossJoin(cents.withColumn("__ctn", vec_norm(F.col("cent"))))
        .withColumn(
            "a_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("cv"), F.col("cent"), F.col("__cvn"), F.col("__ctn")
                ),
                6,
            ),
        )
    )
    return scored.groupBy("match_id").agg(
        F.min_by(
            F.col("cell_id"), F.struct((-F.col("a_sim")).alias("ns"), F.col("cell_id"))
        ).alias("cell_id"),
        F.first("cv").alias("cv"),
    ).select("match_id", "cv", "cell_id")


def _centroid_table(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]] | None,
) -> DataFrame:
    if centroids is not None:
        return F.broadcast(
            corpus.sparkSession.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
                "cell_id int, cent array<double>",
            )
        )
    return F.broadcast(
        corpus.orderBy(id_col).limit(n_cells).select(
            F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cent")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_cells: int | None = None,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF cells.

    SIZING (measured, tools/stress.py): candidates per query ~
    n * nprobe / n_cells, so a FIXED cell count degrades toward brute
    force as the corpus grows — at 20k vectors, the old fixed 16 cells
    measured 383 s on the label-noise audit where sqrt(n) = 141 cells
    measured 55 s at the same recall machinery. Since round 5 the
    default (``n_cells=None``) COMPUTES √n from a cheap corpus count at
    plan-build time (``auto_ivf_cells`` — the cell-count analog of the
    embedding-multiprobe block_bits rule); pass an explicit value to pin
    a configuration (the catalog gate queries do, so their oracles
    replay the same cells).

    Default centroids are the ``n_cells`` lowest-id corpus vectors —
    deterministic and cheap. Pass ``centroids`` (e.g. from
    ``kmeans_centroids``) to swap in a trained quantizer WITHOUT changing
    the join shape: the centroid table is a bounded model parameter either
    way (cell_id = list index), and assignment/probing/candidate joins are
    identical — the promise the docstring made in round 2, now exercised
    by the ann_ivf_kmeans_topk gate query. Better-centered cells mean the
    true neighbors concentrate in fewer probed cells, which is where IVF
    recall comes from at a fixed nprobe. Assignment and probing are
    broadcast joins against the tiny centroid table; the candidate join is
    an equi-join on cell id."""
    if n_cells is None and centroids is None:
        n_cells = auto_ivf_cells(corpus)
    cents = _centroid_table(corpus, n_cells, id_col, vec_col, centroids)
    # corpus → nearest cell (top-1 by cosine)
    assigned = build_ivf_index(corpus, n_cells, id_col, vec_col, centroids)
    # query → nprobe nearest cells. This broadcast crossJoin deliberately
    # does NOT fan out its stream side: the stream is the QUERY frame,
    # bounded by the same contract that justifies broadcasting it
    # elsewhere, so the pair count is |queries| × n_cells — thousands,
    # not millions — and a fanout exchange would cost more than the
    # scoring (r11 BNLJ audit; the corpus-side assignment join is the
    # one that fans out, in build_ivf_index).
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("p_sim"), F.asc("cell_id"))
    probes = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            vec_norm(F.col(vec_col)).alias("__qn"),
        )
        .crossJoin(cents.withColumn("__ctn", vec_norm(F.col("cent"))))
        .withColumn(
            "p_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("qv"), F.col("cent"), F.col("__qn"), F.col("__ctn")
                ),
                6,
            ),
        )
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qv", "__qn", "cell_id")
    )
    scored = (
        # attach cv's norm row-locally (candidates per query ≈
        # n·nprobe/cells — still far fewer folds than re-deriving both
        # norms per pair)
        assigned.withColumn("__cvn", vec_norm(F.col("cv")))
        .join(probes, "cell_id")
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cvn")
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "match_id", "cos_sim", F.col("rnk").cast("bigint").alias("rnk"))
        .orderBy("query_id", "rnk")
    )


def _sq_dist_sql(vec_col: str, centroid: list[float]) -> str:
    arr = "array(" + ", ".join(f"{float(x)!r}D" for x in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x)"
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as ONE compiled expression: per-centroid
    squared-L2 via zip_with/aggregate, argmin with ties to the lowest
    cluster id (array_position returns the first occurrence). The centroid
    list is a bounded model parameter baked into the plan — the data side
    never leaves the executors."""
    dists = "array(" + ", ".join(_sq_dist_sql(vec_col, c) for c in centroids) + ")"
    return df.withColumn("__dists", F.expr(dists)).withColumn(
        "cluster",
        (F.expr("array_position(__dists, array_min(__dists))") - 1).cast("int"),
    ).withColumn("dist", F.expr("array_min(__dists)")).drop("__dists")


def kmeans_centroids(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The training loop of deterministic Lloyd's k-means, returning the
    final k·dims centroid matrix (model parameters — bounded driver state,
    same contract as a broadcast dim): seeds are the first k vectors by id
    (reproducible, no RNG), each iteration is assign (compiled
    expression) → per-(cluster, dim) hash aggregate via posexplode →
    collect ONLY the centroid matrix. The corpus itself is never
    collected, so the loop scales with executors. Feed the result to
    ``assign_clusters`` (labeling) or ``ivf_topk(centroids=…)`` (ANN
    quantizer)."""
    import math

    seeds = [list(r[vec_col]) for r in df.orderBy(id_col).limit(k).collect()]
    dim = len(seeds[0])
    centroids = seeds
    for _ in range(iterations):
        assigned = assign_clusters(df, centroids, vec_col)
        rows = (
            assigned.select("cluster", F.posexplode(vec_col).alias("idx", "v"))
            .groupBy("cluster", "idx")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            # quantize each centroid component to 6dp (floor(m·10⁶+0.5)/10⁶,
            # the same expression the DuckDB oracle runs) so cross-engine /
            # cross-partitioning fp summation-order noise in the mean cannot
            # propagate into the next iteration's assignments
            by_cluster.setdefault(r["cluster"], {})[r["idx"]] = (
                math.floor(r["m"] * 1_000_000 + 0.5) / 1_000_000
            )
        centroids = [
            [by_cluster[c][i] for i in range(dim)] if c in by_cluster else centroids[c]
            for c in range(k)
        ]
    return centroids


def kmeans_assignments(
    df: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means assignments: ``kmeans_centroids``
    (the iterative training loop) + one final compiled-expression
    assignment pass."""
    return assign_clusters(
        df, kmeans_centroids(df, k, iterations, id_col, vec_col), vec_col
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the memory/bandwidth lever
    for 100 TB embedding stores: ``q_i = floor(127 * x_i / maxabs(x) + 0.5)``
    stored as ``array<tinyint>``, 4x smaller at rest and on the shuffle
    wire than float32 (8x vs the double the arithmetic would otherwise
    carry). Scaling is per-VECTOR, so direction is preserved and cosine on
    the quantized vectors approximates cosine on the originals with no
    corpus-level statistics pass — quantization is a row-local projection,
    zero shuffles, and composes with any downstream ANN path.

    Determinism: maxabs, the scale division, and the half-up floor are
    identical IEEE-double expressions in Spark and the DuckDB oracle, and
    every downstream dot product of the resulting integer grids (|q|<=127,
    so a 64-dim dot <= ~1.03e6) is EXACTLY representable in double — the
    approximate path stays value-hash comparable across engines. A zero
    vector quantizes to zeros (guarded; no 0/0 at the scale step).

    PHYSICAL SHAPE (r10): the per-row ``maxabs`` scalar must NOT appear
    inside the per-element lambda — Catalyst inlines outer expressions
    into LambdaFunction bodies, so ``transform(v, x -> x/maxabs)``
    re-evaluates the 64-element array_max PER ELEMENT (~64× the work;
    measured 7.9 s to quantize 19.9k vectors, ~0.4 ms/row, the whole
    ann_quantized_topk hotspot at every SF). ``array_repeat(maxabs,
    size)`` evaluates the scalar ONCE per row as a plain function
    argument — collapse-proof — and ``zip_with`` reads it back per
    element; the arithmetic per element (x·127/maxabs, half-up floor,
    tinyint cast) is unchanged, so values are bit-identical
    (test_kmeans pins the A/B)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    rep = F.array_repeat(maxabs, F.size(F.col(vec_col)))
    q = F.when(
        maxabs == F.lit(0.0),
        F.transform(v, lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.zip_with(
            v,
            rep,
            lambda x, m: F.floor(x * F.lit(127.0) / m + F.lit(0.5)).cast("tinyint"),
        )
    )
    return df.withColumn(out_col, q)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors (``quantize_int8`` on both
    sides, then ``brute_force_topk``'s fold scoring: broadcast query side,
    the fold's lambda casting the int8 arrays to double).
    The ranking surface this proves out is what a product-quantization
    first pass looks like at scale: score candidates on the 4x-smaller
    representation, re-rank survivors on full precision if needed.
    ``tests/test_kmeans.py`` pins recall vs the float-exact baseline."""
    qc = quantize_int8(corpus, vec_col, "__q").select(
        F.col(id_col), F.col("__q").alias(vec_col)
    )
    qq = quantize_int8(queries, vec_col, "__q").select(
        F.col(id_col), F.col("__q").alias(vec_col)
    )
    return brute_force_topk(qc, qq, k=k, id_col=id_col, vec_col=vec_col)


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the top-k most-similar corpus vectors carrying a DIFFERENT label —
    the examples a contrastive or reranker loss learns the most from
    (near the decision boundary, not random negatives). Same
    broadcast-query scoring shape as ``brute_force_topk`` with the label
    inequality fused into the join filter, so same-label pairs are
    dropped before the window ranks anything. The filter is
    null-propagating: a NULL label on either side drops the pair. At
    corpus scale, swap the scoring source for the IVF probe join
    (``ivf_topk``'s cell-bucketed candidates) exactly as for plain top-k
    — the mining step only changes the filter and the ranking, not the
    candidate-generation shape."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            vec_norm(F.col(vec_col)).alias("__qn"),
            F.col(label_col).alias("query_label"),
        )
    )
    c = ensure_width(
        corpus.select(
            F.col(id_col).alias("match_id"),
            F.col(vec_col).alias("cv"),
            vec_norm(F.col(vec_col)).alias("__cn"),
            F.col(label_col).alias("match_label"),
        )
    )
    scored = (
        c.crossJoin(q)
        .filter(
            (F.col("match_id") != F.col("query_id"))
            & (F.col("match_label") != F.col("query_label"))
        )
        .withColumn(
            "cos_sim",
            F.round(
                cosine_sim_prenorm(
                    F.col("qv"), F.col("cv"), F.col("__qn"), F.col("__cn")
                ),
                4,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("match_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "query_label",
            "match_id",
            "match_label",
            "cos_sim",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
        .orderBy("query_id", "rnk")
    )


def jl_sign_matrix(seed: str, out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix: sign of
    cell (k, j) = first md5 hex nibble of 'seed|k|j' < 8. A model
    parameter (like k-means centroids), reproducible on any engine."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}|{k}|{j}".encode()).hexdigest()[0], 16) < 8
            else -1
            for j in range(in_dim)
        ]
        for k in range(out_dim)
    ]


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection — the dimensionality
    squeeze upstream of every large-scale embedding pipeline (4x fewer
    dims here ⇒ 4x cheaper ANN scans/shuffles, with JL's distance-
    preservation guarantee; composes with int8 quantization for 16x
    total). The ±1 matrix is md5-derived (``jl_sign_matrix``) and baked
    into the plan as literals — a compile-time model parameter, so the
    projection is a row-local zip_with fold per output dim, zero
    shuffles, and the SQL oracle bakes the SAME literals. The fold is a
    sequential left-to-right sum over the input dims in both engines, so
    the doubles match bit-for-bit; values are e6-quantized on output.

    Emits long-format (id, dim, value_e6) — pivot back to arrays at the
    consumer if needed."""
    signs = jl_sign_matrix(seed, out_dim, in_dim)
    scale = 1.0 / (out_dim ** 0.5)
    dims = []
    for k in range(out_dim):
        arr = ", ".join(str(s) for s in signs[k])
        dims.append(
            F.struct(
                F.lit(k).alias("dim"),
                F.expr(
                    f"CAST(floor(aggregate(zip_with({vec_col}, array({arr}), "
                    f"(x, s) -> CAST(x AS DOUBLE) * s), CAST(0 AS DOUBLE), "
                    f"(acc, v) -> acc + v) * {scale!r} * 1000000 + 0.5) AS BIGINT)"
                ).alias("value_e6"),
            )
        )
    return df.select(
        F.col(id_col), F.explode(F.array(*dims)).alias("__p")
    ).select(id_col, F.col("__p.dim").cast("bigint").alias("dim"), "__p.value_e6")


def label_noise_flags(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """Label-noise mining (confident-learning-lite): flag vectors whose
    k nearest neighbors MAJORITY-vote a different label — the standing
    audit for mislabeled examples in a labeled embedding corpus (noisy
    labels poison contrastive/classifier training far out of proportion
    to their count). Neighbors come from the exact cosine top-k here;
    at corpus scale swap the scoring source for the IVF probe join
    exactly as for plain top-k — the vote is a bounded per-vector
    aggregate either way. Majority = strictly more than k/2 neighbors
    agreeing on one label; the argmax tie-break is deterministic
    ((count, label) struct ordering). Emits every vector:
    (id, label, neighbor_label, n_agree, is_suspect).

    ``neighbors`` injects a precomputed (query_id, match_id) top-k frame
    — pass ``ivf_topk(df, df, k=k, ...)`` to run the audit at corpus
    scale without the exact all-pairs scan; the vote logic is identical
    either way. The default exact scan runs
    ``strategy="auto"``: it is a SELF top-k (|corpus|² pairs), so on
    anything beyond a toy corpus the vectorized matmul path wins by
    construction."""
    nn = (
        neighbors
        if neighbors is not None
        else brute_force_topk(
            df, df, k=k, id_col=id_col, vec_col=vec_col, strategy="auto"
        )
    )
    labels = df.select(
        F.col(id_col).alias("match_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        nn.join(labels, "match_id")
        .groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    top_vote = votes.groupBy("query_id").agg(
        # padded-string argmax key: portable to the DuckDB oracle's
        # max_by, which has no struct ordering (same device as
        # user_features' modal type)
        F.expr(
            "max_by(__nl, concat(lpad(cast(__n as string), 10, '0'), '|', "
            "lpad(cast(__nl as string), 10, '0')))"
        ).alias("neighbor_label"),
        F.max("__n").cast("bigint").alias("n_agree"),
        # majority denominator = the ACTUAL neighbor count of this query,
        # not the k argument — an injected frame deeper (or shallower)
        # than k would otherwise flag minority votes (review r4)
        F.sum("__n").cast("bigint").alias("__total"),
    )
    own = df.select(F.col(id_col), F.col(label_col))
    # LEFT join: a vector with no neighbors at all (an injected sparse
    # index frame can produce this) must still appear — unflagged with
    # n_agree 0, never silently dropped from the audit (review r4)
    return (
        own.join(top_vote, F.col(id_col) == F.col("query_id"), "left")
        .select(
            id_col,
            label_col,
            "neighbor_label",
            F.coalesce("n_agree", F.lit(0)).cast("bigint").alias("n_agree"),
            (
                F.col("neighbor_label").isNotNull()
                & (F.col("neighbor_label") != F.col(label_col))
                & (F.col("n_agree") * 2 > F.col("__total"))
            )
            .cast("bigint")
            .alias("is_suspect"),
        )
        .orderBy(id_col)
    )
