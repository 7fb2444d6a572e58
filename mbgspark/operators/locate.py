"""Location / dictionary joins — SURVEY.md §2.5 (J1–J3).

The reference's location detector (utils.py:336-437) is a hand-rolled
nested-loop over a 456-row (province, city) dictionary with ordered matching
strategies and first-match-wins; its fuzzy variant (utils.py:440-492) keeps
the best-scoring match (arg-max).  Spark-first re-expression:

- J1 = broadcast containment join: fact × broadcast(dim) filtered on
  token membership, then ``row_number()`` over the pinned dictionary
  order to reproduce first-match-wins.  Catalyst plans the 456-row dim as a
  BroadcastNestedLoopJoin — correct and cheap at that build size; the fact
  side streams, so this scales to arbitrary row counts.  The lifecycle's
  matcher (multi-word terms, \\b boundaries) is ``locations.locate_compiled``.
- J2 = similarity top-1: broadcast theta join scored by ``levenshtein``
  (the built-in stand-in for fuzz.partial_ratio), arg-max per row via window.
- Two-pass plan (utils.py:509-511): exact containment first; fuzzy only on
  the unmatched remainder — implemented in ``two_pass_locate``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def containment_join_first_match(
    fact: DataFrame,
    dim: DataFrame,
    fact_id: str,
    text_col: str,
    term_col: str,
    order_col: str = "dict_order",
    explode_tokens: bool = False,
) -> DataFrame:
    """J1: first (by dict order) single-word dim term that is a whitespace
    token of the lowercased text.

    Two physical strategies, same semantics:

    - ``explode_tokens=True`` (the 100 TB path): explode text tokens → hash
      equi-join on token = term → per-row argmin of dict_order. Scales as
      O(tokens) per row instead of O(|dim|·tokens), and the join is a
      shuffle-free BroadcastHashJoin.
    - default: token membership, array_contains against the broadcast dim
      (BroadcastNestedLoopJoin — fine for dims ≤ a few hundred rows).

    Multi-word terms and punctuation-bounded matching (the reference's
    \\b, utils.py:364-371) are ``locations.locate_compiled``'s job."""
    # withColumn silently REPLACES an existing column of the same name:
    # a caller whose fact/dim already carries one of the scratch names
    # would get corrupted output, not an error — fail loud instead
    # (ADVICE r11), matching the explode-path contract check below.
    taken = [c for c in ("__toks", "__rn") if c in fact.columns]
    taken += ["__rn"] if "__rn" in dim.columns else []
    if taken:
        raise ValueError(
            f"containment_join_first_match: reserved scratch column(s) "
            f"{sorted(set(taken))} already present on fact/dim — rename "
            "them before calling"
        )
    b = F.broadcast(dim)
    if explode_tokens:
        # Contract probes, ONE aggregation job (ADVICE r13 — this used
        # to be two eager driver-side jobs per call; a caller with an
        # expensive-to-compute dim paid both scans before any plan was
        # built). All three preconditions fall out of one dim.agg():
        # - single-word terms: a multi-word term ("jakarta selatan")
        #   would be silently unmatched by the token equi-join;
        # - unique order_col: the argmin join-back is keyed on it — with
        #   duplicates a fact row could be attributed a same-order term
        #   it never matched (ADVICE r12);
        # - non-null order_col: a null key never equi-joins back, so the
        #   term's matches would silently vanish.
        # Fail loud on each instead of silently changing semantics.
        probe = dim.agg(
            F.coalesce(
                F.max(F.col(term_col).rlike(r"\s").cast("int")), F.lit(0)
            ).alias("multi"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(order_col).alias("n_nonnull"),
            F.countDistinct(order_col).alias("n_distinct"),
        ).collect()[0]
        if probe["multi"]:
            raise ValueError(
                "explode_tokens=True requires single-word terms; dim contains "
                "multi-word terms — use locations.locate_compiled instead"
            )
        if probe["n_nonnull"] != probe["n_rows"]:
            raise ValueError(
                "explode_tokens=True requires non-null order_col values in "
                "dim (the argmin join-back is keyed on it; null keys never "
                "join back) — fill or drop them, or use the default "
                "token-membership strategy (explode_tokens=False)"
            )
        if probe["n_distinct"] != probe["n_nonnull"]:
            raise ValueError(
                "explode_tokens=True requires unique order_col values in "
                "dim (the argmin join-back is keyed on it); duplicates "
                "found — dedupe dim or use the default token-membership "
                "strategy (explode_tokens=False)"
            )
        other_cols = [c for c in dim.columns if c not in (term_col, order_col)]
        toks = fact.select(
            F.col(fact_id),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok"),
        )
        # Argmin as min(order) + broadcast join-back, NOT min(struct(...)):
        # a struct buffer is immutable so Spark plans SortAggregate — a
        # per-partition sort of every hit row; min over the BIGINT-able
        # order column is a codegen HashAggregate with map-side combine
        # (r12, same class as the minhash numeric-family fix). Joining the
        # winning order back to the broadcast dim recovers the term and
        # carried columns.
        dim_best = F.broadcast(
            dim.select(
                F.col(order_col), F.col(term_col), *[F.col(c) for c in other_cols]
            )
        )
        hit = toks.join(b, toks["__tok"] == dim[term_col])
        best = (
            hit.groupBy(fact_id)
            .agg(F.min(order_col).alias(order_col))
            .join(dim_best, order_col)
            .select(fact_id, order_col, term_col, *other_cols)
        )
        return fact.join(best, fact_id)
    # Tokenize ONCE per row, before the join: a BNLJ evaluates its
    # condition per (row × term) pair, so split(lower(text)) inside the
    # condition re-lowers and re-splits the full text |dim| times per row
    # — the same recompute class as the r10 lambda-inlining bug, at the
    # join-condition level (r11 BNLJ audit). Pre-projected, the per-pair
    # work is one array_contains over a ready array.
    joined = (
        fact.withColumn("__toks", F.split(F.lower(F.col(text_col)), r"\s+"))
        .join(b, F.array_contains(F.col("__toks"), F.col(term_col)))
        .drop("__toks")
    )
    w = Window.partitionBy(fact_id).orderBy(F.col(order_col).asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def fuzzy_top1_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_id: str,
    fact_term: str,
    dim_term: str,
    max_distance: int | None = None,
) -> DataFrame:
    """J2: best (min edit distance) dim term per fact row; deterministic
    tiebreak on the dim term. Arg-max pattern of utils.py:463-487.

    With ``max_distance`` set, the THRESHOLD form of levenshtein is used
    (returns -1 above the bound): the bounded DP early-exits — including
    instantly on |len(a)-len(b)| > k — so each of the |tokens| × |dim|
    broadcast pairs costs O(k·min(len)) instead of O(len²), and rows
    above the bound were discarded by the filter anyway. Within the
    bound the true distance is returned, so the arg-max and tie-break
    are unchanged (r12; parity bit-identical at sf0.01, 1.9× on the
    sf20-split fuzzy pass)."""
    if max_distance is not None:
        joined = fact.crossJoin(F.broadcast(dim)).withColumn(
            "lev_dist",
            F.levenshtein(
                F.col(fact_term), F.col(dim_term), max_distance
            ).cast("bigint"),
        ).filter(F.col("lev_dist") >= 0)
    else:
        joined = fact.crossJoin(F.broadcast(dim)).withColumn(
            "lev_dist",
            F.levenshtein(F.col(fact_term), F.col(dim_term)).cast("bigint"),
        )
    w = Window.partitionBy(fact_id).orderBy(F.col("lev_dist").asc(), F.col(dim_term).asc())
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def partial_ratio_top1(
    fact: DataFrame,
    fact_id: str,
    text_col: str,
    terms: list[tuple[str, str, str]],
    threshold: int = 70,
) -> DataFrame:
    """J2 with the reference's ACTUAL similarity measure: fuzz.partial_ratio
    (utils.py:440-492) — best SequenceMatcher ratio of the term against any
    equal-length window of the text, scored 0-100, arg-max per row with
    ≥ threshold cutoff and (score desc, term asc) tie-break.

    rapidfuzz isn't in this environment, so the measure is implemented on
    stdlib difflib inside an Arrow-batched pandas UDF; ``terms`` is a
    driver-small list of (term, province, city) closed over by the UDF —
    the same bounded-dim contract as the broadcast joins. The scan is a
    single map (no join, no shuffle); levenshtein-based fuzzy_top1_join
    remains the JVM-only alternative."""
    import pandas as pd
    from difflib import SequenceMatcher

    from pyspark.sql.functions import pandas_udf

    # lowercase terms up front: the text is lowercased before scoring, and
    # the reference lowercases both sides (utils.py:446-447) — a mixed-case
    # dictionary term must not silently score 0 against every row
    term_list = sorted((t.lower(), p, c) for (t, p, c) in terms)

    def partial_ratio(term: str, text: str) -> int:
        if not term or not text:
            return 0
        if len(term) > len(text):
            term, text = text, term
        n = len(term)
        best = 0.0
        for start in range(0, len(text) - n + 1):
            r = SequenceMatcher(None, term, text[start : start + n]).ratio()
            if r > best:
                best = r
                if best == 1.0:
                    break
        return int(round(best * 100))

    # no type hints: with `from __future__ import annotations` they become
    # forward refs pyspark can't resolve against this module's globals
    @pandas_udf("term string, province string, city string, score int")
    def _best(texts):
        out = []
        for t in texts.fillna(""):
            t = t.lower()
            best = None
            for term, prov, city in term_list:
                s = partial_ratio(term, t)
                if s >= threshold and (best is None or s > best[3]):
                    best = (term, prov, city, s)
            out.append(best or (None, None, None, None))
        return pd.DataFrame(out, columns=["term", "province", "city", "score"])

    hit = _best(F.col(text_col))
    return (
        fact.withColumn("__hit", hit)
        .select(
            fact_id,
            F.col("__hit.term").alias("term"),
            F.col("__hit.province").alias("province"),
            F.col("__hit.city").alias("city"),
            F.col("__hit.score").alias("score"),
        )
    )


def two_pass_locate(
    fact: DataFrame,
    dim: DataFrame,
    fact_id: str,
    text_col: str,
    term_col: str,
    order_col: str = "dict_order",
    fuzzy_max_distance: int = 2,
) -> DataFrame:
    """Cheap-to-expensive plan (utils.py:509-511): exact containment first,
    fuzzy (levenshtein vs each token) only on the unmatched remainder."""
    exact = containment_join_first_match(fact, dim, fact_id, text_col, term_col, order_col)
    matched_ids = exact.select(fact_id).distinct()
    remainder = fact.join(matched_ids, fact_id, "left_anti")
    rem_tokens = remainder.select(
        F.col(fact_id),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("__tok"),
    ).filter(F.col("__tok") != "")
    fuzzy = fuzzy_top1_join(
        rem_tokens, dim, fact_id, "__tok", term_col, max_distance=fuzzy_max_distance
    ).drop("__tok")
    exact_out = exact.select(fact_id, term_col, F.lit("exact").alias("match_kind"))
    fuzzy_out = fuzzy.select(fact_id, term_col, F.lit("fuzzy").alias("match_kind"))
    return exact_out.unionByName(fuzzy_out)
