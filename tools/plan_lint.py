"""Static plan lint over the whole catalog: re-runs the r7 anti-pattern
audits (SCALE.md) as a permanent, repeatable check instead of a throwaway
script. Builds every catalog query's physical plan at a small SF (plans are
SF-invariant in shape for these rules) and flags:

- ``cartesian``      CartesianProductExec anywhere — no catalog query may
                     generate unbounded pairs.
- ``py-row-udf``     BatchEvalPythonExec — row-at-a-time Python in a plan;
                     only Arrow (ArrowEvalPython / MapInPandas /
                     FlatMapGroupsInPandas) hops are allowed engine-wide.
- ``scanfed-sort``   a GLOBAL SortExec whose subtree contains no
                     shuffle-inducing node (aggregate, join, window,
                     explicit exchange): EnsureRequirements will put a
                     range-partitioning exchange under it whose boundary
                     sampler re-executes the scan-fed child, paying ~2×
                     for a presentational order (the r7 audit removed 17
                     of these; this rule keeps them out). Sorts over
                     children that already shuffle are fine — the
                     sampler re-reads a shuffle output, not the scan.
                     Detected on the sort node itself, not the exchange:
                     ``sparkPlan`` is PRE-EnsureRequirements, so the
                     exchange does not exist yet (the r7→r8 form of this
                     rule matched ``rangepartitioning`` exchanges and
                     could never fire — pinned against regression by
                     ``test_plan_lint_flags_scanfed_sort``).
- ``fat-bnlj``       BroadcastNestedLoopJoin whose broadcast side is not a
                     1-row aggregate anchor (``HashAggregate(keys=[]``) and
                     not an explicitly allowed broadcast-by-design query.
- ``scanfed-global-window``  a Window/WindowGroupLimit exec requiring
                     AllTuples (empty partitionSpec → every row on ONE
                     task) whose subtree contains no aggregate/limit to
                     bound the row count: a global window over a raw scan
                     serializes the full table through a single partition
                     — the window twin of scanfed-sort. Global windows
                     over aggregated inputs (daily rollups, per-bucket
                     counts, per-key spend frames) are the legitimate
                     shape and stay clean (r11 audit: all 18 global
                     windows in the catalog are aggregate-bounded).
- ``bnlj-pair-recompute``  a non-cheap expression subtree inside a
                     nested-loop join condition that references attributes
                     from ONLY ONE side: the condition is evaluated per
                     (stream row × build row) PAIR, so a single-side
                     computation (a lower(), a split(), a concat'd pattern)
                     is redone |other side| times per row instead of once —
                     the join-condition twin of the lambda-inlining class
                     (r11: containment_join_first_match re-split the full
                     text per dim term). Pre-project the expression onto its
                     side before the join. Bare attributes, casts, and cheap
                     arithmetic/comparison scaffolding are allowed; anything
                     with a real function call over one side's columns flags.
- ``lambda-inlined-scalar``  a non-trivial per-row expression subtree inside
                     a higher-order-function lambda body that does NOT
                     reference the enclosing lambda's arguments: Catalyst
                     inlines outer expressions into LambdaFunction bodies,
                     so the subtree is re-evaluated PER ARRAY ELEMENT (the
                     r10 quantize_int8 bug — ``transform(v, x -> x/maxabs)``
                     recomputed a 64-element ``array_max`` per element, ~64×
                     the work; found by octave measurement, mechanized here
                     per VERDICT r10 item 2). Hoist the scalar through
                     ``array_repeat(scalar, size)`` + ``zip_with``. Bare
                     column references and trivial wrappers (cast etc.) over
                     them are allowed — reading an outer value per element
                     is free; recomputing one is not. Subtrees inside an
                     ``aggregate()`` FINISH lambda are exempt (the finish
                     function runs once per ROW, not per element).
- ``sort-aggregate``  a SortAggregate / ObjectHashAggregate outside the
                     audited allowlist (r12 SortAggregate detector). An
                     aggregate whose buffer type is immutable (strings,
                     structs) cannot use whole-stage-codegen HashAggregate;
                     it plans as ObjectHashAggregate — whose sort-based
                     fallback (128-key default threshold) degenerates to a
                     full partition sort — or directly as SortAggregate. On
                     unbounded input that is a sort of EVERY row per
                     aggregation pass (the 939 MB/pass minhash spill; the
                     explode-path first-match argmin). Both were fixed by a
                     numeric twin: min over a 60-bit window / min(order) +
                     broadcast join-back. INHERENT uses are allowlisted
                     (audited by hand in r12 — see NOTES_r12.md "aggregate
                     sweep"):

                     - list/set packing: collect_list / collect_set (the
                       data IS the list);
                     - exact percentiles (ObjectHash is Spark's
                       exact-percentile home);
                     - HLL sketches (typed-imperative by design);
                     - first(...) inside the count-distinct EXPAND rewrite
                       (post-aggregate rows, bounded by group count);
                     - argmax/argmin over struct keys on inputs bounded by
                       construction (keep_best pair sets, SCD2 dims, ANN
                       probe assignments, label_noise's per-split winner);
                     - exact min/max of full-width hex keys /
                       dates-in-structs where no numeric isomorphism exists
                       (corpus_shuffle_shards' 128-bit shard boundaries,
                       scd2 validity structs, the profiler's
                       arbitrary-string column min/max inside grouping
                       sets).

                     A NEW sort-class aggregate outside the allowlist
                     flags: either give it a numeric twin (the
                     minhash/argmin playbook) or, if it is genuinely
                     inherent AND its input is bounded, extend ``_ALLOW``
                     with a comment saying why. The summary line counts
                     the allowlisted ones.

Exit 1 on any finding. Run: ``python tools/plan_lint.py [sf_dir] [names...]``.
Pinned green by tests/test_plan_shapes.py::test_plan_lint_clean.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mbgspark.jvmseam import node_class as _cls  # noqa: E402
from mbgspark.jvmseam import node_expressions as _exprs  # noqa: E402
from mbgspark.jvmseam import physical_plan_root  # noqa: E402
from mbgspark.jvmseam import walk_expression as _ewalk  # noqa: E402
from mbgspark.jvmseam import walk_plan as _walk  # noqa: E402

# BNLJ-by-design: the broadcast side is a bounded non-aggregate frame
# (query vectors, benchmark set, compiled location dictionary) — the
# documented broadcast shape for these operators, reviewed individually.
BNLJ_ALLOWED = {
    "hard_negatives",  # broadcast query side, corpus streams (BNLJ by design)
    "contamination_embedding",  # fold strategy: broadcast eval-suite bench
    "dedup_embedding",  # sign-block residual BNLJ under the bucket join
    "dedup_embedding_multiprobe",
    "label_noise",  # broadcast probe set
    "ann_cosine_topk",  # broadcast query vectors
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_quantized_topk",  # broadcast query vectors (int8 path)
    "contamination_check",  # broadcast benchmark gram set
    "locate_two_pass",  # broadcast compiled location terms
    "locate_full_dim",
    "label_centroids",  # broadcast k centroids
    "kmeans_clusters",
    "q11",  # J2 fuzzy top-1: 25-row nation dim broadcast theta-join
    "chi2_lang_source",  # expected-count grid: |langs|×|sources| marginals
    "rolling_distinct_users",  # 7-day interval join over the calendar-bounded daily-sketch frame
}


# sort-aggregate: function-level patterns that are inherent wherever they
# appear
_INHERENT_FN = re.compile(
    r"collect_list|collect_set|percentile|hll_sketch_agg|merge_hll_sketch_agg"
)

# (query, function-substring) pairs audited as bounded-input/inherent (r12)
_ALLOW: set[tuple[str, str]] = {
    ("ann_ivf_topk", "min_by"),            # probe-cell assignments, fanout-bounded
    ("ann_ivf_kmeans_topk", "min_by"),     # same, k-means cells
    ("cardinality_sketch_users", "count(distinct"),  # rides the hll agg node
    ("corpus_shuffle_shards", "min(shuffle_key"),    # exact 128-bit shard bounds
    ("corpus_shuffle_shards", "max(shuffle_key"),
    ("dedup_embedding_keep_best", "max_by"),  # near-dup cluster rows, pair-bounded
    ("dedup_semantic_keep_best", "max_by"),
    ("label_noise", "max_by"),             # per-(split,label) winners, group-bounded
    ("profile_orders", "first("),          # count-distinct EXPAND, post-agg rows
    ("profile_orders", "min(o_"),          # arbitrary-column profiler: string
    ("profile_orders", "max(o_"),          #   min/max has no numeric twin
    ("profile_orders", "sum(length"),      # rides the same grouping-sets agg node
    ("profile_orders", "count("),
    ("scd2_customer_dim", "max(struct"),   # SCD2 dim build, dim-bounded
    ("scd2_asof_revenue", "max("),         # as-of validity struct, dim-bounded
    ("user_features", "max_by"),           # last-event argmax; local sort beats a
    ("user_features", "sum("),             #   self-join back into events (audited)
    ("user_features", "count("),
    ("user_features", "max("),
    # r13: the q10/locate_full_dim "min(struct(kw" dim-dedupe entries were
    # pruned — the argmin join-back now guards order_col uniqueness up
    # front (ADVICE r12) and the dedupe aggregate no longer exists.
}


def _sort_aggregate(node, c: str, name: str) -> tuple[str, bool]:
    """(description, allowlisted) for one SortAggregate/ObjectHashAggregate
    node of query ``name``."""
    s = node.simpleString(300)
    m = re.search(r"functions=\[([^\]]*)", s)
    fns = m.group(1) if m else "?"
    core = re.sub(r"partial_", "", fns)
    allowed = bool(_INHERENT_FN.search(core)) or any(
        q == name and pat in core for q, pat in _ALLOW
    )
    return f"{c[:-4]} [{core[:100]}]", allowed


# Nodes that put an exchange (and so a re-readable materialization
# boundary) below a global sort once EnsureRequirements runs — a sort
# over any of these samples a shuffle/broadcast output instead of
# re-running the scan lineage.
_SHUFFLE_INDUCING = {
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    "SortMergeJoinExec",
    "ShuffledHashJoinExec",
    "BroadcastHashJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
    "WindowExec",
    "WindowGroupLimitExec",
    # pandas group/cogroup exec nodes require a hash-clustered child, so
    # EnsureRequirements puts an exchange under them (ADVICE r8)
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec",
    "FlatMapGroupsInPandasWithStateExec",
    # limit-then-sort: GlobalLimitExec gets a single-partition exchange
    "GlobalLimitExec",
}

# nodes that bound the row count flowing into a global (AllTuples) window:
# aggregates collapse to |groups|, limits to N — either makes the single
# window task proportional to a summary, not the raw table
_ROW_BOUNDING = {
    "HashAggregateExec",
    "ObjectHashAggregateExec",
    "SortAggregateExec",
    "AggregateInPandasExec",
    "FlatMapGroupsInPandasExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
}


# wrappers whose cost per element is a register move / format change, not a
# recomputation — stripping them from an invariant subtree may reach a bare
# outer-column read, which is allowed inside a lambda
_TRIVIAL_WRAPPERS = {
    "Cast",
    "KnownFloatingPointNormalized",
    "KnownNotNull",
    "NormalizeNaNAndZero",
    "Alias",
    "GetStructField",
}
_EXPR_LEAVES = {"Literal", "AttributeReference", "BoundReference"}


def _expr_cls(e) -> str:
    return e.getClass().getSimpleName()


def _is_trivial(e) -> bool:
    c = _expr_cls(e)
    if c in _EXPR_LEAVES or c == "NamedLambdaVariable":
        return True
    if c in _TRIVIAL_WRAPPERS:
        ch = e.children()
        return ch.size() > 0 and _is_trivial(ch.apply(0))
    return False


# scaffolding whose per-pair cost is a few ALU ops — join conditions are
# MADE of these; only a real function call over one side's columns is a
# per-pair recompute worth a pre-projection
_CHEAP_CONDITION_NODES = _EXPR_LEAVES | _TRIVIAL_WRAPPERS | {
    "Add", "Subtract", "Multiply", "Divide", "UnaryMinus", "Remainder",
    "Pmod", "Abs",
    "GreaterThan", "GreaterThanOrEqual", "LessThan", "LessThanOrEqual",
    "EqualTo", "EqualNullSafe", "Not", "And", "Or",
    "IsNull", "IsNotNull", "In", "InSet", "If", "CaseWhen", "Coalesce",
    # O(1) accessors/calendar arithmetic (Spark arrays carry their
    # length; date/timestamp ± interval is ALU work) — an expensive node
    # NESTED UNDER these (e.g. size(array_distinct(x))) still flags,
    # because expensive() walks the whole subtree
    "Size", "DateAdd", "DateSub", "TimestampAddInterval", "TimeAdd",
    "DateAddInterval", "ExtractANSIIntervalDays",
}


def _bnlj_pair_recomputes(cond, left_ids: set[str], right_ids: set[str]) -> list[str]:
    """Maximal subtrees of a nested-loop join condition that reference
    attributes from only one side and contain a non-cheap computation —
    evaluated per PAIR by the join, pre-projectable to per-ROW."""
    out: list[str] = []

    def attr_ids(t) -> set[str]:
        return {
            str(x.exprId())
            for x in _ewalk(t)
            if _expr_cls(x) == "AttributeReference"
        }

    def expensive(t) -> bool:
        return any(_expr_cls(x) not in _CHEAP_CONDITION_NODES for x in _ewalk(t))

    def scan(t) -> None:
        ids = attr_ids(t)
        if ids and (ids <= left_ids or ids <= right_ids):
            if expensive(t) and not _is_trivial(t):
                out.append(str(t.toString())[:120])
            return  # maximal one-side subtree — don't double-report below
        ch = t.children()
        for i in range(ch.size()):
            scan(ch.apply(i))

    scan(cond)
    return out


def _side_output_ids(node) -> set[str]:
    out = node.output()
    return {str(out.apply(i).exprId()) for i in range(out.size())}


def _lambda_inlined_scalars(top) -> list[str]:
    """Maximal non-trivial per-row subtrees inside LambdaFunction bodies
    that are invariant w.r.t. every ENCLOSING lambda's arguments (bound
    variable ids are tracked through nesting — a nested lambda's own
    variables do not make a subtree 'dependent'). aggregate() FINISH
    lambdas are exempt at their top level (once per row), but HOF lambdas
    nested inside them are still scanned."""
    out: list[str] = []

    def uses_bound(t, bound: set[str]) -> bool:
        return any(
            _expr_cls(x) == "NamedLambdaVariable" and str(x.exprId()) in bound
            for x in _ewalk(t)
        )

    def per_row(t) -> bool:
        return any(
            _expr_cls(x) in {"AttributeReference", "BoundReference"}
            for x in _ewalk(t)
        )

    def descend(e, bound: set[str], report: bool) -> None:
        """Walk below ``e`` looking for LambdaFunction regions; ``report``
        controls whether the NEXT lambda body level flags (False only for
        an aggregate's finish slot)."""
        c = _expr_cls(e)
        ch = e.children()
        if c == "LambdaFunction":
            nb = set(bound)
            for i in range(1, ch.size()):
                nb.add(str(ch.apply(i).exprId()))
            scan(ch.apply(0), nb, report)
            return
        if c == "ArrayAggregate" and ch.size() >= 4:
            # children: argument, zero, merge (per element), finish (per row)
            for i in range(ch.size() - 1):
                descend(ch.apply(i), bound, True)
            descend(ch.apply(ch.size() - 1), bound, False)
            return
        for i in range(ch.size()):
            descend(ch.apply(i), bound, True)

    def scan(body, bound: set[str], report: bool) -> None:
        c = _expr_cls(body)
        if c == "LambdaFunction" or c == "ArrayAggregate":
            descend(body, bound, True)
            return
        if report and not uses_bound(body, bound):
            if per_row(body) and not _is_trivial(body):
                out.append(str(body.toString())[:120])
                return
            # invariant but trivial/constant: nothing below can flag at
            # this level, but nested lambdas inside still get their own
            ch = body.children()
            for i in range(ch.size()):
                descend(ch.apply(i), bound, True)
            return
        ch = body.children()
        for i in range(ch.size()):
            scan(ch.apply(i), bound, report)

    descend(top, set(), True)
    return out


def _all_leaf_paths_bounded(node) -> bool:
    """True iff EVERY leaf-to-``node`` path crosses a _ROW_BOUNDING node.
    ``any()`` over the flattened subtree under-reports (ADVICE r11): a
    global window fed by a join of a raw scan with an aggregated side
    would pass, even though the unbounded scan branch still funnels
    every row through the single window task. Descend per-branch: a
    bounding node caps everything beneath it; a leaf reached without
    one is an unbounded path."""
    if _cls(node) in _ROW_BOUNDING:
        return True
    ch = node.children()
    if ch.size() == 0:
        return False
    return all(_all_leaf_paths_bounded(ch.apply(i)) for i in range(ch.size()))


def lint_plan(df, name: str, allowlisted: list[str] | None = None) -> list[str]:
    """Findings for one plan. Sort-class aggregates the ``sort-aggregate``
    rule allowlists are appended to ``allowlisted`` when one is given."""
    findings: list[str] = []
    root = physical_plan_root(df)
    for node in _walk(root):
        c = _cls(node)
        if c in ("SortAggregateExec", "ObjectHashAggregateExec"):
            desc, allowed = _sort_aggregate(node, c, name)
            if not allowed:
                findings.append(f"{name}: sort-aggregate ({desc})")
            elif allowlisted is not None:
                allowlisted.append(f"{name}: {desc}")
        elif c == "CartesianProductExec":
            findings.append(f"{name}: cartesian")
        elif c == "BatchEvalPythonExec":
            findings.append(f"{name}: py-row-udf")
        elif c == "SortExec" and bool(getattr(node, "global")()):
            below = list(_walk(node))[1:]
            if not any(_cls(b) in _SHUFFLE_INDUCING for b in below):
                findings.append(
                    f"{name}: scanfed-sort ({node.simpleString(200)[:80]})"
                )
        elif c in ("WindowExec", "WindowGroupLimitExec") and "AllTuples" in _cls(
            node.requiredChildDistribution().apply(0)
        ):
            if not _all_leaf_paths_bounded(node):
                findings.append(
                    f"{name}: scanfed-global-window ({node.simpleString(200)[:80]})"
                )
        elif c == "BroadcastNestedLoopJoinExec" and name not in BNLJ_ALLOWED:
            # pre-exchange plan (EnsureRequirements hasn't run), so the
            # build side is a direct child: BuildRight → children[1]
            side = 1 if "BuildRight" in node.simpleString(200) else 0
            build = node.children().apply(side)
            anchor = any(
                "keys=[]" in b.simpleString(200)
                for b in _walk(build)
                if "Aggregate" in _cls(b)
            )
            if not anchor:
                findings.append(f"{name}: fat-bnlj")
        if c in (
            "BroadcastNestedLoopJoinExec",
            "CartesianProductExec",
            # equi-joins keep only the RESIDUAL (non-equi) predicate in
            # condition() — the keys evaluate once per row — but that
            # residual is still evaluated per candidate pair, so the
            # same single-side-recompute rule applies
            "SortMergeJoinExec",
            "ShuffledHashJoinExec",
            "BroadcastHashJoinExec",
        ):
            jcond = node.condition()
            if jcond.isDefined():
                lids = _side_output_ids(node.children().apply(0))
                rids = _side_output_ids(node.children().apply(1))
                for sub in _bnlj_pair_recomputes(jcond.get(), lids, rids):
                    findings.append(f"{name}: bnlj-pair-recompute ({sub})")
        for top in _exprs(node):
            # cheap pre-filter: one toString per top-level expression, walk
            # only the trees that actually contain a lambda
            if "lambdafunction" not in str(top.toString()).lower():
                continue
            for sub in _lambda_inlined_scalars(top):
                findings.append(f"{name}: lambda-inlined-scalar ({sub})")
    return findings


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    from mbgspark.plans.catalog import CATALOG
    from mbgspark.session import get_spark

    spark = get_spark(app_name="plan-lint")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    all_findings: list[str] = []
    allowlisted: list[str] = []
    names = [n for n in CATALOG if not only or n in only]
    for name in names:
        try:
            df = CATALOG[name][0](spark, sf_dir)
        except Exception as e:  # plan build failure is itself a finding
            all_findings.append(f"{name}: plan-build-error ({e})")
            continue
        all_findings.extend(lint_plan(df, name, allowlisted))
    for f in all_findings:
        print("LINT", f)
    print(
        f"{len(names)} plans linted, {len(all_findings)} findings, "
        f"{len(set(allowlisted))} allowlisted sort-class aggregates"
    )
    return 1 if all_findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
