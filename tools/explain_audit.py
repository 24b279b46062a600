"""Physical-plan audit: verify the properties that matter at 100 TB.

For each audited query, prints the formatted plan and greps for:
- PushedFilters / ReadSchema width (filter+projection reach the scan)
- BroadcastHashJoin vs SortMergeJoin (dims must broadcast)
- number of Exchange nodes (shuffle count — window chains sharing a key
  should reuse one exchange)
- WholeStageCodegen coverage (hot path stays JVM-side)
- expressions forbidden inside a Filter condition (``forbid_in_filter``:
  regexes over the optimized plan's predicates, aliases inlined)

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

AUDIT = {
    "q1_pricing_summary": {"max_exchanges": 2, "want": ["PushedFilters: [IsNotNull(l_shipdate)"]},
    "scan_project_filter": {
        "max_exchanges": 1,
        "want": ["PushedFilters"],
        "read_cols": 6,
    },
    "join_broadcast_dim": {"max_exchanges": 2, "want": ["BroadcastHashJoin"]},
    "join_star_region_revenue": {"want": ["BroadcastHashJoin"]},
    "flagship_user_activity": {"want": ["BroadcastHashJoin"], "max_exchanges": 3},
    "pipeline_align_events": {"max_exchanges": 3},
    "window_reindex": {"max_exchanges": 1},
    "vector_zscore": {"want": ["BroadcastNestedLoopJoin", "BroadcastHashJoin"], "want_any": True},
    # query matrix is a UDF closure constant (no broadcast-join node);
    # the top-k should compile to WindowGroupLimit (rank pushdown) and the
    # corpus pass must be a single Arrow-batched python stage.
    "ann_bruteforce_topk": {"want": ["ArrowEvalPython", "WindowGroupLimit"]},
    # spread() repartition appears once per planted-corpus union branch in
    # the plan tree (reused at runtime) + the final hash-agg exchange.
    "dedup_exact": {"max_exchanges": 4},
    # both window specs hash-partition on user_id → ONE exchange total
    "window_frame_suite": {"max_exchanges": 1},
    "window_group_order_suite": {"max_exchanges": 1},
    # two projections (scores, then CASE), no exchange; the HOF score
    # exprs are CodegenFallback so no WholeStageCodegen span is expected
    "text_langid": {"max_exchanges": 1},
    # salted sub-block pairing: counts agg + broadcast + applyInPandas
    "dedup_embedding_cosine": {"want": ["FlatMapGroupsInPandas", "BroadcastHashJoin"]},
    "asof_join_last_click": {"max_exchanges": 1},
    # restrict-then-score: the cosine UDF must sit ABOVE the bucket
    # broadcast-join in the physical plan (scores only survivors — the
    # round-4 verdict's one scale-killer was the inverted order).
    "ann_lsh_topk": {
        "want": ["BroadcastHashJoin"],
        "before": [("cos_all(", "BroadcastHashJoin")],
    },
    # banded candidate generation must be a hash join on (band, value) —
    # never a nested-loop/cartesian all-pairs plan.
    "dedup_simhash_pairs": {"forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]},
    # probe shingle set broadcasts; the corpus side stays map-side until
    # the final hit aggregation.
    "decontam_overlap_spans": {"want": ["BroadcastHashJoin"]},
    # self-match must be hash-keyed (gram-hash aggregate + join back),
    # never an all-pairs plan.
    "dedup_substring_spans": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"]
    },
    # ONE shuffle total: both per-episode window specs share the user_id
    # exchange, and window membership is a map-side explode above it.
    "trajectory_windows": {
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # prefilter-then-rank: the broadcast count-join prefilter must sit
    # BELOW the rank window in the plan, and rank pushdown
    # (WindowGroupLimit, partial mode) must engage so each partition
    # sorts only its ~k survivors before the lang exchange.
    "sample_reservoir_pergroup": {
        "want": ["WindowGroupLimit", "BroadcastHashJoin"],
        "before": [("Window", "BroadcastHashJoin")],
    },
    # window derivation reuses the episode exchange; the feature re-group
    # keys on (user_id, window_id) — one more exchange, nothing else
    "trajectory_features": {
        "max_exchanges": 2,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # token-count agg + k-row planning arithmetic over a broadcast total
    "mixture_token_budget": {"max_exchanges": 4},
    # the one-pass multi-distinct profile compiles through Expand (exact
    # mode); swap to approx_count_distinct at 100 TB drops it.
    "profile_documents": {"want": ["Expand"], "max_exchanges": 2},
    # deterministic shard export plan: ONE hash exchange on the shard
    # key feeding the rank window — never a global sort (rangepartitioning
    # = the orderBy-the-corpus anti-plan this operator exists to avoid).
    "export_shard_plan": {
        "max_exchanges": 1,
        "forbid": ["rangepartitioning", "CartesianProduct"],
    },
    # continuous aggregate: both half-partials + the merge compile into
    # hash aggregates with map-side partial combine — per-half exchange
    # plus the merge's; never a sort-based aggregate.
    "rollup_events_daily": {
        "max_exchanges": 3,
        "want": ["HashAggregate"],
        "forbid": ["SortAggregate", "CartesianProduct"],
    },
    # mixture materialization: the k-row plan must broadcast onto the
    # corpus scan and the epoch explode stays map-side — the doc side
    # crosses no exchange at all (token-count agg exchanges belong to
    # the embedded planner stage).
    "mixture_materialize": {
        "want": ["BroadcastHashJoin", "Generate"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # the quality gate must stay a pure per-row projection: zero
    # exchanges between the scan and the rule booleans (spread()'s
    # repartition of the few-MB test file is the one allowed exchange)
    "text_gopher_rules": {"max_exchanges": 1},
    # score→bucket→accept is likewise map-side only
    "sample_perplexity_buckets": {"max_exchanges": 0},
    # heavy hitters: the exact-verify recount must be a BROADCAST semi
    # join against the candidate set (the whole point is that the
    # vocabulary never shuffles) feeding a hash aggregate of candidate
    # occurrences only; an SMJ here would re-introduce the shuffle the
    # operator exists to avoid.
    "text_heavy_hitters": {
        "want": ["BroadcastHashJoin", "HashAggregate"],
        "forbid": ["SortMergeJoin", "CartesianProduct"],
    },
    # dup-span removal: every join is hash-keyed (gram hash, doc_id) —
    # never all-pairs — and the covered-position rewrite joins ONE
    # metadata-sized array per affected doc back to the corpus.
    "dedup_remove_spans": {
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # DSIR: the 4096-row weight table and the target-id set broadcast
    # onto the feature stream (never an SMJ of corpus-sized sides), and
    # selection is TakeOrdered — a global sort of the corpus
    # (rangepartitioning) is the anti-plan.
    "dsir_importance_topk": {
        "want": ["BroadcastHashJoin", "TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "rangepartitioning"],
    },
    # LM scoring: doc-bigram stream joins the vocabulary-bounded count
    # tables — hash joins only, and the per-doc fold is a hash
    # aggregate with map-side partial combine (integer nll sums).
    "text_bigram_lm_nll": {
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "SortAggregate"],
    },
    # round-11: per-doc novelty — the occurrence-count aggregate and
    # the join back are hash-keyed on the 8-byte gram hash; never
    # all-pairs, never sort-based aggregation.
    "text_novelty_ngrams": {
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin", "SortAggregate"],
    },
    # round-11: UniMax water-filling — one corpus token aggregate, then
    # a k-row planning frame: the totals crossJoins must broadcast and
    # the corpus must never range-partition (no global sort).
    "mixture_unimax_budget": {
        "want": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct", "rangepartitioning(cap"],
    },
    # round-11: chunking is one projection + Generate (explode) — the
    # single exchange is _docs' spread() repartition of the few-MB test
    # file (the text_gopher_rules allowance); chunk expressions are
    # higher-order fns (CodegenFallback, like text_langid).
    "text_chunk_documents": {
        "max_exchanges": 1,
        "want": ["Generate"],
        "forbid": ["CartesianProduct", "SortMergeJoin"],
    },
    # round-11: drift monitor — two bucket-count hash aggregates plus
    # broadcast spine/total joins; the corpus never range-partitions
    # and nothing sorts.
    "monitor_score_drift": {
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "SortAggregate", "SortMergeJoin"],
    },
    # round-11: fuzzy decontam — the benchmark side's band rows AND
    # hashed shingle sets must BROADCAST (candidate generation and
    # verification are map-side against the corpus); never a
    # SortMergeJoin against the probe side, never all-pairs.
    "decontam_fuzzy_minhash": {
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
    },
    # round-11: privacy audit — ONE two-phase hash aggregate over the
    # quasi-identifier key (count-distinct expand); nothing joins,
    # nothing sorts, the scan reads only the four audit columns.
    "privacy_k_anonymity": {
        "max_exchanges": 2,
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "SortAggregate", "SortMergeJoin"],
        "read_cols": 4,
    },
    # round-11: HLL registers — per-row (bucket, rho) projection into a
    # map-side-combined hash aggregate; the shuffle carries ≤
    # partitions × 256 rows. Nothing joins, nothing sorts, the scan
    # reads only `text`.
    "sketch_hll_registers": {
        "max_exchanges": 1,
        "want": ["HashAggregate"],
        "forbid": ["CartesianProduct", "SortAggregate", "SortMergeJoin"],
        "read_cols": 1,
    },
    # round-11: DoReMi weights — vocabulary-bounded aggregates; the
    # k-row totals crossJoin must BROADCAST (the one allowed
    # nested-loop, 1-row build side) and nothing range-partitions.
    "mixture_doremi_weights": {
        "want": ["HashAggregate", "BroadcastNestedLoopJoin"],
        "forbid": ["CartesianProduct"],
        "read_cols": 2,
    },
    # round-11: Zipf/TTR — one vocabulary aggregate; the fit points come
    # from TakeOrderedAndProject (top-1000), never a vocabulary-wide
    # range partitioning; the 1-row sums crossJoin broadcasts.
    "text_zipf_ttr": {
        "want": ["HashAggregate", "TakeOrderedAndProject"],
        "forbid": ["CartesianProduct", "rangepartitioning(c"],
    },
    # round-12: the 9-stage production funnel — the decontam probe's
    # shingle set and every dedup/neardup candidate join must be
    # hash-keyed or broadcast; an all-pairs node anywhere in the chain
    # is the composition-level scale-killer this row exists to catch.
    # round-13 (VERDICT r12 #2): exchange counts PINNED — the composed
    # plan text repeats reused subtrees, so the absolute number is
    # plan-shape bookkeeping, not shuffle volume; but a stage
    # regression that re-introduced a self-join per stage would
    # MULTIPLY it and previously still passed. Measured r13 baseline:
    # 877 exchanges (sf0.01, AQE plan text); ceiling = baseline ~+15%
    # for optimizer-version noise.
    "pipeline_curation_decontam": {
        "max_exchanges": 1010,
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct"],
    },
    # round-13: same pin for the 8-stage funnel without decontam —
    # measured baseline 217 exchanges (sf0.01).
    # The gopher stage's keep predicate is pushed below its feature
    # projections and Catalyst inlines every alias into the Filter;
    # lambdas get no subexpression elimination, so a raw word array
    # (split on [ \t\n\r]+, then x != '') there is re-split once per
    # reference. The word features must stay scalar expressions.
    "pipeline_curation_full": {
        "max_exchanges": 250,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin"],
        "forbid_in_filter": [
            r"filter\(split\(text#\d+, \[ \t\n\r\]\+, -1\), "
            r"lambdafunction\(NOT \(lambda x_\d+#\d+ = \)",
        ],
    },
    # round-13: the WARC ingest bench row — binaryFile scan → two
    # Arrow-batched MapInPandas stages (parse, extract) in ONE
    # pre-shuffle stage, then exactly one exchange for the URL-dedup
    # aggregate (max(struct) plans as SortAggregate — Spark's
    # immutable-buffer rule — which still partial-aggregates map-side;
    # a window or join-back would sort/shuffle the full page set
    # twice). No join anywhere in the ingest path.
    # round-16: the bench corpus now ships a capture index, so the row
    # runs the INDEX-planned ingest — the leaf is the index TEXT scan
    # (never the whole-file binaryFile content), one winner-choice
    # aggregate exchange plus one manifest repartition, BOTH over
    # ~40-byte metadata rows; page text exists only downstream of the
    # single MapInPandas and is never shuffled (no Window, no join, no
    # text-carrying Exchange — the exchanges sit BELOW the Python node
    # in the plan, where only metadata flows).
    "web_ingest_warc": {
        "max_exchanges": 2,
        "want": ["MapInPandas", "Scan text"],
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "Scan binaryFile"],
    },
    # round-14: the WET fast path; round-16 moves it onto the same
    # index-planned shape as web_ingest_warc (winner selection on the
    # index, ranged member fetch, JVM decode downstream) — same
    # metadata-only two-exchange budget, no whole-file scan.
    "web_ingest_wet": {
        "max_exchanges": 2,
        "want": ["MapInPandas", "Scan text"],
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "Scan binaryFile"],
    },
    # round-14: CDX analytics and WAT link-graph are scan-bound JVM
    # parse → ONE hash-aggregate exchange; any join/window appearing
    # here means the parse stopped being a projection.
    "web_cdx_stats": {
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "MapInPandas"],
    },
    "web_wat_linkgraph": {
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "MapInPandas"],
    },
    # round-15: robots verdicts are ZERO-shuffle on the page side —
    # per-host rules collapse to an array row, BROADCAST, and the
    # longest-match argmax is a per-row HOF (no groupBy keyed on page
    # columns any more). Every surviving exchange keys on the rules
    # side's __rhost (distinct + group-max + collect_list feeding the
    # broadcasts); an exchange partitioned on doc_id would mean the
    # corpus shuffled again. Measured baseline: 8 exchanges (sf0.01,
    # incl. the in-plan synthetic rules build).
    "web_robots_filter": {
        "max_exchanges": 8,
        "want": ["BroadcastHashJoin"],
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "hashpartitioning(doc_id"],
    },
    # round-15: CCNet line dedup — census groupBy on the 8-byte line
    # hash + winners join + per-doc regroup; the line text must never
    # enter a cartesian/window and the spread() repartition + census +
    # regroup + totals-join bound the exchanges.
    "dedup_line_ccnet": {
        "max_exchanges": 6,
        "forbid": ["CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "MapInPandas"],
    },
    # round-14: sitemap extraction is a pure projection — from_xml +
    # explode, ZERO exchanges.
    "web_sitemap_urls": {
        "max_exchanges": 0,
        "forbid": ["CartesianProduct", "Window", "MapInPandas"],
    },
    # round-14: C4 line cleaning is HOF projections over the spread()
    # repartition (its one exchange) — no joins, windows, or Python.
    "text_c4_line_filter": {
        "max_exchanges": 1,
        "forbid": ["CartesianProduct", "SortMergeJoin", "Window",
                   "MapInPandas", "BroadcastHashJoin"],
    },
}


def _filter_conditions(df) -> list[str]:
    """The condition of every Filter node of the optimized plan — the
    predicate as Catalyst will evaluate it, aliases inlined — including
    the plans of cached (pinned) relations: their inner children, whose
    adaptive plans and query stages hold the physical tree as fields."""
    out, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "Filter":
            out.append(node.condition().toString())
        elif name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        for kids in (node.children(), node.innerChildren()):
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def main() -> int:
    from imitation_learning_data_pipeline_spark.plans import QUERIES
    from imitation_learning_data_pipeline_spark.session import get_spark

    spark = get_spark("explain-audit")
    names = sys.argv[1:] or list(AUDIT)
    failures = []
    for name in names:
        df = QUERIES[name](spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        spec = AUDIT.get(name, {})
        n_ex = len(re.findall(r"\bExchange\b", plan.split("== Physical Plan ==")[-1]))
        # count only plan-node occurrences in the tree header section
        tree = plan.split("\n\n")[0]
        n_ex = len(re.findall(r"Exchange", tree))
        problems = []
        if "max_exchanges" in spec and n_ex > spec["max_exchanges"]:
            problems.append(f"{n_ex} exchanges > {spec['max_exchanges']}")
        wants = spec.get("want", [])
        if wants:
            hits = [w for w in wants if w in plan]
            if spec.get("want_any"):
                if not hits:
                    problems.append(f"none of {wants} in plan")
            else:
                missing = [w for w in wants if w not in plan]
                if missing:
                    problems.append(f"missing {missing}")
        for bad in spec.get("forbid", []):
            if bad in plan:
                problems.append(f"forbidden node {bad} in plan")
        for pat in spec.get("forbid_in_filter", []):
            if any(re.search(pat, c) for c in _filter_conditions(df)):
                problems.append(f"forbidden {pat!r} in a Filter condition")
        for first, second in spec.get("before", []):
            # parent-above-child ordering in the executed-plan tree text
            tree_str = df._jdf.queryExecution().executedPlan().toString()
            i, j = tree_str.find(first), tree_str.find(second)
            if i < 0 or j < 0 or i > j:
                problems.append(f"'{first}' not above '{second}' in executed plan")
        if "read_cols" in spec:
            m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
            if m:
                ncols = len(m.group(1).split(",")) if m.group(1) else 0
                if ncols > spec["read_cols"]:
                    problems.append(f"scan reads {ncols} cols > {spec['read_cols']}")
        status = "OK " if not problems else "BAD"
        print(f"{status} {name}: exchanges={n_ex} {'; '.join(problems)}")
        if problems:
            failures.append(name)
            print(plan[:3000])
    print(f"\n{len(names) - len(failures)}/{len(names)} plans clean")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
