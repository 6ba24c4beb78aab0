#!/usr/bin/env python
"""Physical-plan audit over every contract query.

Dumps each queries() entry's formatted plan, counts scale-relevant plan
features, flags red flags, and writes PLANS.md. Red flags:

- CartesianProduct / BroadcastNestedLoopJoin — non-equi or keyless join:
  quadratic at scale.
- BatchEvalPython / PythonUDF in plan — row-at-a-time Python in the hot
  path (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas are the
  sanctioned Arrow-batched forms and are NOT flagged).
- Window nodes WITHOUT a partition spec ("No Partition Defined" at run
  time: all rows move to ONE partition) are a RED FLAG unless the query is
  in SINGLE_SERIES_OK — the explicit allowlist of queries that by contract
  process ONE machine's bounded frame (~50k rows/year @10min; the
  multi-machine path is m6_anomaly_multi, whose windows must all be
  partitioned). An allowlisted query still reports its count; a
  non-allowlisted query with any unpartitioned window fails the audit.
- BroadcastExchange whose build side derives from an UNAGGREGATED scan of
  a corpus-scale table (documents/embeddings/events/lineitem/orders) — a
  frame that grows with the data and will not fit executor memory at
  100 TB. The path from the broadcast down to the scan must contain an
  Aggregate / Limit / TakeOrdered node (something that bounds cardinality),
  or the (query, table) pair must be allowlisted in BOUNDED_BROADCAST_OK
  with the reason the frame is bounded by construction (e.g. a fixed-id
  query batch, an eval-suite benchmark side). This rule is evaluated on a
  SECOND plan generated with spark.sql.autoBroadcastJoinThreshold=-1, so
  only EXPLICIT broadcast() hints remain as BroadcastExchange nodes —
  cost-based broadcasts the planner picks at small sf (and would not pick
  at 100 TB, where stats say otherwise) are the optimizer doing its job
  and are not flagged.

Usage: python scripts/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RED = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

# BroadcastNestedLoopJoin is quadratic ONLY when both sides grow with the
# data. These queries broadcast a side that is constant-size by
# construction (a 1-row scalar or a fixed tiny set), which Spark can only
# plan as BNLJ — accepted, with the reason recorded in PLANS.md.
ACCEPTED = {
    "source_quality_filter": "1-row corpus-mean frame broadcast to doc stream",
    "lm_quality": "1-row corpus-token-total frame broadcast to the vocab table",
    "length_curriculum": "1-row exact-percentile bounds frame broadcast to the doc stream",
    "length_histogram": "1-row total-doc-count frame broadcast to the histogram-sized table",
    "tfidf_topk": "1-row corpus-doc-count frame broadcast to the vocab table",
    "tpch_q22": "1-row scalar subquery (avg-acctbal threshold) broadcast",
    "pmi_cooccur": "1-row corpus-bigram-total frame broadcast to the "
    "min_count-pruned pair table",
    "llr_collocations": "1-row corpus-bigram-total frame broadcast to the "
    "min_count-pruned pair table (the pmi_cooccur shape)",
    "chi2_terms": "1-row corpus-doc-count frame broadcast to the "
    "min_df-pruned (class, term) table",
    "nb_classify": "vocab x |classes|-row class-totals cross (classes "
    "bounded; densifies the smoothed-likelihood floor) + 1-row priors",
    "m2_ols_predict": "1-row OLS coefficient frame broadcast to scored rows",
    "triangle_count": "1-row triangle-total frame broadcast to the 1-row "
    "degree-stats frame (two scalars crossed)",
    "m3_cv_splits": "1-row total-count frame broadcast to n_splits rows",
    "conversion_lag": "1-row started-count frame broadcast to the 1-row "
    "percentile summary (two scalars crossed)",
    "m4_kfold_threshold": "1-row per-fold threshold frames broadcast",
    "m5_scores": "1-row fitted-stats frame broadcast",
    "dedup_embed_cosine": "documented all-pairs baseline on a bounded "
    "candidate set (LSH/IVF are the scale paths)",
    "knn_graph": "documented bounded-sample all-pairs diagnostic (id-capped; "
    "the dedup_embed_cosine convention)",
    "rrf_hybrid": "corpus x broadcast 1-row query vector (the sim_bruteforce "
    "constant side)",
    "target_encode": "1-row global-mean frame broadcast to the encoded rows "
    "(the source_quality_filter scalar shape)",
    "lift_curve": "1-row totals frame broadcast to the n_buckets-row "
    "lift table",
    "stickiness": "range join of the CALENDAR-bounded day spine "
    "(broadcast side = distinct active days) against distinct (user, "
    "day) activity — output bounded at |activity| x 28, never "
    "event-volume-quadratic",
    "null_patterns": "1-row total-count frame broadcast to the "
    "pattern-bounded (<= 2^|cols|) fingerprint table",
    "join_profile": "1-row count-table totals frames broadcast-crossed "
    "into the single-row profile readout (three scalar frames)",
    "t_closeness": "m-row sensitive-value grid (distinct ordered values, "
    "resolution-bounded) broadcast-crossed with the QI-group frame — "
    "output is groups x m, never corpus-sized",
    "hits": "1-row L1-normalization totals frame broadcast to the node "
    "frame (the pagerank/lift_curve scalar shape)",
    "sim_bruteforce": "defined computation: corpus x broadcast query batch "
    "(query batch is the constant side)",
    "ann_recall": "exact-truth side is the sim_bruteforce corpus x "
    "broadcast query batch (eval harness; both inputs top-k-sized after)",
    "sim_ivf": "vector x centroid assignment; centroid set is k rows, "
    "broadcast (k << corpus)",
    "sim_ivf_kmeans": "query x trained-centroid probe; centroid set is k "
    "rows, broadcast (k << corpus)",
    # the derived-partsupp builder attaches a 1-row supplier-count frame
    # (and q11 a 1-row threshold) via broadcast cross join
    "dsir_weights": "1-row feature-total frame broadcast to the "
    "bucket-bounded (4096-row) ratio table",
    "a5_fold_scores": "1-row per-fold OLS fit frames broadcast (3 folds)",
    "lm_quality_trigram": "1-row corpus-token-total frame broadcast for "
    "the unigram fallback",
    "mixture_sample": "1-row corpus-total frame broadcast to the "
    "strata-sized count table",
    "perplexity_buckets": "1-row corpus-token-total + OOV-floor frames "
    "broadcast (the lm_quality scalars, reused upstream of the tiling)",
    "curation_verdict": "the lm_quality 1-row scalar frames, inherited "
    "through the perplexity branch of the composed verdict",
    "bm25_search": "1-row corpus-stats (N, avgdl) frame broadcast to "
    "the query-term df table",
    "tpch_q2": "1-row supplier-count frame broadcast (derived partsupp)",
    "tpch_q9": "1-row supplier-count frame broadcast (derived partsupp)",
    "tpch_q11": "1-row supplier-count + 1-row threshold broadcasts",
    "tpch_q16": "1-row supplier-count frame broadcast (derived partsupp)",
    "tpch_q20": "1-row supplier-count frame broadcast (derived partsupp)",
    "psi_drift": "1-row time-range-midpoint scalar broadcast to the series",
    "w1_drift": "1-row time-range-midpoint scalar broadcast to the series "
    "(the psi_drift split convention)",
    "perm_drift": "1-row time-range-midpoint scalar broadcast to the "
    "event stream (the psi_drift split convention)",
    "bh_fdr": "perm_drift's midpoint scalar inherited through the "
    "p-value family",
    "drift_verdict": "the psi/ks/w1/perm midpoint scalars inherited "
    "through the composed per-tag triage join",
    "basket_pairs": "1-row distinct-order-count scalar broadcast to the "
    "pair table",
    "assoc_rules": "1-row basket-count scalar broadcast to the directed "
    "rule table (the basket_pairs scalar)",
    "revenue_pareto": "1-row exact-percentile boundary array broadcast to "
    "the per-customer aggregate (the rfm_segments shape)",
    "group_quantiles_sketch": "1-row global min/max bounds scalar "
    "broadcast to the event stream (the zorder bounds shape)",
    "brier_calibration": "1-row base-rate scalar broadcast to the "
    "bins-bounded histogram",
    "sparse_cosine": "1-row corpus-doc-count scalar broadcast to the "
    "weight table (the tfidf_topk scalar)",
    "ab_cuped": "1-row midpoint + 1-row (theta, mean_pre) fit scalars "
    "broadcast to the per-unit frame (the psi_drift split convention)",
    "diff_in_diff": "1-row midpoint scalar broadcast to the event stream "
    "(the psi_drift split convention)",
    "quantile_transform": "1-row exact-percentile boundary array broadcast "
    "to the event stream (the revenue_pareto shape)",
    "survival_km": "1-row global-max-orderdate censoring scalar broadcast "
    "to the per-subject frame",
    "rfm_segments": "1-row exact-percentile threshold frame broadcast to "
    "the per-customer aggregate",
    "ks_drift": "1-row time-range-midpoint scalar broadcast to the series "
    "(the psi_drift split convention)",
    "tag_mutual_info": "1-row min/max bounds frame broadcast to the "
    "aligned grid (fixed-width binning)",
    "pagerank": "1-row node-count scalar broadcast to the degree table "
    "(teleport term)",
    "fs_match_scores": "1-row record-count + per-field u-probability "
    "scalar frames broadcast to the pair table",
    "zorder_keys": "1-row per-column min/max bounds frame broadcast to "
    "the scan (the Morton bit-scaling scalars)",
    "chisq_drift": "1-row time-range-midpoint scalar broadcast to the "
    "stream (the psi_drift split convention)",
    # round 9
    "holm_ab": "K^2 rank/step self-joins on the checkpointed K-row metric "
    "frame (K = a handful of metrics) + 1-row variant totals",
    "conformal_ols": "1-row fitted-coefficient / quantile / count scalar "
    "frames broadcast-crossed into the single-row coverage readout",
    "sem_decontaminate": "eval-set side broadcast: benchmarks are KBs by "
    "construction (the decontaminate convention); train corpus streams "
    "through one scan",
    "eval_fleiss_kappa": "1-row item-total and category-total statistic "
    "frames crossed into the single-row kappa readout (both sides "
    "aggregate-bounded)",
    "rm3_expand": "bm25_search's accepted scalars inherited through the "
    "feedback branch + 1-row score-total frame crossed into the "
    "top-k-bounded term table",
    "cluster_ab": "1-row per-arm cluster-moment totals crossed (the "
    "ab_zstat scalar shape)",
    "textrank": "pagerank's 1-row node-count teleport scalar, inherited "
    "through the word-graph composition",
    "logrank": "1-row subject-totals frame crossed with the 1-row "
    "event-sum frame (two scalar frames, the conversion_lag shape)",
    "neyman_alloc": "1-row allocation-total scalar broadcast to the "
    "|strata|-row design table",
    "quantile_norm_map": "1-row pooled-percentile array broadcast to the "
    "|groups| x buckets mapping table (the revenue_pareto boundary shape)",
}
COUNTED = (
    ("exchanges", r"\bExchange\b"),
    ("broadcasts", r"BroadcastExchange|BroadcastHashJoin"),
    ("smj", r"SortMergeJoin"),
    ("arrow_python", r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"),
    ("scans", r"Scan parquet"),
)

# Queries allowed to contain Window nodes with NO partition spec: each one
# deliberately exercises the single-machine contract (one bounded series,
# the reference's one-model-per-machine granularity — SURVEY.md §4). Any
# query not listed here must partition every window (see m6_anomaly_multi).
SINGLE_SERIES_OK = {
    # BH step-up ranks the BOUNDED hypothesis family (one row per tag —
    # a fleet sweep is still #tags rows, never event-volume)
    "bh_fdr",
    "drift_verdict",
    # one machine's aligned wide frame (tail-drop / buffer / fold windows)
    "j7_lookback",
    "p3_row_filter",
    "p4_median_period",
    "m4_kfold_threshold",
    "a5_fold_scores",
    "m6_anomaly",
    "m6_anomaly_scaled",
    # the running-sum window is over the one-row-per-PARTITION offsets
    # frame (bounded by partition count), never the data itself
    "global_ids",
    # the risk-set forward-fill runs on the (aggregated) event-time grid
    # — day-resolution-bounded, never subject-sized (the survival_km
    # duration-grid convention)
    "logrank",
    # the cumulative-sum and running-max window runs over the
    # 1-row-per-calendar-window count aggregate (#windows rows: weeks of
    # daily windows), never event rows
    "msprt_monitor",
    # rank windows over the HOURLY-RESAMPLED aligned tag matrix — the
    # calendar grid bounds its cardinality (#hours in range), not the
    # raw event volume; corpus-sized spearman would need part_cols
    # range-bucketing (operators/ranking.global_rank docstring)
    "tag_spearman",
    # rolling corr over the TWO-tag aligned hourly grid — same
    # calendar-grid bound as tag_spearman (one series, never
    # raw-event-proportional)
    "w22_rolling_corr",
    # running sums over the VOCABULARY-sized term table (already
    # aggregated, map-side combined), never the corpus
    "vocab_coverage",
    # Kaplan-Meier risk-set suffix sum + cumulative product run over the
    # distinct-DURATION grid — time-resolution-bounded (days in range),
    # never subject-cardinality (subjects collapse map-side first)
    "survival_km",
    # trailing-median + status windows over the CALENDAR-day spine —
    # bounded by the time span (days in range), never event volume
    # (events collapse to day counts map-side first)
    "ingest_health",
    # rank + fused-rank windows over top-k-BOUNDED retriever outputs
    # (20-row frames by construction) — the rrf_fusion docstring bound
    "rrf_hybrid",
    # distributed_ntile's histogram windows run over the 3dp-ROUNDED
    # score grid (<= 1001 rows) and the cumulative window over the
    # n_buckets-row lift table — the revenue_pareto bound
    "lift_curve",
    # Lorenz cumulative shares over the K-row bucket table (ntile output
    # of distributed_ntile — the member-cardinality work is histogram-
    # partitioned inside it; these windows see K rows)
    "revenue_pareto",
    # AUC's cumulative-negatives window runs over the 3dp-ROUNDED score
    # histogram — resolution-bounded (<= 10^precision + 1 grid points
    # for probability-like scores), never row-cardinality
    "auc_quality",
    # rank-sum windows run over the precision-ROUNDED value histogram —
    # the auc_quality grid bound (mann_whitney rounds values FIRST and
    # aggregates to the distinct-value histogram before any window)
    "mann_whitney",
    # distributed_ntile's histogram windows over the 3dp score grid +
    # the cumulative window over the n_buckets-row uplift table — the
    # lift_curve bound exactly
    "qini_curve",
    # the skyline's stage-2 global window runs over the LOCAL-SKYLINE
    # survivor union (per-bucket frontiers — typically tiny; worst case
    # is the answer's own size), never the corpus (stage 1 is
    # bucket-partitioned)
    "skyline",
}


# Tables that stand in for the corpus-scale facts: anything broadcast off
# one of these must be provably bounded (aggregate/limit on the path) or
# allowlisted below with its bounding argument. customer/part/supplier are
# sf-PROPORTIONAL in TPC-H (customer = 150k x sf) — "dimension-shaped" at
# sf0.01 but corpus-scale at sf1000, so they are corpus tables here.
CORPUS_TABLES = (
    "documents",
    "embeddings",
    "events",
    "lineitem",
    "orders",
    "customer",
    "part",
    "supplier",
)

# An Aggregate bounds a broadcast's cardinality only if its output is
# provably small: keyless (1 row) or keyed on bounded-domain columns
# (tag, event_type, fold, nation...). An aggregate KEYED ON A PER-ENTITY
# ID of a corpus table (one group per part/order/customer/doc/vector) has
# output proportional to the table and bounds nothing — round 4's q17
# broadcast `per_part` (grouped by l_partkey) exactly this way. An
# aggregate KEYED ON A TOKEN/GRAM/SHINGLE column of a corpus scan is the
# same trap one level down (round 7's similarity-join vocab broadcasts):
# the vocabulary grows ~linearly with the corpus (Heaps' law exponent
# near 1 for shingles), so a term-keyed aggregate bounds nothing either
# unless a Limit/TakeOrdered (max_vocab) or an allowlisted filter
# (query-term array, max_df) sits on the path.
UNBOUNDED_AGG_KEY_RE = re.compile(
    r"\b("
    r"[lop]_orderkey|big_key|"  # one group per order
    r"[lp]s?_partkey|ap_key|"  # one group per part
    r"[ls]s?_suppkey|ps_suppkey|supplier_no|"  # one group per supplier
    r"[co]_custkey|"  # one group per customer
    r"doc_id|vec_id|"  # one group per document / vector
    r"_tok|term|gram|sh|gh|word|token|shingle"  # one group per vocab entry
    r")#"
)

# Nodes on the broadcast->scan path that bound the broadcast's cardinality
# regardless of corpus size. InMemoryRelation/InMemoryTableScan are cache
# boundaries: a broadcast above one is the planner's cost-based choice over
# the cached frame's KNOWN stats (and the audit session's global cache
# manager can splice a previous query's identical cached subplan into a
# later plan, renumbering nodes — walking through it misattributes the
# inner scan to the outer broadcast).
BOUNDING = (
    "Aggregate",
    "Limit",
    "TakeOrdered",
    "Deduplicate",
    "InMemoryRelation",
    "InMemoryTableScan",
)

# (query, table) pairs whose broadcast build side is bounded by
# construction even though the plan shows no aggregate/limit — each with
# the reason. Anything else broadcasting a corpus scan fails the audit.
BOUNDED_BROADCAST_OK = {
    ("sim_bruteforce", "embeddings"): "query batch fixed by id filter (vec_id < 10) — the constant side of ANN",
    ("sim_ivf", "embeddings"): "query batch fixed by id filter (vec_id < 10)",
    ("sim_ivf_probe", "embeddings"): "query batch fixed by id filter (vec_id < 10)",
    ("sim_ivf_kmeans", "embeddings"): "query batch fixed by id filter (vec_id < 10)",
    ("sim_ann_lsh", "embeddings"): "query batch fixed by id filter (vec_id < 10)",
    ("dedup_embed_cosine", "embeddings"): "documented all-pairs oracle baseline on a bounded candidate set",
    ("label_cohesion", "embeddings"): "per-label centroid table (|labels| rows) — aggregated upstream",
    ("decontaminate", "documents"): "benchmark side: eval suites are MBs by construction (GPT-3 app. C)",
    ("bm25_search", "documents"): "idf table filtered to the |query|-term array BEFORE aggregation — build side <= query terms",
    ("rrf_hybrid", "documents"): "BM25 idf side of the fusion — same |query|-term bound as bm25_search",
    ("rrf_hybrid", "embeddings"): "1-row query vector (vec_id = 0) broadcast to the corpus — the sim_bruteforce constant side",
    # knn_graph (knn_graph_stats) is deliberately NOT allowlisted here:
    # its vector side carries no broadcast hint (round-9 de-hinting), so a
    # BroadcastExchange reappearing under its theta-join means someone
    # re-added the hint — exactly what this audit should fire on.
    ("sem_decontaminate", "embeddings"): "eval-set side (vec_id cap) — benchmarks are KBs by construction, the decontaminate convention",
    ("rm3_expand", "documents"): "idf/df side filtered to the |query|-term array BEFORE aggregation (the bm25_search bound), under the bounded top-k feedback join",
}


def unbounded_broadcasts(plan: str, query: str) -> list[str]:
    """Find BroadcastExchange nodes whose subtree reaches a corpus-table
    scan with no cardinality-bounding node on the path. Parses the
    formatted-plan tree (depth = indent//3) + the node-detail blocks
    (node id -> Location) to resolve which parquet each scan reads."""
    tree_m = re.search(r"== Physical Plan ==\n(.*?)\n\n", plan, re.S)
    if not tree_m:
        return []
    # node id -> detail block (for scan Location lookup)
    details = dict(re.findall(r"^\((\d+)\) ([^\n]*(?:\n(?!\().*)*)", plan, re.M))
    flags = []
    stack = []  # [(depth, name, id)]
    for line in tree_m.group(1).splitlines():
        m = re.match(r"^([:+\- ]*)\*?\s*(\S[^(]*)\((\d+)\)", line)
        if not m:
            continue
        prefix, name, nid = m.group(1), m.group(2).strip(), m.group(3)
        depth = len(prefix) // 3
        while stack and stack[-1][0] >= depth:
            stack.pop()
        stack.append((depth, name, nid))
        if not name.startswith("Scan parquet"):
            continue
        detail = details.get(nid, "")
        table = next(
            (t for t in CORPUS_TABLES if f"{t}.parquet" in detail), None
        )
        if table is None:
            continue
        def _bounds(aname: str, anid: str) -> bool:
            """True if this node bounds downstream cardinality. An
            Aggregate keyed on a per-entity corpus id (one group per
            part/order/...) does NOT bound."""
            if not any(b in aname for b in BOUNDING):
                return False
            if "Aggregate" in aname and "InMemory" not in aname:
                keys_m = re.search(
                    r"^Keys \[\d+\]: (\[[^\n]*\])", details.get(anid, ""), re.M
                )
                if keys_m and UNBOUNDED_AGG_KEY_RE.search(keys_m.group(1)):
                    return False
            return True

        # nearest BroadcastExchange ancestor, and the path below it
        for i in range(len(stack) - 2, -1, -1):
            aname = stack[i][1]
            if _bounds(aname, stack[i][2]):
                break  # bounded before reaching any broadcast
            if "BroadcastExchange" in aname:
                # a broadcast INSIDE an InMemoryRelation subtree is the
                # cost-based plan frozen into the cache at persist time
                # (planned under the default threshold), not an explicit
                # hint — the threshold=-1 pass cannot re-plan a cached
                # subtree, so judging it as a hint is a false positive
                above = [s[1] for s in stack[:i]]
                if any("InMemoryRelation" in p for p in above):
                    break
                if not any(
                    _bounds(s[1], s[2]) for s in stack[i + 1 : -1]
                ):
                    if (query, table) in BOUNDED_BROADCAST_OK:
                        break
                    flags.append(
                        f"UNBOUNDED BROADCAST of {table} scan (node {nid})"
                    )
                break
    return flags


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with no partition spec. A partitioned Window's
    Arguments line carries THREE top-level bracket groups
    (`[exprs], [partition keys], [order]`); an unpartitioned one omits the
    partition list entirely and has only two."""
    n = 0
    for block in plan.split("\n\n"):
        s = block.strip()
        if not re.match(r"\(\d+\) Window\b", s):
            continue
        m = re.search(r"^Arguments: (.*)$", s, re.M)
        if not m:
            continue
        args = m.group(1)
        groups, depth, start = [], 0, -1
        for i, ch in enumerate(args):
            if ch == "[":
                if depth == 0:
                    start = i
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(args[start : i + 1])
        if len(groups) >= 3:
            continue  # [exprs], [partition], [order]
        # two groups: partition-only ([exprs], [keys]) is fine; order-only
        # ([exprs], [c ASC ...]) is the single-partition case
        if len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[-1]):
            n += 1
    return n


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from gordo_spark import get_spark

    spark = get_spark("plan_audit")
    rows, n_red = [], 0
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            plan = plan_of(fn(spark, sf_dir))
            # hint-only replan: with auto-broadcast off, any surviving
            # BroadcastExchange comes from an explicit broadcast() hint.
            # The query is REBUILT under the changed conf — a DataFrame
            # memoizes its queryExecution, so replanning needs a fresh one.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                hint_plan = plan_of(fn(spark, sf_dir))
            finally:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        except Exception as exc:  # pragma: no cover - audit robustness
            rows.append((name, {}, [f"PLAN ERROR: {exc}"]))
            n_red += 1
            continue
        counts = {k: len(re.findall(p, plan)) for k, p in COUNTED}
        flags = [r for r in RED if r in plan]
        # BNLJ and CartesianProduct are the same non-equi class (the
        # threshold=-1 pass plans an un-hinted bounded self/theta-join as
        # Cartesian); acceptance is still per-query-name with a reason
        if (
            flags
            and set(flags) <= {"BroadcastNestedLoopJoin", "CartesianProduct"}
            and name in ACCEPTED
        ):
            flags = [f"BNLJ accepted: {ACCEPTED[name]}"]
        else:
            n_red += bool(flags)
        upw = unpartitioned_windows(plan)
        counts["global_windows"] = upw
        # window-expression SLOTS: Catalyst extracts each occurrence of a
        # window expression into its own _weN attribute with NO dedup, so
        # slots >> distinct window functions = something is re-mentioning
        # window aggregates (the round-9 qround regression tripwire)
        counts["we_slots"] = len(set(re.findall(r"_we\d+", plan)))
        if upw and name not in SINGLE_SERIES_OK:
            flags.append(f"UNPARTITIONED WINDOW x{upw} (not in SINGLE_SERIES_OK)")
            n_red += 1
        ubb = unbounded_broadcasts(hint_plan, name)
        if ubb:
            flags.extend(ubb)
            n_red += 1
        rows.append((name, counts, flags))

    lines = [
        "# PLANS — physical-plan audit of every contract query",
        "",
        f"Generated by `python scripts/plan_audit.py {sf_dir}`. Red flags",
        "(cartesian/nested-loop joins, row-at-a-time Python) fail the audit;",
        "Arrow-batched Python (pandas UDF forms) and broadcasts are counted,",
        "not flagged. Exchange counts are from the pre-AQE plan — AQE may",
        "further coalesce at runtime. (Whole-stage-codegen spans are not",
        "visible in pre-execution plans under AQE; the arrowPy / red-flag",
        "columns capture what falls out of codegen into Python.)",
        "",
        "| query | exchanges | broadcast | SMJ | arrowPy | scans | 1-part windows | we-slots | red flags |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c, flags in rows:
        flag_s = ", ".join(flags) if flags else "—"
        gw = c.get("global_windows", 0)
        gw_s = f"{gw} (single-series OK)" if gw and name in SINGLE_SERIES_OK else str(gw)
        lines.append(
            f"| {name} | {c.get('exchanges', '?')} | {c.get('broadcasts', '?')} "
            f"| {c.get('smj', '?')} | {c.get('arrow_python', '?')} "
            f"| {c.get('scans', '?')} | {gw_s} | {c.get('we_slots', '?')} "
            f"| {flag_s} |"
        )
    lines += ["", f"Total: {len(rows)} queries, {n_red} with red flags."]
    out = "\n".join(lines) + "\n"
    if not only:
        # a filtered run is a spot check — only the FULL audit may
        # replace the committed PLANS.md
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
            fh.write(out)
    print(out)
    sys.exit(1 if n_red else 0)


if __name__ == "__main__":
    main()
