#!/usr/bin/env python
"""Physical-plan evidence for the headline queries, in two modes.

    python tools/explain_all.py [sf_dir]
        Regenerate PLANS.md: for each query in SHOW, the plan lines
        that carry the scale properties (pushdown, pruning, join
        strategy, partial aggregation, exchange count). Notes below
        NOTES_MARKER are kept.

    python tools/explain_all.py [sf_dir] --formatted TAG [NAME ...]
        Write each query's .explain("formatted") to
        plans/<dir>/<name>_<TAG>.txt (<dir> from
        $SPARK_GRAFT_PLANS_TAG_DIR, default r19) — before/after plan
        evidence for an optimization (default names: every bench.py
        HEADLINE query). Queries whose build() runs a stream or writes
        a sink are skipped: the plan of the DataFrame they return is a
        plain read of the result (their evidence is the executed-plan
        audit in SCALE_PROBE.md and the phase metrics in
        OPTIMIZATION_r18.md).

sf_dir defaults to $SPARK_GRAFT_SF_DIR, else the sf0.1 testdata directory.
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dpu_olap_spark.registry import all_queries
from dpu_olap_spark.session import get_spark

SHOW = [
    "filter",
    "sum",
    "join",
    "join_agg",
    "group_agg",
    "topk",
    "tpch_q3",
    "tpch_q15",
    "tpch_q1",
    "tpch_q9",
    "fact_fact_join",
    "dedup_minhash_pairs",
    "simhash",
    "knn_bruteforce",
    "range_join",
    "decontaminate",
    "stratified_sample",
    "grouped_ols",
    "chunk_documents",
    "pack_sequences",
    "redact_pii",
    "bitmap_presence",
    "bm25_scores",
    "train_test_split",
    "cross_source_overlap",
    "group_size_hist",
    "pq_search",
    "ivf_pq_search",
    "session_funnel",
    "reservoir_sample",
    "bloom_filter_join",
    "udtf_word_runs",
    "pysource_scan",
    "approx_topk_tokens",
    "listagg_stats",
    # round 11
    "collated_join_agg",
    "dedup_paragraph",
    # round 12 (sql_script excluded like dedup_clusters: its return
    # relation is the materialized LocalTableScan — the per-statement
    # distributed plans run inside the block; shape pinned in
    # test_plans instead)
    "exec_immediate",
    # round 6
    "cache_scan",
    "variant_paths",
    "udtf_analyze",
    "statestore_read",
    # round 6, second window (batch plans only — the streaming/state
    # queries' plans are post-hoc reads, shapes pinned in test_plans)
    "cogroup_asof",
    "map_in_arrow",
    "arrow_udf",
    "param_sql",
    "transpose_metrics",
    # round 13-15 robust-stats / quantile / frequency family
    "skyline_pareto",
    "time_weighted_avg",
    "mad_outliers",
    "histogram_median",
    "histogram_percentile",
    "weighted_median",
    "weighted_sample",
    "exact_median_refine",
    "exact_quartiles_refine",
    "exact_weighted_median",
    "group_mode",
    "heavy_hitters",
    "null_safe_join",
    "topk_cumshare",
    "ntile_deciles",
    # dedup_clusters excluded: its final DF's plan STRING expands every
    # cached propagation round, inflating the Exchange count (the
    # executed reads come from cache); per-round shape is documented in
    # the hand-written notes below the marker instead.
]

# Everything below this marker in PLANS.md is hand-written analysis and
# survives regeneration.
NOTES_MARKER = "## Round-3 perf notes"

MARKERS = (
    "PushedFilters",
    "PartitionFilters",
    "ReadSchema",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "SortMergeJoin",
    "HashAggregate",
    "TakeOrderedAndProject",
    "Exchange",
)


# build() runs side effects (streams, sinks) for these families; the
# formatted plan of the RETURNED df is a plain batch read of the
# result, which carries no optimization signal.
_SKIP_PREFIXES = (
    "stream",
    "statestore_",
    "joinstate_read",
    "sink_",
    "pysink_write",
    "merge_upsert",
    "cache_scan",
    "stateful_",
    "rocksdb_",
    "pystream_scan",
)


def write_plans_md(spark, sf_dir: str) -> None:
    queries = all_queries()
    out = [
        "# PLANS — physical-plan evidence (generated by tools/explain_all.py)",
        "",
        f"Source SF: `{sf_dir}`. For each headline query: the plan lines that",
        "carry the scale properties (scan pushdown/pruning, join strategy,",
        "aggregation modes, exchange count). Regenerate after plan-affecting",
        "changes.",
        "",
    ]
    for name in SHOW:
        df = queries[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = [
            ln.strip()[:160]
            for ln in plan.splitlines()
            if any(m in ln for m in MARKERS)
        ]
        n_ex = plan.count("Exchange")
        out.append(f"## {name}  (exchanges: {n_ex})\n")
        out.append("```")
        seen = set()
        for ln in lines:
            key = re.sub(r"#\d+L?", "#", ln)
            if key in seen:
                continue
            seen.add(key)
            out.append(ln)
        out.append("```")
        out.append("")
    path = os.path.join(ROOT, "PLANS.md")
    notes = ""
    if os.path.exists(path):
        with open(path) as f:
            prev = f.read()
        idx = prev.find(NOTES_MARKER)
        if idx >= 0:
            notes = prev[idx:]
    with open(path, "w") as f:
        f.write("\n".join(out))
        if notes:
            f.write(notes)
    print("PLANS.md written")


def write_formatted(spark, sf_dir: str, tag: str, names: list[str]) -> None:
    out_dir = os.path.join(
        ROOT, "plans", os.environ.get("SPARK_GRAFT_PLANS_TAG_DIR", "r19")
    )
    os.makedirs(out_dir, exist_ok=True)
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)
    queries = all_queries()
    for name in names:
        if name.startswith(_SKIP_PREFIXES):
            print(f"skip {name} (side-effecting build)")
            continue
        df = queries[name].build(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "sf_dir", nargs="?",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--formatted", nargs="+", metavar=("TAG", "NAME"))
    args = ap.parse_args()
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    if args.formatted:
        write_formatted(spark, args.sf_dir, args.formatted[0], args.formatted[1:])
    else:
        write_plans_md(spark, args.sf_dir)


if __name__ == "__main__":
    main()
