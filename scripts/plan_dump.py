#!/usr/bin/env python
"""Dump the executed physical plans of the headline queries to
PLANS.md, with the scale-relevant features called out per plan
(pushed filters, pruned read schemas, exchange counts, broadcast vs
shuffle joins, Python boundaries). Evidence for the 100 TB story —
regenerate after plan-affecting changes:

    python scripts/plan_dump.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from keras_ocr_spark.driver_queries import QUERIES  # noqa: E402
from keras_ocr_spark.plans.session import build_session  # noqa: E402

#: query -> (one-line claim, machine-checked feature bounds).
#: Each bound is feature -> (op, value) with op in {"==", "<="}; the
#: dump FAILS (exit 1, PLANS.md unwritten) if any bound is violated, so
#: a claim can never drift from its own measured plan again (r3 drift:
#: gopher "zero exchanges" vs exchanges=1; minhash "once" vs python=2).
HEADLINERS = {
    "extract_documents": (
        "map-only flagship: zero exchanges, one ArrowEvalPython, pruned scan",
        {"exchanges": ("==", 0), "python_nodes": ("==", 1), "cartesian": ("==", 0)},
    ),
    "dedup_minhash_lsh": (
        "signatures map-side ONCE (python=1); ONE bucket exchange; no cartesian",
        {"python_nodes": ("==", 1), "cartesian": ("==", 0), "bnlj": ("==", 0)},
    ),
    "dedup_incremental": (
        "new-batch band index broadcast; no corpus-vs-corpus pairing",
        {"cartesian": ("==", 0), "bnlj": ("==", 0)},
    ),
    "curate_corpus": (
        "end-to-end curation: equi-joins + aggs only",
        {"cartesian": ("==", 0), "bnlj": ("==", 0), "single_partition": ("==", 0)},
    ),
    "pack_sequences": (
        "distributed prefix sum: no SinglePartition window",
        {"single_partition": ("==", 0), "cartesian": ("==", 0)},
    ),
    "gopher_repetition": (
        "per-row array algebra: zero Python; single final-agg exchange",
        {"exchanges": ("<=", 1), "python_nodes": ("==", 0)},
    ),
    "contamination_check": (
        "eval vocab broadcast join + one groupBy",
        {"cartesian": ("==", 0), "python_nodes": ("==", 0)},
    ),
    "simhash_near_pairs": (
        "fingerprints materialized once (lazy localCheckpoint, zero Python "
        "in the join plan); ONE block-key equi-join, no cartesian",
        {"python_nodes": ("==", 0), "cartesian": ("==", 0), "bnlj": ("==", 0)},
    ),
    "dedup_substring": (
        "substring-span dedup: gram digests + span union/text rebuild as "
        "two Arrow kernels (r6 — the interpreted per-gram md5 chain and "
        "the O(words x spans) coverage algebra cost ~15s at sf1.0 when "
        "consumed); "
        "same one-count-shuffle shape, positions not text ride the joins "
        "(3 static python nodes = gram kernel planned twice + span kernel; "
        "the duplicated gram subtrees share one exchange at runtime via "
        "ReuseExchange)",
        {"python_nodes": ("<=", 3), "cartesian": ("==", 0), "bnlj": ("==", 0)},
    ),
    "token_budget_mix": (
        "skew-hardened mix (r5): running sum windows on (lang, md5-prefix "
        "bucket) — the hot language parallelizes across buckets, no "
        "SinglePartition anywhere; prefix offsets broadcast back",
        {"single_partition": ("==", 0), "cartesian": ("==", 0), "python_nodes": ("==", 0)},
    ),
    "bigram_logprob": (
        "bigram LM scoring: per-row bigram algebra, two count aggs, vocab "
        "as the one allowed 1-row-broadcast BNLJ, scoring equi-join",
        {"cartesian": ("==", 0), "python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    ),
    "dedup_containment": (
        "containment pairs (not LSH-seeded by design): EXACT result via "
        "prefix-filtered overlap join on dictionary codes — smaller side's "
        "rarity prefix vs position-bounded full side, never full x full; "
        "one ArrowEvalPython (shingle kernel, materialized once); "
        "array_intersect verification on broadcast code arrays",
        {"cartesian": ("==", 0), "bnlj": ("==", 0), "python_nodes": ("<=", 1)},
    ),
    "quality_percentile_gate": (
        "adaptive quality gate: skew-safe exact rank on (lang, "
        "quality-bucket) windows + broadcast offsets — no SinglePartition, "
        "no one-task-per-language sort",
        {"single_partition": ("==", 0), "cartesian": ("==", 0), "python_nodes": ("==", 0)},
    ),
    "unigram_kl_drift": (
        "slice-drift monitor: one word groupBy (map-side-combined "
        "conditional counts), totals as the one allowed 1-row broadcast, "
        "map-only scoring",
        # single_partition not bounded: the (n_a, n_b, V) totals are a
        # global 1-row agg — its FINAL step is SinglePartition over the
        # already-reduced vocabulary-sized partials, the standard scalar
        # aggregate shape (same as bigram_logprob's vocab count).
        {"cartesian": ("==", 0), "python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    ),
    "shingle_pagerank": (
        "document-graph PageRank: digest-group-bounded edge build (never "
        "all-pairs), 3 integer fixed-point join+agg rounds, zero Python",
        {"cartesian": ("==", 0), "bnlj": ("==", 0), "python_nodes": ("==", 0)},
    ),
    "dsir_importance": (
        "DSIR importance: one feature explode, bucket + per-doc aggs, "
        "totals as the one allowed 1-row broadcast, term-table broadcast "
        "join — word-count cost, zero Python",
        {"cartesian": ("==", 0), "python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    ),
    "tfidf_top_terms": (
        "TF-IDF keywords: one explode, tf/df aggs, corpus-size as the one "
        "allowed 1-row broadcast, doc-partitioned ranking window — no "
        "global sort",
        # single_partition not bounded: the corpus-size N is a global
        # 1-row agg — its FINAL step is SinglePartition over the
        # already-reduced partials, the standard scalar aggregate shape
        # (same exemption as unigram_kl_drift's totals).
        {"cartesian": ("==", 0), "python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    ),
    "weighted_sample": (
        "A-ES weighted sampling: one map pass + TakeOrderedAndProject — "
        "no shuffle beyond the sf-scale _docs repartition (which the "
        "scan's own partitioning replaces at 100 TB), zero Python",
        {"exchanges": ("<=", 1), "take_ordered": ("==", 1), "python_nodes": ("==", 0), "cartesian": ("==", 0)},
    ),
}


def check_bounds(f: dict, bounds: dict) -> list[str]:
    bad = []
    for key, (op, want) in bounds.items():
        got = f[key]
        ok = got == want if op == "==" else (got >= want if op == ">=" else got <= want)
        if not ok:
            bad.append(f"{key}={got} violates {op} {want}")
    return bad


def features(plan: str) -> dict:
    return {
        "exchanges": plan.count("Exchange"),
        "broadcast_hash_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python_nodes": plan.count("EvalPython"),
        "single_partition": plan.count("SinglePartition"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "pushed_filters": sorted(
            {m[:100] for m in re.findall(r"PushedFilters: \[[^\]]+\]", plan) if "[]" not in m}
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(app_name="plan_dump", master="local[8]", shuffle_partitions=8)
    out = ["# PLANS — executed physical plans of the headline queries",
           "",
           f"Generated by `scripts/plan_dump.py` at `{sf_dir}` (plan SHAPE is",
           "sf-independent; AQE may coalesce partition counts). Feature counts",
           "first, full plan text after.", ""]
    violations = []
    for name, (claim, bounds) in HEADLINERS.items():
        fn, _ = QUERIES[name]
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        f = features(plan)
        bad = check_bounds(f, bounds)
        if bad:
            violations.append(f"{name}: {'; '.join(bad)}")
        out.append(f"## {name}")
        out.append("")
        out.append(f"**Claim:** {claim}")
        out.append("")
        out.append(
            f"exchanges={f['exchanges']} broadcastHash={f['broadcast_hash_joins']} "
            f"sortMerge={f['sortmerge_joins']} BNLJ={f['bnlj']} cartesian={f['cartesian']} "
            f"python={f['python_nodes']} singlePartition={f['single_partition']} "
            f"takeOrdered={f['take_ordered']}"
        )
        for pf in f["pushed_filters"]:
            out.append(f"- `{pf}`")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:4000])
        out.append("```")
        out.append("")
    if violations:
        print("CLAIM VIOLATIONS (PLANS.md not written):")
        for v in violations:
            print(f"  {v}")
        return 1
    Path("PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINERS)} plans, all claims verified)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
