#!/usr/bin/env python3
"""Generate PLANS.md: a physical-plan audit table for every corpus
query — exchanges, join strategies, codegen spans, and the scale
red-flags (nested-loop joins, cartesians, single-partition funnels).

This is the machine-checked evidence behind the plan contracts in
tests/test_plans.py, regenerated in full so a reviewer can scan the
whole corpus at once instead of trusting spot checks.

Usage: python scripts/plan_audit.py [--sf-dir DIR] [--out PLANS.md]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def streaming_executed(queries: dict) -> set[str]:
    """The queries that EXECUTE a streaming job inside the query function
    and return the drained sink: every query whose function is defined in
    queries/streams.py. Their batch plan is just the sink read, so plan
    metrics would audit the wrong thing. (Not ``category="streaming"``:
    queries/windows.py registers batch twins under that category.)"""
    from dicom_metadata_extractor_serverless_datalake_spark.queries import streams

    return {
        name for name, q in queries.items() if q.spark_fn.__module__ == streams.__name__
    }


def _nodes(plan: str, name: str) -> int:
    """Count plan nodes by their formatted-explain detail header."""
    return len(re.findall(rf"^\(\d+\) {name}", plan, re.M))


def all_zero(m: dict) -> bool:
    """True when an audit row recognized NO plan nodes at all — the
    trigger for the standalone re-audit in main()."""
    return m["exchanges"] == 0 and not any(
        (
            m["single_part"],
            m["bhj"],
            m["shj"],
            m["smj"],
            m["bnlj"],
            m["cartesian"],
            m["codegen"],
            m["pushed"],
        )
    )


def is_degenerate(m: dict, plan: str) -> bool:
    """The allowlist: an all-zero re-audit is still LEGITIMATE when the
    plan roots on checkpointed RDD scans (iterative queries whose work
    happened during construction) or is a map-side top-k
    (TakeOrderedAndProject) with nothing pushable; anything else that
    reproduces zero recognized nodes twice is a parsing failure and
    must be flagged, not silently written as a zero row (the round-7
    truncation bug's failure mode)."""
    return (
        m["exchanges"] == 0
        and not (m["pushed"] or m["single_part"] or m["codegen"])
        and "Scan ExistingRDD" not in plan
        and "TakeOrderedAndProject" not in plan
    )


def audit_one(plan: str) -> dict:
    total_exch = _nodes(plan, "Exchange")
    single = plan.count("Arguments: SinglePartition")
    return {
        "exchanges": total_exch - single,
        "single_part": single,
        "bhj": _nodes(plan, "BroadcastHashJoin"),
        "shj": _nodes(plan, "ShuffledHashJoin"),
        "smj": _nodes(plan, "SortMergeJoin"),
        "bnlj": _nodes(plan, "BroadcastNestedLoopJoin"),
        "cartesian": _nodes(plan, "CartesianProduct"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")

    rows, flags = [], []
    executed = streaming_executed(QUERIES)
    for name, q in QUERIES.items():
        if name in executed:
            rows.append((name, None))
            continue
        # audit each query STANDALONE: constructions that persist()
        # intermediates register them in the CacheManager, and cache
        # substitution rewrites LATER queries' audited plans (a zeroed
        # q70 row shipped in one regeneration this way) — PLANS.md
        # documents the plan a fresh session runs, so drop accumulated
        # cache entries before each audit
        spark.catalog.clearCache()
        plan = physical_plan(q.spark_fn(spark, args.sf_dir))
        m = audit_one(plan)
        if all_zero(m):
            # an all-zero row is either legitimate (map-side top-k with
            # no pushable filter, or an iterative query whose final
            # visible plan roots on checkpointed RDD scans — the work
            # happened during construction) or a degenerate audit.
            # Distinguish by re-auditing once more standalone: only a
            # run that cannot reproduce ANY recognized node twice AND
            # shows no RDD-scan root gets flagged.
            plan = physical_plan(q.spark_fn(spark, args.sf_dir))
            m = audit_one(plan)
            if is_degenerate(m, plan):
                flags.append(f"{name}: degenerate audit (no plan nodes recognized)")
                # the allowlist heuristic can false-positive on a
                # legitimately minimal plan shape — dump the raw text so
                # the flag is adjudicable from the artifact (ADVICE r07)
                print(f"-- raw plan for flagged {name} --\n{plan}\n--", file=sys.stderr)
        rows.append((name, m))
        # single-row scalar-attach broadcasts (cross joins of 1-row
        # aggregate frames) legitimately appear as BNLJ; flag only
        # pair-generator families where a nested loop means all-pairs
        if m["cartesian"]:
            flags.append(f"{name}: CartesianProduct")
        if (
            m["bnlj"]
            and q.category in ("dedup", "join")
            and name != "q10_cross_join"  # the deliberate (bounded) cross-join demo
        ):
            flags.append(f"{name}: BroadcastNestedLoopJoin in {q.category} query")
        # inferred-filter inlining trap (BASELINE.md round 6): a Filter
        # node that re-evaluates a non-cheap producer tree (hashes /
        # large higher-order-function expressions) doubles-or-worse the
        # map-side cost. Consistent-sampling queries legitimately hash
        # once per row in a filter — those lines stay short; flag only
        # filters carrying a big inlined tree.
        for line in plan.splitlines():
            ls = line.strip()
            if "Filter" in ls and len(ls) > 2000 and (
                "md5(" in ls or "xxhash64(" in ls or "aggregate(" in ls
            ):
                flags.append(f"{name}: inlined expensive tree in Filter ({len(ls)} chars)")
                break

    lines = [
        "# PLANS — physical-plan audit of the full corpus",
        "",
        f"Generated by `scripts/plan_audit.py` at `{args.sf_dir}`. Every",
        "non-streaming-executed corpus query's executed plan, summarized:",
        "exchange count (hash/range shuffles), single-partition exchanges,",
        "join strategies (broadcast-hash / shuffled-hash / sort-merge /",
        "broadcast-nested-loop / cartesian), distinct whole-stage-codegen",
        "spans, and whether the scan carries pushed filters. BNLJ entries",
        "outside the dedup/join families are single-row scalar-attach",
        "broadcasts (a 1-row aggregate cross-joined onto a frame), not",
        "pair scans; the dedup/join families are contract-bound to hash",
        "equi-joins (tests/test_plans.py).",
        "",
        "| query | exch | 1-part | BHJ | SHJ | SMJ | BNLJ | cart | codegen | pushdown |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, m in rows:
        if m is None:
            lines.append(f"| {name} | — streaming-executed (availableNow drain; audited by oracle result, not batch plan) | | | | | | | | |")
            continue
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                m["exchanges"],
                m["single_part"],
                m["bhj"],
                m["shj"],
                m["smj"],
                m["bnlj"],
                m["cartesian"],
                m["codegen"],
                "yes" if m["pushed"] else "—",
            )
        )
    lines += ["", "## Red flags", ""]
    if flags:
        lines += [f"- {f}" for f in flags]
    else:
        lines.append("- none: no cartesians; no nested-loop joins in any pair-generating query")
    with open(args.out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {args.out}: {len(rows)} queries, {len(flags)} flags")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
