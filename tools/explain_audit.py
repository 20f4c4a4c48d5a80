"""Plan-quality audit: dump every registered query's physical plan and
flag scale anti-patterns.

Checks per plan:
- CartesianProduct / BroadcastNestedLoopJoin → quadratic or
  broadcast-explosion risk (flag; some are intentional and listed in
  ALLOWED below with justification),
- BatchEvalPython → row-at-a-time Python UDF in the hot path (always a
  bug; Arrow variants ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  are allowed, except in the ts_* queries, which tests/test_plan_audit.py
  keeps free of any Python stage),
- Window with an EMPTY partition spec → the whole frame funnels through
  one task (the classic ordered-analytics scale cliff). Bounded-frame
  sites (P-row offset tables, month-grain frames, top-k ranks) are
  intentional and listed in ALLOWED_GLOBAL_WINDOW with justification,
- counts Exchange (shuffle) operators — the scale currency,
- parquet scans with an empty ReadSchema prune or no PushedFilters when
  a filter exists are reported for eyeballing.

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# intentional nested-loop/cartesian plans, with why they're fine at scale
ALLOWED_NESTED_LOOP = {
    # driver-bounded query set broadcast against banded candidates;
    # the corpus side never replicates
    "sim_topk_lsh",
    # one-row broadcast (global-total scalar) joined by a range
    # predicate — the standard scalar-subquery plan, O(n) not O(n²)
    "q11_important_stock",
    # one-row broadcast (corpus doc count) cross-joined onto the
    # sampled tf rows — scalar fan-out, O(n)
    "tfidf_top_terms",
    # one-row broadcast (n_docs/avgdl/per-term df corpus stats)
    # cross-joined onto per-doc tf rows — scalar fan-out, O(n)
    "bm25_search",
    # one-row broadcast (the two split token totals) cross-joined onto
    # per-token counts — scalar fan-out, O(n)
    "token_drift_splits",
    # one-row broadcast (the 9 decile boundaries) cross-joined onto the
    # scan for map-side bucket assignment — scalar fan-out, O(n)
    "equi_depth_bins",
    # one-row broadcast (total basket count) cross-joined onto the
    # pruned pair aggregate for the lift ratio — scalar fan-out, O(n)
    "basket_part_pairs",
    # one-row broadcast (total token count) cross-joined onto the
    # bounded candidate counts for the threshold — scalar fan-out, O(n)
    "heavy_hitters_mg",
    # one-row broadcast (n_keys/total_rows) cross-joined onto per-key
    # counts for the share/skew ratios — scalar fan-out, O(n)
    "skew_key_stats",
    # three 1-row scalar aggregates combined into the single result row
    # — O(1) broadcast joins
    "graph_triangle_count",
    # 1-row quantized-norm triple broadcast onto the 64-row final
    # direction frame — O(d) scalar combine (r10 Gram rewrite)
    "embedding_top_pc",
    # 1-row bootstrap-spread stats broadcast onto the 1-row point
    # estimate — O(1) scalar combine
    "bootstrap_ci_revenue",
    # 1-row arm-B stats broadcast onto the 1-row arm-A stats — O(1)
    "abtest_value_z",
    # 1-row bounds / theta / arm-B broadcasts onto the user frame and
    # scalar combine — O(n) fan-out, no replication
    "abtest_cuped",
    # 1-row global baseline broadcast onto the 12 month rows — O(1)
    "orders_seasonal_index",
    # one-row broadcast (total order count) cross-joined onto the
    # 9 digit rows — scalar fan-out, O(1)
    "benford_digit_audit",
    # one-row broadcast (12 quantized quintile cuts) cross-joined onto
    # the per-customer frame for map-side scoring — scalar fan-out, O(n)
    "rfm_segments",
    # one-row broadcast (arm totals) cross-joined onto the CDF frame,
    # plus the P-row offset-table broadcast — scalar fan-out, O(n)
    "abtest_ks_distance",
    # one-row broadcast (corpus token total) cross-joined onto per-doc
    # sums — scalar fan-out, O(n)
    "text_unigram_fluency",
    # two 1-row aggregate frames cross-joined — O(1)
    "events_attribution_linear",
    # 1-row global-mean broadcast onto the ~100-row month frame — O(1)
    "orders_seasonal_anomaly",
    # two 1-row scalar frames (corpus bigram count + head-third
    # threshold) broadcast onto the doc frame — O(1) fan-out
    "text_perplexity_bigram",
}

def load_global_window_allowlist() -> dict[str, str]:
    """Intentional partition-less Window sites (bounded-frame argument
    per query). Single source of truth lives in tests/test_plan_audit.py."""
    from tests.test_plan_audit import ALLOWED_GLOBAL_WINDOW as allowed

    return allowed


def _toplevel_groups(s: str) -> list[str]:
    """Split ``[a], [b, [c]], [d]`` into top-level bracket groups."""
    groups: list[str] = []
    depth = 0
    cur = ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
                continue
        if depth > 0:
            cur += ch
    return groups


_WINDOW_LINE = re.compile(r"(?:^|[\s:+*-])Window\s+(\[.*)$")


def count_partitionless_windows(plan: str) -> int:
    """Window plan lines with an empty partition spec.

    A ``Window`` operator prints ``Window [exprs], [partition], [order]``;
    an absent PARTITION BY (or absent ORDER BY) drops its group, so two
    groups are ambiguous: ``Window [exprs], [g#1]`` is a PARTITIONED
    unordered window (fine), while ``Window [exprs], [id#0 ASC NULLS
    FIRST]`` is a partition-less ordered one (the scale cliff — flag).
    Disambiguate by the sort-direction keywords only a sort spec carries.
    """
    n = 0
    for line in plan.splitlines():
        m = _WINDOW_LINE.search(line)
        if m:
            groups = _toplevel_groups(m.group(1))
            if len(groups) == 3:
                continue  # partition spec present
            if (
                len(groups) == 2
                and groups[1].strip() != ""
                and not re.search(r"\b(ASC|DESC)\b", groups[1])
            ):
                continue  # second group is a partition spec (unordered window)
            # an EMPTY second group (`Window [...], []`) is a partition-less
            # UNORDERED window — the whole frame funnels through one task;
            # flag it like the ordered case.
            n += 1
        # WindowGroupLimit prints its partition spec first: empty → `[],`
        if re.search(r"WindowGroupLimit \[\],", line):
            n += 1
    return n


SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    import __spark_entry__ as entrymod
    from gibbon_spark.session import get_spark

    spark = get_spark("explain_audit")
    qs = entrymod.queries()
    only = set(sys.argv[1:])
    allowed_gw = load_global_window_allowlist()
    problems = []
    print("# PLANS — physical-plan audit of every registered query")
    print()
    print("Generated by `python tools/explain_audit.py` (Spark `local[32]`, sf0.01")
    print('inputs). "shuffles" counts Exchange operators (including broadcast')
    print("exchanges). Flags would mark CartesianProduct, non-allowlisted")
    print("BroadcastNestedLoopJoin, row-at-a-time Python UDFs, or non-allowlisted")
    print("partition-less ordered Windows — enforced to stay empty by")
    print("`tests/test_plan_audit.py`.")
    print()
    print("| query | exchanges | flags |")
    print("|---|---|---|")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = len(re.findall(r"Exchange ", plan))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_NESTED_LOOP:
            flags.append("NESTED_LOOP")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON_UDF")
        if count_partitionless_windows(plan) and name not in allowed_gw:
            flags.append("GLOBAL_WINDOW")
        marker = " ".join(flags) if flags else "ok"
        print(f"| {name} | {shuffles} | {marker} |")
        if flags:
            problems.append((name, flags))
    if problems:
        print("\nFLAGGED:")
        for name, flags in problems:
            print(f"  {name}: {flags}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
