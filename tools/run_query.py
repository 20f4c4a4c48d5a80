"""Run any registered query from the command line.

Usage:
    python tools/run_query.py <query_name> [sf_dir] [--explain] [--limit N]
    python tools/run_query.py --list [filter]

Examples:
    python tools/run_query.py ts_summary
    python tools/run_query.py q1_pricing_summary /root/testdata/sf0.1
    python tools/run_query.py dedup_minhash_lsh --explain
    python tools/run_query.py --list dedup
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if not args or args[0] in ("-h", "--help"):
        print(__doc__)
        return 0

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args[0] == "--list":
        needle = args[1] if len(args) > 1 else ""
        oracles = entrymod.oracle_sql()
        for name in qs:
            if needle in name:
                kind = "oracle" if name in oracles else "rows-only"
                print(f"{name}  [{kind}]")
        return 0

    name = args[0]
    if name not in qs:
        close = [q for q in qs if name in q]
        print(f"unknown query {name!r}; close matches: {close[:10]}")
        return 1
    sf_dir = "/root/testdata/sf0.01"
    explain = "--explain" in args
    limit = 20
    rest = [a for a in args[1:] if a != "--explain"]
    if "--limit" in rest:
        i = rest.index("--limit")
        limit = int(rest[i + 1])
        del rest[i : i + 2]
    if rest:
        sf_dir = rest[0]

    from gibbon_spark.registry import run
    from gibbon_spark.session import get_spark

    spark = get_spark("gibbon_run_query")
    if explain:
        qs[name](spark, sf_dir).explain("formatted")  # a plan, no action
    pdf, wall = run(spark, name, sf_dir, sink="pandas")
    print(pdf.head(limit).to_string(max_colwidth=60))
    print(f"-- {name} on {sf_dir}: {len(pdf)} rows in {wall:.2f} s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
