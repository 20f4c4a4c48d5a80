"""sf10 octave for the scale gate (round-4/5 verdict carry-over).

The sf3 deep-check left an ambiguity: a handful of queries grew 3.4-3.8x
on 3x data, which is either fixed-overhead amortization ending (benign:
the ratio converges to ~data growth as data dominates) or super-linear
emergence (malign: the ratio keeps widening). One more octave separates
the two: from sf3 to sf10 the data grows 10/3 = 3.33x, so a benign
query grows <= ~1.3 x 3.33x while an emerging quadratic grows ~11x.

Selection: the top-10 by sf3 time UNION every query whose sf3/sf1
growth ratio exceeded 3.0 (the ambiguous growers named in the round-5/6
verdicts). Both sf3 and sf10 are re-measured back-to-back in THIS
session so host noise cancels inside each ratio (FIXTURES.md protocol).

Writes: merges {"sf10": {...}} into SCALE_TIMINGS.json and appends/
replaces the "## sf10 octave" section in SCALE.md.

Usage: python tools/sf10_octave.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from scale_gate import GROWTH_3_TO_10, SF3, SF10, time_pairs, write_sf10_section  # noqa: E402


def pick_targets(timings: dict) -> list[str]:
    t1, t3 = timings["sf1"], timings.get("sf3", {})
    top10 = sorted(t3, key=lambda n: -t3[n])[:10]
    growers = [
        n
        for n in t3
        if n in t1 and t1[n] > 0 and t3[n] / t1[n] > 3.0
    ]
    out: list[str] = []
    for n in top10 + sorted(growers):
        if n not in out:
            out.append(n)
    return out


def main() -> int:
    path = os.path.join(REPO, "SCALE_TIMINGS.json")
    with open(path) as f:
        timings = json.load(f)
    only = sys.argv[1:]
    if only == ["--report-only"]:
        write_sf10_section(timings["sf3_at_octave"], timings["sf10"])
        return 0
    targets = only or pick_targets(timings)
    if not os.path.isdir(SF10):
        print("scaledata/sf10 missing — run: python tools/gen_scale_data.py 10")
        return 2

    from gibbon_spark.registry import warm
    from gibbon_spark.session import get_spark

    spark = get_spark("sf10_octave")
    warm(spark, SF3)
    t3, t10 = time_pairs(spark, targets, SF3, SF10, GROWTH_3_TO_10)

    timings.setdefault("sf10", {}).update(t10)
    timings.setdefault("sf3_at_octave", {}).update(t3)
    with open(path, "w") as f:
        json.dump(timings, f, indent=1, sort_keys=True)

    return 1 if write_sf10_section(t3, t10) else 0


if __name__ == "__main__":
    sys.exit(main())
