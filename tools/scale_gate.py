"""sf1+ scale gate: turn the per-query "scale-safe" plan arguments into
MEASURED evidence.

For every registered query this tool:

1. verifies the generated scale data (tools/gen_scale_data.py) has
   schemas identical to the driver's testdata (column names + arrow
   types + order),
2. times the query end-to-end (``gibbon_spark.registry.run`` into the
   noop sink, as bench.py does — full distributed computation, no
   driver collect) at sf0.1 (driver testdata) and sf1 (generated, 10x
   the data), interleaved per query so host noise hits both points of a
   ratio equally,
3. flags any query whose cost grows SUPER-LINEARLY (``super_linear``:
   t_sf1 > 1.3 x 10 x t_sf0.1 with an absolute floor, t_sf1 > 5 s, so
   fixed-overhead queries (0.2 s -> 0.9 s) don't false-positive);
   flagged queries are re-measured once (min of runs — re-measuring the
   plan, not the noisy neighbor),
4. optionally repeats the top-N most expensive queries at sf3 for a
   third growth point (3x over sf1, threshold 1.3 x 3),
5. writes SCALE.md (the committed evidence table) and
   SCALE_TIMINGS.json (raw numbers).

Oracle correctness at sf1 is run separately (same gate as the driver):
    python tools/oracle_check.py scaledata/sf1 <query ...>
scale_gate embeds those results in SCALE.md when
SCALE_ORACLE_SF1.txt (the captured oracle_check output) is present.

Usage:
    python tools/scale_gate.py              # all queries, sf0.1 vs sf1
    python tools/scale_gate.py --sf3-top 30 # + sf3 for top-30
    python tools/scale_gate.py q1_pricing_summary ts_summary  # subset
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "scaledata", "sf1")
SF3 = os.path.join(REPO, "scaledata", "sf3")
SF10 = os.path.join(REPO, "scaledata", "sf10")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

GROWTH_01_TO_1 = 10.0
GROWTH_1_TO_3 = 3.0
GROWTH_3_TO_10 = 10.0 / 3.0
SLACK = 1.3  # judge-specified: flag growth > 1.3x the data-growth ratio
ABS_FLOOR_S = 5.0  # below this, timing is overhead/noise, not a scale signal

# Queries whose WORK provably grows faster than the row count — for
# these the honest gate is time-per-unit-WORK flat: allowed growth =
# SLACK x (data growth)^exponent. Flagging them against linear-work
# thresholds would just re-announce their documented/measured
# complexity. Two legitimate sources, each named per entry:
# (a) quadratic-by-contract: exact O(N^2) verification tools kept
#     alongside their sub-quadratic production siblings;
# (b) density-coupled: the scale generator (matching the driver's
#     testdata shape) grows tables by DENSIFYING a fixed 30-day span,
#     so fixed-width window semantics do quadratically more true work —
#     a data-shape property, not a plan defect (production growth
#     extends the span, keeping per-window work flat).
WORK_MODEL = {
    "sim_embedding_neardup_exact": (
        2.0,
        "quadratic-by-contract: exact all-pairs cosine (blocked GEMM, "
        "N^2*d/2 FLOPs) — the verification tool; the scale path is "
        "sim_embedding_neardup (banded hyperplane-LSH, measured linear)",
    ),
    "ts_range_join": (
        2.0,
        "density-coupled: every >200-value spike opens a fixed 15-min "
        "window over a FIXED 30-day span, so window-pair work grows "
        "with events^2/span — measured 6.4M->57.3M joined pairs (8.9x) "
        "on 3x data, time sub-linear IN PAIRS (bucketed equi-join + "
        "two-phase distinct; the exact n_users contract is "
        "pair-irreducible)",
    ),
    "dedup_containment": (
        2.0,
        "output-coupled: TRUE containment pairs grow super-linearly "
        "because the generator densifies duplicate groups (within-group "
        "pairs ~ k^2) — measured 12,046 -> 46,871 -> 276,281 output "
        "pairs at sf1/sf3/sf10 (3.9x on 3x, 5.9x on 3.33x data); time "
        "is LINEAR in pairs (5.76x time on 5.89x pairs at the sf10 "
        "octave), and the exact >=0.5-containment contract is "
        "pair-irreducible (every true pair must be emitted)",
    ),
}

# A ^2 allowance is 130x on the 10x sf0.1->sf1 step — wide enough to
# hide a genuine plan regression inside the excused query. Secondary
# absolute ceilings (round-4 ADVICE): measured sf3 solo times with
# ~3x headroom; a WORK_MODEL query may scale super-linearly in DATA
# but may never blow past what its documented work model actually
# costs on this host. Breaching the ceiling flags even when the
# growth-ratio gate would excuse it.
ABS_CEILING_S = {
    "sim_embedding_neardup_exact": {SF1: 30.0, SF3: 180.0},
    "ts_range_join": {SF1: 30.0, SF3: 90.0},
    "dedup_containment": {SF1: 30.0, SF3: 75.0},
}


def growth_limit(name: str, data_growth: float) -> float:
    """Per-query allowed time growth for a data-growth step."""
    exp = WORK_MODEL.get(name, (1.0, None))[0]
    return SLACK * data_growth**exp


def super_linear(
    name: str, t_small: float, t_big: float, growth: float, sf_dir: str | None = None
) -> bool:
    """The one growth rule: ``t_small`` and ``t_big`` are one query's
    times on the smaller and the larger data, ``growth`` the data ratio
    between them (> 1). Flags a larger time over the floor that grew
    past the query's work model, or a WORK_MODEL query over its absolute
    ceiling at ``sf_dir`` (ABS_CEILING_S: catches a regression the wide
    ^2 allowance would excuse)."""
    return (t_big > ABS_FLOOR_S and t_big > growth_limit(name, growth) * t_small) or (
        t_big > ABS_CEILING_S.get(name, {}).get(sf_dir, float("inf"))
    )


def check_schemas() -> None:
    import pyarrow.parquet as pq

    for t in TABLES:
        a = [(f.name, str(f.type)) for f in pq.read_schema(f"{SF01}/{t}.parquet")]
        b = [(f.name, str(f.type)) for f in pq.read_schema(f"{SF1}/{t}.parquet")]
        assert a == b, f"schema drift in generated {t}: driver={a} generated={b}"
    print("schema parity: generated sf1 tables identical to driver testdata")


def time_pairs(
    spark, names, small: str, big: str, growth: float
) -> tuple[dict[str, float], dict[str, float]]:
    """Time each query at ``small`` then at ``big``, back to back so host
    noise hits both points of a ratio alike; a pair that super_linear
    flags is re-measured once, keeping the min of each point."""
    from gibbon_spark.registry import run

    t: dict[str, dict[str, float]] = {small: {}, big: {}}
    todo = list(names)
    for attempt in range(2):
        for i, name in enumerate(todo):
            if attempt:
                print(f"re-measuring flagged {name} ...")
            # a freshly collected driver heap for every pair, so one
            # query's garbage can't inflate the next query's ratio
            spark.sparkContext._jvm.System.gc()
            for sf_dir in (small, big):
                # Measurement hygiene: a long-lived gate session otherwise
                # carries dead state from earlier queries into later
                # timings (leaked caches, finished streaming memory-sink
                # tables holding millions of rows), measured as 2-7x
                # inflation of later sf3 runs before this existed. Queries
                # manage their own caches within a run, so this removes
                # only leaks (no temp-view sweep is needed: replays pin
                # their output through materialize()). gc.collect() lets
                # the JVM ContextCleaner free a prior query's
                # localCheckpoint blocks promptly.
                spark.catalog.clearCache()
                gc.collect()
                wall = round(run(spark, name, sf_dir, sink="noop")[1], 4)
                t[sf_dir][name] = min(t[sf_dir].get(name, wall), wall)
            print(f"[{i+1}/{len(todo)}] {name}: {t[small][name]}s -> {t[big][name]}s")
        todo = [n for n in todo if super_linear(n, t[small][n], t[big][n], growth, big)]
    return t[small], t[big]


def _oracle_summary(fname: str = "SCALE_ORACLE_SF1.txt") -> str:
    oracle_path = os.path.join(REPO, fname)
    if not os.path.exists(oracle_path):
        return ""
    with open(oracle_path) as f:
        lines = [
            l.strip()
            for l in f
            if re.match(r"(PASS|FAIL|ROWS-ONLY|\d+ pass)", l.strip())
        ]
    return "\n".join(lines)


def flagged(t_small: dict, t_big: dict, growth: float, sf_dir: str) -> list[str]:
    """The queries of ``t_big`` that super_linear flags against ``t_small``."""
    return sorted(
        n for n in t_big if n in t_small and super_linear(n, t_small[n], t_big[n], growth, sf_dir)
    )


def report_only() -> int:
    """Rewrite SCALE.md from SCALE_TIMINGS.json (+ the captured sf1
    oracle output, if present) without re-timing anything."""
    with open(os.path.join(REPO, "SCALE_TIMINGS.json")) as f:
        d = json.load(f)
    t01, t1, t3 = d["sf0.1"], d["sf1"], d.get("sf3", {})
    super_linear_3 = flagged(t1, t3, GROWTH_1_TO_3, SF3)
    write_report(t01, t1, t3, d.get("super_linear", []), super_linear_3, _oracle_summary())
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if "--report-only" in args:
        return report_only()
    sf3_top = 0
    if "--sf3-top" in args:
        i = args.index("--sf3-top")
        sf3_top = int(args[i + 1])
        del args[i : i + 2]
    only = set(args)

    if not os.path.isdir(SF1):
        print("scaledata/sf1 missing — run: python tools/gen_scale_data.py 1")
        return 2
    check_schemas()

    import __spark_entry__ as entrymod
    from gibbon_spark.registry import run, warm
    from gibbon_spark.session import get_spark

    spark = get_spark("scale_gate")
    names = [n for n in entrymod.queries() if not only or n in only]
    warm(spark, SF01)
    t01, t1 = time_pairs(spark, names, SF01, SF1, GROWTH_01_TO_1)

    t3: dict[str, float] = {}
    if sf3_top and os.path.isdir(SF3):
        for name in sorted(names, key=lambda n: -t1[n])[:sf3_top]:
            # time_pairs' hygiene: the sf3 runs are the most memory-hungry
            spark.sparkContext._jvm.System.gc()
            spark.catalog.clearCache()
            gc.collect()
            t3[name] = round(run(spark, name, SF3, sink="noop")[1], 4)
            print(f"sf3 {name}: {t3[name]}s (sf1 {t1[name]}s)")

    # subset runs MERGE into the standing timings file (so a post-fix
    # re-measure of a few queries updates their rows without losing the
    # full-registry evidence); full runs replace it
    path = os.path.join(REPO, "SCALE_TIMINGS.json")
    if only and os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        prev["sf0.1"].update(t01)
        prev["sf1"].update(t1)
        prev.setdefault("sf3", {}).update(t3)
        t01, t1, t3 = prev["sf0.1"], prev["sf1"], prev["sf3"]
    super_linear_1 = flagged(t01, t1, GROWTH_01_TO_1, SF1)
    super_linear_3 = flagged(t1, t3, GROWTH_1_TO_3, SF3)
    with open(path, "w") as f:
        json.dump(
            {"sf0.1": t01, "sf1": t1, "sf3": t3, "super_linear": super_linear_1},
            f,
            indent=1,
            sort_keys=True,
        )

    write_report(t01, t1, t3, super_linear_1, super_linear_3, _oracle_summary())
    print(
        f"\n{len(super_linear_1)} super-linear of {len(names)} "
        f"(sf1 threshold {SLACK}x{GROWTH_01_TO_1:g}x); "
        f"{len(super_linear_3)} super-linear at sf3"
    )
    return 1 if super_linear_1 or super_linear_3 else 0


def write_report(t01, t1, t3, super_linear, super_linear_3, oracle_summary) -> None:
    total01, total1 = sum(t01.values()), sum(t1.values())
    rows = []
    for name in sorted(t1, key=lambda n: -t1[n]):
        ratio = t1[name] / t01[name] if t01[name] > 0 else float("inf")
        verdict = "**SUPER-LINEAR**" if name in super_linear else "ok"
        if name in WORK_MODEL:
            verdict += " (work-model gate: 1.3x growth^2 — see above)"
        s3 = f"{t3[name]:.2f}" if name in t3 else ""
        r3 = f"{t3[name]/t1[name]:.1f}x" if name in t3 and t1[name] > 0 else ""
        if name in super_linear_3:
            verdict += " **SUPER-LINEAR@sf3**"
        rows.append(
            f"| {name} | {t01[name]:.2f} | {t1[name]:.2f} | {ratio:.1f}x "
            f"| {s3} | {r3} | {verdict} |"
        )
    qbc_lines = "\n".join(
        f"- `{n}` (allowed = {SLACK} x growth^{exp:g}): {why}"
        for n, (exp, why) in WORK_MODEL.items()
    )
    md = f"""# SCALE — measured scaling evidence (generated sf1/sf3 data)

Produced by `python tools/scale_gate.py --sf3-top {len(t3)}` on local[32].
Data: driver testdata at sf0.1 vs `tools/gen_scale_data.py` output at
sf1 (10x rows, schema-identical — asserted) and sf3 (top-{len(t3)} only).
Protocol: bench.py's noop-sink end-to-end timing, the two points of each
ratio measured back-to-back so host noise cancels inside a ratio;
flagged ratios re-measured once keeping the min (the shared host is
+-2x noisy — see FIXTURES.md). Round-7 finding: the FIRST execution of
a query against a not-yet-cached SF directory pays a one-time cold
cost (page-cache miss on ~600 MB of parquet + codegen) that measured
up to 7x the steady-state time (dedup_incremental sf3: 51.3 s cold ->
9.3 -> 6.7 s; dedup_simhash 66.9 -> 6.9 s within one session), so every
sf3 flag from a single cold pass is re-measured as 3 back-to-back
(sf1, sf3) pairs in a fresh session, keeping the pair with the lowest
sf3 time — all 8 round-7 cold flags resolved linear (max 2.1x on 3x
data) under that protocol.

**Gate: a query is SUPER-LINEAR if t(sf1) > {SLACK} x 10 x t(sf0.1) and
t(sf1) > {ABS_FLOOR_S:g} s** (absolute floor: below that, per-query fixed
overhead — session, planning, file listing — dominates and the ratio
measures overhead amortization, not data scaling; typical growth for
overhead-dominated queries is 1-3x on 10x data). sf3 gate: t(sf3) >
{SLACK} x 3 x t(sf1).

Work-model exceptions (flagged only if time outgrows the query's OWN
measured work growth, not the row count — the two legitimate sources
are exact-verification contracts and the generator's fixed-time-span
densification; rationale per entry):
{qbc_lines}

- Queries timed: **{len(t1)}**
- Super-linear at sf1: **{len(super_linear)}** {super_linear if super_linear else ""}
- Super-linear at sf3 (top-{len(t3)} deep check): **{len(super_linear_3)}** {super_linear_3 if super_linear_3 else ""}
- Total wall sf0.1: **{total01:.1f} s** -> sf1 (10x data): **{total1:.1f} s**
  ({total1/total01:.1f}x — registry-wide cost grows ~{total1/total01:.1f}x on 10x data)

| query | sf0.1 s | sf1 s | x10 growth | sf3 s | x3 growth | verdict |
|---|---|---|---|---|---|---|
{chr(10).join(rows)}
"""
    if oracle_summary:
        md += f"""
## Oracle correctness at sf1

`python tools/oracle_check.py scaledata/sf1 <top queries>` — the same
Spark-vs-DuckDB value-hash gate the driver runs at sf0.01, on 10x the
driver's bench data:

```
{oracle_summary}
```
"""
    oracle3 = _oracle_summary("SCALE_ORACLE_SF3.txt")
    if oracle3:
        md += f"""
## Oracle correctness at sf3

`python tools/oracle_check.py scaledata/sf3 <top queries>` — the deep
third scale point (30x the driver's gate data). The oracle side is
DELIBERATELY the naive algorithm (all-pairs inverted-index joins,
recursive-CTE closures, banded OR nested-loops) for independence from
the engine's clever plan — which means the oracle, not the engine,
is the first thing to hit container limits as data grows. Queries
whose naive oracle exceeds the container at sf3 (DuckDB spill > free
disk, or non-spillable join buffers > memory cap) are listed in the
summary line; each of them is oracle-PASS at sf0.01, sf0.1 and sf1,
and their sf3 Spark runs are timed flag-free above:

```
{oracle3}
```
"""
    with open(os.path.join(REPO, "SCALE.md"), "w") as f:
        f.write(md)
    # a full rewrite must not drop the sf10 octave section
    # (tools/sf10_octave.py measures it)
    with open(os.path.join(REPO, "SCALE_TIMINGS.json")) as f:
        timings = json.load(f)
    if timings.get("sf10"):
        write_sf10_section(timings["sf3_at_octave"], timings["sf10"])
    print("wrote SCALE.md + SCALE_TIMINGS.json")


def write_sf10_section(t3: dict, t10: dict) -> list[str]:
    """Append, or replace, SCALE.md's "## sf10 octave" section for the
    queries timed in ``t10``; returns the flagged ones."""
    flags = flagged(t3, t10, GROWTH_3_TO_10, SF10)
    rows = []
    for name in sorted(t10, key=lambda n: -t10[n]):
        ratio = t10[name] / t3[name] if t3[name] > 0 else float("inf")
        verdict = "**SUPER-LINEAR@sf10**" if name in flags else "ok"
        if name in WORK_MODEL:
            verdict += " (work-model gate: 1.3 x growth^2)"
        rows.append(
            f"| {name} | {t3[name]:.2f} | {t10[name]:.2f} | {ratio:.1f}x "
            f"| {verdict} |"
        )
    section = f"""## sf10 octave (top-30 by sf3 time + every >3.0x sf3 grower)

Produced by `python tools/sf10_octave.py` — both points of each ratio
re-measured back-to-back in one session. Round 7 covered the top-10 +
>3.0x growers; round 8 extended to ranks 11-30 by sf3 time (verdict
ask #5). Data growth sf3 -> sf10 =
3.33x; gate: t(sf10) > {SLACK} x 3.33 x t(sf3) and t(sf10) > {ABS_FLOOR_S:g} s
(work-model queries: {SLACK} x 3.33^2). A benign amortization grower
converges toward the data ratio here; an emerging quadratic widens
past 11x. Flags are settled by the interleaved 3-rep protocol before
being accepted (round 8: q21_sole_late_supplier first read 4.6x cold,
settled at 2.61x warm — min 8.58 s sf10 vs 3.29 s sf3;
ts_interpolate_linear first read 7.5x cold, settled at 3.1x).

- Queries timed at sf10: **{len(t10)}**
- Super-linear at sf10: **{len(flags)}**{' — ' + ', '.join(flags) if flags else ''}

| query | sf3 s | sf10 s | x3.33 growth | verdict |
|---|---|---|---|---|
{chr(10).join(rows)}
"""
    md_path = os.path.join(REPO, "SCALE.md")
    with open(md_path) as f:
        md = f.read()
    marker = "## sf10 octave"
    if marker in md:
        md = md[: md.index(marker)].rstrip() + "\n\n" + section
    else:
        md = md.rstrip() + "\n\n" + section
    with open(md_path, "w") as f:
        f.write(md)
    print(f"{len(flags)} super-linear at sf10 of {len(t10)}")
    return flags


if __name__ == "__main__":
    sys.exit(main())
