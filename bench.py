"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO
JSON lines:

1. the full per-query detail {"metric", "value", "unit", "queries", "sf"}
   (~4 KB at 145 queries), then
2. a small (<200 byte) summary {"metric", "value", "unit", "sf",
   "n_queries"} as the FINAL line.

The driver keeps only a tail of stdout, which truncated the single big
line mid-object in round 1 ("parsed": null); the final small line always
survives a 2 KB tail capture.

Each query is forced end-to-end with the noop sink (full computation, no
driver collect, no disk write) — the number measures the distributed
plan, not driver materialization.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    from gibbon_spark.session import _cpus, get_spark

    cpus = _cpus()

    # ---- disk preflight (round-11, after the r10 driver bench died on
    # "No space left on device"): reap stale scratch (leaked DuckDB
    # spill, dead sessions' blockmgr-*/spark-* dirs), log the headroom,
    # and abort LOUDLY below a floor rather than dying mid-shuffle with
    # an unparseable artifact.
    from tools import scratch

    reaped = scratch.reap_stale()
    disk_free_gb = round(scratch.free_gb(), 1)
    min_free = float(os.environ.get("GS_BENCH_MIN_FREE_GB", "10"))
    if disk_free_gb < min_free:
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall",
                    "value": None,
                    "unit": "sec",
                    "sf": sf,
                    "disk_free_gb": disk_free_gb,
                    "error": (
                        f"preflight abort: {disk_free_gb} GB free on /tmp "
                        f"< floor {min_free} GB — clean scratch before benching"
                    ),
                }
            )
        )
        sys.exit(1)

    import __spark_entry__ as entrymod

    spark = get_spark("gibbon_spark_bench")
    qs = entrymod.queries()

    # warm the JVM + parquet footers so per-query numbers measure the plan
    qs["ts_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm the Python/Arrow worker pool (one worker per core) so the first
    # pandas-UDF query isn't charged ~2s of worker spawn
    def _identity(batches):
        yield from batches

    spark.range(0, 64, 1, 64).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # ---- host-speed calibration constant (round-4 verdict ask #5) ------
    # A fixed synthetic workload measured alongside every bench run: a
    # pinned 20M-row shuffle+aggregate (JVM/shuffle/codegen speed) plus a
    # pinned numpy GEMM (Python/BLAS speed). Cross-round totals are only
    # comparable after dividing by this constant (rule in FIXTURES.md):
    # the r03->r04 "26% regression" was exactly such a fleet-wide host
    # multiplier. min of 2 runs each, so a single neighbor burst can't
    # poison the constant. Round 9: the probe is now run THREE times,
    # interleaved through the query loop (start / middle / end), and the
    # MEDIAN is the constant — a single 5s+ host-load burst at probe time
    # (the r08 4.31s-vs-0.64s incident that produced 165 false flags) can
    # no longer poison every normalized figure in the artifact. The
    # spread (max/min of the three) is published so readers can judge
    # how trustworthy the constant is for that run.
    def _calibrate() -> tuple[float, float, float]:
        import numpy as np
        from pyspark.sql import functions as F

        spark_s = float("inf")
        for _ in range(2):
            t0 = time.time()
            (
                spark.range(0, 20_000_000, 1, 64)
                .select(
                    (F.col("id") % 9973).alias("k"),
                    (F.col("id") * 2654435761 % 1000003).alias("v"),
                )
                .groupBy("k")
                .agg(F.sum("v"), F.count(F.lit(1)))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            spark_s = min(spark_s, time.time() - t0)
        rng = np.random.default_rng(12345)
        a = rng.standard_normal((1500, 1500))
        numpy_s = float("inf")
        for _ in range(2):
            t0 = time.time()
            for _ in range(3):
                a = a @ a * 1e-3  # keep magnitudes bounded
            numpy_s = min(numpy_s, time.time() - t0)
        # components reported separately too: the r6 verdict observed the
        # GEMM saturates differently from the shuffle under neighbor
        # load, so a combined constant can over/under-correct — exposing
        # both lets the analysis pick the probe that matches the
        # workload being normalized
        return round(spark_s + numpy_s, 4), round(spark_s, 4), round(numpy_s, 4)

    cal_probes: list[tuple[float, float, float]] = [_calibrate()]

    # previous run's per-query detail for the regression flags
    # (FIXTURES.md §5). The driver's BENCH_r*.json keeps only a
    # truncated stdout tail, so bench.py persists its own full detail
    # (BENCH_DETAIL.json, committed per round) and reads it back here.
    # The detail path is sf-KEYED up front (round-9 advisor fix): only a
    # run at the canonical bench sf (0.1) reads/writes the committed
    # BENCH_DETAIL.json baseline; runs at other scale factors compare
    # against — and persist to — their own sibling file, so a repeat
    # sf0.01 smoke run gets real regression flags instead of silently
    # empty ones, and can never clobber the cross-round sf0.1 baseline.
    # ... and CPU-keyed as well (round-13, verdict r12 ask #7): the r12
    # driver's 8-core scaling run overwrote the canonical 32-core row,
    # breaking the like-for-like regression detector. A run at a
    # non-canonical core count reads/writes its own _c{n} sibling.
    detail_name = "BENCH_DETAIL" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}"
    if cpus != 32:
        detail_name += f"_c{cpus}"
    detail_path = os.path.join(REPO, detail_name + ".json")
    prev_queries: dict[str, float] = {}
    prev_cal = None
    try:
        with open(detail_path) as f:
            prev = json.load(f)
        if (
            isinstance(prev.get("queries"), dict)
            and prev.get("calibration_s")
            and prev.get("sf") == sf
        ):
            prev_queries = prev["queries"]
            prev_cal = float(prev["calibration_s"])
    except Exception:  # noqa: BLE001 — normalization context is best-effort
        pass

    # ---- main timing loop. Min-of-2 FULL passes is the DEFAULT
    # (round-11 verdict ask #2): epoch-level host inflation (the r10
    # median 1.47x, the r11 354->282s first pass) mostly cancels in the
    # min, and the official driver invocation previously ran 1-pass and
    # needed 60 end-of-run rescues. Both pass totals are published so
    # readers see the spread; set GS_BENCH_PASSES=1 for a quick look.
    n_passes = max(1, int(os.environ.get("GS_BENCH_PASSES", "2")))
    timings: dict[str, float] = {}
    names = list(qs)
    pass_totals: list[float] = []
    first_pass: dict[str, float] = {}
    per_pass: list[dict[str, float]] = []
    for p in range(n_passes):
        pass_t: dict[str, float] = {}
        for i, name in enumerate(names):
            if i % 20 == 19:
                # nudge the driver JVM to GC: with a large heap it otherwise
                # never collects, so the ContextCleaner never releases the
                # accumulated shuffle files / broadcasts of prior queries,
                # which degrades the tail of the run
                spark.sparkContext._jvm.System.gc()
            if p == 0 and i == len(names) // 2:
                cal_probes.append(_calibrate())  # mid-run probe
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            pass_t[name] = round(time.time() - t0, 4)
        pass_totals.append(round(sum(pass_t.values()), 4))
        per_pass.append(pass_t)
        if p == 0:
            # verbatim pass-0 walls, captured BEFORE any min-merge, so the
            # published provenance field is genuinely first-pass (advisor
            # r11: dict(timings) after the merge held min-of-passes)
            first_pass = dict(pass_t)
        for n, t in pass_t.items():
            timings[n] = min(timings.get(n, float("inf")), t)

    def _rerun(name: str, keep) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        t_new = round(time.time() - t0, 4)
        timings[name] = keep(timings[name], t_new)
        return t_new

    # this box shares a host; a noisy-neighbor burst can inflate one or
    # two queries by 10-30s in a single pass. Re-run clear outliers
    # (>4x the per-query median and >2s absolute) once and keep the min —
    # re-measuring the plan, not the neighbors.
    med = sorted(timings.values())[len(timings) // 2]
    for name in [n for n, t in timings.items() if t > max(4 * med, 2.0)]:
        _rerun(name, min)

    # round-10 (verdict r9 ask #2): noise-proof the MEASUREMENT, not just
    # the detection. When the host is 2-4x loaded for a stretch of the
    # loop, every query in that stretch inflates raw AND normalized
    # together, so the r9 both-ratios flag rule cannot help — three
    # rounds running, the official artifact contradicted the committed
    # canonical run. Fix: any query whose first pass exceeded 1.3x its
    # persisted per-query baseline is re-measured ONCE at end-of-run
    # (after the load stretch has had the whole loop to subside) and the
    # MIN of the passes is recorded; n_reruns is published so readers
    # can see how much of the run needed rescue. A genuine plan
    # regression reproduces on the second pass and stays flagged.
    #
    # Round-11 (advisor ask): the rescue is now SYMMETRIC. A query that
    # came in >1.3x FASTER than its persisted baseline is re-run once
    # and the MAX of its passes kept — a genuinely faster plan
    # reproduces fast (max of two fast passes is still fast), while a
    # single lucky draw is corrected upward instead of being persisted
    # as next round's baseline. Slow rescues keep min, fast
    # confirmations keep max: the persisted baseline is no longer
    # one-sidedly min-biased.
    #
    # The FAST trigger uses the both-ratios rule (raw AND
    # host-normalized, same as the regression flags): when the previous
    # epoch was uniformly inflated (r10: median 1.47x), EVERY query
    # looks raw-fast on a recovered host — a raw-only trigger re-ran 83
    # queries and max-kept away a genuine recovery (measured: merged
    # total 321s vs best-pass 261s). Normalizing by the calibration
    # constant cancels host-epoch swings, so only a query that got
    # faster RELATIVE TO THE HOST gets the skeptical max treatment.
    # The end-of-run probe therefore runs BEFORE the rescue loop (it
    # still brackets the main loop; rescues are post-loop extras).
    cal_probes.append(_calibrate())  # end-of-run probe
    _totals = sorted(p[0] for p in cal_probes)
    _cal_now = _totals[len(_totals) // 2]
    n_reruns = n_reruns_fast = n_fast_pass_agreed = 0
    if prev_queries:
        for name, t in list(timings.items()):
            pt = prev_queries.get(name, 0)
            if not pt or pt <= 0:
                continue
            norm_ratio = (
                (t / _cal_now) / (pt / prev_cal) if prev_cal else t / pt
            )
            if t > 1.3 * pt and t > 0.5:
                _rerun(name, min)
                n_reruns += 1
            elif t < pt / 1.3 and norm_ratio < 1 / 1.3 and pt > 0.5:
                # measurement fix (r12): the skeptical max-keep is only
                # correct when the confirm run FAILS to reproduce the
                # speedup. When the confirm run is ALSO raw-fast vs the
                # persisted baseline, both measurements agree the plan
                # got faster and the min is the honest record; max-keep
                # here let a single noise burst during the confirm run
                # overwrite two consistent fast passes (observed: 8.2 s
                # and 2.9 s passes, 42 s confirm under load, 42 s
                # published as a 2.1x "regression" on the round's
                # biggest genuine improvement).
                #
                # second r12 measurement fix: with n_passes >= 2, a
                # query that measured fast in EVERY full pass is already
                # confirmed by independent same-run measurements — the
                # skeptical confirm is a THIRD draw, and the confirm
                # loop runs the flagged queries back-to-back at
                # end-of-run, so one host-load burst there max-kept a
                # whole STRETCH of genuinely faster queries (observed:
                # first passes 0.47-1.21 s for 6 registry-adjacent
                # queries published as 1.49-3.66 s; 24 fast-rescues, one
                # burst). Two agreeing passes outvote one loaded
                # confirm: keep the min, skip the rerun.
                # round-13 (advisor r12): each pass must be fast under the
                # HOST-NORMALIZED ratio too, not just raw — two back-to-back
                # passes in one session share any warm-session effect, so
                # the raw-only gate could publish a host-epoch min with no
                # skeptical confirm.
                if n_passes > 1 and all(
                    pp.get(name, float("inf")) < pt / 1.3
                    and (
                        not prev_cal
                        or (pp.get(name, float("inf")) / _cal_now)
                        / (pt / prev_cal)
                        < 1 / 1.3
                    )
                    for pp in per_pass
                ):
                    n_fast_pass_agreed += 1
                    continue
                t2 = _rerun(name, max)
                if t2 < pt / 1.3:
                    timings[name] = min(t, t2)
                n_reruns_fast += 1

    # median of the three interleaved probes; spread = max/min exposes
    # how noisy the host was across the run
    totals = sorted(p[0] for p in cal_probes)
    calibration_s = totals[len(totals) // 2]
    cal_spread = round(totals[-1] / totals[0], 2) if totals[0] > 0 else None
    mid = [p for p in cal_probes if p[0] == calibration_s][0]
    calibration_shuffle_s, calibration_numpy_s = mid[1], mid[2]

    total = round(sum(timings.values()), 4)
    normalized_total = round(total / calibration_s, 2)

    # per-query regression flags — the README ledger's own rule, now
    # applied inside the artifact (round-9 fix for the r08 165-false-flag
    # incident): a query is flagged only when BOTH its raw wall time AND
    # its host-normalized time grew >1.3x vs the previous persisted run.
    # A calibration-constant swing moves every normalized ratio but no
    # raw ratio; a genuine plan regression moves both.
    regressed: dict[str, float] = {}
    if prev_queries and prev_cal:
        for name, t in timings.items():
            pt = prev_queries.get(name)
            if pt and pt > 0:
                raw_ratio = t / pt
                norm_ratio = (t / calibration_s) / (pt / prev_cal)
                if min(raw_ratio, norm_ratio) > 1.3 and t > 0.5:
                    regressed[name] = round(min(raw_ratio, norm_ratio), 2)

    # ---- cross-scale self-diagnosis (round-10 verdict ask #6): a run at
    # a non-canonical SF publishes its per-query ratio vs the committed
    # sf0.1 canonical detail and flags ratios above the per-query work
    # model (linear unless WORK_MODEL says otherwise, x1.3 slack, 5s
    # floor on the larger time so startup noise can't flag) — so
    # cross-scale drift lands in the artifact itself instead of waiting
    # for a sweep to trip over it.
    vs_canonical: dict[str, float] = {}
    cross_scale_flags: dict[str, dict] = {}
    if sf is not None and sf != 0.1:
        try:
            with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
                canon = json.load(f)
            from tools.scale_gate import ABS_FLOOR_S, growth_limit

            data_growth = sf / 0.1
            for name, t in timings.items():
                ct = canon.get("queries", {}).get(name)
                if not ct or ct <= 0:
                    continue
                ratio = round(t / ct, 2)
                vs_canonical[name] = ratio
                limit = growth_limit(name, data_growth)
                if ratio > limit and max(t, ct) > ABS_FLOOR_S:
                    cross_scale_flags[name] = {
                        "ratio": ratio,
                        "allowed": round(limit, 1),
                        "sf_s": t,
                        "canon_s": ct,
                    }
        except Exception:  # noqa: BLE001 — diagnosis is best-effort
            pass

    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "calibration_s": calibration_s,
        "calibration_shuffle_s": calibration_shuffle_s,
        "calibration_numpy_s": calibration_numpy_s,
        "calibration_probes": [p[0] for p in cal_probes],
        "calibration_spread": cal_spread,
        "normalized_total": normalized_total,
        "regressed": regressed,
        "n_reruns": n_reruns,
        "n_reruns_fast": n_reruns_fast,
        "n_fast_pass_agreed": n_fast_pass_agreed,
        "disk_free_gb": disk_free_gb,
        "scratch_reaped": reaped,
        "n_passes": n_passes,
        "pass_totals": pass_totals,
        # first-pass wall for every re-measured query (auditable
        # provenance of the persisted baseline; advisor r10)
        "queries_first_pass": {
            n: first_pass[n] for n in first_pass if first_pass[n] != timings[n]
        },
    }
    if vs_canonical:
        detail["vs_sf0.1_ratio"] = vs_canonical
        detail["cross_scale_flags"] = cross_scale_flags
    print(json.dumps(detail))
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f)
    except Exception:  # noqa: BLE001 — persistence is best-effort
        pass
    # ---- driver-survivable per-query chunks (round-13, verdict r12 ask
    # #8): the driver keeps only a few-KB stdout tail, which cut the big
    # detail line mid-object two rounds running and left PERF's
    # per-query comparison empty. Re-emit the per-query map as multiple
    # SMALL standalone-JSON lines (<2 KB each, alphabetical by query) so
    # whatever suffix of stdout survives parses cleanly line-by-line.
    # Each chunk carries sf/cpus/calibration so it is interpretable alone.
    chunk: dict[str, float] = {}
    chunks: list[dict[str, float]] = []
    for qname in sorted(timings):
        chunk[qname] = timings[qname]
        if len(json.dumps(chunk)) > 1500:
            chunks.append(chunk)
            chunk = {}
    if chunk:
        chunks.append(chunk)
    for i, ch in enumerate(chunks):
        line = json.dumps(
            {
                "metric": "queries_chunk",
                "part": i + 1,
                "of": len(chunks),
                "sf": sf,
                "cpus": cpus,
                "calibration_s": calibration_s,
                "queries": ch,
            }
        )
        assert len(line) < 2048, f"chunk line grew to {len(line)} bytes"
        print(line)
    # final SMALL line (driver-parseable under tail truncation)
    summary = json.dumps(
        {
            **({"n_cross_scale_flags": len(cross_scale_flags)} if vs_canonical else {}),
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "cpus": cpus,
            "n_queries": len(timings),
            "calibration_s": calibration_s,
            "calibration_spread": cal_spread,
            "normalized_total": normalized_total,
            "n_regressed": len(regressed),
            "n_reruns": n_reruns,
            "disk_free_gb": disk_free_gb,
        }
    )
    assert len(summary) < 300, f"summary line grew to {len(summary)} bytes"
    print(summary)


if __name__ == "__main__":
    main()
