"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS].

One measurement rule: every query runs in exactly two full passes, and
its published wall time is the min of the two. Beside it goes the
query's CPU seconds of the process tree (this process, the Spark JVM and
its Python workers, the JVM's JIT compiler threads left out;
``perfbench.proctree``), sampled just outside the wall window and also
the min of the two passes. No query is ever run a third time: host CPU
steal moves wall time 20-40% between runs a minute apart, and the CPU
figure beside it is the steadier reading.

Each query runs through ``gibbon_spark.registry.run`` into the noop sink
(full computation, no driver collect, no disk write), so the number
measures the build and the distributed plan, not driver
materialization. stdout carries:

1. the detail line: ``value`` (total of the per-query min walls),
   ``queries`` (wall s), ``queries_cpu_s``, ``cpu_total_s``,
   ``pass_totals``, the calibration fields and ``normalized_total``,
   ``regressed`` and, off sf0.1, the cross-scale ratios and flags. It is
   also written to ``BENCH_DETAIL*.json`` (keyed by sf and core count)
   in the checkout the bench runs from, as the next run's baseline;
2. the per-query walls again as standalone lines under 2 KB each;
3. a summary under 300 bytes as the FINAL line. Callers may keep only a
   tail of stdout, so this line must parse on its own.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

N_PASSES = 2
MIN_FREE_GB = 10.0


def _read_detail(path: str) -> dict | None:
    """A persisted detail file, or None when there is none. A corrupt or
    schema-broken file raises: it would otherwise publish zero flags."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    from gibbon_spark.session import _cpus, get_spark
    from perfbench.proctree import cpu_seconds_between, thread_ticks

    cpus = _cpus()

    # ---- disk preflight (round-11, after the r10 driver bench died on
    # "No space left on device"): reap stale scratch (leaked DuckDB
    # spill, dead sessions' blockmgr-*/spark-* dirs), log the headroom,
    # and abort LOUDLY below a floor rather than dying mid-shuffle with
    # an unparseable artifact.
    from tools import scratch

    reaped = scratch.reap_stale()
    disk_free_gb = round(scratch.free_gb(), 1)
    if disk_free_gb < MIN_FREE_GB:
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
                        f"< floor {MIN_FREE_GB} GB — clean scratch before benching"
                    ),
                }
            )
        )
        sys.exit(1)

    # previous run's per-query detail for the regression flags
    # (FIXTURES.md §5), read before any Spark work. The detail file is
    # keyed by sf and core count: only a run at the canonical sf0.1 on
    # 32 cores reads/writes the committed BENCH_DETAIL.json; other runs
    # use their own BENCH_DETAIL_sf{sf}/_c{n} sibling, so they get real
    # flags and never clobber the canonical row.
    detail_name = "BENCH_DETAIL" if sf == 0.1 else f"BENCH_DETAIL_sf{sf}"
    if cpus != 32:
        detail_name += f"_c{cpus}"
    detail_path = os.path.join(REPO, detail_name + ".json")
    prev = _read_detail(detail_path)
    prev_queries: dict[str, float] = prev["queries"] if prev else {}
    prev_cal = float(prev["calibration_s"]) if prev else None
    # a run off the canonical sf is also diagnosed against sf0.1
    canon = None
    if sf is not None and sf != 0.1:
        canon = _read_detail(os.path.join(REPO, "BENCH_DETAIL.json"))

    import __spark_entry__ as entrymod
    from gibbon_spark.registry import run, warm

    spark = get_spark("gibbon_spark_bench")
    names = list(entrymod.queries())
    warm(spark, sf_dir)

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

    # ---- main timing loop: two full passes, per-query min of each
    # figure. The /proc samples sit outside the wall window; their own
    # wall cost is published as cpu_sample_ms (per query, both samples).
    timings: dict[str, float] = {}
    cpu: dict[str, float] = {}
    pass_totals: list[float] = []
    sample_s = 0.0
    for p in range(N_PASSES):
        pass_total = 0.0
        for i, name in enumerate(names):
            if i % 20 == 19:
                # nudge the driver JVM to GC: with a large heap it otherwise
                # never collects, so the ContextCleaner never releases the
                # accumulated shuffle files / broadcasts of prior queries,
                # which degrades the tail of the run
                spark.sparkContext._jvm.System.gc()
            if p == 0 and i == len(names) // 2:
                cal_probes.append(_calibrate())  # mid-run probe
            s0 = time.perf_counter()
            before = thread_ticks()
            _, wall = run(spark, name, sf_dir, sink="noop")
            cpu_s = round(cpu_seconds_between(before, thread_ticks()), 2)
            sample_s += time.perf_counter() - s0 - wall
            wall = round(wall, 4)
            pass_total += wall
            timings[name] = min(timings.get(name, wall), wall)
            cpu[name] = min(cpu.get(name, cpu_s), cpu_s)
        pass_totals.append(round(pass_total, 4))
    cal_probes.append(_calibrate())  # end-of-run probe

    # median of the three interleaved probes; spread = max/min exposes
    # how noisy the host was across the run
    totals = sorted(p[0] for p in cal_probes)
    calibration_s = totals[len(totals) // 2]
    cal_spread = round(totals[-1] / totals[0], 2) if totals[0] > 0 else None
    mid = [p for p in cal_probes if p[0] == calibration_s][0]
    calibration_shuffle_s, calibration_numpy_s = mid[1], mid[2]

    total = round(sum(timings.values()), 4)
    normalized_total = round(total / calibration_s, 2)
    cpu_total_s = round(sum(cpu.values()), 1)

    # per-query regression flags — the README ledger's own rule, now
    # applied inside the artifact (round-9 fix for the r08 165-false-flag
    # incident): a query is flagged only when BOTH its raw wall time AND
    # its host-normalized time grew >1.3x vs the previous persisted run.
    # A calibration-constant swing moves every normalized ratio but no
    # raw ratio; a genuine plan regression moves both. Flags only
    # report: nothing is rerun.
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
    # sf0.1 canonical detail and flags the queries whose time grew faster
    # than scale_gate's growth rule allows from the smaller sf to the
    # larger, whichever side this run is on; a flag's ``ratio`` is that
    # growth (larger-sf time over smaller-sf time).
    vs_canonical: dict[str, float] = {}
    cross_scale_flags: dict[str, dict] = {}
    if canon is not None:
        from tools.scale_gate import growth_limit, super_linear

        growth = max(sf, 0.1) / min(sf, 0.1)
        for name, t in timings.items():
            ct = canon["queries"].get(name)
            if not ct or ct <= 0:
                continue
            vs_canonical[name] = round(t / ct, 2)
            small, big = (t, ct) if sf < 0.1 else (ct, t)
            if super_linear(name, small, big, growth):
                cross_scale_flags[name] = {
                    "ratio": round(big / small, 2),
                    "allowed": round(growth_limit(name, growth), 1),
                    "sf_s": t,
                    "canon_s": ct,
                }

    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cpu_s": cpu,
        "cpu_total_s": cpu_total_s,
        "cpu_sample_ms": round(1000 * sample_s / (N_PASSES * len(names)), 2),
        "sf": sf,
        "cpus": cpus,
        "calibration_s": calibration_s,
        "calibration_shuffle_s": calibration_shuffle_s,
        "calibration_numpy_s": calibration_numpy_s,
        "calibration_probes": [p[0] for p in cal_probes],
        "calibration_spread": cal_spread,
        "normalized_total": normalized_total,
        "regressed": regressed,
        "disk_free_gb": disk_free_gb,
        "scratch_reaped": reaped,
        "n_passes": N_PASSES,
        "pass_totals": pass_totals,
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
            "cpu_total_s": cpu_total_s,
            "disk_free_gb": disk_free_gb,
        }
    )
    assert len(summary) < 300, f"summary line grew to {len(summary)} bytes"
    print(summary)


if __name__ == "__main__":
    main()
