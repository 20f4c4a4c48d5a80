"""Batched oracle sweep runner with an RSS watchdog — the round-9 sf3
full-registry protocol (SCALE_ORACLE_SF3.txt) made reusable for any SF.

Runs ``tools/oracle_check.py <sf_dir> <batch...>`` in fresh subprocesses
(batch size configurable, default 8): a fresh process per batch keeps a
grown JVM + DuckDB buffer pool from compounding across the sweep, and a
poisoned DuckDB connection (one oracle hitting its memory limit) can
only take down its own batch. A watchdog thread samples the combined
RSS of the batch's process tree once a second and kills the tree past
the cap (default 70 GB — the box OOM-killed an unguarded sf3 batch at
107 GB), recording which queries were in flight so they can be retried
solo or restated.

Usage:
    python tools/run_oracle_sweep.py <sf_dir> <out_file> [--batch N]
        [--duck-mem 28GB] [--rss-gb 70] [--timeout-s 2400]
        [--disk-floor-gb 8] <name...>

Appends per-query PASS/FAIL lines (oracle_check.py's own output) plus a
final summary to <out_file>.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.proctree import descendants, rss_bytes  # noqa: E402
from tools import scratch  # noqa: E402


def run_batch(
    sf_dir: str,
    names: list[str],
    out,
    duck_mem: str,
    rss_cap_gb: float,
    batch_timeout_s: float = 2400.0,
    disk_floor_gb: float = 8.0,
) -> tuple[int, bool]:
    # Per-BATCH unique spill dir, torn down in the finally below even
    # when the watchdog SIGKILLs the tree (the child's own atexit hook
    # cannot fire on SIGKILL) — round-10 post-mortem: leaked spill from
    # killed sweep batches accumulated 25 GB and disk-killed the
    # driver's official bench run.
    spill = f"/tmp/gs_duck_spill_sweep_{os.getpid()}_{int(time.time())}"
    env = dict(os.environ, GS_ORACLE_DUCK_MEM=duck_mem, GS_DUCK_SPILL_DIR=spill)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "tools", "oracle_check.py"), sf_dir]
        + names,
        stdout=out,
        stderr=subprocess.DEVNULL,
        cwd=REPO,
        env=env,
        start_new_session=True,
    )
    killed = False

    def watchdog() -> None:
        nonlocal killed
        cap_kb = int(rss_cap_gb * 1024 * 1024)
        t_start = time.time()
        while proc.poll() is None:
            # wall-clock cap (round-10): a single super-linear naive
            # oracle (e.g. a quadratic NOT EXISTS at sf10) would stall
            # the whole sweep forever — the RSS cap never fires on a
            # CPU-bound stall. Kill and record, so the batch's names
            # can be retried solo or restated via
            # tools/sf3_feasible_oracles.py.
            reason = None
            if rss_bytes([proc.pid, *descendants(proc.pid)]) // 1024 > cap_kb:
                reason = f"tree RSS exceeded {rss_cap_gb} GB"
            elif time.time() - t_start > batch_timeout_s:
                reason = f"wall clock exceeded {batch_timeout_s:.0f}s"
            elif scratch.free_gb() < disk_floor_gb:
                # round-11: a spilling oracle that outruns the disk must
                # die BEFORE the disk hits zero — a full /tmp takes down
                # every concurrent Spark job on the box (the r10 driver
                # bench casualty), not just this batch
                reason = f"free disk below {disk_floor_gb} GB floor"
            if reason:
                killed = True
                out.write(f"WATCHDOG KILL batch {names} — {reason}\n")
                out.flush()
                os.killpg(proc.pid, signal.SIGKILL)
                return
            time.sleep(1)

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    try:
        rc = proc.wait()
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    t.join(timeout=5)
    return rc, killed


def main() -> int:
    args = sys.argv[1:]
    if len(args) < 3:
        print(__doc__)
        return 1
    sf_dir, out_file = args[0], args[1]
    rest = args[2:]
    batch_n, duck_mem, rss_gb, timeout_s = 8, "28GB", 70.0, 2400.0
    disk_floor = 8.0
    names: list[str] = []
    i = 0
    while i < len(rest):
        if rest[i] == "--batch":
            batch_n = int(rest[i + 1])
            i += 2
        elif rest[i] == "--duck-mem":
            duck_mem = rest[i + 1]
            i += 2
        elif rest[i] == "--rss-gb":
            rss_gb = float(rest[i + 1])
            i += 2
        elif rest[i] == "--timeout-s":
            timeout_s = float(rest[i + 1])
            i += 2
        elif rest[i] == "--disk-floor-gb":
            disk_floor = float(rest[i + 1])
            i += 2
        else:
            names.append(rest[i])
            i += 1
    with open(out_file, "a") as out:
        out.write(
            f"# sweep {sf_dir} — {len(names)} queries, batch={batch_n}, "
            f"duck_mem={duck_mem}, rss_cap={rss_gb}GB\n"
        )
        out.flush()
        t0 = time.time()
        for k in range(0, len(names), batch_n):
            batch = names[k : k + batch_n]
            rc, killed = run_batch(
                sf_dir, batch, out, duck_mem, rss_gb, timeout_s, disk_floor
            )
            out.write(
                f"# batch {k // batch_n + 1}: rc={rc}"
                + (" (WATCHDOG-KILLED)" if killed else "")
                + "\n"
            )
            out.flush()
            # hourly-stale scratch reap between batches: a multi-hour
            # sweep must not accumulate dead batches' Spark local dirs
            # (watchdog-killed JVMs leave blockmgr-*/spark-* behind)
            reaped = scratch.reap_stale()
            if reaped:
                out.write(f"# reaped stale scratch: {reaped}\n")
                out.flush()
        out.write(f"# sweep done in {time.time() - t0:.0f}s\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
