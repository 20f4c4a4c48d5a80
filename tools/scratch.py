"""Scratch-space hygiene shared by bench.py and the oracle tooling.

Round-10 post-mortem: the driver's official bench run died with
``java.io.IOException: No space left on device`` (BENCH_r10.json rc=1)
because the repo's own tooling leaked scratch — 25 GB of DuckDB spill
in a fixed ``/tmp/gs_duck_spill`` (set once, never cleaned) plus ~9 GB
of ``blockmgr-*``/``spark-*`` dirs from dead Spark sessions. This
module is the fix:

* ``spill_dir()`` — a per-process UNIQUE DuckDB temp dir, registered
  for removal at interpreter exit, so concurrent runs can't collide
  and a normal exit can't leak.
* ``cleanup_spill()`` — explicit teardown for the current process's
  spill dir (callable from a ``finally``; idempotent).
* ``reap_stale()`` — removes spill/Spark scratch dirs in /tmp whose
  newest top-level mtime is older than a threshold (default 1 h),
  gated on process liveness (round-11 advisor): PID-named spill dirs
  are skipped while their owner is alive, and ``spark-*``/
  ``blockmgr-*`` dirs are only touched when NO JVM is running on the
  box (an idle-but-live session can go >1h without refreshing mtimes;
  reaping its block manager causes shuffle-fetch failures mid-job).
  The reaper runs at bench preflight and between sweep batches.
* ``free_gb()`` — disk headroom for the preflight gate.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import time

SPILL_PREFIX = "gs_duck_spill"
#: /tmp dir patterns the reaper may touch — ONLY scratch our own
#: tooling (DuckDB spill) or Spark itself (local dirs / block manager)
#: creates. Nothing else in /tmp is ever removed.
REAPABLE_PATTERNS = (f"{SPILL_PREFIX}*", "blockmgr-*", "spark-*")

_spill_dir: str | None = None


def spill_dir() -> str:
    """Per-process unique DuckDB temp dir (created lazily, auto-reaped)."""
    global _spill_dir
    if _spill_dir is None:
        _spill_dir = os.environ.get(
            "GS_DUCK_SPILL_DIR", f"/tmp/{SPILL_PREFIX}_{os.getpid()}"
        )
        os.makedirs(_spill_dir, exist_ok=True)
        atexit.register(cleanup_spill)
    return _spill_dir


def cleanup_spill() -> None:
    """Remove this process's spill dir. Idempotent; safe in finally blocks."""
    global _spill_dir
    if _spill_dir and os.path.isdir(_spill_dir):
        shutil.rmtree(_spill_dir, ignore_errors=True)
    _spill_dir = None


def _newest_mtime(path: str) -> float:
    """Newest mtime among the dir and its first-level entries.

    One level is enough to detect liveness (Spark refreshes top-level
    shuffle/block subdirs while active; DuckDB rewrites spill files in
    the root) without walking a multi-GB tree.
    """
    newest = 0.0
    try:
        newest = os.stat(path).st_mtime
        with os.scandir(path) as it:
            for entry in it:
                try:
                    newest = max(newest, entry.stat(follow_symlinks=False).st_mtime)
                except OSError:
                    continue
    except OSError:
        pass
    return newest


def _owner_pid(path: str) -> int | None:
    """PID encoded in a ``gs_duck_spill_<pid>`` dir name, if any."""
    tail = os.path.basename(path).rpartition("_")[2]
    return int(tail) if tail.isdigit() else None


def _live_jvm_exists() -> bool:
    """True when any live java process exists on the box.

    Used to gate reaping of ``spark-*``/``blockmgr-*`` dirs: those
    dirs don't encode their owner, and an idle-but-live Spark session
    (e.g. a concurrent bench while a sweep reaps between batches) can
    sit read-only for >1h without refreshing mtimes — deleting its
    block-manager dirs causes shuffle-fetch failures mid-job (advisor
    r11). When no JVM is alive at all, every Spark scratch dir is
    orphaned by definition and mtime age is a safe second gate.
    """
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as f:
                if f.read().strip() == "java":
                    return True
        except OSError:
            continue
    return False


def reap_stale(tmp: str = "/tmp", max_age_s: float = 3600.0) -> list[str]:
    """Remove stale scratch dirs under *tmp*; returns the paths removed.

    A dir is stale when its newest top-level mtime is older than
    ``max_age_s`` AND no live process can still own it: PID-named spill
    dirs require their owner to be dead (/proc check), and Spark's own
    ``spark-*``/``blockmgr-*`` dirs are only touched when no JVM is
    running on the box at all.
    The current process's own spill dir is always skipped.
    """
    now = time.time()
    removed: list[str] = []
    jvm_alive = _live_jvm_exists()
    for pattern in REAPABLE_PATTERNS:
        is_spill = pattern.startswith(SPILL_PREFIX)
        if not is_spill and jvm_alive:
            continue  # can't attribute Spark scratch to a dead owner
        for path in glob.glob(os.path.join(tmp, pattern)):
            if not os.path.isdir(path) or path == _spill_dir:
                continue
            if is_spill:
                pid = _owner_pid(path)
                if pid is not None and os.path.exists(f"/proc/{pid}"):
                    continue  # owner still alive — not ours to reap
            if now - _newest_mtime(path) > max_age_s:
                shutil.rmtree(path, ignore_errors=True)
                if not os.path.exists(path):
                    removed.append(path)
    return removed


def free_gb(path: str = "/tmp") -> float:
    """Free disk space at *path* in GiB."""
    return shutil.disk_usage(path).free / (1024**3)
