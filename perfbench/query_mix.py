"""Registry query mix: each op builds one registered query through
``__spark_entry__.queries()`` and forces it with the noop sink.

Inputs are the repository's deterministic table generator
(``tools/gen_scale_data.py``) run with the benchmark seed, so every run
sees fresh tables of a fixed shape. Correctness is checked once per run,
outside timing, by comparing each query's collected output with its
DuckDB oracle through the repository's own gate helpers
(``tools/oracle_check``); that pass is the first of the warm-up.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

from proctree import cpu_seconds_between, thread_ticks

# Table scale. At 4 cores every registry query here is dominated by
# fixed per-query cost (build, Catalyst, codegen, job launch) at this
# size, so larger tables add wall time without changing which layer
# dominates.
SCALE_FACTOR = 0.01

# A fixed subset of the 38 ts_* registry queries, one or two per
# operator family. The full set needs 21 s per warm pass on 4 cores,
# which does not fit a run. The subset still generates more classes per
# pass than the default 100-entry generated-class cache holds, so the
# cache-thrash mechanism stays exercised. Every pass runs them in this
# order. The order decides which generated classes survive in the
# codegen cache from one query to the next, so a seeded order would make
# the compile work, and with it every timing, depend on the seed.
TS_QUERIES = (
    "ts_summary",
    "ts_summary_by_series",
    "ts_delta_of_delta",
    "ts_dod_class_histogram",
    "ts_resample_1h",
    "ts_range_scan",
    "ts_asof_join",
    "ts_gap_fill",
    "ts_interpolate_linear",
    "ts_session_windows",
    "ts_xor_bits",
    "ts_rolling_median",
    "ts_compression_stats",
)


class QueryMix:
    op_kind = "query"
    # Untimed passes after the correctness pass. Pass times keep falling
    # for about three passes while the JVM compiles Catalyst and Janino
    # paths (process CPU per pass 19 s, 15 s, 12 s, then 11 s on 4 cores).
    # Timing them made a run's figures depend on how many passes fit.
    warm_passes = 2

    def __init__(self, names: tuple[str, ...], seed: int, workdir: str) -> None:
        self.names = names
        self.seed = seed
        self.data_dir = os.path.join(workdir, "tables")
        self.failures: list[str] = []
        self.checked = 0
        self._ops = 0

    def setup(self, spark, log) -> None:
        from tools.gen_scale_data import gen_all

        with contextlib.redirect_stdout(sys.stderr):
            gen_all(SCALE_FACTOR, self.data_dir, seed=self.seed)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        missing = [n for n in self.names if n not in self.queries or n not in oracles]
        if missing:
            raise KeyError(f"registry lacks query or oracle for {missing}")
        for name in self.names:
            self.checked += 1
            t0 = time.perf_counter()
            problems = self.check(spark, name, oracles[name])
            if problems:
                self.failures.append(name)
                log(f"GATE FAIL {name}: " + "; ".join(problems))
            else:
                log(f"gate pass {name} ({time.perf_counter() - t0:.2f} s)")

    def check(self, spark, name: str, oracle: str) -> list[str]:
        """Spark output of ``name`` against its DuckDB oracle."""
        from tools.oracle_check import compare, duck_connection

        try:
            got = self.queries[name](spark, self.data_dir).toPandas()
            con = duck_connection(self.data_dir)
            try:
                want = con.execute(oracle).fetchdf()
            finally:
                con.close()
        except Exception:  # noqa: BLE001 — a crashing query is a gate failure
            return [traceback.format_exc()]
        return compare(name, got, want)

    def run_pass(self, spark, tracer, log) -> list[tuple[str, float, bool]]:
        """Every query once, in the mix's order. Each sample is
        (kind, wall seconds, ok, CPU seconds)."""
        samples = []
        for name in self.names:
            op = f"op{self._ops}:{name}"
            self._ops += 1
            self.checked += 1
            c0 = thread_ticks()
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = self.queries[name](spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self._traced(spark, tracer, name, op)
                ok = True
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                self.failures.append(op)
                log(f"FAIL {op}: {traceback.format_exc()}")
                ok = False
            dt = time.perf_counter() - t0
            samples.append(("query", dt, ok, cpu_seconds_between(c0, thread_ticks())))
        return samples

    def _traced(self, spark, tracer, name: str, op: str) -> None:
        with tracer.span("op", op):
            with tracer.phase("queries.build", op):
                df = self.queries[name](spark, self.data_dir)
            tracer.catalyst(df, op)
            with tracer.phase("execute", op):
                df.write.format("noop").mode("overwrite").save()
