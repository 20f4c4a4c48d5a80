"""Per-layer tracing, done entirely from the benchmark's side.

Spans are opened around the calls the benchmark makes into each layer
(name, start, end, parent span, op id) and kept in memory until the run
writes them out. Spark-side work is attributed by job group: every
phase of every traced op runs under its own ``setJobGroup`` tag, and the
stage counters of exactly those jobs are read back from the driver's
status store (this works with the UI disabled). Catalyst phase times
come from the built frame's ``QueryExecution`` tracker, and codegen
numbers are deltas of the JVM-wide compile counters.

Tracing adds py4j round trips and a forced planning pass per op, so
only the traced run uses it; the timed runs pass ``None`` instead of a
tracer.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# (metric suffix, StageData getter, scale to the metric's unit)
STAGE_FIELDS = (
    ("run_ms", "executorRunTime", 1.0),
    ("cpu_ms", "executorCpuTime", 1e-6),
    ("gc_ms", "jvmGcTime", 1.0),
    ("shuffle_read_bytes", "shuffleReadBytes", 1.0),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1.0),
    ("spill_bytes", "diskBytesSpilled", 1.0),
)
CATALYST_PHASES = ("analysis", "optimization", "planning")
BUILD = "queries.build"


class Tracer:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = spark._jvm
        self._compile_hist = (
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        )
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # layer metric -> value summed over the traced ops
        self.totals: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def phase(self, name: str, op: str):
        """A span whose Spark jobs run under their own job group.

        On exit adds ``<name>_s`` (wall), the codegen deltas and the
        stage counters of the group's jobs to the totals: every job
        counts under ``execute.*``; jobs launched while a query was
        being built also count under ``queries.build_*``."""
        group = f"{op}/{name}"
        self._sc.setJobGroup(group, group)
        c0, ms0 = self.codegen_counters()
        try:
            with self.span(name, op) as rec:
                yield rec
        finally:
            self._sc._jsc.clearJobGroup()
        c1, ms1 = self.codegen_counters()
        counters = self.stage_counters(group)
        rec.update(compiles=c1 - c0, compile_ms=ms1 - ms0, counters=counters)
        self.totals[f"{name}_s"] += rec["end"] - rec["start"]
        self.totals["codegen.compiles"] += c1 - c0
        self.totals["codegen.compile_ms"] += ms1 - ms0
        for key, value in counters.items():
            self.totals[f"execute.{key}"] += value
        if name == BUILD:
            self.totals["queries.build_jobs"] += counters["jobs"]
            self.totals["queries.build_run_ms"] += counters["run_ms"]

    def stage_counters(self, group: str) -> dict[str, float]:
        """Counters of every job launched under ``group``: job, stage and
        task counts plus the summed stage metrics of STAGE_FIELDS.
        Stages skipped because their shuffle output was reused did no
        work and are not counted."""
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        out = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0}
        out.update({key: 0.0 for key, _, _ in STAGE_FIELDS})
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                try:
                    st = self._store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 — py4j error: stage never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                for key, getter, scale in STAGE_FIELDS:
                    out[key] += getattr(st, getter)() * scale
        return out

    def catalyst(self, df, op: str) -> None:
        """Adds the analysis/optimization/planning ms of the frame's own
        QueryExecution. Planning runs lazily, so it is forced first;
        without that only analysis would show (the sink plans again in
        a QueryExecution of its own)."""
        with self.span("catalyst", op):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for p in CATALYST_PHASES:
                opt = phases.get(p)
                if opt.isDefined():
                    self.totals[f"catalyst.{p}_ms"] += float(opt.get().durationMs())

    def codegen_counters(self) -> tuple[int, float]:
        """(classes compiled, compile ms) since the JVM started."""
        return int(self._compile_hist.getCount()), self._codegen.compileTime() / 1e6

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)
