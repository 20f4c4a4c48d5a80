"""Gorilla ingest + store workload.

Seeded telemetry shaped like the paper's: one sample per series about
every 60 s with jitter, values a random walk at 0.01 resolution, so a
2-hour block holds about 120 samples. Writes and reads are interleaved:

* write op: one landing batch through ``streaming.ingest`` (availableNow
  file stream into the bucketed sink), then ``codec.spark_ops``
  ``encode_timeseries``, then ``sources.bucketed.write_gorilla_store``,
  all into fresh paths;
* read op: a window through ``read_gorilla_store``, then
  ``decode_timeseries``, then ``operators.timeseries.summary``, collected
  and checked against numpy aggregates of the generated samples.

A round is one write op and one read op per window length in
WINDOW_HOURS, in a seeded order and at seeded start times. Every round
does the same amount of work, so a run's figures do not depend on how
many short or long windows its seed happened to draw.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from proctree import cpu_seconds_between, thread_ticks

SERIES = 100
BATCHES = 4  # landing batches of SERIES // BATCHES series each
DAYS = 2
CADENCE_S = 60
JITTER_S = 20  # < CADENCE_S / 2, so each series' timestamps stay strictly increasing
START_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z, 2-hour aligned
WINDOW_HOURS = (3, 6, 9, 12)
BLOCK_S = 7200


class Telemetry:
    """The generated samples, as flat arrays sorted by (series, ts)."""

    def __init__(self, seed: int) -> None:
        rng = np.random.default_rng(seed)
        n = DAYS * 86400 // CADENCE_S
        grid = START_EPOCH + np.arange(n, dtype=np.int64) * CADENCE_S
        self.series = np.repeat(np.array([f"host{s:04d}" for s in range(SERIES)]), n)
        ts = np.concatenate(
            [grid + rng.integers(-JITTER_S, JITTER_S + 1, n) for _ in range(SERIES)]
        )
        # no sample may precede the first block
        self.ts = np.maximum(ts, START_EPOCH)
        cents = [
            rng.integers(1_000, 100_000) + np.cumsum(rng.integers(-3, 4, n))
            for _ in range(SERIES)
        ]
        self.value = np.concatenate(cents) / 100.0
        self.per_series = n
        order = np.argsort(self.ts, kind="stable")
        self._ts_sorted = self.ts[order]
        self._val_by_ts = self.value[order]

    @property
    def n(self) -> int:
        return len(self.ts)

    def batch_slice(self, b: int) -> slice:
        per_batch = SERIES // BATCHES * self.per_series
        return slice(b * per_batch, (b + 1) * per_batch)

    def write_landing(self, root: str) -> list[str]:
        dirs = []
        for b in range(BATCHES):
            sl = self.batch_slice(b)
            d = os.path.join(root, f"b{b}")
            os.makedirs(d)
            ts_us = self.ts[sl].astype("datetime64[s]").astype("datetime64[us]")
            table = pa.table(
                {
                    "series": pa.array(self.series[sl]),
                    "ts": pa.array(ts_us),
                    "value": pa.array(self.value[sl]),
                }
            )
            pq.write_table(table, os.path.join(d, "part-0.parquet"))
            dirs.append(d)
        return dirs

    def expected_summary(self, start: int, end: int) -> dict:
        lo, hi = np.searchsorted(self._ts_sorted, [start, end], side="left")
        v = self._val_by_ts[lo:hi]
        return {
            "n_samples": int(hi - lo),
            "min_value": float(v.min()),
            "max_value": float(v.max()),
            "avg_value": float(v.mean()),
            "max_ts": int(self._ts_sorted[hi - 1]),
        }

    def block(self, series_id: str, header_time: int) -> tuple[list[int], list[float]]:
        m = (
            (self.series == series_id)
            & (self.ts >= header_time)
            & (self.ts < header_time + BLOCK_S)
        )
        return self.ts[m].tolist(), self.value[m].tolist()


def summary_problems(got: dict, want: dict) -> list[str]:
    """Exact match on count/min/max/max_ts; the mean may differ in the
    last bits because Spark sums in another order."""
    problems = [
        f"{k}: got {got[k]!r} want {want[k]!r}"
        for k in ("n_samples", "min_value", "max_value", "max_ts")
        if got[k] != want[k]
    ]
    if abs(got["avg_value"] - want["avg_value"]) > 1e-9 * max(1.0, abs(want["avg_value"])):
        problems.append(f"avg_value: got {got['avg_value']!r} want {want['avg_value']!r}")
    return problems


class GorillaIngestStore:
    op_kind = "read"
    # Untimed rounds after set-up. The first round after the pre-built
    # store still runs about 25% slower than later ones while the JVM
    # compiles the read and write paths.
    warm_passes = 1

    def __init__(self, seed: int, workdir: str) -> None:
        self.seed = seed
        self.root = os.path.join(workdir, "gorilla")
        self.rng = np.random.default_rng(seed + 1)
        self.failures: list[str] = []
        self.checked = 0
        self._ops = 0
        self._rounds = 0

    def setup(self, spark, log) -> None:
        from gibbon_spark.sources.bucketed import storage_bytes

        self.data = Telemetry(self.seed)
        self.batch_samples = self.data.per_series * (SERIES // BATCHES)
        self.landing = self.data.write_landing(os.path.join(self.root, "landing"))
        self.schema = spark.read.parquet(self.landing[0]).schema
        # The store every read op scans: all batches through the same
        # pipeline as a write op, which also warms that pipeline up.
        prebuild = os.path.join(self.root, "prebuild")
        self.checked += 1
        rows = self._write(spark, None, os.path.join(self.root, "landing", "b*"), prebuild, "setup")
        if rows != self.data.n:
            self._fail(log, "setup", f"ingested {rows} rows, generated {self.data.n}")
        self.store = os.path.join(prebuild, "store")
        self.store_bytes = storage_bytes(self.store)
        self._check_block(spark, log)
        self.checked += 1
        self._read(spark, None, "setup-read", max(WINDOW_HOURS), log)  # warms the read path

    def _check_block(self, spark, log) -> None:
        """One stored block's payload, byte for byte, against the scalar
        reference encoder on the generated samples."""
        from pyspark.sql import functions as F

        from gibbon_spark.codec.gorilla import encode_block
        from gibbon_spark.sources.bucketed import read_gorilla_store

        self.checked += 1
        sid = f"host{int(self.rng.integers(SERIES)):04d}"
        header = START_EPOCH + BLOCK_S * int(self.rng.integers(DAYS * 86400 // BLOCK_S))
        rows = (
            read_gorilla_store(spark, self.store, start_epoch=header, end_epoch=header + 1)
            .filter((F.col("series_id") == sid) & (F.col("header_time") == header))
            .collect()
        )
        ts, vals = self.data.block(sid, header)
        payload, nbits = encode_block(ts, vals, header)
        if len(rows) != 1:
            self._fail(log, "block", f"{sid}@{header}: {len(rows)} stored blocks")
        elif (bytes(rows[0].payload), rows[0].n_bits, rows[0].n_samples) != (
            payload,
            nbits,
            len(ts),
        ):
            self._fail(log, "block", f"{sid}@{header}: payload differs from encode_block")

    def _fail(self, log, op: str, msg: str) -> None:
        self.failures.append(op)
        log(f"FAIL {op}: {msg}")

    def run_pass(self, spark, tracer, log) -> list[tuple[str, float, bool]]:
        """One round: a write op, then one read op per window length.
        Each sample is (kind, wall seconds, ok, CPU seconds)."""
        ops = [("write", self._rounds % BATCHES)]
        ops += [("read", int(h)) for h in self.rng.permutation(WINDOW_HOURS)]
        self._rounds += 1
        samples = []
        for kind, arg in ops:
            op = f"op{self._ops}:{kind}"
            self._ops += 1
            self.checked += 1
            out = os.path.join(self.root, "ops", f"op{self._ops}")
            c0 = thread_ticks()
            t0 = time.perf_counter()
            try:
                with tracer.span("op", op) if tracer else nullcontext():
                    if kind == "write":
                        rows = self._write(spark, tracer, self.landing[arg], out, op)
                        ok = rows == self.batch_samples
                        if not ok:
                            self._fail(log, op, f"ingested {rows} rows")
                    else:
                        ok = self._read(spark, tracer, op, arg, log)
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                self._fail(log, op, traceback.format_exc())
                ok = False
            dt = time.perf_counter() - t0
            samples.append((kind, dt, ok, cpu_seconds_between(c0, thread_ticks())))
            if kind == "write":
                shutil.rmtree(out, ignore_errors=True)
        return samples

    def _write(self, spark, tracer, landing: str, out: str, op: str) -> int:
        """Stream ``landing`` into a bucketed sink under ``out``, encode
        it and write a block store at ``out``/store. Returns the rows
        the stream took in."""
        from gibbon_spark.codec.spark_ops import encode_timeseries
        from gibbon_spark.sources.bucketed import storage_bytes, write_gorilla_store
        from gibbon_spark.streaming.ingest import start_bucketed_sink

        sink, ckpt, store = (os.path.join(out, d) for d in ("sink", "ckpt", "store"))

        def phase(name):
            return tracer.phase(name, op) if tracer else nullcontext()

        with phase("ingest.stream"):
            stream = spark.readStream.schema(self.schema).parquet(landing)
            q = start_bucketed_sink(stream, sink, ckpt, series=["series"])
            q.awaitTermination()
            progress = q.recentProgress
        rows = sum(p["numInputRows"] for p in progress)
        blocks = encode_timeseries(spark.read.parquet(sink), series=["series_id"])
        if tracer is not None:
            # split the layers: encode into a checkpoint, then store that
            with phase("spark_ops.encode"):
                blocks = blocks.localCheckpoint(eager=True)
        with phase("bucketed.store_write"):
            write_gorilla_store(blocks, store)
        if tracer is not None:
            tracer.totals["ingest.micro_batches"] += len(progress)
            tracer.totals["ingest.rows"] += rows
            tracer.totals["ingest.files_written"] += _count_parquet(sink)
            tracer.totals["bucketed.files_written"] += _count_parquet(store)
            tracer.totals["bucketed.bytes_written"] += storage_bytes(store)
        return rows

    def _window(self, hours: int) -> tuple[int, int]:
        start = START_EPOCH + int(self.rng.integers(0, DAYS * 86400 - hours * 3600))
        return start, start + hours * 3600

    def _read(self, spark, tracer, op: str, hours: int, log) -> bool:
        from pyspark.sql import functions as F

        from gibbon_spark.codec.spark_ops import decode_timeseries
        from gibbon_spark.operators.timeseries import summary
        from gibbon_spark.sources.bucketed import read_gorilla_store

        start, end = self._window(hours)
        if tracer is None:
            blocks = read_gorilla_store(spark, self.store, start_epoch=start, end_epoch=end)
            rows = decode_timeseries(blocks)
            df = summary(rows.filter((F.col("ts") >= start) & (F.col("ts") < end)))
            got = df.collect()[0].asDict()
        else:
            got = self._read_traced(spark, tracer, op, start, end)
        problems = summary_problems(got, self.data.expected_summary(start, end))
        if problems:
            self._fail(log, op, f"window [{start}, {end}): " + "; ".join(problems))
        return not problems

    def _read_traced(self, spark, tracer, op: str, start: int, end: int) -> dict:
        """The read op with each layer's output pinned by its own action."""
        from pyspark.sql import functions as F

        from gibbon_spark.codec.spark_ops import decode_timeseries
        from gibbon_spark.operators.timeseries import summary
        from gibbon_spark.sources.bucketed import read_gorilla_store

        with tracer.phase("bucketed.read", op):
            blocks = read_gorilla_store(
                spark, self.store, start_epoch=start, end_epoch=end
            ).localCheckpoint(eager=True)
        headers = np.array([r.header_time for r in blocks.select("header_time").collect()])
        tracer.totals["bucketed.blocks_read"] += len(headers)
        tracer.totals["bucketed.blocks_useful"] += int(
            ((headers + BLOCK_S > start) & (headers < end)).sum()
        )
        with tracer.phase("spark_ops.decode", op):
            rows = decode_timeseries(blocks).localCheckpoint(eager=True)
        with tracer.phase("queries.build", op):
            df = summary(rows.filter((F.col("ts") >= start) & (F.col("ts") < end)))
        tracer.catalyst(df, op)
        with tracer.phase("execute", op):
            return df.collect()[0].asDict()

    def kernel_rates(self, min_s: float = 0.5) -> dict[str, float]:
        """One-core rates of direct ``codec.gorilla`` calls on one landing
        batch (vectorized encode, per-block decode loop) and its exact
        payload bytes per sample."""
        from gibbon_spark.codec.gorilla import decode_block, encode_blocks_vectorized

        sl = self.data.batch_slice(0)
        ts, vals, sid = self.data.ts[sl], self.data.value[sl], self.data.series[sl]
        header = ts - (ts - START_EPOCH) % BLOCK_S
        is_start = np.ones(len(ts), dtype=bool)
        is_start[1:] = (sid[1:] != sid[:-1]) | (header[1:] != header[:-1])

        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < min_s:
            payloads, nbits, starts = encode_blocks_vectorized(ts, vals, header, is_start)
            reps += 1
        encode_rate = reps * len(ts) / (time.perf_counter() - t0)

        reps, t0 = 0, time.perf_counter()
        while reps == 0 or time.perf_counter() - t0 < min_s:
            decoded = 0
            for payload, nb, s in zip(payloads, nbits, starts):
                decoded += len(decode_block(bytes(payload), int(nb), int(header[s]))[0])
            reps += 1
        decode_rate = reps * decoded / (time.perf_counter() - t0)
        if decoded != len(ts):
            raise RuntimeError(f"decode_block returned {decoded} of {len(ts)} samples")
        return {
            "gorilla.encode_samples_per_s": encode_rate,
            "gorilla.decode_samples_per_s": decode_rate,
            "gorilla.payload_bytes_per_sample": sum(len(p) for p in payloads) / len(ts),
        }


def _count_parquet(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet"))
