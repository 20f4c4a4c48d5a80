"""Finite availableNow replays — the engine's single streaming-replay
harness. Every streaming query in the registry builds its plan over
:func:`events_stream` and hands it to :func:`replay`, which runs it to
completion and returns the output as an ordinary batch DataFrame, so the
gate can hash it against the batch oracle.

Width rule. Structured Streaming fixes the state-store partition count
from ``spark.sql.shuffle.partitions`` at query START and keeps it for the
checkpoint's lifetime. The session default (sized for batch scans on the
whole machine) gives every stateful operator that many stores and
per-trigger tasks — pure overhead when a replay's state is a few
thousand keys. :func:`replay` pins ~2 MB of compressed ``events.parquet``
per state partition (≈12 MB raw — a few hundred thousand session/agg
keys), floored at 8 (below that the per-store fixed overhead dominates:
8 → 2.8 s vs 32 → 8-15 s on the sf0.1 stream-stream join) and capped at
the session's core count (a fixed 8 starved the sf3 session build 2x,
16.4 s vs 7.8 s at 32). The caller's value is restored once the query
has terminated.

Emission rule. Each ``foreachBatch`` micro-batch is pinned with
``materialize(bdf, eager=True)``, so the checkpoint mode decides where
the emitted rows live, as at every other materialize site: ``local`` →
executor block storage (``localCheckpoint``); ``reliable`` → a durable
RDD checkpoint in ``spark.gibbon.checkpoint.dir``. Either way the rows
are pinned, because a ``foreachBatch`` frame cannot be re-run after its
batch commits. ``complete`` mode returns the LAST emission
(each is the full result); ``append``/``update`` return the union of the
emissions (disjoint deltas / per-key updates that downstream
reconciliation folds). A batch is appended only after its eager
checkpoint completes, so a half-finished batch is never read.

Timeout contract. A replay that has not terminated after
:data:`TIMEOUT_S` seconds is stopped and raises :class:`TimeoutError`
carrying the query's ``lastProgress`` — a partial result is never
returned as if the run succeeded.

After termination the finished run's loaded state-store providers are
unloaded: the provider cache is per-JVM and otherwise holds every dead
replay's state maps until a maintenance sweep, measured as a multi-x
slowdown of later replays in one session.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gibbon_spark.materialize import materialize
from gibbon_spark.session import pin_shuffle_partitions
from gibbon_spark.sources.tables import nanos_ts_to_micros, raw_schema

TIMEOUT_S = 300


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events table, normalized by the batch
    loader's own ``sources.tables.nanos_ts_to_micros`` (a TIMESTAMP(NANOS)
    ``ts`` arrives as a long under nanosAsLong and becomes a microsecond
    timestamp; one already read as a timestamp passes through). Pins the
    session to UTC like the batch queries' ``_prep``."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return nanos_ts_to_micros(stream, "events")


def replay(df: DataFrame, sf_dir: str, *, mode: str) -> DataFrame:
    """Run the streaming plan ``df`` as an availableNow query in output
    ``mode`` and return its pinned output (see module docstring)."""
    spark = df.sparkSession
    try:
        size = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    except OSError:
        size = 0
    cpus = spark.sparkContext.defaultParallelism
    width = min(max(8, size // (2 << 20)), max(8, cpus))

    batches: list[DataFrame] = []

    def _emit(bdf: DataFrame, _bid: int) -> None:
        batches.append(materialize(bdf, eager=True))

    with pin_shuffle_partitions(spark, width):
        q = (
            df.writeStream.foreachBatch(_emit)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(TIMEOUT_S)
        if not finished:
            progress = q.lastProgress
            q.stop()
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # internal API — if it moves, we only lose the eager unload
    if not finished:
        raise TimeoutError(
            f"availableNow replay did not finish within {TIMEOUT_S} s; "
            f"last progress: {progress}"
        )
    if not batches:
        return spark.createDataFrame([], df.schema)
    if mode == "complete":
        return batches[-1]
    out = batches[0]
    for b in batches[1:]:
        out = out.unionAll(b)
    return out
