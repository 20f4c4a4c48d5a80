"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's codecs are per-stream state machines (``Initial →
Following {value, delta}`` — ``timestamp_stream.rs:8-16``,
``double_stream.rs:14-20``): each arriving point is interpreted
relative to running per-series state. This module expresses that
pattern as a first-class streaming operator: a per-series running
tracker whose state (count / sum / min / max / last value / EMA)
survives across micro-batches in the state store and restores from the
checkpoint on restart.

Scale: state is O(1) per series, partitioned by the series key — the
same layout Gorilla keeps per-stream encoder state in memory, but
fault-tolerant and distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout

from gibbon_spark.worker import drop_spark_archives

OUTPUT_SCHEMA = (
    "series_id string, n_total long, sum_value double, min_value double, "
    "max_value double, last_value double, ema double"
)
STATE_SCHEMA = (
    "n_total long, sum_value double, min_value double, max_value double, "
    "last_value double, ema double"
)


def running_series_stats(
    stream: DataFrame, *, alpha: float = 0.2
) -> DataFrame:
    """Per-series running aggregates + exponential moving average,
    emitted once per micro-batch per active series.

    Input must have columns (series_id, ts, value) — e.g. from
    operators.timeseries.as_timeseries. The EMA is order-sensitive within
    a batch (rows are sorted by ts before folding), mirroring the
    codec's order-dependent state updates."""

    def track(key, pdf_iter, state):
        drop_spark_archives()
        import pandas as pd

        (series_id,) = key
        if state.exists:
            n, s, mn, mx, last, ema = state.get
        else:
            n, s, mn, mx, last, ema = 0, 0.0, None, None, None, None
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts", kind="mergesort")
            for v in pdf["value"]:
                v = float(v)
                n += 1
                s += v
                mn = v if mn is None else min(mn, v)
                mx = v if mx is None else max(mx, v)
                last = v
                ema = v if ema is None else alpha * v + (1 - alpha) * ema
        state.update((n, s, mn, mx, last, ema))
        yield pd.DataFrame(
            {
                "series_id": [series_id],
                "n_total": [n],
                "sum_value": [s],
                "min_value": [mn],
                "max_value": [mx],
                "last_value": [last],
                "ema": [ema],
            }
        )

    return stream.groupBy("series_id").applyInPandasWithState(
        track,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
