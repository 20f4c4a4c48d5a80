"""Shared-subtree materialization — the engine's single checkpoint
control point.

Many plans feed one computed frame into several consumers (a shingle
table read by both the banded join and the exact verify; a user-level
aggregate read by a global-moment pass and an adjustment join). Without
a materialization each consumer replays the subtree's scan + shuffles.
Every such site in the engine calls :func:`materialize` instead of
``DataFrame.localCheckpoint`` directly, so the storage strategy is a
deployment decision, not a choice repeated at every call site:

* ``local`` (default) — ``localCheckpoint``: blocks on executor local
  storage, zero extra infra. Right for local[*] and for short jobs
  where recompute-on-executor-loss is acceptable. NOT fault-tolerant:
  the blocks are unreplicated executor state, so on a 1000-executor
  cluster a single executor loss fails the job instead of recomputing
  lineage.
* ``reliable`` — ``DataFrame.checkpoint`` into a durable checkpoint
  dir (HDFS/S3/...). The production setting for 100-TB runs: blocks
  survive executor loss. Set the dir via ``spark.gibbon.checkpoint.dir``
  (or pre-set ``sparkContext.setCheckpointDir``).

The mode comes only from the Spark conf ``spark.gibbon.checkpoint.mode``
(unset → ``local``); any other value raises. Materialization is part
of correctness, not only of cost: plans that join consumers on
``spark_partition_id()`` after a ``repartitionByRange``
(global_running_sum, q_abtest_ks_distance, q_revenue_concentration)
rely on the checkpoint to pin the range exchange's sampled boundaries,
and the dedup verify's hash-injectivity proof relies on it to pin the
shingle table it probed.

Results are mode-invariant by construction — the two modes change WHERE
blocks live, never values — pinned by tests/test_materialize.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MODE_CONF = "spark.gibbon.checkpoint.mode"
DIR_CONF = "spark.gibbon.checkpoint.dir"


_VALID_MODES = frozenset({"local", "reliable"})


def _mode(df: DataFrame) -> str:
    mode = df.sparkSession.conf.get(MODE_CONF, "local")
    # a typo must fail loudly, not silently run the non-durable 'local'
    # arm for a deployment that asked for 'reliable'
    if mode not in _VALID_MODES:
        raise ValueError(
            f"invalid checkpoint mode {mode!r} (from {MODE_CONF}); "
            f"expected one of {sorted(_VALID_MODES)}"
        )
    return mode


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize a multi-consumer subtree once (see module docstring).

    ``eager=False`` defers the cut to the first action — right when the
    frame may be consumed zero times on some code paths; ``eager=True``
    forces it now — right when the caller is about to fan out and wants
    the cost attributed up front (e.g. iterative loops pinning each
    round's frontier).
    """
    if _mode(df) == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            ckpt_dir = df.sparkSession.conf.get(DIR_CONF, None)
            if not ckpt_dir:
                raise ValueError(
                    f"checkpoint mode 'reliable' needs {DIR_CONF} "
                    "(or a pre-set sparkContext checkpoint dir)"
                )
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
