"""DuckDB SQL replay of the Gorilla encoders' bit accounting.

Turns the two codec-measurement queries (``codec_xoror_bits``,
``gorilla_compression_ratio``) from rows-only into hash-exact: the
oracle recomputes the EXACT per-record bit costs of the reference's
encoders (``double_stream.rs:33-82``, ``double_stream_lead_trail.rs:
35-107``, ``timestamp_stream.rs:29-67``) in pure SQL, independently of
the Python/numpy codec.

Mechanics:

- Bit reinterpretation: DuckDB's ``DOUBLE::BIT`` cast yields the
  IEEE-754 bit string; ``position('1' IN s)`` / ``reverse`` give exact
  leading/trailing-zero counts (no float-log2 boundary hazards).
- The per-series XOR-window state machines are sequential folds.
  DuckDB's ``list_reduce`` evaluates them — but its STRUCT accumulator
  is miscompiled for persistent state in grouped queries (observed on
  DuckDB 1.0: ~20% of series folded with a partially-updated
  accumulator, wrong by 11 bits per affected record, while a plain
  BIGINT accumulator folds correctly on the identical lists). Both
  folds therefore pack their state into ONE BIGINT:
  ``acc = total_bits * 2^16 + state_hi * 2^8 + state_lo`` where state is
  (prev_lz, prev_tz) for the shrinking-window policy and
  (window_lz, window_tz) for the persistent-window policy. Elements
  pack ``lzc * 2^16 + lzr * 2^8 + tze``; each series' first element is
  the fold seed (64 header bits + the policy's initial state).
- The timestamp delta-of-delta costs are STATELESS given the dod
  (1 / 9 / 12 / 16 / 36 bits, ``timestamp_stream.rs:29-67``), so they
  are plain window functions — no fold needed.

Validated bit-exact against the Spark registry results at sf0.001,
sf0.01 and sf0.1; re-check with
``python tools/oracle_check.py <sf_dir> codec_xoror_bits gorilla_compression_ratio``.
"""

from __future__ import annotations


def xor_fold_sql(source: str, key: str, order: str) -> str:
    """CTE chain computing per-series value-stream bit totals under BOTH
    xor-window policies. ``source`` must expose ``{key}`` plus a DOUBLE
    column ``v`` and the ``order`` columns. Exposes CTE ``ser`` with
    columns (k, n_values, xor_bits, leadtrail_bits)."""
    return f"""
    b AS (
      SELECT {key} AS k,
             row_number() OVER w AS rn,
             (v)::BIT AS bits,
             lag((v)::BIT) OVER w AS prev
      FROM {source}
      WINDOW w AS (PARTITION BY {key} ORDER BY {order})
    ),
    g AS (
      SELECT k, rn, (prev IS NULL) AS is_first,
             (CASE WHEN prev IS NULL THEN bits ELSE xor(bits, prev) END)::VARCHAR AS s
      FROM b
    ),
    lzs AS (
      SELECT k, rn, is_first,
        (CASE WHEN position('1' IN s) = 0 THEN 64 ELSE position('1' IN s) - 1 END)::BIGINT AS lzr,
        (CASE WHEN position('1' IN s) = 0 THEN 0 ELSE position('1' IN reverse(s)) - 1 END)::BIGINT AS tze
      FROM g
    ),
    el AS (
      SELECT k, rn,
        CASE WHEN is_first THEN 64::BIGINT * 65536 + lzr * 256 + tze
             ELSE least(lzr, 31) * 65536 + lzr * 256 + tze END AS ex,
        CASE WHEN is_first THEN 64::BIGINT * 65536 + 64 * 256 + 0
             ELSE least(lzr, 31) * 65536 + lzr * 256 + tze END AS el_
      FROM lzs
    ),
    ser AS (
      SELECT k, count(*) AS n_values,
        list_reduce(list(ex ORDER BY rn), (acc, x) ->
          (acc // 65536 + CASE
             WHEN (x // 256) % 256 = 64 THEN 1
             WHEN x // 65536 >= (acc // 256) % 256 AND x % 256 >= acc % 256
               THEN 2 + (64 - (acc % 256) - ((acc // 256) % 256))
             ELSE 13 + (64 - x % 256 - x // 65536)
           END) * 65536 + x % 65536
        ) // 65536 AS xor_bits,
        list_reduce(list(el_ ORDER BY rn), (acc, x) ->
          CASE WHEN (x // 256) % 256 = 64 THEN acc + 65536
               WHEN x // 65536 >= (acc // 256) % 256 AND x % 256 >= acc % 256
                 THEN acc + (2 + (64 - (acc % 256) - ((acc // 256) % 256))) * 65536
               ELSE (acc + (13 + (64 - x % 256 - x // 65536)) * 65536)
                    - (acc % 65536) + (x // 65536) * 256 + (x % 256)
          END
        ) // 65536 AS leadtrail_bits
      FROM el GROUP BY k
    )
    """


CODEC_XOROR_BITS_ORACLE = (
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, value::DOUBLE AS v FROM events
    ),
    """
    + xor_fold_sql("ev", "user_id", "ts, event_id")
    + """
    , agg AS (
      SELECT count(*) AS n_series,
             CAST(sum(n_values) AS BIGINT) AS n_values,
             CAST(sum(xor_bits) AS BIGINT) AS xor_total_bits,
             CAST(sum(leadtrail_bits) AS BIGINT) AS leadtrail_total_bits
      FROM ser
    )
    SELECT n_series, n_values, xor_total_bits, leadtrail_total_bits,
           round(xor_total_bits / n_values + 1e-9, 4) AS xor_bits_per_sample,
           round(leadtrail_total_bits / n_values + 1e-9, 4)
             AS leadtrail_bits_per_sample,
           CASE WHEN xor_total_bits < leadtrail_total_bits THEN 'xor'
                WHEN leadtrail_total_bits < xor_total_bits THEN 'leadtrail'
                ELSE 'tie' END AS winner,
           round(
             (greatest(xor_total_bits / n_values, leadtrail_total_bits / n_values)
              - least(xor_total_bits / n_values, leadtrail_total_bits / n_values))
             / greatest(xor_total_bits / n_values, leadtrail_total_bits / n_values)
             * 100 + 1e-9, 4) AS winner_margin_pct
    FROM agg
    """
)


GORILLA_RATIO_ORACLE = (
    """
    WITH ev AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ep,
             value::DOUBLE AS v
      FROM events
    ),
    blk AS (
      SELECT user_id, ep, v, ep - (ep % 7200) AS ht FROM ev
    ),
    ts_cost AS (
      SELECT user_id, ht,
             sum(CASE
               WHEN rn = 1 THEN 14
               WHEN dod = 0 THEN 1
               WHEN dod BETWEEN -63 AND 64 THEN 9
               WHEN dod BETWEEN -255 AND 256 THEN 12
               WHEN dod BETWEEN -2047 AND 2048 THEN 16
               ELSE 36
             END) AS ts_bits
      FROM (
        SELECT user_id, ht, rn,
               delta - lag(delta, 1, first_delta) OVER w2 AS dod
        FROM (
          SELECT user_id, ht, ep, rn,
                 ep - lag(ep, 1, ht) OVER w AS delta,
                 first_value(ep) OVER w - ht AS first_delta
          FROM (
            SELECT user_id, ht, ep,
                   row_number() OVER (PARTITION BY user_id, ht ORDER BY ep) AS rn
            FROM blk
          )
          WINDOW w AS (PARTITION BY user_id, ht ORDER BY rn)
        )
        WINDOW w2 AS (PARTITION BY user_id, ht ORDER BY rn)
      )
      GROUP BY user_id, ht
    ),
    vs AS (
      SELECT user_id || '|' || ht AS bk, ep AS o1, v FROM blk
    ),
    """
    # order mirrors the engine's total encode sort (epoch, value): epoch
    # is second-truncated, so sub-second points can collide on it (16
    # collisions at sf1); the value tiebreak makes both sides total
    + xor_fold_sql("vs", "bk", "o1, v")
    + """
    , blocks AS (
      SELECT t.user_id, t.ht, v.n_values, t.ts_bits + v.xor_bits AS bits
      FROM ts_cost t
      JOIN ser v ON v.k = t.user_id || '|' || t.ht
    )
    SELECT CAST(sum(n_values) AS BIGINT) AS rows,
           CAST(sum((bits + 7) // 8) AS BIGINT) AS compressed_bytes,
           CAST(sum(n_values) * 16 AS BIGINT) AS raw_bytes,
           round(100.0 * sum((bits + 7) // 8) / (sum(n_values) * 16) + 1e-9, 2)
             AS ratio_pct
    FROM blocks
    """
)
