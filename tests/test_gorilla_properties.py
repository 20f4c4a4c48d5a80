"""Property-based round-trip tests for the Gorilla codec (hypothesis).

The reference pins the format with golden vectors and two fixed
fuzzers; these properties generalize that: ANY monotone-ish u64 second
sequence (dupes allowed, FIXTURES.md F6 'dupes') and ANY finite float64
sequence (including subnormals, signed zero, full-precision noise —
F6 'noisy doubles') must round-trip bit-exactly.
"""

from __future__ import annotations

import math
import struct

from hypothesis import given, settings
from hypothesis import strategies as st

from gibbon_spark.codec.gorilla import (
    BitReader,
    BitWriter,
    DoubleDecoder,
    DoubleEncoder,
    decode_block,
    encode_block,
)

finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, width=64
)

# increments: mostly small cadence, occasional large jumps, frequent dupes
increments = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=120),
        st.just(0),
        st.integers(min_value=0, max_value=100_000),
    ),
    min_size=1,
    max_size=60,
)


@given(first_offset=st.integers(min_value=0, max_value=7199), incs=increments, vals=st.lists(finite_doubles, min_size=1, max_size=60))
@settings(max_examples=150, deadline=None)
def test_block_roundtrip_property(first_offset, incs, vals):
    header = 1_600_000_000 - (1_600_000_000 % 7200)
    ts = [header + first_offset]
    for inc in incs:
        ts.append(ts[-1] + inc)
    n = min(len(ts), len(vals) + 1)
    # pair each timestamp with a value (recycle values if short)
    vs = [vals[i % len(vals)] for i in range(n)]
    ts = ts[:n]
    payload, nbits = encode_block(ts, vs, header)
    got_ts, got_vs = decode_block(payload, nbits, header)
    assert got_ts == ts
    # bit-exact float comparison (0.0 vs -0.0 and subnormals matter)
    assert [struct.pack("<d", v) for v in got_vs] == [
        struct.pack("<d", v) for v in vs
    ]


@given(st.lists(finite_doubles, min_size=1, max_size=120))
@settings(max_examples=200, deadline=None)
def test_double_stream_roundtrip_property(vals):
    w = BitWriter()
    e = DoubleEncoder()
    for v in vals:
        e.push(v, w)
    data, nbits = w.getvalue()
    d = DoubleDecoder()
    r = BitReader(data, nbits)
    got = []
    while (x := d.next(r)) is not None:
        got.append(x)
    assert len(got) == len(vals)
    for a, b in zip(got, vals):
        assert struct.pack("<d", a) == struct.pack("<d", b)


# batches of blocks: (header bucket no., first offset, increments, values)
block_batches = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10_000),
        st.integers(min_value=0, max_value=7199),
        increments,
        st.lists(finite_doubles, min_size=1, max_size=30),
    ),
    min_size=1,
    max_size=8,
)


def _flatten(blocks):
    """A drawn batch as the vectorized encoder's parallel row lists."""
    epochs, vals, hts, starts = [], [], [], []
    for bucket, off, incs, bvals in blocks:
        header = 7200 * bucket
        ts = [header + off]
        for inc in incs:
            ts.append(ts[-1] + inc)
        n = min(len(ts), len(bvals) + 1)
        for i in range(n):
            epochs.append(ts[i])
            vals.append(bvals[i % len(bvals)])
            hts.append(header)
            starts.append(i == 0)
    return epochs, vals, hts, starts


@given(blocks=block_batches)
@settings(max_examples=100, deadline=None)
def test_vectorized_encode_matches_scalar(blocks):
    """encode_blocks_vectorized (the distributed hot path) must be
    bit-identical to the scalar per-block codec for any batch of
    blocks, including dupes, every dod bucket, window reuse chains."""
    import numpy as np

    from gibbon_spark.codec.gorilla import encode_blocks_vectorized

    epochs, vals, hts, starts = _flatten(blocks)
    payloads, nbits, start_idx = encode_blocks_vectorized(
        np.array(epochs, dtype=np.int64),
        np.array(vals, dtype=np.float64),
        np.array(hts, dtype=np.int64),
        np.array(starts, dtype=bool),
    )
    ends = list(start_idx[1:]) + [len(epochs)]
    for k, (s, e) in enumerate(zip(start_idx, ends)):
        ref_payload, ref_nbits = encode_block(
            epochs[s:e], vals[s:e], hts[s]
        )
        assert payloads[k] == ref_payload
        assert int(nbits[k]) == ref_nbits


@given(blocks=block_batches)
@settings(max_examples=100, deadline=None)
def test_vectorized_decode_matches_scalar(blocks):
    """decode_blocks_vectorized (the distributed decode path) must give
    decode_block's timestamps and value bits for every block of a
    batch, in stream order, with each block's record count."""
    import numpy as np

    from gibbon_spark.codec.gorilla import decode_blocks_vectorized

    epochs, vals, hts, starts = _flatten(blocks)
    bounds = [i for i, s in enumerate(starts) if s] + [len(epochs)]
    spans = list(zip(bounds, bounds[1:]))
    payloads, nbits = zip(
        *(encode_block(epochs[s:e], vals[s:e], hts[s]) for s, e in spans)
    )
    headers = [hts[s] for s, _ in spans]
    ts, values, counts = decode_blocks_vectorized(payloads, nbits, headers)
    assert ts.dtype == np.int64 and values.dtype == np.float64
    got_ts, got_vals = [], []
    for payload, nb, header in zip(payloads, nbits, headers):
        t, v = decode_block(payload, nb, header)
        got_ts += t
        got_vals += v
    assert counts.tolist() == [e - s for s, e in spans]
    assert ts.tolist() == got_ts == epochs
    assert values.view(np.uint64).tolist() == [
        struct.unpack("<Q", struct.pack("<d", v))[0] for v in got_vals
    ]


def test_vectorized_decode_empty_input():
    from gibbon_spark.codec.gorilla import decode_blocks_vectorized

    ts, values, counts = decode_blocks_vectorized([], [], [])
    assert len(ts) == len(values) == len(counts) == 0
    assert (str(ts.dtype), str(values.dtype)) == ("int64", "float64")
    # blocks with no complete first record yield no samples
    ts, values, counts = decode_blocks_vectorized([b"", b"\x00"], [0, 13], [0, 7200])
    assert len(ts) == len(values) == 0 and counts.tolist() == [0, 0]


@given(st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=40),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=100, deadline=None)
def test_bit_writer_reader_roundtrip(values, width):
    """The bit layer itself (vec_stream.rs analog): arbitrary runs of
    width-limited values round-trip; EOS returns None."""
    w = BitWriter()
    masked = [v & ((1 << width) - 1) for v in values]
    for v in masked:
        w.write(v, width)
    data, nbits = w.getvalue()
    r = BitReader(data, nbits)
    for v in masked:
        assert r.read(width) == v
    assert r.read(1) is None
