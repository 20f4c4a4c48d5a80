"""Golden-bit parity with the reference codec (FIXTURES.md F2-F5).

The bit strings below are the reference's own inline test vectors
(src/double_stream.rs:166-330, src/time_and_value_stream.rs:55-162) —
they ARE the format spec. Our implementation must reproduce them
verbatim.
"""

from __future__ import annotations

import struct

import pytest

from gibbon_spark.codec.gorilla import (
    BitReader,
    BitWriter,
    DoubleDecoder,
    DoubleEncoder,
    TimestampDecoder,
    TimestampEncoder,
    decode_block,
    decode_blocks_vectorized,
    decode_values,
    encode_block,
    encode_blocks_vectorized,
    encode_values_vectorized,
)


def _ts_bits(values, header=0):
    w = BitWriter()
    e = TimestampEncoder(header)
    out = []
    for v in values:
        e.push(v, w)
        out.append(w.bit_string)
    return out


def _dbl_bits(values):
    w = BitWriter()
    e = DoubleEncoder()
    out = []
    for v in values:
        e.push(v, w)
        out.append(w.bit_string)
    return out


def _roundtrip_ts(values, header=0):
    w = BitWriter()
    e = TimestampEncoder(header)
    for v in values:
        e.push(v, w)
    data, nbits = w.getvalue()
    d = TimestampDecoder(header)
    r = BitReader(data, nbits)
    got = []
    while (x := d.next(r)) is not None:
        got.append(x)
    return got


def _roundtrip_dbl(values):
    w = BitWriter()
    e = DoubleEncoder()
    for v in values:
        e.push(v, w)
    data, nbits = w.getvalue()
    d = DoubleDecoder()
    r = BitReader(data, nbits)
    got = []
    while (x := d.next(r)) is not None:
        got.append(x)
    return got


# --- timestamp golden vectors (time_and_value_stream.rs:60-118) ---------


def test_ts_all_zeros_golden():
    assert _ts_bits([0, 0, 0, 0, 0]) == [
        "00000000000000",
        "000000000000000",
        "0000000000000000",
        "00000000000000000",
        "000000000000000000",
    ]


def test_ts_int_less_than_64_golden():
    # includes duplicate timestamps: delta 0, dod -1
    assert _ts_bits([1, 2, 3, 4, 4, 4, 6]) == [
        "00000000000001",
        "000000000000010",
        "0000000000000100",
        "00000000000001000",
        "00000000000001000100111110",
        "000000000000010001001111100",
        "000000000000010001001111100101000001",
    ]


def test_ts_int_all_steps_golden():
    # one case per dod bucket: 49 (7b), 150 (9b), 800 (12b), 9000 (32b)
    assert _ts_bits([1, 51, 251, 1251, 11251]) == [
        "00000000000001",
        "00000000000001101110000",
        "00000000000001101110000110110010101",
        "000000000000011011100001101100101011110101100011111",
        "000000000000011011100001101100101011110101100011111111100000000000000000010001100101000",
    ]


def test_ts_32bit_negative_dod_sign_extension_divergence():
    """Pin the DOCUMENTED DIVERGENCE from the reference (codec/gorilla.py
    module docstring; surfaced per-dataset by the registered query
    ts_dod_class_histogram.n_ref_garbles): a dod < −2047 encodes as the
    low 32 bits of its two's complement ('1111' class), and we DECODE it
    sign-extended, so the stream round-trips. The reference reads the
    same 32 bits as UNSIGNED with bias 0 (timestamp_stream.rs:100-103),
    reconstructing dod + 2^32 — off by exactly 4294967296 s — and
    garbles every subsequent timestamp of its own stream. The scenario
    is real: a 2-hour block header gap minus the cadence exceeds 2047 s
    whenever a series samples slower than ~every 2 s across a block
    boundary."""
    # cadence 3600 s, then one short 100 s delta: dod = -3500 < -2047
    ts = [0, 3600, 7200, 7300]
    assert _roundtrip_ts(ts) == ts  # sign-extended decode round-trips

    # what the reference's unsigned decode would reconstruct: the same
    # 32 encoded bits read with bias 0 give dod + 2^32
    dod = -3500
    encoded_32 = dod & 0xFFFFFFFF
    assert encoded_32 == dod + (1 << 32)
    ref_delta = (7300 - 7200) + (1 << 32) - (1 << 32)  # our decode: 100
    ref_garbled_delta = (7200 - 3600) + encoded_32  # reference: +2^32-3500
    assert ref_delta == 100
    assert ref_garbled_delta == 3600 + dod + (1 << 32)  # ≠ 100: garbled


def test_ts_bucket_boundaries_roundtrip():
    # dod at every bucket edge (FIXTURES.md F2); base 5000 keeps the
    # running delta positive so timestamps stay in u64 range
    header = 0
    ts, delta = [5000], 5000
    for dod in [0, 1, -1, -63, 64, -64, 65, -255, 256, -256, 257, -2047, 2048, -2048, 2049, 100000]:
        delta += dod
        ts.append(ts[-1] + delta)
    assert _roundtrip_ts(ts, header) == ts


# --- double golden vectors (double_stream.rs:172-266) --------------------


def test_dbl_all_zeros_golden():
    bits = _dbl_bits([0.0] * 5)
    assert bits[0] == "0" * 64
    assert bits[4] == "0" * 68


def test_dbl_new_window_golden():
    bits = _dbl_bits([0.0, 1.0])
    assert bits[1] == "0" * 64 + "11000100010011111111111"


def test_dbl_reuse_window_golden():
    bits = _dbl_bits([11.0, 10.0])
    assert bits[0] == "0100000000100110000000000000000000000000000000000000000000000000"
    assert (
        bits[1]
        == "01000000001001100000000000000000000000000000000000000000000000001000000000000001"
    )


def test_dbl_many_leading_decimals_golden():
    last_significant = struct.unpack("<d", struct.pack("<Q", 1))[0]
    bits = _dbl_bits([0.0, last_significant])
    assert bits[1] == (
        "0" * 64
        + "1111111100000000000000000000000000000000000001"
    )


def test_dbl_all_significant_bits_roundtrip():
    v = struct.unpack("<d", struct.pack("<Q", 0x8000000000000001))[0]
    assert _roundtrip_dbl([11.0, v]) == [11.0, v]


def test_dbl_read_aligned_64_regression():
    case = [-75.01536474599993, -75.00911189799993, 114.37647545700004]
    assert _roundtrip_dbl(case) == case


def test_dbl_fuzzer_1000():
    vals = [float(i) for i in range(1000)]
    assert _roundtrip_dbl(vals) == vals


def test_ts_fuzzer_1000():
    vals = list(range(1000))
    assert _roundtrip_ts(vals) == vals


# --- compound block (time_and_value_stream.rs:140-162 / FIXTURES F4) ----


def test_compound_block_roundtrip():
    ts = [10005, 10065, 10124, 10247, 10365]
    vs = [0.34, 0.35, 0.72, 0.42, 1.12]
    payload, nbits = encode_block(ts, vs, 10000)
    got_ts, got_vs = decode_block(payload, nbits, 10000)
    assert got_ts == ts
    assert got_vs == vs


def test_compound_rejects_bad_header():
    with pytest.raises(ValueError):
        encode_block([100], [1.0], 200)  # header after first ts


def test_compression_ratio_on_regular_series():
    # regular cadence + small ints — the reference's best case; must land
    # far under 16 B/row (measured 2.05 B/row on its own sample data)
    ts = [1496366523 + 60 * i for i in range(100)]
    vs = [float((i * 7) % 60) for i in range(100)]
    header = (1496366523 // 7200) * 7200
    payload, nbits = encode_block(ts, vs, header)
    assert len(payload) < 100 * 16 * 0.5
    got_ts, got_vs = decode_block(payload, nbits, header)
    assert got_ts == ts and got_vs == vs


# --- lead/trail variant (double_stream_lead_trail.rs:35-107) -------------
# The reference ships this writer-only, with NO tests and no decoder;
# the golden strings below are hand-derived from the writer's spec
# (control codes 0 / 10 / 11, 5-bit lz capped at 31, 6-bit meaningful-1,
# persistent window) and pin our implementation of that spec.

from gibbon_spark.codec.gorilla import (  # noqa: E402
    DoubleDecoderLeadTrail,
    DoubleEncoderLeadTrail,
)


def _lt_bits(values):
    w = BitWriter()
    e = DoubleEncoderLeadTrail()
    out = []
    for v in values:
        e.push(v, w)
        out.append(w.bit_string)
    return out


def _roundtrip_lt(values):
    w = BitWriter()
    e = DoubleEncoderLeadTrail()
    for v in values:
        e.push(v, w)
    data, nbits = w.getvalue()
    d = DoubleDecoderLeadTrail()
    r = BitReader(data, nbits)
    got = []
    while (x := d.next(r)) is not None:
        got.append(x)
    return got


def test_lt_first_value_raw_and_zero_xor_golden():
    bits = _lt_bits([0.0, 0.0, 0.0])
    assert bits[0] == "0" * 64
    assert bits[2] == "0" * 66  # two 1-bit repeats


def test_lt_first_change_opens_window_golden():
    # 1.0 = 0x3FF0000000000000: xor lz=2, tz=52, meaningful=10
    # '11' + lz=2 ('00010') + meaningful-1=9 ('001001') + 0x3FF ('1111111111')
    bits = _lt_bits([0.0, 1.0])
    assert bits[1] == "0" * 64 + "11" + "00010" + "001001" + "1111111111"


def test_lt_initial_window_forced_golden():
    # Unlike DoubleEncoder (whose implicit window comes from the first
    # value's own bits, giving '10'+14 bits here — see
    # test_dbl_reuse_window_golden), LeadTrail starts lz=64 and MUST
    # open an explicit window on the first change:
    # 11.0^10.0 = 0x0002000000000000: lz=14, tz=49, meaningful=1
    bits = _lt_bits([11.0, 10.0])
    assert bits[1].endswith("11" + "01110" + "000000" + "1")
    assert len(bits[1]) == 64 + 14


def test_lt_window_persists_across_repeat_golden():
    # THE behavioral divergence from the shrinking-window variant:
    # after a '0' (repeat) record the standing window survives, so the
    # next change that fits it takes 3 bits ('10' + 1 meaningful bit),
    # where DoubleEncoder's xor-state (0 after a repeat) would force a
    # full 14-bit '11' record.
    bits = _lt_bits([10.0, 11.0, 11.0, 10.0])
    r2 = "11" + "01110" + "000000" + "1"  # open window lz=14, mc=1
    assert bits[1] == bits[0] + r2
    assert bits[2] == bits[1] + "0"  # repeat keeps window
    assert bits[3] == bits[2] + "10" + "1"  # fit: 3 bits total


def test_lt_window_widens_on_misfit_golden():
    # 10.0 -> 12.0 after window (lz=14, mc=1): xor = 0x000C000000000000,
    # lz=12 < 14 -> new window, meaningful = 2, bits '11'
    bits = _lt_bits([11.0, 10.0, 12.0])
    assert bits[2] == bits[1] + "11" + "01100" + "000001" + "11"


def test_lt_roundtrip_cases():
    cases = [
        [0.0],
        [0.0, 1.0, 1.0, 0.5, -0.5],
        [11.0, 10.0, 12.0, 10.0, 11.0, 11.0],
        [-75.01536474599993, -75.00911189799993, 114.37647545700004],
        [float(i) * 0.1 for i in range(500)],
    ]
    for c in cases:
        assert _roundtrip_lt(c) == c


def test_lt_all_significant_bits_roundtrip():
    v = struct.unpack("<d", struct.pack("<Q", 0x8000000000000001))[0]
    assert _roundtrip_lt([11.0, v, 11.0]) == [11.0, v, 11.0]


def test_lt_lz_cap_31_roundtrip():
    # xor with >31 leading zeros must cap the stored lz at 31 ([LEADING31])
    a = struct.unpack("<d", struct.pack("<Q", 0x0000000100000000))[0]
    b = struct.unpack("<d", struct.pack("<Q", 0x0000000100000001))[0]
    assert _roundtrip_lt([a, b, a]) == [a, b, a]


def test_lt_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    finite = st.floats(allow_nan=False, allow_infinity=False)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(finite, min_size=1, max_size=50))
    def run(vals):
        assert _roundtrip_lt(vals) == vals

    run()


# --- truncated-stream EOS contract (round-4 ADVICE) ----------------------
# A stream cut mid-record must yield the decodable prefix then None —
# never a TypeError from a None flowing into integer arithmetic. The
# reference never hits this (its readers are length-framed), so this is
# a contract of OUR BitReader/decoder pairing: decode_values stops at
# the first None.


def _truncation_sweep(new_encoder, new_decoder, values):
    w = BitWriter()
    e = new_encoder()
    for v in values:
        e.push(v, w)
    data, nbits = w.getvalue()
    for cut in range(nbits + 1):
        d = new_decoder()
        r = BitReader(data, cut)
        got = []
        while (x := d.next(r)) is not None:  # must not raise
            got.append(x)
        assert got == values[: len(got)]  # decoded prefix is exact
    # and the untruncated stream still round-trips in the same sweep
    d = new_decoder()
    r = BitReader(data, nbits)
    got = []
    while (x := d.next(r)) is not None:
        got.append(x)
    assert got == values


def test_dbl_truncated_stream_returns_none():
    # exercises: raw first value, repeat, reuse-window, new-window records
    _truncation_sweep(DoubleEncoder, DoubleDecoder, [11.0, 11.0, 10.0, 10.5, -3.25])


def test_lt_truncated_stream_returns_none():
    _truncation_sweep(
        DoubleEncoderLeadTrail, DoubleDecoderLeadTrail, [11.0, 11.0, 10.0, 10.5, -3.25]
    )


def test_ts_truncated_stream_returns_none():
    # exercises: the first delta, then dods of 55, 0, 3815, -3874,
    # 95998, 200 and 1500 (every field width: 0, 7, 32, 9 and 12 bits)
    _truncation_sweep(
        lambda: TimestampEncoder(0),
        lambda: TimestampDecoder(0),
        [5, 65, 125, 4000, 4001, 100000, 196199, 293898],
    )


# --- vectorized value-only encoders: bit identity with the scalar classes


def _vec_equiv_sweep(policy, cls):
    import numpy as np

    from gibbon_spark.codec.gorilla import decode_values, encode_values_vectorized

    from hypothesis import given, settings
    from hypothesis import strategies as st

    finite = st.floats(allow_nan=False, allow_infinity=False)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.lists(finite, min_size=1, max_size=30), min_size=1, max_size=5))
    def run(blocks):
        flat = [v for b in blocks for v in b]
        is_start = []
        for b in blocks:
            is_start += [True] + [False] * (len(b) - 1)
        payloads, nbits, start_idx = encode_values_vectorized(
            np.array(flat), np.array(is_start), policy
        )
        assert len(payloads) == len(blocks)
        for i, b in enumerate(blocks):
            w = BitWriter()
            e = cls()
            for v in b:
                e.push(float(v), w)
            data, nb = w.getvalue()
            assert payloads[i] == data and int(nbits[i]) == nb
            assert decode_values(payloads[i], int(nbits[i]), policy) == b

    run()


def test_vectorized_values_xor_bit_identity():
    _vec_equiv_sweep("xor", DoubleEncoder)


def test_vectorized_values_leadtrail_bit_identity():
    _vec_equiv_sweep("leadtrail", DoubleEncoderLeadTrail)


# --- vectorized encoders: input edge cases


def test_vectorized_encoders_empty_input():
    for payloads, nbits, start_idx in (
        encode_blocks_vectorized([], [], [], []),
        encode_values_vectorized([], [], "xor"),
        encode_values_vectorized([], [], "leadtrail"),
    ):
        assert payloads == [] and len(nbits) == 0 and len(start_idx) == 0


@pytest.mark.parametrize("offset", [-1, (1 << 14) + 1])
def test_vectorized_encode_rejects_first_delta_like_scalar(offset):
    """A first delta outside [0, 2^14] in ANY block of the batch (here
    the second) raises the same ValueError as encode_block."""
    header = 7200 * 1000
    ts = [header + offset, header + offset + 60]
    with pytest.raises(ValueError, match="first delta") as scalar:
        encode_block(ts, [1.0, 2.0], header)
    with pytest.raises(ValueError, match="first delta") as vec:
        encode_blocks_vectorized(
            [header - 7200, *ts],
            [0.5, 1.0, 2.0],
            [header - 7200, header, header],
            [True, True, False],
        )
    assert str(vec.value) == str(scalar.value)


@pytest.mark.parametrize("offset", [0, 1 << 14])
def test_vectorized_encode_first_delta_bounds_match_scalar(offset):
    header = 7200 * 1000
    ts = [header + offset, header + offset + 60, header + offset + 60]
    payloads, nbits, _ = encode_blocks_vectorized(
        ts, [1.0, 2.0, 2.0], [header] * 3, [True, False, False]
    )
    assert (payloads[0], int(nbits[0])) == encode_block(ts, [1.0, 2.0, 2.0], header)


def test_vectorized_values_unknown_policy_raises():
    with pytest.raises(ValueError, match="unknown policy"):
        encode_values_vectorized([1.0, 2.0], [True, False], "shrinking")


# --- vectorized decode: a cut stream stops where decode_block stops


def _marked_block():
    """A 4-record block (repeat, reuse and new-window values) and, per
    record, the bit offsets where its timestamp and its value end."""
    header = 7200 * 1000
    ts = [header + 5, header + 65, header + 125, header + 4000]
    vals = [1.0, 1.5, 1.5, -3.25]
    w = BitWriter()
    te, de = TimestampEncoder(header), DoubleEncoder()
    marks = []
    for t, v in zip(ts, vals):
        te.push(t, w)
        ts_end = w.nbits
        de.push(v, w)
        marks.append((ts_end, w.nbits))
    payload, _ = w.getvalue()
    return header, ts, payload, marks


def _decode_both(payload, cut, header):
    """decode_block per block and decode_blocks_vectorized over a batch
    of an intact block, the cut block and another intact block. Each
    outcome is the flat (timestamps, value bits), or the ValueError's
    message."""
    h2 = header + 7200
    other, other_nbits = encode_block([h2, h2 + 60], [2.0, 2.5], h2)
    batch = (
        [other, payload, other],
        [other_nbits, cut, other_nbits],
        [h2, header, h2],
    )

    def scalar():
        ts, vs = [], []
        for p, nb, h in zip(*batch):
            t, v = decode_block(p, nb, h)
            ts += t
            vs += v
        return ts, [struct.pack("<d", v) for v in vs]

    def vector():
        ts, vs, _ = decode_blocks_vectorized(*batch)
        return ts.tolist(), [struct.pack("<d", v) for v in vs.tolist()]

    out = []
    for fn in (scalar, vector):
        try:
            out.append(fn())
        except ValueError as e:
            out.append(str(e))
    return out


def test_vectorized_decode_cut_mid_value_raises_like_scalar():
    """A timestamp with no value after it raises decode_block's
    ValueError: any cut inside the raw first value, and a cut right
    after a later timestamp record."""
    header, _, payload, marks = _marked_block()
    (ts0_end, v0_end), *rest = marks
    cuts = list(range(ts0_end, v0_end)) + [ts_end for ts_end, _ in rest]
    for cut in cuts:
        scalar, vector = _decode_both(payload, cut, header)
        assert scalar == "value truncated: timestamp without value", cut
        assert vector == scalar, cut


def test_vectorized_decode_cut_after_value_yields_scalar_prefix():
    header, ts, payload, marks = _marked_block()
    for k, (_, v_end) in enumerate(marks):
        scalar, vector = _decode_both(payload, v_end, header)
        assert vector == scalar
        assert vector[0][2 : 3 + k] == ts[: k + 1]  # after the 2-record block


def test_vectorized_decode_every_cut_matches_scalar():
    """Every n_bits from 0 to the payload's last bit: the same samples,
    or the same ValueError."""
    header, _, payload, _ = _marked_block()
    for cut in range(len(payload) * 8 + 1):
        scalar, vector = _decode_both(payload, cut, header)
        assert vector == scalar, cut


def test_vectorized_decode_rejects_records_past_the_payload():
    header, _, payload, _ = _marked_block()
    nbits = len(payload) * 8 + 40
    with pytest.raises(ValueError, match="past the end"):
        decode_block(payload, nbits, header)
    with pytest.raises(ValueError, match="past the end"):
        decode_blocks_vectorized([payload], [nbits], [header])
    # the value-only decoder and the reader itself give the same message
    for policy in ("xor", "leadtrail"):
        with pytest.raises(ValueError, match="past the end"):
            decode_values(b"\0" * 8, 100, policy)
    with pytest.raises(ValueError, match="past the end"):
        BitReader(b"\0", 100).read(20)


def test_long_streams_decode_alike():
    """One 10k-sample block, ten times the longest stream any other test
    decodes: decode_block and decode_blocks_vectorized give the same
    samples, and decode_values gives back the input bits under both
    policies. Timestamp steps reach every dod bucket; values mix
    repeats, small moves and random bit patterns."""
    import random

    import numpy as np

    rng = random.Random(10)
    header = 7200 * 1000
    ts, vals = [header + 3], [20.0]
    for _ in range(9_999):
        ts.append(ts[-1] + rng.choice([0, 1, 60, 60, 61, 300, 3000]))
        vals.append(
            rng.choice(
                [
                    vals[-1],
                    round(vals[-1] + rng.uniform(-1, 1), 2),
                    float(np.frombuffer(rng.randbytes(8))[0]),
                ]
            )
        )
    bits = np.array(vals).view(np.uint64).tolist()

    payload, nbits = encode_block(ts, vals, header)
    got_ts, got_vals = decode_block(payload, nbits, header)
    assert got_ts == ts
    assert np.array(got_vals).view(np.uint64).tolist() == bits
    vec_ts, vec_vals, counts = decode_blocks_vectorized([payload], [nbits], [header])
    assert counts.tolist() == [len(ts)]
    assert vec_ts.tolist() == ts
    assert vec_vals.view(np.uint64).tolist() == bits

    is_start = np.zeros(len(vals), dtype=bool)
    is_start[0] = True
    for policy in ("xor", "leadtrail"):
        (p,), (nb,), _ = encode_values_vectorized(vals, is_start, policy)
        got = decode_values(p, int(nb), policy)
        assert np.array(got).view(np.uint64).tolist() == bits, policy


def test_codec_module_imports_only_stdlib_and_numpy():
    """The codec runs and is tested without Spark, so the module must
    not import the engine or pyspark."""
    import ast
    import sys
    from pathlib import Path

    from gibbon_spark.codec import gorilla

    roots = set()
    for node in ast.walk(ast.parse(Path(gorilla.__file__).read_text())):
        if isinstance(node, ast.Import):
            roots |= {alias.name.split(".")[0] for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"relative import of {node.module}"
            roots.add(node.module.split(".")[0])
    assert roots - {"numpy"} <= sys.stdlib_module_names, sorted(roots)
