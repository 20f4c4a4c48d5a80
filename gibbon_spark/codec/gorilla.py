"""Bit-exact Gorilla stream codec — fresh Python implementation of the
format the reference library defines (SURVEY.md §2.1 #4-#12).

Format spec (documented from reference behavior; no code ported):

Timestamps (``src/timestamp_stream.rs:29-67``):
- first record: 14-bit unsigned delta from a 2-hour-aligned header time
  (delta must be in [0, 2^14]);
- then delta-of-delta buckets: ``0`` if dod == 0; ``10`` + 7 bits
  (dod+63) for dod in [-63, 64]; ``110`` + 9 bits (dod+255) for
  [-255, 256]; ``1110`` + 12 bits (dod+2047) for [-2047, 2048]; else
  ``1111`` + the low 32 bits of dod (two's-complement truncation).
  DOCUMENTED DIVERGENCE: the reference decodes the 32-bit case as
  *unsigned* (``timestamp_stream.rs:100-103`` — bias 0), so a negative
  dod beyond -2047 garbles its own stream (hit whenever the 2-h header
  gap minus the cadence exceeds 2047 s). We sign-extend on decode —
  bit format identical, every reference golden vector (all with
  non-negative 32-bit dods) still matches, and the stream round-trips;
- decode uses wrapping 64-bit adds (``timestamp_stream.rs:88,106``), so
  negative deltas (equal/duplicate timestamps) round-trip.

Doubles (``src/double_stream.rs:33-82``, the shrinking-window
``[XORORLEADING]`` variant):
- first record: raw 64 IEEE-754 bits;
- xor == 0 → ``0`` (1 bit); writer state's xor becomes 0, which forces
  the next non-repeat to open a new window (lz(0)=64 window is
  unsatisfiable);
- window reuse (``10``): if lz(xor) [capped at 31, ``[LEADING31]``]
  >= lz(prev_xor) and tz(xor) >= tz(prev_xor), write the xor shifted by
  prev_tz in (64 - prev_lz - prev_tz) bits;
- new window (``11``): 5 bits lz (capped 31) + 6 bits (meaningful-1,
  ``[MEANING64]``) + meaningful bits, meaningful = 64 - tz - capped_lz.

Compound stream (``src/time_and_value_stream.rs:20-23``): one timestamp
record then one value record per point, interleaved.

Bit order: first-written bit is the MSB of the first byte (matches the
reference's golden bit-string tests, which are asserted verbatim in
tests/test_gorilla_codec.py).

Layout, in file order, with the tests that pin each part:
- scalar reference: BitWriter/BitReader, one encoder and one decoder
  class per record kind, and ``encode_block``, ``decode_block`` and
  ``decode_values``, which only drive those classes over one stream:
  golden bit strings in tests/test_gorilla_codec.py, round trips in
  tests/test_gorilla_properties.py;
- array kernels ``_bitlen``, ``_value_fields`` and ``_pack`` behind the
  two ``encode_*_vectorized`` encoders: bit identity with the scalar
  reference in both files;
- ``decode_blocks_vectorized``, the lockstep array decoder of many
  blocks: identity with ``decode_block`` in both files, including every
  truncation point of a block (tests/test_gorilla_codec.py).

The module imports only the stdlib (plus numpy inside the array
kernels), so the codec runs and is tested without Spark.
"""

from __future__ import annotations

import struct
from functools import partial

_U64 = (1 << 64) - 1

# The error every decoder raises for a corrupt block whose records run
# past its payload bytes.
_PAST_END = "record runs past the end of its payload"

# bound once: a field read or a float conversion is a few hundred ns,
# and the attribute lookups would be a third of it. No struct.Struct:
# UDFs pickle this module by value, and a Struct does not pickle.
_from_bytes = int.from_bytes
_unpack = struct.unpack

# Width of one block: header times are epoch seconds aligned to it.
BLOCK_SECONDS = 7200


class BitWriter:
    """Append-only bit sink; O(1) amortized per write."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0
        self.nbits = 0

    def write(self, value: int, count: int) -> None:
        """Append the ``count`` least-significant bits of ``value``,
        most-significant of those first (Writer contract, stream.rs:1-4)."""
        self.acc = (self.acc << count) | (value & ((1 << count) - 1))
        self.nacc += count
        self.nbits += count
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def getvalue(self) -> tuple[bytes, int]:
        """(payload, total bit count); trailing partial byte zero-padded."""
        out = bytes(self.buf)
        if self.nacc:
            out += bytes([(self.acc << (8 - self.nacc)) & 0xFF])
        return out, self.nbits

    @property
    def bit_string(self) -> str:
        data, nbits = self.getvalue()
        return "".join(f"{b:08b}" for b in data)[:nbits]


class BitReader:
    """Forward-only bit cursor; returns None at end-of-stream
    (Reader contract, stream.rs:6-8). A read reaching past ``data``
    itself, where ``nbits`` claims more bits than it holds, raises
    ``ValueError``."""

    __slots__ = ("data", "nbits", "pos", "_stop")

    def __init__(self, data: bytes, nbits: int) -> None:
        self.data = data
        self.nbits = nbits
        self.pos = 0
        self._stop = min(nbits, len(data) << 3)  # reads up to here succeed

    def read(self, count: int) -> int | None:
        pos = self.pos
        end = pos + count
        if end > self._stop:
            if end > self.nbits:
                return None
            raise ValueError(_PAST_END)
        self.pos = end
        # only the bytes the field covers, so a read costs the same at
        # any payload length; a control bit is one byte's shift
        if count == 1:
            return (self.data[pos >> 3] >> (~pos & 7)) & 1
        word = _from_bytes(self.data[pos >> 3 : (end + 7) >> 3], "big")
        return (word >> (-end & 7)) & ((1 << count) - 1)


def _lz64(x: int) -> int:
    return 64 - x.bit_length() if x else 64


def _tz64(x: int) -> int:
    return (x & -x).bit_length() - 1 if x else 0


class TimestampEncoder:
    def __init__(self, header_time: int) -> None:
        self.header_time = header_time
        self.prev: int | None = None
        self.delta = 0

    def push(self, ts: int, w: BitWriter) -> None:
        if self.prev is None:
            delta = ts - self.header_time
            if not (0 <= delta <= (1 << 14)):
                raise ValueError(
                    f"first delta {delta} outside [0, 2^14] — header_time "
                    "must be the 2h-aligned floor of the first timestamp"
                )
            w.write(delta, 14)
            self.delta = delta
        else:
            delta = ts - self.prev  # may be negative (dupes ok)
            dod = delta - self.delta
            if dod == 0:
                w.write(0, 1)
            elif -63 <= dod <= 64:
                w.write(0b10, 2)
                w.write(dod + 63, 7)
            elif -255 <= dod <= 256:
                w.write(0b110, 3)
                w.write(dod + 255, 9)
            elif -2047 <= dod <= 2048:
                w.write(0b1110, 4)
                w.write(dod + 2047, 12)
            else:
                w.write(0b1111, 4)
                w.write(dod & 0xFFFFFFFF, 32)
            self.delta = delta
        self.prev = ts


# dod field (width, bias) by the number of leading ones of a timestamp
# record's control prefix (see TimestampEncoder.push)
_TS_DOD = ((0, 0), (7, 63), (9, 255), (12, 2047), (32, 0))


class TimestampDecoder:
    __slots__ = ("header_time", "value", "delta")

    def __init__(self, header_time: int) -> None:
        self.header_time = header_time
        self.value: int | None = None
        self.delta = 0

    def next(self, r: BitReader) -> int | None:
        """The next timestamp; None at the end, also inside a record."""
        read = r.read
        if self.value is None:
            delta = read(14)
            if delta is None:
                return None
            self.value = (self.header_time + delta) & _U64
            self.delta = delta
            return self.value
        ones = 0
        while ones < 4:
            bit = read(1)
            if bit is None:
                return None
            if not bit:
                break
            ones += 1
        if ones:
            nbits, bias = _TS_DOD[ones]
            dod = read(nbits)
            if dod is None:
                return None
            dod -= bias
            if nbits == 32 and dod >= (1 << 31):  # sign-extend (see module doc)
                dod -= 1 << 32
            self.delta += dod
        self.value = (self.value + self.delta) & _U64
        return self.value


class DoubleEncoder:
    def __init__(self) -> None:
        self.value: int | None = None
        self.xor = 0

    def push(self, number: float, w: BitWriter) -> None:
        bits = struct.unpack("<Q", struct.pack("<d", number))[0]
        if self.value is None:
            w.write(bits, 64)
            self.value, self.xor = bits, bits
            return
        xored = self.value ^ bits
        if xored == 0:
            w.write(0, 1)
        else:
            lz = min(_lz64(xored), 31)
            tz = _tz64(xored)
            prev_lz = _lz64(self.xor)
            prev_tz = 0 if prev_lz == 64 else _tz64(self.xor)
            if lz >= prev_lz and tz >= prev_tz:
                w.write(0b10, 2)
                w.write(xored >> prev_tz, 64 - prev_tz - prev_lz)
            else:
                meaningful = 64 - tz - lz
                w.write(0b11, 2)
                w.write(lz, 5)
                w.write(meaningful - 1, 6)
                w.write(xored >> tz, meaningful)
        self.value, self.xor = bits, xored


class DoubleDecoder:
    __slots__ = ("value", "xor")

    def __init__(self) -> None:
        self.value: int | None = None
        self.xor = 0

    def next(self, r: BitReader) -> float | None:
        """The next value; None at the end, also inside a record."""
        read = r.read
        if self.value is None:
            bits = read(64)
            if bits is None:
                return None
            self.value, self.xor = bits, bits
        else:
            ctl = read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = read(1)
                if sub is None:
                    return None
                if sub == 0:  # reuse window (from current xor state)
                    shift = _tz64(self.xor)  # xor 0: a 0-bit window
                    payload = read(self.xor.bit_length() - shift)
                    if payload is None:
                        return None
                    new_xor = payload << shift
                else:  # new window: 5 bits lz, 6 bits meaningful-1
                    head = read(11)
                    if head is None:
                        return None
                    meaningful = (head & 63) + 1
                    payload = read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << (64 - meaningful - (head >> 6))
                self.value ^= new_xor
                self.xor = new_xor
        return _unpack("<d", self.value.to_bytes(8, "little"))[0]


class DoubleEncoderLeadTrail:
    """The reference's NON-shrinking-window XOR variant
    (``src/double_stream_lead_trail.rs:35-107``): the (leading_zeros,
    meaningful_count) window persists across values and only changes on
    an explicit ``11`` record — unlike :class:`DoubleEncoder`, whose
    implicit window derives from the PREVIOUS xor and so shrinks on
    every reuse. Same three control codes (``0`` repeat, ``10`` fit in
    current window, ``11`` + 5-bit lz [capped 31, ``[LEADING31]``] +
    6-bit meaningful-1 [``[MEANING64]``] + meaningful bits).

    The reference ships this writer-only with no decoder and no tests
    (its README calls the lead/trail-vs-shrinking choice unresolved);
    the format here is derived from the writer's spec and pinned by
    hand-computed golden bit strings in tests/test_gorilla_codec.py.
    :class:`DoubleDecoderLeadTrail` is our extension — the reference
    has nothing to diverge from."""

    def __init__(self) -> None:
        self.value: int | None = None
        self.lz = 64  # forces the first change to open a window
        self.mc = 0

    def push(self, number: float, w: BitWriter) -> None:
        bits = struct.unpack("<Q", struct.pack("<d", number))[0]
        if self.value is None:
            w.write(bits, 64)
            self.value = bits
            self.lz, self.mc = 64, 0
            return
        xored = self.value ^ bits
        if xored == 0:
            w.write(0, 1)  # window KEPT (the reference's explicit choice)
        else:
            lz = min(_lz64(xored), 31)
            tz = _tz64(xored)
            prev_tz = 64 - self.lz - self.mc
            if lz >= self.lz and tz >= prev_tz:
                # fits the standing window — window size unchanged
                w.write(0b10, 2)
                w.write(xored >> prev_tz, 64 - prev_tz - self.lz)
            else:
                meaningful = 64 - tz - lz
                w.write(0b11, 2)
                w.write(lz, 5)
                w.write(meaningful - 1, 6)
                w.write(xored >> tz, meaningful)
                self.lz, self.mc = lz, meaningful
        self.value = bits


class DoubleDecoderLeadTrail:
    """Decoder for :class:`DoubleEncoderLeadTrail` (our extension: the
    reference never wrote one). Mirrors the writer's persistent-window
    state machine exactly."""

    __slots__ = ("value", "lz", "mc")

    def __init__(self) -> None:
        self.value: int | None = None
        self.lz = 64
        self.mc = 0

    def next(self, r: BitReader) -> float | None:
        """The next value; None at the end, also inside a record."""
        read = r.read
        if self.value is None:
            bits = read(64)
            if bits is None:
                return None
            self.value = bits
            self.lz, self.mc = 64, 0
        else:
            ctl = read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = read(1)
                if sub is None:
                    return None
                if sub == 0:  # fit in the standing window
                    payload = read(self.mc)
                    if payload is None:
                        return None
                    new_xor = payload << (64 - self.lz - self.mc)
                else:  # explicit new window: 5 bits lz, 6 bits meaningful-1
                    head = read(11)
                    if head is None:
                        return None
                    lz, meaningful = head >> 6, (head & 63) + 1
                    payload = read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << (64 - meaningful - lz)
                    self.lz, self.mc = lz, meaningful
                self.value ^= new_xor
        return _unpack("<d", self.value.to_bytes(8, "little"))[0]


# ---------------------------------------------------------------------------
# Compound (ts, value) block API — time_and_value_stream.rs:20-51
# ---------------------------------------------------------------------------


def encode_block(
    timestamps: list[int], values: list[float], header_time: int
) -> tuple[bytes, int]:
    """Interleaved (timestamp record, value record) per point."""
    w = BitWriter()
    te, de = TimestampEncoder(header_time), DoubleEncoder()
    for ts, v in zip(timestamps, values):
        te.push(int(ts), w)
        de.push(float(v), w)
    return w.getvalue()


def decode_block(
    payload: bytes, nbits: int, header_time: int
) -> tuple[list[int], list[float]]:
    """Scalar decode of one block, the reference that
    :func:`decode_blocks_vectorized` is pinned against: a
    TimestampDecoder and a DoubleDecoder take turns on one BitReader
    over the whole payload.

    ``nbits`` is consulted only between records: a record starts while
    a bit remains before it (the first needs its 14-bit delta), and its
    timestamp must leave its value at least a bit (the first value all
    64) before ``nbits``, else ``ValueError("value truncated: timestamp
    without value")``. A record running past the payload bytes raises
    ``ValueError`` as well."""
    # no read is wider than 64 bits, so with this bound every read
    # either succeeds or runs past the payload bytes and raises
    r = BitReader(payload, (len(payload) << 3) + 64)
    next_ts = TimestampDecoder(header_time).next
    next_value = DoubleDecoder().next
    out_ts: list[int] = []
    out_v: list[float] = []
    ts_room, value_room = 14, 64
    while r.pos + ts_room <= nbits:
        out_ts.append(next_ts(r))
        if r.pos + value_room > nbits:
            raise ValueError("value truncated: timestamp without value")
        out_v.append(next_value(r))
        ts_room = value_room = 1
    return out_ts, out_v


def decode_values(payload: bytes, nbits: int, policy: str = "xor") -> list[float]:
    """Decode a value-only stream: :class:`DoubleDecoder`
    (``policy="xor"``) or :class:`DoubleDecoderLeadTrail`
    (``policy="leadtrail"``) driven over a BitReader until it reports the
    end, so a stream cut inside a record yields the records before it."""
    decoders = {"xor": DoubleDecoder, "leadtrail": DoubleDecoderLeadTrail}
    if policy not in decoders:
        raise ValueError(f"unknown policy {policy!r}")
    return list(iter(partial(decoders[policy]().next, BitReader(payload, nbits)), None))


def _bitlen(x):
    """Vectorized ``int.bit_length`` of a uint64 array (int64 result).

    The float64 exponent of x is its bit length, or one more where the
    conversion rounded x up to the next power of two; the shift test
    takes that one back."""
    import numpy as np

    e = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    rounded_up = (x >> (e - 1).clip(0).astype(np.uint64)) == 0
    return e - (rounded_up & (e > 0))


def _value_fields(values, is_start, policy):
    """Per-row value records as ``[(header), (payload)]`` fields, each a
    ``(values, widths)`` row-array pair (payload width 0 when unused) —
    what :class:`DoubleEncoder` (``policy="xor"``) or
    :class:`DoubleEncoderLeadTrail` (``policy="leadtrail"``) writes.

    Vectorization shape: the shrinking-window policy is fully
    array-parallel (its window derives from the PREVIOUS row's xor — a
    per-row computable). The lead/trail window PERSISTS until a misfit,
    a data-dependent chain no fixed-depth array pass can resolve, so
    that policy keeps one compact Python loop over rows — but only
    integer compares on precomputed arrays (no struct packing, no
    per-bit BitWriter work), with all XOR/lz/tz math and the final bit
    packing still numpy. Measured ~8x over the scalar classes at the
    parity query's sf0.1 shape."""
    import numpy as np

    n = len(values)
    bits = values.view(np.uint64)
    xored = bits ^ np.roll(bits, 1)
    xored[is_start] = bits[is_start]  # encoder state after first push
    lz_u = 64 - _bitlen(xored)  # uncapped
    lz = np.minimum(lz_u, 31)
    lowbit = xored & (~xored + np.uint64(1))
    tz = np.maximum(_bitlen(lowbit) - 1, 0)
    meaningful = 64 - tz - lz
    vzero = (xored == 0) & ~is_start

    v0 = np.empty(n, dtype=np.uint64)  # header field
    l0 = np.empty(n, dtype=np.int64)
    v1 = np.zeros(n, dtype=np.uint64)  # payload field (len 0 if unused)
    l1 = np.zeros(n, dtype=np.int64)
    v0[is_start] = bits[is_start]
    l0[is_start] = 64
    v0[vzero], l0[vzero] = 0, 1

    new_hdr = ((0b11 << 11) | (lz << 6) | (meaningful - 1)).astype(np.uint64)
    if policy == "xor":
        # the window is the previous row's (uncapped lz, tz); row 0 is a
        # start, so its wrapped-around value is unused
        plz, ptz = np.roll(lz_u, 1), np.roll(tz, 1)
        reuse = (lz >= plz) & (tz >= ptz) & ~vzero & ~is_start
        new = ~(vzero | reuse | is_start)
        v0[reuse], l0[reuse] = 0b10, 2
        v1[reuse] = xored[reuse] >> ptz[reuse].astype(np.uint64)
        l1[reuse] = 64 - ptz[reuse] - plz[reuse]
        v0[new] = new_hdr[new]
        l0[new] = 13
        v1[new] = xored[new] >> tz[new].astype(np.uint64)
        l1[new] = meaningful[new]
    elif policy == "leadtrail":
        # Persistent-window chain (double_stream_lead_trail.rs:63-101):
        # resolved row-by-row over plain Python ints — only integer
        # compares per row; XOR/lz/tz math stayed numpy above and bit
        # packing stays numpy in _pack.
        lz_l = lz.tolist()
        tz_l = tz.tolist()
        xor_l = xored.tolist()
        start_l = is_start.tolist()
        v0_l, l0_l, v1_l, l1_l = v0.tolist(), l0.tolist(), v1.tolist(), l1.tolist()
        hdr_l = new_hdr.tolist()
        wlz, wtz, wwidth = 64, 0, 0  # standing window (lz, tz, payload w)
        for i in range(n):
            if start_l[i]:
                wlz, wtz, wwidth = 64, 0, 0
                continue
            if xor_l[i] == 0:
                continue  # repeat record: window KEPT
            li, ti = lz_l[i], tz_l[i]
            if li >= wlz and ti >= wtz:
                v0_l[i], l0_l[i] = 0b10, 2
                v1_l[i] = xor_l[i] >> wtz
                l1_l[i] = wwidth
            else:
                v0_l[i], l0_l[i] = hdr_l[i], 13
                v1_l[i] = xor_l[i] >> ti
                l1_l[i] = 64 - ti - li
                wlz, wtz = li, ti
                wwidth = 64 - wtz - wlz
        v0[:], l0[:], v1[:], l1[:] = v0_l, l0_l, v1_l, l1_l
    else:
        raise ValueError(f"unknown policy {policy!r}")
    return [(v0, l0), (v1, l1)]


def _pack(fields, start_idx):
    """Bit-pack ``fields``, a list of ``(values, widths)`` row arrays
    written MSB-first in list order, into one payload per block (rows
    from ``start_idx``), each zero-padded to a byte edge as BitWriter
    does. Returns the public encoders' ``(payloads, nbits, start_idx)``."""
    import numpy as np

    n = len(fields[0][1])
    block_bits = np.add.reduceat(sum(w for _, w in fields), start_idx)
    # a zero field on each block's last row pads the block to a byte
    pad = np.zeros(n, dtype=np.int64)
    pad[np.append(start_idx[1:], n) - 1] = -block_bits % 8
    fields = fields + [(np.zeros(n, dtype=np.uint64), pad)]
    flat_lens = np.stack([w for _, w in fields], axis=1).ravel()
    flat_vals = np.stack([v for v, _ in fields], axis=1).ravel()

    total = int(flat_lens.sum())
    starts = np.concatenate([[0], np.cumsum(flat_lens)[:-1]])
    pos_in_field = np.arange(total, dtype=np.int64) - np.repeat(
        starts, flat_lens
    )
    fvals = np.repeat(flat_vals, flat_lens)
    shifts = (np.repeat(flat_lens, flat_lens) - 1 - pos_in_field).astype(
        np.uint64
    )
    bitarr = ((fvals >> shifts) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bitarr)  # total is a multiple of 8 by padding
    offsets = np.concatenate([[0], np.cumsum((block_bits + 7) >> 3)])
    payloads = [
        packed[offsets[i] : offsets[i + 1]].tobytes()
        for i in range(len(start_idx))
    ]
    return payloads, block_bits, start_idx


def encode_blocks_vectorized(epochs, values, header_times, is_start):
    """Encode MANY blocks at once with numpy — bit-identical to calling
    :func:`encode_block` per block, but the per-record work (delta/dod
    bucketing, XOR window decisions, variable-width bit packing) is
    array-parallel across the whole batch instead of a Python loop per
    row. This is the hot path of distributed encode (spark_ops): blocks
    are 2 h of one series (~tens-to-hundreds of rows), so per-row Python
    dominates; batching thousands of blocks into one numpy pass removes
    it.

    Inputs are parallel arrays sorted so each block's rows are
    contiguous and ts-ordered: ``epochs`` int64 seconds, ``values``
    float64, ``header_times`` int64 (2h-aligned, constant within a
    block), ``is_start`` bool (True on each block's first row).

    Returns ``(payloads, nbits, start_idx)``: per-block byte payloads
    (each independently byte-aligned, zero-padded — same as
    BitWriter.getvalue), per-block exact bit counts (int64 array), and
    the index of each block's first row.
    """
    import numpy as np

    epochs = np.asarray(epochs, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    header_times = np.asarray(header_times, dtype=np.int64)
    is_start = np.asarray(is_start, dtype=bool)
    n = len(epochs)
    if n == 0:
        return [], np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    start_idx = np.flatnonzero(is_start)

    # delta at block starts is vs header_time; elsewhere vs prev row.
    # Storing the header delta IN the delta array makes dod = plain diff.
    delta = np.diff(epochs, prepend=0)
    delta[is_start] = epochs[is_start] - header_times[is_start]
    first_delta = delta[start_idx]
    bad = (first_delta < 0) | (first_delta > (1 << 14))
    if bad.any():
        raise ValueError(
            f"first delta {first_delta[bad][0]} outside [0, 2^14] — header_time "
            "must be the 2h-aligned floor of the first timestamp"
        )
    dod = np.diff(delta, prepend=delta[0])

    # dod buckets as in TimestampEncoder.push, widest first so each
    # narrower bucket overwrites the rows it covers. The control prefix
    # folds into one value: bits concatenate MSB-first, so
    # ('10', 2)+(x, 7) == ((0b10<<7)|x, 9)
    ts_val = ((0b1111 << 32) | (dod & 0xFFFFFFFF)).astype(np.uint64)
    ts_len = np.full(n, 36, dtype=np.int64)
    for bias, ctl, width in ((2047, 0b1110, 12), (255, 0b110, 9), (63, 0b10, 7)):
        m = (dod >= -bias) & (dod <= bias + 1)
        ts_val[m] = ((ctl << width) | (dod[m] + bias)).astype(np.uint64)
        ts_len[m] = ctl.bit_length() + width
    zero = dod == 0
    ts_val[zero], ts_len[zero] = 0, 1
    ts_val[is_start] = first_delta.astype(np.uint64)
    ts_len[is_start] = 14

    ts_fields = (ts_val, ts_len)
    return _pack([ts_fields] + _value_fields(values, is_start, "xor"), start_idx)


def encode_values_vectorized(values, is_start, policy: str = "xor"):
    """Encode MANY value-only streams at once — bit-identical to driving
    :class:`DoubleEncoder` (``policy="xor"``) or
    :class:`DoubleEncoderLeadTrail` (``policy="leadtrail"``) per block
    over a BitWriter (pinned by tests/test_gorilla_codec.py equivalence
    sweeps). Value-only: no timestamp records — this is the stream shape
    the reference's ``[XORORLEADING]`` question compares
    (``double_stream.rs`` vs ``double_stream_lead_trail.rs``).

    Inputs are parallel arrays with each block's rows contiguous:
    ``values`` float64, ``is_start`` bool (True on each block's first
    row). Returns ``(payloads, nbits, start_idx)`` like
    :func:`encode_blocks_vectorized`."""
    import numpy as np

    values = np.asarray(values, dtype=np.float64)
    is_start = np.asarray(is_start, dtype=bool)
    if len(values) == 0:
        return [], np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    start_idx = np.flatnonzero(is_start)
    return _pack(_value_fields(values, is_start, policy), start_idx)


# Timestamp record fields by the record's first 4 bits (see
# TimestampEncoder.push): header length, dod width and dod bias.
_TS_HEAD = (1,) * 8 + (2,) * 4 + (3,) * 2 + (4, 4)
_TS_WIDTH = (0,) * 8 + (7,) * 4 + (9,) * 2 + (12, 32)
_TS_BIAS = (0,) * 8 + (63,) * 4 + (255,) * 2 + (2047, 0)


def decode_blocks_vectorized(payloads, nbits, header_times):
    """Decode MANY blocks at once with numpy — the twin of
    :func:`encode_blocks_vectorized`, giving what :func:`decode_block`
    gives per block. Lockstep: step *i* decodes record *i* of every block
    that still has one, so a batch costs one set of array ops per record
    position instead of Python work per bit field. This is the hot path
    of distributed decode (spark_ops): one call per Arrow batch.

    Each block stops exactly where decode_block stops: a record starts
    only while bits remain before the block's ``nbits`` (a stored sample
    count is not consulted), and a timestamp record with no value after
    it raises the same ``ValueError``. A corrupt block that decode_block
    fails on (a record running past its payload bytes, a new-window
    record wider than 64 bits) raises ``ValueError`` here as well.

    Inputs are parallel per-block sequences: ``payloads`` bytes-like,
    ``nbits`` ints, ``header_times`` ints. Returns ``(timestamps, values,
    counts)``: int64 timestamps (decode_block's wrapping 64-bit adds,
    read as signed) and bit-exact float64 values, block-major and in
    stream order, and the int64 record count of each block.
    """
    import numpy as np

    payloads = list(payloads)
    nbits = np.asarray(nbits, dtype=np.int64)
    header_times = np.asarray(header_times, dtype=np.int64)
    nblk = len(payloads)
    lens = np.fromiter(map(len, payloads), dtype=np.int64, count=nblk)
    total = lens * 8  # bits a block's reads may reach
    base = (np.cumsum(lens) - lens) * 8  # block start in the joined buffer

    # words[k] is the big-endian 64-bit word starting at byte k, so the
    # 64 bits starting at any bit offset are one gather plus two shifts
    # (the low o bits come from the next word's first byte). 16 zero
    # bytes keep every read of an in-bounds record inside the buffer.
    buf = np.frombuffer(b"".join(payloads) + bytes(16), dtype=np.uint8)
    nw = len(buf) - 8
    words = np.empty(nw, dtype=np.uint64)
    for r in range(8):
        count = (nw - r + 7) // 8
        words[r::8] = np.frombuffer(buf, dtype=">u8", count=count, offset=r)
    tail = buf.astype(np.uint64)
    ts_head, ts_width, ts_bias = (
        np.array(t, dtype=np.uint64) for t in (_TS_HEAD, _TS_WIDTH, _TS_BIAS)
    )

    def read64(p):
        k = p >> 3
        o = (p & 7).astype(np.uint64)
        return (words[k] << o) | (tail[k + 8] >> (8 - o))

    def past_end(pos, blk):
        if (pos > total[blk]).any():
            raise ValueError(_PAST_END)

    def truncated(pos, blk):
        if (pos > nbits[blk]).any():
            raise ValueError("value truncated: timestamp without value")

    # ---- step 0: 14-bit first delta, then the raw 64-bit first value
    blk = np.flatnonzero(nbits >= 14)
    at = base[blk]
    delta = (read64(at) >> 50).astype(np.int64)
    past_end(14, blk)
    truncated(78, blk)
    past_end(78, blk)
    ts = header_times[blk] + delta
    v_bits = read64(at + 14)
    v_xor = v_bits
    pos = np.full(len(blk), 78, dtype=np.int64)
    out_blk, out_ts, out_v = [blk], [ts], [v_bits]

    while True:
        live = pos < nbits[blk]  # room for the next timestamp's 1st bit
        if not live.all():
            blk, pos, delta, ts = blk[live], pos[live], delta[live], ts[live]
            v_bits, v_xor = v_bits[live], v_xor[live]
        if not len(blk):
            break
        at = base[blk] + pos
        x = read64(at)
        # ---- timestamp record: the top 4 bits pick the dod bucket
        c = (x >> 60).astype(np.intp)
        hl, tw = ts_head[c], ts_width[c]
        tl = hl + tw
        dod = ((x << hl) >> (64 - tw)) - ts_bias[c]
        # a 32-bit dod is sign-extended; narrower ones fit 32 bits anyway
        dod = (dod << 32).view(np.int64) >> 32
        delta = delta + dod
        ts = ts + delta
        tlen = tl.astype(np.int64)
        past_end(pos + tlen, blk)
        truncated(pos + tlen + 1, blk)
        # ---- value record: 0 repeat, 10 reuse the xor window, 11 new
        xv = x << tl  # a value header is at most 13 bits
        changed = (xv >> 63).astype(bool)
        new = (xv >> 62) == 3
        bl = _bitlen(np.concatenate([v_xor, v_xor & (~v_xor + np.uint64(1))]))
        wlz, wtz = 64 - bl[: len(blk)], np.maximum(bl[len(blk) :] - 1, 0)
        lz = ((xv >> 57) & 31).astype(np.int64)
        meaningful = ((xv >> 51) & 63).astype(np.int64) + 1
        width = np.where(new, meaningful, np.where(changed, 64 - wtz - wlz, 0))
        shift = np.where(new, 64 - meaningful - lz, wtz)
        if (shift < 0).any():
            raise ValueError("new-window record wider than 64 bits")
        # the payload is read from its own offset: a reuse payload can
        # be 64 bits wide, more than is left in x after the header
        hlen = np.where(new, 13, np.where(changed, 2, 1))
        at = at + tlen + hlen
        payload = read64(at) >> (64 - width).astype(np.uint64)
        new_xor = payload << shift.astype(np.uint64)
        v_bits = v_bits ^ new_xor
        v_xor = np.where(changed, new_xor, v_xor)  # a repeat keeps it
        pos = pos + tlen + hlen + width
        past_end(pos, blk)
        out_blk.append(blk)
        out_ts.append(ts)
        out_v.append(v_bits)

    # steps are record-major; scatter each record to its block's slot
    sizes = [len(b) for b in out_blk]
    blk = np.concatenate(out_blk)
    counts = np.bincount(blk, minlength=nblk).astype(np.int64)
    dest = (np.cumsum(counts) - counts)[blk] + np.repeat(
        np.arange(len(sizes)), sizes
    )
    ts_out = np.empty(len(blk), dtype=np.int64)
    v_out = np.empty(len(blk), dtype=np.uint64)
    ts_out[dest] = np.concatenate(out_ts)
    v_out[dest] = np.concatenate(out_v)
    return ts_out, v_out.view(np.float64), counts
