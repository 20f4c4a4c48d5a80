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
- scalar reference (BitWriter/BitReader, the encoder/decoder classes,
  ``encode_block``): golden bit strings in tests/test_gorilla_codec.py,
  round trips in tests/test_gorilla_properties.py;
- array kernels ``_bitlen``, ``_value_fields`` and ``_pack`` behind the
  two ``encode_*_vectorized`` encoders: bit identity with the scalar
  reference in both files;
- decoders ``decode_values`` and ``decode_block``: round trips in both.

Everything in this module is deliberately self-contained (stdlib only)
so Spark executors can receive it pickled by value.
"""

from __future__ import annotations

import struct

_U64 = (1 << 64) - 1

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
    (Reader contract, stream.rs:6-8)."""

    def __init__(self, data: bytes, nbits: int) -> None:
        self.data = data
        self.nbits = nbits
        self.pos = 0

    def read(self, count: int) -> int | None:
        if self.pos + count > self.nbits:
            return None
        out = 0
        pos = self.pos
        remaining = count
        while remaining:
            byte = self.data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, remaining)
            chunk = (byte >> (avail - take)) & ((1 << take) - 1)
            out = (out << take) | chunk
            pos += take
            remaining -= take
        self.pos = pos
        return out


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


class TimestampDecoder:
    def __init__(self, header_time: int) -> None:
        self.header_time = header_time
        self.value: int | None = None
        self.delta = 0

    def next(self, r: BitReader) -> int | None:
        if self.value is None:
            delta = r.read(14)
            if delta is None:
                return None
            self.value = (self.header_time + delta) & _U64
            self.delta = delta
            return self.value
        ctl = r.read(1)
        if ctl is None:
            return None
        if ctl == 0:
            self.value = (self.value + self.delta) & _U64
            return self.value
        if r.read(1) == 0:
            nbits, bias = 7, 63
        elif r.read(1) == 0:
            nbits, bias = 9, 255
        elif r.read(1) == 0:
            nbits, bias = 12, 2047
        else:
            nbits, bias = 32, 0
        dod = r.read(nbits) - bias
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
    def __init__(self) -> None:
        self.value: int | None = None
        self.xor = 0

    def next(self, r: BitReader) -> float | None:
        if self.value is None:
            bits = r.read(64)
            if bits is None:
                return None
            self.value, self.xor = bits, bits
        else:
            ctl = r.read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = r.read(1)
                if sub is None:
                    return None  # truncated mid-record: EOS, not TypeError
                if sub == 0:  # reuse window (from current xor state)
                    prev_lz = _lz64(self.xor)
                    prev_tz = 0 if prev_lz == 64 else _tz64(self.xor)
                    nbits = 64 - prev_tz - prev_lz
                    payload = r.read(nbits)
                    if payload is None:
                        return None
                    new_xor = payload << prev_tz
                else:  # new window
                    lz = r.read(5)
                    mc = r.read(6)
                    if lz is None or mc is None:
                        return None
                    meaningful = mc + 1
                    tz = 64 - meaningful - lz
                    payload = r.read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << tz
                self.value ^= new_xor
                self.xor = new_xor
        return struct.unpack("<d", struct.pack("<Q", self.value))[0]


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

    def __init__(self) -> None:
        self.value: int | None = None
        self.lz = 64
        self.mc = 0

    def next(self, r: BitReader) -> float | None:
        if self.value is None:
            bits = r.read(64)
            if bits is None:
                return None
            self.value = bits
            self.lz, self.mc = 64, 0
        else:
            ctl = r.read(1)
            if ctl is None:
                return None
            if ctl == 1:
                sub = r.read(1)
                if sub is None:
                    return None  # truncated mid-record: EOS, not TypeError
                if sub == 0:  # fit in the standing window
                    prev_tz = 64 - self.lz - self.mc
                    payload = r.read(64 - prev_tz - self.lz)
                    if payload is None:
                        return None
                    new_xor = payload << prev_tz
                else:  # explicit new window
                    lz = r.read(5)
                    mc = r.read(6)
                    if lz is None or mc is None:
                        return None
                    meaningful = mc + 1
                    tz = 64 - meaningful - lz
                    payload = r.read(meaningful)
                    if payload is None:
                        return None
                    new_xor = payload << tz
                    self.lz, self.mc = lz, meaningful
                self.value ^= new_xor
        return struct.unpack("<d", struct.pack("<Q", self.value))[0]


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


def _bitlen(x):
    """Vectorized ``int.bit_length`` of a uint64 array (int64 result)."""
    import numpy as np

    x = x.copy()
    res = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        m = x >= np.uint64(1) << np.uint64(s)
        res[m] += s
        x[m] >>= np.uint64(s)
    return res + x.astype(np.int64)


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


def decode_values(payload: bytes, nbits: int, policy: str = "xor") -> list[float]:
    """Inlined big-int-cursor decode of a value-only stream — identical
    semantics to driving :class:`DoubleDecoder` /
    :class:`DoubleDecoderLeadTrail` over a BitReader (equivalence pinned
    in tests), ~10x faster: each field extraction is one C-level
    shift+mask."""
    acc = int.from_bytes(payload, "big")
    total = len(payload) * 8
    pos = 0
    unpack, pack = struct.unpack, struct.pack
    lead = policy == "leadtrail"
    if policy not in ("xor", "leadtrail"):
        raise ValueError(f"unknown policy {policy!r}")

    out: list[float] = []
    if pos + 64 > nbits:
        return out
    v_bits = (acc >> (total - 64)) & _U64
    pos = 64
    out.append(unpack("<d", pack("<Q", v_bits))[0])
    v_xor = v_bits  # xor-policy state
    wlz, wtz, wwidth = 64, 0, 0  # leadtrail-policy state
    while pos + 1 <= nbits:
        ctl = (acc >> (total - pos - 1)) & 1
        pos += 1
        if ctl:
            if pos + 1 > nbits:
                break
            sub = (acc >> (total - pos - 1)) & 1
            pos += 1
            if sub:  # new window
                if pos + 11 > nbits:
                    break
                lz = (acc >> (total - pos - 5)) & 0x1F
                pos += 5
                meaningful = ((acc >> (total - pos - 6)) & 0x3F) + 1
                pos += 6
                tz = 64 - meaningful - lz
                if pos + meaningful > nbits:
                    break
                new_xor = (
                    (acc >> (total - pos - meaningful))
                    & ((1 << meaningful) - 1)
                ) << tz
                pos += meaningful
                if lead:
                    wlz, wtz, wwidth = lz, tz, meaningful
            else:  # fit in the standing/derived window
                if lead:
                    nb = wwidth
                    sh = wtz
                else:
                    prev_lz = _lz64(v_xor)
                    sh = 0 if prev_lz == 64 else _tz64(v_xor)
                    nb = 64 - sh - prev_lz
                if pos + nb > nbits:
                    break
                new_xor = ((acc >> (total - pos - nb)) & ((1 << nb) - 1)) << sh
                pos += nb
            v_bits ^= new_xor
            if not lead:
                v_xor = new_xor
        out.append(unpack("<d", pack("<Q", v_bits))[0])
    return out


def decode_block(
    payload: bytes, nbits: int, header_time: int
) -> tuple[list[int], list[float]]:
    """Inlined hot-path decode, identical semantics to driving
    TimestampDecoder/DoubleDecoder over a BitReader (which the golden
    and property tests pin). The whole payload is one Python big-int
    cursor: each field extraction is a single C-level shift+mask instead
    of a per-byte Python loop."""
    acc = int.from_bytes(payload, "big")
    total = len(payload) * 8
    pos = 0
    unpack, pack = struct.unpack, struct.pack

    out_ts: list[int] = []
    out_v: list[float] = []
    ts_val = 0
    delta = 0
    v_bits = 0
    v_xor = 0
    first = True
    while True:
        # ---- timestamp record (timestamp_stream.rs:81-121) ----
        if first:
            if pos + 14 > nbits:
                break
            delta = (acc >> (total - pos - 14)) & 0x3FFF
            pos += 14
            ts_val = (header_time + delta) & _U64
        else:
            if pos + 1 > nbits:
                break
            ctl = (acc >> (total - pos - 1)) & 1
            pos += 1
            if ctl:
                nb, bias = 7, 63
                if (acc >> (total - pos - 1)) & 1:
                    pos += 1
                    nb, bias = 9, 255
                    if (acc >> (total - pos - 1)) & 1:
                        pos += 1
                        nb, bias = 12, 2047
                        if (acc >> (total - pos - 1)) & 1:
                            nb, bias = 32, 0
                        pos += 1
                    else:
                        pos += 1
                else:
                    pos += 1
                dod = ((acc >> (total - pos - nb)) & ((1 << nb) - 1)) - bias
                pos += nb
                if nb == 32 and dod >= (1 << 31):  # sign-extend (module doc)
                    dod -= 1 << 32
                delta += dod
            ts_val = (ts_val + delta) & _U64
        # ---- value record (double_stream.rs:96-141) ----
        if first:
            if pos + 64 > nbits:
                raise ValueError("value truncated: timestamp without value")
            v_bits = (acc >> (total - pos - 64)) & _U64
            pos += 64
            v_xor = v_bits
            first = False
        else:
            if pos + 1 > nbits:
                raise ValueError("value truncated: timestamp without value")
            if (acc >> (total - pos - 1)) & 1:
                pos += 1
                if (acc >> (total - pos - 1)) & 1:  # new window
                    pos += 1
                    lz = (acc >> (total - pos - 5)) & 0x1F
                    pos += 5
                    meaningful = ((acc >> (total - pos - 6)) & 0x3F) + 1
                    pos += 6
                    tz = 64 - meaningful - lz
                    new_xor = (
                        (acc >> (total - pos - meaningful))
                        & ((1 << meaningful) - 1)
                    ) << tz
                    pos += meaningful
                else:  # reuse window (from current xor state)
                    pos += 1
                    prev_lz = _lz64(v_xor)
                    prev_tz = 0 if prev_lz == 64 else _tz64(v_xor)
                    nb = 64 - prev_tz - prev_lz
                    new_xor = (
                        (acc >> (total - pos - nb)) & ((1 << nb) - 1)
                    ) << prev_tz
                    pos += nb
                v_bits ^= new_xor
                v_xor = new_xor
            else:
                pos += 1
        out_ts.append(ts_val)
        out_v.append(unpack("<d", pack("<Q", v_bits))[0])
    return out_ts, out_v
