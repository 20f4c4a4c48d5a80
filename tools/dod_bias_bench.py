"""Micro-benchmark: biased vs branchy delta-of-delta decode.

The reference claims (README.md:40-43) that writing dods "plus a bias so
that the resulting number is always a non-negative number ... makes it
fast to encode and decode without branching"; its earlier sign-dependent
version "took about twice as long to decode". That 2x figure is for
native code, where a data-dependent branch stalls the pipeline. This
tool quantifies the same design choice in interpreted Python by timing
two dod-only mini-codecs, each a big-int-cursor decode loop of its own,
over the identical dod sequence:

- **biased** (shipped design, `timestamp_stream.rs:47-57` semantics):
  the field stores ``dod + bias`` as an unsigned number; decode is one
  branch-free subtract per record.
- **branchy** (the reference's discarded "initial version" shape):
  the field stores a sign bit + magnitude; decode tests the sign bit
  and conditionally negates per record.

Both mini-codecs use the reference's control-code ladder (1-bit/2-bit/
3-bit/4-bit prefixes for 7/9/12/32-bit fields) so the decode loop
structure is identical except for the sign handling under test.

Usage: python tools/dod_bias_bench.py [n_records] [repeats]
Prints one JSON line {"n": ..., "biased_s": ..., "branchy_s": ...,
"branchy_over_biased": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# control-code ladder (timestamp_stream.rs:43-57): (prefix_bits,
# prefix_value, field_bits, bias). The branchy variant uses the same
# ladder but splits the field into sign bit + (field_bits-1) magnitude
# bits — same total width, same record boundaries.
_LADDER = (
    (1, 0b0, 0, 0),        # dod == 0: control bit only
    (2, 0b10, 7, 63),
    (3, 0b110, 9, 255),
    (4, 0b1110, 12, 2047),
    (4, 0b1111, 32, 0),    # raw 32-bit two's complement (reference spec)
)


def synth_dods(n: int, seed: int = 7) -> np.ndarray:
    """Realistic dod mix: mostly 0 / small jitter, occasional big jumps
    (the shape a 60s-cadence series with jitter produces)."""
    rng = np.random.default_rng(seed)
    dods = rng.choice(
        np.array([0, 1, -1, 3, -3, 40, -40, 900, -900, 100_000]),
        size=n,
        p=[0.55, 0.1, 0.1, 0.06, 0.06, 0.04, 0.04, 0.02, 0.02, 0.01],
    )
    return dods.astype(np.int64)


def _encode(dods: np.ndarray, branchy: bool) -> tuple[bytes, int]:
    bits: list[tuple[int, int]] = []  # (value, nbits)
    nbits = 0
    for dod in dods.tolist():
        if dod == 0:
            bits.append((0, 1))
            nbits += 1
            continue
        for pb, pv, fb, bias in _LADDER[1:]:
            if branchy:
                mag_bits = fb - 1
                fits = abs(dod) < (1 << mag_bits) if fb != 32 else True
                if fits:
                    bits.append((pv, pb))
                    if fb == 32:
                        bits.append((dod & 0xFFFFFFFF, 32))
                    else:
                        sign = 1 if dod < 0 else 0
                        bits.append((sign, 1))
                        bits.append((abs(dod), mag_bits))
                    nbits += pb + fb
                    break
            else:
                fits = -bias <= dod < ((1 << fb) - bias) if fb != 32 else True
                if fits:
                    bits.append((pv, pb))
                    field = (dod + bias) if fb != 32 else (dod & 0xFFFFFFFF)
                    bits.append((field, fb))
                    nbits += pb + fb
                    break
    acc = 0
    for v, nb in bits:
        acc = (acc << nb) | v
    total = (nbits + 7) // 8 * 8
    acc <<= total - nbits
    return acc.to_bytes(total // 8, "big"), nbits


def _decode_biased(payload: bytes, nbits: int, n: int) -> list[int]:
    acc = int.from_bytes(payload, "big")
    total = len(payload) * 8
    pos = 0
    out: list[int] = []
    for _ in range(n):
        if (acc >> (total - pos - 1)) & 1 == 0:
            pos += 1
            out.append(0)
            continue
        pos += 1
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
        if nb == 32 and dod >= (1 << 31):
            dod -= 1 << 32
        out.append(dod)
    return out


def _decode_branchy(payload: bytes, nbits: int, n: int) -> list[int]:
    acc = int.from_bytes(payload, "big")
    total = len(payload) * 8
    pos = 0
    out: list[int] = []
    for _ in range(n):
        if (acc >> (total - pos - 1)) & 1 == 0:
            pos += 1
            out.append(0)
            continue
        pos += 1
        nb = 7
        if (acc >> (total - pos - 1)) & 1:
            pos += 1
            nb = 9
            if (acc >> (total - pos - 1)) & 1:
                pos += 1
                nb = 12
                if (acc >> (total - pos - 1)) & 1:
                    nb = 32
                pos += 1
            else:
                pos += 1
        else:
            pos += 1
        if nb == 32:
            dod = (acc >> (total - pos - 32)) & 0xFFFFFFFF
            pos += 32
            if dod >= (1 << 31):
                dod -= 1 << 32
        else:
            sign = (acc >> (total - pos - 1)) & 1
            pos += 1
            mag = (acc >> (total - pos - (nb - 1))) & ((1 << (nb - 1)) - 1)
            pos += nb - 1
            dod = -mag if sign else mag  # the per-record branch under test
        out.append(dod)
    return out


def run(n: int = 200_000, repeats: int = 3) -> dict:
    dods = synth_dods(n)
    pb, nb_b = _encode(dods, branchy=False)
    pr, nb_r = _encode(dods, branchy=True)
    # correctness first: both decode to the source dods
    assert _decode_biased(pb, nb_b, n) == dods.tolist()
    assert _decode_branchy(pr, nb_r, n) == dods.tolist()
    t_bias = min(
        _timed(_decode_biased, pb, nb_b, n) for _ in range(repeats)
    )
    t_branch = min(
        _timed(_decode_branchy, pr, nb_r, n) for _ in range(repeats)
    )
    return {
        "n": n,
        "biased_s": round(t_bias, 4),
        "branchy_s": round(t_branch, 4),
        "branchy_over_biased": round(t_branch / t_bias, 3),
        "biased_bits": nb_b,
        "branchy_bits": nb_r,
    }


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    print(json.dumps(run(n, repeats)))
