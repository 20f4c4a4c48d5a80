"""Pin the biased-vs-branchy dod decode comparison (README.md:40-43:
the reference's biased IntStream "makes it fast to encode and decode
without branching"; its discarded sign/magnitude version "took about
twice as long to decode" in native code).

The hard assertion is CORRECTNESS (both mini-codecs round-trip the
same dod sequence exactly, at identical bit widths); the timing ratio
is asserted only directionally with a generous noise margin — the
measured figure on a 4-core host (branchy/biased ≈ 1.35x in the tool's
big-int-cursor mini-codecs; the native 2x shrinks because interpreter
overhead dominates branch cost) is recorded in SURVEY.md §6.
"""

from __future__ import annotations

from tools.dod_bias_bench import (
    _decode_biased,
    _decode_branchy,
    _encode,
    run,
    synth_dods,
)


def test_both_variants_round_trip_exactly():
    dods = synth_dods(20_000, seed=11)
    pb, nb = _encode(dods, branchy=False)
    pr, nr = _encode(dods, branchy=True)
    assert _decode_biased(pb, nb, len(dods)) == dods.tolist()
    assert _decode_branchy(pr, nr, len(dods)) == dods.tolist()
    # Size parity is distribution-dependent, NOT a codec invariant: the
    # two variants pick rungs differently at boundaries (e.g. dod=64
    # fits the 7-bit biased field but needs 9 bits as sign+magnitude),
    # so exact nb == nr holds only while synth_dods avoids rung-boundary
    # magnitudes. Assert the sizes are close rather than identical so a
    # benign change to the synthetic distribution can't fail this test
    # for a non-bug reason.
    assert abs(nb - nr) <= 0.05 * max(nb, nr), (nb, nr)


def test_biased_not_slower_than_branchy():
    # generous margin: the benchmark takes min-of-repeats, but the host
    # is shared; assert direction, not the exact 1.35x. A single
    # neighbor burst mid-repeat can invert the direction, so one miss
    # triggers a re-measure — but a regression that inverts EVERY
    # attempt is real and must FAIL (round-9 advisor fix: the previous
    # skip-on-first-inversion version could never gate anything).
    results = []
    for _ in range(3):
        result = run(n=60_000, repeats=3)
        results.append(result["branchy_over_biased"])
        if result["branchy_over_biased"] > 0.9:
            return
    raise AssertionError(
        f"biased decode slower than branchy in all 3 attempts: {results}"
    )
