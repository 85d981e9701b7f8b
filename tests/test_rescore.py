"""Spark-free gates for the certified rescoring loop's two decisions
(operators/rescore.py): the cutoff certificate and the escalation schedule.
The loop's end-to-end exactness is gated per modifier in
test_wand_proximity / test_wand_phrase / test_wand_boosted /
test_round5_features."""

from __future__ import annotations

from open_source_search_engine_spark.operators.rescore import (
    Ceiling,
    certified,
    next_m,
)

INF = float("-inf")
# ten BM25 scores descending by 0.25: the tail slope is exactly 0.25/rank
SCORES = [10.0 - 0.25 * i for i in range(10)]


def test_tie_at_ceiling_passes_additive_fails_strict():
    assert certified(5.0, 3.0, Ceiling(1.0, 2.0))  # proximity: kth == b + W
    assert certified(3.0, 3.0, Ceiling(1.0))  # phrase: kth == b
    assert not certified(6.0, 3.0, Ceiling(2.0, strict=True))  # boosts
    assert certified(6.5, 3.0, Ceiling(2.0, strict=True))
    assert not certified(4.9, 3.0, Ceiling(1.0, 2.0))


def test_nonpositive_mult_never_certifies_and_goes_exact():
    for mult in (0.0, -1.0):
        c = Ceiling(mult, strict=True)
        assert not certified(1.0, 3.0, c)
        assert next_m(10, 1.0, SCORES, c, 1_000) is None


def test_fewer_than_k_survivors_goes_exact():
    assert next_m(10, INF, SCORES, Ceiling(1.0), 1_000) is None


def test_flat_tail_goes_exact():
    assert next_m(10, 1.0, [5.0] * 10, Ceiling(1.0), 1_000) is None


def test_positive_slope_extrapolates():
    # s* = 0.75; the last score 7.75 is 28 ranks of 0.25 above it, so the
    # certificate needs m' = 10 + 28 + 1 = 39, grown by 1.25x to 48
    assert next_m(10, 0.75, SCORES, Ceiling(1.0), 1_000) == 48
    # the same s* through the multiplicative bound: (1.5 - 0) / 2
    assert next_m(10, 1.5, SCORES, Ceiling(2.0, strict=True), 1_000) == 48
    # and through the additive one: (2.75 - 2.0) / 1
    assert next_m(10, 2.75, SCORES, Ceiling(1.0, 2.0), 1_000) == 48
    # a near miss still grows at least 4x
    assert next_m(10, 7.5, SCORES, Ceiling(1.0), 1_000) == 40
    # clamped to cap when m' fits under it, exact when it does not
    assert next_m(10, 0.75, SCORES, Ceiling(1.0), 45) == 45
    assert next_m(10, 0.75, SCORES, Ceiling(1.0), 38) is None
    # m already at cap
    assert next_m(45, 0.75, SCORES, Ceiling(1.0), 45) is None
