"""r18/r18c: the quiet-band check in bench.py.

r18 added floor normalization after the r17 driver artifact carried
join_agg 1.15 with its own floor_sec +32% (box noise, not a plan
change).  r18c re-based the MEASUREMENT: bands are checked on a
dedicated core STEADY pass (3x back-to-back per op, median) because
interleaved-pass medians creep as HEADLINE grows and the host's
per-stage cost drifts (A/B on the r17 tree reproduced today's +12%
with code held constant — see the _CORE_BANDS comment block).
Pinned here: today's steady medians pass raw, floor noise
normalizes away, one-sided flutter is absorbed by the best-of term,
and a genuine plan regression still FAILS on every path.
"""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)

# the r18c pin anchors: idle back-to-back medians, 2026-08-17 (the
# values _CORE_BANDS derive from, x ~1.25 headroom)
STEADY_ANCHOR = {
    "filter": 0.246, "sum": 0.574, "take": 0.267, "partition": 0.374,
    "join": 0.272, "join_agg": 0.937, "fact_fact_join": 0.644,
}


def test_steady_anchor_passes_raw():
    """The steady medians the bands were pinned from pass with NO
    normalization applied (floor at the quiet reference)."""
    ok, adjusted, failed = bench._band_check(STEADY_ANCHOR, 0.33)
    assert ok, failed
    for k, v in STEADY_ANCHOR.items():
        assert adjusted[k] == round(v, 3)  # corrections are no-ops


def test_headroom_is_meaningful_not_loose():
    """Every band sits between ~1.15x and ~1.45x its steady anchor:
    tight enough that a 50% regression cannot hide, loose enough for
    run-to-run spread."""
    for k, v in STEADY_ANCHOR.items():
        band = bench._CORE_BANDS[k]
        assert 1.10 <= band / v <= 1.50, (k, band, v)


def test_floor_noise_normalizes_to_pass():
    """The r17-driver-artifact regime: a +0.116 per-job scheduling
    floor lifts every steady median by the same amount; the additive
    form subtracts the excess and the verdict holds."""
    noisy = {k: round(v + 0.116, 3) for k, v in STEADY_ANCHOR.items()}
    ok, adjusted, failed = bench._band_check(noisy, 0.466)
    assert ok, failed
    assert adjusted["join_agg"] <= bench._CORE_BANDS["join_agg"]


def test_flutter_passes_via_best_of():
    """One-sided per-stage jitter can inflate even the steady medians
    on a quiet floor; the best-of-n interleaved term recognizes the
    plan cost is unchanged.  Without best the same inputs fail —
    pinned so the term's effect stays visible."""
    fluttered = {k: round(v * 1.30, 3) for k, v in STEADY_ANCHOR.items()}
    best = {k: round(v * 1.05, 3) for k, v in STEADY_ANCHOR.items()}
    ok, adjusted, failed = bench._band_check(fluttered, 0.33, best)
    assert ok, failed
    ok_legacy, _, failed_legacy = bench._band_check(fluttered, 0.33)
    assert not ok_legacy and failed_legacy


def test_true_regression_on_quiet_box_still_fails():
    """A genuine plan regression (join_agg +0.4 in steady AND best,
    quiet floor) must NOT be absorbed by any path."""
    steady = dict(STEADY_ANCHOR, join_agg=STEADY_ANCHOR["join_agg"] + 0.4)
    best = {k: round(v * 1.02, 3) for k, v in steady.items()}
    ok, adjusted, failed = bench._band_check(steady, 0.33, best)
    assert not ok
    assert failed == ["join_agg"]


def test_large_regression_fails_even_on_busy_box():
    """The rejection rule's guarantee: a regression larger than the
    measured slowdown factor cannot hide behind normalization.  With
    floor 0.466 (s = 1.33) a join_agg of 1.8 in both steady and best
    still fails; the busy-box blind spot is bounded by s and resolved
    by the documented quiet re-run rule."""
    steady = dict(STEADY_ANCHOR, join_agg=1.8)
    best = dict(STEADY_ANCHOR, join_agg=1.8)
    ok, _, failed = bench._band_check(steady, 0.466, best)
    assert not ok
    assert failed == ["join_agg"]


def test_missing_core_query_is_not_a_silent_pass():
    """All seven reference-core ops are in the band table and in
    HEADLINE (bench always times and steady-passes the full set)."""
    assert set(bench._CORE_BANDS) == {
        "filter", "sum", "take", "partition", "join", "join_agg",
        "fact_fact_join",
    }
    assert all(n in bench.HEADLINE for n in bench._CORE_BANDS)


def test_slowest_selection_is_deterministic_and_excludes_core():
    """r19 (r18 verdict #1): the contract line adds the top-K slowest
    medians so the driver's per-query comparison covers the heavy
    hitters.  Selection must exclude the reference core (those stay in
    their own 2-decimal representation), order slowest-first with name
    tiebreak, and never invent entries."""
    timings = {
        "filter": 0.2, "sum": 9.9,               # core — excluded even if slow
        "a_slow": 2.0, "b_slow": 2.0, "fast": 0.1, "mid": 1.0,
    }
    core = ("filter", "sum")
    top = bench._slowest(timings, core, k=3)
    assert list(top) == ["a_slow", "b_slow", "mid"]
    assert top["a_slow"] == 2.0
    assert bench._slowest(timings, core, k=0) == {}
    # k larger than the pool returns the whole non-core pool
    assert set(bench._slowest(timings, core, k=99)) == {
        "a_slow", "b_slow", "fast", "mid",
    }


def test_cpus_field_echoes_non_integer_env():
    """A non-integer $SPARK_GRAFT_CPUS (local[*]) is echoed raw on the
    contract line instead of raising after all measurement is done."""
    assert bench._cpus_field("4") == 4
    assert bench._cpus_field("*") == "*"
    assert bench._cpus_field("") == ""
