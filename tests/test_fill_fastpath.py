"""Focused gates for the r8 fill-kernel internals (optimization round):

- _row_max: the left-to-right np.maximum chain must be bit-identical to
  ndarray.max(axis=1) for every width, NaN placement and signed zero —
  it replaced the reduce on the kernel's two hot row-max sites.
- the sentinel-padded k-NN selection loop (+-inf pads, transposed
  contiguous writes): fill_series must stay bit-identical to the
  independent per-gap oracle on the adversarial shapes the sentinels and
  the tie rule exist for — gaps outside the ref span (one side of the
  merge exhausted), exact symmetric ties (tie goes to the EARLIER ref),
  k == n_ref, and single-ref series.
- the low-signal fast path: when no row is low-signal the kernel skips
  the g_rows gather entirely; mixed batches must take the gather branch
  and still match the oracle row-for-row.
- _row_sum: the IDW row sums over the transposed (F-ordered) views must
  add in numpy's contiguous-row order, bit-identical to sum(axis=1) of a
  contiguous copy for every k.

All comparisons are exact, both after the default round_p and unrounded
(round_p=None), matching the engine's oracle bar.
"""

import numpy as np
import pytest

from spinterps_spark.operators import gapfill as G

from tests import oracle


def _cmp_series(t, v, method, **kw):
    for leg in ({}, {"round_p": None}):   # default rounding, then unrounded
        got, gev, gcd = G.fill_series(
            np.asarray(t, np.int64), np.asarray(v, float), method=method,
            **kw, **leg,
        )
        want, wev, wcd = oracle.fill_series_oracle(t, v, method, **kw, **leg)
        same = (got == want) | (np.isnan(got) & np.isnan(want))
        assert same.all(), (method, leg, got[~same], want[~same])
        assert (gev == wev).all()
        assert (gcd == wcd).all()


def test_row_max_bit_identical():
    rng = np.random.default_rng(11)
    for width in range(1, 9):
        for _ in range(25):
            a = rng.standard_normal((rng.integers(1, 400), width))
            # sprinkle NaN, +-0.0 and ties
            flat = a.ravel()
            idx = rng.integers(0, flat.size, size=max(1, flat.size // 7))
            flat[idx[: len(idx) // 3]] = np.nan
            flat[idx[len(idx) // 3: 2 * len(idx) // 3]] = 0.0
            flat[idx[2 * len(idx) // 3:]] = -0.0
            want = a.max(axis=1)
            got = G._row_max(a)
            np.testing.assert_array_equal(got, want)
    # transposed (F-ordered) views as produced by the selection loop
    a = rng.standard_normal((8, 300)).T
    np.testing.assert_array_equal(G._row_max(a), a.max(axis=1))


def test_row_sum_bit_identical():
    rng = np.random.default_rng(5)
    for k in range(1, 17):
        a = rng.standard_normal((k, 300)) * rng.uniform(0.0, 1e6, (k, 1))
        a[:, :5] = -0.0                       # signed-zero rows
        a[0, 5:10] = 0.0
        view = a.T                            # (G, k) F-ordered, as in fill_series
        want = np.ascontiguousarray(view).sum(axis=1)
        np.testing.assert_array_equal(G._row_sum(view).view(np.int64),
                                      want.view(np.int64))


@pytest.mark.parametrize("method", ["IDW", "NNB"])
def test_gaps_outside_ref_span(method):
    # leading and trailing gaps: one side of the two-pointer merge is
    # exhausted immediately -> the +-inf sentinel must yield the same
    # neighbor set as the oracle's global argsort
    t = np.arange(20, dtype=np.int64) * 3600
    v = np.full(20, np.nan)
    v[8:12] = [5.0, 7.0, 6.0, 9.0]     # refs only in the middle
    _cmp_series(t, v, method)


@pytest.mark.parametrize("method", ["IDW", "NNB", "OK"])
def test_symmetric_tie_goes_left(method):
    # gap exactly centered between two refs: tie must resolve to the
    # EARLIER ref (the stable-argsort order the oracle uses)
    t = np.array([0, 3600, 7200, 10800, 14400], dtype=np.int64)
    v = np.array([1.0, np.nan, 3.0, np.nan, 8.0])
    kw = {"vg_str": "2.0 Exp(9000.0)"} if method == "OK" else {}
    _cmp_series(t, v, method, **kw)


def test_k_equals_n_ref_and_single_ref():
    # fewer refs than n_neighbors: k == n_ref (window is every ref);
    # single ref: the k == 1 branch
    t = np.arange(12, dtype=np.int64) * 60
    v = np.full(12, np.nan)
    v[[2, 9]] = [4.0, 2.0]
    _cmp_series(t, v, "IDW")
    v2 = np.full(12, np.nan)
    v2[5] = 7.5
    _cmp_series(t, v2, "IDW")


def test_low_signal_subset_takes_gather_branch():
    # first half of the series sits below min_var_val_thresh (0.1), the
    # second half well above: some gaps are low-signal means, others IDW
    # -> the kernel's g_rows gather branch, row-identical to the oracle
    t = np.arange(60, dtype=np.int64) * 3600
    v = np.full(60, np.nan)
    v[2:28:3] = 0.01
    v[32:58:3] = 50.0
    _cmp_series(t, v, "IDW")


def test_fill_series_oracle_fuzz():
    rng = np.random.default_rng(23)
    for case in range(150):
        n = int(rng.integers(3, 300))
        t = (np.sort(rng.choice(np.arange(n * 3), n, replace=False))
             * 60).astype(np.int64)
        v = rng.uniform(0.0, 30.0, n)
        miss = rng.random(n) < rng.uniform(0.1, 0.95)
        if miss.all():
            miss[int(rng.integers(n))] = False
        v[miss] = np.nan
        for method in ("IDW", "NNB"):
            _cmp_series(t, v, method)
