"""Gap-fill of empty buckets by weighted temporal interpolation.

Graft of the reference's per-step spatial interpolation (SURVEY.md §3.1) onto
the time axis: for every invalid/absent bucket of a conversation's metric
series, estimate the value from the k nearest *valid* buckets of the same
conversation, weighted by IDW / Ordinary-Kriging / nearest-neighbor over
temporal distance (seconds). Kriging weights come from a variogram model
string fitted per conversation cluster (operators/variogram.py), reusing the
reference's exact DSL and kernels:

- IDW: distances max-normalized to avoid overflow, weights 1/d^p
  (interp/steps.py:297-305, cyth/interpmthds.pyx:784-808).
- OK: (k+1)^2 gamma matrix with Lagrange border, pinv, lambda = A^-1 rhs;
  if sum(lambda) not ~ 1 -> nearest-neighbor fallback with est_var 0
  (cyth/interpmthds.pyx:251-362, fallback interp/steps.py:403-435).
- single-ref short-circuit: one valid bucket -> its value
  (interp/steps.py:281-283).
- low-signal rule P6: all neighbor values < min_var_val_thresh -> neighbor
  mean (interp/steps.py:760-765 applied at 308-330).
- full-nuggetness rule P7: degenerate variogram -> neighbor mean, est_var 0
  (misc.py:1074-1105, used interp/steps.py:722-724).
- value clamp P4 (interp/steps.py:466-476) and round(p) pre-write
  (interp/steps.py:917-918).

Execution model: stitched `mapInArrow` batches of complete (conv_id[, chunk])
groups (operators/grouped.py) — Arrow columns read as float64 numpy views,
zero per-row Python. The O2 rewrite from the
reference (one matrix factorization per variogram/config, not per step:
interp/prepare.py:465-508, interp/steps.py:333-346) appears here TWICE:
a per-series pinv group keyed by the neighbor index-set (a contiguous gap
run costs one factorization), and a cross-conversation cache keyed by
(vg_str, relative neighbor time pattern) shared across the whole Arrow
batch — dense tier spines repeat the same patterns everywhere, so most
conversations solve with zero new factorizations.

Scale: mega-conversations are split into bounded bucket-range chunks with an
overlap pad of ref rows (the reference's max_steps_per_chunk memory planning,
interp/main.py:723-731), so no single Arrow group exceeds
~chunk_buckets rows regardless of conversation size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from spinterps_spark import TIER_SECONDS
from spinterps_spark.compress.gorilla import FUSED_CHUNK
from spinterps_spark.functions.vg_models import (
    check_full_nuggetness,
    parse_vg_str,
    vg_vals,
)

DEFAULTS = dict(
    idw_exp=5.0,          # reference canonical knob (test/test_interp.py:98)
    n_neighbors=8,
    min_var_val_thresh=0.1,  # test/test_interp.py:96
    min_vg_val=1e-4,         # test/test_interp.py:104
    round_p=2,               # nmrl_prcn (FIXTURES.md F6)
)

KRIGING = ("OK", "SK", "EDK", "IK")
FILL_METHODS = ("IDW", *KRIGING, "NNB")

# fill_method codes emitted per filled bucket (K5 problem-step logging analog)
M_OBSERVED, M_SINGLE, M_LOWSIG, M_NUGGET, M_IDW, M_OK, M_NNB_FALLBACK, M_NNB, M_EMPTY = (
    "observed", "single_ref", "low_signal_mean", "nugget_mean", "idw", "ok",
    "nnb_fallback", "nnb", "unfillable",
)


def _row_max(a: np.ndarray) -> np.ndarray:
    """max over axis=1 via a left-to-right np.maximum chain: bit-identical
    to a.max(axis=1) (same left-to-right pair order; max is exact under
    any association and NaN propagates identically) but ~4x faster on the
    (G, k<=8) blocks this kernel reduces — numpy's strided maximum reduce
    loop has no fast inner path (r8, measured 34 -> 8 us at (618, 8))."""
    r = a[:, 0].copy()
    for j in range(1, a.shape[1]):
        np.maximum(r, a[:, j], out=r)
    return r


def _row_sum(a: np.ndarray) -> np.ndarray:
    """sum over axis=1 in the order numpy sums a C-contiguous row, applied
    to the rows of a.T (contiguous for the kernel's transposed (k, G)
    views): for k < 8 a sequential chain, else 8 strided accumulators,
    ((r0+r1)+(r2+r3))+((r4+r5)+(r6+r7)), then the remainder added
    sequentially (numpy's pairwise_sum for k <= 128), from numpy's 0.0
    start value (so -0.0 sums to 0.0). A plain a.sum(axis=1) on those
    F-ordered views adds sequentially, which differs in the last ulp from
    the contiguous-row oracle."""
    x = a.T
    k = len(x)
    if k < 8:
        r = x[0] + 0.0
        for row in x[1:]:
            r += row
        return r
    tail = k - k % 8
    acc = x[:8]
    for i in range(8, tail, 8):
        acc = acc + x[i:i + 8]
    acc = acc[0::2] + acc[1::2]     # r0+r1, r2+r3, r4+r5, r6+r7
    acc = acc[0::2] + acc[1::2]
    r = acc[0] + acc[1]
    r += 0.0
    for j in range(tail, k):
        r += x[j]
    return r


def fill_series(
    t: np.ndarray,
    v: np.ndarray,
    method: str = "IDW",
    vg_str: str | None = None,
    idw_exp: float = DEFAULTS["idw_exp"],
    n_neighbors: int = DEFAULTS["n_neighbors"],
    min_var_val_thresh: float = DEFAULTS["min_var_val_thresh"],
    min_vg_val: float = DEFAULTS["min_vg_val"],
    min_cut: float | None = None,
    max_cut: float | None = None,
    round_p: int | None = DEFAULTS["round_p"],
    ik_lim: float = 1.0,
    drifts: np.ndarray | None = None,
    nan_llm: float | None = None,
    nan_ulm: float | None = None,
    pinv_cache: dict | None = None,
    want_codes: bool = True,
):
    """Fill NaNs of v (float64) at times t (int64 seconds, sorted asc).

    want_codes=False skips materializing the per-row method-code object
    array (the fused chunk path discards it — building n Python-string
    cells per call was pure overhead there); the clamp/round mask is the
    miss mask either way, and the third return value is None.

    nan_llm/nan_ulm (P5, reference utils/lmt_and_infil_nc.py:459-502):
    observations OUTSIDE [nan_llm, nan_ulm] are nulled to gaps and refilled
    from in-range neighbors — distinct from the P4 min_cut/max_cut clamp,
    which clips *interpolated* values.

    drifts: optional (n, m) external-drift covariates aligned with t (must
    be known at gap rows too — the whole point of EDK). None + method=EDK
    falls back to the single synthetic linear-time drift (days since first
    ref), preserving r1 behavior. m drifts add m border rows/cols to the
    kriging system (reference cyth/interpmthds.pyx:588-719: one border per
    drift raster).

    vg_str may also be a per-row array of model strings (the regime
    broadcast-back path, reference vgclus/tvg_fit.py:58-96): each gap is
    kriged under ITS OWN bucket's model; solves group by (vg, neighbor-set)
    so a regime run still costs one factorization per pattern.

    Returns (filled_values, est_vars, method_codes). Pure numpy — shared by
    the Spark UDF; the test oracle is an independent reimplementation.
    """
    t = np.asarray(t, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    vg_arr = None
    if isinstance(vg_str, np.ndarray):
        vg_arr = vg_str
        vg_str = None
    if nan_llm is not None or nan_ulm is not None:
        v = v.copy()
        if nan_llm is not None:
            v[v < nan_llm] = np.nan
        if nan_ulm is not None:
            v[v > nan_ulm] = np.nan
    n = len(t)
    out = v.copy()
    est_var = np.zeros(n, dtype=np.float64)
    codes = np.full(n, M_OBSERVED, dtype=object) if want_codes else None

    miss = np.isnan(v)
    if not miss.any():
        return out, est_var, codes
    # .nonzero() on the 1-D mask == np.flatnonzero minus two wrapper layers
    ref_idx = (~miss).nonzero()[0]
    gap_idx = miss.nonzero()[0]
    if len(ref_idx) == 0:
        if codes is not None:
            codes[gap_idx] = M_EMPTY
        return out, est_var, codes

    t_ref = t[ref_idx]
    v_ref = v[ref_idx]
    kriging = method in KRIGING
    vg_gap = None
    if kriging:
        if vg_arr is not None:
            vg_gap = vg_arr[np.flatnonzero(miss)]
            if any(s is None or str(s) == "nan" for s in vg_gap):
                # reference behavior: interp/steps.py:332-333 raise on NaN vg
                raise ValueError("NaN VG!")
        elif vg_str is None or str(vg_str) == "nan":
            raise ValueError("NaN VG!")
    nuggety = (
        kriging and vg_gap is None and check_full_nuggetness(vg_str, min_vg_val)
    )

    n_ref = len(ref_idx)
    n_gap = len(gap_idx)
    t_gap = t[gap_idx]
    k = min(n_neighbors, n_ref)

    # ---- vectorized k-nearest selection over the sorted ref timeline:
    # two-pointer merge outward from each gap's insertion point (r8; was a
    # stable argsort over the 2k-wide bracketing window). The merge emits
    # neighbors in ascending distance with the tie going LEFT (the earlier
    # ref) — exactly the order the stable window argsort produced
    # (equidistant candidates can only be one left/right pair, and the
    # left one had the smaller window position), so nb/dists/zs are
    # bit-identical (500-case fuzz equality incl. symmetric-tie grids).
    # O(G*k) with no (G, 2k) temporaries instead of O(G*k log k).
    # Loop body leaned out (r8 second pass, measured 162 -> 93 us/group on
    # the real ref density): +-inf sentinels at both ends of a padded
    # timeline replace the two bounds clamps + wheres (an exhausted side
    # reads the sentinel and yields distance +inf, the exact value the
    # where produced); per-j outputs are written to contiguous rows of
    # (k, G) arrays, exposed to the rest of the kernel as transposed views.
    # Elementwise ops give the same values in either memory order; row
    # sums over these F-ordered views go through _row_sum, which adds in
    # numpy's contiguous-row order, so IDW matches the contiguous-row
    # oracle (tests/oracle.py) bit-for-bit even unrounded.
    t_pad = np.empty(n_ref + 2, dtype=np.float64)
    t_pad[0] = -np.inf
    t_pad[-1] = np.inf
    t_pad[1:-1] = t_ref
    pos = t_ref.searchsorted(t_gap)
    lp = pos.copy()     # padded index of the left candidate (ref i -> i+1)
    rp = pos + 1        # padded index of the right candidate
    nb_t = np.empty((k, n_gap), dtype=np.int64)
    d_t = np.empty((k, n_gap), dtype=np.float64)
    for j in range(k):
        dl = t_gap - t_pad[lp]
        dr = t_pad[rp] - t_gap
        left = dl <= dr
        nb_t[j] = np.where(left, lp, rp)
        np.minimum(dl, dr, out=d_t[j])
        lp -= left
        rp += 1
        rp -= left
    np.subtract(nb_t, 1, out=nb_t)      # back to unpadded ref indices
    nb = nb_t.T                                                # (G, k)
    dists = d_t.T                                              # (G, k)
    zs = v_ref[nb]                                             # (G, k)

    # nearest-ref values are consumed only by the NNB branch and the kriging
    # fallback ladder; IDW never reads them, so skip the argmin + fancy
    # gather there (measured ~8% of the fused kernel's fill time, r8).
    # Neighbor means are likewise computed on just the rows that take a
    # mean fill (low-signal / nugget) — a per-row mean over the same k
    # elements rounds identically whether or not the other rows computed it.
    nearest = (
        zs[np.arange(n_gap), np.argmin(dists, axis=1)]
        if (method == "NNB" or kriging) else None
    )

    # g_rows is None == ALL gap rows survive the low-signal screen (the
    # common case): downstream operates on the full (G, k) arrays directly
    # instead of gathering copies through an all-true index — bit-identical
    # (a gather of every row in order IS the array), saves three (G, k)
    # copies + a flatnonzero per call (r8 fast path).
    if k == 1:
        out[gap_idx] = zs[:, 0]
        if codes is not None:
            codes[gap_idx] = M_SINGLE
        do_rest = False
        g_rows = None
    else:
        lowsig = _row_max(zs) < min_var_val_thresh
        if lowsig.any():
            out[gap_idx[lowsig]] = zs[lowsig].mean(axis=1)
            if codes is not None:
                codes[gap_idx[lowsig]] = M_LOWSIG
            rest = ~lowsig
            do_rest = bool(rest.any())
            g_rows = np.flatnonzero(rest) if do_rest else None
        else:
            do_rest = True
            g_rows = None

    if do_rest:
        whole = g_rows is None
        if method == "NNB":
            idx = gap_idx if whole else gap_idx[g_rows]
            out[idx] = nearest if whole else nearest[g_rows]
            if codes is not None:
                codes[idx] = M_NNB

        elif method == "IDW":
            d = dists if whole else dists[g_rows]
            z = zs if whole else zs[g_rows]
            idx = gap_idx if whole else gap_idx[g_rows]
            dm = _row_max(d)
            if (dm > 0).all():
                # the always-in-practice case (a zero max distance needs
                # every neighbor at the gap's own timestamp): the generic
                # expression below reduces to the plain division when no
                # dm is 0 — identical values, two wheres fewer (r8)
                dn = d / dm[:, None]
            else:
                dn = np.where(
                    dm[:, None] > 0, d / np.where(dm == 0, 1, dm)[:, None], d)
            wts = 1.0 / (dn ** idw_exp)
            wts_sum = _row_sum(wts)
            assert (wts_sum >= 1e-14).all(), wts_sum.min()
            out[idx] = _row_sum(wts * z) / wts_sum
            if codes is not None:
                codes[idx] = M_IDW

        elif kriging:
            if whole:
                g_rows = np.arange(n_gap)
            kr_rows = g_rows
            if vg_gap is not None:
                # per-row vg (regime path): P7 nuggetness decided per gap
                nug_by_vg = {
                    s: check_full_nuggetness(s, min_vg_val)
                    for s in set(vg_gap[g_rows])
                }
                is_nug = np.array([nug_by_vg[s] for s in vg_gap[g_rows]])
                nug_rows = g_rows[is_nug]
                out[gap_idx[nug_rows]] = zs[nug_rows].mean(axis=1)
                if codes is not None:
                    codes[gap_idx[nug_rows]] = M_NUGGET
                kr_rows = g_rows[~is_nug]
            if nuggety:
                out[gap_idx[g_rows]] = zs[g_rows].mean(axis=1)
                if codes is not None:
                    codes[gap_idx[g_rows]] = M_NUGGET
            elif len(kr_rows):
                drift_ref = drift_gap = None
                if method == "EDK":
                    if drifts is None:
                        # r1 default: one synthetic linear-time drift
                        d_all = ((t - t_ref.min()) / 86400.0)[:, None]
                    else:
                        d_all = np.asarray(drifts, dtype=np.float64)
                        if d_all.ndim == 1:
                            d_all = d_all[:, None]
                        if np.isnan(d_all).any():
                            # fail fast with a clear cause instead of a
                            # LinAlgError from a NaN kriging matrix deep in
                            # the executor
                            raise ValueError(
                                "EDK drift contains NaN — drift covariates "
                                "must be known at every row (gaps included); "
                                "check the with_drift join coverage"
                            )
                    drift_ref = d_all[ref_idx]
                    drift_gap = d_all[gap_idx]
                _fill_krige(
                    method, kr_rows, nb, dists, zs, nearest, t_ref, v_ref,
                    t_gap, vg_str, gap_idx, out, est_var, codes,
                    ik_lim=ik_lim, drift_ref=drift_ref, drift_gap=drift_gap,
                    pinv_cache=pinv_cache, vg_gap=vg_gap,
                )
        else:
            raise NotImplementedError(method)

    # P4 clamp, then round(p) pre-write — observed values untouched,
    # matching the reference which clamps/rounds the interpolated field only.
    # (every miss row received a code above, so miss IS the filled mask —
    # no object-array comparison needed)
    filled = miss
    if min_cut is not None:
        out[filled & (out < min_cut)] = min_cut
    if max_cut is not None:
        out[filled & (out > max_cut)] = max_cut
    if round_p is not None:
        # ndarray.round IS np.round's array path, minus two wrapper layers
        out[filled] = out[filled].round(round_p)
    return out, est_var, codes


def _fill_krige(
    method, g_rows, nb, dists, zs, nearest, t_ref, v_ref, t_gap, vg_str,
    gap_idx, out, est_var, codes, ik_lim=1.0, drift_ref=None, drift_gap=None,
    pinv_cache: dict | None = None, vg_gap=None,
):
    """Kriging solves per gap, grouped by neighbor index-set so each set
    costs one matrix build + pinv (the reference O2 rewrite,
    interp/steps.py:333-346). Gamma evaluations are batched per group; the
    small dot-product solve stays gemv per gap to keep the reduction order
    identical to the per-step oracle.

    pinv_cache (cross-conversation O2): the gamma matrix depends only on
    (vg_str, relative neighbor time pattern), and dense tier spines repeat
    the same patterns across conversations constantly — a shared dict keyed
    by (method, vg_str, tuple(tt - tt[0])) lets one pinv serve every
    conversation in the Arrow batch. Bit-exact: pinv is deterministic for
    identical input, so cached and fresh factorizations are identical.
    EDK is excluded (its drift rows break the relative-pattern invariance).

    Variants (reference cyth/interpmthds.pyx):
    - OK  (251-362): gamma matrix + Lagrange border; sum(lambda)~1 sanity.
    - SK  (365-471): covariance form C = total_sill - gamma, no border;
      est_covar = max(0, C0 - sum(lambda*rhs)). Deprecated in the reference
      pipeline (interp/main.py:263-265) but kept for parity.
    - EDK (474-585, multi-drift 588-719): OK border + one row/col PER
      drift; drift defaults to linear time (days since group start) and
      generalizes to m external covariate columns (drift_ref/drift_gap).
    - IK  (722-742): OK lambdas applied to indicator(z <= lim); value in
      [0,1], est_var = ik*(1-ik).
    """
    from collections import defaultdict

    groups = defaultdict(list)
    for r in g_rows:
        vg_r = vg_gap[r] if vg_gap is not None else vg_str
        groups[(vg_r, tuple(nb[r]))].append(r)

    sills = {
        vg: sum(s for s, _m, _r in parse_vg_str(vg))
        for vg in {k[0] for k in groups}
    }
    n_drift = drift_ref.shape[1] if drift_ref is not None else 0

    for (vg_str, key), rows in groups.items():
        total_sill = sills[vg_str]
        kk = len(key)
        key_l = list(key)
        tt = t_ref[key_l]

        cache_key = None
        if pinv_cache is not None and method != "EDK":
            cache_key = (method, vg_str, tuple((tt - tt[0]).tolist()))
        if cache_key is not None and cache_key in pinv_cache:
            inv = pinv_cache[cache_key]
        else:
            dmat = np.abs(tt[:, None] - tt[None, :])
            g = vg_vals(vg_str, dmat.ravel()).reshape(kk, kk)
            np.fill_diagonal(g, 0.0)

            if method == "SK":
                a = total_sill - g
            elif method == "EDK":
                # one Lagrange border + one border row/col per drift
                a = np.zeros((kk + 1 + n_drift, kk + 1 + n_drift), dtype=np.float64)
                a[:kk, :kk] = g
                a[kk, :kk] = 1.0
                a[:kk, kk] = 1.0
                dr = drift_ref[key_l]                       # (kk, n_drift)
                for q in range(n_drift):
                    a[kk + 1 + q, :kk] = dr[:, q]
                    a[:kk, kk + 1 + q] = dr[:, q]
            else:  # OK / IK
                a = np.zeros((kk + 1, kk + 1), dtype=np.float64)
                a[:kk, :kk] = g
                a[kk, :kk] = 1.0
                a[:, kk] = 1.0
                a[kk, kk] = 0.0
            try:
                inv = np.linalg.pinv(a)
            except Exception:
                inv = None
            if cache_key is not None:
                if len(pinv_cache) > 8192:   # bound executor memory
                    pinv_cache.clear()
                pinv_cache[cache_key] = inv
        rows_arr = np.asarray(rows)
        if inv is None:
            # K5: singular system -> NNB fallback
            out[gap_idx[rows_arr]] = nearest[rows_arr]
            est_var[gap_idx[rows_arr]] = 0.0
            if codes is not None:
                codes[gap_idx[rows_arr]] = M_NNB_FALLBACK
            continue
        # batched gamma over the whole group's distance block
        gam = vg_vals(vg_str, dists[rows_arr].ravel()).reshape(len(rows), kk)
        ix = np.where(zs <= ik_lim, 1.0, 0.0) if method == "IK" else None
        for i, r in enumerate(rows):
            j = gap_idx[r]
            if method == "SK":
                rhs = total_sill - gam[i]
                lmds = inv @ rhs
                out[j] = (lmds * zs[r]).sum()
                est_var[j] = max(0.0, total_sill - (lmds * rhs).sum())
                if codes is not None:
                    codes[j] = M_OK
                continue
            if method == "EDK":
                rhs = np.zeros(kk + 1 + n_drift, dtype=np.float64)
                rhs[:kk] = gam[i]
                rhs[kk] = 1.0
                rhs[kk + 1:] = drift_gap[r]
            else:
                rhs = np.zeros(kk + 1, dtype=np.float64)
                rhs[:kk] = gam[i]
                rhs[kk] = 1.0
            lmds = inv @ rhs
            if not np.isclose(lmds[:kk].sum(), 1.0):
                out[j] = nearest[r]
                est_var[j] = 0.0
                if codes is not None:
                    codes[j] = M_NNB_FALLBACK
            elif method == "IK":
                ik = max(0.0, (lmds[:kk] * ix[r]).sum())
                out[j] = ik
                est_var[j] = max(0.0, ik * (1.0 - ik))
                if codes is not None:
                    codes[j] = M_OK
            elif method == "EDK":
                out[j] = (lmds[:kk] * zs[r]).sum()
                est_var[j] = 0.0
                if codes is not None:
                    codes[j] = M_OK
            else:
                out[j] = (lmds[:kk] * zs[r]).sum()
                est_var[j] = max(0.0, (lmds[:kk] * rhs[:kk]).sum() + lmds[kk])
                if codes is not None:
                    codes[j] = M_OK


def _nan_lims_col(v, params: dict):
    """P5 limit-to-NaN applied IN THE PLAN (not only inside the kernel):
    chunk membership must see out-of-range observations as gaps, otherwise
    a chunked fill counts them as refs when computing lag/lead coverage and
    diverges from the unchunked result near chunk edges."""
    llm, ulm = params.get("nan_llm"), params.get("nan_ulm")
    if llm is not None:
        v = F.when(v < F.lit(float(llm)), F.lit(None)).otherwise(v)
    if ulm is not None:
        v = F.when(v > F.lit(float(ulm)), F.lit(None)).otherwise(v)
    return v


def with_drift(
    spined: DataFrame,
    drift: DataFrame,
    drift_cols: list[str],
    keys: tuple[str, str] = ("conv_id", "bucket_ts"),
) -> DataFrame:
    """J8 external-drift lookup join (reference interp/drift.py:165-227):
    attach per-(conv, bucket) covariate columns to a spined series. Drift
    must be known at gap rows too; feed the result to gapfill(...,
    method='EDK', drift_cols=drift_cols)."""
    return spined.join(drift.select(*keys, *drift_cols), list(keys), "left")


def _fill_kwargs(method: str, params: dict) -> dict:
    """fill_series keyword arguments from the merged DEFAULTS + knobs."""
    return dict(
        method=method,
        idw_exp=params["idw_exp"],
        n_neighbors=params["n_neighbors"],
        min_var_val_thresh=params["min_var_val_thresh"],
        min_vg_val=params["min_vg_val"],
        min_cut=params.get("min_cut"),
        max_cut=params.get("max_cut"),
        round_p=params.get("round_p"),
        ik_lim=params.get("ik_lim", 1.0),
        nan_llm=params.get("nan_llm"),
        nan_ulm=params.get("nan_ulm"),
    )


def _with_conv_vg(df: DataFrame, method: str, coords, vg_dim) -> DataFrame:
    """Attach each conversation's variogram string as `vg_str`: kriging
    broadcast-joins coords (conv_id -> cluster_id) with vg_dim
    (cluster_id -> vg_str); the other methods get a NULL column."""
    if method not in KRIGING:
        return df.withColumn("vg_str", F.lit(None).cast("string"))
    if coords is None or vg_dim is None:
        raise ValueError(f"{method} needs coords (conv_id->cluster_id) and vg_dim")
    dim = coords.select("conv_id", "cluster_id").join(
        vg_dim.select("cluster_id", "vg_str"), "cluster_id", "left"
    )
    return df.join(F.broadcast(dim.select("conv_id", "vg_str")), "conv_id", "left")


def gapfill(
    spined: DataFrame,
    value_col: str,
    method: str = "IDW",
    vg_dim: DataFrame | None = None,
    coords: DataFrame | None = None,
    tier: str = "1h",
    chunk_buckets: int | None = None,
    drift_cols: list[str] | None = None,
    vg_col: str | None = None,
    **knobs,
) -> DataFrame:
    """Fill gaps of `value_col` in a spined rollup (NULL == gap).

    vg_dim: optional small dim (cluster_id int, vg_str string) for OK —
    broadcast-joined via coords (conv_id -> cluster_id). Output columns:
    conv_id, bucket_ts, value_filled, est_var, fill_method.

    vg_col: alternatively, a PER-ROW variogram-string column already on
    `spined` (regime broadcast-back, variogram.broadcast_regime_vg —
    reference vgclus/tvg_fit.py:58-96): each gap is kriged under its own
    bucket's model. Mutually exclusive with coords/vg_dim.

    drift_cols: EDK external-drift covariate columns already present on
    `spined` (join them with with_drift); m columns -> m border rows/cols
    in the kriging system. None + EDK = the synthetic linear-time drift.

    Emits filled rows over a materialized spine (the declared fill queries
    read them); the retention store fills through gapfill_virtual_chunks,
    which encodes Gorilla chunks in the same pass.
    """
    params = {**DEFAULTS, **knobs}
    secs = TIER_SECONDS[tier]

    drift_cols = list(drift_cols) if drift_cols else []
    per_row_vg = vg_col is not None
    kriging = method in KRIGING
    if per_row_vg and not kriging:
        raise ValueError("vg_col only applies to kriging methods")
    if per_row_vg and (coords is not None or vg_dim is not None):
        # enforce the documented mutual exclusion: silently ignoring
        # coords/vg_dim here would mask a caller bug (ADVICE r3)
        raise ValueError("vg_col is mutually exclusive with coords/vg_dim")
    df = spined.select(
        "conv_id",
        "bucket_ts",
        _nan_lims_col(F.col(value_col).cast("double"), params).alias("_v"),
        F.unix_timestamp("bucket_ts").alias("_t"),
        *[F.col(c).cast("double").alias(c) for c in drift_cols],
        *( [F.col(vg_col).alias("vg_str")] if per_row_vg else [] ),
    )

    if not per_row_vg:  # else the vg already rides each row
        df = _with_conv_vg(df, method, coords, vg_dim)

    group_cols = ["conv_id"]
    if chunk_buckets:
        # RANK-BASED chunk membership (same guarantee as the virtual-spine
        # path): ref i joins every chunk in [chunk(t_{i-k}) .. chunk(t_{i+k})]
        # via lag/lead over the conversation's refs, so every chunk —
        # including ones lying wholly inside a silence hole longer than the
        # chunk span — receives at least the k nearest refs on each side,
        # and per-gap neighbor selection is bit-identical to the global
        # k-NN. (ADVICE r1: a fixed edge pad lost true neighbors across
        # holes longer than the pad.) The ref/gap split shares one shuffle
        # via ReusedExchange — the branches are filters over the same
        # child plan.
        from pyspark.sql import Window as W

        span = chunk_buckets * secs
        k = params["n_neighbors"]
        w = W.partitionBy("conv_id").orderBy("_t")
        # same ordered spec with an unbounded frame (not a second
        # unordered Window spec): identical values, but CollapseWindow can
        # fuse the bounds into the lag/lead Window pass (guide 2.4)
        b = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        # edge fallback spans the conversation's FULL row range (computed
        # before the ref/gap split), so gaps in chunks beyond the first/last
        # ref still receive the nearest refs instead of going unfillable
        df = df.select(
            "*",
            F.min("_t").over(b).alias("_gmin"),
            F.max("_t").over(b).alias("_gmax"),
        )
        is_ref = F.col("_v").isNotNull()
        refs = df.where(is_ref).select(
            "*",
            F.coalesce(F.lag("_t", k).over(w), F.col("_gmin")).alias("_tl"),
            F.coalesce(F.lead("_t", k).over(w), F.col("_gmax")).alias("_tr"),
        )
        gaps = df.where(~is_ref).select(
            "*", F.col("_t").alias("_tl"), F.col("_t").alias("_tr")
        )
        df = refs.unionByName(gaps)
        df = df.select(
            "*",
            F.explode(
                F.sequence(
                    F.floor(F.col("_tl") / span), F.floor(F.col("_tr") / span)
                )
            ).alias("_chunk"),
        ).drop("_tl", "_tr", "_gmin", "_gmax")
        df = df.withColumn("_pad", F.floor(F.col("_t") / span) != F.col("_chunk"))
        group_cols = ["conv_id", "_chunk"]
    else:
        df = df.select("*", F.lit(0).alias("_chunk"), F.lit(False).alias("_pad"))

    out_schema = (
        "conv_id string, bucket_ts timestamp, value_filled double, "
        "est_var double, fill_method string"
    )
    ts_type = pa.timestamp("us", tz="UTC")
    out_arrow = pa.schema([
        ("conv_id", pa.string()), ("bucket_ts", ts_type),
        ("value_filled", pa.float64()), ("est_var", pa.float64()),
        ("fill_method", pa.string()),
    ])

    from spinterps_spark.operators.grouped import apply_grouped_batches, column

    kw = _fill_kwargs(method, params)

    def fill_batch(batch: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        _cache: dict = {}   # cross-conversation pinv reuse within the batch
        n = batch.num_rows
        ends = np.append(starts[1:], n)
        t_all = column(batch, "_t", np.int64)
        v_all = column(batch, "_v", np.float64)
        vg_all = column(batch, "vg_str") if kriging else None
        dr_all = (
            np.column_stack([column(batch, c, np.float64) for c in drift_cols])
            if drift_cols else None
        )
        filled = np.empty(n, dtype=np.float64)
        est = np.empty(n, dtype=np.float64)
        codes = np.empty(n, dtype=object)
        for s, e in zip(starts, ends):
            vg = None
            if per_row_vg:
                vg = vg_all[s:e]
            elif kriging:
                nn = pd.notna(vg_all[s:e])
                vg = vg_all[s:e][nn][0] if nn.any() else "nan"
            f, ev, cd = fill_series(
                t_all[s:e], v_all[s:e], vg_str=vg,
                drifts=dr_all[s:e] if dr_all is not None else None,
                pinv_cache=_cache, **kw,
            )
            filled[s:e] = f
            est[s:e] = ev
            codes[s:e] = cd
        keep = ~column(batch, "_pad", bool)
        rows = np.flatnonzero(keep)
        return pa.RecordBatch.from_arrays([
            pc.take(batch.column("conv_id"), rows),
            pc.take(batch.column("bucket_ts"), rows).cast(ts_type),
            pa.array(filled[keep]),
            pa.array(est[keep]),
            pa.array(codes[keep], type=pa.string()),
        ], schema=out_arrow)

    return apply_grouped_batches(df, group_cols, "_t", fill_batch, out_schema)


def _conv_groups(batch: pa.RecordBatch):
    """(per-row conversation index, conv_id per conversation) of a
    conv-sorted batch: kernels carry the small integer index instead of
    per-point conv_id strings and take the labels once per chunk."""
    from spinterps_spark.operators.grouped import key_changes

    ch = key_changes(batch.column("conv_id"))
    gid = np.concatenate(([0], np.cumsum(ch)))
    heads = np.flatnonzero(np.concatenate(([True], ch)))
    return gid, pc.take(batch.column("conv_id"), heads)


def _encode_filled(conv_gid, conv_labels, t_arr, v_arr, tier: str,
                   span: int, chunk_size: int) -> pa.RecordBatch:
    """Gorilla-encode filled (conv-sorted, time-sorted) arrays into
    time-aligned chunk rows (fused fill+encode path). conv_gid[i] indexes
    point i's conv_id in conv_labels (equal for adjacent points of one
    conversation). chunk_size is the encode-time points-per-chunk setting
    (span == chunk_size * tier seconds), stamped into every row so pruned
    reads derive the span from the table (compress/gorilla.CHUNK_SCHEMA).
    NaN rows are dropped first, so chunk boundaries and streams are
    byte-identical to the per-chunk scalar encode of each group's non-NaN
    rows."""
    from spinterps_spark.compress.gorilla import chunk_batch

    keep = ~np.isnan(v_arr)
    g = conv_gid[keep]
    t_k = t_arr[keep]
    v_k = v_arr[keep]
    ck = t_k // span
    change = np.ones(len(g), dtype=bool)
    change[1:] = (g[1:] != g[:-1]) | (ck[1:] != ck[:-1])
    starts = np.flatnonzero(change)
    return chunk_batch(pc.take(conv_labels, g[starts]), tier, t_k, v_k,
                       starts, chunk_size)


def gapfill_virtual_chunks(
    rollup_valid: DataFrame,
    value_col: str,
    method: str = "IDW",
    vg_dim: DataFrame | None = None,
    coords: DataFrame | None = None,
    tier: str = "1h",
    chunk_buckets: int = 3840,
    gorilla_chunk: int = FUSED_CHUNK,
    drift: DataFrame | None = None,
    drift_cols: list[str] | None = None,
    grid_min_ts: int | None = None,
    extra_value_cols: list[str] | None = None,
    **knobs,
) -> DataFrame:
    """Fused gap-fill + Gorilla encode over a VIRTUAL spine.

    extra_value_cols: fill k metrics through ONE pass — one shuffle, one
    grouped kernel, one chunk-table write for all of them, instead of k
    full passes. The kriging factorization is shared for free: the pinv
    cache keys on (method, vg_str, relative ref-time geometry), which is
    identical across metrics of the same conversation, so metrics 2..k
    reuse metric 1's solve and pay only the weights-times-values product.
    Output gains a `metric` string column (primary = value_col's name);
    with no extras the schema and behavior are unchanged. Row inclusion
    is governed by the PRIMARY metric's validity (all tier-rollup metrics
    are defined on the same valid rows); an extra metric that is NaN at a
    ref is treated as a gap for that metric only.

    grid_min_ts (epoch seconds): emit no grid point below it, while refs
    below it STILL anchor the interpolation — the semantics of "fill over
    full history, then trim at a retention horizon". The refresh pass uses
    this so re-filling a retained conversation matches a full rebuild
    filtered at the horizon; trimming the refs instead (the pre-fix
    behavior) silently dropped filled points whose nearest anchors lay
    before the horizon. Chunks wholly below grid_min_ts skip their fill
    entirely, so the cost stays bounded by the surviving span.

    The materialized spine inflates a sparse rollup ~30x with NULL gap rows
    (97% of Arrow traffic at the 1m tier) before the kernel re-derives the
    same information. Here the spine never exists: input is only the valid
    rollup rows; gap grid points are generated inside the kernel from each
    conversation's [first, last] bucket bounds (tier-aligned arithmetic).

    Chunk membership is rank-based: ref i is exploded into every chunk in
    [chunk(t_{i-k}) .. chunk(t_{i+k})] (k = n_neighbors, via lag/lead
    windows), which guarantees every chunk in the conversation's span —
    including chunks lying wholly inside a silence hole — receives at least
    the k nearest refs on each side, so per-gap neighbor selection is
    bit-identical to the global k-NN of the materialized path (proved by
    tests/test_virtual_spine.py equality).

    drift/drift_cols (EDK on the fused path, VERDICT r5 next-step #4;
    reference drift-at-arbitrary-points precedent interp/drift.py:165-227):
    the gap grid points the kernel generates have no materialized row to
    join covariates onto, so the drift TABLE rows ride into the kernel
    beside the refs — each (conv, bucket) drift row is chunk-assigned by
    floor(epoch/span) and co-grouped; the kernel looks gap-point drift up
    by exact bucket match, which reproduces the with_drift join values
    bit-for-bit (proved by tests/test_virtual_spine.py EDK equality).
    Scale note: this scans the drift table once and shuffles it on the
    SAME (conv, chunk) key as the refs — still no materialized NULL spine
    for the value series, which is where the ~30x inflation lived.

    Output: Gorilla chunk structs (compress/gorilla.CHUNK_SCHEMA); windows
    (gorilla_chunk buckets) nest in fill chunks (chunk_buckets % gorilla_chunk
    == 0) and the grid is tier-aligned, so chunks equal encode_tier_chunks
    over the materialized gapfill output exactly.
    """
    params = {**DEFAULTS, **knobs}
    if chunk_buckets % gorilla_chunk != 0:
        raise ValueError("chunk_buckets must be a multiple of gorilla_chunk")
    if (drift is None) != (not drift_cols):
        raise ValueError("drift and drift_cols go together")
    secs = TIER_SECONDS[tier]
    span = chunk_buckets * secs
    k = params["n_neighbors"]
    dcols = list(drift_cols or [])

    from pyspark.sql import Window as W

    from spinterps_spark.compress.gorilla import CHUNK_SCHEMA
    from spinterps_spark.operators.grouped import (
        apply_grouped_batches, column, concat_batches,
    )

    xcols = list(extra_value_cols or [])
    if len({value_col, *xcols}) != 1 + len(xcols):
        raise ValueError(
            f"extra_value_cols must be distinct from each other and from "
            f"value_col; got value_col={value_col!r}, extras={xcols}"
        )
    xnames = [f"_x{i}" for i in range(len(xcols))]
    df = rollup_valid.select(
        "conv_id",
        F.unix_timestamp("bucket_ts").alias("_t"),
        _nan_lims_col(F.col(value_col).cast("double"), params).alias("_v"),
        *[
            _nan_lims_col(F.col(c).cast("double"), params).alias(x)
            for c, x in zip(xcols, xnames)
        ],
    ).where(F.col("_v").isNotNull())

    kriging = method in KRIGING
    df = _with_conv_vg(df, method, coords, vg_dim)

    dsel = None
    if dcols:
        dsel = drift.select(
            "conv_id",
            F.unix_timestamp("bucket_ts").alias("_t"),
            *[F.col(c).cast("double").alias(c) for c in dcols],
        )
        # refs carry their own covariates (drift_ref), same join the
        # materialized path's with_drift performs
        df = df.join(dsel, ["conv_id", "_t"], "left")

    # one Window node, one sort: the conv bounds use the SAME ordered spec
    # as lag/lead with an unbounded frame (identical values to the
    # unordered spec), so CollapseWindow fuses all four functions instead
    # of planning a second Window pass + second sort (guide 2.4)
    w = W.partitionBy("conv_id").orderBy("_t")
    bounds_w = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    df = df.select(
        "*",
        F.min("_t").over(bounds_w).alias("_first"),
        F.max("_t").over(bounds_w).alias("_last"),
        F.coalesce(F.lag("_t", k).over(w), F.min("_t").over(bounds_w)).alias("_tl"),
        F.coalesce(F.lead("_t", k).over(w), F.max("_t").over(bounds_w)).alias("_tr"),
    )
    df = df.select(
        "conv_id", "_t", "_v", *xnames, "vg_str", "_first", "_last",
        F.explode(
            F.sequence(
                F.floor(F.col("_tl") / span), F.floor(F.col("_tr") / span)
            )
        ).alias("_chunk"),
        *dcols,
        F.lit(False).alias("_is_drift"),
    )
    if dcols:
        # drift table rows enter the kernel as lookup rows: one chunk each
        # (gap grid points live inside their own chunk window; context refs
        # outside the window already carry their drift from the join above)
        drows = dsel.select(
            "conv_id", "_t",
            F.lit(None).cast("double").alias("_v"),
            *[F.lit(None).cast("double").alias(x) for x in xnames],
            F.lit(None).cast("string").alias("vg_str"),
            F.lit(None).cast("long").alias("_first"),
            F.lit(None).cast("long").alias("_last"),
            F.floor(F.col("_t") / span).alias("_chunk"),
            *dcols,
            F.lit(True).alias("_is_drift"),
        )
        df = df.unionByName(drows)

    # the fused path never emits method codes — skip building the
    # per-row object array inside the kernel (pure overhead here)
    kw = dict(_fill_kwargs(method, params), want_codes=False)
    # NOTE r8 negative result, recorded so it is not retried: batching the
    # IDW fill across all groups of a batch (one vectorized pass instead of
    # one fill_series call per (conv, chunk) group) is bit-exactly possible
    # — equal-k cohorts preserve every reduce shape — but measured SLOWER
    # end to end (interleaved min 75 s vs 59 s on the sf0.1 kernel input):
    # the per-group arrays (~600 rows) are cache-resident, so the numpy
    # dispatch overhead the batching removes comes back as DRAM streaming
    # over (M, k) matrices plus per-batch allocation churn. Keep per-group.

    def fill_batch(batch: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
        _vcache: dict = {}  # cross-conversation pinv reuse within the batch
        ends = np.append(starts[1:], batch.num_rows)
        t_all = column(batch, "_t", np.int64)
        v_all = column(batch, "_v", np.float64)
        x_alls = [column(batch, x, np.float64) for x in xnames]
        ck_all = column(batch, "_chunk", np.int64)
        gid_all, conv_labels = _conv_groups(batch)
        vg_all = column(batch, "vg_str") if kriging else None
        if dcols:
            # drift rows carry null bounds -> read as float64 (NaN);
            # epochs are far below 2^53, so the int() at ref rows is exact
            isd_all = column(batch, "_is_drift", bool)
            dmat_all = np.column_stack(
                [column(batch, c, np.float64) for c in dcols])
            first_all = column(batch, "_first", np.float64)
            last_all = column(batch, "_last", np.float64)
        else:
            first_all = column(batch, "_first", np.int64)
            last_all = column(batch, "_last", np.int64)
        out_gid, out_conv_cnts, out_t = [], [], []
        out_v: dict = {m: [] for m in [value_col, *xcols]}
        for s, e in zip(starts, ends):
            c = ck_all[s]
            if dcols:
                ridx = s + np.flatnonzero(~isd_all[s:e])
                if len(ridx) == 0:
                    continue  # drift-only group: grid outside conv span
                didx = s + np.flatnonzero(isd_all[s:e])
                first = int(first_all[ridx[0]])
                last = int(last_all[ridx[0]])
                refs_t = t_all[ridx]
                refs_v = v_all[ridx]
                refs_x = [xa[ridx] for xa in x_alls]
                d_ref = dmat_all[ridx]
                dt = t_all[didx]
                dmat = dmat_all[didx]
            else:
                ridx = np.arange(s, e)
                first = first_all[s]
                last = last_all[s]
                refs_t = t_all[s:e]
                refs_v = v_all[s:e]
                refs_x = [xa[s:e] for xa in x_alls]
            lo = max(first, c * span)
            hi = min(last, (c + 1) * span - secs)
            # align the grid to the conversation's own bucket phase
            # (bucket epochs are global multiples of secs, so ceil/floor):
            g0 = -(-lo // secs) * secs
            g1 = (hi // secs) * secs
            if g1 < g0:
                continue
            if grid_min_ts is not None and g1 < grid_min_ts:
                continue  # chunk wholly below the horizon: nothing to emit
            grid = np.arange(g0, g1 + 1, secs, dtype=np.int64)
            # context refs outside the chunk window participate as refs.
            # refs_t is sorted and grid covers exactly [g0, g1], so the
            # merged series is sorted BY CONSTRUCTION: refs below g0, then
            # the grid (inside refs land on their grid slot — bucket epochs
            # are multiples of secs), then refs above g1. No per-group
            # argsort/boolean masks/gathers (r8 second pass; byte-identical
            # output on the full sf0.1 kernel input, asserted offline).
            nl = int(refs_t.searchsorted(g0, side="left"))
            nr = int(refs_t.searchsorted(g1, side="right"))
            pos = grid.searchsorted(refs_t[nl:nr])
            t_ser = np.concatenate([refs_t[:nl], grid, refs_t[nr:]])
            v_mid = np.full(len(grid), np.nan)
            v_mid[pos] = refs_v[nl:nr]
            v_ser = np.concatenate([refs_v[:nl], v_mid, refs_v[nr:]])
            x_sers = []
            for xa in refs_x:
                x_mid = np.full(len(grid), np.nan)
                x_mid[pos] = xa[nl:nr]
                x_sers.append(np.concatenate([xa[:nl], x_mid, xa[nr:]]))
            d_ser = None
            if dcols:
                # gap-point drift = exact bucket lookup in the drift rows
                # (identical values to the materialized with_drift join);
                # slots holding refs reuse the ref's own joined drift.
                d_grid = np.full((len(grid), len(dcols)), np.nan)
                if len(dt):
                    gp = np.searchsorted(dt, grid)
                    okm = (gp < len(dt)) & (dt[np.minimum(gp, len(dt) - 1)] == grid)
                    d_grid[okm] = dmat[gp[okm]]
                d_grid[pos] = d_ref[nl:nr]
                d_ser = np.concatenate([d_ref[:nl], d_grid, d_ref[nr:]])
            vg = None
            if kriging:
                vgg = vg_all[ridx]
                nn = pd.notna(vgg)
                vg = vgg[nn][0] if nn.any() else "nan"
            filled, _ev, _cd = fill_series(
                t_ser, v_ser, vg_str=vg, drifts=d_ser,
                pinv_cache=_vcache, **kw)
            # kept rows = the grid portion (outside refs are strictly
            # outside [g0, g1]), optionally horizon-trimmed — a slice, not
            # a boolean mask; conv ids are repeated ONCE per batch below.
            m0 = (0 if grid_min_ts is None
                  else int(grid.searchsorted(grid_min_ts, side="left")))
            keep = slice(nl + m0, nl + len(grid))
            out_gid.append(gid_all[s])
            out_conv_cnts.append(len(grid) - m0)
            out_t.append(grid[m0:])
            out_v[value_col].append(filled[keep])
            # metrics 2..k: same grid, same vg, same drifts — the pinv
            # cache keys on ref-time geometry, so the kriging solve is
            # reused and each extra metric pays only weights x values
            for xname, xs in zip(xcols, x_sers):
                fx, _xev, _xcd = fill_series(
                    t_ser, xs, vg_str=vg, drifts=d_ser,
                    pinv_cache=_vcache, **kw)
                out_v[xname].append(fx[keep])
        empty = not out_gid
        gid_cat = (np.array([], dtype=np.int64) if empty
                   else np.repeat(np.array(out_gid), out_conv_cnts))
        t_cat = (np.array([], dtype=np.int64) if empty
                 else np.concatenate(out_t))

        def enc(metric):
            vals = (np.array([], dtype=np.float64) if empty
                    else np.concatenate(out_v[metric]))
            return _encode_filled(gid_cat, conv_labels, t_cat, vals, tier,
                                  gorilla_chunk * secs, gorilla_chunk)

        if not xcols:
            return enc(value_col)
        frames = []
        for m in [value_col, *xcols]:
            f = enc(m)
            frames.append(
                f.append_column("metric", pa.repeat(m, f.num_rows)))
        return concat_batches(frames)

    out_schema = CHUNK_SCHEMA + (", metric string" if xcols else "")
    return apply_grouped_batches(df, ["conv_id", "_chunk"], "_t", fill_batch,
                                 out_schema)
