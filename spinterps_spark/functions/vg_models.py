"""Variogram model DSL — the reference's only query language.

Grammar (reference: misc.py:1050-1071 `disagg_vg_str`, Cython parse
cyth/interpmthds.pyx:174-184):

    "<sill> <Model>(<range>)" joined by " + "
    models: Rng Nug Sph Exp Lin Gau Pow Hol
    sentinel: the literal string 'nan' means "no model for this step"
    (interp/data.py:77-130); fixtures replace it with '0.0 Nug(0.0)'
    (test/test_interp.py:164-171).

Model formulas mirror cyth/interpmthds.pyx:38-95 / misc.py:1132-1198
exactly (float64, numpy-vectorized). Ranges are clamped to >=1e-5 at parse
time like the Cython kernels (interpmthds.pyx:183 `max(1e-5, float(range_s))`).
"""

from __future__ import annotations

import numpy as np

VG_SENTINEL = "nan"
NUG_REPLACEMENT = "0.0 Nug(0.0)"


def _rng(h, r, s):
    return np.asarray(h, dtype=np.float64).copy()


def _nug(h, r, s):
    return np.full(np.shape(h), s, dtype=np.float64)


def _sph(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    # expression order matches cyth/interpmthds.pyx:46-55 bit-for-bit
    v = s * ((1.5 * h) / r - (h * h * h) / (2.0 * (r * r * r)))
    return np.where(h >= r, s, v)


def _exp(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    return s * (1.0 - np.exp(-3.0 * h / r))


def _lin(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    return np.where(h > r, s, s * (h / r))


def _gau(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    return s * (1.0 - np.exp(-3.0 * ((h * h) / (r * r))))


def _pow(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    return s * np.power(h, r)


def _hol(h, r, s):
    h = np.asarray(h, dtype=np.float64)
    out = np.zeros(h.shape, dtype=np.float64)
    nz = h != 0
    a = (np.pi * h[nz]) / r
    out[nz] = s * (1.0 - np.sin(a) / a)
    return out


VG_FTNS = {
    "Rng": _rng,
    "Nug": _nug,
    "Sph": _sph,
    "Exp": _exp,
    "Lin": _lin,
    "Gau": _gau,
    "Pow": _pow,
    "Hol": _hol,
}


def parse_vg_str(vg_str: str) -> list[tuple[float, str, float]]:
    """-> [(sill, model, range)], range clamped to >= 1e-5."""
    out = []
    for sub in str(vg_str).split("+"):
        sub = sub.strip()
        sill_s, rest = sub.split(" ")
        model, rng_s = rest.split("(")
        rng_s = rng_s.split(")")[0]
        out.append((float(sill_s), model, max(1e-5, float(rng_s))))
    return out


def vg_vals(vg_str: str, h: np.ndarray) -> np.ndarray:
    """Evaluate a (possibly nested) model string at distances h (float64)."""
    h = np.asarray(h, dtype=np.float64)
    out = np.zeros(h.shape, dtype=np.float64)
    for sill, model, rng in parse_vg_str(vg_str):
        out += VG_FTNS[model](h, rng, sill)
    return out


def check_full_nuggetness(vg_str: str, min_vg_val: float) -> bool:
    """Port of the reference *semantics* (misc.py:1074-1105): a model is
    'fully nugget' when total sill or max range <= min_vg_val (or it is a
    single pure Nug) — such steps get the step mean instead of kriging.
    """
    vg_str = str(vg_str)
    if vg_str == VG_SENTINEL:
        return False
    total_sill = 0.0
    max_range = 0.0
    models = []
    for sub in vg_str.split("+"):
        sub = sub.strip()
        sill_s, rest = sub.split(" ")
        model, rng_s = rest.split("(")
        models.append(model)
        total_sill += float(sill_s)
        max_range = max(max_range, float(rng_s.split(")")[0]))
    if total_sill <= min_vg_val or max_range <= min_vg_val:
        return True
    if len(models) == 1 and models[0] == "Nug":
        return True
    return False
