import numpy as np

from spinterps_spark.functions import vg_models as V

from tests import oracle


def test_parse_and_format_roundtrip():
    s = "100.0 Sph(10000.0) + 10.0 Exp(1000000.0)"
    assert V.parse_vg_str(s) == [(100.0, "Sph", 10000.0), (10.0, "Exp", 1000000.0)]


def test_known_values_reference_style():
    # reference's only self-contained test evaluates exactly this model
    # (test/test_theo_vg.py:26-28)
    s = "100 Sph(10000) + 10 Exp(1000000)"
    h = np.array([0.0, 1000.0, 10000.0, 2_000_000.0])
    got = V.vg_vals(s, h)
    want = oracle.vg_eval(s, h)
    assert np.array_equal(got, want)
    assert got[0] == 0.0
    # beyond both ranges -> total sill
    assert np.isclose(got[-1], 110.0, atol=0.5)


def test_each_model_matches_oracle():
    h = np.linspace(0, 5000, 97)
    for m in ("Nug", "Sph", "Exp", "Lin", "Gau", "Hol"):
        s = f"2.5 {m}(1500)"
        assert np.array_equal(V.vg_vals(s, h), oracle.vg_eval(s, h)), m
    assert np.array_equal(V.vg_vals("1.0 Pow(0.5)", h), oracle.vg_eval("1.0 Pow(0.5)", h))


def test_nuggetness():
    assert V.check_full_nuggetness("0.0 Nug(0.0)", 1e-4)
    assert V.check_full_nuggetness("1.0 Nug(100.0)", 1e-4)
    assert not V.check_full_nuggetness("1.0 Sph(100.0)", 1e-4)
    assert not V.check_full_nuggetness("nan", 1e-4)
    assert not V.check_full_nuggetness("0.5 Nug(1.0) + 1.0 Sph(100.0)", 1e-4)


def test_range_clamped():
    # range 0 clamps to 1e-5 like the Cython parser
    v = V.vg_vals("1.0 Exp(0.0)", np.array([1.0]))
    assert np.isfinite(v).all()
