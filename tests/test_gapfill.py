import numpy as np
import pandas as pd
import pytest

from spinterps_spark import datagen
from spinterps_spark.operators import gapfill as G
from spinterps_spark.operators import rollup as R
from spinterps_spark.operators import spine as S

from tests import oracle


def _spined_tokmean(spark, n_turns=4000, tier="1h"):
    turns = datagen.transcripts_pandas(seed=42, n_turns_target=n_turns)
    sdf = spark.createDataFrame(turns)
    spined = S.with_spine(R.base_rollup(sdf, tier), tier)
    return spined.selectExpr(
        "conv_id", "bucket_ts", "tok_len_sum / turn_cnt as tok_len_mean"
    )


def _oracle_filled(spark_spined_pdf, method, vg_by_conv=None, **kw):
    rows = []
    for conv, g in spark_spined_pdf.groupby("conv_id", sort=True):
        g = g.sort_values("bucket_ts")
        t = g["bucket_ts"].astype("int64").to_numpy() // 10**9
        v = g["tok_len_mean"].to_numpy(dtype=float)
        vg = vg_by_conv.get(conv) if vg_by_conv else None
        out, ev, codes = oracle.fill_series_oracle(t, v, method, vg_str=vg, **kw)
        rows.append(
            pd.DataFrame(
                {"conv_id": conv, "bucket_ts": g["bucket_ts"], "value_filled": out,
                 "est_var": ev, "fill_method": codes}
            )
        )
    return pd.concat(rows, ignore_index=True)


def _cmp(got, want):
    got = got.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    want = want.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    assert len(got) == len(want)
    g = got["value_filled"].to_numpy()
    w = want["value_filled"].to_numpy()
    # bit-for-bit equality after round(p), NaN == NaN
    same = (g == w) | (np.isnan(g) & np.isnan(w))
    assert same.all(), (got[~same].head(), want[~same].head())
    assert (got["fill_method"] == want["fill_method"]).all()


@pytest.mark.parametrize("method", ["IDW", "NNB"])
def test_gapfill_matches_oracle(spark, method):
    spined = _spined_tokmean(spark)
    pdf = spined.toPandas()
    got = G.gapfill(spined, "tok_len_mean", method=method, tier="1h").toPandas()
    want = _oracle_filled(pdf, method)
    _cmp(got, want)
    assert (got["fill_method"] != "observed").sum() > 0


def test_gapfill_ok_matches_oracle(spark):
    spined = _spined_tokmean(spark)
    pdf = spined.toPandas()
    n_convs = pdf["conv_id"].nunique()
    coords = datagen.conv_coords_spark(spark, 42, n_convs)
    coords_pdf = coords.toPandas()
    vg_rows = [(c, f"{1.0 + c * 0.5} Sph({3600 * (c + 1)})") for c in range(8)]
    vg_dim = spark.createDataFrame(vg_rows, "cluster_id int, vg_str string")
    vg_by_cluster = dict(vg_rows)
    vg_by_conv = {
        r.conv_id: vg_by_cluster[r.cluster_id] for r in coords_pdf.itertuples()
    }
    got = G.gapfill(
        spined, "tok_len_mean", method="OK", tier="1h",
        coords=coords, vg_dim=vg_dim,
    ).toPandas()
    want = _oracle_filled(pdf, "OK", vg_by_conv=vg_by_conv)
    _cmp(got, want)
    assert (got["fill_method"] == "ok").sum() > 0
    ev = got.loc[got["fill_method"] == "ok", "est_var"]
    assert (ev >= 0).all()


def test_ok_nugget_and_sentinel_rules(spark):
    # pure-nugget vg -> neighbor mean; '0.0 Nug(0.0)' fixture replacement rule
    t = np.array([0, 3600, 7200, 10800, 14400], dtype=np.int64)
    v = np.array([1.0, np.nan, 3.0, 5.0, 7.0])
    out, ev, codes = G.fill_series(t, v, method="OK", vg_str="0.0 Nug(0.0)")
    assert codes[1] == "nugget_mean"
    # mean of the k nearest (all 4 refs)
    assert out[1] == np.round(np.mean([1.0, 3.0, 5.0, 7.0]), 2)


def test_single_ref_and_low_signal():
    t = np.array([0, 60, 120], dtype=np.int64)
    out, _, codes = G.fill_series(t, np.array([np.nan, 2.5, np.nan]), method="IDW")
    assert codes[0] == "single_ref" and out[0] == 2.5
    out, _, codes = G.fill_series(
        t, np.array([0.01, np.nan, 0.02]), method="IDW", min_var_val_thresh=0.1
    )
    assert codes[1] == "low_signal_mean"
    assert out[1] == np.round(np.mean([0.01, 0.02]), 2)


def test_p5_limit_to_nan_refills_outliers():
    """P5 (utils/lmt_and_infil_nc.py:459-502): observations outside
    [nan_llm, nan_ulm] become gaps and are refilled — distinct from the P4
    clamp, which only clips interpolated values."""
    t = np.arange(10, dtype=np.int64) * 3600
    v = np.full(10, 5.0)
    v[3] = 99.0   # above ulm -> nulled + refilled
    v[7] = -4.0   # below llm -> nulled + refilled
    out, _, codes = G.fill_series(
        t, v, method="IDW", nan_llm=0.0, nan_ulm=50.0, round_p=2
    )
    assert codes[3] == "idw" and codes[7] == "idw"
    assert out[3] == 5.0 and out[7] == 5.0
    # in-range values untouched
    assert (out[codes == "observed"] == 5.0).all()
    # without the knob, outliers are kept as observations
    out2, _, codes2 = G.fill_series(t, v, method="IDW")
    assert codes2[3] == "observed" and out2[3] == 99.0


def test_chunked_equals_unchunked_with_nan_lims(spark):
    """Review r2: nan_llm/nan_ulm must null observations BEFORE chunk
    membership — an out-of-range 'ref' used for lag/lead coverage but
    nulled inside the kernel would diverge chunked vs unchunked."""
    import pandas as pd

    rng = np.random.RandomState(6)
    hours = np.arange(600)
    v = np.round(rng.uniform(5, 20, len(hours)), 2)
    v[rng.choice(len(hours), 60, replace=False)] = np.nan       # gaps
    v[rng.choice(len(hours), 40, replace=False)] = 99.0         # outliers
    spined = spark.createDataFrame(pd.DataFrame({
        "conv_id": "c1",
        "bucket_ts": pd.to_datetime(hours * 3600, unit="s"),
        "v": v,
    }))
    kw = dict(method="IDW", tier="1h", nan_llm=0.0, nan_ulm=50.0)
    a = G.gapfill(spined, "v", **kw).toPandas().sort_values("bucket_ts")
    b = G.gapfill(spined, "v", chunk_buckets=128, **kw).toPandas().sort_values("bucket_ts")
    assert len(a) == len(b) == 600
    av, bv = a["value_filled"].to_numpy(), b["value_filled"].to_numpy()
    assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all()
    assert (a["fill_method"].to_numpy() == b["fill_method"].to_numpy()).all()


def test_chunked_fills_gaps_beyond_ref_range(spark):
    """Review r2: leading/trailing gap chunks beyond the first/last ref
    must still get refs (edge fallback spans the full row range)."""
    import pandas as pd

    hours = np.arange(800)
    v = np.full(800, np.nan)
    v[300:340] = np.round(np.linspace(5, 9, 40), 2)  # refs only mid-series
    spined = spark.createDataFrame(pd.DataFrame({
        "conv_id": "c1",
        "bucket_ts": pd.to_datetime(hours * 3600, unit="s"),
        "v": v,
    }))
    a = G.gapfill(spined, "v", method="IDW", tier="1h").toPandas().sort_values("bucket_ts")
    b = G.gapfill(spined, "v", method="IDW", tier="1h", chunk_buckets=128).toPandas().sort_values("bucket_ts")
    assert not (b["fill_method"] == "unfillable").any()
    assert (a["value_filled"].to_numpy() == b["value_filled"].to_numpy()).all()


def test_edk_nan_drift_raises_clearly():
    t = np.arange(20, dtype=np.int64) * 3600
    v = np.arange(20, dtype=float)
    v[5] = np.nan
    drifts = np.ones((20, 1))
    drifts[7, 0] = np.nan
    import pytest as _pt
    with _pt.raises(ValueError, match="drift contains NaN"):
        G.fill_series(t, v, method="EDK", vg_str="1.0 Exp(7200.0)", drifts=drifts)


def test_idw_within_neighbor_range():
    # property: IDW estimate lies within [min, max] of neighbors
    rng = np.random.RandomState(0)
    t = np.arange(50, dtype=np.int64) * 3600
    v = rng.uniform(1, 9, 50)
    v[rng.choice(50, 10, replace=False)] = np.nan
    out, _, codes = G.fill_series(t, v, method="IDW", round_p=None)
    refs = v[~np.isnan(v)]
    for j in np.flatnonzero(np.isnan(v)):
        assert refs.min() - 1e-9 <= out[j] <= refs.max() + 1e-9


def test_chunked_equals_unchunked(spark):
    spined = _spined_tokmean(spark, n_turns=4000)
    a = (
        G.gapfill(spined, "tok_len_mean", method="IDW", tier="1h")
        .toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )
    b = (
        G.gapfill(
            spined, "tok_len_mean", method="IDW", tier="1h",
            chunk_buckets=256,
        )
        .toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )
    assert len(a) == len(b)
    ga, gb = a["value_filled"].to_numpy(), b["value_filled"].to_numpy()
    same = (ga == gb) | (np.isnan(ga) & np.isnan(gb))
    # rank-based chunk membership: chunked must be exact
    assert same.all()


def test_chunked_exact_across_hole_longer_than_chunk(spark):
    """ADVICE r1 (medium): a silence hole longer than the chunk span left
    whole chunks ref-less ('unfillable') and lost true k-nearest refs near
    hole edges under the fixed pad. Rank-based membership must make the
    chunked fill bit-identical to the unchunked one."""
    import pandas as pd

    hours = np.concatenate([np.arange(0, 100), np.arange(700, 800)])
    t = pd.to_datetime(hours * 3600, unit="s")
    rng = np.random.RandomState(4)
    v = np.round(rng.uniform(5, 20, len(hours)), 2)
    base = pd.DataFrame({"conv_id": "c1", "bucket_ts": t, "v": v})
    # materialized spine over the full range, hole rows = NULL
    spine = pd.DataFrame(
        {"conv_id": "c1", "bucket_ts": pd.to_datetime(np.arange(800) * 3600, unit="s")}
    )
    spined_pdf = spine.merge(base, on=["conv_id", "bucket_ts"], how="left")
    spined = spark.createDataFrame(spined_pdf)

    a = (
        G.gapfill(spined, "v", method="IDW", tier="1h")
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    # chunk span (256h) < hole length (600h): chunks 1 and 2 lie inside it
    b = (
        G.gapfill(spined, "v", method="IDW", tier="1h", chunk_buckets=256)
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    assert len(a) == len(b) == 800
    assert not (b["fill_method"] == "unfillable").any()
    assert (a["value_filled"].to_numpy() == b["value_filled"].to_numpy()).all()
    assert (a["fill_method"].to_numpy() == b["fill_method"].to_numpy()).all()
