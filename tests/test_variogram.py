import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.functions.vg_models import vg_vals
from spinterps_spark.operators import rollup as R
from spinterps_spark.operators import variogram as V


@pytest.fixture(scope="module")
def series(spark):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=3000)
    h1 = R.rollup_tier(R.base_rollup(t, "1m"), "1h", min_cnt=1)
    return h1.selectExpr("conv_id", "bucket_ts", "tok_len_sum/turn_cnt AS v")


@pytest.fixture(scope="module")
def coords(spark, series):
    n = series.select("conv_id").distinct().count()
    # conv labels are dense c%08d starting at 0
    return datagen.conv_coords_spark(spark, 42, n)


def test_empirical_variogram_matches_pandas(spark, series, coords):
    got = V.empirical_variogram(
        series, coords, "v", max_lag=24 * 3600, estimator="mean"
    ).toPandas().sort_values(["cluster_id", "bin"]).reset_index(drop=True)

    pdf = series.toPandas()
    cl = coords.toPandas().set_index("conv_id")["cluster_id"]
    rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("bucket_ts")
        t = g["bucket_ts"].astype("int64").to_numpy() // 10**9
        z = g["v"].to_numpy(float)
        m = ~np.isnan(z)
        t, z = t[m], z[m]
        for i in range(len(t)):
            for j in range(i + 1, len(t)):
                h = t[j] - t[i]
                if 0 < h <= 24 * 3600:
                    rows.append((cl[conv], h, (z[i] - z[j]) ** 2))
    w = pd.DataFrame(rows, columns=["cluster_id", "h", "sq"])
    w["bin"] = (w["h"] // 3600).astype("int64")
    # engine 'mean' semantics (r4): gamma = 0.5 * (BIGINT sum of
    # floor(sq*1e4+0.5) / 1e4) / n — replicate the fixed-point quantize
    # op-for-op so the comparison is exact, not tolerance-based
    w["sq_q"] = np.floor(w["sq"].to_numpy() * 1e4 + 0.5).astype("int64")
    want = (
        w.groupby(["cluster_id", "bin"])
        .agg(n_pairs=("sq", "size"), lag=("h", "mean"), sq_qs=("sq_q", "sum"))
        .reset_index()
        .sort_values(["cluster_id", "bin"])
        .reset_index(drop=True)
    )
    want["gamma"] = 0.5 * (want["sq_qs"].astype(float) / 1e4) / want["n_pairs"]
    assert (got["n_pairs"].to_numpy() == want["n_pairs"].to_numpy()).all()
    assert np.array_equal(got["gamma"].to_numpy(), want["gamma"].to_numpy())
    assert np.allclose(got["lag"], want["lag"], rtol=1e-12)


def test_classic_estimator_is_median_of_raw_sq(spark):
    """ADVICE r1 (low): reference evg_classic (vgs.py:410) is the median of
    the RAW squared diffs — no 1/2 factor. One conv, one bin, known values."""
    ts = pd.to_datetime(np.arange(4) * 600, unit="s")
    pdf = pd.DataFrame({"conv_id": "c", "bucket_ts": ts, "v": [1.0, 2.0, 4.0, 8.0]})
    ser = spark.createDataFrame(pdf)
    crd = spark.createDataFrame([("c", 0)], "conv_id string, cluster_id int")
    out = (
        V.empirical_variogram(ser, crd, "v", max_lag=3600, lag_width=3600,
                              estimator="classic")
        .toPandas()
    )
    # all 6 pairs land in bin 0; raw sq diffs: 1,9,49,4,36,16 -> median 12.5
    assert len(out) == 1
    assert out["gamma"].iloc[0] == 12.5

    # mean estimator = sum/(2n) form: 0.5 * mean(raw sq) = 115/12
    mean_out = V.empirical_variogram(ser, crd, "v", max_lag=3600,
                                     lag_width=3600, estimator="mean").toPandas()
    assert np.isclose(mean_out["gamma"].iloc[0], 0.5 * 115 / 6, rtol=1e-12)


def test_p10_drop_zeros_filters_zero_pairs(spark):
    """P10 (variograms/fitvgs.py:164-177 drop_zeros_flag): zero squared
    diffs are dropped from the pair pool before binning."""
    ts = pd.to_datetime(np.arange(4) * 600, unit="s")
    pdf = pd.DataFrame({"conv_id": "c", "bucket_ts": ts, "v": [3.0, 3.0, 3.0, 7.0]})
    ser = spark.createDataFrame(pdf)
    crd = spark.createDataFrame([("c", 0)], "conv_id string, cluster_id int")
    keep = V.empirical_variogram(ser, crd, "v", max_lag=3600, lag_width=3600,
                                 estimator="mean").toPandas()
    drop = V.empirical_variogram(ser, crd, "v", max_lag=3600, lag_width=3600,
                                 estimator="mean", drop_zeros=True).toPandas()
    assert keep["n_pairs"].iloc[0] == 6
    assert drop["n_pairs"].iloc[0] == 3  # the three (3,7) pairs survive
    assert np.isclose(drop["gamma"].iloc[0], 0.5 * 16.0, rtol=1e-12)


def test_regime_variogram_pairs_stay_within_regime(spark):
    """Per-(cluster, regime) evg: pairs never span regimes, and the fit dim
    has one row per (cluster, regime) — the per-step vg table analog."""
    ts = pd.to_datetime(np.arange(8) * 3600, unit="s")
    pdf = pd.DataFrame(
        {
            "conv_id": "c",
            "bucket_ts": ts,
            "v": np.arange(8, dtype=float),
            "reg": ["A"] * 4 + ["B"] * 4,
        }
    )
    ser = spark.createDataFrame(pdf)
    crd = spark.createDataFrame([("c", 0)], "conv_id string, cluster_id int")
    evg = V.empirical_variogram(
        ser, crd, "v", max_lag=8 * 3600, lag_width=3600,
        estimator="mean", regime_col="reg",
    ).toPandas()
    # within-regime pairs only: 4 points per regime -> lags 1..3h
    assert set(evg["regime"]) == {"A", "B"}
    assert evg["n_pairs"].sum() == 2 * (3 + 2 + 1)
    per = evg.groupby("regime")["n_pairs"].sum()
    assert per["A"] == 6 and per["B"] == 6

    dim = V.fit_cluster_variograms(evg_df := V.empirical_variogram(
        ser, crd, "v", max_lag=8 * 3600, lag_width=3600,
        estimator="mean", regime_col="reg",
    )).toPandas()
    assert set(zip(dim["cluster_id"], dim["regime"])) == {(0, "A"), (0, "B")}
    assert set(dim.columns) >= {"cluster_id", "regime", "vg_str", "aic", "n_bins"}


def test_fit_recovers_known_model():
    # synthetic evg sampled from a known spherical model: fit must recover
    # it closely (weighted SSE + AIC selection)
    lags = np.linspace(600, 72 * 3600, 60)
    true = "4.0 Sph(86400.0)"
    gammas = vg_vals(true, lags)
    vg_str, aic = V.fit_vg_model(lags, gammas, np.full(60, 100.0), seed=3)
    fitted = vg_vals(vg_str, lags)
    rel = np.abs(fitted - gammas) / (np.abs(gammas) + 1e-9)
    assert np.median(rel) < 0.05, (vg_str, np.median(rel))


def test_fit_deterministic():
    lags = np.linspace(600, 48 * 3600, 40)
    gammas = vg_vals("2.0 Exp(7200.0)", lags) + 0.01 * np.sin(lags / 5000)
    a = V.fit_vg_model(lags, gammas, seed=7)
    b = V.fit_vg_model(lags, gammas, seed=7)
    assert a == b


def test_cluster_fit_end_to_end(spark, series, coords):
    evg = V.empirical_variogram(series, coords, "v", estimator="mean")
    dim = V.fit_cluster_variograms(evg).toPandas()
    assert dim["cluster_id"].nunique() == len(dim)
    assert (dim["vg_str"] != "nan").all()
    # fitted dim usable by OK gapfill
    from spinterps_spark.operators import gapfill as G
    from spinterps_spark.operators import spine as S

    sp = S.with_spine(
        series.withColumnRenamed("v", "tok_len_sum")
        .withColumn("turn_cnt", F.lit(1))
        .withColumn("tool_call_cnt", F.lit(0))
        .withColumn("role_user_cnt", F.lit(0))
        .withColumn("role_assistant_cnt", F.lit(0))
        .withColumn("role_tool_cnt", F.lit(0))
        .withColumn("valid", F.col("tok_len_sum").isNotNull()),
        "1h",
    ).selectExpr("conv_id", "bucket_ts", "tok_len_sum AS v")
    vg_dim = spark.createDataFrame(dim[["cluster_id", "vg_str"]])
    filled = G.gapfill(sp, "v", method="OK", tier="1h", coords=coords, vg_dim=vg_dim)
    fp = filled.toPandas()
    assert (fp["fill_method"] == "ok").sum() > 0


def test_ks_clustering_merges_identical_models():
    import pandas as pd

    dim = pd.DataFrame(
        {
            "cluster_id": [0, 1, 2],
            "vg_str": [
                "2.0 Sph(43200.0)",
                "2.0 Sph(43200.0)",      # identical -> must merge with 0
                "50.0 Gau(600.0)",        # very different weight structure
            ],
        }
    )
    out = V.ks_cluster_variograms(dim)
    m = out.set_index("cluster_id")["merged_id"]
    assert m[0] == m[1]
    assert out["merged_id"].nunique() <= 3
    # deterministic
    out2 = V.ks_cluster_variograms(dim)
    assert out.equals(out2)


def test_ks_two_sample_statistic():
    a = np.array([1.0, 2.0, 3.0])
    b = np.array([1.0, 2.0, 3.0])
    assert V.ks_two_sample(a, b) == 0.0
    b = np.array([10.0, 11.0, 12.0])
    assert V.ks_two_sample(a, b) == 1.0
