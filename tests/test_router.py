"""Tier router (plans/router.query_range): one time-range read spanning the
retention tiers — fine tier where it still holds data, fall-through to the
coarser tier past its retention horizon, nothing past every horizon.
The continuous-aggregate/retention-policy read path (VERDICT r5 follow-on to
next-step #7); routing decisions are metadata-only (snapshot log)."""

import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import FUSED_CHUNK, decode_tier_chunks
from spinterps_spark.plans.generations import (
    current_chunks, tier_chunk_size_bound)
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.retention import read_tier_chunks, run_retention_pass
from spinterps_spark.plans.router import query_range, tier_horizons


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A 1m+1h chunk store with the 1m tier retained at its median ts.
    Returns (out_dir, horizon, full_1m_points, full_1h_points) where the
    full_* frames were decoded BEFORE retention (the ground truth)."""
    tdir = str(tmp_path_factory.mktemp("router"))
    t = datagen.transcripts_spark(spark, seed=23, n_turns_target=4000)
    run_retention_pipeline(spark, t, tdir, tiers=("1m", "1h"), n_waves=2,
                           run_id="base")
    full_1m = decode_tier_chunks(read_tier_chunks(spark, tdir, "1m")).toPandas()
    full_1h = decode_tier_chunks(read_tier_chunks(spark, tdir, "1h")).toPandas()
    ts = full_1m["bucket_ts"].astype("int64") // 10**9
    horizon = int(ts.quantile(0.5))
    run_retention_pass(spark, tdir, "1m", horizon, run_id="ret1m", n_waves=2)
    return tdir, horizon, full_1m, full_1h


def _epochs(pdf):
    return pdf["bucket_ts"].astype("int64") // 10**9


def test_horizons_read_from_snapshot_log(spark, store):
    tdir, horizon, _, _ = store
    h = tier_horizons(spark, tdir)
    assert h == {"1m": horizon}  # 1h never retained -> absent (holds all)


def test_route_spans_the_horizon(spark, store):
    """Full-span 1m read: [horizon, end] from the 1m tier, [start, horizon)
    falls through to 1h, and the union is exactly those two slices of the
    pre-retention ground truth."""
    tdir, horizon, full_1m, full_1h = store
    ts_m, ts_h = _epochs(full_1m), _epochs(full_1h)
    t_min, t_max = int(min(ts_m.min(), ts_h.min())), int(ts_m.max())

    out = query_range(spark, tdir, t_min, t_max, resolution="1m").toPandas()
    got_m = out[out["tier"] == "1m"]
    got_h = out[out["tier"] == "1h"]

    # the 1m leg starts exactly at the horizon (exact trim, not chunk edge)
    assert int(_epochs(got_m).min()) >= horizon
    # the 1h leg is strictly pre-horizon (no double-serving)
    assert int(_epochs(got_h).max()) < horizon

    want_m = full_1m[ts_m >= horizon]
    want_h = full_1h[(ts_h >= t_min) & (ts_h < horizon)]
    for got, want in ((got_m, want_m), (got_h, want_h)):
        g = got.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        w = want.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        assert len(g) == len(w)
        assert (g["conv_id"].values == w["conv_id"].values).all()
        assert (g["bucket_ts"].values == w["bucket_ts"].values).all()
        assert (g["value"].values == w["value"].values).all()


def test_coarse_resolution_skips_fine_tier(spark, store):
    tdir, _, _, full_1h = store
    ts_h = _epochs(full_1h)
    out = query_range(spark, tdir, int(ts_h.min()), int(ts_h.max()),
                      resolution="1h").toPandas()
    assert set(out["tier"]) == {"1h"}
    assert len(out) == len(full_1h)


def test_conv_ids_pushed_into_every_leg(spark, store):
    tdir, _, full_1m, full_1h = store
    conv = sorted(set(full_1m["conv_id"]))[0]
    ts_m, ts_h = _epochs(full_1m), _epochs(full_1h)
    t_min, t_max = int(min(ts_m.min(), ts_h.min())), int(ts_m.max())
    out = query_range(spark, tdir, t_min, t_max, resolution="1m",
                      conv_ids=[conv]).toPandas()
    assert set(out["conv_id"]) == {conv}
    assert set(out["tier"]) == {"1m", "1h"}


def test_pruning_bound_covers_the_default_fused_chunks(spark, store):
    """On a default-knob store the metadata bound on chunk_size is the
    fused chunk length the files hold, and a routed read whose window
    starts deep inside a chunk returns exactly the decoded tier trimmed to
    that window (too small a bound would prune the chunk it starts in)."""
    tdir, horizon, full_1m, _ = store
    cur = current_chunks(spark, tdir, "1m")
    top = cur.agg(F.max("chunk_size")).first()[0]
    assert tier_chunk_size_bound(spark, tdir, "1m") == top == FUSED_CHUNK
    span = FUSED_CHUNK * 60
    q3 = int(_epochs(full_1m).quantile(0.75))
    t_min = (max(q3, horizon) // span + 1) * span + 5 * 3600 + 17 * 60 + 30
    t_max = t_min + 4 * 3600
    got = query_range(spark, tdir, t_min, t_max, resolution="1m").toPandas()
    pts = decode_tier_chunks(cur).toPandas()
    ep = _epochs(pts)
    want = pts[(ep >= t_min) & (ep <= t_max)]
    assert len(want) > 0 and set(got["tier"]) == {"1m"}
    key = ["conv_id", "bucket_ts"]
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["conv_id"].values == w["conv_id"].values).all()
    assert (g["bucket_ts"].values == w["bucket_ts"].values).all()
    assert (g["value"].values.view("int64")
            == w["value"].values.view("int64")).all()


def test_band_older_than_every_horizon_served_by_nobody(spark, store):
    """Runs LAST in the module: retains the 1h tier too, then asks for the
    band below both horizons — retention semantics, the data is gone."""
    tdir, horizon, _, full_1h = store
    run_retention_pass(spark, tdir, "1h", horizon, run_id="ret1h", n_waves=2)
    assert tier_horizons(spark, tdir) == {"1m": horizon, "1h": horizon}

    t_min = int(_epochs(full_1h).min())
    out = query_range(spark, tdir, t_min, horizon - 1, resolution="1m")
    assert out.count() == 0
    assert out.columns == ["conv_id", "tier", "bucket_ts", "value"]

    # and the surviving band still routes (everything now >= horizon -> 1m)
    t_max = int(_epochs(full_1h).max())
    out2 = query_range(spark, tdir, t_min, t_max, resolution="1m").toPandas()
    assert set(out2["tier"]) == {"1m"}
    assert int(_epochs(out2).min()) >= horizon
