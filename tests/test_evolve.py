"""Store metric evolution (plans/evolve.py): add metric k+1 to a shipped
store without a rebuild — bit-identical to a from-scratch multi-metric
rebuild, refresh-compatible afterwards, horizon-compliant, resumable.

Reference precedent: the cube grows one variable per method in place,
interp/prepare.py:360-372."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.plans.evolve import run_evolve_pass
from spinterps_spark.plans.merge import run_merge_pass
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import (
    read_tier_chunks, run_retention_pass)
from spinterps_spark.sources.tableformat import tier_tables

TIER = "1m"
M2 = {"turn_rate": "CAST(turn_cnt AS DOUBLE)"}
M3 = {"user_frac": "role_user_cnt/CAST(turn_cnt AS DOUBLE)"}


def _pts(spark, d, where=None):
    df = decode_tier_chunks(read_tier_chunks(spark, d, TIER))
    if where:
        df = df.where(where)
    cols = ["conv_id", "bucket_ts", "value"] + (
        ["metric"] if "metric" in df.columns else [])
    keys = [c for c in ("conv_id", "metric", "bucket_ts") if c in cols]
    return (df.select(*cols).toPandas()
            .sort_values(keys).reset_index(drop=True))


def test_evolve_equals_from_scratch_rebuild(spark, tmp_path):
    """Store built with extras=M2, evolved with M3, reads bit-identical to
    a from-scratch pipeline with extras=M2|M3 (the verdict's 'done'
    criterion)."""
    t = datagen.transcripts_spark(spark, seed=61, n_turns_target=2000)
    da, db = str(tmp_path / "evolved"), str(tmp_path / "scratch")
    run_retention_pipeline(spark, t, da, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics=M2)
    m = run_evolve_pass(spark, da, new_metrics=M3, tiers=(TIER,),
                        extra_fill_metrics=M2, n_waves=2, run_id="ev")
    assert m["tiers"][TIER]["commit"] == "published"
    assert m["tiers"][TIER]["n_chunks"] > 0
    run_retention_pipeline(spark, t, db, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics={**M2, **M3})
    got, want = _pts(spark, da), _pts(spark, db)
    assert set(got["metric"].unique()) == {
        "tok_len_mean", "turn_rate", "user_frac"}
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # idempotent: same run_id is a whole-tier skip with no new chunk commit
    fmt = tier_tables(spark, os.path.join(da, "chunks"))
    n_before = len(fmt.snapshots())
    m2 = run_evolve_pass(spark, da, new_metrics=M3, tiers=(TIER,),
                         extra_fill_metrics=M2, n_waves=2, run_id="ev")
    assert m2["tiers"][TIER]["commit"] == "skipped"
    assert len(fmt.snapshots()) == n_before


def test_evolve_single_metric_store_pads_base(spark, tmp_path):
    """Evolving a previously SINGLE-metric store: the metric-less base is
    schema-aligned (padded with the stamped primary) in the merged read,
    and the result equals a 2-metric rebuild."""
    t = datagen.transcripts_spark(spark, seed=67, n_turns_target=1500)
    da, db = str(tmp_path / "evolved"), str(tmp_path / "scratch")
    run_retention_pipeline(spark, t, da, tiers=(TIER,), n_waves=2, run_id="p0")
    run_evolve_pass(spark, da, new_metrics=M2, tiers=(TIER,), n_waves=2,
                    run_id="ev")
    run_retention_pipeline(spark, t, db, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics=M2)
    pd.testing.assert_frame_equal(_pts(spark, da), _pts(spark, db),
                                  check_exact=True)


def test_refresh_accepts_evolved_set_and_rejects_old(spark, tmp_path):
    """After evolve, refresh must be driven with the EVOLVED metric set
    (old set refused), and the refreshed store still reads bit-identical
    to a from-scratch evolved rebuild refreshed the same way."""
    t = datagen.transcripts_spark(spark, seed=71, n_turns_target=2000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    pred = (F.substring(F.md5("conv_id"), 1, 1) >= "c") & (
        F.unix_timestamp("ts") >= cut)
    da, db = str(tmp_path / "evolved"), str(tmp_path / "scratch")
    run_retention_pipeline(spark, t.where(~pred), da, tiers=(TIER,),
                           n_waves=2, run_id="p0",
                           extra_fill_metrics=M2)
    run_evolve_pass(spark, da, new_metrics=M3, tiers=(TIER,),
                    extra_fill_metrics=M2, n_waves=2, run_id="ev")
    with pytest.raises(ValueError, match="metric set"):
        run_refresh_pass(spark, t.where(pred), da, tiers=(TIER,),
                         n_waves=2, run_id="r1", extra_fill_metrics=M2)
    run_refresh_pass(spark, t.where(pred), da, tiers=(TIER,), n_waves=2,
                     run_id="r2", extra_fill_metrics={**M2, **M3})
    run_retention_pipeline(spark, t, db, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics={**M2, **M3})
    pd.testing.assert_frame_equal(_pts(spark, da), _pts(spark, db),
                                  check_exact=True)


def test_evolve_respects_retention_horizon(spark, tmp_path):
    """On a retained store the backfill trims at the committed horizon
    (never resurrects aged-out points) while pre-horizon refs still anchor
    the fill: the new metric's post-horizon points equal the from-scratch
    rebuild's."""
    t = datagen.transcripts_spark(spark, seed=73, n_turns_target=2000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    mid = bounds.mn + (bounds.mx - bounds.mn) // 2
    da, db = str(tmp_path / "evolved"), str(tmp_path / "scratch")
    for d in (da, db):
        run_retention_pipeline(
            spark, t, d, tiers=(TIER,), n_waves=2, run_id="p0",
            extra_fill_metrics=M2 if d == da else {**M2, **M3})
    run_retention_pass(spark, da, TIER, int(mid), run_id="ret", n_waves=2)
    run_evolve_pass(spark, da, new_metrics=M3, tiers=(TIER,),
                    extra_fill_metrics=M2, n_waves=2, run_id="ev")
    new_pts = _pts(spark, da, where="metric = 'user_frac'")
    # no resurrected point below the horizon
    assert (pd.to_datetime(new_pts["bucket_ts"]).astype("int64") // 10**9
            >= mid).all()
    want = _pts(
        spark, db,
        where=f"metric = 'user_frac' AND unix_timestamp(bucket_ts) >= {mid}")
    pd.testing.assert_frame_equal(new_pts, want, check_exact=True)


def test_evolve_resume_converges_after_lost_meta_stamp(spark, tmp_path):
    """Crash window between the chunks commit and the settings stamp: the
    resumed run re-stamps without re-running the backfill."""
    t = datagen.transcripts_spark(spark, seed=79, n_turns_target=1000)
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t, d, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics=M2)
    run_evolve_pass(spark, d, new_metrics=M3, tiers=(TIER,),
                    extra_fill_metrics=M2, n_waves=2, run_id="ev")
    from spinterps_spark.sources.tableformat import remove_commits

    assert remove_commits(
        os.path.join(d, "rollup"),
        lambda r: r.get("stage") == f"meta:evolve:{TIER}") == 1
    cfmt = tier_tables(spark, os.path.join(d, "chunks"))
    n_chunks_commits = len(cfmt.snapshots())
    m = run_evolve_pass(spark, d, new_metrics=M3, tiers=(TIER,),
                        extra_fill_metrics=M2, n_waves=2, run_id="ev")
    assert m["tiers"][TIER]["commit"] == "skipped"
    assert len(cfmt.snapshots()) == n_chunks_commits  # no chunk re-publish
    rfmt = tier_tables(spark, os.path.join(d, "rollup"))
    assert rfmt.committed("ev", f"meta:evolve:{TIER}")  # stamp restored
    # and the evolved set now governs refresh
    with pytest.raises(ValueError, match="metric set"):
        run_refresh_pass(
            spark, datagen.transcripts_spark(spark, seed=80,
                                             n_turns_target=100),
            d, tiers=(TIER,), n_waves=2, run_id="rX",
            extra_fill_metrics=M2)


def test_evolve_input_guards(spark, tmp_path):
    t = datagen.transcripts_spark(spark, seed=83, n_turns_target=600)
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t, d, tiers=(TIER,), n_waves=2,
                           run_id="p0", extra_fill_metrics=M2)
    with pytest.raises(ValueError, match="nothing to evolve"):
        run_evolve_pass(spark, d, new_metrics={}, tiers=(TIER,),
                        extra_fill_metrics=M2)
    with pytest.raises(ValueError, match="already exist"):
        run_evolve_pass(spark, d, new_metrics=M2, tiers=(TIER,),
                        extra_fill_metrics=M2)
    with pytest.raises(ValueError, match="metric set"):
        run_evolve_pass(spark, d, new_metrics=M3, tiers=(TIER,))  # wrong set


def _no_fill_store(spark, t, d, horizon):
    """A hand-built store written WITHOUT gap fill: one committed 1m
    rollup, the valid rows' chunks encoded directly, retained at
    `horizon`."""
    from spinterps_spark.compress.gorilla import encode_tier_chunks
    from spinterps_spark.operators.rollup import base_rollup

    roll = base_rollup(t, TIER)
    roll.write.parquet(os.path.join(d, f"rollup/tier={TIER}/wave=0"))
    tier_tables(spark, os.path.join(d, "rollup")).commit_tier(
        TIER, None, os.path.join(d, f"rollup/tier={TIER}"),
        {"run_id": "p0", "stage": f"rollup:{TIER}"})
    encode_tier_chunks(
        roll.where("valid").select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("value_filled")),
        TIER,
    ).write.parquet(os.path.join(d, f"chunks/tier={TIER}/wave=0"))
    run_retention_pass(spark, d, TIER, int(horizon), run_id="ret", n_waves=2)


def _mid(t):
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    return bounds.mn + (bounds.mx - bounds.mn) // 2


def _no_fill_want(spark, d, horizon, metrics):
    """Every metric's points as a direct encode of the store's merged
    valid rollup trimmed at the horizon would decode them."""
    from spinterps_spark.plans.generations import current_rollup

    valid = (current_rollup(spark, d, TIER).where("valid")
             .where(F.unix_timestamp("bucket_ts") >= int(horizon)))
    want = None
    for name, expr in metrics.items():
        leg = valid.select("conv_id", "bucket_ts",
                           F.expr(expr).alias("value"),
                           F.lit(name).alias("metric"))
        want = leg if want is None else want.unionByName(leg)
    return (want.toPandas().sort_values(["conv_id", "metric", "bucket_ts"])
            .reset_index(drop=True))


NO_FILL_METRICS = {"tok_len_mean": "tok_len_sum / turn_cnt", **M2}


def test_evolve_no_fill_store(spark, tmp_path):
    """fill_method=None: the new metric's chunks are a direct encode of
    the merged valid rollup (refresh's no-fill rule), horizon-trimmed
    exactly — decoded points equal the rollup expression verbatim."""
    t = datagen.transcripts_spark(spark, seed=89, n_turns_target=1200)
    mid = _mid(t)
    d = str(tmp_path / "s")
    _no_fill_store(spark, t, d, mid)
    # a gorilla_chunk knob is IGNORED by the no-fill encode (DEFAULT_CHUNK)
    # — the stamp must record what was encoded, not the knob, or the
    # metadata pruning span silently drops rows (code-review r7 #3)
    run_evolve_pass(spark, d, new_metrics=M2, tiers=(TIER,),
                    fill_method=None, n_waves=2, run_id="ev",
                    fill_knobs={"gorilla_chunk": 16})
    from spinterps_spark.compress.gorilla import DEFAULT_CHUNK

    ev_row = next(s for s in tier_tables(
        spark, os.path.join(d, "chunks")).snapshots()
        if s.get("stage") == f"evolve:{TIER}")
    assert int(ev_row["chunk_size_max"]) == DEFAULT_CHUNK
    got = _pts(spark, d, where="metric = 'turn_rate'")
    want = _no_fill_want(spark, d, mid, M2)[got.columns.tolist()]
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # old metric rows untouched: padded with the primary name, present
    old = _pts(spark, d, where="metric = 'tok_len_mean'")
    assert len(old) > 0


def _evolved_no_fill_store(spark, t, d, horizon):
    _no_fill_store(spark, t, d, horizon)
    run_evolve_pass(spark, d, new_metrics=M2, tiers=(TIER,),
                    fill_method=None, n_waves=2, run_id="ev")


def test_evolved_no_fill_store_refresh(spark, tmp_path):
    """Refresh of an evolved no-fill store re-encodes every metric of the
    evolved set through the encoder evolve used: both logs get the
    refresh commit, and each decoded metric equals a direct encode of the
    merged valid rollup trimmed at the horizon."""
    t = datagen.transcripts_spark(spark, seed=89, n_turns_target=1200)
    mid = _mid(t)
    d = str(tmp_path / "s")
    _evolved_no_fill_store(spark, t, d, mid)
    late = datagen.transcripts_spark(spark, seed=80, n_turns_target=100)
    run_refresh_pass(spark, late, d, tiers=(TIER,), fill_method=None,
                     extra_fill_metrics=M2, n_waves=2, run_id="r1")
    for log in ("rollup", "chunks"):
        fmt = tier_tables(spark, os.path.join(d, log))
        row = next(s for s in fmt.snapshots()
                   if s.get("run_id") == "r1"
                   and s.get("stage") == f"refresh:{TIER}")
        assert spark.read.parquet(
            os.path.join(row["data_location"], "wave=*")).count() > 0, log
    pd.testing.assert_frame_equal(
        _pts(spark, d), _no_fill_want(spark, d, mid, NO_FILL_METRICS),
        check_exact=True)


def test_evolved_no_fill_stores_merge(spark, tmp_path):
    """Combine-merge of two evolved no-fill stores (disjoint turn sets over
    shared conversations): the overlap's re-encode carries every metric,
    and each decoded metric equals a direct encode of the merged valid
    rollup trimmed at the horizon."""
    t = datagen.transcripts_spark(spark, seed=89, n_turns_target=1200)
    mid = _mid(t)
    half = F.xxhash64("conv_id", "ts") % 2 == 0
    dirs = [str(tmp_path / k) for k in ("a", "b")]
    for d, part in zip(dirs, (t.where(half), t.where(~half))):
        _evolved_no_fill_store(spark, part, d, mid)
    dm = str(tmp_path / "m")
    m = run_merge_pass(spark, dirs, dm, tiers=(TIER,), mode="combine",
                       fill_method=None, extra_fill_metrics=M2, n_waves=2,
                       run_id="mg")
    assert m["n_overlap_convs"] > 0
    assert m["tiers"][TIER]["chunks_reencoded"] > 0
    pd.testing.assert_frame_equal(
        _pts(spark, dm), _no_fill_want(spark, dm, mid, NO_FILL_METRICS),
        check_exact=True)
