"""Retention pass (north-rule third leg): age 1m chunks out past a horizon;
old points stay readable only from coarser tiers. VERDICT r5 next-step #7."""

import glob
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import FUSED_CHUNK, decode_tier_chunks
from spinterps_spark.plans import checkpoint as C
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.retention import read_tier_chunks, run_retention_pass


@pytest.fixture(scope="module")
def piped(spark, tmp_path_factory):
    """One fused pipeline run (1m + 1h chunk tables) shared by the drills."""
    tdir = str(tmp_path_factory.mktemp("retention"))
    t = datagen.transcripts_spark(spark, seed=11, n_turns_target=4000)
    run_retention_pipeline(spark, t, tdir, tiers=("1m", "1h"), n_waves=2,
                           run_id="base")
    return tdir


def _points(spark, tdir, tier):
    return decode_tier_chunks(read_tier_chunks(spark, tdir, tier)).toPandas()


def _mid_horizon(pdf):
    ts = pdf["bucket_ts"].astype("int64") // 10**9
    return int(ts.quantile(0.5))


def test_retention_drops_only_whole_old_chunks(spark, piped):
    before = _points(spark, piped, "1m")
    horizon = _mid_horizon(before)

    m = run_retention_pass(spark, piped, "1m", horizon, run_id="ret1",
                           n_waves=2)
    assert 0 < m["chunks_kept"] < m["chunks_total"]
    after = _points(spark, piped, "1m")

    ts_b = before["bucket_ts"].astype("int64") // 10**9
    ts_a = after["bucket_ts"].astype("int64") // 10**9
    # every point at/after the horizon survives, bit-for-bit
    keep_b = (
        before[ts_b >= horizon].sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    keep_a = (
        after[ts_a >= horizon].sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(keep_a, keep_b)
    # dropped points are all strictly older than the horizon
    dropped = len(before) - len(after)
    assert dropped > 0
    assert dropped <= (ts_b < horizon).sum()
    # straddle tolerance: surviving sub-horizon points sit within one chunk
    # window of the horizon (chunks are never split/re-encoded)
    span = FUSED_CHUNK * 60  # encode-time chunk_size (pipeline default) * 1m
    old_kept = ts_a[ts_a < horizon]
    if len(old_kept):
        assert int(old_kept.min()) >= (horizon // span) * span - span

    # the coarser tier still covers the aged-out range end-to-end
    h1 = _points(spark, piped, "1h")
    ts_h = h1["bucket_ts"].astype("int64") // 10**9
    assert int(ts_h.min()) <= int(ts_b.min()) + 3600
    assert (ts_h < horizon).sum() > 0

    # commit row published with lineage properties
    from spinterps_spark.sources.tableformat import tier_tables
    snaps = tier_tables(spark, os.path.join(piped, "chunks")).snapshots()
    rec = [s for s in snaps if s.get("stage") == "retention:1m"][-1]
    assert int(rec["points_kept"]) == len(after)
    assert int(rec["points_total"]) == len(before)


def test_retention_same_run_id_is_noop(spark, piped):
    """Snapshot-summary resume: a rerun under the committed run_id runs
    zero rewrite jobs and publishes no new commit."""
    from spinterps_spark.sources.tableformat import tier_tables
    fmt = tier_tables(spark, os.path.join(piped, "chunks"))
    n_before = len(fmt.snapshots())
    m = run_retention_pass(spark, piped, "1m", 0, run_id="ret1", n_waves=2)
    assert m["commit"] == "skipped"
    assert len(fmt.snapshots()) == n_before


def test_retention_wave_resume_recomputes_only_missing(spark, tmp_path):
    """Crash drill: drop one retained wave + its lineage rows + the commit
    line; resume with the same run_id rewrites only that wave and the final
    table equals the single-shot result."""
    tdir = str(tmp_path)
    t = datagen.transcripts_spark(spark, seed=12, n_turns_target=2500)
    run_retention_pipeline(spark, t, tdir, tiers=("1m",), n_waves=2,
                           run_id="base")
    before = decode_tier_chunks(
        spark.read.parquet(os.path.join(tdir, "chunks/tier=1m/wave=*"))
    ).toPandas()
    horizon = _mid_horizon(before)

    run_retention_pass(spark, tdir, "1m", horizon, run_id="ret", n_waves=2)
    want = _points(spark, tdir, "1m").sort_values(
        ["conv_id", "bucket_ts"]).reset_index(drop=True)

    # simulate the crash: wave 1 output + lineage + commit line gone
    shutil.rmtree(os.path.join(tdir, "chunks_retained/tier=1m/gen=ret/wave=1"))
    from spinterps_spark.sources.tableformat import remove_commits
    remove_commits(os.path.join(tdir, "chunks"), lambda r: True)
    ck = C.CheckpointLog(spark, os.path.join(tdir, "ckpt"))
    kept = ck.read().where(
        "NOT (tier = 'retention:1m' AND wave = 1)").toPandas()
    shutil.rmtree(os.path.join(tdir, "ckpt"))
    spark.createDataFrame(kept).write.parquet(os.path.join(tdir, "ckpt"))

    m = run_retention_pass(spark, tdir, "1m", horizon, run_id="ret", n_waves=2)
    assert m["commit"] not in (None, "skipped")
    got = _points(spark, tdir, "1m").sort_values(
        ["conv_id", "bucket_ts"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)

    # wave 0 was not recomputed: exactly one done row for it
    ck2 = C.CheckpointLog(spark, os.path.join(tdir, "ckpt"))
    rows = ck2.read().where(
        "tier = 'retention:1m' AND status = 'done'"
    ).groupBy("wave").count().toPandas().set_index("wave")["count"]
    assert rows.loc[0] == 1 and rows.loc[1] == 1


def test_retention_rejects_legacy_chunk_table(spark, tmp_path):
    """A chunk table without the stamped chunk_size column has no derivable
    window bounds; the pass must refuse, not silently mis-retain."""
    tdir = str(tmp_path)
    t = datagen.transcripts_spark(spark, seed=13, n_turns_target=800)
    run_retention_pipeline(spark, t, tdir, tiers=("1m",), n_waves=1,
                           run_id="base")
    loc = os.path.join(tdir, "chunks/tier=1m")
    # materialize before deleting the source (the read is lazy)
    legacy = spark.read.parquet(
        os.path.join(loc, "wave=*")).drop("chunk_size").toPandas()
    shutil.rmtree(loc)
    spark.createDataFrame(legacy).write.parquet(os.path.join(loc, "wave=0"))
    with pytest.raises(ValueError, match="chunk_size"):
        run_retention_pass(spark, tdir, "1m", 10**9, run_id="r", n_waves=1)


def _stamp_and_gen_max(spark, tdir, run_id):
    from spinterps_spark.sources.tableformat import tier_tables
    snap = next(s for s in tier_tables(spark, os.path.join(tdir, "chunks"))
                .snapshots() if s.get("run_id") == run_id)
    gen_max = spark.read.parquet(
        os.path.join(snap["data_location"], "wave=*")
    ).agg(F.max("chunk_size")).first()[0]
    return int(snap["chunk_size_max"]), gen_max


def test_retention_stamps_the_published_chunk_size_max(spark, piped):
    """The stamp is max(chunk_size) of the published generation — also
    after a resume that reused one done wave (its rows were written by an
    earlier run, so only the generation's files can vouch for them)."""
    horizon = _mid_horizon(_points(spark, piped, "1m"))
    run_retention_pass(spark, piped, "1m", horizon, run_id="ret2", n_waves=2)
    stamp, gen_max = _stamp_and_gen_max(spark, piped, "ret2")
    assert stamp == gen_max

    shutil.rmtree(os.path.join(piped, "chunks_retained/tier=1m/gen=ret2/wave=1"))
    from spinterps_spark.sources.tableformat import remove_commits
    remove_commits(os.path.join(piped, "chunks"),
                   lambda r: r.get("run_id") == "ret2")
    ck = C.CheckpointLog(spark, os.path.join(piped, "ckpt"))
    kept = ck.read().where(
        "NOT (run_id = 'ret2' AND tier = 'retention:1m' AND wave = 1)"
    ).toPandas()
    shutil.rmtree(os.path.join(piped, "ckpt"))
    spark.createDataFrame(kept).write.parquet(os.path.join(piped, "ckpt"))

    m = run_retention_pass(spark, piped, "1m", horizon, run_id="ret2",
                           n_waves=2)
    assert m["commit"] not in (None, "skipped")
    done = C.CheckpointLog(spark, os.path.join(piped, "ckpt")).done_waves(
        "ret2", "retention:1m")
    assert done == {0, 1}
    stamp, gen_max = _stamp_and_gen_max(spark, piped, "ret2")
    assert stamp == gen_max
