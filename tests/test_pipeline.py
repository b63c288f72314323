import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.operators.spine import with_spine
from spinterps_spark.plans import checkpoint as C
from spinterps_spark.plans.pipeline import run_retention_pipeline


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path)


def test_pipeline_end_to_end(spark, tdir):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=3000)
    m = run_retention_pipeline(spark, t, tdir, n_waves=2)
    assert m["n_turns"] > 2000
    assert set(m["tiers"]) == {"1m", "1h", "1d"}
    for tier in ("1m", "1h", "1d"):
        assert glob.glob(os.path.join(tdir, f"rollup/tier={tier}/wave=*/*.parquet"))
        assert glob.glob(os.path.join(tdir, f"chunks/tier={tier}/wave=*/*.parquet"))
    ck = spark.read.parquet(os.path.join(tdir, "ckpt"))
    assert ck.where("status = 'done'").count() == 2 * 3 * 2  # stages*tiers*waves
    assert sorted(os.listdir(tdir)) == ["chunks", "ckpt", "rollup"]
    # no gaps left: the decoded 1h chunks hold one non-NaN point per bucket
    # of the spine over the valid 1h rollup rows
    h1 = spark.read.parquet(os.path.join(tdir, "rollup/tier=1h/wave=*"))
    spine = with_spine(h1.where("valid"), "1h").select("conv_id", "bucket_ts")
    pts = decode_tier_chunks(
        spark.read.parquet(os.path.join(tdir, "chunks/tier=1h/wave=*")))
    assert pts.where(F.isnan("value")).count() == 0
    assert pts.count() == spine.count() > 0
    assert pts.select("conv_id", "bucket_ts").exceptAll(spine).count() == 0


def test_resume_skips_done_waves_and_matches_single_shot(spark, tdir):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=2000)

    full_dir = os.path.join(tdir, "full")
    run_retention_pipeline(spark, t, full_dir, tiers=("1m",), n_waves=2,
                           run_id="r1")

    # simulate a crash: keep wave 0 outputs + its checkpoint rows, drop wave 1
    resume_dir = os.path.join(tdir, "resume")
    run_retention_pipeline(spark, t, resume_dir, tiers=("1m",), n_waves=2,
                           run_id="r2")
    import shutil
    for stage in ("rollup/tier=1m", "chunks/tier=1m"):
        shutil.rmtree(os.path.join(resume_dir, stage, "wave=1"))
    # a real mid-tier crash happens BEFORE the tier's snapshot commit, so
    # the simulated crash must also drop the tier-table commit record
    from spinterps_spark.sources.tableformat import remove_commits
    remove_commits(os.path.join(resume_dir, "rollup"), lambda r: True)
    ck = C.CheckpointLog(spark, os.path.join(resume_dir, "ckpt"))
    kept = ck.read().where("wave = 0").toPandas()
    shutil.rmtree(os.path.join(resume_dir, "ckpt"))
    sdf = spark.createDataFrame(kept)
    sdf.write.mode("overwrite").parquet(os.path.join(resume_dir, "ckpt"))

    # resume with the same run_id: only wave 1 recomputed
    run_retention_pipeline(spark, t, resume_dir, tiers=("1m",), n_waves=2,
                           run_id="r2")

    a, b = (
        decode_tier_chunks(
            spark.read.parquet(os.path.join(d, "chunks/tier=1m/wave=*")))
        .orderBy("conv_id", "bucket_ts").toPandas()
        for d in (full_dir, resume_dir)
    )
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)

    # wave 0 was not recomputed: exactly one 'done' row per (stage, wave 0)
    ck2 = C.CheckpointLog(spark, os.path.join(resume_dir, "ckpt"))
    counts = (
        ck2.read().where("run_id = 'r2' and status = 'done'")
        .groupBy("tier", "wave").count().toPandas()
    )
    assert (counts["count"] == 1).all()


def test_truncated_ckpt_tmp_does_not_block_resume(spark, tdir):
    """A crash between append()'s write and its rename leaves a truncated
    ckpt-*.parquet.tmp; the done-set and read() must skip it."""
    ckdir = os.path.join(tdir, "ckpt")
    C.CheckpointLog(spark, ckdir).append(dict(
        run_id="r", tier="1m", wave=0, n_waves=2, status="done",
        rows_in=-1, rows_out=5, checksum=7, wall_sec=0.1))
    published = glob.glob(os.path.join(ckdir, "ckpt-*.parquet"))
    assert len(published) == 1
    with open(published[0], "rb") as f:
        head = f.read()[:40]
    with open(os.path.join(ckdir, "ckpt-feed.parquet.tmp"), "wb") as f:
        f.write(head)
    ck = C.CheckpointLog(spark, ckdir)
    assert ck.done_waves("r", "1m", n_waves=2) == {0}
    assert ck.read().count() == 1


def test_ckpt_rows_without_n_waves_read_as_none(spark, tdir):
    """Lineage written before n_waves existed has no such column: the wave
    still counts as done and no wave-count check applies to it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ckdir = os.path.join(tdir, "ckpt")
    os.makedirs(ckdir)
    pq.write_table(pa.table({"run_id": ["r"], "tier": ["1m"],
                             "wave": pa.array([1], pa.int32()),
                             "status": ["done"]}),
                   os.path.join(ckdir, "ckpt-old.parquet"))
    # n_waves=4 would raise against any recorded wave count
    assert C.CheckpointLog(spark, ckdir).done_waves("r", "1m", n_waves=4) == {1}


def test_drift_without_cols_rejected(spark, tdir):
    """Review r2: drift without drift_cols would silently run the synthetic
    time drift instead of the user's covariates — must be rejected."""
    t = datagen.transcripts_spark(spark, seed=1, n_turns_target=500)
    drift = t.select("conv_id", F.col("ts").alias("bucket_ts"))
    with pytest.raises(ValueError, match="drift and drift_cols go together"):
        run_retention_pipeline(
            spark, t, tdir, tiers=("1m",), drift=drift,
        )


def test_materialized_fill_path_rejected(spark, tdir):
    """The materialized-spine fill path (a filled/ table) was removed:
    asking for it fails loudly instead of silently running the fused pass."""
    t = datagen.transcripts_spark(spark, seed=1, n_turns_target=500)
    with pytest.raises(ValueError, match="removed"):
        run_retention_pipeline(spark, t, tdir, tiers=("1m",),
                               fuse_fill_and_chunks=False)
    assert not os.path.exists(os.path.join(tdir, "rollup"))


def test_one_pass_empty_wave_no_stale_data(spark, tdir):
    """Review r2: a pending wave producing zero rows must (a) clear any
    previous run's data in its wave dir and (b) still leave a readable
    wave dir for the trailing wave=* read."""
    import os

    from spinterps_spark.plans import checkpoint as C

    src = spark.range(100).selectExpr("concat('c', id % 7) AS conv_id", "id AS x")
    out = os.path.join(tdir, "w")
    ck = C.CheckpointLog(spark, os.path.join(tdir, "ck"))

    full = C.run_waved_pass(spark, src, lambda d: d, out, ck, "rA", "t",
                            n_waves=2)
    assert full.count() == 100

    # new run, transform drops everything -> both waves empty
    ck2 = C.CheckpointLog(spark, os.path.join(tdir, "ck2"))
    empty = C.run_waved_pass(
        spark, src, lambda d: d.where(F.lit(False)), out, ck2, "rB", "t",
        n_waves=2,
    )
    assert empty.count() == 0  # no stale rows from rA leak through
    rows = ck2.read().where("run_id = 'rB' and status = 'done'").collect()
    assert len(rows) == 2 and all(r.rows_out == 0 for r in rows)


def test_waved_pass_write_paths_agree(spark, tdir):
    """One run_waved_pass over the same source gives the same output and
    the same per-wave (rows_out, checksum) lineage whichever write it
    takes: n_waves=1 (direct), n_waves=2 fresh (partitioned by wave), and
    n_waves=2 resumed with one wave pending (direct into wave=1)."""
    import shutil

    src = spark.range(500).selectExpr("concat('c', id % 37) AS conv_id",
                                      "id AS x")

    def transform(d):  # conversation-local, like every tier pass
        return d.groupBy("conv_id").agg(F.sum("x").alias("s"),
                                        F.count("*").alias("n"))

    def run(name, n_waves, done0=None):
        out = os.path.join(tdir, name)
        ck = C.CheckpointLog(spark, os.path.join(tdir, f"ck_{name}"))
        if done0 is not None:  # wave 0 of "two" done before a crash
            shutil.copytree(os.path.join(tdir, "two", "wave=0"),
                            os.path.join(out, "wave=0"))
            ck.append(dict(run_id="r", tier="t", wave=0, n_waves=2,
                           status="done", rows_in=-1, rows_out=done0[0],
                           checksum=done0[1], wall_sec=0.0))
        df = C.run_waved_pass(spark, src, transform, out, ck, "r", "t",
                              n_waves=n_waves)
        rows = ck.read().where("run_id = 'r' and status = 'done'").collect()
        assert len(rows) == n_waves
        return (df.orderBy("conv_id").toPandas(),
                {r.wave: (r.rows_out, r.checksum) for r in rows})

    one, lin1 = run("one", 1)
    two, lin = run("two", 2)
    resumed, lin_r = run("resumed", 2, done0=lin[0])
    pd.testing.assert_frame_equal(one, two)
    pd.testing.assert_frame_equal(one, resumed)
    assert lin_r == lin
    assert 0 < lin[0][0] < lin1[0][0] == 37
    # the per-wave lineage partitions the whole-output fingerprint
    whole = C.checksum_agg(spark.createDataFrame(one), ["conv_id", "s", "n"]).first()
    assert lin1[0] == (whole.cnt, whole.checksum)
    assert lin[0][0] + lin[1][0] == whole.cnt
    assert (lin[0][1] + lin[1][1]) % 2**62 == whole.checksum


def test_checksum_is_order_insensitive(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "x int, y string")
    df2 = spark.createDataFrame([(2, "b"), (1, "a")], "x int, y string")
    c1 = C.checksum_agg(df1, ["x", "y"]).first()
    c2 = C.checksum_agg(df2, ["x", "y"]).first()
    assert c1.checksum == c2.checksum and c1.cnt == c2.cnt


def test_text_equality_under_stable_order(spark):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering — the engine never mutates turn text."""
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=2000)
    got = (
        t.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    want = (
        datagen.transcripts_pandas(seed=42, n_turns_target=2000)
        .sort_values(["conv_id", "turn_idx"])[["conv_id", "turn_idx", "text"]]
        .reset_index(drop=True)
    )
    assert (got["text"] == want["text"]).all()
