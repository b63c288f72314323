import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.plans import checkpoint as C
from spinterps_spark.plans.pipeline import run_retention_pipeline


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path)


def test_pipeline_end_to_end(spark, tdir):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=3000)
    m = run_retention_pipeline(spark, t, tdir, n_waves=2, gorilla=True)
    assert m["n_turns"] > 2000
    assert set(m["tiers"]) == {"1m", "1h", "1d"}
    for tier in ("1m", "1h", "1d"):
        assert glob.glob(os.path.join(tdir, f"rollup/tier={tier}/wave=*/*.parquet"))
        assert glob.glob(os.path.join(tdir, f"chunks/tier={tier}/wave=*/*.parquet"))
    ck = spark.read.parquet(os.path.join(tdir, "ckpt"))
    assert ck.where("status = 'done'").count() == 3 * 3 * 2  # stages*tiers*waves
    # no gaps left in the filled 1h series
    filled = spark.read.parquet(os.path.join(tdir, "filled/tier=1h/wave=*"))
    assert filled.where("value_filled IS NULL").count() == 0


def test_resume_skips_done_waves_and_matches_single_shot(spark, tdir):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=2000)

    full_dir = os.path.join(tdir, "full")
    run_retention_pipeline(spark, t, full_dir, tiers=("1m",), n_waves=2,
                           gorilla=False, run_id="r1")

    # simulate a crash: keep wave 0 outputs + its checkpoint rows, drop wave 1
    resume_dir = os.path.join(tdir, "resume")
    run_retention_pipeline(spark, t, resume_dir, tiers=("1m",), n_waves=2,
                           gorilla=False, run_id="r2")
    import shutil
    for stage in ("rollup/tier=1m", "filled/tier=1m"):
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
                           gorilla=False, run_id="r2")

    a = (
        spark.read.parquet(os.path.join(full_dir, "filled/tier=1m/wave=*"))
        .orderBy("conv_id", "bucket_ts").toPandas()
    )
    b = (
        spark.read.parquet(os.path.join(resume_dir, "filled/tier=1m/wave=*"))
        .orderBy("conv_id", "bucket_ts").toPandas()
    )
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
            spark, t, tdir, tiers=("1m",), gorilla=False,
            fuse_fill_and_chunks=False, drift=drift,
        )


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
