"""Crash-resume drill for the three generation rewrites (retention,
compaction, flatten of the chunks table — plans/retention.
rewrite_generation): a pass whose commit was lost must not resume over a
delta that landed in the crash window.

One store is built once (pipeline over the old turns + refresh d1) and
restored from a copy before each pass, at the same path (commits record
absolute locations). The ground truth is one full pipeline over all turns.
"""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.plans.checkpoint import CheckpointLog
from spinterps_spark.plans.compaction import run_compaction_pass
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import (
    _window_end, read_tier_chunks, run_retention_pass)
from spinterps_spark.plans.vacuum import run_flatten_pass
from spinterps_spark.sources.tableformat import (
    CommitConflictError, remove_commits)

TIER = "1m"

# pass name -> (generation root, checkpoint stage)
PASSES = {
    "retention": ("chunks_retained", f"retention:{TIER}"),
    "compaction": ("chunks_compacted", f"compaction:{TIER}"),
    "flatten": ("chunks_flat", f"flatten_chunks:{TIER}"),
}


@pytest.fixture(scope="module")
def drill(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rewrite")
    t = datagen.transcripts_spark(spark, seed=53, n_turns_target=1500)
    b = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
              F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((b.mn + (b.mx - b.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    p1 = (h >= "c") & (e >= cut)
    p2 = h.between("8", "b") & (e >= cut)
    store, pristine, gt = (str(base / k) for k in ("s", "pristine", "gt"))
    run_retention_pipeline(spark, t.where(~(p1 | p2)), store, tiers=(TIER,),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(p1), store, tiers=(TIER,), n_waves=2,
                     run_id="d1")
    shutil.copytree(store, pristine)
    run_retention_pipeline(spark, t, gt, tiers=(TIER,), n_waves=2,
                           run_id="gt")
    return {"store": store, "pristine": pristine, "gt": gt,
            "d2": t.where(p2), "horizon": int(cut)}


def _run(spark, name, d, run_id, horizon):
    if name == "retention":
        return run_retention_pass(spark, d, TIER, horizon, run_id=run_id,
                                  n_waves=2)
    if name == "compaction":
        return run_compaction_pass(spark, d, TIER, target_file_mb=1,
                                   run_id=run_id, n_waves=2)
    return run_flatten_pass(spark, d, TIER, table="chunks", run_id=run_id,
                            n_waves=2)


def _decoded(chunks):
    return (decode_tier_chunks(chunks)
            .select("conv_id", "bucket_ts", "value").toPandas()
            .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True))


@pytest.mark.parametrize("name", sorted(PASSES))
def test_resume_after_concurrent_delta_conflicts(spark, drill, name):
    d = drill["store"]
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(drill["pristine"], d)
    root, ck_stage = PASSES[name]
    _run(spark, name, d, "x", drill["horizon"])

    # crash state: wave 0's output, its lineage rows and the commit are
    # gone; the pin inside the generation survives
    gen = os.path.join(d, root, f"tier={TIER}", "gen=x")
    shutil.rmtree(os.path.join(gen, "wave=0"))
    remove_commits(os.path.join(d, "chunks"), lambda r: r.get("run_id") == "x")
    ck = spark.read.parquet(os.path.join(d, "ckpt"))
    kept = ck.where(f"NOT (run_id = 'x' AND tier = '{ck_stage}' AND wave = 0)")
    kept.write.mode("overwrite").parquet(os.path.join(d, "ckpt_tmp"))
    shutil.rmtree(os.path.join(d, "ckpt"))
    os.rename(os.path.join(d, "ckpt_tmp"), os.path.join(d, "ckpt"))

    # a delta lands before the operator resumes
    run_refresh_pass(spark, drill["d2"], d, tiers=(TIER,), n_waves=2,
                     run_id="d2")
    with pytest.raises(CommitConflictError, match="delta chain changed"):
        _run(spark, name, d, "x", drill["horizon"])
    # the pin was checked before any wave ran: wave 0 was not rebuilt
    done = CheckpointLog(spark, os.path.join(d, "ckpt")).done_waves(
        "x", ck_stage)
    assert 0 not in done
    assert not os.path.isdir(os.path.join(gen, "wave=0"))

    # a fresh run_id folds the current chain
    m = _run(spark, name, d, "y", drill["horizon"])
    assert m["commit"] not in ("skipped", "noop")
    want = read_tier_chunks(spark, drill["gt"], TIER)
    if name == "retention":
        want = want.where(_window_end(TIER) > F.lit(drill["horizon"]))
    pd.testing.assert_frame_equal(
        _decoded(read_tier_chunks(spark, d, TIER)), _decoded(want),
        check_exact=True)
