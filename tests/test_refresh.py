"""Incremental continuous-aggregate refresh (plans/refresh.py).

Ground truth at every stage: a FULL pipeline run over the union of turns
ingested so far. Refresh must make the incrementally-maintained store
bit-identical to that (merge of partial aggregates is exact; gap fill is
conv-local), at delta cost, without touching base files, composing with
compaction (flattens the delta chain) and retention (never resurrects aged
points).

Contract note: a refresh delta is NEW turns (not yet in the store) — the
batch path merges partial aggregates, so re-delivering already-merged turns
would double-count. No pass dedups: stream_refresh absorbs a redelivered
micro-batch through its run_id (the checkpointed batch_id), whose commits
are already in the store.
"""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import FUSED_CHUNK, decode_tier_chunks
from spinterps_spark.plans.compaction import run_compaction_pass
from spinterps_spark.plans.generations import generation_plan
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import read_tier_chunks, run_retention_pass
from spinterps_spark.sources.tableformat import tier_tables

TIERS = ("1m", "1h")


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """Turn slices (cuts hour-aligned so 1m AND 1h buckets split cleanly):

        old = everything except the deltas
        d1  = convs with md5[0] >= 'c', ts in [cut, t34)   (history both sides)
        d2  = same convs,               ts >= t34          (chained refresh)
        d3  = convs with md5[0] in [8,b], ts >= cut        (post-retention)

    Ground-truth stores: m = pipeline(old+d1), n = pipeline(old+d1+d2),
    b = pipeline(all). The incremental store a = pipeline(old) + refreshes.
    """
    base = tmp_path_factory.mktemp("refresh")
    t = datagen.transcripts_spark(spark, seed=31, n_turns_target=4000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    t34 = ((bounds.mn + (bounds.mx - bounds.mn) * 3 // 4) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    p1 = (h >= "c") & (e >= cut) & (e < t34)
    p2 = (h >= "c") & (e >= t34)
    p3 = h.between("8", "b") & (e >= cut)
    slices = {
        "old": t.where(~(p1 | p2 | p3)),
        "d1": t.where(p1), "d2": t.where(p2), "d3": t.where(p3),
    }
    dirs = {k: str(base / k) for k in ("a", "m", "n", "b")}
    gt = {
        "a": slices["old"],
        "m": slices["old"].unionByName(slices["d1"]),
        "n": slices["old"].unionByName(slices["d1"]).unionByName(slices["d2"]),
        "b": t,
    }
    for k, src in gt.items():
        run_retention_pipeline(spark, src, dirs[k], tiers=TIERS, n_waves=2,
                               run_id=f"gt-{k}")
    base_files = sorted(glob.glob(f"{dirs['a']}/chunks/tier=*/wave=*/*.parquet"))
    base_stat = [(p, os.path.getmtime(p)) for p in base_files]

    m1 = run_refresh_pass(spark, slices["d1"], dirs["a"], tiers=TIERS,
                          n_waves=2, run_id="r1")
    return {"dirs": dirs, "slices": slices, "cut": cut,
            "base_stat": base_stat, "m1": m1}


def _points(spark, d, tier):
    return (
        decode_tier_chunks(read_tier_chunks(spark, d, tier))
        .select("conv_id", "bucket_ts", "value")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("tier", TIERS)
def test_refresh_equals_full_recompute(spark, stores, tier):
    got = _points(spark, stores["dirs"]["a"], tier)
    want = _points(spark, stores["dirs"]["m"], tier)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_default_refresh_stamps_the_chunk_size_it_wrote(spark, stores):
    """The default-knob refresh encodes through the fused pass, so its
    commit must stamp the fused chunk length: a routed read takes its
    pruning span from the stamp, and a smaller one would prune chunks the
    read needs."""
    log = tier_tables(spark, os.path.join(stores["dirs"]["a"], "chunks")
                      ).snapshots()
    for tier in TIERS:
        snap = next(s for s in log
                    if s.get("run_id") == "r1" and s.get("tier") == tier)
        wrote = spark.read.parquet(
            os.path.join(snap["data_location"], "wave=*")
        ).agg(F.max("chunk_size")).first()[0]
        assert int(snap["chunk_size_max"]) == wrote == FUSED_CHUNK


def test_base_files_untouched_and_delta_bounded(spark, stores):
    # write amplification = the delta generations, not the base store
    for p, mtime in stores["base_stat"]:
        assert os.path.getmtime(p) == mtime, f"base file rewritten: {p}"
    n_aff = stores["m1"]["n_affected_convs"]
    assert n_aff > 0
    fmt = tier_tables(spark, os.path.join(stores["dirs"]["a"], "chunks"))
    for tier in TIERS:
        _, deltas = generation_plan(
            fmt, tier,
            os.path.join(stores["dirs"]["a"], f"chunks/tier={tier}", "wave=*"))
        assert len(deltas) == 1 and int(deltas[0]["n_affected_convs"]) == n_aff
        dd = spark.read.parquet(
            os.path.join(deltas[0]["data_location"], "wave=*"))
        assert dd.select("conv_id").distinct().count() <= n_aff


def test_empty_delta_publishes_nothing(spark, stores):
    """An empty late-data batch must not grow the delta chain (every delta
    adds an anti join to every future read until compaction flattens it)."""
    fmt = tier_tables(spark, os.path.join(stores["dirs"]["a"], "chunks"))
    n_before = len(fmt.snapshots())
    m = run_refresh_pass(spark, stores["slices"]["d1"].limit(0),
                         stores["dirs"]["a"], tiers=TIERS, n_waves=2,
                         run_id="r0")
    assert m["n_affected_convs"] == 0 and m["tiers"] == {}
    assert len(fmt.snapshots()) == n_before


def test_same_run_id_rerun_is_noop(spark, stores):
    fmt = tier_tables(spark, os.path.join(stores["dirs"]["a"], "chunks"))
    n_before = len(fmt.snapshots())
    m = run_refresh_pass(spark, stores["slices"]["d1"], stores["dirs"]["a"],
                         tiers=TIERS, n_waves=2, run_id="r1")
    assert all(v["commit"] == "skipped" for v in m["tiers"].values())
    assert len(fmt.snapshots()) == n_before


def test_chained_refresh_latest_wins(spark, stores):
    """d2 re-touches the SAME convs as d1: r2's delta rows must supersede
    r1's (latest-wins), and the r2 merge must start from r1's merged rollup
    rows, not the base — both wrong states would fail the exact compare."""
    run_refresh_pass(spark, stores["slices"]["d2"], stores["dirs"]["a"],
                     tiers=TIERS, n_waves=2, run_id="r2")
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _points(spark, stores["dirs"]["a"], tier),
            _points(spark, stores["dirs"]["n"], tier),
            check_exact=True)
    fmt = tier_tables(spark, os.path.join(stores["dirs"]["a"], "chunks"))
    _, deltas = generation_plan(
        fmt, "1h", os.path.join(stores["dirs"]["a"], "chunks/tier=1h", "wave=*"))
    assert [d["run_id"] for d in deltas] == ["r1", "r2"]


def test_compaction_flattens_delta_chain(spark, stores):
    dir_a = stores["dirs"]["a"]
    before = {t: _points(spark, dir_a, t) for t in TIERS}
    for tier in TIERS:
        run_compaction_pass(spark, dir_a, tier, target_file_mb=1,
                            run_id=f"c-{tier}")
        fmt = tier_tables(spark, os.path.join(dir_a, "chunks"))
        _, deltas = generation_plan(
            fmt, tier, os.path.join(dir_a, f"chunks/tier={tier}", "wave=*"))
        assert deltas == []  # full rewrite supersedes the chain
        pd.testing.assert_frame_equal(
            _points(spark, dir_a, tier), before[tier], check_exact=True)


def test_refresh_ok_kriging_equals_full_recompute(spark, tmp_path):
    """The flagship fill (ordinary kriging, per-cluster variogram weights)
    rides refresh too: conv-local kernel + identical merged inputs ->
    bit-identical to the full pipeline."""
    from spinterps_spark import datagen as DG

    t = DG.transcripts_spark(spark, seed=13, n_turns_target=2000)
    n_convs = len(DG.plan_sizes(13, 2000))
    coords = DG.conv_coords_spark(spark, 13, n_convs)
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(8)],
        "cluster_id int, vg_str string")
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 8) // 3600) * 3600
    pred = (F.substring(F.md5("conv_id"), 1, 1) >= "c") & (
        F.unix_timestamp("ts") >= F.lit(cut))
    da, db = str(tmp_path / "incr"), str(tmp_path / "full")
    for d, src in ((da, t.where(~pred)), (db, t)):
        run_retention_pipeline(spark, src, d, tiers=("1m",), n_waves=2,
                               fill_method="OK", coords=coords, vg_dim=vg,
                               run_id="gt")
    m = run_refresh_pass(spark, t.where(pred), da, tiers=("1m",),
                         fill_method="OK", coords=coords, vg_dim=vg,
                         n_waves=2, run_id="rok")
    assert m["n_affected_convs"] > 0
    pd.testing.assert_frame_equal(
        _points(spark, da, "1m"), _points(spark, db, "1m"), check_exact=True)


def test_crash_between_rollup_and_chunk_commit_resumes(spark, tmp_path):
    """Refresh publishes into TWO snapshot logs (rollup, chunks). Simulate a
    crash after the rollup-delta commit but before the chunk commit: wipe
    the chunk delta + its snapshot line, re-run the same run_id — the pass
    must reuse the published rollup delta, recompute only the chunks, and
    converge to the full-recompute state."""
    import shutil

    from spinterps_spark import datagen as DG

    t = DG.transcripts_spark(spark, seed=19, n_turns_target=2000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 8) // 3600) * 3600
    pred = (F.substring(F.md5("conv_id"), 1, 1) >= "c") & (
        F.unix_timestamp("ts") >= F.lit(cut))
    da, db = str(tmp_path / "incr"), str(tmp_path / "full")
    for d, src in ((da, t.where(~pred)), (db, t)):
        run_retention_pipeline(spark, src, d, tiers=("1m",), n_waves=2,
                               run_id="gt")
    run_refresh_pass(spark, t.where(pred), da, tiers=("1m",), n_waves=2,
                     run_id="rc")

    # surgically revert the CHUNK side to the pre-commit crash state
    shutil.rmtree(os.path.join(da, "chunks_refresh/tier=1m/gen=rc"))
    from spinterps_spark.sources.tableformat import remove_commits
    remove_commits(os.path.join(da, "chunks"),
                   lambda r: r.get("run_id") == "rc")
    # ...including the wave lineage rows of the chunk stage, as a crash
    # before the write job finished would leave them absent
    ck = spark.read.parquet(os.path.join(da, "ckpt"))
    kept = ck.where("NOT (run_id = 'rc' AND tier = 'refresh_chunks:1m')")
    kept.write.mode("overwrite").parquet(os.path.join(da, "ckpt_tmp"))
    shutil.rmtree(os.path.join(da, "ckpt"))
    os.rename(os.path.join(da, "ckpt_tmp"), os.path.join(da, "ckpt"))

    m = run_refresh_pass(spark, t.where(pred), da, tiers=("1m",), n_waves=2,
                         run_id="rc")
    assert m["tiers"]["1m"]["commit"] == "published"
    pd.testing.assert_frame_equal(
        _points(spark, da, "1m"), _points(spark, db, "1m"), check_exact=True)


def test_refresh_after_retention_respects_horizon(spark, stores):
    """Runs LAST: age the 1m tier at the cut, then refresh d3 — refreshed
    convs must NOT resurrect pre-horizon points (even though their rollup
    rows, the never-retained system of record, hold full history), and
    their surviving points must match the all-turns ground truth."""
    dir_a, hz = stores["dirs"]["a"], stores["cut"]
    run_retention_pass(spark, dir_a, "1m", hz, run_id="ret", n_waves=2)
    d3 = stores["slices"]["d3"]
    assert d3.count() > 0
    run_refresh_pass(spark, d3, dir_a, tiers=TIERS, n_waves=2, run_id="r3")

    d3_convs = set(r[0] for r in d3.select("conv_id").distinct().collect())
    got = _points(spark, dir_a, "1m")
    got_aff = got[got["conv_id"].isin(d3_convs)].reset_index(drop=True)
    assert int((got_aff["bucket_ts"].astype("int64") // 10**9).min()) >= hz

    want = _points(spark, stores["dirs"]["b"], "1m")
    want_aff = want[
        want["conv_id"].isin(d3_convs)
        & (want["bucket_ts"].astype("int64") // 10**9 >= hz)
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(got_aff, want_aff, check_exact=True)
    # the untouched convs' 1h tier still matches the pre-d3 ground truth
    got_1h = _points(spark, dir_a, "1h")
    keep = ~got_1h["conv_id"].isin(d3_convs)
    want_1h = _points(spark, stores["dirs"]["n"], "1h")
    pd.testing.assert_frame_equal(
        got_1h[keep].reset_index(drop=True),
        want_1h[~want_1h["conv_id"].isin(d3_convs)].reset_index(drop=True),
        check_exact=True)


def test_refresh_after_retention_keeps_fill_anchored_by_prehorizon_refs(
    spark, tmp_path
):
    """Code-review r6 finding #1 (confirmed data loss): a conversation
    with a silence hole straddling the retention horizon. Pre-horizon
    valid buckets are the nearest left anchors for the hole's filled
    points at/after the horizon; trimming the refs BEFORE the refill
    (pre-fix behavior) silently dropped those filled points from the
    refreshed conversation's chunks. Post-fix: the refill anchors on full
    history and trims only the EMITTED grid at the horizon, matching a
    full rebuild filtered to >= horizon bit-for-bit."""
    import datetime as _dt

    t0 = 1_700_000_400  # NOT hour-aligned: datagen-realistic turn times
    rows = []
    for conv, hours in (
        ("convA", list(range(0, 10)) + list(range(20, 30))),
        ("convB", list(range(0, 30))),
    ):
        for i, hh in enumerate(hours):
            rows.append((conv, i, "user", "hello world " * (1 + hh % 3),
                         None, _dt.datetime.fromtimestamp(
                             t0 + hh * 3600, tz=_dt.timezone.utc)))
    import pyspark.sql.functions as _F

    from spinterps_spark.datagen import TRANSCRIPT_SCHEMA

    old = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    delta_rows = [("convA", 100 + i, "assistant", "late arrival", None,
                   _dt.datetime.fromtimestamp(t0 + hh * 3600,
                                              tz=_dt.timezone.utc))
                  for i, hh in enumerate((30, 31))]
    delta = spark.createDataFrame(delta_rows, TRANSCRIPT_SCHEMA)
    hz = ((t0 // 3600) + 15) * 3600  # hour-aligned, inside convA's hole

    da, db = str(tmp_path / "incr"), str(tmp_path / "full")
    run_retention_pipeline(spark, old, da, tiers=("1h",), n_waves=2,
                           fill_method="IDW", run_id="gt")
    run_retention_pass(spark, da, "1h", hz, run_id="ret", n_waves=2)
    run_refresh_pass(spark, delta, da, tiers=("1h",), n_waves=2,
                     fill_method="IDW", run_id="rf")
    run_retention_pipeline(spark, old.unionByName(delta), db, tiers=("1h",),
                           n_waves=2, fill_method="IDW", run_id="gt2")

    got = (
        decode_tier_chunks(read_tier_chunks(spark, da, "1h"))
        .where("conv_id = 'convA'")
        .select("conv_id", "bucket_ts", "value").toPandas()
        .sort_values("bucket_ts").reset_index(drop=True)
    )
    want = (
        decode_tier_chunks(read_tier_chunks(spark, db, "1h"))
        .where(_F.col("conv_id") == "convA")
        .where(_F.unix_timestamp("bucket_ts") >= hz)
        .select("conv_id", "bucket_ts", "value").toPandas()
        .sort_values("bucket_ts").reset_index(drop=True)
    )
    # the hole's post-horizon band (buckets 15..19) must be present AND
    # equal the full rebuild's anchored fill
    assert (pd.to_datetime(want["bucket_ts"]).astype("int64") // 10**9
            < t0 + 20 * 3600).any(), "fixture lost its straddling band"
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_multi_metric_pipeline_refresh_equals_full_recompute(spark, tmp_path):
    """extra_fill_metrics through the WHOLE lifecycle: a multi-metric
    fused pipeline, an incremental refresh carrying the same metric set,
    and the merged read — all bit-identical per metric to a full
    multi-metric rebuild, and the primary metric bit-identical to a
    single-metric store (opt-in changes nothing for existing callers)."""
    t = datagen.transcripts_spark(spark, seed=53, n_turns_target=2000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    pred = (F.substring(F.md5("conv_id"), 1, 1) >= "c") & (
        F.unix_timestamp("ts") >= cut)
    extras = {"turn_rate": "CAST(turn_cnt AS DOUBLE)",
              "user_frac": "role_user_cnt/CAST(turn_cnt AS DOUBLE)"}

    da, db, dc = (str(tmp_path / k) for k in ("incr", "full", "single"))
    run_retention_pipeline(spark, t.where(~pred), da, tiers=("1m",),
                           n_waves=2, run_id="gt",
                           extra_fill_metrics=extras)
    run_refresh_pass(spark, t.where(pred), da, tiers=("1m",), n_waves=2,
                     run_id="rf", extra_fill_metrics=extras)
    run_retention_pipeline(spark, t, db, tiers=("1m",), n_waves=2,
                           run_id="gt", extra_fill_metrics=extras)
    run_retention_pipeline(spark, t, dc, tiers=("1m",), n_waves=2, run_id="gt")

    def pts(d, where=None, drop_metric=False):
        df = decode_tier_chunks(read_tier_chunks(spark, d, "1m"))
        if where:
            df = df.where(where)
        cols = ["conv_id", "bucket_ts", "value"] + (
            [] if drop_metric or "metric" not in df.columns else ["metric"])
        keys = [c for c in ("conv_id", "metric", "bucket_ts") if c in cols]
        return (df.select(*cols).toPandas()
                .sort_values(keys).reset_index(drop=True))

    got = pts(da)
    want = pts(db)
    assert set(got["metric"].unique()) == {"tok_len_mean", "turn_rate",
                                           "user_frac"}
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # primary metric == the single-metric store bit-for-bit
    pd.testing.assert_frame_equal(
        pts(db, where="metric = 'tok_len_mean'", drop_metric=True),
        pts(dc), check_exact=True)
    # the routed read serves all metrics of a multi-metric store
    from spinterps_spark.plans.router import query_range

    routed = query_range(spark, da, int(bounds.mn), int(bounds.mx),
                         resolution="1m")
    per_metric = {r["metric"]: r["count"] for r in
                  routed.groupBy("metric").count().collect()}
    assert set(per_metric) == {"tok_len_mean", "turn_rate", "user_frac"}
    assert len(set(per_metric.values())) == 1  # same grid per metric


def test_refresh_rejects_mismatched_metric_set(spark, tmp_path):
    """The pipeline stamps its metric set into the commit rows; a refresh
    with a different set must refuse — latest-wins would otherwise
    replace refreshed convs' chunks with a thinner metric set, silently
    breaking per-conv metric coverage."""
    t = datagen.transcripts_spark(spark, seed=59, n_turns_target=800)
    pred = F.substring(F.md5("conv_id"), 1, 1) >= "c"
    d = str(tmp_path / "s")
    run_retention_pipeline(
        spark, t.where(~pred), d, tiers=("1m",), n_waves=2, run_id="p0",
        extra_fill_metrics={"turn_rate": "CAST(turn_cnt AS DOUBLE)"})
    with pytest.raises(ValueError, match="metric set"):
        run_refresh_pass(spark, t.where(pred), d, tiers=("1m",),
                         n_waves=2, run_id="r1")  # extras omitted
    # the matching set is accepted
    m = run_refresh_pass(
        spark, t.where(pred), d, tiers=("1m",), n_waves=2, run_id="r2",
        extra_fill_metrics={"turn_rate": "CAST(turn_cnt AS DOUBLE)"})
    assert m["tiers"]["1m"]["commit"] == "published"


def test_unknown_fill_method_rejected_before_any_commit(spark, stores):
    """A fill method the kernel does not know fails up front: no rollup
    delta is committed first (the chunk pass would fail inside a Spark
    task and leave the two logs disagreeing)."""
    d = stores["dirs"]["a"]
    logs = [tier_tables(spark, os.path.join(d, t)) for t in ("rollup", "chunks")]
    before = [f.snapshots() for f in logs]
    with pytest.raises(ValueError, match="fill_method"):
        run_refresh_pass(spark, stores["slices"]["d1"], d, tiers=TIERS,
                         fill_method="idw", n_waves=2, run_id="r-bad")
    assert [f.snapshots() for f in logs] == before


def test_multi_metric_rejects_duplicate_names(spark):
    from spinterps_spark.operators.gapfill import gapfill_virtual_chunks

    ser = spark.createDataFrame(
        [], "conv_id string, bucket_ts timestamp, v double")
    with pytest.raises(ValueError, match="distinct"):
        gapfill_virtual_chunks(ser, "v", method="IDW", tier="1m",
                               extra_value_cols=["v"])
    with pytest.raises(ValueError, match="distinct"):
        gapfill_virtual_chunks(ser, "v", method="IDW", tier="1m",
                               extra_value_cols=["a", "a"])


def test_three_tier_cascade_refresh_equals_full_rebuild(spark, tmp_path):
    """VERDICT r6 next-step #7: the FULL 1m->1h->1d cascade through one
    refresh, including the 1d coarser-tier recompute path (validity counts
    valid lower buckets, so 1d is recomputed from the merged 1h tier, not
    partial-agg merged) — rollup AND decoded chunks bit-equal a full
    three-tier rebuild per tier."""
    from spinterps_spark.plans.generations import current_rollup

    tiers3 = ("1m", "1h", "1d")
    t = datagen.transcripts_spark(spark, seed=97, n_turns_target=2500)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 86400) * 86400
    pred = (F.substring(F.md5("conv_id"), 1, 1) >= "c") & (
        F.unix_timestamp("ts") >= cut)
    da, db = str(tmp_path / "incr"), str(tmp_path / "full")
    # min_cnt > 1 on the coarser tiers so the 1d recompute path is
    # actually exercised against non-trivial validity
    mc = {"1h": 2, "1d": 3}
    run_retention_pipeline(spark, t.where(~pred), da, tiers=tiers3,
                           n_waves=2, run_id="gt",
                           min_cnt=mc)
    run_refresh_pass(spark, t.where(pred), da, tiers=tiers3, n_waves=2,
                     run_id="rc", min_cnt=mc)
    run_retention_pipeline(spark, t, db, tiers=tiers3, n_waves=2,
                           run_id="gt", min_cnt=mc)
    for tier in tiers3:
        pd.testing.assert_frame_equal(
            _points(spark, da, tier), _points(spark, db, tier),
            check_exact=True, obj=f"chunks tier={tier}")
        cols = None
        a = current_rollup(spark, da, tier)
        cols = sorted(a.columns)
        a = (a.select(*cols).toPandas()
             .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True))
        b = (current_rollup(spark, db, tier).select(*cols).toPandas()
             .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b, check_exact=True,
                                      obj=f"rollup tier={tier}")


def test_reader_pinned_to_snapshot_immune_to_publish(spark, stores):
    """VERDICT r6 next-step #8: a reader pinned to a snapshot id must be
    unaffected by deltas published after it resolved — the as_of plan
    reads only the generations that snapshot referenced."""
    from spinterps_spark.plans.generations import current_chunks

    d = stores["dirs"]["a"]
    fmt = tier_tables(spark, os.path.join(d, "chunks"))
    pin = [s for s in fmt.snapshots()
           if s.get("tier") == "1m"][-1]["commit_id"]

    def pts(as_of=None):
        return (
            decode_tier_chunks(current_chunks(spark, d, "1m", as_of=as_of))
            .select("conv_id", "bucket_ts", "value").toPandas()
            .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        )

    before = pts(as_of=pin)
    # a writer publishes while the reader holds its pin; remap conv_ids so
    # the delta is NEW content regardless of which module tests (r2, r3,
    # retention, compaction) already ran against this shared store
    delta = stores["slices"]["d2"].withColumn(
        "conv_id", F.concat(F.lit("pin-"), F.col("conv_id")))
    run_refresh_pass(spark, delta, d, tiers=TIERS, n_waves=2, run_id="pin2")
    after = pts(as_of=pin)
    pd.testing.assert_frame_equal(after, before, check_exact=True)
    # the UNPINNED read picks the new delta up (strictly more convs)
    unpinned = pts()
    assert unpinned["conv_id"].str.startswith("pin-").any()
    assert len(unpinned) > len(before)


def test_stream_refresh_equals_batch_and_survives_redelivery(spark, tmp_path):
    """Continuous incremental refresh (stream_refresh): a turn stream
    merged batch-by-batch into a bootstrapped store must equal the full
    batch pipeline bit-for-bit, a no-new-input restart must commit
    nothing, and a crash-simulating redelivery (streaming commit log
    truncated) must be absorbed by the refresh pass's run_id resume —
    exactly-once end to end, no double-merged partial aggregates."""
    import glob as _glob
    import shutil

    from spinterps_spark.compress.gorilla import decode_tier_chunks
    from spinterps_spark.plans.pipeline import run_retention_pipeline
    from spinterps_spark.plans.retention import read_tier_chunks
    from spinterps_spark.sources.tableformat import tier_tables
    from spinterps_spark.plans.refresh import stream_refresh

    t = datagen.transcripts_spark(spark, seed=23, n_turns_target=2500)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    p1 = (h >= "c") & (e >= cut)
    p2 = h.between("8", "b") & (e >= cut)

    store, full = str(tmp_path / "store"), str(tmp_path / "full")
    run_retention_pipeline(spark, t.where(~(p1 | p2)), store, tiers=("1m",),
                           n_waves=2, run_id="boot")
    run_retention_pipeline(spark, t, full, tiers=("1m",), n_waves=2,
                           run_id="gt")

    # two arrival waves, conv-disjoint by hash range; maxFilesPerTrigger=1
    # over the single-file writes -> at least two micro-batches
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(in_dir)
    for name, pred in (("w0", p1), ("w1", p2)):
        stage = str(tmp_path / f"stage_{name}")
        t.where(pred).coalesce(1).write.parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(in_dir, f"{name}.parquet"))

    stream_refresh(spark, in_dir, store, ckpt, tiers=("1m",), n_waves=2)

    def pts(d):
        return (
            decode_tier_chunks(read_tier_chunks(spark, d, "1m"))
            .select("conv_id", "bucket_ts", "value").toPandas()
            .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(pts(store), pts(full), check_exact=True)

    def n_snaps():
        return sum(
            len(tier_tables(spark, os.path.join(store, tb)).snapshots())
            for tb in ("rollup", "chunks"))

    before = n_snaps()
    # restart with no new input: zero batches, zero commits
    stream_refresh(spark, in_dir, store, ckpt, tiers=("1m",), n_waves=2)
    assert n_snaps() == before

    # crash simulation: drop the LAST streaming commit -> that batch is
    # redelivered (same batch_id, same files) on restart; the refresh
    # pass's committed(run_id, stage) resume must absorb it
    commits = sorted(_glob.glob(os.path.join(ckpt, "commits", "*")),
                     key=lambda p: os.path.basename(p))
    commits = [c for c in commits if not c.endswith(".tmp")
               and not os.path.basename(c).startswith(".")]
    os.remove(commits[-1])
    crc = os.path.join(os.path.dirname(commits[-1]),
                       f".{os.path.basename(commits[-1])}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # ChecksumFs refuses the rewrite over a stale crc
    stream_refresh(spark, in_dir, store, ckpt, tiers=("1m",), n_waves=2)
    assert n_snaps() == before
    pd.testing.assert_frame_equal(pts(store), pts(full), check_exact=True)
