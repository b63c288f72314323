"""Cross-store merge (plans/merge.py — utils/merg_nc.py analog).

Ground truth everywhere: a from-scratch pipeline over the unioned turns.
combine mode must be BIT-IDENTICAL to it (disjoint turn sets re-sum
exactly); overwrite mode must equal a rebuild where the later source's
turns replaced the earlier's for the duplicated conversations.
"""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import FUSED_CHUNK, decode_tier_chunks
from spinterps_spark.plans.generations import (
    current_rollup, generation_plan, tier_horizons)
from spinterps_spark.plans.merge import run_merge_pass
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.retention import read_tier_chunks, run_retention_pass
from spinterps_spark.sources.tableformat import CommitConflictError, tier_tables

TIERS = ("1m", "1h")


def _pts(spark, d, tier, cols=("conv_id", "bucket_ts", "value")):
    df = decode_tier_chunks(read_tier_chunks(spark, d, tier))
    pdf = df.select(*[c for c in cols if c in df.columns]).toPandas()
    keys = [c for c in ("metric", "conv_id", "bucket_ts") if c in pdf.columns]
    return pdf.sort_values(keys).reset_index(drop=True)


def _roll(spark, d, tier):
    a = current_rollup(spark, d, tier)
    cols = sorted(a.columns)
    return (a.select(*cols).toPandas()
            .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True))


def _build(spark, src, d, **kw):
    run_retention_pipeline(
        spark, src, d, tiers=TIERS, n_waves=2, run_id="gt", **kw)


@pytest.fixture(scope="module")
def split(spark):
    """Turns split so the two stores share the md5>='c' conversations
    (even/odd turn split — same conv, often the same bucket, in BOTH
    stores: exercises the partial-agg re-sum, not just row union)."""
    t = datagen.transcripts_spark(spark, seed=41, n_turns_target=3000)
    h = F.substring(F.md5("conv_id"), 1, 1)
    pa = (h < "8") | ((h >= "c") & (F.col("turn_idx") % 2 == 0))
    pb = h.between("8", "b") | ((h >= "c") & (F.col("turn_idx") % 2 == 1))
    return {"t": t, "a": t.where(pa), "b": t.where(pb), "h": h}


def test_combine_overlap_equals_full_rebuild(spark, split, tmp_path):
    da, db, dm, df_ = (str(tmp_path / x) for x in ("a", "b", "m", "full"))
    for d, src in ((da, split["a"]), (db, split["b"]), (df_, split["t"])):
        _build(spark, src, d)
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert m["n_overlap_convs"] > 0
    for tier in TIERS:
        assert m["tiers"][tier]["chunks_copied"] > 0
        assert m["tiers"][tier]["chunks_reencoded"] > 0
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, df_, tier), check_exact=True,
            obj=f"chunks tier={tier}")
        pd.testing.assert_frame_equal(
            _roll(spark, dm, tier), _roll(spark, df_, tier),
            check_exact=True, obj=f"rollup tier={tier}")
    # the merged store is a first-class store: flatten folds the overlap
    # delta, refresh keeps maintaining it
    from spinterps_spark.plans.refresh import run_refresh_pass
    from spinterps_spark.plans.vacuum import run_flatten_pass

    for tier in TIERS:
        run_flatten_pass(spark, dm, tier, table="chunks",
                         run_id=f"fl-{tier}", n_waves=2)
        fmt = tier_tables(spark, os.path.join(dm, "chunks"))
        _, deltas = generation_plan(
            fmt, tier, os.path.join(dm, f"chunks/tier={tier}", "wave=*"))
        assert deltas == []
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, df_, tier), check_exact=True)

    extra = datagen.transcripts_spark(spark, seed=57, n_turns_target=400)
    run_refresh_pass(spark, extra, dm, tiers=TIERS, n_waves=2, run_id="r1")
    dfull2 = str(tmp_path / "full2")
    _build(spark, split["t"].unionByName(extra), dfull2)
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, dfull2, tier),
            check_exact=True, obj=f"post-refresh tier={tier}")


def test_disjoint_sources_copy_only(spark, split, tmp_path):
    """Conversations living in exactly one source: pure opaque copy — no
    conv is re-encoded, source base files untouched, bit-equal rebuild."""
    t = split["t"]
    h = split["h"]
    da, db, dm, df_ = (str(tmp_path / x) for x in ("a", "b", "m", "full"))
    for d, src in ((da, t.where(h < "8")), (db, t.where(h >= "8")),
                   (df_, t)):
        _build(spark, src, d)
    stat = {p: os.path.getmtime(p) for d in (da, db) for p in
            glob.glob(f"{d}/chunks/tier=*/wave=*/*.parquet")}
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert m["n_overlap_convs"] == 0
    for tier in TIERS:
        assert "chunks_reencoded" not in m["tiers"][tier]
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, df_, tier), check_exact=True)
    for p, mt in stat.items():
        assert os.path.getmtime(p) == mt, f"source file touched: {p}"


def test_overwrite_mode_last_source_wins(spark, split, tmp_path):
    """Reference parity (merg_nc.py sorted-file overwrite): the SAME
    conversations ingested into both stores with different content — the
    later source's buckets must win, and combine would double-count."""
    t = split["t"]
    h = split["h"]
    # B re-ingests the md5>='c' convs with doubled text (tok_len changes)
    tb = t.where(h >= "c").withColumn(
        "text", F.concat(F.col("text"), F.lit(" "), F.col("text")))
    da, db, dm, df_ = (str(tmp_path / x) for x in ("a", "b", "m", "want"))
    _build(spark, t, da)
    _build(spark, tb, db)
    # ground truth: the duplicated convs carry B's turns, everyone else A's
    _build(spark, t.where(h < "c").unionByName(tb), df_)
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, mode="overwrite",
                       n_waves=2, run_id="mg")
    assert m["n_overlap_convs"] > 0
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, df_, tier), check_exact=True)
        pd.testing.assert_frame_equal(
            _roll(spark, dm, tier), _roll(spark, df_, tier),
            check_exact=True)


def test_validation_raises(spark, split, tmp_path):
    t = split["t"]
    h = split["h"]
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    _build(spark, t.where(h < "8"), da)
    _build(spark, t.where(h >= "8"), db,
           extra_fill_metrics={"turn_rate": "CAST(turn_cnt AS DOUBLE)"})
    with pytest.raises(ValueError, match="metric set"):
        run_merge_pass(spark, [da, db], str(tmp_path / "m1"), tiers=TIERS)
    with pytest.raises(ValueError, match="at least two"):
        run_merge_pass(spark, [da], str(tmp_path / "m2"), tiers=TIERS)
    with pytest.raises(ValueError, match="must not be one of"):
        run_merge_pass(spark, [da, db], da, tiers=TIERS)
    with pytest.raises(ValueError, match="mode"):
        run_merge_pass(spark, [da, db], str(tmp_path / "m3"), tiers=TIERS,
                       mode="append")
    # horizon disagreement: retain A's 1m tier only
    b = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
              F.max(F.unix_timestamp("ts")).alias("mx")).first()
    hz = b.mn + (b.mx - b.mn) // 2
    run_retention_pass(spark, da, "1m", hz, run_id="ret", n_waves=2)
    db2 = str(tmp_path / "b2")
    _build(spark, t.where(h >= "8"), db2)
    with pytest.raises(ValueError, match="retention horizon"):
        run_merge_pass(spark, [da, db2], str(tmp_path / "m4"), tiers=TIERS)
    # non-empty out store
    with pytest.raises(ValueError, match="already has"):
        run_merge_pass(spark, [db2, str(tmp_path / "b3")], da, tiers=TIERS)


def test_merge_after_retention_propagates_horizon(spark, split, tmp_path):
    """Equal-horizon sources merge; the merged store inherits the horizon
    (tier_horizons reads the merge commit) and the overlap re-encode never
    resurrects aged-out points, while non-overlap convs keep their
    source's straddling-chunk content verbatim."""
    t = split["t"]
    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    b = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
              F.max(F.unix_timestamp("ts")).alias("mx")).first()
    hz = b.mn + (b.mx - b.mn) // 2
    for d in (da, db):
        run_retention_pass(spark, d, "1m", hz, run_id="ret", n_waves=2)
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert m["n_overlap_convs"] > 0
    assert tier_horizons(spark, dm).get("1m") == hz
    got = _pts(spark, dm, "1m")
    ov = set(
        r[0] for r in spark.read.parquet(
            os.path.join(dm, "merge/run=mg/convs")).collect())
    got_ov = got[got["conv_id"].isin(ov)]
    assert int((got_ov["bucket_ts"].astype("int64") // 10**9).min()) >= hz
    # non-overlap convs: copied verbatim from their (retained) source
    for d in (da, db):
        src = _pts(spark, d, "1m")
        keep = ~src["conv_id"].isin(ov)
        pd.testing.assert_frame_equal(
            got[got["conv_id"].isin(set(src[keep]["conv_id"]))]
            .reset_index(drop=True),
            src[keep].reset_index(drop=True), check_exact=True)


def test_rerun_same_run_id_is_noop(spark, split, tmp_path):
    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2, run_id="mg")
    cfmt = tier_tables(spark, os.path.join(dm, "chunks"))
    rfmt = tier_tables(spark, os.path.join(dm, "rollup"))
    n_c, n_r = len(cfmt.snapshots()), len(rfmt.snapshots())
    before = {t: _pts(spark, dm, t) for t in TIERS}
    run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2, run_id="mg")
    assert len(cfmt.snapshots()) == n_c and len(rfmt.snapshots()) == n_r
    for t in TIERS:
        pd.testing.assert_frame_equal(_pts(spark, dm, t), before[t],
                                      check_exact=True)


def test_multimetric_merge_equals_rebuild(spark, split, tmp_path):
    extras = {"turn_rate": "CAST(turn_cnt AS DOUBLE)"}
    da, db, dm, df_ = (str(tmp_path / x) for x in ("a", "b", "m", "full"))
    for d, src in ((da, split["a"]), (db, split["b"]), (df_, split["t"])):
        _build(spark, src, d, extra_fill_metrics=extras)
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg", extra_fill_metrics=extras)
    assert m["n_overlap_convs"] > 0
    cols = ("metric", "conv_id", "bucket_ts", "value")
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier, cols), _pts(spark, df_, tier, cols),
            check_exact=True)


def test_source_published_mid_merge_conflicts(spark, split, tmp_path,
                                              monkeypatch):
    """Optimistic pinning: a refresh landing on a SOURCE between the
    merge's read and its publish must raise CommitConflictError, never
    publish a mixed-state merge."""
    from spinterps_spark.plans import merge as M
    from spinterps_spark.plans.refresh import run_refresh_pass

    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    real = M.run_waved_pass
    fired = {"done": False}
    extra = datagen.transcripts_spark(spark, seed=58, n_turns_target=200)

    def hijack(spark_, src, transform, out_dir, ckpt, run_id, stage, **kw):
        if stage.startswith("merge_chunks_copy:") and not fired["done"]:
            fired["done"] = True
            run_refresh_pass(spark_, extra, da, tiers=TIERS, n_waves=2,
                             run_id="sneak")
        return real(spark_, src, transform, out_dir, ckpt, run_id, stage,
                    **kw)

    monkeypatch.setattr(M, "run_waved_pass", hijack)
    with pytest.raises(CommitConflictError):
        run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert fired["done"]


def test_vacuum_on_merged_store_keeps_live_base(spark, split, tmp_path):
    """Code-review r7 #1 (confirmed data loss pre-fix): vacuum classified
    merge_delta: as a FULL generation, so keep_last=1 expired the live
    copied base under it — every later read raised expired-by-vacuum.
    Post-fix the base survives, reads are unchanged, and history labels
    the base live / the overlap delta as a delta."""
    from spinterps_spark.plans.describe import history
    from spinterps_spark.plans.vacuum import run_vacuum_pass

    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    m = run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert m["n_overlap_convs"] > 0
    before = {t: _pts(spark, dm, t) for t in TIERS}
    run_vacuum_pass(spark, dm, keep_last=1, run_id="vx")
    for t in TIERS:
        pd.testing.assert_frame_equal(_pts(spark, dm, t), before[t],
                                      check_exact=True)
    h = history(spark, dm).toPandas()
    base = h[(h.table == "chunks") & (h.stage == "merge:1m")]
    delta = h[(h.table == "chunks") & (h.stage == "merge_delta:1m")]
    assert list(base.status) == ["live"] and list(base.kind) == ["full"]
    assert list(delta.status) == ["live"] and list(delta.kind) == ["delta"]


def test_orphan_sweep_collects_crashed_merge_dirs(spark, split, tmp_path,
                                                  monkeypatch):
    """Code-review r7 #4: a merge that crashes before any commit leaves
    rollup_merge/chunks_merge/.../merge/run=*/convs dirs referenced by no
    snapshot row — the opt-in orphan sweep must reclaim them (and must
    NOT touch them while a committed merge references them)."""
    from spinterps_spark.plans import merge as M
    from spinterps_spark.plans.vacuum import run_vacuum_pass

    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    real = M.run_waved_pass

    def crash(spark_, src, transform, out_dir, ckpt, run_id, stage, **kw):
        out = real(spark_, src, transform, out_dir, ckpt, run_id, stage,
                   **kw)
        if stage.startswith("merge_rollup:"):
            # after the waves, BEFORE any snapshot commit: everything the
            # pass wrote so far is referenced by no row
            raise RuntimeError("simulated crash before the rollup commit")
        return out

    monkeypatch.setattr(M, "run_waved_pass", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    monkeypatch.setattr(M, "run_waved_pass", real)
    leftovers = [p for p in (
        "rollup_merge/tier=1m/gen=mg", "merge/run=mg/convs",
    ) if os.path.isdir(os.path.join(dm, p))]
    assert leftovers, "crash must leave uncommitted dirs for the drill"
    m = run_vacuum_pass(spark, dm, keep_last=1, run_id="vx",
                        orphan_min_age_sec=0.0)
    for p in leftovers:
        assert not os.path.isdir(os.path.join(dm, p)), f"orphan kept: {p}"
    assert m["orphans"]["n_removed"] >= len(leftovers)
    # a COMMITTED merge's dirs are all referenced: the sweep keeps them
    dm2 = str(tmp_path / "m2")
    run_merge_pass(spark, [da, db], dm2, tiers=TIERS, n_waves=2,
                   run_id="mg2")
    before = {t: _pts(spark, dm2, t) for t in TIERS}
    run_vacuum_pass(spark, dm2, keep_last=1, run_id="vy",
                    orphan_min_age_sec=0.0)
    for t in TIERS:
        pd.testing.assert_frame_equal(_pts(spark, dm2, t), before[t],
                                      check_exact=True)


def test_crash_resume_after_concurrent_delta_conflicts(spark, split,
                                                       tmp_path,
                                                       monkeypatch):
    """Code-review r7 #2 (the resume hole in the optimistic protocol):
    retention crashes after its waves but before the commit; a refresh
    delta lands in the crash window; resuming with the SAME run_id must
    raise CommitConflictError (the persisted pin keeps the ORIGINAL
    baseline) — pre-fix the validator re-captured at resume and silently
    published a rewrite that dropped the delta. A fresh run_id then
    succeeds and folds the delta."""
    from spinterps_spark.plans import retention as RT
    from spinterps_spark.plans.refresh import run_refresh_pass

    d = str(tmp_path / "s")
    _build(spark, split["a"], d)
    b = split["t"].agg(
        F.min(F.unix_timestamp("ts")).alias("mn"),
        F.max(F.unix_timestamp("ts")).alias("mx")).first()
    hz = b.mn + (b.mx - b.mn) // 4
    real = RT.run_waved_pass

    def crash(spark_, src, transform, out_dir, ckpt, run_id, stage, **kw):
        real(spark_, src, transform, out_dir, ckpt, run_id, stage, **kw)
        raise RuntimeError("simulated crash before the retention commit")

    monkeypatch.setattr(RT, "run_waved_pass", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_retention_pass(spark, d, "1m", hz, run_id="rt", n_waves=2)
    monkeypatch.setattr(RT, "run_waved_pass", real)
    # a delta lands in the crash window
    run_refresh_pass(spark, split["b"], d, tiers=TIERS, n_waves=2,
                     run_id="late")
    from spinterps_spark.sources.tableformat import CommitConflictError as CCE
    with pytest.raises(CCE):
        run_retention_pass(spark, d, "1m", hz, run_id="rt", n_waves=2)
    # fresh run_id: reads the current view (delta folded), publishes fine
    r = run_retention_pass(spark, d, "1m", hz, run_id="rt2", n_waves=2)
    assert r["commit"] not in ("skipped", None)
    got = _pts(spark, d, "1m")
    assert int((got["bucket_ts"].astype("int64") // 10**9).min()) >= hz - \
        FUSED_CHUNK * 60  # straddling-chunk slack: one chunk window at 1m


def test_merge_ok_kriging_equals_full_rebuild(spark, tmp_path):
    """The flagship fill (ordinary kriging, per-cluster variogram weights)
    rides merge too: the overlap re-encode uses the pipeline's own fused
    kernel, so the merged store is bit-identical to a full OK rebuild."""
    from spinterps_spark import datagen as DG

    t = DG.transcripts_spark(spark, seed=13, n_turns_target=2000)
    n_convs = len(DG.plan_sizes(13, 2000))
    coords = DG.conv_coords_spark(spark, 13, n_convs)
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(8)],
        "cluster_id int, vg_str string")
    h = F.substring(F.md5("conv_id"), 1, 1)
    pa = (h < "8") | ((h >= "c") & (F.col("turn_idx") % 2 == 0))
    da, db, dm, df_ = (str(tmp_path / x) for x in ("a", "b", "m", "full"))
    kw = dict(fill_method="OK", coords=coords, vg_dim=vg)
    for d, src in ((da, t.where(pa)), (db, t.where(~pa)), (df_, t)):
        run_retention_pipeline(spark, src, d, tiers=("1m",), n_waves=2,
                               run_id="gt", **kw)
    m = run_merge_pass(spark, [da, db], dm, tiers=("1m",), n_waves=2,
                       run_id="mg", **kw)
    assert m["n_overlap_convs"] > 0
    pd.testing.assert_frame_equal(
        _pts(spark, dm, "1m"), _pts(spark, df_, "1m"), check_exact=True)


def test_three_source_merge(spark, split, tmp_path):
    """k > 2 sources in one pass; the overlap set spans source pairs."""
    t = split["t"]
    h = split["h"]
    # c+ convs split across A (even) and C (odd): overlap between
    # NON-ADJACENT sources; B holds a disjoint conv band
    pa = (h < "8") | ((h >= "c") & (F.col("turn_idx") % 2 == 0))
    pb = h.between("8", "b")
    pc = (h >= "c") & (F.col("turn_idx") % 2 == 1)
    da, db, dc, dm, df_ = (str(tmp_path / x)
                           for x in ("a", "b", "c", "m", "full"))
    for d, src in ((da, t.where(pa)), (db, t.where(pb)),
                   (dc, t.where(pc)), (df_, t)):
        _build(spark, src, d)
    m = run_merge_pass(spark, [da, db, dc], dm, tiers=TIERS, n_waves=2,
                       run_id="mg")
    assert m["n_src"] == 3 and m["n_overlap_convs"] > 0
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _pts(spark, dm, tier), _pts(spark, df_, tier), check_exact=True)


def test_router_serves_merged_store_across_horizons(spark, split, tmp_path):
    """query_range on a MERGED store: the router reads the horizon the
    merge propagated (tier_horizons via the merge commit), serves the
    post-horizon band at 1m and falls through to the 1h tier below it."""
    from spinterps_spark.plans.router import query_range

    t = split["t"]
    da, db, dm = (str(tmp_path / x) for x in ("a", "b", "m"))
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)
    b = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
              F.max(F.unix_timestamp("ts")).alias("mx")).first()
    hz = ((b.mn + (b.mx - b.mn) // 2) // 3600) * 3600
    for d in (da, db):
        run_retention_pass(spark, d, "1m", hz, run_id="ret", n_waves=2)
    run_merge_pass(spark, [da, db], dm, tiers=TIERS, n_waves=2, run_id="mg")
    assert tier_horizons(spark, dm).get("1m") == hz
    got = (query_range(spark, dm, int(b.mn), int(b.mx), resolution="1m")
           .toPandas().sort_values(["conv_id", "bucket_ts"])
           .reset_index(drop=True))
    assert set(got["tier"]) == {"1m", "1h"}
    epochs = got["bucket_ts"].astype("int64") // 10**9
    assert int(epochs[got["tier"] == "1m"].min()) >= hz
    assert int(epochs[got["tier"] == "1h"].max()) < hz
    # the 1m band equals the merged store's own decoded 1m content
    fine = _pts(spark, dm, "1m")
    fine = fine[(fine["bucket_ts"].astype("int64") // 10**9) >= hz]
    pd.testing.assert_frame_equal(
        got[got["tier"] == "1m"][["conv_id", "bucket_ts", "value"]]
        .reset_index(drop=True),
        fine.reset_index(drop=True), check_exact=True)


def test_overlap_broadcast_guard(spark, split, tmp_path, monkeypatch):
    """VERDICT r7 next-step #2: a merge whose overlap exceeds
    broadcast_overlap_limit (the duplicated-ingest/overwrite case, where
    overlap ~ the whole store) must switch the overlap anti/semi joins to
    shuffle joins — plan-asserted — with bit-identical results."""
    import spinterps_spark.plans.merge as MG

    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    # both stores hold (almost) every conversation: even/odd split of the
    # md5>='c' convs PLUS full copies of the rest in both -> ~100% overlap
    t = split["t"]
    _build(spark, split["a"], da)
    _build(spark, split["b"], db)

    plans = {}
    real_rwp = MG.run_waved_pass

    def spy(spark_, src, transform, out_dir, ckpt, run_id, stage, **kw):
        df = transform(src)
        plans[stage] = df._jdf.queryExecution().executedPlan().toString()
        return real_rwp(spark_, src, transform, out_dir, ckpt, run_id,
                        stage, **kw)

    monkeypatch.setattr(MG, "run_waved_pass", spy)

    dm_b = str(tmp_path / "m_bcast")
    m_b = run_merge_pass(spark, [da, db], dm_b, tiers=TIERS, n_waves=2,
                         run_id="mgb")
    assert m_b["overlap_broadcast"] is True
    assert "BroadcastHashJoin" in plans["merge_rollup:1m"]

    plans.clear()
    dm_s = str(tmp_path / "m_shuffle")
    # at test scale the planner would auto-broadcast the tiny un-hinted ov
    # anyway (estimated size < autoBroadcastJoinThreshold); disable the
    # auto threshold so the plan shows the at-scale shape. Explicit
    # F.broadcast hints elsewhere (gapfill dims) are unaffected.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        m_s = run_merge_pass(spark, [da, db], dm_s, tiers=TIERS, n_waves=2,
                             run_id="mgs", broadcast_overlap_limit=0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    assert m_s["overlap_broadcast"] is False
    assert m_s["n_overlap_convs"] == m_b["n_overlap_convs"] > 0
    # the overlap anti/semi joins are shuffle joins now, and the overlap
    # set is never broadcast
    assert "SortMergeJoin" in plans["merge_rollup:1m"] or \
        "ShuffledHashJoin" in plans["merge_rollup:1m"]
    # results bit-identical to the broadcast path
    for tier in TIERS:
        pd.testing.assert_frame_equal(
            _pts(spark, dm_s, tier), _pts(spark, dm_b, tier),
            check_exact=True, obj=f"chunks tier={tier}")
        pd.testing.assert_frame_equal(
            _roll(spark, dm_s, tier), _roll(spark, dm_b, tier),
            check_exact=True, obj=f"rollup tier={tier}")
