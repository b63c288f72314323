"""Snapshot time travel, delta-chain flatten, and vacuum (plans/vacuum.py,
plans/generations.py as_of).

One shared store `a` accretes history in fixture order: pipeline(old) ->
refresh d1 -> retention(no-drop) -> refresh d2. Ground-truth stores are
full pipeline runs over the same turn unions, so every read (current or
as-of) has a bit-exact oracle. Tests run in declaration order and mutate
the store monotonically (flatten, then vacuum keep_last=2, then keep_last=1)
— the same sequencing contract as tests/test_refresh.py.
"""

import glob
import json
import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.plans.generations import (
    commit_kind, current_chunks, current_rollup, generation_plan)
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import run_retention_pass
from spinterps_spark.plans.vacuum import run_flatten_pass, run_vacuum_pass
from spinterps_spark.sources import tableformat
from spinterps_spark.sources.tableformat import tier_tables

TIER = "1m"


def _chunk_points(spark, out_dir, as_of=None):
    df = current_chunks(spark, out_dir, TIER, as_of=as_of)
    return (
        decode_tier_chunks(df)
        .select("conv_id", "bucket_ts", "value")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def _rollup_rows(spark, out_dir, as_of=None):
    df = current_rollup(spark, out_dir, TIER, as_of=as_of)
    return (
        df.select("conv_id", "bucket_ts", "turn_cnt", "tok_len_sum")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def _last_commit(spark, out_dir, table):
    snaps = tier_tables(spark, os.path.join(out_dir, table)).snapshots()
    return snaps[-1]["commit_id"]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("vacuum")
    t = datagen.transcripts_spark(spark, seed=37, n_turns_target=3000)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    p1 = (h >= "c") & (e >= cut)
    p2 = h.between("8", "b") & (e >= cut)
    old = t.where(~(p1 | p2))

    dirs = {k: str(base / k) for k in ("a", "m", "b")}
    gt = {"a": old, "m": old.unionByName(t.where(p1)), "b": t}
    for k, src in gt.items():
        run_retention_pipeline(spark, src, dirs[k], tiers=(TIER,), n_waves=2,
                               run_id=f"gt-{k}")
    d = dirs["a"]
    run_refresh_pass(spark, t.where(p1), d, tiers=(TIER,), n_waves=2,
                     run_id="v1")
    commits = {
        "after_r1_chunks": _last_commit(spark, d, "chunks"),
        "after_r1_rollup": _last_commit(spark, d, "rollup"),
    }
    # no-drop retention: a full chunk generation without a content change
    run_retention_pass(spark, d, TIER, horizon_ts=int(bounds.mn) - 1,
                       run_id="ret1", n_waves=2)
    commits["after_ret_chunks"] = _last_commit(spark, d, "chunks")
    run_refresh_pass(spark, t.where(p2), d, tiers=(TIER,), n_waves=2,
                     run_id="v2")
    layout_files = sorted(
        glob.glob(f"{d}/chunks/tier=*/wave=*/*.parquet")
        + glob.glob(f"{d}/rollup/tier=*/wave=*/*.parquet")
    )
    return {"dirs": dirs, "commits": commits,
            "layout_stat": [(p, os.path.getmtime(p)) for p in layout_files]}


@pytest.mark.parametrize("stage,kind", [
    ("rollup:1m", "full"), ("chunks:1h", "full"), ("retention:1m", "full"),
    ("compaction:1m", "full"), ("flatten:1m", "full"), ("merge:1m", "full"),
    ("refresh:1m", "delta"), ("merge_delta:1h", "delta"),
    ("evolve:1m", "evolve"), ("vacuum:1d", "vacuum"),
    ("meta:evolve:1m", "meta"), ("", "full"), (None, "full"),
])
def test_commit_kind(stage, kind):
    assert commit_kind(stage) == kind


def test_time_travel_reads_the_old_snapshot(spark, store):
    """as_of the post-refresh-1 commit == full recompute over old+d1,
    even though two newer generations exist."""
    got = _chunk_points(spark, store["dirs"]["a"],
                        as_of=store["commits"]["after_r1_chunks"])
    want = _chunk_points(spark, store["dirs"]["m"])
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    got_r = _rollup_rows(spark, store["dirs"]["a"],
                         as_of=store["commits"]["after_r1_rollup"])
    want_r = _rollup_rows(spark, store["dirs"]["m"])
    pd.testing.assert_frame_equal(got_r, want_r, check_exact=True)


def test_time_travel_unknown_commit_raises(spark, store):
    with pytest.raises(KeyError, match="not found"):
        current_chunks(spark, store["dirs"]["a"], TIER, as_of="nope")


def test_value_stream_stores_decimal_chunks_as_integers(spark, store):
    """The fill rounds to 2 decimals, so nearly every 1m chunk is stored in
    the integer value mode (compress/gorilla.py), well under 1 B per point
    against about 3 B in XOR mode. A fault in the exactness check that
    sends every chunk back to XOR mode still passes every roundtrip test;
    it fails here."""
    r = current_chunks(spark, store["dirs"]["b"], TIER).agg(
        F.sum(F.length("vals_xor")).alias("nbytes"),
        F.sum("n").alias("pts")).first()
    assert r["nbytes"] / r["pts"] < 1.0


def test_time_stream_stores_grid_chunks_as_one_delta(spark, store):
    """The fill emits every bucket between a conversation's first and last
    reference, so nearly every multi-point 1m chunk is an exact 60 s grid
    and stores its timestamps in grid form (compress/gorilla.py,
    "Timestamp stream"): a stream shorter than the 8 bytes every token
    stream takes. A fault in grid detection that sends every chunk back to
    token form still passes every roundtrip test; it fails here."""
    r = current_chunks(spark, store["dirs"]["b"], TIER).where("n >= 2").agg(
        F.count("*").alias("multi"),
        F.sum((F.length("ts_d2d") < 8).cast("int")).alias("grid")).first()
    assert r["multi"] > 0
    assert r["grid"] >= 0.99 * r["multi"]


def test_flatten_rollup_collapses_the_delta_chain(spark, store):
    d = store["dirs"]["a"]
    before = _rollup_rows(spark, d)
    fmt = tier_tables(spark, os.path.join(d, "rollup"))
    _, deltas = generation_plan(fmt, TIER, f"{d}/rollup/tier={TIER}/wave=*")
    assert len(deltas) == 2  # v1 + v2
    m = run_flatten_pass(spark, d, TIER, table="rollup", run_id="fl1",
                         n_waves=2)
    assert m["n_deltas_folded"] == 2
    _, deltas = generation_plan(fmt, TIER, f"{d}/rollup/tier={TIER}/wave=*")
    assert deltas == []  # one parquet scan again, zero anti joins
    pd.testing.assert_frame_equal(_rollup_rows(spark, d), before,
                                  check_exact=True)
    # same run_id resumes as a skip; a fresh run is a noop (no deltas)
    assert run_flatten_pass(spark, d, TIER, table="rollup",
                            run_id="fl1")["commit"] == "skipped"
    assert run_flatten_pass(spark, d, TIER, table="rollup",
                            run_id="fl2")["commit"] == "noop"


def test_flatten_chunks_matches_full_recompute(spark, store):
    d = store["dirs"]["a"]
    m = run_flatten_pass(spark, d, TIER, table="chunks", run_id="fc1",
                         n_waves=2)
    assert m["n_deltas_folded"] == 1  # v2 (v1 was folded by the retention)
    pd.testing.assert_frame_equal(
        _chunk_points(spark, d), _chunk_points(spark, store["dirs"]["b"]),
        check_exact=True)


def _gen_chunk_size_max(spark, snap):
    return spark.read.parquet(
        os.path.join(snap["data_location"], "wave=*")
    ).agg(F.max("chunk_size")).first()[0]


def test_rewrites_stamp_the_published_chunk_size_max(spark, store):
    """Retention and flatten(chunks) stamp max(chunk_size) of the generation
    they published; flatten(rollup) has no chunk_size and stamps nothing."""
    d = store["dirs"]["a"]
    chunk_log = tier_tables(spark, os.path.join(d, "chunks")).snapshots()
    for run_id in ("ret1", "fc1"):
        snap = next(s for s in chunk_log if s.get("run_id") == run_id)
        assert int(snap["chunk_size_max"]) == _gen_chunk_size_max(spark, snap)
    roll = next(s for s in tier_tables(spark, os.path.join(d, "rollup"))
                .snapshots() if s.get("run_id") == "fl1")
    assert "chunk_size_max" not in roll


def test_vacuum_keep2_retains_time_travel_window(spark, store):
    """keep_last=2 on the chunks log keeps the retention generation (the
    2nd-last full gen) and the v2 delta after it — so the as-of read at
    the retention commit still works; only the v1 delta dirs expire."""
    d = store["dirs"]["a"]
    before = _chunk_points(spark, d)
    m = run_vacuum_pass(spark, d, keep_last=2, run_id="vac2")
    assert m["bytes_freed"] > 0
    assert not os.path.isdir(f"{d}/chunks_refresh/tier={TIER}/gen=v1")
    assert os.path.isdir(f"{d}/chunks_retained/tier={TIER}/gen=ret1")
    assert os.path.isdir(f"{d}/chunks_refresh/tier={TIER}/gen=v2")
    # v2's convs sidecar is still referenced by a kept delta row
    assert os.path.isdir(f"{d}/refresh/run=v2/convs")
    pd.testing.assert_frame_equal(_chunk_points(spark, d), before,
                                  check_exact=True)
    got = _chunk_points(spark, d, as_of=store["commits"]["after_ret_chunks"])
    want = _chunk_points(spark, store["dirs"]["m"])
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_vacuum_keep1_then_expired_snapshot_names_the_vacuum_run(spark, store):
    d = store["dirs"]["a"]
    before = _chunk_points(spark, d)
    before_r = _rollup_rows(spark, d)
    run_vacuum_pass(spark, d, keep_last=1, run_id="vac1")
    # the flatten generations are now the single live generation per table
    assert not os.path.isdir(f"{d}/chunks_retained/tier={TIER}/gen=ret1")
    assert not os.path.isdir(f"{d}/chunks_refresh/tier={TIER}/gen=v2")
    assert not os.path.isdir(f"{d}/rollup_refresh/tier={TIER}/gen=v1")
    assert not os.path.isdir(f"{d}/rollup_refresh/tier={TIER}/gen=v2")
    # ...and no live delta references the v2 sidecar anymore
    assert not os.path.isdir(f"{d}/refresh/run=v2/convs")
    pd.testing.assert_frame_equal(_chunk_points(spark, d), before,
                                  check_exact=True)
    pd.testing.assert_frame_equal(_rollup_rows(spark, d), before_r,
                                  check_exact=True)
    with pytest.raises(RuntimeError, match="expired by vacuum run 'vac1'"):
        _chunk_points(spark, d, as_of=store["commits"]["after_ret_chunks"])
    with pytest.raises(RuntimeError, match="expired by vacuum run"):
        _rollup_rows(spark, d, as_of=store["commits"]["after_r1_rollup"])


def test_vacuum_never_touches_the_original_layout(spark, store):
    for p, mtime in store["layout_stat"]:
        assert os.path.exists(p), f"layout file deleted: {p}"
        assert os.path.getmtime(p) == mtime, f"layout file rewritten: {p}"
    # the layout rows the expiry decision skipped are recorded in the log
    d = store["dirs"]["a"]
    rows = [s for s in tier_tables(
        spark, os.path.join(d, "rollup")).snapshots()
        if str(s.get("stage", "")).startswith("vacuum:")]
    skipped = [loc for s in rows
               for loc in json.loads(s.get("skipped_unmanaged", "[]"))]
    assert any(f"rollup/tier={TIER}" in loc for loc in skipped)


def test_crash_mid_vacuum_reruns_to_convergence(spark, store):
    """Delete-then-commit: simulate a crash after SOME dirs were removed
    but before the commit row, by replaying vacuum over a store where one
    expirable dir is already gone — the re-run must converge, not fail."""
    d = store["dirs"]["a"]
    before = _chunk_points(spark, d)
    run_refresh_pass(
        spark,
        datagen.transcripts_spark(spark, seed=41, n_turns_target=120),
        d, tiers=(TIER,), n_waves=2, run_id="v3")
    run_flatten_pass(spark, d, TIER, table="chunks", run_id="fc2", n_waves=2)
    # crash simulation: the v3 chunk delta dir is gone, no vacuum row yet
    shutil.rmtree(f"{d}/chunks_refresh/tier={TIER}/gen=v3")
    m = run_vacuum_pass(spark, d, keep_last=1, run_id="vac3")
    assert m["tables"]["chunks"][TIER]["commit"] == "published"
    assert not os.path.isdir(f"{d}/chunks_flat/tier={TIER}/gen=fc1")
    # same run_id again: exactly-once commit, pure no-op
    m2 = run_vacuum_pass(spark, d, keep_last=1, run_id="vac3")
    assert m2["tables"]["chunks"][TIER]["commit"] == "skipped"
    assert m2["bytes_freed"] == 0
    got = _chunk_points(spark, d)
    assert len(got) >= len(before)  # v3 merged on top, nothing lost


def test_vacuum_refuses_locations_outside_the_store(spark, store, tmp_path):
    d = store["dirs"]["a"]
    fmt = tier_tables(spark, os.path.join(d, "chunks"))
    evil = str(tmp_path / "outside" / "gen=evil")
    os.makedirs(evil)
    # the poisoned generation must be READABLE (r7: a committed base
    # resolving to no files now raises loudly at read time, ADVICE r6 #1) —
    # the point of THIS test is vacuum's delete-refusal, not read strictness
    src_wave = glob.glob(os.path.join(d, "chunks", f"tier={TIER}", "wave=*"))[0]
    shutil.copytree(src_wave, os.path.join(evil, "wave=0"))
    fmt.commit_tier(TIER, None, evil, {"run_id": "evil",
                                       "stage": f"poison:{TIER}"})
    # make the poisoned row expirable by publishing a newer full gen
    run_refresh_pass(
        spark,
        datagen.transcripts_spark(spark, seed=43, n_turns_target=120),
        d, tiers=(TIER,), n_waves=2, run_id="v4")
    run_flatten_pass(spark, d, TIER, table="chunks", run_id="fc3", n_waves=2)
    with pytest.raises(RuntimeError, match="outside the store"):
        run_vacuum_pass(spark, d, keep_last=1, run_id="vac4")
    assert os.path.isdir(evil)  # nothing was deleted


def test_history_reports_liveness_horizons_and_vacuum(spark, tmp_path):
    """plans/describe.history: one row per snapshot commit, liveness
    resolved the same way reads resolve generations — live base + live
    deltas, superseded pre-flatten rows, expired post-vacuum rows, vacuum
    rows as 'applied' carrying the expiry accounting."""
    from spinterps_spark.plans.describe import history

    t = datagen.transcripts_spark(spark, seed=11, n_turns_target=1500)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn")).first()
    pred = F.substring(F.md5("conv_id"), 1, 1) >= "c"
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t.where(~pred), d, tiers=(TIER,),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(pred), d, tiers=(TIER,), n_waves=2,
                     run_id="r1")
    run_retention_pass(spark, d, TIER, horizon_ts=int(bounds.mn) - 1,
                       run_id="ret", n_waves=2)

    h = {(r["table"], r["run_id"], r["stage"]): r
         for r in history(spark, d, with_sizes=True).collect()}
    # chunks: r1 delta folded by the retention full gen -> superseded;
    # the retention generation is live and carries its horizon
    assert h[("chunks", "r1", f"refresh:{TIER}")]["status"] == "superseded"
    ret = h[("chunks", "ret", f"retention:{TIER}")]
    assert ret["status"] == "live" and ret["kind"] == "full"
    assert ret["horizon_ts"] == int(bounds.mn) - 1
    assert ret["bytes"] > 0
    # rollup: no full rewrite yet -> the pipeline row and the delta are
    # both live (the delta still merges into every read)
    assert h[("rollup", "p0", f"rollup:{TIER}")]["status"] == "live"
    assert h[("rollup", "r1", f"refresh:{TIER}")]["status"] == "live"

    run_vacuum_pass(spark, d, keep_last=1, run_id="vx")
    h2 = {(r["table"], r["run_id"], r["stage"]): r
          for r in history(spark, d).collect()}
    assert h2[("chunks", "r1", f"refresh:{TIER}")]["status"] == "expired"
    vac = h2[("chunks", "vx", f"vacuum:{TIER}")]
    assert vac["status"] == "applied" and vac["n_expired"] == 1
    assert vac["bytes_freed"] > 0
    assert h2[("chunks", "ret", f"retention:{TIER}")]["status"] == "live"


def test_vacuum_tier_subset_keeps_shared_convs_sidecar(spark, tmp_path):
    """A refresh run publishes deltas for every tier sharing ONE convs
    sidecar. Vacuuming only a subset of tiers must not delete the sidecar
    while another tier's live delta still resolves through it."""
    t = datagen.transcripts_spark(spark, seed=13, n_turns_target=1500)
    pred = F.substring(F.md5("conv_id"), 1, 1) >= "c"
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t.where(~pred), d, tiers=("1m", "1h"),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(pred), d, tiers=("1m", "1h"),
                     n_waves=2, run_id="r1")
    run_flatten_pass(spark, d, "1m", table="chunks", run_id="f1", n_waves=2)
    run_flatten_pass(spark, d, "1m", table="rollup", run_id="f2", n_waves=2)
    before_1h = _chunk_points_tier(spark, d, "1h")
    m = run_vacuum_pass(spark, d, tiers=["1m"], keep_last=1, run_id="vx")
    assert m["tables"]["chunks"]["1m"]["commit"] == "published"
    # the r1 sidecar is still referenced by the live 1h deltas
    assert os.path.isdir(f"{d}/refresh/run=r1/convs")
    pd.testing.assert_frame_equal(
        _chunk_points_tier(spark, d, "1h"), before_1h, check_exact=True)


def _chunk_points_tier(spark, out_dir, tier):
    return (
        decode_tier_chunks(current_chunks(spark, out_dir, tier))
        .select("conv_id", "bucket_ts", "value")
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def test_flatten_resume_aborts_when_the_delta_chain_moved(spark, tmp_path):
    """A crashed flatten's waves captured the delta chain at its start; if
    a new refresh delta lands before the resume, publishing would drop it.
    The resume must abort loudly; a fresh run_id folds everything."""
    t = datagen.transcripts_spark(spark, seed=29, n_turns_target=1500)
    h = F.substring(F.md5("conv_id"), 1, 1)
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t.where(h < "c"), d, tiers=(TIER,),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(h.between("c", "e")), d, tiers=(TIER,),
                     n_waves=2, run_id="r1")
    # crash simulation: the flatten ran its waves but its commit was lost
    run_flatten_pass(spark, d, TIER, table="chunks", run_id="fx", n_waves=2)
    tableformat.remove_commits(os.path.join(d, "chunks"),
                               lambda r: r.get("run_id") == "fx")
    # a new delta lands before the operator resumes
    run_refresh_pass(spark, t.where(h >= "f"), d, tiers=(TIER,),
                     n_waves=2, run_id="r2")
    with pytest.raises(RuntimeError, match="delta chain changed"):
        run_flatten_pass(spark, d, TIER, table="chunks", run_id="fx",
                         n_waves=2)
    m = run_flatten_pass(spark, d, TIER, table="chunks", run_id="fy",
                         n_waves=2)
    assert m["n_deltas_folded"] == 2
    full = str(tmp_path / "full")
    run_retention_pipeline(spark, t, full, tiers=(TIER,), n_waves=2,
                           run_id="gt")
    pd.testing.assert_frame_equal(
        _chunk_points_tier(spark, d, TIER),
        _chunk_points_tier(spark, full, TIER), check_exact=True)


def test_vacuum_store_path_containing_gen_keeps_layout(spark, tmp_path):
    """The managed() classification must use the path RELATIVE to the
    store: an out_dir that itself contains 'gen=' must not make the
    pipeline layout dirs deletable."""
    t = datagen.transcripts_spark(spark, seed=31, n_turns_target=800)
    pred = F.substring(F.md5("conv_id"), 1, 1) >= "c"
    d = str(tmp_path / "gen=2026" / "store")
    run_retention_pipeline(spark, t.where(~pred), d, tiers=(TIER,),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(pred), d, tiers=(TIER,), n_waves=2,
                     run_id="r1")
    run_flatten_pass(spark, d, TIER, table="rollup", run_id="f1", n_waves=2)
    before = _rollup_rows(spark, d)
    run_vacuum_pass(spark, d, keep_last=1, run_id="vx")
    assert os.path.isdir(f"{d}/rollup/tier={TIER}")  # layout survives
    assert not os.path.isdir(f"{d}/rollup_refresh/tier={TIER}/gen=r1")
    pd.testing.assert_frame_equal(_rollup_rows(spark, d), before,
                                  check_exact=True)
    # ...and as_of anchored on the vacuum's own commit_id resolves to the
    # current state (metadata-only commits are valid anchors)
    fmt = tier_tables(spark, os.path.join(d, "rollup"))
    vac_commit = next(s["commit_id"] for s in fmt.snapshots()
                      if str(s.get("stage", "")).startswith("vacuum:"))
    got = (current_rollup(spark, d, TIER, as_of=vac_commit)
           .select("conv_id", "bucket_ts", "turn_cnt", "tok_len_sum")
           .toPandas().sort_values(["conv_id", "bucket_ts"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got, before, check_exact=True)


def test_flatten_midwave_resume_with_unchanged_chain_succeeds(spark, tmp_path):
    """The _folded.json guard must only abort when the delta chain MOVED;
    a legitimate crash-mid-write resume (same chain) rebuilds the missing
    wave and publishes — the standard waved-pass resume contract."""
    t = datagen.transcripts_spark(spark, seed=47, n_turns_target=1500)
    pred = F.substring(F.md5("conv_id"), 1, 1) >= "c"
    d = str(tmp_path / "s")
    run_retention_pipeline(spark, t.where(~pred), d, tiers=(TIER,),
                           n_waves=2, run_id="p0")
    run_refresh_pass(spark, t.where(pred), d, tiers=(TIER,), n_waves=2,
                     run_id="r1")
    want = _chunk_points(spark, d)
    run_flatten_pass(spark, d, TIER, table="chunks", run_id="fz", n_waves=2)

    # crash state: one wave dir gone, its lineage rows gone, commit gone —
    # but the manifest (written before the waves) survives
    gen = f"{d}/chunks_flat/tier={TIER}/gen=fz"
    shutil.rmtree(os.path.join(gen, "wave=0"))
    tableformat.remove_commits(os.path.join(d, "chunks"),
                               lambda r: r.get("run_id") == "fz")
    ck = spark.read.parquet(os.path.join(d, "ckpt"))
    kept = ck.where(f"NOT (run_id = 'fz' AND tier = 'flatten_chunks:{TIER}')")
    kept.write.mode("overwrite").parquet(os.path.join(d, "ckpt_tmp"))
    shutil.rmtree(os.path.join(d, "ckpt"))
    os.rename(os.path.join(d, "ckpt_tmp"), os.path.join(d, "ckpt"))
    assert os.path.exists(os.path.join(gen, "_folded.json"))

    m = run_flatten_pass(spark, d, TIER, table="chunks", run_id="fz",
                         n_waves=2)
    assert m["commit"] not in ("skipped", "noop")
    pd.testing.assert_frame_equal(_chunk_points(spark, d), want,
                                  check_exact=True)


def test_orphan_sweep_keeps_live_pass_pin(tmp_path):
    """ADVICE r7 #3: a pin older than orphan_min_age_sec must NOT be swept
    while its run_id's generation dirs are still being written (a pass
    outliving the age window) — deleting it would let a crash+resume
    re-capture the baseline and absorb concurrent commits."""
    import time as _time

    from spinterps_spark.plans.vacuum import _sweep_orphans

    out = str(tmp_path / "store")
    os.makedirs(os.path.join(out, "_pins"))
    pin = os.path.join(out, "_pins", "merge-run77.json")
    with open(pin, "w") as f:
        f.write("{}")
    old = _time.time() - 3600
    os.utime(pin, (old, old))

    # live pass: a young wave file under gen=run77
    gen = os.path.join(out, "rollup_merge", "tier=1m", "gen=run77")
    os.makedirs(gen)
    with open(os.path.join(gen, "wave=0.parquet"), "w") as f:
        f.write("x")

    res = _sweep_orphans(out, {"rollup": [], "chunks": []}, min_age_sec=600)
    assert os.path.exists(pin), "live pass's pin must survive the sweep"
    # the young gen dir is also kept by the age guard
    assert os.path.isdir(gen)

    # once every run artifact is old, the pin is a true orphan and goes
    os.utime(gen, (old, old))
    os.utime(os.path.join(gen, "wave=0.parquet"), (old, old))
    res = _sweep_orphans(out, {"rollup": [], "chunks": []}, min_age_sec=600)
    assert not os.path.exists(pin)
    assert res["n_removed"] >= 1


def test_orphan_sweep_keeps_live_evolve_pin(tmp_path):
    """A pin whose name carries a tier (`evolve-<tier>-<run_id>.json`) is
    live while its run's generation dir is young: the sweep must recover
    the run_id past the tier, not probe `gen=<tier>-<run_id>`."""
    import time as _time

    from spinterps_spark.plans.vacuum import _sweep_orphans

    out = str(tmp_path / "store")
    os.makedirs(os.path.join(out, "_pins"))
    pin = os.path.join(out, "_pins", "evolve-1m-run88.json")
    with open(pin, "w") as f:
        f.write("{}")
    old = _time.time() - 3600
    os.utime(pin, (old, old))
    gen = os.path.join(out, "chunks_evolve", "tier=1m", "gen=run88")
    os.makedirs(gen)
    with open(os.path.join(gen, "wave=0.parquet"), "w") as f:
        f.write("x")

    _sweep_orphans(out, {"rollup": [], "chunks": []}, min_age_sec=600)
    assert os.path.exists(pin), "live evolve pass's pin must survive"
    assert os.path.isdir(gen)
