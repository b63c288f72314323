"""Model-based lifecycle fuzz: random interleavings of the maintenance
passes must never change what a reader sees.

The model is deliberately exact: refresh is the ONLY content-changing op
(it advances the store to the next ground-truth prefix union); compaction,
flatten (either table) and vacuum are content-preserving by contract. So
after EVERY op the decoded current view must equal the full-pipeline
recompute over exactly the turn slices ingested so far — bit-for-bit.
The first test keeps retention out (pure content preservation); the
second adds retention at monotone horizons with the exact per-conv
model: window rule at the max horizon for unrefreshed conversations,
exact trim at the refresh-time horizon composed with later window rules
for refreshed ones — the composition where code review r6 found the
anchored-fill data loss.

This is the interaction net the targeted tests can't weave: refresh on a
vacuumed store, compaction of a flattened generation, vacuum between two
refreshes, double flatten — whatever the seed draws.
"""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import FUSED_CHUNK, decode_tier_chunks
from spinterps_spark.plans.compaction import run_compaction_pass
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.retention import read_tier_chunks, run_retention_pass
from spinterps_spark.plans.vacuum import run_flatten_pass, run_vacuum_pass

TIER = "1m"
# the metric the fuzz's evolve op adds (schema evolution mid-life —
# VERDICT r7 next-step #3: evolve interleaved with refresh/flatten/vacuum
# is exactly the composition the pin machinery protects)
MX = {"turn_rate": "CAST(turn_cnt AS DOUBLE)"}


def _pts(spark, d):
    df = decode_tier_chunks(read_tier_chunks(spark, d, TIER))
    cols = ["conv_id", "bucket_ts", "value"] + (
        ["metric"] if "metric" in df.columns else [])
    keys = [c for c in ("conv_id", "metric", "bucket_ts") if c in cols]
    return (df.select(*cols).toPandas()
            .sort_values(keys).reset_index(drop=True))


@pytest.mark.parametrize("seed", [101, 202])
def test_random_maintenance_interleavings_preserve_the_view(
    spark, tmp_path, seed
):
    rng = random.Random(seed)
    t = datagen.transcripts_spark(spark, seed=17, n_turns_target=1800)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    preds = [(h >= "c") & (e >= cut), h.between("8", "b") & (e >= cut)]
    rest = t.where(~(preds[0] | preds[1]))
    unions = [rest]
    for p in preds:
        unions.append(unions[-1].unionByName(t.where(p)))

    # ground truths: one full pipeline per ingestion prefix
    gt_pts = []
    for i, src in enumerate(unions):
        gdir = str(tmp_path / f"gt{i}")
        run_retention_pipeline(spark, src, gdir, tiers=(TIER,), n_waves=2,
                               run_id="gt")
        gt_pts.append(_pts(spark, gdir))

    # each ingestion slice ALSO exists as a standalone store, so the fuzz
    # can draw either ingestion mechanism: refresh (a turn delta) or
    # cross-store merge (plans/merge.py — the store migrates to a new
    # location mid-life and every later op runs on the merged store)
    from spinterps_spark.plans.merge import run_merge_pass

    slice_stores = []
    for i, p in enumerate(preds):
        sdir = str(tmp_path / f"slice{i}")
        run_retention_pipeline(spark, t.where(p), sdir, tiers=(TIER,),
                               n_waves=2, run_id="gt")
        slice_stores.append(sdir)

    d = str(tmp_path / "store")
    run_retention_pipeline(spark, rest, d, tiers=(TIER,), n_waves=2,
                           run_id="boot")
    from spinterps_spark.plans.evolve import run_evolve_pass

    # lazily-built evolved ground truths (one full pipeline with
    # extras=MX per ingestion prefix, only for prefixes actually reached
    # after the evolve op fires)
    gt_ev_pts: dict[int, pd.DataFrame] = {}

    def gt_evolved(i):
        if i not in gt_ev_pts:
            gdir = str(tmp_path / f"gtev{i}")
            run_retention_pipeline(
                spark, unions[i], gdir, tiers=(TIER,), n_waves=2, run_id="gt",
                extra_fill_metrics=MX)
            gt_ev_pts[i] = _pts(spark, gdir)
        return gt_ev_pts[i]

    evolved = False
    ingested, step, trace = 0, 0, []
    ops = ["refresh", "compact", "flatten_rollup", "flatten_chunks",
           "vacuum", "merge_ingest", "evolve"]
    while step < 9:
        op = rng.choice(ops)
        if op == "evolve" and evolved:
            continue
        if step == 3 and not evolved:
            op = "evolve"  # guarantee the schema-evolution interleaving
        if op == "evolve":
            run_evolve_pass(spark, d, new_metrics=MX, tiers=(TIER,),
                            n_waves=2, run_id=f"ev{step}")
            evolved = True
        elif op == "refresh":
            if ingested >= len(preds):
                continue
            run_refresh_pass(spark, t.where(preds[ingested]), d,
                             tiers=(TIER,), n_waves=2, run_id=f"r{step}",
                             extra_fill_metrics=MX if evolved else None)
            ingested += 1
        elif op == "merge_ingest":
            if ingested >= len(preds) or evolved:
                # an evolved store only merges with evolved sources (the
                # stamped-metric-set contract); the slice stores are not —
                # mirror the documented "evolve the sources first" rule
                continue
            nd = str(tmp_path / f"store_m{step}")
            run_merge_pass(spark, [d, slice_stores[ingested]], nd,
                           tiers=(TIER,), n_waves=2, run_id=f"m{step}")
            d = nd  # the store migrated; all later ops hit the merge
            ingested += 1
        elif op == "compact":
            run_compaction_pass(spark, d, TIER, target_file_mb=1,
                                run_id=f"c{step}")
        elif op == "flatten_rollup":
            run_flatten_pass(spark, d, TIER, table="rollup",
                             run_id=f"fr{step}", n_waves=2)
        elif op == "flatten_chunks":
            run_flatten_pass(spark, d, TIER, table="chunks",
                             run_id=f"fc{step}", n_waves=2)
        else:
            run_vacuum_pass(spark, d, keep_last=rng.choice((1, 2)),
                            run_id=f"v{step}")
        trace.append(op)
        step += 1
        want = gt_evolved(ingested) if evolved else gt_pts[ingested]
        pd.testing.assert_frame_equal(
            _pts(spark, d), want, check_exact=True,
            obj=f"after {trace}",
        )
    assert "evolve" in trace


def test_random_interleavings_with_retention_horizons(spark, tmp_path):
    """Fuzz the refresh x retention composition — where code review found
    the anchored-fill data loss. Ops: refresh (IDW fill), retention at
    MONOTONE horizons, compaction, chunk flatten, vacuum. The model is
    exact per conversation:

      - never refreshed after the last retention wave it predates: the
        chunk-window rule at the max horizon H (whole straddling chunks
        survive): (epoch // span + 1) * span > H;
      - refreshed while horizon hz_r was committed: exact trim at hz_r
        (the re-encode emits no grid point below it) composed with the
        window rule of any LATER horizon.

    Expected values come from the full-fill pipeline over the ingested
    slices — anchored fill means a refreshed conversation's values equal
    the full rebuild's at every surviving bucket."""
    rng = random.Random(404)
    t = datagen.transcripts_spark(spark, seed=19, n_turns_target=1800)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    preds = [(h >= "c") & (e >= cut), h.between("8", "b") & (e >= cut)]
    rest = t.where(~(preds[0] | preds[1]))
    slices = [t.where(p) for p in preds]
    slice_convs = [
        {r[0] for r in s.select("conv_id").distinct().collect()}
        for s in slices
    ]
    unions = [rest]
    for s in slices:
        unions.append(unions[-1].unionByName(s))

    gt_pts = []
    for i, src in enumerate(unions):
        gdir = str(tmp_path / f"gt{i}")
        run_retention_pipeline(spark, src, gdir, tiers=(TIER,), n_waves=2,
                               fill_method="IDW", run_id="gt")
        gt_pts.append(_pts(spark, gdir))

    d = str(tmp_path / "store")
    run_retention_pipeline(spark, rest, d, tiers=(TIER,), n_waves=2,
                           fill_method="IDW", run_id="boot")

    span = FUSED_CHUNK * 60  # fused chunk length x 1m tier seconds
    # monotone horizon ladder inside the data range, bucket-aligned
    ladder = [((bounds.mn + (bounds.mx - bounds.mn) * q // 100) // 60) * 60
              for q in (25, 40, 55)]
    from spinterps_spark.plans.evolve import run_evolve_pass

    gt_ev_pts: dict[int, pd.DataFrame] = {}

    def gt_evolved(i):
        if i not in gt_ev_pts:
            gdir = str(tmp_path / f"gtev{i}")
            run_retention_pipeline(
                spark, unions[i], gdir, tiers=(TIER,), n_waves=2,
                fill_method="IDW", run_id="gt", extra_fill_metrics=MX)
            gt_ev_pts[i] = _pts(spark, gdir)
        return gt_ev_pts[i]

    hz_committed = None
    refresh_hz: dict[str, int | None] = {}
    # evolve model: the new metric is backfilled with an EXACT trim at the
    # horizon committed at evolve time (ev_default); a conv refreshed
    # after the evolve re-encodes both metrics at the refresh-time horizon
    evolved = False
    ev_default: int | None = None
    hz_m: dict[str, int | None] = {}
    ingested, step, trace = 0, 0, []
    ops = ["refresh", "retain", "compact", "flatten_chunks", "vacuum",
           "evolve"]
    while step < 10:
        op = rng.choice(ops)
        if op == "evolve" and evolved:
            continue
        if step == 4 and not evolved:
            op = "evolve"  # guarantee the evolve x retention interleaving
        if op == "evolve":
            run_evolve_pass(spark, d, new_metrics=MX, tiers=(TIER,),
                            n_waves=2, run_id=f"ev{step}")
            evolved = True
            ev_default = hz_committed
            hz_m = {}
        elif op == "refresh":
            if ingested >= len(slices):
                continue
            run_refresh_pass(spark, slices[ingested], d, tiers=(TIER,),
                             n_waves=2, fill_method="IDW", run_id=f"r{step}",
                             extra_fill_metrics=MX if evolved else None)
            for c in slice_convs[ingested]:
                refresh_hz[c] = hz_committed
                if evolved:
                    hz_m[c] = hz_committed
            ingested += 1
        elif op == "retain":
            if not ladder:
                continue
            hz_committed = ladder.pop(0)
            run_retention_pass(spark, d, TIER, hz_committed,
                               run_id=f"ret{step}", n_waves=2)
        elif op == "compact":
            run_compaction_pass(spark, d, TIER, target_file_mb=1,
                                run_id=f"c{step}")
        elif op == "flatten_chunks":
            run_flatten_pass(spark, d, TIER, table="chunks",
                             run_id=f"f{step}", n_waves=2)
        else:
            run_vacuum_pass(spark, d, keep_last=1, run_id=f"v{step}")
        trace.append(op)
        step += 1

        want = (gt_evolved(ingested) if evolved else gt_pts[ingested]).copy()
        ep = (pd.to_datetime(want["bucket_ts"]).astype("int64") // 10**9)
        keep = pd.Series(True, index=want.index)
        H = hz_committed
        if H is not None:
            keep &= (ep // span + 1) * span > H
        for conv, hz_r in refresh_hz.items():
            mask = want["conv_id"] == conv
            if hz_r is not None:
                # per-conv trims compose with the global window rule
                keep &= ~mask | (ep >= hz_r)
        if evolved:
            # the evolved metric's rows: exact trim at the horizon in
            # effect when that conv's metric was last (re-)encoded —
            # refresh-time horizon when refreshed after the evolve, the
            # evolve-time horizon otherwise — composed with the window
            # rule (already applied above)
            is_m = want["metric"] == next(iter(MX))
            for conv in want.loc[is_m, "conv_id"].unique():
                hz = hz_m.get(conv, ev_default)
                if hz is not None:
                    mask = is_m & (want["conv_id"] == conv)
                    keep &= ~mask | (ep >= hz)
        want = want[keep].reset_index(drop=True)
        pd.testing.assert_frame_equal(
            _pts(spark, d), want, check_exact=True, obj=f"after {trace}",
        )
    assert "evolve" in trace


def test_concurrent_refreshes_and_flatten_lose_nothing(spark, tmp_path):
    """r7 concurrent interleaving mode (VERDICT r6 top item 'done'
    criterion): two refreshes over DISJOINT conv sets and a flatten run
    CONCURRENTLY against one store. The optimistic commit protocol must
    guarantee: every refresh delta is published exactly once (disjoint
    convs make the outcome order-independent), and the flatten either
    folds a consistent chain or raises CommitConflictError / aborts on
    the moved chain — never a silently partial fold. Afterwards the view
    equals the full rebuild over everything ingested."""
    import threading

    from spinterps_spark.sources.tableformat import CommitConflictError

    t = datagen.transcripts_spark(spark, seed=23, n_turns_target=1800)
    bounds = t.agg(F.min(F.unix_timestamp("ts")).alias("mn"),
                   F.max(F.unix_timestamp("ts")).alias("mx")).first()
    cut = ((bounds.mn + (bounds.mx - bounds.mn) // 2) // 3600) * 3600
    h = F.substring(F.md5("conv_id"), 1, 1)
    e = F.unix_timestamp("ts")
    p1 = (h >= "c") & (e >= cut)          # conv set A
    p2 = h.between("8", "b") & (e >= cut)  # conv set B, disjoint from A
    rest = t.where(~(p1 | p2))

    gdir = str(tmp_path / "gt")
    run_retention_pipeline(spark, t, gdir, tiers=(TIER,), n_waves=2,
                           run_id="gt")
    want = _pts(spark, gdir)

    d = str(tmp_path / "store")
    run_retention_pipeline(spark, rest, d, tiers=(TIER,), n_waves=2,
                           run_id="boot")

    errs = []
    flatten_outcomes = []

    def w_refresh(pred, rid):
        try:
            run_refresh_pass(spark, t.where(pred), d, tiers=(TIER,),
                             n_waves=2, run_id=rid)
        except Exception as ex:  # pragma: no cover - failure reporting
            errs.append(ex)

    def w_flatten():
        # retry-with-fresh-run_id on conflict: the documented operator
        # response to CommitConflictError / a moved delta chain
        for k in range(6):
            try:
                m = run_flatten_pass(spark, d, TIER, table="chunks",
                                     run_id=f"fz{k}", n_waves=2)
                flatten_outcomes.append(m["commit"])
                return
            except CommitConflictError:
                flatten_outcomes.append("conflict")
                continue
            except RuntimeError as ex:
                if "delta chain changed" in str(ex):
                    flatten_outcomes.append("moved")
                    continue
                errs.append(ex)
                return
        flatten_outcomes.append("gave-up")

    threads = [
        threading.Thread(target=w_refresh, args=(p1, "ra")),
        threading.Thread(target=w_refresh, args=(p2, "rb")),
        threading.Thread(target=w_flatten),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
        assert not th.is_alive(), "concurrent pass hung"
    assert not errs, errs

    got = _pts(spark, d)
    pd.testing.assert_frame_equal(got, want, check_exact=True,
                                  obj=f"flatten={flatten_outcomes}")
    # both deltas really were published through the race
    from spinterps_spark.sources.tableformat import tier_tables

    runs = {s.get("run_id") for s in tier_tables(
        spark, f"{d}/chunks").snapshots()}
    assert {"ra", "rb"} <= runs
