"""Store metric evolution: add metric k+1 to an existing tier store
without a full rebuild.

The reference's cube grows one variable per interpolation method INSIDE the
same netCDF (interp/prepare.py:360-372 — `createVariable` per method on an
already-laid-out file); the engine analog is a store that shipped with k
fill metrics gaining metric k+1. Before this pass the only option was a
from-scratch rebuild: plans/refresh.py hard-raises on any metric-set
mismatch (correctly — latest-wins replaces ALL of a conv's metrics at once,
so a mismatched refresh would silently thin coverage).

Mechanics (Spark-first, all published through the optimistic-concurrency
snapshot protocol of sources/tableformat.py):

1. BACKFILL — for each tier, the new metric's chunks are computed from the
   tier's CURRENT merged rollup (the system of record, full history) with
   the SAME fused fill+encode kernel the pipeline/refresh use
   (plans/pipeline.fused_fill_builder): the kernel is driven by the
   PRIMARY metric's validity/grid — identical refs, grid, variogram and
   drift handling as a from-scratch (k+1)-metric rebuild — with the new
   metric riding as the only extra. Each metric is filled independently in
   that kernel (the shared pinv cache affects cost, not values), so the
   kept new-metric chunks are bit-identical to the rebuild's slice
   (tests/test_evolve.py proves equality); the recomputed primary chunks
   are dropped, not published.
2. PUBLISH — one ``evolve:<tier>`` commit per tier on the CHUNKS log: an
   ADDITIVE delta (plans/generations.py): later refresh deltas supersede
   its convs (they re-encode every metric), but it supersedes nothing.
   The commit stamps primary_metric (so merged reads can schema-align a
   previously single-metric base) and chunk_size_max (metadata-derived
   pruning span).
3. STAMP — one metadata-only ``meta:evolve:<tier>`` row per tier on the
   ROLLUP log carrying the EVOLVED fill_metrics set, so subsequent
   refreshes validate against (and must use) the evolved set.

Retention compliance: the backfill trims at each tier's committed horizon
exactly like refresh (grid_min_ts INSIDE the kernel — pre-horizon refs
still anchor the interpolation; aged-out grid points are never emitted).

Resumable like every pass: committed (run_id, evolve:<tier>) skips the
tier; a crash mid-write redoes only the missing waves. Concurrency-safe:
the commit revalidates BOTH logs' tier history under the atomic claim —
a refresh landing mid-backfill would make the new metric reflect stale
rollup state for its convs, so the publish raises CommitConflictError
instead.

100-TB scale: one scan of each tier's merged rollup + the fused kernel's
usual (conv, chunk)-bounded shuffle — the same shape as a pipeline fill
pass for ONE metric; no existing chunk file is read or rewritten (write
amplification = the new metric's own chunks, the minimum possible).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.plans.generations import current_rollup, tier_horizons
from spinterps_spark.plans.pipeline import (
    fused_fill_builder, metric_set, stamped_metrics)
from spinterps_spark.sources.tableformat import (
    pin_file, pinned_tier_validator, release_pin, tier_tables)


def run_evolve_pass(
    spark,
    out_dir: str,
    new_metrics: dict[str, str],
    tiers: tuple[str, ...] = ("1m", "1h"),
    fill_metric: str = "tok_len_mean",
    fill_method: str | None = "IDW",
    coords: DataFrame | None = None,
    vg_dim: DataFrame | None = None,
    drift: DataFrame | None = None,
    drift_cols: list[str] | None = None,
    fill_knobs: dict | None = None,
    extra_fill_metrics: dict[str, str] | None = None,
    n_waves: int = 2,
    run_id: str | None = None,
) -> dict:
    """Backfill `new_metrics` ({name: SQL expression over the rollup
    columns}) into an existing store at `out_dir` and stamp the evolved
    metric set.

    fill_metric / extra_fill_metrics / fill_method / coords / vg_dim /
    drift / fill_knobs must MATCH what the store was built with (validated
    against the stamped fill_metrics set, same contract as refresh); the
    new metric names must be disjoint from the existing set. The new
    metrics' chunks come from the pipeline's own encoder (plans/pipeline.
    fused_fill_builder), so fill_method=None (ADVICE r7 #4) encodes the
    merged valid rollup rows directly, trimmed at the horizon.

    Returns a metrics dict (per-tier chunks published, wall time).
    """
    if not new_metrics:
        raise ValueError("new_metrics is empty — nothing to evolve")
    # the encoder runs with the PRIMARY metric's gating and ONLY the new
    # metrics as extras: identical refs/grid/vg/drift to a from-scratch
    # (k+1)-metric rebuild, whose per-metric fills are independent
    project, chunker, chunk_size_max = fused_fill_builder(
        fill_metric, fill_method, coords, vg_dim, drift, drift_cols,
        fill_knobs, new_metrics,
    )
    run_id = run_id or new_run_id()
    t0 = time.time()
    existing = dict(extra_fill_metrics or {})
    overlap = set(new_metrics) & ({fill_metric} | set(existing))
    if overlap:
        raise ValueError(
            f"new_metrics {sorted(overlap)} already exist in the store's "
            "metric set — evolve only ADDS metrics"
        )
    ckpt = CheckpointLog(spark, os.path.join(out_dir, "ckpt"))
    rfmt = tier_tables(spark, os.path.join(out_dir, "rollup"))
    cfmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
    horizons = tier_horizons(spark, out_dir)

    # validate the caller's claim of the CURRENT set against the stamped
    # one (the same guard refresh applies — a wrong current set would make
    # the kernel's primary gating differ from the store's)
    mine = metric_set(fill_metric, existing)
    evolved = metric_set(fill_metric, {**existing, **new_metrics})
    stamped = stamped_metrics(rfmt)
    # a resumed/re-run evolve sees its OWN stamp as the latest — the
    # evolved set is as valid a starting state as the pre-evolve one
    if stamped is not None and stamped not in (mine, evolved):
        raise ValueError(
            f"evolve: current metric set {mine} does not match the store's "
            f"{stamped} — pass the same fill_metric/extra_fill_metrics "
            "the store was last built/evolved with"
        )

    new_names = list(new_metrics)

    metrics: dict = {"run_id": run_id, "tiers": {},
                     "fill_metrics": evolved}
    for tier in tiers:
        t_tier = time.time()
        stage = f"evolve:{tier}"
        pin = pin_file(out_dir, "evolve", run_id, tier)
        if cfmt.committed(run_id, stage):
            release_pin(pin)  # converge a crash between commit and release
            # crash window between the chunks commit and the settings
            # stamp: converge by (re)stamping on resume — idempotent
            if not rfmt.committed(run_id, f"meta:evolve:{tier}"):
                rfmt.commit_tier(
                    tier, None,
                    os.path.join(out_dir, f"rollup/tier={tier}"), {
                        "run_id": run_id, "stage": f"meta:evolve:{tier}",
                        "fill_metrics": evolved,
                    })
            metrics["tiers"][tier] = {
                "commit": "skipped", "wall_sec": time.time() - t_tier}
            continue
        # pin BOTH logs' tier history before reading: publishing after a
        # concurrent refresh would leave the new metric reflecting stale
        # rollup state for the refreshed convs. The baseline is PERSISTED
        # so a crash + concurrent commit + same-run_id resume conflicts
        # instead of re-capturing (code-review r7 #2)
        validate = pinned_tier_validator(pin, [(cfmt, tier), (rfmt, tier)])

        rolled = current_rollup(spark, out_dir, tier)
        if rolled is None:
            raise ValueError(
                f"evolve: no committed rollup for tier={tier} under "
                f"{out_dir} — run the pipeline first"
            )
        hz = horizons.get(tier)

        def make(sub, _fc=chunker(tier, hz)):
            # keep ONLY the new metrics' chunks: the primary's recomputed
            # chunks are bit-identical to what the store already holds —
            # publishing them would duplicate every point (Catalyst prunes
            # the no-fill encode of the primary under this filter)
            return _fc(sub).where(F.col("metric").isin(new_names))

        chunk_loc = os.path.join(
            out_dir, f"chunks_evolve/tier={tier}/gen={run_id}")
        chunks = run_waved_pass(
            spark, project(rolled.where(F.col("valid"))), make, chunk_loc,
            ckpt, run_id, f"evolve_chunks:{tier}", n_waves=n_waves,
        )
        n_chunks = chunks.count()
        cfmt.commit_tier(tier, chunks, chunk_loc, {
            "run_id": run_id, "stage": stage,
            "new_metrics": json.dumps(sorted(new_metrics)),
            "fill_metrics": evolved,
            "primary_metric": fill_metric,
            "n_chunks": n_chunks,
            "horizon_ts": int(hz) if hz is not None else 0,
            "chunk_size_max": chunk_size_max,
        }, validate=validate)
        # the settings stamp refresh validates against (rollup log)
        rfmt.commit_tier(tier, None,
                         os.path.join(out_dir, f"rollup/tier={tier}"), {
                             "run_id": run_id, "stage": f"meta:evolve:{tier}",
                             "fill_metrics": evolved,
                         })
        release_pin(pin)
        metrics["tiers"][tier] = {
            "commit": "published", "n_chunks": n_chunks,
            "wall_sec": time.time() - t_tier,
        }

    metrics["wall_sec"] = time.time() - t0
    return metrics
