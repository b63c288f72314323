"""End-to-end retention pipeline: the engine's flagship entry point.

transcripts -> 1m/1h/1d rollups -> virtual-spine gap-fill fused with the
Gorilla encode -> chunks, each tier pass checkpointed and resumable (plans/checkpoint.py).

This is the Spark translation of SpInterpMain.interpolate()
(SURVEY.md §3.1): the reference's `_interp_args` logical-plan list becomes
the `tiers`/`fill_method` arguments; its memory-planned mp.Pool chunking
becomes AQE + conversation-hash wave checkpoints; its lock-serialized
netCDF writes become per-wave parquet (Iceberg in production) commits.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

from spinterps_spark import TIERS
from spinterps_spark.operators.gapfill import gapfill_virtual_chunks
from spinterps_spark.operators.rollup import base_rollup, rollup_tier
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.sources.tableformat import tier_tables


def fused_fill_builder(fill_metric, fill_method, coords, vg_dim, drift,
                       drift_cols, fill_knobs, extras):
    """The valid-series projection and the fused fill+encode closure,
    shared VERBATIM by run_retention_pipeline and run_refresh_pass — the
    refresh == full-rebuild bit-equality contract depends on the two
    sites never drifting (a knob added to one and not the other breaks it
    silently). Returns (project, chunker): project maps valid rollup rows
    to the fill series; chunker(tier, grid_min_ts) builds the per-wave
    transform (grid_min_ts is the refresh pass's post-fill horizon trim,
    None for the pipeline)."""

    def project(rolled_valid: DataFrame) -> DataFrame:
        return rolled_valid.select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias(fill_metric),
            *[F.expr(x).alias(n) for n, x in extras.items()],
        )

    def chunker(tier: str, grid_min_ts: int | None = None):
        def chunk(sub):
            return gapfill_virtual_chunks(
                sub, fill_metric, method=fill_method, tier=tier,
                coords=coords, vg_dim=vg_dim,
                drift=drift, drift_cols=drift_cols,
                grid_min_ts=grid_min_ts,
                extra_value_cols=list(extras) or None,
                chunk_buckets=fill_knobs.get("chunk_buckets", 3840),
                **{k: v for k, v in fill_knobs.items()
                   if k not in ("chunk_buckets", "pad_buckets")},
            )
        return chunk

    return project, chunker


def run_retention_pipeline(
    spark,
    transcripts: DataFrame,
    out_dir: str,
    tiers: tuple[str, ...] = TIERS,
    fill_metric: str = "tok_len_mean",
    fill_method: str = "IDW",
    coords: DataFrame | None = None,
    vg_dim: DataFrame | None = None,
    n_salt: int = 16,
    n_waves: int = 4,
    run_id: str | None = None,
    min_cnt: dict | None = None,
    fill_knobs: dict | None = None,
    n_turns_hint: int | None = None,
    fuse_fill_and_chunks: bool = True,
    table_format=None,
    iceberg_table: str | None = None,
    drift: DataFrame | None = None,
    drift_cols: list[str] | None = None,
    extra_fill_metrics: dict[str, str] | None = None,
) -> dict:
    """Run (or resume) the full tier cascade. Returns a metrics dict.

    extra_fill_metrics: {metric_name: SQL expression over the rollup
    columns} — fill k metrics through the ONE fused pass (the chunk
    table gains a `metric` column; primary = fill_metric). k metrics cost
    one scan/shuffle/kernel, with the kriging solve shared across them
    (operators/gapfill.py gapfill_virtual_chunks extra_value_cols).

    Layout under out_dir:
        rollup/tier=<t>/wave=<k>/*.parquet   rolled-up buckets
        chunks/tier=<t>/wave=<k>/*.parquet   Gorilla chunk structs
        rollup/_snapshots.jsonl               tier commits + run settings
        ckpt/*.parquet                        lineage + metrics rows

    Every completed tier rollup is COMMITTED through the TableFormat seam
    (sources/tableformat.py): Iceberg partitioned (tier, days(bucket_ts))
    with run settings in the snapshot summary when the runtime is present,
    parquet + _snapshots.jsonl metadata commits otherwise. Resume first
    consults the snapshot log (whole-tier skip), then the wave checkpoints
    (partial-tier skip).

    Every tier writes rollup/ and chunks/ through the one fused
    virtual-spine fill+encode pass; fuse_fill_and_chunks=False (the
    removed materialized-spine path) raises."""
    # n_salt, fill_knobs["pad_buckets"] and fuse_fill_and_chunks=True are
    # accepted and ignored for the frozen callers bench.py and
    # perfbench/harness.py (queries.py passes n_salt to base_rollup, which
    # drops it too).
    if not fuse_fill_and_chunks:
        raise ValueError(
            "fuse_fill_and_chunks=False selected the materialized-spine "
            "fill path (a filled/ table), which was removed; the fused "
            "virtual-spine pass is the only fill path"
        )
    if (drift is None) != (not drift_cols):
        raise ValueError(
            "drift and drift_cols go together: a drift table without "
            "drift_cols would be silently ignored (EDK would fall back to "
            "the synthetic linear-time drift), and drift_cols without a "
            "table cannot be joined"
        )
    # NOTE r6: external drift now rides the fused virtual-spine path too —
    # gapfill_virtual_chunks chunk-assigns the drift table rows and the
    # kernel looks gap-point covariates up by exact bucket (bit-identical
    # to the materialized with_drift join; VERDICT r5 next-step #4).
    # Coverage contract (same as with_drift): the drift table must hold a
    # row for every spine bucket of every tier being filled — a cascade
    # over ("1m","1h") needs 1m-granular drift; missing buckets fail fast
    # with the kernel's NaN-drift ValueError, never a silent fallback.
    run_id = run_id or new_run_id()
    ckpt = CheckpointLog(spark, os.path.join(out_dir, "ckpt"))
    fmt = table_format or tier_tables(
        spark, os.path.join(out_dir, "rollup"), iceberg_table
    )
    run_props = dict(
        run_id=run_id, n_waves=n_waves,
        fill_method=fill_method, fill_metric=fill_metric,
        tiers=",".join(tiers),
        # the store's metric set travels with the data (settings-as-
        # attributes rule): refresh validates its own metric set against
        # this, because latest-wins replaces ALL of a refreshed conv's
        # metrics at once — a mismatched refresh would silently thin
        # per-conv metric coverage
        fill_metrics=json.dumps(
            [fill_metric, *sorted(extra_fill_metrics or {})]),
    )
    min_cnt = min_cnt or {}
    project, chunker = fused_fill_builder(
        fill_metric, fill_method, coords, vg_dim, drift, drift_cols,
        fill_knobs or {}, dict(extra_fill_metrics or {}),
    )
    t_start = time.time()
    metrics = {"run_id": run_id, "tiers": {}}

    # avoid a dedicated count scan when the caller already knows the volume
    n_turns = n_turns_hint if n_turns_hint is not None else transcripts.count()
    metrics["n_turns"] = n_turns

    lower: DataFrame | None = None
    for tier in tiers:
        t0 = time.time()
        if lower is None:
            def make(sub, _tier=tier):
                return base_rollup(sub, _tier, min_cnt=min_cnt.get(_tier))
            src = transcripts
        else:
            def make(sub, _tier=tier):
                return rollup_tier(sub, _tier, min_cnt=min_cnt.get(_tier))
            src = lower

        stage = f"rollup:{tier}"
        tier_loc = os.path.join(out_dir, f"rollup/tier={tier}")
        if fmt.committed(run_id, stage):
            # snapshot-summary resume: the whole tier was published
            rolled = spark.read.parquet(os.path.join(tier_loc, "wave=*"))
        else:
            rolled = run_waved_pass(
                spark, src, make, tier_loc,
                ckpt, run_id, stage, n_waves=n_waves,
            )
            fmt.commit_tier(tier, rolled, tier_loc,
                            {**run_props, "stage": stage})

        # one grouped pass over the VIRTUAL spine: gap grid points are
        # generated inside the kernel from conversation bounds, so the
        # ~30x NULL-row spine inflation never hits the shuffle or the
        # Arrow boundary; output is the Gorilla chunk table directly.
        run_waved_pass(
            spark, project(rolled.where(F.col("valid"))), chunker(tier),
            os.path.join(out_dir, f"chunks/tier={tier}"),
            ckpt, run_id, f"chunks:{tier}", n_waves=n_waves,
        )

        metrics["tiers"][tier] = {"wall_sec": time.time() - t0}
        lower = rolled

    metrics["wall_sec"] = time.time() - t_start
    metrics["points_per_sec"] = n_turns / metrics["wall_sec"]
    return metrics
