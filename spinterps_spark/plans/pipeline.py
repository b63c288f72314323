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
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from spinterps_spark import TIERS
from spinterps_spark.compress.gorilla import (
    DEFAULT_CHUNK, FUSED_CHUNK, encode_tier_chunks)
from spinterps_spark.operators.gapfill import FILL_METHODS, gapfill_virtual_chunks
from spinterps_spark.operators.rollup import base_rollup, rollup_tier
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.sources.tableformat import tier_tables


def metric_set(fill_metric: str, extras) -> str:
    """A store's metric set as stamped in its commit rows (fill_metrics):
    the primary metric first, then the extra metric names sorted."""
    return json.dumps([fill_metric, *sorted(extras or {})])


def stamped_metrics(fmt) -> str | None:
    """The latest metric set stamped on a rollup log (pipeline run
    settings, merge commits, evolve's meta stamp); None when none is."""
    stamped = [s["fill_metrics"] for s in fmt.snapshots()
               if s.get("fill_metrics")]
    return stamped[-1] if stamped else None


def fused_fill_builder(fill_metric, fill_method, coords, vg_dim, drift,
                       drift_cols, fill_knobs, extras):
    """The one encoder from valid rollup rows to chunk rows, shared by the
    pipeline, refresh, merge and evolve — the refresh == full-rebuild
    bit-equality contract depends on those passes never drifting (a knob
    added to one and not the other breaks it silently). It validates the
    arguments, so call it before a pass reads or commits anything.

    Returns (project, chunker, chunk_size_max): project maps valid rollup
    rows to the metric series; chunker(tier, horizon) builds the per-wave
    transform; chunk_size_max is the encode-time points-per-chunk setting
    a commit stamps for routed-read pruning. horizon (epoch seconds; None
    or 0 for none) is the retention horizon no emitted point may precede:

    - filled stores pass it to the fused kernel as grid_min_ts, so refs
      before it still anchor the interpolation of the points after it;
    - no-fill stores (fill_method=None) hold only the refs: the rows are
      trimmed at the horizon and each metric is encoded directly.

    extras ({name: SQL expression over the rollup columns}) and
    fill_knobs may be None. With extras, every metric's chunks carry a
    `metric` column (primary = fill_metric); without, the single-metric
    chunk schema."""
    if (drift is None) != (not drift_cols):
        raise ValueError(
            "drift and drift_cols go together: a drift table without "
            "drift_cols would be silently ignored (EDK would fall back to "
            "the synthetic linear-time drift), and drift_cols without a "
            "table cannot be joined"
        )
    if fill_method is not None and fill_method not in FILL_METHODS:
        raise ValueError(
            f"fill_method must be one of {FILL_METHODS} or None (no fill), "
            f"got {fill_method!r}"
        )
    fill_knobs = dict(fill_knobs or {})
    extras = dict(extras or {})
    names = [fill_metric, *extras]

    def project(rolled_valid: DataFrame) -> DataFrame:
        return rolled_valid.select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias(fill_metric),
            *[F.expr(x).alias(n) for n, x in extras.items()],
        )

    def chunker(tier: str, horizon: int | None = None):
        hz = int(horizon) if horizon else None
        if fill_method is None:
            def chunk(sub):
                if hz is not None:
                    sub = sub.where(F.unix_timestamp("bucket_ts") >= F.lit(hz))
                frames = [
                    encode_tier_chunks(
                        sub.select("conv_id", "bucket_ts",
                                   F.col(n).alias("value_filled")), tier)
                    for n in names
                ]
                if not extras:
                    return frames[0]
                return reduce(DataFrame.unionByName, [
                    f.withColumn("metric", F.lit(n))
                    for f, n in zip(frames, names)])
            return chunk

        def chunk(sub):
            return gapfill_virtual_chunks(
                sub, fill_metric, method=fill_method, tier=tier,
                coords=coords, vg_dim=vg_dim,
                drift=drift, drift_cols=drift_cols,
                grid_min_ts=hz,
                extra_value_cols=list(extras) or None,
                chunk_buckets=fill_knobs.get("chunk_buckets", 3840),
                **{k: v for k, v in fill_knobs.items()
                   if k not in ("chunk_buckets", "pad_buckets")},
            )
        return chunk

    # the no-fill encode ignores the gorilla_chunk knob: stamping the knob
    # would under-size the pruning span and drop rows from routed reads
    # (code-review r7 #3)
    chunk_size_max = (DEFAULT_CHUNK if fill_method is None
                      else int(fill_knobs.get("gorilla_chunk", FUSED_CHUNK)))
    return project, chunker, chunk_size_max


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

    Every tier writes rollup/ and chunks/; the chunks come from
    fused_fill_builder: the one fused virtual-spine fill+encode pass, or
    a direct encode of the valid rows with fill_method=None.
    fuse_fill_and_chunks=False (the removed materialized-spine path)
    raises."""
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
    # NOTE r6: external drift now rides the fused virtual-spine path too —
    # gapfill_virtual_chunks chunk-assigns the drift table rows and the
    # kernel looks gap-point covariates up by exact bucket (bit-identical
    # to the materialized with_drift join; VERDICT r5 next-step #4).
    # Coverage contract (same as with_drift): the drift table must hold a
    # row for every spine bucket of every tier being filled — a cascade
    # over ("1m","1h") needs 1m-granular drift; missing buckets fail fast
    # with the kernel's NaN-drift ValueError, never a silent fallback.
    project, chunker, _ = fused_fill_builder(
        fill_metric, fill_method, coords, vg_dim, drift, drift_cols,
        fill_knobs, extra_fill_metrics,
    )
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
        fill_metrics=metric_set(fill_metric, extra_fill_metrics),
    )
    min_cnt = min_cnt or {}
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
