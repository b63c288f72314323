"""Retention: age fine-tier chunks out past a horizon (north-rule third leg).

Tier COEXISTENCE (1m/1h/1d all written) was already in place; this pass
completes the retention story: points older than a horizon are dropped from
the fine tier's Gorilla chunk table and remain readable only from the
coarser tiers — the classic downsample-then-expire layout of a time-series
store.

Spark-first mechanics (reference analog: the lock-serialized incremental
netCDF rewrite/restart unit, interp/steps.py:895-949, which lets a crashed
run keep completed work):

- the pass is COPY-ON-WRITE, like an Iceberg rewrite: surviving chunks are
  written to a NEW generation directory via the checkpointed wave machinery
  (plans/checkpoint.run_waved_pass — per-wave lineage rows, resumable after
  executor loss), then ONE metadata commit publishes the new generation in
  the chunk table's snapshot log (sources/tableformat.py). Readers that go
  through `read_tier_chunks` flip atomically at the commit; a crash before
  the commit leaves the previous generation fully readable.
- the keep/drop predicate needs NO decode: chunk windows are pure functions
  of the row. A chunk with key k = floor(first_ts / span) holds only points
  in [k*span, (k+1)*span), span = chunk_size * tier_seconds, and the
  encode-time chunk_size is stamped ON the row (compress/gorilla.
  CHUNK_SCHEMA), so `window_end <= horizon` proves every point in the chunk
  is strictly older than the horizon. Chunks STRADDLING the horizon are
  kept whole (standard TSDB behavior: retention resolution = one chunk
  window; no chunk is ever re-encoded).

100-TB scale: one columnar scan of the fine tier's chunk table (binary
payloads move, nothing is decoded), embarrassingly parallel, no shuffle
except the wave-partitioned write; the published commit is metadata-only.
At 1000 executors this is a pure IO-bound rewrite bounded by the retained
fraction.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from spinterps_spark import TIER_SECONDS
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.sources.tableformat import (
    pinned_tier_validator, release_pin, tier_tables)


def _window_end(tier: str):
    """Exclusive-ish upper bound of a chunk's time window, from row columns
    alone, using the SAME toward-zero division the encoder keys chunks
    with (encode_tier_chunks: (epoch/span).cast('long')). That keying
    makes the k=0 chunk span (-span, span) — mixed-sign — so a floor-based
    bound is NOT safe there (floor(first_ts/span) = -1 for a negative
    first_ts gives end 0, below the chunk's possible positive points);
    trunc gives end = span, a true upper bound. For wholly-negative chunks
    trunc is loose by at most one span — the safe direction, since
    retention's `window_end <= horizon` proof only needs an upper bound
    for every point in the chunk."""
    span = F.col("chunk_size").cast("long") * F.lit(TIER_SECONDS[tier])
    return ((F.col("first_ts") / span).cast("long") + 1) * span


def run_retention_pass(
    spark,
    out_dir: str,
    tier: str,
    horizon_ts: int,
    run_id: str | None = None,
    n_waves: int = 4,
    table_format=None,
) -> dict:
    """Drop every chunk of `chunks/tier=<tier>` whose whole window lies
    before `horizon_ts` (epoch seconds); publish the retained generation.

    Resumable at two levels, mirroring run_retention_pipeline:
    - snapshot-summary resume: same (run_id, stage) already committed ->
      whole pass skipped (zero jobs);
    - wave resume: a crash mid-rewrite re-runs only the waves whose
      lineage rows are missing.

    Returns a metrics dict (chunks/points kept and dropped, wall time,
    commit id or 'skipped').
    """
    run_id = run_id or new_run_id()
    t0 = time.time()
    stage = f"retention:{tier}"
    fmt = table_format or tier_tables(spark, os.path.join(out_dir, "chunks"))
    ckpt = CheckpointLog(spark, os.path.join(out_dir, "ckpt"))

    pin = os.path.join(out_dir, "_pins", f"retention-{tier}-{run_id}.json")
    if fmt.committed(run_id, stage):
        # a crash between the commit and release_pin strands the pin; the
        # committed re-run is the converge point (code-review r7 pass 2)
        release_pin(pin)
        return {"run_id": run_id, "tier": tier, "commit": "skipped",
                "wall_sec": time.time() - t0}

    # rewrite FROM the current merged view (not the original layout dir):
    # this folds any refresh deltas into the new generation and keeps the
    # generation chain monotone — a retention pass after a refresh must not
    # resurrect superseded conv versions, and one after a compaction must
    # not discard its clustering. The validator pins the tier history THIS
    # read is based on; the commit below revalidates it under the atomic
    # claim so a concurrently-published delta can never be silently folded
    # away (optimistic concurrency, sources/tableformat.py).
    # pinned (persisted) baseline: a crash + concurrent delta + same-
    # run_id resume must CONFLICT, not re-capture and silently fold the
    # delta away (code-review r7 #2)
    validate = pinned_tier_validator(pin, [(fmt, tier)])
    src = read_tier_chunks(spark, out_dir, tier)
    if "chunk_size" not in src.columns:
        raise ValueError(
            f"retention: chunk table for tier={tier} lacks the chunk_size "
            "column (pre-r6 encoder?) — window bounds cannot be derived"
        )
    keep_pred = _window_end(tier) > F.lit(int(horizon_ts))

    # lineage metrics for the commit row: how much is aged out (one
    # columnar aggregate over int columns, no binary movement)
    stats = src.select(
        F.count(F.lit(1)).alias("c_all"),
        F.sum("n").alias("p_all"),
        F.count(F.when(keep_pred, 1)).alias("c_keep"),
        F.sum(F.when(keep_pred, F.col("n"))).alias("p_keep"),
        # true per-row max over the source (a superset of what survives):
        # stamped into the commit so routed reads derive the pruning span
        # from metadata, not a per-read aggregate (ADVICE r6 #5)
        F.max("chunk_size").alias("cs_max"),
    ).first()

    # deterministic generation path: resume with the same run_id lands in
    # the same directory, so done waves are genuinely reusable
    gen_loc = os.path.join(out_dir, f"chunks_retained/tier={tier}/gen={run_id}")
    retained = run_waved_pass(
        spark, src.where(keep_pred), lambda sub: sub, gen_loc,
        ckpt, run_id, stage, n_waves=n_waves,
    )
    commit_id = fmt.commit_tier(
        tier, retained, gen_loc,
        {
            "run_id": run_id, "stage": stage,
            "horizon_ts": int(horizon_ts),
            "chunks_total": int(stats.c_all or 0),
            "chunks_kept": int(stats.c_keep or 0),
            "points_total": int(stats.p_all or 0),
            "points_kept": int(stats.p_keep or 0),
            "chunk_size_max": int(stats.cs_max or 0),
        },
        validate=validate,
    )
    release_pin(pin)
    return {
        "run_id": run_id, "tier": tier, "commit": commit_id,
        "chunks_total": int(stats.c_all or 0),
        "chunks_kept": int(stats.c_keep or 0),
        "points_total": int(stats.p_all or 0),
        "points_kept": int(stats.p_keep or 0),
        "wall_sec": time.time() - t0,
    }


def read_tier_chunks(spark, out_dir: str, tier: str):
    """Current chunk table for a tier: the latest published full generation
    (retention/compaction) plus any refresh deltas since it, resolved
    latest-wins per conv_id (plans/generations.py); the pipeline's original
    chunk directory when nothing was ever published. This is the reader the
    atomic commit flip protects."""
    from spinterps_spark.plans.generations import current_chunks

    df = current_chunks(spark, out_dir, tier)
    if df is None:
        raise FileNotFoundError(
            f"no chunk data for tier={tier} under {out_dir}"
        )
    return df
