"""Retention: age fine-tier chunks out past a horizon (north-rule third leg),
and `rewrite_generation`, the one copy-on-write generation rewrite behind
retention, compaction (plans/compaction.py) and flatten (plans/vacuum.py).

Tier COEXISTENCE (1m/1h/1d all written) was already in place; this pass
completes the retention story: points older than a horizon are dropped from
the fine tier's Gorilla chunk table and remain readable only from the
coarser tiers — the classic downsample-then-expire layout of a time-series
store.

Spark-first mechanics (reference analog: the lock-serialized incremental
netCDF rewrite/restart unit, interp/steps.py:895-949, which lets a crashed
run keep completed work):

- every generation rewrite is COPY-ON-WRITE, like an Iceberg rewrite: the
  tier's current merged view is rewritten under the pass's transform
  (keep-predicate here, range repack for compaction, identity for flatten)
  into a NEW `gen=<run_id>` directory via the checkpointed wave machinery
  (plans/checkpoint.run_waved_pass — per-wave lineage rows, resumable after
  executor loss), then ONE metadata commit publishes it in the table's
  snapshot log (sources/tableformat.py). Readers flip atomically at the
  commit; a crash before it leaves the previous generation fully readable,
  and a delta published meanwhile is never silently superseded (the CPiX
  rewrite contract — the pin is in the generation, see rewrite_generation).
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

import glob
import os
import time

from pyspark.sql import functions as F

from spinterps_spark import TIER_SECONDS
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.sources.tableformat import pinned_tier_validator, tier_tables


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


def _footer_chunk_size_max(gen_loc: str) -> int | None:
    """max(chunk_size) over a generation's `wave=*/*.parquet` files, from
    their footer min/max statistics (driver-side pyarrow, no Spark job).
    None when a file lacks the column (rollup tables) or a row group lacks
    the stats: nothing is stamped and tier_chunk_size_bound treats the
    bound as unknown."""
    import pyarrow.parquet as pq

    top = 0
    for path in glob.glob(os.path.join(gen_loc, "wave=*", "*.parquet")):
        md = pq.read_metadata(path)
        if "chunk_size" not in md.schema.names:
            return None
        j = md.schema.names.index("chunk_size")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(j).statistics
            if st is None or not st.has_min_max:
                return None
            top = max(top, int(st.max))
    return top


def rewrite_generation(spark, fmt, out_dir: str, tier: str, run_id: str,
                       stage: str, gen_loc: str, read_source, transform,
                       extra_props, *, n_waves: int, props: dict | None = None,
                       wave_stage: str | None = None) -> dict:
    """Publish `transform` of the tier's current view as its next FULL
    generation at `gen_loc` (one `gen=<run_id>` dir):

    1. (run_id, stage) already committed -> "skipped", zero jobs;
    2. pin the tier history at `<gen_loc>/_folded.json` (vacuum deletes it
       with the generation); on a same-run_id resume the pin is checked
       before any wave runs, so waves built from an older view never
       publish over a newer delta (CommitConflictError);
    3. `read_source()` -> the current merged view (not the layout dir:
       refresh deltas fold in, no superseded conv version resurrects and
       an earlier rewrite's clustering survives), read after the pin;
    4. run_waved_pass writes `transform(sub)`, lineage under `wave_stage`;
    5. chunk_size_max from the generation's parquet footers — it covers
       waves done before a resume and costs no Spark job;
    6. commit_tier under the pinned validator.

    `extra_props(src, gen)` returns commit properties the result also
    reports; `props` are commit-only. Returns {run_id, tier, commit,
    **extra_props, wall_sec}."""
    t0 = time.time()
    if fmt.committed(run_id, stage):
        return {"run_id": run_id, "tier": tier, "commit": "skipped",
                "wall_sec": time.time() - t0}
    pin = os.path.join(gen_loc, "_folded.json")
    resumed = os.path.exists(pin)
    validate = pinned_tier_validator(pin, [(fmt, tier)])
    if resumed:
        validate()
    src = read_source()
    gen = run_waved_pass(
        spark, src, transform, gen_loc,
        CheckpointLog(spark, os.path.join(out_dir, "ckpt")),
        run_id, wave_stage or stage, n_waves=n_waves,
    )
    extra = extra_props(src, gen)
    commit_props = {"run_id": run_id, "stage": stage, **(props or {}),
                    **extra}
    cs_max = _footer_chunk_size_max(gen_loc)
    if cs_max is not None:  # the routed reads' pruning span
        commit_props["chunk_size_max"] = cs_max
    commit_id = fmt.commit_tier(tier, gen, gen_loc, commit_props,
                                validate=validate)
    return {"run_id": run_id, "tier": tier, "commit": commit_id, **extra,
            "wall_sec": time.time() - t0}


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

    Resumable at two levels (rewrite_generation): same (run_id, stage)
    already committed -> whole pass skipped (zero jobs); a crash
    mid-rewrite re-runs only the waves whose lineage rows are missing.

    Returns a metrics dict (chunks/points kept and dropped, wall time,
    commit id or 'skipped').
    """
    run_id = run_id or new_run_id()
    keep = _window_end(tier) > F.lit(int(horizon_ts))

    def read():
        src = read_tier_chunks(spark, out_dir, tier)
        if "chunk_size" not in src.columns:
            raise ValueError(
                f"retention: chunk table for tier={tier} lacks the "
                "chunk_size column (pre-r6 encoder?) — window bounds cannot "
                "be derived"
            )
        return src

    def counts(src, _gen):
        # how much is aged out: one columnar aggregate over int columns,
        # no binary movement
        st = src.select(
            F.count(F.lit(1)).alias("chunks_total"),
            F.count(F.when(keep, 1)).alias("chunks_kept"),
            F.sum("n").alias("points_total"),
            F.sum(F.when(keep, F.col("n"))).alias("points_kept"),
        ).first()
        return {k: int(v or 0) for k, v in st.asDict().items()}

    return rewrite_generation(
        spark, table_format or tier_tables(spark, os.path.join(out_dir, "chunks")),
        out_dir, tier, run_id, f"retention:{tier}",
        os.path.join(out_dir, f"chunks_retained/tier={tier}/gen={run_id}"),
        read, lambda sub: sub.where(keep), counts,
        n_waves=n_waves, props={"horizon_ts": int(horizon_ts)},
    )


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
