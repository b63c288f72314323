"""Incremental continuous-aggregate refresh: merge a turn-delta into the
tier cascade, recomputing ONLY the conversations it touched.

The batch pipeline (plans/pipeline.py) recomputes every tier from
scratch. This pass is the TimescaleDB-style
`refresh_continuous_aggregate`: a batch of late/new turns arrives, and
instead of re-running the pipeline the engine

1. re-aggregates just the affected conversations' rollup rows by MERGING
   partial aggregates — every tier metric is an exact-compose sum/count
   (operators/rollup.py docstring), so `old rows (affected convs) UNION
   delta partials -> re-sum` is bit-identical to a from-scratch rollup of
   the union of all turns, at the cost of the DELTA, not the history;
2. re-fills and re-encodes those conversations' Gorilla chunks (gap fill is
   conversation-local — reference: one interpolation unit per time step
   group, interp/steps.py — so a conv-scoped refill equals the full run);
3. publishes both as REFRESH DELTAS in the snapshot log, read back
   latest-wins per conv_id (plans/generations.py). No base file is
   rewritten: write amplification = O(affected convs), and the next
   retention/compaction pass flattens the delta chain.

Refresh composes with retention: chunks are re-encoded only for buckets at
or after the tier's committed retention horizon (plans/generations.
tier_horizons), so a refresh never resurrects aged-out points — while the
rollup table (the system of record, never retained) keeps full history.

Resumable exactly like the other passes: same (run_id, stage) committed ->
skipped; a crash mid-write redoes only the missing waves (per-wave lineage
rows via plans/checkpoint.run_waved_pass).

A delta must hold NEW turns: merging a turn twice counts it twice, and no
pass dedups. Redelivery is absorbed by the run_id instead: `stream_refresh`
(below) runs this pass per micro-batch with the checkpointed batch_id as
the run_id, so a redelivered batch finds its commits and is skipped.

100-TB scale: one scan of the delta + a broadcast-semi-joined scan of the
affected convs' rollup rows; the fill/encode fan-out is bounded by the
affected-conv count. A day's late data against a year's history touches
~1/365th of the table and none of the chunk store's base files.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F

from spinterps_spark.datagen import TRANSCRIPT_SCHEMA
from spinterps_spark.operators.rollup import (
    DEFAULT_MIN_CNT, METRIC_COLS, base_rollup, rollup_tier)
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.plans.generations import current_rollup, tier_horizons
from spinterps_spark.plans.pipeline import (
    fused_fill_builder, metric_set, stamped_metrics)
from spinterps_spark.sources.tableformat import tier_tables


def merge_rollup(old_rows: DataFrame, delta_rows: DataFrame, min_cnt: int) -> DataFrame:
    """Merge two partial base-tier rollups of DISJOINT turn sets.

    Exact because every metric column is a sum/count (a bucket present in
    both sides re-sums; present in one passes through), and validity is a
    pure function of the merged turn_cnt. NOT valid for coarser tiers,
    whose validity counts valid lower buckets — the cascade recomputes
    those from the merged finer tier instead (rollup_tier)."""
    cols = ["conv_id", "bucket_ts", *METRIC_COLS]
    merged = (
        old_rows.select(*cols)
        .unionByName(delta_rows.select(*cols))
        .groupBy("conv_id", "bucket_ts")
        .agg(*[F.sum(c).alias(c) for c in METRIC_COLS])
    )
    return merged.withColumn("valid", F.col("turn_cnt") >= F.lit(min_cnt))


def run_refresh_pass(
    spark,
    new_turns: DataFrame,
    out_dir: str,
    tiers: tuple[str, ...] = ("1m", "1h"),
    fill_metric: str = "tok_len_mean",
    fill_method: str | None = "IDW",
    coords: DataFrame | None = None,
    vg_dim: DataFrame | None = None,
    min_cnt: dict | None = None,
    n_waves: int = 2,
    run_id: str | None = None,
    fill_knobs: dict | None = None,
    drift: DataFrame | None = None,
    drift_cols: list[str] | None = None,
    extra_fill_metrics: dict[str, str] | None = None,
) -> dict:
    """Merge `new_turns` into an existing tier store at `out_dir`.

    extra_fill_metrics must MATCH the store's stamped metric set (what
    the pipeline wrote, or the last evolve added): a refresh delta's
    chunk schema has to union with the base generation's, and the
    re-encoded conversations replace ALL their metrics at once
    (latest-wins is per conv_id).

    `tiers` must be the store's cascade order (finest first, as the
    pipeline wrote it). The affected conversations' chunks are re-encoded
    by the pipeline's own encoder (plans/pipeline.fused_fill_builder):
    re-filled with the same conv-local kernel for a filled store, or
    encoded directly from the merged valid rows with fill_method=None
    (stores written without gap fill). That makes refresh-then-read
    bit-identical to a full rebuild over the union of all turns
    (tests/test_refresh.py). Arguments and the metric set are validated
    before anything is committed.

    Returns a metrics dict: affected conv count, per-tier rows merged and
    chunks published, wall time.
    """
    project, chunker, chunk_size_max = fused_fill_builder(
        fill_metric, fill_method, coords, vg_dim, drift, drift_cols,
        fill_knobs, extra_fill_metrics,
    )
    run_id = run_id or new_run_id()
    t0 = time.time()
    min_cnt = min_cnt or {}
    ckpt = CheckpointLog(spark, os.path.join(out_dir, "ckpt"))
    rfmt = tier_tables(spark, os.path.join(out_dir, "rollup"))
    cfmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
    horizons = tier_horizons(spark, out_dir)

    # validate this refresh's metric set against what the pipeline stamped
    # into its commit rows (settings-as-attributes): latest-wins replaces
    # ALL of a refreshed conv's metrics at once, so a mismatched set would
    # silently thin per-conv metric coverage with no failure anywhere
    mine = metric_set(fill_metric, extra_fill_metrics)
    stamped = stamped_metrics(rfmt)
    if stamped is not None and stamped != mine:
        raise ValueError(
            f"refresh metric set {mine} does not match the store's "
            f"{stamped} — pass the same fill_metric/extra_fill_metrics "
            "the pipeline used"
        )

    # the affected-conv list is PART of the published metadata: readers
    # resolve latest-wins with it (generations.read_current), so it lives
    # next to the delta under a run-keyed path and is written once.
    convs_loc = os.path.join(out_dir, f"refresh/run={run_id}/convs")
    convs = new_turns.select("conv_id").distinct()
    # resume on evidence of a COMPLETED write, not bare directory
    # existence: a crashed partial write leaves the dir behind, and
    # reusing it would either fail every retry or (committer v2) serve an
    # incomplete conv list — which read_current's anti join would turn
    # into duplicate conv versions. mode('overwrite') replaces any
    # partial remnant. Marker-less committers (marksuccessfuljobs=false)
    # count as complete when part files exist with no in-flight
    # _temporary dir — never rewriting a published list a concurrent
    # reader may be resolving against.
    def _complete(p):
        if os.path.exists(os.path.join(p, "_SUCCESS")):
            return True
        return (
            os.path.isdir(p)
            and not os.path.isdir(os.path.join(p, "_temporary"))
            and any(f.startswith("part-") for f in os.listdir(p))
        )

    if _complete(convs_loc):
        convs = spark.read.parquet(convs_loc)
        n_convs = convs.count()
    else:
        # count BEFORE writing the sidecar: an empty late-data batch must
        # not grow the delta chain (every published delta adds an anti join
        # to every future read), and its convs dir — referenced by no
        # commit, hence invisible to vacuum's refcounting — would leak
        # forever (ADVICE r6 #2)
        n_convs = convs.count()
        if n_convs:
            convs.write.mode("overwrite").parquet(convs_loc)
            convs = spark.read.parquet(convs_loc)
    if n_convs == 0:
        return {"run_id": run_id, "n_affected_convs": 0, "tiers": {},
                "wall_sec": time.time() - t0}

    metrics: dict = {"run_id": run_id, "n_affected_convs": n_convs, "tiers": {}}
    lower_merged: DataFrame | None = None
    for tier in tiers:
        t_tier = time.time()
        mc = min_cnt.get(tier, DEFAULT_MIN_CNT[tier])
        stage = f"refresh:{tier}"
        roll_loc = os.path.join(out_dir, f"rollup_refresh/tier={tier}/gen={run_id}")
        chunk_loc = os.path.join(out_dir, f"chunks_refresh/tier={tier}/gen={run_id}")

        if rfmt.committed(run_id, stage):
            merged = spark.read.parquet(os.path.join(roll_loc, "wave=*"))
        else:
            if lower_merged is None:
                # base tier: merge partial aggregates — history cost is the
                # affected convs' EXISTING rollup rows, not their raw turns
                old = current_rollup(spark, out_dir, tier)
                if old is None:
                    raise ValueError(
                        f"refresh: no committed rollup for tier={tier} under "
                        f"{out_dir} — run the pipeline first"
                    )
                old_aff = old.join(F.broadcast(convs), "conv_id", "semi")
                delta = base_rollup(new_turns, tier, min_cnt=mc)

                def make(sub, _old=old_aff, _mc=mc):
                    # waves split by conv hash; the merge groups by conv, so
                    # per-wave merge(old_wave, delta_wave) == global merge
                    return merge_rollup(
                        _old.join(
                            F.broadcast(sub.select("conv_id").distinct()),
                            "conv_id", "semi",
                        ),
                        sub, _mc,
                    )

                merged = run_waved_pass(
                    spark, delta, make, roll_loc, ckpt, run_id,
                    f"refresh_rollup:{tier}", n_waves=n_waves,
                )
            else:
                # coarser tiers recompute from the merged finer tier
                # (validity counts valid lower buckets — not mergeable)
                def make(sub, _tier=tier, _mc=mc):
                    return rollup_tier(sub, _tier, min_cnt=_mc)

                merged = run_waved_pass(
                    spark, lower_merged, make, roll_loc, ckpt, run_id,
                    f"refresh_rollup:{tier}", n_waves=n_waves,
                )
            rfmt.commit_tier(tier, merged, roll_loc, {
                "run_id": run_id, "stage": stage,
                "convs_location": convs_loc, "n_affected_convs": n_convs,
            })

        if not cfmt.committed(run_id, stage):
            # never resurrect aged-out points: the chunker trims at the
            # horizon (after the fill for a filled store, so pre-horizon
            # refs keep anchoring it — code-review r6 finding #1)
            hz = horizons.get(tier)
            chunks = run_waved_pass(
                spark, project(merged.where(F.col("valid"))),
                chunker(tier, hz), chunk_loc, ckpt, run_id,
                f"refresh_chunks:{tier}", n_waves=n_waves,
            )
            cfmt.commit_tier(tier, chunks, chunk_loc, {
                "run_id": run_id, "stage": stage,
                "convs_location": convs_loc, "n_affected_convs": n_convs,
                "horizon_ts": int(hz) if hz is not None else 0,
                # encode-time bound for THIS delta's rows (the exact setting
                # stamped into every row): lets routed reads derive the
                # pruning span from commit metadata instead of an eager
                # max(chunk_size) scan per leg (ADVICE r6 #5)
                "chunk_size_max": chunk_size_max,
            })
            metrics["tiers"][tier] = {
                "commit": "published", "wall_sec": time.time() - t_tier,
            }
        else:
            metrics["tiers"][tier] = {
                "commit": "skipped", "wall_sec": time.time() - t_tier,
            }
        lower_merged = merged

    metrics["wall_sec"] = time.time() - t0
    return metrics


def stream_refresh(
    spark,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    tiers: tuple[str, ...] = ("1m",),
    fill_method: str | None = "IDW",
    coords: DataFrame | None = None,
    vg_dim: DataFrame | None = None,
    n_waves: int = 2,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    run_prefix: str = "sr",
):
    """Continuous incremental refresh: the TimescaleDB continuous-aggregate
    policy loop as ONE streaming query. Each micro-batch of newly-arrived
    turns is merged into an existing tier store by run_refresh_pass
    (affected-conversation recompute only,
    latest-wins delta publish), with the refresh run_id keyed by the
    checkpointed batch_id.

    Exactly-once across crash/restart by COMPOSING two commit logs, with
    no new machinery: Structured Streaming's checkpoint pins each
    batch_id to the same input files on redelivery, and the refresh
    pass's snapshot-commit resume (same run_id+stage already committed ->
    zero jobs) makes a redelivered batch a no-op — so a crash at any
    point (mid-wave, between the rollup and chunk commits, after publish)
    converges without ever double-merging a turn's partial aggregates.
    This is exactly why the refresh contract demands NEW turns only: the
    stream's at-least-once redelivery is absorbed by the run_id, not by
    re-examining the data.

    The store must be bootstrapped by run_retention_pipeline first (the
    refresh pass raises on a tier with no committed rollup). Pair with a
    periodic run_flatten_pass + run_vacuum_pass (plans/vacuum.py) to
    bound the delta chain the stream accretes.
    """
    src = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def _merge(batch_df, batch_id):
        # the pass scans the batch several times (conv list, per-tier
        # merges); pin it so the file-source plan isn't re-resolved per
        # action
        batch_df.persist()
        try:
            run_refresh_pass(
                batch_df.sparkSession, batch_df, store_dir, tiers=tiers,
                fill_method=fill_method, coords=coords, vg_dim=vg_dim,
                n_waves=n_waves, run_id=f"{run_prefix}-{batch_id}",
            )
        finally:
            batch_df.unpersist()

    writer = (
        src.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
