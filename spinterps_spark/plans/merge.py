"""Cross-store merge: union k tier stores into one new store.

The reference merges several time-sharded cubes of one grid into a single
netCDF (utils/merg_nc.py:81-262 — grids asserted equal with `isclose`,
output time axis spans all inputs, overlapping timesteps overwritten by
later files in sorted order). The engine analog: k tier stores — e.g. one
per ingestion shard or per archive window — folded into ONE store that
refresh/retention/compaction/evolve then maintain.

Two overlap semantics (a conversation "overlaps" when it appears in more
than one source store):

- mode="combine" (default, the engine-native upgrade): every base-tier
  rollup metric is an exact-compose partial aggregate (plans/refresh.
  merge_rollup), so re-summing the sources' rollup rows is BIT-IDENTICAL
  to a from-scratch rollup of the union of all turns — provided the
  sources hold DISJOINT turn sets (the sharded-ingest case, and the
  reference's time-sharded files). tests/test_merge.py proves merged ==
  full rebuild, chunks and rollup, bit-for-bit.
- mode="overwrite" (reference parity): per (conv_id, bucket_ts) the LAST
  source in `src_dirs` order wins, mirroring merg_nc.py's
  sorted-file-order overwrite of overlapping timesteps. For duplicated
  ingest (the same turns loaded into two stores) this is the correct
  semantic — combine would double-count.

100-TB scale — the whole point of this pass's shape: conversations living
in exactly ONE source are copied as OPAQUE chunk rows (no decode, no
re-encode, no kernel — one columnar copy job, like compaction), published
as the merged store's base generation. Only the OVERLAP conversations are
re-filled and re-encoded (from the merged rollup, the system of record),
published as a refresh-shaped delta the existing latest-wins read
resolves (plans/generations.py). Merging two year-long shards that
overlap on one day touches one day's conversations; everything else is a
byte-level copy. A later flatten/compaction folds the delta as usual.

Validation (the coords/time-units asserts of merg_nc.py:232-238, loud not
silent): every source's stamped fill_metrics set must equal the caller's,
and every source's committed retention horizon per tier must be EQUAL —
copied chunks inherit their source's horizon, so unequal horizons would
make the merged tier's content band inconsistent with any single stamp
(run retention to align the sources first, or after the merge).

Resumable like every pass (per-(run_id, stage) commits + per-wave
lineage); publishing into a non-empty out store raises. Sources are
pinned: each source log is captured at read time and revalidated under
the out store's commit (optimistic concurrency, sources/tableformat.py) —
a refresh landing on a source mid-merge raises CommitConflictError
instead of publishing a mixed-state merge.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Window, functions as F

from spinterps_spark.operators.rollup import (
    DEFAULT_MIN_CNT, METRIC_COLS, rollup_tier)
from spinterps_spark.plans.checkpoint import CheckpointLog, new_run_id, run_waved_pass
from spinterps_spark.plans.generations import (
    current_chunks, current_rollup, tier_chunk_size_bound, tier_horizons)
from spinterps_spark.plans.pipeline import (
    fused_fill_builder, metric_set, stamped_metrics)
from spinterps_spark.sources.tableformat import (
    pin_file, pinned_tier_validator, release_pin, tier_tables)

MODES = ("combine", "overwrite")


def run_merge_pass(
    spark,
    src_dirs: list[str],
    out_dir: str,
    tiers: tuple[str, ...] = ("1m", "1h"),
    mode: str = "combine",
    fill_metric: str = "tok_len_mean",
    fill_method: str | None = "IDW",
    coords: DataFrame | None = None,
    vg_dim: DataFrame | None = None,
    drift: DataFrame | None = None,
    drift_cols: list[str] | None = None,
    min_cnt: dict | None = None,
    fill_knobs: dict | None = None,
    extra_fill_metrics: dict[str, str] | None = None,
    n_waves: int = 2,
    run_id: str | None = None,
    broadcast_overlap_limit: int = 2_000_000,
) -> dict:
    """Merge the stores at `src_dirs` into a NEW store at `out_dir`.

    `tiers` must be the sources' cascade order (finest first). fill_*,
    coords/vg_dim/drift and min_cnt must MATCH what the sources were built
    with (validated against the stamped fill_metrics sets, which may be
    evolved ones) — the overlap re-encode uses the pipeline's own encoder
    (plans/pipeline.fused_fill_builder; fill_method=None encodes the
    merged valid rows directly), so merged reads are bit-identical to a
    full rebuild over the unioned turns when the sources' turn sets are
    disjoint (mode="combine").

    Returns a metrics dict: overlap conv count, per-tier copied vs
    re-encoded chunk rows, wall time.
    """
    if len(src_dirs) < 2:
        raise ValueError("merge needs at least two source stores")
    if out_dir in src_dirs:
        raise ValueError("out_dir must not be one of the sources")
    if mode not in MODES:
        raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
    project, chunker, chunk_size_max = fused_fill_builder(
        fill_metric, fill_method, coords, vg_dim, drift, drift_cols,
        fill_knobs, extra_fill_metrics,
    )
    run_id = run_id or new_run_id()
    t0 = time.time()
    min_cnt = min_cnt or {}

    mine = metric_set(fill_metric, extra_fill_metrics)
    src_rfmts = [tier_tables(spark, os.path.join(d, "rollup"))
                 for d in src_dirs]
    src_cfmts = [tier_tables(spark, os.path.join(d, "chunks"))
                 for d in src_dirs]

    # pin every source's tier history FIRST — before the stamped-metric /
    # horizon / current_rollup metadata reads below, so every source read
    # of this pass (metadata included) is covered by the pin baseline
    # (ADVICE r7 #2: current_rollup eagerly resolves source snapshot logs
    # into frozen data locations, so a commit landing between those reads
    # and a later pin capture would be absorbed silently). Revalidated
    # under each publish; PERSISTED under the out store so a crash +
    # concurrent source commit + same-run_id resume conflicts instead of
    # re-capturing the post-commit state (code-review r7 #2).
    pin = pin_file(out_dir, "merge", run_id)
    pin_preexisting = os.path.exists(pin)
    validate = pinned_tier_validator(
        pin, [(f, t) for t in tiers for f in (*src_rfmts, *src_cfmts)])

    try:
        for d, rf in zip(src_dirs, src_rfmts):
            st = stamped_metrics(rf)
            if st is not None and st != mine:
                raise ValueError(
                    f"merge: source {d} was built with metric set {st}, "
                    f"caller passed {mine} — all sources and the merge call "
                    "must use one metric set (evolve the sources first)"
                )

        # horizon equality across sources, per tier (the coords-equality
        # assert analog): copied chunks inherit their source's horizon
        src_hz = [tier_horizons(spark, d) for d in src_dirs]
        horizons: dict[str, int] = {}
        for tier in tiers:
            hzs = {h.get(tier, 0) for h in src_hz}
            if len(hzs) > 1:
                raise ValueError(
                    f"merge: sources disagree on tier={tier} retention "
                    f"horizon ({sorted(hzs)}) — run retention to align "
                    "them first"
                )
            horizons[tier] = hzs.pop()

        ckpt = CheckpointLog(spark, os.path.join(out_dir, "ckpt"))
        rfmt = tier_tables(spark, os.path.join(out_dir, "rollup"))
        cfmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
        for fmt, what in ((rfmt, "rollup"), (cfmt, "chunks")):
            alien = [s for s in fmt.snapshots()
                     if s.get("tier") in tiers and s.get("run_id") != run_id]
            if alien:
                raise ValueError(
                    f"merge: out store {out_dir} already has {len(alien)} "
                    f"{what} commit(s) from other runs — merge publishes a "
                    "NEW store; use refresh to add data to an existing one"
                )

        src_rollups = []
        for d in src_dirs:
            r = current_rollup(spark, d, tiers[0])
            if r is None:
                raise ValueError(
                    f"merge: no committed rollup for tier={tiers[0]} "
                    f"under {d}"
                )
            src_rollups.append(r)
    except Exception:
        # validation failed before any data work: release the pin ONLY if
        # this invocation captured it (a pre-existing pin belongs to the
        # crashed pass whose baseline a resume must keep)
        if not pin_preexisting:
            release_pin(pin)
        raise

    # overlap = conversations present in more than one source (base tier)
    marked = None
    for i, r in enumerate(src_rollups):
        m = r.select("conv_id").distinct().withColumn("_src", F.lit(i))
        marked = m if marked is None else marked.unionByName(m)
    convs_loc = os.path.join(out_dir, f"merge/run={run_id}/convs")
    if os.path.exists(os.path.join(convs_loc, "_SUCCESS")):
        ov = spark.read.parquet(convs_loc)
        n_overlap = ov.count()
    else:
        ov = (marked.groupBy("conv_id")
              .agg(F.count_distinct("_src").alias("_ns"))
              .where(F.col("_ns") > 1).select("conv_id"))
        n_overlap = ov.count()
        if n_overlap:
            ov.write.mode("overwrite").parquet(convs_loc)
            ov = spark.read.parquet(convs_loc)

    # broadcast-overlap guard (VERDICT r7 next-step #2): the design case is
    # a small overlap, where broadcasting the conv set keeps the
    # single-source rows shuffle-free. But mode="overwrite" exists for
    # duplicated ingest, where overlap ~ the WHOLE store — broadcasting
    # every conv_id would OOM the driver/executors. Above the limit the
    # anti/semi joins run as shuffle joins instead: one extra exchange,
    # still O(store), never O(pairs).
    overlap_broadcast = n_overlap <= broadcast_overlap_limit
    ovj = F.broadcast(ov) if overlap_broadcast else ov

    metrics: dict = {"run_id": run_id, "mode": mode, "n_src": len(src_dirs),
                     "n_overlap_convs": n_overlap,
                     "overlap_broadcast": overlap_broadcast, "tiers": {}}
    lower_merged: DataFrame | None = None
    for tier in tiers:
        t_tier = time.time()
        mc = min_cnt.get(tier, DEFAULT_MIN_CNT[tier])
        tier_metrics: dict = {}

        # ---- rollup: the merged system of record (full table) ----
        roll_loc = os.path.join(out_dir, f"rollup_merge/tier={tier}/gen={run_id}")
        if rfmt.committed(run_id, f"merge:{tier}"):
            merged = spark.read.parquet(os.path.join(roll_loc, "wave=*"))
        else:
            # the rollup side is O(overlap) like the chunk side: rows of
            # single-source conversations PASS THROUGH (broadcast anti
            # join — no shuffle); only the overlap's rows re-sum (combine)
            # / take the last-source row (overwrite). Exact: a conv's
            # rollup rows are a deterministic per-conv function of its
            # turns, and a single-source conv's merged rows ARE its
            # source rows (their stored `valid` was computed under the
            # same min_cnt contract the caller must match).
            cols = ["conv_id", "bucket_ts", *METRIC_COLS, "valid"]
            if lower_merged is None:
                if mode == "combine":
                    src = src_rollups[0].select(*cols)
                    for r in src_rollups[1:]:
                        src = src.unionByName(r.select(*cols))

                    def make(sub, _mc=mc):
                        # UNIFORM validity: every output row gets valid
                        # recomputed under the caller's min_cnt (a
                        # shuffle-free projection on the pass-through
                        # rows) — leaning on the stored valid would make
                        # a min_cnt mismatch produce mixed semantics in
                        # one store instead of one consistent answer
                        revalid = F.col("turn_cnt") >= F.lit(_mc)
                        if not n_overlap:
                            return sub.withColumn("valid", revalid)
                        # conv-local: per-wave re-sum == global re-sum
                        keep = sub.join(
                            ovj, "conv_id", "left_anti"
                        ).withColumn("valid", revalid)
                        summed = (
                            sub.join(ovj, "conv_id", "semi")
                            .groupBy("conv_id", "bucket_ts")
                            .agg(*[F.sum(c).alias(c) for c in METRIC_COLS])
                            .withColumn("valid", revalid)
                        )
                        return keep.unionByName(summed)
                else:  # overwrite: last source wins per (conv, bucket)
                    src = None
                    for i, r in enumerate(src_rollups):
                        leg = r.select(*cols).withColumn("_pri", F.lit(i))
                        src = leg if src is None else src.unionByName(leg)

                    def make(sub):
                        if not n_overlap:
                            return sub.drop("_pri")
                        keep = sub.join(
                            ovj, "conv_id", "left_anti"
                        ).drop("_pri")
                        w = Window.partitionBy(
                            "conv_id", "bucket_ts"
                        ).orderBy(F.col("_pri").desc())
                        won = (
                            sub.join(ovj, "conv_id", "semi")
                            .withColumn("_rn", F.row_number().over(w))
                            .where(F.col("_rn") == 1).drop("_rn", "_pri")
                        )
                        return keep.unionByName(won)
            else:
                # coarser tiers recompute from the merged finer tier
                # (validity counts valid lower buckets — not mergeable,
                # same rule as refresh). NOT split by overlap: the waved
                # transform must be conv-local over its OWN input (output
                # waves re-derive from conv hash, so pulling rows from a
                # non-wave-filtered side table would duplicate convs
                # across waves on resume); the coarser tables are ~60x
                # smaller than the base, so the full recompute is cheap
                src = lower_merged

                def make(sub, _tier=tier, _mc=mc):
                    return rollup_tier(sub, _tier, min_cnt=_mc)

            merged = run_waved_pass(
                spark, src, make, roll_loc, ckpt, run_id,
                f"merge_rollup:{tier}", n_waves=n_waves,
            )
            rfmt.commit_tier(tier, merged, roll_loc, {
                "run_id": run_id, "stage": f"merge:{tier}", "mode": mode,
                "fill_metrics": mine, "n_src": len(src_dirs),
                "convs_location": convs_loc, "n_overlap_convs": n_overlap,
            }, validate=validate)

        # ---- chunks base: opaque copy of single-source conversations ----
        copy_loc = os.path.join(out_dir, f"chunks_merge/tier={tier}/gen={run_id}")
        if not cfmt.committed(run_id, f"merge:{tier}"):
            copy_src = None
            bounds: list[int | None] = []
            for d in src_dirs:
                cc = current_chunks(spark, d, tier)
                if cc is None:
                    raise ValueError(
                        f"merge: no chunk table for tier={tier} under {d}"
                    )
                bounds.append(tier_chunk_size_bound(spark, d, tier))
                if n_overlap:
                    cc = cc.join(ovj, "conv_id", "left_anti")
                copy_src = cc if copy_src is None else copy_src.unionByName(cc)

            copied = run_waved_pass(
                spark, copy_src, lambda sub: sub, copy_loc, ckpt, run_id,
                f"merge_chunks_copy:{tier}", n_waves=n_waves,
            )
            if any(b is None for b in bounds):
                # pre-r7 source (layout-dir base, no stamped bound): one
                # merge-time scan, so the MERGED store's reads never pay it
                row = copied.agg(F.max("chunk_size").alias("m")).first()
                copy_bound = int(row.m) if row.m is not None else 0
            else:
                copy_bound = max(int(b) for b in bounds)
            cfmt.commit_tier(tier, copied, copy_loc, {
                "run_id": run_id, "stage": f"merge:{tier}", "mode": mode,
                "fill_metrics": mine, "n_src": len(src_dirs),
                "convs_location": convs_loc, "n_overlap_convs": n_overlap,
                "horizon_ts": int(horizons[tier]),
                "chunk_size_max": copy_bound,
            }, validate=validate)
            tier_metrics["chunks_copied"] = copied.count()

        # ---- chunks delta: re-fill + re-encode ONLY the overlap convs ----
        if n_overlap and not cfmt.committed(run_id, f"merge_delta:{tier}"):
            delta_loc = os.path.join(
                out_dir, f"chunks_merge_delta/tier={tier}/gen={run_id}")
            ser = project(
                merged.where(F.col("valid"))
                .join(ovj, "conv_id", "semi")
            )
            enc = run_waved_pass(
                spark, ser, chunker(tier, horizons[tier]), delta_loc, ckpt,
                run_id, f"merge_chunks_enc:{tier}", n_waves=n_waves,
            )
            cfmt.commit_tier(tier, enc, delta_loc, {
                "run_id": run_id, "stage": f"merge_delta:{tier}",
                "convs_location": convs_loc, "n_affected_convs": n_overlap,
                "horizon_ts": int(horizons[tier]),
                "chunk_size_max": chunk_size_max,
            }, validate=validate)
            tier_metrics["chunks_reencoded"] = enc.count()

        tier_metrics["wall_sec"] = time.time() - t_tier
        metrics["tiers"][tier] = tier_metrics
        lower_merged = merged

    release_pin(pin)
    metrics["wall_sec"] = time.time() - t0
    return metrics
