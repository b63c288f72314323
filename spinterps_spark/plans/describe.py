"""Store observability: DESCRIBE HISTORY for the tier tables' snapshot logs.

One call answers the operational questions the maintenance loop raises:
which generation is live per (table, tier), which deltas are still
unmerged on top of it, what retention horizon is committed, which
snapshots a vacuum expired, and how much data each live generation holds.
This is the Iceberg `table.history()` / Delta `DESCRIBE HISTORY` analog
over the parquet+sidecar TableFormat seam (sources/tableformat.py).

Everything is metadata-driven (the snapshot logs are KBs, read
driver-side); the only filesystem touch is an optional per-location
du-style size probe, also driver-side. No Spark job runs — the result is
a small createDataFrame, so `history()` composes with filters/joins like
any table.

Reference anchor: the run-settings-as-attributes rule
(interp/prepare.py:387-428) — the log rows ARE the settings that were
stamped at commit time, so history is reconstructable from the store
alone.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from spinterps_spark.plans.generations import _strip_scheme, commit_kind
from spinterps_spark.plans.vacuum import TABLE_ROOTS, _dir_bytes, _tier_history
from spinterps_spark.sources.tableformat import tier_tables

HISTORY_SCHEMA = (
    "table string, tier string, seq int, committed_at string, "
    "run_id string, stage string, kind string, status string, "
    "data_location string, bytes long, horizon_ts long, "
    "n_expired long, bytes_freed long"
)


def history(spark, out_dir: str, with_sizes: bool = False) -> DataFrame:
    """Commit history of both table roots as a DataFrame, one row per
    snapshot-log line, with resolved liveness:

    - status 'live': the current base generation, or a delta newer than it
      (still merged into every read);
    - status 'superseded': folded into a later full generation (its files
      are vacuum candidates);
    - status 'expired': a later vacuum row lists its data_location as
      deleted;
    - vacuum rows themselves are status 'applied'.

    with_sizes=True adds on-disk bytes per surviving data_location
    (driver-side walk — cheap for chunked stores, skip for remote fs).
    """
    rows = []
    for tb in TABLE_ROOTS:
        fmt = tier_tables(spark, os.path.join(out_dir, tb))
        snaps = fmt.snapshots()
        tiers = sorted({s["tier"] for s in snaps if s.get("tier")})
        for tier in tiers:
            hist = _tier_history(snaps, tier)
            # the live window starts at the LAST full generation
            last_full = max(
                (i for i, s in enumerate(hist)
                 if commit_kind(s.get("stage")) == "full"),
                default=-1,
            )
            expired_locs = set()
            for s in snaps:
                if s.get("tier") == tier and commit_kind(
                        s.get("stage")) == "vacuum":
                    expired_locs.update(
                        json.loads(s.get("expired_locations", "[]")))
            seq = 0
            for s in snaps:
                if s.get("tier") != tier:
                    continue
                stage = str(s.get("stage", ""))
                kind = commit_kind(stage)
                loc = s.get("data_location", "")
                if kind in ("vacuum", "meta"):
                    status = "applied"
                elif loc in expired_locs:
                    status = "expired"
                elif s in hist and hist.index(s) >= last_full:
                    status = "live"
                else:
                    status = "superseded"
                nbytes = None
                if with_sizes and kind not in ("vacuum", "meta") \
                        and status != "expired":
                    p = _strip_scheme(loc)
                    nbytes = _dir_bytes(p) if os.path.isdir(p) else None
                rows.append((
                    tb, tier, seq, s.get("committed_at"),
                    s.get("run_id"), stage, kind, status, loc, nbytes,
                    int(s["horizon_ts"]) if s.get("horizon_ts") else None,
                    int(s["n_expired"]) if s.get("n_expired") else None,
                    int(s["bytes_freed"]) if s.get("bytes_freed") else None,
                ))
                seq += 1
    return spark.createDataFrame(rows, HISTORY_SCHEMA)
