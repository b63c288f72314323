"""Snapshot expiry (vacuum) + delta-chain flatten: bounded storage and
bounded read metadata for the tier tables.

Every maintenance pass in this engine is copy-on-write: retention and
compaction publish new FULL generations (chunks_retained/, chunks_compacted/),
refresh publishes merge-on-read DELTAS (rollup_refresh/, chunks_refresh/).
Nothing ever deletes the superseded directories, so at a continuous-ingest
cadence (a refresh per hour, a compaction per day) the store grows without
bound even when the data does not — and the ROLLUP table never gets a full
rewrite at all, so its delta chain (one broadcast anti join per delta on
every read, plans/generations.read_current) grows monotonically. These two
passes close the loop; together they are the Iceberg
`expire_snapshots` + `rewrite_data_files`-on-the-aggregate-table analog:

- ``run_flatten_pass``: materialize a tier's current merged view (base plus
  all deltas, latest-wins) as ONE new full generation, published with one
  metadata commit (the identity plans/retention.rewrite_generation, the
  procedure retention and compaction share). Reads through
  generations.read_current collapse back to a single parquet scan. Works
  on either table root; the rollup table is the one with no other
  flattening path.
- ``run_vacuum_pass``: delete the generation directories no snapshot within
  the last `keep_last` full generations can reference, then record WHAT was
  expired in a metadata-only ``vacuum:<tier>`` commit — so a later
  time-travel read (generations.read_current(as_of=...)) that lands on an
  expired snapshot fails with the expiring run named, never with a silently
  partial scan.

Crash safety mirrors the other passes, inverted: deletes are idempotent
(missing dirs skip), the commit row is appended LAST. A crash mid-delete
re-runs cleanly with the same run_id (the already-gone dirs are recomputed
as expirable and skipped); a crash after the commit makes the re-run a
no-op via the committed(run_id, stage) guard. CURRENT-view readers are
never exposed to a partial state (vacuum only touches directories the
current generation plan does not reference); a TIME-TRAVEL read that
lands in the crash window — dirs deleted, commit row not yet appended —
gets generations._raise_if_expired's FileNotFoundError branch, which
names the re-run-the-vacuum remedy.

Safety rails: only directories under `out_dir` whose path contains a
``gen=`` segment (the managed generation layout) are ever deleted — the
pipeline's original layout dirs (chunks/tier=*/wave=*, rollup/tier=*/wave=*)
are not in the log and are never candidates. The refresh pass's
affected-conv sidecars (refresh/run=*/convs) are reference-counted across
BOTH table logs: a convs dir is deleted only when no live delta in either
table still points at it. A rewrite's `_folded.json` pin lives in its
gen= dir and goes with it.

100-TB scale: both passes are metadata-driven — the expirable set is
computed from the snapshot log (KBs, driver-side); flatten is one scan +
one waved write of the merged view; vacuum moves zero data. The reference
has no analog (its single netCDF cube is updated in place under a lock,
interp/steps.py:895-949); a shared-nothing engine pays for its atomic
copy-on-write commits with exactly this garbage-collection obligation.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from spinterps_spark.plans.checkpoint import new_run_id
from spinterps_spark.plans.generations import (
    _strip_scheme, commit_kind, generation_plan, read_current)
from spinterps_spark.plans.retention import rewrite_generation
from spinterps_spark.sources.tableformat import pin_run_id, tier_tables

TABLE_ROOTS = ("rollup", "chunks")


def run_flatten_pass(
    spark,
    out_dir: str,
    tier: str,
    table: str = "rollup",
    run_id: str | None = None,
    n_waves: int = 4,
) -> dict:
    """Fold a tier's refresh-delta chain into one new full generation.

    No-op (commit "noop") when the chain has no deltas: a flatten would
    rewrite every byte to produce the identical merged view. Otherwise an
    identity rewrite_generation (plans/retention.py), resumable at the
    same two levels as retention/compaction: committed (run_id, stage)
    skips the pass; a crash mid-write redoes only the missing waves, and
    a resume whose delta chain moved raises CommitConflictError.
    """
    if table not in TABLE_ROOTS:
        raise ValueError(f"table must be one of {TABLE_ROOTS}, got {table!r}")
    run_id = run_id or new_run_id()
    t0 = time.time()
    stage = f"flatten:{tier}"
    fmt = tier_tables(spark, os.path.join(out_dir, table))
    base = os.path.join(out_dir, f"{table}/tier={tier}", "wave=*")
    gen_loc = os.path.join(out_dir, f"{table}_flat/tier={tier}/gen={run_id}")
    _, deltas = generation_plan(fmt, tier, base)
    if not deltas and not fmt.committed(run_id, stage):
        # a resumed run whose chain a full rewrite emptied meanwhile: no
        # snapshot row will ever expire its partial waves + pin
        shutil.rmtree(gen_loc, ignore_errors=True)
        return {"run_id": run_id, "tier": tier, "table": table,
                "commit": "noop", "n_deltas_folded": 0,
                "wall_sec": time.time() - t0}
    return {"table": table, **rewrite_generation(
        spark, fmt, out_dir, tier, run_id, stage, gen_loc,
        lambda: read_current(spark, fmt, tier, base), lambda sub: sub,
        lambda _src, _gen: {"n_deltas_folded": len(deltas)},
        n_waves=n_waves, wave_stage=f"flatten_{table}:{tier}",
    )}


def _tier_history(snaps: list[dict], tier: str) -> list[dict]:
    """The tier's data-bearing commits in log order (metadata-only vacuum
    and meta: settings rows skipped)."""
    return [s for s in snaps if s.get("tier") == tier
            and commit_kind(s.get("stage")) not in ("vacuum", "meta")]


def _expirable(history: list[dict], keep_last: int):
    """Split a tier's history into (expired rows, kept rows).

    Keep everything from the keep_last-th-most-recent FULL generation
    onward: that full generation plus every later commit is exactly the
    set a time-travel read within the retained window can reference.
    Deltas BEFORE it are folded into it (generations.generation_plan
    resets the delta list at each full rewrite) and full generations
    before it are superseded — both unreferenced by any retained snapshot.
    """
    full_pos = [i for i, s in enumerate(history)
                if commit_kind(s.get("stage")) == "full"]
    if len(full_pos) < keep_last:
        # fewer full generations than the retention window: even the
        # oldest deltas are still reachable from the default base
        return [], history
    cut = full_pos[len(full_pos) - keep_last]
    return history[:cut], history[cut:]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _newest_mtime(path: str) -> float:
    """Newest mtime of `path` and of every file beneath it (0 if gone)."""
    try:
        newest = os.path.getmtime(path)
    except OSError:
        return 0.0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, f)))
            except OSError:
                pass
    return newest


_ORPHAN_PATTERNS = (
    # every managed generation layout a pass writes BEFORE its commit —
    # a crash in that window (or a pre-r7 empty-batch refresh) leaves the
    # dir referenced by no snapshot row, invisible to normal expiry
    "rollup_refresh/tier=*/gen=*",
    "chunks_refresh/tier=*/gen=*",
    "chunks_retained/tier=*/gen=*",
    "chunks_compacted/tier=*/gen=*",
    "rollup_flat/tier=*/gen=*",
    "chunks_flat/tier=*/gen=*",
    "chunks_evolve/tier=*/gen=*",
    "rollup_merge/tier=*/gen=*",
    "chunks_merge/tier=*/gen=*",
    "chunks_merge_delta/tier=*/gen=*",
    "refresh/run=*/convs",
    "merge/run=*/convs",
    # merge/evolve pinned-history baselines (sources/tableformat.pin_file):
    # released after the pass's final commit, but a crash in the
    # commit-to-release window strands the file — age-guarded like the
    # generation dirs (the generation rewrites pin inside their gen= dir)
    "_pins/*.json",
)


def _sweep_orphans(out_dir: str, snaps: dict[str, list[dict]],
                   min_age_sec: float) -> dict:
    """Iceberg `remove_orphan_files` analog: delete managed generation dirs
    referenced by NO snapshot row in either table log, skipping anything
    younger than `min_age_sec` (an in-flight pass's uncommitted output is
    exactly such an unreferenced dir — age is the standard guard)."""
    import glob as _g

    referenced = set()
    for rows in snaps.values():
        for s in rows:
            for key in ("data_location", "convs_location"):
                loc = s.get(key)
                if loc:
                    referenced.add(os.path.realpath(_strip_scheme(loc)))
    now = time.time()
    removed, freed = [], 0
    for pat in _ORPHAN_PATTERNS:
        for p in _g.glob(os.path.join(out_dir, pat)):
            rp = os.path.realpath(p)
            if rp in referenced:
                continue
            is_pin = os.path.isfile(rp)
            if not (is_pin or os.path.isdir(rp)):
                continue
            live = [rp]
            run_id = pin_run_id(rp) if is_pin else None
            if run_id:
                # pin baselines are single files, not generation dirs.
                # Age alone is not enough (ADVICE r7 #3): a pass can run
                # longer than min_age_sec while its pin (written once at
                # pass start) goes stale — deleting it would let a later
                # crash+resume re-capture the baseline and absorb
                # concurrent commits. A pin is LIVE while ANY artifact of
                # its run_id (gen=/run= dirs, which every wave touches) is
                # younger than min_age_sec; its own mtime still counts too.
                live += [q for rel in (f"*/tier=*/gen={run_id}",
                                       f"*/run={run_id}*")
                         for q in _g.glob(os.path.join(out_dir, rel))]
            if now - max(map(_newest_mtime, live)) < min_age_sec:
                continue
            if is_pin:
                freed += os.path.getsize(rp)
                os.remove(rp)
            else:
                freed += _dir_bytes(rp)
                shutil.rmtree(rp)
            removed.append(p)
    return {"n_removed": len(removed), "bytes_freed": freed,
            "removed": sorted(removed)}


def run_vacuum_pass(
    spark,
    out_dir: str,
    tiers: list[str] | tuple[str, ...] | None = None,
    keep_last: int = 1,
    run_id: str | None = None,
    orphan_min_age_sec: float | None = None,
) -> dict:
    """Expire generation directories superseded beyond `keep_last` full
    generations, on both table roots, and commit metadata-only
    ``vacuum:<tier>`` rows recording what was removed.

    keep_last=1 keeps only the current generation (plus its live deltas);
    keep_last=N retains N full generations of time-travel history. The
    original pipeline layout dirs are never candidates (they are not in the
    snapshot log), and a convs sidecar shared by the rollup and chunks logs
    is deleted only when neither table's kept rows reference it.

    orphan_min_age_sec (opt-in): additionally sweep managed generation dirs
    no snapshot row in EITHER log references — crashed never-committed runs
    — when their newest file is older than this age (the age guard keeps an
    in-flight pass's uncommitted output safe; Iceberg's remove_orphan_files
    ships the same contract). Orphans were never committed, so their
    removal is reported in the metrics dict, not in a snapshot row.
    Pin baselines (_pins/*.json) additionally stay protected while ANY
    artifact of their run_id is younger than the age — a pass outliving
    orphan_min_age_sec keeps its pin as long as it keeps writing waves.
    As with Iceberg, keep orphan_min_age_sec comfortably above the longest
    expected pass runtime anyway: that is the only guard for a pass whose
    run produces no filesystem activity at all for that long.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current generation "
                         "is always retained)")
    run_id = run_id or new_run_id()
    t0 = time.time()
    out_real = os.path.realpath(out_dir)

    _fmts_probe = {tb: tier_tables(spark, os.path.join(out_dir, tb))
                   for tb in TABLE_ROOTS}
    if any(getattr(f, "manages_files", False) for f in _fmts_probe.values()):
        # Iceberg manages its own data files: delegate to the snapshot-aware
        # table procedure instead of the posix walk (VERDICT r6 #6 — the
        # walk would silently mis-measure or no-op on object storage)
        res = {tb: [r.asDict() if hasattr(r, "asDict") else dict(r)
                    for r in f.expire_snapshots(retain_last=keep_last)]
               for tb, f in _fmts_probe.items()
               if getattr(f, "manages_files", False)}
        return {"run_id": run_id, "keep_last": keep_last,
                "mode": "iceberg-expire-snapshots", "tables": res,
                "bytes_freed": 0, "wall_sec": time.time() - t0}

    def managed(loc: str) -> str | None:
        """Deletable path, or None for the pipeline's own layout dirs
        (generation zero: rollup/tier=*, chunks/tier=* rows carry no gen=
        segment and are kept forever — they are the default-base fallback
        and the waved-write resume target). Anything OUTSIDE the store is
        log corruption and refuses loudly."""
        p = os.path.realpath(_strip_scheme(loc))
        if not p.startswith(out_real + os.sep):
            raise RuntimeError(
                f"vacuum: refusing to delete {loc!r} — outside the store "
                f"{out_dir}"
            )
        # classify on the path RELATIVE to the store, so an out_dir that
        # itself contains 'gen=' can never make the layout dirs deletable
        rel = os.path.relpath(p, out_real)
        is_gen = "gen=" in rel
        is_convs = rel.startswith(
            (os.path.join("refresh", "run="), os.path.join("merge", "run="))
        )
        return p if (is_gen or is_convs) else None

    fmts = _fmts_probe
    snaps = {tb: fmts[tb].snapshots() for tb in TABLE_ROOTS}
    all_tiers = sorted({
        s["tier"] for tb in TABLE_ROOTS for s in snaps[tb]
        if s.get("tier")
        and commit_kind(s.get("stage")) != "vacuum"
    })
    if tiers is None:
        tiers = all_tiers

    # expiry is planned only for the REQUESTED tiers, but the plan must
    # see every tier: a convs sidecar is shared per refresh run across
    # tiers and tables, so liveness counts kept deltas everywhere — an
    # unrequested tier keeps all of its rows by definition
    plan: dict[tuple[str, str], tuple[list[dict], list[dict]]] = {}
    for tb in TABLE_ROOTS:
        for tier in all_tiers:
            hist = _tier_history(snaps[tb], tier)
            plan[(tb, tier)] = (
                _expirable(hist, keep_last) if tier in tiers else ([], hist)
            )

    # convs sidecars: refresh deltas in BOTH logs share one dir per run —
    # live if ANY kept delta anywhere still points at it
    live_convs = {
        s["convs_location"]
        for kept_pair in plan.values() for s in kept_pair[1]
        if s.get("convs_location")
    }

    metrics: dict = {"run_id": run_id, "keep_last": keep_last, "tables": {}}
    freed_total = 0
    for (tb, tier), (expired, _kept) in plan.items():
        if not expired:
            continue
        stage = f"vacuum:{tier}"
        fmt = fmts[tb]
        if fmt.committed(run_id, stage):
            metrics["tables"].setdefault(tb, {})[tier] = {"commit": "skipped"}
            continue
        locs, skipped, freed = [], [], 0
        for s in expired:
            targets = [s["data_location"]]
            cl = s.get("convs_location")
            if cl and cl not in live_convs:
                targets.append(cl)
                live_convs.add(cl)  # both logs list it; delete/record once
            for loc in targets:
                p = managed(loc)
                if p is None:
                    skipped.append(loc)
                    continue
                # size+delete through the TableFormat seam (the parquet
                # fallback's posix walk is valid only there; the Iceberg
                # path never reaches this loop — delegated above)
                freed += fmt.remove_dir(p)
                locs.append(loc)
        # data_location: the surviving base — keeps the low-level
        # latest-commit reader (ParquetTierTables.read_tier) coherent
        kept_full = [s for s in _kept
                     if commit_kind(s.get("stage")) == "full"]
        fmt.commit_tier(
            tier, None, kept_full[-1]["data_location"] if kept_full
            else os.path.join(out_dir, f"{tb}/tier={tier}"),
            {
                "run_id": run_id, "stage": stage,
                "n_expired": len(expired),
                "expired_locations": json.dumps(locs),
                "skipped_unmanaged": json.dumps(skipped),
                "expired_commit_ids": json.dumps(
                    [s.get("commit_id") for s in expired]
                ),
                "bytes_freed": freed,
            },
        )
        freed_total += freed
        metrics["tables"].setdefault(tb, {})[tier] = {
            "commit": "published", "n_expired": len(expired),
            "bytes_freed": freed,
        }

    if orphan_min_age_sec is not None:
        metrics["orphans"] = _sweep_orphans(
            out_dir, snaps, orphan_min_age_sec)
        freed_total += metrics["orphans"]["bytes_freed"]

    metrics["bytes_freed"] = freed_total
    metrics["wall_sec"] = time.time() - t0
    return metrics
