"""Generation resolution for tier tables: full rewrites + refresh deltas.

Three kinds of commit now appear in a tier table's snapshot log
(sources/tableformat.py):

- FULL generations — the original pipeline publish (stage ``rollup:<tier>``
  / ``chunks:<tier>`` layout dirs) and the maintenance rewrites
  (``retention:<tier>``, ``compaction:<tier>``). Each holds the tier's
  complete content; the latest one supersedes everything before it.
- REFRESH deltas (stage ``refresh:<tier>``, plans/refresh.py) — the
  incremental continuous-aggregate path. A delta holds the COMPLETE new
  rows for the conversations a turn-delta touched (and only those), plus a
  pointer to the affected-conv list it was computed for.
- EVOLVE deltas (stage ``evolve:<tier>``, plans/evolve.py, r7) — ADDITIVE
  deltas: the backfilled chunks of a newly added metric for EVERY
  conversation. They are superseded per conv_id by LATER refresh deltas
  (which re-encode all metrics at once) but supersede nothing themselves —
  the new metric's rows coexist with the base's existing metrics.
- META rows (stage ``meta:*``) — settings-only markers (e.g. the evolved
  fill_metrics set stamped on the rollup log); like vacuum rows they are
  neither base nor delta.

The current view of a tier is therefore Iceberg-style merge-on-read with
conv_id-level equality deletes: base rows for conversations no delta
touched, each delta's rows except where a LATER delta re-touched the same
conversation — latest-wins per conv_id. A subsequent full rewrite
(retention/compaction reads THIS merged view) flattens the delta chain, the
same way table-format compaction resolves delete files.

100-TB scale: resolution is metadata-only (the snapshot log, KBs); the
affected-conv lists are tiny relative to the data (a delta touches the
conversations active since the last refresh) and join as broadcast
anti/semi joins, so the merged read adds no shuffle to the base scan, and
the parquet filters still push below it (EXPLAIN.md asserts PushedFilters
on the merged plan).

Reference anchor: the incremental-write restart unit interp/steps.py:895-949
(completed work is kept, only the missing slice recomputes); the
metadata-travels-with-the-data rule interp/prepare.py:387-428.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, functions as F

from spinterps_spark.sources.tableformat import tier_tables


_KINDS = {"refresh": "delta", "merge_delta": "delta", "evolve": "evolve",
          "vacuum": "vacuum", "meta": "meta"}


def commit_kind(stage) -> str:
    """Classify a snapshot-log row by its stage prefix (see the module
    docstring): 'full' (a complete generation), 'delta' (refresh: or
    merge_delta:, latest-wins per conv_id), 'evolve' (additive delta),
    'vacuum' (expiry marker) or 'meta' (settings-only stamp). The one copy
    of this rule: a delta misread as full would let vacuum expire the live
    base it rides on (code-review r7 #1), and merge_delta read as full
    would report the copied base as superseded (code-review r7 #5)."""
    prefix, sep, _ = str(stage or "").partition(":")
    return _KINDS.get(prefix, "full") if sep else "full"


def _strip_scheme(loc: str) -> str:
    return loc[7:] if loc.startswith("file://") else loc


def generation_plan(fmt, tier: str, default_base: str, as_of: str | None = None):
    """Resolve the snapshot log into (base_glob, [refresh-delta snaps]).

    The base is the latest FULL generation's data (or `default_base`, the
    layout dir the pipeline writes, when none was ever published); the
    deltas are the refresh commits SINCE that generation, in commit order.

    `as_of` is a commit_id: resolve the log as it stood at that commit
    (inclusive) — Iceberg-style snapshot time travel. The read succeeds as
    long as no later vacuum pass (plans/vacuum.py) expired the generations
    that snapshot referenced. Raises KeyError when the commit_id is not in
    the tier's log.
    """
    base = default_base
    deltas: list[dict] = []
    seen_as_of = as_of is None
    for s in fmt.snapshots():
        if s.get("tier") != tier:
            continue
        kind = commit_kind(s.get("stage"))
        if kind in ("vacuum", "meta"):
            # metadata-only rows (expiry markers, evolved-settings stamps):
            # neither base nor delta — but valid as_of anchors (state ==
            # the preceding data commit)
            pass
        elif kind in ("delta", "evolve"):
            deltas.append(s)
        else:
            # a full rewrite was computed FROM the merged view, so it
            # already folds every earlier delta
            base = os.path.join(s["data_location"], "wave=*")
            deltas = []
        if as_of is not None and s.get("commit_id") == as_of:
            seen_as_of = True
            break
    if not seen_as_of:
        raise KeyError(
            f"as_of commit {as_of!r} not found in the tier={tier} log"
        )
    return base, deltas


def _raise_if_expired(fmt, tier: str, as_of: str | None, missing: str):
    """A read hit a missing generation dir: name the vacuum commit that
    expired it. Vacuum deletes idempotently FIRST and commits last (so its
    own crash recovery converges), which leaves a window where a crashed
    vacuum removed the dir but no row records it yet — the
    FileNotFoundError branch names that case and its remedy. as_of=None is
    the CURRENT view (which should never reference an expired dir; a miss
    there is external deletion or a crashed vacuum)."""
    import json as _json

    what = f"snapshot {as_of!r}" if as_of is not None else "current view"
    for s in fmt.snapshots():
        if s.get("tier") != tier or commit_kind(s.get("stage")) != "vacuum":
            continue
        if missing in _json.loads(s.get("expired_locations", "[]")):
            raise RuntimeError(
                f"{what} of tier={tier} is no longer readable: "
                f"generation {missing} was expired by vacuum run "
                f"{s.get('run_id')!r} (commit {s.get('commit_id')!r}). "
                "Raise keep_last on run_vacuum_pass to retain more history."
            )
    raise FileNotFoundError(
        f"{what} of tier={tier}: generation data missing at "
        f"{missing} with no vacuum row recording it — either it was "
        "deleted outside the engine, or a vacuum pass crashed between its "
        "deletes and its commit; re-run that vacuum (same run_id) to "
        "converge and record the expiry."
    )


def read_current(spark, fmt, tier: str, default_base: str,
                 as_of: str | None = None) -> DataFrame | None:
    """The tier's content: base minus refreshed convs, plus each delta
    latest-wins per conv_id. None when the tier holds nothing. `as_of` a
    commit_id reads the tier as of that snapshot (generation_plan) — with
    an explicit expired-by-vacuum error instead of a silently partial
    result when the old generation's files are gone."""
    base, deltas = generation_plan(fmt, tier, default_base, as_of=as_of)
    # scheme-strip BEFORE globbing: a file://-schemed data_location would
    # make glob return [] and silently drop the base from the merged view
    # (ADVICE r6 #1) — deltas below were already stripped
    base_glob = _strip_scheme(base)
    base_hits = _glob.glob(base_glob)
    if not base_hits and base != default_base:
        # a COMMITTED generation resolving to no files is never a normal
        # empty tier (only the never-published default base can be): for
        # time travel it's usually vacuum expiry, for the current view it's
        # external deletion or a crashed vacuum — raise loudly either way
        # instead of serving a silently partial merged view
        _raise_if_expired(fmt, tier, as_of, os.path.dirname(base))
    if as_of is not None:
        for s in deltas:
            if not os.path.isdir(_strip_scheme(s["data_location"])):
                _raise_if_expired(fmt, tier, as_of, s["data_location"])
    base_df = spark.read.parquet(base_glob) if base_hits else None
    if not deltas:
        return base_df
    # walk the delta chain newest-first, accumulating the conv set that
    # supersedes everything older. Evolve legs are ADDITIVE: later refresh
    # deltas supersede their convs (those deltas re-encoded every metric,
    # including the evolved one), but they supersede nothing themselves.
    legs: list[DataFrame] = []
    later: DataFrame | None = None
    primary = None
    for s in reversed(deltas):
        leg = spark.read.parquet(os.path.join(s["data_location"], "wave=*"))
        if later is not None:
            leg = leg.join(F.broadcast(later), "conv_id", "left_anti")
        legs.append(leg)
        if commit_kind(s.get("stage")) == "evolve":
            if s.get("primary_metric"):
                primary = primary or s["primary_metric"]
            continue
        convs = spark.read.parquet(s["convs_location"]).select("conv_id")
        later = convs if later is None else later.unionByName(convs).distinct()
    if base_df is not None:
        legs.append(
            base_df.join(F.broadcast(later), "conv_id", "left_anti")
            if later is not None else base_df
        )
    # an evolve on a previously single-metric store makes the view mixed:
    # pad metric-less legs with the store's primary metric name (stamped
    # on the evolve commit) so the union is schema-stable by name
    if any("metric" in leg.columns for leg in legs) and not all(
        "metric" in leg.columns for leg in legs
    ):
        if primary is None:
            raise ValueError(
                f"tier={tier}: mixed metric/metric-less generations with no "
                "primary_metric stamped on any evolve commit — store "
                "corruption?"
            )
        legs = [
            leg if "metric" in leg.columns
            else leg.withColumn("metric", F.lit(primary))
            for leg in legs
        ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def current_chunks(spark, out_dir: str, tier: str,
                   as_of: str | None = None) -> DataFrame | None:
    """Merged view of a tier's Gorilla chunk table — current, or as of the
    snapshot `as_of` (a commit_id from the chunks log)."""
    fmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
    return read_current(
        spark, fmt, tier,
        os.path.join(out_dir, f"chunks/tier={tier}", "wave=*"), as_of=as_of,
    )


def current_rollup(spark, out_dir: str, tier: str,
                   as_of: str | None = None) -> DataFrame | None:
    """Merged view of a tier's rollup table (the system of record the
    refresh pass merges new turn-deltas into) — current, or as of the
    snapshot `as_of` (a commit_id from the rollup log)."""
    fmt = tier_tables(spark, os.path.join(out_dir, "rollup"))
    return read_current(
        spark, fmt, tier,
        os.path.join(out_dir, f"rollup/tier={tier}", "wave=*"), as_of=as_of,
    )


def tier_chunk_size_bound(spark, out_dir: str, tier: str) -> int | None:
    """Upper bound on the `chunk_size` of every row in the tier's CURRENT
    chunk view, derived from commit metadata alone (chunk_size_max stamped
    by refresh/merge/evolve commits as the encode setting, and by
    retention/compaction/flatten — plans/retention.rewrite_generation — as
    the max in their generation's parquet footer stats). None when the
    chain is anchored by the pipeline's never-committed layout dirs or any
    chain link lacks the property (pre-r7 store, or a generation whose
    footers carried no min/max stats) — callers then fall back to the
    per-read max(chunk_size) aggregate. This is NOT a caller claim (the r5
    trap): every stamped value was computed from, or is the exact encode
    setting of, the rows that commit published."""
    fmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
    bound: int | None = None
    have_base = False
    for s in fmt.snapshots():
        if s.get("tier") != tier:
            continue
        kind = commit_kind(s.get("stage"))
        if kind in ("vacuum", "meta"):
            continue
        raw = s.get("chunk_size_max")
        try:
            v = int(raw) if raw is not None else None
        except (TypeError, ValueError):
            v = None
        if v is not None and v <= 0:
            v = None  # stamped over an empty source: no information
        if kind in ("delta", "evolve"):
            # delta over the existing chain: bound must cover both sides
            if have_base and bound is not None:
                bound = max(bound, v) if v is not None else None
        else:
            # full rewrite: resets the chain, its own bound stands alone
            have_base = True
            bound = v
    return bound if have_base else None


def tier_horizons(spark, out_dir: str) -> dict[str, int]:
    """Latest committed retention horizon per tier (epoch seconds).
    Tiers never retained are absent (horizon 0 = holds all history)."""
    fmt = tier_tables(spark, os.path.join(out_dir, "chunks"))
    out: dict[str, int] = {}
    for s in fmt.snapshots():
        t = s.get("tier")
        if t and s.get("stage") == f"retention:{t}":
            out[t] = int(s["horizon_ts"])  # snapshots are append-ordered
        elif t and s.get("stage") == f"merge:{t}" and int(
            s.get("horizon_ts", 0) or 0
        ) > 0:
            # a cross-store merge propagates its (equality-validated)
            # sources' horizon to the merged store (plans/merge.py) — the
            # copied chunks already respect it, and a later retention on
            # the merged store overrides it in log order
            out[t] = int(s["horizon_ts"])
    return out
