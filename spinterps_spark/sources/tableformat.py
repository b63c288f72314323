"""Tier-table format seam: Iceberg when available, parquet+sidecar otherwise.

The north rule stores rolled-up tiers in an Iceberg table partitioned by
(tier, days(bucket_ts)) with run settings recorded in the snapshot summary
(reference analog: run settings as netCDF attrs, interp/prepare.py:387-428).
This sandbox ships no Iceberg runtime jars and has no network, so the seam
isolates the format decision:

- IcebergTierTables: the real thing — DataFrameWriterV2 `writeTo(table)
  .partitionedBy(col("tier"), days(col("bucket_ts")))`, per-commit run
  settings via `snapshot-property.*` write options, resume by inspecting
  `<table>.snapshots` summaries. Activates automatically when the Iceberg
  Spark runtime is on the classpath and a catalog is configured
  (spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog).
- ParquetTierTables: same contract on plain parquet — data lives in the
  waved directories the pipeline already wrote; a commit is a metadata-only
  versioned file `_snapshots.d/v<N>.json` claimed with an ATOMIC hard link
  (write temp, fsync, os.link to the next free version; FileExistsError =
  lost the race -> revalidate and retry at N+1), mirroring Iceberg's
  optimistic-concurrency metadata commits instead of rewriting data. Two
  concurrent maintenance passes can never interleave or lose a commit:
  exactly one writer wins each version (tests/test_tableformat.py runs 8
  processes x 10 commits). Full-rewrite passes (retention / compaction /
  flatten) additionally pass a `validate` hook so a commit that would
  silently drop a concurrently-published refresh delta raises
  CommitConflictError instead (Iceberg's serializable snapshot isolation,
  reference precedent: the Manager().Lock()-serialized writer,
  interp/main.py:94). Legacy `_snapshots.jsonl` stores keep reading: its
  lines order before the versioned files.

`tier_tables(spark, location)` picks the first available implementation.
tests/test_tableformat.py exercises the parquet path and carries the
skipped-with-reason Iceberg integration test for jar-equipped clusters.
"""

from __future__ import annotations

import datetime
import errno
import json
import os
import time
import uuid

from pyspark.sql import DataFrame, functions as F


class CommitConflictError(RuntimeError):
    """A commit's `validate` precondition no longer holds: another writer
    published to the same tier between this pass's read and its commit.
    The pass must re-run (fresh run_id) against the new current view."""


def tier_data_commit_ids(snapshots: list[dict], tier: str) -> list[str]:
    """The tier's data-bearing commit ids in log order (vacuum rows are
    metadata-only expiry markers and don't change the current view)."""
    return [
        s.get("commit_id") for s in snapshots
        if s.get("tier") == tier
        and not str(s.get("stage", "")).startswith("vacuum:")
    ]


def _raise_if_moved(tier: str, seen: list, now: list) -> None:
    if now != seen:
        raise CommitConflictError(
            f"tier={tier}: the delta chain changed since this pass first "
            f"read its source (recorded {seen}, now {now}; possibly across "
            "a crash/resume) — publishing would silently drop the new "
            "commits. Re-run the pass with a fresh run_id against the "
            "current view."
        )


def pinned_tier_validator(pin_path: str, pairs: list) -> "callable":
    """Capture the data histories of the (fmt, tier) pairs; returns a
    `validate` hook for commit_tier that raises CommitConflictError if any
    other writer published to one of those tiers in between. A full
    rewrite folds the merged view it READ, so an unvalidated publish would
    silently drop a concurrent refresh delta — the lost update the
    optimistic protocol exists to prevent.

    The captured baseline history is PERSISTED at `pin_path` on first
    capture and reloaded on resume with the same run_id. Without the pin,
    a pass that crashed after completing some waves would RE-capture at
    resume time — silently absorbing any commit that landed in the crash
    window into its baseline while reusing done waves computed from the
    pre-commit view, then publishing a mixed-state full rewrite that
    supersedes the concurrent delta: exactly the lost update the
    optimistic protocol exists to prevent (code-review r7 #2).

    The generation rewrites (plans/retention.rewrite_generation) keep the
    pin at `<gen_loc>/_folded.json`, inside the generation it guards: it
    is never released (vacuum deletes it with the generation), so a
    same-run_id resume after a lost commit still sees the original
    baseline. Merge and evolve keep theirs under `_pins/` (pin_file) and
    release it after their final commit; a leftover pin is harmless —
    committed (run_id, stage) short-circuits before any validator runs.

    The returned validate ignores the snapshots argument commit_tier
    passes and re-reads every fmt, since the pairs may span several
    stores (the cross-store merge pins its SOURCES)."""
    def _key(fmt, tier):
        ident = getattr(fmt, "location", None) or getattr(fmt, "table", "?")
        return f"{ident}:{tier}"

    keys = [_key(fmt, tier) for fmt, tier in pairs]
    if os.path.exists(pin_path):
        with open(pin_path) as f:
            rec = json.load(f)
        # a bare list is a flatten manifest written before the pin moved
        # into the generation: its format differs, so it never matches
        recorded = rec.get("keys") if isinstance(rec, dict) else rec
        if recorded != keys:
            # identity check, not just length: a same-run_id resume with
            # reordered/swapped sources would otherwise compare each
            # baseline against the WRONG store's history and raise a
            # misleading concurrency error
            raise RuntimeError(
                f"pin {pin_path} was recorded for {recorded} but "
                f"this resume validates {keys} — the pass was resumed "
                "with different sources/tiers (or a different order); "
                "use a fresh run_id"
            )
        base = rec["hist"]
    else:
        base = [tier_data_commit_ids(fmt.snapshots(), tier)
                for fmt, tier in pairs]
        os.makedirs(os.path.dirname(pin_path), exist_ok=True)
        tmp = pin_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"keys": keys, "hist": base}, f)
        os.replace(tmp, pin_path)

    def validate(_snapshots=None):
        for (fmt, tier), seen in zip(pairs, base):
            _raise_if_moved(tier, seen,
                            tier_data_commit_ids(fmt.snapshots(), tier))

    return validate


def pin_file(out_dir: str, kind: str, run_id: str,
             tier: str | None = None) -> str:
    """Where a multi-table pass (merge, evolve) persists its
    pinned_tier_validator baseline:
    `<out_dir>/_pins/<kind>[-<tier>]-<run_id>.json`."""
    name = f"{kind}-{tier}-{run_id}" if tier else f"{kind}-{run_id}"
    return os.path.join(out_dir, "_pins", f"{name}.json")


def pin_run_id(path: str) -> str:
    """Inverse of pin_file: the run_id a `_pins/` file belongs to."""
    from spinterps_spark import TIER_SECONDS

    rest = os.path.basename(path)[:-len(".json")].partition("-")[2]
    tier, _, run_id = rest.partition("-")
    return run_id if tier in TIER_SECONDS and run_id else rest


def release_pin(pin_path: str) -> None:
    """Remove a pinned-history file after the pass's final commit."""
    try:
        os.remove(pin_path)
    except FileNotFoundError:
        pass


def iceberg_available(spark) -> bool:
    """True iff the Iceberg Spark runtime is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class IcebergTierTables:
    """Real Iceberg tier tables (requires iceberg-spark-runtime jars and a
    configured catalog — unavailable in this sandbox, exercised by the
    skipped integration test)."""

    def __init__(self, spark, table: str):
        self.spark = spark
        self.table = table  # e.g. "catalog.db.tier_rollups"
        self._created = False

    def commit_tier(self, tier: str, df: DataFrame, location: str,
                    run_props: dict, validate=None) -> str:
        """Append one tier's rows as a single Iceberg commit whose snapshot
        summary carries the run settings (north-rule requirement).
        `validate` is applied against the current snapshot list before the
        write (best-effort; Iceberg's own optimistic commit + serializable
        snapshot isolation is the real concurrency mechanism here)."""
        if validate is not None:
            validate(self.snapshots())
        commit_id = uuid.uuid4().hex
        out = df.withColumn("tier", F.lit(tier))
        writer = out.writeTo(self.table)
        for k, v in {**run_props, "commit_id": commit_id, "tier": tier}.items():
            writer = writer.option(f"snapshot-property.{k}", str(v))
        if not self._created:
            try:
                (
                    writer.partitionedBy(F.col("tier"), F.days(F.col("bucket_ts")))
                    .create()
                )
            except Exception as e:
                # fall through to append ONLY for already-exists; any other
                # create failure (schema mismatch, catalog/permission
                # problems) must surface, not be masked by a retry
                msg = f"{type(e).__name__}: {e}".lower()
                if "already exists" not in msg and "tablealreadyexists" not in msg:
                    raise
                writer.append()
            self._created = True
        else:
            writer.append()
        return commit_id

    def snapshots(self) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT committed_at, snapshot_id, summary FROM {self.table}.snapshots"
        ).collect()
        return [dict(r.summary) | {"snapshot_id": str(r.snapshot_id)} for r in rows]

    def committed(self, run_id: str, stage: str) -> bool:
        return any(
            s.get("run_id") == run_id and s.get("stage") == stage
            for s in self.snapshots()
        )

    def read_tier(self, tier: str) -> DataFrame:
        return self.spark.read.table(self.table).where(F.col("tier") == tier)

    # ---- storage maintenance (r7): Iceberg manages its own data files —
    # the engine's vacuum/compaction delegate to the table procedures
    # instead of walking a filesystem (VERDICT r6 next-step #6)
    manages_files = True

    def _catalog_and_ident(self) -> tuple[str, str]:
        cat, _, ident = self.table.partition(".")
        return cat, ident

    def expire_snapshots(self, retain_last: int) -> list:
        """Iceberg `expire_snapshots` table procedure — the vacuum analog.
        Returns the procedure's result rows (deleted file counts)."""
        cat, ident = self._catalog_and_ident()
        return self.spark.sql(
            f"CALL {cat}.system.expire_snapshots("
            f"table => '{ident}', retain_last => {int(retain_last)})"
        ).collect()

    def rewrite_data_files(self, target_file_mb: float,
                           sort_order: str = "conv_id, chunk_start_ts",
                           where: str | None = None) -> list:
        """Iceberg `rewrite_data_files` (sort strategy) — the compaction
        analog: bin-pack + range clustering on the pruned-read keys.
        `where` scopes the rewrite (e.g. "tier = '1m'"): without it a
        per-tier maintenance schedule would rewrite EVERY tier's files on
        each call (code-review r7 #6)."""
        cat, ident = self._catalog_and_ident()
        tb = int(target_file_mb * (1 << 20))
        scope = (
            ", where => '{}'".format(where.replace("'", "''"))
            if where else ""
        )
        return self.spark.sql(
            f"CALL {cat}.system.rewrite_data_files(table => '{ident}', "
            f"strategy => 'sort', sort_order => '{sort_order}', "
            f"options => map('target-file-size-bytes', '{tb}')"
            f"{scope})"
        ).collect()

    def dir_bytes(self, loc: str) -> int:
        raise RuntimeError(
            "IcebergTierTables.dir_bytes: Iceberg manages its data files — "
            "a posix walk against a warehouse path would silently "
            "mis-measure (or no-op on object storage). Use "
            "expire_snapshots/rewrite_data_files."
        )

    def remove_dir(self, loc: str) -> int:
        raise RuntimeError(
            "IcebergTierTables.remove_dir: never delete warehouse paths "
            "directly — use expire_snapshots (snapshot-aware, object-store "
            "safe)."
        )


class ParquetTierTables:
    """Parquet fallback with the same commit contract. Data files are the
    waved parquet the pipeline already wrote under `location`; a commit is
    one versioned metadata file under _snapshots.d/, claimed atomically
    (Iceberg's vN.metadata.json protocol shape — write temp, fsync,
    hard-link to the next free version, retry-with-revalidation when
    another writer claimed it first). Legacy _snapshots.jsonl lines (pre-r7
    stores) are still read, ordered before the versioned files."""

    # bounded retry: every FileExistsError means ANOTHER writer committed
    # (lock-free system-wide progress), so this is hit only by a pathological
    # writer storm — fail loudly rather than spin forever.
    MAX_COMMIT_ATTEMPTS = 10_000

    def __init__(self, spark, location: str):
        self.spark = spark
        self.location = location
        self._legacy_log = os.path.join(location, "_snapshots.jsonl")
        self._snap_dir = os.path.join(location, "_snapshots.d")

    def _version_files(self) -> list[tuple[int, str]]:
        if not os.path.isdir(self._snap_dir):
            return []
        out = []
        for name in os.listdir(self._snap_dir):
            # crash-orphaned .tmp-* files are invisible to readers
            if name.startswith("v") and name.endswith(".json"):
                try:
                    n = int(name[1:-5])
                except ValueError:
                    continue
                out.append((n, os.path.join(self._snap_dir, name)))
        out.sort()
        return out

    def commit_tier(self, tier: str, df: DataFrame | None, location: str,
                    run_props: dict, validate=None) -> str:
        """Publish one metadata commit; `validate(snapshots)` (optional) is
        re-run under every claim attempt and may raise CommitConflictError
        — the optimistic-concurrency revalidation step."""
        commit_id = uuid.uuid4().hex
        os.makedirs(self._snap_dir, exist_ok=True)
        rec = {
            **{k: str(v) for k, v in run_props.items()},
            "tier": tier,
            "commit_id": commit_id,
            "committed_at": datetime.datetime.now(
                datetime.timezone.utc
            ).isoformat(),
            "data_location": location,
        }
        tmp = os.path.join(self._snap_dir, f".tmp-{commit_id}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            for _attempt in range(self.MAX_COMMIT_ATTEMPTS):
                # List versions FIRST and validate against exactly that
                # listing (ADVICE r7 #1): a commit landing between a
                # validate-then-list pair would be counted into n (so the
                # claim at n succeeds) without ever having been seen by
                # validate — escaping the serializable-isolation check.
                # With list-then-validate, any commit landing after the
                # listing occupies n and forces the FileExistsError
                # retry/revalidation path below.
                versions = self._version_files()
                if validate is not None:
                    validate(self._snapshots_of(versions))
                n = versions[-1][0] + 1 if versions else 1
                target = os.path.join(self._snap_dir, f"v{n:010d}.json")
                try:
                    # atomic claim: exactly one writer can link version N
                    os.link(tmp, target)
                except FileExistsError:
                    continue  # lost the race — revalidate, try N+1
                except OSError as e:
                    # filesystems without hard links (some object-store
                    # mounts, certain tmpfs variants): fall back to
                    # create-exclusive, which gives the same exactly-one-
                    # winner guarantee (VERDICT r7 next-step #6). The
                    # content write happens after the claim; readers
                    # tolerate the (tiny) partial-write window by retrying
                    # a trailing unparseable version file (_read_snapshot).
                    if e.errno not in (
                        errno.EPERM, errno.ENOTSUP, errno.EOPNOTSUPP,
                        errno.ENOSYS, errno.EXDEV,
                    ):
                        raise
                    try:
                        fd = os.open(target,
                                     os.O_WRONLY | os.O_CREAT | os.O_EXCL)
                    except FileExistsError:
                        continue  # lost the race — revalidate, try N+1
                    try:
                        with open(tmp, "rb") as src:
                            os.write(fd, src.read())
                        os.fsync(fd)
                    finally:
                        os.close(fd)
                # durability of the claim itself (the linked name)
                dfd = os.open(self._snap_dir, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
                return commit_id
            raise CommitConflictError(
                f"gave up claiming a snapshot version under "
                f"{self._snap_dir} after {self.MAX_COMMIT_ATTEMPTS} "
                "attempts — writer storm?"
            )
        finally:
            os.unlink(tmp)

    @staticmethod
    def _read_snapshot(path: str) -> dict:
        """Read one versioned commit file. Under the create-exclusive
        fallback (no-hard-link filesystems) the newest version file has a
        tiny window where it exists but is not fully written; retry briefly
        before treating it as corruption."""
        for _retry in range(50):
            try:
                with open(path) as f:
                    return json.load(f)
            except (json.JSONDecodeError, FileNotFoundError):
                time.sleep(0.01)
        with open(path) as f:
            return json.load(f)

    def _snapshots_of(self, versions: list[tuple[int, str]]) -> list[dict]:
        """Snapshots derived from EXACTLY the given version listing (plus
        the immutable legacy log) — the commit path validates against the
        same listing it claims from."""
        out: list[dict] = []
        if os.path.exists(self._legacy_log):
            with open(self._legacy_log) as f:
                out.extend(json.loads(line) for line in f if line.strip())
        for _n, path in versions:
            out.append(self._read_snapshot(path))
        return out

    def snapshots(self) -> list[dict]:
        return self._snapshots_of(self._version_files())

    def committed(self, run_id: str, stage: str) -> bool:
        return any(
            s.get("run_id") == run_id and s.get("stage") == stage
            for s in self.snapshots()
        )

    # ---- storage maintenance (r7): the parquet fallback's files are the
    # engine's own local/posix layout, so the walk is valid HERE and only
    # here (the Iceberg implementation refuses it loudly)
    manages_files = False

    def dir_bytes(self, loc: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(loc):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return total

    def remove_dir(self, loc: str) -> int:
        """Delete a generation directory, returning the bytes freed.
        Idempotent: a missing dir frees 0."""
        import shutil

        if not os.path.isdir(loc):
            return 0
        freed = self.dir_bytes(loc)
        shutil.rmtree(loc)
        return freed

    def file_bytes(self, paths: list[str]) -> int:
        return sum(
            os.path.getsize(p) for p in paths if os.path.exists(p)
        )

    def read_tier(self, tier: str, data_location: str | None = None) -> DataFrame:
        loc = data_location
        if loc is None:
            snaps = [s for s in self.snapshots() if s.get("tier") == tier]
            if not snaps:
                raise FileNotFoundError(f"no commit for tier={tier}")
            loc = snaps[-1]["data_location"]
        return self.spark.read.parquet(os.path.join(loc, "wave=*"))


def remove_commits(location: str, match) -> int:
    """Surgically drop snapshot records where `match(rec)` is true, across
    BOTH log layouts (legacy jsonl lines and versioned files). Owned by the
    format module so crash-simulation tests and break-glass ops never
    hand-parse the layout; returns the number of records removed."""
    removed = 0
    legacy = os.path.join(location, "_snapshots.jsonl")
    if os.path.exists(legacy):
        with open(legacy) as f:
            recs = [json.loads(line) for line in f if line.strip()]
        keep = [r for r in recs if not match(r)]
        removed += len(recs) - len(keep)
        with open(legacy, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in keep)
    snap_dir = os.path.join(location, "_snapshots.d")
    if os.path.isdir(snap_dir):
        for name in os.listdir(snap_dir):
            if not (name.startswith("v") and name.endswith(".json")):
                continue
            path = os.path.join(snap_dir, name)
            with open(path) as f:
                rec = json.load(f)
            if match(rec):
                os.remove(path)
                removed += 1
    return removed


def tier_tables(spark, location: str, iceberg_table: str | None = None):
    """Factory: Iceberg when the runtime is present (and a table identifier
    is given), parquet+sidecar otherwise."""
    if iceberg_table and iceberg_available(spark):
        return IcebergTierTables(spark, iceberg_table)
    return ParquetTierTables(spark, location)
