"""Compaction pass (file bin-pack + sort-locality rewrite, the Iceberg
rewrite_data_files analog): content-preserving, resumable, published by an
atomic snapshot commit, and pruned reads stay correct on the compacted
generation."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks, read_chunks_pruned
from spinterps_spark.plans.compaction import run_compaction_pass
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.retention import read_tier_chunks
from spinterps_spark.sources.tableformat import tier_tables


@pytest.fixture(scope="module")
def piped(spark, tmp_path_factory):
    """A fragmented chunk table: many waves -> many small files."""
    tdir = str(tmp_path_factory.mktemp("compaction"))
    t = datagen.transcripts_spark(spark, seed=21, n_turns_target=4000)
    run_retention_pipeline(spark, t, tdir, tiers=("1m",), n_waves=4,
                           run_id="base")
    return tdir


def _points(spark, tdir, tier):
    return (
        decode_tier_chunks(read_tier_chunks(spark, tdir, tier))
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )


def test_compaction_preserves_content_and_packs_files(spark, piped):
    before = _points(spark, piped, "1m")
    files_before = spark.read.parquet(
        os.path.join(piped, "chunks/tier=1m/wave=*")
    ).inputFiles()

    m = run_compaction_pass(spark, piped, "1m", target_file_mb=1,
                            run_id="cmp1")
    assert m["commit"] not in (None, "skipped")
    # the 4-wave table bin-packs to the byte-derived target (1 file here)
    assert m["files_before"] == len(files_before) > m["files_after"]
    assert m["files_after"] == 1

    after = _points(spark, piped, "1m")
    pd.testing.assert_frame_equal(after, before)

    # commit row carries the rewrite lineage
    snaps = tier_tables(spark, os.path.join(piped, "chunks")).snapshots()
    rec = [s for s in snaps if s.get("stage") == "compaction:1m"][-1]
    assert int(rec["files_after"]) == m["files_after"]
    assert int(rec["bytes_before"]) > 0


def test_compaction_same_run_id_is_noop(spark, piped):
    fmt = tier_tables(spark, os.path.join(piped, "chunks"))
    n_before = len(fmt.snapshots())
    m = run_compaction_pass(spark, piped, "1m", target_file_mb=1,
                            run_id="cmp1")
    assert m["commit"] == "skipped"
    assert len(fmt.snapshots()) == n_before


def test_compacted_generation_is_range_clustered(spark, piped):
    """Each output file's (conv_id) span is disjoint from the others' —
    the property that keeps file-level stats useful for pruned reads.
    A single output file would make the check vacuous, so this pass runs
    at a sub-MiB byte target that forces >= 2 files."""
    m = run_compaction_pass(spark, piped, "1m", target_file_mb=0.02,
                            run_id="cmp_multi")
    assert m["files_after"] >= 2
    snaps = tier_tables(spark, os.path.join(piped, "chunks")).snapshots()
    rec = [s for s in snaps if s.get("stage") == "compaction:1m"][-1]
    assert rec["run_id"] == "cmp_multi"
    gen = rec["data_location"]
    df = spark.read.parquet(os.path.join(gen, "wave=*"))
    spans = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("conv_id").alias("lo"), F.max("conv_id").alias("hi"))
        .toPandas()
        .sort_values("lo")
        .reset_index(drop=True)
    )
    for i in range(1, len(spans)):
        assert spans.loc[i, "lo"] >= spans.loc[i - 1, "hi"]


def test_pruned_read_correct_on_compacted_generation(spark, piped):
    """read_chunks_pruned over the compacted generation == the plain decode
    filtered to the same conv/time slice (chunk_size survives the rewrite,
    so span derivation still works)."""
    snaps = tier_tables(spark, os.path.join(piped, "chunks")).snapshots()
    rec = [s for s in snaps if s.get("stage") == "compaction:1m"][-1]
    gen_glob = os.path.join(rec["data_location"], "wave=*")

    full = decode_tier_chunks(spark.read.parquet(gen_glob)).toPandas()
    ts = full["bucket_ts"].astype("int64") // 10**9
    t_lo, t_hi = int(ts.quantile(0.25)), int(ts.quantile(0.75))
    convs = sorted(full["conv_id"].unique())[::2]

    got = (
        read_chunks_pruned(spark, gen_glob, "1m", conv_ids=list(convs),
                           t_min=t_lo, t_max=t_hi)
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = (
        full[(full["conv_id"].isin(convs)) & (ts >= t_lo) & (ts <= t_hi)]
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_compaction_composes_with_retention(spark, tmp_path):
    """retention -> compaction: the compacted generation equals the
    retained one bit-for-bit and becomes the published read path."""
    from spinterps_spark.plans.retention import run_retention_pass

    tdir = str(tmp_path)
    t = datagen.transcripts_spark(spark, seed=22, n_turns_target=2500)
    run_retention_pipeline(spark, t, tdir, tiers=("1m",), n_waves=2,
                           run_id="base")
    pdf = _points(spark, tdir, "1m")
    horizon = int((pdf["bucket_ts"].astype("int64") // 10**9).quantile(0.5))
    run_retention_pass(spark, tdir, "1m", horizon, run_id="ret", n_waves=2)
    retained = _points(spark, tdir, "1m")
    assert len(retained) < len(pdf)

    m = run_compaction_pass(spark, tdir, "1m", target_file_mb=1, run_id="cmp")
    compacted = _points(spark, tdir, "1m")
    pd.testing.assert_frame_equal(compacted, retained)
    # reader flipped to the compacted generation
    snaps = tier_tables(spark, os.path.join(tdir, "chunks")).snapshots()
    assert snaps[-1]["stage"] == "compaction:1m"
    assert "chunks_compacted" in snaps[-1]["data_location"]
    assert m["files_after"] <= m["files_before"]


def test_compaction_stamps_the_published_chunk_size_max(spark, piped):
    snaps = tier_tables(spark, os.path.join(piped, "chunks")).snapshots()
    for rec in (s for s in snaps if s.get("stage") == "compaction:1m"):
        gen_max = spark.read.parquet(
            os.path.join(rec["data_location"], "wave=*")
        ).agg(F.max("chunk_size")).first()[0]
        assert int(rec["chunk_size_max"]) == gen_max
