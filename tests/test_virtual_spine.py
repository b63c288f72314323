import numpy as np
import pytest
from pyspark.sql import functions as F

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.operators import gapfill as G
from spinterps_spark.operators import rollup as R
from spinterps_spark.operators import spine as S


@pytest.fixture(scope="module")
def parts(spark):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=4000)
    h1 = R.rollup_tier(R.base_rollup(t, "1m"), "1h", min_cnt=1)
    ser_valid = h1.select(
        "conv_id", "bucket_ts",
        (F.col("tok_len_sum") / F.col("turn_cnt")).alias("v"),
    )
    spined = S.with_spine(h1, "1h").select(
        "conv_id", "bucket_ts",
        (F.col("tok_len_sum") / F.col("turn_cnt")).alias("v"),
    )
    return ser_valid, spined


def _decode_sorted(chunks):
    return (
        decode_tier_chunks(chunks).toPandas()
        .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )


def assert_chunks_equal_filled(chunks, filled):
    """Decoded virtual-spine chunks == the materialized gapfill rows,
    bit-for-bit: same (conv_id, bucket_ts) points and value bits. The codec
    is lossless and never stores an unfillable (NULL/NaN) point, so those
    rows are dropped from `filled` first. Returns the decoded points."""
    a = _decode_sorted(chunks)
    b = (
        filled.where("value_filled IS NOT NULL AND NOT isnan(value_filled)")
        .select("conv_id", "bucket_ts", "value_filled").toPandas()
        .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert (a["conv_id"].to_numpy() == b["conv_id"].to_numpy()).all()
    assert (a["bucket_ts"].to_numpy() == b["bucket_ts"].to_numpy()).all()
    assert (a["value"].to_numpy().view(np.int64)
            == b["value_filled"].to_numpy().view(np.int64)).all()
    return a


@pytest.mark.parametrize("method", ["IDW", "NNB"])
def test_virtual_equals_materialized_global(spark, parts, method):
    """Virtual-spine fused chunks == materialized-spine unchunked fill,
    bit-for-bit after decode (the rank-based chunk membership must
    reproduce global k-NN semantics, including inside silence holes)."""
    ser_valid, spined = parts
    mat = G.gapfill(spined, "v", method=method, tier="1h")
    vir = G.gapfill_virtual_chunks(ser_valid, "v", method=method, tier="1h",
                                   chunk_buckets=3840)
    assert_chunks_equal_filled(vir, mat)


def test_virtual_ok_with_vg(spark, parts):
    ser_valid, spined = parts
    n_convs = ser_valid.select("conv_id").distinct().count()
    coords = datagen.conv_coords_spark(spark, 42, n_convs)
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(8)], "cluster_id int, vg_str string"
    )
    mat = G.gapfill(spined, "v", method="OK", tier="1h",
                    coords=coords, vg_dim=vg)
    vir = G.gapfill_virtual_chunks(ser_valid, "v", method="OK", tier="1h",
                                   coords=coords, vg_dim=vg, chunk_buckets=3840)
    assert_chunks_equal_filled(vir, mat)


def _drift_table(spined):
    """Deterministic per-(conv, bucket) covariates over the FULL spine
    (with_drift's coverage contract): one smooth time term, one conv-keyed
    term — time-varying, so EDK != OK and the lookup path is really used."""
    return spined.select(
        "conv_id", "bucket_ts",
        F.sin(F.unix_timestamp("bucket_ts") / F.lit(86400.0)).alias("d1"),
        (F.pmod(F.xxhash64("conv_id"), F.lit(97)).cast("double") / 97.0
         + F.unix_timestamp("bucket_ts") / F.lit(1e9)).alias("d2"),
    )


def test_virtual_edk_with_drift_equals_materialized(spark, parts):
    """VERDICT r5 next-step #4: external-drift kriging through the fused
    virtual-spine path — gap-point covariates come from chunk-assigned
    drift-table rows looked up by exact bucket — must equal the
    materialized with_drift path bit-for-bit."""
    ser_valid, spined = parts
    n_convs = ser_valid.select("conv_id").distinct().count()
    coords = datagen.conv_coords_spark(spark, 42, n_convs)
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(8)], "cluster_id int, vg_str string"
    )
    drift = _drift_table(spined)
    dcols = ["d1", "d2"]
    mat = G.gapfill(
        G.with_drift(spined, drift, dcols), "v", method="EDK", tier="1h",
        coords=coords, vg_dim=vg, drift_cols=dcols,
    )
    vir = G.gapfill_virtual_chunks(
        ser_valid, "v", method="EDK", tier="1h", coords=coords, vg_dim=vg,
        drift=drift, drift_cols=dcols, chunk_buckets=3840,
    )
    assert_chunks_equal_filled(vir, mat)


def test_virtual_edk_chunk_size_independent(spark, parts):
    """Drift rows land one-chunk-each, so chunk size changes which drift
    rows co-group with which refs; fills must be identical anyway — probe
    with chunks small enough that silence holes span several wholly-empty
    (drift-only, skipped) chunks."""
    ser_valid, spined = parts
    n_convs = ser_valid.select("conv_id").distinct().count()
    coords = datagen.conv_coords_spark(spark, 42, n_convs)
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(8)], "cluster_id int, vg_str string"
    )
    drift = _drift_table(spined)
    dcols = ["d1", "d2"]
    a = _decode_sorted(G.gapfill_virtual_chunks(
        ser_valid, "v", method="EDK", tier="1h", coords=coords, vg_dim=vg,
        drift=drift, drift_cols=dcols, chunk_buckets=240, gorilla_chunk=120))
    b = _decode_sorted(G.gapfill_virtual_chunks(
        ser_valid, "v", method="EDK", tier="1h", coords=coords, vg_dim=vg,
        drift=drift, drift_cols=dcols, chunk_buckets=7680, gorilla_chunk=120))
    assert len(a) == len(b)
    av, bv = a["value"].to_numpy(), b["value"].to_numpy()
    assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all()


def test_virtual_small_chunks_equal_large(spark, parts):
    """Chunk size must not affect results (rank-based membership is
    size-independent) — probe with chunks small enough that silence holes
    span multiple wholly-empty chunks."""
    ser_valid, _ = parts
    a = _decode_sorted(
        G.gapfill_virtual_chunks(ser_valid, "v", tier="1h", chunk_buckets=240,
                                 gorilla_chunk=120)
    )
    b = _decode_sorted(
        G.gapfill_virtual_chunks(ser_valid, "v", tier="1h", chunk_buckets=7680,
                                 gorilla_chunk=120)
    )
    assert len(a) == len(b)
    av, bv = a["value"].to_numpy(), b["value"].to_numpy()
    assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all()
