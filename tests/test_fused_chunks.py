import numpy as np
import pandas as pd

from spinterps_spark import datagen
from spinterps_spark.compress.gorilla import (
    FUSED_CHUNK, decode_tier_chunks, encode_tier_chunks)
from spinterps_spark.operators import gapfill as G
from spinterps_spark.operators import rollup as R
from spinterps_spark.operators import spine as S
from tests.test_virtual_spine import assert_chunks_equal_filled


def test_fused_equals_separate(spark):
    """The fused virtual-spine pass == materialized fill, then encode:
    the decoded points equal the gapfill rows bit-for-bit, and the chunk
    rows (windows, streams) equal encode_tier_chunks of those rows."""
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=3000)
    h1 = R.rollup_tier(R.base_rollup(t, "1m"), "1h", min_cnt=1)
    h1.persist()
    valid = h1.selectExpr("conv_id", "bucket_ts", "tok_len_sum/turn_cnt AS v")
    ser = S.with_spine(h1, "1h").selectExpr(
        "conv_id", "bucket_ts", "tok_len_sum/turn_cnt AS v"
    )
    # separate: fill -> encode (two shuffles)
    filled = G.gapfill(ser, "v", method="IDW", tier="1h", chunk_buckets=3840)
    sep = encode_tier_chunks(filled.where("value_filled IS NOT NULL"), "1h",
                             chunk_size=FUSED_CHUNK)
    # fused: one grouped pass, no materialized spine
    fus = G.gapfill_virtual_chunks(valid, "v", method="IDW", tier="1h",
                                   chunk_buckets=3840)
    assert_chunks_equal_filled(fus, filled)
    key = ["conv_id", "chunk_start_ts"]
    a = sep.toPandas().sort_values(key).reset_index(drop=True)
    b = fus.select(*sep.columns).toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    h1.unpersist()


def _rollup_metrics(spark):
    t = datagen.transcripts_spark(spark, seed=42, n_turns_target=3000)
    return (
        R.rollup_tier(R.base_rollup(t, "1m"), "1h", min_cnt=1)
        .where("valid")
        .selectExpr(
            "conv_id", "bucket_ts",
            "tok_len_sum/turn_cnt AS m_tok",
            "CAST(turn_cnt AS DOUBLE) AS m_cnt",
            "role_user_cnt/CAST(turn_cnt AS DOUBLE) AS m_user",
        )
    )


def _decoded(df):
    return (
        decode_tier_chunks(df).toPandas()
        .sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )


def test_multi_metric_fused_equals_per_metric_singles_idw(spark):
    """k metrics through ONE fused pass == k independent single-metric
    passes, bit-for-bit per metric. One shuffle and one grouped kernel
    instead of k — at 100 TB this is the difference between maintaining
    one chunk table per metric and one pass total."""
    ser = _rollup_metrics(spark)
    ser.persist()
    multi = G.gapfill_virtual_chunks(
        ser, "m_tok", method="IDW", tier="1h",
        extra_value_cols=["m_cnt", "m_user"])
    assert "metric" in multi.columns
    for m in ("m_tok", "m_cnt", "m_user"):
        single = G.gapfill_virtual_chunks(ser, m, method="IDW", tier="1h")
        a = _decoded(multi.where(f"metric = '{m}'").drop("metric"))
        b = _decoded(single)
        assert len(a) == len(b) and len(a) > 0
        av, bv = a["value"].to_numpy(), b["value"].to_numpy()
        assert (a["bucket_ts"].to_numpy() == b["bucket_ts"].to_numpy()).all()
        assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all(), m
    ser.unpersist()


def test_multi_metric_fused_equals_singles_ok_kriging(spark):
    """Same equality under OK: the pinv cache keys on (method, vg_str,
    relative ref-time geometry), identical across a conversation's
    metrics, so the shared-solve fast path must be bit-identical to the
    per-metric solves it replaces."""
    ser = _rollup_metrics(spark)
    ser.persist()
    convs = ser.select("conv_id").distinct()
    coords = convs.selectExpr("conv_id", "abs(xxhash64(conv_id)) % 4 AS cluster_id")
    vg = spark.createDataFrame(
        [(c, "1.0 Sph(7200.0)") for c in range(4)],
        "cluster_id int, vg_str string")
    kwargs = dict(method="OK", tier="1h", coords=coords, vg_dim=vg)
    multi = G.gapfill_virtual_chunks(
        ser, "m_tok", extra_value_cols=["m_cnt"], **kwargs)
    for m in ("m_tok", "m_cnt"):
        single = G.gapfill_virtual_chunks(ser, m, **kwargs)
        a = _decoded(multi.where(f"metric = '{m}'").drop("metric"))
        b = _decoded(single)
        assert len(a) == len(b) and len(a) > 0
        av, bv = a["value"].to_numpy(), b["value"].to_numpy()
        assert ((av == bv) | (np.isnan(av) & np.isnan(bv))).all(), m
    ser.unpersist()
