"""Mega-conversation skew drill for the fused virtual-spine pass
(VERDICT r5 next-step #8): one conversation spanning >= 10^6 minute buckets
must (a) never produce a conversation-sized Arrow group — the rank-based
chunk explosion bounds every (conv, chunk) group at chunk_buckets + 2k rows
— and (b) fill bit-identically to the materialized-spine oracle, whose
single conversation-sized group is exactly the shape the fused pass exists
to avoid. Anchor: operators/gapfill.py gapfill_virtual_chunks;
reference memory-planned chunking: interp/main.py:723-731."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spinterps_spark.operators import gapfill as G
from tests.test_virtual_spine import assert_chunks_equal_filled

T0 = 1_700_000_000 - (1_700_000_000 % 60)
N_SPAN = 1_050_000        # minute buckets spanned by the mega conversation
N_REFS = 4_000            # sparse valid rollup rows inside that span
CHUNK_BUCKETS = 3_840
K = G.DEFAULTS["n_neighbors"]


@pytest.fixture(scope="module")
def fixture_df(spark):
    rng = np.random.RandomState(7)
    idx = np.sort(rng.choice(N_SPAN, N_REFS, replace=False))
    idx[0], idx[-1] = 0, N_SPAN - 1  # pin the span so >= 10^6 buckets
    frames = [pd.DataFrame({
        "conv_id": "mega",
        "bucket_ts": pd.to_datetime(T0 + idx * 60, unit="s"),
        "v": np.round(rng.uniform(1, 50, N_REFS), 2),
    })]
    for c in range(3):  # background conversations, dense and short
        frames.append(pd.DataFrame({
            "conv_id": f"bg{c}",
            "bucket_ts": pd.to_datetime(
                T0 + np.arange(0, 200) * 60 + c * 86400, unit="s"),
            "v": np.round(rng.uniform(1, 50, 200), 2),
        }))
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf), pdf


def test_arrow_groups_bounded_under_mega_conversation(fixture_df):
    """Independent recomputation of the rank-based membership rule: per
    (conv, chunk) group rows = refs whose [lag_k, lead_k] window covers the
    chunk. The planted mega conversation (1.05M-bucket span, deep silence
    holes) must never exceed chunk_buckets + 2k rows in any group —
    the conversation-sized group (4000 rows here, unbounded at 100 TB)
    must not exist."""
    _, pdf = fixture_df
    span = CHUNK_BUCKETS * 60
    sizes = {}
    for conv, sub in pdf.groupby("conv_id"):
        t = np.sort(sub["bucket_ts"].astype("int64").to_numpy() // 10**9)
        tl = np.concatenate([np.full(min(K, len(t)), t[0]), t[:-K] if len(t) > K else []])
        tr = np.concatenate([t[K:] if len(t) > K else [], np.full(min(K, len(t)), t[-1])])
        c_lo = tl // span
        c_hi = tr // span
        counts = {}
        for lo, hi in zip(c_lo, c_hi):
            for c in range(int(lo), int(hi) + 1):
                counts[c] = counts.get(c, 0) + 1
        sizes[conv] = max(counts.values())
    bound = CHUNK_BUCKETS + 2 * K
    assert sizes["mega"] <= bound, sizes
    # and the mega conv genuinely stresses the path: its span crosses
    # hundreds of chunks, its total rows exceed any single group
    n_chunks = (N_SPAN * 60) // span
    assert n_chunks > 250
    assert N_REFS > sizes["mega"]


def test_fused_mega_matches_materialized_oracle(spark, fixture_df):
    """The fused pass over the mega fixture equals the materialized-spine
    path bit-for-bit — including inside multi-chunk silence holes — and
    emits the full >= 10^6-bucket grid."""
    df, _ = fixture_df
    # with_spine operates on rollup-shaped frames; build the spine directly
    # from conversation bounds instead (oracle-side only)
    b = df.groupBy("conv_id").agg(
        F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
    grid = b.select(
        "conv_id",
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 minute"))).alias("bucket_ts"),
    )
    spined = grid.join(df, ["conv_id", "bucket_ts"], "left")

    mat = G.gapfill(spined, "v", method="IDW", tier="1m")
    vir = G.gapfill_virtual_chunks(df, "v", method="IDW", tier="1m",
                                   chunk_buckets=CHUNK_BUCKETS)
    a = assert_chunks_equal_filled(vir, mat)
    assert (a["conv_id"] == "mega").sum() >= 10**6
