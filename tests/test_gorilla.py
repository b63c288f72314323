import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from spinterps_spark.compress import gorilla as GZ


def test_known_small_vector():
    ts = np.array([0, 60, 120, 180, 300, 301], dtype=np.int64)
    vs = np.array([1.5, 1.5, 2.0, -3.25, np.nan, 0.0])
    c = GZ.encode_chunk(ts, vs)
    t2, v2 = GZ.decode_chunk(c)
    assert (t2 == ts).all()
    assert (v2.view(np.uint64) == vs.view(np.uint64)).all()


def test_dod_range_boundaries_roundtrip():
    """ADVICE r1 (high): dod values 64/256/2048 fell into 7/9/12-bit two's
    complement payloads and decoded as -64/-256/-2048. Ranges are now
    symmetric with the payload; every boundary must roundtrip exactly."""
    # the exact repro from the advisor: dod = 64
    ts = np.array([1000, 1100, 1264], dtype=np.int64)
    c = GZ.encode_chunk(ts, np.zeros(3))
    t2, _ = GZ.decode_chunk(c)
    assert (t2 == ts).all()

    # each class boundary, both signs, including the first out-of-class value
    for dod in (63, 64, -64, -65, 255, 256, -256, -257,
                2047, 2048, -2048, -2049, 1 << 40, -(1 << 40)):
        deltas = np.array([100, 100 + dod], dtype=np.int64)
        ts = np.concatenate(([0], np.cumsum(deltas))).astype(np.int64)
        c = GZ.encode_chunk(ts, np.zeros(3))
        t2, _ = GZ.decode_chunk(c)
        assert (t2 == ts).all(), f"dod={dod}: {t2} != {ts}"


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=-(1 << 33), max_value=1 << 33),
                min_size=0, max_size=32))
def test_dod_roundtrip_any_deltas(deltas):
    """Timestamps need not ascend for the codec itself to be self-inverse."""
    ts = np.cumsum([1_700_000_000] + deltas).astype(np.int64)
    c = GZ.encode_ts(ts)
    t2 = GZ.decode_ts(int(ts[0]), c, len(ts))
    assert (t2 == ts).all()


def test_constant_series_compresses_hard():
    ts = np.arange(0, 120 * 60, 60, dtype=np.int64)
    vs = np.full(120, 42.5)
    c = GZ.encode_chunk(ts, vs)
    # 119 dod zeros -> ~15 bytes; 119 xor zeros -> ~15 bytes
    assert len(c["ts_d2d"]) <= 8 + 16
    assert len(c["vals_xor"]) <= 16
    t2, v2 = GZ.decode_chunk(c)
    assert (t2 == ts).all() and (v2 == vs).all()


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=3 * 86400), min_size=0, max_size=64),
    st.data(),
)
def test_roundtrip_property(deltas, data):
    n = len(deltas) + 1
    ts = np.cumsum([1_700_000_000] + deltas).astype(np.int64)
    vs = np.array(
        data.draw(
            st.lists(
                st.floats(allow_nan=True, allow_infinity=True, width=64),
                min_size=n, max_size=n,
            )
        )
    )
    c = GZ.encode_chunk(ts, vs)
    t2, v2 = GZ.decode_chunk(c)
    assert (t2 == ts).all()
    assert (v2.view(np.uint64) == vs.view(np.uint64)).all()


def test_spark_chunk_roundtrip(spark):
    rng = np.random.RandomState(1)
    rows = []
    for conv in ("c1", "c2"):
        ts = pd.to_datetime(
            1_700_000_000 + np.cumsum(rng.randint(60, 7200, 300)), unit="s"
        )
        vals = np.round(rng.uniform(0, 50, 300), 2)
        rows.append(pd.DataFrame({"conv_id": conv, "bucket_ts": ts, "value_filled": vals}))
    pdf = pd.concat(rows, ignore_index=True)
    df = spark.createDataFrame(pdf)

    chunks = GZ.encode_tier_chunks(df, "1h", chunk_size=120)
    cp = chunks.toPandas()
    assert (cp["n"] <= 120).all()
    assert len(cp) == 2 * int(np.ceil(300 / 120))

    back = (
        GZ.decode_tier_chunks(chunks)
        .toPandas()
        .sort_values(["conv_id", "bucket_ts"])
        .reset_index(drop=True)
    )
    want = pdf.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    assert (back["bucket_ts"].to_numpy() == want["bucket_ts"].to_numpy()).all()
    assert (back["value"].to_numpy() == want["value_filled"].to_numpy()).all()

    # compression: binary payload much smaller than raw 16 bytes/point
    raw = 16 * len(pdf)
    enc = int((cp["ts_d2d"].str.len() + cp["vals_xor"].str.len()).sum()) + 24 * len(cp)
    assert enc < raw


def test_read_chunks_pruned_selects_exactly_and_pushes_filters(spark, tmp_path):
    """S3/S4 analog: the pruned cube read returns exactly the full
    decode filtered to (conv, time-range), and the chunk_start_ts /
    conv_id predicates reach the parquet scan (PushedFilters) so
    non-matching chunks are never decoded."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from spinterps_spark import datagen
    from spinterps_spark.compress import gorilla as GZ
    from spinterps_spark.operators import rollup as R

    t = datagen.transcripts_spark(spark, seed=7, n_turns_target=4000)
    h1 = R.rollup_tier(R.base_rollup(t, "1m"), "1h", min_cnt=1)
    ser = h1.selectExpr("conv_id", "bucket_ts",
                        "tok_len_sum / turn_cnt AS value")
    chunks = GZ.encode_tier_chunks(ser, "1h", value_col="value")
    path = str(tmp_path / "chunks")
    chunks.write.parquet(path)

    full = GZ.decode_tier_chunks(spark.read.parquet(path)).toPandas()
    convs = sorted(full["conv_id"].unique())[:3]
    ts = full["bucket_ts"].astype("int64") // 10**9
    t_min = int(ts.quantile(0.25)); t_max = int(ts.quantile(0.75))

    pruned = GZ.read_chunks_pruned(
        spark, path, "1h", conv_ids=convs, t_min=t_min, t_max=t_max
    )
    got = pruned.toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    m = full["conv_id"].isin(convs) & (ts >= t_min) & (ts <= t_max)
    want = full[m].sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)

    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    assert "chunk_start_ts" in plan.split("PushedFilters", 1)[1][:400]


def test_read_chunks_pruned_filters_tier_in_mixed_table(spark, tmp_path):
    """Review r5: a chunk table holding SEVERAL tiers (CHUNK_SCHEMA carries
    tier) must return only the requested tier from the pruned read."""
    from spinterps_spark import datagen
    from spinterps_spark.compress import gorilla as GZ
    from spinterps_spark.operators import rollup as R

    t = datagen.transcripts_spark(spark, seed=7, n_turns_target=2000)
    path = str(tmp_path / "chunks")
    for tier in ("1m", "1h"):
        r = R.rollup_tier(R.base_rollup(t, "1m"), tier, min_cnt=1) \
            if tier != "1m" else R.base_rollup(t, "1m")
        ser = r.selectExpr("conv_id", "bucket_ts",
                           "tok_len_sum / turn_cnt AS value")
        GZ.encode_tier_chunks(ser, tier, value_col="value").write.mode(
            "append"
        ).parquet(path)
    out = GZ.read_chunks_pruned(spark, path, "1h").toPandas()
    assert set(out["tier"]) == {"1h"}
    want = (
        GZ.decode_tier_chunks(
            spark.read.parquet(path).where("tier = '1h'")
        ).count()
    )
    assert len(out) == want


def test_read_chunks_pruned_derives_span_from_table(spark, tmp_path):
    """VERDICT r5 #1 / ADVICE r5: the encode-time chunk_size travels with
    the data (CHUNK_SCHEMA column), so the pruned read derives its span
    from the table — no caller claim to get wrong. The adversarial case
    the old max(n) guard missed — every chunk UNDERFILLED (sparse series,
    n far below chunk_size) — must still read exactly."""
    from spinterps_spark.compress import gorilla as GZ

    # sparse series: 1 point every 50 hours -> every chunk_size=180 chunk
    # holds ~4 points, so ANY wrong-span claim would have been undetectable
    n = 40
    pdf = pd.DataFrame({
        "conv_id": "c",
        "bucket_ts": pd.to_datetime(np.arange(n) * 50 * 3600, unit="s"),
        "value_filled": np.arange(n, dtype="float64"),
    })
    chunks = GZ.encode_tier_chunks(
        spark.createDataFrame(pdf), "1h", chunk_size=180
    )
    path = str(tmp_path / "chunks")
    chunks.write.parquet(path)
    cp = spark.read.parquet(path).toPandas()
    assert (cp["chunk_size"] == 180).all()
    assert (cp["n"] < 180).all()  # underfilled: the old guard was blind here

    t_min = int(pdf["bucket_ts"].astype("int64").quantile(0.3)) // 10**9
    t_max = int(pdf["bucket_ts"].astype("int64").quantile(0.9)) // 10**9
    out = (
        GZ.read_chunks_pruned(spark, path, "1h", t_min=t_min, t_max=t_max)
        .toPandas().sort_values("bucket_ts").reset_index(drop=True)
    )
    ts = pdf["bucket_ts"].astype("int64") // 10**9
    want = pdf[(ts >= t_min) & (ts <= t_max)].reset_index(drop=True)
    assert len(out) == len(want) > 0
    assert (out["bucket_ts"].to_numpy() == want["bucket_ts"].to_numpy()).all()
    assert (out["value"].to_numpy() == want["value_filled"].to_numpy()).all()


def test_read_chunks_pruned_mixed_encode_sizes(spark, tmp_path):
    """A table appended under DIFFERENT encode-time chunk_sizes still reads
    correctly: max(chunk_size) gives the loosest (superset) scan bound and
    the exact trim restores the range."""
    from spinterps_spark.compress import gorilla as GZ

    n = 300
    path = str(tmp_path / "chunks")
    pdfs = []
    for conv, size in (("a", 120), ("b", 240)):
        pdf = pd.DataFrame({
            "conv_id": conv,
            "bucket_ts": pd.to_datetime(np.arange(n) * 3600, unit="s"),
            "value_filled": np.arange(n, dtype="float64") + (size / 10.0),
        })
        pdfs.append(pdf)
        GZ.encode_tier_chunks(
            spark.createDataFrame(pdf), "1h", chunk_size=size
        ).write.mode("append").parquet(path)
    allp = pd.concat(pdfs, ignore_index=True)
    t_min, t_max = 100 * 3600, 200 * 3600
    out = (
        GZ.read_chunks_pruned(spark, path, "1h", t_min=t_min, t_max=t_max)
        .toPandas().sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)
    )
    ts = allp["bucket_ts"].astype("int64") // 10**9
    want = allp[(ts >= t_min) & (ts <= t_max)].sort_values(
        ["conv_id", "bucket_ts"]).reset_index(drop=True)
    assert len(out) == len(want) > 0
    assert (out["value"].to_numpy() == want["value_filled"].to_numpy()).all()


def test_read_chunks_pruned_legacy_table_raises(spark, tmp_path):
    """A pre-r6 table (no chunk_size column) cannot be span-pruned safely;
    a time-ranged read must raise loudly, not silently over-prune."""
    import pytest

    from spinterps_spark.compress import gorilla as GZ

    pdf = pd.DataFrame({
        "conv_id": "c",
        "bucket_ts": pd.to_datetime(np.arange(10) * 3600, unit="s"),
        "value_filled": np.arange(10, dtype="float64"),
    })
    legacy = GZ.encode_tier_chunks(spark.createDataFrame(pdf), "1h") \
        .drop("chunk_size")
    path = str(tmp_path / "chunks")
    legacy.write.parquet(path)
    with pytest.raises(ValueError, match="chunk_size"):
        GZ.read_chunks_pruned(spark, path, "1h", t_min=0).count()
    # untimed reads (no span needed) still work on legacy tables
    assert GZ.read_chunks_pruned(spark, path, "1h").count() == 10
