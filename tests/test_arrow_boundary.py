"""The Arrow-native kernel boundary: the batch codec reading and writing
Binary columns directly, the mapInArrow decode, the stitcher carrying a
group across batches, and the worker entry that keeps Spark's immutable
archives from being re-scanned on every task."""

import uuid
import zipfile

import numpy as np
import pyarrow as pa
import pytest

from spinterps_spark.compress import gorilla as GZ
from spinterps_spark.compress.gorilla import decode_ts, decode_vals, encode_chunk
from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many,
    decode_vals_many,
    encode_ts_binary,
    encode_ts_many,
    encode_vals_binary,
    encode_vals_many,
)
from spinterps_spark.operators.grouped import apply_grouped_batches, column

from tests.test_gorilla_vec import _adversarial_groups


@pytest.fixture(scope="module")
def chunks():
    groups = _adversarial_groups()
    # n == 1 chunks: both streams empty
    groups += [(np.array([1_700_000_000 + i], np.int64), np.array([i + 0.5]))
               for i in range(5)]
    return [encode_chunk(ts, vals) for ts, vals in groups]


def _arrays(chunks, binary_type=pa.binary(), pad=0):
    """(ns, first_ts, first_val, ts column, vals column); with pad > 0 the
    columns are slices at array offset `pad` of longer arrays."""
    junk = [b"\xff" * 9] * pad
    ts_col = pa.array(junk + [c["ts_d2d"] for c in chunks] + junk, binary_type)
    vs_col = pa.array(junk + [c["vals_xor"] for c in chunks] + junk, binary_type)
    if pad:
        ts_col = ts_col.slice(pad, len(chunks))
        vs_col = vs_col.slice(pad, len(chunks))
        assert ts_col.offset == pad
    ns = np.array([c["n"] for c in chunks], np.int64)
    fts = np.array([c["first_ts"] for c in chunks], np.int64)
    fvs = np.array([c["first_val"] for c in chunks], np.float64)
    return ns, fts, fvs, ts_col, vs_col


def _assert_scalar_equal(chunks, ns, ts, vals):
    off = 0
    for c, n in zip(chunks, ns.tolist()):
        exp_ts = decode_ts(c["first_ts"], c["ts_d2d"], n)
        exp_vs = decode_vals(c["first_val"], c["vals_xor"], n)
        assert np.array_equal(ts[off:off + n], exp_ts)
        assert np.array_equal(vals[off:off + n].view(np.uint64),
                              exp_vs.view(np.uint64))
        off += n
    assert off == len(ts) == len(vals)


@pytest.mark.parametrize("binary_type", [pa.binary(), pa.large_binary()])
@pytest.mark.parametrize("pad", [0, 3])
def test_arrow_decode_equals_scalar(chunks, binary_type, pad):
    ns, fts, fvs, ts_col, vs_col = _arrays(chunks, binary_type, pad)
    ts = decode_ts_many(fts, ts_col, ns)
    vals = decode_vals_many(fvs, vs_col, ns)
    _assert_scalar_equal(chunks, ns, ts, vals)


def test_arrow_decode_all_empty_streams():
    """n == 1 chunks only: both Binary columns hold nothing but empty
    streams. Spark sends their data buffer with size 0; pyarrow 16 turns a
    missing (None) data buffer into a size-0 one on construction and on C
    import, so the size-0 buffer is the case a kernel can receive."""
    C = 4
    empty = pa.array([b""] * C, pa.binary())
    assert empty.buffers()[2].size == 0
    ns = np.ones(C, np.int64)
    fts = np.arange(C, dtype=np.int64) * 60
    fvs = np.array([1.5, -0.0, np.nan, 7.0])
    assert np.array_equal(decode_ts_many(fts, empty, ns), fts)
    assert np.array_equal(decode_vals_many(fvs, empty, ns).view(np.uint64),
                          fvs.view(np.uint64))
    assert np.array_equal(decode_ts_many(fts[1:], empty.slice(1), ns[1:]),
                          fts[1:])


def test_arrow_encode_byte_identical_to_lists():
    groups = _adversarial_groups()
    ts_flat = np.concatenate([g[0] for g in groups])
    v_flat = np.concatenate([g[1] for g in groups])
    lens = np.array([len(g[0]) for g in groups])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ts_bin = encode_ts_binary(ts_flat, starts)
    vs_bin = encode_vals_binary(v_flat, starts)
    assert ts_bin.type == vs_bin.type == pa.binary()
    assert ts_bin.to_pylist() == encode_ts_many(ts_flat, starts)
    assert vs_bin.to_pylist() == encode_vals_many(v_flat, starts)
    none = np.zeros(0, np.int64)
    assert len(encode_ts_binary(none, none)) == 0
    assert len(encode_vals_binary(np.zeros(0), none)) == 0


def test_chunk_batch_matches_scalar_chunks():
    groups = _adversarial_groups()[:60]
    t = np.concatenate([g[0] for g in groups])
    v = np.concatenate([g[1] for g in groups])
    lens = np.array([len(g[0]) for g in groups])
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    labels = pa.array([f"c{i}" for i in range(len(groups))])
    b = GZ.chunk_batch(labels, "1m", t, v, starts, 120)
    assert b.schema == GZ.chunk_arrow_schema()
    for i, (ts, vals) in enumerate(groups):
        c = encode_chunk(ts, vals)
        row = {k: b.column(k)[i].as_py() for k in b.schema.names}
        assert row["conv_id"] == f"c{i}" and row["tier"] == "1m"
        assert row["n"] == c["n"] and row["first_ts"] == c["first_ts"]
        assert row["ts_d2d"] == c["ts_d2d"]
        assert row["vals_xor"] == c["vals_xor"]
        assert row["chunk_size"] == 120
        assert row["chunk_start_ts"].timestamp() == c["first_ts"]


def test_spark_decode_multi_metric_equals_scalar(spark, chunks):
    # chunks whose timestamps fit Spark's microsecond range; the decode
    # itself is exercised on the full suite above
    rows = [(f"conv{i % 7}", "1m", c["first_ts"], c["n"], c["first_ts"],
             c["first_val"], c["ts_d2d"], c["vals_xor"], 120, ("v", "w")[i % 2])
            for i, c in enumerate(chunks)
            if decode_ts(c["first_ts"], c["ts_d2d"], c["n"]).max() < 2**40]
    df = spark.createDataFrame(
        rows, "conv_id string, tier string, _cs long, n int, first_ts long, "
        "first_val double, ts_d2d binary, vals_xor binary, chunk_size int, "
        "metric string").selectExpr(
        "conv_id", "tier", "timestamp_seconds(_cs) as chunk_start_ts", "n",
        "first_ts", "first_val", "ts_d2d", "vals_xor", "chunk_size", "metric")
    # a batch of n == 1 chunks only decodes off all-empty Binary columns
    for part, only_n1 in ((df.repartition(3), False),
                          (df.where("n = 1").coalesce(1), True)):
        out = (GZ.decode_tier_chunks(part)
               .selectExpr("conv_id", "tier", "metric",
                           "unix_micros(bucket_ts) as us", "value").collect())
        got = sorted((r.conv_id, r.tier, r.metric, r.us,
                      np.float64(r.value).view(np.uint64).item())
                     for r in out)
        exp = []
        for r in rows:
            if only_n1 and r[3] != 1:
                continue
            ts = decode_ts(r[4], r[6], r[3])
            vs = decode_vals(r[5], r[7], r[3])
            exp += [(r[0], r[1], r[9], int(t) * 1_000_000,
                     np.float64(v).view(np.uint64).item())
                    for t, v in zip(ts, vs)]
        assert got and got == sorted(exp)


def test_stitcher_carries_group_across_three_batches(spark):
    sizes = {"a": 1, "b": 25, "c": 3, "d": 40, "e": 2, "f": 17}
    data = [(k, i) for k, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(data, "k string, o long")

    def per_group(batch, starts):
        ends = np.append(starts[1:], batch.num_rows)
        o = column(batch, "o", np.int64)
        keys = batch.column("k").to_pylist()
        return pa.RecordBatch.from_arrays([
            pa.array([keys[s] for s in starts]),
            pa.array((ends - starts).astype(np.int64)),
            pa.array([bool((np.diff(o[s:e]) == 1).all()) and o[s] == 0
                      for s, e in zip(starts, ends)]),
        ], names=["k", "cnt", "contiguous"])

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = apply_grouped_batches(
            df, ["k"], "o", per_group,
            "k string, cnt long, contiguous boolean", n_parts=1).collect()
    finally:
        spark.conf.set(key, old)
    # every group arrives whole, in order, exactly once — "d" spans 6
    # batches of 7 rows
    assert {r.k: r.cnt for r in out} == sizes
    assert len(out) == len(sizes)
    assert all(r.contiguous for r in out)


def test_worker_entry_keeps_spark_archives_refreshes_added_zips(spark, tmp_path):
    mod = f"worker_entry_probe_{uuid.uuid4().hex[:8]}"
    zpath = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 1\n")
    spark.sparkContext.addPyFile(str(zpath))

    def probe(batches):
        import importlib
        import sys
        import zipimport

        from spinterps_spark.operators.grouped import worker_entry

        importlib.import_module(mod)   # caches the added zip's importer
        worker_entry()
        before = {p: f._files for p, f in sys.path_importer_cache.items()
                  if isinstance(f, zipimport.zipimporter)}
        importlib.invalidate_caches()
        after = {p: sys.path_importer_cache[p]._files for p in before}
        archives = [sys.path_importer_cache[p].archive for p in before]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_arrays(
            [pa.array(archives),
             pa.array([after[p] is before[p] for p in before])],
            names=["archive", "kept"])

    rows = spark.range(1, numPartitions=1).mapInArrow(
        probe, "archive string, kept boolean").collect()
    added = [r for r in rows if r.archive.endswith(f"{mod}.zip")]
    spark_archives = [r for r in rows if not r.archive.endswith(f"{mod}.zip")]
    assert added and not any(r.kept for r in added)
    if not spark_archives:
        pytest.skip("no Spark archive on the worker sys.path")
    assert all(r.kept for r in spark_archives)


def test_worker_entry_is_noop_on_driver():
    import sys
    import zipimport

    from spinterps_spark.operators.grouped import worker_entry

    worker_entry()
    assert not any("invalidate_caches" in vars(f)
                   for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter))
