"""The two timestamp-stream forms (compress/gorilla.py, "Timestamp stream").

- Streams written before grid form existed still decode: the byte literals
  below are ts_d2d streams of the token-only encoder, kept as they were
  written, and must decode bit-identically beside new grid streams in one
  batch. A chunk that is not a grid encodes to exactly its legacy bytes.
- A fuzz at the grid boundary runs every case through the scalar and the
  vector codec.
- A multi-point chunk with an empty stream is malformed and raises.
"""

import numpy as np
import pyarrow as pa
import pytest

from spinterps_spark.compress.gorilla import GRID_LIMIT, decode_ts, encode_ts
from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many, encode_ts_binary, encode_ts_many)
from tests.test_gorilla_modes import _starts


# ------------------------------------------------ legacy (token-only) streams

LEGACY_GRID_1M = bytes.fromhex("000000000000003c00000000000000000000000000")
LEGACY_TWO = bytes.fromhex("0000000000000e10")
LEGACY_1H_GAP = bytes.fromhex(
    "0000000000000e1003c0000000000003843fffffffffffffc7c0")


def _legacy():
    """(timestamps, stream written by the token-only encoder) pairs: a
    105-point 60 s grid, a 2-point chunk, and a 1h chunk with one gap."""
    grid = 1_700_000_040 + 60 * np.arange(105, dtype=np.int64)
    two = np.array([1_700_003_600, 1_700_007_200], dtype=np.int64)
    gap = 1_699_999_200 + 3600 * np.array([0, 1, 2, 3, 4, 5, 6, 7, 9, 10,
                                           11, 12], dtype=np.int64)
    return [(grid, LEGACY_GRID_1M), (two, LEGACY_TWO), (gap, LEGACY_1H_GAP)]


def test_legacy_ts_streams_decode_bit_identically():
    legacy = _legacy()
    for ts, stream in legacy:
        assert len(stream) >= 8                  # token form, as written
        assert np.array_equal(decode_ts(int(ts[0]), stream, len(ts)), ts)
    tss = [t for t, _s in legacy]
    ns, _ = _starts(tss)
    got = decode_ts_many(np.array([t[0] for t in tss]),
                         [s for _t, s in legacy], ns)
    assert np.array_equal(got, np.concatenate(tss))


def test_non_grid_chunk_encodes_to_the_legacy_bytes():
    grid, two, gap = _legacy()
    assert encode_ts(gap[0]) == gap[1]
    assert encode_ts(grid[0]) == bytes([60])
    assert encode_ts(two[0]) == (3600).to_bytes(2, "big")
    tss = [grid[0], two[0], gap[0]]
    _ns, starts = _starts(tss)
    assert encode_ts_many(np.concatenate(tss), starts) == [
        bytes([60]), (3600).to_bytes(2, "big"), gap[1]]


@pytest.mark.parametrize("binary_type", [pa.binary(), pa.large_binary()])
def test_legacy_and_grid_ts_streams_decode_in_one_arrow_batch(binary_type):
    """Legacy token streams and new grid or token streams of the same
    timestamps, interleaved in one Arrow column read at array offset 3."""
    legacy = _legacy()
    tss = [t for t, _s in legacy]
    _ns, starts = _starts(tss)
    new = encode_ts_many(np.concatenate(tss), starts)
    assert [len(s) < 8 for s in new] == [True, True, False]
    streams, chunk_ts = [], []
    for (t, old), fresh in zip(legacy, new):
        streams += [old, fresh]
        chunk_ts += [t, t]
    junk = [b"\xff\xee", b"", b"\x01"]
    col = pa.array(junk + streams, binary_type).slice(3)
    assert col.offset == 3
    ns = np.array([len(t) for t in chunk_ts], dtype=np.int64)
    got = decode_ts_many(np.array([t[0] for t in chunk_ts]), col, ns)
    assert np.array_equal(got, np.concatenate(chunk_ts))


# ------------------------------------------------------ grid boundary fuzz

T0 = 1_700_000_000


def _regular(delta, n, t0=T0):
    return t0 + delta * np.arange(n, dtype=np.int64)


def _boundary_cases():
    """(name, timestamps, expected grid width in bytes or None for token
    form)."""
    long_irregular = _regular(60, 200)
    long_irregular[150:] += 7
    return [
        ("delta 1", _regular(1, 50), 1),
        ("delta 255", _regular(255, 50), 1),
        ("delta 256", _regular(256, 50), 2),
        ("delta 60", _regular(60, 105), 1),
        ("delta 3600", _regular(3600, 24), 2),
        ("delta 86400", _regular(86400, 30), 3),
        ("delta 2^56-1", _regular(GRID_LIMIT - 1, 3, 0), 7),
        ("delta 2^56-1, n=2", _regular(GRID_LIMIT - 1, 2, -5), 7),
        ("delta 2^56", _regular(GRID_LIMIT, 3, 0), None),
        ("delta 2^56, n=2", _regular(GRID_LIMIT, 2, 0), None),
        ("delta 0", _regular(0, 5), None),
        ("delta 0, n=2", _regular(0, 2), None),
        ("delta < 0", _regular(-60, 5), None),
        ("delta -1, n=2", _regular(-1, 2), None),
        ("n=1", np.array([T0], dtype=np.int64), None),
        ("n=2", np.array([T0, T0 + 3600], dtype=np.int64), 2),
        ("long equal delta", _regular(60, 4000), 1),
        ("one irregular delta in a long chunk", long_irregular, None),
        ("irregular first delta", np.array([0, 61, 121, 181],
                                           dtype=np.int64), None),
        ("irregular last delta", np.array([0, 60, 120, 181],
                                          dtype=np.int64), None),
    ]


def _random_cases(seed=5, count=300):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(count):
        n = int(rng.integers(1, 130))
        delta = int(rng.choice([1, 60, 3600, 86400,
                                int(rng.integers(1, 2 ** 40))]))
        ts = _regular(delta, n, int(rng.integers(-10 ** 9, 10 ** 9)))
        if n > 2 and rng.random() < 0.4:
            ts[int(rng.integers(1, n)):] += int(rng.integers(1, 5000))
        out.append((f"random {i}", ts, "rule"))
    return out


def _check_chunk(name, ts, want_width, stream):
    n = len(ts)
    # the scalar codec
    assert encode_ts(ts) == stream, name
    back = decode_ts(int(ts[0]), stream, n)
    assert np.array_equal(back, ts), name
    assert encode_ts(back) == stream, name
    d = np.diff(ts)
    is_grid = n >= 2 and 0 < d[0] < GRID_LIMIT and bool((d == d[0]).all())
    if want_width != "rule":
        assert is_grid == (want_width is not None), name
    if n < 2:
        assert stream == b"", name
    else:
        assert (len(stream) < 8) == is_grid, name
    if is_grid:
        assert int.from_bytes(stream, "big") == d[0], name
        assert stream[0] != 0, name                     # fewest bytes
        if want_width != "rule":
            assert len(stream) == want_width, name
    # the vector codec, one chunk alone
    one = np.zeros(1, dtype=np.int64)
    assert encode_ts_many(ts, one) == [stream], name
    dt = decode_ts_many(ts[:1], [stream], np.array([n]))
    assert np.array_equal(dt, ts), name
    assert encode_ts_many(dt, one) == [stream], name


@pytest.mark.parametrize("cases", [_boundary_cases, _random_cases],
                         ids=["boundary", "random"])
def test_grid_boundary_vector_equals_scalar(cases):
    cases = cases()
    tss = [t for _name, t, _w in cases]
    ns, starts = _starts(tss)
    flat = np.concatenate(tss)
    streams = encode_ts_many(flat, starts)
    assert encode_ts_binary(flat, starts).to_pylist() == streams
    for (name, t, want), stream in zip(cases, streams):
        _check_chunk(name, t, want, stream)
    # the whole mixed-form batch at once, both ways
    firsts = flat[starts]
    got = decode_ts_many(firsts, streams, ns)
    assert np.array_equal(got, flat)
    assert encode_ts_many(got, starts) == streams
    col = pa.array([b"\x00"] * 3 + streams, pa.large_binary()).slice(3)
    assert np.array_equal(decode_ts_many(firsts, col, ns), flat)


def test_empty_stream_of_a_multi_point_chunk_raises():
    with pytest.raises(ValueError, match="empty ts_d2d"):
        decode_ts(T0, b"", 2)
    ts = _regular(60, 3)
    with pytest.raises(ValueError, match="empty ts_d2d"):
        decode_ts_many(np.array([T0, T0]), [bytes([60]), b""],
                       np.array([3, 2]))
    # a one-point chunk's empty stream is well formed
    assert np.array_equal(
        decode_ts_many(np.array([T0, T0]), [bytes([60]), b""],
                       np.array([3, 1])),
        np.append(ts, T0))
