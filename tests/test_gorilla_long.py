"""Long lanes through the two-phase batch reader (compress/gorilla_vec.py):
lanes far longer than a 120-point chunk, mixed with short ones in one
batch, decoded from Binary and LargeBinary columns at a non-zero array
offset and compared bit for bit with the scalar codec. The batch encoders
must give the scalar streams back byte for byte on the same lanes."""

import numpy as np
import pyarrow as pa
import pytest

from spinterps_spark.compress.gorilla import (
    BitReader, encode_chunk, encode_ts, encode_vals)
from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many, decode_vals_many, encode_ts_many, encode_vals_many,
    stream_scales)

from tests.test_arrow_boundary import _arrays, _assert_scalar_equal

T0 = 1_700_000_000
# one dod per token class boundary, both signs: '0', '10' (7 bits), '110'
# (9), '1110' (12) and the '1111' 64-bit escape
CLASS_DODS = [0, 1, -1, 63, -64, 64, -65, 255, -256, 256, -257,
              2047, -2048, 2048, -2049, 10**6, -(10**6)]


def _grid(n, step=60):
    return T0 + step * np.arange(n, dtype=np.int64)


def _int_values(rng, n, p=2):
    """A random walk of exactly-decimal values (integer value mode)."""
    k = np.cumsum(rng.integers(-40, 41, n)) + 5000
    return k / 10.0 ** p


def _jittered(rng, n):
    """Timestamps in token form: a 60 s grid with random small jitter."""
    steps = rng.integers(0, 3, n - 1)
    return _grid(n) + np.concatenate(([0], np.cumsum(steps)))


def _from_dods(dods, first=T0, d0=60):
    """Integers whose delta-of-deltas are `dods` (first delta d0)."""
    deltas = d0 + np.cumsum(np.asarray(dods, dtype=np.int64))
    return np.concatenate(([first], first + np.cumsum(
        np.concatenate(([d0], deltas)))))


def _xor_tokens(stream: bytes, n: int) -> dict:
    """Token kinds of an XOR-mode stream, walked with the scalar reader."""
    r, counts, L = BitReader(stream), {"0": 0, "10": 0, "11": 0}, 0
    for _ in range(n - 1):
        if r.read(1) == 0:
            counts["0"] += 1
        elif r.read(1) == 0:
            counts["10"] += 1
            r.read(L)
        else:
            counts["11"] += 1
            r.read(6)
            L = r.read(6) + 1
            r.read(L)
    return counts


def _check(groups, binary_type, pad=3):
    chunks = [encode_chunk(ts, vals) for ts, vals in groups]
    ns, fts, fvs, ts_col, vs_col = _arrays(chunks, binary_type, pad)
    _assert_scalar_equal(chunks, ns, decode_ts_many(fts, ts_col, ns),
                         decode_vals_many(fvs, vs_col, ns))
    starts = np.cumsum(ns) - ns
    ts_flat = np.concatenate([g[0] for g in groups])
    v_flat = np.concatenate([g[1] for g in groups])
    assert encode_ts_many(ts_flat, starts) == [encode_ts(g[0]) for g in groups]
    assert encode_vals_many(v_flat, starts) == [encode_vals(g[1])
                                                for g in groups]
    return chunks, ns, vs_col


BINARY = pytest.mark.parametrize("binary_type",
                                 [pa.binary(), pa.large_binary()])


@BINARY
def test_lanes_of_1_2_119_and_3840_points(binary_type):
    rng = np.random.default_rng(11)
    groups = []
    for n in (1, 2, 119, 3840, 2, 3840, 1, 119):
        groups.append((_grid(n), _int_values(rng, n)))
        groups.append((_jittered(rng, n), rng.normal(0, 1e3, n)))
    _chunks, ns, vs_col = _check(groups, binary_type)
    scales = stream_scales(vs_col, ns)
    assert (scales[::2][ns[::2] >= 2] >= 0).all()       # integer mode
    assert (scales[1::2] == -1).all()                   # XOR mode


@BINARY
def test_every_dod_class_with_an_escape_last(binary_type):
    """Every token class in timestamp and integer-value lanes of ~600
    tokens; each lane's LAST token is a 64-bit escape, and the batch's last
    lane ends the buffer with one."""
    rng = np.random.default_rng(12)
    groups = []
    for lane in range(4):
        dods = rng.permutation(np.repeat(CLASS_DODS, 36))
        dods = np.append(dods, 3 * 10**6 + lane)
        ts = _from_dods(dods)
        k = _from_dods(dods[::-1].copy(), first=0, d0=0)
        # the last k dod is an escape
        k = np.append(k[:-1], 2 * k[-2] - k[-3] + 10**7)
        groups.append((ts, k / 100.0))
    chunks, ns, vs_col = _check(groups, binary_type)
    assert (stream_scales(vs_col, ns) == 2).all()
    for c in chunks:                           # token form, not grid
        assert len(c["ts_d2d"]) >= 8


@BINARY
def test_xor_lanes_of_960_points_renew_and_reuse_windows(binary_type):
    """Each XOR flips random bits in the top or the bottom 11 bits of
    the mantissa, or none: a switch of band opens a new window ('11'),
    the same band often fits the open one ('10')."""
    rng = np.random.default_rng(13)
    groups = []
    for _lane in range(5):
        band = rng.choice(3, 959, p=[0.15, 0.4, 0.45])
        flips = rng.integers(1, 1 << 11, 959).astype(np.uint64)
        flips <<= np.where(band == 1, 41, 1).astype(np.uint64)
        flips[band == 0] = 0
        bits = np.bitwise_xor.accumulate(np.append(np.uint64(0), flips))
        v = (bits ^ np.float64(100.0).view(np.uint64)).view(np.float64)
        groups.append((_jittered(rng, 960), v))
    chunks, ns, vs_col = _check(groups, binary_type)
    assert (stream_scales(vs_col, ns) == -1).all()
    for c in chunks:
        kinds = _xor_tokens(c["vals_xor"], c["n"])
        assert min(kinds.values()) >= 50, kinds


@BINARY
def test_one_long_xor_lane_beside_many_short_integer_lanes(binary_type):
    rng = np.random.default_rng(14)
    groups = [(_grid(int(n)), _int_values(rng, int(n), p=1))
              for n in rng.integers(1, 12, 400)]
    groups.insert(137, (_jittered(rng, 3840), rng.normal(0, 1, 3840)))
    _chunks, ns, vs_col = _check(groups, binary_type)
    scales = stream_scales(vs_col, ns)
    assert scales[137] == -1
    assert (np.delete(scales, 137)[np.delete(ns, 137) >= 2] >= 0).all()
