"""The two value-stream modes (compress/gorilla.py, "Value stream").

- Streams written before integer mode existed still decode: the byte
  literals below are vals_xor streams of the pre-integer-mode encoder, kept
  as they were written, and must decode bit-identically beside new
  integer-mode streams in one batch.
- Chunks that stay in XOR mode encode to exactly those legacy bytes.
- A fuzz at the mode boundary runs every case through the scalar and the
  vector codec.
"""

import numpy as np
import pyarrow as pa
import pytest

from spinterps_spark.compress.gorilla import (
    decimal_scale, decode_vals, encode_vals)
from spinterps_spark.compress.gorilla_vec import (
    decode_vals_many, encode_vals_binary, encode_vals_many, stream_scales)
from tests.test_gorilla_vec import _adversarial_groups


def _bits(a):
    return np.asarray(a, dtype=np.float64).view(np.uint64)


def _starts(groups):
    lens = np.array([len(g) for g in groups], dtype=np.int64)
    return lens, np.concatenate(([0], np.cumsum(lens)[:-1])).astype(np.int64)


def _one_m_like():
    """105 exact 2-decimal values: plateaus of 8 points joined by ramps,
    the shape of a filled 1m chunk."""
    i = np.arange(105)
    k = 4125 + ((i // 8) * 1375) % 2900 + np.where(i % 8 >= 5, (i % 8) * 211, 0)
    return k / 100.0


# ------------------------------------------------- legacy (XOR-only) streams

LEGACY_G24 = bytes.fromhex(
    "cbcbe1ba6e9ba6e9e763726c9b26c9b2cad9364d9364de5e99f93a4e93a4e9bf"
    "d62d8b62d8b7095615856158523b4d9364d93645cbb7adeb7adebac4749d2749"
    "d2193b77e4e93a4e93a7babba6e9ba6e9bc2f2deb7adeb7ae0a05214852148b0"
    "514dd374dd3738cdfadeb7adeb7c7d54852148521631b9364d9364df1ded2749"
    "d2749f870fffffffffff455c0000000000229ee93a4e93a4f10aac2b0ac2b0b8"
    "06b74dd374dd3c14c290a4290a462d50ac2b0ac2b10f693a4e93a4eb8268b62d"
    "8b62d9c1726c9b26c9b220e8000000000000")

LEGACY_G36 = bytes.fromhex(
    "ccce54d9364d9364f273e7b7adeb7adebcccfdc370dc370dcf2f39afffffffff"
    "ffcec69378de378de1cbd3fa6f1bc6f1bc38094025bc0fe01360de378de37860"
    "061893a4e93a4eb8018e56f5bd6f5bd2000b55bd6f5bd6f480031b86e1b86e1b"
    "a000fd1e4791e479080025c8b22c8b22ca0001fb16c5b16c5b80022e93a4e93a"
    "4ea001335b16c5b16c680062fa4e93a4e9360018f16c5b16c5b18005d3a4e93a"
    "4e93e0016191e4791e47b8007885214852148e0009c8f23c8f23c98000559164"
    "591645a007f778de378de3480183ce93a4e93a420060c1b86e1b86e6801f4b78"
    "de378de2a0008d555555555558001546f1bc6f1bc200778e4390e4390e801b7a"
    "2d8b62d8b660018190a4290a4298007885615856158600690000000000008000"
    "9370dc370dc3a006d64290a4290a4801bba7a9ea7a9eaa00724290a4290a4380"
    "02d26c9b26c9b22001754dd374dd373801a8ee1b86e1b872007a364591645916"
    "8002b64791e4791e600749d374dd374dd801e2f91e4791e47a000c98b62d8b62"
    "d98000ab62d8b62d8b00")

LEGACY_1M = bytes.fromhex(
    "0cccb519999999999c624390e4390e7372dedeb7adeb7af7828f5c28f5c30cbd"
    "37c666666666670224390e4390e60cdbd6f5bd6f5c04147ae147ae1085c66666"
    "6666671e24390e4390e605dbd6f5bd6f5de2147ae147ae10b586666666666702"
    "24390e4390e60cdbd6f5bd6f5c1c147ae147ae10874666666666670224390e43"
    "90e63bdbd6f5bd6f5de8147ae147ae108a8ccccccccccd7db16c5b16c5b204db"
    "d6f5bd6f5c0c147ae147ae1086c666666666670224390e4390e63ddbd6f5bd6f"
    "5dd6147ae147ae108f8ccccccccccd0448721c8721cafe29ea7a9ea7ac04147a"
    "e147ae10854666666666670624390e4390e607dbd6f5bd6f5db4147ae147ae10"
    "8a8ccccccccccd0c48721c8721ca09b7adeb7adebc0828f5c28f5c30ba666666"
    "6666670224390e4390e60ddbd6f5bd6f5d4a147ae147ae10958ccccccccccd0c"
    "48721c8721ca09b7adeb7adebc1828f5c28f5c30bea666666666670e24390e43"
    "90e60bdbd6f5bd6f5d40147ae147ae10")

LEGACY_XOR_G3 = bytes.fromhex(
    "6095fff08afff8067ffc")

LEGACY_XOR_G13 = bytes.fromhex(
    "c0ff00380000000000067ff80000000000014fff00000000000011ffc0000000"
    "0000048000000000000000900000000000000013ff20000000000004ffc80000"
    "000000013ff20000000000004ffc800000000000120000000000000004fff000"
    "00000000013f1bf21e44003ace4fc6fc8791000eb3a0")


def _legacy():
    """(values, stream written by the XOR-only encoder) pairs: kind 0
    (2-decimal) chunks of _adversarial_groups and a 1m-like chunk."""
    g = _adversarial_groups()
    return [(g[24][1], LEGACY_G24), (g[36][1], LEGACY_G36),
            (_one_m_like(), LEGACY_1M)]


def test_legacy_streams_decode_bit_identically():
    legacy = _legacy()
    for vals, stream in legacy:
        assert stream[0] >> 6 != 0b10          # XOR mode, as written
        got = decode_vals(vals[0], stream, len(vals))
        assert np.array_equal(_bits(got), _bits(vals))
    vals = [v for v, _s in legacy]
    ns, starts = _starts(vals)
    got = decode_vals_many(np.array([v[0] for v in vals]),
                           [s for _v, s in legacy], ns)
    assert np.array_equal(_bits(got), _bits(np.concatenate(vals)))


@pytest.mark.parametrize("binary_type", [pa.binary(), pa.large_binary()])
def test_legacy_and_integer_streams_decode_in_one_arrow_batch(binary_type):
    """Legacy XOR streams and new integer-mode streams of the same values,
    interleaved in one Arrow column read at array offset 3."""
    legacy = _legacy()
    vals = [v for v, _s in legacy]
    ns, starts = _starts(vals)
    new = encode_vals_many(np.concatenate(vals), starts)
    assert all(s[0] >> 6 == 0b10 for s in new)   # now integer mode
    assert all(len(n) < len(s) for n, (_v, s) in zip(new, legacy))
    streams, chunk_vals = [], []
    for (v, old), fresh in zip(legacy, new):
        streams += [old, fresh]
        chunk_vals += [v, v]
    junk = [b"\xff\xee", b"", b"\x01"]
    col = pa.array(junk + streams, binary_type).slice(3)
    assert col.offset == 3
    ns = np.array([len(v) for v in chunk_vals], dtype=np.int64)
    got = decode_vals_many(np.array([v[0] for v in chunk_vals]), col, ns)
    assert np.array_equal(_bits(got), _bits(np.concatenate(chunk_vals)))
    assert stream_scales(col, ns).tolist() == [-1, 2] * len(legacy)


def test_xor_mode_chunks_encode_to_the_legacy_bytes():
    """Chunks that are not exactly decimal (NaN, -0.0, denormals, 1e300)
    keep the XOR stream byte for byte."""
    g = _adversarial_groups()
    cases = [(g[3][1], LEGACY_XOR_G3), (g[13][1], LEGACY_XOR_G13)]
    vals = [v for v, _s in cases]
    ns, starts = _starts(vals)
    assert encode_vals_many(np.concatenate(vals), starts) == [
        s for _v, s in cases]
    for v, s in cases:
        assert encode_vals(v) == s
        assert decimal_scale(v) is None


# ------------------------------------------------------ mode boundary fuzz

BIG = float(2 ** 53 - 1)


def _boundary_cases():
    """(name, values, expected p or None for XOR mode)."""
    cases = [
        ("one non-decimal", [1.25, 3.5, 0.1 + 0.2, 7.75], None),
        ("one 8-decimal", [1.25, 3.5, 1.23456789, 7.75], None),
        ("nan", [1.5, np.nan, 2.0], None),
        ("inf", [1.5, np.inf, 2.0], None),
        ("-inf", [-np.inf, 1.5, 2.0], None),
        ("-0.0", [1.0, -0.0, 2.0], None),
        ("-0.0 first", [-0.0, 1.0], None),
        ("+0.0", [0.0, 1.0, 0.0], 0),
        ("all equal 2-decimal", [7.25] * 10, 2),
        ("all equal integer", [3.0] * 5, 0),
        ("all equal nan", [np.nan] * 4, None),
        ("n=1", [1.25], None),
        ("n=1 nan", [np.nan], None),
        ("n=2", [1.25, 1.5], 2),
        ("n=2 nan", [1.25, np.nan], None),
        ("negative", [-1.25, -3.5, -0.75, 2.0, -1e4], 2),
        ("p=0", [1.0, 5.0, -7.0, 1e6], 0),
        ("p=7", [1.2345678, 1e-7, -2.5], 7),
        ("2^53-1", [BIG, 1.0], 0),
        ("-(2^53-1)", [-BIG, 3.0], 0),
        ("2^53-1 both signs", [BIG, -BIG, BIG], 0),
        ("2^53", [float(2 ** 53), 1.0], None),
        ("-2^53", [1.0, -float(2 ** 53)], None),
        ("|k| just under 2^53 at p=2", [90071992547409.25, 1.5], 2),
        ("|k| over 2^53 at p=2", [90071992547410.25, 1.5], None),
    ]
    for p in range(3, 8):
        cases.append((f"exact only at p={p}",
                      [1.5, -2.25, round(0.1 ** p + 3.0, p)], p))
        cases.append((f"exact only at p={p}, many",
                      [round(x, p) for x in np.linspace(-4, 9, 37)
                       + 10.0 ** -p], p))
    return [(name, np.array(v, dtype=np.float64), p) for name, v, p in cases]


def _random_cases(seed=11, count=400):
    rng = np.random.default_rng(seed)
    out = []
    for i in range(count):
        n = int(rng.integers(1, 130))
        p = int(rng.integers(0, 8))
        v = rng.integers(-10 ** 6, 10 ** 6, n) / 10.0 ** p
        if rng.random() < 0.4:
            v[rng.integers(0, n)] = rng.choice(
                [np.nan, np.inf, -np.inf, -0.0, 0.1 + 0.2, 2.0 ** 53,
                 5e-324, 1e300, np.pi])
        out.append((f"random {i}", v, "rule"))
    return out


def _check_chunk(name, vals, want_p, stream):
    n = len(vals)
    # the scalar codec
    assert encode_vals(vals) == stream, name
    got = decode_vals(vals[0], stream, n)
    assert np.array_equal(_bits(got), _bits(vals)), name
    assert encode_vals(got) == stream, name
    p = decimal_scale(vals) if n >= 2 else None
    if want_p != "rule":
        assert p == want_p, (name, p)
    if n < 2:
        assert stream == b"", name
    else:
        assert (stream[0] >> 6 == 0b10) == (p is not None), name
    # the vector codec, one chunk alone
    one = np.zeros(1, dtype=np.int64)
    assert encode_vals_many(vals, one) == [stream], name
    dv = decode_vals_many(vals[:1], [stream], np.array([n]))
    assert np.array_equal(_bits(dv), _bits(vals)), name
    assert encode_vals_many(dv, one) == [stream], name
    assert stream_scales([stream], np.array([n])).tolist() == [
        -1 if p is None else p], name


@pytest.mark.parametrize("cases", [_boundary_cases, _random_cases],
                         ids=["boundary", "random"])
def test_mode_boundary_vector_equals_scalar(cases):
    cases = cases()
    vals = [v for _name, v, _p in cases]
    ns, starts = _starts(vals)
    flat = np.concatenate(vals)
    streams = encode_vals_many(flat, starts)
    assert encode_vals_binary(flat, starts).to_pylist() == streams
    for (name, v, want_p), stream in zip(cases, streams):
        _check_chunk(name, v, want_p, stream)
    # the whole mixed-mode batch at once, both ways
    firsts = flat[starts]
    got = decode_vals_many(firsts, streams, ns)
    assert np.array_equal(_bits(got), _bits(flat))
    assert encode_vals_many(got, starts) == streams
    col = pa.array([b"\x00"] * 3 + streams, pa.large_binary()).slice(3)
    assert np.array_equal(_bits(decode_vals_many(firsts, col, ns)),
                          _bits(flat))
