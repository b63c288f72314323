"""Vectorized batch kernels for the Gorilla codec (VERDICT r7 next-step #1).

The scalar codec in compress/gorilla.py decodes/encodes one chunk at a time
with a per-token Python loop — the engine's last row-at-a-time Python
surface. These kernels process EVERY chunk of an Arrow batch at once:

- decode: a two-phase token reader. Phase 1 "locksteps" only the token
  START positions: a numpy position array advances one token per
  iteration across all chunks ("lanes") at once, each token's length read
  from a class table indexed by the top bits of its window (4 bits for a
  delta-of-delta token; 14 bits plus the lane's window length, the only
  state, for an XOR token), and each start lands in the output slot its
  token decodes into. An iteration is a handful of numpy calls over the
  lanes still active, so the Python cost per token of the longest lane
  is small and chunk length barely moves a batch's decode time. Phase 2
  then decodes every token's payload in one vectorized pass: one window
  gather, class-table shifts with an arithmetic shift for the sign, and
  for XOR tokens the window of the lane's latest '11' token by a forward
  fill. A value stream's first two bits name its mode (gorilla.py,
  "Value stream"), so one batch may mix both: XOR-mode lanes rebuild
  values with a segmented XOR prefix scan; integer-mode lanes and
  timestamps share ONE delta-of-delta token reader (_read_dod_tokens) and
  two segmented cumulative sums (_integrate), and integer lanes then
  divide k by 10**p. A timestamp stream's length names its form
  (gorilla.py, "Timestamp stream"): a grid lane (n >= 2, fewer than 8
  bytes) is a token lane with a short head and no tokens — its delta is
  the top 8*len bits of its first window, it skips the token reader, and
  _integrate yields first_ts + i*delta.
- encode: the value mode is chosen per chunk from the values alone
  (_choose_scales: each pass over p = 0..7 revisits only the chunks still
  undecided), and a timestamp lane whose deltas all equal one
  0 < delta < 2^56 takes the grid head (delta, 8*width) and no tokens;
  grid lanes are found from the deltas, before any token is enumerated.
  Delta-of-delta tokens are STATELESS (the control class depends only on
  the value), so classifying them is a single vectorized pass; the XOR
  stream's window-reuse state machine locksteps over nonzero XORs only
  (zero runs collapse to one (0, gap) pair, computed from positions).
  Each lane's head pair and its one trailing pair (zero run plus padding
  to a byte boundary) go in with a single insert pass; bit packing
  deposits the nonzero (value, nbits<=64) pairs into 64-bit words via
  bitwise_or.reduceat — no per-bit expansion.
- Arrow: streams cross the mapInArrow boundary as Binary columns. The
  decoders read a column's offsets and data buffers directly; the
  encoders build the column over the packed buffer (encode_*_binary). The
  list-of-bytes forms serve tests and offline tools.

Everything is bit-for-bit identical to the scalar codec (asserted by
tests/test_gorilla_vec.py, tests/test_gorilla_modes.py,
tests/test_gorilla_grid.py and tests/test_gorilla_long.py over
adversarial, mode-boundary, grid-boundary, long-lane and random inputs,
and by the unchanged gorilla_roundtrip oracle row):
all arithmetic is uint64 mod 2^64, which is exactly the
BitWriter/BitReader semantics, and the integer mode's exactness check and
k / 10**p division are the scalar codec's expressions.
"""

from __future__ import annotations

import functools

import numpy as np

from spinterps_spark.compress.gorilla import (
    GRID_LIMIT, K_LIMIT, POW10, SCALED_TAG)

U64 = np.uint64
_POW10 = np.array(POW10)


# ---------------------------------------------------------------- helpers

def _bitlen32(y: np.ndarray) -> np.ndarray:
    """Exact bit_length for uint64 arrays with values < 2^32 (the float64
    mantissa holds 53 bits, so the frexp exponent is exact here)."""
    return np.frexp(y.astype(np.float64))[1].astype(np.int64)


def _bitlen64(x: np.ndarray) -> np.ndarray:
    hi = x >> U64(32)
    lo = x & U64(0xFFFFFFFF)
    return np.where(hi != 0, 32 + _bitlen32(hi), _bitlen32(lo))


def _lead_trail(x: np.ndarray):
    """Leading-zero count (clamped to 63, matching the scalar encoder's
    6-bit lead field) and trailing-zero count of nonzero uint64 x.
    Garbage where x == 0 — callers mask."""
    lead = np.minimum(64 - _bitlen64(x), 63)
    low = x & (~x + U64(1))
    trail = _bitlen64(low) - 1
    return lead, trail


def _stream_bytes(streams):
    """(bytes uint8, base_bytes int64): the streams' bytes back to back and
    each stream's start within them. A Binary/LargeBinary Arrow array is
    read through its offsets and data buffers directly — no per-stream
    Python objects — honoring a non-zero array offset (sliced batches) and
    a None data buffer (every stream empty); a list of bytes is joined."""
    import pyarrow as pa

    if not isinstance(streams, pa.Array):
        lens = np.fromiter((len(s) for s in streams), dtype=np.int64,
                           count=len(streams))
        return (np.frombuffer(b"".join(streams), dtype=np.uint8),
                np.cumsum(lens) - lens)
    C = len(streams)
    if C == 0:
        return np.zeros(0, np.uint8), np.zeros(0, np.int64)
    odt = np.int64 if pa.types.is_large_binary(streams.type) else np.int32
    _validity, obuf, dbuf = streams.buffers()
    offs = np.frombuffer(obuf, dtype=odt, count=C + 1,
                         offset=streams.offset * np.dtype(odt).itemsize
                         ).astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    if dbuf is None or hi == lo:
        return np.zeros(0, np.uint8), np.zeros(C, np.int64)
    buf = np.frombuffer(dbuf, dtype=np.uint8, count=hi - lo, offset=lo)
    return buf, offs[:-1] - lo


def _prep_windows(streams):
    """Concatenated byte streams (a Binary Arrow array or a list of
    bytes); return (v64, b8, base_bits, lens): v64[k] = the big-endian
    uint64 of padded-buffer bytes k..k+7, b8[k] = byte k+8 (uint8),
    base_bits[c] = absolute bit offset of stream c, lens[c] = its length in
    bytes. A window of bits [pos, pos+64) is
    (v64[pos>>3] << (pos&7)) | (b8[pos>>3] >> (8-(pos&7))). Bit
    8 * len(buf) starts an all-zero window (the padding)."""
    buf, base_bytes = _stream_bytes(streams)
    lens = np.diff(base_bytes, append=len(buf))
    # +24 pad: a token at the very end of the last stream still gathers a
    # full 64-bit window (plus the b8 byte) beyond its final payload bit —
    # e.g. a '11' value token reads bits [pos+14, pos+14+64) + 8 more,
    # up to ~9 bytes past the buffer. Keep those reads in bounds.
    pad = np.zeros(len(buf) + 24, dtype=np.uint8)
    pad[: len(buf)] = buf
    n = len(buf) + 15
    v64 = np.empty(n, dtype=np.uint64)
    for o in range(8):      # the windows at bytes o, o+8, ... are aligned
        v64[o::8] = np.frombuffer(pad, dtype=">u8", offset=o,
                                  count=len(range(o, n, 8)))
    return v64, pad[8:-1], base_bytes * 8, lens


def _window(v64, b8, pos):
    """Bits pos..pos+63 of the buffer, top-aligned, per lane."""
    k = (pos >> U64(3)).view(np.int64)
    r = pos & U64(7)
    return (v64[k] << r) | (b8[k] >> (U64(8) - r))


def _head(v64, pos):
    """The bits from pos to the end of its byte's 64-bit window: the top
    64 - (pos & 7) >= 57 bits of _window(pos), the rest zero. Enough for
    a token class and any payload of up to 43 bits after a 14-bit
    header."""
    return v64[(pos >> U64(3)).view(np.int64)] << (pos & U64(7))


# ---------------------------------------------------------------- decode

def _scales_of(v64, base_bits, ns) -> np.ndarray:
    """Per stream: its integer-mode p, or -1 for an XOR stream (n < 2, or
    a first token other than the '10' tag)."""
    head = (v64[base_bits >> 3] >> U64(56)).astype(np.int64)
    scaled = (ns >= 2) & ((head >> 6) == SCALED_TAG)
    return np.where(scaled, (head >> 3) & 7, -1)


def stream_scales(streams, ns: np.ndarray) -> np.ndarray:
    """The value mode of each vals_xor stream (a Binary Arrow array or a
    list of bytes): p >= 0 for an integer-mode stream, -1 for XOR mode."""
    v64, _b8, base_bits, _lens = _prep_windows(streams)
    return _scales_of(v64, base_bits, np.asarray(ns, dtype=np.int64))


def _lockstep(n_tok: np.ndarray):
    """(order, active) of a phase-1 walk: lanes sorted by DESCENDING token
    count, and per iteration j the number of lanes with a token j — a
    prefix of that order, so every op slices exactly the active lanes."""
    order = np.argsort(-n_tok, kind="stable")
    n_s = n_tok[order]
    steps = np.arange(int(n_s[0]) if len(n_s) else 0)
    return order, np.searchsorted(-n_s, -steps, side="left").tolist()


def _token_slots(v64, n_out):
    """Phase 1's output: per output slot, the bit position of the token
    decoded into it; slots without a token point at the all-zero padding
    window at bit 8 * len(buf) (_prep_windows builds len(buf) + 15
    windows), which every phase-2 class table reads as a zero token."""
    return np.full(n_out, U64(8 * (len(v64) - 15)), dtype=np.uint64)


# delta-of-delta token classes by the top 4 bits of a token's window:
# token length, and the shifts that cut out its sign-extended payload
# ('0': no prefix, and the top bit 0 shifted down 63 places is the zero
# dod; '1111': the 64-bit raw escape, read from its own window)
_DOD_LEN = np.array([1] * 8 + [9] * 4 + [12] * 2 + [16, 68], dtype=np.uint64)
_DOD_PRE = np.array([0] * 8 + [2] * 4 + [3] * 2 + [4, 4], dtype=np.uint64)
_DOD_SH = np.array([63] * 8 + [57] * 4 + [55] * 2 + [52, 0], dtype=np.int64)


def _read_dod_tokens(v64, b8, pos0, n_tok, slot, out) -> None:
    """The one delta-of-delta token reader (timestamp streams and
    integer-mode value streams): lane c's n_tok[c] tokens start at bit
    pos0[c], and the dod of its token j is added to out[slot[c] + j]
    (which must be 0). Two phases. Phase 1 locksteps only the token start
    positions: a token's length is a 16-entry table lookup on its top 4
    bits, so one iteration is a handful of numpy calls over the active
    lanes, and the position lands in the slot the token decodes into.
    Phase 2 decodes every token's payload at once."""
    order, active = _lockstep(n_tok)
    if not active:
        return
    P = _token_slots(v64, len(out))
    pos = pos0.astype(np.uint64)[order]
    q = slot[order].astype(np.int64)
    for a in active:
        pa = pos[:a]
        qa = q[:a]
        P[qa] = pa
        qa += 1
        pa += _DOD_LEN[(_head(v64, pa) >> U64(60)).view(np.int64)]
    w = _head(v64, P)
    c4 = (w >> U64(60)).view(np.int64)
    d = (w << _DOD_PRE[c4]).view(np.int64) >> _DOD_SH[c4]
    esc = np.flatnonzero(c4 == 15)
    if len(esc):
        d[esc] = _window(v64, b8, P[esc] + U64(4)).view(np.int64)
    out += d.view(np.uint64)


def _integrate(firsts, f, ns) -> np.ndarray:
    """The flat uint64 series (mod 2^64), in place in f. f holds, per lane,
    0 at the lane's first point and then its ns-1 entries [first delta,
    dod, dod, ...]. Two segmented cumulative sums: because f is 0 at each
    lane's first point, the running sum there is exactly what the lanes
    before it contributed, so subtracting it per lane segments the scan."""
    head = np.minimum(np.cumsum(ns) - ns, len(f) - 1)
    np.cumsum(f, out=f)
    f -= np.repeat(f[head], ns)
    np.cumsum(f, out=f)
    f += np.repeat(firsts - f[head], ns)
    return f


def _decode_scaled(v64, b8, base_bits, firsts, ns, p) -> np.ndarray:
    """Integer-mode lanes (all ns >= 2) -> flat float64 values."""
    base = np.cumsum(ns) - ns
    f = np.zeros(int(ns.sum()), dtype=np.uint64)
    _read_dod_tokens(v64, b8, base_bits + 5, ns - 1, base + 1, f)
    pw = _POW10[p]
    first_f = firsts.view(np.float64)
    k0 = np.rint(first_f * pw).astype(np.int64).view(np.uint64)
    out = _integrate(k0, f, ns).view(np.int64).astype(np.float64)
    out /= np.repeat(pw, ns)
    out[base] = first_f
    return out


@functools.lru_cache(maxsize=1)
def _xor_tables():
    """Phase-1 tables of the XOR token walk, indexed by (L << 14) | the
    top 14 bits of a token's window, where L is the lane's window length:
    the token's length, and the lane's next L << 14. '0' is 1 bit, '10'
    is 2 + L, and '11' is 14 + the new length its header names."""
    L = np.arange(65, dtype=np.uint32)[:, None]
    w = np.arange(1 << 14, dtype=np.uint32)
    top2 = w >> 12
    new_l = (w & 63) + 1
    adv = np.where(top2 < 2, 1, np.where(top2 == 2, 2, 14 + new_l))
    adv = adv.astype(np.uint8) + (top2 == 2).astype(np.uint8) * L.astype(
        np.uint8)
    nxt = np.where(top2 == 3, new_l, L) << 14
    for t in (adv, nxt):
        t.flags.writeable = False     # shared by every caller
    return adv.ravel(), nxt.ravel()


def _decode_xor(v64, b8, base_bits, firsts, ns) -> np.ndarray:
    """XOR-mode lanes -> flat uint64 value bits. Phase 1 locksteps the
    token starts as _read_dod_tokens does, with the window length as the
    only per-lane state (one lookup in _xor_tables per iteration). Phase
    2 decodes every token at once: a token's window is the one its lane's
    latest '11' token opened, found by a forward fill, as _xor_pairs does
    on the encode side."""
    base_out = np.cumsum(ns) - ns
    N = int(ns.sum())
    P = _token_slots(v64, N)
    adv_t, nxt_t = _xor_tables()
    order, active = _lockstep(np.maximum(ns - 1, 0))
    pos = base_bits.astype(np.uint64)[order]
    q = base_out[order] + 1
    ls = np.zeros(len(ns), dtype=np.uint64)
    for a in active:
        pa = pos[:a]
        qa = q[:a]
        P[qa] = pa
        qa += 1
        i = (ls[:a] + (_head(v64, pa) >> U64(50))).view(np.int64)
        pa += adv_t[i]
        ls[:a] = nxt_t[i]
    w = _head(v64, P)
    is11 = (w >> U64(62)) == U64(3)
    # every lane's first nonzero XOR opens a window, so the latest '11'
    # at or before a '10' token is in its own lane
    opener = np.where(is11, np.arange(N), 0)
    np.maximum.accumulate(opener, out=opener)
    h = w[opener]
    lead = (h << U64(2)) >> U64(58)
    L = ((h << U64(8)) >> U64(58)) + U64(1)
    x = _window(v64, b8, P + np.where(is11, U64(14), U64(2)))
    x = ((x >> (U64(64) - L)) << (U64(64) - lead - L)) * (w >> U64(63))
    # segmented XOR prefix scan: xs[base]=0, firsts folded via correction
    acc = np.bitwise_xor.accumulate(x)
    pre = np.where(base_out > 0, acc[np.maximum(base_out - 1, 0)], U64(0))
    return acc ^ np.repeat(firsts ^ pre, ns)


def decode_vals_many(first_vals: np.ndarray, streams,
                     ns: np.ndarray) -> np.ndarray:
    """Decode many value streams (a Binary Arrow array or a list of bytes,
    each in either value mode) at once; returns the flat float64 array of
    sum(ns) values in chunk order. Bit-identical to decode_vals per
    chunk."""
    C = len(streams)
    ns = np.asarray(ns, dtype=np.int64)
    total = int(ns.sum())
    if total == 0:
        return np.zeros(0, dtype=np.float64)
    firsts = np.ascontiguousarray(first_vals, dtype=np.float64).view(np.uint64)
    if C == 0 or not (ns > 1).any():
        out = np.zeros(total, dtype=np.uint64)
        out[np.concatenate(([0], np.cumsum(ns)))[:-1]] = firsts
        return out.view(np.float64)
    v64, b8, base_bits, _lens = _prep_windows(streams)
    p = _scales_of(v64, base_bits, ns)
    sc = p >= 0
    if sc.all():
        return _decode_scaled(v64, b8, base_bits, firsts, ns, p)
    if not sc.any():
        return _decode_xor(v64, b8, base_bits, firsts, ns).view(np.float64)
    out = np.empty(total, dtype=np.uint64)
    pt = np.repeat(sc, ns)
    out[pt] = _decode_scaled(v64, b8, base_bits[sc], firsts[sc], ns[sc],
                             p[sc]).view(np.uint64)
    xl = ~sc
    out[~pt] = _decode_xor(v64, b8, base_bits[xl], firsts[xl], ns[xl])
    return out.view(np.float64)


def decode_ts_many(first_ts: np.ndarray, streams,
                   ns: np.ndarray) -> np.ndarray:
    """Decode many timestamp streams (a Binary Arrow array or a list of
    bytes, each in either form) at once; flat int64 output in chunk order.
    Bit-identical to decode_ts per chunk (mod-2^64 arithmetic). A grid
    lane is a token lane with a short head and no tokens: its delta is the
    top 8*len bits of its first window, and it skips the token loop."""
    ns = np.asarray(ns, dtype=np.int64)
    if int(ns.sum()) == 0:
        return np.zeros(0, dtype=np.int64)
    firsts = np.ascontiguousarray(first_ts, dtype=np.int64).view(np.uint64)
    v64, b8, base_bits, lens = _prep_windows(streams)
    has_d = ns >= 2
    grid = has_d & (lens < 8)
    if (grid & (lens == 0)).any():
        raise ValueError("empty ts_d2d stream for a chunk of n >= 2 points")
    base = np.cumsum(ns) - ns
    f = np.zeros(int(ns.sum()), dtype=np.uint64)
    if has_d.any():
        # first delta: the (byte-aligned) stream start, 64 raw bits in
        # token form, the whole 1-7 byte stream in grid form
        head = v64[(base_bits[has_d] >> 3).astype(np.int64)]
        shift = np.where(grid[has_d], 64 - 8 * lens[has_d], 0)
        f[base[has_d] + 1] = head >> shift.astype(np.uint64)
    n_tok = np.where(grid, 0, np.maximum(ns - 2, 0))
    _read_dod_tokens(v64, b8, base_bits + 64, n_tok, base + 2, f)
    return _integrate(firsts, f, ns).view(np.int64)


# ---------------------------------------------------------------- encode

def _insert_plan(ins: np.ndarray, n: int):
    """(inserted-slot positions, base-element mask) for inserting len(ins)
    elements into an n-element array at sorted original positions `ins` —
    the exact index arithmetic np.insert performs (sorted obj: out slot of
    insert j is ins[j]+j; duplicates keep given order), without np.insert's
    per-call mask rebuild for every array sharing the same positions."""
    m = len(ins)
    ipos = ins + np.arange(m)
    bmask = np.ones(n + m, dtype=bool)
    bmask[ipos] = False
    return ipos, bmask


def _insert_many(base: np.ndarray, ipos, bmask, vals) -> np.ndarray:
    out = np.empty(len(bmask), dtype=base.dtype)
    out[ipos] = vals
    out[bmask] = base
    return out


def _pack_pairs(v, nb, byte_counts):
    """Pack lane-major (value, nbits) pairs into per-lane byte streams,
    bit-identical to BitWriter; lane c's pairs fill exactly byte_counts[c]
    bytes (_assemble's last pair of a lane carries its zero padding).
    A pair wider than 64 bits or of zero width must carry value 0.
    Returns (buf, offsets): lane c's stream is
    buf[offsets[c]:offsets[c+1]] — the layout of an Arrow Binary column
    (buf may run past offsets[-1])."""
    offsets = np.concatenate(([0], np.cumsum(byte_counts)))
    out = np.zeros((int(offsets[-1]) + 7) >> 3, dtype=np.uint64)
    off = np.concatenate(([0], np.cumsum(nb)[:-1]))
    # zero-valued pairs (zero runs, padding, empty B halves, zero-width
    # pairs) only shape the offsets; drop them before the deposit (a
    # zero-width one at the very end would otherwise index one word past
    # the buffer, and one wider than 64 bits would not fit a deposit)
    live = v != 0
    v = v[live]
    nb = nb[live]
    off = off[live]
    if not len(v):
        return out.view(np.uint8), offsets
    q = off >> 6
    r = off & 63
    sh1 = 64 - r - nb
    A = np.where(sh1 >= 0,
                 v << np.clip(sh1, 0, 63).astype(np.uint64),
                 v >> np.clip(-sh1, 0, 63).astype(np.uint64))
    spill = sh1 < 0
    # q is nondecreasing (pairs are offset-ordered): one or-reduce per word;
    # bits of distinct pairs never overlap, so OR assembles them exactly.
    qb = np.flatnonzero(np.concatenate(([True], q[1:] != q[:-1])))
    out[q[qb]] = np.bitwise_or.reduceat(A, qb)
    if spill.any():
        Bv = v[spill] << (64 + np.clip(sh1[spill], -64, -1)).astype(np.uint64)
        qs = q[spill] + 1
        qsb = np.flatnonzero(np.concatenate(([True], qs[1:] != qs[:-1])))
        out[qs[qsb]] |= np.bitwise_or.reduceat(Bv, qsb)
    return out.astype(">u8").view(np.uint8), offsets


def _as_list(packed) -> list:
    """(buf, offsets) -> one bytes object per stream."""
    buf, offsets = packed
    mv = buf.tobytes()
    o = offsets.tolist()
    return [mv[s:e] for s, e in zip(o[:-1], o[1:])]


def _as_binary(packed):
    """(buf, offsets) -> a pa.binary() array over the same buffer."""
    import pyarrow as pa

    buf, offsets = packed
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(buf)])


def _zero_gap_pairs(nzmask, tok_base, C):
    """For a lane-major flat token mask: per nonzero token, the run of zero
    tokens since the previous nonzero (or lane start); per lane, the
    trailing zero-run length. Mirrors the scalar encoders' batched zero
    writes exactly."""
    nz = np.flatnonzero(nzmask)
    lane_of_nz = np.searchsorted(tok_base, nz, side="right") - 1
    if len(nz):
        first_in_lane = np.concatenate(
            ([True], lane_of_nz[1:] != lane_of_nz[:-1]))
        prev = np.empty(len(nz), dtype=np.int64)
        prev[0] = -1
        prev[1:] = nz[:-1]
        gap = np.where(first_in_lane, nz - tok_base[lane_of_nz],
                       nz - prev - 1)
    else:
        gap = np.zeros(0, dtype=np.int64)
    tail = (tok_base[1:] - tok_base[:-1]).copy()
    if len(nz):
        last_in_lane = np.concatenate(
            (lane_of_nz[1:] != lane_of_nz[:-1], [True]))
        lz = lane_of_nz[last_in_lane]
        tail[lz] = tok_base[lz + 1] - 1 - nz[last_in_lane]
    return nz, gap, tail, lane_of_nz


def _assemble(pairAv, pairAb, pairBv, pairBb, gap, lane_of_nz,
              head_v, head_b, head_lane, tail, C):
    """Lane-major (value, nbits) pairs and per-lane byte counts. Per lane:
    its head pair (head_lane is ascending), the per-nz-token triples
    [(0,gap),(A),(B)], and one zero pair of its trailing zero run plus
    the padding to a byte boundary. Heads and tails go in with one insert
    pass."""
    n_nz = len(gap)
    trip_v = np.zeros(n_nz * 3, dtype=np.uint64)
    trip_b = np.empty(n_nz * 3, dtype=np.int64)
    trip_v[1::3] = pairAv
    trip_v[2::3] = pairBv
    trip_b[0::3] = gap
    trip_b[1::3] = pairAb
    trip_b[2::3] = pairBb
    trip_lane = np.repeat(lane_of_nz, 3)
    lane_bits = np.bincount(trip_lane, weights=trip_b, minlength=C
                            ).astype(np.int64) + tail
    lane_bits[head_lane] += head_b
    byte_counts = (lane_bits + 7) >> 3
    end_b = tail + byte_counts * 8 - lane_bits
    lanes = np.arange(C)
    lo = np.searchsorted(trip_lane, lanes, side="left")
    hi = np.searchsorted(trip_lane, lanes, side="right")
    # inserted pairs in lane order, a lane's head before its tail: their
    # positions are then sorted, as _insert_plan needs
    n_ins = np.ones(C, dtype=np.int64)
    n_ins[head_lane] = 2
    tail_at = np.cumsum(n_ins) - 1
    ins = np.empty(int(tail_at[-1]) + 1, dtype=np.int64)
    ins_v = np.zeros(len(ins), dtype=np.uint64)
    ins_b = np.empty(len(ins), dtype=np.int64)
    ins[tail_at] = hi
    ins_b[tail_at] = end_b
    head_at = tail_at[head_lane] - 1
    ins[head_at] = lo[head_lane]
    ins_v[head_at] = head_v
    ins_b[head_at] = head_b
    ipos, bmask = _insert_plan(ins, len(trip_v))
    return (_insert_many(trip_v, ipos, bmask, ins_v),
            _insert_many(trip_b, ipos, bmask, ins_b), byte_counts)


def _lane_major_tokens(starts, ns, off):
    """(lane_rep, flat positions) of the lane-major token enumeration:
    token t of lane c sits at flat index starts[c] + t, t < ns[c] - off."""
    n_tok = np.maximum(ns - off, 0)
    tok_base = np.concatenate(([0], np.cumsum(n_tok)))
    nt = int(tok_base[-1])
    lane_rep = np.repeat(np.arange(len(starts)), n_tok)
    within = np.arange(nt) - tok_base[lane_rep]
    return tok_base, lane_rep, starts[lane_rep] + within


def encode_ts_many(ts_flat: np.ndarray, starts: np.ndarray) -> list:
    """Per-chunk ts_d2d streams for chunks given as segments of ts_flat;
    byte-identical to encode_ts per segment."""
    return _as_list(_encode_ts(ts_flat, starts))


def encode_ts_binary(ts_flat: np.ndarray, starts: np.ndarray):
    """encode_ts_many's streams as one pa.binary() array (no per-stream
    bytes objects)."""
    return _as_binary(_encode_ts(ts_flat, starts))


def encode_vals_many(v_flat: np.ndarray, starts: np.ndarray) -> list:
    """Per-chunk vals_xor streams for chunks given as segments of v_flat;
    byte-identical to encode_vals per segment."""
    return _as_list(_encode_vals(v_flat, starts))


def encode_vals_binary(v_flat: np.ndarray, starts: np.ndarray):
    """encode_vals_many's streams as one pa.binary() array."""
    return _as_binary(_encode_vals(v_flat, starts))


def _dod_pairs(d: np.ndarray):
    """(vA, bA, vB, bB) token pairs of nonzero int64 delta-of-deltas: class
    prefix and payload fused into A; a 64-bit escape's raw value in B."""
    du = d.astype(np.uint64)
    c7 = (d >= -64) & (d <= 63)
    c9 = ~c7 & (d >= -256) & (d <= 255)
    c12 = ~c7 & ~c9 & (d >= -2048) & (d <= 2047)
    c64 = ~c7 & ~c9 & ~c12
    vA = np.where(c7, (U64(2) << U64(7)) | (du & U64(0x7F)),
         np.where(c9, (U64(6) << U64(9)) | (du & U64(0x1FF)),
         np.where(c12, (U64(0xE) << U64(12)) | (du & U64(0xFFF)),
                  U64(0xF))))
    bA = np.where(c7, 9, np.where(c9, 12, np.where(c12, 16, 4)))
    vB = np.where(c64, du, U64(0))
    bB = np.where(c64, 64, 0)
    return vA, bA, vB, bB


def _encode_ts(ts_flat: np.ndarray, starts: np.ndarray):
    """Packed (buf, offsets) ts_d2d streams. Stateless classification —
    no iteration at all. Grid lanes are found from the deltas alone (a
    running count of nonzero delta-of-deltas, read at lane bounds), so
    tokens are enumerated only for the lanes that keep token form."""
    ts_flat = np.asarray(ts_flat, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], len(ts_flat))
    ns = ends - starts
    C = len(starts)
    if C == 0:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    d_flat = np.diff(ts_flat) if len(ts_flat) > 1 else np.zeros(0, np.int64)
    dod_flat = np.diff(d_flat)
    has_d = np.flatnonzero(ns >= 2)
    s_d = starts[has_d]
    d0 = d_flat[s_d]
    # grid lanes: no nonzero dod and 0 < delta < GRID_LIMIT. The head is
    # the delta in its fewest bytes, and no token or zero run follows.
    nz_before = np.concatenate(([0], np.cumsum(dod_flat != 0)))
    grid = ((nz_before[s_d + ns[has_d] - 2] == nz_before[s_d])
            & (d0 > 0) & (d0 < GRID_LIMIT))
    tok_l = has_d[~grid]
    tok_base, _lr, fp = _lane_major_tokens(starts[tok_l], ns[tok_l], 2)
    d = dod_flat[fp]
    nz, gap, tail_t, lane_t = _zero_gap_pairs(d != 0, tok_base, len(tok_l))
    vA, bA, vB, bB = _dod_pairs(d[nz])
    tail = np.zeros(C, dtype=np.int64)
    tail[tok_l] = tail_t
    head_v = d0.astype(np.uint64)
    head_b = np.where(grid, 8 * ((_bitlen64(head_v) + 7) >> 3), 64)
    v, b, byte_counts = _assemble(vA, bA, vB, bB, gap, tok_l[lane_t],
                                  head_v, head_b, has_d, tail, C)
    return _pack_pairs(v, b, byte_counts)


def _exact_at(vv: np.ndarray, pw: float):
    """Per value: (passes decimal_scale's check at 10**p = pw, rint(v*pw)).
    kf is integral, so for |kf| < 2^53 it equals float64(int64(kf)) once
    -0.0 is made +0.0 (the int conversion's sign) — the same check without
    the int round trip."""
    kf = vv * pw
    np.rint(kf, out=kf)
    kf += 0.0
    ok = np.abs(kf) < K_LIMIT
    ok &= (kf / pw).view(np.uint64) == vv.view(np.uint64)
    return ok, kf


def _points_of(lanes: np.ndarray, ns: np.ndarray) -> np.ndarray:
    """Boolean mask of the points of the given lanes."""
    m = np.zeros(len(ns), dtype=bool)
    m[lanes] = True
    return np.repeat(m, ns)


def _choose_scales(v: np.ndarray, starts: np.ndarray, ns: np.ndarray):
    """Per chunk: the integer-mode p (gorilla.decimal_scale's rule — the
    smallest p at which EVERY value passes), or -1 for XOR mode; and the
    flat int64 k (0 outside integer-mode chunks). Each pass over p
    revisits only the chunks still undecided, and tests a chunk's other
    values only when its first value passes."""
    p_of = np.full(len(starts), -1, dtype=np.int64)
    k = np.zeros(len(v), dtype=np.int64)
    undecided = ns >= 2
    with np.errstate(over="ignore", invalid="ignore"):
        for p, pw in enumerate(POW10):
            lanes = np.flatnonzero(undecided)
            if not len(lanes):
                break
            cand = lanes[_exact_at(v[starts[lanes]], pw)[0]]
            if not len(cand):
                continue
            ok, kf = _exact_at(v[_points_of(cand, ns)], pw)
            seg = ns[cand]
            good = np.logical_and.reduceat(ok, np.cumsum(seg) - seg)
            won = cand[good]
            p_of[won] = p
            undecided[won] = False
            k[_points_of(won, ns)] = kf[np.repeat(good, seg)].astype(np.int64)
    return p_of, k


def _xor_pairs(x_nz: np.ndarray, lane_of_nz: np.ndarray, C: int):
    """(vA, bA, vB, bB) token pairs of the lane-major nonzero XORs of
    XOR-mode lanes. Only the window-reuse decision locksteps."""
    lead_nz, trail_nz = _lead_trail(x_nz)
    n_nz = len(x_nz)
    # lockstep the window-reuse state machine over the j-th nonzero token
    # of every lane at once
    nz_per_lane = np.bincount(lane_of_nz, minlength=C)
    nzbase = np.concatenate(([0], np.cumsum(nz_per_lane)))[:-1]
    maxJ = int(nz_per_lane.max())
    # lanes sorted by DESCENDING nz count: the active set at lockstep
    # iteration j is then a PREFIX of the sorted order, so each iteration
    # slices exactly the active lanes instead of masking all C — total
    # element-work O(total nz tokens) instead of O(C * maxJ) (real batches
    # measured 2-4x waste, r8 third pass). The per-lane state machine is
    # untouched: an inactive lane's state is simply never read or written,
    # which is exactly what the act mask guaranteed.
    order = np.argsort(-nz_per_lane, kind="stable")
    counts_s = nz_per_lane[order]
    nzbase_s = nzbase[order]
    prev_lead = np.full(C, 65, dtype=np.int64)   # state in sorted-lane order
    prev_len = np.zeros(C, dtype=np.int64)
    fits_all = np.zeros(n_nz, dtype=bool)
    A = int((counts_s > 0).sum())
    for j in range(maxJ):
        while A > 0 and counts_s[A - 1] <= j:
            A -= 1
        ii = nzbase_s[:A] + j
        lead = lead_nz[ii]
        trail = trail_nz[ii]
        pl = prev_lead[:A]
        pn = prev_len[:A]
        fits = (pl <= lead) & ((64 - pl - pn) <= trail)
        renew = ~fits
        prev_lead[:A] = np.where(renew, lead, pl)
        prev_len[:A] = np.where(renew, 64 - lead - trail, pn)
        fits_all[ii] = fits
    fits = fits_all
    # window in effect at each nz token = most recent RENEW row's (lead,
    # len) within the lane; the lane's first nz token always renews, so a
    # within-lane forward fill (running max of renew positions, offset by
    # a per-lane key so lanes never bleed) resolves every token's window.
    idx = np.arange(n_nz)
    jwithin = idx - nzbase[lane_of_nz]
    seg = np.where(~fits, jwithin, 0)
    lane_start = np.concatenate(([True], lane_of_nz[1:] != lane_of_nz[:-1]))
    grp = np.cumsum(lane_start) - 1
    ff = np.maximum.accumulate((grp.astype(np.int64) << 32) + seg)
    src = nzbase[lane_of_nz] + (ff & 0xFFFFFFFF)
    win_lead = lead_nz[src]
    win_len = (64 - lead_nz - trail_nz)[src]
    sh = np.clip(64 - win_lead - win_len, 0, 63).astype(np.uint64)
    payload = x_nz >> sh
    tot_bits = np.where(fits, 2 + win_len, 14 + win_len)
    ctrl = np.where(
        fits, U64(2),
        (U64(3) << U64(12)) | (win_lead.astype(np.uint64) << U64(6))
        | (win_len - 1).astype(np.uint64))
    ctrl_bits = np.where(fits, 2, 14)
    fused = tot_bits <= 64
    vA = np.where(fused,
                  (ctrl << np.minimum(win_len, 62).astype(np.uint64))
                  | payload,
                  ctrl)
    bA = np.where(fused, tot_bits, ctrl_bits)
    vB = np.where(fused, U64(0), payload)
    bB = np.where(fused, 0, win_len)
    return vA, bA, vB, bB


def _encode_vals(v_flat: np.ndarray, starts: np.ndarray):
    """Packed (buf, offsets) vals_xor streams, each chunk in the value
    mode _choose_scales picks. Both modes share one token enumeration:
    token t of a lane is the XOR of values t and t+1, or the dod of k
    there; a zero token is a '0' bit in either mode."""
    v_flat = np.asarray(v_flat, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], len(v_flat))
    ns = ends - starts
    C = len(starts)
    if C == 0:
        return np.zeros(0, np.uint8), np.zeros(1, np.int64)
    p, k = _choose_scales(v_flat, starts, ns)
    sc = p >= 0
    tok_base, lane_rep, fp = _lane_major_tokens(starts, ns, 1)
    sc_tok = sc[lane_rep]

    def dods():
        kd = np.diff(k)
        d = np.empty_like(kd)         # each delta less the one before it,
        d[:1] = kd[:1]                # but a lane's first delta less zero
        np.subtract(kd[1:], kd[:-1], out=d[1:])
        first = starts[ns >= 2]
        d[first] = kd[first]
        return d[fp].view(np.uint64)

    def xors(f):
        bits64 = v_flat.view(np.uint64)
        return bits64[f] ^ bits64[f + 1]

    if not sc.any():
        tok = xors(fp)
    else:
        tok = dods()
        if not sc.all():
            x_tok = ~sc_tok
            tok[x_tok] = xors(fp[x_tok])
    nz, gap, tail, lane_of_nz = _zero_gap_pairs(tok != 0, tok_base, C)
    t_nz = tok[nz]
    s_nz = sc_tok[nz]
    vA = np.empty(len(nz), dtype=np.uint64)
    vB = np.empty(len(nz), dtype=np.uint64)
    bA = np.empty(len(nz), dtype=np.int64)
    bB = np.empty(len(nz), dtype=np.int64)
    if s_nz.any():
        vA[s_nz], bA[s_nz], vB[s_nz], bB[s_nz] = _dod_pairs(
            t_nz[s_nz].view(np.int64))
    x_nz = ~s_nz
    if x_nz.any():
        vA[x_nz], bA[x_nz], vB[x_nz], bB[x_nz] = _xor_pairs(
            t_nz[x_nz], lane_of_nz[x_nz], C)
    head_lane = np.flatnonzero(sc)
    head_v = ((SCALED_TAG << 3) | p[head_lane]).astype(np.uint64)
    head_b = np.full(len(head_lane), 5, dtype=np.int64)
    v, b, byte_counts = _assemble(vA, bA, vB, bB, gap, lane_of_nz,
                                  head_v, head_b, head_lane, tail, C)
    return _pack_pairs(v, b, byte_counts)
