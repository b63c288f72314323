"""Gorilla chunk compression (K8): delta-of-delta timestamps, and values as
scaled integers or XOR floats.

Public-knowledge algorithm (Pelkonen et al., "Gorilla: A Fast, Scalable,
In-Memory Time Series Database", VLDB 2015). The reference engine compresses
its output cube with zlib-chunked netCDF (interp/prepare.py:360-372); the
graft stores rolled-up points as fixed-size Gorilla chunk structs per
(conv_id, tier, chunk) instead:

    (conv_id, tier, chunk_start_ts, n, first_ts, first_val,
     ts_d2d binary, vals_xor binary)

Timestamp stream (the `ts_d2d` column): first_ts raw in the struct; the
stream holds the other n-1 timestamps in one of two forms, chosen per chunk
from the timestamps alone:

- Grid form, when n >= 2 and all n-1 deltas equal one delta with
  0 < delta < 2^56 (GRID_LIMIT). The fill emits every bucket between a
  conversation's first and last reference, so nearly every chunk is such a
  grid. The stream is the delta as a big-endian unsigned integer in the
  fewest bytes that hold it: 1 byte for 60 s, 2 for 3600 s, 3 for
  86400 s. The fewest-bytes rule keeps the encoding canonical (equal
  timestamps always give equal bytes; a leading zero byte is never
  written). Decode: ts[i] = first_ts + i * delta.
- Token form, for every other chunk — the Gorilla stream, unchanged from
  stores written before grid form existed: the first delta 64-bit raw,
  then each delta-of-delta D:
    D == 0              -> '0'
    D in [-64, 63]      -> '10'  + 7-bit two's complement
    D in [-256, 255]    -> '110' + 9-bit
    D in [-2048, 2047]  -> '1110'+ 12-bit
    else                -> '1111'+ 64-bit raw
  (Ranges are symmetric with the two's-complement payload — NOT the
  paper's offset-coded [-63,64] windows — so encode/decode are exact
  inverses for any int64 input, including the boundary values
  64/256/2048.) (64-bit escape instead of the paper's 32 — retention-tier
  gaps can exceed 2^31 s.)

A token stream of n >= 2 opens with its 64-bit raw first delta, so it is
at least 8 bytes long, and a grid stream is 1 to 7: the length alone names
the form, and old stores need no version stamp. A stream of n >= 2 with
zero bytes is malformed; decode raises. A chunk of n = 1 keeps its empty
stream. Code older than grid form reads 64 raw bits past the end of a 1-7
byte stream and returns wrong timestamps without raising: a store written
with grid form must not be read by it.

Value stream (the `vals_xor` column): first_val raw 64-bit IEEE754 in the
struct; the stream holds the other n-1 values in one of two modes, chosen
per chunk from the values alone (so equal values always give equal bytes):

- Integer mode, for chunks of exactly-decimal values (the fill kernel rounds
  filled points to round_p decimals, so nearly every 1m chunk qualifies).
  Let p be the smallest of 0..7 such that for EVERY value v of the chunk
  k = rint(v * 10**p) has |k| < 2^53 and float64(k) / 10**p == v bitwise
  (a division, in the encoder's check and in the decoder alike). The
  stream is '10', p as 3 bits, then the n-1 delta-of-deltas of k in the
  timestamp token classes above, the first delta coded against a zero
  previous delta (no raw 64-bit field). Decode: k0 = rint(first_val *
  10**p), k accumulates the deltas, v = float64(k) / 10**p, and the first
  value is first_val itself. NaN, +-inf and -0.0 never pass the check.
  Decimal-origin doubles compress far better as integers than as XORs
  (ALP, SIGMOD 2024); this reuses Gorilla's own timestamp scheme for them.
- XOR mode, for every other chunk — the Gorilla float stream, unchanged
  from stores written before integer mode existed. XOR with the previous
  value:
    xor == 0 -> '0'
    else '1' then:
      meaningful block fits previous (leading, length) window ->
          '0' + length bits
      else '1' + 6-bit leading-zero count + 6-bit (length-1) + length bits

An XOR stream never starts with '10': its first token is '0' (a zero XOR)
or '11', because the window state starts invalid (lead 65), so the first
nonzero XOR always opens a new window. A stream of n >= 2 values is never
empty, so its first two bits name its mode; old stores need no version
stamp. A chunk of n = 1 keeps its empty stream. Code older than
integer mode reads a '10' first token as a window reuse and returns wrong
values without raising: a store written with integer mode must not be read
by it.

Encode/decode are exact bit-for-bit inverses for any float64 payload
(including NaN payloads). Chunks are bounded: FUSED_CHUNK = 480 points in
the fused fill+encode pass that builds, refreshes, merges and evolves a
filled store (the `gorilla_chunk` knob; 8 h at 1m), DEFAULT_CHUNK = 120
(the Gorilla paper's 2h@1m block) in encode_tier_chunks and the no-fill
passes. Every chunk pays a 24 B header, and on a filled 1m tier the
stored bytes per point level off at 480-960 buckets, as Gorilla's own
block-length measurement did at two hours; the batch decoder's cost
barely grows with chunk length (compress/gorilla_vec.py). DEFAULT_CHUNK
stays 120 because the gorilla_roundtrip registry legs encode with it and
their retention twin is written in its chunk windows. Stores of either
length decode with any reader: the length is not part of the format. The
Spark operators below run the batch kernels of compress/gorilla_vec.py
over whole Arrow batches inside mapInArrow; the scalar codec here is
their bit-exact reference.
"""

from __future__ import annotations

import numpy as np

DEFAULT_CHUNK = 120   # encode_tier_chunks and the no-fill passes
FUSED_CHUNK = 480     # the fused fill+encode pass (gorilla_chunk knob)


class BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int):
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def bytes(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read(self, bits: int) -> int:
        out = 0
        remaining = bits
        while remaining:
            byte_i, bit_i = divmod(self.pos, 8)
            avail = 8 - bit_i
            take = min(avail, remaining)
            chunk = (self.data[byte_i] >> (avail - take)) & ((1 << take) - 1)
            out = (out << take) | chunk
            self.pos += take
            remaining -= take
        return out


def _untwos(raw: int, bits: int) -> int:
    if raw & (1 << (bits - 1)):
        return raw - (1 << bits)
    return raw


# 10**p for the integer value mode. Literals, so each is exact in float64.
POW10 = (1.0, 10.0, 100.0, 1e3, 1e4, 1e5, 1e6, 1e7)
SCALED_TAG = 0b10        # first two bits of an integer-mode value stream
K_LIMIT = 2.0 ** 53      # |k| bound: every k is exact in float64
GRID_LIMIT = 1 << 56     # grid-form delta bound: it fits 7 bytes


def decimal_scale(vals: np.ndarray) -> int | None:
    """The smallest p in 0..7 at which every value is exactly
    float64(k) / 10**p with k = rint(v * 10**p), |k| < 2^53, compared
    bitwise; None when no p qualifies (NaN, +-inf, -0.0, non-decimals)."""
    v = np.asarray(vals, dtype=np.float64)
    with np.errstate(over="ignore", invalid="ignore"):
        for p, pw in enumerate(POW10):
            kf = np.rint(v * pw)
            if not (np.abs(kf) < K_LIMIT).all():
                continue
            back = kf.astype(np.int64).astype(np.float64) / pw
            if np.array_equal(back.view(np.uint64), v.view(np.uint64)):
                return p
    return None


def _write_dods(w: BitWriter, dods: np.ndarray) -> None:
    """Delta-of-delta tokens (the timestamp classes) for an int64 array.
    One fused (prefix|payload) write per nonzero dod; zero runs batched
    into a single multi-bit write (the dominant case on steady cadences)."""
    write = w.write
    nz_idx = np.flatnonzero(dods != 0)
    dod_list = dods.tolist()
    prev = -1
    for i in nz_idx.tolist():
        gap = i - prev - 1
        if gap:
            write(0, gap)
        d = dod_list[i]
        if -64 <= d <= 63:
            write((0b10 << 7) | (d & 0x7F), 9)
        elif -256 <= d <= 255:
            write((0b110 << 9) | (d & 0x1FF), 12)
        elif -2048 <= d <= 2047:
            write((0b1110 << 12) | (d & 0xFFF), 16)
        else:
            write((0b1111 << 64) | (d & ((1 << 64) - 1)), 68)
        prev = i
    tail = len(dod_list) - prev - 1
    if tail:
        write(0, tail)


def _read_dod(r: BitReader) -> int:
    if r.read(1) == 0:
        return 0
    if r.read(1) == 0:
        return _untwos(r.read(7), 7)
    if r.read(1) == 0:
        return _untwos(r.read(9), 9)
    if r.read(1) == 0:
        return _untwos(r.read(12), 12)
    return _untwos(r.read(64), 64)


def encode_ts(ts: np.ndarray) -> bytes:
    """ts: int64 seconds, ascending. Stream excludes ts[0] (stored raw in the
    struct). Grid form (one delta in the fewest bytes) when every delta is
    the same 0 < delta < GRID_LIMIT; else token form, whose first delta is
    a raw 64-bit field."""
    ts = np.asarray(ts, dtype=np.int64)
    w = BitWriter()
    if len(ts) < 2:
        return w.bytes()
    deltas = np.diff(ts)
    d0 = int(deltas[0])
    if 0 < d0 < GRID_LIMIT and (deltas == d0).all():
        return d0.to_bytes((d0.bit_length() + 7) // 8, "big")
    w.write(d0 & ((1 << 64) - 1), 64)
    _write_dods(w, np.diff(deltas))
    return w.bytes()


def decode_ts(first_ts: int, data: bytes, n: int) -> np.ndarray:
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    out[0] = first_ts
    if n == 1:
        return out
    if len(data) < 8:
        if not data:
            raise ValueError(f"empty ts_d2d stream for a chunk of {n} points")
        delta = int.from_bytes(data, "big")
        return np.arange(n, dtype=np.int64) * delta + np.int64(first_ts)
    r = BitReader(data)
    delta = _untwos(r.read(64), 64)
    out[1] = out[0] + delta
    for i in range(2, n):
        delta += _read_dod(r)
        out[i] = out[i - 1] + delta
    return out


def encode_vals(vals: np.ndarray) -> bytes:
    """vals: float64. Stream excludes vals[0] (stored raw in the struct).
    Integer mode when decimal_scale finds a p, else XOR mode.

    XOR chain + leading/trailing-zero counts are vectorized with numpy
    (unpackbits over the big-endian byte view); the loop only applies the
    window-control state machine and emits bits."""
    vals = np.asarray(vals, dtype=np.float64)
    bits = vals.view(np.uint64)
    w = BitWriter()
    if len(bits) < 2:
        return w.bytes()
    p = decimal_scale(vals)
    if p is not None:
        w.write((SCALED_TAG << 3) | p, 5)
        k = np.rint(vals * POW10[p]).astype(np.int64)
        _write_dods(w, np.diff(np.diff(k), prepend=0))
        return w.bytes()
    xors = bits[:-1] ^ bits[1:]
    bitmat = np.unpackbits(
        xors.astype(">u8").view(np.uint8).reshape(-1, 8), axis=1
    )
    nz = xors != 0
    # bitmat column 0 is bit 63 (big-endian): leading zeros = first set
    # column; trailing zeros = first set column of the reversed matrix.
    lead_arr = np.where(nz, bitmat.argmax(axis=1), 64)
    trail_arr = np.where(nz, bitmat[:, ::-1].argmax(axis=1), 64)
    lead_arr = np.minimum(lead_arr, 63)

    x_list = xors.tolist()
    lead_list = lead_arr.tolist()
    trail_list = trail_arr.tolist()
    prev_lead, prev_len = 65, 0  # invalid window -> first xor re-windows
    write = w.write
    # fused single-write per nonzero xor; zero runs batched into one write
    nz_idx = np.flatnonzero(xors != 0)
    prev_i = -1
    for i in nz_idx.tolist():
        gap = i - prev_i - 1
        if gap:
            write(0, gap)
        x = x_list[i]
        lead = lead_list[i]
        trail = trail_list[i]
        length = 64 - lead - trail
        if prev_lead <= lead and (64 - prev_lead - prev_len) <= trail:
            # '1' control + '0' window-reuse + payload, one write
            write((0b10 << prev_len) | (x >> (64 - prev_lead - prev_len)),
                  prev_len + 2)
        else:
            # '1' + '1' + 6-bit lead + 6-bit (len-1) + payload, one write
            write(
                (((0b11 << 6 | lead) << 6 | (length - 1)) << length)
                | (x >> trail),
                14 + length,
            )
            prev_lead, prev_len = lead, length
        prev_i = i
    tail = len(x_list) - prev_i - 1
    if tail:
        write(0, tail)
    return w.bytes()


def decode_vals(first_val: float, data: bytes, n: int) -> np.ndarray:
    if n >= 2 and data[0] >> 6 == SCALED_TAG:
        r = BitReader(data)
        pw = POW10[r.read(5) & 7]
        out = np.empty(n, dtype=np.float64)
        out[0] = first_val
        k = int(np.rint(np.float64(first_val) * pw))
        delta = 0
        for i in range(1, n):
            delta += _read_dod(r)
            k += delta
            out[i] = float(k) / pw
        return out
    out_bits = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out_bits.view(np.float64)
    prev = int(np.float64(first_val).view(np.uint64))
    out_bits[0] = prev
    r = BitReader(data)
    lead, length = 65, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out_bits[i] = prev
            continue
        if r.read(1) == 1:
            lead = r.read(6)
            length = r.read(6) + 1
        x = r.read(length) << (64 - lead - length)
        prev ^= x
        out_bits[i] = prev
    return out_bits.view(np.float64)


def encode_chunk(ts: np.ndarray, vals: np.ndarray) -> dict:
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    assert len(ts) == len(vals) and len(ts) > 0
    return {
        "n": len(ts),
        "first_ts": int(ts[0]),
        "first_val": float(vals[0]),
        "ts_d2d": encode_ts(ts),
        "vals_xor": encode_vals(vals),
    }


def decode_chunk(chunk: dict) -> tuple[np.ndarray, np.ndarray]:
    n = int(chunk["n"])
    ts = decode_ts(int(chunk["first_ts"]), chunk["ts_d2d"], n)
    vals = decode_vals(float(chunk["first_val"]), chunk["vals_xor"], n)
    return ts, vals


# ---------------------------------------------------------------- Spark ops

# chunk_size is the ENCODE-TIME points-per-chunk setting, stamped per row so
# the pruning span can be derived from the table itself instead of a caller
# claim (metadata travels with the data — reference stamps every run setting
# into the cube as attributes, interp/prepare.py:387-428; VERDICT r5 #1).
CHUNK_SCHEMA = (
    "conv_id string, tier string, chunk_start_ts timestamp, n int, "
    "first_ts long, first_val double, ts_d2d binary, vals_xor binary, "
    "chunk_size int"
)


def chunk_arrow_schema():
    """CHUNK_SCHEMA as the Arrow schema mapInArrow kernels emit."""
    import pyarrow as pa

    return pa.schema([
        ("conv_id", pa.string()), ("tier", pa.string()),
        ("chunk_start_ts", pa.timestamp("us", tz="UTC")),
        ("n", pa.int32()), ("first_ts", pa.int64()),
        ("first_val", pa.float64()), ("ts_d2d", pa.binary()),
        ("vals_xor", pa.binary()), ("chunk_size", pa.int32()),
    ])


def epoch_us(ts_s: np.ndarray):
    """Epoch seconds -> an Arrow timestamp("us", tz="UTC") array."""
    import pyarrow as pa

    return pa.array(np.asarray(ts_s, dtype=np.int64) * 1_000_000,
                     type=pa.timestamp("us", tz="UTC"))


def chunk_batch(conv_labels, tier: str, t: np.ndarray, v: np.ndarray,
                starts: np.ndarray, chunk_size: int):
    """Chunk rows (chunk_arrow_schema) for chunks given as segments of the
    sorted flat series (t, v) starting at `starts`; conv_labels holds each
    chunk's conv_id. All streams are encoded in one vectorized pass
    (compress/gorilla_vec.py) straight into Binary columns."""
    import pyarrow as pa

    from spinterps_spark.compress.gorilla_vec import (
        encode_ts_binary, encode_vals_binary,
    )

    C = len(starts)
    first_ts = t[starts]
    return pa.RecordBatch.from_arrays([
        conv_labels,
        pa.repeat(tier, C),
        epoch_us(first_ts),
        pa.array(np.diff(np.append(starts, len(t))).astype(np.int32)),
        pa.array(first_ts),
        pa.array(v[starts]),
        encode_ts_binary(t, starts),
        encode_vals_binary(v, starts),
        pa.array(np.full(C, chunk_size, dtype=np.int32)),
    ], schema=chunk_arrow_schema())


def encode_tier_chunks(filled: DataFrame_or_any, tier: str, value_col: str = "value_filled",
                       chunk_size: int = DEFAULT_CHUNK):
    """(conv_id, bucket_ts, value) -> Gorilla chunk structs.

    Chunk key = (conv_id, floor(epoch / (chunk_size * tier_seconds))):
    time-aligned fixed windows, so chunk membership is a pure function of
    the row (deterministic across runs, resumable, and bounded at
    chunk_size points for a dense filled series — no conversation-sized
    group ever materializes). Executed via the stitched mapInArrow path
    (operators/grouped.py): one Python call per Arrow batch.
    """
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from spinterps_spark import TIER_SECONDS
    from spinterps_spark.operators.grouped import apply_grouped_batches, column

    span = chunk_size * TIER_SECONDS[tier]
    df = filled.select(
        "conv_id",
        F.unix_timestamp("bucket_ts").alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
        (F.unix_timestamp("bucket_ts") / span).cast("long").alias("_ck"),
    )

    def to_chunks(batch, starts):
        return chunk_batch(
            pc.take(batch.column("conv_id"), starts), tier,
            column(batch, "_t", np.int64), column(batch, "_v", np.float64),
            starts, chunk_size)

    return apply_grouped_batches(df, ["conv_id", "_ck"], "_t", to_chunks, CHUNK_SCHEMA)


def decode_tier_chunks(chunks):
    """Inverse of encode_tier_chunks via mapInArrow (verification read).
    Every chunk of an Arrow batch is decoded in ONE lockstep pass
    (compress/gorilla_vec.py) straight off the Binary columns' buffers —
    no per-chunk Python, no per-point Python. Labels go out as plain
    string columns (pc.take of the chunk's label per point): Spark 4.1
    rejects dictionary-encoded columns from mapInArrow.
    A multi-metric chunk table (the fused pass's extra_value_cols output)
    carries a `metric` column; it is repeated per point like conv_id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from spinterps_spark.compress.gorilla_vec import (
        decode_ts_many, decode_vals_many,
    )
    from spinterps_spark.operators.grouped import column, worker_entry

    has_metric = "metric" in chunks.columns
    fields = [("conv_id", pa.string()), ("tier", pa.string()),
              ("bucket_ts", pa.timestamp("us", tz="UTC")),
              ("value", pa.float64())]
    if has_metric:
        fields.append(("metric", pa.string()))
    out_schema = pa.schema(fields)

    def expand(batches):
        worker_entry()
        for b in batches:
            if not b.num_rows:
                continue
            ns = column(b, "n", np.int64)
            ts = decode_ts_many(column(b, "first_ts", np.int64),
                                b.column("ts_d2d"), ns)
            vals = decode_vals_many(column(b, "first_val", np.float64),
                                    b.column("vals_xor"), ns)
            rep = pa.array(np.repeat(np.arange(len(ns)), ns))
            cols = [pc.take(b.column("conv_id"), rep),
                    pc.take(b.column("tier"), rep),
                    epoch_us(ts), pa.array(vals)]
            if has_metric:
                cols.append(pc.take(b.column("metric"), rep))
            yield pa.RecordBatch.from_arrays(cols, schema=out_schema)

    schema = "conv_id string, tier string, bucket_ts timestamp, value double"
    if has_metric:
        schema += ", metric string"
    return chunks.mapInArrow(expand, schema=schema)


# typing alias kept loose to avoid importing pyspark at module import in
# numpy-only contexts (the oracle imports encode/decode functions directly).
DataFrame_or_any = object


def read_chunks_pruned(
    spark,
    source,
    tier: str,
    conv_ids: list[str] | None = None,
    t_min=None,
    t_max=None,
    chunk_size_bound: int | None = None,
):
    """S3/S4 analog — selective cube read with coordinate/time selection.

    The reference's netCDF sources open a gridded cube and gather values
    at selected station indices / time slices (extract/nc.py:408-951:
    coordinate selection before the read materializes anything). The
    chunk-struct table is the engine's cube: this read pushes BOTH
    selections below the decode —

    - conv_ids: an IN filter on the conv_id column (partition/row-group
      pruning on a sorted or partitioned chunk table);
    - [t_min, t_max]: chunk membership is a pure function of the row
      (chunk key = floor(epoch / span), span = chunk_size x tier seconds,
      so every point of a chunk lives in [k*span, (k+1)*span)). The range
      filter therefore lands on chunk_start_ts — a plain comparison
      parquet row-group stats can serve (PushedFilters, asserted in
      pytest) — and only surviving chunks are ever DECODED.

    The pruning span is derived from the table's own `chunk_size` column
    (stamped per row at encode time — metadata travels with the data,
    reference interp/prepare.py:387-428), NOT from a caller claim: r5's
    claim-based API silently over-pruned when the claim was too small and
    every chunk happened to be underfilled (ADVICE r5 #1). A table whose
    tiers were appended under DIFFERENT encode settings is still read
    correctly: the largest chunk_size gives the loosest (safe, superset)
    lower bound, and the exact post-decode trim drops the slack again.

    Points are trimmed to the exact [t_min, t_max] bounds after decode
    (a chunk straddling the edge contributes only its in-range points).
    """
    from pyspark.sql import functions as F

    from spinterps_spark import TIER_SECONDS

    # source: a parquet path/glob, or an already-built chunk DataFrame
    # (e.g. the merged multi-generation view from plans/generations —
    # the filters below still push through its unions to the scans).
    # The chunk table may hold several tiers (CHUNK_SCHEMA carries tier);
    # span-based pruning is only valid for the requested one.
    chunks = (
        spark.read.parquet(source) if isinstance(source, str) else source
    ).where(F.col("tier") == tier)
    if conv_ids is not None:
        chunks = chunks.where(F.col("conv_id").isin(*conv_ids))
    if t_min is not None:
        if "chunk_size" not in chunks.columns:
            raise ValueError(
                "read_chunks_pruned: chunk table lacks the chunk_size "
                "column (written by a pre-r6 encoder?) — re-encode, or "
                "decode unpruned via decode_tier_chunks"
            )
        if chunk_size_bound is not None:
            # metadata-derived bound (plans/generations.tier_chunk_size_bound
            # — stamped by the commits that published the rows, NOT a caller
            # claim): skips the eager per-read aggregate the router used to
            # pay once per tier leg (ADVICE r6 #5). A loose bound only
            # loosens the pushable lower bound (safe superset); the exact
            # post-decode trim is unchanged.
            enc_size = int(chunk_size_bound)
        else:
            # one columnar-scan aggregate over a single int column (parquet
            # reads only tier + chunk_size); max() is the conservative span
            # when rows were appended under mixed encode settings.
            enc_size = chunks.agg(F.max("chunk_size")).first()[0]
            if enc_size is None:
                # no chunks survive the tier/conv filters — nothing to prune
                enc_size = DEFAULT_CHUNK
        span = int(enc_size) * TIER_SECONDS[tier]
        # chunk keys come from (epoch/span).cast('long'), which truncates
        # toward zero — around epoch 0 a chunk window can be (-span, span),
        # i.e. up to 2*span wide. One extra span of slack below the floor
        # bound keeps the scan filter correct for ANY epoch sign; the
        # exact >= t_min trim below drops the slack's points again.
        lo = (int(t_min) // span) * span - span
        chunks = chunks.where(F.col("chunk_start_ts") >= F.timestamp_seconds(F.lit(lo)))
    if t_max is not None:
        chunks = chunks.where(
            F.col("chunk_start_ts") <= F.timestamp_seconds(F.lit(int(t_max)))
        )
    out = decode_tier_chunks(chunks)
    if t_min is not None:
        out = out.where(F.unix_timestamp("bucket_ts") >= int(t_min))
    if t_max is not None:
        out = out.where(F.unix_timestamp("bucket_ts") <= int(t_max))
    return out
