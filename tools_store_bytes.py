"""Per-tier bytes and codec speed of a chunk store's current view.

    python tools_store_bytes.py <store>

Reads each tier's current chunk files on the driver with pyarrow (no Spark
session): the latest full generation plus the deltas after it, latest-wins
per conv_id, as plans/generations.py resolves them. Per tier it prints one
markdown table row:

- points, chunks and points per chunk;
- value stream, time stream and chunk header (24 B per chunk) bytes per
  point;
- how many chunks store their values in integer mode, and the histogram
  of their decimal scale p (compress/gorilla.py, "Value stream");
- how many multi-point chunks store their timestamps in grid form (a
  ts_d2d stream shorter than 8 bytes, compress/gorilla.py, "Timestamp
  stream");
- single-core seconds of decode_ts_many, decode_vals_many, encode_ts_many
  and encode_vals_many over the tier, and whether the re-encode gave the
  stored streams back byte for byte.

The last line is the store's bytes per point over all tiers (streams plus
headers), the figure perfbench reports as store_bytes_per_point.
"""

from __future__ import annotations

import glob
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from spinterps_spark import TIERS
from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many, decode_vals_many, encode_ts_many, encode_vals_many,
    stream_scales)
from spinterps_spark.plans.generations import (
    _strip_scheme, commit_kind, generation_plan)
from spinterps_spark.sources.tableformat import ParquetTierTables

COLS = ["conv_id", "n", "first_ts", "first_val", "ts_d2d", "vals_xor"]
HEADER_B = 24


def _read(wave_glob: str) -> pa.Table | None:
    files = sorted(glob.glob(os.path.join(_strip_scheme(wave_glob),
                                          "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f, columns=COLS) for f in files])


def current_tier(store: str, tier: str) -> pa.Table | None:
    """The tier's current chunk rows: base minus the conversations a later
    refresh or merge delta rewrote, plus each delta latest-wins per conv_id
    (evolve deltas are additive and supersede nothing)."""
    fmt = ParquetTierTables(None, os.path.join(store, "chunks"))
    base, deltas = generation_plan(
        fmt, tier, os.path.join(store, f"chunks/tier={tier}", "wave=*"))
    legs, later = [], None
    for s in reversed(deltas):
        leg = _read(os.path.join(s["data_location"], "wave=*"))
        if leg is not None and later is not None:
            leg = leg.filter(pc.invert(pc.is_in(leg["conv_id"], later)))
        if leg is not None:
            legs.append(leg)
        if commit_kind(s.get("stage")) == "evolve":
            continue
        convs = pq.read_table(_strip_scheme(s["convs_location"]),
                              columns=["conv_id"])["conv_id"]
        convs = convs.combine_chunks()
        later = convs if later is None else pa.concat_arrays(
            [later, convs])
    base_t = _read(base)
    if base_t is not None:
        legs.append(base_t if later is None else base_t.filter(
            pc.invert(pc.is_in(base_t["conv_id"], later))))
    return pa.concat_tables(legs).combine_chunks() if legs else None


def tier_row(tbl: pa.Table) -> tuple[dict, int, int]:
    ns = tbl["n"].to_numpy().astype(np.int64)
    first_ts = tbl["first_ts"].to_numpy()
    first_val = tbl["first_val"].to_numpy()
    ts_col = tbl["ts_d2d"].chunk(0)
    vs_col = tbl["vals_xor"].chunk(0)
    pts, chunks = int(ns.sum()), len(ns)
    vbytes = int(pc.sum(pc.binary_length(vs_col)).as_py() or 0)
    tlens = pc.binary_length(ts_col).to_numpy(zero_copy_only=False)
    tbytes = int(tlens.sum())
    scales = stream_scales(vs_col, ns)
    hist = np.bincount(scales[scales >= 0], minlength=8)
    t0 = time.perf_counter()
    ts = decode_ts_many(first_ts, ts_col, ns)
    t1 = time.perf_counter()
    vals = decode_vals_many(first_val, vs_col, ns)
    t2 = time.perf_counter()
    starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
    ets = encode_ts_many(ts, starts)
    t3 = time.perf_counter()
    evs = encode_vals_many(vals, starts)
    t4 = time.perf_counter()
    same = ets == ts_col.to_pylist() and evs == vs_col.to_pylist()
    row = {
        "points": pts, "chunks": chunks, "pts/chunk": pts / chunks,
        "value B/pt": vbytes / pts, "time B/pt": tbytes / pts,
        "header B/pt": HEADER_B * chunks / pts,
        "int chunks": int((scales >= 0).sum()),
        "p histogram": " ".join(f"{p}:{c}" for p, c in enumerate(hist)
                                if c),
        "grid chunks": int(((ns >= 2) & (tlens < 8)).sum()),
        "dec ts s": t1 - t0, "dec vals s": t2 - t1,
        "enc ts s": t3 - t2, "enc vals s": t4 - t3,
        "re-encode": "same" if same else "DIFFERS",
    }
    return row, pts, vbytes + tbytes + HEADER_B * chunks


def _fmt(x) -> str:
    if isinstance(x, float):
        return f"{x:.3f}"
    return str(x)


def main(store: str) -> int:
    rows, pts, nbytes = [], 0, 0
    for tier in TIERS:
        tbl = current_tier(store, tier)
        if tbl is None or tbl.num_rows == 0:
            continue
        row, p, b = tier_row(tbl)
        rows.append((tier, row))
        pts += p
        nbytes += b
    if not rows:
        print(f"{store}: no chunk rows", file=sys.stderr)
        return 1
    keys = list(rows[0][1])
    print("| tier | " + " | ".join(keys) + " |")
    print("|---" * (len(keys) + 1) + "|")
    for tier, row in rows:
        print(f"| {tier} | " + " | ".join(_fmt(row[k]) for k in keys) + " |")
    print(f"store bytes per point: {nbytes / pts:.3f} "
          f"({nbytes} B / {pts} points)")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    sys.exit(main(sys.argv[1]))
