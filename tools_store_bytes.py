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
- single-core seconds of decode_ts_many and decode_vals_many, called once
  per chunk file and summed: a scan hands the decode kernel one Arrow batch
  per chunk file, so this is the decode cost a scan pays;
- single-core seconds of encode_ts_many and encode_vals_many over the
  whole tier in one call, and whether the re-encode gave the stored
  streams back byte for byte.

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


def _read(wave_glob: str) -> list[pa.Table]:
    files = sorted(glob.glob(os.path.join(_strip_scheme(wave_glob),
                                          "*.parquet")))
    return [pq.read_table(f, columns=COLS) for f in files]


def _drop(tables: list[pa.Table], convs) -> list[pa.Table]:
    if convs is None:
        return tables
    return [t.filter(pc.invert(pc.is_in(t["conv_id"], convs)))
            for t in tables]


def current_tier(store: str, tier: str) -> list[pa.Table]:
    """The tier's current chunk rows, one table per chunk file: base minus
    the conversations a later refresh or merge delta rewrote, plus each
    delta latest-wins per conv_id (evolve deltas are additive and supersede
    nothing). Files left empty are dropped."""
    fmt = ParquetTierTables(None, os.path.join(store, "chunks"))
    base, deltas = generation_plan(
        fmt, tier, os.path.join(store, f"chunks/tier={tier}", "wave=*"))
    legs, later = [], None
    for s in reversed(deltas):
        legs += _drop(_read(os.path.join(s["data_location"], "wave=*")),
                      later)
        if commit_kind(s.get("stage")) == "evolve":
            continue
        convs = pq.read_table(_strip_scheme(s["convs_location"]),
                              columns=["conv_id"])["conv_id"]
        convs = convs.combine_chunks()
        later = convs if later is None else pa.concat_arrays(
            [later, convs])
    legs += _drop(_read(base), later)
    return [t.combine_chunks() for t in legs if t.num_rows]


def _decode_files(files: list[pa.Table]):
    """(timestamps, values, ts seconds, values seconds): one decode call
    per chunk file, as a scan makes them; the seconds are summed."""
    ts, vals, t_ts, t_vals = [], [], 0.0, 0.0
    for f in files:
        ns = f["n"].to_numpy().astype(np.int64)
        t0 = time.perf_counter()
        ts.append(decode_ts_many(f["first_ts"].to_numpy(),
                                 f["ts_d2d"].chunk(0), ns))
        t1 = time.perf_counter()
        vals.append(decode_vals_many(f["first_val"].to_numpy(),
                                     f["vals_xor"].chunk(0), ns))
        t_ts += t1 - t0
        t_vals += time.perf_counter() - t1
    return np.concatenate(ts), np.concatenate(vals), t_ts, t_vals


def tier_row(files: list[pa.Table]) -> tuple[dict, int, int]:
    tbl = pa.concat_tables(files).combine_chunks()
    ns = tbl["n"].to_numpy().astype(np.int64)
    ts_col = tbl["ts_d2d"].chunk(0)
    vs_col = tbl["vals_xor"].chunk(0)
    pts, chunks = int(ns.sum()), len(ns)
    vbytes = int(pc.sum(pc.binary_length(vs_col)).as_py() or 0)
    tlens = pc.binary_length(ts_col).to_numpy(zero_copy_only=False)
    tbytes = int(tlens.sum())
    scales = stream_scales(vs_col, ns)
    hist = np.bincount(scales[scales >= 0], minlength=8)
    ts, vals, dec_ts, dec_vals = _decode_files(files)
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
        "dec ts s": dec_ts, "dec vals s": dec_vals,
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
        files = current_tier(store, tier)
        if not files:
            continue
        row, p, b = tier_row(files)
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
