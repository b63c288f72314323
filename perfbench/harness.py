"""One benchmark run: set-up, a closed loop of one workload's operations,
output checks, and (with --trace 1) the traced run that yields per-layer
numbers. Started by perfbench/run.py, which sets the environment; see
perfbench/README.md for the workloads and every metric.

Standard output: one JSON "report" line with the long-form numbers, then
the result line {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import functools
import glob
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spinterps_spark import TIERS, datagen, get_spark
from spinterps_spark.compress.gorilla import decode_tier_chunks
from spinterps_spark.compress.gorilla_vec import (
    decode_ts_many, decode_vals_many, encode_ts_many, encode_vals_many)
from spinterps_spark.plans.checkpoint import checksum_agg
from spinterps_spark.plans.generations import current_chunks
from spinterps_spark.plans.pipeline import run_retention_pipeline
from spinterps_spark.plans.refresh import run_refresh_pass
from spinterps_spark.plans.vacuum import run_flatten_pass, run_vacuum_pass

import procs
from eventlog import EventLog
from tracing import Tracer

# input volume: ~55k turns. A full benchmark session (22 runs per workload
# plus 4) must end within 3420 s, so one run has about 70 s, of which its
# Spark session and cold warm-up build take 30-65 s on a 4-core VM; at ~1M
# turns one warm cascade alone takes 17 s.
N_TURNS = 50_000
DELTA_CONVS = 10                      # conversations the delta touches
                                      # besides the mega-conversation
DELTA_CONV_TURNS = 25                 # new turns per touched conversation:
                                      # 275 turns, ~0.5 % of the input
N_SCANS = 3                           # full 1m scans after the loop; the
                                      # first warms the decode path
FILL_KNOBS = {"chunk_buckets": 3840, "pad_buckets": 64}
BUILD_KNOBS = dict(n_salt=16, n_waves=1, fill_method="IDW",
                   fill_knobs=FILL_KNOBS, fuse_fill_and_chunks=True)
REFRESH_KNOBS = dict(tiers=TIERS, fill_method="IDW", fill_knobs=FILL_KNOBS,
                     n_waves=1)
CHUNK_COLS = ["conv_id", "tier", "chunk_start_ts", "n", "first_ts",
              "first_val", "ts_d2d", "vals_xor", "chunk_size"]
POINT_COLS = ["conv_id", "tier", "bucket_ts", "value"]
TURN_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


SID = os.getsid(0)    # run.py starts this process as a session leader


class CheckFailed(Exception):
    """An operation's output differs from its reference."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median(xs):
    return float(statistics.median(xs)) if xs else float("nan")


def timed(fn) -> tuple[float, float, object]:
    """Wall seconds and CPU seconds (all of the run's processes) of fn(),
    and what it returned."""
    c0, t0 = procs.cpu_seconds(SID), time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, procs.cpu_seconds(SID) - c0, out


class Bench:
    """State of one run: paths, the Spark session, tracer, counters."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer = Tracer(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.phases: dict[str, float] = {}    # wall seconds per run phase

    # ------------------------------------------------------------ plumbing
    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, eventlog_dir: str | None = None) -> float:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        return time.perf_counter() - t0

    def group(self, name: str) -> None:
        """Job group for the event log (traced phase only)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = (self.phases.get(name, 0.0)
                                 + time.perf_counter() - t0)

    def attempt(self, what: str, fn):
        """Run one operation or output check; an exception (CheckFailed
        included) counts it failed, not fatal."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # one failed operation must not end the run
            traceback.print_exc()
            self.failed += 1
            self.failures.append(f"{what}: {type(exc).__name__}: {exc}")
            return None

    # ------------------------------------------------------------ inputs
    def write_turns(self, path: str, pdf) -> int:
        """Turns as 8 parquet files at `path`."""
        table = pa.Table.from_pandas(pdf, preserve_index=False).cast(TURN_SCHEMA)
        os.makedirs(path)
        step = -(-table.num_rows // 8)
        for k in range(8):
            pq.write_table(table.slice(k * step, step),
                           os.path.join(path, f"part-{k:05d}.parquet"))
        return table.num_rows

    def gen_inputs(self) -> None:
        """The input turns and the refresh delta, from the workload seed.
        Only pandas and pyarrow: it runs while the Spark session starts."""
        t0 = time.perf_counter()
        self.n_turns = self.write_turns(
            self.path("input"), datagen.transcripts_pandas(self.seed, N_TURNS))
        self.write_turns(self.path("delta"), self.delta_turns())
        self.phases["input"] = time.perf_counter() - t0

    def turns(self):
        return self.spark.read.parquet(self.path("input"))

    def delta_turns(self) -> pd.DataFrame:
        """The refresh delta, from its own seed: new turns
        (datagen.conv_turns), DELTA_CONV_TURNS each, for the
        mega-conversation and DELTA_CONVS other conversations drawn from the
        input's. Fixed sizes keep the work per delta the same from seed to
        seed."""
        seed = 1_000_003 + self.seed
        n_convs = len(datagen.plan_sizes(self.seed, N_TURNS))
        rng = np.random.default_rng(seed)
        convs = sorted(rng.choice(np.arange(1, n_convs), DELTA_CONVS,
                                  replace=False).tolist())
        return pd.concat([datagen.conv_turns(seed, c, DELTA_CONV_TURNS)
                          for c in [0] + convs], ignore_index=True)

    # ------------------------------------------------------------ engine
    def build(self, out: str) -> dict:
        with self.tracer.span("pipeline.run_retention_pipeline"):
            return run_retention_pipeline(
                self.spark, self.turns(), out, n_turns_hint=self.n_turns,
                **BUILD_KNOBS)

    def refresh(self, store: str) -> dict:
        """Apply the refresh delta."""
        with self.tracer.span("refresh.run_refresh_pass"):
            return run_refresh_pass(self.spark,
                                    self.spark.read.parquet(self.path("delta")),
                                    store, **REFRESH_KNOBS)

    def chunk_checksum(self, store: str) -> tuple:
        """Row count and checksum_agg of the three tiers' chunk tables of a
        freshly built store, in one job."""
        df = functools.reduce(DataFrame.unionByName, [
            self.spark.read.parquet(
                os.path.join(store, f"chunks/tier={t}", "wave=*"))
            .select(CHUNK_COLS) for t in TIERS])
        r = checksum_agg(df, CHUNK_COLS).first()
        return int(r["cnt"]), int(r["checksum"] or 0)

    def decoded_checksum(self, store: str) -> tuple:
        """Row count and checksum_agg of the decoded current 1m tier."""
        r = checksum_agg(decode_tier_chunks(current_chunks(
            self.spark, store, "1m")), POINT_COLS).first()
        return int(r["cnt"]), int(r["checksum"] or 0)

    def store_stats(self, store: str) -> dict:
        """Points and bytes (streams + 24 B chunk header) per tier of the
        current view, in one job."""
        df = functools.reduce(DataFrame.unionByName, [
            current_chunks(self.spark, store, t).select(
                F.lit(t).alias("t"), "n",
                (F.length("ts_d2d") + F.length("vals_xor") + F.lit(24))
                .alias("nbytes")) for t in TIERS])
        rows = df.groupBy("t").agg(F.sum("n").alias("pts"),
                                   F.sum("nbytes").alias("nbytes")).collect()
        return {r["t"]: (int(r["pts"]), int(r["nbytes"])) for r in rows}

    def scan_1m(self, store: str) -> None:
        """Decode the whole current 1m tier to a noop sink."""
        with self.tracer.span("gorilla.decode_tier_chunks"):
            decode_tier_chunks(current_chunks(self.spark, store, "1m")).write \
                .format("noop").mode("overwrite").save()

    def codec_roundtrip(self, store: str) -> dict:
        """Single-core batch decode of a built store's 1m chunk files (read
        with pyarrow), then re-encode; the streams must come back byte for
        byte."""
        files = sorted(glob.glob(os.path.join(
            store, "chunks/tier=1m/wave=*/*.parquet")))
        tbl = pa.concat_tables(
            [pq.read_table(f, columns=["n", "first_ts", "first_val",
                                       "ts_d2d", "vals_xor"]) for f in files])
        ns = tbl["n"].to_numpy().astype(np.int64)
        first_ts = tbl["first_ts"].to_numpy()
        first_val = tbl["first_val"].to_numpy()
        ts_streams = tbl["ts_d2d"].to_pylist()
        val_streams = tbl["vals_xor"].to_pylist()
        with self.tracer.span("codec.decode_many"):
            t0 = time.perf_counter()
            ts = decode_ts_many(first_ts, ts_streams, ns)
            vals = decode_vals_many(first_val, val_streams, ns)
            dec_s = time.perf_counter() - t0
        starts = np.concatenate(([0], np.cumsum(ns)[:-1]))
        with self.tracer.span("codec.encode_many"):
            t0 = time.perf_counter()
            ets = encode_ts_many(ts, starts)
            evs = encode_vals_many(vals, starts)
            enc_s = time.perf_counter() - t0
        same = (
            [bytes(b) for b in ets] == ts_streams
            and [bytes(b) for b in evs] == val_streams
            and np.array_equal(ts[starts], first_ts)
            and np.array_equal(vals[starts].view(np.uint64),
                               first_val.view(np.uint64)))
        return {"points": int(ns.sum()), "decode_s": dec_s, "encode_s": enc_s,
                "same": same}


# ---------------------------------------------------------------- workloads

class Workload:
    """A closed loop with one client: each operation starts after the
    previous one returned. Subclasses define set-up, one operation and the
    post-loop checks (finish); `walls` holds the timed operation
    latencies."""

    def __init__(self, b: Bench):
        self.b = b
        self.walls: list[float] = []    # per operation: wall seconds
        self.cpus: list[float] = []     # and CPU seconds of all processes
        self.scans: list[tuple[float, float]] = []   # (wall, CPU) seconds
        self.report: dict = {}

    def measure(self) -> None:
        """Full 1m scans and store statistics of the final store, for the
        end-to-end metrics."""
        store = self.final_store()
        self.scans = [timed(lambda: self.b.scan_1m(store))[:2]
                      for _ in range(N_SCANS)]
        self.stats = self.b.store_stats(store)

    def loop(self, seconds: float) -> None:
        """Operations until `seconds` have passed (at least one); each
        returns its (wall, CPU) seconds."""
        t_start, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t_start < seconds:
            op_id = self.op_id = f"op:{i}"
            self.b.group(op_id)
            with self.b.tracer.span(f"op.{self.name}", op=op_id):
                res = self.b.attempt(op_id, lambda: self.op(i))
            if res is not None:
                self.walls.append(res[0])
                self.cpus.append(res[1])
            i += 1


class Build(Workload):
    """Full fused-IDW cascade (1m/1h/1d, n_waves=1) over the input into a
    fresh store, per operation. Each operation's chunk tables must equal
    the warm-up build's."""

    name = "build"

    def setup(self):
        b = self.b
        self.store = b.path("warm")
        with b.phase("warmup"):
            self.built = b.build(self.store)
        with b.phase("reference"):
            self.ref = b.chunk_checksum(self.store)
        self.seq = itertools.count()

    def op(self, i):
        b = self.b
        out = b.path("ops", f"build-{next(self.seq)}")
        wall, cpu, built = timed(lambda: b.build(out))
        b.group(f"check:{self.op_id}")
        expect(b.chunk_checksum(out) == self.ref,
               f"{self.op_id}: chunk tables differ from the warm-up build's")
        shutil.rmtree(self.store, ignore_errors=True)
        self.store = out    # the last store that built and passed its check
        self.built = built
        return wall, cpu

    def finish(self):
        b = self.b
        self.report["build_turns_per_s"] = b.n_turns / median(self.walls)
        b.group("check")
        b.attempt("1m re-encode", lambda: expect(
            b.codec_roundtrip(self.store)["same"],
            "1m re-encode differs from the stored streams"))

    def final_store(self) -> str:
        return self.store

    def probe_store(self) -> tuple[str, dict]:
        """A clean store for the traced run's probes, and its build's dict."""
        return self.store, self.built


class Maintain(Workload):
    """Restore the pristine store, then: refresh the mega-conversation
    delta; flatten the 1m rollup and chunk tables; vacuum(keep_last=1).
    The decoded 1m view after flatten must equal the merged view before it
    (taken once, in the first operation)."""

    name = "maintain"

    def setup(self):
        b = self.b
        # the store build is also the warm-up build. Commits record absolute
        # paths, so the store is always rebuilt at the same path from a copy
        # kept aside.
        self.store = b.path("store")
        with b.phase("warmup"):
            self.built = b.build(self.store)
        shutil.copytree(self.store, b.path("pristine"))
        self.clean = True       # the store holds a finished sequence
        self.steps: dict[str, list[float]] = {}
        self.ref = None

    def restore(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.b.path("pristine"), self.store)

    def op(self, i):
        b, store = self.b, self.store
        self.clean = False
        with b.phase("restore"):    # not timed
            self.restore()
        steps = {"refresh": timed(lambda: b.refresh(store))[:2]}
        if self.ref is None:
            b.group(f"check:{self.op_id}")
            with b.phase("check"):
                self.ref = b.decoded_checksum(store)
            b.group(self.op_id)
        with b.tracer.span("vacuum.run_flatten_pass"):
            steps["flatten"] = timed(lambda: [
                run_flatten_pass(b.spark, store, "1m", table=tb, n_waves=1)
                for tb in ("rollup", "chunks")])[:2]
        b.group(f"check:{self.op_id}")
        with b.phase("check"):
            after = b.decoded_checksum(store)
        b.group(self.op_id)
        with b.tracer.span("vacuum.run_vacuum_pass"):
            steps["vacuum"] = timed(
                lambda: run_vacuum_pass(b.spark, store, keep_last=1))[:2]
        expect(after == self.ref, f"{self.op_id}: decoded 1m view after "
               "flatten differs from the merged view before it")
        self.clean = True
        for step, (w, _c) in steps.items():
            self.steps.setdefault(step, []).append(w)
        return (sum(w for w, _c in steps.values()),
                sum(c for _w, c in steps.values()))

    def final_store(self) -> str:
        if not self.clean:      # the last sequence failed part way
            self.restore()
        return self.store

    def probe_store(self) -> tuple[str, dict]:
        """The restored pristine store, and the set-up build's dict (a cold
        build)."""
        self.restore()
        return self.store, self.built

    def finish(self):
        self.report["refresh_s"] = median(self.steps.get("refresh", []))
        self.report["flatten_s"] = median(self.steps.get("flatten", []))
        self.report["vacuum_s"] = median(self.steps.get("vacuum", []))


WORKLOADS = {w.name: w for w in (Build, Maintain)}


# ---------------------------------------------------------------- metrics

def end_to_end(wl: Workload, setup_cpu_s: float) -> dict:
    pts = sum(p for p, _b in wl.stats.values())
    nbytes = sum(n for _p, n in wl.stats.values())
    scan_pts = wl.stats["1m"][0]
    warm = wl.scans[1:]
    return {
        "setup_s": {"value": setup_cpu_s, "unit": "s"},
        "op_cpu_s": {"value": median(wl.cpus), "unit": "s"},
        "scan_points_per_cpu_s": {
            "value": scan_pts * len(warm) / sum(c for _w, c in warm),
            "unit": "1/s"},
        "store_bytes_per_point": {"value": nbytes / pts, "unit": "B"},
    }


class RssSampler(threading.Thread):
    """Peak resident memory of this run's processes (driver, JVM, Python
    workers), sampled from /proc every 0.25 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self.stop_evt = threading.Event()

    def run(self):
        while not self.stop_evt.wait(0.25):
            self.peak_mb = max(self.peak_mb, procs.rss_mb(SID))


def environment(root: str) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        commit = "unknown"
    avail = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail = int(line.split()[1]) // 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_available_mb": avail,
            "commit": commit, "n_turns_target": N_TURNS}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--root", required=True)
    args = ap.parse_args()

    b = Bench(args.seed, args.work)
    report = {"workload": args.workload, "seed": args.seed,
              "env": environment(args.root)}
    sampler = RssSampler()
    if args.trace:
        sampler.start()
    ev_dir = b.path("eventlog") if args.trace else None
    # set-up is gated on its CPU seconds, like the operations: its wall
    # time moves with the hypervisor's steal (the report line keeps it)
    steal0 = procs.steal_ticks()
    c0, t0 = procs.cpu_seconds(SID), time.perf_counter()
    with ThreadPoolExecutor(1) as pool:
        inputs = pool.submit(b.gen_inputs)
        session_s = b.start_session(ev_dir)
        inputs.result()
    b.phases["session"] = session_s
    wl = WORKLOADS[args.workload](b)
    wl.setup()
    setup_cpu_s = procs.cpu_seconds(SID) - c0
    report["setup_wall_s"] = time.perf_counter() - t0
    b.tracer.enabled = bool(args.trace)    # spans and job groups
    with b.phase("loop"):
        wl.loop(args.seconds)
    with b.phase("finish"):
        wl.finish()
    report.update(wl.report)
    report["op_walls_s"] = wl.walls
    report["op_cpus_s"] = wl.cpus
    if not args.trace:
        with b.phase("measure"):
            wl.measure()
        metrics = end_to_end(wl, setup_cpu_s)
        report["op_p50_ms"] = 1e3 * median(wl.walls)
        report["scan_points_per_s"] = (
            wl.stats["1m"][0] * (N_SCANS - 1)
            / sum(w for w, _c in wl.scans[1:]))
        report["scan_cpus_s"] = [c for _w, c in wl.scans]
    else:
        from probes import LayerProbes
        with b.phase("probes"):
            probe = LayerProbes(b, *wl.probe_store())
        b.spark.stop()
        b.spark = None
        log = EventLog(glob.glob(os.path.join(ev_dir, "*"))[0])
        sampler.stop_evt.set()
        sampler.join()
        metrics = probe.finish(log, session_s, sampler.peak_mb)
        out_dir = os.path.join(args.root, ".perfbench_traces")
        os.makedirs(out_dir, exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}"
        b.tracer.write(os.path.join(out_dir, f"spans-{stem}.json"))
        report["per_layer_file"] = f".perfbench_traces/spans-{stem}.json"
    report["error_rate"] = b.failed / max(b.attempted, 1)
    report["failures"] = b.failures[:20]
    report["setup_cpu_s"] = setup_cpu_s
    report["phases_s"] = b.phases
    steal1 = procs.steal_ticks()
    report["env"]["steal_pct"] = (100.0 * (steal1[0] - steal0[0])
                                  / max(steal1[1] - steal0[1], 1))
    if b.spark is not None:
        b.spark.stop()
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
