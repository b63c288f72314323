"""Per-layer probes of the traced run.

After the workload's traced operation, one pass calls into every layer's
public functions once, on a clean store the workload built from its input
(the build workload's last store; maintain's restored pristine store),
under spans and job groups ("probe:<layer>"). The Spark event log
then gives the per-stage numbers (explode ratio, Arrow overhead, decoded
rows); the spans and the return values of the calls give the rest. The
order matters: probes that need a clean store run first, the refresh
delta comes before the generations / checkpoint / snapshot probes (so
there is a chain to resolve), and retention comes before the routed reads
(so a read crosses the 1m horizon). The first routed read also runs once
without spans and job group, for the tracing overhead.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spinterps_spark import TIERS, datagen
from spinterps_spark.operators.gapfill import fill_series, gapfill_virtual_chunks
from spinterps_spark.operators.rollup import base_rollup, rollup_tier
from spinterps_spark.plans.checkpoint import CheckpointLog
from spinterps_spark.plans.generations import current_chunks, generation_plan
from spinterps_spark.plans.retention import run_retention_pass
from spinterps_spark.plans.router import query_range
from spinterps_spark.plans.vacuum import run_flatten_pass, run_vacuum_pass
from spinterps_spark.sources.tableformat import tier_tables

from harness import FILL_KNOBS, POINT_COLS, Bench, expect, median

FILL_SAMPLE = 256         # series in the single-core fill_series sample
MEGA = datagen.conv_label(0)          # datagen's ~5 % mega-conversation
DAY = 86_400
HORIZON = datagen.EPOCH_2024 + 15 * DAY   # 1m retention horizon of the probes


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_rollup_1m(store: str, columns: list[str]) -> pa.Table:
    """The stored 1m rollup read with pyarrow; bucket_ts becomes `t`, epoch
    seconds."""
    files = glob.glob(os.path.join(store, "rollup/tier=1m/wave=*/*.parquet"))
    tbl = pa.concat_tables([pq.read_table(f, columns=columns) for f in files])
    secs = tbl["bucket_ts"].cast(pa.timestamp("s", tz="UTC")).cast(pa.int64())
    return tbl.set_column(tbl.schema.get_field_index("bucket_ts"), "t", secs)


def routed_reads(b: Bench, store: str) -> list[dict]:
    """One routed read of each shape, drawn from the workload seed and the
    store's 1m rollup (so every read returns rows): a few conversations
    over 6 h at 1m, all conversations over 1 h at 1m, a range crossing the
    1m retention horizon, and 30 days at 1d."""
    roll = read_rollup_1m(store, ["conv_id", "bucket_ts"]).to_pandas()
    span = roll.groupby("conv_id")["t"].agg(["min", "max"])
    rng = np.random.default_rng(b.seed)
    e0 = datagen.EPOCH_2024

    def active(t, k):
        hit = span[(span["min"] <= t) & (span["max"] >= t)].index
        convs = sorted(c for c in hit if c != MEGA) or sorted(span.index)
        return sorted(rng.choice(convs, size=min(k, len(convs)),
                                 replace=False).tolist())

    t6 = int(rng.uniform(HORIZON + DAY, e0 + 30 * DAY)) // 60 * 60
    t1 = int(rng.uniform(HORIZON + DAY, e0 + 30 * DAY)) // 60 * 60
    t30 = e0 + int(rng.integers(0, 10)) * DAY
    return [
        dict(shape="convs_6h", res="1m", lo=t6 - 3 * 3600, hi=t6 + 3 * 3600,
             convs=active(t6, 3)),
        dict(shape="all_1h", res="1m", lo=t1, hi=t1 + 3600, convs=None),
        dict(shape="cross_horizon", res="1m", lo=HORIZON - 2 * DAY,
             hi=HORIZON + DAY, convs=sorted([MEGA] + active(HORIZON, 2))),
        dict(shape="month_1d", res="1d", lo=t30, hi=t30 + 30 * DAY - 1,
             convs=None),
    ]


def point_count(df) -> int:
    """Consume a point frame in one job: row count plus an order-insensitive
    checksum (plans.checkpoint.checksum_agg's construction), so every row
    and column is materialised."""
    h = F.xxhash64(*[F.col(c) for c in POINT_COLS]).cast("decimal(38,0)")
    return int(df.agg(F.count(F.lit(1)).alias("cnt"),
                      F.sum(h).alias("ck")).first()["cnt"])


def fill_series_sample(b: Bench, store: str) -> float:
    """Single-core fill_series over a seeded sample of 1m series built from
    the stored rollup: refs on the tier grid, NaN gaps between them.
    Returns the seconds spent inside fill_series."""
    df = read_rollup_1m(store, ["conv_id", "bucket_ts", "tok_len_sum",
                                "turn_cnt", "valid"]).to_pandas()
    df["v"] = df["tok_len_sum"].astype(np.float64) / df["turn_cnt"]
    df = df[df["valid"] & (df["conv_id"] != MEGA)].sort_values(["conv_id", "t"])
    sizes = df.groupby("conv_id").size()
    convs = sorted(sizes[sizes >= 2].index)
    rng = np.random.default_rng(b.seed)
    pick = rng.choice(convs, size=min(FILL_SAMPLE, len(convs)), replace=False)
    groups = df.groupby("conv_id")
    series = []
    for c in sorted(pick):
        g = groups.get_group(c)
        t_ref = g["t"].to_numpy()
        grid = np.arange(t_ref[0], t_ref[-1] + 60, 60, dtype=np.int64)
        v = np.full(len(grid), np.nan)
        v[(t_ref - t_ref[0]) // 60] = g["v"].to_numpy()
        series.append((grid, v))
    t0 = time.perf_counter()
    for grid, v in series:
        fill_series(grid, v, method="IDW")
    return time.perf_counter() - t0


class LayerProbes:
    def __init__(self, b: Bench, P: str, built: dict):
        """`P` is a clean store, `built` the dict run_retention_pipeline
        returned for it."""
        self.raw: dict[str, float] = {}
        spark, tr = b.spark, b.tracer

        def timed(name, group, fn):
            b.group(group)
            with tr.span(name, op=group):
                t0 = time.perf_counter()
                out = fn()
                self.raw[name] = time.perf_counter() - t0
            return out

        for t in TIERS:
            self.raw[f"pipeline.tier_{t}_s"] = built["tiers"][t]["wall_sec"]

        roll1m = spark.read.parquet(os.path.join(P, "rollup/tier=1m", "wave=*"))
        timed("rollup.base_1m_s", "probe:rollup",
              lambda: noop(base_rollup(b.turns(), "1m")))
        timed("rollup.tier_1h_s", "probe:rollup",
              lambda: noop(rollup_tier(roll1m, "1h")))

        ser = roll1m.where(F.col("valid")).select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("tok_len_mean"))
        timed("gapfill.fused_1m_s", "probe:gapfill", lambda: noop(
            gapfill_virtual_chunks(ser, "tok_len_mean", method="IDW",
                                   tier="1m", **FILL_KNOBS)))
        b.group("probe:count")
        self.valid_refs = ser.count()
        with tr.span("gapfill.fill_series", op="probe:fill_series"):
            self.raw["gapfill.fill_series_s"] = fill_series_sample(b, P)

        with tr.span("codec.roundtrip", op="probe:codec"):
            self.codec = b.codec_roundtrip(P)
        b.attempt("probe 1m re-encode", lambda: expect(
            self.codec["same"], "probe store: 1m re-encode differs"))
        timed("probe.scan", "probe:scan", lambda: b.scan_1m(P))

        rm = timed("refresh.mega_s", "probe:refresh", lambda: b.refresh(P))
        for t in TIERS:
            self.raw[f"refresh.tier_{t}_s"] = rm["tiers"][t]["wall_sec"]
        self.raw["refresh.affected_convs"] = rm["n_affected_convs"]

        timed("generations.current_chunks_s", "probe:generations",
              lambda: current_chunks(spark, P, "1m"))
        _base, deltas = generation_plan(
            tier_tables(spark, os.path.join(P, "chunks")), "1m",
            os.path.join(P, "chunks/tier=1m", "wave=*"))
        self.raw["generations.delta_chain"] = len(deltas)
        rows = timed("checkpoint.read_s", "probe:checkpoint", lambda: CheckpointLog(
            spark, os.path.join(P, "ckpt")).read().collect())
        self.raw["checkpoint.rows"] = len(rows)
        timed("tableformat.snapshots_s", "probe:tableformat", lambda: [
            tier_tables(spark, os.path.join(P, tb)).snapshots()
            for tb in ("rollup", "chunks")])
        self.raw["tableformat.snapshot_files"] = sum(
            len(glob.glob(os.path.join(P, tb, "_snapshots.d", "*")))
            + len(glob.glob(os.path.join(P, tb, "_snapshots.jsonl")))
            for tb in ("rollup", "chunks"))

        for tb in ("rollup", "chunks"):
            timed(f"vacuum.flatten_{tb}_s", "probe:flatten",
                  lambda tb=tb: run_flatten_pass(spark, P, "1m", table=tb,
                                                 n_waves=1))
        vm = timed("vacuum.vacuum_s", "probe:vacuum",
                   lambda: run_vacuum_pass(spark, P, keep_last=1))
        self.raw["vacuum.bytes_freed"] = vm["bytes_freed"]

        timed("probe.retention", "probe:retention",
              lambda: run_retention_pass(spark, P, "1m", HORIZON, n_waves=1))

        def read(q) -> tuple[float, float, int]:
            t0 = time.perf_counter()
            with tr.span("router.query_range"):
                df = query_range(spark, P, q["lo"], q["hi"], q["res"],
                                 conv_ids=q["convs"])
            t1 = time.perf_counter()
            with tr.span("router.execute"):
                n = point_count(df)
            return t1 - t0, time.perf_counter() - t1, n

        reads = routed_reads(b, P)
        b.group("probe:untraced")
        tr.enabled = False
        self.untraced_read = sum(read(reads[0])[:2])
        tr.enabled = True
        self.reads = []
        b.group("probe:router")
        for q in reads:
            with tr.span("probe.read", op="probe:router"):
                self.reads.append(read(q))

    def finish(self, log, session_s, rss_peak_mb) -> dict:
        """Per-layer metrics from the raw probe numbers and the event log."""
        ops = log.summary("op:")
        n_ops = max(ops["groups"], 1)
        gap = log.summary("probe:gapfill")
        scan = log.summary("probe:scan")
        router = log.summary("probe:router")
        returned = sum(n for _p, _e, n in self.reads)
        r = self.raw
        values = {
            "spark.jobs": (ops["jobs"] / n_ops, "count"),
            "spark.stages": (ops["stages"] / n_ops, "count"),
            "spark.task_s": (ops["task_s"] / n_ops, "s"),
            "spark.python_stage_task_s": (ops["python_task_s"] / n_ops, "s"),
            "spark.jvm_stage_task_s": (ops["jvm_task_s"] / n_ops, "s"),
            "spark.python_task_share": (
                ops["python_task_s"] / max(ops["task_s"], 1e-9), "ratio"),
            "spark.shuffle_write_mb": (ops["shuffle_write_b"] / n_ops / 2**20, "MB"),
            "spark.shuffle_read_mb": (ops["shuffle_read_b"] / n_ops / 2**20, "MB"),
            "spark.spill_mb": (ops["spill_b"] / n_ops / 2**20, "MB"),
            **{f"pipeline.tier_{t}_s": (r[f"pipeline.tier_{t}_s"], "s")
               for t in TIERS},
            "rollup.base_1m_s": (r["rollup.base_1m_s"], "s"),
            "rollup.tier_1h_s": (r["rollup.tier_1h_s"], "s"),
            "gapfill.fused_1m_s": (r["gapfill.fused_1m_s"], "s"),
            "gapfill.explode_ratio": (
                gap["python_records_in"] / max(self.valid_refs, 1), "ratio"),
            "gapfill.fill_series_s": (r["gapfill.fill_series_s"], "s"),
            "codec.encode_mpts_per_s": (
                self.codec["points"] / self.codec["encode_s"] / 1e6, "Mpts/s"),
            "codec.decode_mpts_per_s": (
                self.codec["points"] / self.codec["decode_s"] / 1e6, "Mpts/s"),
            "arrow.decode_overhead_s": (
                scan["python_task_s"] - self.codec["decode_s"], "s"),
            "checkpoint.read_s": (r["checkpoint.read_s"], "s"),
            "checkpoint.rows": (r["checkpoint.rows"], "count"),
            "tableformat.snapshots_s": (r["tableformat.snapshots_s"], "s"),
            "tableformat.snapshot_files": (r["tableformat.snapshot_files"], "count"),
            **{f"refresh.tier_{t}_s": (r[f"refresh.tier_{t}_s"], "s")
               for t in TIERS},
            "refresh.mega_s": (r["refresh.mega_s"], "s"),
            "refresh.affected_convs": (r["refresh.affected_convs"], "count"),
            "vacuum.flatten_rollup_s": (r["vacuum.flatten_rollup_s"], "s"),
            "vacuum.flatten_chunks_s": (r["vacuum.flatten_chunks_s"], "s"),
            "vacuum.vacuum_s": (r["vacuum.vacuum_s"], "s"),
            "vacuum.bytes_freed": (r["vacuum.bytes_freed"], "B"),
            "generations.current_chunks_s": (
                r["generations.current_chunks_s"], "s"),
            "generations.delta_chain": (r["generations.delta_chain"], "count"),
            "router.plan_ms": (1e3 * median([p for p, _e, _n in self.reads]), "ms"),
            "router.exec_ms": (1e3 * median([e for _p, e, _n in self.reads]), "ms"),
            "router.decoded_per_returned": (
                router["python_rows_out"] / max(returned, 1), "ratio"),
            "session.start_s": (session_s, "s"),
            "session.rss_peak_mb": (rss_peak_mb, "MB"),
            "trace.overhead_ms": (
                1e3 * (sum(self.reads[0][:2]) - self.untraced_read), "ms"),
        }
        return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}
