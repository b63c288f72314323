"""Noop-isolated stage breakdown of the flagship fused tier pass
(guide 1.4: time the computation, not the sink) plus per-query
explain("formatted") captures for plans/r08/.

NOT part of the frozen bench contract — bench.py is the driver's gate;
this file exists so optimization work can attribute tier_1m's wall time
to rollup / window+explode / kernel / write, and re-measure after each
change. Prints one JSON line.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_TURNS as in
bench.py; SPARK_GRAFT_EXTRA_RUNS (default 2) draws per stage, min kept.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(spark, label, fn, runs):
    best = float("inf")
    for _ in range(runs):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    return round(best, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    runs = int(os.environ.get("SPARK_GRAFT_EXTRA_RUNS", "2"))
    n_turns = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "2000000"))

    from pyspark.sql import Window as W, functions as F

    from spinterps_spark import datagen
    from spinterps_spark.operators.gapfill import gapfill_virtual_chunks
    from spinterps_spark.operators.rollup import base_rollup
    from spinterps_spark.session import get_spark

    spark = get_spark("bench_extra", cores=cpus,
                      shuffle_partitions=max(cpus * 2, 16))
    out = {}

    gen_dir = tempfile.mkdtemp(prefix="bx_transcripts_")
    datagen.transcripts_spark(spark, seed=42, n_turns_target=n_turns).write.mode(
        "overwrite").parquet(gen_dir)
    transcripts = spark.read.parquet(gen_dir)
    out["n_turns"] = transcripts.count()

    # ---- stage A: the base rollup alone
    out["s1_rollup"] = _time(
        spark, "bx: rollup 1m",
        lambda: _noop(base_rollup(transcripts, "1m", n_salt=16)), runs)

    # ---- stage B: rollup + valid projection + window bounds + explode
    # (everything the fused pass does BEFORE the grouped kernel shuffle)
    def pre_kernel():
        rolled = base_rollup(transcripts, "1m", n_salt=16)
        valid = rolled.where(F.col("valid")).select(
            "conv_id",
            F.unix_timestamp("bucket_ts").alias("_t"),
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("_v"),
        )
        span = 3840 * 60
        k = 8
        w = W.partitionBy("conv_id").orderBy("_t")
        b = W.partitionBy("conv_id")
        df = valid.select(
            "*",
            F.min("_t").over(b).alias("_first"),
            F.max("_t").over(b).alias("_last"),
            F.coalesce(F.lag("_t", k).over(w), F.min("_t").over(b)).alias("_tl"),
            F.coalesce(F.lead("_t", k).over(w), F.max("_t").over(b)).alias("_tr"),
        )
        df = df.select(
            "conv_id", "_t", "_v", "_first", "_last",
            F.explode(F.sequence(
                F.floor(F.col("_tl") / span), F.floor(F.col("_tr") / span)
            )).alias("_chunk"),
        )
        _noop(df)

    out["s2_pre_kernel"] = _time(spark, "bx: pre-kernel", pre_kernel, runs)

    # ---- stage C: the full fused fill+encode to noop (no parquet write)
    def fused():
        rolled = base_rollup(transcripts, "1m", n_salt=16)
        valid = rolled.where(F.col("valid")).select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("tok_len_mean"),
        )
        _noop(gapfill_virtual_chunks(
            valid, "tok_len_mean", method="IDW", tier="1m",
            chunk_buckets=3840))

    out["s3_fused_noop"] = _time(spark, "bx: fused fill+encode", fused, runs)

    # ---- stage D: fused + parquet write (what the pipeline actually pays,
    # minus checkpoint/commit machinery)
    def fused_write():
        rolled = base_rollup(transcripts, "1m", n_salt=16)
        valid = rolled.where(F.col("valid")).select(
            "conv_id", "bucket_ts",
            (F.col("tok_len_sum") / F.col("turn_cnt")).alias("tok_len_mean"),
        )
        wd = tempfile.mkdtemp(prefix="bx_chunks_")
        gapfill_virtual_chunks(
            valid, "tok_len_mean", method="IDW", tier="1m",
            chunk_buckets=3840).write.mode("overwrite").parquet(wd)
        shutil.rmtree(wd, ignore_errors=True)

    out["s4_fused_parquet"] = _time(spark, "bx: fused + write", fused_write,
                                    runs)

    print(json.dumps(out))
    shutil.rmtree(gen_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
