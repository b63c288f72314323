"""spark-submit entry point for the retention engine.

Usage (cluster):
    spark-submit --py-files spinterps_spark.zip -m ... cli.py rollup \
        --input <transcripts path/table> --out <warehouse dir> \
        --tiers 1m,1h,1d --fill IDW --waves 8 [--resume RUN_ID]

    spark-submit --py-files spinterps_spark.zip cli.py synth \
        --turns 1000000 --out <dir>

Local smoke:
    python -m spinterps_spark.cli rollup --input <parquet> --out /tmp/wh

The script only uses SparkSession.builder.getOrCreate(), so all cluster
sizing (master, executors, memory) comes from spark-submit — the same
artifact runs at N and 4N executors (BASELINE.md scaling protocol).
spark-submit starts the driver JVM before this script runs, so pass the
driver JIT policy (session.DRIVER_JIT_OPTIONS) on its command line:

    JIT="-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    JIT="$JIT -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
    spark-submit --conf "spark.driver.defaultJavaOptions=$JIT" --py-files ...
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(app: str):
    from pyspark.sql import SparkSession

    from spinterps_spark.session import DRIVER_JIT_OPTIONS, quiet_noisy_loggers

    spark = (
        SparkSession.builder.appName(app)
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    quiet_noisy_loggers(spark)
    return spark


def _warmup(spark):
    """Touch codegen + python-worker pools once before the timed section
    (cluster warm-up is not steady-state throughput). Identity mapInArrow:
    the boundary every Python kernel uses."""
    df = spark.range(256).repartition(8, "id")
    df.mapInArrow(lambda it: it, schema="id long").count()


def cmd_rollup(args) -> int:
    from spinterps_spark.plans.pipeline import run_retention_pipeline

    spark = _spark("spinterps_spark.rollup")
    _warmup(spark)
    reader = spark.read
    if args.format == "iceberg":
        transcripts = spark.read.table(args.input)
    else:
        transcripts = reader.parquet(args.input)
    coords = vg_dim = drift = None
    if args.coords:
        coords = spark.read.parquet(args.coords)
    if args.vg_dim:
        vg_dim = spark.read.parquet(args.vg_dim)
    drift_cols = args.drift_cols.split(",") if args.drift_cols else None
    if args.drift:
        drift = spark.read.parquet(args.drift)
    metrics = run_retention_pipeline(
        spark,
        transcripts,
        args.out,
        tiers=tuple(args.tiers.split(",")),
        fill_method=args.fill,
        coords=coords,
        vg_dim=vg_dim,
        n_waves=args.waves,
        run_id=args.resume,
        fill_knobs={"chunk_buckets": args.chunk_buckets},
        iceberg_table=args.iceberg_table,
        drift=drift,
        drift_cols=drift_cols,
    )
    print(json.dumps(metrics))
    return 0


def cmd_synth(args) -> int:
    from spinterps_spark import datagen

    spark = _spark("spinterps_spark.synth")
    datagen.transcripts_spark(
        spark, seed=args.seed, n_turns_target=args.turns
    ).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "turns_target": args.turns, "seed": args.seed}))
    return 0


def cmd_fit_variograms(args) -> int:
    from pyspark.sql import functions as F

    from spinterps_spark.operators import rollup as R
    from spinterps_spark.operators import variogram as V

    spark = _spark("spinterps_spark.fitvgs")
    t = spark.read.parquet(args.input)
    coords = spark.read.parquet(args.coords)
    h1 = R.rollup_tier(R.base_rollup(t, "1m"), args.tier, min_cnt=1)
    ser = h1.select(
        "conv_id", "bucket_ts",
        (F.col("tok_len_sum") / F.col("turn_cnt")).alias("v"),
    )
    evg = V.empirical_variogram(
        ser, coords, "v", estimator=args.estimator, drop_zeros=args.drop_zeros
    )
    dim = V.fit_cluster_variograms(evg)
    dim.write.mode("overwrite").parquet(args.out)
    if args.n_best:
        V.fit_cluster_variograms_nbest(evg, n_best=args.n_best).write.mode(
            "overwrite"
        ).parquet(args.out + "_nbest")
    print(json.dumps({"out": args.out, "clusters": dim.count()}))
    return 0


def cmd_snip(args) -> int:
    from spinterps_spark.sources.snip import snip

    spark = _spark("spinterps_spark.snip")
    src = spark.read.parquet(args.input)
    path = snip(
        src, args.out,
        columns=args.columns.split(",") if args.columns else None,
        where=args.where,
        partition_by=tuple(args.partition_by.split(",")) if args.partition_by else (),
    )
    print(json.dumps({"out": path}))
    return 0


def cmd_dedup(args) -> int:
    """End-to-end document dedup. Near-dup modes (lsh / winnow: candidates
    -> exact Jaccard verify -> connected components -> keep-one) write one
    row PER DOCUMENT: (doc_id, keep_doc_id), keep_doc_id = the component's
    minimum id. --mode exact writes one row PER CONTENT GROUP instead:
    (text_hash, n_docs, keep_id) — the two shapes are not interchangeable."""
    from pyspark.sql import functions as F

    from spinterps_spark.operators import dedup as D

    spark = _spark("spinterps_spark.dedup")
    docs = spark.read.parquet(args.input)
    if args.mode == "exact":
        D.exact_dedup(docs).write.mode("overwrite").parquet(args.out)
        # count the WRITTEN parquet — out.count() would re-run the job
        n_groups = spark.read.parquet(args.out).count()
        print(json.dumps({"out": args.out, "groups": n_groups,
                          "mode": "exact"}))
        return 0
    if args.mode == "lsh":
        sig = D.minhash_signatures(docs, n_bands=args.bands)
        pairs = D.lsh_candidate_pairs(sig, min_bands=args.min_bands)
        ver = D.ngram_jaccard(docs, pairs.select("doc_a", "doc_b"))
    else:  # winnow
        ver = D.winnow_candidates(
            docs, max_bucket=args.max_bucket or None
        )
    dup = ver.where(F.col("jaccard") >= args.jaccard).select("doc_a", "doc_b")
    comp = D.connected_components(dup, algorithm=args.algorithm)
    keep = comp.select(
        "doc_id", F.col("component").alias("keep_doc_id")
    )
    # docs with no near-dup edge keep themselves
    all_ids = docs.select(F.col("doc_id"))
    out = all_ids.join(keep, "doc_id", "left").select(
        "doc_id", F.coalesce("keep_doc_id", F.col("doc_id")).alias("keep_doc_id")
    )
    out.write.mode("overwrite").parquet(args.out)
    # stats from the WRITTEN parquet (metadata-cheap) — re-counting `out`
    # would re-execute the whole candidate/verify/components pipeline
    written = spark.read.parquet(args.out)
    n = written.count()
    n_keep = written.where(F.col("doc_id") == F.col("keep_doc_id")).count()
    print(json.dumps({"out": args.out, "docs": n, "kept": n_keep,
                      "mode": args.mode}))
    return 0


def cmd_ann(args) -> int:
    """Cosine top-k over an embeddings parquet: exact brute force, SRP-LSH
    buckets, or IVF inverted lists (optionally k-means-trained)."""
    from pyspark.sql import functions as F

    from spinterps_spark.operators import similarity as SIM

    spark = _spark("spinterps_spark.ann")
    vecs = spark.read.parquet(args.input)
    q = spark.read.parquet(args.queries) if args.queries else (
        vecs.where(F.col("vec_id") < args.n_q).withColumnRenamed("vec_id", "q_id")
    )
    if args.method == "brute":
        out = SIM.cosine_topk_bruteforce(vecs, q, k=args.k)
    elif args.method == "lsh":
        out = SIM.cosine_topk_lsh(vecs, q, k=args.k, dim=args.dim)
    else:  # ivf
        cents = None
        if args.train:
            cents = SIM.train_ivf_centroids(vecs, n_lists=args.n_lists)
        out = SIM.cosine_topk_ivf(
            vecs, q, k=args.k, n_lists=args.n_lists, n_probe=args.n_probe,
            centroids=cents,
        )
    out.write.mode("overwrite").parquet(args.out)
    n_rows = spark.read.parquet(args.out).count()  # not out.count(): that
    # would re-run the full similarity search a second time
    print(json.dumps({"out": args.out, "rows": n_rows,
                      "method": args.method, "trained": bool(args.train)}))
    return 0


def cmd_analyze(args) -> int:
    """Per-document text analysis in one pass: token counts, quality
    score, language ID (argmax over langid.LANG_ORDER + unk), PII counts and optionally the
    redacted text — the curation-pipeline projection, all JVM-side."""
    from pyspark.sql import functions as F

    from spinterps_spark.functions.langid import lang_pred_col
    from spinterps_spark.functions.redact import pii_count_cols, redact_col

    from spinterps_spark.queries import STOPWORDS

    spark = _spark("spinterps_spark.analyze")
    d = spark.read.parquet(args.input)
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    sw = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    quality = F.round(
        F.least(F.lit(1.0), n_tok / F.lit(100.0))
        * (1 - sw / n_tok.cast("double")),
        6,
    )
    counts = pii_count_cols(F.col("text"))
    cols = [
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        quality.alias("quality_score"),
        lang_pred_col(F.col("text"), toks).alias("lang"),
        *[counts[k].alias(f"n_{k}") for k in counts],
    ]
    if args.redact:
        cols.append(redact_col(F.col("text")).alias("text_redacted"))
    d.select(*cols).write.mode("overwrite").parquet(args.out)
    n_rows = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "rows": n_rows,
                      "redacted": bool(args.redact)}))
    return 0


def cmd_corpus(args) -> int:
    """The composed curation pipeline as ONE resumable pass: dedup
    keep-one (exact/lsh/winnow) -> PII redact -> quality/lang gate ->
    corpus parquet, checkpointed per wave (plans/corpus.py). Re-run with
    --resume RUN_ID after a crash: done waves are skipped."""
    from spinterps_spark.plans.corpus import run_corpus_pipeline

    spark = _spark("spinterps_spark.corpus")
    docs = spark.read.parquet(args.input)
    metrics = run_corpus_pipeline(
        spark,
        docs,
        args.out,
        dedup_mode=args.mode,
        min_tokens=args.min_tokens,
        min_quality=args.min_quality,
        langs=args.langs.split(",") if args.langs else None,
        n_waves=args.waves,
        run_id=args.resume,
        jaccard=args.jaccard,
        max_bucket=args.max_bucket or None,
        algorithm=args.algorithm,
    )
    print(json.dumps(metrics))
    return 0


def cmd_retention(args) -> int:
    """Age fine-tier chunks out past --horizon (epoch seconds): surviving
    chunks are rewritten copy-on-write into a new generation and published
    with one snapshot commit; old points remain readable only from the
    coarser tiers (plans/retention.py)."""
    from spinterps_spark.plans.retention import run_retention_pass

    spark = _spark("spinterps_spark.retention")
    metrics = run_retention_pass(
        spark, args.out, args.tier, args.horizon,
        run_id=args.resume, n_waves=args.waves,
    )
    print(json.dumps(metrics))
    return 0


def cmd_compact(args) -> int:
    """Bin-pack the tier's current chunk generation into ~--target-mb files
    range-clustered on (conv_id, chunk_start_ts) and publish it with one
    snapshot commit (plans/compaction.py — the Iceberg rewrite_data_files
    analog for the waved parquet tables)."""
    from spinterps_spark.plans.compaction import run_compaction_pass

    spark = _spark("spinterps_spark.compact")
    metrics = run_compaction_pass(
        spark, args.out, args.tier, target_file_mb=args.target_mb,
        run_id=args.resume, n_waves=args.waves,
    )
    print(json.dumps(metrics))
    return 0


def cmd_refresh(args) -> int:
    """Incremental continuous-aggregate refresh: merge a parquet of NEW
    turns into an existing tier store, recomputing only the conversations
    the delta touched and publishing latest-wins deltas (plans/refresh.py —
    the TimescaleDB refresh_continuous_aggregate analog). Deltas must be
    turns not previously ingested: no pass dedups. Re-running a delta
    under its --resume run_id is a no-op, which is how stream_refresh
    absorbs a redelivered micro-batch."""
    from spinterps_spark.plans.refresh import run_refresh_pass

    spark = _spark("spinterps_spark.refresh")
    coords = spark.read.parquet(args.coords) if args.coords else None
    vg_dim = spark.read.parquet(args.vg_dim) if args.vg_dim else None
    metrics = run_refresh_pass(
        spark, spark.read.parquet(args.input), args.out,
        tiers=tuple(args.tiers.split(",")),
        fill_method=None if args.fill == "none" else args.fill,
        coords=coords, vg_dim=vg_dim,
        n_waves=args.waves, run_id=args.resume,
    )
    print(json.dumps(metrics))
    return 0


def cmd_evolve(args) -> int:
    """Add metric k+1 to an existing store without a rebuild
    (plans/evolve.py): backfill the new metric's chunks from the merged
    rollup as an additive delta and stamp the evolved metric set —
    subsequent refreshes must carry it. --metric NAME=SQL_EXPR, repeatable.
    Reference analog: the cube grows one variable per method in place,
    interp/prepare.py:360-372."""
    from spinterps_spark.plans.evolve import run_evolve_pass

    spark = _spark("spinterps_spark.evolve")
    new_metrics = {}
    for spec in args.metric:
        name, _, expr = spec.partition("=")
        if not expr:
            raise SystemExit(f"--metric needs NAME=SQL_EXPR, got {spec!r}")
        new_metrics[name] = expr
    existing = {}
    for spec in args.existing or []:
        name, _, expr = spec.partition("=")
        if not expr:
            raise SystemExit(f"--existing needs NAME=SQL_EXPR, got {spec!r}")
        existing[name] = expr
    coords = spark.read.parquet(args.coords) if args.coords else None
    vg_dim = spark.read.parquet(args.vg_dim) if args.vg_dim else None
    metrics = run_evolve_pass(
        spark, args.out, new_metrics,
        tiers=tuple(args.tiers.split(",")),
        fill_method=None if args.fill == "none" else args.fill,
        coords=coords, vg_dim=vg_dim,
        extra_fill_metrics=existing or None,
        n_waves=args.waves, run_id=args.resume,
    )
    print(json.dumps(metrics))
    return 0


def cmd_merge(args) -> int:
    """Merge k tier stores into ONE new store (plans/merge.py — the
    utils/merg_nc.py analog): single-source conversations are copied as
    opaque chunk rows (no decode), conversations present in several
    sources are re-filled/re-encoded from the combined rollup and
    published as a latest-wins delta. --mode combine re-sums partial
    aggregates (exact for disjoint turn sets); --mode overwrite keeps the
    LAST --src's buckets (the reference's sorted-file overwrite)."""
    from spinterps_spark.plans.merge import run_merge_pass

    spark = _spark("spinterps_spark.merge")
    coords = spark.read.parquet(args.coords) if args.coords else None
    vg_dim = spark.read.parquet(args.vg_dim) if args.vg_dim else None
    metrics = run_merge_pass(
        spark, args.src, args.out,
        tiers=tuple(args.tiers.split(",")), mode=args.mode,
        fill_method=None if args.fill == "none" else args.fill,
        coords=coords, vg_dim=vg_dim,
        n_waves=args.waves, run_id=args.resume,
    )
    print(json.dumps(metrics))
    return 0


def cmd_flatten(args) -> int:
    """Fold a tier's refresh-delta chain into one new full generation
    (plans/vacuum.py): reads drop their per-delta anti joins and collapse
    back to a single parquet scan. Noop when the chain is empty."""
    from spinterps_spark.plans.vacuum import run_flatten_pass

    spark = _spark("spinterps_spark.flatten")
    metrics = run_flatten_pass(
        spark, args.out, args.tier, table=args.table,
        run_id=args.resume, n_waves=args.waves,
    )
    print(json.dumps(metrics))
    return 0


def cmd_vacuum(args) -> int:
    """Expire generation directories superseded beyond --keep-last full
    generations, on both table roots (plans/vacuum.py — the Iceberg
    expire_snapshots analog). Time travel inside the kept window keeps
    working; reads of expired snapshots fail naming the vacuum run."""
    from spinterps_spark.plans.vacuum import run_vacuum_pass

    spark = _spark("spinterps_spark.vacuum")
    metrics = run_vacuum_pass(
        spark, args.out, keep_last=args.keep_last, run_id=args.resume,
        orphan_min_age_sec=args.orphan_age,
    )
    print(json.dumps(metrics))
    return 0


def cmd_history(args) -> int:
    """DESCRIBE HISTORY over the store's snapshot logs (plans/describe.py):
    one JSON line per commit with resolved liveness (live / superseded /
    expired / applied), retention horizons and vacuum accounting."""
    from spinterps_spark.plans.describe import history

    spark = _spark("spinterps_spark.history")
    df = history(spark, args.out, with_sizes=args.sizes)
    for row in df.toLocalIterator():
        print(json.dumps(row.asDict()))
    return 0


def cmd_query(args) -> int:
    """Routed time-range read: serve [--from, --to] at the finest stored
    resolution, falling through to coarser tiers past each retention
    horizon (plans/router.py). Writes (conv_id, tier, bucket_ts, value)
    parquet to --result."""
    from spinterps_spark.plans.router import query_range

    spark = _spark("spinterps_spark.query")
    convs = args.convs.split(",") if args.convs else None
    out = query_range(
        spark, args.out, args.t_from, args.t_to,
        resolution=args.resolution, conv_ids=convs,
    )
    out.write.mode("overwrite").parquet(args.result)
    written = spark.read.parquet(args.result)
    by_tier = {r["tier"]: r["count"] for r in written.groupBy("tier").count().collect()}
    print(json.dumps({"result": args.result, "rows_by_tier": by_tier}))
    return 0


def main(argv=None) -> int:
    from spinterps_spark.operators.gapfill import FILL_METHODS

    # the maintenance passes also serve stores written without gap fill
    store_fills = (*FILL_METHODS, "none")
    p = argparse.ArgumentParser(prog="spinterps_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("rollup", help="run the retention tier cascade")
    r.add_argument("--input", required=True)
    r.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    r.add_argument("--out", required=True)
    r.add_argument("--tiers", default="1m,1h,1d")
    r.add_argument("--fill", default="IDW", choices=FILL_METHODS)
    r.add_argument("--coords", default=None)
    r.add_argument("--vg-dim", dest="vg_dim", default=None)
    r.add_argument("--waves", type=int, default=4)
    r.add_argument("--chunk-buckets", type=int, default=3840)
    r.add_argument("--resume", default=None, help="run_id to resume")
    r.add_argument("--iceberg-table", default=None,
                   help="tier table identifier (catalog.db.table); used when "
                   "the Iceberg runtime is on the classpath, else the "
                   "parquet+snapshot-sidecar seam")
    r.add_argument("--drift", default=None,
                   help="parquet of (conv_id, bucket_ts, <drift cols>) EDK "
                   "covariates; rides the fused virtual-spine pass")
    r.add_argument("--drift-cols", default=None,
                   help="comma-separated drift column names in --drift")
    r.set_defaults(fn=cmd_rollup)

    s = sub.add_parser("synth", help="generate deterministic transcripts")
    s.add_argument("--turns", type=int, required=True)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--out", required=True)
    s.set_defaults(fn=cmd_synth)

    f = sub.add_parser("fit-variograms", help="fit per-cluster variograms")
    f.add_argument("--input", required=True)
    f.add_argument("--coords", required=True)
    f.add_argument("--tier", default="1h")
    f.add_argument("--estimator", default="classic", choices=["classic", "mean"])
    f.add_argument("--drop-zeros", action="store_true",
                   help="P10: drop zero-squared-diff pairs before binning")
    f.add_argument("--n-best", type=int, default=0,
                   help="also write the n-best ranked fits dim (T4)")
    f.add_argument("--out", required=True)
    f.set_defaults(fn=cmd_fit_variograms)

    sn = sub.add_parser("snip", help="S9 pruned CTAS: column/row subset")
    sn.add_argument("--input", required=True)
    sn.add_argument("--out", required=True)
    sn.add_argument("--columns", default=None, help="comma-separated subset")
    sn.add_argument("--where", default=None, help="SQL predicate")
    sn.add_argument("--partition-by", default=None, help="comma-separated")
    sn.set_defaults(fn=cmd_snip)

    d = sub.add_parser("dedup", help="document dedup: exact / LSH / winnow "
                       "candidates -> Jaccard verify -> components -> keep-one")
    d.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    d.add_argument("--out", required=True)
    d.add_argument("--mode", default="lsh", choices=["exact", "lsh", "winnow"])
    d.add_argument("--bands", type=int, default=8)
    d.add_argument("--min-bands", dest="min_bands", type=int, default=2)
    d.add_argument("--jaccard", type=float, default=0.8,
                   help="verification threshold for a near-dup edge")
    d.add_argument("--max-bucket", dest="max_bucket", type=int, default=0,
                   help="winnow stop-fingerprint cap (0 = uncapped)")
    d.add_argument("--algorithm", default="minlabel",
                   choices=["minlabel", "star"],
                   help="components rounds: diameter (minlabel) vs log (star)")
    d.set_defaults(fn=cmd_dedup)

    a = sub.add_parser("ann", help="cosine top-k: brute / lsh / ivf")
    a.add_argument("--input", required=True, help="embeddings parquet (vec_id, embedding)")
    a.add_argument("--queries", default=None, help="query parquet (q_id, embedding)")
    a.add_argument("--n-q", dest="n_q", type=int, default=8,
                   help="without --queries: use vec_id < n_q as queries")
    a.add_argument("--out", required=True)
    a.add_argument("--method", default="ivf", choices=["brute", "lsh", "ivf"])
    a.add_argument("--k", type=int, default=10)
    a.add_argument("--dim", type=int, default=64)
    a.add_argument("--n-lists", dest="n_lists", type=int, default=16)
    a.add_argument("--n-probe", dest="n_probe", type=int, default=4)
    a.add_argument("--train", action="store_true",
                   help="k-means-train the IVF quantizer (seeded Lloyd on a "
                   "hash-sampled subset) instead of sampling init")
    a.set_defaults(fn=cmd_ann)

    an = sub.add_parser("analyze", help="per-doc text analysis: tokens, "
                        "quality, language ID, PII counts, optional redaction")
    an.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    an.add_argument("--out", required=True)
    an.add_argument("--redact", action="store_true",
                    help="also emit text_redacted (PII rule cascade)")
    an.set_defaults(fn=cmd_analyze)

    c = sub.add_parser("corpus", help="end-to-end curation: dedup keep-one "
                       "-> PII redact -> quality/lang gate -> corpus parquet "
                       "(checkpointed, wave-resumable)")
    c.add_argument("--input", required=True, help="documents parquet (doc_id, text)")
    c.add_argument("--out", required=True)
    c.add_argument("--mode", default="exact", choices=["exact", "lsh", "winnow"])
    c.add_argument("--min-tokens", dest="min_tokens", type=int, default=10)
    c.add_argument("--min-quality", dest="min_quality", type=float, default=0.5)
    c.add_argument("--langs", default=None,
                   help="comma-separated lang allowlist (default: keep all)")
    c.add_argument("--waves", type=int, default=4)
    c.add_argument("--resume", default=None, help="run_id to resume")
    c.add_argument("--jaccard", type=float, default=0.8)
    c.add_argument("--max-bucket", dest="max_bucket", type=int, default=0,
                   help="near-dup bucket stop-key cap (0 = uncapped)")
    c.add_argument("--algorithm", default="minlabel",
                   choices=["minlabel", "star"])
    c.set_defaults(fn=cmd_corpus)

    rt = sub.add_parser(
        "retention",
        help="age fine-tier chunks out past a horizon (copy-on-write "
             "rewrite + one snapshot commit; resumable via --resume)")
    rt.add_argument("--out", required=True,
                    help="pipeline out_dir holding chunks/tier=<t>")
    rt.add_argument("--tier", default="1m")
    rt.add_argument("--horizon", required=True, type=int,
                    help="epoch seconds; chunks wholly before this are dropped")
    rt.add_argument("--waves", type=int, default=4)
    rt.add_argument("--resume", default=None, help="run_id to resume")
    rt.set_defaults(fn=cmd_retention)

    cp = sub.add_parser(
        "compact",
        help="bin-pack a tier's chunk files (range-clustered rewrite + one "
             "snapshot commit; resumable via --resume)")
    cp.add_argument("--out", required=True,
                    help="pipeline out_dir holding chunks/tier=<t>")
    cp.add_argument("--tier", default="1m")
    cp.add_argument("--target-mb", type=int, default=128,
                    help="target output file size in MiB")
    cp.add_argument("--waves", type=int, default=1)
    cp.add_argument("--resume", default=None, help="run_id to resume")
    cp.set_defaults(fn=cmd_compact)

    rf = sub.add_parser(
        "refresh",
        help="merge a parquet of NEW turns into an existing tier store "
             "(affected-conv-only recompute, latest-wins delta publish; "
             "resumable via --resume)")
    rf.add_argument("--input", required=True, help="parquet of new turns")
    rf.add_argument("--out", required=True,
                    help="pipeline out_dir holding rollup/ + chunks/")
    rf.add_argument("--tiers", default="1m,1h",
                    help="the store's cascade order, finest first")
    rf.add_argument("--fill", default="IDW", choices=store_fills,
                    help="gap-fill method, or 'none' for stores written "
                         "without fill")
    rf.add_argument("--coords", default=None)
    rf.add_argument("--vg-dim", dest="vg_dim", default=None)
    rf.add_argument("--waves", type=int, default=2)
    rf.add_argument("--resume", default=None, help="run_id to resume")
    rf.set_defaults(fn=cmd_refresh)

    ev = sub.add_parser(
        "evolve",
        help="add metric k+1 to an existing store without a rebuild "
             "(additive backfill delta + evolved-set stamp; resumable)")
    ev.add_argument("--out", required=True,
                    help="pipeline out_dir holding rollup/ + chunks/")
    ev.add_argument("--metric", action="append", required=True,
                    help="NAME=SQL_EXPR over the rollup columns; repeatable")
    ev.add_argument("--existing", action="append", default=None,
                    help="the store's CURRENT extra metrics (NAME=SQL_EXPR, "
                         "repeatable) — must match what the pipeline used")
    ev.add_argument("--tiers", default="1m,1h")
    ev.add_argument("--fill", default="IDW", choices=store_fills,
                    help="the store's fill method, or 'none'")
    ev.add_argument("--coords", default=None)
    ev.add_argument("--vg-dim", dest="vg_dim", default=None)
    ev.add_argument("--waves", type=int, default=2)
    ev.add_argument("--resume", default=None, help="run_id to resume")
    ev.set_defaults(fn=cmd_evolve)

    mg = sub.add_parser(
        "merge",
        help="merge k stores into one NEW store (opaque copy of "
             "single-source convs + re-encode of the overlap; resumable)")
    mg.add_argument("--src", action="append", required=True,
                    help="source store out_dir; repeat >= 2 times (order "
                         "matters for --mode overwrite: last wins)")
    mg.add_argument("--out", required=True, help="NEW store out_dir")
    mg.add_argument("--mode", default="combine",
                    choices=["combine", "overwrite"])
    mg.add_argument("--tiers", default="1m,1h")
    mg.add_argument("--fill", default="IDW", choices=store_fills,
                    help="the sources' fill method, or 'none'")
    mg.add_argument("--coords", default=None)
    mg.add_argument("--vg-dim", dest="vg_dim", default=None)
    mg.add_argument("--waves", type=int, default=2)
    mg.add_argument("--resume", default=None, help="run_id to resume")
    mg.set_defaults(fn=cmd_merge)

    fl = sub.add_parser(
        "flatten",
        help="fold a tier's refresh-delta chain into one full generation "
             "(single-scan reads again; resumable via --resume)")
    fl.add_argument("--out", required=True,
                    help="pipeline out_dir holding rollup/ + chunks/")
    fl.add_argument("--tier", default="1m")
    fl.add_argument("--table", default="rollup", choices=("rollup", "chunks"))
    fl.add_argument("--waves", type=int, default=2)
    fl.add_argument("--resume", default=None, help="run_id to resume")
    fl.set_defaults(fn=cmd_flatten)

    vc = sub.add_parser(
        "vacuum",
        help="expire generations superseded beyond --keep-last full "
             "generations on both table roots (expire_snapshots analog)")
    vc.add_argument("--out", required=True,
                    help="pipeline out_dir holding rollup/ + chunks/")
    vc.add_argument("--keep-last", dest="keep_last", type=int, default=1,
                    help="full generations of time-travel history to keep")
    vc.add_argument("--orphan-age", dest="orphan_age", type=float,
                    default=None,
                    help="also sweep never-committed generation dirs older "
                         "than this many seconds (remove_orphan_files "
                         "analog; off by default)")
    vc.add_argument("--resume", default=None, help="run_id to resume")
    vc.set_defaults(fn=cmd_vacuum)

    hi = sub.add_parser(
        "history",
        help="DESCRIBE HISTORY: every snapshot commit with resolved "
             "liveness, horizons and vacuum accounting")
    hi.add_argument("--out", required=True,
                    help="pipeline out_dir holding rollup/ + chunks/")
    hi.add_argument("--sizes", action="store_true",
                    help="add on-disk bytes per surviving generation")
    hi.set_defaults(fn=cmd_history)

    q = sub.add_parser(
        "query",
        help="routed time-range read across retention tiers "
             "(fine tier where it holds data, coarser past each horizon)")
    q.add_argument("--out", required=True,
                   help="pipeline out_dir holding chunks/tier=<t>")
    q.add_argument("--from", dest="t_from", required=True, type=int,
                   help="epoch seconds, inclusive")
    q.add_argument("--to", dest="t_to", required=True, type=int,
                   help="epoch seconds, inclusive")
    q.add_argument("--resolution", default="1m")
    q.add_argument("--convs", default=None, help="comma-separated conv_ids")
    q.add_argument("--result", required=True, help="output parquet path")
    q.set_defaults(fn=cmd_query)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
