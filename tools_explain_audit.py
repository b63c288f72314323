"""Physical-plan audit: capture .explain('formatted') for the engine's key
plans and grep the properties that matter at 100 TB (pushed filters, column
pruning, broadcast joins, whole-stage codegen spans, AQE). Output ->
EXPLAIN.md. Run: PYTHONPATH=. python tools_explain_audit.py
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from spinterps_spark import datagen, queries as Q
from spinterps_spark.operators import gapfill as G
from spinterps_spark.operators import rollup as R
from spinterps_spark.session import get_spark


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    spark = get_spark("explain", cores=4)
    sf = "/root/testdata/sf0.01"
    sections = []

    t = spark.read.parquet(f"{sf}/lineitem.parquet")
    p1 = plan_of(
        t.select("l_orderkey", "l_extendedprice").where(F.col("l_shipdate") < "1996-01-01")
    )
    sections.append(("Parquet scan: filter + column pruning pushdown", p1,
                     ["PushedFilters", "ReadSchema"]))

    from spinterps_spark.sources import fixtures
    tr = fixtures.load_transcripts(spark, sf)
    # r8: ONE exchange — Spark's HashAggregate partial mode is the map-side
    # combine the r1-r7 explicit salt duplicated (guide 2.3/2.4); assert the
    # salt column is gone from the plan entirely.
    import re as _re

    p2 = plan_of(R.base_rollup(tr, "1m", n_salt=16))
    assert "_salt" not in p2, "base_rollup must not salt (r8 single-phase)"
    assert len(_re.findall(r"^\(\d+\) Exchange$", p2, _re.M)) == 1, \
        "base_rollup must shuffle exactly once"
    sections.append(("Base rollup (r8: single hash aggregation — map-side "
                     "partial agg, ONE exchange)", p2,
                     ["HashAggregate", "Exchange", "AdaptiveSparkPlan"]))

    coords = fixtures.load_coords(spark, sf)
    vg = spark.createDataFrame([(c, "1.0 Sph(7200.0)") for c in range(8)],
                               "cluster_id int, vg_str string")
    ser = R.base_rollup(tr, "1m").where("valid").selectExpr(
        "conv_id", "bucket_ts", "tok_len_sum/turn_cnt as v")
    p3 = plan_of(G.gapfill_virtual_chunks(ser, "v", method="OK", tier="1m",
                                          coords=coords, vg_dim=vg))
    sections.append(("Virtual-spine fused fill+Gorilla (broadcast dims, one big shuffle)", p3,
                     ["BroadcastExchange", "MapInArrow", "Exchange", "Window"]))

    p4 = plan_of(Q.queries()["cosine_topk"](spark, sf))
    sections.append(("Brute-force cosine top-k (broadcast queries, codegen dot products)", p4,
                     ["BroadcastNestedLoopJoin", "AdaptiveSparkPlan"]))

    p5 = plan_of(Q.q_minhash_bands(spark, sf))
    sections.append(("MinHash bands (one-pass: explode + single doc_id agg, "
                     "no band crossJoin — r5)", p5,
                     ["Generate", "Aggregate"]))

    # r2: as-of infill is a sort-merge WINDOW WALK — no gaps x refs join.
    # The only joins in this plan build the spine (bounds + left join);
    # the nearest-ref selection itself is two Window passes.
    p6 = plan_of(Q.queries()["asof_nnb_infill"](spark, sf))
    sections.append(("As-of NNB infill (r2: window walk, no per-key pair join)", p6,
                     ["Window", "AdaptiveSparkPlan"]))

    # r2: IDW all-neighbor pairs join on (conv_id, _hb horizon bucket) —
    # the bucket key must appear in the join condition/keys.
    p7 = plan_of(Q.queries()["idw_fill_all"](spark, sf))
    sections.append(("IDW all-neighbor fill (r2: horizon-bucket-bounded pair join)", p7,
                     ["_hb", "Generate", "AdaptiveSparkPlan"]))

    # r2: SRP signatures in ONE scan (all tables' bits in one projection).
    from spinterps_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p8 = plan_of(SIM.srp_signatures(emb, n_tables=8, n_bits=8, dim=64))
    import re
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p8, re.M))
    p8 = f"(Scan parquet nodes: {n_scans} — must be 1)\n" + p8
    sections.append(("SRP signatures (r2: single-scan, explode per table)", p8,
                     ["Generate", "Scan parquet nodes: 1"]))

    # r3: the variogram pair join carries the horizon bucket (_hb) in its
    # equi keys — a mega-conversation never nested-loops O(B^2) in one task
    # (VERDICT r2 'What's wrong #1').
    from spinterps_spark.operators import variogram as V
    ser_h = R.rollup_tier(R.base_rollup(tr, "1m"), "1h", min_cnt=1).selectExpr(
        "conv_id", "bucket_ts", "tok_len_sum/turn_cnt as v")
    p9 = plan_of(V.empirical_variogram(ser_h, coords, "v", estimator="mean"))
    assert "CartesianProduct" not in p9 and "BroadcastNestedLoopJoin" not in p9
    sections.append(("Empirical variogram (r3: horizon-bucket-bounded self pair join)", p9,
                     ["_hb", "Generate", "HashAggregate"]))

    # r2/r3: the waved retention write is ONE pass over the source — wave
    # membership is a pmod projection (no re-read per wave), lineage rides
    # the write via Observation aggregates.
    from spinterps_spark.plans.checkpoint import wave_col
    p10 = plan_of(R.base_rollup(tr, "1m").withColumn("wave", wave_col(4)))
    n_scans10 = len(re.findall(r"^\(\d+\) Scan parquet", p10, re.M))
    p10 = f"(Scan parquet nodes: {n_scans10} — one pass per tier)\n" + p10
    sections.append(("Waved write input (one-pass wave membership projection)", p10,
                     ["pmod", "Scan parquet nodes: 1"]))

    # r3: IVF ANN — the centroid model is compiled into the assignment
    # projection as literals (argmax = array_position over a literal-sims
    # array), so the inverted-file build is a pure map: NO join, NO
    # aggregate, NO shuffle on the vector table. Probes broadcast into the
    # candidate join; final top-k rank is pushed map-side by
    # WindowGroupLimit.
    emb_q = emb.where(F.col("vec_id") < 8).withColumnRenamed("vec_id", "q_id")
    p11 = plan_of(SIM.cosine_topk_ivf(emb, emb_q, k=5, n_lists=16, n_probe=4))
    n_ex11 = len(re.findall(r"^\(\d+\) Exchange", p11, re.M))
    p11 = (f"(Exchange nodes: {n_ex11} — probe-side only; the vector table "
           f"is never shuffled before the candidate join)\n") + p11
    sections.append(("IVF cosine top-k (r3: literal-centroid map assignment + broadcast probe join)", p11,
                     ["BroadcastHashJoin", "WindowGroupLimit", "array_position"]))

    # r3: winnowing fingerprints — the whole k-gram/window-min pipeline is
    # array expressions inside two Projects over ONE scan; the explode is
    # OUTER so no inferred size() filter gets pushed to the scan with the
    # gram expression inlined (see operators/dedup.py for the trap).
    from spinterps_spark.operators import dedup as D
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    p12 = plan_of(D.winnow_fingerprints(docs))
    n_scans12 = len(re.findall(r"^\(\d+\) Scan parquet", p12, re.M))
    # the gram-hash expression must appear exactly once (its Project) —
    # twice means a pushed filter re-inlined it (the measured blowup)
    n_gram_exprs = p12.count("conv(substring(md5(")
    p12 = (f"(Scan parquet nodes: {n_scans12}; gram-hash expression sites: "
           f"{n_gram_exprs} — must be 1, a second site means a pushed "
           f"filter inlined it)\n") + p12
    sections.append(("Winnowing fingerprints (r3: array pipeline, outer explode)", p12,
                     ["Generate", "Scan parquet nodes: 1", "expression sites: 1"]))

    # r4: winnow candidate pairs — the pair join is bucketed by fp_hash
    # (SortMergeJoin/ShuffledHashJoin on the fingerprint, never a cross
    # product), then verified by a pair-scoped shingle join.
    p13 = plan_of(D.winnow_candidates(docs))
    has_cross = "CartesianProduct" in p13 or "BroadcastNestedLoopJoin" in p13
    p13 = (f"(cross-product nodes present: {has_cross} — must be False; "
           f"every join is keyed on fp_hash / doc ids / shingles)\n") + p13
    sections.append(("Winnow candidates (r4: fp_hash-bucketed pair join + scoped Jaccard verify)", p13,
                     ["HashAggregate", "present: False"]))

    # r4: one star round of connected components — the edge rewrite is
    # join+aggregate only (hash-to-min joins), no windows, no cross joins;
    # driver loop adds localCheckpoint truncation per round.
    edges = spark.range(64).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    e0 = edges.selectExpr("doc_a AS u", "doc_b AS v")
    sym = e0.union(e0.selectExpr("v AS u", "u AS v"))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("u", "mv").alias("m"))
    p14 = plan_of(
        sym.join(mins, "u").where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v")).distinct()
    )
    sections.append(("Star connected components, one large-star rewrite (r4: join+agg rounds, O(log n) total)", p14,
                     ["HashAggregate", "Exchange"]))

    # r5: capped LSH candidate pairs under skew — the (band, minhash)
    # bucket-count aggregate feeds a LEFT-SEMI stop-key filter BEFORE the
    # self-join, so a boilerplate mega-bucket (Zipf-skewed corpora) can
    # never reach the quadratic pair stage; every join stays keyed, and
    # AQE wraps the whole plan for runtime skew splits on what remains.
    sig = D.minhash_signatures(docs, n_bands=4)
    p15 = plan_of(D.lsh_candidate_pairs(sig, min_bands=2, max_bucket=64))
    has_cross15 = "CartesianProduct" in p15 or "BroadcastNestedLoopJoin" in p15
    p15 = (f"(cross-product nodes present: {has_cross15} — must be False; "
           f"the stop-key semi filter precedes the band-bucket self-join)\n"
           ) + p15
    sections.append(("Capped LSH candidate pairs (r5: bucket-count semi filter bounds skewed fan-out)", p15,
                     ["LeftSemi", "HashAggregate", "AdaptiveSparkPlan",
                      "present: False"]))

    # r5: the corpus pipeline's expensive stage — one doc_id-keyed
    # left-semi join against the materialized keep list, then pure
    # regex/array projections (quality, langid, PII cascade) with zero
    # further shuffles: the shape that makes the stage wave-decomposable
    # and embarrassingly parallel at 100 TB.
    from spinterps_spark.plans.corpus import curation_cols
    keep_ids = docs.select("doc_id").limit(100)
    p16 = plan_of(
        docs.join(keep_ids, "doc_id", "left_semi")
        .select("doc_id", *curation_cols())
        .where("quality_score >= 0.5 AND n_tokens >= 10")
    )
    n_ex16 = len(re.findall(r"^\(\d+\) Exchange", p16, re.M))
    p16 = (f"(Exchange nodes: {n_ex16} — join only; every annotation is a "
           f"projection)\n") + p16
    sections.append(("Corpus curation stage (r5: semi join + pure projections, wave-decomposable)", p16,
                     ["LeftSemi", "regexp_replace", "Scan parquet"]))

    # r5: overlap-weighted resample (A7/A8 analog) — the cell-intersection
    # "join" is a closed-form enumeration (sequence explode), so the whole
    # operator is Generate + two-phase aggregate on (conv, dst bucket):
    # zero join nodes, the tier-cascade shuffle shape.
    p17 = plan_of(R.weighted_resample(R.base_rollup(tr, "1m"), 60, 90))
    n_joins17 = len(re.findall(r"Join", p17))
    p17 = (f"(join nodes: {n_joins17} — must be 0; intersection candidates "
           f"are enumerated closed-form)\n") + p17
    sections.append(("Overlap-weighted resample (r5: closed-form intersections, no joins)", p17,
                     ["Generate", "HashAggregate", "join nodes: 0"]))

    # r6: fused pass under a planted mega-conversation — the rank-based
    # chunk explosion bounds every Arrow group at chunk_buckets + 2k rows
    # regardless of conversation size (adversarial pytest:
    # tests/test_fused_skew.py at a 1.05M-bucket span). The bound is
    # recomputed here independently (pandas membership rule) on a 100k-
    # bucket mega conv and annotated onto the fused plan.
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    n_span, n_refs, cb = 100_000, 1_500, 3_840
    k = G.DEFAULTS["n_neighbors"]
    idx = np.sort(rng.choice(n_span, n_refs, replace=False))
    idx[0], idx[-1] = 0, n_span - 1
    t0 = 1_700_000_000 - (1_700_000_000 % 60)
    mega = pd.DataFrame({
        "conv_id": "mega",
        "bucket_ts": pd.to_datetime(t0 + idx * 60, unit="s"),
        "v": np.round(rng.uniform(1, 50, n_refs), 2),
    })
    tt = t0 + idx * 60
    span = cb * 60
    tl = np.concatenate([np.full(k, tt[0]), tt[:-k]])
    tr = np.concatenate([tt[k:], np.full(k, tt[-1])])
    counts: dict = {}
    for lo, hi in zip(tl // span, tr // span):
        for c in range(int(lo), int(hi) + 1):
            counts[c] = counts.get(c, 0) + 1
    mx = max(counts.values())
    p18 = plan_of(G.gapfill_virtual_chunks(
        spark.createDataFrame(mega), "v", method="IDW", tier="1m",
        chunk_buckets=cb))
    p18 = (f"(Arrow groups bounded: {mx <= cb + 2 * k} — planted "
           f"mega-conversation spans {n_span:,} buckets / "
           f"{len(counts)} chunks; max group rows {mx} <= "
           f"chunk_buckets + 2k = {cb + 2 * k}; a conversation-sized "
           f"group would be {n_refs} rows and unbounded at 100 TB)\n") + p18
    sections.append(("Fused pass under a mega-conversation "
                     "(r6: skew-bounded Arrow groups)", p18,
                     ["MapInArrow", "Arrow groups bounded: True"]))

    # r6: compaction rewrite — ONE range exchange of opaque binary chunk
    # rows, a partition-local sort, and NO Python/decode node anywhere:
    # the bin-pack moves bytes, never points. rangepartitioning on
    # (conv_id, chunk_start_ts) is what keeps per-file min/max stats
    # disjoint so read_chunks_pruned skips whole files afterwards.
    from spinterps_spark.compress.gorilla import encode_tier_chunks
    ser19 = R.base_rollup(fixtures.load_transcripts(spark, sf), "1h").selectExpr(
        "conv_id", "bucket_ts", "tok_len_sum/turn_cnt as value_filled")
    chunks19 = encode_tier_chunks(ser19, "1h")
    p19 = plan_of(
        chunks19.repartitionByRange(4, "conv_id", "chunk_start_ts")
        .sortWithinPartitions("conv_id", "chunk_start_ts")
    )
    n_py19 = len(re.findall(r"MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython",
                            p19.split("rangepartitioning")[-1]))
    p19 = (f"(python nodes above the range exchange: {n_py19} — must be 0; "
           f"compaction moves encoded bytes, it never decodes)\n") + p19
    sections.append(("Compaction rewrite (r6: one range exchange of opaque "
                     "chunk rows, no decode)", p19,
                     ["rangepartitioning", "Sort",
                      "python nodes above the range exchange: 0"]))

    # r6: merged-generation read (refresh delta chain, plans/generations):
    # the latest-wins resolution must stay metadata+broadcast-shaped — base
    # scan anti-joined against the (tiny, broadcast) affected-conv list,
    # unioned with the delta scan — and the pruned read's chunk_start_ts
    # range filter must still push below BOTH legs to the parquet
    # row-group stats. No shuffle may appear anywhere in the read.
    import tempfile

    from spinterps_spark.compress.gorilla import read_chunks_pruned
    from spinterps_spark.plans.generations import current_chunks
    from spinterps_spark.sources.tableformat import tier_tables

    d20 = tempfile.mkdtemp(prefix="explain_gen_")
    chunks19.write.parquet(f"{d20}/chunks/tier=1h/wave=0")
    aff = chunks19.where(F.substring(F.md5("conv_id"), 1, 1) >= "c")
    aff.write.parquet(f"{d20}/chunks_refresh/tier=1h/gen=r1/wave=0")
    aff.select("conv_id").distinct().write.parquet(f"{d20}/refresh/run=r1/convs")
    tier_tables(spark, f"{d20}/chunks").commit_tier(
        "1h", None, f"{d20}/chunks_refresh/tier=1h/gen=r1",
        {"run_id": "r1", "stage": "refresh:1h",
         "convs_location": f"{d20}/refresh/run=r1/convs"},
    )
    p20 = plan_of(read_chunks_pruned(
        spark, current_chunks(spark, d20, "1h"), "1h",
        t_min=1_700_000_000, t_max=1_760_000_000,
    ))
    n_shuffle20 = p20.count("Exchange") - p20.count("BroadcastExchange")
    p20 = (f"(non-broadcast exchanges: {n_shuffle20} — must be 0; "
           "latest-wins resolution is a broadcast anti join, never a "
           "shuffle)\n") + p20
    sections.append(("Merged-generation read (r6: refresh deltas, "
                     "latest-wins via broadcast anti join)", p20,
                     ["LeftAnti", "BroadcastExchange", "Union",
                      "GreaterThanOrEqual(chunk_start_ts",
                      "non-broadcast exchanges: 0"]))

    # r6: flatten (plans/vacuum.run_flatten_pass) folds the delta chain
    # above into ONE full generation — the same read must collapse to a
    # single parquet scan: zero join nodes, zero unions, pruned-read
    # filters still pushed. This is the read-amplification bound: a
    # continuously-refreshed table pays one anti join per delta until the
    # next flatten, then none.
    from spinterps_spark.plans.vacuum import run_flatten_pass

    run_flatten_pass(spark, d20, "1h", table="chunks", run_id="fl-explain")
    p21 = plan_of(read_chunks_pruned(
        spark, current_chunks(spark, d20, "1h"), "1h",
        t_min=1_700_000_000, t_max=1_760_000_000,
    ))
    n_join21 = p21.count("Join")
    n_union21 = p21.count("Union")
    p21 = (f"(join nodes: {n_join21}, union nodes: {n_union21} — both must "
           "be 0 after the flatten; the delta chain is gone from the "
           "plan)\n") + p21
    sections.append(("Flattened-generation read (r6: delta chain folded, "
                     "back to one pruned scan)", p21,
                     ["join nodes: 0", "union nodes: 0",
                      "GreaterThanOrEqual(chunk_start_ts",
                      "Scan parquet"]))

    # r7: evolve (plans/evolve.run_evolve_pass) publishes an ADDITIVE
    # delta — the new metric's chunks beside a metric-less base. The mixed
    # read must cost exactly one Union plus a literal Project (the padded
    # primary-metric column): ZERO join nodes (an additive delta with no
    # newer refresh supersedes nothing, so no anti join), zero
    # non-broadcast exchanges, pruned-read filters pushed into BOTH scans.
    evo = chunks19.withColumn("metric", F.lit("turn_rate"))
    evo.write.parquet(f"{d20}/chunks_evolve/tier=1h/gen=ev1/wave=0")
    tier_tables(spark, f"{d20}/chunks").commit_tier(
        "1h", None, f"{d20}/chunks_evolve/tier=1h/gen=ev1",
        {"run_id": "ev1", "stage": "evolve:1h",
         "primary_metric": "tok_len_mean",
         "new_metrics": '["turn_rate"]'},
    )
    p22 = plan_of(read_chunks_pruned(
        spark, current_chunks(spark, d20, "1h"), "1h",
        t_min=1_700_000_000, t_max=1_760_000_000,
    ))
    n_join22 = p22.count("Join")
    n_shuffle22 = p22.count("Exchange") - p22.count("BroadcastExchange")
    p22 = (f"(join nodes: {n_join22} — must be 0, an additive evolve delta "
           f"supersedes nothing; non-broadcast exchanges: {n_shuffle22} — "
           "must be 0; the metric-less base is schema-aligned by a literal "
           "Project, visible as 'tok_len_mean AS metric')\n") + p22
    sections.append(("Evolved-store read (r7: additive new-metric delta "
                     "beside a metric-less base — one Union, no join, "
                     "padded primary)", p22,
                     ["join nodes: 0", "non-broadcast exchanges: 0",
                      "Union", "tok_len_mean AS metric",
                      "GreaterThanOrEqual(chunk_start_ts"]))

    # r7: cross-store merge (plans/merge.run_merge_pass) publishes a
    # copied base generation (merge:<tier>) plus a refresh-shaped overlap
    # delta (merge_delta:<tier>). The merged-store read must stay the
    # broadcast-anti-join shape: base scan minus the (tiny, broadcast)
    # overlap-conv list, unioned with the re-encoded delta scan; pruned
    # filters pushed into BOTH parquet scans; zero non-broadcast
    # exchanges. This is what makes merge O(overlap): the copied base is
    # opaque bytes, only the delta was re-encoded.
    d23 = tempfile.mkdtemp(prefix="explain_merge_")
    copy23 = chunks19.where(F.substring(F.md5("conv_id"), 1, 1) < "c")
    copy23.write.parquet(f"{d23}/chunks_merge/tier=1h/gen=mg/wave=0")
    ov23 = chunks19.where(F.substring(F.md5("conv_id"), 1, 1) >= "c")
    ov23.write.parquet(f"{d23}/chunks_merge_delta/tier=1h/gen=mg/wave=0")
    ov23.select("conv_id").distinct().write.parquet(
        f"{d23}/merge/run=mg/convs")
    fmt23 = tier_tables(spark, f"{d23}/chunks")
    fmt23.commit_tier(
        "1h", None, f"{d23}/chunks_merge/tier=1h/gen=mg",
        {"run_id": "mg", "stage": "merge:1h"},
    )
    fmt23.commit_tier(
        "1h", None, f"{d23}/chunks_merge_delta/tier=1h/gen=mg",
        {"run_id": "mg", "stage": "merge_delta:1h",
         "convs_location": f"{d23}/merge/run=mg/convs"},
    )
    p23 = plan_of(read_chunks_pruned(
        spark, current_chunks(spark, d23, "1h"), "1h",
        t_min=1_700_000_000, t_max=1_760_000_000,
    ))
    n_shuffle23 = p23.count("Exchange") - p23.count("BroadcastExchange")
    p23 = (f"(non-broadcast exchanges: {n_shuffle23} — must be 0; the "
           "copied base is anti-joined against the broadcast overlap-conv "
           "list, the re-encoded delta rides a Union — merge cost is "
           "O(overlap), the base is opaque bytes)\n") + p23
    sections.append(("Merged-store read (r7: cross-store merge — copied "
                     "base + overlap delta, broadcast anti join)", p23,
                     ["LeftAnti", "BroadcastExchange", "Union",
                      "GreaterThanOrEqual(chunk_start_ts",
                      "non-broadcast exchanges: 0"]))

    # r7: the merge pass's ROLLUP stage (plans/merge.py, combine mode) —
    # single-source conversations' rows PASS THROUGH a broadcast anti
    # join; only the overlap's rows reach the re-sum groupBy. The plan
    # must show exactly ONE non-broadcast exchange (the overlap re-sum's
    # hash partitioning) no matter how large the union of source tables
    # is: merge rollup cost is O(overlap), not O(store).
    d24 = tempfile.mkdtemp(prefix="explain_merge_roll_")
    R.base_rollup(
        fixtures.load_transcripts(spark, sf).where(
            F.substring(F.md5("conv_id"), 1, 1) < "c"), "1h"
    ).write.parquet(f"{d24}/a")
    R.base_rollup(
        fixtures.load_transcripts(spark, sf).where(
            F.substring(F.md5("conv_id"), 1, 1) >= "8"), "1h"
    ).write.parquet(f"{d24}/b")
    r24a, r24b = spark.read.parquet(f"{d24}/a"), spark.read.parquet(f"{d24}/b")
    # the overlap-conv sidecar is a tiny parquet in the real pass too
    (r24a.select("conv_id").intersect(r24b.select("conv_id"))
     .write.parquet(f"{d24}/ov"))
    ov24 = spark.read.parquet(f"{d24}/ov")
    from spinterps_spark.operators.rollup import METRIC_COLS
    cols24 = ["conv_id", "bucket_ts", *METRIC_COLS, "valid"]
    union24 = r24a.select(*cols24).unionByName(r24b.select(*cols24))
    keep24 = union24.join(F.broadcast(ov24), "conv_id", "left_anti")
    summed24 = (union24.join(F.broadcast(ov24), "conv_id", "semi")
                .groupBy("conv_id", "bucket_ts")
                .agg(*[F.sum(c).alias(c) for c in METRIC_COLS])
                .withColumn("valid", F.col("turn_cnt") >= F.lit(1)))
    p24 = plan_of(keep24.unionByName(summed24))
    # count Exchange NODES (the "(n) Exchange" detail headers), not raw
    # substring hits — a formatted plan prints each node twice (tree +
    # detail), unlike the tree-only plans of the earlier sections
    n_shuffle24 = len(re.findall(r"\(\d+\) Exchange\b", p24))
    p24 = (f"(non-broadcast exchanges: {n_shuffle24} — must be 1, the "
           "overlap re-sum's hash partitioning; every single-source row "
           "rides the broadcast anti join straight to the write)\n") + p24
    sections.append(("Merge rollup stage (r7: pass-through + overlap-only "
                     "re-sum — one bounded exchange)", p24,
                     ["LeftAnti", "LeftSemi", "BroadcastExchange",
                      "HashAggregate",
                      "non-broadcast exchanges: 1"]))

    with open("EXPLAIN.md", "w") as f:
        f.write("# EXPLAIN — physical-plan audit of the headline operators\n\n")
        f.write("Generated by tools_explain_audit.py (local[4], sf0.01 inputs). "
                "For each plan: the properties we require at scale, then the "
                "formatted plan. Note: under AQE, whole-stage-codegen ids are "
                "annotated on the *final* plan at runtime; pre-execution "
                "formatted plans show AdaptiveSparkPlan instead (codegen "
                "visible in the non-AQE scan plan below).\n")
        for title, plan, greps in sections:
            f.write(f"\n## {title}\n\n")
            hits = [g for g in greps if g in plan]
            misses = [g for g in greps if g not in plan]
            f.write(f"required markers present: {hits}\n")
            if misses:
                f.write(f"MISSING: {misses}\n")
            f.write("\n```\n" + plan[:4000] + "\n```\n")
    print("EXPLAIN.md written")
    spark.stop()


if __name__ == "__main__":
    main()
