"""Variogram machinery: empirical variogram -> model fit per conversation
cluster (SURVEY.md §3.2/§3.3 graft).

- Empirical variogram over *temporal* lags: within each conversation, all
  bucket pairs (i<j) with |dt| <= max_lag contribute (zi-zj)^2 at lag
  |dt| (reference pair join J9 variograms/vgs.py:369-391). Pairs pool per
  cluster, then constant-width lag bins (A5, variograms/vgs.py:444-493):
  per bin mean lag + estimator over squared diffs. The reference's
  'classic' estimator is the *median of the RAW squared diffs* — no 1/2
  factor (variograms/vgs.py:399-412, non-standard semantics preserved,
  SURVEY.md §7.3.3); 'mean' is the commented sum/(2n) form, i.e. the 1/2
  applies to the mean estimator only (ADVICE r1 scale fix).
  P10 drop_zeros: optionally drop zero-squared-diff pairs before binning
  (reference variograms/fitvgs.py:164-177 drop_zeros_flag).
- Model fit (K6, variograms/vgs.py:661-848): bounded differential evolution
  over (sill, range) per candidate model mix, weighted SSE, AIC selection
  n*ln(obj) + 2k (variograms/vgs.py:780). scipy is unavailable in this
  sandbox, so a small deterministic rand/1/bin DE (public algorithm,
  Storn & Price 1997) is implemented in numpy.

Execution: the pair join + binning is pure Spark SQL (decimal-exact sums);
the fit runs in one applyInPandas group per cluster — cluster counts are
tiny (reference precedent: SURVEY.md §3.3 'cluster counts <= dozens').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from spinterps_spark.functions.vg_models import VG_SENTINEL

MODEL_MIXES = (
    ["Sph"], ["Exp"], ["Gau"], ["Lin"],
    ["Nug", "Sph"], ["Nug", "Exp"],
)


def empirical_variogram(
    series: DataFrame,
    coords: DataFrame,
    value_col: str,
    max_lag: float = 48 * 3600,
    lag_width: float = 3600.0,
    estimator: str = "classic",
    drop_zeros: bool = False,
    regime_col: str | None = None,
) -> DataFrame:
    """(conv_id, bucket_ts, value) + (conv_id, cluster_id) ->
    (cluster_id[, regime], bin, lag, gamma, n_pairs).

    estimator='classic': median of raw squared diffs (reference vgs.py:410).
    estimator='mean': 0.5 * mean of squared diffs (the sum/(2n) form).
    drop_zeros (P10): drop pairs with zero squared diff before binning.
    regime_col: optional time-regime column on `series` (e.g. month of
    bucket_ts); pairs are formed WITHIN a regime and pooled per
    (cluster, regime) — the per-step variogram-table analog of the
    reference's FitVariograms (variograms/fitvgs.py:95-114).

    Scale note: the self-join is per conversation and lag-bounded, so pair
    count is O(rows * buckets_per_horizon), not O(rows^2); the join key is
    conv_id (co-partitioned by the rollup shuffle).
    """
    regime = [F.col(regime_col).alias("regime")] if regime_col else []
    s = series.select(
        "conv_id",
        F.unix_timestamp("bucket_ts").alias("t"),
        F.col(value_col).cast("double").alias("z"),
        *regime,
    ).where(F.col(value_col).isNotNull())
    s = s.join(F.broadcast(coords.select("conv_id", "cluster_id")), "conv_id")

    # Horizon-bucket membership bounds the per-key join width (VERDICT r2
    # 'What's wrong #1', same cure as neighbors.horizon_pairs): the left row
    # joins its own max_lag bucket and the next one, the right row its own,
    # so a qualifying pair (0 < b.t - a.t <= max_lag) matches exactly once
    # and a mega-conversation with B buckets costs O(B * rows_per_horizon)
    # comparisons spread over B join keys — never O(B^2) in one task.
    #
    # r8 (guide 2.4): BOTH sides take the identical exploded projection
    # (own bucket + next), so the two join inputs canonicalize to the SAME
    # subplan and ReuseExchange serves the right side from the left side's
    # shuffle — the r1-r7 asymmetric shape recomputed the ENTIRE series
    # lineage (rollup included) once per side. With both sides exploded, a
    # qualifying pair would match in 1 or 2 buckets; requiring the match
    # bucket to equal greatest(a own, b own) keeps exactly one match (the
    # two-sided expression cannot be pushed below either exchange, which
    # would break the symmetry). Pair multiset is unchanged.
    hb = F.floor(F.col("t") / F.lit(float(max_lag)))
    sym = s.withColumn("_hb0", hb).withColumn(
        "_hb", F.explode(F.array(hb, hb + 1)))
    a = sym.alias("a")
    b = sym.alias("b")
    cond = (
        (F.col("a.conv_id") == F.col("b.conv_id"))
        # vacuously true (coords is one row per conv), but it makes BOTH
        # sides reference cluster_id, so column pruning keeps the two
        # join inputs byte-identical — a one-sided reference would give
        # the b side a narrower projection and defeat the exchange reuse
        & (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a._hb") == F.col("b._hb"))
        & (F.col("a._hb") == F.greatest(F.col("a._hb0"), F.col("b._hb0")))
        & (F.col("a.t") < F.col("b.t"))
        & (F.col("b.t") - F.col("a.t") <= max_lag)
    )
    if regime_col:
        cond = cond & (F.col("a.regime") == F.col("b.regime"))
    pairs = a.join(b, cond).select(
        F.col("a.cluster_id").alias("cluster_id"),
        *( [F.col("a.regime").alias("regime")] if regime_col else [] ),
        (F.col("b.t") - F.col("a.t")).cast("double").alias("h"),
        ((F.col("a.z") - F.col("b.z")) ** 2).alias("sq"),
    )
    if drop_zeros:
        pairs = pairs.where(F.col("sq") != 0.0)
    binned = pairs.groupBy(
        "cluster_id",
        *( ["regime"] if regime_col else [] ),
        F.floor(F.col("h") / lag_width).alias("bin"),
    )
    # r4: long-sum accumulators replace the decimal(38,*) sums VERDICT r3
    # flagged as a ~10x aggregate-CPU tax ('what's wrong' #2). lag: h is an
    # integer number of seconds (unix_timestamp diffs), so the BIGINT sum
    # is the exact decimal sum — lag is bit-identical to the r3 output.
    # gamma ('mean'): sq quantized to 1e-4 fixed point (floor(sq*1e4+0.5),
    # pure arithmetic, mirrored digit-for-digit by tests/oracle.py) and
    # summed as BIGINT — order-independent and engine-exact. Overflow
    # headroom: sq <= ~6.4e3 for token-mean series -> 6.4e7 per pair ->
    # int64 safe past 1.4e11 pairs per (cluster, bin).
    lag = (F.sum(F.col("h").cast("long")).cast("double")
           / F.count(F.lit(1))).alias("lag")
    if estimator == "classic":
        # reference 'classic' = median of RAW squared diffs (vgs.py:410)
        agg = binned.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            lag,
            F.median("sq").alias("gamma"),
        )
    elif estimator == "mean":
        # the commented sum/(2n) form: 0.5 applies to the mean only
        agg = binned.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            lag,
            (F.lit(0.5)
             * (F.sum(F.floor(F.col("sq") * 1e4 + F.lit(0.5))).cast("double")
                / F.lit(1e4))
             / F.count(F.lit(1))).alias("gamma"),
        )
    else:
        raise NotImplementedError(estimator)
    return agg


def pairwise_series_gamma(
    series: DataFrame,
    step_col: str = "bucket_ts",
    series_col: str = "series_id",
    value_col: str = "v",
    scale: float = 1e6,
    round_to: int = 4,
) -> DataFrame:
    """A9 pairwise-series variogram statistic (Sampson-Guttorp
    var(a)+var(b)-2*covar over common steps, vgclus/evg_clus.py:111-157)
    for ANY step-key type — the `index_type='obj'` analog (reference
    variograms/vgsinput.py:83-97, SURVEY §1.4): the step key is used only
    for equality (the common-step join), so an opaque string label works
    exactly like a timestamp bucket.

    Accumulation is fixed-point long sums (order-independent,
    engine-exact; see q_pair_variogram_types for the overflow headroom
    rationale). Input: one row per (step, series, value); output one row
    per unordered series pair: (series_a, series_b, n_common, gamma_sg).
    """
    a, b = series.alias("a"), series.alias("b")
    j = a.join(b, step_col).where(
        F.col(f"a.{series_col}") < F.col(f"b.{series_col}")
    )
    q = lambda c: (  # noqa: E731
        F.sum(F.floor(c * scale + F.lit(0.5))).cast("double") / F.lit(scale)
    )
    va, vb = F.col(f"a.{value_col}"), F.col(f"b.{value_col}")
    agg = j.groupBy(
        F.col(f"a.{series_col}").alias("series_a"),
        F.col(f"b.{series_col}").alias("series_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_common"),
        q(va).alias("_sa"),
        q(vb).alias("_sb"),
        q(va * va).alias("_sa2"),
        q(vb * vb).alias("_sb2"),
        q(va * vb).alias("_sab"),
    )
    n = F.col("n_common")
    var_a = F.col("_sa2") / n - (F.col("_sa") / n) * (F.col("_sa") / n)
    var_b = F.col("_sb2") / n - (F.col("_sb") / n) * (F.col("_sb") / n)
    cov = F.col("_sab") / n - (F.col("_sa") / n) * (F.col("_sb") / n)
    return agg.select(
        "series_a", "series_b", "n_common",
        F.round(var_a + var_b - 2 * cov, round_to).alias("gamma_sg"),
    )


def ecdf_interp(
    train: DataFrame,
    probe: DataFrame,
    key_col: str = "cluster_id",
    value_col: str = "v",
    prob_col: str = "ecdf",
) -> DataFrame:
    """interp1d-style ecdf lookup with boundary fill (reference
    vgclus/tvgs_clus.py:372-377: interp1d over the rank ecdf, probes outside
    the observed range take the boundary probability).

    Spark-first: UNION train and probe rows, one sort per key, two running
    window passes (nearest train row <= v and >= v via last/first
    ignorenulls), then the linear interpolation in closed form — a
    sort-merge lookup, never a per-probe join. Ties (probe v == train v)
    resolve to the train probability exactly (train sorts first).

    train: (key, value, prob); probe: (key, value). Returns
    (key, value, prob_interp) for probe rows.
    """
    from pyspark.sql import Window as W

    tr = train.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("double").alias("_x"),
        F.col(prob_col).cast("double").alias("_p"),
        F.lit(0).alias("_probe"),
    )
    pr = probe.select(
        F.col(key_col).alias("_k"),
        F.col(value_col).cast("double").alias("_x"),
        F.lit(None).cast("double").alias("_p"),
        F.lit(1).alias("_probe"),
    )
    u = tr.unionByName(pr)
    order = [F.col("_x"), F.col("_probe"), F.col("_p")]
    wp = W.partitionBy("_k").orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("_k").orderBy(*order).rowsBetween(0, W.unboundedFollowing)
    d = u.select(
        "*",
        F.last(F.when(F.col("_probe") == 0, F.col("_p")), ignorenulls=True)
        .over(wp).alias("_p0"),
        F.last(F.when(F.col("_probe") == 0, F.col("_x")), ignorenulls=True)
        .over(wp).alias("_x0"),
        F.first(F.when(F.col("_probe") == 0, F.col("_p")), ignorenulls=True)
        .over(wn).alias("_p1"),
        F.first(F.when(F.col("_probe") == 0, F.col("_x")), ignorenulls=True)
        .over(wn).alias("_x1"),
    ).where(F.col("_probe") == 1)
    interp = (
        F.when(F.col("_p0").isNull(), F.col("_p1"))          # below min -> fill
        .when(F.col("_p1").isNull(), F.col("_p0"))           # above max -> fill
        .when(F.col("_x1") == F.col("_x0"), F.col("_p0"))    # exact hit
        .otherwise(
            F.col("_p0")
            + (F.col("_x") - F.col("_x0"))
            * (F.col("_p1") - F.col("_p0"))
            / (F.col("_x1") - F.col("_x0"))
        )
    )
    return d.select(
        F.col("_k").alias(key_col),
        F.col("_x").alias(value_col),
        interp.alias("prob_interp"),
    )


# --------------------------------------------------------------- K6 fit

def _de_minimize(obj, bounds: np.ndarray, seed: int, n_pop: int = 24,
                 n_iter: int = 120, f_w: float = 0.8, cr: float = 0.9):
    """Deterministic rand/1/bin differential evolution (Storn & Price)."""
    rng = np.random.RandomState(seed)
    d = len(bounds)
    lo, hi = bounds[:, 0], bounds[:, 1]
    pop = lo + rng.rand(n_pop, d) * (hi - lo)
    costs = np.array([obj(x) for x in pop])
    for _ in range(n_iter):
        for i in range(n_pop):
            idx = rng.choice(n_pop, 3, replace=False)
            mutant = np.clip(pop[idx[0]] + f_w * (pop[idx[1]] - pop[idx[2]]), lo, hi)
            cross = rng.rand(d) < cr
            cross[rng.randint(d)] = True
            trial = np.where(cross, mutant, pop[i])
            c = obj(trial)
            if c <= costs[i]:
                pop[i] = trial
                costs[i] = c
    best = int(np.argmin(costs))
    return pop[best], costs[best]


def fit_vg_model(
    lags: np.ndarray,
    gammas: np.ndarray,
    n_pairs: np.ndarray | None = None,
    mixes=MODEL_MIXES,
    wt_by: str = "pairs_over_gamma_sq",
    seed: int = 1,
) -> tuple[str, float]:
    """Fit candidate model mixes to an empirical variogram, pick by AIC
    (reference K6: DE over permutations, weighted SSE, AIC = n*ln(obj)+2k,
    variograms/vgs.py:661-848). Returns (vg_str, aic)."""

    lags = np.asarray(lags, dtype=np.float64)
    gammas = np.asarray(gammas, dtype=np.float64)
    ok = np.isfinite(lags) & np.isfinite(gammas)
    lags, gammas = lags[ok], gammas[ok]
    if n_pairs is not None:
        n_pairs = np.asarray(n_pairs, dtype=np.float64)[ok]
    if len(lags) < 3:
        return "nan", float("inf")

    if wt_by == "pairs_over_gamma_sq" and n_pairs is not None:
        wts = n_pairs / np.maximum(gammas, 1e-12) ** 2
    elif wt_by == "inv_dist_sq":
        wts = 1.0 / np.maximum(lags, 1e-12) ** 2
    else:
        wts = np.ones_like(lags)

    var2 = 2.0 * max(float(np.var(gammas)), float(np.max(gammas)), 1e-6)
    min_lag, max_lag = float(lags.min()), float(lags.max())

    from spinterps_spark.functions.vg_models import VG_FTNS

    fits = []
    for mix in mixes:
        k = 2 * len(mix)

        def obj(x, _mix=mix):
            # direct model evaluation — bit-identical to the r1-r4
            # vg_vals(f"{sill} {name}({rng_p})") string round-trip (Python
            # float repr round-trips exactly; same >=1e-5 range clamp as
            # parse_vg_str; same accumulation order) but without paying a
            # format+parse on every one of the ~3k DE evaluations per mix
            g = np.zeros_like(lags)
            for m_i, name in enumerate(_mix):
                sill, rng_p = x[2 * m_i], x[2 * m_i + 1]
                g += VG_FTNS[name](lags, max(1e-5, rng_p), sill)
            return float(np.sum(wts * (gammas - g) ** 2))

        bounds = []
        for name in mix:
            if name == "Nug":
                bounds.append([1e-9, var2])
                bounds.append([1e-5, 1.0])  # range unused for Nug
            else:
                bounds.append([1e-9, var2])
                bounds.append([min_lag, max_lag * 2.0])
        x, cost = _de_minimize(obj, np.array(bounds), seed=seed)
        n = len(lags)
        aic = n * np.log(max(cost, 1e-300)) + 2 * k
        parts = " + ".join(
            f"{x[2*i]:.6f} {name}({x[2*i+1]:.6f})" for i, name in enumerate(mix)
        )
        fits.append((float(aic), parts))
    fits.sort(key=lambda f: f[0])
    if not fits:
        return "nan", float("inf")
    return fits[0][1], fits[0][0]


FIT_SCHEMA = "cluster_id int, vg_str string, aic double, n_bins int"
FIT_NBEST_SCHEMA = "cluster_id int, rank int, vg_str string, aic double"


def _per_mix_fits(evg: DataFrame, keys: list[str], seed: int) -> DataFrame:
    """One DE fit per (group, model-mix) — the parallelization grain.

    r1-r4 fitted all len(MODEL_MIXES) mixes sequentially inside one
    applyInPandas group per cluster, so an 8-cluster dim ran as 8 tasks on
    32 cores (VERDICT r4 next-step #8: under-parallelized). Exploding a
    mix_id column first makes the unit of work (group x mix) — 48 tasks —
    exactly like the reference parallelizing across model permutations
    (variograms/vgs.py:661-848, one opt per permutation). Bit-identical to
    the sequential path: each mix always ran its own _de_minimize with the
    same seed, so per-mix tasks reproduce the same numbers, and the min-AIC
    reduce below uses the same (aic, mix order) tie-break as the old stable
    sort. Group rows are tiny (n_bins per mix), so the explode's
    len(MODEL_MIXES)x row amplification is on a dim-sized table.

    AQE trap (r6): the evg input is a few KB, so AQE's
    coalesceShufflePartitions squashes the groupBy shuffle to ONE
    post-shuffle partition and every fit runs serially in a single task —
    measured 48 x 0.2 s sleep groups at 10 s wall on local[32]. CPU cost
    here is per GROUP, not per byte, so byte-targeted coalescing is exactly
    wrong. An explicit fixed-N repartition on the group keys is emitted as
    REPARTITION_BY_NUM, which AQE never coalesces, and it already satisfies
    the groupBy's required distribution so no second exchange appears
    (one Exchange node in the final plan). 4x parallelism over-partitioning
    keeps hash-collision stragglers ~1 group/task; empty tasks are ~ms."""
    x = evg.withColumn(
        "mix_id", F.explode(F.array(*[F.lit(i) for i in range(len(MODEL_MIXES))]))
    )
    n_parts = 4 * evg.sparkSession.sparkContext.defaultParallelism
    x = x.repartition(n_parts, *keys, "mix_id")

    def fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin")
        mix = MODEL_MIXES[int(pdf["mix_id"].iloc[0])]
        vg, aic = fit_vg_model(
            pdf["lag"].to_numpy(),
            pdf["gamma"].to_numpy(),
            pdf["n_pairs"].to_numpy(),
            mixes=(mix,),
            seed=seed,
        )
        row = {k: [pdf[k].iloc[0]] for k in keys}
        row["mix_id"] = [int(pdf["mix_id"].iloc[0])]
        row["vg_str"] = [vg]
        row["aic"] = [aic]
        row["n_bins"] = [len(pdf)]
        return pd.DataFrame(row)

    key_schema = ", ".join(
        f"{k} {'int' if k == 'cluster_id' else 'string'}" for k in keys
    )
    schema = f"{key_schema}, mix_id int, vg_str string, aic double, n_bins int"
    return x.groupBy(*keys, "mix_id").applyInPandas(fit_one, schema=schema)


def fit_cluster_variograms_nbest(evg: DataFrame, n_best: int = 3, seed: int = 1) -> DataFrame:
    """T4 n-best fits surfaced as a dim table: the reference's FitVariograms
    keeps the n best models by AIC per entity (variograms/vgs.py:809-818,
    per-step table fitvgs.py:95-114); here per cluster, ranked ascending.
    Fits run one task per (cluster, mix); ranking is a window over the
    per-mix results."""
    from pyspark.sql import Window

    per_mix = _per_mix_fits(evg, ["cluster_id"], seed)
    w = Window.partitionBy("cluster_id").orderBy("aic", "mix_id")
    return (
        per_mix.where(F.col("vg_str") != VG_SENTINEL)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= n_best)
        .select("cluster_id", "rank", "vg_str", "aic")
    )


def fit_cluster_variograms(evg: DataFrame, seed: int = 1) -> DataFrame:
    """One K6 fit per cluster (or per (cluster, regime) when the evg was
    built with regime_col — the per-step variogram table analog) -> vg dim:
    the weight model reused across buckets (reference O2 rewrite). Fits run
    one task per (group, mix) — see _per_mix_fits — then reduce to the
    min-AIC winner per group."""
    from pyspark.sql import Window

    with_regime = "regime" in evg.columns
    keys = ["cluster_id"] + (["regime"] if with_regime else [])
    per_mix = _per_mix_fits(evg, keys, seed)
    w = Window.partitionBy(*keys).orderBy("aic", "mix_id")
    out = (
        per_mix.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
    )
    return out.select(*keys, "vg_str", "aic", "n_bins")


def broadcast_regime_vg(
    spined: DataFrame,
    coords: DataFrame,
    vg_regime_dim: DataFrame,
    vg_global_dim: DataFrame,
    regime_expr,
) -> DataFrame:
    """Broadcast the per-(cluster, regime) fitted dim back to a per-(conv,
    bucket) `vg_str` column consumable by gapfill(..., vg_col='vg_str')
    (reference vgclus/tvg_fit.py:58-96: the fitted time-varying model series
    is broadcast back onto the step table).

    Fallback rule: a (cluster, regime) cell with no fit (absent or the 'nan'
    sentinel — too few bins in that regime) takes the cluster's GLOBAL fit,
    so every bucket always has a usable model. Both dims are tiny and
    broadcast; the fact join stays a single narrow pass over `spined`.
    """
    dim = coords.select("conv_id", "cluster_id")
    reg = vg_regime_dim.select(
        "cluster_id", "regime", F.col("vg_str").alias("_vg_regime")
    )
    glo = vg_global_dim.select("cluster_id", F.col("vg_str").alias("_vg_global"))
    out = (
        spined.withColumn("regime", regime_expr)
        .join(F.broadcast(dim), "conv_id")
        .join(F.broadcast(reg), ["cluster_id", "regime"], "left")
        .join(F.broadcast(glo), "cluster_id", "left")
    )
    vg = F.coalesce(
        F.when(F.col("_vg_regime") != VG_SENTINEL, F.col("_vg_regime")),
        F.col("_vg_global"),
    )
    return out.withColumn("vg_str", vg).drop(
        "_vg_regime", "_vg_global", "cluster_id"
    )


# ------------------------------------------------------ K7: KS clustering

def _ok_weight_sample(vg_str: str, seed: int, n_cfgs: int = 24, k: int = 6,
                      horizon: float = 48 * 3600) -> np.ndarray:
    """Sorted sample of OK weights under a model, over deterministic random
    neighbor configurations (reference: random station configs from data,
    vgclus/tvgs_clus.py:228-278). One target at 0, k refs at seeded offsets."""
    from spinterps_spark.functions.vg_models import vg_vals

    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n_cfgs):
        offs = np.sort(rng.uniform(-horizon, horizon, k))
        dmat = np.abs(offs[:, None] - offs[None, :])
        a = np.zeros((k + 1, k + 1))
        g = vg_vals(vg_str, dmat.ravel()).reshape(k, k)
        np.fill_diagonal(g, 0.0)
        a[:k, :k] = g
        a[k, :k] = 1.0
        a[:, k] = 1.0
        rhs = np.zeros(k + 1)
        rhs[:k] = vg_vals(vg_str, np.abs(offs))
        rhs[k] = 1.0
        lm = np.linalg.pinv(a) @ rhs
        out.append(lm[:k])
    return np.sort(np.concatenate(out))


def ks_two_sample(a: np.ndarray, b: np.ndarray) -> float:
    """Two-sample Kolmogorov-Smirnov statistic (numpy; scipy absent)."""
    allv = np.sort(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), allv, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), allv, side="right") / len(b)
    return float(np.max(np.abs(fa - fb)))


def ks_cluster_variograms(
    vg_dim: "pd.DataFrame", alpha_c: float = 1.36, seed: int = 11,
    n_cfgs: int = 24, k: int = 6,
) -> "pd.DataFrame":
    """K7 cluster reduction (reference vgclus/tvgs_clus.py:294-498):
    greedily merge variogram clusters whose OK-weight ecdfs are KS-similar
    (d_nm <= alpha_c*sqrt((n+m)/nm)); merged clusters refit on the mean of
    their model curves (A13, vgclus/tvgs_clus.py:68-90). Driver-side loop —
    cluster counts are tiny by construction.

    vg_dim: pandas (cluster_id, vg_str). Returns (cluster_id, merged_id,
    vg_str) with one representative model per merged group.
    """
    items = list(vg_dim[["cluster_id", "vg_str"]].itertuples(index=False))
    samples = {
        c: _ok_weight_sample(v, seed=seed + int(c), n_cfgs=n_cfgs, k=k)
        for c, v in items if v != "nan"
    }
    # memoized representative samples (VERDICT r2 'What's wrong #3'): the
    # rep's weight sample changes only when the rep string changes (a merge
    # refit), so key the cache on (m_id, rep_str) — O(C + merges) samples
    # total instead of O(C^2)
    rep_samples: dict[int, tuple[str, np.ndarray]] = {}

    def rep_sample(m_id: int, rep_str: str) -> np.ndarray:
        hit = rep_samples.get(m_id)
        if hit is not None and hit[0] == rep_str:
            return hit[1]
        smp = _ok_weight_sample(
            rep_str, seed=seed + 10_000 + m_id, n_cfgs=n_cfgs, k=k
        )
        rep_samples[m_id] = (rep_str, smp)
        return smp

    merged: dict[int, list[int]] = {}
    reps: dict[int, str] = {}
    for c, v in items:
        if v == "nan":
            merged[c] = [c]
            reps[c] = v
            continue
        placed = False
        for m_id in list(reps):
            if reps[m_id] == "nan":
                continue
            a, b = samples[c], rep_sample(m_id, reps[m_id])
            d = ks_two_sample(a, b)
            thr = alpha_c * np.sqrt((len(a) + len(b)) / (len(a) * len(b)))
            if d <= thr:
                merged[m_id].append(c)
                # refit on the mean of member curves (A13)
                lags = np.linspace(60, 72 * 3600, 64)
                from spinterps_spark.functions.vg_models import vg_vals

                by_id = {i.cluster_id: i.vg_str for i in items}
                curves = [vg_vals(by_id[m], lags) for m in merged[m_id]]
                mean_curve = np.mean(np.stack(curves), axis=0)
                new_vg, _aic = fit_vg_model(lags, mean_curve, seed=seed)
                reps[m_id] = new_vg
                placed = True
                break
        if not placed:
            merged[c] = [c]
            reps[c] = v

    rows = []
    for m_id, members in merged.items():
        for c in members:
            rows.append((c, m_id, reps[m_id]))
    return pd.DataFrame(rows, columns=["cluster_id", "merged_id", "vg_str"])
