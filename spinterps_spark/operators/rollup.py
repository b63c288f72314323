"""Tier rollup: bucket transcripts into 1m/1h/1d continuous aggregates.

Reference semantics grafted (SURVEY.md A2):
- temporal downsample with min-count validity: a bucket is valid only if the
  number of contributing units >= min_cnt, otherwise its metrics are NULL
  (reference `resample(res).sum()` * 0/1 validity mask,
  utils/rsmp_nc_in_time.py:300-350).
- every metric is an exact-compose sum/count (no ratios, no variance), so
  partial aggregates merge exactly: Spark's map-side partial aggregation,
  the refresh merge (plans/refresh.py) and the tier cascade all re-sum to
  the from-scratch result (SURVEY.md §4 O6 — the reference's strided-index
  reshuffle for worker load balance, variograms/fitvgs.py:60-82, is the
  map-side partial aggregate here).

Scale notes (100 TB):
- the base tier is ONE groupBy on (conv_id, bucket_ts): the partial
  aggregate emits at most one row per key per map task, so a
  mega-conversation whose every turn lands in one (conv, bucket) pair
  reaches its reducer as at most n_map_tasks partial rows.
- tier N+1 rolls up from tier N output (never from raw), so the 1d pass reads
  ~1/60th of what the 1h pass read — the cascade is the cheap path at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from spinterps_spark import METRIC_COLS, TIER_SECONDS

# default validity: a bucket needs at least this many contributing
# lower-tier units to be valid (reference min_cnt knob).
DEFAULT_MIN_CNT = {"1m": 1, "1h": 1, "1d": 1}


def bucket_ts_col(ts_col, tier: str, shift_seconds: int = 0):
    """Tier-aligned bucket timestamp (epoch-truncated, timezone-free math
    so it is reproducible in any SQL engine). shift_seconds is the
    reference's `tme_dla` time-delta: the series is shifted BEFORE
    bucketing (utils/rsmp_nc_in_time.py:276-277)."""
    secs = TIER_SECONDS[tier]
    epoch = F.unix_timestamp(ts_col) + F.lit(int(shift_seconds))
    return F.timestamp_seconds((epoch / secs).cast("long") * secs)


def base_rollup(
    transcripts: DataFrame,
    tier: str = "1m",
    n_salt: int = 16,
    min_cnt: int | None = None,
    shift_seconds: int = 0,
) -> DataFrame:
    """Raw turns -> base-tier aggregates, one hash aggregation.

    Output: (conv_id, bucket_ts, turn_cnt, tok_len_sum, tool_call_cnt,
    role_user_cnt, role_assistant_cnt, role_tool_cnt, valid)

    Spark's HashAggregate runs the partial aggregate map-side and emits
    at most ONE combined row per key per map task, so a mega-conversation's
    hot bucket reaches its reducer as <= n_map_tasks partial rows
    regardless of scale. An explicit (conv, bucket, salt) two-phase
    aggregation would buy the same bound at the price of a SECOND full
    exchange. n_salt is retained in the signature for caller
    compatibility; it does not shape the plan.
    """
    del n_salt  # superseded by map-side partial aggregation (see above)
    if min_cnt is None:
        min_cnt = DEFAULT_MIN_CNT[tier]

    t = transcripts
    enriched = t.select(
        "conv_id",
        bucket_ts_col(F.col("ts"), tier, shift_seconds).alias("bucket_ts"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("_tok_len"),
        F.col("tool").isNotNull().cast("long").alias("_is_tool_call"),
        (F.col("role") == "user").cast("long").alias("_is_user"),
        (F.col("role") == "assistant").cast("long").alias("_is_assistant"),
        (F.col("role") == "tool").cast("long").alias("_is_tool"),
    )
    out = enriched.groupBy("conv_id", "bucket_ts").agg(
        F.count(F.lit(1)).alias("turn_cnt"),
        F.sum("_tok_len").alias("tok_len_sum"),
        F.sum("_is_tool_call").alias("tool_call_cnt"),
        F.sum("_is_user").alias("role_user_cnt"),
        F.sum("_is_assistant").alias("role_assistant_cnt"),
        F.sum("_is_tool").alias("role_tool_cnt"),
    )
    return out.withColumn("valid", F.col("turn_cnt") >= F.lit(min_cnt))


def rollup_tier(lower: DataFrame, to_tier: str, min_cnt: int | None = None) -> DataFrame:
    """Tier N -> tier N+1: sums compose exactly; validity = number of valid
    lower-tier buckets >= min_cnt (reference month/min-count rule A2 —
    utils/rsmp_nc_in_time.py:303-321: count of contributing steps gates the
    bucket; invalid buckets keep the row but NULL the metrics so the gap is
    visible to the gap-filler).
    """
    if min_cnt is None:
        min_cnt = DEFAULT_MIN_CNT[to_tier]

    valid_rows = lower.where(F.col("valid"))
    up = valid_rows.groupBy(
        "conv_id", bucket_ts_col(F.col("bucket_ts"), to_tier).alias("bucket_ts")
    ).agg(
        *[F.sum(c).alias(c) for c in METRIC_COLS],
        F.count(F.lit(1)).alias("_n_lower"),
    )
    up = up.withColumn("valid", F.col("_n_lower") >= F.lit(min_cnt))
    # invalid bucket => metrics NULL (reference: resampled * NaN mask)
    metric_exprs = [
        F.when(F.col("valid"), F.col(c)).otherwise(F.lit(None)).alias(c)
        for c in METRIC_COLS
    ]
    return up.select("conv_id", "bucket_ts", *metric_exprs, "valid")


def rollup_month(lower_1d: DataFrame, min_cnt: int | str = "days_in_month") -> DataFrame:
    """A2 month rule (utils/rsmp_nc_in_time.py:306-311): a calendar-month
    bucket is valid only when min_cnt lower-tier days contributed, where the
    reference's monthly min count is the NUMBER OF DAYS IN THAT MONTH (i.e.
    a complete month) — per-bucket, not a constant. min_cnt may also be an
    int for a fixed threshold. Input is the 1d tier."""
    valid_rows = lower_1d.where(F.col("valid"))
    up = valid_rows.groupBy(
        "conv_id", F.date_trunc("month", "bucket_ts").alias("bucket_ts")
    ).agg(
        *[F.sum(c).alias(c) for c in METRIC_COLS],
        F.count(F.lit(1)).alias("_n_lower"),
    )
    need = (
        F.dayofmonth(F.last_day("bucket_ts"))
        if min_cnt == "days_in_month" else F.lit(int(min_cnt))
    )
    up = up.withColumn("valid", F.col("_n_lower") >= need)
    metric_exprs = [
        F.when(F.col("valid"), F.col(c)).otherwise(F.lit(None)).alias(c)
        for c in METRIC_COLS
    ]
    return up.select(
        "conv_id", "bucket_ts", *metric_exprs,
        F.col("_n_lower").alias("n_days"), "valid",
    )


def derived_metrics(rollup: DataFrame) -> DataFrame:
    """Ratio metrics derived at read time from exact-compose sums
    (SURVEY.md §7.3: 'role-mix and tool-rate kept as sum-pairs until final
    divide')."""
    return rollup.select(
        "*",
        (F.col("tok_len_sum") / F.col("turn_cnt")).alias("tok_len_mean"),
        (F.col("tool_call_cnt") / F.col("turn_cnt")).alias("tool_call_rate"),
        (F.col("role_user_cnt") / F.col("turn_cnt")).alias("role_user_mix"),
        (F.col("role_assistant_cnt") / F.col("turn_cnt")).alias("role_assistant_mix"),
        (F.col("role_tool_cnt") / F.col("turn_cnt")).alias("role_tool_mix"),
    )


def interval_intersections(
    rollup: DataFrame,
    src_secs: int,
    dst_secs: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """J4/J10 analog — the cell-intersection JOIN under the resampler.

    The reference's polygon x cell and raster x raster joins enumerate,
    for every destination cell, the source cells it intersects and the
    intersection measure (areas: rsmp/aa_ras_to_ras.py:1458-1953; polygon
    variant J4). In one dimension the cells are time intervals: each src
    bucket [t, t+src_secs) intersects destination buckets k with overlap
    length ov = min(t+src, (k+1)dst) - max(t, k*dst) > 0. The candidate
    set is computed CLOSED-FORM (floor bounds + sequence explode, at most
    ceil(src/dst)+1 candidates per src row), so this is a pure projection
    — the intersection "join" needs no join operator at all, the 1-D
    payoff of the reference's window-overlap optimization
    (rsmp/aa_ras_to_ras.py:1954-2011).

    Output: (conv_id, _t src epoch, _k dst index, _ov overlap seconds,
    *carry_cols)."""
    t0 = F.unix_timestamp("bucket_ts")
    k_lo = F.floor(t0 / F.lit(dst_secs)).cast("long")
    k_hi = F.floor((t0 + F.lit(src_secs - 1)) / F.lit(dst_secs)).cast("long")
    x = rollup.select(
        "conv_id",
        t0.alias("_t"),
        *(carry_cols or []),
        F.explode(F.sequence(k_lo, k_hi)).alias("_k"),
    )
    ov = F.least(F.col("_t") + src_secs, (F.col("_k") + 1) * dst_secs) - F.greatest(
        F.col("_t"), F.col("_k") * dst_secs
    )
    return x.select("*", ov.alias("_ov")).where(F.col("_ov") > 0)

def weighted_resample(
    rollup: DataFrame,
    src_secs: int,
    dst_secs: int,
    value_col: str = "tok_len_sum",
) -> DataFrame:
    """A7/A8 analog — overlap-weighted resample onto a NON-ALIGNED grid.

    The reference's raster resampler computes each destination cell as the
    area-weight-sum of intersecting source cells (A7,
    rsmp/aa_ras_to_ras.py:2014-2033) and, in the per-class variant, each
    class's weighted coverage fraction of the cell (A8,
    rsmp/ab_ras_to_ras_clss.py:208-231). The time graft replaces area
    overlap with TIME overlap: each src tier bucket [t, t+src_secs)
    distributes its mass uniformly over destination buckets of width
    dst_secs in proportion to overlap seconds; role counts play the
    classes, giving per-role weighted fractions per destination bucket.

    Exactness: contributions accumulate as value x overlap-seconds — pure
    integer sums, order-independent — with ONE double division at the end,
    so a SQL twin matches bit-for-bit. Scale: the explode emits at most
    ceil(src/dst)+1 rows per src bucket (2 for 60s->90s), then one
    shuffle on (conv_id, dst bucket) — the same two-phase aggregate shape
    as the tier cascade, no joins.

    Output: (conv_id, dst_ts, <value_col>_resampled, w_sum, frac_user,
    frac_assistant, frac_tool).
    """
    # dict.fromkeys dedups: value_col may itself be one of the fixed
    # carries (e.g. turn_cnt), which would otherwise duplicate the column
    # and make the aggregate references ambiguous
    carries = list(dict.fromkeys(
        [value_col, "turn_cnt", "role_user_cnt",
         "role_assistant_cnt", "role_tool_cnt"]
    ))
    x = interval_intersections(rollup, src_secs, dst_secs, carry_cols=carries)
    g = x.groupBy("conv_id", "_k").agg(
        F.sum(F.col(value_col) * F.col("_ov")).alias("_num"),
        F.sum("_ov").alias("w_sum"),
        F.sum(F.col("turn_cnt") * F.col("_ov")).alias("_tw"),
        F.sum(F.col("role_user_cnt") * F.col("_ov")).alias("_uw"),
        F.sum(F.col("role_assistant_cnt") * F.col("_ov")).alias("_aw"),
        F.sum(F.col("role_tool_cnt") * F.col("_ov")).alias("_ow"),
    )
    return g.select(
        "conv_id",
        F.timestamp_seconds(F.col("_k") * dst_secs).alias("dst_ts"),
        F.round(F.col("_num") / F.lit(float(src_secs)), 6).alias(
            f"{value_col}_resampled"
        ),
        "w_sum",
        F.round(F.col("_uw") / F.col("_tw"), 6).alias("frac_user"),
        F.round(F.col("_aw") / F.col("_tw"), 6).alias("frac_assistant"),
        F.round(F.col("_ow") / F.col("_tw"), 6).alias("frac_tool"),
    )
