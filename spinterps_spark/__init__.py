"""spinterps_spark — a from-scratch PySpark-native time-series rollup +
downsample + retention engine over conversation/agent transcript tables.

Re-expresses the capabilities of the reference geostatistical pipeline
(faizan90/spinterps, surveyed in SURVEY.md) Spark-first:

- exact-compose bucket aggregation into 1m/1h/1d retention tiers
  (reference temporal resample w/ validity: utils/rsmp_nc_in_time.py:300-350)
- gap-fill of empty buckets by IDW / Ordinary-Kriging / NNB weighted
  temporal interpolation (reference kernels: cyth/interpmthds.pyx:251-362,
  interp/steps.py:282-435) as vectorized pandas/Arrow UDFs
- variogram DSL + empirical variogram + model fit per conversation cluster
  (reference: variograms/vgs.py, vgclus/)
- Gorilla compression (XOR floats + delta-of-delta timestamps) into
  fixed-size chunk structs per (conv_id, tier, chunk)
- checkpointed, resumable tier passes with per-partition lineage + metrics

Everything here is public-knowledge PySpark; no code is copied from the
reference (different language, different execution model).
"""

__version__ = "0.1.0"

from spinterps_spark.session import get_spark  # noqa: F401

TIERS = ("1m", "1h", "1d")

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}

# metric columns carried through every tier (exact-compose sums/counts only,
# per SURVEY.md §7.3: ratios are derived at read time as sum/cnt)
METRIC_COLS = (
    "turn_cnt",
    "tok_len_sum",
    "tool_call_cnt",
    "role_user_cnt",
    "role_assistant_cnt",
    "role_tool_cnt",
)
