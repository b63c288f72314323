import numpy as np
import pandas as pd
import pytest

from spinterps_spark import METRIC_COLS, TIER_SECONDS, datagen
from spinterps_spark.operators import rollup as R
from spinterps_spark.operators import spine as S

from tests import oracle


def _sorted(pdf):
    return pdf.sort_values(["conv_id", "bucket_ts"]).reset_index(drop=True)


def test_base_rollup_matches_oracle(spark):
    turns = datagen.transcripts_pandas(seed=42, n_turns_target=4000)
    sdf = spark.createDataFrame(turns)
    got = _sorted(R.base_rollup(sdf, "1m").toPandas())
    want = _sorted(oracle.rollup_pandas(turns, 60))
    for c in METRIC_COLS:
        assert (got[c].to_numpy() == want[c].to_numpy()).all(), c
    assert (got["valid"] == want["valid"]).all()
    assert got["bucket_ts"].equals(want["bucket_ts"])


def test_tier_cascade_matches_oracle(spark):
    turns = datagen.transcripts_pandas(seed=42, n_turns_target=4000)
    sdf = spark.createDataFrame(turns)
    m1 = R.base_rollup(sdf, "1m")
    h1 = R.rollup_tier(m1, "1h", min_cnt=3)
    d1 = R.rollup_tier(h1, "1d", min_cnt=2)

    o1 = oracle.rollup_pandas(turns, 60)
    oh = oracle.rollup_tier_pandas(o1, 3600, min_cnt=3)
    od = oracle.rollup_tier_pandas(oh, 86400, min_cnt=2)

    for got_df, want in ((h1, oh), (d1, od)):
        got = _sorted(got_df.toPandas())
        want = _sorted(want)
        assert len(got) == len(want)
        for c in METRIC_COLS:
            g = got[c].to_numpy(dtype=float)
            w = want[c].to_numpy(dtype=float)
            assert ((g == w) | (np.isnan(g) & np.isnan(w))).all(), c
        assert (got["valid"].to_numpy() == want["valid"].to_numpy()).all()


def test_spine_makes_gaps_explicit(spark):
    turns = datagen.transcripts_pandas(seed=42, n_turns_target=4000)
    sdf = spark.createDataFrame(turns)
    m1 = R.base_rollup(sdf, "1h")
    spined = S.with_spine(m1, "1h")
    got = _sorted(spined.toPandas())

    want = _sorted(
        oracle.spine_pandas(oracle.rollup_pandas(turns, 3600), 3600)[got.columns]
    )
    assert len(got) == len(want)
    assert (got["valid"].to_numpy() == want["valid"].to_numpy()).all()
    g = got["turn_cnt"].to_numpy(dtype=float)
    w = want["turn_cnt"].to_numpy(dtype=float)
    assert ((g == w) | (np.isnan(g) & np.isnan(w))).all()
    # spine must contain real gaps, else gap-fill has nothing to do
    assert (~got["valid"]).sum() > 0


def test_month_rule_days_in_month(spark):
    """A2 month rule: valid iff every day of the month contributed."""
    import pandas as pd

    # conv a: all 29 days of Feb 2024 (leap); conv b: 28 of them
    days = pd.date_range("2024-02-01", "2024-02-29", freq="D")
    rows = []
    for d in days:
        rows.append(("a", d, 2, 10))
    for d in days[:-1]:
        rows.append(("b", d, 3, 12))
    pdf = pd.DataFrame(rows, columns=["conv_id", "bucket_ts", "turn_cnt", "tok_len_sum"])
    for c in ("tool_call_cnt", "role_user_cnt", "role_assistant_cnt", "role_tool_cnt"):
        pdf[c] = 1
    pdf["valid"] = True
    d1 = spark.createDataFrame(pdf)
    mo = R.rollup_month(d1).toPandas().set_index("conv_id")
    assert bool(mo.loc["a", "valid"]) and mo.loc["a", "n_days"] == 29
    assert mo.loc["a", "turn_cnt"] == 58
    assert not bool(mo.loc["b", "valid"])
    assert pd.isna(mo.loc["b", "turn_cnt"])  # invalid -> NULL metrics
    # fixed-int threshold variant
    mo2 = R.rollup_month(d1, min_cnt=28).toPandas().set_index("conv_id")
    assert bool(mo2.loc["b", "valid"])


def test_time_shift_tme_dla(spark):
    """A2 tme_dla: shifting by +30s moves a :59:45 turn into the next
    minute bucket."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["c", "c"],
            "turn_idx": [0, 1],
            "role": ["user", "assistant"],
            "text": ["hi there", "ok"],
            "tool": [None, None],
            "ts": pd.to_datetime(["2024-01-01 00:59:45", "2024-01-01 01:00:10"]),
        }
    )
    t = spark.createDataFrame(pdf)
    plain = R.base_rollup(t, "1m").toPandas()
    shifted = R.base_rollup(t, "1m", shift_seconds=30).toPandas()
    assert len(plain) == 2  # two distinct minute buckets
    assert len(shifted) == 1  # both land in 01:00 after +30s
    assert shifted["turn_cnt"].iloc[0] == 2


def test_derived_metrics(spark):
    turns = datagen.transcripts_pandas(seed=42, n_turns_target=2000)
    sdf = spark.createDataFrame(turns)
    got = R.derived_metrics(R.base_rollup(sdf, "1h")).toPandas()
    assert np.allclose(
        got["tok_len_mean"], got["tok_len_sum"] / got["turn_cnt"], rtol=0, atol=0
    )
    mix = got[["role_user_mix", "role_assistant_mix", "role_tool_mix"]].sum(axis=1)
    assert np.allclose(mix, 1.0)


def test_weighted_resample_exact_overlaps_and_mass_conservation(spark):
    """A7/A8 analog: hand-computed 60s->90s overlap weights, per-role
    weighted fractions, and exact mass conservation (integer-accumulated
    contributions sum to the source total)."""
    base = 1_700_000_040 - (1_700_000_040 % 90)  # 90-aligned epoch
    rows = [
        # (conv, t, tok_len_sum, turn_cnt, user, assistant, tool)
        ("c1", base + 0, 120, 4, 2, 2, 0),    # fully inside dst k0
        ("c1", base + 60, 90, 3, 3, 0, 0),    # splits 30/30 across k0/k1
        ("c2", base + 90, 60, 2, 0, 1, 1),    # fully inside dst k1
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["conv_id", "t", "tok_len_sum", "turn_cnt",
                 "role_user_cnt", "role_assistant_cnt", "role_tool_cnt"],
    )
    pdf["bucket_ts"] = pd.to_datetime(pdf.pop("t"), unit="s")
    out = (
        R.weighted_resample(spark.createDataFrame(pdf), src_secs=60, dst_secs=90)
        .orderBy("conv_id", "dst_ts")
        .toPandas()
    )
    k0, k1 = base, base + 90
    got = {
        (r.conv_id, int(r.dst_ts.timestamp())): r for r in out.itertuples()
    }
    # c1/k0: 120*60 + 90*30 = 9900 -> /60 = 165.0; w = 90
    assert got[("c1", k0)].tok_len_sum_resampled == 165.0
    assert got[("c1", k0)].w_sum == 90
    # frac_user = (2*60 + 3*30) / (4*60 + 3*30) = 210/330
    assert got[("c1", k0)].frac_user == round(210 / 330, 6)
    # c1/k1: 90*30/60 = 45.0; w = 30; all-user bucket
    assert got[("c1", k1)].tok_len_sum_resampled == 45.0
    assert got[("c1", k1)].frac_user == 1.0
    # c2/k1: aligned 60s inside 90s window
    assert got[("c2", k1)].tok_len_sum_resampled == 60.0
    assert got[("c2", k1)].frac_tool == 0.5
    # mass conservation: sum of resampled values == sum of source values
    assert out["tok_len_sum_resampled"].sum() == pdf["tok_len_sum"].sum()
    # every source bucket contributes exactly src_secs of weight
    assert out["w_sum"].sum() == 60 * len(pdf)


def test_interval_intersections_enumeration_is_exact(spark):
    """J4/J10 analog: the closed-form candidate enumeration finds exactly
    the intersecting (src, dst) interval pairs with exact overlap
    lengths — verified against a brute-force python intersection join."""
    ts = [0, 60, 120, 270, 300]  # 90-grid offsets: aligned + straddling
    pdf = pd.DataFrame({"conv_id": "c", "t": ts})
    pdf["bucket_ts"] = pd.to_datetime(pdf.pop("t"), unit="s")
    got = (
        R.interval_intersections(spark.createDataFrame(pdf), 60, 90)
        .select("_t", "_k", "_ov").toPandas()
        .sort_values(["_t", "_k"]).reset_index(drop=True)
    )
    want = []
    for t in ts:
        for k in range(0, 6):  # brute force over all nearby dst cells
            ov = min(t + 60, (k + 1) * 90) - max(t, k * 90)
            if ov > 0:
                want.append((t, k, ov))
    assert list(map(tuple, got.to_numpy())) == want
    # every src interval's total overlap is its full width
    assert got.groupby("_t")["_ov"].sum().eq(60).all()


def test_weighted_resample_value_col_can_be_a_fixed_carry(spark):
    """Review r5: value_col colliding with an always-carried column
    (turn_cnt) must not duplicate the carry and break the aggregate."""
    pdf = pd.DataFrame({
        "conv_id": ["c"], "t": [0], "tok_len_sum": [10], "turn_cnt": [4],
        "role_user_cnt": [2], "role_assistant_cnt": [2], "role_tool_cnt": [0],
    })
    pdf["bucket_ts"] = pd.to_datetime(pdf.pop("t"), unit="s")
    out = R.weighted_resample(
        spark.createDataFrame(pdf), 60, 90, value_col="turn_cnt"
    ).toPandas()
    assert out["turn_cnt_resampled"].iloc[0] == 4.0
    assert out["frac_user"].iloc[0] == 0.5


@pytest.mark.parametrize("dst_secs", [45, 90, 150])
def test_weighted_resample_matches_bruteforce(spark, dst_secs):
    """Randomized parity vs an independent pandas brute-force resampler,
    across dst widths finer and coarser than the source (45 < 60 < 150):
    exact integer accumulation must agree on every (conv, dst) cell."""
    rng = np.random.RandomState(dst_secs)
    n = 60
    base = 1_700_000_000 - (1_700_000_000 % 3600)
    pdf = pd.DataFrame({
        "conv_id": rng.choice(["a", "b", "c"], n),
        "t": base + 60 * rng.choice(np.arange(0, 240), n, replace=False),
        "tok_len_sum": rng.randint(1, 500, n),
        "turn_cnt": rng.randint(1, 9, n),
    })
    pdf["role_user_cnt"] = rng.randint(0, pdf["turn_cnt"] + 1)
    pdf["role_assistant_cnt"] = pdf["turn_cnt"] - pdf["role_user_cnt"]
    pdf["role_tool_cnt"] = 0
    spdf = pdf.copy()
    spdf["bucket_ts"] = pd.to_datetime(spdf.pop("t"), unit="s")
    got = (
        R.weighted_resample(spark.createDataFrame(spdf), 60, dst_secs)
        .toPandas().set_index(["conv_id", "dst_ts"]).sort_index()
    )

    acc = {}
    for r in pdf.itertuples(index=False):
        k = r.t // dst_secs
        while k * dst_secs < r.t + 60:
            ov = min(r.t + 60, (k + 1) * dst_secs) - max(r.t, k * dst_secs)
            if ov > 0:
                a = acc.setdefault((r.conv_id, k), [0, 0, 0, 0, 0, 0])
                a[0] += r.tok_len_sum * ov
                a[1] += ov
                a[2] += r.turn_cnt * ov
                a[3] += r.role_user_cnt * ov
                a[4] += r.role_assistant_cnt * ov
                a[5] += r.role_tool_cnt * ov
            k += 1
    assert len(got) == len(acc)
    for (conv, k), (num, w, tw, uw, aw, ow) in acc.items():
        row = got.loc[(conv, pd.Timestamp(k * dst_secs, unit="s"))]
        assert row["tok_len_sum_resampled"] == round(num / 60.0, 6)
        assert row["w_sum"] == w
        assert row["frac_user"] == round(uw / tw, 6)
        assert row["frac_assistant"] == round(aw / tw, 6)
