"""Cross-join fallback guard (VERDICT r7 next-step #5): join_on=None is the
all-neighbors semantic for dim-sized refs only — an oversized refs side
raises loudly instead of planning an O(dst x refs) crossJoin."""

import pytest

from spinterps_spark.operators import neighbors as NB


def _coords(spark, n):
    return spark.range(n).selectExpr(
        "concat('c', id) AS conv_id",
        "CAST(id % 7 AS DOUBLE) AS x",
        "CAST(id % 11 AS DOUBLE) AS y",
        "CAST(id % 2 AS INT) AS cluster_id",
    )


def test_crossjoin_guard_raises_on_oversized_refs(spark, monkeypatch):
    monkeypatch.setattr(NB, "CROSSJOIN_REFS_MAX", 50)
    c = _coords(spark, 60)
    with pytest.raises(ValueError, match="pie_neighbors.*cross-join"):
        NB.pie_neighbors(c, c, n_nebs=3, join_on=None)


def test_crossjoin_still_works_under_bound(spark, monkeypatch):
    monkeypatch.setattr(NB, "CROSSJOIN_REFS_MAX", 50)
    c = _coords(spark, 20)
    out = NB.pie_neighbors(c, c, n_nebs=2, join_on=None)
    assert out.count() == 40
