"""tools/ab.py: an interleaved A/B of two catalog arms, timed by bench.py's
own per-entry loop, with the row check the registry implies (two arms with
the same oracle must return the same rows)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tools import ab


def test_ab_times_both_arms_and_checks_rows(spark, capsys):
    a, b, rows = ab.main(
        [
            "tfidf_topk_terms", "tfidf_topk_terms_join",
            "--pairs", "1", "--runs", "1",
            "--a-dir", SF_SMOKE, "--b-dir", SF_SMOKE,
        ],
        spark=spark,
    )
    assert (a.entry, b.entry) == ("tfidf_topk_terms", "tfidf_topk_terms_join")
    assert len(a.walls) == 1 and len(b.walls) == 1
    assert rows is not None and rows > 0  # same oracle → rows compared
    out = capsys.readouterr().out
    assert f"same ({rows})" in out and "won" in out


def test_row_check_raises_on_different_rows(spark):
    x = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    y = spark.createDataFrame([(2, "b"), (1, "a")], "k int, v string")
    z = spark.createDataFrame([(1, "a"), (2, "c")], "k int, v string")
    assert ab.same_rows(x.toPandas(), y.toPandas()) == 2  # order-insensitive
    with pytest.raises(AssertionError, match="arms differ"):
        ab.same_rows(x.toPandas(), z.toPandas())
