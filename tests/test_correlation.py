"""Pearson kernels: the long-form self-join over tables with gaps and the
dense GEMM over per-key vectors, each checked against pandas."""

import numpy as np
import pandas as pd
import pytest

from drug_target_discovery_spark.operators.correlation import corr_edges, pairwise_pearson


def _long(frame: pd.DataFrame) -> list[tuple[str, int, float]]:
    return [(k, s, float(v)) for k, row in frame.iterrows() for s, v in row.items()]


class TestPairwisePearson:
    def test_constant_series_gives_null_r(self, spark):
        frame = pd.DataFrame(
            {
                "a": [1.0, 2.0, 4.0, 3.0, 5.0],
                "b": [2.0, 1.0, 5.0, 4.0, 4.5],
                "c": [7.0, 7.0, 7.0, 7.0, 7.0],  # constant over every sample
            }
        ).T
        df = spark.createDataFrame(_long(frame), "g STRING, s INT, v DOUBLE")
        got = {(r["g1"], r["g2"]): r["r"] for r in pairwise_pearson(df, "g", "s", "v").collect()}
        assert got[("a", "c")] is None and got[("b", "c")] is None
        want = frame.T.corr().loc["a", "b"]
        assert got[("a", "b")] == pytest.approx(want, rel=1e-12)
        # the other pairs do not depend on the constant key being present
        without = spark.createDataFrame(_long(frame.drop("c")), "g STRING, s INT, v DOUBLE")
        alone = pairwise_pearson(without, "g", "s", "v").collect()
        assert [(r["g1"], r["g2"], r["r"]) for r in alone] == [("a", "b", got[("a", "b")])]

    def test_constant_over_shared_samples_only(self, spark):
        # "x" varies overall but is constant on the samples it shares with "y"
        rows = [("x", 0, 1.0), ("x", 1, 1.0), ("x", 2, 1.0), ("x", 3, 9.0)]
        rows += [("y", 0, 3.0), ("y", 1, 4.0), ("y", 2, 8.0)]
        df = spark.createDataFrame(rows, "g STRING, s INT, v DOUBLE")
        (r,) = pairwise_pearson(df, "g", "s", "v").collect()
        assert (r["g1"], r["g2"], r["r"], r["n_samples"]) == ("x", "y", None, 3)


class TestCorrEdgesDense:
    def test_matches_pandas_threshold_graph(self, spark):
        rng = np.random.default_rng(5)
        base = rng.standard_normal((6, 12))
        base[1] = base[0] * 2.0 + rng.normal(0, 0.1, 12)  # strong positive
        base[2] = -base[0] + rng.normal(0, 0.1, 12)  # strong negative
        base[5] = 3.0  # constant: no r, no edge
        keys = ["g0", "g1", "g2", "g3", "g4", "g5"]
        df = spark.createDataFrame(
            [(k, [float(x) for x in row]) for k, row in zip(keys, base)],
            "gene STRING, values ARRAY<DOUBLE>",
        )
        got = {
            (r["g1"], r["g2"]): (r["r"], r["weight"], r["n_samples"])
            for r in corr_edges(df, "gene", "values", threshold=0.5).collect()
        }
        corr = pd.DataFrame(base.T, columns=keys).corr()
        want = {
            (a, b): corr.loc[a, b]
            for i, a in enumerate(keys)
            for b in keys[i + 1 :]
            if pd.notna(corr.loc[a, b]) and abs(corr.loc[a, b]) > 0.5
        }
        assert set(got) == set(want) and ("g0", "g1") in want and ("g0", "g2") in want
        for pair, r in want.items():
            assert got[pair][0] == pytest.approx(r, rel=1e-12)
            assert got[pair][1] == pytest.approx(abs(r), rel=1e-12)
            assert got[pair][2] == 12
        assert not any("g5" in pair for pair in got)

    def test_no_pairs_below_min_periods_or_without_rows(self, spark):
        df = spark.createDataFrame(
            [("a", [1.0, 2.0]), ("b", [2.0, 4.0])], "gene STRING, values ARRAY<DOUBLE>"
        )
        assert corr_edges(df, "gene", "values", min_periods=3).count() == 0
        assert corr_edges(df.limit(0), "gene", "values").count() == 0
