"""KDE log-density scoring (F11), grid evaluation (X1/X2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import synth
from engine.scoring import grid_evaluate, kde_fit_from_digest, kde_log_density, rolling_zscore
from engine.sketch import TDigest


def test_kde_log_density_vs_numpy(spark):
    rng = np.random.default_rng(42)
    fit = rng.normal(0, 1, 500)
    xs = [-3.0, -1.0, 0.0, 0.5, 2.0]
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = {
        r["x"]: r["kde_log_density"]
        for r in kde_log_density(df, "x", fit, bandwidth=0.1).collect()
    }
    h = 0.1
    for x in xs:
        dens = np.exp(-((x - fit) ** 2) / (2 * h * h)).sum() / (
            len(fit) * h * np.sqrt(2 * np.pi)
        )
        assert got[x] == pytest.approx(float(np.log(dens)), rel=1e-9)


def test_kde_from_digest_close_to_exact_fit(spark):
    rng = np.random.default_rng(7)
    data = rng.normal(5, 2, 50_000)
    d = TDigest(200).add(data)
    pts, w = kde_fit_from_digest(d)
    xs = [1.0, 3.0, 5.0, 7.0, 9.0]
    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = {
        r["x"]: r["kde_log_density"]
        for r in kde_log_density(df, "x", pts, w, bandwidth=0.5).collect()
    }
    for x in xs:
        exact = np.log(
            np.exp(-((x - data) ** 2) / (2 * 0.25)).sum()
            / (len(data) * 0.5 * np.sqrt(2 * np.pi))
        )
        assert got[x] == pytest.approx(float(exact), abs=0.1)


def test_grid_evaluate_matches_single_config(spark):
    series = synth.gen_series(spark, n_series=4, n_points=500).cache()
    grid = grid_evaluate(
        series, "value", "idx", "series_id",
        configs=[
            {"window": 50, "threshold": 3.0},
            {"window": 50, "threshold": 6.0},
            {"window": 20, "threshold": 3.0},
        ],
    ).collect()
    by = {(r["series_id"], r["config_id"]): r for r in grid}
    assert len(by) == 12  # 4 series x 3 configs

    # config 0 must agree with the rolling_zscore operator
    scored = rolling_zscore(series, "value", ["idx"], series_col="series_id",
                            window=50, min_periods=5)
    direct = {
        r["series_id"]: r["n"]
        for r in scored.filter(F.abs(F.col("zscore")) > 3.0)
        .groupBy("series_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for s, n in direct.items():
        assert by[(s, 0)]["flagged"] == n, s
    # stricter threshold flags fewer
    for s in direct:
        assert by[(s, 1)]["flagged"] <= by[(s, 0)]["flagged"]
